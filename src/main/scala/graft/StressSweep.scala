package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.JsonDSL._

/** Executes EVERY registered query against a (stress) sf dir with full
  * row evaluation — the completion-at-scale companion to Bench: where
  * BENCH_sf1 times 21 keys, this proves the whole registry RUNS on the
  * 10× skew-injected corpus (no ANSI throw, no overflow, no guard that
  * only held at fixture scale). foreach, not count — count() prunes the
  * projections where divisions/casts live (the DegenerateDocsSpec
  * lesson).
  *
  * Per-query TIMEOUT via job-group cancellation: pair-LISTING queries
  * (all-pairs outputs like d4/d19/j17) have output quadratic in
  * duplicate-clique size BY CONTRACT, so against a corpus with a
  * 100k-duplicate clique their answer itself is petabyte-shaped — the
  * pipeline composes them after exact dedup (t_corpus_pipeline's stage
  * order), which collapses the clique, and each has a bounded-output
  * `*b` twin in the registry that measures its cost instead of paying
  * it. A timeout is reported loudly (never silently skipped) with that
  * contract note.
  *
  * ARTIFACT: with a third argument the sweep persists machine-readable
  * results (per-key seconds, status + contract note, guardedBandPairs
  * drop counts) so rounds can diff scaling the way BENCH_r*.json diffs
  * wall-times; with a fourth argument (a prior artifact, e.g. an sf0.1
  * run) each key also carries `ratio` = this run's seconds over the
  * baseline's. Every key also records the stage-level counters
  * (`mem_spilled_bytes`, `disk_spilled_bytes`, `peak_exec_mem_bytes`,
  * `shuffle_read_bytes`, `shuffle_write_bytes`), and the artifact is
  * rewritten after every key.
  *
  * VARIANTS run through this same harness under `SPARK_GRAFT_CONF`
  * (stamped into the artifact as `env_conf`) and `SPARK_GRAFT_SWEEP_ONLY`
  * (the key battery). The memory-pressure (spill) regime squeezes the
  * unified pool so heavy shuffles, aggregations and persists must take
  * the spill path, and puts every engine cache (a plain `persist()`)
  * on disk; nonzero spill is the proof it engaged:
  *   SPARK_GRAFT_CONF="spark.memory.fraction=0.15;spark.sql.defaultCacheStorageLevel=DISK_ONLY"
  *   SPARK_GRAFT_SWEEP_ONLY=la_build_pipeline,la_daily_run,t_corpus_pipeline,j6_reconcile_fixpoint,g1_connected_components,d2_minhash_lsh,k2_nt_triples,st8c_stream_admit_capped
  * Leave the contract-quadratic pair-listers (j17, d4, d19, d13, st8,
  * m1v) out of such a battery: under a starved pool their quadratic
  * contract is a JVM-killing executor OOM, not a measurement.
  *
  * Usage: runMain graft.StressSweep [sfDir] [timeoutSecs] [outJson [baselineJson]]
  */
object StressSweep {
  final private case class Res(secs: Double, status: String, note: String,
      guardDrops: Long, dropsTainted: Boolean, spill: Telemetry.Spill,
      shuffle: Telemetry.Shuffle)

  /** Keys whose sf1/sf0.1 ratio is super-linear BY CONTRACT — the note
    * rides the artifact so a round-over-round ratio diff reads the why
    * without re-deriving it (a ratio ≈ 10 is plain linear compute at
    * 10× data; only ratios well past 10 need a reason). */
  private val contractNotes: Map[String, String] = Map(
    "v13_bitext_margin" -> ("exact all-pairs margin baseline (the " +
      "oracle-checkable brute, v1-style): cost is |en|x|xx| by contract; " +
      "v13b is the LSH-candidate production path"),
    "v17_bitext_recall" -> ("recall eval against the exact all-pairs " +
      "truth — inherits v13's quadratic contract on the truth side"),
    "d5_embedding_neardup" -> ("output grows with genuine near-dup " +
      "pairs (874 -> 177k on the clique corpus) — output-bound, not a " +
      "scaling defect"),
    "d9_semantic_prune" -> ("per-cell self-join is sum(m_c^2) with the " +
      "fixture's FIXED K; deployment grows K ~ sqrt(N) to keep cells " +
      "constant-sized (SemDeDup shape)"),
    "d17_embed_decontaminate" -> ("corpus x benchmark product: the " +
      "fixture scales BOTH sides 10x; production holds the benchmark " +
      "side fixed, making the scan linear"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_stress/sf1")
    val timeoutSecs = args.lift(1).map(_.toLong).getOrElse(300L)
    val outJson = args.lift(2)
    val baseline: Map[String, Double] = args.lift(3).map { p =>
      val root = jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
      (root \ "queries") match {
        case JObject(fields) => fields.collect {
          case (name, q: JObject) => (q \ "secs") match {
            case JDouble(s) => Some(name -> s)
            case JInt(s) => Some(name -> s.toDouble)
            case _ => None
          }
        }.flatten.toMap
        case _ => Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)
    // key-battery filter (comma-separated): local iteration or a
    // variant's battery; the driver never sets it, so recorded sweeps
    // always cover the full registry
    val sweepSet = Queries.selectFromEnv(Queries.all.map(_.name), "SPARK_GRAFT_SWEEP_ONLY")
    val fns = Queries.queries
    val cpus = Sessions.cpus
    // a sweep variant under a session knob — e.g. SPARK_GRAFT_CONF=
    // "spark.graft.bandCap=256" for the capped-d2 sf100 rung — runs
    // through the SAME harness instead of a one-off main; Sessions
    // applies it, and the artifact stamps exactly what was set
    // ("env_conf") so the rung is comparable to the default-knob
    // artifact it sits beside
    val envConf = Sessions.envConf
    val spark = Sessions.create("graft-stress-sweep", cpus)
    envConf.foreach { case (k, v) => println(s"[sweep] env conf: $k=$v") }
    // stage-level memory and shuffle counters, reset per key; under the
    // spill regime a sweep that "passes" with zero spill just wasn't
    // under pressure
    val telemetry = Telemetry.attach(spark)
    var failed = List.empty[String]
    var timedOut = List.empty[String]
    // zombie futures: timed-out queries whose future did not drain in
    // its 60 s window keep mutating the process-global guardDropCount —
    // while any is live, later keys' drop deltas are flagged tainted
    // instead of silently misattributed
    var zombies = List.empty[Future[String]]
    var results = Vector.empty[(String, Res)]
    // env + corpus stamp: a sweep's seconds are only comparable to a
    // prior artifact's under the same heap/threads AND the same
    // corpus draw (the driver regenerates testdata every round, and
    // StressGen corpora derive from it) — record both, same
    // fingerprint as BENCH (Bench.corpusFingerprint), so ratio-flag
    // adjudication reads off the artifacts
    val stamp = outJson.map { _ =>
      val heapG = Runtime.getRuntime.maxMemory() / (1 << 30)
      val (corpusId, corpusStats) = Bench.corpusFingerprint(spark, sfDir)
      telemetry.drain(spark) // its stages precede the first key
      ("sf_dir" -> sfDir) ~ ("timeout_secs" -> timeoutSecs) ~ ("heap_gib" -> heapG) ~
        ("cpus" -> cpus.toInt) ~ ("env_conf" -> JObject(envConf.map { case (k, v) =>
          k -> JString(v) }.toList)) ~ ("corpus" -> Bench.corpusJson(corpusId, corpusStats))
    }
    // the artifact is REWRITTEN after every key: a key that kills the
    // whole JVM (an executor OutOfMemoryError in local mode exits the
    // process via SparkUncaughtExceptionHandler) must not erase the
    // keys measured before it. Temp-then-ATOMIC_MOVE, because that kill
    // can land DURING a plain truncate-then-write.
    def writeArtifact(isoSecs: Map[String, Double]): Unit = for (path <- outJson; head <- stamp) {
      val rows = results.map { case (name, r) =>
        name -> (("secs" -> Json.fixed(r.secs, 3)) ~ ("status" -> r.status) ~
          ("ratio" -> baseline.get(name).filter(_ > 0).map(b => Json.fixed(r.secs / b, 2))) ~
          ("iso_secs" -> isoSecs.get(name).map(Json.fixed(_, 3))) ~
          ("guard_drops" -> Some(r.guardDrops).filter(_ > 0)) ~
          ("drops_tainted" -> Some(true).filter(_ => r.dropsTainted)) ~
          ("mem_spilled_bytes" -> r.spill.memory) ~
          ("disk_spilled_bytes" -> r.spill.disk) ~
          ("peak_exec_mem_bytes" -> r.spill.peakExec) ~
          ("shuffle_read_bytes" -> r.shuffle.read) ~
          ("shuffle_write_bytes" -> r.shuffle.written) ~
          ("note" -> Some(r.note).filter(_.nonEmpty)))
      }
      val doc = Json.write(head ~ ("n_queries" -> results.size) ~
        ("total_secs" -> Json.fixed(results.map(_._2.secs).sum, 1)) ~
        ("n_timeout" -> timedOut.size) ~ ("n_fail" -> failed.size) ~
        ("total_mem_spilled_bytes" -> results.map(_._2.spill.memory).sum) ~
        ("total_disk_spilled_bytes" -> results.map(_._2.spill.disk).sum) ~
        ("total_shuffle_read_bytes" -> results.map(_._2.shuffle.read).sum) ~
        ("total_shuffle_write_bytes" -> results.map(_._2.shuffle.written).sum) ~
        ("queries" -> JObject(rows.toList)))
      val target = Paths.get(path)
      val dir = Option(target.toAbsolutePath.getParent).getOrElse(Paths.get("."))
      val tmp = Files.createTempFile(dir, ".sweep", ".tmp")
      Files.writeString(tmp, doc)
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    sweepSet.foreach { name =>
      zombies = zombies.filterNot(_.isCompleted)
      telemetry.reset()
      val t0 = System.nanoTime()
      val drops0 = DedupQueries.guardDropCount.get()
      val group = s"sweep-${name}"
      val fut = Future {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try { fns(name)(spark, sfDir).foreach(_ => ()); "ok" }
        finally spark.sparkContext.clearJobGroup()
      }
      val (status, note) = try {
        (Await.result(fut, timeoutSecs.seconds),
          contractNotes.getOrElse(name, ""))
      }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          // AndFutureJobs: plain cancelJobGroup kills only currently
          // running jobs — an iterative query (fixpoint loops) would
          // keep submitting follow-on jobs from the zombie future and
          // skew the timing/clearCache of subsequent entries. Then
          // wait (bounded) for the future to actually drain before the
          // next query starts.
          spark.sparkContext.cancelJobGroupAndFutureJobs(group)
          try Await.ready(fut, 60.seconds)
          catch { case _: java.util.concurrent.TimeoutException =>
            println(s"[sweep] ${name}: zombie future did not drain in 60s")
            zombies ::= fut
          }
          timedOut ::= name
          ("timeout", s">${timeoutSecs}s; if a pair-lister: output is " +
            "quadratic in dup-clique size by contract — compose after " +
            "exact dedup, or read its bounded *b twin")
        case e: Throwable =>
          failed ::= name
          ("fail",
            String.valueOf(e.getMessage).linesIterator.next().take(120))
      }
      // an executor OOM can shut the local context down, and clearCache
      // on a stopped context throws: the key must still be recorded
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      val secs = (System.nanoTime() - t0) / 1e9
      telemetry.drain(spark) // this key's stage events land here
      val spill = telemetry.spill
      val drops = DedupQueries.guardDropCount.get() - drops0
      val tainted = drops > 0 && zombies.exists(!_.isCompleted)
      val extra = (if (drops > 0) s"  [guard drops: $drops" +
          (if (tainted) ", TAINTED by a live zombie future]" else "]")
        else "") +
        (if (note.nonEmpty) s"  $note" else "")
      println(f"[sweep] ${name}%-28s $secs%7.2f s  $status  " +
        f"peak=${spill.peakExec / 1e6}%.0fMB spill=${spill.memory / 1e6}%.0f/${spill.disk / 1e6}%.0fMB$extra")
      results :+= name -> Res(secs, status, note, drops, tainted, spill,
        telemetry.shuffle)
      writeArtifact(Map.empty)
    }
    // isolated re-measurement of ratio-flag suspects — the manual
    // adjudication protocol every round applied by hand (r12 d5, r15
    // st6/st8b, r16 j8/a6 all recovered in isolated re-runs),
    // mechanized: any ok key whose seconds grew >1.5× over the
    // baseline artifact re-runs once AFTER the sweep (JVM warm, no
    // sweep neighbors) and the artifact records both numbers, so
    // tools/stress_diff.py and any reader can separate sweep-neighbor
    // JVM state from a real regression without a hand re-run. The
    // isolated number never OVERWRITES the recorded one — both ride
    // the artifact.
    val isoSecs: Map[String, Double] = results.collect {
      case (name, r) if r.status == "ok" &&
          baseline.get(name).exists(b => b > 0 && r.secs > b * 1.5) =>
        val fn = fns(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).foreach(_ => ()); true }
          catch { case _: Throwable => false }
        spark.catalog.clearCache()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[sweep] iso re-run ${name}%-26s $s%7.2f s" +
          (if (ok) "" else "  (failed isolated; not recorded)"))
        if (ok) Some(name -> s) else None
    }.flatten.toMap
    val total = results.map(_._2.secs).sum
    val slowest = results.sortBy(-_._2.secs).take(10)
      .map { case (n, r) => f"$n=${r.secs}%.1f" }.mkString(", ")
    println(f"[sweep] TOTAL ${results.size} queries $total%.1f s; slowest: $slowest")
    println(f"[sweep] spilled mem ${results.map(_._2.spill.memory).sum / 1e9}%.2f GB, " +
      f"disk ${results.map(_._2.spill.disk).sum / 1e9}%.2f GB")
    if (timedOut.nonEmpty)
      println(s"[sweep] TIMED OUT (reported, not silent): ${timedOut.reverse.mkString(", ")}")
    writeArtifact(isoSecs)
    outJson.foreach(path => println(s"[sweep] artifact written: $path"))
    if (failed.nonEmpty) {
      println(s"[sweep] FAILED: ${failed.reverse.mkString(", ")}")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }
}
