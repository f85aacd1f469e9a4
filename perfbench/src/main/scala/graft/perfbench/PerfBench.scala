package graft.perfbench

import graft.{Bench, BuildChainQueries, DedupQueries, LuxQueries, Queries, Sessions,
  SimilarityQueries}
import graft.plans.{LuxCompiler, LuxQL}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import scala.collection.mutable

/** JVM side of the repo benchmark: one session, one client thread, a
  * closed loop of ops against one workload, every op's full output
  * consumed and checked.
  *
  *   PerfBench <workload> <corpusDir> <seed> <seconds> <trace 0|1> <outDir> <cpus>
  *
  * Protocol: create a session (`Sessions.create`), run the workload's
  * set-up and its warm-up ops (together `setup_s`, timed from JVM
  * start); then ops until `seconds` have passed and the workload's round
  * is complete. With tracing, the first half of the time is measured
  * untraced and the second half traced, each half at least half a round,
  * so the run reports its own tracing overhead. `Bench.calibrations` are
  * timed after the measured loop. Each op's output gets an
  * order-independent digest outside the timed region; the warm-up
  * outputs are written to `outDir/outputs/<key>` with their oracle SQL
  * for the DuckDB check, and every later output must repeat their digest.
  * Results go to `outDir/result.json` (and `spans.json` when traced). */
object PerfBench {

  /** One checked output of an op: `key` names the expected result. */
  final case class Output(key: String, schema: StructType, rows: Array[Row],
      sql: String)

  /** One engine call: `before` runs untimed (cache lifecycle), `run`
    * is the timed call plus full consumption of its output. */
  final case class Op(label: String, before: () => Unit, run: Tracer => Seq[Output])

  trait Workload {
    /** Tables whose rows are the input of one op. */
    def inputTables: Seq[String]
    /** Set-up after the session exists; returns the input rows per op
      * when the input is derived state (the search substrate), else -1. */
    def prepare(spark: SparkSession, dir: String, tracer: Tracer): Long
    def warmup: Seq[Op]
    def op(i: Int): Op
    /** The measured loop ends on a multiple of this many ops, so every
      * run weighs the same mix; an even number where it is more than 1. */
    def round: Int = 1
  }

  /** Call the entry point `entry` (`Module.function`) and consume its
    * whole output, each in a span. */
  private def collect(tracer: Tracer, entry: String, df: => DataFrame)
      : (StructType, Array[Row]) = {
    val module = entry.substring(0, entry.lastIndexOf('.'))
    val d = tracer.span(s"call $entry", module)(df)
    tracer.span(s"consume $entry", module)((d.schema, d.collect()))
  }

  /** la_build_pipeline, cold: the cache is cleared before every op, as
    * every nightly build starts cold; lines go to an N-Triples sink. */
  final class Build(spark: => SparkSession, dir: String, sink: java.io.File)
      extends Workload {
    val inputTables = Seq("orders", "lineitem", "customer", "supplier", "part")
    def prepare(s: SparkSession, d: String, t: Tracer): Long = -1L
    private val the = Op("build", () => spark.catalog.clearCache(), t => {
      val (schema, rows) = collect(t, "BuildChainQueries.laBuildPipeline",
        BuildChainQueries.laBuildPipeline(spark, dir))
      t.span("sink", "BuildChainQueries") {
        val w = new java.io.BufferedWriter(new java.io.FileWriter(sink))
        try rows.foreach { r => w.write(r.getString(0)); w.write('\n') }
        finally w.close()
      }
      Seq(Output("la_build_pipeline", schema, rows, Queries.oracleSql("la_build_pipeline")))
    })
    // the JIT is far from steady after one warm-up op (the next is up to
    // 25% faster) and ops still speed up after two, so the build warms up
    // three times; every run measures at least four ops
    def warmup: Seq[Op] = Seq(the, the, the)
    def op(i: Int): Op = the
    override def round: Int = 4
  }

  /** la_daily_run as consecutive days of one session: the cache is kept,
    * since day-0 state is yesterday's persisted tables. The first day
    * (day-0 build and first publish) is part of set-up. */
  final class Daily(spark: => SparkSession, dir: String) extends Workload {
    val inputTables = Seq("part")
    private val the = Op("daily", () => (), t => {
      val (schema, rows) = collect(t, "BuildChainQueries.laDailyRun",
        BuildChainQueries.laDailyRun(spark, dir))
      Seq(Output("la_daily_run", schema, rows, Queries.oracleSql("la_daily_run")))
    })
    def prepare(s: SparkSession, d: String, t: Tracer): Long = {
      the.run(t); -1L
    }
    def warmup: Seq[Op] = Seq(the)
    def op(i: Int): Op = the
  }

  /** A seeded LuxQL stream over the search substrate, which set-up builds
    * once (the reference's offline index). Every pass of the stream runs
    * each template once, in a seeded order. */
  final class Search(spark: => SparkSession, dir: String, seed: Long) extends Workload {
    val inputTables = Seq.empty[String]
    val queries: Seq[SearchMix.Query] = SearchMix.draw(seed)
    private val rng = new scala.util.Random(seed ^ 0x5eedL)
    private val nT = SearchMix.templates.size
    private var order = IndexedSeq.empty[Int]
    // two passes over the templates: the median of one pass moved 9% from
    // seed to seed
    override def round: Int = 2 * nT

    def prepare(s: SparkSession, d: String, t: Tracer): Long = {
      val (e, tr) = LuxQueries.substrate(s, d)
      e.count() + tr.count()
    }

    private def run(q: SearchMix.Query): Op = Op(q.template, () => (), t => {
      val (e, tr) = LuxQueries.substrate(spark, dir)
      val compiler = new LuxCompiler(e, tr)
      val ast = t.span("plans.parse", "plans.LuxQL") {
        if (q.form == "json") LuxQL.parseJson(q.text) else LuxQL.parse(q.text)
      }
      val df = t.span("plans.compile", "plans.LuxCompiler") {
        if (q.form == "ranked") compiler.ranked(ast) else compiler.ids(ast)
      }
      t.span("plans.optimize", "plans.LuxCompiler")(df.queryExecution.executedPlan)
      val rows = t.span("search.exec", "plans.LuxCompiler")(df.collect())
      Seq(Output("search." + q.template, df.schema, rows, q.sql))
    })

    // passes keep speeding up for a while (about 11, 6.5, 5.5, 5.0, 4.5 s
    // for the first five on a 4-cpu VM), so the stream warms up three
    // times before the measured round
    def warmup: Seq[Op] = Seq.fill(3)(queries.map(run)).flatten
    def op(i: Int): Op = {
      if (i % nT == 0) order = rng.shuffle((0 until nT).toIndexedSeq)
      run(queries(order(i % nT)))
    }
  }

  /** The training-data path: t_corpus_pipeline then the v9_ivf_pq probe,
    * cold (cache cleared before every op). */
  final class Curate(spark: => SparkSession, dir: String) extends Workload {
    val inputTables = Seq("documents", "embeddings")
    def prepare(s: SparkSession, d: String, t: Tracer): Long = -1L
    private val the = Op("curate", () => spark.catalog.clearCache(), t => {
      val (s1, r1) = collect(t, "DedupQueries.corpusPipeline",
        DedupQueries.corpusPipeline(spark, dir))
      val (s2, r2) = collect(t, "SimilarityQueries.ivfPq",
        SimilarityQueries.ivfPq(spark, dir))
      Seq(Output("t_corpus_pipeline", s1, r1, Queries.oracleSql("t_corpus_pipeline")),
        Output("v9_ivf_pq", s2, r2, Queries.oracleSql("v9_ivf_pq")))
    })
    def warmup: Seq[Op] = Seq(the)
    def op(i: Int): Op = the
  }

  /** Order-independent digest: SHA-256 over the sorted row renderings. */
  def digest(o: Output): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(o.schema.fieldNames.mkString(",").getBytes("UTF-8"))
    o.rows.map(_.toSeq.mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def nowMs(): Double = System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: PerfBench <workload> <corpusDir> <seed> " +
      "<seconds> <trace 0|1> <outDir> <cpus>")
    val Array(name, dir, seedS, secondsS, traceS, out, cpus) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    new java.io.File(out, "outputs").mkdirs()

    var spark: SparkSession = null
    val wl: Workload = name match {
      case "build" => new Build(spark, dir, new java.io.File(out, "sink.nt"))
      case "daily" => new Daily(spark, dir)
      case "search" => new Search(spark, dir, seed)
      case "curate" => new Curate(spark, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // ── set-up: session and the workload's own set-up, timed from JVM start
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS(): Double = (System.currentTimeMillis() - jvmStart) / 1e3
    spark = Sessions.create(s"perfbench-$name", cpus)
    val sessionS = sinceStartS()
    val tracer = new Tracer(spark)
    val derivedRows = wl.prepare(spark, dir, tracer)
    val prepareS = sinceStartS()
    spark.sparkContext.setLogLevel("ERROR")
    val (corpusId, corpusStats) = Bench.corpusFingerprint(spark, dir)
    val inputRows =
      if (derivedRows >= 0) derivedRows
      else corpusStats.filter(s => wl.inputTables.contains(s._1)).map(_._2).sum

    // ── checks (untimed): first output per key is the reference
    val expected = mutable.LinkedHashMap[String, (String, String)]() // key -> (digest, sql)
    val errors = mutable.ArrayBuffer[String]()
    def check(outs: Seq[Output]): Boolean = outs.forall { o =>
      val d = digest(o)
      expected.get(o.key) match {
        case Some((want, _)) =>
          if (d != want) errors += s"${o.key}: digest $d differs from first output $want"
          d == want
        case None =>
          expected(o.key) = (d, o.sql)
          spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
            .coalesce(1).write.mode("overwrite")
            .parquet(new java.io.File(out, s"outputs/${o.key}").getPath)
          true
      }
    }
    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    final case class OpResult(label: String, phase: String, wallS: Double,
        ok: Boolean, keys: Seq[String], storageMb: Double)
    val results = mutable.ArrayBuffer[OpResult]()
    var opIndex = 0
    def runOp(op: Op, phase: String): Unit = {
      op.before()
      val t0 = nowMs()
      val outs = try Some(tracer.span(op.label, "", opIndex)(op.run(tracer)))
        catch { case e: Throwable =>
          errors += s"${op.label}: ${e.toString.linesIterator.next().take(300)}"; None }
      val wall = (nowMs() - t0) / 1e3
      val ok = outs.exists(check)
      results += OpResult(op.label, phase, wall, ok,
        outs.toSeq.flatten.map(_.key), storageMb())
      opIndex += 1
    }

    // ── warm-up (outputs become the oracle-checked references); set-up
    // ends with it
    wl.warmup.foreach(runOp(_, "warmup"))
    val setupS = sinceStartS()

    // ── measured closed loop
    def measure(phase: String, budgetS: Double, round: Int): Unit = {
      val t0 = nowMs()
      var i = 0
      while (i == 0 || nowMs() - t0 < budgetS * 1e3 || i % round != 0) {
        runOp(wl.op(i), phase); i += 1
      }
    }
    if (traced) {
      val half = math.max(1, wl.round / 2)
      measure("plain", seconds / 2, half)
      tracer.attach()
      measure("traced", seconds / 2, half)
      tracer.detach()
    } else measure("plain", seconds, wl.round)

    // machine calibration, outside the timed region, so that an A/B can
    // tell machine drift from code
    val calibration: Map[String, Double] =
      Bench.calibrations(spark).map { case (k, run) =>
        val t0 = nowMs(); run(spark); k -> (nowMs() - t0) / 1e3
      }.toMap

    val result = Map(
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "setup_s" -> setupS,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "input_rows" -> inputRows,
      "corpus" -> Map("id" -> corpusId, "tables" -> corpusStats.map { case (n, r, b) =>
        Map("name" -> n, "rows" -> r, "bytes" -> b) }),
      "calibration" -> calibration,
      "ops" -> results.map(r => Map("label" -> r.label, "phase" -> r.phase,
        "wall_s" -> r.wallS, "ok" -> r.ok, "keys" -> r.keys,
        "storage_mb" -> r.storageMb)),
      "outputs" -> expected.map { case (k, (d, sql)) =>
        Map("key" -> k, "digest" -> d, "sql" -> sql) },
      "errors" -> errors)
    if (traced) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "spans.json"), tracer.toJson)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "result.json"),
      Serialization.write(result)(DefaultFormats))
    spark.stop()
  }
}
