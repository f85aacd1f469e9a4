package graft

import org.apache.spark.sql.SparkSession

/** Uniform session construction for driver mains and tests.
  *
  * Scale notes: shuffle partitions sized to local cores here; on a real
  * cluster this is `spark.sql.shuffle.partitions` ≈ 2-3× total cores and
  * AQE coalesces down. UTC pinned for oracle parity. nanosAsLong because
  * the test `events` table has carried TIMESTAMP(NANOS) parquet, which
  * Spark only exposes as long (converted back in Tables.load); NTZ
  * inference is off so the µs-no-UTC-flag flavor of the same file reads
  * as a plain TIMESTAMP (identical values under the UTC session) instead
  * of TIMESTAMP_NTZ, which unix_micros/window() reject.
  */
object Sessions {
  /** Local task slots: `SPARK_GRAFT_CPUS`, else this machine's cores. A
    * fixed default larger than the machine splits the unified memory
    * pool over slots that never run at once (a 1g driver at
    * `spark.memory.fraction=0.05` fails with `UNABLE_TO_ACQUIRE_MEMORY`
    * over 32 slots on a 4-core host). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def create(appName: String, cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // file-scan packing: the default openCostInBytes (4 MiB) models
      // HDFS seek cost; on a scan of many SMALL files it inflates the
      // estimated size to open-cost × files and fans out thousands of
      // tiny tasks (4700 tasks for a 10 MB / 150k-file tree). 64 KiB
      // keeps small-file SQL scans packed near maxPartitionBytes while
      // leaving large-parquet planning unchanged. (The dump-tree loader
      // itself bypasses the SQL file source entirely — Archive.loadDir
      // documents why.)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      // Persisted-substrate partitioning must be STATICALLY visible to
      // consumers (r17): Spark 3.5+ defaults this to true, wrapping
      // every cached plan in AdaptiveSparkPlan whose output partitioning
      // reads as Unknown at planning time — so a substrate deliberately
      // built hash(src)-partitioned (Graph.connectedComponents' sym,
      // pagerank's edge table, the lux/id-map indexes) still got an
      // EnsureRequirements exchange at every per-round consumer. With
      // false, the cache preserves its child's partitioning (the
      // pre-AQE-era behavior) and the per-round joins/aggregates reuse
      // it exchange-free — the in-process analog of a bucketed table,
      // which is what these substrates are at 100 TB. AQE stays ON for
      // everything outside cached-plan bodies (the builds themselves
      // are one explicit exchange, so they lose nothing). Interleaved
      // A/B at sf0.1 (best-of-2 per side, /tmp/cp_{on,off}_*.json):
      // r2 0.81x, t_corpus 0.84x, g3 0.85x, g1 0.89x, la_build 0.99x —
      // -9.6% on the five-key sum, no key worse.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF ("k=v;k=v") sets session conf for regimes the
    // mains don't parametrize: a substrate target partition size in an
    // A/B, or the memory-pressure StressSweep variant whose runs are
    // committed as plans/stress/STRESS_spill_r1*.json (static confs like
    // spark.memory.fraction, hence before getOrCreate). The driver
    // never sets it, so recorded rounds always run the defaults.
    val spark = envConf.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.PolyHash.register(spark)
    graft.functions.UriCanon.register(spark)
    graft.functions.VecMath.register(spark)
    graft.functions.WordFold.register(spark)
    graft.functions.Porter.register(spark)
    spark
  }

  /** `SPARK_GRAFT_CONF` as (key, value) pairs; see [[parseConf]]. */
  def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Seq.empty)

  /** Parses a "k=v;k=v" conf list. Blank entries are skipped; an entry
    * without a key and `=` fails loudly, so a mistyped knob cannot
    * silently leave the run on the defaults. */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry not k=v: $kv")
      (kv.take(i).trim, kv.drop(i + 1).trim)
    }
}
