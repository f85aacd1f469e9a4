package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Partition sizing for the engine's corpus-shaped caches: the
  * fixpoint substrates (edge tables, name indexes, day-0 bases), LSH
  * shingle/signature/band tables, the lux entity and triple substrate.
  *
  * Their storage level is Spark's: every engine cache is a plain
  * `persist()`, which reads `spark.sql.defaultCacheStorageLevel` at
  * call time (default MEMORY_AND_DISK). A memory-pressure profile sets
  * that key to DISK_ONLY. The reason (round-14 spill-regime finding):
  * on a squeezed executor pool, a stage that materializes a
  * MEMORY_AND_DISK cache in the same stage as its aggregations holds
  * an in-progress unroll reservation that is not evictable at any
  * storageFraction, and the same tasks' hash-aggregate first page finds
  * no free pool (`HashAggregateExec.createHashMap` OOM on la_build / j6
  * at 8 GiB × fraction 0.15). DISK_ONLY skips the MemoryStore, so
  * execution keeps the whole pool.
  *
  * Partition counts follow the substrate's bytes ([[leafBytes]]), and
  * the caller decides whether the cores count is a floor:
  *   - a FIXPOINT substrate (CC, pagerank: [[scaledPartitions]]) is the
  *     input of every round of one batch operator, whose per-round
  *     joins run at the substrate's frozen layout. With fewer
  *     partitions than cores a round leaves cores idle, so the
  *     `shuffle.partitions` floor buys real parallelism;
  *   - an INTERACTIVE INDEX (the lux entity and triple substrate:
  *     [[indexPartitions]]) is probed by many small queries. Each leaf
  *     scan and broadcast build pays one task per partition, and the
  *     parallelism comes from concurrent scans and queries, not from
  *     splitting a few MB across the cores: a cores floor only adds
  *     near-empty tasks. It takes the byte count alone.
  */
object Substrate {

  /** Advisory bytes per partition for byte-scaled substrate builds
    * (below). 64 MiB: small enough that one straggler partition is a
    * bounded linear scan, large enough that bench-scale inputs stay at
    * the parallelism floor (fixpoint substrates) or in one partition
    * (indexes). */
  val TargetBytesKey = "spark.graft.substrateTargetPartitionBytes"

  /** Partition count for an explicitly keyed substrate build:
    * max(shuffle.partitions, leaf bytes / target), capped.
    *
    * Why (r18, verdict item 2): the fixpoint substrates are built
    * `repartition($"key")` and their cached layout is FROZEN by
    * `canChangeCachedPlanOutputPartitioning=false` (Sessions) so every
    * per-round consumer reuses it exchange-free. A bare repartition
    * inherits `spark.sql.shuffle.partitions` — a cores-coupled
    * CONSTANT — and the freeze removes AQE's ability to re-split the
    * cached bulk, so at 100 TB a corpus-sized substrate would be pinned
    * to O(cores) partitions. Deriving the count from [[leafBytes]]
    * makes the frozen layout byte-proportional at any scale while the
    * shuffle-partitions floor keeps bench-scale behavior identical
    * (inputs below one target byte-chunk hit the floor). Where no
    * trustworthy leaf is visible the count falls back to the floor —
    * the pre-r18 behavior. Why this count has a floor and
    * [[indexPartitions]] has none: see the object header. */
  private[graft] def scaledPartitions(df: Dataset[_]): Int = {
    val floor = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = leafBytes(df)
    if (bytes <= 0) floor else perTarget(bytes, df.sparkSession).max(floor)
  }

  /** One shared partition count for the tables of an interactive index:
    * ceil(leaf bytes of all of them / target), at least 1, with no
    * shuffle-partitions floor (the object header says why). One
    * count for every table keeps tables hash-partitioned on the same
    * key type co-partitioned at any scale. */
  private[graft] def indexPartitions(dfs: Dataset[_]*): Int =
    perTarget(dfs.map(leafBytes).sum, dfs.head.sparkSession)

  private def perTarget(bytes: BigInt, spark: SparkSession): Int = {
    val target = spark.conf.getOption(TargetBytesKey)
      .map(_.toLong).filter(_ > 0).getOrElse(64L << 20)
    ((bytes + target - 1) / target).max(1).min(1 << 20).toInt
  }

  /** The byte size of a substrate's input: the sum over the plan's
    * TRUSTWORTHY leaves — the scan sizes, never full-plan estimates:
    * file-source leaves carry real file bytes, Range/LocalRelation real
    * row counts, and a cache leaf its REAL cached bytes when (and only
    * when) it is already materialized. Everything else contributes
    * zero. Measured reasons, in the order r18 hit them: (1) full-plan
    * estimates above an LSH SELF-join are row-quadratic — r2's CC
    * substrate fanned to 10,198 partitions (48 s vs 2.3 s); (2) an
    * UNmaterialized cache leaf falls back to its child's full-plan
    * estimate, which above joins over token arrays is the same garbage
    * — t_corpus's CC substrate fanned to 19,074 partitions (184 s vs
    * 3.7 s). A substrate is a bounded derivation of its scans (union/
    * dedup/project), so scan bytes are the right scale proxy. */
  private[graft] def leafBytes(df: Dataset[_]): BigInt = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range => LRange}
    val junk = BigInt(Long.MaxValue) / 4
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case imr: InMemoryRelation =>
        if (imr.cacheBuilder.isCachedColumnBuffersLoaded) imr.stats.sizeInBytes
        else BigInt(0) // unmaterialized: falls back to child estimate — junk
      case lr: LogicalRelation => lr.stats.sizeInBytes // real file bytes
      case r: LRange => r.stats.sizeInBytes
      case r: LocalRelation => r.stats.sizeInBytes
      case _ => BigInt(0) // LogicalRDD etc.: no trustworthy size
    }.filter(b => b > 0 && b < junk).sum
  }
}
