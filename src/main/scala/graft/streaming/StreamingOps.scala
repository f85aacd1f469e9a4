package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators (SURVEY §2.10) — the engine's streaming
  * surface. The reference consumes ActivityStreams pages with a
  * high-water-mark (`pipeline/process/base/harvester.py:111-286`); here the
  * same semantics are expressed as event-time processing: watermarks bound
  * lateness (the `last_harvest` cut-off analog) and windows aggregate.
  *
  * Every function takes a (possibly streaming) DataFrame, and the
  * registered keys run them on the batch `events`/`documents` tables,
  * where the optimizer drops `withWatermark` (EliminateEventTimeWatermark):
  *   - `tumblingCounts`: st1_tumbling_window, and st7's window aggregate;
  *   - `topkPerWindow`: st7_stream_topk;
  *   - `intervalJoin`: st9_interval_join;
  *   - `enrich`: st10_stream_enrich;
  *   - `dqCounts`: st12_stream_dq;
  *   - `neardupAdmit` / `neardupAdmitCapped`: st8 / st8c.
  * StreamingSpec runs the same functions over MemoryStreams, so the
  * oracle-checked batch key and the streaming form are one code path.
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregate: count + cents sum per
    * (1-day window, event_type); late events beyond the watermark are
    * dropped. Cents follow `RelationalQueries.cents`: a NaN or
    * overflowing value is an absent (null) measure, not a failed job. */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.RelationalQueries.cents(col("value"))).cast("long").as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Per-window top-k over a finalized window aggregate (ties: type
    * asc). In a stream it runs inside foreachBatch on the append-mode
    * output of `tumblingCounts`, where every arriving row belongs to a
    * watermark-finalized window, so ranking each batch is exact. */
  def topkPerWindow(finalized: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type").asc)
    finalized.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("window_start"), col("rank").cast("long").as("rank"),
        col("event_type"), col("n_events"))
  }

  /** Windowed data-quality rule counts: per 1-day event-time window, the
    * rows and the violations of each rule (value > 450, user_id <= 0,
    * props `"k"` >= 90, purchase below 50) — one wide conditional
    * aggregation over a single scan. A `props` without `"k"` violates
    * nothing (null, not a failed cast). */
  def dqCounts(events: DataFrame): DataFrame = {
    val k = nullif(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(""))
      .cast("long")
    def rule(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        rule(col("value") > 450d).as("v_value_max"),
        rule(col("user_id") <= 0L).as("v_user_pos"),
        rule(k >= 90L).as("v_props_k"),
        rule(col("event_type") === "purchase" && col("value") < 50d)
          .as("v_purchase_min"))
      .select(col("w.start").as("window_start"), col("n_rows"),
        col("v_value_max"), col("v_user_pos"), col("v_props_k"),
        col("v_purchase_min"))
  }

  /** Stream-static enrichment join: each micro-batch of the stream is
    * left-joined to a (broadcast) dimension table. The static side is
    * re-resolved per micro-batch, so a dim backed by files picks up
    * slowly-changing updates without restarting the query — the
    * canonical lookup-enrichment pattern. Left join keeps events with
    * no dim row (late dim arrival) instead of dropping them. */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")
      .drop(dimKey)

  /** Stream-stream INTERVAL join: each error joins clicks of the same
    * user from the previous 30 minutes, with the gap in microseconds.
    * Inputs: clicks (`user_id`, `click_id`, `cts`) and errors
    * (`e_user`, `error_id`, `ets`). The bound is exact long arithmetic
    * on the micros of both timestamps. Both sides are watermarked, and
    * on a stream the same bound is also stated on the watermarked
    * timestamp columns: that is the form Spark derives the state
    * watermark from, so a click older than watermark + 30 min is
    * evicted and join state stays bounded. A batch join keeps no state,
    * and the zoned `timestamp + interval` add on every candidate pair
    * made st9 slower (1.09 → 2.04 s median over 8× the sf0.1 events on
    * a 4-cpu VM), so a batch leaves those redundant conjuncts out.
    * Inner join in append mode. */
  def intervalJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("cts", "1 hour").withColumn("cus", unix_micros(col("cts")))
    val e = errors.withWatermark("ets", "1 hour").withColumn("eus", unix_micros(col("ets")))
    val bound = col("user_id") === col("e_user") &&
      col("eus") >= col("cus") && col("eus") <= col("cus") + 1800L * 1000000L
    val stateBound = col("ets") >= col("cts") &&
      col("ets") <= col("cts") + expr("interval 30 minutes")
    c.join(e, if (clicks.isStreaming) bound && stateBound else bound)
      .select(col("user_id"), col("click_id"), col("error_id"),
        (col("eus") - col("cus")).as("gap_micros"))
  }

  /** Streaming near-dup ADMISSION — the d8 incremental probe run per
    * micro-batch inside foreachBatch: the batch's docs are minhashed and
    * their band rows probe the already-seen index (asymmetric join,
    * shuffle ∝ batch, never corpus), plus smaller-id docs of the SAME
    * batch. A doc is rejected when exact Jaccard ≥ 0.8 verifies against
    * any such reference; `dup_of` is the smallest matching id.
    *
    * Policy: the index is MONOTONE — every seen doc enters it, admitted
    * or not (rejecting a near-dup of rejected content is still correct,
    * and it keeps each decision per-doc local). With id-ordered batches
    * the decision for doc d depends only on {corpus} ∪ {stream ids < d},
    * so admission is provably independent of micro-batch slicing — the
    * property the spec pins. Deliberately UNCAPPED, unlike d8's batch
    * build: a per-batch hot-bucket cap would depend on how the stream
    * is sliced, breaking both that property and oracle parity. At
    * 100 TB, cap the PERSISTED index once at build time (bucket counts
    * are slicing-independent there) before handing it to this probe.
    *
    * Caller maintains the MATERIALIZED index across batches — both
    * tables persisted/on disk, never re-derived (re-minhashing the
    * corpus per batch would make each batch cost corpus-shaped, the
    * exact failure this operator exists to avoid): `seenSids` =
    * (doc_id, sid) and `seenBands` = its bandIndex, appending the
    * batch's rows after deciding. `batchSids` is the batch's OWN
    * shingle table (one hashing pass, shared with the caller's
    * index append). doc_ids must be disjoint from the corpus'.
    * Returns (doc_id, admitted, dup_of) for every batch doc,
    * empty-shingle docs admitted. */
  def neardupAdmit(batchSids: DataFrame, seenSids: DataFrame,
      seenBands: DataFrame): DataFrame =
    neardupAdmitImpl(batchSids, seenSids, seenBands, None)

  /** [[neardupAdmit]] with the BUILD-TIME index cap (the policy note's
    * 100-TB prescription, made a first-class path by round 15's
    * pressure finding — the uncapped probe's clique-quadratic verify
    * mass cannot complete under a starved heap,
    * plans/stress/STRESS_spill_r15_streaming*.json). `hotBuckets` is the FIXED
    * (band_idx, band_hash) set whose corpus-build occupancy exceeded
    * the cap: those buckets are dead on BOTH probe and reference
    * sides, so candidate fan-out per bucket is bounded while
    * decisions stay micro-batch-slicing-independent (the hot set
    * never grows with the stream). Caller must maintain `seenBands`
    * pre-filtered by the same set. */
  def neardupAdmitCapped(batchSids: DataFrame, seenSids: DataFrame,
      seenBands: DataFrame, hotBuckets: DataFrame): DataFrame =
    neardupAdmitImpl(batchSids, seenSids, seenBands, Some(hotBuckets))

  private def neardupAdmitImpl(batchSids: DataFrame, seenSids: DataFrame,
      seenBands: DataFrame, hotBuckets: Option[DataFrame]): DataFrame = {
    val spark = batchSids.sparkSession
    import spark.implicits._
    import graft.{DedupQueries, TextQueries}
    val newSids = batchSids.persist()
    val newNz = newSids.filter(size($"sid") > 0)
    val seenNz = seenSids.filter(size($"sid") > 0)
    val probe0 = DedupQueries.bandIndex(newNz)
    val probe = hotBuckets.fold(probe0)(h =>
      probe0.join(h, Seq("band_idx", "band_hash"), "left_anti")).persist()
    val ref = seenBands.withColumn("seen", lit(true))
      .unionByName(probe.withColumn("seen", lit(false)))
    val cand = probe.as("n").join(ref.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_hash") === col("o.band_hash") &&
          (col("o.seen") || col("o.doc_id") < col("n.doc_id")))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("ref_id"))
      .distinct()
      .localCheckpoint() // same materialization barrier as d2/d8
    val refSids = seenNz.unionByName(newNz)
    val dups = cand
      .join(newSids.select($"doc_id".as("new_id"), $"sid".as("sid_n")), "new_id")
      .join(refSids.select($"doc_id".as("ref_id"), $"sid".as("sid_o")), "ref_id")
      .filter(TextQueries.intDiv(
        size(array_intersect($"sid_n", $"sid_o")).cast("long") * 1000L,
        size(array_union($"sid_n", $"sid_o")).cast("long")) >= 800L)
      .groupBy($"new_id").agg(min($"ref_id").as("dup_of"))
    newSids.select($"doc_id")
      .join(dups.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"dup_of".isNull.as("admitted"), $"dup_of")
  }
}
