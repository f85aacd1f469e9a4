package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.DedupQueries.Lsh

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
  *   - `neardupAdmit` over a `NeardupIndex`: st8, and st8c with the
  *     index capped at build; both run on the `DedupQueries.Lsh` kernel.
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
    * any such reference; `dup_of` is the smallest matching id. Probe and
    * verify are `DedupQueries.Lsh`'s.
    *
    * Policy: the index is MONOTONE — every seen doc enters it, admitted
    * or not (rejecting a near-dup of rejected content is still correct,
    * and it keeps each decision per-doc local). With id-ordered batches
    * the decision for doc d depends only on {corpus} ∪ {stream ids < d},
    * so admission is provably independent of micro-batch slicing — the
    * property the spec pins. Uncapped by default: a per-batch hot-bucket
    * cap would depend on how the stream is sliced, breaking both that
    * property and oracle parity. The cap that holds at 100 TB is fixed
    * once at index build (st8c, round 15's pressure finding: the
    * uncapped probe's clique-quadratic verify mass cannot complete
    * under a starved heap, plans/stress/STRESS_spill_r15_streaming*.json):
    * `hot` is the (band_idx, band_hash) set whose corpus occupancy
    * exceeded the cap, dead on BOTH the probe and the reference side,
    * so fan-out per bucket is bounded while decisions stay slicing-
    * independent (the hot set never grows with the stream).
    *
    * The caller maintains the MATERIALIZED index across batches, never
    * re-derived (re-minhashing the corpus per batch would make each
    * batch cost corpus-shaped): [[NeardupIndex]]. `batchSids` is the
    * batch's own persisted shingle table (`Lsh.shingles`, one hashing
    * pass shared with the index append); doc_ids must be disjoint from
    * the corpus'. Returns (doc_id, admitted, dup_of) for every batch doc,
    * empty-shingle docs admitted. */
  def neardupAdmit(batchSids: DataFrame, seenSids: DataFrame,
      seenBands: DataFrame, hot: Option[DataFrame] = None): DataFrame = {
    val newNz = Lsh.nz(batchSids)
    val probe = Lsh.dropHot(Lsh.bands(newNz), hot).persist()
    val ref = seenBands.withColumn("seen", lit(true))
      .unionByName(probe.withColumn("seen", lit(false)))
    val cand = Lsh.probe(probe, ref, col("o.seen") || col("o.doc_id") < col("n.doc_id"))(
      col("n.doc_id").as("new_id"), col("o.doc_id").as("ref_id"))
    val dups = Lsh.jaccard(cand, batchSids, 800L,
        Some(Lsh.nz(seenSids).unionByName(newNz)))
      .groupBy(col("new_id")).agg(min(col("ref_id")).as("dup_of"))
    batchSids.select(col("doc_id"))
      .join(dups.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
  }

  /** The maintained index a near-dup admission stream probes: the seen
    * (doc_id, sid) table, its band rows and, when capped, the hot set
    * fixed at corpus build. Both tables are persisted (at 100 TB, the
    * on-disk index files); each batch appends its own rows. */
  final case class NeardupIndex(sids: DataFrame, bands: DataFrame,
      hot: Option[DataFrame]) {
    /** The batch's admission decisions against this index. */
    def admit(batchSids: DataFrame): DataFrame =
      neardupAdmit(batchSids, sids, bands, hot)

    /** This index with the batch appended: every seen doc enters, and
      * hot buckets stay dead. */
    def append(batchSids: DataFrame): NeardupIndex = copy(
      sids = sids.unionByName(batchSids).persist(),
      bands = bands.unionByName(Lsh.dropHot(Lsh.bands(Lsh.nz(batchSids)), hot))
        .persist())
  }

  object NeardupIndex {
    /** The index over a corpus's persisted shingle table; `cap` fixes
      * the hot set on the corpus's own band occupancy. */
    def of(sids: DataFrame, cap: Option[Long] = None): NeardupIndex = {
      val bands = Lsh.bands(Lsh.nz(sids))
      val hot = cap.map(Lsh.hot(bands, _).persist())
      NeardupIndex(sids, Lsh.dropHot(bands, hot).persist(), hot)
    }
  }
}
