package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.10) — the engine's streaming
  * surface. The reference consumes ActivityStreams pages with a
  * high-water-mark (`pipeline/process/base/harvester.py:111-286`); here the
  * same semantics are expressed as event-time processing: watermarks bound
  * lateness (the `last_harvest` cut-off analog), windows aggregate, and
  * keyed state (flatMapGroupsWithState) implements custom session logic.
  *
  * All functions take a (possibly streaming) DataFrame so batch tests and
  * MemoryStream tests exercise identical logic.
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregate: count + cents sum per
    * (1-day window, event_type); late events beyond the watermark are
    * dropped — the streaming form of StreamQueries.tumbling. */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Per-window top-k over a finalized window aggregate — the rank
    * step of the streaming heavy-hitters pipeline (StreamQueries
    * .streamTopk). Runs inside foreachBatch on the append-mode output
    * of `tumblingCounts`, where every arriving row belongs to a
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

  /** Stream-stream INTERVAL join — the streaming form of
    * j15_range_join: each error joins clicks of the same user from
    * the previous 30 minutes. Both sides watermarked so Spark can
    * expire join state (a click older than watermark + 30 min can
    * never match again and is evicted — bounded state, the whole
    * point of the time-bound condition at scale). Inner join in
    * append mode; event-time columns must be distinct across sides. */
  def intervalJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("cts", "1 hour")
    val e = errors.withWatermark("ets", "1 hour")
    c.join(e,
      col("c_user") === col("e_user") &&
        col("ets") >= col("cts") &&
        col("ets") <= col("cts") + expr("interval 30 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("error_id"),
        (expr("unix_micros(ets)") - expr("unix_micros(cts)"))
          .as("gap_micros"))
  }

  /** Streaming dedup: drop repeats of a dedup key inside the watermark
    * horizon — the streaming form of StreamQueries.streamDedup (first
    * event per key wins within a microbatch; across batches the state
    * store remembers keys until the watermark expires them, bounding
    * state exactly like the reference's harvest cut-off bounds
    * re-reads). `keys` must not include the event-time column —
    * dropDuplicatesWithinWatermark tracks it implicitly. */
  def dedupFirst(events: DataFrame, watermark: String, keys: String*): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Exactly-once parquet sink as idempotent foreachBatch: each
    * microbatch overwrites its own `batch_id=<id>` directory and only
    * then drops a commit marker — replaying a batch after a crash
    * rewrites the SAME path (overwrite, not append), so at-least-once
    * delivery times an idempotent target equals exactly-once output.
    * This is the Spark-native replacement for the reference's
    * transactional upsert sink (K3, out of scope as a REST sink): at
    * 100 TB each batch directory is a partition of the output table
    * and downstream readers filter on the marker set. */
  def idempotentBatchWriter(dir: String): (DataFrame, Long) => Unit =
    (batch, id) => {
      val marker = new java.io.File(dir, s"_batch_${id}_COMMITTED")
      if (!marker.exists()) {
        batch.write.mode("overwrite").parquet(s"$dir/batch_id=$id")
        java.nio.file.Files.writeString(marker.toPath, "ok")
      }
    }

  /** Drive a stream into the idempotent sink. */
  def exactlyOnceSink(events: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch(idempotentBatchWriter(dir))

  /** Reader dual of the idempotent sink: load ONLY batch directories
    * whose commit marker exists. A crash between the parquet write and
    * the marker drop leaves a partial `batch_id=N` directory; replay
    * rewrites it, but until then readers must not see it — this filter
    * is what makes the at-least-once + idempotent-target combination
    * read as exactly-once. */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val committed = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("_batch_") &&
        f.getName.endsWith("_COMMITTED"))
      .map(_.getName.stripPrefix("_batch_").stripSuffix("_COMMITTED"))
      .sorted
    if (committed.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(
        committed.map(id => s"$dir/batch_id=$id").toIndexedSeq: _*)
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

  final case class Ev(user_id: Long, event_id: Long, us: Long)
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  val GapUs: Long = 1800L * 1000000L

  /** Keyed-state sessionization: emits a session when a 30-minute gap (or
    * state timeout) closes it. Input must be per-user ordered within a
    * batch (guaranteed by sorting inside groups for the batch/test path;
    * in production the watermark bounds reordering). */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          val sorted = evs.toSeq.sortBy(e => (e.us, e.event_id))
          var open: Option[SessionState] =
            state.getOption.flatMap(_.headOption)
          val closed = scala.collection.mutable.ArrayBuffer[Session]()
          sorted.foreach { e =>
            open match {
              case Some(s) if e.us - s.lastUs <= GapUs =>
                open = Some(SessionState(s.startUs, e.us, s.n + 1))
              case Some(s) =>
                closed += Session(user, s.startUs, s.lastUs, s.n)
                open = Some(SessionState(e.us, e.us, 1L))
              case None =>
                open = Some(SessionState(e.us, e.us, 1L))
            }
          }
          open match {
            case Some(s) => state.update(List(s))
            case None => state.remove()
          }
          closed.iterator
      }
  }

  /** Flush helper for tests/batch: closes all still-open sessions by
    * sending a sentinel far-future event per user is unnecessary — batch
    * callers instead union the state-closing output by running sessionize
    * over events plus a per-user sentinel. Provided for spec use. */
  def withSentinels(events: Dataset[Ev]): Dataset[Ev] = {
    import events.sparkSession.implicits._
    val sentinels = events.groupByKey(_.user_id)
      .mapGroups((u, _) => Ev(u, Long.MaxValue, Long.MaxValue - 1))
    events.union(sentinels)
  }
}
