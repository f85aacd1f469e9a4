package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Ev, Session}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("watermarked tumbling window over MemoryStream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.tumblingCounts(df, watermark = "0 seconds")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-03-01 10:00:00"), "a", 1.0),
      (t("2024-03-01 11:00:00"), "a", 2.0),
      (t("2024-03-01 12:00:00"), "b", 3.0))
    q.processAllAvailable()
    // advance watermark past day 1 so its windows finalize
    input.addData((t("2024-03-03 00:00:01"), "a", 1.0))
    q.processAllAvailable()
    val got = spark.table("tumbling_out")
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"value_cents")
      .as[(String, String, Long, Long)].collect().toSet
    q.stop()
    assert(got === Set(
      ("2024-03-01 00:00:00", "a", 2L, 300L),
      ("2024-03-01 00:00:00", "b", 1L, 300L)))
  }

  test("streaming DQ gate: per-window rule counts finalize over MemoryStream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value", "props")
    val k = regexp_extract($"props", "\"k\": (\\d+)", 1).cast("long")
    val q = df.withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 day").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"value" > 450d, 1L).otherwise(0L)).as("v_value_max"),
        sum(when($"user_id" <= 0L, 1L).otherwise(0L)).as("v_user_pos"),
        sum(when(k >= 90L, 1L).otherwise(0L)).as("v_props_k"))
      .select($"w.start".as("window_start"), $"n_rows", $"v_value_max",
        $"v_user_pos", $"v_props_k")
      .writeStream.format("memory").queryName("dq_out")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-03-01 10:00:00"), 1L, "view", 10.0, "{\"k\": 5}"),
      (t("2024-03-01 11:00:00"), 0L, "click", 470.0, "{\"k\": 95}"),
      (t("2024-03-01 12:00:00"), 2L, "view", 20.0, "{\"k\": 50}"))
    q.processAllAvailable()
    input.addData((t("2024-03-03 00:00:01"), 3L, "view", 1.0, "{\"k\": 1}"))
    q.processAllAvailable()
    val got = spark.table("dq_out")
      .select($"window_start".cast("string"), $"n_rows", $"v_value_max",
        $"v_user_pos", $"v_props_k")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    q.stop()
    // the bad producer (user 0, value 470, k 95) shows up in its window
    assert(got === Set(("2024-03-01 00:00:00", 3L, 1L, 1L, 1L)))
  }

  test("streaming top-k ranks watermark-finalized windows in foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val sink = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String, Long)]
    val q = StreamingOps.tumblingCounts(df, watermark = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= StreamingOps.topkPerWindow(batch, 2)
            .select($"window_start".cast("string"), $"rank", $"event_type",
              $"n_events")
            .as[(String, Long, String, Long)].collect()
        }
        ()
      }.start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-03-01 10:00:00"), "a", 1.0),
      (t("2024-03-01 11:00:00"), "a", 1.0),
      (t("2024-03-01 12:00:00"), "b", 1.0),
      (t("2024-03-01 13:00:00"), "b", 1.0),
      (t("2024-03-01 14:00:00"), "b", 1.0),
      (t("2024-03-01 15:00:00"), "c", 1.0))
    q.processAllAvailable()
    input.addData((t("2024-03-03 00:00:01"), "z", 1.0)) // finalize day 1
    q.processAllAvailable()
    q.stop()
    val got = sink.synchronized(sink.toSet)
    assert(got === Set(
      ("2024-03-01 00:00:00", 1L, "b", 3L),
      ("2024-03-01 00:00:00", 2L, "a", 2L))) // c ranked 3rd: cut by k=2
  }

  test("stream-stream interval join matches errors to prior clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val errors = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamingOps.intervalJoin(
        clicks.toDF().toDF("cts", "c_user", "click_id"),
        errors.toDF().toDF("ets", "e_user", "error_id"))
      .writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    clicks.addData(
      (t("2024-03-01 10:00:00"), 1L, 100L),
      (t("2024-03-01 10:00:00"), 2L, 101L))
    errors.addData(
      (t("2024-03-01 10:10:00"), 1L, 200L), // within 30 min: joins
      (t("2024-03-01 10:45:00"), 1L, 201L), // beyond 30 min: no match
      (t("2024-03-01 10:05:00"), 3L, 202L)) // other user: no match
    q.processAllAvailable()
    val got = spark.table("ij_out")
      .select($"user_id", $"click_id", $"error_id", $"gap_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    assert(got === Set((1L, 100L, 200L, 600000000L)))
  }

  test("interval join: MemoryStream path reproduces the registered batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.load(spark, TestSpark.sf, "events")
    val clickRows = ev.filter($"event_type" === "click")
      .select($"ts", $"user_id", $"event_id")
      .as[(java.sql.Timestamp, Long, Long)].collect()
    val errorRows = ev.filter($"event_type" === "error")
      .select($"ts", $"user_id", $"event_id")
      .as[(java.sql.Timestamp, Long, Long)].collect()
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val errors = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamingOps.intervalJoin(
        clicks.toDF().toDF("cts", "c_user", "click_id"),
        errors.toDF().toDF("ets", "e_user", "error_id"))
      .writeStream.format("memory").queryName("ij_sf_out")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(clickRows.toSeq)
    errors.addData(errorRows.toSeq)
    q.processAllAvailable()
    val got = spark.table("ij_sf_out")
      .select($"user_id", $"click_id", $"error_id", $"gap_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    q.stop()
    val want = Queries.queries("st9_interval_join")(spark, TestSpark.sf)
      .select($"user_id", $"click_id", $"error_id", $"gap_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "batch twin returned no pairs — degenerate data")
    assert(got === want)
  }

  test("stream-static enrich: MemoryStream path reproduces the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.load(spark, TestSpark.sf, "events")
      .select($"event_id", $"user_id", $"event_type")
      .as[(Long, Long, String)].collect()
    val dim = Tables.load(spark, TestSpark.sf, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val in = MemoryStream[(Long, Long, String)]
    val q = StreamingOps.enrich(
        in.toDF().toDF("event_id", "user_id", "event_type"),
        dim, "user_id", "c_custkey")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(evRows.toSeq)
    q.processAllAvailable()
    val got = spark.table("enrich_out")
      .select($"event_id", $"user_id", $"event_type", $"c_name", $"c_nationkey")
      .as[(Long, Long, String, String, Long)].collect().toSet
    q.stop()
    val want = Queries.queries("st10_stream_enrich")(spark, TestSpark.sf)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(want.nonEmpty && got === want)
  }

  test("streaming dedup keeps the first event per key within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val q = StreamingOps.dedupFirst(df, "10 minutes", "user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    input.addData(
      (t("2024-03-01 10:00:00"), 1L, "click"), // first -> kept
      (t("2024-03-01 10:01:00"), 1L, "click"), // dup within watermark -> dropped
      (t("2024-03-01 10:02:00"), 2L, "click")) // different key -> kept
    q.processAllAvailable()
    input.addData(
      (t("2024-03-01 10:03:00"), 1L, "click")) // dup across batches -> dropped
    q.processAllAvailable()
    val got = spark.table("dedup_out")
      .select($"ts".cast("string"), $"user_id", $"event_type")
      .as[(String, Long, String)].collect().toSet
    q.stop()
    assert(got === Set(
      ("2024-03-01 10:00:00", 1L, "click"),
      ("2024-03-01 10:02:00", 2L, "click")))
  }

  test("streaming near-dup admission matches the batch replay, any slicing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    var sids = DedupQueries.shingleTableOf(
      docs.filter($"doc_id" % 3 =!= 0)).persist()
    var bands = DedupQueries.bandIndex(
      sids.filter(size($"sid") > 0)).persist()
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.shingleTableOf(batch).persist()
        sink.synchronized {
          sink ++= StreamingOps.neardupAdmit(bSids, sids, bands)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        sids = sids.unionByName(bSids).persist()
        bands = bands.unionByName(DedupQueries.bandIndex(
          bSids.filter(size($"sid") > 0))).persist()
        ()
      }.start()
    // THREE id-ordered micro-batches — a different slicing than the
    // registered query's two; monotone-index admission must not care
    stream0.grouped(math.max(stream0.length / 3, 1)).foreach { g =>
      input.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = sink.synchronized(sink.toSeq)
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = Queries.queries("st8_stream_neardup")(spark, TestSpark.sf)
      .select($"doc_id", $"admitted", $"dup_of")
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want)
    assert(want.nonEmpty, "no stream docs at this sf")
  }

  test("capped admission matches the batch replay, any slicing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    var sids = DedupQueries.shingleTableOf(
      docs.filter($"doc_id" % 3 =!= 0)).persist()
    val corpusBands = DedupQueries.bandIndex(sids.filter(size($"sid") > 0))
    val hot = corpusBands.groupBy($"band_idx", $"band_hash")
      .agg(count(lit(1)).as("n")).filter($"n" > StreamQueries.NeardupCapC)
      .select($"band_idx", $"band_hash").persist()
    var bands = corpusBands
      .join(hot, Seq("band_idx", "band_hash"), "left_anti").persist()
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.shingleTableOf(batch).persist()
        sink.synchronized {
          sink ++= StreamingOps.neardupAdmitCapped(bSids, sids, bands, hot)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        sids = sids.unionByName(bSids).persist()
        bands = bands.unionByName(DedupQueries.bandIndex(
            bSids.filter(size($"sid") > 0))
          .join(hot, Seq("band_idx", "band_hash"), "left_anti")).persist()
        ()
      }.start()
    // THREE id-ordered micro-batches vs the registered query's two —
    // the hot set is fixed at corpus build, so slicing must not matter
    stream0.grouped(math.max(stream0.length / 3, 1)).foreach { g =>
      input.addData(g.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = sink.synchronized(sink.toSeq)
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = Queries.queries("st8c_stream_admit_capped")(spark, TestSpark.sf)
      .select($"doc_id", $"admitted", $"dup_of")
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == want)
    assert(want.nonEmpty, "no stream docs at this sf")
  }

  test("the build-time cap kills a mega-clique's buckets: dup admitted") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a corpus clique larger than the cap saturates every bucket of its
    // text past NeardupCapC, so a streaming duplicate of that text has
    // NO live candidates and is ADMITTED — the cap trades clique recall
    // (exact-dedup's job upstream) for bounded probe fan-out
    val clique = "the exact same duplicated document text body " * 3
    val corpus = (1L to 20L).map(i => (i * 3 + 1, clique)).toDF("doc_id", "text")
    val sids = DedupQueries.shingleTableOf(corpus)
    val corpusBands = DedupQueries.bandIndex(sids.filter(size($"sid") > 0))
    val hot = corpusBands.groupBy($"band_idx", $"band_hash")
      .agg(count(lit(1)).as("n")).filter($"n" > StreamQueries.NeardupCapC)
      .select($"band_idx", $"band_hash")
    val bands = corpusBands.join(hot, Seq("band_idx", "band_hash"), "left_anti")
    val batch = DedupQueries.shingleTableOf(
      Seq((999L, clique)).toDF("doc_id", "text"))
    val capped = StreamingOps.neardupAdmitCapped(batch, sids, bands, hot)
      .select($"doc_id", $"admitted").as[(Long, Boolean)].collect().toMap
    assert(capped(999L), "clique buckets past the cap must be dead")
    // control: the UNCAPPED probe rejects the same duplicate
    val uncapped = StreamingOps.neardupAdmit(batch, sids, corpusBands)
      .select($"doc_id", $"admitted").as[(Long, Boolean)].collect().toMap
    assert(!uncapped(999L), "uncapped admission must still reject it")
  }

  test("interval join restart: click state survives the checkpoint stop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Fixtures.tempDir("graft_ij_ck")
    val ev = Tables.load(spark, TestSpark.sf, "events")
    val clickRows = ev.filter($"event_type" === "click")
      .select($"ts", $"user_id", $"event_id")
      .as[(java.sql.Timestamp, Long, Long)].collect()
    val errorRows = ev.filter($"event_type" === "error")
      .select($"ts", $"user_id", $"event_id")
      .as[(java.sql.Timestamp, Long, Long)].collect()
    // split both streams by TIME at the error timestamp of a known
    // positive-gap pair: its click arrives in phase 1, its error in
    // phase 2, so the pair can only be emitted from join state recovered
    // out of the checkpoint (watermark is 1h, join bound 30min, so no
    // needed click can have been evicted at the boundary)
    val want = Queries.queries("st9_interval_join")(spark, TestSpark.sf)
      .select($"user_id", $"click_id", $"error_id", $"gap_micros")
      .as[(Long, Long, Long, Long)].collect().toSet
    val errTs = errorRows.map(r => r._3 -> r._1.getTime).toMap
    val cross = want.filter(_._4 > 0L).maxByOption(_._4)
      .getOrElse(fail("fixture degenerate: no positive-gap pair at this sf"))
    val split = errTs(cross._3)
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val errors = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def start() = StreamingOps.intervalJoin(
        clicks.toDF().toDF("cts", "c_user", "click_id"),
        errors.toDF().toDF("ets", "e_user", "error_id"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select(b("user_id"), b("click_id"), b("error_id"),
          b("gap_micros")).as[(Long, Long, Long, Long)].collect()
        sink.synchronized { sink ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    clicks.addData(clickRows.filter(_._1.getTime < split).toSeq)
    errors.addData(errorRows.filter(_._1.getTime < split).toSeq)
    q1.processAllAvailable(); q1.stop()
    val q2 = start()
    clicks.addData(clickRows.filter(_._1.getTime >= split).toSeq)
    errors.addData(errorRows.filter(_._1.getTime >= split).toSeq)
    q2.processAllAvailable(); q2.stop()
    val got = sink.synchronized(sink.toSeq)
    assert(got.size === got.distinct.size, "restart replayed committed pairs")
    assert(got.toSet === want)
    val clickTs = clickRows.map(r => r._3 -> r._1.getTime).toMap
    assert(clickTs(cross._2) < split && errTs(cross._3) >= split,
      "chosen pair does not cross the restart boundary")
  }

  test("stream-static enrich restart: offsets resume, no replay, no loss") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Fixtures.tempDir("graft_en_ck")
    val evRows = Tables.load(spark, TestSpark.sf, "events")
      .select($"event_id", $"user_id", $"event_type")
      .as[(Long, Long, String)].collect()
    val dim = Tables.load(spark, TestSpark.sf, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val in = MemoryStream[(Long, Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, Long)]
    def start() = StreamingOps.enrich(
        in.toDF().toDF("event_id", "user_id", "event_type"),
        dim, "user_id", "c_custkey")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select(b("event_id"), b("user_id"), b("event_type"),
            b("c_name"), b("c_nationkey"))
          .as[(Long, Long, String, String, Long)].collect()
        sink.synchronized { sink ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode(OutputMode.Append()).start()
    val (h1, h2) = evRows.splitAt(evRows.length / 2)
    val q1 = start()
    in.addData(h1.toSeq); q1.processAllAvailable(); q1.stop()
    val q2 = start()
    in.addData(h2.toSeq); q2.processAllAvailable(); q2.stop()
    val got = sink.synchronized(sink.toSeq)
    assert(got.size === got.distinct.size, "restart replayed committed rows")
    val want = Queries.queries("st10_stream_enrich")(spark, TestSpark.sf)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(want.nonEmpty && got.toSet === want)
  }

  test("near-dup admission restart: band index and offsets survive the stop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Fixtures.tempDir("graft_nd_ck")
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    var sids = DedupQueries.shingleTableOf(
      docs.filter($"doc_id" % 3 =!= 0)).persist()
    var bands = DedupQueries.bandIndex(
      sids.filter(size($"sid") > 0)).persist()
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    def start() = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.shingleTableOf(batch).persist()
        sink.synchronized {
          sink ++= StreamingOps.neardupAdmit(bSids, sids, bands)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        sids = sids.unionByName(bSids).persist()
        bands = bands.unionByName(DedupQueries.bandIndex(
          bSids.filter(size($"sid") > 0))).persist()
        ()
      }
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    val (h1, h2) = stream0.splitAt(stream0.length / 2)
    val q1 = start()
    input.addData(h1.toSeq); q1.processAllAvailable(); q1.stop()
    // restart: committed batches must NOT rerun (the index would double-
    // count and the sink would hold duplicate decisions)
    val q2 = start()
    input.addData(h2.toSeq); q2.processAllAvailable(); q2.stop()
    val got = sink.synchronized(sink.toSeq)
    assert(got.map(_._1).distinct.size === got.size,
      "restart replayed a committed admission batch")
    val want = Queries.queries("st8_stream_neardup")(spark, TestSpark.sf)
      .select($"doc_id", $"admitted", $"dup_of")
      .as[(Long, Boolean, Long)].collect()
    assert(want.nonEmpty && got.map(r => r._1 -> (r._2, r._3)).toMap ===
      want.map(r => r._1 -> (r._2, r._3)).toMap)
  }

  test("idempotent batch writer: replaying a batch does not duplicate rows") {
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_sink")
    val w = StreamingOps.idempotentBatchWriter(dir.getAbsolutePath)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    w(b0, 0L)
    w(b0, 0L) // crash-replay of the same batch id: marker short-circuits
    w(Seq((3L, "c")).toDF("k", "v"), 1L)
    val got = spark.read.parquet(dir.getAbsolutePath)
    assert(got.count() === 3)
    assert(got.select("batch_id").distinct().as[Int].collect().toSet === Set(0, 1))
  }

  test("exactly-once sink end-to-end over a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixtures.tempDir("graft_sink2")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.exactlyOnceSink(
      input.toDF().toDF("k", "v"), dir.getAbsolutePath).start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(dir.getAbsolutePath).count() === 3)
    // every written batch directory carries its commit marker
    val markers = dir.listFiles().filter(_.getName.endsWith("_COMMITTED")).length
    val dirs = dir.listFiles().filter(_.getName.startsWith("batch_id=")).length
    assert(markers === dirs && dirs >= 1)
  }

  test("checkpointed restart resumes at the committed offset, no replay") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = Fixtures.tempDir("graft_rst_in")
    val out = Fixtures.tempDir("graft_rst_out")
    val ckpt = Fixtures.tempDir("graft_rst_ck")
    val schema = new StructType().add("k", LongType).add("v", StringType)
    def start() = StreamingOps.exactlyOnceSink(
        spark.readStream.schema(schema).parquet(in.getAbsolutePath),
        out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath).start()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out.getAbsolutePath).count() === 2)
    // new data lands while the query is DOWN; the restart must pick up
    // exactly the delta from the checkpointed offset
    Seq((3L, "c")).toDF("k", "v")
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val ks = spark.read.parquet(out.getAbsolutePath)
      .select($"k").as[Long].collect().sorted
    assert(ks === Array(1L, 2L, 3L), s"replay or loss: ${ks.mkString(",")}")
    // batch numbering continued across the restart (fresh query would
    // restart at 0 and the idempotent sink would skip the write)
    val ids = out.listFiles().filter(_.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong).sorted
    assert(ids.distinct.length === ids.length && ids.length >= 2,
      s"batch ids: ${ids.mkString(",")}")
  }

  test("committed-only reader skips a crash's partial batch directory") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Fixtures.tempDir("graft_sink3")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.exactlyOnceSink(
      input.toDF().toDF("k", "v"), dir.getAbsolutePath).start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    q.stop()
    // simulate a crash mid-batch: parquet landed, marker never dropped
    val partial = new java.io.File(dir, "batch_id=99")
    Seq((666L, "ghost")).toDF("k", "v")
      .write.parquet(partial.getAbsolutePath)
    val seen = StreamingOps.readCommitted(spark, dir.getAbsolutePath)
      .select($"k").as[Long].collect().sorted
    assert(seen.toSeq === Seq(1L, 2L), "uncommitted batch leaked to readers")
  }

  test("maxFilesPerTrigger bounds each micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = Fixtures.tempDir("graft_mft_in")
    val out = Fixtures.tempDir("graft_mft_out")
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(in.getAbsolutePath)
    }
    val schema = new StructType().add("k", LongType).add("v", StringType)
    val q = StreamingOps.exactlyOnceSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        out.getAbsolutePath).start()
    q.processAllAvailable()
    q.stop()
    // three input files -> three bounded micro-batches, all committed
    val batches = out.listFiles()
      .count(f => f.getName.startsWith("batch_id=") && {
        val rows = spark.read.parquet(f.getAbsolutePath).count()
        rows >= 1 && rows <= 1
      })
    assert(batches === 3, s"expected 3 single-file batches")
    assert(StreamingOps.readCommitted(spark, out.getAbsolutePath).count() === 3)
  }

  test("keyed-state sessionization emits gap-closed sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    val min = 60L * 1000000L
    // user 1: two events 5 min apart (one session), then a 60-min gap event
    input.addData(Ev(1L, 1L, 0L), Ev(1L, 2L, 5 * min))
    q.processAllAvailable()
    input.addData(Ev(1L, 3L, 65 * min)) // closes session [0, 5min]
    q.processAllAvailable()
    val got = spark.table("sessions_out").as[Session].collect().toSet
    q.stop()
    assert(got === Set(Session(1L, 0L, 5 * min, 2L)))
  }

  test("batch sessionize with sentinels matches the window-function query shape") {
    import spark.implicits._
    val min = 60L * 1000000L
    val evs = Seq(
      Ev(1L, 1L, 0L), Ev(1L, 2L, 10 * min), Ev(1L, 3L, 50 * min), // 2 sessions
      Ev(2L, 4L, 0L)).toDS()
    val got = StreamingOps.sessionize(StreamingOps.withSentinels(evs))
      .collect().toSet
    assert(got === Set(
      Session(1L, 0L, 10 * min, 2L),
      Session(1L, 50 * min, 50 * min, 1L),
      Session(2L, 0L, 0L, 1L)))
  }
}
