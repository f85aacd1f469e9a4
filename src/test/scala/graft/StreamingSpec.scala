package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

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

  test("NaN and overflowing values: streaming tumblingCounts matches st1, null cents") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (t("2024-03-01 10:00:00"), "a", 1.0),
      (t("2024-03-01 11:00:00"), "nan", Double.NaN),
      (t("2024-03-01 12:00:00"), "huge", 1e16))
    def read(df: org.apache.spark.sql.DataFrame) =
      df.select($"window_start".cast("string"), $"event_type", $"n_events",
          $"value_cents")
        .as[(String, String, Long, Option[Long])].collect().toSet
    // st1's batch form over an events table holding exactly these rows
    val dir = Fixtures.tempDir("graft_st1_nan")
    rows.toDF("ts", "event_type", "value").coalesce(1).write
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    val want = read(Queries.queries("st1_tumbling_window")(spark, dir.getAbsolutePath))
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingOps.tumblingCounts(
        input.toDF().toDF("ts", "event_type", "value"), watermark = "0 seconds")
      .writeStream.format("memory").queryName("tumbling_nan_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows)
    q.processAllAvailable()
    input.addData((t("2024-03-03 00:00:01"), "a", 1.0)) // finalize day 1
    q.processAllAvailable()
    val got = read(spark.table("tumbling_nan_out"))
    q.stop()
    // 1e16 dollars is 1e18 cents, which fits a long: only NaN is absent
    assert(got === Set(
      ("2024-03-01 00:00:00", "a", 1L, Some(100L)),
      ("2024-03-01 00:00:00", "nan", 1L, None),
      ("2024-03-01 00:00:00", "huge", 1L, Some(1000000000000000000L))))
    assert(got === want)
  }

  test("streaming DQ gate: per-window rule counts finalize over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (t("2024-03-01 10:00:00"), 1L, "view", 10.0, "{\"k\": 5}"),
      (t("2024-03-01 11:00:00"), 0L, "click", 470.0, "{\"k\": 95}"),
      (t("2024-03-01 12:00:00"), 2L, "view", 20.0, "{\"k\": 50}"),
      (t("2024-03-01 13:00:00"), 4L, "purchase", 30.0, "{}"))
    def read(df: org.apache.spark.sql.DataFrame) =
      df.select($"window_start".cast("string"), $"n_rows", $"v_value_max",
          $"v_user_pos", $"v_props_k", $"v_purchase_min")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double, String)]
    val q = StreamingOps.dqCounts(
        input.toDF().toDF("ts", "user_id", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("dq_out")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows)
    q.processAllAvailable()
    input.addData((t("2024-03-03 00:00:01"), 3L, "view", 1.0, "{\"k\": 1}"))
    q.processAllAvailable()
    val got = read(spark.table("dq_out"))
    q.stop()
    // the bad producer (user 0, value 470, k 95) and the cheap purchase
    // show up in their window; a props without "k" violates nothing
    assert(got === Set(("2024-03-01 00:00:00", 4L, 1L, 1L, 1L, 1L)))
    val dir = Fixtures.tempDir("graft_st12")
    rows.toDF("ts", "user_id", "event_type", "value", "props").coalesce(1).write
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    assert(got === read(Queries.queries("st12_stream_dq")(spark, dir.getAbsolutePath)))
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
        clicks.toDF().toDF("cts", "user_id", "click_id"),
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

  test("interval join on a stream evicts join state behind the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val errors = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = StreamingOps.intervalJoin(
        clicks.toDF().toDF("cts", "user_id", "click_id"),
        errors.toDF().toDF("ets", "e_user", "error_id"))
      .writeStream.format("memory").queryName("ij_evict_out")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def stateRows() = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    clicks.addData((t("2024-03-01 10:00:00"), 1L, 100L), (t("2024-03-01 10:01:00"), 1L, 101L))
    errors.addData((t("2024-03-01 10:02:00"), 1L, 200L))
    q.processAllAvailable()
    val before = stateRows()
    // both watermarks move to 13:00: nothing from 10:00 can match again
    clicks.addData((t("2024-03-01 14:00:00"), 9L, 102L))
    errors.addData((t("2024-03-01 14:00:00"), 9L, 201L))
    q.processAllAvailable()
    val after = stateRows()
    q.stop()
    assert(after < before, s"join state $before -> $after rows: nothing was evicted")
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
        clicks.toDF().toDF("cts", "user_id", "click_id"),
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

  test("streaming near-dup admission matches the batch replay, any slicing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    var index = StreamingOps.NeardupIndex.of(
      DedupQueries.Lsh.shingles(docs.filter($"doc_id" % 3 =!= 0)))
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.Lsh.shingles(batch)
        sink.synchronized {
          sink ++= index.admit(bSids)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        index = index.append(bSids)
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
    var index = StreamingOps.NeardupIndex.of(
      DedupQueries.Lsh.shingles(docs.filter($"doc_id" % 3 =!= 0)),
      Some(StreamQueries.NeardupCapC))
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.Lsh.shingles(batch)
        sink.synchronized {
          sink ++= index.admit(bSids)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        index = index.append(bSids)
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
    import spark.implicits._
    // a corpus clique larger than the cap saturates every bucket of its
    // text past NeardupCapC, so a streaming duplicate of that text has
    // NO live candidates and is ADMITTED — the cap trades clique recall
    // (exact-dedup's job upstream) for bounded probe fan-out
    val clique = "the exact same duplicated document text body " * 3
    val corpus = (1L to 20L).map(i => (i * 3 + 1, clique)).toDF("doc_id", "text")
    val sids = DedupQueries.Lsh.shingles(corpus)
    val batch = DedupQueries.Lsh.shingles(
      Seq((999L, clique)).toDF("doc_id", "text"))
    val capped = StreamingOps.NeardupIndex.of(sids, Some(StreamQueries.NeardupCapC))
      .admit(batch)
      .select($"doc_id", $"admitted").as[(Long, Boolean)].collect().toMap
    assert(capped(999L), "clique buckets past the cap must be dead")
    // control: the UNCAPPED probe rejects the same duplicate
    val uncapped = StreamingOps.NeardupIndex.of(sids).admit(batch)
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
        clicks.toDF().toDF("cts", "user_id", "click_id"),
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
    var index = StreamingOps.NeardupIndex.of(
      DedupQueries.Lsh.shingles(docs.filter($"doc_id" % 3 =!= 0)))
    val stream0 = docs.filter($"doc_id" % 3 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    def start() = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val bSids = DedupQueries.Lsh.shingles(batch)
        sink.synchronized {
          sink ++= index.admit(bSids)
            .select($"doc_id", $"admitted",
              coalesce($"dup_of", lit(-1L)).as("dup_of"))
            .as[(Long, Boolean, Long)].collect()
        }
        index = index.append(bSids)
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
}
