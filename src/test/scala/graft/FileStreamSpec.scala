package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** readStream against real parquet files (the batch/stream-unified
  * ingestion path, SURVEY §2.10): stream the events table from a
  * directory, aggregate via the shared StreamingOps logic, compare to
  * batch. */
class FileStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("parquet file stream matches batch tumbling aggregation") {
    import spark.implicits._
    val dir = Fixtures.tempDir("evstream").getPath
    val batch = Tables.load(spark, TestSpark.sf, "events")
      .select($"ts", $"event_type", $"value")
    batch.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(s"$dir/in")
    val q = graft.streaming.StreamingOps.tumblingCounts(stream, "0 seconds")
      .writeStream.format("memory").queryName("filestream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("filestream_out")
      .select($"window_start", $"event_type", $"n_events", $"value_cents")
    val want = StreamQueries.tumbling(spark, TestSpark.sf)
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
    q.stop()
  }
}
