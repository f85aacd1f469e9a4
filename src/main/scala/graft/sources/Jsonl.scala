package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSONL/dump ingestion (SURVEY §2.1 S1/S2): gzip JSONL → table with
  * skip-existing semantics — the Spark form of the reference loader
  * (`pipeline/process/base/loader.py:29-86`): `spark.read` handles
  * decompression/splitting; "skip keys already present" is a left-anti
  * join instead of a per-record existence check.
  *
  * At scale: .json(gz) reads are line-splittable per file; many files →
  * many partitions. The anti-join shuffles only the identifier column
  * of the target (or broadcasts it when small).
  */
object Jsonl {

  /** Read a JSONL path (optionally .gz) with an explicit identifier
    * column; drops rows whose identifier already exists in `existing`. */
  def load(spark: SparkSession, path: String, idCol: String,
      existing: Option[DataFrame] = None): DataFrame = {
    val raw = spark.read.json(path)
    existing match {
      case Some(e) =>
        raw.join(e.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      case None => raw
    }
  }

  /** Write as JSONL shards (compact separators, like export_full_N). */
  def save(df: DataFrame, path: String, shards: Int): Unit =
    df.repartition(shards).write.mode("overwrite").json(path)

  /** A quarantined ingest: `good` parsed rows, `bad` raw reject lines,
    * `release()` drops the shared cache once both are consumed. */
  final case class Quarantined(good: DataFrame, bad: DataFrame,
      release: () => Unit)

  /** Schema'd JSONL read with corrupt-line QUARANTINE: PERMISSIVE mode
    * parks unparseable lines in a corrupt-record column instead of
    * failing the job — one mangled byte in a 100 TB dump must cost one
    * row, not the build. The reject lines land in `bad` for triage
    * next to the output (the reference's error-envelope split,
    * `Fetcher` style, applied to the ingest path).
    *
    * The two frames share one cached read: Spark refuses a filter on
    * the corrupt-record column over a direct file scan (the parser
    * would have to re-run with a different required schema), so the
    * parse is pinned first — also what you want at scale, one pass not
    * two. Call `release()` when both sides are consumed. */
  def loadQuarantine(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Quarantined = {
    val cr = "_corrupt_record"
    val raw = spark.read
      .schema(schema.add(cr, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", cr)
      .json(path)
      // the single biggest cache on the ingest path: a pressure
      // profile's spark.sql.defaultCacheStorageLevel=DISK_ONLY reaches it
      .persist()
    Quarantined(
      good = raw.filter(col(cr).isNull).drop(cr),
      bad = raw.filter(col(cr).isNotNull).select(col(cr).as("raw_line")),
      release = () => { raw.unpersist(); () })
  }
}
