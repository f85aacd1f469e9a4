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
}
