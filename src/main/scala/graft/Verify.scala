package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional name filter (local iteration)
    val names = Queries.select(SparkEntry.queries.keys.toSeq,
      Some(args.drop(2).toSeq).filter(_.nonEmpty), "Verify")
    // not Sessions.cpus: every recorded oracle run used 4 slots, which is
    // also the shuffle-partition count, so a fixed default keeps the
    // plans the oracle checks the same on any host
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.create("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
    spark.stop()
  }
}
