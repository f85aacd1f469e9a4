package graft

/** Plan audit helper: prints formatted physical plans for the headline
  * queries so pushdown/broadcast/codegen can be inspected per round. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length < 2) Queries.benchNames
      else Queries.select(Queries.all.map(_.name), Some(args.drop(1).toSeq), "ExplainAudit")
    val spark = Sessions.create("graft-explain", Sessions.cpus)
    val fns = Queries.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      fns(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
