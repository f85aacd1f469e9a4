package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graph twin of DegenerateDocsSpec/DegenerateEmbeddingsSpec: at
  * 100 TB an EMPTY derived input is as certain as an empty document —
  * a date-bounded incremental slice with no new edges, a seed filter
  * matching nothing, a shard whose sampled-edge predicate selects zero
  * rows. Every iterative operator here runs a driver loop whose
  * convergence probe is a scalar aggregate; this spec pins that all of
  * them (and the one-shot graph aggregations) survive an empty edge set
  * and an empty seed set rather than dying on a head() of an empty
  * frame or a null-propagating arithmetic step. The sf fixtures always
  * contain edges, so the oracle gate cannot catch this class. */
class DegenerateGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** lineitem with the sampled-edge predicate (l_orderkey % 50 = 0)
    * made empty, customer with the BFS seed range (c_custkey < 10)
    * made empty, orders with the SSSP seed range (o_custkey <= 5)
    * made empty. Everything else is linked as-is. */
  private lazy val fixtureDir: String = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_degen_graph")
    val rewritten = Map(
      "lineitem" -> (($"l_orderkey" % 50) =!= 0),
      "customer" -> ($"c_custkey" >= 10),
      "orders" -> ($"o_custkey" > 5))
    for (t <- Tables.names)
      rewritten.get(t) match {
        case Some(keep) =>
          Tables.load(spark, TestSpark.sf, t).filter(keep)
            .coalesce(1).write.mode("overwrite")
            .parquet(new java.io.File(dir, s"$t.parquet").getAbsolutePath)
        case None =>
          java.nio.file.Files.createSymbolicLink(
            new java.io.File(dir, s"$t.parquet").toPath,
            new java.io.File(s"${TestSpark.sf}/$t.parquet").toPath)
      }
    dir.getAbsolutePath
  }

  /** Every registered query whose edge/seed set is derived from the
    * rewritten predicates: the iterative family (CC, BFS, SSSP, label
    * propagation, incremental CC, the reconcile fixpoint) and the
    * one-shot graph aggregations (pagerank, triangles, k-core,
    * modularity, the filtered crawl, the delete cascade). */
  private val battery: Seq[String] = Seq(
    "g1_connected_components", "g2_bfs_walk", "g3_pagerank",
    "g4_triangle_count", "g5_kcore", "g6_label_propagation",
    "g7_incremental_cc", "g8_modularity", "g9_sssp",
    "j5_collect_filtered", "j6_reconcile_fixpoint", "j13_delete_cascade")

  test("the graph battery survives empty edge and seed sets") {
    val byName = Queries.all.map(q => q.name -> q).toMap
    val unknown = battery.filterNot(byName.contains)
    assert(unknown.isEmpty, s"battery names not in the registry: $unknown")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- battery) {
      // foreach, NOT count: count() prunes every projection, so an
      // unguarded division in the select list would never execute
      try byName(name).fn(spark, fixtureDir).foreach(_ => ())
      catch {
        case e: Throwable =>
          failures += s"$name: ${String.valueOf(e.getMessage).linesIterator.next().take(160)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries die on empty edge/seed sets:\n" +
        failures.mkString("\n"))
  }
}
