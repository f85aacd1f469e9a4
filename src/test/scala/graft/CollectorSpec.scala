package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Collector garbage-filter fixtures (collector.py:17-106, 203-218) —
  * cases the modular j5 fixture can't discriminate. */
class CollectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import operators.Collector

  private def nodesDf(rows: Seq[(Long, String, Option[Long], Option[Long], Seq[Long])]) = {
    import spark.implicits._
    rows.toDF("node", "rtype", "byear", "dyear", "refs")
  }
  private def edgesDf(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }
  private def run(nodes: Seq[(Long, String, Option[Long], Option[Long], Seq[Long])],
      edges: Seq[(Long, Long)], seed: Long, maxDist: Int = 3): Set[Long] = {
    import spark.implicits._
    Collector.collect(nodesDf(nodes), edgesDf(edges),
        Seq(seed).toDF("node"), maxDist, d => (d / 100L).cast("long"))
      .select("node").as[Long].collect().toSet
  }

  test("unfiltered BFS absorbs a far-date Person; the collector doesn't") {
    import spark.implicits._
    val nodes = Seq(
      (1L, "Person", Some(1850L), None, Nil),
      (2L, "Person", Some(1855L), None, Nil),
      (3L, "Person", Some(1700L), None, Nil)) // 150 years off
    val edges = Seq((1L, 2L), (1L, 3L))
    val unfiltered = operators.Graph
      .bfs(edgesDf(edges), Seq(1L).toDF("node"), 3)
      .select("node").as[Long].collect().toSet
    assert(unfiltered == Set(1L, 2L, 3L)) // the garbage-absorbing baseline
    assert(run(nodes, edges, 1L) == Set(1L, 2L))
  }

  test("death years are tested too; missing years pass (the bare except)") {
    val nodes = Seq(
      (1L, "Person", Some(1850L), Some(1920L), Seq.empty[Long]),
      (2L, "Person", Some(1850L), Some(1999L), Seq.empty[Long]), // died far
      (3L, "Person", None, None, Seq.empty[Long]))               // no dates
    assert(run(nodes, Seq((1L, 2L), (1L, 3L)), 1L) == Set(1L, 3L))
  }

  test("Groups test formation/dissolution years like Persons") {
    val nodes = Seq(
      (1L, "Group", Some(1900L), None, Seq.empty[Long]),
      (2L, "Group", Some(1980L), None, Seq.empty[Long]), // formed far
      (3L, "Group", Some(1905L), None, Seq.empty[Long]))
    assert(run(nodes, Seq((1L, 2L), (1L, 3L)), 1L) == Set(1L, 3L))
  }

  test("Person root absorbs a Place, but a Place root rejects a Person") {
    val nodes = Seq(
      (1L, "Person", None, None, Seq.empty[Long]),
      (2L, "Place", None, None, Seq.empty[Long]))
    assert(run(nodes, Seq((1L, 2L)), 1L) == Set(1L, 2L)) // asymmetric!
    val nodes2 = Seq(
      (1L, "Place", None, None, Seq.empty[Long]),
      (2L, "Person", None, None, Seq.empty[Long]),
      (3L, "Place", None, None, Seq.empty[Long]))
    assert(run(nodes2, Seq((1L, 2L), (1L, 3L)), 1L) == Set(1L, 3L))
  }

  test("concept subtypes never cross-merge; same subtype is fine") {
    val nodes = Seq(
      (1L, "Language", None, None, Seq.empty[Long]),
      (2L, "Material", None, None, Seq.empty[Long]),
      (3L, "Language", None, None, Seq.empty[Long]),
      (4L, "Type", None, None, Seq.empty[Long])) // Type is NOT a guarded subtype
    assert(run(nodes, Seq((1L, 2L), (1L, 3L), (1L, 4L)), 1L) == Set(1L, 3L, 4L))
  }

  test("cycle guard: accepted→candidate containment blocks, root does not") {
    // 2 is accepted at dist 1; 3 part_of 2 → blocked. 4 part_of the ROOT
    // (1) is NOT blocked — equiv_recs never holds the root (collector.py:92)
    val nodes = Seq(
      (1L, "Person", None, None, Seq.empty[Long]),
      (2L, "Person", None, None, Seq.empty[Long]),
      (3L, "Person", None, None, Seq(2L)),
      (4L, "Person", None, None, Seq(1L)))
    assert(run(nodes, Seq((1L, 2L), (2L, 3L), (2L, 4L)), 1L) == Set(1L, 2L, 4L))
  }

  test("cycle guard: accepted node pointing AT the candidate also blocks") {
    val nodes = Seq(
      (1L, "Person", None, None, Seq.empty[Long]),
      (2L, "Person", None, None, Seq(3L)), // accepted first, refs 3
      (3L, "Person", None, None, Seq.empty[Long]))
    assert(run(nodes, Seq((1L, 2L), (2L, 3L)), 1L) == Set(1L, 2L))
  }

  test("prefix fanout cap drops all entries of a >2 prefix, non-seed only") {
    // seed expands 4 same-prefix dsts uncapped (base equivalents are
    // not capped, collector.py:131); the same fanout from a non-seed
    // node is dropped wholesale
    val nodes = (1L to 9L).map(i => (i, "Person", None, None, Seq.empty[Long]))
    val seedFan = Seq((1L, 101L), (1L, 102L), (1L, 103L), (1L, 104L))
      .map { case (s, d) => (s, d % 100) } // dsts 1..4 share prefix 0
    assert(run(nodes, seedFan, 1L) == Set(1L, 2L, 3L, 4L))
    // via an intermediate: 1 -> 2, then 2 fans to 3,4,5 (prefix 0, >2) + 901
    val nodes2 = nodes ++ Seq((901L, "Person", None, None, Seq.empty[Long]))
    val edges2 = Seq((1L, 2L), (2L, 3L), (2L, 4L), (2L, 5L), (2L, 901L))
    assert(run(nodes2, edges2, 1L) == Set(1L, 2L, 901L))
  }

  test("two seeds: a seed reached by another crawl is capped there, " +
      "uncapped in its own") {
    import spark.implicits._
    // seed 1 reaches seed 2 at depth 1; 2 fans out to 11, 12, 13, one
    // prefix (0) with > 2 entries
    val nodes = Seq(1L, 2L, 11L, 12L, 13L)
      .map(i => (i, "Person", Option.empty[Long], Option.empty[Long], Seq.empty[Long]))
    val edges = Seq((1L, 2L), (2L, 11L), (2L, 12L), (2L, 13L))
    val got = Collector.collect(nodesDf(nodes), edgesDf(edges),
        Seq(1L, 2L).toDF("node"), 3, d => (d / 100L).cast("long"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 0), (1L, 2L, 1), // non-seed 2: capped
      (2L, 2L, 0), (2L, 11L, 1), (2L, 12L, 1), (2L, 13L, 1))) // seed 2: not
  }

  test("candidates without a node row (acquirer miss) are dropped") {
    val nodes = Seq((1L, "Person", None, None, Seq.empty[Long]))
    assert(run(nodes, Seq((1L, 99L)), 1L) == Set(1L))
  }
}
