package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Archive, Pmh}
import graft.sources.Pmh.{Header, Harvested}

/** S7 harvester + S4 archive-loader fixtures. */
class HarvestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pages(ps: Seq[Header]*): Pmh.PageSource = new Pmh.PageSource {
    def fetch(token: Option[String]) = {
      val i = token.map(_.toInt).getOrElse(0)
      (ps(i), if (i + 1 < ps.size) Some((i + 1).toString) else None)
    }
  }

  test("a page stops yielding at the first old header, pagination continues") {
    // page 1 has an old header mid-page; page 2 still gets harvested
    // (harvester.py:76-90 return-in-generator + :97-108 token loop)
    val src = pages(
      Seq(Header("a", "2024-05"), Header("b", "2024-01"), Header("c", "2024-06")),
      Seq(Header("d", "2024-07")))
    assert(Pmh.crawl(src, "2024-03").map(_.ident) == Seq("a", "d"))
  }

  test("a repeated resumption token stops the walk instead of looping") {
    val loop = new Pmh.PageSource {
      def fetch(token: Option[String]) =
        (Seq(Header(s"p${token.getOrElse("-")}", "2024-05")), Some("same"))
    }
    // page for None, page for "same", then the repeated token stops it
    assert(Pmh.crawl(loop, "2024-01").map(_.ident) == Seq("p-", "psame"))
  }

  test("a token cycle of length > 1 (A -> B -> A) also stops the walk") {
    val cycle = new Pmh.PageSource {
      def fetch(token: Option[String]) = token match {
        case None      => (Seq(Header("p0", "2024-05")), Some("A"))
        case Some("A") => (Seq(Header("pA", "2024-05")), Some("B"))
        case Some("B") => (Seq(Header("pB", "2024-05")), Some("A")) // cycles back
        case other     => fail(s"unexpected token $other")
      }
    }
    // pages None, A, B harvested; the second "A" is seen and stops it
    assert(Pmh.crawl(cycle, "2024-01").map(_.ident) == Seq("p0", "pA", "pB"))
  }

  test("everything is an update; empty feed and all-old pages are fine") {
    val src = pages(Seq(Header("a", "2024-05")))
    assert(Pmh.crawl(src, "2024-01") ==
      Seq(Harvested("update", "a", "2024-05")))
    assert(Pmh.crawl(pages(Seq.empty[Header]), "2024-01").isEmpty)
    assert(Pmh.crawl(src, "2025-01").isEmpty)
  }

  test("archive loader: path idents, short-body skip, cache-through, parse") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Fixtures.tempDir("graft_arch_spec")
    def write(rel: String, body: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, body)
    }
    write("person/ab/one.json", """{"id": 1, "pad": "xxxxxxxxxxxxxxxxxxx"}""")
    write("person/ab/two.json", """{"id": 2, "pad": "xxxxxxxxxxxxxxxxxxx"}""")
    write("person/cd/three.json", "{}") // deleted: short body
    write("person/cd/notes.txt", "not json, ignored")
    write("group/ef/four.json", """{"id": 4, "pad": "xxxxxxxxxxxxxxxxxxx"}""")
    val schema = StructType(Seq(StructField("id", LongType)))
    val cached = Seq("person/ab/two.json").toDF("ident")
    val out = Archive.loadDir(spark, dir.getAbsolutePath, schema, Some(cached))
      .select($"ident", $"data.id").as[(String, Long)].collect().toMap
    assert(out == Map("person/ab/one.json" -> 1L, "group/ef/four.json" -> 4L))
  }

  test("harvested headers become a Dataset for the downstream stages") {
    val ds = Pmh.toDataset(spark, Seq(Harvested("update", "x", "2024-01")))
    assert(ds.count() == 1)
  }

  // ------------------------------------------------ S6 AS stream walk
  import graft.sources.AsStream
  import graft.sources.AsStream.AsItem

  private def asSrc(ps: Seq[Seq[AsItem]],
      selfLoop: Boolean = false): AsStream.PageSource =
    new AsStream.PageSource {
      def lastPage = if (ps.isEmpty) None else Some((ps.size - 1).toString)
      def page(id: String) = {
        val i = id.toInt
        val prev = if (selfLoop && i == 0) Some("0")
          else if (i > 0) Some((i - 1).toString) else None
        (ps(i), prev)
      }
    }

  test("AS walk: newest occurrence wins; a delete shadows older changes") {
    val ns = "http://n/"
    val items = Seq( // stream order: oldest first
      AsItem("update", s"${ns}a", "T1"),
      AsItem("update", s"${ns}b", "T2"),
      AsItem("delete", s"${ns}a", "T3"),
      AsItem("create", s"${ns}b", "T4"))
    val out = AsStream.crawl(asSrc(Seq(items)), ns, "T0")
    // processing is newest->oldest: b@T4 create wins, a@T3 delete wins,
    // the older a/b rows are seen-skipped; delete datestamp is empty
    assert(out == Seq(
      AsStream.Harvested("create", "b", "T4"),
      AsStream.Harvested("delete", "a", "")))
  }

  test("AS walk: an old item stops the whole stream, not just its page") {
    val ns = "http://n/"
    val p0 = Seq(AsItem("update", s"${ns}x", "T1")) // older page: never reached
    val p1 = Seq(AsItem("update", s"${ns}y", "T2"),
      AsItem("update", s"${ns}z", "T9"))
    val out = AsStream.crawl(asSrc(Seq(p0, p1)), ns, "T5")
    assert(out.map(_.ident) == Seq("z")) // y@T2 < T5 kills the crawl
  }

  test("AS walk: refresh stops; bogus types become updates; scheme smush") {
    val ns = "http://n/"
    val items = Seq(
      AsItem("refresh", s"${ns}r", "T2"),
      AsItem("Whatever", "https://n/w", "T3")) // https -> http namespace
    val out = AsStream.crawl(asSrc(Seq(items)), ns, "T0")
    assert(out == Seq(AsStream.Harvested("update", "w", "T3")))
  }

  test("AS walk: harvest_from window skips too-new items; self-loop guard") {
    val ns = "http://n/"
    val items = Seq(AsItem("update", s"${ns}a", "T1"),
      AsItem("update", s"${ns}b", "T9"))
    val out = AsStream.crawl(asSrc(Seq(items), selfLoop = true), ns, "T0",
      harvestFrom = Some("T5"))
    assert(out == Seq(AsStream.Harvested("update", "a", "T1"))) // b too new
  }

  test("AS walk: a prev cycle of length > 1 (A -> B -> A) stops the walk") {
    // the reference only guards prev == self; a corrupt feed whose prev
    // links cycle through more than one page would loop the driver
    // forever without the visited-page set (same guard as Pmh tokens)
    val ns = "http://n/"
    val cycle = new AsStream.PageSource {
      def lastPage = Some("A")
      def page(id: String) = id match {
        case "A" => (Seq(AsItem("update", s"${ns}a", "T5")), Some("B"))
        case "B" => (Seq(AsItem("update", s"${ns}b", "T4")), Some("A"))
        case other => fail(s"unexpected page $other")
      }
    }
    val out = AsStream.crawl(cycle, ns, "T0")
    assert(out.map(_.ident) == Seq("a", "b")) // both pages once, then stop
  }
}
