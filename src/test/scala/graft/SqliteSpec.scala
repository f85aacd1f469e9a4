package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sqlite

/** S5 WOF loader: the self-contained sqlite page reader/writer
  * (`wof/fetcher.py:34-57` keeps WOF in a geojson(id, body) sqlite). */
class SqliteSpec extends AnyFunSuite {

  private def roundtrip(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
    val f = java.io.File.createTempFile("graft_sqlite", ".db")
    f.deleteOnExit()
    Sqlite.writeDb(f, "geojson", "CREATE TABLE geojson (id TEXT, body TEXT)",
      rows)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    Sqlite.scanTable(bytes, "geojson")
  }

  test("varint roundtrip") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L, 1L << 30)) {
      val b = Sqlite.varintBytes(v)
      assert(Sqlite.varint(b, 0) === ((v, b.length)))
    }
  }

  test("single-page table roundtrip") {
    val rows = Seq(
      Seq[Any]("85633041", """{"wof:name": "x"}"""),
      Seq[Any]("890424287", """{"wof:name": "y"}"""))
    assert(roundtrip(rows) === rows)
  }

  test("multi-page table walks the interior b-tree") {
    // ~100 bytes per row over 4096-byte pages: several leaves + interior
    val rows = (0 until 500).map(i =>
      Seq[Any](s"id$i", s"""{"wof:name": "${"x" * 60}$i"}"""))
    val got = roundtrip(rows)
    assert(got.length === 500)
    assert(got.toSet === rows.toSet)
  }

  test("writer builds MULTI-LEVEL interior trees when one root cannot hold the leaves") {
    // round-10 regression (found by the sf1 stress sweep): the writer
    // was single-interior-level, so >~300 leaves overflowed the root's
    // pointer array (Index 4762 out of bounds). ~38 rows/page × 30000
    // rows ≈ 790 leaves → two interior levels with fanout 200.
    val rows = (0 until 30000).map(i =>
      Seq[Any](s"id$i", s"""{"wof:name": "${"y" * 60}$i"}"""))
    val got = roundtrip(rows)
    assert(got.length === 30000)
    assert(got.take(3) === rows.take(3))
    assert(got.toSet === rows.toSet)
  }

  test("overflow payloads roundtrip (real WOF geojson bodies exceed a page)") {
    // bodies from just-over-inline to many chain pages, mixed with
    // small rows so inline and spilled cells coexist on the leaves;
    // deterministic content so a mis-stitched chain cannot pass
    def body(i: Int, n: Int): String =
      (0 until n).map(j => ('a' + (i * 31 + j * 7) % 26).toChar).mkString
    val sizes = Seq(10, 4062, 5000, 9000, 40000, 12, 100000, 4061)
    val rows = sizes.zipWithIndex.map { case (n, i) =>
      Seq[Any](i.toLong, body(i, n))
    }
    val f = java.io.File.createTempFile("graft_sqlite3", ".db")
    f.deleteOnExit()
    Sqlite.writeDb(f, "t", "CREATE TABLE t (k INTEGER, v TEXT)", rows)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val got = Sqlite.scanTable(bytes, "t")
    assert(got.map(_.head) === rows.map(_.head))
    assert(got.map(_(1)) === rows.map(_(1))) // full bodies, chain order
  }

  test("a corrupt overflow chain errors catchably (cycle and early end)") {
    val f = java.io.File.createTempFile("graft_sqlite4", ".db")
    f.deleteOnExit()
    Sqlite.writeDb(f, "t", "CREATE TABLE t (v TEXT)",
      Seq(Seq[Any]("y" * 9000))) // needs a 2+ page chain
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // the chain's first page is the first page after the b-tree (page 3:
    // 1 master + 1 leaf); point its next pointer back at itself
    val firstOvfl = 2 * Sqlite.PageSize
    val orig = bytes.clone()
    bytes(firstOvfl) = 0; bytes(firstOvfl + 1) = 0
    bytes(firstOvfl + 2) = 0; bytes(firstOvfl + 3) = 3 // self-cycle
    val e = intercept[RuntimeException](Sqlite.scanTable(bytes, "t"))
    assert(e.getMessage.contains("overflow chain"))
    // early end: next pointer 0 while payload still unfilled
    val cut = orig.clone()
    cut(firstOvfl) = 0; cut(firstOvfl + 1) = 0
    cut(firstOvfl + 2) = 0; cut(firstOvfl + 3) = 0
    val e2 = intercept[RuntimeException](Sqlite.scanTable(cut, "t"))
    assert(e2.getMessage.contains("overflow chain"))
    // past-the-file pointer (0x00100001 pages): (ovfl-1)*pageSize would
    // wrap an Int multiply back into range — the page bound must reject
    val far = orig.clone()
    far(firstOvfl) = 0; far(firstOvfl + 1) = 0x10
    far(firstOvfl + 2) = 0; far(firstOvfl + 3) = 1
    val e3 = intercept[RuntimeException](Sqlite.scanTable(far, "t"))
    assert(e3.getMessage.contains("overflow chain"))
  }

  test("page-size sentinel 1 decodes as 65536") {
    // craft a minimal header + page-1 leaf with zero cells so
    // scanTable walks an empty master at the 65536-byte page size
    val db = new Array[Byte](65536)
    System.arraycopy("SQLite format 3".getBytes("UTF-8"), 0, db, 0, 15)
    db(16) = 0; db(17) = 1 // sentinel: page size 65536
    db(100) = 13 // page-1 leaf header right after the 100-byte db header
    // ncells = 0 -> empty master -> table not found -> Nil (no crash)
    assert(Sqlite.scanTable(db, "t") === Nil)
  }

  test("unknown table yields no rows; long values decode") {
    val f = java.io.File.createTempFile("graft_sqlite2", ".db")
    f.deleteOnExit()
    Sqlite.writeDb(f, "t", "CREATE TABLE t (k INTEGER, v TEXT)",
      Seq(Seq[Any](42L, "a"), Seq[Any](-7L, "b")))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    assert(Sqlite.scanTable(bytes, "missing") === Nil)
    assert(Sqlite.scanTable(bytes, "t") ===
      Seq(Seq[Any](42L, "a"), Seq[Any](-7L, "b")))
  }

  test("a cyclic interior page errors instead of overflowing the stack") {
    // a corrupt db can make an interior page point into a cycle; the
    // walk must raise a catchable error (a StackOverflowError would
    // sail past the loader's NonFatal quarantine)
    val db = new Array[Byte](4096 * 2)
    val hdr = 4096 // page 2
    db(hdr) = 5 // interior table page, ncells 0
    db(hdr + 11) = 2 // rightmost pointer -> page 2 (itself)
    val e = intercept[RuntimeException](Sqlite.walkTable(db, 4096, 2))
    assert(e.getMessage.contains("cycle"))
  }

  test("loadTable quarantines corrupt dbs and keeps the healthy ones") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_sqlite_q")
    val rows = (0 until 20).map(i => Seq[Any](s"id$i", s"body-$i"))
    val ddl = "CREATE TABLE geojson (id TEXT, body TEXT)"
    Sqlite.writeDb(new java.io.File(dir, "good.db"), "geojson", ddl, rows)
    // corrupt 1: valid file header, page 1's b-tree header mangled
    // (page type 0x5a is no b-tree page — the walk must error, and the
    // loader must quarantine, not die)
    val badFile = new java.io.File(dir, "mangled.db")
    Sqlite.writeDb(badFile, "geojson", ddl, rows)
    val bytes = java.nio.file.Files.readAllBytes(badFile.toPath)
    java.util.Arrays.fill(bytes, 100, bytes.length, 0x5a.toByte)
    java.nio.file.Files.write(badFile.toPath, bytes)
    // corrupt 2: truncated mid-page-1
    java.nio.file.Files.write(new java.io.File(dir, "trunc.db").toPath,
      bytes.take(60))
    val before = graft.sources.Quarantine.value(spark, "sqlite_dbs")
    val got = Sqlite.loadTable(spark, dir.getAbsolutePath, "geojson")(r =>
        (r(0).asInstanceOf[String], r(1).asInstanceOf[String]))
      .collect().toMap
    assert(got === rows.map(r => r(0).toString -> r(1).toString).toMap)
    assert(graft.sources.Quarantine.value(spark, "sqlite_dbs") - before === 2L)
  }
}
