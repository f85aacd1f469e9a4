package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Archive, Fetcher}

/** S8 fetcher + S2 zip-loader fixtures. */
class FetcherSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(ids: Seq[String], nm: Seq[(String, String)],
      transport: String => (Int, String)): Map[String, (String, String, Int)] = {
    import spark.implicits._
    Fetcher.fetchAll(ids.toDS(), id => s"u:$id", _ != "bad",
        nm.toDF("url", "resp"), transport)
      .collect().map(f => f.identifier -> (f.kind, f.url, f.status)).toMap
  }

  test("redirects re-template; short or numeric entries re-request") {
    val nm = Seq(
      "u:a" -> "longtarget", // redirect (len > 3)
      "u:b" -> "404",        // recorded failure: request anyway
      "u:c" -> "0",          // recorded network error: request anyway
      "u:d" -> "x")          // short junk: request as-is (len <= 3)
    val out = run(Seq("a", "b", "c", "d", "e", "bad"), nm,
      url => if (url == "u:longtarget") (200, "{}") else (200, "{}"))
    assert(out("a")._2 == "u:longtarget")
    assert(out("b")._2 == "u:b" && out("c")._2 == "u:c" && out("d")._2 == "u:d")
    assert(!out.contains("bad")) // validation drops it before templating
    assert(out.size == 5)
  }

  test("non-200 responses surface as networkmap updates") {
    val out = run(Seq("a", "b"), Nil,
      url => if (url == "u:a") (500, null) else (200, """{"x":1}"""))
    assert(out("a") == (("err", "u:a", 500)))
    assert(out("b")._1 == "ok")
  }

  test("zip loader: per-archive unzip with the loadDir skip rules") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Fixtures.tempDir("graft_zip_spec")
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "d.zip")))
    def entry(name: String, body: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(body.getBytes("UTF-8")); zout.closeEntry()
    }
    entry("t/a/1.json", """{"id": 1, "pad": "xxxxxxxxxxxxxxxxxxxxx"}""")
    entry("t/a/2.json", "{}") // deleted
    entry("t/a/readme.txt", "ignored")
    entry("noslash.json", "ignored: no directory component")
    zout.close()
    val schema = StructType(Seq(StructField("id", LongType)))
    val out = Archive.loadZips(spark, dir.getAbsolutePath, schema)
      .select($"ident", $"data.id").as[(String, Long)].collect().toMap
    assert(out == Map("t/a/1.json" -> 1L))
  }

  test("zip loader: corrupt archives quarantine, salvaging streamed entries") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Fixtures.tempDir("graft_zipq_spec")
    def zipBytes(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zout = new java.util.zip.ZipOutputStream(bos)
      for ((n, b) <- entries) {
        zout.putNextEntry(new java.util.zip.ZipEntry(n))
        zout.write(b.getBytes("UTF-8")); zout.closeEntry()
      }
      zout.close()
      bos.toByteArray
    }
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    val pad = "x" * 40
    put("good.zip", zipBytes("t/a/1.json" -> s"""{"id": 1, "pad": "$pad"}"""))
    // truncated archive: entry 3 streams whole before the cut; entry 4's
    // deflate stream (incompressible body, ~240+ bytes) is cut mid-data
    val r = new scala.util.Random(7)
    val bigPad = Array.fill(400)(('a' + r.nextInt(26)).toChar).mkString
    val full = zipBytes(
      "t/a/3.json" -> s"""{"id": 3, "pad": "$pad"}""",
      "t/a/4.json" -> s"""{"id": 4, "pad": "$bigPad"}""")
    put("trunc.zip", full.take(full.length - 200))
    put("garbage.zip",
      "this is not a zip archive at all, not even a little".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val before = graft.sources.Quarantine.value(spark, "zip_archives")
    val out = Archive.loadZips(spark, dir.getAbsolutePath, schema)
      .select($"ident", $"data.id").as[(String, Long)].collect().toMap
    assert(out == Map("t/a/1.json" -> 1L, "t/a/3.json" -> 3L))
    assert(graft.sources.Quarantine.value(spark, "zip_archives") - before === 2L)
  }

  test("zip loader: a bomb entry quarantines its archive at the byte cap") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Fixtures.tempDir("graft_zipb_spec")
    val pad = "x" * 40
    def entry(zout: java.util.zip.ZipOutputStream, n: String, b: Array[Byte]): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(n)); zout.write(b); zout.closeEntry()
    }
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    // entry 5 streams whole before the bomb; entry 6 is 1 MB of zeros
    // (compresses ~1000x — the readAllBytes shape would inflate it all)
    entry(zout, "t/a/5.json", s"""{"id": 5, "pad": "$pad"}""".getBytes("UTF-8"))
    entry(zout, "t/a/6.json", new Array[Byte](1 << 20))
    zout.close()
    java.nio.file.Files.write(new java.io.File(dir, "bomb.zip").toPath, bos.toByteArray)
    val schema = StructType(Seq(StructField("id", LongType)))
    val before = graft.sources.Quarantine.value(spark, "zip_archives")
    val out = Archive.loadZips(spark, dir.getAbsolutePath, schema,
        maxEntryBytes = 64 * 1024)
      .select($"ident", $"data.id").as[(String, Long)].collect().toMap
    assert(out == Map("t/a/5.json" -> 5L)) // salvaged; bomb archive counted
    assert(graft.sources.Quarantine.value(spark, "zip_archives") - before === 1L)
  }
}
