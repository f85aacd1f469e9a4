package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class PolyHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression equals HOF char-fold on the ASCII corpus") {
    import spark.implicits._
    val d = Tables.load(spark, TestSpark.sf, "documents")
      .select(explode(TextQueries.tokensCol($"text")).as("w"))
    val diff = d.select(TextQueries.wordHash($"w").as("a"),
        PolyHashSpec.wordHashHof($"w").as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff === 0)
  }

  test("empty string hashes to 0; null propagates") {
    import spark.implicits._
    val r = Seq(("", false), (null.asInstanceOf[String], true)).toDF("s", "isnull")
      .select(TextQueries.wordHash($"s").as("h"), $"isnull")
      .collect()
    assert(r.find(!_.getBoolean(1)).get.getLong(0) === 0L)
    assert(r.find(_.getBoolean(1)).get.isNullAt(0))
  }

  test("matches scala reference implementation") {
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 2147483647L)
    val words = Seq("the", "spark", "a", "x" * 400)
    val got = words.toDF("w").select(TextQueries.wordHash($"w")).as[Long].collect()
    assert(got.toSeq === words.map(ref))
  }
}

object PolyHashSpec {

  /** The HOF char-fold reference the native `poly_hash` expression
    * (`TextQueries.wordHash`) is checked against. */
  def wordHashHof(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(transform(split(w, ""), c => ascii(c).cast("long")),
      lit(0L), (a, c) => (a * TextQueries.WordB + c) % TextQueries.HashP)
}
