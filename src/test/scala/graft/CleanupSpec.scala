package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Periods
import graft.pipeline.Validator

/** M11 / M16 / K5 fixtures beyond the oracle's reach. */
class CleanupSpec extends AnyFunSuite {

  test("period parsing: qualifiers, BCE centuries, comma tails, garbage") {
    def b(s: String) = Periods.periodTimespan(s).map(_.begin)
    def e(s: String) = Periods.periodTimespan(s).map(_.end)
    assert(b("19th century").contains("1800-01-01T00:00:00"))
    assert(e("19th century").contains("1899-12-31T23:59:59"))
    assert(b("late 12th century").contains("1100-01-01T00:00:00"))
    assert(b("12th century - 15th century").contains("1100-01-01T00:00:00"))
    assert(e("12th century - 15th century").contains("1499-12-31T23:59:59"))
    // human BCE numbering -> ISO astronomical: 500 BCE is year -499
    assert(b("5th century BCE").contains("-0499-01-01T00:00:00"))
    assert(b("Five Hu and the Sixteen Kingdoms, 1304-1439")
      .contains("1304-01-01T00:00:00"))
    // the LAST comma splits ("Dynasty, Foo, 1304-1439")
    assert(b("Dynasty, Foo, 1304-1439").contains("1304-01-01T00:00:00"))
    assert(Periods.periodTimespan("The Gilded Whatever").isEmpty)
    assert(Periods.periodTimespan(null).isEmpty)
  }

  test("validator: multiple errors sort deterministically; subtypes share Type") {
    val errs = Validator.validate("Person", Seq("id", "zz_weird", "aa_weird"))
    assert(errs == Seq("missing:identified_by",
      "additional:aa_weird", "additional:zz_weird"))
    assert(Validator.validate("Currency", Seq("id", "identified_by", "broader")).isEmpty)
    assert(Validator.validate("", Seq("id")) == Seq("no_class"))
    // underscore exemption is switchable (validator.py underscore_okay)
    assert(Validator.validate("Person", Seq("id", "identified_by", "_x"),
      underscoreOkay = false) == Seq("additional:_x"))
  }

  test("K5 export writes real CSV the reader round-trips") {
    val spark = TestSpark.spark
    val df = CleanupQueries.indexCsv(spark, TestSpark.sf)
    val dir = Fixtures.tempDir("graft_k5").getPath
    df.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(df.schema).option("header", "true").csv(dir)
    assert(back.count() == df.count())
    assert(back.except(df).count() == 0)
  }
}
