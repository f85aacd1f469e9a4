package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{LuxCatalog, LuxCompiler, LuxQL}
import LuxQL.{Ast, Bool, InvRel, Leaf, Rel}

/** Differential spec for `LuxCompiler.ids` and `ranked` membership:
  * random ASTs over a hand-built substrate, each result checked against
  * a plain set-semantics evaluator. The substrate has null names and
  * numbers, triple objects and subjects that are not entities, and
  * duplicate triples. The compiler folds the positive leaves of an AND,
  * and the leaves of an OR, into one row predicate, which is exact only while `id` is a
  * key of the entity table; the last test checks that contract on the
  * engine substrates that feed the compiler. */
class LuxCompileSpec extends AnyFunSuite {
  import LuxCompileSpec.Ent
  private lazy val spark = TestSpark.spark

  private val ents = Seq(
    Ent("e0", "a", "red blue", Some(5)),
    Ent("e1", "b", "blue green red", None),
    Ent("e2", "a", null, Some(3)),
    Ent("e3", "c", "Gold-red", None),
    Ent("e4", "b", "green", Some(0)),
    Ent("e5", "a", "red one two three four blue", Some(10)),
    Ent("e6", "c", null, Some(-2)),
    Ent("e7", "b", null, None),
    Ent("e8", "a", "gold BLUE green", None),
    Ent("e9", "c", "red", Some(12)))

  private val preds = Seq("p", "q")
  private val trips = Seq(
    ("e0", "p", "e1"), ("e0", "p", "e1"), ("e1", "p", "e2"), ("e2", "p", "x1"),
    ("e3", "q", "e0"), ("e4", "q", "x2"), ("x3", "p", "e5"), ("e5", "q", "e5"),
    ("e6", "p", "e9"), ("e7", "q", "e8"), ("e8", "p", "e3"), ("e9", "q", "e1"),
    ("e9", "p", "x1"), ("x3", "q", "x2"), ("e9", "q", "e1"))

  private lazy val compiler: LuxCompiler = {
    import spark.implicits._
    val e = ents.map(x => (x.id, x.etype, x.name, x.num))
      .toDF("id", "etype", "name", "num")
    val t = trips.toDF("subject", "predicate", "object")
    new LuxCompiler(e, t, LuxCatalog(Set("etype", "name", "num"), preds.toSet))
  }

  // ------------------------------------------------ reference evaluator

  private def tokens(name: String): Seq[String] =
    if (name == null) Nil else LuxCompiler.foldedWords(name)

  /** A leaf on one entity: None where SQL would say null. */
  private def truth(l: Leaf, e: Ent): Option[Boolean] = l match {
    case Leaf("id", "=", s, _, false, _, _) => Some(e.id == s.stripPrefix("urn:graft:"))
    case Leaf("etype", "=", s, _, false, _, _) => Some(e.etype == s)
    case Leaf("name", "=", s, _, false, _, _) =>
      Option(e.name).map(_ => tokens(e.name).contains(s))
    case Leaf("num", op, _, n, true, _, _) => e.num.map { v =>
      op match {
        case "=" => v == n
        case "<" => v < n
        case ">" => v > n
        case "<=" => v <= n
        case ">=" => v >= n
      }
    }
    case other => sys.error(s"no reference for $other")
  }

  private def near(e: Ent, a: String, b: String): Boolean = {
    val t = tokens(e.name).zipWithIndex
    val (pa, pb) = (t.filter(_._1 == a).map(_._2), t.filter(_._1 == b).map(_._2))
    pa.nonEmpty && pb.nonEmpty &&
      pa.flatMap(i => pb.map(j => math.abs(i - j))).min <= LuxCompiler.NearWindow
  }

  private def eval(q: Ast): Set[String] = q match {
    case l: Leaf => ents.filter(e => truth(l, e).contains(true)).map(_.id).toSet
    case Bool("AND", kids) =>
      val (nots, pos) = kids.partition {
        case Bool("NOT", _) => true
        case _ => false
      }
      val neg = nots.flatMap { case Bool(_, Seq(k)) => eval(k); case _ => Nil }
      pos.map(eval).reduce(_ intersect _) -- neg
    case Bool("OR", kids) => kids.map(eval).reduce(_ union _)
    case Bool("ANDNOT", Seq(a, b)) => eval(a) -- eval(b)
    case Bool("BOOST", Seq(main, _)) => eval(main)
    case Bool("NEAR", kids) =>
      val words = kids.collect { case Leaf("name", "=", w, _, false, _, _) => w }
      val base = eval(Bool("AND", kids))
      if (words.size < 2) base
      else base.filter { id =>
        ents.find(_.id == id).exists(e =>
          words.combinations(2).forall { case Seq(a, b) => near(e, a, b) })
      }
    case Rel(p, sub) =>
      val s = eval(sub)
      trips.collect { case (subj, `p`, obj) if s(obj) => subj }.toSet
    case InvRel(p, sub) =>
      val s = eval(sub)
      trips.collect { case (subj, `p`, obj) if s(subj) => obj }.toSet
    case other => sys.error(s"no reference for $other")
  }

  // ------------------------------------------------ random ASTs

  private val words = Seq("red", "blue", "green", "gold", "purple")
  private val idVals = ents.map(_.id) ++ Seq("x1", "urn:graft:e3", "urn:graft:x2")

  private def leaf(r: scala.util.Random): Leaf = r.nextInt(4) match {
    case 0 => Leaf("id", "=", idVals(r.nextInt(idVals.size)), 0, isNum = false)
    case 1 => Leaf("name", "=", words(r.nextInt(words.size)), 0, isNum = false)
    case 2 => Leaf("etype", "=", Seq("a", "b", "c")(r.nextInt(3)), 0, isNum = false)
    case _ => Leaf("num", Seq("=", "<", ">", "<=", ">=")(r.nextInt(5)), "",
      r.nextInt(16) - 3, isNum = true)
  }

  private def ast(r: scala.util.Random, depth: Int): Ast =
    if (depth == 0 || r.nextInt(4) == 0) leaf(r)
    else {
      def kids(lo: Int, hi: Int) = Seq.fill(lo + r.nextInt(hi - lo + 1))(ast(r, depth - 1))
      // half the time a leaf: positive ones fold into the AND's entity scan
      def kid() = if (r.nextBoolean()) leaf(r) else ast(r, depth - 1)
      r.nextInt(10) match {
        case 0 | 1 | 2 | 3 =>
          val pos = Seq.fill(1 + r.nextInt(3))(kid())
          val nots = Seq.fill(r.nextInt(3))(Bool("NOT", Seq(kid())))
          Bool("AND", r.shuffle(pos ++ nots))
        case 4 => Bool("OR", kids(1, 3))
        case 5 => Bool("ANDNOT", kids(2, 2))
        case 6 =>
          val ws = Seq.fill(2)(Leaf("name", "=", words(r.nextInt(words.size)), 0,
            isNum = false))
          Bool("NEAR", r.shuffle(ws ++ kids(0, 1)))
        case 7 => Bool("BOOST", kids(2, 2))
        case 8 => Rel(preds(r.nextInt(2)), ast(r, depth - 1))
        case _ => InvRel(preds(r.nextInt(2)), ast(r, depth - 1))
      }
    }

  /** One boolean group over leaves and single hops: the shapes whose
    * leaves the compiler folds into one entity scan. Nested queries
    * mostly come out empty, so these carry the folding's null and
    * non-entity cases to the result. */
  private def flat(r: scala.util.Random): Ast = {
    def part(): Ast = if (r.nextInt(4) > 0) leaf(r) else {
      val p = preds(r.nextInt(2))
      if (r.nextBoolean()) Rel(p, leaf(r)) else InvRel(p, leaf(r))
    }
    def parts() = Seq.fill(1 + r.nextInt(3))(part())
    if (r.nextInt(3) == 0) Bool("OR", parts())
    else Bool("AND", r.shuffle(parts() ++ Seq.fill(r.nextInt(3))(Bool("NOT", Seq(part())))))
  }

  /** Ids per query for a batch of queries, one action for the batch. */
  private def collectAll(dfs: Seq[DataFrame]): Map[Int, Seq[String]] = {
    val tagged = dfs.zipWithIndex.map { case (df, i) =>
      df.select(col("id"), lit(i).as("q"))
    }.reduce(_ unionByName _)
    tagged.collect().toSeq.groupBy(_.getInt(1)).map { case (i, rows) =>
      i -> rows.map(_.getString(0))
    }
  }

  private val queries: Seq[Ast] = {
    val r = new scala.util.Random(0x1C0DE)
    // single hops over the duplicate triples, whose ids must come out once
    val dupHops = Seq(Rel("p", Leaf("id", "=", "e1", 0, isNum = false)),
      InvRel("q", Leaf("id", "=", "e9", 0, isNum = false)))
    Seq.fill(40)(ast(r, 3)) ++ Seq.fill(40)(flat(r)) ++ dupHops
  }

  test("compiled id sets match the set-semantics reference, without duplicates") {
    for (batch <- queries.grouped(20)) {
      val got = collectAll(batch.map(compiler.ids))
      batch.zipWithIndex.foreach { case (q, i) =>
        val ids = got.getOrElse(i, Nil)
        assert(ids.distinct.size === ids.size, s"duplicate ids for $q: $ids")
        assert(ids.toSet === eval(q), s"for $q")
      }
    }
  }

  test("ranked membership matches the reference") {
    val r = new scala.util.Random(0xB0057)
    val boosts = Seq.fill(12)(Bool("BOOST", Seq(ast(r, 2),
      if (r.nextBoolean()) Leaf("name", "=", words(r.nextInt(words.size)), 0, isNum = false)
      else ast(r, 1))))
    val batch = boosts ++ queries.take(4)
    val got = collectAll(batch.map(compiler.ranked))
    batch.zipWithIndex.foreach { case (q, i) =>
      assert(got.getOrElse(i, Nil).toSet === eval(q), s"for $q")
    }
  }

  test("id is a key of every engine substrate that feeds the compiler") {
    // ids are minted per class from each table's primary key, so the
    // smallest corpus exercises the same code as any larger one
    val dir = TestSpark.sf
    def dupIds(df: DataFrame): Long =
      df.groupBy("id").count().filter(col("count") > 1).count()
    val (lux, _) = LuxQueries.substrate(spark, dir)
    try assert(dupIds(lux) === 0L, "LuxQueries.substrate")
    finally LuxQueries.evictSubstrate(spark, Some(dir))
    assert(dupIds(MlIndexQueries.facets(spark, dir)) === 0L, "MlIndexQueries.facets")
    val (similar, _) = OpsQueries.similarSubstrate(spark,
      Tables.load(spark, dir, "documents"))
    assert(dupIds(similar) === 0L, "OpsQueries.similarSubstrate")
  }
}

object LuxCompileSpec {
  private final case class Ent(id: String, etype: String, name: String,
      num: Option[Long])
}
