package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a Spark query over the test tables and
  * (when SQL-expressible) the equivalent DuckDB oracle SQL.
  *
  * Determinism contract (driver hash-compares against DuckDB):
  *   - results are deterministic SETS (driver sorts before hashing);
  *   - float aggregates are quantized to integer units (cents etc.), summed
  *     exactly in BIGINT, and only then converted to double via a fixed
  *     formula — identical IEEE ops on identical integers are bit-exact on
  *     both engines regardless of partitioning / summation order;
  *   - every LIMIT/top-k carries a total order (unique tie-break column).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Queries {
  private val registry = scala.collection.mutable.LinkedHashMap[String, QueryDef]()

  private[graft] def register(q: QueryDef): Unit = {
    require(!registry.contains(q.name), s"duplicate query ${q.name}")
    registry(q.name) = q
  }

  /** All registration groups; referencing the objects forces their init. */
  private lazy val groups: Seq[QueryGroup] = Seq(
    RelationalQueries, TextQueries, DedupQueries, SimilarityQueries,
    GraphQueries, MergeQueries, LuxQueries, StreamQueries, SourceQueries,
    OpsQueries, ExportQueries, ScaleQueries, MapperQueries, PatchQueries,
    WdQueries, MlIndexQueries, CleanupQueries, IncrementalQueries,
    GeoQueries, BuildChainQueries, CurationQueries)

  lazy val all: Seq[QueryDef] = { groups.foreach(_.register()); registry.values.toSeq }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
  lazy val benchNames: Seq[String] = all.filter(_.bench).map(_.name)

  /** The keys a main runs, in `universe` order: all of `universe` when
    * nothing is requested, else the requested names. An unknown name or
    * an empty selection fails loudly, so a typo never reads as a green
    * run over nothing. `source` names the input in the error. */
  def select(universe: Seq[String], requested: Option[Seq[String]],
      source: String): Seq[String] = {
    val picked = requested.fold(universe) { names =>
      val unknown = names.filterNot(universe.toSet)
      require(unknown.isEmpty, s"$source: unknown names ${unknown.mkString(", ")}")
      universe.filter(names.toSet)
    }
    require(picked.nonEmpty, s"$source selects no queries")
    picked
  }

  /** [[select]] over a comma-separated list in env var `name`, if set. */
  def selectFromEnv(universe: Seq[String], name: String): Seq[String] =
    select(universe,
      sys.env.get(name).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq), name)
}

trait QueryGroup {
  /** Register this group's QueryDefs via Queries.register. */
  def register(): Unit
}
