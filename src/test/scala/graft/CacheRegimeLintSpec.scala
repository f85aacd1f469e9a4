package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint pinning the engine's one cache-level knob: every
  * engine cache is a plain `.persist()`, which reads Spark's
  * `spark.sql.defaultCacheStorageLevel` at call time, so one key moves
  * every cache (a memory-pressure profile sets it to DISK_ONLY; see
  * operators/Substrate.scala for why). Two spellings are banned in main
  * sources:
  *   - an explicit level, `.persist(StorageLevel.X)`, which pins its
  *     cache outside the knob;
  *   - `.cache()`, which in Spark 4 is `persist()` and follows the knob
  *     too, but a second spelling hides caches from a `.persist()` grep
  *     and from their `unpersist()` review.
  */
class CacheRegimeLintSpec extends AnyFunSuite {

  private val root: Path = {
    // tests fork with cwd = repo root, but don't assume it
    val cand = Seq(Paths.get("src/main/scala/graft"),
      Paths.get(sys.props("user.dir"), "src/main/scala/graft"))
    cand.find(Files.isDirectory(_)).getOrElse(
      fail(s"cannot locate src/main/scala/graft from ${sys.props("user.dir")}"))
  }

  private def scalaSources: Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p =>
      p.toString.endsWith(".scala") && Files.isRegularFile(p)).toSeq
    finally s.close()
  }

  /** (file, line#, line) for every code occurrence of `pat`; comment
    * and scaladoc lines (prose mentioning the API) don't count. */
  private def hits(pat: String): Seq[(String, Int, String)] =
    scalaSources.flatMap { p =>
      val rel = root.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i)
            if line.contains(pat) &&
              !line.trim.startsWith("*") && !line.trim.startsWith("//") &&
              !line.trim.startsWith("/*") =>
          (rel, i + 1, line.trim)
      }
    }

  test("explicit-level .persist(arg) only at the Substrate routing point") {
    // the engine's routing point is Spark's own persist(): any argument
    // is a level that bypasses the knob, so none is allowed anywhere
    val withArg = "\\.persist\\(\\s*[^)\\s]".r
    val explicit = hits(".persist(").filter(h => withArg.findFirstIn(h._3).isDefined)
    assert(explicit.isEmpty,
      s"\nan explicit StorageLevel bypasses spark.sql.defaultCacheStorageLevel; " +
        s"use a plain .persist() instead:\n" +
        explicit.map { case (f, l, s) => s"  $f:$l  $s" }.mkString("\n"))
  }

  test(".cache() is banned in main sources") {
    val c = hits(".cache()")
    assert(c.isEmpty, "use .persist() (one spelling for every engine " +
      "cache), never .cache():\n" +
      c.map { case (f, l, s) => s"  $f:$l  $s" }.mkString("\n"))
  }
}
