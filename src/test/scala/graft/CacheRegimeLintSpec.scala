package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint pinning the round-16 cache regime (operators/
  * Substrate.scala): every cache of a CORPUS-SHAPED table must route
  * through `.persistSubstrate()` so `spark.graft.substrateStorageLevel`
  * (falling back to `spark.sql.defaultCacheStorageLevel`) governs it.
  * A bare `.persist()` is allowed only where the cached table is
  * provably NOT corpus-shaped:
  *   - streaming/StreamingOps.scala — per-micro-batch deltas, bounded
  *     by batch size regardless of corpus size;
  *   - operators/JoinPlanner.scala — O(1) sketch grids (fixed cell
  *     count, never grows with the data).
  * `.cache()` (always MEMORY_AND_DISK, ignores every knob) is banned
  * outright, and so is an explicit-level `.persist(StorageLevel.X)`
  * anywhere but operators/Substrate.scala (the regime's single routing
  * point) — an explicit level is precisely the bypass this spec exists
  * to block. A new persist anywhere else fails here with the routing
  * instruction, so the regime can't erode one convenience cache at a
  * time.
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

  private val allowedBarePersist = Set(
    "streaming/StreamingOps.scala", // per-batch deltas (batch-bounded)
    "operators/JoinPlanner.scala")  // O(1) sketch grids

  // explicit-level .persist(StorageLevel.X) is the regime bypass; only
  // the regime's own routing point may use it
  private val allowedExplicitPersist = Set("operators/Substrate.scala")

  test("bare .persist() appears only at provably-bounded whitelisted sites") {
    val bare = hits(".persist()")
    val offenders = bare.filterNot { case (f, _, _) => allowedBarePersist(f) }
    assert(offenders.isEmpty,
      s"\ncorpus-shaped caches must use .persistSubstrate() " +
        s"(operators/Substrate.scala) so the pressure knob reaches them; " +
        s"bare .persist() found at:\n" +
        offenders.map { case (f, l, s) => s"  $f:$l  $s" }.mkString("\n"))
    // the whitelist must not outlive its sites: every allowed file
    // still has at least one bare persist, else the entry is stale
    val live = bare.map(_._1).toSet
    val stale = allowedBarePersist -- live
    assert(stale.isEmpty, s"stale whitelist entries (no bare persist left): $stale")
  }

  test("explicit-level .persist(arg) only at the Substrate routing point") {
    // ".persist(" does NOT match ".persistSubstrate(" (next char is 'S');
    // bare ".persist()" is covered by the test above, so exclude it here
    val explicit = hits(".persist(").filterNot(_._3.contains(".persist()"))
    val offenders = explicit.filterNot { case (f, _, _) => allowedExplicitPersist(f) }
    assert(offenders.isEmpty,
      s"\nan explicit StorageLevel bypasses spark.graft.substrateStorageLevel; " +
        s"route through .persistSubstrate() instead:\n" +
        offenders.map { case (f, l, s) => s"  $f:$l  $s" }.mkString("\n"))
    val live = explicit.map(_._1).toSet
    val stale = allowedExplicitPersist -- live
    assert(stale.isEmpty, s"stale whitelist entries: $stale")
  }

  test(".cache() is banned in main sources") {
    val c = hits(".cache()")
    assert(c.isEmpty, "use .persistSubstrate() (knob-governed), never " +
      ".cache():\n" + c.map { case (f, l, s) => s"  $f:$l  $s" }.mkString("\n"))
  }

  test("the substrate regime is actually in use (routing not deleted)") {
    assert(hits(".persistSubstrate()").size >= 80,
      "expected the round-16 routing (~90 sites) to still be in place")
  }
}
