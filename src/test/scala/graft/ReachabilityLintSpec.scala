package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint: engine code that no registered query reaches is
  * registered or deleted, not kept. Every top-level `object` and every
  * `def` that is neither `override` nor `private` in main sources must
  * be named in main-source code besides its own declaration. A
  * test-only reference belongs in the spec that uses it (as
  * `ReconcileSpec.fixpoint` and `PolyHashSpec.wordHashHof` do).
  *
  * Only code counts: comments and the text of string literals (the
  * oracle SQL, messages) are blanked by [[ReachabilityLintSpec.codeOf]],
  * while code inside an interpolation (`${f(x)}`, `$name`) stays, since
  * it runs. A use in the declaring file counts, because most query defs
  * are reached only through their own file's `register`. The check is
  * by name, so it is lenient where names repeat (a reference to any
  * same-named def counts, and so does a recursive self-call) and strict
  * where a name appears only at its declarations. Overrides are reached
  * through their supertype (the listener callbacks, Expression and
  * Aggregator members). The exceptions are [[allowed]], each with its
  * reason.
  */
class ReachabilityLintSpec extends AnyFunSuite {
  import ReachabilityLintSpec.{Decl, codeOf}

  /** Names declared in main sources that nothing in main sources names. */
  private val allowed: Map[String, String] = Map(
    "main" -> "JVM entry point: runMain starts it, and an object declaring it is reached through it",
    "register" -> "QueryGroup entry point: Queries calls it on every group",
    "entry" -> "driver contract: the external harness calls SparkEntry.entry (SmokeSpec pins it)",
    "evictSubstrate" -> "test hook: four specs drop the LuxQL substrate cache with it")

  private val root: Path = {
    // tests fork with cwd = repo root, but don't assume it
    val cand = Seq(Paths.get("src/main/scala/graft"),
      Paths.get(sys.props("user.dir"), "src/main/scala/graft"))
    cand.find(Files.isDirectory(_)).getOrElse(
      fail(s"cannot locate src/main/scala/graft from ${sys.props("user.dir")}"))
  }

  /** (file, code lines with their 1-based numbers) per main source. */
  private lazy val sources: Seq[(String, Seq[(String, Int)])] = {
    val s = Files.walk(root)
    val paths = try s.iterator().asScala.filter(p =>
      p.toString.endsWith(".scala") && Files.isRegularFile(p)).toVector
    finally s.close()
    paths.map { p =>
      root.relativize(p).toString ->
        codeOf(Files.readString(p)).split("\n", -1).toSeq.zipWithIndex
          .map { case (line, i) => (line, i + 1) }
    }
  }

  private val DefDecl = """^\s*((?:\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r
  private val ObjectDecl = """^(?:case\s+)?object\s+([A-Za-z_]\w*)""".r
  private val Ident = """[A-Za-z_]\w*""".r

  private lazy val decls: Seq[Decl] = sources.flatMap { case (file, lines) =>
    lines.flatMap { case (l, n) =>
      val d = DefDecl.findPrefixMatchOf(l).collect {
        case m if !m.group(1).contains("override") && !m.group(1).contains("private") =>
          Decl("def", m.group(2), file, n)
      }
      val o = ObjectDecl.findPrefixMatchOf(l).map(m => Decl("object", m.group(1), file, n))
      d ++ o
    }
  }

  test("every public def and top-level object in src/main is named beyond its declaration") {
    val uses = sources.flatMap(_._2).flatMap { case (l, _) => Ident.findAllIn(l) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val declared = decls.groupMapReduce(_.name)(_ => 1)(_ + _)
    val entryFiles = decls.filter(d => d.kind == "def" && d.name == "main").map(_.file).toSet
    val orphans = decls.filter { d =>
      uses.getOrElse(d.name, 0) <= declared(d.name) && !allowed.contains(d.name) &&
        !(d.kind == "object" && entryFiles(d.file))
    }
    assert(orphans.isEmpty,
      "\nno main source names these; register them under a key, move a " +
        "test-only reference into its spec, or delete them:\n" +
        orphans.map(d => s"  ${d.file}:${d.line}  ${d.kind} ${d.name}").mkString("\n"))
  }

  test("every allowlisted name is still declared in src/main") {
    val stale = allowed.keySet -- decls.map(_.name).toSet
    assert(stale.isEmpty, s"allowlist names nothing declared: ${stale.mkString(", ")}")
  }

  test("codeOf blanks comments and literal text, keeps interpolated code") {
    val src = "val a = s\"x ${f(\"y\")} $g\" // h\n/* i /* j */ k */ val b = '\"'; c(\"\"\"l\n$m\"\"\")"
    val idents = Ident.findAllIn(codeOf(src)).toSeq
    assert(idents === Seq("val", "a", "s", "f", "g", "val", "b", "c"))
    assert(codeOf(src).count(_ == '\n') === 2)
  }
}

object ReachabilityLintSpec {
  private final case class Decl(kind: String, name: String, file: String, line: Int)

  /** `src` with comments and string-literal text blanked to spaces
    * (newlines kept, so line numbers hold). In an interpolated string
    * (an identifier right before the quote) the `${…}` blocks and
    * `$name` references are kept as code. */
  def codeOf(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def blank(): Unit = { out += (if (src(i) == '\n') '\n' else ' '); i += 1 }
    def keep(): Unit = { out += src(i); i += 1 }
    def identChar(j: Int) = j < src.length && (src(j).isLetterOrDigit || src(j) == '_')

    def comment(): Unit = { // nested /* … */
      var depth = 0
      while (i < src.length) {
        if (src.startsWith("/*", i)) { depth += 1; blank(); blank() }
        else if (src.startsWith("*/", i)) { depth -= 1; blank(); blank(); if (depth == 0) return }
        else blank()
      }
    }

    def string(interp: Boolean): Unit = {
      val q = if (src.startsWith("\"\"\"", i)) "\"\"\"" else "\""
      q.foreach(_ => blank())
      while (i < src.length && !src.startsWith(q, i)) {
        if (q == "\"" && src(i) == '\\' && i + 1 < src.length) { blank(); blank() }
        else if (interp && (src.startsWith("$$", i) || src.startsWith("$\"", i))) { blank(); blank() }
        else if (interp && src.startsWith("${", i)) { blank(); blank(); code(inInterp = true) }
        else if (interp && src(i) == '$' && identChar(i + 1)) {
          blank(); while (identChar(i)) keep()
        } else blank()
      }
      if (q.length == 3) while (src.startsWith("\"\"\"\"", i)) blank() // """" closes on the last three
      q.foreach(_ => if (i < src.length) blank())
    }

    // code up to the `}` closing an interpolation, or to the end
    def code(inInterp: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src(i)
        if (src.startsWith("//", i)) while (i < src.length && src(i) != '\n') blank()
        else if (src.startsWith("/*", i)) comment()
        else if (c == '"') string(interp = i > 0 && identChar(i - 1))
        else if (c == '\'' && i + 2 < src.length && src(i + 1) == '\\') { // '\'', '\n'
          blank(); blank(); blank()
          while (i < src.length && src(i) != '\'') blank()
          if (i < src.length) blank()
        } else if (c == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
          blank(); blank(); blank()
        } else if (c == '}' && inInterp && depth == 0) { blank(); return }
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          keep()
        }
      }
    }

    code(inInterp = false)
    out.toString
  }
}
