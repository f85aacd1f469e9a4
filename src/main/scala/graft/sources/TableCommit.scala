package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, FileAlreadyExistsException, StandardOpenOption}

/** The WRITE side of the manifest table format (s22 proves the read
  * side): optimistic-concurrency commits by atomic manifest
  * check-and-put — the protocol every log-structured table format
  * (Iceberg/Delta/Hudi) builds on. A table version is a numbered
  * manifest file listing the table's data files; committing means
  * writing your data files (invisible until referenced), then
  * publishing manifest version N+1 with CREATE_NEW — atomic on POSIX,
  * the if-none-match conditional put on an object store. If a
  * concurrent writer already published N+1, the put fails, the loser
  * re-reads the fresh manifest and RE-APPLIES its change against it:
  * commits serialize without locks, and a crash between data write and
  * manifest put leaks only unreferenced files (cleaned by compaction,
  * u4).
  *
  * Reference analog: the record cache's versioned swap discipline —
  * the reference serializes through Postgres; Spark-side at 100 TB the
  * coordination point must be one tiny conditional metadata write, not
  * a database. */
object TableCommit {

  final case class Manifest(version: Long, files: Seq[String])

  private def path(dir: String, version: Long) =
    Paths.get(dir, f"v$version%012d.manifest")

  /** Canonical manifest file names ONLY — a stray "backup.manifest"
    * an operator drops in the table dir must be ignored, not crash
    * every read and commit with a NumberFormatException. */
  private val ManifestName = "v(\\d{12})\\.manifest".r

  /** Highest published version (version 0 = empty table, no file). */
  def readManifest(dir: String): Manifest = {
    val d = new java.io.File(dir)
    val versions = Option(d.listFiles()).getOrElse(Array.empty)
      .map(_.getName).collect { case ManifestName(v) => v.toLong }
    if (versions.isEmpty) Manifest(0L, Nil)
    else {
      val v = versions.max
      val lines = Files.readAllLines(path(dir, v)).toArray(Array.empty[String])
      Manifest(v, lines.toSeq.filter(_.nonEmpty))
    }
  }

  /** Atomic check-and-put of version `base.version + 1`. False when a
    * concurrent writer got there first (the caller re-reads and
    * re-applies).
    *
    * NOT a bare CREATE_NEW write: creating-then-writing exposes a
    * window where a concurrent reader sees an empty/partial manifest —
    * and the next committer would re-apply against that truncated base,
    * silently dropping files. Instead the content is fully written to a
    * staging file first, then HARD-LINKED to the version name:
    * `link(2)` fails atomically when the target exists (the POSIX twin
    * of an object store's if-none-match put), and a linked manifest is
    * complete by construction. */
  def tryCommit(dir: String, base: Manifest, files: Seq[String]): Boolean = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Files.createTempFile(Paths.get(dir), ".staging-", ".tmp")
    try {
      Files.write(tmp, files.mkString("\n").getBytes(UTF_8),
        StandardOpenOption.TRUNCATE_EXISTING)
      Files.createLink(path(dir, base.version + 1), tmp)
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Optimistic commit loop: read → apply → check-and-put, re-applying
    * against the fresh manifest on every conflict. `apply` maps the
    * base manifest's file list to the complete NEW list (append = base
    * ++ own files) and must be safe to re-evaluate — exactly the
    * contract a table format's commit callback carries. Returns the
    * published manifest and the number of attempts (1 = no contention). */
  def commit(dir: String, maxAttempts: Int = 10)(
      apply: Manifest => Seq[String]): (Manifest, Int) = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val base = readManifest(dir)
      val files = apply(base)
      if (tryCommit(dir, base, files))
        return (Manifest(base.version + 1, files), attempts)
    }
    sys.error(s"commit to $dir failed after $maxAttempts attempts")
  }
}
