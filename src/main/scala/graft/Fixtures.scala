package graft

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of session-memoized state and generated fixture
  * directories: every query that keeps a substrate, a written table or
  * a counter across invocations goes through here, so key, lock,
  * eviction, publish and cleanup are decided once.
  *
  * Session-scoped (die with the SparkContext):
  *   - [[once]]: build at most once per (session, tag, key), under one
  *     lock; one `onApplicationEnd` listener per session drops all of
  *     that session's entries, so a long-lived multi-session embedding
  *     does not pin dead sessions. [[evict]] drops one entry early.
  *   - [[persisted]]: `once` over DataFrames that are persisted (at
  *     `spark.sql.defaultCacheStorageLevel`, read when the frame is
  *     persisted) and built eagerly on first use, and again
  *     after an external `spark.catalog.clearCache()` (Bench's per-key
  *     cache lifecycle) — the memo keeps the frames, so re-armed blocks
  *     keep their layout. Both happen under the lock, so two concurrent
  *     first calls never persist the same frame twice. Once armed, a
  *     call is a map lookup plus a storage-level check and runs no job.
  *
  * Directories:
  *   - [[tempDir]]: a fresh directory under `java.io.tmpdir`, swept
  *     recursively at JVM exit.
  *   - [[onDisk]]: a generated source fixture that persists ACROSS JVMs
  *     under `java.io.tmpdir` (a 150k-file archive tree is not rebuilt
  *     per run). It is written into a temp sibling and published with
  *     one atomic rename, so a reader sees a complete fixture or none,
  *     and a killed writer's partial copy is never read. */
object Fixtures {

  /** Name prefix shared by every [[onDisk]] fixture directory — the only
    * entries a clean JVM leaves behind in `java.io.tmpdir`. */
  val DiskPrefix = "graft_fixture_"

  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Any]
  private val hooked = scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  def once[T](spark: SparkSession, tag: String, key: String)(build: => T): T =
    memo.getOrElse((spark, tag, key), synchronized {
      if (hooked.putIfAbsent(spark, ()).isEmpty)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
            memo.keys.filter(_._1 eq spark).foreach(memo.remove)
            hooked.remove(spark): Unit
          }
        })
      memo.getOrElseUpdate((spark, tag, key), build)
    }).asInstanceOf[T]

  def persisted(spark: SparkSession, tag: String, key: String)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    def unarmed(fs: Seq[DataFrame]) = fs.filter(_.storageLevel == StorageLevel.NONE)
    val frames = once(spark, tag, key)(build)
    // built eagerly: under AQE a cached plan's partitioning is visible to
    // the planner only once the cache is built
    if (unarmed(frames).nonEmpty)
      synchronized(unarmed(frames).foreach(_.persist().count()))
    frames
  }

  /** Drop the entry for `key` (every key of `tag` when None) and
    * unpersist the frames a [[persisted]] entry holds. */
  def evict(spark: SparkSession, tag: String, key: Option[String] = None): Unit =
    synchronized {
      for (k @ (s, t, d) <- memo.keys.toSeq
           if (s eq spark) && t == tag && key.forall(_ == d);
           v <- memo.remove(k)) v match {
        case frames: Seq[_] => frames.foreach {
          case df: Dataset[_] => df.unpersist()
          case _ => ()
        }
        case _ => ()
      }
    }

  private val temps = scala.collection.concurrent.TrieMap.empty[File, Unit]
  private lazy val exitSweep: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => temps.keys.foreach(sweep)))

  def tempDir(prefix: String): File = {
    exitSweep
    val d = Files.createTempDirectory(prefix).toFile
    temps.put(d, ())
    d
  }

  /** Recursive delete (links are removed, never followed); the exit hook
    * runs this on every [[tempDir]]. */
  private[graft] def sweep(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(sweep))
    f.delete(): Unit
  }

  /** The fixture directory for (tag, sf dir, gen), written by `write` on
    * first use in any JVM. Keyed by the sanitized sf path (equal-rowcount
    * sf dirs never collide) plus `gen` (the source's size and format
    * version, so a regenerated corpus or a changed writer rebuilds). */
  def onDisk(tag: String, dir: String, gen: String)(write: File => Unit): File = {
    val target = new File(System.getProperty("java.io.tmpdir"),
      s"$DiskPrefix${tag}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_$gen")
    if (!target.isDirectory) {
      val tmp = tempDir(s"graft_partial_${tag}_")
      try {
        write(tmp)
        Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: FileSystemException if target.isDirectory => () // lost a race
      } finally sweep(tmp) // a no-op once renamed
    }
    target
  }
}
