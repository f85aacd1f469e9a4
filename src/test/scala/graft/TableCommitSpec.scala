package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TableCommit

/** The optimistic-commit protocol (sources/TableCommit): atomic
  * check-and-put manifest swaps must serialize concurrent writers
  * without locks — no lost updates, no duplicated versions — and the
  * deterministic u5 registry row proves the end-to-end oracle shape.
  * Here the protocol itself is hammered with REAL racing threads. */
class TableCommitSpec extends AnyFunSuite {

  private def freshDir(): String =
    Fixtures.tempDir("graft_commit_spec_").getPath

  test("empty table reads as version 0; first commit publishes v1") {
    val dir = freshDir()
    assert(TableCommit.readManifest(dir) === TableCommit.Manifest(0L, Nil))
    val (m, attempts) = TableCommit.commit(dir)(m => m.files :+ "f1")
    assert(m === TableCommit.Manifest(1L, Seq("f1")))
    assert(attempts === 1)
    assert(TableCommit.readManifest(dir) === m)
  }

  test("stale check-and-put loses; retry re-applies against the fresh base") {
    val dir = freshDir()
    val (v1, _) = TableCommit.commit(dir)(m => m.files :+ "base")
    // two writers read v1
    val baseA = TableCommit.readManifest(dir)
    val baseB = TableCommit.readManifest(dir)
    assert(TableCommit.tryCommit(dir, baseA, baseA.files :+ "a"))
    // B's put against the stale v1 must FAIL, not clobber A's v2
    assert(!TableCommit.tryCommit(dir, baseB, baseB.files :+ "b"))
    assert(TableCommit.readManifest(dir).files === Seq("base", "a"))
    // the retry loop lands v3 with the serialized union
    val (v3, attempts) = TableCommit.commit(dir)(m => m.files :+ "b")
    assert(v3.version === 3L)
    assert(v3.files === Seq("base", "a", "b"))
    assert(attempts === 1) // the loop read fresh; only u5 injects a race
    assert(v1.version === 1L)
  }

  test("stray manifest-suffixed files are ignored, not a crash") {
    val dir = freshDir()
    TableCommit.commit(dir)(m => m.files :+ "f1")
    // an operator's backup copy / a foreign tool's file must not take
    // down every read and commit of an otherwise healthy table
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "backup.manifest"), "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "v2-old.manifest"), "junk")
    assert(TableCommit.readManifest(dir) ===
      TableCommit.Manifest(1L, Seq("f1")))
    val (m2, _) = TableCommit.commit(dir)(m => m.files :+ "f2")
    assert(m2.version === 2L)
  }

  test("N racing threads, M commits each: all serialize, none lost") {
    val dir = freshDir()
    val threads = 8
    val per = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val attemptsTotal = new java.util.concurrent.atomic.AtomicLong()
    val futures = (0 until threads).map { t =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until per).foreach { i =>
          val (_, a) =
            TableCommit.commit(dir, maxAttempts = 1000)(m => m.files :+ s"t$t-$i")
          attemptsTotal.addAndGet(a.toLong): Unit
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    val fin = TableCommit.readManifest(dir)
    // every commit advanced the version exactly once (no lost updates,
    // no duplicated versions) and every writer's files all survive
    assert(fin.version === threads.toLong * per)
    assert(fin.files.size === threads * per)
    assert(fin.files.toSet ===
      (for (t <- 0 until threads; i <- 0 until per) yield s"t$t-$i").toSet)
    // contention actually happened (the race is real, not theater)
    assert(attemptsTotal.get() >= threads.toLong * per)
  }
}
