package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The memo and fixture-directory lifecycle (Fixtures): one build per
  * (session, tag, key) under concurrency, eviction, the persisted
  * re-arm after clearCache, the cross-JVM on-disk publish, and the
  * temp-dir sweep. */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs `body` on `n` threads released together; returns the results. */
  private def race[A](n: Int)(body: => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to n).map(_ => Future { go.await(); body })
      go.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  private def unique(name: String) = s"${name}_${System.nanoTime}"

  test("8 threads racing a first once call build exactly once") {
    val tag = unique("race")
    val builds = new AtomicInteger
    val got = race(8) {
      Fixtures.once(spark, tag, "k") {
        builds.incrementAndGet()
        Thread.sleep(50)
        new Object
      }
    }
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head))
    Fixtures.evict(spark, tag)
  }

  test("evict drops one (tag, key), unpersists its frames, keeps other tags") {
    val (a, b) = (unique("evictA"), unique("evictB"))
    val Seq(fa) = Fixtures.persisted(spark, a, "k")(Seq(spark.range(17).toDF()))
    val Seq(fb) = Fixtures.persisted(spark, b, "k")(Seq(spark.range(19).toDF()))
    assert(fa.storageLevel !== StorageLevel.NONE)
    Fixtures.evict(spark, a, Some("k"))
    assert(fa.storageLevel === StorageLevel.NONE)
    assert(fb.storageLevel !== StorageLevel.NONE, "another tag was evicted")
    assert(Fixtures.once[Seq[DataFrame]](spark, b, "k")(fail("armed tag rebuilt")) === Seq(fb))
    var rebuilt = false
    Fixtures.once(spark, a, "k") { rebuilt = true; Seq.empty }
    assert(rebuilt, "the evicted entry was still memoized")
    Fixtures.evict(spark, a); Fixtures.evict(spark, b)
  }

  test("after clearCache, persisted re-arms the day-0 frames") {
    def day0 = {
      val (idx, lab, out) = BuildChainQueries.day0State(spark, TestSpark.sf)
      Seq(idx, lab, out)
    }
    val first = day0
    assert(first.forall(_.storageLevel !== StorageLevel.NONE))
    spark.catalog.clearCache()
    assert(first.forall(_.storageLevel === StorageLevel.NONE))
    assert(day0.zip(first).forall { case (x, y) => x eq y }, "the memo was rebuilt")
    assert(first.forall(_.storageLevel !== StorageLevel.NONE), "not re-armed")
  }

  private def tmpRoot = new File(System.getProperty("java.io.tmpdir"))

  private def contents(d: File): Seq[String] =
    Option(d.listFiles()).toSeq.flatten.map(f => s"${f.getName}=${Files.readString(f.toPath)}").sorted

  private def writeOk(d: File): Unit =
    Files.writeString(new File(d, "data.txt").toPath, "ok"): Unit

  test("onDisk: two sf paths with equal row counts get distinct directories") {
    val tag = unique("paths")
    val x = Fixtures.onDisk(tag, "/data/a/sf0.01", "100")(writeOk)
    val y = Fixtures.onDisk(tag, "/data/b/sf0.01", "100")(writeOk)
    try {
      assert(x !== y)
      assert(Seq(x, y).forall(_.getName.startsWith(Fixtures.DiskPrefix)))
    } finally Seq(x, y).foreach(Fixtures.sweep)
  }

  test("onDisk: a killed writer's temp sibling is never read as the fixture") {
    val tag = unique("killed")
    val partial = new File(tmpRoot, s"graft_partial_${tag}_1")
    partial.mkdirs()
    Files.writeString(new File(partial, "data.txt").toPath, "half")
    // a writer that dies mid-write publishes nothing and leaves nothing
    intercept[IllegalStateException] {
      Fixtures.onDisk(tag, "/data/sf", "1") { d => writeOk(d); throw new IllegalStateException }
    }
    def ours = tmpRoot.listFiles().filter(_.getName.contains(tag)).toSeq
    assert(ours === Seq(partial))
    val fx = Fixtures.onDisk(tag, "/data/sf", "1")(writeOk)
    try {
      assert(fx != partial && fx.getName.startsWith(Fixtures.DiskPrefix))
      assert(contents(fx) === Seq("data.txt=ok"))
    } finally Seq(fx, partial).foreach(Fixtures.sweep)
  }

  test("onDisk: racing writers publish one complete copy; later calls never write") {
    val tag = unique("once")
    val got = race(4) {
      Fixtures.onDisk(tag, "/data/sf", "1") { d =>
        (1 to 20).foreach(i => Files.writeString(new File(d, s"f$i").toPath, s"$i"))
      }
    }
    val fx = got.head
    try {
      assert(got.forall(_ == fx))
      assert(contents(fx).size === 20)
      assert(Fixtures.onDisk(tag, "/data/sf", "1")(_ => fail("rewrote")) === fx)
      assert(tmpRoot.listFiles().count(_.getName.contains(tag)) === 1,
        "a losing writer's copy survived")
    } finally Fixtures.sweep(fx)
  }

  test("the tempDir sweep deletes a non-empty tree and never follows links") {
    val keep = Fixtures.tempDir("graft_fixtures_keep")
    writeOk(keep)
    val d = Fixtures.tempDir("graft_fixtures_sweep")
    new File(d, "a/b").mkdirs()
    writeOk(new File(d, "a/b"))
    writeOk(d)
    Files.createSymbolicLink(new File(d, "link").toPath, keep.toPath)
    Fixtures.sweep(d)
    assert(!d.exists())
    assert(contents(keep) === Seq("data.txt=ok"), "the sweep followed a link")
    Fixtures.sweep(keep)
  }
}
