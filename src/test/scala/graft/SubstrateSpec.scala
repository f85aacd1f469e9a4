package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel

/** The engine's one cache-level knob (round-14 spill-sweep lesson):
  * every engine cache is a plain `persist()`, so Spark's
  * `spark.sql.defaultCacheStorageLevel` must reach the actual level of
  * a substrate, read at CALL time (a long-lived session can flip
  * profiles between jobs), with MEMORY_AND_DISK when it is unset. */
class SubstrateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Key = "spark.sql.defaultCacheStorageLevel"

  test("conf reaches the persisted storage level, read at call time") {
    // the lux substrate takes the Fixtures.persisted path; evict first
    // so this call persists its frames instead of reusing armed ones
    LuxQueries.evictSubstrate(spark)
    spark.conf.set(Key, "DISK_ONLY")
    try {
      val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
      assert(e.storageLevel === StorageLevel.DISK_ONLY)
      assert(t.storageLevel === StorageLevel.DISK_ONLY)
      // flip back mid-session: the rebuilt substrate follows
      LuxQueries.evictSubstrate(spark)
      spark.conf.unset(Key)
      val (e2, t2) = LuxQueries.substrate(spark, TestSpark.sf)
      assert(e2.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(t2.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally spark.conf.unset(Key)
  }

  test("an operator substrate runs under DISK_ONLY (g1 shape)") {
    // correctness must be level-independent: run connectedComponents
    // under the pressure profile and check the labeling
    spark.conf.set(Key, "DISK_ONLY")
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      val cc = operators.Graph.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
      assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset(Key)
  }

  test("a malformed level fails loudly, not as a silent default") {
    try assertThrows[IllegalArgumentException](spark.conf.set(Key, "MEMORY_AND_DSIK"))
    finally spark.conf.unset(Key)
  }
}
