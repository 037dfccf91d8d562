package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Lineage]] pins: persist + InMemoryRelation-leaf plan truncation.
  * Released frames must still be READABLE (recompute, not fail),
  * release must free the cache entry of the ORIGINAL frame (not the
  * leaf view), and only a cache entry the pin created. */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def frame() =
    (1L to 1000L).toDF("id").withColumn("v", col("id") * 2)

  test("default pin: leaf plan, same data, release frees the cache") {
    val df = frame()
    val pinned = Lineage.pin(df)
    // the pinned frame's analyzed plan is a single cache leaf — the
    // whole point: downstream actions re-analyze O(1) nodes
    val leaves = pinned.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1)
    assert(leaves.head.getClass.getSimpleName == "InMemoryRelation")
    assert(pinned.count() == 1000L)
    assert(pinned.agg(sum("v")).head.getLong(0) == 1001000L)
    assert(df.storageLevel != StorageLevel.NONE, "original must be cached")
    Lineage.release(pinned)
    assert(df.storageLevel == StorageLevel.NONE,
      "release must unpersist the ORIGINAL frame's cache entry")
    // the r15 hazard: a post-release read must RECOMPUTE, not fail
    assert(pinned.count() == 1000L)
  }

  test("pin of a caller-persisted frame leaves the caller's cache alone") {
    val df = frame().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pinned = Lineage.pin(df)
      assert(pinned.count() == 1000L)
      Lineage.release(pinned)
      assert(df.storageLevel != StorageLevel.NONE,
        "release must not unpersist a cache entry the pin did not create")
    } finally df.unpersist()
  }

  test("double release is harmless") {
    val pinned = Lineage.pin(frame())
    assert(pinned.count() == 1000L)
    Lineage.release(pinned)
    Lineage.release(pinned)
  }
}
