package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

import java.nio.file.Files

/** [[KeyedTable.snapshotForKeys]] collects the probe-key hash set
  * driver-side for file-granular pruning. That collect is CAPPED by
  * `spark.graft.pointRead.maxKeys` (default 1M, mirroring the join's
  * static-prune probe-row cap): past the cap the read keeps bucket-set
  * pruning (the bucket-id collect is modulus-bounded, never
  * key-bounded) and filters with a distributed semi-join instead of a
  * broadcast — a million-key probe or an unbudgeted first drain over a
  * giant delete backlog can no longer materialize an unbounded array
  * in the driver. */
class PointReadCapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("pcap").toString

  private def withCap[T](n: Int)(f: => T): T = {
    spark.conf.set("spark.graft.pointRead.maxKeys", n.toString)
    try f finally spark.conf.unset("spark.graft.pointRead.maxKeys")
  }

  test("past maxKeys the read falls back, with identical rows") {
    val t = tmp()
    val df = (1L to 5000L).map(i => (i, s"n$i")).toDF("id", "name")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"),
      numBuckets = 8)
    kt.upsert(df, uniqueKeys = true)
    val wanted = (1L to 200L by 2).toDF("id")
    val fast = kt.snapshotForKeys(wanted).orderBy("id").collect().toSeq
    assert(!PointReadDebug.lastCapped, "100 keys must stay hash-pruned")
    assert(fast.size == 100)
    val slow = withCap(16)(kt.snapshotForKeys(wanted).orderBy("id").collect().toSeq)
    assert(PointReadDebug.lastCapped, "101st hash must trip the cap")
    assert(PointReadDebug.lastProbeHashes == 17,
      "the probe collect is limit(max+1)-bounded, not key-bounded")
    assert(slow == fast, "fallback must return byte-identical rows")
  }

  test("capped fallback honors time-travel versions") {
    val t = tmp()
    val df = (1L to 1000L).map(i => (i, i * 2)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"),
      numBuckets = 4)
    kt.upsert(df, uniqueKeys = true) // v1
    kt.upsert((1L to 1000L).map(i => (i, i * 3)).toDF("id", "v"),
      uniqueKeys = true) // v2
    val wanted = (10L to 60L).toDF("id")
    val atV1 = kt.snapshotForKeys(wanted, version = 1L)
      .orderBy("id").collect().toSeq
    val capV1 = withCap(4)(kt.snapshotForKeys(wanted, version = 1L)
      .orderBy("id").collect().toSeq)
    assert(PointReadDebug.lastCapped)
    assert(capV1 == atV1, "capped time-travel read must match")
    assert(capV1.forall(r => r.getLong(1) == r.getLong(0) * 2))
  }

  test("NULL bucket-key rows are visible to point reads on both paths") {
    // a plain USING equi-join in the probe filter silently dropped
    // null-key rows; agg group keys over outer-join placeholders are
    // null, and the zero-group check deleted a LIVE null group because
    // its current count probe came back empty (seed-67 regression)
    val t = tmp()
    val df = Seq((Some("a"), 1L), (Some("b"), 2L), (None: Option[String], 3L))
      .toDF("k", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("k"),
      numBuckets = 4)
    kt.upsert(df, uniqueKeys = true)
    val probe = Seq(Some("a"), (None: Option[String])).toDF("k")
    val fast = kt.snapshotForKeys(probe)
    assert(fast.count() == 2, "null-key row must be returned")
    assert(fast.where(col("k").isNull && col("v") === 3L).count() == 1)
    val slow = withCap(1)(kt.snapshotForKeys(probe))
    assert(PointReadDebug.lastCapped)
    assert(slow.where(col("k").isNull && col("v") === 3L).count() == 1,
      "capped fallback must be null-safe too")
  }

  test("retraction path stays correct when every point read is capped") {
    import graft.streaming.Stream
    val root = tmp()
    val lDf = Seq((1L, 10L, 0L), (2L, 11L, 0L), (3L, 10L, 0L))
      .toDF("id", "lkey", "seq")
    val rDf = Seq((5L, 10L, "a", 0L), (6L, 11L, "b", 0L))
      .toDF("rid", "rkey", "name", "rseq")
    val lT = KeyedTable.create(spark, s"$root/l", lDf.schema, Seq("id"),
      seqCols = Seq("seq"), numBuckets = 4)
    val rT = KeyedTable.create(spark, s"$root/r", rDf.schema, Seq("rid"),
      seqCols = Seq("rseq"), numBuckets = 4)
    val pipe = Stream.fromKeyedTable(lT)
      .join(Stream.fromKeyedTable(rT).handleDeletes(), "left")
      .on((l, r) => l("lkey") === r("rkey"))
      .writeToPath(s"$root/out")
    withCap(1) {
      lT.upsert(lDf, uniqueKeys = true)
      rT.upsert(rDf, uniqueKeys = true)
      pipe.runIncremental()
      rT.delete(Seq(5L).toDF("rid"))
      pipe.runIncremental()
    }
    val snap = KeyedTable.forPath(spark, s"$root/out").snapshot()
    val want = lT.snapshot()
      .join(rT.snapshot(), col("lkey") === col("rkey"), "left")
    assert(snap.count() == 3)
    assert(snap.where(col("id").isin(1L, 3L) && col("rid").isNull).count() == 2,
      "deleted match must downgrade both lkey=10 rows under the cap")
    val cols = want.columns.sorted.toSeq
    assert(snap.select(cols.map(col): _*)
      .exceptAll(want.select(cols.map(col): _*)).count() == 0)
  }
}
