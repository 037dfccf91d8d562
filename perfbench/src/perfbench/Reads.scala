package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.store.KeyedTable

/** The read calls both read-carrying workloads make on an `orders`
  * table — point lookups, date-range scans and change-feed tails — and
  * the reference check for them. Each point read is kept with the
  * version it saw; each scan is compared with the expected state as it
  * returns. */
final class Reads(spark: SparkSession, schema: StructType) {
  import Reads.PointRead
  private val keySchema = new StructType().add("o_orderkey", "long")
  private val points = mutable.ArrayBuffer.empty[PointRead]
  private var scanFails = 0L
  private var scans = 0L

  def point(t: KeyedTable, version: Long, keys: Seq[Long], tr: Tracer, op: Int): Long = {
    val keysDf = spark.createDataFrame(keys.map(Row(_)).asJava, keySchema)
    val got = tr.span("orders.snapshotForKeys", "store.read.point", op) { s =>
      val res = t.snapshotForKeys(keysDf).collect().toSeq
      if (s != null) s.add("store.read.rows_out", res.size)
      res
    }
    points += PointRead(version, keys, got)
    got.size
  }

  /** Count and price sum of the orders dated in [from, until). */
  def scan(t: KeyedTable, from: java.sql.Date, until: java.sql.Date,
      expected: (Long, Double), tr: Tracer, op: Int): Long = {
    val (cnt, total) = tr.span("orders.snapshot.where", "store.read.scan", op) { s =>
      val row = t.snapshot()
        .where(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
        .agg(count(lit(1)), sum(col("o_totalprice"))).head()
      if (s != null) s.add("store.read.rows_out", row.getLong(0))
      (row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
    }
    scans += 1
    if (cnt != expected._1 || math.abs(total - expected._2) > 1e-6 * math.max(1.0, expected._2))
      scanFails += 1
    cnt
  }

  def cdf(t: KeyedTable, since: Long, tr: Tracer, op: Int): Long =
    tr.span("orders.changesSince", "store.cdf", op) { s =>
      val c = t.changesSince(since).count()
      if (s != null) s.add("store.cdf.rows", c)
      c
    }

  /** Every point read against `snapshot(version)` joined to its keys,
    * one join per version seen. Returns (failed reads, note). */
  def check(t: KeyedTable): (Long, String) = {
    var bad = 0L
    points.zipWithIndex.groupBy(_._1.version).foreach { case (v, rs) =>
      val ids = rs.toSeq.flatMap { case (pr, id) => pr.keys.map(k => Row(id, k)) }
      val idDf = spark.createDataFrame(ids.asJava,
        new StructType().add("__read", "int").add("o_orderkey", "long"))
      val exp = t.snapshot(v).join(idDf, "o_orderkey").collect()
        .groupBy(_.getAs[Int]("__read"))
        .map { case (id, xs) => id -> xs.map(r => schema.fieldNames.toSeq.map(r.getAs[Any])).toSet }
      rs.foreach { case (pr, id) =>
        val got = pr.got.map(_.toSeq).toSet
        if (pr.got.size != got.size || got != exp.getOrElse(id, Set.empty)) bad += 1
      }
    }
    (bad + scanFails,
      s"$bad of ${points.size} point reads and $scanFails of $scans scans differ from the reference")
  }
}

object Reads {
  private final case class PointRead(version: Long, keys: Seq[Long], got: Seq[Row])
  val Day0: java.time.LocalDate = java.time.LocalDate.of(1992, 1, 1)

  /** Expected (count, price sum) of live rows dated in [from, until). */
  def expectedScan(rows: Iterable[Row], from: java.sql.Date, until: java.sql.Date): (Long, Double) = {
    val hit = rows.filter { r =>
      r != null && { val d = r.getDate(4); !d.before(from) && d.before(until) } }
    (hit.size.toLong, hit.map(_.getDouble(3)).sum)
  }
}
