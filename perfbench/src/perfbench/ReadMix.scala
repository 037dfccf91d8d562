package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.store.KeyedTable

/** Reads on a multi-commit, date-clustered `orders` table in a fixed
  * cycle: point lookups of 100 keys (`P`), a zone-prunable date-range
  * scan (`S`), a change-feed tail (`C`) and, once per cycle, a small
  * upsert (`W`) so reads run against a moving table. */
final class ReadMix(spark: SparkSession, in: String, seed: Long) extends Workload {
  private val Pattern = "PPSPPCPPPW"
  val cycle: Int = Pattern.length
  val warmupOps = 10
  val HotKeys = 200
  val KeysPerRead = 100
  val WriteRows = 50
  val ScanDays = 60

  private val input = spark.read.parquet(s"$in/orders.parquet")
  private val schema: StructType = input.schema
  private val baseRows: Array[Row] = input.collect().sortBy(_.getLong(0))
  private val n = baseRows.length
  private val hot: Array[Long] = {
    val r = new java.util.Random(seed)
    Array.fill(HotKeys)(1L + r.nextInt(n))
  }
  private val reads = new Reads(spark, schema)

  private var t: KeyedTable = _
  private var rows: Array[Row] = _

  def kindOf(i: Int): String = Pattern(i % cycle) match {
    case 'P' => "point"
    case 'S' => "scan"
    case 'C' => "cdf"
    case _ => "write"
  }

  def load(root: String): Unit = {
    rows = baseRows.clone()
    t = KeyedTable.create(spark, s"$root/orders", schema, Seq("o_orderkey"), numBuckets = 16)
    // two commits, then cluster by date so zone maps can skip files
    val part = pmod(col("o_orderkey"), lit(10))
    t.upsert(input.where(part < 8), uniqueKeys = true)
    t.upsert(input.where(part >= 8), uniqueKeys = true)
    t.optimize(Seq("o_orderdate"))
  }

  def roots: Seq[String] = Seq(t.path)
  def liveRows(): Long = n

  private var version = -1L
  private var keys: Seq[Long] = Nil
  private var range: (java.sql.Date, java.sql.Date) = _
  private var expScan: (Long, Double) = _
  private var writeRows: Seq[Row] = Nil

  def prepare(i: Int): Unit = {
    val r = new java.util.Random(seed * 7919L + i)
    version = t.latestVersion
    kindOf(i) match {
      case "point" =>
        // a fifth from the hot set, the rest uniform; ~1% miss
        keys = Seq.fill(KeysPerRead)(
          if (r.nextInt(5) == 0) hot(r.nextInt(HotKeys)) else 1L + r.nextInt(n + n / 100)).distinct
      case "scan" =>
        val d = r.nextInt(2400 - ScanDays)
        range = (java.sql.Date.valueOf(Reads.Day0.plusDays(d)),
          java.sql.Date.valueOf(Reads.Day0.plusDays(d + ScanDays)))
        expScan = Reads.expectedScan(rows, range._1, range._2)
      case "write" =>
        val statuses = Array("F", "O", "P")
        writeRows = Seq.fill(WriteRows)(1 + r.nextInt(n)).distinct.map { k =>
          val b = rows(k - 1)
          val row = Row(b.get(0), b.get(1), statuses(r.nextInt(3)),
            math.round(r.nextDouble() * 45000000.0 + 90000.0) / 100.0, b.get(4), b.get(5))
          rows(k - 1) = row
          row
        }
      case _ =>
    }
  }

  def op(i: Int, tr: Tracer): Long = kindOf(i) match {
    case "point" => reads.point(t, version, keys, tr, i)
    case "scan" => reads.scan(t, range._1, range._2, expScan, tr, i)
    case "cdf" => reads.cdf(t, version - 2, tr, i)
    case _ =>
      tr.span("orders.upsert", "store.merge", i, t.path) { s =>
        if (s != null) s.add("store.merge.rows_staged", writeRows.size)
        t.upsert(spark.createDataFrame(writeRows.asJava, schema), uniqueKeys = true)
      }
      writeRows.size
  }

  def check(): (Long, String) = reads.check(t)
}
