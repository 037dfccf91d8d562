package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.store.{KeyedTable, MergeSpec}
import graft.streaming.{Pipeline, Stream}

/** The paper's loop at trickle batch size. A cycle op moves a few
  * customers to another nation (the outer-join downgrade path), commits
  * one small change batch to `orders` (updates skewed to recent keys,
  * deletes and re-inserts of earlier deletes, some orders moved to
  * another customer) and drains `orders ⋈left customer → group by
  * (c_nationkey, o_orderstatus)` stage by stage. After each cycle a
  * read op looks up 100 orders, scans a date range and reads the
  * change-feed tail, as a consumer of the fresh data would. */
final class CdcTrickle(spark: SparkSession, in: String, seed: Long) extends Workload {
  private val Schedule = Seq("cycle", "read")
  val cycle: Int = Schedule.size
  val warmupOps = 1
  val Updates = 150
  val Deletes = 25
  val Reinserts = 25
  val CustomerMoves = 20

  private val ordersIn = spark.read.parquet(s"$in/orders.parquet")
  private val custIn = spark.read.parquet(s"$in/customer.parquet")
  private val oSchema: StructType = ordersIn.schema
  private val cSchema: StructType = custIn.schema
  private val ordersBase: Array[Row] = ordersIn.collect().sortBy(_.getLong(0))
  private val custBase: Array[Row] = custIn.collect().sortBy(_.getLong(0))
  private val n = ordersBase.length

  // the source state the tables should hold: index = key - 1
  private var orders: Array[Row] = _
  private var customers: Array[Row] = _
  private val deleted = mutable.LinkedHashSet.empty[Long]

  private var oT: KeyedTable = _
  private var cT: KeyedTable = _
  private var stageT: KeyedTable = _
  private var aggT: KeyedTable = _
  private var pipe: Pipeline = _
  private val reads = new Reads(spark, oSchema)

  private def df(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  def load(root: String): Unit = {
    orders = ordersBase.clone()
    customers = custBase.clone()
    deleted.clear()
    oT = KeyedTable.create(spark, s"$root/orders", oSchema, Seq("o_orderkey"), numBuckets = 16)
    cT = KeyedTable.create(spark, s"$root/customer", cSchema, Seq("c_custkey"), numBuckets = 8)
    pipe = Stream.fromKeyedTable(oT).handleDeletes()
      .join(Stream.fromKeyedTable(cT), "left")
      .on((l, r) => l("o_custkey") === r("c_custkey"))
      .groupByStaged(s"$root/stage", "c_nationkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total_price"))
      .writeToPath(s"$root/agg")
    oT.upsert(ordersIn, uniqueKeys = true)
    cT.upsert(custIn, uniqueKeys = true)
    pipe.handles.foreach(_.drainFn())
    stageT = KeyedTable.forPath(spark, s"$root/stage")
    aggT = KeyedTable.forPath(spark, s"$root/agg")
  }

  def roots: Seq[String] = Seq(oT.path, cT.path, stageT.path, aggT.path)
  def liveRows(): Long = orders.count(_ != null) + customers.length +
    stageT.snapshot().count() + aggT.snapshot().count()
  def kindOf(i: Int): String = Schedule(i % cycle)

  private var batch: DataFrame = _
  private var delKeys: DataFrame = _
  private var moves: DataFrame = _
  private var orderRows = 0L
  private var movedRows = 0L

  private var version = -1L
  private var keys: Seq[Long] = Nil
  private var range: (java.sql.Date, java.sql.Date) = _
  private var expScan: (Long, Double) = _

  /** Draws op `i`'s input; a cycle's change batch is applied to the
    * expected state here. */
  def prepare(i: Int): Unit = {
    val r = new java.util.Random(seed * 1000003L + i)
    if (kindOf(i) == "read") {
      version = oT.latestVersion
      keys = Seq.fill(100)(if (r.nextBoolean()) (n - r.nextInt(n / 10)).toLong else 1L + r.nextInt(n)).distinct
      val d = r.nextInt(2400 - 60)
      range = (java.sql.Date.valueOf(Reads.Day0.plusDays(d)),
        java.sql.Date.valueOf(Reads.Day0.plusDays(d + 60)))
      expScan = Reads.expectedScan(orders, range._1, range._2)
      return
    }
    val recent = math.max(1, n / 10)
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < Updates) {
      val k = if (r.nextDouble() < 0.8) n - r.nextInt(recent) else 1 + r.nextInt(n)
      if (orders(k - 1) != null) upd += k.toLong
    }
    val del = mutable.LinkedHashSet.empty[Long]
    while (del.size < Deletes) {
      val k = 1L + r.nextInt(n)
      if (orders(k.toInt - 1) != null && !upd(k)) del += k
    }
    val reins = deleted.take(Reinserts).toSeq
    val statuses = Array("F", "O", "P")
    def changed(k: Long, move: Boolean): Row = {
      val base = ordersBase(k.toInt - 1)
      val cust = if (move) 1L + r.nextInt(customers.length) else base.getLong(1)
      Row(k, cust, statuses(r.nextInt(3)),
        math.round(r.nextDouble() * 45000000.0 + 90000.0) / 100.0, base.get(4), base.get(5))
    }
    // one in ten changes moves the order to another customer
    val upRows = (upd.toSeq ++ reins).zipWithIndex.map { case (k, j) => changed(k, j % 10 == 0) }
    upRows.foreach(row => orders(row.getLong(0).toInt - 1) = row)
    reins.foreach(deleted -= _)
    del.foreach { k => orders(k.toInt - 1) = null; deleted += k }
    batch = df(upRows, oSchema)
    delKeys = df(del.toSeq.map(Row(_)), new StructType().add("o_orderkey", "long"))
    val moved = r.ints(0, customers.length).distinct().limit(CustomerMoves).toArray.toSeq.map { j =>
      val c = customers(j)
      val row = Row(c.get(0), c.get(1), (c.getInt(2) + 1 + r.nextInt(24)) % 25, c.get(3), c.get(4))
      customers(j) = row
      row
    }
    moves = df(moved, cSchema)
    movedRows = moved.size
    orderRows = upRows.size + del.size
  }

  def op(i: Int, t: Tracer): Long =
    if (kindOf(i) == "read") {
      reads.point(oT, version, keys, t, i) +
        reads.scan(oT, range._1, range._2, expScan, t, i) +
        reads.cdf(oT, version - 2, t, i)
    } else drainCycle(i, t)

  private def drainCycle(i: Int, t: Tracer): Long = {
    val v0 = if (t.enabled) Some((oT.latestVersion, cT.latestVersion, stageT.latestVersion,
      aggT.latestVersion)) else None
    t.span("customer.upsert", "store.merge", i, cT.path) { s =>
      if (s != null) s.add("store.merge.rows_staged", movedRows)
      cT.upsert(moves, uniqueKeys = true)
    }
    t.span("orders.merge", "store.merge", i, oT.path) { s =>
      if (s != null) s.add("store.merge.rows_staged", orderRows)
      oT.merge(batch, MergeSpec(), uniqueKeys = true, deleteKeys = Some(delKeys))
    }
    val Seq(join, agg) = pipe.handles.zip(Seq("streaming.join", "streaming.agg")).map {
      case (h, kind) => t.span(kind, "streaming", i) { s => h.drainFn(); s }
    }
    v0.foreach { case (o0, c0, s0, a0) =>
      // change rows each stage consumed and produced, from the log's
      // recorded counts (no Spark job)
      def rows(kt: KeyedTable, from: Long): Double =
        kt.changeCountsBetween(from, kt.latestVersion).map(c => (c._1 + c._2).toDouble).getOrElse(0.0)
      val mid = rows(stageT, s0)
      join.add("streaming.rows_in", rows(oT, o0) + rows(cT, c0))
      join.add("streaming.rows_out", mid)
      agg.add("streaming.rows_in", mid)
      agg.add("streaming.rows_out", rows(aggT, a0))
    }
    orderRows + movedRows
  }

  /** Sources against the expected state, then the aggregate against a
    * plain-Spark recompute over that state; counts and decimal sums must
    * match exactly. Reads are checked as in read_mix. */
  def check(): (Long, String) = {
    val oExp = df(orders.toSeq.filter(_ != null), oSchema)
    val cExp = df(customers.toSeq, cSchema)
    val aggExp = oExp.join(cExp, oExp("o_custkey") === cExp("c_custkey"), "left")
      .groupBy("c_nationkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total_price"))
    val bad = Seq(
      "orders" -> Check.diff(oT.snapshot(), oExp),
      "customer" -> Check.diff(cT.snapshot(), cExp),
      "agg" -> Check.diff(aggT.snapshot().select(aggExp.columns.toSeq.map(col): _*), aggExp))
      .filter(_._2.nonEmpty)
    val (badReads, readNote) = reads.check(oT)
    (bad.size + badReads, (if (bad.isEmpty) "sources and aggregate match the recompute"
      else bad.map { case (k, v) => s"$k: $v" }.mkString("; ")) + "; " + readNote)
  }
}

object Check {
  /** Empty when both frames hold the same multiset of rows. */
  def diff(got: DataFrame, exp: DataFrame): String = {
    val g = got.select(exp.columns.toSeq.map(col): _*)
    val extra = g.exceptAll(exp).count()
    val missing = exp.exceptAll(g).count()
    if (extra == 0 && missing == 0) ""
    else s"$extra unexpected rows, $missing missing rows"
  }
}
