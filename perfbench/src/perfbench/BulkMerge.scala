package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.KeyedTable

/** Large merges into a 32-bucket `lineitem` table: after the load, each
  * op is an update wave over ~20% of the keys (rows deleted by an
  * earlier wave come back as inserts), a delete wave over ~5%, or a
  * `maintain()` pass, in a fixed cycle. Every value a wave writes is a
  * function of (key, seed, wave), which is what lets [[check]] rebuild
  * the expected final table in one plain-Spark pass. */
final class BulkMerge(spark: SparkSession, in: String, seed: Long) extends Workload {
  val cycle = 8
  val warmupOps = 8
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val base = spark.read.parquet(s"$in/lineitem.parquet")
  private var t: KeyedTable = _
  private val waves = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]

  def kindOf(i: Int): String = i % cycle match {
    case 3 => "delete"
    case 7 => "maintain"
    case _ => "update"
  }

  private def h(i: Column, salt: Int): Column =
    xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed), i, lit(salt))
  private def inUpdate(i: Column): Column = pmod(h(i, 0), lit(5L)) === 0
  private def inDelete(i: Column): Column = pmod(h(i, 0), lit(20L)) === 0

  /** The row an update wave `i` writes for a base row. */
  private def updated(df: DataFrame, i: Column): DataFrame = {
    val qty = (pmod(h(i, 1), lit(50L)) + 1).cast("double")
    df.withColumn("l_quantity", qty)
      .withColumn("l_extendedprice",
        round(qty * (pmod(h(i, 2), lit(1200L)) + 900).cast("double"), 2))
      .withColumn("l_linestatus", when(pmod(i, lit(2)) === 0, "F").otherwise("O"))
      .withColumn("l_shipdate", date_add(col("l_shipdate"), pmod(h(i, 3), lit(30L)).cast("int")))
  }

  def load(root: String): Unit = {
    waves.clear()
    t = KeyedTable.create(spark, s"$root/lineitem", base.schema, Keys, numBuckets = 32)
    t.upsert(base, uniqueKeys = true)
  }

  def roots: Seq[String] = Seq(t.path)
  def liveRows(): Long = t.snapshot().count()

  private var staged: DataFrame = _
  private var stagedRows = 0L

  /** Materialises op `i`'s wave on the driver, so the timed merge reads
    * a local relation and not the input file. */
  def prepare(i: Int): Unit = {
    val w = lit(i)
    val src = kindOf(i) match {
      case "update" => Some(updated(base.where(inUpdate(w)), w))
      case "delete" => Some(base.where(inDelete(w)).select(Keys.map(col): _*))
      case _ => None
    }
    staged = src.map { df =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }.orNull
    stagedRows = src.fold(0L)(_ => staged.count())
    waves += i -> kindOf(i)
  }

  def op(i: Int, tr: Tracer): Long = {
    val kind = kindOf(i)
    tr.span(s"lineitem.$kind", "store.merge", i, t.path) { s =>
      if (s != null) s.add("store.merge.rows_staged", stagedRows)
      kind match {
        case "update" => t.upsert(staged, uniqueKeys = true)
        case "delete" => t.delete(staged)
        case _ => t.maintain()
      }
    }
    stagedRows
  }

  /** The final snapshot against the fixpoint of every wave applied so
    * far: per key, the last wave that touched it decides the row. */
  def check(): (Long, String) = {
    def last(kind: String, cond: Column => Column): Column = {
      val ws = waves.toSeq.collect { case (i, k) if k == kind => i }
      if (ws.isEmpty) lit(null).cast("int")
      else greatest(ws.map(i => when(cond(lit(i)), lit(i))) :+ lit(null).cast("int"): _*)
    }
    val marked = base
      .withColumn("__u", last("update", inUpdate))
      .withColumn("__d", last("delete", inDelete))
      .where(col("__d").isNull || (col("__u").isNotNull && col("__u") > col("__d")))
    val exp = updated(marked.where(col("__u").isNotNull), col("__u"))
      .unionByName(marked.where(col("__u").isNull))
      .drop("__u", "__d")
    val d = Check.diff(t.snapshot(), exp)
    if (d.isEmpty) (0L, s"snapshot matches the fixpoint of ${waves.size} ops")
    else (1L, s"snapshot differs from the fixpoint: $d")
  }
}
