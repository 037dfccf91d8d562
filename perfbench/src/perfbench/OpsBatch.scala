package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The batch operator library: each op runs one registered gate
  * (`graft.SparkEntry.queries`) on the generated documents and
  * embeddings and collects its result, cycling through the gates in a
  * fixed order. No KeyedTable work. `dedup_jaccard` (same oracle as
  * `dedup_minhash`) and `ann_ivfpq` (whose DuckDB oracle alone takes
  * ~5 s a run) are left out to keep a run within the time budget. */
final class OpsBatch(spark: SparkSession, in: String, outDir: String) extends Workload {
  val Gates = Seq("text_quality", "rank_bm25", "dedup_minhash", "dedup_clusters",
    "dedup_embedding", "ann_lsh")
  val cycle: Int = Gates.size
  val warmupOps: Int = Gates.size
  private val inputRows = Map(
    "documents" -> spark.read.parquet(s"$in/documents.parquet").count(),
    "embeddings" -> spark.read.parquet(s"$in/embeddings.parquet").count())

  def kindOf(i: Int): String = Gates(i % cycle)
  private def rowsIn(g: String): Long =
    if (g.startsWith("ann") || g == "dedup_embedding") inputRows("embeddings")
    else inputRows("documents")

  // first result of each gate (schema, rows) and a digest of every run
  private val first = mutable.Map.empty[String, (StructType, Array[Row])]
  private val digests = mutable.Map.empty[String, mutable.Set[Int]]
  private val runs = mutable.Map.empty[String, Int].withDefaultValue(0)

  def load(root: String): Unit = ()
  def roots: Seq[String] = Seq(in)
  def liveRows(): Long = inputRows.values.sum
  def prepare(i: Int): Unit = ()

  def op(i: Int, t: Tracer): Long = {
    val g = kindOf(i)
    val (schema, rows) = t.span(g, "ops", i) { _ =>
      val df = graft.SparkEntry.queries(g)(spark, in)
      (df.schema, df.collect())
    }
    first.getOrElseUpdate(g, (schema, rows))
    digests.getOrElseUpdate(g, mutable.Set.empty) += rows.map(_.toString).sorted.toSeq.hashCode
    runs(g) += 1
    rowsIn(g)
  }

  /** Every run of a gate must return the same rows; the first result of
    * each is written with its oracle SQL for `tools/check_oracle.py`. */
  def check(): (Long, String) = {
    import scala.jdk.CollectionConverters._
    first.foreach { case (g, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$g")
    }
    val oracle = graft.SparkEntry.oracleSql.filter(kv => first.contains(kv._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.value(oracle))
    val unstable = digests.filter(_._2.size > 1).keys.toSeq.sorted
    (unstable.map(runs).sum.toLong,
      if (unstable.isEmpty) "every gate returned the same rows on every run"
      else s"results changed between runs: ${unstable.mkString(",")}")
  }
}
