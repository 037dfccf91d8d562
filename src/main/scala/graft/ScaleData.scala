package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing testdata dir by
  * deterministic k-fold replication with key offsets, so scale curves
  * can be measured above the driver-provided sf0.1 without touching
  * the read-only testdata. FK relations survive (orders→customer,
  * lineitem→orders/part/supplier; offsets are per-table max+1),
  * dimension tables (region, nation) copy through unchanged — exactly
  * how TPC-H itself scales — and text/embeddings perturb per replica
  * so dedup/ANN ops don't collapse the copies into one cluster.
  *
  * BENCH-ONLY input: correctness gates always run on the
  * driver-generated dirs; this exists for the sf1.0 scale point
  * (SURVEY §6r). Usage: `ScaleData <srcDir> <dstDir> [factor=10]`.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleData <srcDir> <dstDir> [factor] [tables-csv]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional table subset, e.g. "orders,customer" — a join-drain
    // scale point needs two tables, not a full 10x corpus on disk
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val spark = SparkSession.builder()
      .appName("graft-scaledata")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try scale(spark, src, dst, factor, only) finally spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String, factor: Int,
      only: Option[Set[String]] = None): Unit = {
    def want(n: String): Boolean = only.forall(_.contains(n))
    def read(n: String): DataFrame = Tables(spark, src, n)
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect().head.getLong(0) + 1L

    // one lazy val PER table — a grouped lazy tuple would force reads
    // of all eight sources the moment any one is needed, breaking the
    // subset flag on dirs that only hold the subset
    lazy val cust = read("customer")
    lazy val supp = read("supplier")
    lazy val part = read("part")
    lazy val ords = read("orders")
    lazy val line = read("lineitem")
    lazy val evts = read("events")
    lazy val docs = read("documents")
    lazy val embs = read("embeddings")
    lazy val offC = off(cust, "c_custkey")
    lazy val offS = off(supp, "s_suppkey")
    lazy val offP = off(part, "p_partkey")
    lazy val offO = off(ords, "o_orderkey")
    lazy val (offE, offU) = (off(evts, "event_id"), off(evts, "user_id"))
    lazy val offD = off(docs, "doc_id")
    lazy val offV = off(embs, "vec_id")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    def bump(c: String, o: Long, i: Int): Column = col(c) + lit(o * i)

    def write(df: => DataFrame, n: String): Unit =
      if (want(n)) df.write.mode("overwrite").parquet(s"$dst/$n.parquet")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(cust)((d, i) =>
      d.withColumn("c_custkey", bump("c_custkey", offC, i))), "customer")
    write(replicate(supp)((d, i) =>
      d.withColumn("s_suppkey", bump("s_suppkey", offS, i))), "supplier")
    write(replicate(part)((d, i) =>
      d.withColumn("p_partkey", bump("p_partkey", offP, i))), "part")
    write(replicate(ords)((d, i) =>
      d.withColumn("o_orderkey", bump("o_orderkey", offO, i))
        .withColumn("o_custkey", bump("o_custkey", offC, i))), "orders")
    write(replicate(line)((d, i) =>
      d.withColumn("l_orderkey", bump("l_orderkey", offO, i))
        .withColumn("l_partkey", bump("l_partkey", offP, i))
        .withColumn("l_suppkey", bump("l_suppkey", offS, i))), "lineitem")
    // same timestamps, k× distinct users: window/session densities scale
    // with data volume, the behavior a bigger corpus would actually show
    write(replicate(evts)((d, i) =>
      d.withColumn("event_id", bump("event_id", offE, i))
        .withColumn("user_id", bump("user_id", offU, i))), "events")
    write(replicate(docs)((d, i) =>
      if (i == 0) d
      else d.withColumn("doc_id", bump("doc_id", offD, i))
        // replicas are NEAR-dups of the originals, not exact dups —
        // minhash/simhash still bucket them while exact dedup keeps them
        .withColumn("text", concat(col("text"), lit(s" r$i")))
        .withColumn("n_chars", col("n_chars") + lit(s" r$i".length.toLong))),
      "documents")
    write(replicate(embs)((d, i) =>
      if (i == 0) d
      else d.withColumn("vec_id", bump("vec_id", offV, i))
        // ROTATE dimensions by the replica index: rotations of a random
        // vector are mutually near-orthogonal, so replicas stay
        // in-distribution WITHOUT being near-dups of their source — a
        // small additive drift left them at cosine ~0.9999 and the
        // near-dup detector (correctly) flagged every replica pair,
        // which a fixed-construction oracle can't enumerate
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
            s"slice(embedding, 1, $i))"))), "embeddings")
    println(s"""{"scaled":"$dst","factor":$factor}""")
  }
}
