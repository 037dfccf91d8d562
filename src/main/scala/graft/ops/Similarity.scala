package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2 B6-B7). */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * precision with deterministic left-to-right accumulation (matches
    * DuckDB's list_cosine_similarity evaluation order for the oracle).
    * Backed by the native single-pass Catalyst expression
    * [[graft.functions.CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSimilarity(a, b)

  /** B6: brute-force cosine top-k — the exact baseline. The (small)
    * query set is broadcast against the corpus scan; ranking shuffles
    * once on query id. At 1000 executors this is a map-side join over
    * the full corpus: correct, predictable, bandwidth-bound. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vec: String = "embedding",
      id: String = "vec_id",
      k: Int = 5): DataFrame = {
    val q = broadcast(queries.select(col(id).alias("query_id"), col(vec).alias("__qv")))
    val scored = corpus.select(col(id).alias("neighbor_id"), col(vec).alias("__cv"))
      .crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Deterministic pseudo-random hyperplane component for plane `p`,
    * dimension `d`: xxhash64 folded to [-0.5, 0.5). */
  private def planeComponent(p: Int, d: Column): Column =
    (pmod(xxhash64(lit(p), d), lit(1000)).cast("double") / 1000.0) - 0.5

  /** Sign-bucket of `vec` under `planes` deterministic hyperplanes —
    * an integer LSH key; cosine-close vectors land in the same bucket
    * with high probability. Pure projection, no shuffle. */
  def hyperplaneBucket(vec: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** B7b: IVF (inverted-file) approximate top-k — the scale path when
    * hyperplane LSH recall is too coarse. Centroids are learned with a
    * few Lloyd iterations (deterministic seeding: the `nlist` lowest-id
    * vectors), the corpus is partitioned into centroid lists ONCE, and
    * each query probes only its `nprobe` closest lists — per-query work
    * is `nprobe/nlist` of the corpus.
    *
    * Assignment is a SHUFFLE-FREE projection: the centroid matrix is a
    * broadcast-sized literal and [[graft.functions.ArgMaxCosine]]
    * computes the nearest-centroid index in one native pass per row —
    * zero exchanges between the corpus scan and its cluster id (the
    * previous corpus×nlist crossJoin + row_number window shuffled a
    * 16×-amplified corpus per Lloyd iteration, a 100 TB killer).
    * Centroids live driver-side between iterations (nlist × dim
    * doubles — trivially small; how a real IVF index trains anyway).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vec: String = "embedding",
      id: String = "vec_id",
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      lloydIters: Int = 2,
      quantizedScoring: Boolean = false): DataFrame = {
    val c = corpus.select(col(id).alias("neighbor_id"), col(vec).alias("__cv")).cache()
    def toDoubles(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toSeq
    var cents: Seq[Seq[Double]] =
      c.orderBy("neighbor_id").limit(nlist).collect().toSeq.map(toDoubles)
    // ArgMaxCosine ties break to the lowest index, matching the
    // (sim desc, cid asc) ordering of the window formulation
    def assign(vecs: DataFrame): DataFrame =
      vecs.withColumn("__cid", graft.functions.VectorExpressions.argMaxCosine(
        col("__cv"), typedLit(cents)))
    (0 until lloydIters).foreach { _ =>
      // element-wise mean per cluster: posexplode → avg per (cluster,
      // dim) → assemble driver-side (nlist × dim rows, trivially small)
      val byCid = assign(c)
        .select(col("__cid"), posexplode(col("__cv")).as(Seq("__pos", "__v")))
        .groupBy("__cid", "__pos").agg(avg("__v").alias("__m"))
        .collect().groupBy(_.getInt(0))
      cents = cents.indices.map { cid =>
        byCid.get(cid) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          case None => cents(cid) // empty cluster keeps its centroid
        }
      }
    }
    // §6f-6 compressed candidate scoring: the probed lists ship int8
    // codes + one scale (4× fewer scan bytes than float32; a stored IVF
    // index would persist exactly these codes), and scoring dequantizes
    // on the fly. Recall vs exact scoring is spec-asserted in
    // QuantizeSpec; the exact path stays the default and the gate's.
    val assigned0 = assign(c)
    val assigned =
      if (!quantizedScoring) assigned0
      else assigned0
        .withColumn("__s", Quantize.scaleOf(col("__cv")))
        .withColumn("__cv",
          Quantize.dequant(Quantize.codesOf(col("__cv"), col("__s")), col("__s"))
            .cast("array<float>"))
        .drop("__s")
    val qProbe = queries.select(col(id).alias("query_id"), col(vec).alias("__qv"))
      .select(col("query_id"), col("__qv"),
        posexplode(typedLit(cents)).as(Seq("__cid", "__cent")))
      .withColumn("__psim", cosine(col("__qv"), col("__cent")))
      .withColumn("__rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("__psim").desc, col("__cid").asc)))
      .where(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cid"))
    val scored = assigned.join(broadcast(qProbe), "__cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val out = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the top-k result is tiny; materialize it and release the
    // corpus-sized cache so repeated calls don't accumulate storage
    out.count()
    c.unpersist()
    out
  }

  /** B7: LSH-bucketed approximate top-k — queries join only their own
    * hyperplane bucket, so per-query work is corpus/2^planes instead of
    * the full corpus. Recall is tunable by lowering `planes` (bigger
    * buckets) or raising `multiProbe`: each query additionally probes
    * every bucket within Hamming distance `multiProbe` of its own (the
    * standard multi-probe LSH scheme — probing is an explode on the
    * BROADCAST query side, so the corpus is still touched once and
    * never reshuffled). At `multiProbe = planes` every bucket is probed
    * and the result provably equals [[bruteForceTopK]] — which is how
    * the gate carries a full oracle; deployment uses `multiProbe` ≪
    * `planes`. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vec: String = "embedding",
      id: String = "vec_id",
      k: Int = 5,
      planes: Int = 4,
      multiProbe: Int = 0): DataFrame = {
    // XOR masks with ≤ multiProbe bits set, enumerated by combination
    // (never 2^planes): C(planes,0..multiProbe) masks per query row
    val masks: Seq[Long] = (0 to multiProbe).flatMap(f =>
      (0 until planes).combinations(f).map(_.foldLeft(0L)((a, i) => a | (1L << i))))
    val cb = corpus.select(col(id).alias("neighbor_id"), col(vec).alias("__cv"))
      .withColumn("__bucket", hyperplaneBucket(col("__cv"), planes))
    val qb = broadcast(queries.select(col(id).alias("query_id"), col(vec).alias("__qv"))
      .withColumn("__b0", hyperplaneBucket(col("__qv"), planes))
      .withColumn("__bucket",
        explode(array(masks.map(m => col("__b0").bitwiseXOR(lit(m))): _*)))
      .drop("__b0"))
    val scored = cb.join(qb, "__bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }
}
