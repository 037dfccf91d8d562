package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every registered gate query at the
  * SPARK_GRAFT_SF_DIR scale and prints ONE JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.merge.shufflePartitions", "8")
      .config("spark.ui.enabled", "false")
    // extra confs for local perf experiments: GRAFT_CONF="k=v,k=v"
    sys.env.get("GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JIT + parquet footer caches, outside the timed region
    SparkEntry.queries.get("agg_sum_groupby").foreach(_(spark, sfDir).count())
    // optional first arg: comma-separated gate names for fast local
    // iteration (the driver passes no args → full set)
    val only = args.headOption.map(_.split(",").toSet)
    val gates = only.fold(SparkEntry.queries)(f => SparkEntry.queries.filter(kv => f(kv._1)))
    var failures = 0
    val results = gates.toSeq.sortBy(_._1).map { case (name, fn) =>
      // ops cache intermediate tables (signatures, shingles); drop them
      // between queries so one query's cache pressure can't evict
      // another's mid-flight. Also sweep any persistent RDD a failed or
      // leaky gate left behind (pinned merge frames, cached RDDs):
      // one gate's leak must not slow every gate after it in the shared
      // JVM.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          failures += 1
          System.err.println(s"[bench] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
          -1L
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // The driver stores only a ~2.2 KB tail of stdout; the JSON line must
    // fit inside it or the bench gate records "parsed": null. Bound the
    // line: 2-decimal seconds, per-query map capped to the 40 slowest
    // (total still sums ALL queries), sf as the basename.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.sortBy(-_._2).take(40).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val sfName = new java.io.File(sfDir).getName
    // engine-phase attribution (PhaseStats): [invocations, total sec]
    // per phase — a handful of keys, so the line stays under the ~2.2 KB
    // driver tail. Lets a swung driver record answer "where did the
    // time go" (merge plan/write/commit vs downgrade vs load) without a
    // same-box forensic A/B.
    val ph = graft.store.PhaseStats.snapshot().toSeq.sortBy(_._1)
      .map { case (k, (n, s)) => "\"" + k + "\":[" + n + "," + fmt(s) + "]" }
      .mkString("{", ",", "}")
    // nq = total gates timed (the per-query map is capped to the 40
    // slowest, so a gate "vanishing" from it is print-cap churn, not a
    // drop — nq makes that checkable); failures = gates whose body threw
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"nq":${results.size},"failures":$failures,"phases":$ph,"sf":"$sfName"}""")
    spark.stop()
  }
}
