package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark workload. The runner calls `load`, runs `warmupOps`
  * untimed ops, then times `op(i)` in a closed loop and finally calls
  * `check`. */
trait Workload {
  /** Ops per schedule cycle; a run times whole cycles. */
  def cycle: Int
  def warmupOps: Int
  def load(root: String): Unit
  /** The kind op `i` will be, known before it runs. */
  def kindOf(i: Int): String
  /** Untimed: draws op `i`'s input. */
  def prepare(i: Int): Unit
  /** Runs op `i`; returns the rows it moved, the unit of the
    * rows-per-second metric. */
  def op(i: Int, t: Tracer): Long
  /** Runs after the timed region; returns failed-op count and a note. */
  def check(): (Long, String)
  /** Live rows and the table roots they are stored under. */
  def liveRows(): Long
  def roots: Seq[String]
}

/** Runs one workload in this JVM and writes `result.json` (and, with
  * tracing on, `trace.json`) into the work directory.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <inputDir> <workDir> <cores>` */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, inputDir, workDir, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    val wl0: SparkSession => Workload = name match {
      case "cdc_trickle" => s => new CdcTrickle(s, inputDir, seed)
      case "bulk_merge" => s => new BulkMerge(s, inputDir, seed)
      case "read_mix" => s => new ReadMix(s, inputDir, seed)
      case "ops_batch" => s => new OpsBatch(s, inputDir, s"$workDir/ops_out")
      case other => sys.error(s"unknown workload $other")
    }
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.graft.merge.shufflePartitions", "8")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    workloadConf(name).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    if (traced) tracer.install()
    val wl = wl0(spark)
    val sessionNs = System.nanoTime() + epochNs() - jvmStartNs

    val loadNs = {
      val t0 = System.nanoTime()
      wl.load(s"$workDir/tables")
      System.nanoTime() - t0
    }
    val warmNs = {
      val t0 = System.nanoTime()
      (0 until wl.warmupOps).foreach { i => wl.prepare(i); wl.op(i, tracer) }
      System.nanoTime() - t0
    }
    val diskBytes = tableFiles(wl.roots).values.sum
    val liveRows0 = wl.liveRows()

    // timed region: closed loop, one op at a time on this thread, for at
    // least `seconds` and a whole number of schedule cycles, so every run
    // times the same mix of op kinds; a traced run goes on until it has
    // timed two ops of every kind, the first untraced, the second traced
    val confBefore = spark.conf.getAll
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val phaseBefore = tracer.phaseMs()
    var phaseTraced = Map.empty[String, Double]
    var failed = 0L
    val seenByKind = scala.collection.mutable.Map.empty[String, Int]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    var i = wl.warmupOps
    liveHeap()
    val kinds = (0 until wl.cycle).map(wl.kindOf).toSet
    def tracedShort = traced && kinds.exists(k => seenByKind.getOrElse(k, 0) < 2)
    while (System.nanoTime() < tEnd || (i - wl.warmupOps) % wl.cycle != 0 || tracedShort) {
      wl.prepare(i)
      val kind = wl.kindOf(i)
      val nth = seenByKind.getOrElse(kind, 0)
      seenByKind(kind) = nth + 1
      // with tracing on, every other op of each kind is traced: the
      // untraced ones give the tracing overhead within the same process
      tracer.enabled = traced && nth % 2 == 1
      val ph0 = if (tracer.enabled) tracer.phaseMs() else Map.empty[String, Double]
      val files0 = if (tracer.enabled) tableFiles(wl.roots) else Map.empty[String, Long]
      val t0 = System.nanoTime()
      val res = try {
        Right(tracer.span("op", "bench", i)(_ => wl.op(i, tracer)))
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] op $i failed: $e")
        e.printStackTrace()
        Left(e)
      }
      val dt = System.nanoTime() - t0
      if (tracer.enabled) {
        val ph1 = tracer.phaseMs()
        phaseTraced = ph1.map { case (k, v) =>
          k -> (phaseTraced.getOrElse(k, 0.0) + v - ph0.getOrElse(k, 0.0)) }
        attributeFiles(tracer, i, files0, tableFiles(wl.roots))
      }
      val heap = liveHeap()
      res match {
        case Right(rows) => ops += Map("i" -> i, "kind" -> kind, "ms" -> dt / 1e6,
          "rows" -> rows, "traced" -> tracer.enabled, "heap" -> heap)
        case Left(_) =>
          failed += 1
          ops += Map("i" -> i, "kind" -> kind, "ms" -> dt / 1e6, "rows" -> 0L,
            "traced" -> tracer.enabled, "failed" -> true, "heap" -> heap)
      }
      i += 1
    }
    tracer.enabled = false
    val phaseAfter = tracer.phaseMs()
    val confAfter = spark.conf.getAll
    val confDrift = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k)).toSeq.sorted
    val leaked = spark.sparkContext.getPersistentRDDs.size

    val (checkFailed, note) = try wl.check() catch { case NonFatal(e) =>
      e.printStackTrace()
      (math.max(1L, ops.size.toLong), s"check threw $e")
    }
    if (traced) {
      tracer.drainEvents()
      tracer.attribute(cores)
      Files.writeString(Paths.get(s"$workDir/trace.json"), Json.obj(
        "workload" -> name, "seed" -> seed, "cores" -> cores, "cycle" -> wl.cycle,
        "spans" -> Json.Raw(tracer.json()),
        "phase_ms_traced_ops" -> phaseTraced,
        "phase_ms_timed_region" -> phaseAfter.map { case (k, v) =>
          k -> (v - phaseBefore.getOrElse(k, 0.0)) }))
    }
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "session_s" -> sessionNs / 1e9,
      "load_s" -> loadNs / 1e9,
      "warmup_s" -> warmNs / 1e9, "warmup_ops" -> wl.warmupOps,
      "disk_bytes" -> diskBytes, "live_rows" -> liveRows0,
      "ops" -> ops.toSeq.map(m => Json.Raw(Json.obj(m.toSeq: _*))),
      "op_failures" -> failed,
      "check_failed" -> checkFailed, "check_note" -> note,
      "conf_drift" -> confDrift.size, "conf_drift_keys" -> confDrift,
      "leaked_rdds" -> leaked)
    Files.writeString(Paths.get(s"$workDir/result.json"), result)
    spark.stop()
  }

  /** Session settings a workload needs for the whole run. */
  private def workloadConf(name: String): Map[String, String] = name match {
    // several files per bucket, so zone maps have files to skip
    case "read_mix" => Map("spark.graft.targetFileRows" -> "1000")
    case _ => Map.empty
  }

  /** Every regular file under the roots, with its size. */
  private def tableFiles(roots: Seq[String]): Map[String, Long] =
    roots.flatMap { r =>
      val p = Paths.get(r)
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toSeq
    }.toMap

  /** Credits the parquet files an op added under a table root to the
    * op's first store.merge span on that table, split into data and
    * change-feed bytes. */
  private def attributeFiles(t: Tracer, op: Int, before: Map[String, Long],
      after: Map[String, Long]): Unit = {
    val added = after.filter { case (f, _) => !before.contains(f) && f.endsWith(".parquet") }
    t.spans.filter(s => s.op == op && s.layer == "store.merge" && s.table != null)
      .groupBy(_.table).foreach { case (table, ss) =>
        val mine = added.filter(_._1.startsWith(table + "/"))
        val s = ss.minBy(_.id)
        s.add("store.merge.files_written", mine.size)
        s.add("store.merge.bytes_written", mine.values.sum)
        s.add("store.merge.data_bytes", mine.filter(_._1.contains("/data/")).values.sum)
        s.add("store.merge.cdf_bytes", mine.filter(_._1.contains("/cdf/")).values.sum)
      }
  }

  /** Heap still in use after a full collection: what the program holds
    * between ops. The pause lets Spark's cleaner drop the broadcast and
    * shuffle blocks the first collection freed, before the second one
    * measures. Collecting here, outside the op's timing, also starts
    * every op with the same empty young generation. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def epochNs(): Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
}

