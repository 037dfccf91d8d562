package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import java.nio.file.Files

/** File-granular commit manifests (SURVEY §6h-1): a commit records per
  * touched bucket the COMPLETE file list with per-file key-hash
  * [min,max]; data files are written key-hash-sorted and split by
  * `spark.graft.targetFileRows`, so a point merge reads and rewrites
  * only the file(s) a key's hash can live in and carries the rest of
  * the bucket forward by reference — Delta's add/remove-file pruning,
  * re-expressed on the bucketed layout. */
class FileManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("fman").toString

  private def withSmallFiles[T](rows: Long)(f: => T): T = {
    spark.conf.set("spark.graft.targetFileRows", rows.toString)
    try f finally spark.conf.unset("spark.graft.targetFileRows")
  }

  private def manifestOf(t: String, v: Long): Map[Int, Seq[FileEntry]] = {
    val lg = new CommitLog(t, spark.sessionState.newHadoopConf())
    lg.readCommit(v).files.getOrElse(sys.error(s"commit $v has no manifest"))
  }

  test("1-row merge into a multi-file bucket rewrites exactly 1 file, carries the rest") {
    val t = tmp()
    val df = (1L to 10000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    assert(before.size == 10, s"seed should split into 10 files, got ${before.size}")
    // ranges must be disjoint (hash-sorted write + maxRecordsPerFile)
    val sorted = before.sortBy(_.minHash)
    sorted.sliding(2).foreach { case Seq(a, b) =>
      assert(a.maxHash < b.minHash, s"overlapping file ranges: $a / $b")
    case _ => }

    withSmallFiles(1000) {
      kt.upsert(Seq((42L, 42.42)).toDF("id", "v"), uniqueKeys = true)
    }
    val after = manifestOf(t, 2L)(0)
    assert(after.size == 10, s"bucket must still hold 10 files, got ${after.size}")
    val carried = after.map(_.path).toSet.intersect(before.map(_.path).toSet)
    assert(carried.size == 9,
      s"expected 9 carried + 1 rewritten, carried=${carried.size}")
    // the one rewritten file is the one whose range held id=42's hash
    val h42 = Seq(42L).toDF("id").select(xxhash64(col("id"))).collect().head.getLong(0)
    val replaced = before.map(_.path).toSet.diff(after.map(_.path).toSet)
    assert(replaced.size == 1)
    val old = before.find(e => replaced(e.path)).get
    assert(old.minHash <= h42 && h42 <= old.maxHash,
      "merge rewrote a file whose range does not contain the staged key hash")
    // correctness: full content intact, update applied
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 10000 && m(42L) == 42.42 && m(41L) == 41.0)
  }

  test("snapshot reads carried + new files; snapshotForKeys prunes to hit files") {
    val t = tmp()
    val df = (1L to 8000L).map(i => (i, s"n$i")).toDF("id", "name")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 2)
    withSmallFiles(500) { kt.upsert(df, uniqueKeys = true) }
    kt.upsert(Seq((77L, "updated")).toDF("id", "name"), uniqueKeys = true)
    assert(kt.snapshot().count() == 8000)
    val got = kt.snapshotForKeys(Seq(77L).toDF("id"))
    assert(got.collect().map(_.getString(1)).toSeq == Seq("updated"))
    assert(got.inputFiles.length == 1,
      s"point lookup read ${got.inputFiles.length} files, expected 1")
    val full = kt.snapshot().inputFiles.length
    assert(full >= 16, s"seed at 500 rows/file should leave ≥16 live files, got $full")
  }

  test("delete prunes to the files holding the deleted keys") {
    val t = tmp()
    val df = (1L to 6000L).map(i => (i, i * 2.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    kt.delete(Seq(100L).toDF("id"))
    val after = manifestOf(t, 2L)(0)
    val carried = after.map(_.path).toSet.intersect(before.map(_.path).toSet)
    assert(carried.size == before.size - 1,
      s"delete should rewrite exactly 1 of ${before.size} files")
    assert(kt.snapshot().count() == 5999)
    assert(kt.changesSince(1L).where(col("_change_type") === "delete").count() == 1)
  }

  test("vacuum keeps carried files' dirs alive across retention") {
    val t = tmp()
    val df = (1L to 5000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    // several point merges: latest version's bucket references v1 files
    (1 to 3).foreach(i => kt.upsert(Seq((i * 10L, -1.0)).toDF("id", "v"), uniqueKeys = true))
    kt.vacuum(retainVersions = 1)
    // every manifest-referenced file of the LATEST version must survive
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 5000 && m(10L) == -1.0 && m(20L) == -1.0 && m(30L) == -1.0)
  }

  test("incremental agg-style merges stay correct across many small commits") {
    val t = tmp()
    val df = (1L to 3000L).map(i => (i % 100, 1.0)).groupBy(_._1).toSeq
      .map { case (k, xs) => (k, xs.map(_._2).sum) }.toDF("k", "s")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("k"), numBuckets = 4)
    withSmallFiles(10) { kt.upsert(df, uniqueKeys = true) }
    // merge deltas into a few keys repeatedly (the incremental-agg shape)
    val spec = MergeSpec(updateExprs = Some(Map("s" -> (col("u.s") + col("s.s")))))
    (1 to 5).foreach { _ =>
      withSmallFiles(10) {
        kt.merge(Seq((7L, 1.0), (8L, 2.0)).toDF("k", "s"), spec, uniqueKeys = true)
      }
    }
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 100)
    assert(m(7L) == 30.0 + 5.0 && m(8L) == 30.0 + 10.0) // 30 seed + 5 deltas
  }

  test("compact() packs only the small-file tail; big files carry by reference, no cdf") {
    val t = tmp()
    val df = (1L to 3000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(500) { kt.upsert(df, uniqueKeys = true) } // 6 ~8 KB files
    def live(): Seq[FileEntry] = {
      val lg = new CommitLog(t, spark.sessionState.newHadoopConf())
      kt.bucketVersionsAt(kt.latestVersion).toSeq.flatMap { case (b, v) =>
        lg.readCommit(v).files.toSeq.flatMap(_.getOrElse(b, Nil))
      }
    }
    // trickle inserts whose hashes land in GAPS between the seed files'
    // disjoint ranges: no candidate file intersects, so each lands as a
    // new tiny file — the real-world small-file accumulation shape
    val seed = live().sortBy(_.minHash)
    assert(seed.size == 6)
    val gaps = seed.sliding(2).collect {
      case Seq(a, b) if a.maxHash + 1 < b.minHash => (a.maxHash, b.minHash)
    }.toSeq
    assert(gaps.size >= 2, "seed files should leave hash-range gaps")
    val cand = (3001L to 40000L).toDF("id")
      .withColumn("h", xxhash64(col("id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def pickIn(g: (Long, Long)): Long =
      cand.find { case (_, h) => h > g._1 && h < g._2 }
        .getOrElse(sys.error(s"no candidate id hashes into gap $g"))._1
    Seq(pickIn(gaps.head), pickIn(gaps.last)).foreach { id =>
      kt.upsert(Seq((id, -1.0)).toDF("id", "v"), uniqueKeys = true)
    }
    val before = live()
    assert(before.size == 8, s"expected 6 seed + 2 gap files, got ${before.size}")
    val bigs = before.filter(_.bytes >= 4096).map(_.path).toSet
    assert(bigs.size == 6, s"seed files should exceed 4 KB, sizes=${before.map(_.bytes)}")
    val preV = kt.latestVersion
    val v = kt.compact(minFileBytes = 4096)
    assert(v == preV + 1)
    val after = live()
    assert(after.size == 7, s"2 smalls should pack into 1, got ${after.size} files")
    assert(bigs.subsetOf(after.map(_.path).toSet),
      "files above the threshold must carry forward untouched")
    // layout-only: contents identical, zero change rows
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 3002 && m.count(_._2 == -1.0) == 2)
    assert(kt.changesSince(preV).count() == 0, "compaction must emit no cdf rows")
    // nothing left to pack (a single small file stays put)
    assert(kt.compact(minFileBytes = 4096) == v)
  }

  test("auto-compact folds small carried files so a hot bucket's file count stays bounded") {
    val t = tmp()
    val df = (1L to 4000L).map(i => (i, 0.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(250) { kt.upsert(df, uniqueKeys = true) } // 16 seed files
    spark.conf.set("spark.graft.autoCompact.maxFiles", "6")
    try {
      // 12 point merges at default targetFileRows: without compaction the
      // bucket would trend toward 16+ files; folding must hold it at ≤6
      (1 to 12).foreach { i =>
        kt.upsert(Seq((i * 300L, i * 1.0)).toDF("id", "v"), uniqueKeys = true)
        val files = manifestOf(t, kt.latestVersion)(0)
        assert(files.size <= 6,
          s"v=${kt.latestVersion}: bucket holds ${files.size} files, cap is 6")
      }
    } finally spark.conf.unset("spark.graft.autoCompact.maxFiles")
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 4000 && (1 to 12).forall(i => m(i * 300L) == i * 1.0),
      "auto-compact changed table contents")
    // manifest bytes are real: every live entry carries its file length
    val live = manifestOf(t, kt.latestVersion)(0)
    assert(live.forall(_.bytes > 0L), "manifest entries must record file bytes")
  }

  test("auto-compact fold eligibility: files at/above foldMaxFileBytes never fold on write") {
    // The steady-state hazard this pins: a mature bucket at maxFiles
    // full-sized files + small budgeted batches would, without the
    // eligibility cap, fold one FULL-SIZED file on every insert-bearing
    // commit (table-size-proportional write cost per batch — the curve
    // the membership probe exists to keep flat). Graduated files must
    // carry untouched; only the small tail folds among itself.
    val t = tmp()
    val df = (1L to 4000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(500) { kt.upsert(df, uniqueKeys = true) } // 8 seed files, ~5 KB each
    val seed = manifestOf(t, 1L)(0)
    assert(seed.size == 8, s"seed shape drifted: ${seed.size} files")
    // cap = the smallest seed's size, so every seed file sits AT/ABOVE
    // the fold cap ⇒ graduated, while the 1-row insert files fall far
    // below it; bucket capped at 4 files so the fold is desperate to
    // trigger, probe on so the inserts never force a rewrite through
    // matching either
    spark.conf.set("spark.graft.autoCompact.maxFiles", "4")
    spark.conf.set("spark.graft.autoCompact.foldMaxFileBytes",
      seed.map(_.bytes).min.toString)
    spark.conf.set("spark.graft.merge.matchPruneMinBytes", "0")
    try {
      (1 to 6).foreach { i =>
        kt.upsert(Seq((100000L + i, -i * 1.0)).toDF("id", "v"), uniqueKeys = true)
        val live = manifestOf(t, kt.latestVersion)(0)
        assert(seed.map(_.path).toSet.subsetOf(live.map(_.path).toSet),
          s"wave $i folded a graduated file (>= foldMaxFileBytes) into a write")
      }
      // the small insert files DO keep folding among themselves: the
      // live manifest holds the 8 graduated seeds plus a small tail
      // strictly below seeds+waves (i.e. some tiny files were packed)
      val live = manifestOf(t, kt.latestVersion)(0)
      assert(live.size < 8 + 6, s"small tail never folded: ${live.size} files")
      val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m.size == 4006 && (1 to 6).forall(i => m(100000L + i) == -i * 1.0) &&
        m(1234L) == 1234.0, "fold eligibility changed table contents")
    } finally {
      spark.conf.unset("spark.graft.autoCompact.maxFiles")
      spark.conf.unset("spark.graft.autoCompact.foldMaxFileBytes")
      spark.conf.unset("spark.graft.merge.matchPruneMinBytes")
    }
  }

  private def withMatchProbe[T](minBytes: Long)(f: => T): T = {
    // raise the auto-compact fold cap too: these accounting tests hold
    // 20+ small files per bucket, and the fold (correctly) rewriting
    // the smallest tail would conflate with what the probe carries
    spark.conf.set("spark.graft.merge.matchPruneMinBytes", minBytes.toString)
    spark.conf.set("spark.graft.autoCompact.maxFiles", "64")
    try f finally {
      spark.conf.unset("spark.graft.merge.matchPruneMinBytes")
      spark.conf.unset("spark.graft.autoCompact.maxFiles")
    }
  }

  test("membership probe: insert-only merge carries EVERY existing file") {
    // Range pruning alone cannot help an insert-heavy batch: uniformly
    // distributed new hashes land inside every file's [min,max] span
    // while matching no existing row. The probe must detect zero true
    // matches and carry all seed files by reference, appending the
    // inserts as new files — the property that keeps per-commit drain
    // write cost flat in TABLE size at 100 TB (bench/CONSTBATCH_r13.jsonl).
    val t = tmp()
    val df = (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    assert(before.size == 20, s"seed should split into 20 files, got ${before.size}")
    val inserts = (20001L to 20100L).map(i => (i, -i * 1.0)).toDF("id", "v")
    withSmallFiles(1000) { withMatchProbe(0L) {
      kt.upsert(inserts, uniqueKeys = true)
    } }
    val after = manifestOf(t, 2L)(0)
    assert(before.map(_.path).toSet.subsetOf(after.map(_.path).toSet),
      "insert-only merge rewrote a file that provably holds no staged key")
    assert(after.size == before.size + 1,
      s"inserts should land as exactly 1 new file, got ${after.size} entries")
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 20100 && m(20050L) == -20050.0 && m(123L) == 123.0)
    // cdf carries the inserts (and nothing else)
    assert(kt.changesSince(1L).where(col("_change_type") === "insert").count() == 100)
    assert(kt.changesSince(1L).count() == 100)
  }

  test("membership probe A/B: the same inserts rewrite files when the probe is off") {
    // Control for the test above: with the probe gated off (its default
    // 32 MB floor), range pruning alone keeps every range-hit candidate
    // and the merge rewrites seed bytes for a pure-insert batch. Pins
    // that the insert-only carry really is the probe's doing, not an
    // accident of range geometry.
    val t = tmp()
    val df = (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    val inserts = (20001L to 20100L).map(i => (i, -i * 1.0)).toDF("id", "v")
    withSmallFiles(1000) { kt.upsert(inserts, uniqueKeys = true) }
    val after = manifestOf(t, 2L)(0)
    val replaced = before.map(_.path).toSet.diff(after.map(_.path).toSet)
    assert(replaced.nonEmpty,
      "with the probe off, 100 uniform inserts should range-hit (and rewrite) " +
        "at least one of 20 seed files — if this starts passing, the range " +
        "refinement got membership-exact and the probe may be redundant")
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 20100 && m(20050L) == -20050.0)
  }

  test("membership probe: mixed batch rewrites ONLY the matched file") {
    val t = tmp()
    val df = (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    val batch = ((20001L to 20100L).map(i => (i, -1.0)) :+ (500L, 0.5)).toDF("id", "v")
    withSmallFiles(1000) { withMatchProbe(0L) {
      kt.upsert(batch, uniqueKeys = true)
    } }
    val after = manifestOf(t, 2L)(0)
    val replaced = before.map(_.path).toSet.diff(after.map(_.path).toSet)
    assert(replaced.size == 1,
      s"exactly the file holding id=500 should rewrite, got ${replaced.size}")
    val h500 = Seq(500L).toDF("id").select(xxhash64(col("id"))).collect().head.getLong(0)
    val old = before.find(e => replaced(e.path)).get
    assert(old.minHash <= h500 && h500 <= old.maxHash,
      "probe rewrote a file whose range does not contain the updated key")
    val m = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.size == 20100 && m(500L) == 0.5 && m(501L) == 501.0)
    val cdf = kt.changesSince(1L)
    assert(cdf.where(col("_change_type") === "insert").count() == 100)
    assert(cdf.where(col("_change_type") === "update_postimage").count() == 1)
  }

  test("adaptive sketch tier: thin-spread mid-size batches sketch; wide and concentrated stay exact") {
    // r14 verdict #6 + the r15 risk-routing refinement. The fixed
    // 2000-row sketch cut is a proxy; the real decision variables are
    // (a) the TOTAL expected falsely-kept files
    // Σ_files min(1, staged-hashes-in-span × fpp) — computable at plan
    // time from the planning aggregate + manifest spans — and (b) each
    // FILE's own false-keep probability (risk routing). Three regimes:
    //  - THIN-SPREAD mid-size (3000 rows over 320 narrow files, ~9
    //    trials/file): per-file risk ~0.9%, total estimate ~3 → the
    //    read-free footer-sketch probe, above the old fixed cut;
    //  - WIDE same-layout (8000 rows → ~25 trials/file): total
    //    estimate ~8 crosses the target → exact (the naive all-sketch
    //    design's measured failure mode — n·fpp keeps every file);
    //  - CONCENTRATED (3000 rows inside 30 files' spans, ~100
    //    trials/file): per-file false-keep ≈ 10% → risk-routes to the
    //    exact probe, whose read is bounded by exactly the files the
    //    batch focuses on.
    val t = tmp()
    def pad = md5(concat(col("id").cast("string"), lit("p"))) // incompressible filler
    val df = spark.range(1, 320001).select(col("id"),
      pad.alias("pad"), (col("id") * 1.0).alias("v"))
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    // 320 files in one bucket: the auto-compact fold (maxFiles) must be
    // lifted clear or its rewrites conflate with the probe's keeps
    def withProbe[T](f: => T): T = {
      spark.conf.set("spark.graft.merge.matchPruneMinBytes", "0")
      spark.conf.set("spark.graft.autoCompact.maxFiles", "1024")
      try f finally {
        spark.conf.unset("spark.graft.merge.matchPruneMinBytes")
        spark.conf.unset("spark.graft.autoCompact.maxFiles")
      }
    }
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val seed = manifestOf(t, 1L)(0).sortBy(_.minHash)
    assert(seed.size == 320, s"seed shape drifted: ${seed.size} files")
    assert(seed.forall(_.bloom), "seed files must carry key-hash sketches")

    // THIN-SPREAD: 3000 new uniform keys — sketch; false keeps bounded
    // by the estimate (~3 of 320 files)
    val thin = spark.range(1000000, 1003000)
      .select(col("id"), pad.alias("pad"), lit(-1.0).alias("v"))
    ProbeDebug.record("none", -1.0)
    withSmallFiles(1000) { withProbe {
      kt.upsert(thin, uniqueKeys = true)
    } }
    assert(ProbeDebug.lastTier == "sketch",
      s"thin-spread mid-size batch must take the sketch tier, took " +
        s"${ProbeDebug.lastTier} (est ${ProbeDebug.lastEstFalseKept})")
    assert(ProbeDebug.lastEstFalseKept > 0 && ProbeDebug.lastEstFalseKept <= 4.0,
      s"estimate out of range: ${ProbeDebug.lastEstFalseKept}")
    // pure inserts: sketch false keeps are the ONLY rewrites, and the
    // plan-time estimate (~3) bounds them — a blowout here means the
    // written sketches miss their fpp (the sf10 saturation failure)
    val after = manifestOf(t, 2L)(0)
    val falselyKept = seed.map(_.path).toSet.diff(after.map(_.path).toSet).size
    assert(falselyKept <= 12,
      s"thin insert batch rewrote $falselyKept files; expected ~3 sketch " +
        "false keeps — written sketches may be saturated")

    // WIDE: 8000 new uniform keys — the total estimate crosses the
    // target and the probe stays exact
    val wide = spark.range(2000000, 2008000)
      .select(col("id"), pad.alias("pad"), lit(-2.0).alias("v"))
    ProbeDebug.record("none", -1.0)
    withSmallFiles(1000) { withProbe {
      kt.upsert(wide, uniqueKeys = true)
    } }
    assert(ProbeDebug.lastTier == "exact",
      s"wide mid-size batch must keep the exact probe, took " +
        s"${ProbeDebug.lastTier} (est ${ProbeDebug.lastEstFalseKept})")
    assert(ProbeDebug.lastEstFalseKept > 4.0,
      s"wide-batch estimate should cross the target: ${ProbeDebug.lastEstFalseKept}")

    // CONCENTRATED: 3000 new keys inside 30 adjacent seed files'
    // spans (~100 trials per candidate, false-keep ≈ 10% each) — risk
    // routing sends them to the exact probe
    val (lo, hi) = (seed(100).minHash, seed(129).maxHash)
    val conc = spark.range(3000000, 4000000)
      .where(xxhash64(col("id")).between(lo, hi)).limit(3000)
      .select(col("id"), pad.alias("pad"), lit(-3.0).alias("v"))
    val nConc = conc.count()
    assert(nConc > 2000, s"need a mid-size concentrated batch, got $nConc")
    ProbeDebug.record("none", -1.0)
    withSmallFiles(1000) { withProbe {
      kt.upsert(conc, uniqueKeys = true)
    } }
    assert(ProbeDebug.lastTier == "exact",
      s"concentrated batch must risk-route to the exact probe, took " +
        s"${ProbeDebug.lastTier} (est ${ProbeDebug.lastEstFalseKept})")
    // contents intact through every tier
    assert(kt.snapshot().count() == 320000 + 3000 + 8000 + nConc)
  }

  test("risk routing: a full-span consolidated file exact-probes; narrow splits sketch") {
    // the sf10 snowball's mechanism, pinned: a bucket consolidated into
    // ONE file spans the bucket's whole hash range (bucket residue does
    // not bound hash VALUES), so EVERY staged hash is a bloom trial —
    // at 100 staged rows the per-file false-keep is ~10% and each false
    // keep re-merges the file bigger. Such files must route to the
    // exact read probe; the same batch against a hash-sorted multi-file
    // split (narrow spans, ~no trials per file) must keep the sketch.
    def pad = md5(concat(col("id").cast("string"), lit("p")))
    val df = spark.range(1, 100001).select(col("id"),
      pad.alias("pad"), (col("id") * 1.0).alias("v"))
    def seedAndProbe(t: String, fileRows: Long): String = {
      val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
      withSmallFiles(fileRows) { kt.upsert(df, uniqueKeys = true) }
      ProbeDebug.record("none", -1.0)
      withSmallFiles(fileRows) { withMatchProbe(0L) {
        kt.upsert(spark.range(5000000, 5000100)
          .select(col("id"), pad.alias("pad"), lit(-1.0).alias("v")),
          uniqueKeys = true)
      } }
      ProbeDebug.lastTier
    }
    assert(seedAndProbe(tmp(), 200000) == "exact", // 1 file, full span
      "a full-span consolidated file must route to the exact probe")
    assert(seedAndProbe(tmp(), 10000) == "sketch", // 10 narrow files
      "narrow-span split files must keep the footer-sketch probe")
  }

  test("membership probe: fused delete keys keep their files rewritable") {
    // The probe input unions the staged AND fused-delete hashes: a file
    // holding only a to-delete row must never carry forward, or the
    // delete silently survives. Exercised through the public delete()
    // (same splitByHashRange path with the delete keys as `staged`).
    val t = tmp()
    val df = (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    withMatchProbe(0L) { kt.delete(Seq(700L, 9000L).toDF("id")) }
    val after = manifestOf(t, 2L)(0)
    val replaced = before.map(_.path).toSet.diff(after.map(_.path).toSet)
    assert(replaced.size <= 2 && replaced.nonEmpty,
      s"only the files holding the deleted keys may rewrite, got ${replaced.size}")
    assert(kt.snapshot().count() == 19998)
    assert(kt.snapshot().where(col("id").isin(700L, 9000L)).count() == 0)
  }

  test("key-hash sketches ride the manifest and carry forward by reference") {
    // writeFused enables a parquet bloom on the stored hash column; the
    // footer pass records its presence per file, the manifest codecs
    // (commit JSON and parquet sidecar) round-trip it, and a carried
    // entry keeps the flag — so the driver-side probe stays available
    // for files written arbitrarily many commits ago
    val t = tmp()
    val df = (1L to 20000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    val before = manifestOf(t, 1L)(0)
    assert(before.forall(_.bloom),
      "every seed file must carry a key-hash sketch in its footer")
    withSmallFiles(1000) { withMatchProbe(0L) {
      kt.upsert(Seq((500L, 0.5)).toDF("id", "v"), uniqueKeys = true)
    } }
    val after = manifestOf(t, 2L)(0)
    val carried = after.filter(e => before.exists(_.path == e.path))
    assert(carried.size == 19 && carried.forall(_.bloom),
      "carried manifest entries must keep their sketch flag")
    assert(after.forall(_.bloom), "the rewritten file must be re-sketched")
  }

  test("sketch-less files fall back to the exact read probe (mixed candidates)") {
    // files written with blooms disabled must still be membership-pruned
    // by the column-scan fallback, including when one merge's candidate
    // set mixes sketched and plain files
    val t = tmp()
    val df = (1L to 10000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    spark.conf.set("spark.graft.manifest.bloom", "false")
    try withSmallFiles(1000) { kt.upsert(df, uniqueKeys = true) }
    finally spark.conf.unset("spark.graft.manifest.bloom")
    val seed = manifestOf(t, 1L)(0)
    assert(seed.forall(!_.bloom), "bloom-off writes must not claim sketches")
    // second commit WITH sketches: inserts only (small enough that the
    // probe's staged-size guard stays open), far hash range irrelevant
    withSmallFiles(1000) { withMatchProbe(0L) {
      kt.upsert((10001L to 10100L).map(i => (i, -i * 1.0)).toDF("id", "v"),
        uniqueKeys = true)
    } }
    val m2 = manifestOf(t, 2L)(0)
    assert(seed.map(_.path).toSet.subsetOf(m2.map(_.path).toSet),
      "exact fallback must carry sketch-less files an insert batch misses")
    assert(m2.exists(_.bloom) && m2.exists(!_.bloom), "mixed candidate set")
    // third commit: a point update into a PLAIN file + one into a
    // SKETCHED file — both tiers must pick exactly their file
    val beforeAll = m2
    withSmallFiles(1000) { withMatchProbe(0L) {
      kt.upsert(Seq((700L, 7.7), (10050L, 11.11)).toDF("id", "v"),
        uniqueKeys = true)
    } }
    val m3 = manifestOf(t, 3L)(0)
    val replaced = beforeAll.map(_.path).toSet.diff(m3.map(_.path).toSet)
    assert(replaced.size <= 2 && replaced.nonEmpty,
      s"only the files holding the two updated keys may rewrite, got ${replaced.size}")
    val snap = kt.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap.size == 10100 && snap(700L) == 7.7 && snap(10050L) == 11.11 &&
      snap(699L) == 699.0 && snap(10049L) == -10049.0)
  }

  test("describeHealth reports graduated counts and flags soft-bound buckets") {
    val t = tmp()
    val df = (1L to 4000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val kt = KeyedTable.create(spark, t, df.schema, keys = Seq("id"), numBuckets = 1)
    withSmallFiles(500) { kt.upsert(df, uniqueKeys = true) } // 8 small files
    // fold cap below every file size ⇒ all graduated; maxFiles below
    // the count ⇒ the write-time bound is soft and the bucket must flag
    spark.conf.set("spark.graft.autoCompact.foldMaxFileBytes", "1024")
    spark.conf.set("spark.graft.autoCompact.maxFiles", "4")
    try {
      val h = kt.describeHealth().collect()
      assert(h.length == 1)
      val r = h.head
      assert(r.getAs[Int]("bucket") == 0 && r.getAs[Int]("files") == 8)
      assert(r.getAs[Int]("graduated_files") == 8 &&
        r.getAs[Int]("small_files") == 0)
      assert(r.getAs[Boolean]("over_bound"),
        "a bucket with > maxFiles graduated files must flag over_bound")
    } finally {
      spark.conf.unset("spark.graft.autoCompact.foldMaxFileBytes")
      spark.conf.unset("spark.graft.autoCompact.maxFiles")
    }
    // with default knobs the same files are small and within bound
    val r2 = kt.describeHealth().collect().head
    assert(r2.getAs[Int]("small_files") == 8 && !r2.getAs[Boolean]("over_bound"))
    assert(r2.getAs[Long]("small_bytes") == r2.getAs[Long]("bytes"))
    // compact() resolves the small-file tail; health reflects it
    kt.compact()
    assert(kt.describeHealth().collect().head.getAs[Int]("files") == 1)
  }
}
