package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** How a batch merges into a [[KeyedTable]].
  *
  * @param updateExprs per-column expressions for matched rows, referencing
  *                    `u.<col>` (target) and `s.<col>` (staged batch) —
  *                    the reference's `whenMatchedUpdate(set=...)`
  *                    (aggs.py:77, joins.py:700-702). None ⇒ replace the
  *                    whole row with the staged row.
  * @param insertExprs per-column expressions for unmatched staged rows —
  *                    `whenNotMatchedInsert(values=...)`. None ⇒ insert
  *                    the staged row as-is.
  */
final case class MergeSpec(
    updateExprs: Option[Map[String, Column]] = None,
    insertExprs: Option[Map[String, Column]] = None)

/** Table definition persisted in `_log/_meta.json`.
  *
  * @param keys         full logical key (bucket keys ++ nullable keys)
  * @param nullableKeys keys that may be null in stored rows (the
  *                     outer-join placeholder columns — the reference's
  *                     `pks[1]` split, joins.py:663-671); a stored row
  *                     with nulls here is "unmatched yet" and is upgraded
  *                     in place when a matching row arrives
  * @param seqCols      latest-wins ordering (streams.py:222); empty ⇒
  *                     an arbitrary row wins among same-key duplicates
  */
final case class TableMeta(
    keys: Seq[String],
    nullableKeys: Seq[String],
    seqCols: Seq[String],
    numBuckets: Int,
    schemaDdl: String,
    partitionCols: Seq[String] = Nil,
    prunedCols: Seq[String] = Nil,
    generatedCols: Seq[(String, String)] = Nil,
    internalCols: Seq[String] = Nil) {
  def bucketKeys: Seq[String] = keys.filterNot(nullableKeys.contains)
  // schema is read on every merge/snapshot/changesSince; parsing the
  // DDL each time is measurable driver CPU across a multi-stage drain
  def schema: StructType = TableMeta.parseDdl(schemaDdl)
}

/** Policy knobs for [[KeyedTable.maintain]], the one-call maintenance
  * driver. Defaults suit a large table on a scheduled cadence; the
  * retention passes are opt-in because their contracts (readers must
  * not lag past the retained window) are deployment policy, not
  * engine-decidable.
  *
  * @param targetBucketBytes      grow the bucket modulus (stepped
  *                               [[KeyedTable.autoRebucket]]) once the
  *                               average live bucket exceeds this
  * @param maxBuckets             growth cap
  * @param clusterCols            re-cluster over-bound buckets by these
  *                               columns ([[KeyedTable.optimizeIncremental]]);
  *                               empty disables the clustering pass
  * @param bucketsPerStep         range size of the clustering pass
  * @param compactMinFileBytes    pack buckets holding 2+ files under
  *                               this size ([[KeyedTable.compact]])
  * @param vacuumRetainVersions   when set, [[KeyedTable.vacuum]] runs
  *                               with this retention (before truncation)
  * @param truncateRetainVersions when set, [[KeyedTable.truncateLog]]
  *                               runs with this retention
  */
final case class MaintenancePolicy(
    targetBucketBytes: Long = 2L << 30,
    maxBuckets: Int = 1 << 14,
    clusterCols: Seq[String] = Nil,
    bucketsPerStep: Int = 64,
    compactMinFileBytes: Long = 32L << 20,
    vacuumRetainVersions: Option[Int] = None,
    truncateRetainVersions: Option[Int] = None)

/** What one [[KeyedTable.maintain]] call actually did.
  *
  * @param rebucketedTo new bucket modulus when growth ran
  * @param clustered    clustering step commits performed (0 = not owed)
  * @param compacted    whether a compaction commit happened
  */
final case class MaintenanceReport(
    rebucketedTo: Option[Int],
    clustered: Int,
    compacted: Boolean,
    vacuumed: Boolean,
    truncated: Boolean)

/** Test observability for the merge membership probe: which tier the
  * last [[KeyedTable.splitByHashRange]] probe pass ran and what the
  * adaptive estimate computed. */
private[graft] object ProbeDebug {
  @volatile var lastTier: String = ""       // "sketch" | "exact" | "mixed" | "skipped"
  @volatile var lastEstFalseKept: Double = -1.0
  def record(tier: String, est: Double): Unit = { lastTier = tier; lastEstFalseKept = est }
}

/** Test observability for [[KeyedTable.snapshotForKeys]]'s capped
  * probe collect: records whether the last point read stayed on the
  * hash-pruned path or fell back to the distributed semi-join. */
private[graft] object PointReadDebug {
  @volatile var lastProbeHashes: Int = -1
  @volatile var lastCapped: Boolean = false
  def record(n: Int, capped: Boolean): Unit = {
    lastProbeHashes = n; lastCapped = capped
  }
}

object TableMeta {
  private val ddlCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private[store] def parseDdl(ddl: String): StructType =
    ddlCache.computeIfAbsent(ddl, StructType.fromDDL)
}

/** A keyed, versioned, hash-bucketed parquet table with a change feed —
  * the storage primitive that stands in for Delta (+ CDF) in this
  * environment (SURVEY.md §3).
  *
  * Layout:
  * {{{
  *   <path>/_log/_meta.json           table definition
  *   <path>/_log/<version>.json       commit: which buckets were rewritten
  *   <path>/data/<dir>/b=<B>/         full parquet contents of bucket B as of
  *                                    the commit whose attempt-unique dir name
  *                                    (`v=<V>-<token>`, recorded in the commit)
  *                                    this is
  *   <path>/cdf/<dir>/                parquet change rows of that commit
  *                                    (_change_type, _commit_version)
  *   <path>/_cdf_pending/<dir>/       change rows of a not-yet-won attempt
  *                                    (published into cdf/ after the claim)
  * }}}
  *
  * Scale design: `bucket = pmod(xxhash64(bucketKeys), numBuckets)`, and a
  * merge rewrites ONLY the buckets its batch touches — the batch side is
  * broadcast, the target side reads just those buckets' files, and no
  * full-table shuffle ever happens (the reference gets the same effect
  * from Delta MERGE file pruning + broadcast microbatches, README.md:105).
  * At 100 TB: numBuckets sized so a bucket is a few GB; a 1 GB microbatch
  * touches at most a handful of buckets.
  */
final class KeyedTable private (
    val spark: SparkSession,
    val path: String,
    meta0: TableMeta) {

  import KeyedTable._

  @volatile private var metaVar: TableMeta = meta0
  def meta: TableMeta = metaVar

  private val log = new CommitLog(path, spark.sessionState.newHadoopConf())
  // full-rewrite manifests (optimize/rebucket at high bucket counts)
  // spill to a parquet sidecar instead of MBs of inline commit JSON
  log.manifestSpillEntries = () => spark.conf
    .getOption("spark.graft.manifest.spillEntries").map(_.toInt).getOrElse(4096)

  /** Adds columns to the table schema (Delta's `mergeSchema` analog).
    * Existing bucket and cdf files stay untouched — every read goes
    * through the declared schema, and parquet null-fills fields a file
    * lacks. Added fields are forced nullable for exactly that reason;
    * a field whose name already exists is ignored (the declared type
    * wins — `writeFused` casts batches to it). Metadata-only: no data
    * rewrite at any scale. */
  def evolveSchema(newFields: Seq[StructField]): Unit = synchronized {
    // re-read persisted meta first so the widening applies to the
    // LATEST schema — another handle may have evolved it since this
    // one opened (narrows, but cannot fully close, the lost-update
    // window of concurrent evolveSchema calls; concurrent widenings of
    // DISJOINT fields should be serialized by the caller)
    refreshMeta()
    val existing = schema.fieldNames.toSet
    val adds = newFields.filterNot(f => existing.contains(f.name))
    if (adds.isEmpty) return
    val next = metaVar.copy(schemaDdl =
      StructType(schema.fields ++ adds.map(_.copy(nullable = true))).toDDL)
    log.writeMeta(metaToJson(next))
    metaVar = next
  }

  // single-writer replay cache: avoids re-reading the whole commit log
  // on every merge/snapshot of a long-lived table handle (external
  // writers invalidate it implicitly because latestVersion is re-listed)
  @volatile private var bvCache: (Long, Map[Int, Long]) = (-1L, Map.empty)

  private[graft] def bucketVersionsAt(v: Long): Map[Int, Long] = {
    val cached = bvCache
    if (cached._1 == v) cached._2
    else if (cached._1 >= 0 && cached._1 < v &&
        cached._1 > log.floorForRead(cached._1)) {
      // floorForRead, NOT the cached truncationFloor: a cross-process
      // truncation past `cached._1` leaves this handle's floor cache
      // stale while versions() freshly lists only the retained tail —
      // the cached-floor guard would pass and the fold would silently
      // skip every commit in (cached, floor], resurrecting buckets
      // emptied (or rewritten) inside the skipped range. floorForRead
      // detects the gap from the listed head (commit ids are dense;
      // truncation deletes contiguously from the bottom) and re-reads
      // the floor file, so a stale cache falls through to the exact
      // cold checkpoint replay below.
      // forward extension: fold ONLY the commits in (cached, v] on top
      // of the cached exact map, instead of replaying from the newest
      // checkpoint (up to a whole checkpoint interval of commits) —
      // the same economics as the commit-listing memo. Hit whenever
      // another writer advanced the log under this handle. NOT taken
      // when the cached version fell at/below a truncation floor: the
      // extension would fold SYNTHESIZED records for truncated commits,
      // which carry owned buckets but not `emptied` ones — a bucket
      // emptied inside the truncated range would survive as a stale
      // entry. The cold replay below starts from the floor checkpoint
      // and is exact.
      var acc = cached._2
      log.versions().iterator.filter(x => x > cached._1 && x <= v).foreach { ver =>
        val info = log.readCommit(ver)
        info.buckets.foreach(b => acc += b -> ver)
        info.emptied.foreach(b => acc -= b)
      }
      bvCache = (v, acc)
      acc
    } else {
      val bv = log.bucketVersions(v)
      bvCache = (v, bv)
      bv
    }
  }

  def schema: StructType = meta.schema
  def dataCols: Seq[String] = schema.fieldNames.toSeq
  def latestVersion: Long = log.latestVersion()

  /** Name of the directory (under `data/` and `cdf/`) holding commit
    * `v`'s files — attempt-unique since OCC (SURVEY §6g-1). */
  private[graft] def dataDirOf(v: Long): String = log.dirOf(v)

  private def autoMergeOn: Boolean =
    spark.conf.getOption("spark.graft.schema.autoMerge").contains("true")

  /** Re-reads the persisted meta, picking up schema evolution performed
    * through ANOTHER handle of the same table — drain-mode pipelines
    * hold long-lived handles per stage, and an upstream writer may
    * widen the schema between drains (§6f-4). One small-file read; only
    * exercised when `spark.graft.schema.autoMerge` opts in. */
  def refreshMeta(): Unit = {
    val m = KeyedTable.metaFromJson(log.readMeta())
    if (m != metaVar) metaVar = m
  }

  def cdfSchema: StructType =
    StructType(schema.fields ++ Array(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType)))

  /** The 64-bit key hash bucketing derives from — ALSO the per-file
    * pruning order: data files are written sorted by it and a commit
    * manifest records each file's [min,max], so point merges/reads
    * touch only the files a key hash can live in. */
  private def keyHashExpr(qual: String => Column): Column =
    xxhash64(meta.bucketKeys.map(qual): _*)

  private def bucketExpr(qual: String => Column): Column =
    pmod(keyHashExpr(qual), lit(meta.numBuckets)).cast("int")

  private def emptyDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Live data bytes summed from the commit manifests — plan-cost-free
    * (cached log reads, no filesystem access); legacy entries without
    * byte records count 0. Drives size-based strategy choices (e.g.
    * whether delete retraction maintains an index or just scans). */
  def liveManifestBytes: Long =
    bucketVersionsAt(latestVersion).toSeq.map { case (b, v) =>
      log.readCommit(v).files
        .map(_.getOrElse(b, Nil).map(_.bytes).sum).getOrElse(0L)
    }.sum

  /** Full table contents as of `version` (default: latest). Engine
    * bookkeeping columns (`meta.internalCols`, e.g. an agg stage's
    * hidden row count) are stripped — they exist for the maintaining
    * stage, not for readers. */
  def snapshot(version: Long = -1L): DataFrame =
    stripInternal(snapshotFull(version))

  /** [[snapshot]] including internal columns — for engine passes that
    * rebuild or maintain the table (layout rewrites, the agg stage's
    * emptiness check). */
  private[graft] def snapshotFull(version: Long = -1L): DataFrame = {
    if (autoMergeOn) refreshMeta() // an evolved writer's columns must appear
    val v = if (version < 0) latestVersion else version
    require(version < 0 || v > log.floorForRead(v - 1),
      s"time travel to version $v is below the log truncation floor " +
        s"${log.truncationFloor} on $path")
    val bv = bucketVersionsAt(v)
    if (bv.isEmpty) emptyDf
    else readBuckets(bv.toSeq)
  }

  private def stripInternal(df: DataFrame): DataFrame =
    if (meta.internalCols.isEmpty) df else df.drop(meta.internalCols: _*)

  /** Current file paths of bucket `b` whose owning commit is `v`:
    * manifest entries when the commit records them (possibly referencing
    * OLDER commits' dirs — files a pruned merge carried forward), else
    * the legacy whole-dir path. */
  private[graft] def bucketFilePaths(b: Int, v: Long): Seq[String] =
    log.readCommit(v).files match {
      case Some(m) => m.getOrElse(b, Nil).map(e => s"$path/${e.path}")
      case None    => Seq(s"$path/data/${log.dirOf(v)}/b=$b")
    }

  /** Reads the live files of `bv`. When every bucket is manifest-backed
    * (bytes recorded), the scan goes through [[GraftFileIndex]]: the
    * file list comes straight from the commit log (no FS listing at
    * plan time) and pushed-down filters prune whole files against the
    * manifest's per-column zone maps before any task launches. Legacy
    * dir-granular buckets fall back to the listing-based reader. */
  private def readBuckets(bv: Seq[(Int, Long)]): DataFrame = {
    val perBucket: Seq[Either[String, Seq[FileEntry]]] = bv.map { case (b, v) =>
      log.readCommit(v).files match {
        case Some(m) => Right(m.getOrElse(b, Nil))
        case None    => Left(s"$path/data/${log.dirOf(v)}/b=$b")
      }
    }
    val entries = perBucket.collect { case Right(es) => es }.flatten
    val legacyDirs = perBucket.collect { case Left(p) => p }
    if (legacyDirs.isEmpty && entries.forall(_.bytes > 0)) {
      if (entries.isEmpty) emptyDf
      else {
        val fi = new GraftFileIndex(spark, path, schema, entries)
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          fi, new StructType(), schema, None,
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
          Map.empty)(spark)
        spark.baseRelationToDataFrame(rel).select(dataCols.map(col): _*)
      }
    } else readPaths(legacyDirs ++ entries.map(e => s"$path/${e.path}"))
  }

  private def readPaths(paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyDf
    // explicit schema: skips the footer-sampling schema-inference job
    // that would otherwise run on EVERY snapshot/merge read (data files
    // may carry extra all-null cdf columns from the fused write; the
    // projection below ignores them)
    else spark.read.schema(schema).parquet(paths: _*).select(dataCols.map(col): _*)

  /** Bucket- AND file-pruned point reads: rows whose bucket keys appear
    * in `keys`. The keys hash to a bucket set (one tiny action), only
    * those buckets' files whose manifest [min,max] hash range contains a
    * probe hash are read, and a broadcast semi-join filters within-file
    * rows — at 100 TB a point lookup reads a few files of one ~GB
    * bucket, not the table (the reader-side counterpart of merge's
    * file pruning). `keys` is assumed point-lookup-sized: its distinct
    * hashes are collected to the driver. */
  def snapshotForKeys(keys: DataFrame, version: Long = -1L,
      includeInternal: Boolean = false): DataFrame = {
    require(meta.bucketKeys.forall(keys.columns.contains),
      s"keys must carry all bucket key columns ${meta.bucketKeys.mkString(",")}")
    // mirror snapshot(): at or below the truncation floor there is no
    // checkpoint to replay from — bucketVersionsAt would come back empty
    // and the read would silently return no rows instead of failing
    require(version < 0 || version > log.floorForRead(version - 1),
      s"point read at version $version is below the log truncation floor " +
        s"${log.truncationFloor} on $path")
    if (autoMergeOn) refreshMeta()
    // bucket ids derive from hash mod numBuckets — a rebucket by another
    // handle silently invalidates them (plain snapshot() is immune: its
    // bucket ids come from the commits themselves)
    val ep = epochAt(if (version < 0) latestVersion else version)
    if (ep >= 0 && ep != meta.numBuckets) refreshMeta()
    // the layout at the READ version hashed with ITS epoch's modulus.
    // For a current read the refresh above re-aligns meta; for a
    // TIME-TRAVEL read to a pre-rebucket version the mismatch persists
    // by design — probing with the current modulus against the old
    // layout would silently return missing rows, so the probe always
    // uses the version's own epoch when the log records one.
    val modulus = if (ep >= 0) ep else meta.numBuckets
    val k = keys.select(meta.bucketKeys.map(col): _*).distinct()
      .withColumn(KHashCol, keyHashExpr(col))
    // the probe hashes drive file-granular pruning and are collected
    // driver-side — CAPPED: an unbudgeted first drain over a giant
    // delete backlog, or a user-supplied million-key probe, would
    // otherwise materialize an unbounded array in the driver.
    // limit(max+1) bounds the collect itself; past the cap the read
    // falls back to bucket-set pruning only (that collect is bounded
    // by the bucket modulus, never by key count) with a distributed
    // semi-join filter in place of the broadcast.
    val maxKeys = spark.conf.getOption("spark.graft.pointRead.maxKeys")
      .map(_.toInt).getOrElse(1 << 20)
    val collected = k.select(col(KHashCol)).distinct()
      .limit(maxKeys + 1).collect()
    val capped = collected.length > maxKeys
    PointReadDebug.record(collected.length, capped)
    val vAt = if (version < 0) latestVersion else version
    // NULL-SAFE probe filter: a plain USING equi-join silently drops
    // null-key rows — table keys can be nullable (nullableKeys; agg
    // group keys over outer-join placeholders are null), and a point
    // read that cannot see them corrupts every consumer that trusts it
    // as the current state (the agg zero-group check classified a LIVE
    // null-key group as emptied exactly this way — RandomizedEquivalence
    // seed 67). Write- and probe-side hashes agree on nulls (xxhash64
    // folds a null field the same way on both), so only the final
    // row filter needed the null-safe form.
    val probeCond = meta.bucketKeys
      .map(kk => col(s"t.$kk") <=> col(s"p.$kk")).reduce(_ && _)
    if (capped) {
      val buckets = k
        .select(pmod(col(KHashCol), lit(modulus.toLong)).cast("int").alias("__b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val bv = bucketVersionsAt(vAt).filter { case (b, _) => buckets.contains(b) }
      if (bv.isEmpty) emptyDf
      else {
        val paths = bv.toSeq.flatMap { case (b, v) =>
          log.readCommit(v).files match {
            case Some(m) => m.getOrElse(b, Nil).map(e => s"$path/${e.path}")
            case None => Seq(s"$path/data/${log.dirOf(v)}/b=$b")
          }
        }
        val rows = readPaths(paths).alias("t")
          .join(k.drop(KHashCol).alias("p"), probeCond, "left_semi")
        if (includeInternal) rows else stripInternal(rows)
      }
    } else {
      val hashes = collected.map(_.getLong(0)).sorted
      val buckets = hashes
        .map(h => java.lang.Math.floorMod(h, modulus.toLong).toInt).toSet
      val bv = bucketVersionsAt(vAt)
        .filter { case (b, _) => buckets.contains(b) }
      if (bv.isEmpty) emptyDf
      else {
        def anyProbeIn(mn: Long, mx: Long): Boolean = {
          var i = java.util.Arrays.binarySearch(hashes, mn)
          if (i < 0) i = -i - 1
          i < hashes.length && hashes(i) <= mx
        }
        val paths = bv.toSeq.flatMap { case (b, v) =>
          log.readCommit(v).files match {
            case Some(m) => m.getOrElse(b, Nil)
              .filter(e => anyProbeIn(e.minHash, e.maxHash))
              .map(e => s"$path/${e.path}")
            case None => Seq(s"$path/data/${log.dirOf(v)}/b=$b")
          }
        }
        val rows = readPaths(paths).alias("t")
          .join(broadcast(k.drop(KHashCol).alias("p")), probeCond, "left_semi")
        if (includeInternal) rows else stripInternal(rows)
      }
    }
  }

  /** Change rows with `_commit_version > sinceVersion`, batch form.
    * Version-pruned: the pending commits' dir names come from the
    * (cached) log, so a drain of a 1-commit tail on a 10k-commit table
    * touches ONE directory — a glob over the whole cdf root would list
    * and read every retained commit's changes only to filter them back
    * out. */
  def changesSince(sinceVersion: Long): DataFrame = {
    if (autoMergeOn) refreshMeta() // evolved cdf columns must appear
    // below-floor feeds would silently come back partial — fail loudly
    // (floorForRead refreshes the cached floor when the listing shows a
    // cross-process truncation gap)
    require(sinceVersion >= log.floorForRead(sinceVersion),
      s"change feed from version $sinceVersion is below the log truncation " +
        s"floor ${log.truncationFloor} on $path")
    val fs = hfs
    val paths = log.versions().filter(_ > sinceVersion)
      .map(v => new org.apache.hadoop.fs.Path(s"$path/cdf/${log.dirOf(v)}"))
      // a commit may have produced no change files (layout-only rewrite)
      .filter(fs.exists)
    if (paths.isEmpty)
      stripInternal(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), cdfSchema))
    else
      stripInternal(spark.read.schema(cdfSchema).parquet(paths.map(_.toString): _*)
        // rows below the floor can still appear: recovery may publish a
        // pending dir whose rows were superseded — the version column
        // stays authoritative
        .where(col("_commit_version") > sinceVersion))
  }

  /** Summed change-row counts `(upserts, deletes, contributing
    * commits)` over commits in `(afterVersion, upTo]`, from the log's
    * recorded per-commit counts — no Spark job, no file IO beyond
    * cached commit parses. None if any commit in the window predates
    * count recording; callers then count the feed itself (the batch
    * drain's pin-job fallback). */
  def changeCountsBetween(afterVersion: Long, upTo: Long)
      : Option[(Long, Long, Long, Int)] =
    log.cdfCountsBetween(afterVersion, math.min(upTo, latestVersion))

  /** The change feed as a Structured Streaming source — log-indexed
    * ([[CdfStreamSource]]): checkpoint offsets map to commit versions
    * through the cached log, so each trigger lists only ITS window's
    * cdf directories (the reference's Delta-log-indexed readChangeFeed,
    * streams.py:126-144; the earlier cdf-glob file source re-listed
    * every retained change file per trigger). `maxBytesPerTrigger`
    * bounds microbatch size by recorded cdf bytes (streams.py:128);
    * `maxCommitsPerTrigger` is the commit-count backstop. */
  def changeStream(maxCommitsPerTrigger: Int = 64,
      maxBytesPerTrigger: Long = 1L << 30): DataFrame =
    stripInternal(spark.readStream
      .format("graft-cdf")
      .option("maxCommitsPerTrigger", maxCommitsPerTrigger)
      .option("maxBytesPerTrigger", maxBytesPerTrigger)
      .load(path))

  /** Plain latest-wins upsert (the bronze-table write path).
    * `uniqueKeys = true` asserts the batch has at most one row per key,
    * skipping the within-batch latest-wins window (one shuffle less). */
  def upsert(batch: DataFrame, uniqueKeys: Boolean = false,
      batchId: Long = -1L): Long =
    merge(batch, MergeSpec(), uniqueKeys, batchId)

  // --- optimistic concurrency (SURVEY §6g-1) ------------------------------
  // Writers never coordinate: each attempt computes against the latest
  // version it can see, writes its files under an attempt-unique dir
  // name, and claims `latest + 1` by commit-file rename. Exactly one
  // claimant wins; a loser re-reads the new latest and replays. When the
  // winner's bucket set was DISJOINT from the loser's, the loser's data
  // files are still exactly right (none of its buckets moved) — it only
  // re-stamps the commit version baked into its pending cdf rows and
  // re-claims, never re-reading a bucket. Overlapping writers re-merge.

  /** Commit-claim losses this handle has survived (observability/spec). */
  @volatile private[graft] var occRetries: Int = 0

  /** Lost claims recovered by the cheap cdf re-stamp (disjoint winner)
    * instead of a full re-merge (observability/spec). */
  @volatile private[graft] var occRestamps: Int = 0

  // test seam: runs after files are written, immediately before the
  // commit claim — lets a spec deterministically interleave two writers
  private[graft] var preCommitHook: () => Unit = () => ()

  // buckets this handle has already warned about crossing the soft
  // file-count bound (see splitByHashRange's fold note)
  private val softBoundWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  // both hooks at every commit site: the instance hook reaches only the
  // handle a spec holds; the companion-global hook (path-keyed) reaches
  // handles created INTERNALLY by drain pipelines, which is what lets a
  // spec kill a drainer at a chosen commit boundary (crash injection)
  private def firePreCommit(): Unit = {
    KeyedTable.globalPreCommitHook(path)
    preCommitHook()
  }

  private def occMaxRetries: Int = spark.conf
    .getOption("spark.graft.occ.maxRetries").map(_.toInt).getOrElse(20)

  private def attemptDir(version: Long): String =
    s"v=$version-${java.util.UUID.randomUUID.toString.take(8)}"

  private def hfs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  // pending change rows live OUTSIDE cdf/ (not dot-hidden inside it —
  // Hadoop globs, unlike shell globs, match leading-dot names), so the
  // downstream `cdf/*` readers structurally cannot observe an attempt
  // that hasn't won its commit claim yet
  private def pendingCdfPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$path/_cdf_pending/$dir")

  /** Makes a winning commit's change rows visible: one rename from the
    * pending area into `cdf/` after the claim wins. */
  private def publishCdf(dir: String): Unit = {
    val fs = hfs
    val pending = pendingCdfPath(dir)
    if (fs.exists(pending)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/cdf"))
      fs.rename(pending, new org.apache.hadoop.fs.Path(s"$path/cdf/$dir"))
    }
  }

  /** Rewrites a pending cdf dir's `_commit_version` after a lost claim
    * whose bucket set stayed untouched — the files are batch-sized (≤
    * `CdfFiles` per change class), so this is one small job instead of
    * a full re-merge. */
  private def restampCdf(dir: String, newVersion: Long): Unit = {
    val fs = hfs
    val pending = pendingCdfPath(dir)
    if (!fs.exists(pending)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_tmp_restamp_$dir")
    spark.read.schema(cdfSchema).parquet(pending.toString)
      .withColumn("_commit_version", lit(newVersion))
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(pending, true)
    fs.mkdirs(pending)
    fs.listStatus(tmp).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath, new org.apache.hadoop.fs.Path(pending, f.getPath.getName)))
    fs.delete(tmp, true)
  }

  /** Drops a lost attempt's files (data dir + hidden pending cdf). */
  private def discardAttempt(dir: String): Unit = {
    val fs = hfs
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$dir"), true)
    fs.delete(pendingCdfPath(dir), true)
  }

  /** The committed version (if any) whose files live under `dir`. A dir
    * named `v=<M>-<token>` normally belongs to commit M, but a writer
    * that lost the claim for M and won a later version N by cdf re-stamp
    * commits the SAME dir at N > M — so ownership is decided by the
    * commit records, never by the name prefix alone. One cached read in
    * the common case; a committed-versions scan from M only when M's
    * claim went to a competitor. */
  private def ownerVersionOf(dir: String): Option[Long] = {
    val digits = dir.stripPrefix("v=").takeWhile(_.isDigit)
    if (!dir.startsWith("v=") || digits.isEmpty) None
    else {
      val m = digits.toLong
      if (log.hasCommit(m) && log.dirOf(m) == dir) Some(m)
      else log.versions().find(v => v > m && log.dirOf(v) == dir)
    }
  }

  /** An UNOWNED pending dir is only provably dead once it has sat
    * unmodified past the grace period — a younger one may belong to an
    * in-flight attempt on another handle that is about to re-stamp and
    * claim a HIGHER version than its name prefix suggests, and deleting
    * it would lose that commit's change rows. */
  private def deadPending(st: org.apache.hadoop.fs.FileStatus): Boolean =
    System.currentTimeMillis() - st.getModificationTime > pendingGraceMs

  private def pendingGraceMs: Long =
    spark.conf.getOption("spark.graft.pendingGraceMs").map(_.toLong)
      .getOrElse(KeyedTable.DefaultPendingGraceMs)

  /** Newest modification time across an entire subtree (Long.MinValue if
    * the path doesn't exist). Liveness must look at the WHOLE subtree:
    * an in-flight write's activity lands two-plus levels down (task
    * attempt dirs under _temporary, part files under b=N) and directory
    * mtimes only move when DIRECT children are added — a long write job
    * whose level-1 dirs were all created early would look dead one level
    * deep and be reaped mid-write. Each subtree is one attempt's files,
    * so the recursive walk is small and bounded. */
  private def newestMtimeOf(p: org.apache.hadoop.fs.Path): Long = {
    val fs = hfs
    def walk(st: org.apache.hadoop.fs.FileStatus): Long = {
      val children =
        if (st.isDirectory)
          try fs.listStatus(st.getPath).toSeq
          catch { case _: java.io.IOException => Nil } // racing cleanup
        else Nil
      (st.getModificationTime +: children.map(walk)).max
    }
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => Long.MinValue }
  }

  /** Rolls forward commits whose cdf publish rename was interrupted by a
    * crash (some commit references the dir, change rows still under the
    * pending area). Unreferenced pending dirs are dropped only once
    * provably dead (grace period) — they may belong to an attempt still
    * in flight on another handle. Run on open. */
  private[store] def recoverPendingCdf(): Unit = {
    val fs = hfs
    val pendingRoot = new org.apache.hadoop.fs.Path(s"$path/_cdf_pending")
    if (!fs.exists(pendingRoot)) return
    fs.listStatus(pendingRoot).foreach { st =>
      val dir = st.getPath.getName
      if (ownerVersionOf(dir).isDefined) publishCdf(dir)
      else if (deadPending(st)) fs.delete(st.getPath, true)
    }
  }

  /** Bucket modulus of the commit at version `v`; -1 for pre-epoch
    * commits and empty tables (no mismatch detectable — assume ours). */
  private def epochAt(v: Long): Int =
    if (v <= 0) -1 else log.readCommit(v).epoch

  /** Deletes rows matching the given keys; emits `delete` CDF rows.
    * `keys` may carry the FULL key (bucket-pruned scan) or any subset
    * of key columns (partial-key delete — e.g. retract every join
    * output of one deleted source row; scans all current buckets).
    * By default the reference's streams filter deletes out of the
    * change feed (streams.py:132) and graft's Stream does the same —
    * `Stream.handleDeletes(true)` opts downstream stages into
    * retraction instead. */
  def delete(keys: DataFrame): Long = synchronized { withMergeConf {
    recoverPendingRebucket(onlyDead = true) // settle dead rewrites before claiming
    val keyCols = meta.keys.filter(keys.columns.contains)
    require(keyCols.nonEmpty,
      s"delete keys must include at least one of ${meta.keys.mkString(",")}")
    val fullKey = meta.bucketKeys.forall(keyCols.contains)
    val planEpoch = meta.numBuckets
    val staged0 = keys.select(keyCols.map(col): _*).distinct()
    val staged = Lineage.pin(if (fullKey)
        staged0.withColumn(KHashCol, keyHashExpr(col))
          .withColumn(BucketCol, pmod(col(KHashCol), lit(meta.numBuckets)).cast("int"))
      else staged0)
    try {
      // bucket set + per-bucket staged hash range from the batch alone
      // (stable across claim retries); partial-key deletes resolve to
      // "all live buckets, all files" per attempt
      val plan: Option[Array[Row]] =
        if (fullKey) {
          spark.sparkContext.setJobDescription("graft:merge:plan")
          Some(staged.groupBy(col(BucketCol)).agg(count(lit(1)).alias("__n"),
            min(col(KHashCol)).alias("__mn"), max(col(KHashCol)).alias("__mx"))
            .collect())
        } else if (staged.isEmpty) Some(Array.empty)
        else None
      val batchBuckets: Option[Seq[Int]] = plan.map(_.map(_.getInt(0)).toSeq)
      val stagedRange: Map[Int, (Long, Long)] = plan
        .map(_.map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap)
        .getOrElse(Map.empty)
      val stagedCount: Long = plan.map(_.map(_.getLong(1)).sum).getOrElse(Long.MaxValue)
      var attempt = 0
      var out = -1L
      while (out < 0) {
        val base = latestVersion
        // racing rebucket: the staged bucket ids are under the old
        // modulus — replay the delete against the new layout
        if (epochAt(base) >= 0 && epochAt(base) != planEpoch) {
          Lineage.release(staged)
          refreshMeta()
          return delete(keys)
        }
        val bvAll = bucketVersionsAt(base)
        val affected = batchBuckets.getOrElse(bvAll.keys.toSeq)
        val bv = bvAll.filter { case (b, _) => affected.contains(b) }
        // full-key deletes read only the files a deleted key's hash can
        // live in; files out of range carry forward by reference
        val stagedByBucket: Map[Int, Long] = plan
          .map(_.map(r => r.getInt(0) -> r.getLong(1)).toMap)
          .getOrElse(Map.empty)
        val (readablePaths, carriedFiles, readBytesByBucket) =
          if (bv.isEmpty)
            (Nil, Map.empty[Int, Seq[FileEntry]], Some(Map.empty[Int, (Long, Long)]))
          else if (fullKey) splitByHashRange(staged, bv.toSeq, stagedRange,
            stagedCount, stagedByBucket = stagedByBucket)
          else (bv.toSeq.flatMap { case (b, v) => bucketFilePaths(b, v) },
            Map.empty[Int, Seq[FileEntry]], None)
        if (affected.isEmpty || readablePaths.isEmpty) out = base
        else {
          val newVersion = base + 1
          val dir = attemptDir(newVersion)
          val current = readPaths(readablePaths).withColumn(BucketCol, bucketExpr(col))
          val eq = keyCols.map(k => col(s"u.$k") <=> col(s"d.$k")).reduce(_ && _)
          val u = current.alias("u")
          val d = staged.alias("d")
          val remaining = u.join(d, eq, "left_anti")
            .select(dataCols.map(c => col(s"u.$c").alias(c)) :+
              col(s"u.$BucketCol").alias(BucketCol): _*)
          val removed = u.join(d, eq, "left_semi")
            .select(dataCols.map(c => col(s"u.$c").alias(c)): _*)
            .withColumn("_change_type", lit("delete"))
          spark.sparkContext.setJobDescription("graft:merge:write")
          // deletes only REMOVE rows: per-bucket output rows are bounded
          // by the read side alone, so no staged contribution
          val (cdfUp, cdfDel, cdfPre) = timed("deleteWrite")(writeFused(dir,
            newVersion, remaining, removed,
            hashSort = hashSortNeeded(readBytesByBucket, Map.empty)))
          spark.sparkContext.setJobDescription(null)
          // buckets the delete emptied entirely get tombstoned; the rest
          // point at carried + rewritten files
          val newFiles = writtenFileStats(dir)
          val touched = bv.keys.toSeq
          val manifest = touched.map { b =>
            b -> (carriedFiles.getOrElse(b, Nil) ++ newFiles.getOrElse(b, Nil))
          }.filter(_._2.nonEmpty).toMap
          val written = manifest.keys.toSeq
          val emptied = touched.filterNot(manifest.contains)
          firePreCommit()
          if (log.commit(newVersion, written, emptied, cdfBytes = cdfBytesOf(dir),
              dir = dir, files = Some(manifest), epoch = planEpoch,
              cdfUp = cdfUp, cdfDel = cdfDel, cdfPre = cdfPre)) {
            publishCdf(dir)
            bvCache = (newVersion,
              bucketVersionsAt(newVersion - 1) ++ written.map(_ -> newVersion)
                -- emptied)
            maybeCheckpoint(newVersion)
            out = newVersion
          } else {
            occRetries += 1
            attempt += 1
            discardAttempt(dir)
            require(attempt <= occMaxRetries,
              s"delete lost $attempt optimistic commit claims on $path; " +
                "raise spark.graft.occ.maxRetries or reduce writer contention")
          }
        }
      }
      out
    } finally Lineage.release(staged)
  } }

  /** Predicate delete (Delta's `DELETE WHERE` analog), file-pruned by
    * zone maps: only files whose manifest [min,max] column stats say the
    * predicate MAY match are read and rewritten — on an
    * `optimize(cols)`-clustered table a time-range purge (GDPR window,
    * retention sweep) rewrites the few files holding that range and
    * carries every other file forward by reference, emitting `delete`
    * cdf rows so downstream incremental stages retract. Rows where the
    * predicate is NULL are kept (SQL DELETE semantics). Pruning is
    * conservative: files without stats for a referenced column (or
    * predicate shapes the range evaluator doesn't understand) are read
    * and filtered row-wise — the predicate itself is always re-applied,
    * so pruning can never change the result. */
  def deleteWhere(cond: Column): Long = synchronized { withMergeConf {
    recoverPendingRebucket(onlyDead = true)
    val planEpoch = meta.numBuckets
    var attempt = 0
    var out = -1L
    while (out < 0) {
      val base = latestVersion
      if (epochAt(base) >= 0 && epochAt(base) != planEpoch) {
        refreshMeta()
        return deleteWhere(cond)
      }
      val bvAll = bucketVersionsAt(base)
      // driver-side candidate split per bucket: legacy dirs are always
      // candidates; manifest entries only when the predicate may match
      // their recorded column ranges
      def fieldOf(n: String) =
        schema.fields.find(f => spark.sessionState.conf.resolver(f.name, n))
      // resolve the predicate through the analyzer (type coercion,
      // attribute binding) by planting it on an empty frame of this
      // schema — an invalid predicate fails here, before any rewrite
      val condExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
        emptyDf.where(cond).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
      def mayMatch(e: FileEntry): Boolean =
        condExpr.forall(ce => ZoneStats.mayMatch(ce,
          n => fieldOf(n).map(_.dataType),
          n => fieldOf(n).flatMap(f => e.stats.get(f.name)
            .flatMap(st => ZoneStats.parseRange(f.dataType, st.min, st.max))),
          n => fieldOf(n).flatMap(f => e.stats.get(f.name).map(_.hasNulls))))
      val readable = scala.collection.mutable.ArrayBuffer[String]()
      var carried = Map.empty[Int, Seq[FileEntry]]
      val touched = scala.collection.mutable.ArrayBuffer[Int]()
      var readBytes: Option[Map[Int, (Long, Long)]] = Some(Map.empty)
      bvAll.toSeq.foreach { case (b, v) =>
        log.readCommit(v).files match {
          case None =>
            touched += b
            readable += s"$path/data/${log.dirOf(v)}/b=$b"
            readBytes = None // legacy dir: size unknowable
          case Some(m) =>
            val es = m.getOrElse(b, Nil)
            val (hit, miss) = es.partition(mayMatch)
            if (hit.nonEmpty) {
              touched += b
              readable ++= hit.map(e => s"$path/${e.path}")
              readBytes = readBytes.map { m0 =>
                val (b0, r0) = m0.getOrElse(b, (0L, 0L))
                m0 + (b -> hit.foldLeft((b0, r0)) { (a, e) =>
                  (a._1 + e.bytes,
                    if (a._2 < 0 || e.rows < 0) -1L else a._2 + e.rows)
                })
              }
              if (miss.nonEmpty) carried += b -> miss
            }
          // buckets with no candidate files stay untouched entirely —
          // their version mapping is simply not advanced
        }
      }
      if (touched.isEmpty) return base
      val newVersion = base + 1
      val dir = attemptDir(newVersion)
      // SQL DELETE: null predicate keeps the row
      val hit = coalesce(cond, lit(false))
      val current = readPaths(readable.toSeq)
      val remaining = current.where(!hit).withColumn(BucketCol, bucketExpr(col))
      val removed = current.where(hit)
        .select(dataCols.map(col): _*)
        .withColumn("_change_type", lit("delete"))
      spark.sparkContext.setJobDescription("graft:deleteWhere:write")
      val (cdfUp, cdfDel, cdfPre) = timed("deleteWrite")(writeFused(dir,
        newVersion, remaining, removed,
        hashSort = hashSortNeeded(readBytes, Map.empty)))
      spark.sparkContext.setJobDescription(null)
      val newFiles = writtenFileStats(dir)
      val manifest = touched.toSeq.map { b =>
        b -> (carried.getOrElse(b, Nil) ++ newFiles.getOrElse(b, Nil))
      }.filter(_._2.nonEmpty).toMap
      val written = manifest.keys.toSeq
      val emptied = touched.toSeq.filterNot(manifest.contains)
      firePreCommit()
      if (log.commit(newVersion, written, emptied, cdfBytes = cdfBytesOf(dir),
          dir = dir, files = Some(manifest), epoch = planEpoch,
          cdfUp = cdfUp, cdfDel = cdfDel, cdfPre = cdfPre)) {
        publishCdf(dir)
        bvCache = (newVersion,
          bucketVersionsAt(newVersion - 1) ++ written.map(_ -> newVersion)
            -- emptied)
        maybeCheckpoint(newVersion)
        out = newVersion
      } else {
        occRetries += 1
        attempt += 1
        discardAttempt(dir)
        require(attempt <= occMaxRetries,
          s"deleteWhere lost $attempt optimistic commit claims on $path; " +
            "raise spark.graft.occ.maxRetries or reduce writer contention")
      }
    }
    out
  } }

  /** Table file-health report: one row per bucket of the latest
    * snapshot, with file counts and bytes split at the auto-compact
    * fold cap (small = still fold-eligible on write, graduated = left
    * to scheduled maintenance) and an `over_bound` flag when the
    * GRADUATED count alone exceeds `autoCompact.maxFiles` — the state
    * in which the write-time file-count bound has gone soft (see the
    * fold-cap design note in splitByHashRange) and a [[compact]] /
    * [[optimizeIncremental]] / [[rebucket]] pass is owed. Driver-side
    * over the manifests; no data files are read. */
  def describeHealth(): DataFrame = {
    val maxFiles = spark.conf.getOption("spark.graft.autoCompact.maxFiles")
      .map(_.toInt).getOrElse(16)
    val foldCap = spark.conf.getOption("spark.graft.autoCompact.foldMaxFileBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val fs = hfs
    val rows = bucketVersionsAt(latestVersion).toSeq.sortBy(_._1).map { case (b, v) =>
      val es: Seq[FileEntry] = log.readCommit(v).files match {
        case Some(m) => m.getOrElse(b, Nil)
        case None => // pre-manifest commit: list the dir, sizes only
          val p = new org.apache.hadoop.fs.Path(s"$path/data/${log.dirOf(v)}/b=$b")
          if (!fs.exists(p)) Nil
          else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
            .map(st => FileEntry(st.getPath.getName, Long.MinValue,
              Long.MaxValue, st.getLen)).toSeq
      }
      val small = es.filter(_.bytes < foldCap)
      val graduated = es.size - small.size
      (b, es.size, small.size, graduated,
        es.map(_.bytes).sum, small.map(_.bytes).sum, graduated > maxFiles)
    }
    spark.createDataFrame(rows).toDF("bucket", "files", "small_files",
      "graduated_files", "bytes", "small_bytes", "over_bound")
  }

  /** One-call maintenance driver (the operational counterpart of the
    * reference's "deploy it and it runs" story — the reference rides on
    * Delta's managed OPTIMIZE; graft's layout passes exist but until
    * now nothing READ [[describeHealth]]'s owed-maintenance state and
    * acted on it). Runs the owed layout passes in dependency order:
    *
    *  1. growth [[autoRebucket]] FIRST — a stepped full rewrite
    *     subsumes every other layout fix, so anything before it would
    *     be wasted work;
    *  2. incremental re-clustering ([[optimizeIncremental]]) when any
    *     bucket is over the graduated-file bound (`over_bound` — the
    *     state where the write-time file-count bound has gone soft)
    *     and the policy names cluster columns;
    *  3. small-file [[compact]] for the remaining fold-eligible tail;
    *  4. storage then log retention ([[vacuum]] before [[truncateLog]],
    *     the order their contracts require) when the policy opts in.
    *
    * Each pass re-reads health, so one made redundant by an earlier
    * pass no-ops; all run under the normal OCC machinery (concurrent
    * writers replay, a stepped rebucket redoes dirtied ranges). Layout-
    * only throughout — no cdf rows, downstream incremental stages
    * reprocess nothing — so a scheduled `maintain()` can run beside
    * live pipelines. Idempotent: a re-run on a healthy table commits
    * nothing. */
  def maintain(policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val rebucketedTo = autoRebucket(policy.targetBucketBytes, policy.maxBuckets)
      .map(_ => meta.numBuckets)
    // cluster ONLY the over-bound buckets — the health report names
    // them, and a 16k-bucket table with one hot bucket must not pay a
    // full-table rewrite on every scheduled run
    val clustered =
      if (policy.clusterCols.isEmpty) 0
      else {
        require(policy.clusterCols.forall(dataCols.contains),
          s"clusterCols must be existing columns, got ${policy.clusterCols.mkString(",")}")
        val overBound = describeHealth().collect()
          .filter(_.getAs[Boolean]("over_bound"))
          .map(_.getAs[Int]("bucket"))
        overBound.grouped(policy.bucketsPerStep).toSeq
          .flatMap(g => optimizeStep(g.toSet, policy.clusterCols.map(col)))
          .size
      }
    val compacted = compactOpt(policy.compactMinFileBytes).isDefined
    policy.vacuumRetainVersions.foreach(vacuum)
    policy.truncateRetainVersions.foreach(truncateLog)
    MaintenanceReport(rebucketedTo, clustered, compacted,
      vacuumed = policy.vacuumRetainVersions.isDefined,
      truncated = policy.truncateRetainVersions.isDefined)
  }

  /** Bin-packing compaction (Delta's file-size OPTIMIZE analog, distinct
    * from [[optimize]]'s clustering rewrite): buckets holding 2+ files
    * below `minFileBytes` get those small files read and rewritten
    * key-hash-sorted into as few files as the row target allows, while
    * every file at or above the threshold carries forward BY REFERENCE —
    * a maintenance pass over a mostly-healthy 100 TB table reads only
    * the small-file tail, not the table. Layout-only: no cdf rows, so
    * downstream incremental stages reprocess nothing. Runs under the
    * normal OCC claim loop; concurrent merges just replay it. */
  def compact(minFileBytes: Long = 32L << 20): Long =
    compactOpt(minFileBytes).getOrElse(latestVersion)

  /** [[compact]] distinguishing "committed a pack" (Some(version)) from
    * "nothing owed" (None) — the race-free signal [[maintain]]'s report
    * needs (comparing latestVersion before/after misreports when a
    * concurrent writer commits in the window). */
  private[store] def compactOpt(minFileBytes: Long): Option[Long] =
    synchronized { withMergeConf {
    recoverPendingRebucket(onlyDead = true)
    val planEpoch = meta.numBuckets
    var attempt = 0
    var out = -1L
    while (out < 0) {
      val base = latestVersion
      if (epochAt(base) >= 0 && epochAt(base) != planEpoch) {
        refreshMeta()
        return compactOpt(minFileBytes)
      }
      val readable = scala.collection.mutable.ArrayBuffer[String]()
      var carried = Map.empty[Int, Seq[FileEntry]]
      val touched = scala.collection.mutable.ArrayBuffer[Int]()
      bucketVersionsAt(base).toSeq.foreach { case (b, v) =>
        log.readCommit(v).files.foreach { m => // legacy dirs: nothing to pack
          val es = m.getOrElse(b, Nil)
          // bytes==0 entries predate size recording — treat as small
          val (small, big) = es.partition(_.bytes < minFileBytes)
          if (small.size >= 2) {
            touched += b
            readable ++= small.map(e => s"$path/${e.path}")
            if (big.nonEmpty) carried += b -> big
          }
        }
      }
      if (touched.isEmpty) return None
      val newVersion = base + 1
      val dir = attemptDir(newVersion)
      val current = readPaths(readable.toSeq).withColumn(BucketCol, bucketExpr(col))
      val emptyCdf = emptyDf.withColumn("_change_type", lit(null).cast(StringType))
      spark.sparkContext.setJobDescription("graft:compact:write")
      writeFused(dir, newVersion, current, emptyCdf)
      spark.sparkContext.setJobDescription(null)
      val newFiles = writtenFileStats(dir)
      val manifest = touched.toSeq.map { b =>
        b -> (carried.getOrElse(b, Nil) ++ newFiles.getOrElse(b, Nil))
      }.filter(_._2.nonEmpty).toMap
      val written = manifest.keys.toSeq
      val emptied = touched.toSeq.filterNot(manifest.contains)
      firePreCommit()
      if (log.commit(newVersion, written, emptied, cdfBytes = 0L,
          dir = dir, files = Some(manifest), epoch = planEpoch,
          cdfUp = 0L, cdfDel = 0L, cdfPre = 0L)) {
        publishCdf(dir)
        bvCache = (newVersion,
          bucketVersionsAt(newVersion - 1) ++ written.map(_ -> newVersion)
            -- emptied)
        maybeCheckpoint(newVersion)
        out = newVersion
      } else {
        occRetries += 1
        attempt += 1
        discardAttempt(dir)
        require(attempt <= occMaxRetries,
          s"compact lost $attempt optimistic commit claims on $path; " +
            "raise spark.graft.occ.maxRetries or reduce writer contention")
      }
    }
    Some(out)
  } }

  /** Re-hashes the table to a different bucket count — the escape hatch
    * when data outgrows the original sizing (a 32-bucket table at 100 TB
    * would put ~3 TB in each bucket; rebucketing to 2^14 restores a few
    * GB per bucket). A full rewrite by definition, but layout-only: NO
    * cdf rows are emitted, so downstream incremental stages do not
    * reprocess anything.
    *
    * Crash safety (SURVEY §6f-7): the new modulus must become visible
    * atomically with the commit that laid data out under it, or future
    * merges would prune batches with the wrong hash. Sequence:
    * marker → data write → commit → meta write → marker clear; a crash
    * anywhere is recovered on the next open ([[KeyedTable.forPath]]) by
    * rolling forward (commit present) or back (commit absent). */
  def rebucket(newBuckets: Int): Long = rewriteLayout(newBuckets, Nil)

  /** Growth policy around [[rebucket]]: when the table's live bytes
    * imply an average bucket above `targetBucketBytes`, rewrite to the
    * smallest power-of-two bucket count that brings it back under
    * (capped at `maxBuckets`). Run it from a maintenance job the way
    * Delta deployments schedule OPTIMIZE — the check itself is one FS
    * listing over the live bucket dirs, no Spark job. Returns the new
    * version when a rewrite happened. */
  def autoRebucket(targetBucketBytes: Long, maxBuckets: Int = 1 << 14): Option[Long] = {
    require(targetBucketBytes > 0, "targetBucketBytes must be positive")
    val fs = hfs
    val bv = bucketVersionsAt(latestVersion)
    if (bv.isEmpty) return None
    val liveBytes = bv.toSeq.map { case (b, v) =>
      val p = new org.apache.hadoop.fs.Path(s"$path/data/${log.dirOf(v)}/b=$b")
      if (!fs.exists(p)) 0L else fs.listStatus(p).map(_.getLen).sum
    }.sum
    var n = meta.numBuckets
    while (n < maxBuckets && liveBytes / n > targetBucketBytes) n *= 2
    // growth is always to a power-of-two multiple — take the stepped,
    // resumable rewrite instead of the monolithic single-claim one
    if (n > meta.numBuckets) Some(rebucketIncremental(n)) else None
  }

  /** Stepped, resumable [[rebucket]] for GROWTH — the 100 TB form of
    * the layout escape hatch. The monolithic rewrite is one whole-table
    * Spark job under one OCC claim: at scale it holds the longest write
    * of the table's life and replays FROM SCRATCH every time a
    * concurrent merge claims its version first — livelock-prone exactly
    * when [[autoRebucket]] says growth is needed (a busy, outgrown
    * table). This form stages the new-modulus layout in byte-budgeted
    * bucket-range STEPS and then publishes everything in one cheap
    * cutover commit:
    *
    *  - Each step reads one contiguous range of OLD buckets and writes
    *    them re-hashed `pmod(xxhash64(keys), newBuckets)` into a
    *    private staging dir (`data/rbstep-<token>-<lo>-…`). Steps are
    *    NOT commits — concurrent writers never contend with them, and
    *    the one-modulus-per-version invariant every reader and the
    *    epoch guard depend on (readers probe a version's layout with
    *    that version's recorded epoch — A20b time travel) is preserved:
    *    no version ever exposes a mixed-modulus bucket map. Growth to a
    *    multiple of the current modulus means old bucket `b`'s keys
    *    land only in new ids `≡ b (mod M)`, so distinct ranges produce
    *    DISJOINT new-bucket id sets and the final manifest assembles
    *    per-bucket file lists without cross-step merging.
    *  - A single-slot progress record (`_log/_rebucket_steps.json`)
    *    stores each completed step's range, staging dir, and the
    *    (bucket → version) map it read. A crash mid-sequence resumes
    *    from it (completed, still-clean steps are adopted by re-reading
    *    their staging dirs' footers); orphaned staging dirs from a run
    *    that never resumes are reclaimed by [[vacuum]] under the same
    *    manifest-reachability + mtime-grace rules as every other
    *    attempt artifact.
    *  - The CUTOVER is one commit (marker → claim → meta swap → clear,
    *    the exact crash protocol of the monolithic path) whose manifest
    *    references the staged files; its own Spark work is zero. Before
    *    claiming it diffs each range's recorded base map against the
    *    current bucket map and re-runs only the ranges concurrent
    *    writers dirtied — so a lost claim (or a merge landing between
    *    steps) costs ONE range's replay, not the table. Under sustained
    *    write traffic this converges like any delta-catch-up: each
    *    round's redo set is the buckets written since the last round.
    *
    * Layout-only like [[rebucket]]: no cdf rows, downstream incremental
    * stages reprocess nothing. Shrinking or non-multiple targets keep
    * the monolithic [[rebucket]] (rare, and their id sets overlap
    * across ranges). Reference scope: the reference has no storage
    * layer at all (StreamJoin.py keeps Delta's fixed layout); this is
    * the growth path Delta solves with liquid clustering. */
  def rebucketIncremental(newBuckets: Int, maxStepBytes: Long = 4L << 30): Long =
    synchronized { withMergeConf {
    require(newBuckets > 0, "newBuckets must be positive")
    recoverPendingRebucket()
    val oldN = meta.numBuckets
    if (newBuckets == oldN) {
      // a completed run that crashed before deleting its progress file
      // leaves a record whose target equals the (already swapped)
      // modulus — its staging dirs are LIVE data now, drop only the file
      clearRebucketProgressIfTarget(newBuckets)
      return latestVersion
    }
    require(newBuckets % oldN == 0 && newBuckets > oldN,
      s"rebucketIncremental grows to a multiple of the current bucket " +
        s"count ($oldN); got $newBuckets — use rebucket() for shrink or " +
        "non-multiple targets")
    val fs = hfs
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val emptyAtStart = bucketVersionsAt(latestVersion).isEmpty
    if (emptyAtStart) { // empty table: meta-only, mirror rewriteLayout
      val next = metaVar.copy(numBuckets = newBuckets)
      log.writeMeta(metaToJson(next))
      metaVar = next
      return latestVersion
    }

    // ---- adopt or supersede an existing progress record ----------------
    // completed ranges: lo -> (lo, hi, staging dir, base bucket map);
    // staging-dir manifests are kept in memory and re-read on adoption
    var token = java.util.UUID.randomUUID.toString.take(8)
    val done = scala.collection.mutable.Map
      .empty[Int, (Int, Int, String, Map[Int, Long])]
    val manifests = scala.collection.mutable
      .Map.empty[String, Map[Int, Seq[FileEntry]]]
    log.readRebucketProgress().foreach { case (tgt, src, tok, steps) =>
      // liveness: the slot may belong to a writer still running in
      // another process — same whole-subtree mtime grace rule as the
      // rebucket marker (a crashed run resumes only after the grace).
      // Only NON-EMPTY staging dirs count as evidence: an empty-slice
      // step records dir "" and statting "$path/data/" would make every
      // concurrent table write look like rebucket-writer liveness,
      // blocking resume on exactly the busy tables this form is for.
      val evidence = (log.rebucketProgressMtime().getOrElse(Long.MinValue) +:
        steps.collect { case s if s._3.nonEmpty =>
          newestMtimeOf(P(s"$path/data/${s._3}")) }).max
      val dead = evidence == Long.MinValue ||
        System.currentTimeMillis() - evidence > pendingGraceMs
      require(dead,
        s"an incremental rebucket toward $tgt buckets appears LIVE on " +
          s"$path (progress evidence ${System.currentTimeMillis() - evidence}" +
          s"ms old); wait for it or for the grace window")
      if (tgt == newBuckets && src == oldN) {
        token = tok // adopt: staging dirs keep their names
        steps.foreach { case (lo, hi, dir, base) =>
          if (base.isEmpty) done(lo) = (lo, hi, "", Map.empty)
          else {
            val m = if (dir.isEmpty) Map.empty[Int, Seq[FileEntry]]
                    else writtenFileStats(dir)
            if (m.nonEmpty) { // a crashed step's dir never landed: redo it
              done(lo) = (lo, hi, dir, base.toMap)
              manifests(dir) = m
            }
          }
        }
      } else {
        // abandoned run toward a different shape: supersede the FILE;
        // its unreferenced staging dirs are vacuum's to reclaim (they
        // may still be referenced by retained manifests if that run
        // actually cut over before a later rewrite — only vacuum's
        // reachability walk can tell)
        log.clearRebucketProgress()
      }
    }

    // ---- byte-budgeted contiguous ranges over the old bucket ids -------
    // Adopted steps' recorded ranges are KEPT (they were a valid
    // byte-budgeted split when written; re-splitting under the current
    // byte distribution would orphan completed work — and worse, a
    // stale `done` entry whose range no longer exists in the fresh
    // split would never be re-examined by the dirty diff yet still be
    // assembled into the cutover manifest, duplicating rows). Gaps
    // between adopted ranges are filled with fresh byte-budgeted
    // splits; a recorded set that doesn't form a disjoint partition
    // prefix (corrupt/foreign record) is dropped entirely.
    val bv0 = bucketVersionsAt(latestVersion)
    def bytesOf(b: Int): Long = bv0.get(b).map(v =>
      log.readCommit(v).files
        .map(_.getOrElse(b, Nil).map(_.bytes).sum).getOrElse(0L)).getOrElse(0L)
    def splitRange(from: Int, until: Int): Seq[(Int, Int)] = {
      val acc = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var lo = from
      while (lo < until) {
        var hi = lo + 1
        var bytes = bytesOf(lo)
        while (hi < until && bytes + bytesOf(hi) <= math.max(1L, maxStepBytes)) {
          bytes += bytesOf(hi); hi += 1
        }
        acc += ((lo, hi)); lo = hi
      }
      acc.toSeq
    }
    val ranges: Seq[(Int, Int)] = {
      val adopted = done.values.toSeq.map { case (l, h, _, _) => (l, h) }.sorted
      val disjoint = adopted.forall { case (l, h) =>
          l >= 0 && l < h && h <= oldN } &&
        adopted.sliding(2).forall {
          case Seq((_, h1), (l2, _)) => h1 <= l2
          case _ => true
        }
      if (!disjoint) {
        done.values.foreach { case (_, _, d, _) =>
          if (d.nonEmpty) {
            manifests -= d
            fs.delete(P(s"$path/data/$d"), true)
            fs.delete(P(s"$path/_tmp_$d"), true)
          }
        }
        done.clear()
        splitRange(0, oldN)
      } else {
        val gaps = ((0, 0) +: adopted :+ ((oldN, oldN)))
          .sliding(2).collect {
            case Seq((_, h1), (l2, _)) if h1 < l2 => splitRange(h1, l2)
          }.flatten.toSeq
        (adopted ++ gaps).sorted
      }
    }

    def persistProgress(): Unit =
      log.writeRebucketProgress(newBuckets, oldN, token,
        done.toSeq.sortBy(_._1).map { case (_, (l, h, d, base)) =>
          (l, h, d, base.toSeq.sortBy(_._1))
        })

    var stepsRun = 0
    def runStep(lo: Int, hi: Int, bvNow: Map[Int, Long]): Unit = {
      done.remove(lo).foreach { case (_, _, d, _) => // stale attempt: ours
        if (d.nonEmpty) {
          manifests -= d
          fs.delete(P(s"$path/data/$d"), true)
          fs.delete(P(s"$path/_tmp_$d"), true)
        }
      }
      val slice = bvNow.filter { case (b, _) => b >= lo && b < hi }
      if (slice.isEmpty) { done(lo) = (lo, hi, "", Map.empty) }
      else {
        KeyedTable.globalRebucketStepHook(path, lo)
        val dir = s"rbstep-$token-$lo-${java.util.UUID.randomUUID.toString.take(8)}"
        val content = readPaths(slice.toSeq.flatMap { case (b, v) =>
            bucketFilePaths(b, v) })
          .withColumn(BucketCol,
            pmod(keyHashExpr(col), lit(newBuckets)).cast("int"))
        val emptyCdf = emptyDf.withColumn("_change_type", lit(null).cast(StringType))
        spark.sparkContext.setJobDescription("graft:rebucket:step")
        try writeFused(dir, latestVersion + 1, content, emptyCdf)
        finally spark.sparkContext.setJobDescription(null)
        stepsRun += 1
        done(lo) = (lo, hi, dir, slice)
        manifests(dir) = writtenFileStats(dir)
      }
      persistProgress()
    }

    // ---- steps, then delta-converging cutover --------------------------
    var attempt = 0
    var rounds = 0
    while (true) {
      rounds += 1
      require(rounds <= occMaxRetries * 8,
        s"stepped rebucket on $path failed to converge after $rounds " +
          "catch-up rounds under sustained writer traffic; pause writers " +
          "or raise spark.graft.occ.maxRetries")
      val base = latestVersion
      val ep = epochAt(base)
      if (ep >= 0 && ep != oldN) {
        // a foreign rewrite changed the modulus mid-flight: our staged
        // layout is against a dead epoch — drop it and settle
        done.values.foreach { case (_, _, d, _) =>
          if (d.nonEmpty) {
            fs.delete(P(s"$path/data/$d"), true)
            fs.delete(P(s"$path/_tmp_$d"), true)
          }
        }
        log.clearRebucketProgress()
        refreshMeta()
        require(meta.numBuckets == newBuckets,
          s"concurrent layout rewrite to ${meta.numBuckets} buckets " +
            s"aborted rebucketIncremental($newBuckets) on $path")
        return base
      }
      val bvNow = bucketVersionsAt(base)
      val dirty = ranges.filter { case (l, h) =>
        val slice = bvNow.filter { case (b, _) => b >= l && b < h }
        !done.get(l).exists { case (_, dh, _, rec) => dh == h && rec == slice }
      }
      if (dirty.nonEmpty) dirty.foreach { case (l, h) => runStep(l, h, bvNow) }
      else {
        // cutover: one zero-Spark-work commit referencing staged files,
        // under the standard marker crash protocol
        val newVersion = base + 1
        val commitDir = attemptDir(newVersion)
        log.writeRebucketMarker(newVersion, newBuckets, commitDir)
        val assembled: Map[Int, Seq[FileEntry]] = done.values.toSeq
          .filter(_._3.nonEmpty)
          .flatMap { case (_, _, d, _) => manifests(d).toSeq }
          .groupBy(_._1)
          .map { case (b, xs) => b -> xs.flatMap(_._2).sortBy(_.minHash) }
        val written = assembled.keys.toSeq
        val emptied = bvNow.keys.toSeq.filterNot(assembled.contains)
        firePreCommit()
        if (log.commit(newVersion, written, emptied, dir = commitDir,
            files = Some(assembled), epoch = newBuckets,
            cdfUp = 0L, cdfDel = 0L, cdfPre = 0L)) {
          if (newBuckets != metaVar.numBuckets) {
            val next = metaVar.copy(numBuckets = newBuckets)
            log.writeMeta(metaToJson(next))
            metaVar = next
          }
          log.clearRebucketProgress()
          log.clearRebucketMarkerIf(commitDir)
          bvCache = (newVersion, written.map(_ -> newVersion).toMap)
          maybeCheckpoint(newVersion)
          KeyedTable.lastRebucketStepsRun = stepsRun
          return newVersion
        }
        // lost the claim: the conflicting commits name the buckets they
        // wrote — next round's dirty diff redoes exactly those ranges
        occRetries += 1
        attempt += 1
        log.clearRebucketMarkerIf(commitDir)
        require(attempt <= occMaxRetries,
          s"stepped rebucket lost $attempt cutover claims on $path; " +
            "raise spark.graft.occ.maxRetries or reduce writer contention")
      }
    }
    -1L // unreachable
  } }

  /** Drops a stale progress record whose rewrite evidently COMPLETED
    * (its target equals the current/most-recently-swapped modulus): the
    * record's staging dirs are live data by then, so only the file
    * goes. Called from recovery's roll-forward and the no-op path. */
  private def clearRebucketProgressIfTarget(n: Int): Unit =
    if (log.readRebucketProgress().exists(_._1 == n)) log.clearRebucketProgress()

  /** Rewrites every bucket with rows CLUSTERED by `sortCols` (Delta's
    * `OPTIMIZE ... ZORDER BY` role, lexicographic clustering): parquet
    * row-group min/max stats on those columns become tight disjoint
    * ranges, so predicate scans skip whole row groups. Layout-only
    * like [[rebucket]] (no cdf rows, same crash-safe marker); bucket
    * membership is unchanged, so merges before/after are identical.
    * Clustering survives until enough merges rewrite the hot buckets —
    * rerun periodically, like any OPTIMIZE. */
  def optimize(sortCols: Seq[String]): Long = {
    require(sortCols.nonEmpty && sortCols.forall(dataCols.contains),
      s"sortCols must be existing columns, got ${sortCols.mkString(",")}")
    rewriteLayout(meta.numBuckets, sortCols.map(col))
  }

  /** Incremental [[optimize]]: rewrites the table in bucket-range steps
    * of `bucketsPerStep`, each step ONE ordinary OCC commit claiming
    * only its buckets (SURVEY §6k-4). At 100 TB a whole-table optimize
    * is a single giant OCC-serialized commit that loses every race; the
    * stepped form interleaves with concurrent writers — a merge landing
    * between (or racing) steps just costs that step a claim retry
    * against the new latest, and buckets the merge rewrote AFTER their
    * optimize step simply lose clustering until the next pass, exactly
    * like any OPTIMIZE-vs-write race in Delta. Bucket membership never
    * changes (modulus untouched), so no rebucket marker is needed: a
    * crashed step leaves only an unreferenced attempt dir for vacuum.
    * A concurrent REBUCKET aborts the remaining steps (bucket ids have
    * changed meaning); rebucket itself stays a single atomic commit —
    * the epoch guard that keeps racing merges correct requires one
    * modulus per version. Returns the step commit versions. */
  def optimizeIncremental(sortCols: Seq[String], bucketsPerStep: Int = 64)
      : Seq[Long] = {
    require(sortCols.nonEmpty && sortCols.forall(dataCols.contains),
      s"sortCols must be existing columns, got ${sortCols.mkString(",")}")
    require(bucketsPerStep > 0, "bucketsPerStep must be positive")
    val keys = sortCols.map(col)
    (0 until meta.numBuckets).grouped(bucketsPerStep).toSeq
      .flatMap(group => optimizeStep(group.toSet, keys))
  }

  private def optimizeStep(buckets: Set[Int], sortKeys: Seq[Column])
      : Option[Long] = synchronized { withMergeConf {
    recoverPendingRebucket(onlyDead = true)
    val stepEpoch = meta.numBuckets
    var attempt = 0
    while (true) {
      val base = latestVersion
      // a concurrent rebucket changed the modulus: these bucket ids no
      // longer name the same key sets — abandon the pass
      if (epochAt(base) >= 0 && epochAt(base) != stepEpoch) {
        refreshMeta(); return None
      }
      val bv = bucketVersionsAt(base).filter { case (b, _) => buckets.contains(b) }
      if (bv.isEmpty) return None // nothing live in this range
      val paths = bv.toSeq.flatMap { case (b, v) =>
        log.readCommit(v).files match {
          case Some(m) => m.getOrElse(b, Nil).map(e => s"$path/${e.path}")
          case None => Seq(s"$path/data/${log.dirOf(v)}/b=$b")
        }
      }
      val newVersion = base + 1
      val dir = attemptDir(newVersion)
      val content = readPaths(paths).withColumn(BucketCol, bucketExpr(col))
      val emptyCdf = emptyDf.withColumn("_change_type", lit(null).cast(StringType))
      spark.sparkContext.setJobDescription("graft:optimize:step")
      writeFused(dir, newVersion, content, emptyCdf, sortKeys)
      spark.sparkContext.setJobDescription(null)
      val manifest = writtenFileStats(dir)
      val written = manifest.keys.toSeq
      val emptied = bv.keys.toSeq.filterNot(manifest.contains)
      firePreCommit()
      if (log.commit(newVersion, written, emptied, dir = dir,
          files = Some(manifest), epoch = stepEpoch,
          cdfUp = 0L, cdfDel = 0L, cdfPre = 0L)) {
        bvCache = (newVersion,
          bucketVersionsAt(newVersion - 1) ++ written.map(_ -> newVersion)
            -- emptied)
        maybeCheckpoint(newVersion)
        return Some(newVersion)
      }
      // a concurrent writer claimed the version: its commit may have
      // rewritten OUR buckets — recompute this step against new latest
      occRetries += 1
      attempt += 1
      discardAttempt(dir)
      require(attempt <= occMaxRetries,
        s"optimize step lost $attempt optimistic commit claims on $path")
    }
    None // unreachable
  } }

  /** True multi-column Z-ORDER variant of [[optimize]]: each column is
    * rank-normalized to `bits` bits via approx-quantile cut points
    * (one driver action, (2^bits−1)×|cols| doubles) and the bit-ranks
    * INTERLEAVE into one z-value; sorting by it clusters rows into
    * hyper-rectangles so row-group stats tighten on EVERY column at
    * once — lexicographic [[optimize]] only helps prefix predicates
    * (its trailing columns sweep their full range inside every leading
    * run). Numeric columns only; nulls rank lowest. */
  def optimizeZOrder(cols: Seq[String], bits: Int = 8): Long = {
    require(cols.nonEmpty && cols.forall(dataCols.contains),
      s"cols must be existing columns, got ${cols.mkString(",")}")
    require(cols.size * bits <= 63, "cols.size * bits must fit in a long")
    val qs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val snap = snapshot()
    val n = cols.size
    val z = cols.zipWithIndex.map { case (c, i) =>
      val cut = snap.stat.approxQuantile(c, qs, 0.001).toSeq
      // rank = #cut points ≤ value (0 .. 2^bits-1); codegen'd fold over
      // the literal cut array — no join, no shuffle
      val rank = aggregate(typedLit(cut), lit(0L), (acc, q) =>
        acc + when(col(c).cast("double") >= q, 1L).otherwise(0L))
      (0 until bits).map(b =>
        shiftleft(shiftright(rank, b).bitwiseAND(1L), b * n + i))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    rewriteLayout(meta.numBuckets, Seq(z))
  }

  private def rewriteLayout(newBuckets: Int, sortKeys: Seq[Column]): Long =
    synchronized { withMergeConf {
    require(newBuckets > 0, "newBuckets must be positive")
    recoverPendingRebucket()
    if (newBuckets == meta.numBuckets && sortKeys.isEmpty) return latestVersion
    var attempt = 0
    while (true) {
      val v = latestVersion
      val oldLive = bucketVersionsAt(v).keys.toSeq
      def swapMeta(): Unit = if (newBuckets != metaVar.numBuckets) {
        val next = metaVar.copy(numBuckets = newBuckets)
        log.writeMeta(metaToJson(next))
        metaVar = next
      }
      if (oldLive.isEmpty) { swapMeta(); return v } // empty table: meta-only
      val newVersion = v + 1
      val dir = attemptDir(newVersion)
      log.writeRebucketMarker(newVersion, newBuckets, dir)
      KeyedTable.globalPreRebucketWriteHook(path)
      val content = snapshotFull(v).withColumn(BucketCol,
        pmod(xxhash64(meta.bucketKeys.map(col): _*), lit(newBuckets)).cast("int"))
      val emptyCdf = emptyDf.withColumn("_change_type", lit(null).cast(StringType))
      spark.sparkContext.setJobDescription("graft:rebucket:write")
      // belt-and-braces against a foreign recovery reclaiming this
      // attempt's scratch mid-write (recovery requires provable deadness,
      // but a misconfigured grace or clock skew could still race us).
      // POSITIVE evidence of reclamation is required before the silent
      // retry: both dirs gone AND the marker this attempt wrote
      // gone/overwritten (foreign recovery clears it; a competitor
      // overwrites it). A failure BEFORE the committer created the dirs
      // (planning/analysis error, FS permission error) leaves the
      // marker ours and must surface as itself, not masquerade as a
      // lost claim until the retry-exhaustion error masks the cause.
      val wrote =
        try { writeFused(dir, newVersion, content, emptyCdf, sortKeys); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            val fs = hfs
            def gone(s: String) = !fs.exists(new org.apache.hadoop.fs.Path(s))
            val markerOurs = log.readRebucketMarker().exists(_._3 == dir)
            if (!markerOurs && gone(s"$path/_tmp_$dir") && gone(s"$path/data/$dir"))
              false
            else throw e
        } finally spark.sparkContext.setJobDescription(null)
      if (wrote) {
        val manifest = writtenFileStats(dir)
        val written = manifest.keys.toSeq
        firePreCommit()
        if (log.commit(newVersion, written, oldLive.filterNot(manifest.contains),
            dir = dir, files = Some(manifest), epoch = newBuckets,
            cdfUp = 0L, cdfDel = 0L, cdfPre = 0L)) {
          swapMeta()
          log.clearRebucketMarkerIf(dir)
          bvCache = (newVersion, written.map(_ -> newVersion).toMap)
          maybeCheckpoint(newVersion)
          return newVersion
        }
      }
      // a concurrent merge claimed the version first (or a foreign
      // recovery reclaimed the scratch): the rewrite is a whole-snapshot
      // op, so re-run it against the new latest. Marker clears are
      // attempt-scoped — a NEWER rewrite may have overwritten the slot,
      // and clearing ITS marker would strand its commit-to-meta-swap
      // crash window.
      occRetries += 1
      attempt += 1
      discardAttempt(dir)
      log.clearRebucketMarkerIf(dir)
      require(attempt <= occMaxRetries,
        s"layout rewrite lost $attempt optimistic commit claims on $path")
    }
    -1L // unreachable
  } }

  /** Completes or rolls back an interrupted [[rebucket]] (run on every
    * open and before every merge/delete claim): marker whose commit is
    * present under the marker's dir ⇒ finish the meta swap; marker whose
    * version was claimed by a DIFFERENT dir ⇒ the attempt definitively
    * lost, discard its orphan files — but ONLY once the attempt is
    * provably DEAD. A losing rewrite learns it lost at ITS OWN commit
    * claim, which can be long after a competitor claimed its version: a
    * foreign recovery running in that window would yank the scratch dir
    * out from under the still-running write job (observed as a crashed
    * chmod inside writeFused). The live loser self-cleans on replay
    * (rewriteLayout's retry loop), so eager foreign cleanup is only
    * needed for CRASHED losers — gated here by the same newest-mtime
    * grace rule the `_tmp_` reap uses, with the marker file's own mtime
    * as extra evidence (a fresh marker may predate any file activity).
    * With `onlyDead = true` (the merge/delete path) an uncommitted
    * marker is left alone — it may belong to a rebucket still in flight
    * on another handle, and attempt dirs are unique so it cannot collide
    * with us; the next full recovery resolves it once its version is
    * settled. Idempotent, and a no-op stat when no marker exists. */
  private[store] def recoverPendingRebucket(onlyDead: Boolean = false): Unit =
    log.readRebucketMarker().foreach { case (v, n, dir) =>
      val committed = log.hasCommit(v)
      if (committed || !onlyDead) {
        if (committed && log.dirOf(v) == dir) {
          if (meta.numBuckets != n) {
            val next = metaVar.copy(numBuckets = n)
            log.writeMeta(metaToJson(next))
            metaVar = next
          }
          clearRebucketProgressIfTarget(n)
          log.clearRebucketMarkerIf(dir)
        } else {
          def P(s: String) = new org.apache.hadoop.fs.Path(s)
          val evidence = Seq(
            log.rebucketMarkerMtime().getOrElse(Long.MinValue),
            newestMtimeOf(P(s"$path/_tmp_$dir")),
            newestMtimeOf(P(s"$path/data/$dir")),
            newestMtimeOf(pendingCdfPath(dir))).max
          // evidence == MinValue means EVERYTHING vanished between the
          // marker read and the mtime stats (another recovery settled
          // it): nothing left to reclaim here — and the subtraction
          // below would overflow on it, so it is excluded explicitly
          // rather than relying on the overflow's accidental direction
          if (evidence != Long.MinValue &&
              System.currentTimeMillis() - evidence > pendingGraceMs) {
            discardAttempt(dir)
            hfs.delete(P(s"$path/_tmp_$dir"), true)
            log.clearRebucketMarkerIf(dir)
          }
          // else: possibly alive — leave the marker and dirs untouched;
          // the loser replays and cleans itself, and a genuinely crashed
          // attempt is reclaimed here once the grace window passes
        }
      }
    }

  /** Every [[KeyedTable.CheckpointInterval]] commits, persist the full
    * bucket map so future readers replay O(interval) commit files, not
    * the whole history (Delta's checkpoint analog; SURVEY §6c-5). */
  private def maybeCheckpoint(version: Long): Unit =
    if (version % KeyedTable.CheckpointInterval == 0 && bvCache._1 == version)
      log.checkpoint(version, bvCache._2, lastAppliedBatchId)

  /** Removes data/cdf files no longer reachable from the latest
    * `retainVersions` snapshots — bounded storage growth for long-lived
    * tables (Delta's VACUUM analog). Time travel before the cutoff
    * stops working. */
  def vacuum(retainVersions: Int = 1): Unit = synchronized {
    val fs = hfs
    val versions = log.versions()
    if (versions.isEmpty) return
    val cutoff = versions.takeRight(retainVersions).head
    // dir version prefix: names are `v=<N>` or `v=<N>-<attempt token>`
    def dirVersion(n: String): Option[Long] = {
      val digits = n.stripPrefix("v=").takeWhile(_.isDigit)
      if (n.startsWith("v=") && digits.nonEmpty) Some(digits.toLong) else None
    }
    // data dirs still referenced by the bucket map of ANY retained
    // version — a retained bucket's manifest may reference files CARRIED
    // from much older commits' dirs, so reachability walks the
    // manifests, falling back to the owning commit's dir for
    // pre-manifest commits
    val reachableDirs: Set[String] = versions.filter(_ >= cutoff).flatMap { v =>
      bucketVersionsAt(v).toSeq.flatMap { case (b, ver) =>
        log.readCommit(ver).files match {
          case Some(m) => m.getOrElse(b, Nil).map(_.path.split('/')(1))
          case None    => Seq(log.dirOf(ver))
        }
      }
    }.toSet
    val dataRoot = new org.apache.hadoop.fs.Path(s"$path/data")
    // staging dirs of an IN-FLIGHT stepped rebucket are listed in the
    // progress record and must survive regardless of age; dirs from a
    // run that cut over are protected by manifest reachability instead
    val stagedLive: Set[String] = log.readRebucketProgress()
      .map(_._4.map(_._3).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { st =>
        val n = st.getPath.getName
        dirVersion(n).foreach { v =>
          if (v < cutoff && !reachableDirs.contains(n)) fs.delete(st.getPath, true)
        }
        // orphan stepped-rebucket staging (`rbstep-*`, no `v=` prefix so
        // the versioned branch above never touches it): reclaim only
        // when unreferenced by every retained manifest, not claimed by
        // the live progress record, and provably dead by the
        // whole-subtree mtime grace — the same three-way rule every
        // other attempt artifact answers to
        if (n.startsWith("rbstep-") && !reachableDirs.contains(n) &&
            !stagedLive.contains(n) &&
            System.currentTimeMillis() - newestMtimeOf(st.getPath) > pendingGraceMs)
          fs.delete(st.getPath, true)
      }
    }
    // cdf dirs are retained by the version of the commit that OWNS the
    // dir name — a re-stamped commit N's dir is named v=<M>-<token> with
    // M < N, so the name prefix must not decide retention
    val keepCdf: Set[String] = versions.filter(_ >= cutoff).map(log.dirOf).toSet
    val cdfRoot = new org.apache.hadoop.fs.Path(s"$path/cdf")
    if (fs.exists(cdfRoot)) {
      fs.listStatus(cdfRoot).foreach { st =>
        val n = st.getPath.getName
        if (!keepCdf.contains(n) && ownerVersionOf(n).forall(_ < cutoff))
          fs.delete(st.getPath, true)
      }
    }
    // pending dirs: commit-referenced ⇒ an interrupted publish, roll it
    // forward; unreferenced ⇒ delete only once provably dead — a young
    // one may be an in-flight attempt about to re-stamp to a higher
    // version than its name prefix suggests
    val pendingRoot = new org.apache.hadoop.fs.Path(s"$path/_cdf_pending")
    if (fs.exists(pendingRoot)) {
      fs.listStatus(pendingRoot).foreach { st =>
        val d = st.getPath.getName
        if (ownerVersionOf(d).isDefined) publishCdf(d)
        else if (deadPending(st)) fs.delete(st.getPath, true)
      }
    }
    // orphaned fused-write scratch dirs: a writeFused (or cdf re-stamp)
    // that crashed between its write job and the rename-out leaves
    // `_tmp_<attempt>` at the table root; the attempt can never commit
    // (the claim follows the cleanup), so the dir is garbage once
    // provably dead — liveness is the newest mtime over the WHOLE
    // subtree (see [[newestMtimeOf]] for why one level is not enough)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_tmp_") && st.isDirectory &&
          System.currentTimeMillis() - newestMtimeOf(st.getPath) > pendingGraceMs)
        fs.delete(st.getPath, true)
    }
    // orphan manifest sidecars: a LOSING attempt's spilled manifest is
    // never referenced by any commit — reclaim it once provably dead
    // (same grace as pending cdf: a young one may belong to an attempt
    // whose claim is still in flight)
    val logRoot = new org.apache.hadoop.fs.Path(s"$path/_log")
    if (fs.exists(logRoot)) {
      val committedDirs = versions.map(log.dirOf).toSet
      fs.listStatus(logRoot).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_manifest_") && n.endsWith(".parquet") &&
            !n.startsWith("_manifest_ckpt-") && // truncation checkpoints
            !committedDirs.contains(
              n.stripPrefix("_manifest_").stripSuffix(".parquet")) &&
            deadPending(st))
          fs.delete(st.getPath, false)
      }
    }
  }

  /** Bounds commit-log growth for long-lived tables (Delta's
    * logRetentionDuration analog): writes a checkpoint AT THE OLDEST
    * RETAINED VERSION that carries the full live file manifest (parquet
    * sidecar), records the truncation floor, then deletes every commit
    * file at or below the floor. Reads at retained versions replay from
    * the checkpoint; files carried forward from truncated commits stay
    * readable through the checkpoint manifest. Time travel and change
    * feeds at or below the floor become unavailable and fail loudly.
    * Call AFTER vacuum with a retention at least as long — truncation
    * below a live reader's window is the same contract violation as
    * vacuuming under it. */
  def truncateLog(retainVersions: Int = 100): Unit = synchronized {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val vs = log.versions()
    if (vs.size <= retainVersions) return
    val ckptV = vs.takeRight(retainVersions).head
    val floor = ckptV - 1
    if (floor < vs.head) return
    val bv = bucketVersionsAt(ckptV)
    val manifest: Map[Int, Seq[FileEntry]] = bv.toSeq.flatMap { case (b, v) =>
      log.readCommit(v).files.flatMap(_.get(b)).map(es => b -> es)
    }.toMap
    require(bv.keySet.forall(manifest.contains),
      s"cannot truncate through pre-manifest commits on $path")
    log.checkpointWithManifest(ckptV, bv, log.maxBatchIdAt(ckptV), manifest)
    log.writeFloor(floor, ckptV)
    log.deleteCommitsUpTo(floor)
  }

  /** Merge `batch` into the table; returns the new version.
    *
    * Single-writer. Mirrors the reference's foreachBatch-MERGE
    * (joins.py:563-570, 716-746; aggs.py:44-59) on the bucketed layout.
    */
  // highest streaming batchId ever merged (exactly-once replay guard);
  // initialized lazily from the log so a recovered stage handle sees
  // markers written before the crash. Tracked WITH the version it was
  // computed at: a concurrent drainer's commits (multi-drainer races,
  // §6h-2) advance the log behind this handle's back, and a stale cache
  // would let the same microbatch apply TWICE — double-counting every
  // incremental-agg delta. Freshening folds only the commit tail
  // (cached parses), so the steady-state cost is one log listing.
  @volatile private var batchIdCache: (Long, Long) = (-1L, Long.MinValue)

  private[graft] def lastAppliedBatchId: Long = lastAppliedBatchIdAt(latestVersion)

  private def lastAppliedBatchIdAt(v: Long): Long = {
    val (at, bid) = batchIdCache
    if (bid == Long.MinValue) {
      val fresh = log.maxBatchIdAt(v)
      batchIdCache = (v, fresh)
      fresh
    } else if (v > at) {
      val fresh = math.max(bid, log.maxBatchIdIn(at, v))
      batchIdCache = (v, fresh)
      fresh
    } else bid
  }

  /** @param deleteKeys keys whose CURRENT rows are removed in the SAME
    *                    commit the staged batch merges into
    *                    (delete-then-merge: deletions apply to the
    *                    pre-batch state, then staged rows merge — a
    *                    staged row sharing a deleted key re-inserts).
    *                    Makes a retract-and-replace pass atomic: no
    *                    reader can observe the retraction without the
    *                    replacement, and the pass costs ONE commit.
    *                    Must carry all bucket key columns. */
  def merge(batch: DataFrame, spec: MergeSpec, uniqueKeys: Boolean = false,
      batchId: Long = -1L, deleteKeys: Option[DataFrame] = None): Long =
    synchronized { withMergeConf {
    // a replayed microbatch (foreachBatch re-run after failure) must not
    // re-apply its deltas — that would double-count incremental aggs
    if (batchId >= 0 && batchId <= lastAppliedBatchId) return latestVersion
    // a rewriteLayout that threw mid-flight leaves a marker + possibly an
    // orphan data dir; settle any definitively-dead marker before
    // claiming a version
    recoverPendingRebucket(onlyDead = true)
    // generated columns (Delta's GENERATED ALWAYS AS analog,
    // joins.py:875-878): computed from the staged rows when the batch
    // doesn't carry them — so partition pruning on a derived column
    // works without every writer re-deriving it
    // schema auto-evolution (Delta's autoMerge analog): batch columns
    // beyond the declared schema widen it in place when opted in;
    // otherwise they are dropped by the dataCols projection below
    if (spark.conf.getOption("spark.graft.schema.autoMerge").contains("true")) {
      val extra = batch.schema.fields
        .filterNot(f => dataCols.contains(f.name) || f.name.startsWith("_"))
      if (extra.nonEmpty) evolveSchema(extra.toSeq)
    }
    val withGen = meta.generatedCols.foldLeft(batch) { case (df, (n, sql)) =>
      if (df.columns.contains(n)) df else df.withColumn(n, expr(sql))
    }
    val dataOnly = withGen.select(dataCols.map(col): _*)
    // the bucket modulus this whole plan is hashed with — stamped into
    // the commit and compared against the claim base's epoch, so a
    // rebucket racing this merge forces a replay instead of silently
    // landing old-modulus buckets (§6f-7)
    val planEpoch = meta.numBuckets
    // incremental stages produce key-unique batches by construction
    // (join deltas are outer-merged per key, agg deltas are groupBy
    // output) — the within-batch dedup window would be a no-op shuffle
    val staged0 = Lineage.pin((if (uniqueKeys) dataOnly else dedupByKey(dataOnly))
      .withColumn(KHashCol, keyHashExpr(col))
      .withColumn(BucketCol, pmod(col(KHashCol), lit(meta.numBuckets)).cast("int")))
    // fused deletions, bucketed like the staged batch; their buckets and
    // hash ranges join the plan so file pruning can never carry a file
    // holding a to-delete row
    val delKeyCols = deleteKeys.map(dk => meta.keys.filter(dk.columns.contains))
    delKeyCols.foreach(kc => require(meta.bucketKeys.forall(kc.contains),
      s"fused delete keys must carry all bucket key columns ${meta.bucketKeys.mkString(",")}"))
    val del0 = deleteKeys.map { dk =>
      Lineage.pin(dk.select(delKeyCols.get.map(col): _*).distinct()
        .withColumn(KHashCol, keyHashExpr(col))
        .withColumn(BucketCol, pmod(col(KHashCol), lit(meta.numBuckets)).cast("int")))
    }
    try {
      // ONE action materializes the staged batch AND collects everything
      // the planner needs from it: per affected bucket the row count and
      // the staged key-hash [min,max] (file-granular pruning), plus the
      // distinct values of each pruned column
      val aggCols = Seq(count(lit(1)).alias("__n"),
        min(col(KHashCol)).alias("__mn"), max(col(KHashCol)).alias("__mx")) ++
        meta.prunedCols.map(pc => collect_set(col(pc)).alias(s"__p_$pc"))
      spark.sparkContext.setJobDescription("graft:merge:plan")
      val planRows = timed("plan")(staged0.groupBy(col(BucketCol))
        .agg(aggCols.head, aggCols.tail: _*).collect())
      val delPlan: Array[Row] = del0.map(d =>
        d.groupBy(col(BucketCol)).agg(count(lit(1)).alias("__n"),
          min(col(KHashCol)).alias("__mn"), max(col(KHashCol)).alias("__mx"))
          .collect()).getOrElse(Array.empty)
      val affected = (planRows.map(_.getInt(0)) ++ delPlan.map(_.getInt(0)))
        .distinct.toSeq
      if (affected.isEmpty) latestVersion
      else {
        val stagedRange = (planRows.map(r =>
            r.getInt(0) -> (r.getLong(2), r.getLong(3))) ++
          delPlan.map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))))
          .groupBy(_._1)
          .map { case (b, rs) =>
            b -> (rs.map(_._2._1).min, rs.map(_._2._2).max) }
        val stagedCount = planRows.map(_.getLong(1)).sum +
          delPlan.map(_.getLong(1)).sum
        // per-bucket staged counts feed the adaptive sketch-tier
        // estimate (expected falsely-kept files) in splitByHashRange
        val stagedByBucket: Map[Int, Long] =
          (planRows.map(r => r.getInt(0) -> r.getLong(1)) ++
            delPlan.map(r => r.getInt(0) -> r.getLong(1)))
            .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
        // static partition pruning (the reference's `prune(col)`,
        // joins.py:619-632): restrict the target-side scan to the
        // pruned columns' values present in this batch — at scale this
        // skips whole partitions/row-groups of the target. Disabled for
        // fused-delete merges: delete keys carry no partition values,
        // so a pruned-out partition could silently keep a deleted row.
        val pruneFilter: Option[Column] =
          if (del0.isDefined) None
          else meta.prunedCols.headOption.map { _ =>
          meta.prunedCols.zipWithIndex.map { case (pc, i) =>
            val vals = planRows.flatMap(_.getSeq[Any](4 + i)).distinct.filter(_ != null)
            col(pc).isNull || col(pc).isin(vals: _*)
          }.reduce(_ && _)
        }
        // the same per-bucket staged value sets, for manifest-level
        // prune-carry inside splitByHashRange
        val prunedValsByBucket: Map[Int, Seq[(String, Seq[Any])]] =
          if (meta.prunedCols.isEmpty || del0.isDefined) Map.empty
          else planRows.map { r =>
            r.getInt(0) -> meta.prunedCols.zipWithIndex.map { case (pc, i) =>
              pc -> r.getSeq[Any](4 + i).filter(_ != null)
            }
          }.toMap
        // state a lost claim leaves behind for the next attempt
        var prevDir: String = null
        var prevUp: Long = -1L
        var prevDel: Long = -1L
        var prevPre: Long = -1L
        var prevBv: Map[Int, Long] = null
        var prevWritten: Seq[Int] = null
        var prevEmptied: Seq[Int] = null
        var prevManifest: Map[Int, Seq[FileEntry]] = null
        var attempt = 0
        var out = -1L
        while (out < 0) {
          val base = latestVersion
          // a competitor may have applied this very microbatch while we
          // were staging or racing (two drainers of one stage) — the
          // version-aware cache re-folds the commit tail whenever the
          // log moved past it, so this check is fresh on EVERY attempt
          if (batchId >= 0 && batchId <= lastAppliedBatchIdAt(base)) {
            if (prevDir != null) discardAttempt(prevDir)
            return base
          }
          // a concurrent rebucket changed the hash modulus after this
          // plan staged: every bucket id and file range in it is wrong —
          // drop the attempt and replay against the new layout
          if (epochAt(base) >= 0 && epochAt(base) != planEpoch) {
            if (prevDir != null) discardAttempt(prevDir)
            refreshMeta()
            return merge(batch, spec, uniqueKeys, batchId, deleteKeys)
          }
          val newVersion = base + 1
          val bv = bucketVersionsAt(base).filter { case (b, _) => affected.contains(b) }
          if (prevDir != null && bv == prevBv) {
            // the winner's bucket set was DISJOINT from ours: every file
            // we wrote is still exactly right — only the commit version
            // baked into the pending cdf rows is stale. Re-stamp those
            // few small files and re-claim; no bucket re-read, no merge.
            occRestamps += 1
            restampCdf(prevDir, newVersion)
            firePreCommit()
            if (log.commit(newVersion, prevWritten, prevEmptied, batchId,
                cdfBytesOf(prevDir), prevDir, Option(prevManifest), planEpoch,
                cdfUp = prevUp, cdfDel = prevDel, cdfPre = prevPre)) {
              publishCdf(prevDir)
              bvCache = (newVersion,
                bucketVersionsAt(newVersion - 1) ++ prevWritten.map(_ -> newVersion)
                  -- prevEmptied)
              if (batchId >= 0) batchIdCache =
                (newVersion, math.max(lastAppliedBatchIdAt(base), batchId))
              maybeCheckpoint(newVersion)
              out = newVersion
            } else {
              occRetries += 1
              attempt += 1
              require(attempt <= occMaxRetries,
                s"merge lost $attempt optimistic commit claims on $path; " +
                  "raise spark.graft.occ.maxRetries or reduce writer contention")
            }
          } else {
            if (prevDir != null) { discardAttempt(prevDir); prevDir = null }
            val dir = attemptDir(newVersion)
            // file-granular target scan: only files whose key-hash range
            // intersects the staged batch are read and rewritten; the
            // rest of each bucket's files carry forward by reference
            // fused-delete merges prune files against staged ∪ delete
            // hashes (a carried file must provably hold neither)
            val planKeys = del0.fold(staged0)(d =>
              staged0.select(col(BucketCol), col(KHashCol))
                .unionByName(d.select(col(BucketCol), col(KHashCol))))
            // timed separately from "plan" (the staged-batch collect
            // job): this is the manifest fold + the optional broadcast
            // refinement job — the piece that would grow with HISTORY
            // size if the fold ever regressed, where "plan" grows with
            // the staged batch's bytes (data-proportional by design)
            val (readablePaths, carriedFiles, readBytesByBucket) =
              timed("planSplit")(
                splitByHashRange(planKeys, bv.toSeq, stagedRange, stagedCount,
                  prunedValsByBucket, stagedByBucket))
            val readBytes = readBytesByBucket.map(_.values.map(_._1).sum)
            val currentRaw0 = readPaths(readablePaths)
            // deletions apply to the CURRENT state before the staged
            // batch merges; removed rows become delete change rows
            val (currentRaw, removedRows) = del0 match {
              case Some(d) =>
                val dd = broadcast(d.drop(KHashCol, BucketCol))
                val eq = delKeyCols.get
                  .map(k => col(s"u.$k") <=> col(s"d.$k")).reduce(_ && _)
                val u = currentRaw0.alias("u")
                (u.join(dd.alias("d"), eq, "left_anti")
                   .select(dataCols.map(c => col(s"u.$c").alias(c)): _*),
                 Some(u.join(dd.alias("d"), eq, "left_semi")
                   .select(dataCols.map(c => col(s"u.$c").alias(c)): _*)))
              case None => (currentRaw0, None)
            }
            val current = pruneFilter.fold(currentRaw)(currentRaw.where)
                .withColumn(BucketCol, bucketExpr(col))
            val (merged, cdf0, cleanup) =
              if (readablePaths.isEmpty) mergeIntoEmpty(staged0, spec)
              else if (meta.nullableKeys.isEmpty) mergeExact(current, staged0, spec)
              else mergeWithPlaceholders(current, staged0, spec)
            val cdf = removedRows.fold(cdf0)(r => cdf0.unionByName(
              r.withColumn("_change_type", lit("delete"))))
            // bucket rewrite must carry pruned-out rows through unchanged —
            // pruning narrows the MATCHING scan, not the bucket contents
            // (pruneFilter is None on fused-delete merges, so the carry
            // branch can never resurrect a deleted row)
            val newContent = pruneFilter.fold(merged) { f =>
              merged.unionByName(
                currentRaw.where(!f).withColumn(BucketCol, bucketExpr(col)))
            }
            try {
              spark.sparkContext.setJobDescription("graft:merge:write")
              // post-shuffle write parallelism (and output file count)
              // tracks THIS rewrite's bytes, not the session-wide
              // partition count: a KB-delta commit over 8+ partitions
              // schedules mostly-empty write tasks and fragments
              // buckets into tiny files. readBytes is the target bytes
              // being rewritten (64B/row staged estimate on top); scan
              // parallelism is governed by file splits, untouched.
              val writeParts: Option[Int] = readBytes.map { rb =>
                val bytesPerPart = 128L << 20
                val est = rb + (stagedCount << 6)
                math.max(2L, (est + bytesPerPart - 1) / bytesPerPart).toInt
              }
              val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
              val clamp = writeParts.filter(_ < prevParts.toInt)
              clamp.foreach(n =>
                spark.conf.set("spark.sql.shuffle.partitions", n.toString))
              var cdfUp = -1L; var cdfDel = -1L; var cdfPre = -1L
              try {
                val counts = timed("write")(writeFused(dir, newVersion, newContent,
                  cdf, hashSort = hashSortNeeded(readBytesByBucket, stagedByBucket)))
                cdfUp = counts._1; cdfDel = counts._2; cdfPre = counts._3
              } finally if (clamp.isDefined)
                spark.conf.set("spark.sql.shuffle.partitions", prevParts)
              spark.sparkContext.setJobDescription(null)
              // manifest = carried references + the attempt's new files;
              // affected buckets with neither were empty before AND after
              // (e.g. every staged row lost its sequence race against an
              // empty bucket) — tombstone them so the map never points at
              // missing files
              val newFiles = timed("stats")(writtenFileStats(dir))
              val manifest = affected.map { b =>
                b -> (carriedFiles.getOrElse(b, Nil) ++ newFiles.getOrElse(b, Nil))
              }.filter(_._2.nonEmpty).toMap
              val written = manifest.keys.toSeq
              val emptied = affected.filterNot(manifest.contains)
              firePreCommit()
              if (timed("commit")(log.commit(newVersion, written, emptied, batchId,
                  cdfBytesOf(dir), dir, Some(manifest), planEpoch,
                  cdfUp = cdfUp, cdfDel = cdfDel, cdfPre = cdfPre))) {
                timed("publish")(publishCdf(dir))
                // advance the replay cache incrementally
                bvCache = (newVersion,
                  bucketVersionsAt(newVersion - 1) ++ written.map(_ -> newVersion)
                    -- emptied)
                if (batchId >= 0) batchIdCache =
                  (newVersion, math.max(lastAppliedBatchIdAt(base), batchId))
                maybeCheckpoint(newVersion)
                out = newVersion
              } else {
                occRetries += 1
                attempt += 1
                prevDir = dir; prevBv = bv
                prevWritten = written; prevEmptied = emptied
                prevManifest = manifest
                prevUp = cdfUp; prevDel = cdfDel; prevPre = cdfPre
                require(attempt <= occMaxRetries,
                  s"merge lost $attempt optimistic commit claims on $path; " +
                    "raise spark.graft.occ.maxRetries or reduce writer contention")
              }
            } finally cleanup()
          }
        }
        out
      }
    } finally { Lineage.release(staged0); del0.foreach(Lineage.release) }
  } }

  /** Merge plans are bounded-size by construction (one microbatch vs a
    * handful of pruned buckets), so AQE's per-stage re-planning adds a
    * job round-trip per exchange without ever changing the plan — at
    * 100 TB the microbatch is still ~1 GB (`maxFilesPerTrigger`), and
    * skew/coalesce decisions belong to the big table-wide queries, not
    * the merge hot loop. Collapsing a merge to classic one-job planning
    * roughly halves per-commit latency.
    */
  /** Whether a rewrite's output may split into several files per bucket
    * (→ hash-sort so their ranges come out disjoint). `maxRecordsPerFile`
    * splits per (side, bucket) write partition, so the exact decision
    * variable is PER-BUCKET output rows vs the file-row cap — not total
    * rewrite bytes: a one-pass seed load of millions of rows spread over
    * many buckets still writes one footer-exact file per bucket, where
    * the sort buys nothing. Read rows are estimated from manifest bytes
    * at a deliberately narrow width (wide rows over-estimate → sort — the
    * safe direction); staged rows are exact planner counts. Unknown
    * input (legacy dirs) sorts. */
  private[store] def hashSortNeeded(
      readByBucket: Option[Map[Int, (Long, Long)]],
      stagedByBucket: Map[Int, Long]): Boolean = {
    // an explicit targetFileRows means the caller WANTS small multi-file
    // buckets (specs, compaction experiments) — their ranges must be
    // disjoint, so always sort
    if (spark.conf.getOption("spark.graft.targetFileRows").isDefined) true
    else readByBucket match {
      case None => true // legacy dirs: per-bucket sizes unknowable
      case Some(byB) =>
        val fileRows = 1L << 21 // writeFused's default maxRecordsPerFile
        // byte-width fallback for pre-r16 manifests whose entries carry
        // no row counts (rows == -1). Only then: a compressed-bytes
        // estimate UNDER-counts highly compressible key runs (dict/RLE
        // easily < 16 B/row) and would skip a needed sort — r15 advice.
        val minRowBytes = 16L
        (byB.keySet ++ stagedByBucket.keySet).exists { b =>
          val (bytes, rows) = byB.getOrElse(b, (0L, 0L))
          val readRows = if (rows >= 0) rows else bytes / minRowBytes
          readRows + stagedByBucket.getOrElse(b, 0L) >= fileRows
        }
    }
  }

  /** Per-phase wall-clock, accumulated into [[PhaseStats]] so bench
    * records carry their own attribution. */
  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally PhaseStats.add(label, System.nanoTime() - t0)
  }

  private def withMergeConf[T](f: => T): T = {
    val conf = spark.conf
    def swap(key: String, value: Option[String]): Option[String] = {
      val prev = conf.getOption(key)
      value match {
        case Some(v) => conf.set(key, v)
        case None    => if (prev.isDefined) conf.unset(key)
      }
      prev
    }
    val prevAqe = swap("spark.sql.adaptive.enabled", Some("false"))
    // merge shuffles are microbatch-sized; let deployments shrink them
    // below the session default (sized for table-wide queries) via
    // spark.graft.merge.shufflePartitions
    val prevSp = conf.getOption("spark.graft.merge.shufflePartitions")
      .map(v => swap("spark.sql.shuffle.partitions", Some(v)))
    // attempt dirs are private until the post-write rename and discarded
    // on failure, so the v1 committer's extra _temporary indirection and
    // _SUCCESS markers buy nothing here — v2's direct task-commit rename
    // shaves fixed per-commit write latency (the non-atomic-rename-store
    // caveat is the same one the commit log itself documents)
    val prevAlg = swap("mapreduce.fileoutputcommitter.algorithm.version", Some("2"))
    val prevSucc = swap("mapreduce.fileoutputcommitter.marksuccessfuljobs", Some("false"))
    try f
    finally {
      swap("spark.sql.adaptive.enabled", prevAqe)
      prevSp.foreach(p => swap("spark.sql.shuffle.partitions", p))
      swap("mapreduce.fileoutputcommitter.algorithm.version", prevAlg)
      swap("mapreduce.fileoutputcommitter.marksuccessfuljobs", prevSucc)
    }
  }

  /** Writes a commit attempt's data buckets AND its cdf rows in ONE
    * Spark job: both halves are unioned, tagged by a side column,
    * written to a tmp dir partitioned by (side, bucket), and moved into
    * place with filesystem renames. Halving the write jobs halves the
    * dominant per-commit cost of incremental pipelines; the join both
    * halves derive from is persisted by the caller so it is computed
    * once.
    *
    * Everything lands under the attempt-unique `dir`: data at
    * `data/<dir>/b=*` (unreferenced until the commit claim wins) and
    * change rows at the HIDDEN `cdf/.pending_<dir>` (published by
    * rename only after the claim wins, so no reader ever sees rows of a
    * losing attempt). */
  /** Returns the commit's exact change-row counts
    * `(upserts, deletes, preimages)` — derived DRIVER-SIDE from the cdf
    * parquet footers during the rename pass (each change file holds one
    * change-type class by construction, so its footer row count IS the
    * class count; a few ~KB tail reads per commit, no Spark job and no
    * listener-bus dependency — an earlier CollectMetrics design stalled
    * every commit up to 5 s under driver-side listener lag). The counts
    * feed the commit log so batch drains can derive a window's
    * row/delete profile without scanning the feed. */
  private def writeFused(dir: String, newVersion: Long, newContent: DataFrame,
      cdf: DataFrame, sortKeys: Seq[Column] = Nil,
      hashSort: Boolean = true): (Long, Long, Long) = {
    // normalize to the declared schema: merge arithmetic can widen
    // types (e.g. decimal(28,6)+decimal(28,6) → decimal(29,6)), and a
    // widened file would break the explicit-schema bucket reads
    def normalized(df: DataFrame, extra: Seq[Column]): DataFrame =
      df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).alias(f.name)) ++
        extra: _*)
    // __khash is stored in the data files: the write sorts by it (so one
    // commit's files per bucket cover disjoint hash ranges), the commit
    // manifest records per-file [min,max] straight from the parquet
    // footer stats, and future merges prune against those ranges
    val dataSide = normalized(newContent, Seq(col(BucketCol)))
      .withColumn(KHashCol, keyHashExpr(col))
      .withColumn("_change_type", lit(null).cast(StringType))
      .withColumn("_commit_version", lit(null).cast(LongType))
      .withColumn(SideCol, lit("d"))
    // cdf rows don't need per-bucket dirs (downstream flattens them to
    // a file list); folding the bucket id modulo a small file budget
    // caps each commit at ~CdfFiles change files PER CHANGE CLASS. The
    // class (upsert / delete / preimage) rides in the fold index —
    // b = class*CdfFiles + bucket%CdfFiles — so every change file holds
    // exactly one class and its footer row count IS the class count
    val classExpr = when(col("_change_type") === "delete", 1)
      .when(col("_change_type") === "update_preimage", 2)
      .otherwise(0)
    val cdfSide = normalized(cdf, Seq(col("_change_type")))
      .withColumn(KHashCol, lit(null).cast(LongType))
      .withColumn("_commit_version", lit(newVersion))
      .withColumn(BucketCol,
        (classExpr * CdfFiles + pmod(bucketExpr(col), lit(CdfFiles))).cast("int"))
      .withColumn(SideCol, lit("c"))
    val tmp = s"$path/_tmp_$dir"
    val shuffled = dataSide.unionByName(cdfSide)
      .withColumnRenamed(BucketCol, "b")
      .repartition(col(SideCol), col("b"))
    // data rows sort by key hash so maxRecordsPerFile splits each bucket
    // into files with DISJOINT hash ranges — the geometry file-granular
    // merge pruning depends on. optimize()/optimizeZOrder() override the
    // order to cluster by their sort keys instead (row-group stats on
    // those columns tighten; hash ranges then overlap and merge pruning
    // degrades gracefully to whole-bucket until the next hash-ordered
    // rewrite). Write tasks are per (side, b), so a within-partition
    // sort orders each output file.
    // the key-hash sort only buys anything when a bucket's rewrite
    // SPLITS into several files (disjoint ranges between them) — a
    // single-file bucket's [min,max] is exact either way. Callers pass
    // hashSort=false for rewrites small enough to stay one file per
    // bucket, saving the per-merge sort stage in the incremental hot
    // loop; large rewrites (and any legacy/unknowable input) sort.
    // zero-duration marker phases: bench records then carry the count of
    // sorted vs unsorted writes, so sort-gate regressions are visible in
    // any record without a debug rerun
    PhaseStats.add(if (!sortKeys.isEmpty) "writeSortKeys"
      else if (hashSort) "writeSortHash" else "writeNoSort", 0L)
    val ordered =
      if (!sortKeys.isEmpty)
        shuffled.sortWithinPartitions(
          Seq(col(SideCol), col("b")) ++ sortKeys: _*)
      else if (!hashSort) shuffled
      else shuffled.sortWithinPartitions(col(SideCol), col("b"), col(KHashCol))
    // 2M-row default split (~50-200 MB files at typical row widths —
    // Delta's file-size band), NOT Spark's effectively-unbounded one:
    // an unbounded rewrite consolidates a bucket into ONE file whose
    // key-hash span is the bucket's WHOLE range and whose NDV blows
    // past any bloom budget — every future staged hash then probes a
    // saturated sketch, falsely keeps the file, and the next rewrite
    // merges it even bigger (measured at the sf10 point arm: wave
    // writes snowballed 22→197 MB before this bound; flat after).
    // Hash-sorted splitting keeps per-file spans narrow AND per-file
    // NDV within the sketch budget below.
    val fileRows = spark.conf
      .getOption("spark.graft.targetFileRows").map(_.toLong).getOrElse(1L << 21)
    // bloom budget sized to the PER-FILE row cap at the 0.001 fpp
    // target (~1.8 B/distinct long → ~3.6 MB for the 2M default;
    // parquet's 1 MB default saturates at ~600k and fpp degrades
    // quietly). Sizing to fileRows rather than a flat 4 MB matters for
    // concurrency (guide §5): the writer allocates ~2× the budget of
    // candidate bitsets PER OPEN FILE, so a small-file gate
    // (targetFileRows=2000 rolls a file every 2k rows) under 32
    // concurrent tasks would otherwise churn ~8 MB × 32 of allocations
    // per file wave — the r15 scan_zone_skip 8-vs-32-core anti-scaling.
    // A 2k-row file meets the same fpp with a ~4 KB sketch.
    val bloomMaxBytes = {
      val want = fileRows * 2 // ~1.8 B/row rounded up to the next pow2
      math.min(1L << 22, math.max(1L << 12,
        java.lang.Long.highestOneBit(math.max(1L, want - 1)) << 1))
    }
    // adaptive candidates are max.bytes/2^i: reach down to 512 B so a
    // file far smaller than the cap pays a proportionally tiny sketch
    // (at the 4 MB budget that is the 14 candidates shipped in r15)
    val bloomCandidates = math.max(1,
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, bloomMaxBytes / 512)) + 1)
    ordered
      .write.mode("overwrite")
      .option("maxRecordsPerFile", fileRows)
      .option("parquet.bloom.filter.max.bytes", bloomMaxBytes.toString)
      // parquet-native bloom filter over the stored key hash: built by
      // the writer at near-zero cost, read back by the merge planner's
      // membership probe as a few-KB footer tail read PER FILE — no
      // column-scan job (the probe's read was the last table-size-
      // proportional per-commit cost; see splitByHashRange). Adaptive
      // sizing keeps small files' sketches small while meeting the
      // default 1% FPP on large ones; false positives only KEEP files.
      .option(s"parquet.bloom.filter.enabled#$KHashCol",
        spark.conf.getOption("spark.graft.manifest.bloom").getOrElse("true"))
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      // NB: parquet reads the candidates key ONLY in per-column
      // `key#col` form (ColumnConfigParser), never bare.
      .option(s"parquet.bloom.filter.candidates.number#$KHashCol",
        bloomCandidates.toString)
      // fpp drives how many files a SKETCH probe falsely keeps: the
      // expected count is (staged hashes × fpp), so the probe tier is
      // capped at sketchMax (2000) staged rows and fpp is set so
      // cap × fpp ≈ 2 — tight enough that a point-update wave's write
      // cost stays a couple of files regardless of table size
      .option(s"parquet.bloom.filter.fpp#$KHashCol", "0.001")
      .partitionBy(SideCol, "b")
      .parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val dataTmp = P(s"$tmp/$SideCol=d")
    if (fs.exists(dataTmp)) {
      fs.mkdirs(P(s"$path/data"))
      fs.rename(dataTmp, P(s"$path/data/$dir"))
    }
    val cdfTmp = P(s"$tmp/$SideCol=c")
    // (class, published path) of every change file — counted below
    var cdfOut = List.empty[(Int, org.apache.hadoop.fs.Path)]
    if (fs.exists(cdfTmp)) {
      val dest = pendingCdfPath(dir)
      fs.mkdirs(dest)
      // flatten b=* so the cdf stream's glob sees plain files
      fs.listStatus(cdfTmp).filter(_.getPath.getName.startsWith("b=")).foreach { bDir =>
        val b = bDir.getPath.getName.stripPrefix("b=")
        fs.listStatus(bDir.getPath).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
          val target = new org.apache.hadoop.fs.Path(dest, s"b$b-${f.getPath.getName}")
          fs.rename(f.getPath, target)
          cdfOut ::= (b.toInt / CdfFiles, target)
        }
      }
    }
    fs.delete(P(tmp), true)
    // exact per-class counts from the footers of the files just renamed:
    // a handful of ~KB tail reads, concurrent past the trivial case
    def countOne(p: org.apache.hadoop.fs.Path): Long = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try rd.getRecordCount finally rd.close()
    }
    val counted: Seq[(Int, Long)] =
      if (cdfOut.sizeIs <= 2) cdfOut.map { case (cc, p) => (cc, countOne(p)) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, cdfOut.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(cdfOut.map { case (cc, p) =>
            new java.util.concurrent.Callable[(Int, Long)] {
              def call(): (Int, Long) = (cc, countOne(p))
            }
          }.asJava).asScala.toSeq.map(_.get())
        } finally pool.shutdown()
      }
    val byClass = counted.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    (byClass.getOrElse(0, 0L), byClass.getOrElse(1, 0L), byClass.getOrElse(2, 0L))
  }

  /** Latest-wins dedup of a batch by full key (joins.py:556-561). */
  private def dedupByKey(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(meta.keys.map(col): _*).orderBy(orderBySeqDesc(df))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  private def orderBySeqDesc(df: DataFrame): Column =
    if (meta.seqCols.nonEmpty) struct(meta.seqCols.map(col): _*).desc
    else lit(1).asc // arbitrary winner, same as reference's dropDuplicates

  /** Exact-key merge (upsert / agg tables): one full-outer join on the
    * null-safe key equality, no windows. */
  private def mergeExact(current: DataFrame, staged: DataFrame, spec: MergeSpec)
      : (DataFrame, DataFrame, () => Unit) = {
    val u = current.withColumn(UExists, lit(true)).alias("u")
    val s = staged.withColumn(SExists, lit(true)).alias("s")
    // partition columns participate in the match (joins.py:679): a row
    // whose partition value changed merges as delete+insert, like the
    // reference's partitioned Delta merge
    val eqCols = meta.keys ++ meta.partitionCols.filterNot(meta.keys.contains)
    val keyEq = eqCols.map(k => col(s"u.$k") <=> col(s"s.$k")).reduce(_ && _)
    // NB: must stay a persist, NOT Lineage.pin — the u./s. qualifiers
    // both sides' downstream selects resolve through live in the plan's
    // SubqueryAliases; a checkpoint would flatten them away with both
    // sides' identical column names left indistinguishable
    val pairs = u.join(s, keyEq, "full_outer")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val matched = coalesce(col(s"u.$UExists"), lit(false)) &&
      coalesce(col(s"s.$SExists"), lit(false))
    val sOnly = !coalesce(col(s"u.$UExists"), lit(false))
    val seqOk = seqGuard
    val mergedCols = dataCols.map { c =>
      val upd = spec.updateExprs.flatMap(_.get(c)).getOrElse(col(s"s.$c"))
      val ins = spec.insertExprs.flatMap(_.get(c)).getOrElse(col(s"s.$c"))
      when(matched && seqOk, upd).when(sOnly, ins).otherwise(col(s"u.$c")).alias(c)
    }
    val newContent = pairs.select(
      mergedCols :+ coalesce(col(s"u.$BucketCol"), col(s"s.$BucketCol")).alias(BucketCol): _*)
    val inserts = pairs.where(sOnly)
      .select(dataCols.map(c => spec.insertExprs.flatMap(_.get(c)).getOrElse(col(s"s.$c")).alias(c)): _*)
      .withColumn("_change_type", lit("insert"))
    val updatesPre = pairs.where(matched && seqOk)
      .select(dataCols.map(c => col(s"u.$c").alias(c)): _*)
      .withColumn("_change_type", lit("update_preimage"))
    val updatesPost = pairs.where(matched && seqOk)
      .select(dataCols.map(c =>
        spec.updateExprs.flatMap(_.get(c)).getOrElse(col(s"s.$c")).alias(c)): _*)
      .withColumn("_change_type", lit("update_postimage"))
    (newContent, inserts.unionByName(updatesPre).unionByName(updatesPost),
      () => { pairs.unpersist(); () })
  }

  /** `u.seq is null OR u.seq <= s.seq` (joins.py:706) as one struct compare. */
  private def seqGuard: Column =
    if (meta.seqCols.isEmpty) lit(true)
    else {
      val us = struct(meta.seqCols.map(c => col(s"u.$c")): _*)
      val ss = struct(meta.seqCols.map(c => col(s"s.$c")): _*)
      coalesce(us <= ss, lit(true))
    }

  /** Outer-join-output merge: stored rows may carry null `nullableKeys`
    * ("no match yet" placeholders). An incoming row prefers, in order:
    * its exact key match, then a placeholder it can upgrade; rows that
    * lose the per-target race insert as new rows — the reference builds
    * the same behavior from `_mergeCondition` OR-combinations + `__rn`
    * windows + an anti-join (joins.py:584-617, 691-746). */
  /** Within-batch placeholder subsumption: when an upstream stage
    * inserts a placeholder row (nullable keys still null) AND upgrades
    * it within the commit range of ONE downstream microbatch, the
    * batch carries both images of the same logical row. A staged row
    * whose nullable keys are a null-masked version of another staged
    * row with the same bucket keys is the stale image — drop it (the
    * reference's anti-join on __pk_nulls_count, joins.py:716-719). */
  private def subsumeStaged(staged0: DataFrame): DataFrame =
    if (meta.nullableKeys.isEmpty) staged0
    else {
      val nullsCnt = meta.nullableKeys
        .map(k => when(col(k).isNull, 1).otherwise(0)).reduce(_ + _)
      val x = staged0.withColumn("__nulls", nullsCnt).alias("x")
      val y = staged0.withColumn("__nulls", nullsCnt).alias("y")
      val subsumedBy = (meta.bucketKeys.map(k => col(s"x.$k") === col(s"y.$k")) ++
        meta.nullableKeys.map(k => col(s"x.$k").isNull || col(s"x.$k") <=> col(s"y.$k")) :+
        (col("x.__nulls") > col("y.__nulls"))).reduce(_ && _)
      x.join(y, subsumedBy, "left_anti")
        .select(dataCols.map(c => col(s"x.$c").alias(c)) :+
          col(s"x.$BucketCol").alias(BucketCol): _*)
    }

  /** Fast path for merges whose affected buckets don't exist yet (first
    * load of a table or of new buckets): every staged row is an insert,
    * so the target-join/window machinery — a self-join against nothing —
    * is skipped entirely. Matters twice: initial bulk loads at scale
    * bootstrap with a pure write, and every gate's source-table setup
    * drops a join+sort per upsert. */
  private def mergeIntoEmpty(staged0: DataFrame, spec: MergeSpec)
      : (DataFrame, DataFrame, () => Unit) = {
    val s = subsumeStaged(staged0).alias("s")
    val content = s.select(dataCols.map(c =>
      spec.insertExprs.flatMap(_.get(c)).getOrElse(col(s"s.$c")).alias(c)) :+
      col(s"s.$BucketCol").alias(BucketCol): _*)
    val cdf = content.drop(BucketCol).withColumn("_change_type", lit("insert"))
    (content, cdf, () => ())
  }

  private def mergeWithPlaceholders(current: DataFrame, staged0: DataFrame, spec: MergeSpec)
      : (DataFrame, DataFrame, () => Unit) = {
    val staged = subsumeStaged(staged0)
    val u = current.withColumn(UExists, lit(true)).alias("u")
    val s = staged.withColumn(SExists, lit(true)).alias("s")
    val bucketEq = (meta.bucketKeys.map(k => col(s"u.$k") === col(s"s.$k")) ++
      meta.partitionCols.filterNot(meta.keys.contains).map(pc =>
        col(s"u.$pc") <=> col(s"s.$pc") || col(s"u.$pc").isNull))
      .reduce(_ && _)

    // candidate pairs share the non-nullable keys; score the nullable part:
    //   both equal (incl. both-null) → 2, one side null → 1, conflict → -100
    val score = meta.nullableKeys.map { k =>
      when(col(s"u.$k") <=> col(s"s.$k"), lit(2))
        .when(col(s"u.$k").isNull || col(s"s.$k").isNull, lit(1))
        .otherwise(lit(-100))
    }.reduce(_ + _)
    val uNullCount = meta.nullableKeys.map(k =>
      when(col(s"u.$k").isNull, 1).otherwise(0)).reduce(_ + _)

    val cand = u.join(s, bucketEq, "inner")
      .withColumn("__score", score)
      .withColumn("__u_nulls", uNullCount)
      .where(col("__score") > 0)

    val sKeyCols = meta.keys.map(k => col(s"s.$k"))
    val uKeyCols = meta.keys.map(k => col(s"u.$k"))
    val wPerS = Window.partitionBy(sKeyCols: _*)
      .orderBy(col("__score").desc, col("__u_nulls").asc)
    val wPerU = Window.partitionBy(uKeyCols: _*)
      .orderBy((if (meta.seqCols.nonEmpty)
        struct(meta.seqCols.map(c => col(s"s.$c")): _*).desc else lit(1).asc))

    // persist, not Lineage.pin — same u./s. qualifier constraint as
    // mergeExact's pairs
    val ranked = cand
      .withColumn("__rn_s", row_number().over(wPerS)).where(col("__rn_s") === 1)
      .withColumn("__rn_u", row_number().over(wPerU))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val winners = ranked.where(col("__rn_u") === 1 && seqGuard)
    // staged rows that matched a target but lost the sequence race vanish;
    // losers of the per-target race become fresh inserts (merge-cond miss
    // → whenNotMatchedInsert in the reference)
    val losers = ranked.where(col("__rn_u") > 1)

    val sNullSafeEq = meta.keys.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
    val sNoCand = s.alias("l").join(
        cand.select(sKeyCols: _*).distinct().alias("r"), sNullSafeEq, "left_anti")
      .select(dataCols.map(c => col(s"l.$c").alias(c)) :+ col(s"l.$BucketCol").alias(BucketCol): _*)
    val uClaimed = winners.select(uKeyCols: _*).distinct()
    val uUnchanged = u.alias("l").join(uClaimed.alias("r"), sNullSafeEq, "left_anti")
      .select(dataCols.map(c => col(s"l.$c").alias(c)) :+ col(s"l.$BucketCol").alias(BucketCol): _*)

    def stagedValues(df: DataFrame, exprs: Option[Map[String, Column]]): DataFrame =
      df.select(dataCols.map(c => exprs.flatMap(_.get(c)).getOrElse(col(s"s.$c")).alias(c)) :+
        col(s"s.$BucketCol").alias(BucketCol): _*)

    val updatesNew = stagedValues(winners, spec.updateExprs)
    val inserts = stagedValues(losers, spec.insertExprs)
      .unionByName(sNoCand.select(dataCols.map(col) :+ col(BucketCol): _*))

    val newContent = uUnchanged.unionByName(updatesNew).unionByName(inserts)

    val cdfInserts = inserts.drop(BucketCol).withColumn("_change_type", lit("insert"))
    val cdfPre = winners.select(dataCols.map(c => col(s"u.$c").alias(c)): _*)
      .withColumn("_change_type", lit("update_preimage"))
    val cdfPost = updatesNew.drop(BucketCol).withColumn("_change_type", lit("update_postimage"))
    (newContent, cdfInserts.unionByName(cdfPre).unionByName(cdfPost),
      () => { ranked.unpersist(); () })
  }

  /** Total size of an attempt's (still-pending) change files — measured
    * before the claim so the commit can record it (one FS listing). */
  private def cdfBytesOf(dir: String): Long = {
    val p = pendingCdfPath(dir)
    val fs = hfs
    if (!fs.exists(p)) 0L else fs.listStatus(p).map(_.getLen).sum
  }

  /** Highest version `hi` such that the cdf bytes of `(afterVersion,
    * hi]` fit in `maxBytes` — always ≥ one commit when any is pending
    * (progress guarantee even for a single oversized commit). Commits
    * predating size recording count as size 0. */
  private[graft] def cdfVersionUpTo(afterVersion: Long, maxBytes: Long,
      ceilVersion: Long = Long.MaxValue): Long = {
    val entries = log.cdfBytesByVersion(afterVersion,
      math.min(latestVersion, ceilVersion))
    var hi = afterVersion
    var acc = 0L
    var stop = false
    entries.foreach { case (v, b) =>
      if (!stop) {
        val bb = math.max(0L, b)
        if (hi == afterVersion) { hi = v; acc = bb }
        else if (acc + bb <= maxBytes) { hi = v; acc += bb }
        else stop = true
      }
    }
    hi
  }

  /** Manifest entries of a freshly written data dir: per-file key-hash
    * [min,max] read DRIVER-SIDE from the parquet footer statistics of
    * the `__khash` column writeFused stored — no Spark job, a few
    * footer reads per commit (the attempt only wrote batch-affected
    * files). A file without usable stats gets the full range (never
    * pruned — correct, just not skippable). */
  private def writtenFileStats(dir: String): Map[Int, Seq[FileEntry]] = {
    val fs = hfs
    val root = new org.apache.hadoop.fs.Path(s"$path/data/$dir")
    if (!fs.exists(root)) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val files = fs.listStatus(root).filter(_.getPath.getName.startsWith("b="))
      .flatMap { bDir =>
        val b = bDir.getPath.getName.stripPrefix("b=").toInt
        fs.listStatus(bDir.getPath)
          .filter(_.getPath.getName.endsWith(".parquet")).map(f => (b, f))
      }.toSeq
    // zone-map columns: an explicit list via spark.graft.stats.columns,
    // else the first numIndexedCols eligible data columns (Delta's
    // dataSkippingNumIndexedCols analog) — stats ride in the manifest
    // and come from the SAME footer read as the key-hash range
    val zoneFields: Map[String, DataType] = {
      val explicit = spark.conf.getOption("spark.graft.stats.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      val cap = spark.conf.getOption("spark.graft.stats.numIndexedCols")
        .map(_.toInt).getOrElse(8)
      val fields = explicit match {
        case Some(names) => names.flatMap(n => schema.fields.find(_.name == n))
          .filter(f => ZoneStats.eligible(f.dataType))
        case None => schema.fields.filter(f => ZoneStats.eligible(f.dataType))
          .take(cap).toSeq
      }
      fields.map(f => f.name -> f.dataType).toMap
    }
    def statOne(b: Int, st: org.apache.hadoop.fs.FileStatus): (Int, FileEntry) = {
      val p = st.getPath
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var any = false
      var zacc = Map.empty[String, (Any, Any)]
      var znulls = Map.empty[String, Boolean].withDefaultValue(false)
      var zdrop = Set.empty[String] // a block without usable stats poisons the column
      var bloomAll = true // every block must carry a khash bloom to claim it
      var nRows = 0L // exact footer row count — drives the write-sort gate
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try rd.getFooter.getBlocks.forEach { blk =>
        nRows += blk.getRowCount
        blk.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (name == KHashCol) {
            if (c.getBloomFilterOffset < 0) bloomAll = false
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue) {
              mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Long])
              mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long])
              any = true
            }
          } else if (zoneFields.contains(name) && !zdrop.contains(name)) {
            val dt = zoneFields(name)
            val st = c.getStatistics
            ZoneStats.fromChunk(dt, st,
              c.getPrimitiveType.getLogicalTypeAnnotation) match {
              case Some(r) =>
                zacc = zacc.updated(name,
                  zacc.get(name).map(ZoneStats.merge(dt, _, r)).getOrElse(r))
                // unknown null counts (isNumNullsSet false) stay "maybe"
                znulls = znulls.updated(name,
                  znulls(name) || !st.isNumNullsSet || st.getNumNulls > 0)
              case None => zdrop += name; zacc -= name
            }
          }
        }
      } finally rd.close()
      val rel = s"data/$dir/b=$b/${p.getName}"
      val zs = zacc.map { case (c, (lo, hi)) =>
        c -> ColStat(ZoneStats.stringify(lo), ZoneStats.stringify(hi), znulls(c))
      }
      b -> (if (any) FileEntry(rel, mn, mx, st.getLen, zs, bloom = bloomAll,
              rows = nRows)
            else FileEntry(rel, Long.MinValue, Long.MaxValue, st.getLen, zs,
              bloom = bloomAll, rows = nRows))
    }
    // a bulk load writes one file per bucket — dozens of footers; read
    // them concurrently (each is one ~KB tail read) so manifest
    // assembly never becomes the per-commit bottleneck
    val out =
      if (files.size <= 2) files.map { case (b, st) => statOne(b, st) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, files.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(files.map { case (b, st) =>
            new java.util.concurrent.Callable[(Int, FileEntry)] {
              def call(): (Int, FileEntry) = statOne(b, st)
            }
          }.asJava).asScala.toSeq.map(_.get())
        } finally pool.shutdown()
      }
    out.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sortBy(_.minHash) }
  }

  /** Per-row-group (khash min, khash max, parquet bloom) of one data
    * file — the driver-side sketch [[bloomProbeKeep]] tests staged
    * hashes against. One footer tail read per file, LRU-cached across
    * sub-batches in [[KeyedTable.bloomCache]] (data files are immutable:
    * attempt dirs are unique, so entries never invalidate). A block
    * whose bloom is missing yields None and probes as "keep". */
  private def readBlockBlooms(rel: String): KeyedTable.BlockBlooms = {
    val key = s"$path/$rel"
    val cached = KeyedTable.bloomCache.synchronized {
      Option(KeyedTable.bloomCache.get(key))
    }
    cached.getOrElse {
      val conf = spark.sessionState.newHadoopConf()
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(key), conf))
      val out: KeyedTable.BlockBlooms = try {
        import scala.jdk.CollectionConverters._
        rd.getFooter.getBlocks.asScala.toSeq.map { blk =>
          blk.getColumns.asScala.find(_.getPath.toDotString == KHashCol) match {
            case Some(c) =>
              val st = c.getStatistics
              val (mn, mx) =
                if (st != null && st.hasNonNullValue)
                  (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                else (Long.MinValue, Long.MaxValue)
              (mn, mx, Option(rd.readBloomFilter(c)))
            case None => (Long.MinValue, Long.MaxValue, None)
          }
        }
      } finally rd.close()
      KeyedTable.bloomCachePut(key, out)
      out
    }
  }

  /** Driver-side membership probe over sketch-carrying candidates: tests
    * the staged key hashes against each file's parquet bloom filter on
    * the stored hash column — footer tail reads only, NO column-scan
    * job, so the probe's cost is sketch-sized, not candidate-bytes-
    * proportional (the last table-size-proportional per-commit cost for
    * insert-heavy drains; bench/CONSTBATCH_r13/r14). Per row group only
    * the staged hashes inside the group's [min,max] span are tested
    * (commit files are hash-sorted, so the binary-searched slice is
    * small). Returns the candidate INDICES to keep; a bloom false
    * positive only keeps an extra file — the same safety argument as
    * the exact read probe. */
  private def bloomProbeKeep(cand: Seq[((Int, FileEntry), Int)],
      stagedSorted: Array[Long]): Set[Int] = {
    if (cand.isEmpty || stagedSorted.isEmpty) return Set.empty
    // parquet's bloom hash of a value is instance-independent (spec'd
    // xxhash64 over the plain encoding) — hash every staged value ONCE
    val hasher =
      new org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter(32)
    val stagedHashes = stagedSorted.map(hasher.hash(_: Long))
    def lowerBound(target: Long): Int = {
      var lo = 0; var hi = stagedSorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (stagedSorted(mid) < target) lo = mid + 1 else hi = mid
      }
      lo
    }
    def keepOne(e: FileEntry): Boolean =
      readBlockBlooms(e.path).exists { case (mn, mx, bloomOpt) =>
        bloomOpt match {
          case None => true // block without a sketch: conservative keep
          case Some(bf) =>
            var i = lowerBound(mn)
            var found = false
            while (!found && i < stagedSorted.length && stagedSorted(i) <= mx) {
              found = bf.findHash(stagedHashes(i))
              i += 1
            }
            found
        }
      }
    if (cand.sizeIs <= 2) cand.collect { case ((_, e), i) if keepOne(e) => i }.toSet
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, cand.size))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(cand.map { case ((_, e), i) =>
          new java.util.concurrent.Callable[(Int, Boolean)] {
            def call(): (Int, Boolean) = (i, keepOne(e))
          }
        }.asJava).asScala.collect { case f if f.get()._2 => f.get()._1 }.toSet
      } finally pool.shutdown()
    }
  }

  /** Splits the affected buckets' current files into files the merge
    * must READ (their key-hash range intersects the staged batch, so a
    * stored row this batch can match may live there) and entries CARRIED
    * forward by reference into the new manifest. Two levels: the
    * per-bucket staged [min,max] from the planning aggregate prunes for
    * free; when several candidate files per bucket survive and the batch
    * is collectable-small, one broadcast range-join refines to the files
    * an ACTUAL staged hash lands in. Legacy dir-granular buckets are
    * always read whole. The third element is per-bucket (bytes, rows) of
    * the files to be read — rows exact from manifest footer counts, -1
    * when any pre-r16 entry lacks them; `None` when a legacy dir makes
    * it unknowable — which drives the write-side sort decision. */
  private def splitByHashRange(staged: DataFrame, bv: Seq[(Int, Long)],
      stagedRange: Map[Int, (Long, Long)], stagedCount: Long,
      prunedVals: Map[Int, Seq[(String, Seq[Any])]] = Map.empty,
      stagedByBucket: Map[Int, Long] = Map.empty)
      : (Seq[String], Map[Int, Seq[FileEntry]], Option[Map[Int, (Long, Long)]]) = {
    val legacy = scala.collection.mutable.ArrayBuffer[String]()
    val cand = scala.collection.mutable.ArrayBuffer[(Int, FileEntry)]()
    var carried = Map.empty[Int, List[FileEntry]].withDefaultValue(Nil)
    // prune()-column carry: a file whose zone range excludes EVERY staged
    // value of a pruned column — and provably holds no nulls in it (no
    // hidden placeholder rows to upgrade) — cannot contain a matching or
    // modifiable row, so it carries by reference even when its HASH
    // range overlaps (the optimize(date)-clustered CDC shape, where
    // hash ranges always overlap but date runs are tight)
    def pruneExcludes(b: Int, e: FileEntry): Boolean =
      prunedVals.getOrElse(b, Nil).exists { case (pc, vals) =>
        e.stats.get(pc).exists { st =>
          !st.hasNulls && schema.fields.find(_.name == pc).exists { f =>
            ZoneStats.parseRange(f.dataType, st.min, st.max).exists { case (lo, hi) =>
              val ord = ZoneStats.ordering(f.dataType)
              val internal = vals.flatMap(v => ZoneStats.toInternal(f.dataType, v))
              internal.size == vals.size && // every value comparable, else keep
                internal.forall(v => ord.lt(v, lo) || ord.gt(v, hi))
            }
          }
        }
      }
    bv.foreach { case (b, v) =>
      log.readCommit(v).files match {
        case None => legacy += s"$path/data/${log.dirOf(v)}/b=$b"
        case Some(m) =>
          val (mn, mx) = stagedRange.getOrElse(b, (Long.MinValue, Long.MaxValue))
          m.getOrElse(b, Nil).foreach { e =>
            if (e.maxHash >= mn && e.minHash <= mx && !pruneExcludes(b, e))
              cand += (b -> e)
            else carried += b -> (e :: carried(b))
          }
      }
    }
    val exactMax = 4000000L
    // the refinement join is one extra (cheap, broadcast) Spark job per
    // merge — only worth launching when the candidate files it could
    // skip hold real bytes. Below the threshold, reading every
    // range-candidate outright is faster than planning around it.
    val pruneMinBytes = 32L << 20
    val indexed = cand.toSeq.zipWithIndex
    val (hit, missed) =
      if (stagedCount <= exactMax &&
          cand.map(_._2.bytes).sum >= pruneMinBytes &&
          cand.groupBy(_._1).exists(_._2.size > 1)) {
        import spark.implicits._
        val ranges = indexed
          .map { case ((b, e), i) => (i, b, e.minHash, e.maxHash) }
          .toDF("__fid", "__fb", "__fmn", "__fmx")
        val hitIds = staged.join(broadcast(ranges),
            col(BucketCol) === col("__fb") &&
              col(KHashCol) >= col("__fmn") && col(KHashCol) <= col("__fmx"))
          .select("__fid").distinct().collect().map(_.getInt(0)).toSet
        indexed.partition { case (_, i) => hitIds.contains(i) }
      } else (indexed, Nil)
    missed.foreach { case ((b, e), _) => carried += b -> (e :: carried(b)) }
    // exact MEMBERSHIP probe (Delta-style matched-file pruning): the
    // range refinement above keeps any file whose [minHash,maxHash]
    // SPAN a staged key lands in — but an insert-heavy batch with
    // uniformly distributed keys lands inside EVERY file's span while
    // matching no existing row, so range pruning alone rewrites the
    // whole table per drain sub-batch (write cost ∝ table size — the
    // one curve that must stay flat at 100 TB; measured 3.0× per-commit
    // write growth for 3× data at constant batch bytes,
    // bench/CONSTBATCH_r13.jsonl). One narrow extra job reads ONLY the bucket-key columns of
    // the surviving candidates and keeps the files holding at least one
    // staged hash. Safe: key-equal ⇒ hash-equal (keyHashExpr is over
    // bucketKeys, which update matches, placeholder upgrades, and fused
    // deletes all agree on — `staged` here already unions the delete
    // keys), so a dropped file provably holds no matchable row; a hash
    // collision only ever KEEPS an extra file. Skipped when candidates
    // are small (read-everything is cheaper than planning around it)
    // or when the staged batch is a large fraction of the candidate
    // bytes (full-table upserts match almost every file anyway, and
    // 64 B/row is the planner's standing staged-size estimate).
    // Two execution tiers, picked by STAGED SIZE: a bloom answers "does
    // this file hold any of these n hashes?" with n independent fpp
    // trials, so its expected falsely-kept files are n × fpp — useless
    // for a 50k-row drain sub-batch (n·fpp ≈ every file; measured: the
    // naive all-sketch probe regressed sf3 insert drains right back to
    // table-proportional writes), decisive for point/small batches
    // (n ≤ sketchMax keeps n·fpp ≈ 2 with the 0.001 write-side
    // fpp). Small staged batches therefore probe DRIVER-SIDE against
    // the footer-resident sketches (no read job, LRU-cached — the case
    // whose exact probe had to re-scan every range-candidate's hash
    // column per sub-batch); larger batches and pre-sketch files keep
    // the exact column-scan probe, whose read is bounded by 8 B/row of
    // candidates and amortized by the batch's own size.
    val matchMin = spark.conf.getOption("spark.graft.merge.matchPruneMinBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val sketchMax = 2000L
    // ADAPTIVE sketch tier (r14 verdict #6): the fixed staged-row cut
    // above is a proxy for the real decision variable — the EXPECTED
    // FALSELY-KEPT file count, ≈ Σ_files (staged hashes inside the
    // file's span) × fpp (a bloom answers n hashes with n independent
    // fpp trials; a false positive only KEEPS a file, i.e. rewrites it
    // needlessly). That estimate is computable for free at plan time
    // from state already in hand: per-bucket staged [min,max]+count
    // (the planning aggregate) and each candidate's manifest hash
    // range, assuming staged hashes spread ~uniformly over their
    // bucket span (xxhash64 — they do). So a mid-size batch whose
    // hashes cluster in a narrow span (a sequential-key backfill, a
    // few-bucket skew) still gets the read-free probe when it would
    // falsely keep ≤ targetFalseKept files, while a wide 50k-row drain
    // batch — the case the naive all-sketch design regressed on (r14)
    // — computes an estimate ≈ every file and keeps the exact probe.
    // The hard row cap bounds the probe's own driver-side hash collect.
    val sketchHardMax = 262144L
    val targetFalseKept = 4.0
    val sketchFpp = 1e-3 // keep in sync with writeFused's write-side fpp
    // Estimated staged hashes falling inside one file's span, from
    // state already in hand at plan time: per-bucket staged
    // [min,max]+count (the planning aggregate) × the file's manifest
    // span, assuming staged hashes spread ~uniformly over their bucket
    // span (xxhash64 — they do). Double arithmetic: spans can exceed
    // Long range (full-width xxhash64); an estimate only needs
    // relative precision.
    def inSpanEst(b: Int, e: FileEntry): Double = {
      val (mn, mx) = stagedRange.getOrElse(b, (Long.MinValue, Long.MaxValue))
      val nB = stagedByBucket.getOrElse(b, stagedCount).toDouble
      val span = mx.toDouble - mn.toDouble
      val overlap = math.min(e.maxHash.toDouble, mx.toDouble) -
        math.max(e.minHash.toDouble, mn.toDouble)
      val frac = if (span <= 0) 1.0
        else math.min(1.0, math.max(0.0, overlap / span))
      nB * frac
    }
    // Per-file RISK routing: a sketch answers each in-span staged hash
    // as an independent fpp trial, so one file's false-keep probability
    // is ≈ 1-(1-fpp)^n ≈ min(1, n·fpp) — negligible for a narrow-span
    // file from a hash-sorted split (n small), but ~10% at n=100 for a
    // file whose span covers the WHOLE staged range (the transient
    // consolidated rewrite outputs before auto-compact folds them —
    // bucket residue doesn't bound hash VALUES, so a one-file bucket
    // spans everything). A false keep doesn't just read the file, it
    // REWRITES it into the next commit's output, compounding (the
    // measured sf10 point-arm snowball). Files whose estimated
    // false-keep probability crosses the cap are routed to the exact
    // read probe instead — whose cost is that file's hash column, paid
    // precisely where the sketch is least trustworthy.
    val pKeepMax = 0.05
    def sketchable(b: Int, e: FileEntry): Boolean =
      e.bloom && math.min(1.0, inSpanEst(b, e) * sketchFpp) <= pKeepMax
    def estFalseKept(cand: Seq[((Int, FileEntry), Int)]): Double =
      cand.iterator.map { case ((b, e), _) =>
        if (!sketchable(b, e)) 0.0
        else math.min(1.0, inSpanEst(b, e) * sketchFpp)
      }.sum
    val hitBytes = hit.map(_._1._2.bytes).sum
    val (hitF, missedF) =
      if (hit.nonEmpty && stagedCount <= exactMax &&
          hitBytes >= matchMin && stagedCount * 64L < hitBytes / 2) {
        timed("planProbe") {
          val est = if (stagedCount <= sketchMax) -1.0 else estFalseKept(hit)
          val (sketched, plain) =
            if (stagedCount <= sketchMax ||
                (stagedCount <= sketchHardMax && est <= targetFalseKept))
              hit.partition { case ((b, e), _) => sketchable(b, e) }
            else (Nil, hit)
          ProbeDebug.record(
            if (sketched.nonEmpty && plain.nonEmpty) "mixed"
            else if (sketched.nonEmpty) "sketch" else "exact", est)
          val keepSketched: Set[Int] =
            if (sketched.isEmpty) Set.empty
            else bloomProbeKeep(sketched,
              staged.select(col(KHashCol)).where(col(KHashCol).isNotNull)
                .distinct().collect().map(_.getLong(0)).sorted)
          val keepPlain: Set[Int] =
            if (plain.isEmpty) Set.empty
            else {
              val hashes = staged.select(col(KHashCol)).distinct()
              val probe = readPaths(plain.map { case ((_, e), _) => s"$path/${e.path}" })
                .select(keyHashExpr(col).alias(KHashCol))
                .withColumn("__f", input_file_name())
              spark.sparkContext.setJobDescription("graft:merge:probe")
              val mset =
                try probe.join(broadcast(hashes), Seq(KHashCol))
                  .select("__f").distinct().collect().map(_.getString(0)).toSet
                finally spark.sparkContext.setJobDescription(null)
              plain.collect {
                case ((_, e), i) if mset.exists(_.endsWith("/" + e.path)) => i
              }.toSet
            }
          val keep = keepSketched ++ keepPlain
          hit.partition { case (_, i) => keep.contains(i) }
        }
      } else (hit, Nil)
    missedF.foreach { case ((b, e), _) => carried += b -> (e :: carried(b)) }
    // auto-compact (Delta auto-optimize analog): sparse merges carry most
    // files forward, so a hot bucket's file count only ever grows. The
    // merge is rewriting the bucket anyway — fold the SMALLEST carried
    // files into the rewrite whenever a bucket would otherwise exceed
    // maxFiles, so the SMALL-file count stays bounded without a separate
    // pass (graduated files are exempt; the bound on them is conditional
    // — see below).
    // Fold ELIGIBILITY is size-capped (foldMaxFileBytes, 32 MB default —
    // Delta's small-file notion): a file at/above the cap NEVER folds on
    // write. Without the cap, a steady state of small budgeted batches
    // into a mature bucket (16 files × bucket/16 bytes each) folds a
    // FULL-SIZED file on every insert-bearing commit — e.g. a 400 MB
    // rewrite to ingest a 3 MB batch, ~130× write amplification, which
    // re-introduces table-size-proportional write cost through the back
    // door the membership probe just closed. With the cap, small files
    // fold among themselves geometrically (each byte is rewritten
    // O(log(cap/batch)) times before its file graduates at the cap) and
    // graduated files are left to the SCHEDULED passes — compact()
    // packs them (its minFileBytes default equals this cap) and
    // optimizeIncremental() repacks whole bucket ranges. The count
    // bound therefore goes soft when a bucket holds > maxFiles
    // graduated files — by design: that state means the knobs ask for
    // more than maxFiles × cap bytes per bucket, which scheduled
    // maintenance (or rebucketing) must resolve, not per-commit writes.
    val maxFiles = spark.conf.getOption("spark.graft.autoCompact.maxFiles")
      .map(_.toInt).getOrElse(16)
    val foldCap = spark.conf.getOption("spark.graft.autoCompact.foldMaxFileBytes")
      .map(_.toLong).getOrElse(32L << 20)
    var folded = List.empty[String]
    // per-bucket (bytes, rows) of files this rewrite reads; rows poisons
    // to -1 when any contributing file predates manifest row counts
    def addRead(a: (Long, Long), e: FileEntry): (Long, Long) =
      (a._1 + e.bytes, if (a._2 < 0 || e.rows < 0) -1L else a._2 + e.rows)
    var foldedByBucket =
      Map.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))
    val carriedOut = carried.collect { case (b, es) if es.nonEmpty =>
      val eligible = es.count(_.bytes < foldCap)
      // surface the soft-bound state at write time (once per handle per
      // bucket): nothing else schedules or observes the maintenance this
      // state owes — see describeHealth() for the table-wide report
      if (es.size - eligible > maxFiles && softBoundWarned.add(b))
        KeyedTable.healthLog.warn(
          s"graft table $path bucket $b holds ${es.size - eligible} graduated " +
            s"files (> autoCompact.maxFiles=$maxFiles): the write-time file-count " +
            "bound is soft here; schedule compact()/optimizeIncremental()/rebucket()")
      if (es.size + 1 <= maxFiles || eligible == 0) b -> es.sortBy(_.minHash)
      else {
        val (small, big) = es.partition(_.bytes < foldCap)
        val bySize = small.sortBy(e => (e.bytes, e.path))
        val excess = math.min(es.size - (maxFiles - 1), bySize.size)
        val (fold, keep) = bySize.splitAt(excess)
        folded :::= fold.map(e => s"$path/${e.path}")
        foldedByBucket += b -> fold.foldLeft(foldedByBucket(b))(addRead)
        b -> (keep ++ big).sortBy(_.minHash)
      }
    }
    val readByBucket: Option[Map[Int, (Long, Long)]] =
      if (legacy.nonEmpty) None
      else Some(hitF.foldLeft(foldedByBucket) { case (acc, ((b, e), _)) =>
        acc + (b -> addRead(acc(b), e))
      })
    (legacy.toSeq ++ hitF.map { case ((_, e), _) => s"$path/${e.path}" } ++ folded,
      carriedOut, readByBucket)
  }
}

object KeyedTable {
  private[store] val healthLog =
    org.slf4j.LoggerFactory.getLogger(classOf[KeyedTable])

  /** Test seam: fired (with the table path) before EVERY commit publish
    * across ALL handles — unlike the instance `preCommitHook`, this
    * reaches table handles created internally by drain pipelines, so a
    * spec can crash-inject a drainer at a chosen table's commit
    * boundary. Throwing simulates a process kill AFTER data files are
    * staged, BEFORE the commit claim. Always reset in a finally. */
  @volatile private[graft] var globalPreCommitHook: String => Unit = _ => ()

  /** Test seam: fired (with the table path) after a layout rewrite
    * publishes its rebucket marker and BEFORE its content write starts —
    * the exact window in which a concurrent writer can claim the
    * marker's version and a foreign recovery must NOT reclaim the
    * still-live attempt. Always reset in a finally. */
  @volatile private[graft] var globalPreRebucketWriteHook: String => Unit = _ => ()

  /** Test seam: fired (with the table path and the range's first old
    * bucket id) before each stepped-rebucket range write — lets a spec
    * crash the sequence at a chosen step or inject a racing writer
    * between steps. Always reset in a finally. */
  @volatile private[graft] var globalRebucketStepHook: (String, Int) => Unit =
    (_, _) => ()

  /** Step writes the most recent [[KeyedTable.rebucketIncremental]]
    * performed (redos included) — observability for specs asserting "a
    * racing writer costs one range's replay, not the table". */
  @volatile private[graft] var lastRebucketStepsRun: Int = -1

  /** Per-row-group (khash min, khash max, parquet bloom) of one file. */
  private[store] type BlockBlooms =
    Seq[(Long, Long, Option[org.apache.parquet.column.values.bloomfilter.BloomFilter])]

  /** LRU cache of footer-resident key-hash sketches, shared across
    * handles. Data files are immutable (attempt dirs are unique), so
    * entries never invalidate. The eviction budget is BYTE-weighted,
    * not entry-counted: a multi-row-group file carries up to ~1 MB of
    * bloom bitset per block, so a fixed entry cap could pin multiple
    * GB of driver heap when point-update probes sweep wide candidate
    * sets — the weight tracks each entry's summed bitset bytes and
    * eviction walks the LRU order until the total is back under
    * budget (default 128 MB, `-Dgraft.bloomCacheBytes=` to override;
    * a system property because this object has no SparkSession). */
  private val BloomCacheBytes: Long =
    java.lang.Long.getLong("graft.bloomCacheBytes", 128L << 20)
  private[store] def bloomWeight(v: BlockBlooms): Long =
    v.map { case (_, _, bf) =>
      24L + bf.map(_.getBitsetSize.toLong).getOrElse(0L)
    }.sum
  // guarded by `bloomCache.synchronized` at every call site
  private[store] var bloomCacheWeight = 0L
  private[store] val bloomCache =
    new java.util.LinkedHashMap[String, BlockBlooms](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BlockBlooms]): Boolean = false
    }
  /** Inserts under the byte budget; oversized singletons are not cached
    * at all (they would evict the whole working set for one probe). */
  private[store] def bloomCachePut(key: String, v: BlockBlooms): Unit = {
    val w = bloomWeight(v)
    if (w > BloomCacheBytes / 8) return
    bloomCache.synchronized {
      if (bloomCache.containsKey(key)) return
      bloomCache.put(key, v)
      bloomCacheWeight += w
      val it = bloomCache.entrySet().iterator()
      while (bloomCacheWeight > BloomCacheBytes && bloomCache.size() > 1) {
        val eldest = it.next()
        bloomCacheWeight -= bloomWeight(eldest.getValue)
        it.remove()
      }
    }
  }

  private[store] val BucketCol = "__bucket"
  private[store] val SideCol = "__side"
  private[store] val KHashCol = "__khash"
  // change files per change class in one commit (writeFused's cdf fold)
  private[store] val CdfFiles = 4
  private[store] val CheckpointInterval = 10L
  // how long an unreferenced _cdf_pending dir must sit unmodified before
  // recovery/vacuum may treat its attempt as dead (override with
  // spark.graft.pendingGraceMs)
  private[store] val DefaultPendingGraceMs = 15 * 60 * 1000L
  private[store] val UExists = "__u_exists"
  private[store] val SExists = "__s_exists"

  def create(
      spark: SparkSession,
      path: String,
      schema: StructType,
      keys: Seq[String],
      seqCols: Seq[String] = Nil,
      nullableKeys: Seq[String] = Nil,
      numBuckets: Int = 32,
      partitionCols: Seq[String] = Nil,
      prunedCols: Seq[String] = Nil,
      generatedCols: Seq[(String, String)] = Nil,
      internalCols: Seq[String] = Nil): KeyedTable = {
    require(keys.nonEmpty, "keys required")
    require(prunedCols.forall(partitionCols.contains), "prunedCols ⊆ partitionCols")
    // generated columns extend the declared schema; their types come
    // from evaluating the expression against an empty frame
    val fullSchema = generatedCols.foldLeft(schema) { case (sc, (n, sql)) =>
      if (sc.fieldNames.contains(n)) sc
      else {
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], sc)
        StructType(sc.fields :+ empty.withColumn(n,
          org.apache.spark.sql.functions.expr(sql)).schema.fields.last)
      }
    }
    val meta = TableMeta(keys, nullableKeys, seqCols, numBuckets, fullSchema.toDDL,
      partitionCols, prunedCols, generatedCols, internalCols)
    val log = new CommitLog(path, spark.sessionState.newHadoopConf())
    if (!log.exists) {
      log.writeMeta(metaToJson(meta))
      // eager cdf/ dir: a changeStream may start on a zero-commit table
      // and the file source's first glob must not race the first commit
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/cdf"))
    }
    new KeyedTable(spark, path, meta)
  }

  def forPath(spark: SparkSession, path: String): KeyedTable = {
    val log = new CommitLog(path, spark.sessionState.newHadoopConf())
    require(log.exists, s"no KeyedTable at $path")
    val kt = new KeyedTable(spark, path, metaFromJson(log.readMeta()))
    kt.recoverPendingRebucket() // finish/undo an interrupted rebucket
    kt.recoverPendingCdf()      // publish change rows a crash left pending
    kt
  }

  private def metaToJson(m: TableMeta): String = {
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")
    // generated-col exprs are arbitrary SQL (commas, quotes) — base64
    // keeps the crude regex parser below sound
    def b64(s: String) = java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    s"""{"keys":${arr(m.keys)},"nullableKeys":${arr(m.nullableKeys)},""" +
      s""""seqCols":${arr(m.seqCols)},"numBuckets":${m.numBuckets},""" +
      s""""partitionCols":${arr(m.partitionCols)},"prunedCols":${arr(m.prunedCols)},""" +
      s""""genColNames":${arr(m.generatedCols.map(_._1))},""" +
      s""""genColExprs":${arr(m.generatedCols.map(g => b64(g._2)))},""" +
      s""""internalCols":${arr(m.internalCols)},""" +
      s""""schemaDdl":"${m.schemaDdl.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
  }

  private def metaFromJson(json: String): TableMeta = {
    def arr(name: String): Seq[String] = {
      val m = (s""""$name":\\[([^\\]]*)\\]""").r.findFirstMatchIn(json)
      m.map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq).getOrElse(Nil)
    }
    val numBuckets = """"numBuckets":(\d+)""".r.findFirstMatchIn(json).get.group(1).toInt
    val ddl = (""""schemaDdl":"((?:[^"\\]|\\.)*)"""").r.findFirstMatchIn(json).get.group(1)
      .replace("\\\"", "\"").replace("\\\\", "\\")
    val gen = arr("genColNames").zip(arr("genColExprs").map(e =>
      new String(java.util.Base64.getDecoder.decode(e), "UTF-8")))
    TableMeta(arr("keys"), arr("nullableKeys"), arr("seqCols"), numBuckets, ddl,
      arr("partitionCols"), arr("prunedCols"), gen, arr("internalCols"))
  }
}
