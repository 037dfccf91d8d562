package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.store.{KeyedTable, MergeSpec}

/** `left.join(right, type)` before a condition is given
  * (joins.py:145-201).
  */
final class JoinBuilder(left: Stream, right: Stream, joinType: String) {
  require(Seq("inner", "left", "right").contains(joinType),
    s"$joinType join type is not supported") // joins.py:326

  /** Arbitrary join condition over the two sides (joins.py:172-181). */
  def on(expr: (DataFrame, DataFrame) => Column): JoinedStream =
    new JoinedStream(left, right, joinType, expr, Nil)

  /** Equi-join on same-named key columns; the duplicate key column from
    * the non-driving side is dropped (joins.py:183-201). */
  def onKeys(keys: String*): JoinedStream = {
    val expr = (l: DataFrame, r: DataFrame) =>
      keys.map(k => l(k) === r(k)).reduce(_ && _)
    val dropSide = if (joinType == "right") "left" else "right"
    new JoinedStream(left, right, joinType, expr,
      Seq(ProjOp.DropKeys(keys, dropSide)))
  }
}

/** A partition column for a join-output table; wrap with [[prune]] for
  * static merge-time pruning (streams.py:67-94), or declare it
  * GENERATED with [[gen]].
  */
final case class PartitionCol(name: String, pruned: Boolean = false,
    genSql: Option[String] = None)

object prune {
  /** `partitionBy(prune("date"))` — the reference's `prune(col)`. */
  def apply(name: String): PartitionCol = PartitionCol(name, pruned = true)
}

object gen {
  /** `partitionBy(gen("date", "year(ts)*100+month(ts)"))` — the
    * reference's `generated_columns_ddl` (joins.py:875-878): the
    * column need not exist in the join output; the store derives it
    * from each staged batch at merge time (Delta's GENERATED ALWAYS AS
    * analog), so writers never re-derive the partition value and
    * pruning still applies. */
  def apply(name: String, sql: String, pruned: Boolean = true): PartitionCol =
    PartitionCol(name, pruned, Some(sql))
}

/** Projection steps applied to each microbatch join result in order —
  * the reference's transformFunc chain (joins.py:507-525, 929-934).
  */
sealed trait ProjOp
object ProjOp {
  final case class DropKeys(keys: Seq[String], side: String) extends ProjOp
  final case class DropSel(sel: ColumnSel) extends ProjOp
  final case class SelectNames(names: Seq[String]) extends ProjOp
  final case class SelectStar(sels: Seq[ColumnSel]) extends ProjOp
  final case class SelectSels(sels: Seq[ColumnSel]) extends ProjOp
  final case class MapFn(f: DataFrame => DataFrame) extends ProjOp
}

/** A fully-specified incremental 2-way join stage. Terminal ops:
  * `writeToPath` (produces a Pipeline), or chain `join`/`groupBy`
  * (stages this join into an intermediate KeyedTable first, like
  * joins.py:812-873).
  */
/** A drain step's microbatch profile, derived from the source tables'
  * commit-log counts: per-side upsert/delete row counts over the window
  * and the static pin versions (the window's end per primary table).
  * Lets the batch drain skip the per-microbatch pin/count job. */
private[streaming] final case class DrainMeta(
    lUp: Long, lDel: Long, rUp: Long, rDel: Long, lPin: Long, rPin: Long,
    lCommits: Int = -1, rCommits: Int = -1,
    lPre: Long = -1L, rPre: Long = -1L)

/** Test/debug hook: the downgrade pass's last affected-row-set size and
  * whether it chose the broadcast or the shuffle-join re-derive plan —
  * lets specs pin the threshold behavior without plan archaeology. */
private[graft] object DowngradeDebug {
  @volatile var lastAffRows: Long = -1L
  @volatile var lastUsedBroadcast: Boolean = false
  def record(n: Long, bcast: Boolean): Unit = {
    lastAffRows = n; lastUsedBroadcast = bcast
  }
}

final class JoinedStream(
    val left: Stream,
    val right: Stream,
    val joinType: String,
    joinExpr: (DataFrame, DataFrame) => Column,
    projOps: Seq[ProjOp],
    partitionCols: Seq[PartitionCol] = Nil) {

  private def spark = left.spark

  def select(names: String*): JoinedStream =
    withOp(ProjOp.SelectNames(names))

  /** An explicit selector list — each `stream("col")` may carry `.to`
    * transforms and `.alias` renames, anywhere in the list (the
    * reference accepts transformed ColumnSelectors in any select
    * position, joins.py:62-110, 954-963). */
  def select(first: ColumnSel, rest: ColumnSel*): JoinedStream =
    withOp(ProjOp.SelectSels(first +: rest))

  /** The reference's `select('*', stream['col'].alias(...))` form
    * (joins.py:572-620): all joined columns plus transformed extras. */
  def selectStar(sels: ColumnSel*): JoinedStream =
    withOp(ProjOp.SelectStar(sels))

  def drop(sel: ColumnSel): JoinedStream =
    withOp(ProjOp.DropSel(sel))

  def to(f: DataFrame => DataFrame): JoinedStream =
    withOp(ProjOp.MapFn(f))

  /** Output-table partition columns; `prune("c")` additionally narrows
    * each merge's target scan to the batch's values (joins.py:619-632). */
  def partitionBy(cols: PartitionCol*): JoinedStream =
    new JoinedStream(left, right, joinType, joinExpr, projOps, cols)

  private def withOp(op: ProjOp) =
    new JoinedStream(left, right, joinType, joinExpr, projOps :+ op, partitionCols)

  /** Applies the projection chain to a just-joined frame, where `l`/`r`
    * are the two frames that produced it. */
  private def project(joined: DataFrame, l: DataFrame, r: DataFrame): DataFrame =
    projOps.foldLeft(joined) { (df, op) =>
      op match {
        case ProjOp.DropKeys(keys, side) =>
          val src = if (side == "left") l else r
          keys.foldLeft(df)((d, k) => d.drop(src(k)))
        case ProjOp.DropSel(sel) =>
          val src = if (sel.owner eq left) l else r
          df.drop(src(sel.name))
        case ProjOp.SelectNames(names) => df.select(names.map(col): _*)
        case ProjOp.SelectSels(sels) =>
          df.select(sels.map { s =>
            // a selector owned by a stream STAGED into this chain (not
            // one of the two immediate sides) resolves by name on the
            // joined frame, like the reference's selector mapping
            val base =
              if (s.owner eq left) l(s.name)
              else if (s.owner eq right) r(s.name)
              else df(s.name)
            s(base)
          }: _*)
        case ProjOp.SelectStar(sels) =>
          df.select(col("*") +: sels.map { s =>
            val src = if (s.owner eq left) l else r
            s(src(s.name))
          }: _*)
        case ProjOp.MapFn(f) => f(df)
      }
    }

  /** Output primary keys split into (non-nullable, nullable) by join
    * type (joins.py:804-810), restricted to columns that survive the
    * projection. A key that is already nullable UPSTREAM (the outer
    * side of a previous staged join) stays nullable here regardless of
    * this stage's join type — its null rows flow through any join on
    * the other keys, and bucketing on it would break placeholder
    * matching in the chained stage's merge. */
  private[streaming] def outKeySplit: (Seq[String], Seq[String]) = {
    val outCols = staticJoined().columns.toSeq
    val lp = left.pks.filter(outCols.contains)
    val rp = right.pks.filter(outCols.contains)
    val upNullable = (left.nullablePks ++ right.nullablePks).toSet
    val (nn0, nul0) = joinType match {
      case "left"  => (lp, rp.filterNot(lp.contains))
      case "right" => (rp, lp.filterNot(rp.contains))
      case _       => ((lp ++ rp).distinct, Nil)
    }
    val nn = nn0.filterNot(upNullable.contains)
    (nn, (nn0.filter(upNullable.contains) ++ nul0).distinct)
  }

  /** The join applied to full static snapshots — used for output schema
    * and for batch-equivalence checks (joins.py:640-645). */
  def staticJoined(): DataFrame = {
    val ls = left.static()
    val rs = right.static()
    project(ls.join(rs, joinExpr(ls, rs), joinType), ls, rs)
  }

  def writeToPath(outPath: String): Pipeline = {
    val (stageHandle, _) = buildStage(outPath)
    new Pipeline(left.upstream ++ right.upstream :+ stageHandle)
  }

  /** The reference's `writeToTable(name)` (joins.py:748-754): the
    * output table is created under the catalog's warehouse and queryable
    * by name (and via `spark.sql` after `catalog.registerView`). */
  def writeToTable(catalog: graft.store.TableCatalog, name: String): Pipeline =
    writeToPath(catalog.path(name))

  /** User-supplied microbatch sink: receives the combined, deduplicated
    * join delta of every microbatch instead of merging into a managed
    * output table — the reference's `.foreachBatch(mergeFunc)`
    * (joins.py:536-554). Checkpoint goes under `checkpointPath`. */
  def foreachBatch(checkpointPath: String)(fn: (DataFrame, Long) => Unit): Pipeline = {
    val (stageHandle, _) = buildStage(checkpointPath, Some(fn))
    new Pipeline(left.upstream ++ right.upstream :+ stageHandle)
  }

  /** Stages this join into an intermediate table and continues with
    * another join (joins.py:867-869). */
  def join(next: Stream, nextType: String = "inner", stagingPath: String = null): JoinBuilder =
    stagedStream(stagingPath).join(next, nextType)

  /** Stages this join and continues with a groupBy (joins.py:871-873). */
  def groupBy(cols: String*): AggBuilder = stagedStream(null).groupBy(cols: _*)

  def groupByStaged(stagingPath: String, cols: String*): AggBuilder =
    stagedStream(stagingPath).groupBy(cols: _*)

  private def stagedStream(stagingPath: String): Stream = {
    val path = Option(stagingPath).getOrElse(
      s"${left.stagingRoot}/_stage_join_${Integer.toHexString(stageFingerprint)}")
    val (handle, outTable) = buildStage(path)
    val s = Stream.fromKeyedTable(outTable(), left.maxFilesPerTrigger)
    // retractions emitted by this stage must keep retracting downstream;
    // user-opted deletes carry the user contract, otherwise the engine
    // auto-enables (migration/zero-group retractions flow regardless)
    val userDeletes = (left.deletesOn && !left.deletesAuto) ||
      (right.deletesOn && !right.deletesAuto)
    (if (userDeletes) s.handleDeletes() else s.handleDeletesAuto())
      .withUpstream(left.upstream ++ right.upstream :+ handle)
  }

  private def stageFingerprint: Int =
    (left.table.path, right.table.path, joinType, projOps.size,
      left.upstream.size + right.upstream.size).hashCode()

  /** Builds the output KeyedTable + the streaming stage writing it; a
    * `userSink` replaces the managed-table merge with a user fn. */
  private def buildStage(outPath: String,
      userSink: Option[(DataFrame, Long) => Unit] = None): (StageHandle, () => KeyedTable) = {
    val schemaDf = staticJoined()
    val (nonNull, nullable) = outKeySplit
    require(nonNull.nonEmpty, "join output needs at least one non-nullable primary key")
    val anyDeletes = left.deletesOn || right.deletesOn
    // user-opted deletes contract both sides' pks into the output
    // statically; engine-auto deletes (internally staged feeds) check at
    // runtime instead — they only need resolution when delete rows
    // actually arrive (outer joins downgrade via the non-owning-side
    // re-derive pass, so all three join types propagate deletes now)
    val anyUserDeletes = (left.deletesOn && !left.deletesAuto) ||
      (right.deletesOn && !right.deletesAuto)
    if (anyUserDeletes) {
      val outCols = schemaDf.columns.toSeq
      require((left.pks ++ right.pks).forall(outCols.contains),
        "handleDeletes needs both sides' primary keys in the join output")
    }
    val seqCols = (left.seqCols ++ right.seqCols).distinct
      .filter(schemaDf.columns.contains)
    lazy val out = KeyedTable.create(spark, outPath, schemaDf.schema,
      keys = nonNull ++ nullable, seqCols = seqCols, nullableKeys = nullable,
      numBuckets = math.max(left.table.meta.numBuckets, right.table.meta.numBuckets),
      partitionCols = partitionCols.map(_.name),
      prunedCols = partitionCols.filter(_.pruned).map(_.name),
      generatedCols = partitionCols.flatMap(pc => pc.genSql.map(pc.name -> _)))
    if (userSink.isEmpty) out // force managed-table creation eagerly

    // state for consistent static pinning across microbatches (joins.py:399-428)
    var lastLeftVersion: Long = -1L
    var lastRightVersion: Long = -1L
    // lazily-built per-side retraction indexes (out pk-subset → full key);
    // cached so repeated deleting batches skip the open-time recovery scan
    val retractIdx = scala.collection.mutable.Map.empty[String, KeyedTable]

    // equality column pairs (leftName, rightName) of the join condition,
    // recovered from the Catalyst expression: conjunct EqualTo over bare
    // attributes of the two frames. Non-equi/OR/cast conjuncts simply
    // contribute no pairs — callers treat missing coverage as "cannot
    // prune", never as an error.
    def equiPairs(lDf: DataFrame, rDf: DataFrame): Seq[(String, String)] = {
      import org.apache.spark.sql.catalyst.expressions.{
        And, AttributeReference, EqualTo, Expression}
      import org.apache.spark.sql.catalyst.plans.logical.Join
      // resolve the condition by analyzing the join itself (a plan-only
      // operation): Spark 4 Columns are lazy nodes, so the raw condition
      // carries no resolved attributes to inspect
      val analyzed = lDf.join(rDf, joinExpr(lDf, rDf), "inner")
        .queryExecution.analyzed
      val lAttrs = lDf.queryExecution.analyzed.output.map(a => a.exprId -> a.name).toMap
      val rAttrs = rDf.queryExecution.analyzed.output.map(a => a.exprId -> a.name).toMap
      def conj(e: Expression): Seq[Expression] = e match {
        case And(a, b) => conj(a) ++ conj(b)
        case x         => Seq(x)
      }
      analyzed.collectFirst { case Join(_, _, _, Some(c), _) => c }
        .toSeq.flatMap(conj).collect {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if lAttrs.contains(a.exprId) && rAttrs.contains(b.exprId) =>
            lAttrs(a.exprId) -> rAttrs(b.exprId)
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if rAttrs.contains(a.exprId) && lAttrs.contains(b.exprId) =>
            lAttrs(b.exprId) -> rAttrs(a.exprId)
        }
    }

    // column names each side contributes to the join CONDITION (not the
    // projection): an update changing any of them re-pairs the row —
    // the join-key-migration trigger set. Plan-only analysis, computed
    // once per stage.
    lazy val sideCondCols: (Seq[String], Seq[String]) = {
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val lDf = left.static()
      val rDf = right.static()
      val analyzed = lDf.join(rDf, joinExpr(lDf, rDf), "inner")
        .queryExecution.analyzed
      val lAttrs = lDf.queryExecution.analyzed.output.map(a => a.exprId -> a.name).toMap
      val rAttrs = rDf.queryExecution.analyzed.output.map(a => a.exprId -> a.name).toMap
      val refs = analyzed.collectFirst { case Join(_, _, _, Some(c), _) => c }
        .toSeq.flatMap(_.collect { case a: AttributeReference => a })
      (refs.flatMap(a => lAttrs.get(a.exprId)).distinct,
        refs.flatMap(a => rAttrs.get(a.exprId)).distinct)
    }

    // Silent-staleness refusal (managed outputs): when a side's
    // join-condition columns CAN move (some are not pk columns) but the
    // side's pks do not survive the output projection, a key move could
    // never be resolved — its old pairing would strand with no signal
    // (deletes already fail loudly; moves used to skip silently).
    // Refuse at pipeline build: incremental == batch fixpoint for every
    // declared shape, or a refusal — never silent staleness.
    // spark.graft.join.migrationCheck=false opts out for schemas whose
    // condition columns are immutable by contract.
    if (userSink.isEmpty && spark.conf
        .getOption("spark.graft.join.migrationCheck").forall(_ != "false")) {
      val outColsS = schemaDf.columns.toSeq
      def checkMovable(s: Stream, cond: Seq[String], what: String): Unit = {
        val movable = cond.filterNot(s.pks.contains)
        require(movable.isEmpty || s.pks.forall(outColsS.contains),
          s"join-condition column(s) ${movable.mkString(",")} on the $what side " +
            s"can change (not part of its primary key ${s.pks.mkString(",")}), but " +
            "that side's primary keys are projected out of the join output - a key " +
            "move could never retract its old pairing (silent staleness). Project " +
            "the primary keys through, or set spark.graft.join.migrationCheck=false " +
            "if these columns are immutable by contract")
      }
      checkMovable(left, sideCondCols._1, "left")
      checkMovable(right, sideCondCols._2, "right")
    }

    /** Bucket-pruned static side for one join half. The full static
      * scan per microbatch is THE scale bottleneck of delta-joins — at
      * 100 TB each commit would re-read the whole static table. When
      * the static stream is a plain table (no transform/union), the
      * probe batch is small (row count already known from the log or
      * the pin aggregate — no extra job), the table is big enough to
      * beat the pruning job's overhead, and the join's equality pairs
      * cover the table's bucket keys, the scan is swapped for
      * [[KeyedTable.snapshotForKeys]]: hash the probe keys, read only
      * the files whose manifest hash range can match (version-pinned).
      * Pruned-out rows can never satisfy the equality conjuncts, so
      * inner/left/right halves are unaffected. */
    def prunedStatic(static: Stream, pin: Long, probe: DataFrame,
        probeRows: Long, full: DataFrame, staticIsLeft: Boolean): DataFrame = {
      val conf = spark.conf
      val minBytes = conf.getOption("spark.graft.join.staticPrune.minBytes")
        .map(_.toLong).getOrElse(256L << 20)
      val maxKeys = 1L << 20 // probe rows past this keep the full scan
      if (!static.isPlainTable || probeRows <= 0 || probeRows > maxKeys ||
          static.table.liveManifestBytes < minBytes) full
      else {
        val pairs =
          if (staticIsLeft) equiPairs(full, probe).map(_.swap)
          else equiPairs(probe, full)
        // probe column per static bucket key (first pair wins on dups)
        val byStaticCol = pairs.groupBy(_._2).map { case (s, ps) => s -> ps.head._1 }
        val bk = static.table.meta.bucketKeys
        if (!bk.forall(byStaticCol.contains)) full
        else {
          spark.sparkContext.setJobDescription("graft:join:prune")
          try static.table.snapshotForKeys(
            probe.select(bk.map(k => col(byStaticCol(k)).alias(k)): _*), pin)
          finally spark.sparkContext.setJobDescription(null)
        }
      }
    }

    def mergeJoin(batch: DataFrame, batchId: Long): Unit =
      mergeJoinMeta(batch, batchId, None)

    def mergeJoinMeta(batch: DataFrame, batchId: Long,
        drain: Option[DrainMeta]): Unit = {
      val lRows = batch
        .where(col("l").isNotNull && col("l._change_type") =!= "update_preimage" &&
          col("l._change_type") =!= "delete")
        .select("l.*")
      val rRows = batch
        .where(col("r").isNotNull && col("r._change_type") =!= "update_preimage" &&
          col("r._change_type") =!= "delete")
        .select("r.*")
      // microbatch profile: version pins, upsert and delete counts per
      // side. The batch drain derives all of it from the commit log's
      // recorded per-commit counts (DrainMeta — no job at all); the
      // streaming path runs ONE aggregate action over the feed (the
      // reference unions two aggs for the same reason, joins.py:403-408)
      val (n, lDeleted, rDeleted, lCnt, rCnt, lMax, rMax, lPre, rPre) = drain match {
        case Some(m) =>
          (m.lUp + m.lDel + m.rUp + m.rDel, m.lDel > 0, m.rDel > 0,
            m.lUp, m.rUp, m.lPin, m.rPin, m.lPre, m.rPre)
        case None =>
          batch.sparkSession.sparkContext.setJobDescription("graft:join:pin")
          val upsertish = (side: String) => col(s"$side").isNotNull &&
            col(s"$side._change_type") =!= "update_preimage" &&
            col(s"$side._change_type") =!= "delete"
          val vRow = batch.agg(
            max(col("l._commit_version")).alias("lv"),
            max(col("r._commit_version")).alias("rv"),
            count(lit(1)).alias("n"),
            count(when(col("l._change_type") === "delete", 1)).alias("ld"),
            count(when(col("r._change_type") === "delete", 1)).alias("rd"),
            count(when(upsertish("l"), 1)).alias("lc"),
            count(when(upsertish("r"), 1)).alias("rc"),
            count(when(col("l._change_type") === "update_preimage", 1)).alias("lp"),
            count(when(col("r._change_type") === "update_preimage", 1)).alias("rp"))
            .collect().head
          batch.sparkSession.sparkContext.setJobDescription(null)
          (vRow.getLong(2), vRow.getLong(3) > 0, vRow.getLong(4) > 0,
            vRow.getLong(5), vRow.getLong(6),
            if (vRow.isNullAt(0)) -1L else vRow.getLong(0),
            if (vRow.isNullAt(1)) -1L else vRow.getLong(1),
            vRow.getLong(7), vRow.getLong(8))
      }
      if (n == 0L) return // empty microbatch: nothing to do
      val (lDeletes, rDeletes) = (lDeleted, rDeleted)
      // pin statics at the batch's max commit version for deterministic
      // reads under lazy evaluation (joins.py:409-428)
      val lPin = if (lMax >= 0) lMax else lastLeftVersion
      val rPin = if (rMax >= 0) rMax else lastRightVersion
      val lStatic = left.static(lPin)
      val rStatic = right.static(rPin)
      lastLeftVersion = lPin
      lastRightVersion = rPin

      def latestPerKey(df: DataFrame, pks: Seq[String], seq: Seq[String]): DataFrame = {
        // take the newest image of each key within the batch
        // (joins.py:388-395, 429-433)
        val ord =
          if (seq.nonEmpty) struct(seq.map(col): _*).desc
          else col("_commit_version").desc
        val w = Window.partitionBy(pks.map(col): _*).orderBy(ord)
        df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .drop("__rn", "_change_type", "_commit_version")
      }
      // a single contributing commit's feed is key-unique by
      // construction (each merge writes at most one post-image per full
      // table key), so its within-batch latest-wins window — a shuffle —
      // is a no-op, skipped when the log proves the window is 1 commit.
      // Only when the stream is the plain table (a transform could
      // duplicate rows) keyed exactly by the table's key (a narrower
      // user-declared pk set would still need the dedup).
      def keyUniqueWindow(side: Stream, commits: Int): Boolean =
        commits == 1 && side.isPlainTable && side.pks == side.table.meta.keys
      def latestDeleteKeys(side: String, pks: Seq[String]): DataFrame = {
        val all = batch.where(col(side).isNotNull).select(s"$side.*")
        val w = Window.partitionBy(pks.map(col): _*)
          .orderBy(col("_commit_version").desc)
        all.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1 && col("_change_type") === "delete")
          .select(pks.map(col): _*)
      }
      // keys whose LATEST action this window is a delete must not merge
      // their stale earlier images (insert-then-delete within one
      // window): they are filtered out of the batch halves, and their
      // old output rows are removed by the FUSED deletions below (the
      // former post-merge cleanup commit)
      val lDelKeys = if (left.deletesOn && lDeleted)
        Some(graft.store.Lineage.pin(latestDeleteKeys("l", left.pks)))
      else None
      val rDelKeys = if (right.deletesOn && rDeleted)
        Some(graft.store.Lineage.pin(latestDeleteKeys("r", right.pks)))
      else None
      val lBatch0 =
        if (drain.exists(m => keyUniqueWindow(left, m.lCommits)))
          lRows.drop("_change_type", "_commit_version")
        else latestPerKey(lRows, left.pks, left.seqCols)
      val rBatch0 =
        if (drain.exists(m => keyUniqueWindow(right, m.rCommits)))
          rRows.drop("_change_type", "_commit_version")
        else latestPerKey(rRows, right.pks, right.seqCols)
      // pinned (see Lineage): each half is otherwise recomputed — CDF
      // read + latest-wins window — once in the static-prune probe
      // collect, again in the broadcast build, and once more in the
      // full-outer combine
      val lBatch = graft.store.Lineage.pin(lDelKeys.fold(lBatch0)(dk =>
        lBatch0.join(broadcast(dk), left.pks.toSeq, "left_anti")))
      val rBatch = graft.store.Lineage.pin(rDelKeys.fold(rBatch0)(dk =>
        rBatch0.join(broadcast(dk), right.pks.toSeq, "left_anti")))
      // releases below run in a finally: an exception mid-drain must not
      // leak the pinned blocks until the GC-driven ContextCleaner sweep
      try {

      // each half probes a (small) batch against the other side's
      // static — swap the full static scan for a bucket-pruned point
      // read when the equality keys cover that table's bucket keys
      val rStaticH1 = prunedStatic(right, rPin, lBatch, lCnt, rStatic,
        staticIsLeft = false)
      val lStaticH2 = prunedStatic(left, lPin, rBatch, rCnt, lStatic,
        staticIsLeft = true)
      // half 1: left-batch rows joined to pinned right static (joins.py:310)
      val newLeft = project(
        broadcast(lBatch).join(rStaticH1, joinExpr(lBatch, rStaticH1),
          if (joinType == "left") "left" else "inner"),
        lBatch, rStaticH1)
      // half 2: right-batch rows joined to pinned left static (joins.py:314)
      val newRight = project(
        lStaticH2.join(broadcast(rBatch), joinExpr(lStaticH2, rBatch),
          if (joinType == "right") "right" else "inner"),
        lStaticH2, rBatch)

      // unify rows discovered from both sides in the same batch
      // (joins.py:318-343): full-outer on the output key, coalesce.
      // A microbatch that carries rows from ONE side only — the common
      // case in chained stages, where each wave touches one source —
      // skips the other half AND the full-outer combine entirely
      // (halves the merge plan's jobs; within one half the join output
      // is already key-unique).
      val allKeys = nonNull ++ nullable
      // dynamic, not schemaDf.columns (pinned at buildStage): with
      // spark.graft.schema.autoMerge an EVOLVED source's new columns
      // flow through the join halves here and evolve the output table
      // in merge() — a drain-mode pipeline picks up source schema
      // evolution without a restart (§6f-4; the checkpointed streaming
      // path still needs one — its file source pins schemas at start)
      val outCols = newLeft.columns.toSeq
      val keepKeyed = (df: DataFrame) =>
        df.select(outCols.map(col): _*)
          .where(allKeys.map(k => col(k).isNotNull).reduce(_ || _))
      val combined =
        if (rCnt == 0L && lCnt > 0L) keepKeyed(newLeft)
        else if (lCnt == 0L && rCnt > 0L) keepKeyed(newRight)
        else {
          val a = newLeft.alias("ha")
          val b = newRight.alias("hb")
          val keyEq = allKeys.map(k => col(s"ha.$k") <=> col(s"hb.$k")).reduce(_ && _)
          a.join(b, keyEq, "full_outer")
            .select(outCols.map(c => coalesce(col(s"ha.$c"), col(s"hb.$c")).alias(c)): _*)
            .where(allKeys.map(k => col(k).isNotNull).reduce(_ || _))
        }

      /** Resolves `srcKeys` (one side's pks) to the FULL output keys of
        * every output row they contributed — the shared machinery of
        * delete propagation, join-key migration, and outer-join
        * downgrades. The source keys are resolved through a
        * lazily-built secondary index on that side's pks (A33) — two
        * bucket- and file-pruned reads — so `out.delete` takes the
        * full-key pruned path; a full `out.snapshot()` semi-join per
        * retracting microbatch would read the WHOLE output table (a
        * 100 TB killer). When a side's pks already equal the output's
        * bucket keys the output prunes directly and no index is kept. */
      def resolveOutRows(srcKeys: DataFrame, side: Stream, idxSubPath: String): DataFrame = {
        val pks = side.pks
        // maintaining the index only pays once the output outgrows a
        // single cheap scan — below the threshold one broadcast
        // semi-join over the (small) table beats building and
        // incrementally syncing a second table per deleting batch
        val idxMinBytes = spark.conf
          .getOption("spark.graft.retract.indexMinBytes")
          .map(_.toLong).getOrElse(256L << 20)
        // snapshotForKeys semi-joins on the output's BUCKET keys only,
        // so it is exact iff pks == bucketKeys; when pks strictly
        // contain them (a chained stage whose upstream-nullable pk is
        // excluded from bucketKeys) the bucket-pruned read still
        // applies but needs a residual semi-join on the FULL pks —
        // without it, rows matching only on bucket keys would be
        // resolved and deleted (over-deletion)
        val bKeys = out.meta.bucketKeys.toSet
        // null-SAFE residual matching: srcKeys from an upstream OUTER
        // stage carry null placeholder-key values (an upstream-nullable
        // pk), and a USING-column semi-join would silently never match
        // them — the retraction would strand exactly the placeholder
        // rows it exists to remove
        def semiNullSafe(df: DataFrame, keys: DataFrame): DataFrame =
          df.alias("t").join(broadcast(keys.alias("k")),
              pks.map(p => col(s"t.$p") <=> col(s"k.$p")).reduce(_ && _),
              "left_semi")
            .select((nonNull ++ nullable).map(c => col(s"t.$c").alias(c)): _*)
        val srcNullable = pks.exists(side.nullablePks.contains)
        val fullKeys =
          if (bKeys.subsetOf(pks.toSet)) {
            val pruned = out.snapshotForKeys(srcKeys)
            if (bKeys == pks.toSet)
              pruned.select((nonNull ++ nullable).map(col): _*)
            else semiNullSafe(pruned, srcKeys)
          }
          else if (out.liveManifestBytes < idxMinBytes || srcNullable)
            // nullable src pks skip the index path: the index's own
            // bucket keys would be the nullable pks, breaking its
            // pruned-probe invariant — the direct null-safe semi-join
            // stays correct (and this shape, a chained outer stage's
            // large output retracting placeholder keys, is rare)
            semiNullSafe(out.snapshot(), srcKeys)
          else {
            val idx = retractIdx.getOrElseUpdate(idxSubPath,
              graft.ops.SecondaryIndex.ensure(
                spark, s"$outPath/_idx/$idxSubPath", out, pks,
                out.meta.numBuckets))
            graft.ops.SecondaryIndex.sync(idx, out)
            graft.ops.SecondaryIndex.lookupKeys(idx, out, srcKeys)
          }
        fullKeys
      }

      /** Non-owning-side retraction for OUTER joins — the placeholder
        * DOWNGRADE the former inner-only contract could not express.
        * `srcKeys` are non-owning-side pks whose rows were deleted or
        * whose join-condition columns moved this window. Runs AFTER the
        * merge and reconciles the output against a recompute of the
        * affected owning-side neighborhood:
        *   1. resolve every output row the keys contributed (post-merge,
        *      so same-batch stale re-inserts resolve too);
        *   2. re-derive those rows' owning keys against the pinned
        *      statics (left join: affected left rows LEFT JOIN right
        *      static) — re-pairings and placeholders fall out;
        *   3. merge the re-derived rows, then delete exactly the
        *      resolved rows the recompute did NOT reproduce.
        * Merge-before-delete makes the pass idempotent under crash
        * replay (whatever stale pairings remain re-resolve), and a
        * pairing still valid under the new images (an OR-condition
        * re-match) is recomputed and therefore never deleted. */
      /** The retracted keys' state at window START: the earliest
        * preimage or delete-row image per key — full columns, exactly
        * the values the output's existing pairings were formed under.
        * Batch-derived (NOT read from the output), so a crash replay
        * recomputes the identical set. */
      def windowStartImages(side: String, pks: Seq[String],
          keys: DataFrame): DataFrame = {
        val all = batch.where(col(side).isNotNull).select(s"$side.*")
        all.where(col("_change_type") === "update_preimage" ||
            col("_change_type") === "delete")
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pks.map(col): _*)
              .orderBy(col("_commit_version").asc,
                when(col("_change_type") === "update_preimage", 0).otherwise(1))))
          .where(col("__rn") === 1)
          .drop("__rn", "_change_type", "_commit_version")
          .join(broadcast(keys), pks, "left_semi")
      }

      def downgrade(srcKeys: DataFrame, side: String, nonOwning: Stream,
          idxSubPath: String): Unit = graft.store.PhaseStats.time("downgrade") {
        // sub-phase job labels (gate / aff / rederive; the fused
        // delete+merge tags itself graft:merge:*) attribute the pass's
        // jobs per step in the Spark UI and event log
        spark.sparkContext.setJobDescription("graft:join:downgrade:gate")
        val sk = graft.store.Lineage.pin(srcKeys)
        try {
          // cheap emptiness guard FIRST: downgrade() is entered on any
          // window with non-owning preimages/deletes, but a routine
          // update window's moved-key set usually resolves to EMPTY.
          // Building the affected-row derivation below is not free even
          // unexecuted — prunedStatic's snapshotForKeys runs driver-side
          // probe collects at plan-construction time — so gate on ONE
          // count() job over the persisted keys before deriving
          // anything. count() (not isEmpty) is deliberate: one
          // deterministic job that fully materializes the persist,
          // whereas isEmpty's executeTake scales partitions
          // incrementally — several probe jobs on an empty result, and
          // a partially-cached persist otherwise.
          if (sk.count() == 0L) return
          // owning rows paired with the retracted keys under their OLD
          // (window-start) images — the pairings to retract — UNION the
          // rows pairing under their NEW (window-end) images — the fresh
          // pairings the main merge just landed, which must be
          // reproduced by the recompute so the stale-diff below never
          // deletes them. Batch+static-derived — unlike a
          // resolve-from-the-output, this survives crash replay (the
          // first attempt's deletes would make the output unresolvable;
          // the batch re-derives the same affected set every time).
          val sideRows = batch.where(col(side).isNotNull).select(s"$side.*")
          val newImgs = latestPerKey(sideRows.where(
              col("_change_type") =!= "update_preimage" &&
                col("_change_type") =!= "delete"),
              nonOwning.pks, nonOwning.seqCols)
            .join(broadcast(sk), nonOwning.pks.toSeq, "left_semi")
          val oldImgs = windowStartImages(side, nonOwning.pks, sk)
            .unionByName(newImgs)
          // the static prune is sized with `n` (the whole microbatch's
          // row count) — an upper bound on the retracted-key count that
          // is already known from the commit log, so sizing it no
          // longer needs a dedicated sk.count() job
          val affRows0 =
            if (joinType == "left") {
              val ls = prunedStatic(left, lPin, oldImgs, n, lStatic,
                staticIsLeft = true)
              ls.join(broadcast(oldImgs), joinExpr(ls, oldImgs), "left_semi")
            } else {
              val rs = prunedStatic(right, rPin, oldImgs, n, rStatic,
                staticIsLeft = false)
              rs.join(broadcast(oldImgs), joinExpr(oldImgs, rs), "left_semi")
            }
          // affRows is bounded by microbatch × join FAN-OUT, not by the
          // microbatch: one retracted hot key on a skewed or non-equi
          // condition can pull an unbounded owning-row set — an
          // unconditional broadcast is an OOM at scale. Count it (the
          // pass is retraction-rare; the count also sizes the re-derive
          // pruning probe correctly) and fall back to a plain
          // shuffle join past the threshold.
          val aff = graft.store.Lineage.pin(affRows0)
          try {
          spark.sparkContext.setJobDescription("graft:join:downgrade:aff")
          val affN = aff.count()
          val bcastMax = spark.conf
            .getOption("spark.graft.join.downgrade.broadcastMaxRows")
            .map(_.toLong).getOrElse(1L << 20)
          val useBcast = affN <= bcastMax
          DowngradeDebug.record(affN, useBcast)
          val affRows = if (useBcast) broadcast(aff) else aff
          // re-derive the affected owning rows against the window-end
          // statics: re-pairings and placeholders fall out of the same
          // outer join + projection the merge halves run
          val reAll = keepKeyed(
            if (joinType == "left") {
              val rs = prunedStatic(right, rPin, aff, affN, rStatic,
                staticIsLeft = false)
              project(affRows.join(rs,
                joinExpr(affRows, rs), "left"), affRows, rs)
            } else {
              val ls = prunedStatic(left, lPin, aff, affN, lStatic,
                staticIsLeft = true)
              project(ls.join(affRows,
                joinExpr(ls, affRows), "right"), ls, affRows)
            })
          // only re-pairings with a retracted key plus placeholders are
          // new information; pairings with untouched keys are already
          // in the output byte-identical
          val reRows = graft.store.Lineage.pin(reAll
            .join(broadcast(sk), nonOwning.pks.toSeq, "left_semi")
            .unionByName(reAll.where(
              nonOwning.pks.map(k => col(k).isNull).reduce(_ || _))))
          try {
            spark.sparkContext.setJobDescription("graft:join:downgrade:rederive")
            reRows.count() // pin before the output changes under it
            // stale pairings = output rows of the retracted keys the
            // recompute did NOT reproduce (resolved post-merge, so
            // same-batch stale re-inserts are caught; an OR-condition
            // pairing still valid under the new images IS reproduced
            // and therefore never deleted). The delete and the
            // re-derived merge land as ONE fused commit with
            // delete-then-merge semantics: no reader can observe the
            // retraction without its replacement, and an incoming
            // placeholder is never subsumed by the stale pairing it
            // replaces (already removed from the merge's target scan).
            val fk = resolveOutRows(sk, nonOwning, idxSubPath)
            val keyCols = nonNull ++ nullable
            val stale = fk.alias("fk").join(reRows.alias("rr"),
                keyCols.map(k => col(s"fk.$k") <=> col(s"rr.$k")).reduce(_ && _),
                "left_anti")
              .select(keyCols.map(k => col(s"fk.$k").alias(k)): _*)
            // nested timer: the pass's cost splits into the derivation
            // above (flat in scale — bounded by churned keys × fan-out
            // probes) and this fused delete+merge (data-proportional to
            // the re-derived neighborhood). The r12 sf1 profile showed
            // the phase's growth is ENTIRELY this merge — keep the split
            // in every bench record so that stays checkable.
            graft.store.PhaseStats.time("downgradeMerge") {
              out.merge(reRows, MergeSpec(), uniqueKeys = true,
                deleteKeys = Some(stale))
            }
          } finally graft.store.Lineage.release(reRows)
          } finally graft.store.Lineage.release(aff)
        } finally {
          graft.store.Lineage.release(sk)
          spark.sparkContext.setJobDescription(null)
        }
      }

      // join-key migration (managed outputs): an update that changes
      // any column the join CONDITION reads re-pairs the row. The merge
      // below inserts the NEW pairing under its new output key, so the
      // OLD pairing — a DIFFERENT output key — would survive as a stale
      // row. Moved source keys (window-start preimage differs from
      // window-end image on a condition column) retract like deletes.
      // The side whose rows OWN output rows in this join type retracts
      // BEFORE the merge (after it, the key lookup would resolve and
      // delete the fresh rows too; the merge halves re-insert the new
      // match or a placeholder): inner = both sides, left join = the
      // left side, right symmetric. The NON-owning side of an outer
      // join goes through the post-merge [[downgrade]] pass instead —
      // its old pairings need placeholder downgrades, not plain
      // deletes. The reference never retracts at all — a moved key
      // strands its old row there (joins.py:310-343); incremental ==
      // batch recompute requires doing better.
      // spark.graft.join.migrationCheck=false opts out for pipelines
      // whose join-condition columns are immutable by contract (the
      // common schema shape) — saving the per-update-batch detection job
      val migrationCheck = spark.conf
        .getOption("spark.graft.join.migrationCheck").forall(_ != "false")
      // a REPLAYED batch (crash between the merge commit and the drain
      // watermark / checkpoint commit) must not re-run the pre-merge
      // retraction: the rows it would resolve are the FRESH pairings the
      // already-applied merge landed, and the batchId no-op merge would
      // not re-insert them. The post-merge passes are idempotent by
      // construction and re-run as-is.
      val alreadyApplied = userSink.isEmpty && batchId >= 0 &&
        batchId <= out.lastAppliedBatchId
      def moved(side: String, pks: Seq[String], seq: Seq[String],
          condCols: Seq[String]): DataFrame = {
        val all = batch.where(col(side).isNotNull).select(s"$side.*")
        // state before the window = the OLDEST preimage OR delete-row
        // image per key (feeds only record APPLIED changes, so it
        // equals the watermark-time row). Delete images matter: a key
        // deleted and RE-INSERTED within one window produces no
        // update_preimage at all, yet its pre-delete pairing is live in
        // the output — the delete row carries exactly that image. Keys
        // whose latest action stays a delete drop out below (their
        // `post` is empty), so this never double-handles the plain
        // delete path. State after = the newest image, the same
        // ordering the merge applies.
        val pre = all.where(col("_change_type") === "update_preimage" ||
            col("_change_type") === "delete")
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pks.map(col): _*)
              .orderBy(col("_commit_version").asc,
                when(col("_change_type") === "update_preimage", 0).otherwise(1))))
          .where(col("__rn") === 1)
        val post = latestPerKey(all.where(
          col("_change_type") =!= "update_preimage" &&
            col("_change_type") =!= "delete"), pks, seq)
        pre.alias("p").join(post.alias("q"),
            pks.map(k => col(s"p.$k") <=> col(s"q.$k")).reduce(_ && _))
          .where(condCols.map(c => !(col(s"p.$c") <=> col(s"q.$c"))).reduce(_ || _))
          .select(pks.map(k => col(s"p.$k").alias(k)): _*)
      }
      // a condition column inside a side's PRIMARY KEY cannot move
      // (pre/post images share the pk by construction) — sides whose
      // condition columns are all pk columns skip migration statically
      // (e.g. a dimension joined on its own key)
      def movableCols(stream: Stream, condCols: Seq[String]): Seq[String] =
        condCols.filterNot(stream.pks.contains)
      def requireResolvable(s: Stream, what: String): Unit =
        require(s.pks.forall(outCols.contains),
          s"$what needs the side's primary keys (${s.pks.mkString(",")}) " +
            "in the join output to resolve contributed rows; project " +
            "them through or disable handleDeletes upstream")
      // OWNING-side retractions — join-key migration and delete
      // propagation — resolve their old output rows BEFORE the merge
      // and land IN the merge commit as fused deletions: one commit,
      // atomic with the fresh rows the merge halves re-insert, and a
      // replayed batch skips both together (no separate retraction
      // commit to double-apply). The batch halves were already filtered
      // of latest-deleted keys above, so the merge can never re-insert
      // a stale image the fused deletion would miss.
      val fusedPins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val fusedDeletes: Option[DataFrame] =
        if (userSink.isEmpty && !alreadyApplied) {
          val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
          if (migrationCheck) {
            def resolveMoved(side: String, stream: Stream,
                condCols: Seq[String], idxSubPath: String): Unit = {
              val movable = movableCols(stream, condCols)
              if (movable.nonEmpty && stream.pks.forall(outCols.contains)) {
                val mk = graft.store.Lineage.pin(
                  moved(side, stream.pks, stream.seqCols, movable))
                // one small batch-sized job guards the (rare) retraction;
                // release on the probe's failure path too
                val mkEmpty =
                  try mk.isEmpty
                  catch { case t: Throwable => graft.store.Lineage.release(mk); throw t }
                if (!mkEmpty) {
                  fusedPins += mk
                  frames += resolveOutRows(mk, stream, idxSubPath)
                } else graft.store.Lineage.release(mk)
              }
            }
            val (lCondCols, rCondCols) = sideCondCols
            // lPre/rPre gate the common no-update window; deletes also
            // open it — a delete+re-insert pair is a key move with no
            // preimage rows (the delete row carries the start image)
            if (joinType != "right" && (lPre != 0L || lDeleted) && lCnt > 0L)
              resolveMoved("l", left, lCondCols, "l")
            if (joinType != "left" && (rPre != 0L || rDeleted) && rCnt > 0L)
              resolveMoved("r", right, rCondCols, "r")
          }
          if (joinType != "right") lDelKeys.foreach { dk =>
            requireResolvable(left, "delete propagation")
            frames += resolveOutRows(dk, left, "l")
          }
          if (joinType != "left") rDelKeys.foreach { dk =>
            requireResolvable(right, "delete propagation")
            frames += resolveOutRows(dk, right, "r")
          }
          if (frames.isEmpty) None else Some(frames.reduce(_ unionByName _))
        } else None

      userSink match {
        case Some(fn) => fn(combined, batchId)
        // combined is outer-merged per output key above → key-unique;
        // batchId makes a replayed microbatch a no-op (exactly-once),
        // fused owning-side retractions included
        case None =>
          try out.merge(combined, MergeSpec(), uniqueKeys = true,
            batchId = batchId, deleteKeys = fusedDeletes)
          finally fusedPins.foreach(graft.store.Lineage.release)
      }

      // NON-owning-side retraction (outer joins) runs AFTER the merge:
      // moved ∪ deleted keys funnel into ONE [[downgrade]] pass, itself
      // a single fused commit. (Owning-side retractions — both sides of
      // an inner join, the outer side of an outer join — already landed
      // inside the merge commit above.)
      if (userSink.isEmpty) {
        def nonOwnRetracted(side: String, s: Stream, condCols: Seq[String],
            pre: Long, deleted: Boolean, cnt: Long,
            delKeys: Option[DataFrame]): Option[DataFrame] = {
          // deletes open the moved-detection window too: a delete +
          // re-insert with a changed condition column has no preimage
          val movedKeys =
            if (migrationCheck && (pre != 0L || deleted) && cnt > 0L &&
                movableCols(s, condCols).nonEmpty && s.pks.forall(outCols.contains))
              Some(moved(side, s.pks, s.seqCols, movableCols(s, condCols)))
            else None
          delKeys.foreach(_ =>
            requireResolvable(s, "outer-join delete propagation"))
          (movedKeys, delKeys) match {
            case (Some(a), Some(b)) => Some(a.unionByName(b).distinct())
            case (a, b)             => a.orElse(b)
          }
        }
        if (joinType == "right")
          nonOwnRetracted("l", left, sideCondCols._1, lPre, lDeleted, lCnt, lDelKeys)
            .foreach(k => downgrade(k, "l", left, "l"))
        if (joinType == "left")
          nonOwnRetracted("r", right, sideCondCols._2, rPre, rDeleted, rCnt, rDelKeys)
            .foreach(k => downgrade(k, "r", right, "r"))
      }
      } finally {
        graft.store.Lineage.release(lBatch)
        graft.store.Lineage.release(rBatch)
        lDelKeys.foreach(graft.store.Lineage.release)
        rDelKeys.foreach(graft.store.Lineage.release)
      }
    }

    def pack(ls: DataFrame, rs: DataFrame): DataFrame = {
      val lStruct = struct(ls.columns.map(col): _*)
      val rStruct = struct(rs.columns.map(col): _*)
      val lPacked = ls.select(lStruct.alias("l"), lit(null).cast(
        org.apache.spark.sql.types.StructType(rs.schema.fields)).alias("r"))
      val rPacked = rs.select(lit(null).cast(
        org.apache.spark.sql.types.StructType(ls.schema.fields)).alias("l"), rStruct.alias("r"))
      lPacked.unionByName(rPacked)
    }
    val packed: DataFrame = pack(left.changeStream, right.changeStream)

    val name = s"join:${new org.apache.hadoop.fs.Path(outPath).getName}"

    // batch-incremental drain (Pipeline.runIncremental): the mergeJoin
    // body over plain batches of the pending cdf range. With
    // spark.graft.drain.maxBytes set, the backlog splits into
    // byte-budgeted sub-batches (per-commit cdf sizes from the commit
    // log) — a month of backlog becomes bounded merges, not one giant
    // one; each sub-batch has its own intent/commit cycle and batchId,
    // so crash recovery and exactly-once work per sub-batch.
    def drainOnce(): Unit = {
      val dir = s"$outPath/_drain"
      val tables = DrainState.distinctTables(left.allTables ++ right.allTables)
      val budget = spark.conf.getOption("spark.graft.drain.maxBytes").map(_.toLong)
      // claim-arbitrated loop (SURVEY §6h-2): state and sources re-load
      // every step, so two racing drainers interleave safely — each step
      // is claimed by intent-file rename, the loser waits for the
      // winner's commit, and a replayed step's merge is a batchId no-op
      var quiet = false
      while (!quiet) {
        val applied = if (userSink.isEmpty) out.lastAppliedBatchId else -1L
        // the step body over one window — shared by the claimed-run path
        // and crashed-step recovery below
        def stepBody(baseVersions: Map[String, Long],
            target: DrainState.St): Unit = {
          val after = (p: String) => baseVersions.getOrElse(p, -1L)
          val upTo = (p: String) => target.versions.getOrElse(p, Long.MaxValue)
          // log-derived microbatch profile: pins at the window end,
          // counts summed from per-commit records — the pin job is
          // skipped entirely, and an all-layout-commit window (counts
          // 0/0) skips even the merge call
          val meta = for {
            (lu, ld, lp, ln) <- left.logCounts(after, upTo)
            (ru, rd, rp, rn) <- right.logCounts(after, upTo)
          } yield DrainMeta(lu, ld, ru, rd,
            lPin = upTo(left.table.path),
            rPin = upTo(right.table.path),
            lCommits = ln, rCommits = rn,
            lPre = lp, rPre = rp)
          if (!meta.exists(m => m.lUp + m.lDel + m.rUp + m.rDel == 0L))
            mergeJoinMeta(pack(left.changesBatch(after, upTo),
              right.changesBatch(after, upTo)), target.next - 1, meta)
        }
        val (st, recovered) = DrainState.loadRecovering(spark, dir, applied)
        // a crashed step whose MERGE landed was just promoted — its
        // post-merge passes (delete propagation, non-owning downgrade)
        // may not have run: replay the full body (the merge is a
        // batchId no-op; the passes are idempotent)
        recovered.foreach { case (base, done) =>
          if (userSink.isEmpty) stepBody(base.versions, done)
        }
        val cur = tables.map(t => t.path -> t.latestVersion).toMap
        if (st.versions == cur) quiet = true
        else {
          require(st.versions.nonEmpty || applied < 0,
            s"stage $name has checkpointed-run history; runIncremental needs " +
              "its own state from the pipeline's first run")
          val step = DrainState.nextStep(tables, st.versions, cur, budget)
          // runs a claimed step under a live heartbeat (so a slow merge
          // is never reaped) and promotes it ownership-verified
          def run(target: DrainState.St): Unit = {
            val hb = DrainState.heartbeat(spark, dir)
            try stepBody(st.versions, target)
            finally hb.close()
            DrainState.commit(spark, dir, target)
          }
          if (DrainState.beginClaim(spark, dir, DrainState.St(step, st.next + 1)))
            run(DrainState.St(step, st.next + 1))
          else DrainState.staleClaim(spark, dir, applied) match {
            // dead drainer: adopt its EXACT step (same batchId + range;
            // already-merged work replays as a batchId no-op)
            case Some(adopted) => run(adopted)
            case None => Thread.sleep(50) // live drainer holds this step
          }
        }
      }
    }

    val handle = StageHandle(name, wc => {
      // the mirror of drainOnce's mode-mix guard: a checkpointed run
      // over a drained stage would have its early batchIds silently
      // marker-skipped even when they cover newer commits
      DrainState.requireNone(spark, s"$outPath/_drain", name)
      var w = packed.writeStream
        .option("checkpointLocation", s"$outPath/_cp")
        .queryName(wc.queryName.getOrElse(name))
        .foreachBatch(mergeJoin _)
      wc.options.foreach { case (k, v) => w = w.option(k, v) }
      wc.trigger.foreach(t => w = w.trigger(t))
      w.start()
    }, drainFn = () => drainOnce())
    (handle, () => out)
  }
}
