package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` bridge graft's V1 streaming source needs.
  *
  * A V1 `Source.getBatch` must return a DataFrame whose leaf relations
  * carry `isStreaming = true` (MicroBatchExecution asserts it before
  * grafting the batch plan into the streaming query). Spark's own file
  * source builds such frames via `internalCreateDataFrame`/
  * `LogicalRelation(..., isStreaming = true)` — both `private[sql]`,
  * hence this shim living under the `org.apache.spark.sql` package
  * (the same trick Delta's DeltaSource uses).
  */
object StreamShim {

  /** Re-marks an ordinary batch read (parquet scan + filters) as a
    * streaming microbatch plan. Only leaf relations flip; the rest of
    * the plan (projections, `_commit_version` window filters) rides
    * along unchanged and still reaches the scan via pushdown. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan = cdf.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** Zero-row streaming batch with the given schema (a trigger whose
    * version window holds only layout-only commits with no cdf). */
  def emptyStreamingBatch(spark: SparkSession, schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))

  /** Catalyst expression behind a classic-mode Column —
    * `ExpressionUtils.expression` is `private[sql]` in Spark 4 (the
    * Column API is Connect-neutral); join-key analysis for static-side
    * pruning needs the resolved attribute tree. */
  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Classic-mode Column over a Catalyst expression — how graft's
    * native expressions bind, without a name in the session function
    * registry (`ExpressionUtils.column` is `private[sql]`). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The cached frame re-expressed as its `InMemoryRelation` LEAF:
    * downstream actions then re-analyze and re-optimize a single leaf
    * instead of the frame's full upstream tree (the per-commit Catalyst
    * cost `Lineage.pin` exists to cut), while keeping persist semantics
    * — columnar cache blocks that RECOMPUTE through the relation's
    * child plan on block loss or post-release reads.
    * `CacheManager.lookupCachedData` and `Dataset.ofRows` are
    * `private[sql]`, hence this living in the shim. None when the frame
    * is not in the cache. */
  def cachedLeaf(df: DataFrame): Option[DataFrame] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    spark.sharedState.cacheManager.lookupCachedData(ds).map { cd =>
      val imr = cd.cachedRepresentation
      // Plant WITHOUT outputOrdering: the relation records the cached
      // query's ordering, and once this leaf sits under arbitrary caller
      // projections a LATER cacheQuery over the enclosing plan can
      // record ordering attributes its own output no longer carries —
      // canonicalizing that entry then dies in withOutput's AttributeMap
      // remap (observed: FileManifestSpec probe tests,
      // "key not found: id#..."). Orderings on engine pin frames buy
      // nothing (every consumer shuffles or sorts on write anyway).
      val leaf = new org.apache.spark.sql.execution.columnar.InMemoryRelation(
        imr.output, imr.cacheBuilder, Nil)
      leaf.statsOfPlanToCache = imr.statsOfPlanToCache
      classic.Dataset.ofRows(spark, leaf)
    }
  }
}
