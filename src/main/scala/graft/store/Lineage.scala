package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization for engine-internal reuse frames.
  *
  * The merge/drain hot loops pin small per-commit frames (staged
  * batches, merge-join outputs, retraction key sets) purely so ONE
  * commit's handful of actions share the computation. [[pin]]
  * persists the frame (`MEMORY_AND_DISK`) and returns it re-expressed
  * as its cached `InMemoryRelation` LEAF: downstream actions re-analyze
  * a single leaf instead of the frame's upstream tree, and the cache
  * blocks recompute through the relation's child plan on block loss or
  * a read after [[release]].
  *
  * A pin owns only the cache entry it created. A frame the caller had
  * already cached, or a plan another pin already caches (the cache
  * matches canonically equal plans), is read through that entry and
  * left alone by [[release]].
  */
object Lineage {
  // leaf → the original frame whose cache entry this pin created (the
  // CacheManager entry is keyed on the original's plan; unpersisting
  // the leaf view would miss it). WEAK keys: a pin whose owner drops
  // the frame without releasing must not grow this map for the JVM
  // lifetime — the entry expires with the leaf, and the block sweep /
  // clearCache frees the storage. The original never references its
  // leaf, so the value cannot keep its own key alive. Dataset does not
  // override equals, so the lookup is reference identity.
  // Synchronized: drains may run from several threads.
  private val pins = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, DataFrame]())

  def pin(df: DataFrame): DataFrame = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    org.apache.spark.sql.graft.StreamShim.cachedLeaf(df) match {
      case Some(leaf) =>
        if (owned) pins.put(leaf, df)
        leaf
      // not in the cache right after persist: a concurrent uncache of
      // an equal plan — nothing is left to free, read the plain frame
      case None => df
    }
  }

  /** Frees the cache entry a [[pin]] created; a no-op for pins that
    * did not create one and for a second release. */
  def release(df: DataFrame): Unit =
    Option(pins.remove(df)).foreach(_.unpersist())
}
