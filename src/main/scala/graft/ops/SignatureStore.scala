package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.KeyedTable

/** The B39 ingestion guard AT SCALE: the existing corpus's minhash
  * signatures persist in a [[KeyedTable]] — each ingestion batch is
  * checked with ONE band-bucket join against the STORED signatures
  * (the existing side is never re-shingled, never re-hashed), and
  * admitted documents are CDC-upserted in place, exactly-once via
  * batch ids. At 100 TB the check's cost is the new batch's signature
  * pass plus band collisions; the store grows incrementally like any
  * other table of the engine (multi-writer-safe, time-travelable,
  * vacuumable).
  *
  * Verification recomputes shingles ONLY for candidate rows (both
  * sides carry their text), so the exact-jaccard pass stays
  * candidate-bounded. */
object SignatureStore {

  val NumHashes = 64

  private def withSig(docs: DataFrame, text: String, id: String): DataFrame =
    docs.select(col(id), col(text))
      .withColumn("sig", graft.functions.HashExpressions.minhashShingles(
        graft.functions.HashExpressions.wordShingles(col(text), 3), NumHashes))

  /** Creates the store seeded with `docs`' signatures. */
  def create(spark: SparkSession, path: String, docs: DataFrame,
      text: String = "text", id: String = "doc_id", numBuckets: Int = 32): KeyedTable = {
    val seeded = withSig(docs, text, id)
    val kt = KeyedTable.create(spark, path, seeded.schema,
      keys = Seq(id), numBuckets = numBuckets)
    kt.upsert(seeded, uniqueKeys = true)
    kt
  }

  /** Admits documents into the store (their signatures computed once,
    * here); replayed batches are exactly-once via `batchId`. */
  def admit(store: KeyedTable, docs: DataFrame,
      text: String = "text", id: String = "doc_id", batchId: Long = -1L): Long =
    store.upsert(withSig(docs, text, id), uniqueKeys = true, batchId = batchId)

  /** Near-dup pairs between an ingestion batch and the STORED corpus:
    * (new_id, old_id, jaccard ≥ threshold). Same candidates→estimate→
    * verify shape as [[Dedup.crossDedup]], but the existing side's
    * signatures come straight off the store's snapshot. */
  def check(store: KeyedTable, newDocs: DataFrame,
      text: String = "text", id: String = "doc_id",
      bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    require(NumHashes % bands == 0, "bands must divide NumHashes")
    val rows = NumHashes / bands
    val newSig = withSig(newDocs, text, id).cache()
    val oldSig = store.snapshot() // (id, text, sig) — signatures persisted
    def banded(sigd: DataFrame, outId: String): DataFrame =
      sigd.select(col(id).alias(outId), explode(array((0 until bands).map { b =>
        struct(lit(b).alias("band"),
          xxhash64((0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)) :+ lit(b): _*).alias("bhash"))
      }: _*)).alias("bk")).select(col(outId), col("bk.band"), col("bk.bhash"))
    val cand = banded(newSig, "new_id").join(banded(oldSig, "old_id"),
        Seq("band", "bhash"))
      .select("new_id", "old_id").distinct()
    val est = cand
      .join(newSig.select(col(id).alias("new_id"), col("sig").alias("__siga")), "new_id")
      .join(oldSig.select(col(id).alias("old_id"), col("sig").alias("__sigb")), "old_id")
      .withColumn("__est",
        size(filter(zip_with(col("__siga"), col("__sigb"),
          (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") / NumHashes)
      .where(col("__est") >= threshold - Dedup.estSlack(threshold, NumHashes))
      .select("new_id", "old_id")
    // exact verify: shingles recomputed for CANDIDATE rows only
    val out = est
      .join(newSig.select(col(id).alias("new_id"),
        graft.functions.HashExpressions.wordShingles(col(text), 3).alias("__sa")), "new_id")
      .join(oldSig.select(col(id).alias("old_id"),
        graft.functions.HashExpressions.wordShingles(col(text), 3).alias("__sb")), "old_id")
      .withColumn("jaccard", round(
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))), 4))
      .where(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    newSig.unpersist()
    out
  }
}
