package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}
import graft.streaming.EventOps

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH recovers the exact-jaccard near-dup pairs") {
    val docs = Tables.documents(spark, sf)
    val truth = Dedup.allPairsJaccard(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain near-dups")
    // verify step guarantees precision; recall should be near-total
    assert(found.subsetOf(truth), s"false positives: ${found -- truth}")
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall too low (${found.size}/${truth.size})")
    // at bands=32 (r=2) a J=0.5 pair misses all bands w.p. ~1e-4 —
    // recall is total on this corpus, which is what the driver's
    // dedup_minhash oracle (= the all-pairs jaccard SQL) asserts
    val found32 = Dedup.minhashLsh(docs, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found32 == truth,
      s"bands=32 output differs from exact: missing ${truth -- found32}, extra ${found32 -- truth}")
  }

  test("cross-corpus dedup flags re-ingested copies against the existing set") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val existing = docs.where(col("doc_id") < 300)
    val newDocs = docs.where(col("doc_id") >= 300)
      .unionByName(docs.where(col("doc_id") < 20)
        .select((col("doc_id") + lit(1000000L)).alias("doc_id"), col("text")))
    val out = Dedup.crossDedup(newDocs, existing)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every verbatim copy must pair with its original at jaccard 1.0
    (0L until 20L).foreach { i =>
      assert(out.exists(p => p._1 == i + 1000000L && p._2 == i && p._3 == 1.0),
        s"re-ingested copy of doc $i not flagged")
    }
    // pairs are strictly (new side, existing side)
    out.foreach { case (n, o, _) =>
      assert((n >= 300 || n >= 1000000L) && o < 300, s"pair ($n, $o) crosses wrong sides")
    }
    out // drop the persisted result reference
    ()
  }

  test("simhash of identical texts is identical, near-dup pairs have low hamming") {
    val docs = Tables.documents(spark, sf).limit(100)
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 5000))
    val pairs = Dedup.simhashPairs(doubled, maxHamming = 0)
      .where(col("id_b") === col("id_a") + 5000)
    assert(pairs.count() == 100) // identical text → identical simhash
  }

  test("bucketed simhash: exact recall inside the pigeonhole bound, subset beyond") {
    val base = Tables.documents(spark, sf).limit(120)
    // plant identical copies → hamming-0 pairs the bucketed path MUST find
    val docs = base.unionByName(base.withColumn("doc_id", col("doc_id") + 5000))
    def pairs(h: Int, bucketed: Boolean) =
      Dedup.simhashPairs(docs, maxHamming = h, bucketed = bucketed)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming ≤ 3 over 4 16-bit chunks: pigeonhole guarantees one clean
    // chunk, so the bucketed join's output EQUALS all-pairs
    val all3 = pairs(3, bucketed = false)
    val b3 = pairs(3, bucketed = true)
    assert(all3.size >= 120, s"planted dups missing: ${all3.size}")
    assert(b3 == all3, s"missing ${all3 -- b3}, extra ${b3 -- all3}")
    // beyond the bound the chunk join trades recall for a candidate set
    // bounded by chunk collisions (no cartesian) — subset, not equality
    val all8 = pairs(8, bucketed = false)
    val b8 = pairs(8, bucketed = true)
    assert(b8.subsetOf(all8), "bucketed path produced a pair all-pairs did not")
    assert(b8.size >= all3.size, "bucketed h=8 should at least contain the h=3 pairs")
    // identical copies collide in EVERY (chunk, subchunk) table, so
    // each pair must still surface exactly once (a Set comparison
    // alone would hide duplicated rows)
    val rows3 = Dedup.simhashPairs(docs, maxHamming = 3, bucketed = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows3.length == rows3.toSet.size,
      s"bucketed path emitted duplicate pairs: ${rows3.length} rows, " +
        s"${rows3.toSet.size} distinct")
  }

  test("minhash lane agreement tracks jaccard on short docs (mixer avalanche)") {
    // Regression pin for the lane mixer: the old xorshift remix had
    // weak cross-lane avalanche (64 inputs differing only in an xor
    // constant), which let lane MINIMA correlate — a real J=0.857
    // replica pair measured 24/64 agreeing lanes (≥10σ under
    // independence) and fell under the estimate pre-filter, silently
    // dropping 3 true pairs at the sf1 scale point. With the
    // xxhash64-per-lane mix, agreement must sit near 64·J. The docs
    // reproduce that failing shape: 15 words sharing all but the last.
    import spark.implicits._
    val docs = Seq(
      (1L, "row join small part data spark agg fast sort join order table key group r1"),
      (2L, "row join small part data spark agg fast sort join order table key group r5"))
      .toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      graft.functions.HashExpressions.minhashShingles(
        graft.functions.HashExpressions.wordShingles(col("text"), 3), 64).alias("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sig(1L).zip(sig(2L)).count(p => p._1 == p._2)
    // J = 12/14 ≈ 0.857 → E[agree] ≈ 55, σ ≈ 2.8; pin at > 40 (5σ),
    // far above the correlated mixer's measured 24
    assert(agree > 40, s"lane agreement $agree/64 for a J≈0.86 pair — " +
      "the lane mixer is correlating minima again")
  }

  test("simhashNearDup: minhash-candidate default equals the chunk-index path") {
    // the two candidate sources must agree on the final verified pair
    // set wherever both discover the truth (this corpus) — the default
    // swap to content-hash candidates is a cost change, not a
    // semantics change
    val base = Tables.documents(spark, sf).limit(150)
    val docs = base.unionByName(base.withColumn("doc_id", col("doc_id") + 5000))
    def pairs(mode: String) =
      Dedup.simhashNearDup(docs, maxHamming = 7, threshold = 0.5,
        chunkBits = 8, candidates = mode)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaMinhash = pairs("minhash")
    val viaChunks = pairs("chunks")
    assert(viaMinhash.nonEmpty, "planted dups must verify")
    assert(viaMinhash == viaChunks,
      s"missing ${viaChunks -- viaMinhash}, extra ${viaMinhash -- viaChunks}")
  }

  test("argmax-cosine expression matches the window-argmin formulation") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(6).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val native = e.withColumn("cid",
      VectorExpressions.argMaxCosine(col("embedding"), typedLit(cents)))
    val centsDf = spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i, c) }).toDF("cid2", "cent")
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid2").asc)
    val windowed = e.crossJoin(broadcast(centsDf))
      .withColumn("sim", Similarity.cosine(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("cid2"))
    val diff = native.join(windowed, "vec_id").where(col("cid") =!= col("cid2"))
    assert(diff.count() == 0, "native argmax disagrees with window argmin")
  }

  test("multi-probe embedding near-dup recovers every planted pair") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val planted = e.where(col("vec_id") < 30).select(
      (col("vec_id") + 1000000L).alias("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") + pmod(xxhash64(i), lit(100)).cast("double") / 5000.0 - 0.01)
        .cast("array<float>").alias("embedding"))
    val found = Dedup.embeddingNearDup(e.unionByName(planted),
        threshold = 0.99, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 30L).map(i => (i, i + 1000000L)).toSet
    assert(found == expected,
      s"missing ${expected -- found}, extra ${found -- expected}")
    // BANDED auto-scaled signatures (the sf1 scale fix: fixed planes
    // make candidates quadratic in corpus size) must recover the same
    // planted pairs, each exactly once (first-band-wins dedup)
    val banded = Dedup.embeddingNearDup(e.unionByName(planted),
        threshold = 0.99, planes = -1, bands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.length == banded.toSet.size,
      "first-band-wins must emit each pair exactly once")
    assert(banded.toSet == expected,
      s"banded: missing ${expected -- banded.toSet}, extra ${banded.toSet -- expected}")
  }

  test("lsh ANN results are true neighbors from the brute-force ranking's bucket") {
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(e, q, k = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, k = 5, planes = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    // every LSH hit must be a genuinely similar vector (top-50 of exact)
    val hits = lsh.count(brute.contains)
    assert(hits.toDouble / lsh.length >= 0.6,
      s"only $hits/${lsh.length} LSH results in exact top-50")
  }

  test("multi-probe lsh: probe-all equals brute force; 1-bit probing lifts recall") {
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = ids(Similarity.bruteForceTopK(e, q, k = 5))
    // probe-all (multiProbe = planes) is provably the exact ranking —
    // the equivalence the ann_lsh gate's full oracle rests on
    val all = ids(Similarity.lshTopK(e, q, k = 5, planes = 4, multiProbe = 4))
    assert(all == brute, s"probe-all ≠ brute: missing ${brute -- all}")
    // deployment path: 1-bit probing strictly dominates 0-probe recall
    def recall(mp: Int) = {
      val got = ids(Similarity.lshTopK(e, q, k = 5, planes = 4, multiProbe = mp))
        .map(t => (t._1, t._2))
      (got & brute.map(t => (t._1, t._2))).size.toDouble / brute.size
    }
    assert(recall(1) >= recall(0), "1-bit multi-probe must not lose recall")
  }

  test("streaming sessionize equals batch gaps-and-islands") {
    val events = Tables.events(spark, sf)
    val batch = EventOps.sessionizeBatch(events)
      .groupBy("user_id").agg(count(lit(1)).alias("n_sessions"),
        sum("n_events").alias("total_events"))
    val streamed = EventOps.runToMemory(spark, s"$sf/events.parquet",
        s"sess_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())(df =>
        EventOps.sessionizeStream(spark, df))
    // streamed emits only CLOSED sessions; open tail sessions stay in
    // state — so compare per-user closed counts
    val streamedAgg = streamed.groupBy("user_id")
      .agg(count(lit(1)).alias("n_closed"), sum("n_events").alias("closed_events"))
    val joined = batch.join(streamedAgg, "user_id")
      .where(col("n_closed") > col("n_sessions") ||
        col("closed_events") > col("total_events"))
    assert(joined.count() == 0, "streamed sessions exceed batch sessions")
    assert(streamed.count() > 0)
  }

  test("multimodal decode plumbing produces one meta row per doc") {
    val docs = Tables.documents(spark, sf)
    val meta = Multimodal.decodeMeta(Multimodal.withBinaryColumn(docs))
    assert(meta.count() == docs.count())
    assert(meta.filter(m => m.byte_len <= 0).count() == 0)
  }

  test("native shingle/minhash expressions are bit-equal to composed HOF forms") {
    import graft.functions.HashExpressions
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // composed reference forms (the pre-native implementations)
    val w = split(col("text"), " ")
    val hofShingles = array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(0), size(w) - 3),
          i => array_join(slice(w, i + 1, lit(3)), " ")))
        .otherwise(array(col("text"))))
    val shinglesDiff = docs
      .withColumn("a", hofShingles)
      .withColumn("b", HashExpressions.wordShingles(col("text"), 3))
      .where(not(col("a") <=> col("b")))
    assert(shinglesDiff.count() == 0, "wordShingles mismatch vs HOF form")

    val hofHashes = transform(HashExpressions.wordShingles(col("text"), 3),
      s => xxhash64(s))
    val hashDiff = docs
      .withColumn("a", hofHashes)
      .withColumn("b", HashExpressions.hashArray(
        HashExpressions.wordShingles(col("text"), 3)))
      .where(not(col("a") <=> col("b")))
    assert(hashDiff.count() == 0, "hashArray mismatch vs HOF form")

    // minhashSignature's contract takes the shingle-string array and
    // hashes each shingle once; the native form fuses that same pass
    val sigDiff = docs
      .withColumn("a", Dedup.minhashSignature(
        HashExpressions.wordShingles(col("text"), 3), 16))
      .withColumn("b", HashExpressions.minhashShingles(
        HashExpressions.wordShingles(col("text"), 3), 16))
      .where(not(col("a") <=> col("b")))
    assert(sigDiff.count() == 0, "minhash signature mismatch vs HOF form")

    val docsSub = docs.limit(100)
    val nativeSh = Dedup.simhash(docsSub).withColumnRenamed("simhash", "a")
    val shuffleSh = Dedup.simhashViaShuffle(docsSub).withColumnRenamed("simhash", "b")
    val shDiff = nativeSh.join(shuffleSh, "doc_id")
      .where(not(col("a") <=> col("b")))
    assert(shDiff.count() == 0, "native simhash mismatch vs shuffle form")
  }

  test("IVF top-k recall against brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(e, q, k = 5))
    val ivf = pairs(Similarity.ivfTopK(e, q, k = 5, nlist = 8, nprobe = 3))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("salted join equals unsalted join exactly") {
    val fact = Tables.lineitem(spark, sf).select(
      pmod(col("l_orderkey"), lit(25)).cast("int").alias("k"), col("l_quantity"))
    val dim = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("int").alias("k"), col("n_name"))
    val salted = SkewJoin.salted(fact, dim, Seq("k"), salts = 8)
      .groupBy("n_name").agg(count(lit(1)).alias("c"), sum("l_quantity").alias("s"))
    val plain = fact.join(dim, "k")
      .groupBy("n_name").agg(count(lit(1)).alias("c"), sum("l_quantity").alias("s"))
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("batched feature extraction is deterministic and batch-size independent") {
    val docs = Multimodal.withBinaryColumn(Tables.documents(spark, sf))
    def run(bs: Int) = Multimodal.extractFeatures(docs, batchSize = bs)
      .collect().map(f => f.doc_id -> f.features.toSeq).toMap
    val a = run(64)
    val b = run(7)
    assert(a == b, "features depend on batch size")
    assert(a.values.forall(_.size == 8))
  }
}
