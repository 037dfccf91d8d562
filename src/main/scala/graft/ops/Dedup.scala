package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2 B1-B5).
  *
  * Scale design: every near-dup variant is a one-shuffle pipeline —
  * signatures are computed in a single projection pass over the scan
  * (pure codegen'd `sql.functions`, no UDFs), candidates come from a
  * bucket join on LSH keys (bounded fan-out), and only candidates pay
  * the exact-verify cost. Nothing ever does an unbucketed all-pairs
  * join except the small-table reference paths marked `allPairs*`.
  */
object Dedup {

  /** Slack for the signature-estimate pre-filter, scaled to the
    * estimator's own dispersion. The `numHashes`-lane agreement
    * fraction is Binomial(numHashes, J)/numHashes with
    * σ = √(J(1−J)/numHashes) — 0.0625 at J=0.5 with 64 lanes — so any
    * FIXED slack smaller than σ drops true boundary pairs at double-
    * digit rates (a 0.05 slack loses a true J=t pair ~19% of the time
    * at t=0.5). k=3 puts the cut 3σ below the threshold: per-pair miss
    * ≈ P[Bin(64,.5) ≤ 20] ≈ 0.1%, while the exact size-ratio and
    * hashed-shingle prefilters in [[verifyJaccard]] absorb the extra
    * sub-threshold candidates the wider cut admits. Pinned end-to-end
    * by BoundaryRecallSpec (planted pairs at J ∈ {t, t+0.02, t+0.05}). */
  private[ops] def estSlack(threshold: Double, numHashes: Int): Double =
    3.0 * math.sqrt(threshold * (1 - threshold) / numHashes)

  /** B1: exact dedup by content hash. Adds the canonical (minimum) id
    * and group size per identical-content group; `is_canonical` marks
    * the row to keep. One hash-shuffle on the 128-bit digest. */
  def exact(df: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(text)))
    df.withColumn("canonical_id", min(col(id)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(id) === col("canonical_id"))
  }

  /** MinHash signature over an already-materialized shingle-array
    * column: `numHashes` permutations approximated by seeded xxhash64,
    * each signature element the min hash over shingles.
    *
    * IMPORTANT: pass a bound column, not an inline shingle expression —
    * Catalyst does not share subexpressions across the `numHashes`
    * lanes, so an inline expression would rebuild the shingle array 64
    * times per row (measured 60×+ slowdown). Hash each shingle once,
    * then take per-lane mins of re-seeded mixes of that one hash. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    // one xxhash64 pass over the shingles, then cheap integer re-mixing
    // per lane (splitmix-style) instead of numHashes string hashes
    val baseHashes = transform(shingles, s => xxhash64(s))
    array((0 until numHashes).map { i =>
      array_min(transform(baseHashes, h => remix(h, i)))
    }: _*)
  }

  /** Per-lane 64-bit mixer: `xxhash64(lane, h)` — a full-avalanche
    * re-hash per lane. The previous xorshift-over-`h ⊕ seed_i` mixer
    * (3 shift-xors, no multiply) had weak avalanche across lanes: the
    * 64 seeded inputs differ only in the xor constant, and the
    * correlated outputs made lane MINIMA correlate — measured on a
    * 15-shingle doc pair with J=0.857 whose lanes agreed only 24/64
    * (a ≥10σ deviation under independence), pushing the pair under
    * the estimate pre-filter and skewing band recall. xxhash64 keeps
    * both forms ANSI-safe (hashing, not SQL arithmetic) and the
    * native pass bit-equal ([[graft.functions.HashExpressions]]). */
  private def remix(h: Column, lane: Int): Column =
    xxhash64(lit(lane.toLong), h)

  /** B2: MinHash+LSH near-dup pairs. Bands the `numHashes`-element
    * signature into `bands` groups, buckets docs by banded hash, and
    * exact-verifies candidate pairs by shingle Jaccard ≥ `threshold`.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Shuffles: one on (band, hash) for bucketing; one for the verify
    * join. Candidate count is bounded by band collisions, so the
    * quadratic blow-up of naive all-pairs never materializes.
    */
  def minhashLsh(
      df: DataFrame,
      text: String = "text",
      id: String = "doc_id",
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Stage 1 (cached): the shingle table — reused by the verify pass.
    val base = df.select(col(id), col(text))
      .withColumn("__sh", graft.functions.HashExpressions.wordShingles(col(text), n))
      .cache()
    // Stage 2 (cached): the signature table — ONE native pass per row
    // (graft.functions.MinHashShingles) hashes each shingle once and
    // maintains all lane minima, replacing 64 interpreted HOF lane
    // traversals (measured ~6s → <1s at sf0.1). Both sides of the
    // bucket self-join and the estimate pre-filter reuse it (at
    // cluster scale this is a persisted signature table, not a
    // recompute).
    val sigd = base
      .withColumn("__sig",
        graft.functions.HashExpressions.minhashShingles(col("__sh"), numHashes))
      .select(col(id), col("__sig"))
      .cache()
    val cand = bandedCandidates(sigd, id, numHashes, bands)
    // signature-estimate pre-filter: the minhash agreement fraction IS
    // an unbiased Jaccard estimate — 64 int compares per candidate,
    // orders of magnitude cheaper than the exact shingle intersect.
    // Corpora with heavy shared vocabulary (like this one) produce many
    // band collisions just below threshold; this cut keeps the exact
    // verify pass linear in TRUE near-dups. The slack scales with the
    // estimator's σ (see [[estSlack]]) so true pairs AT the threshold
    // survive with ≥99.8% probability.
    val estFiltered = cand
      .join(sigd.select(col(id).alias("id_a"), col("__sig").alias("__siga")), "id_a")
      .join(sigd.select(col(id).alias("id_b"), col("__sig").alias("__sigb")), "id_b")
      .withColumn("__est",
        size(filter(zip_with(col("__siga"), col("__sigb"),
          (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") / numHashes)
      .where(col("__est") >= threshold - estSlack(threshold, numHashes))
      .select("id_a", "id_b")
    val out = verifyJaccard(estFiltered, base.select(col(id), col("__sh")), id, threshold)
    materializeThenRelease(out, base, sigd)
  }

  /** Banded-LSH candidate pairs from a minhash signature table
    * (id, __sig): docs sharing any band's hash, id_a < id_b, distinct.
    * The banding keys are CONTENT hashes (xxhash64 over signature
    * lanes), so bucket occupancy tracks actual text duplication, never
    * signature-bit correlation — the property that makes this the
    * entropy-robust candidate source shared by [[minhashLsh]] and
    * [[simhashNearDup]] (see the latter for the failure mode it
    * avoids). */
  private[ops] def bandedCandidates(sigd: DataFrame, id: String,
      numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val banded = sigd.select(col(id), explode(array((0 until bands).map { b =>
      struct(lit(b).alias("band"),
        xxhash64((0 until rows).map(r => element_at(col("__sig"), b * rows + r + 1)) :+ lit(b): _*)
          .alias("bhash"))
    }: _*)).alias("bk")).select(col(id), col("bk.band"), col("bk.bhash"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").alias("id_a"), col(s"y.$id").alias("id_b"))
      .distinct()
  }

  /** Near-dup outputs are tiny (true pairs) while their intermediates
    * (shingle/signature tables) are corpus-sized — eagerly materialize
    * the small result and drop the big caches, so repeated calls in a
    * long-lived session don't accumulate cached partitions. */
  private def materializeThenRelease(out: DataFrame, caches: DataFrame*): DataFrame = {
    val r = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    r.count()
    caches.foreach(_.unpersist())
    r
  }

  /** B39: CROSS-corpus near-dedup — flag NEW documents that are
    * near-dups of an EXISTING corpus (the ingestion guard: don't re-add
    * what the training set already contains). The same banded-minhash
    * candidates → signature-estimate prefilter → exact-jaccard verify
    * pipeline as [[minhashLsh]], across two frames: only (new ×
    * existing) band collisions become candidates, so the work is
    * bounded by collisions, never |new| × |existing| — at 100 TB the
    * existing side's signatures are a persisted table and each
    * ingestion batch probes it with one band-bucket join.
    * Output (new_id, old_id, jaccard ≥ threshold). */
  def crossDedup(newDocs: DataFrame, existing: DataFrame, text: String = "text",
      id: String = "doc_id", n: Int = 3, numHashes: Int = 64, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      val base = df.select(col(id), col(text))
        .withColumn("__sh", graft.functions.HashExpressions.wordShingles(col(text), n)).cache()
      val sigd = base.withColumn("__sig",
          graft.functions.HashExpressions.minhashShingles(col("__sh"), numHashes))
        .select(col(id), col("__sig")).cache()
      (base, sigd)
    }
    def banded(sigd: DataFrame): DataFrame =
      sigd.select(col(id), explode(array((0 until bands).map { b =>
        struct(lit(b).alias("band"),
          xxhash64((0 until rows).map(r =>
            element_at(col("__sig"), b * rows + r + 1)) :+ lit(b): _*).alias("bhash"))
      }: _*)).alias("bk")).select(col(id), col("bk.band"), col("bk.bhash"))
    val (baseN, sigN) = prep(newDocs)
    val (baseO, sigO) = prep(existing)
    val cand = banded(sigN).alias("x").join(banded(sigO).alias("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash"))
      .select(col(s"x.$id").alias("new_id"), col(s"y.$id").alias("old_id"))
      .distinct()
    val est = cand
      .join(sigN.select(col(id).alias("new_id"), col("__sig").alias("__siga")), "new_id")
      .join(sigO.select(col(id).alias("old_id"), col("__sig").alias("__sigb")), "old_id")
      .withColumn("__est",
        size(filter(zip_with(col("__siga"), col("__sigb"),
          (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") / numHashes)
      .where(col("__est") >= threshold - estSlack(threshold, numHashes))
      .select("new_id", "old_id")
    val out = est
      .join(baseN.select(col(id).alias("new_id"), col("__sh").alias("__sa")), "new_id")
      .join(baseO.select(col(id).alias("old_id"), col("__sh").alias("__sb")), "old_id")
      .withColumn("jaccard", round(
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))), 4))
      .where(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
    materializeThenRelease(out, baseN, sigN, baseO, sigO)
  }

  /** Exact shingle-Jaccard verification of candidate pairs against a
    * precomputed (id, __sh) shingle table. Joins through 8-byte
    * shingle HASHES, not 20-char strings (the same trade
    * [[allPairsJaccard]] makes): set intersect/union sizes are
    * identical modulo 64-bit collisions — negligible against distinct
    * shingle counts far below 2^32 — and the verify shuffle, which on
    * dup-dense corpora carries every candidate pair's full shingle
    * set TWICE, shrinks to a fraction of the bytes. */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame,
      id: String, threshold: Double): DataFrame = {
    val hsh = sh.select(col(id),
      graft.functions.HashExpressions.hashArray(col("__sh")).alias("__sh"))
    // EXACT size-ratio prefilter: J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|)
    // (|∩| ≤ min, |∪| ≥ max), so min < t·max cannot pass the threshold
    // — a pair of 8-byte counts decides before the pair ever pays the
    // shingle-array joins. Candidate generators bound pair COUNTS but
    // not similarity, so on mixed-length corpora this drops a large
    // slice of candidates for two narrow int joins. 1e-9 guards the
    // float boundary (J exactly t must be kept).
    val sizes = hsh.select(col(id), size(col("__sh")).alias("__n"))
    val szOk = pairs
      .join(sizes.select(col(id).alias("id_a"), col("__n").alias("__na")), "id_a")
      .join(sizes.select(col(id).alias("id_b"), col("__n").alias("__nb")), "id_b")
      .where(least(col("__na"), col("__nb")).cast("double") >=
        greatest(col("__na"), col("__nb")).cast("double") * threshold - 1e-9)
      .select("id_a", "id_b")
    szOk
      .join(hsh.select(col(id).alias("id_a"), col("__sh").alias("__sa")), "id_a")
      .join(hsh.select(col(id).alias("id_b"), col("__sh").alias("__sb")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** B4: exact n-gram Jaccard over ALL pairs — the small-table oracle
    * path (the scale path is [[minhashLsh]], which verifies with the
    * same formula on LSH candidates only). */
  def allPairsJaccard(df: DataFrame, text: String = "text", id: String = "doc_id",
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // EXACT jaccard over all pairs via inverted-index join: explode
    // shingles, pair docs through shared shingles, count the overlap per
    // pair, then |A∩B| / (|A|+|B|-|A∩B|). Identical result set to the
    // naive cross join (a pair with J ≥ t > 0 shares ≥ 1 shingle) but
    // the work is Σ_shingle freq² instead of n² — the standard exact
    // similarity-join at scale. One shuffle on shingle, one on pair.
    val sh = df.select(col(id), graft.functions.HashExpressions.wordShingles(col(text), n).alias("__sh"))
      .withColumn("__n", size(col("__sh")))
    // join through 8-byte shingle hashes, not 20-char strings: same
    // pair counts (64-bit collisions are negligible against distinct
    // shingle counts far below 2^32) at a fraction of the shuffle bytes
    val ex = sh.select(col(id), col("__n"),
      explode(graft.functions.HashExpressions.hashArray(col("__sh"))).alias("__s"))
    ex.alias("a").join(ex.alias("b"),
        col("a.__s") === col("b.__s") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").alias("id_a"), col(s"b.$id").alias("id_b"),
        col("a.__n").alias("__na"), col("b.__n").alias("__nb"))
      .agg(count(lit(1)).alias("__common"))
      .select(col("id_a"), col("id_b"),
        round(col("__common").cast("double") /
          (col("__na") + col("__nb") - col("__common")), 4).alias("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over the word multiset: per bit, the sign of the
    * sum of ±1 votes from each word's xxhash64. One native projection
    * pass per row ([[graft.functions.SimHash64]]) — NO shuffle; the
    * previous explode → 64-sum groupBy shuffled one row per word
    * (≈1000× the document count). Bit-equal to that form (spec). */
  def simhash(df: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame =
    df.select(col(id),
      graft.functions.HashExpressions.simhash64(
        TextAnalysis.words(col(text))).alias("simhash"))

  /** The explode/groupBy formulation of [[simhash]] — kept as the
    * bit-equality reference for the native expression. */
  private[ops] def simhashViaShuffle(df: DataFrame, text: String = "text",
      id: String = "doc_id"): DataFrame = {
    val exploded = df.select(col(id), explode(TextAnalysis.words(col(text))).alias("__w"))
      .withColumn("__h", xxhash64(col("__w")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .alias(s"__b$b"))
    val agged = exploded.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(b =>
      when(col(s"__b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    agged.withColumn("simhash", sig).select(col(id), col("simhash"))
  }

  /** B3: SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * The DEFAULT (scale) path buckets by TWO-LEVEL keys — a
    * `chunkBits`-bit signature chunk PLUS a subchunk of that chunk's
    * complement (the Manku/WWW'07 block trick, deepened one level) —
    * so candidates are bounded by (chunk, subchunk) collisions on a
    * ~2·chunkBits-wide key instead of the n² all-pairs join or the
    * chunk-only key whose 2^chunkBits buckets random-collide
    * quadratically once the corpus outgrows them. Pigeonhole gives
    * EXACT recall for `maxHamming < 64/chunkBits`: some chunk is
    * diff-free, and the complement carries those same errors across
    * as many subchunks, so one subchunk is diff-free too. Beyond the
    * bound, recall degrades gracefully (a pair must still share one
    * clean chunk+subchunk) in exchange for never paying a cartesian —
    * the standard web-scale trade. `chunkBits` trades guarantee depth
    * against key width: 16-bit chunks (guarantee h≤3) give 28-bit
    * keys; 8-bit chunks (guarantee h≤7) give 15-bit keys.
    * `bucketed = false` is the small-table reference path (all-pairs,
    * exact at any hamming) kept for the recall spec. */
  def simhashPairs(df: DataFrame, text: String = "text", id: String = "doc_id",
      maxHamming: Int = 12, bucketed: Boolean = true, chunkBits: Int = 16): DataFrame = {
    require(64 % chunkBits == 0, "chunkBits must divide 64")
    val sigs = simhash(df, text, id)
    val pairs =
      if (!bucketed)
        sigs.alias("a").join(sigs.alias("b"), col(s"a.$id") < col(s"b.$id"))
          .select(col(s"a.$id").alias("id_a"), col("a.simhash").alias("__sha"),
            col(s"b.$id").alias("id_b"), col("b.simhash").alias("__shb"))
      else {
        // TWO-LEVEL bucketing (chunk ⊗ complement-subchunk): bucketing
        // on a chunk alone is a scale wall — 2^chunkBits buckets hold
        // a growing corpus, so RANDOM chunk collisions grow n²/2^bits
        // (measured at sf1: 50k docs × 8-bit chunks → 508M candidate
        // pairs, 216 s, the dominant cost of the near-dup gate). The
        // fix widens the bucket key without weakening the pigeonhole
        // guarantee: a pair within maxHamming < nChunks has a clean
        // chunk c, AND the complement (the other 64-chunkBits bits)
        // carries those same ≤ maxHamming errors across nChunks
        // subchunks — so some subchunk of the complement is clean too.
        // Bucket key = (c, j, chunk value, subchunk-of-complement
        // value): ~2^(chunkBits+subBits) buckets per (c, j) table,
        // collisions bounded at corpora 2^subBits times larger, for an
        // explode of nChunks² (vs nChunks) rows per doc — cheap
        // against a half-billion-pair join.
        val nChunks = 64 / chunkBits
        val mask = (1L << chunkBits) - 1
        val subBits = (64 - chunkBits) / nChunks
        val submask = (1L << subBits) - 1
        def sru(c: Column, n: Int): Column =
          if (n == 0) c else shiftrightunsigned(c, n)
        def chunkOf(sig: Column, c: Int): Column =
          sru(sig, c * chunkBits).bitwiseAND(mask)
        // the signature with chunk c's bits excised (64-chunkBits bits)
        def compOf(sig: Column, c: Int): Column = {
          val lowBits = c * chunkBits
          val lower =
            if (lowBits == 0) lit(0L) else sig.bitwiseAND((1L << lowBits) - 1)
          val upper =
            if ((c + 1) * chunkBits >= 64) lit(0L)
            else shiftleft(sru(sig, (c + 1) * chunkBits), lowBits)
          lower.bitwiseOR(upper)
        }
        def subOf(sig: Column, c: Int, j: Int): Column =
          sru(compOf(sig, c), j * subBits).bitwiseAND(submask)
        val chunked = sigs.select(col(id), col("simhash"), explode(array(
          (for { c <- 0 until nChunks; j <- 0 until nChunks } yield
            struct(lit(c).alias("chunk"), lit(j).alias("sub"),
              chunkOf(col("simhash"), c).alias("ck"),
              subOf(col("simhash"), c, j).alias("sk"))): _*)).alias("e"))
          .select(col(id), col("simhash"),
            col("e.chunk"), col("e.sub"), col("e.ck"), col("e.sk"))
        // Duplicate suppression: a qualifying pair collides in up to
        // nChunks² (c, j) tables; `.distinct()` dedups them in one
        // shuffle of (ids, signatures) — bounded by the two-level
        // join's output, which the wider key keeps near-linear (the
        // chunk-only key's half-billion-row output was what made a
        // dedup shuffle unaffordable; a first-wins filter expression
        // over all nChunks² combos was tried instead and its ~70-term
        // predicate drove Catalyst planning, not execution, into the
        // tens of minutes).
        chunked.alias("a").join(chunked.alias("b"),
            col("a.chunk") === col("b.chunk") && col("a.sub") === col("b.sub") &&
              col("a.ck") === col("b.ck") && col("a.sk") === col("b.sk") &&
              col(s"a.$id") < col(s"b.$id"))
          .select(col(s"a.$id").alias("id_a"), col("a.simhash").alias("__sha"),
            col(s"b.$id").alias("id_b"), col("b.simhash").alias("__shb"))
          .distinct()
      }
    pairs.select(col("id_a"), col("id_b"),
        bit_count(col("__sha").bitwiseXOR(col("__shb"))).alias("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** B3 (verified form): candidate pairs filtered to simhash Hamming
    * ≤ `maxHamming`, exact-verified by shingle Jaccard ≥ `threshold`.
    * Output (id_a, id_b, jaccard). Recall on true pairs is the product
    * of three filters, not an equality guarantee: (1) the hamming
    * prefilter — exact on corpora where every J ≥ threshold pair sits
    * within `maxHamming` simhash bits (gate-checked empirically here);
    * (2) on the default "minhash" candidate path, the banded-LSH miss
    * probability (≈(1−t²)^32 ≈ 1e-4 at t=0.5 with 32 bands of r=2);
    * (3) the signature-estimate prefilter, whose σ-scaled slack
    * ([[estSlack]]) keeps a true J=t pair with ≥99.8% probability.
    * The "chunks" candidate path has pigeonhole-exact candidate
    * recall but pays filters (1) and (3).
    *
    * CANDIDATE SOURCE — measured at the sf1 sweep, this is the whole
    * ballgame: `candidates = "minhash"` (default) buckets by banded
    * minhash — CONTENT-hash keys whose bucket occupancy tracks actual
    * duplication — then applies the hamming filter per candidate.
    * `candidates = "chunks"` buckets by simhash chunk⊗subchunk
    * ([[simhashPairs]]); its keys are signature-BIT projections, and
    * simhash bits on a real corpus are heavily correlated (stopword
    * votes bias whole bit ranges), so a projection key can put
    * thousands of non-dup docs in one bucket: at sf1, 50k docs held
    * only ~35k distinct signatures, the hottest 15-bit projection
    * bucket held 5,800 docs, and chunk candidates totaled 0.5-0.6B
    * pairs against 4M true hamming-≤7 pairs — a 150× join-volume tax
    * no choice of bit partition can fix (every partition inherits the
    * bias). Use "chunks" only when a maintained simhash-chunk index is
    * the lookup infrastructure and the corpus' signature entropy has
    * been checked. */
  def simhashNearDup(df: DataFrame, text: String = "text", id: String = "doc_id",
      maxHamming: Int = 12, n: Int = 3, threshold: Double = 0.5,
      chunkBits: Int = 16, candidates: String = "minhash"): DataFrame = {
    val base = df.select(col(id), graft.functions.HashExpressions.wordShingles(col(text), n).alias("__sh"))
      .cache()
    if (candidates == "chunks") {
      val cand = simhashPairs(df, text, id, maxHamming, bucketed = true, chunkBits)
        .select("id_a", "id_b")
      materializeThenRelease(verifyJaccard(cand, base, id, threshold), base)
    } else {
      val numHashes = 64
      val sigd = base
        .withColumn("__sig",
          graft.functions.HashExpressions.minhashShingles(col("__sh"), numHashes))
        .select(col(id), col("__sig"))
        .cache()
      val sims = simhash(df, text, id)
      // bands=32 (r=2): short docs give the minhash estimate high
      // variance — a J=0.8 ten-word pair was measured agreeing on only
      // 33/64 lanes, which 16 bands of 4 miss ~30% of the time while
      // 32 bands of 2 miss at ~5e-5. Same recall floor the
      // dedup_minhash gate runs with.
      val withinH = bandedCandidates(sigd, id, numHashes, bands = 32)
        .join(sims.select(col(id).alias("id_a"), col("simhash").alias("__sha")), "id_a")
        .join(sims.select(col(id).alias("id_b"), col("simhash").alias("__shb")), "id_b")
        .where(bit_count(col("__sha").bitwiseXOR(col("__shb"))) <= maxHamming)
        .select("id_a", "id_b")
      // the minhash signatures are already in hand — apply the same
      // estimate pre-filter minhashLsh uses before paying the exact
      // shingle intersect
      val estFiltered = withinH
        .join(sigd.select(col(id).alias("id_a"), col("__sig").alias("__siga")), "id_a")
        .join(sigd.select(col(id).alias("id_b"), col("__sig").alias("__sigb")), "id_b")
        .withColumn("__est",
          size(filter(zip_with(col("__siga"), col("__sigb"),
            (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") / numHashes)
        .where(col("__est") >= threshold - estSlack(threshold, numHashes))
        .select("id_a", "id_b")
      materializeThenRelease(
        verifyJaccard(estFiltered, base, id, threshold), base, sigd)
    }
  }

  /** Near-dup CLUSTERING: connected components over a dup-pair edge
    * list, labeling every document with the minimum doc id reachable
    * through dup edges (its canonical representative). Iterative
    * min-label propagation — each round is one join + one min-agg
    * shuffle, converging in O(log(longest chain)) rounds with a
    * driver-side fixpoint check (the standard large-graph CC shape;
    * dup clusters are tiny so rounds stay single-digit at any scale).
    */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame,
      id: String = "doc_id", maxIters: Int = 10): DataFrame = {
    // pinned (persist + plan-leaf, graft.store.Lineage): the edge list's
    // upstream is the full LSH candidate derivation and each round's
    // labels otherwise STACK plans — round n re-analyzes all n-1
    // previous trees plus the minhash expressions (measured: the final
    // labels frame's formatted plan was ~9.5k lines at sf0.1,
    // plans/r16/dedup_clusters_before.txt). Leaf-pinning keeps every
    // round's analyzed tree O(1).
    val edges = graft.store.Lineage.pin(
      pairs.select(col("id_a").alias("a"), col("id_b").alias("b"))
        .unionByName(pairs.select(col("id_b").alias("a"), col("id_a").alias("b"))))
    var labels = graft.store.Lineage.pin(
      docs.select(col(id), col(id).alias("cluster_id")))
    // monotone-sum fixpoint (r16): min-label propagation can only ever
    // DECREASE a label, so Σ labels strictly decreases until the
    // fixpoint — an unchanged sum ⟺ no label changed. One agg job per
    // round (which also materializes the round's cache) replaces the
    // former count() + join + limit(1).count() change-detection pair.
    // decimal(38,0) sum: exact at any corpus size (no long wrap-around
    // that could fake convergence). Sound ONLY for integral id types —
    // string/float ids (the id param is generic) keep the join-based
    // change detection (a decimal cast of a string id yields null and
    // would fake convergence after one round).
    val integralIds = docs.schema(docs.schema.fieldIndex(id)).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v // empty corpus
    }
    var prevSum = if (integralIds) labelSum(labels) else null
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val viaEdges = edges.join(labels, edges("b") === labels(id))
        .select(col("a").alias(id), col("cluster_id"))
      val next = graft.store.Lineage.pin(
        labels.select(col(id), col("cluster_id")).unionByName(viaEdges)
          .groupBy(id).agg(min("cluster_id").alias("cluster_id")))
      if (integralIds) {
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      } else {
        next.count() // materialize the round's pin
        converged = next.alias("n").join(labels.alias("o"),
            col(s"n.$id") === col(s"o.$id"))
          .where(col("n.cluster_id") =!= col("o.cluster_id"))
          .limit(1).count() == 0
      }
      graft.store.Lineage.release(labels)
      labels = next
      iter += 1
    }
    graft.store.Lineage.release(edges)
    labels
  }

  /** Sequence PACKING: assign documents to fixed-capacity training
    * bins. Docs are processed in deterministic (stratum, id) order and
    * bin = exclusive-prefix-token-count ÷ capacity — the streaming
    * quantized-packing rule (a doc may straddle a boundary; trainers
    * that cannot split docs instead truncate, which this op mirrors by
    * also reporting the doc's offset in its bin). One window shuffle
    * per stratum. */
  def packSequences(df: DataFrame, tokens: Column, capacity: Int,
      stratum: String = "lang", id: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(stratum)).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__tok", tokens)
      .withColumn("__before", coalesce(sum(col("__tok")).over(w), lit(0L)))
      .select(col(id), col(stratum),
        col("__tok").cast("long").alias("n_tokens"),
        (col("__before") / capacity).cast("long").alias("bin_id"),
        pmod(col("__before"), lit(capacity.toLong)).cast("long").alias("bin_offset"))
  }

  /** B5: embedding near-dup — pairs with cosine ≥ `threshold`, bucketed
    * by random-hyperplane LSH (see [[Similarity.hyperplaneBucket]]).
    *
    * `planes <= 0` AUTO-SIZES the per-band bit count to the corpus
    * (`max(8, log2(n/32))`, one count job): a FIXED plane count is a
    * scale wall — bucket count stays constant while occupancy grows
    * linearly, so candidate pairs grow QUADRATICALLY with the corpus
    * (measured at the sf1 sweep: planes=4 → 16 buckets → 62M probe
    * pairs on 20k vectors, 47× the sf0.1 gate cost for 10× data).
    *
    * `bands > 1` switches to a BANDED signature (the minhash-LSH shape
    * re-expressed for hyperplanes): `bands` independent plane families,
    * candidates = pairs sharing ANY band value, recall
    * `1-(1-p^planes)^bands` where `p = 1 - angle/π`. Duplicate matches
    * across bands are suppressed with a FIRST-BAND-WINS filter (a pair
    * counts only in its lowest matching band), so no distinct shuffle
    * is needed. Banded mode ignores `multiProbe` — bands control recall
    * explicitly. The single-band default keeps the legacy multi-probe
    * behavior (one plane-flip tolerated). */
  def embeddingNearDup(df: DataFrame, vec: String = "embedding", id: String = "vec_id",
      threshold: Double = 0.95, planes: Int = 8, multiProbe: Boolean = true,
      bands: Int = 1): DataFrame = {
    val k =
      if (planes > 0) planes
      else math.max(8, math.ceil(
        math.log(math.max(df.count(), 2L).toDouble / 32.0) / math.log(2))).toInt
    if (bands <= 1) {
      val withB = df.select(col(id), col(vec))
        .withColumn("__bucket", Similarity.hyperplaneBucket(col(vec), k))
      // multi-probe: one side also probes every bucket one plane-flip away,
      // so a near-identical pair split by a single hyperplane is still
      // paired (miss now needs ≥2 separating planes). Fan-out is planes+1
      // on ONE side only; each qualifying pair matches exactly one probe,
      // so no dedup pass is needed.
      val probes =
        if (!multiProbe) array(col("__bucket"))
        else array(col("__bucket") +:
          (0 until k).map(p => col("__bucket").bitwiseXOR(lit(1L << p))): _*)
      val lhs = withB.withColumn("__probe", explode(probes))
      val pairs = lhs.alias("a").join(withB.alias("b"),
        col("a.__probe") === col("b.__bucket") && col(s"a.$id") < col(s"b.$id"))
      pairs.select(
          col(s"a.$id").alias("id_a"), col(s"b.$id").alias("id_b"),
          round(Similarity.cosine(col(s"a.$vec"), col(s"b.$vec")), 4).alias("cosine"))
        .where(col("cosine") >= threshold)
    } else {
      // native one-pass signature: the composed SQL form traverses the
      // vector once PER PLANE (bands×planes aggregate(zip_with(...))
      // traversals — measured as the dominant cost at the sf1 sweep)
      val sig = graft.functions.VectorExpressions
        .hyperplaneSig(col(vec), k, bands)
      val withSig = df.select(col(id), col(vec)).withColumn("__sig", sig)
        .select(col(id), col(vec), col("__sig"),
          posexplode(col("__sig")).as(Seq("__band", "__bv")))
      // both sides exploded → plain shuffle join on (band, value); the
      // per-band bucket count scales with the corpus via auto-planes,
      // so per-bucket occupancy (and the candidate volume) stays flat
      val pairs = withSig.alias("a").join(withSig.alias("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bv") === col("b.__bv") &&
          col(s"a.$id") < col(s"b.$id") &&
          // first-band-wins: drop the match if any LOWER band already
          // paired these two (slice of the first __band signature values)
          !exists(
            zip_with(
              slice(col("a.__sig"), lit(1), col("a.__band")),
              slice(col("b.__sig"), lit(1), col("a.__band")),
              (x, y) => x === y),
            p => p))
      pairs.select(
          col(s"a.$id").alias("id_a"), col(s"b.$id").alias("id_b"),
          round(Similarity.cosine(col(s"a.$vec"), col(s"b.$vec")), 4).alias("cosine"))
        .where(col("cosine") >= threshold)
    }
  }
}
