package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2 B8-B11). All are single-pass projections built from
  * codegen'd `sql.functions` — no UDFs, no shuffles; at 100 TB each is
  * a map-only stage over the document scan.
  */
object TextAnalysis {

  /** Whitespace words of `text` (the corpus is single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** B10: token counting — whitespace tokens and a BPE-ish lowercase
    * word-run count (regexp matches of `[a-z]+`). */
  def tokenCounts(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("ws_tokens", size(words(col(text))))
      .withColumn("word_tokens", regexp_count(col(text), lit("[a-z]+")))
      .withColumn("byte_len", length(col(text).cast("binary")))

  /** B35: token-window chunking — split each document into overlapping
    * `maxTokens`-token windows (stride `maxTokens - overlap`), the
    * standard context-window prep before embedding or training long
    * docs. Chunk count = max(1, ⌈(n − overlap) / stride⌉) so every
    * token is covered and consecutive chunks share `overlap` tokens.
    * Pure projection + generator explode — no shuffle, no UDF;
    * deterministic, so the chunk boundaries are engine-reproducible. */
  def chunk(df: DataFrame, maxTokens: Int, overlap: Int,
      text: String = "text", id: String = "doc_id"): DataFrame = {
    require(maxTokens > overlap && overlap >= 0, "need maxTokens > overlap >= 0")
    val stride = maxTokens - overlap
    val w = words(col(text))
    val n = size(w)
    val nChunks = greatest(lit(1L),
      ceil((n.cast("long") - overlap).cast("double") / stride).cast("long"))
    df.withColumn("__w", w)
      .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("chunk_text",
        array_join(slice(col("__w"), (col("tok_start") + 1).cast("int"),
          lit(maxTokens)), " "))
      .select(col(id), col("chunk_id"),
        col("tok_start"),
        least(col("tok_start") + maxTokens, size(col("__w")).cast("long")).alias("tok_end"),
        col("chunk_text"))
  }

  private val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** B9: quality scoring — stopword ratio, mean word length, repetition
    * ratio (distinct/total words). Score is a bounded combination,
    * rounded for oracle stability. */
  def qualityScore(df: DataFrame, text: String = "text"): DataFrame = {
    val w = words(col(text))
    val nWords = size(w)
    val stopCnt = size(filter(w, c => c.isin(Stopwords.map(lit): _*)))
    val distinctRatio = size(array_distinct(w)).cast("double") / nWords
    val stopRatio = stopCnt.cast("double") / nWords
    val meanWordLen = (length(col(text)) - nWords + 1).cast("double") / nWords
    df.withColumn("n_words", nWords)
      .withColumn("stop_ratio", round(stopRatio, 4))
      .withColumn("distinct_ratio", round(distinctRatio, 4))
      .withColumn("mean_word_len", round(meanWordLen, 4))
      .withColumn("quality_score",
        round(least(lit(1.0),
          stopRatio * 2.0 + distinctRatio * 0.5 +
            when(meanWordLen.between(3.0, 8.0), 0.25).otherwise(0.0)), 4))
  }

  /** Marker stopwords per language for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast-free, pure codegen. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est"),
    "es" -> Seq("el", "los", "y", "es"))

  /** B8: language-ID — count marker words per language, argmax with
    * deterministic tie-break on language order; 'und' when no marker
    * hits. */
  def languageId(df: DataFrame, text: String = "text"): DataFrame = {
    val w = words(col(text))
    val counts = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(w, c => c.isin(markers.map(lit): _*)))
    }
    val withCounts = counts.foldLeft(df) { case (d, (lang, cnt)) =>
      d.withColumn(s"__cnt_$lang", cnt)
    }
    // argmax via greatest + first-match CASE (ties: earlier language wins)
    val best = greatest(counts.map { case (l, _) => col(s"__cnt_$l") }: _*)
    val picked = counts.foldRight(lit("und")) { case ((lang, _), els) =>
      when(col(s"__cnt_$lang") === best && best > 0, lit(lang)).otherwise(els)
    }
    withCounts.withColumn("lang_pred", picked)
      .drop(LangMarkers.map(m => s"__cnt_${m._1}"): _*)
  }

  /** PII scrubbing: redact emails, dashed phone numbers, and IPv4
    * addresses with typed placeholder tokens — the standard
    * pre-training privacy pass. Pure codegen'd regexp_replace chain
    * (patterns restricted to the RE2 ∩ Java-regex common subset so the
    * DuckDB oracle applies the same patterns verbatim). */
  def piiScrub(df: DataFrame, text: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    df.withColumn("scrubbed",
      regexp_replace(
        regexp_replace(
          regexp_replace(col(text), email, "<EMAIL>"),
          phone, "<PHONE>"),
        ipv4, "<IP>"))
      .withColumn("pii_found", col("scrubbed") =!= col(text))
  }

  /** Vocabulary building: global top-`k` words by frequency with a
    * deterministic tie-break — one explode + one count shuffle + a
    * single top-k (at 100 TB: map-side partial counts make the shuffle
    * carry one row per distinct word per task, not per token). */
  def vocabTopK(df: DataFrame, text: String = "text", k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(words(col(text))).alias("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).alias("freq"))
    // orderBy+limit plans as a distributed TakeOrdered (per-partition
    // top-k, then merge) — the rank window then runs over k rows only,
    // never a global single-reducer sort of the whole vocabulary
    val top = counts.orderBy(col("freq").desc, col("word").asc).limit(k)
    val w = Window.orderBy(col("freq").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w))
  }

  /** Benchmark-contamination check: flags training documents sharing at
    * least one exact word `n`-gram with any eval document — the
    * standard decontamination pass before pre-training. The (small)
    * eval side's n-gram hash set joins the training side's exploded
    * n-gram hashes; work is one broadcast-ish join on 8-byte hashes,
    * never a doc×doc comparison. */
  def contamination(train: DataFrame, eval: DataFrame,
      text: String = "text", id: String = "doc_id", n: Int = 13): DataFrame = {
    def grams(df: DataFrame, idAlias: String) = df.select(
      col(id).alias(idAlias),
      explode(graft.functions.HashExpressions.hashArray(
        graft.functions.HashExpressions.wordShingles(col(text), n))).alias("__g"))
    grams(train, "train_id").join(grams(eval, "eval_id"), "__g")
      .groupBy("train_id")
      .agg(countDistinct(col("eval_id")).alias("n_eval_docs"),
        count(lit(1)).alias("n_shared_ngrams"))
  }

  /** B11: document fingerprints — an exact md5 content fingerprint plus
    * a winnowing-style rolling fingerprint: min/max over 3-gram shingle
    * hashes (a 2-hash sketch of the shingle set; same shingles ⇒ same
    * sketch, near-same shingles ⇒ usually same min). */
  def fingerprint(df: DataFrame, text: String = "text"): DataFrame = {
    val sh = graft.functions.HashExpressions.wordShingles(col(text), 3)
    df.withColumn("fp_md5", md5(col(text)))
      .withColumn("fp_shingle_min", array_min(transform(sh, s => xxhash64(s))))
      .withColumn("fp_shingle_max", array_max(transform(sh, s => xxhash64(s))))
  }
}
