package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{K, Kernel}

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All narrow
  * per-row column expressions (no shuffle except the final fingerprint
  * distinct), all integer/exact-division math → oracle-checkable.
  */
object TextAnalysis {

  /** Tiny marker lexicons (common function words). Deterministic heuristic:
    * language with the highest marker-hit count wins; ties break by
    * language code ascending. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "que", "est", "un"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "he"))

  /** Count of tokens that appear in `words` (multiset count — repeated
    * occurrences each count, so longer docs score higher). */
  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** (id, lang_pred, lang_score): argmax over marker-hit counts — one
    * native pass over the text ([[graft.functions.LangId]]); the HOF
    * formulation stays in [[langIdHof]] for cross-validation (the oracle
    * mirrors that form). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    df.withColumn("__r",
        bridge.column(graft.functions.LangId(bridge.expression(col(textCol)), markers)))
      .select(col(idCol), col("__r.lang_pred").as("lang_pred"),
        col("__r.lang_score").as("lang_score"))
  }

  /** HOF formulation of [[langId]] (5 langs × 7 markers of interpreted
    * `isin` filters — correct but ~35 comparisons per token). */
  def langIdHof(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Kernel.tokensHof(col(textCol))
    val withScores = df.withColumn("__toks", toks)
    // fold over languages in code order; strict > keeps the earliest max
    val (bestLang, bestScore) = markers.foldLeft((lit(""), lit(-1L).cast("long"))) {
      case ((bl, bs), (lang, words)) =>
        val s = hitCount(col("__toks"), words).cast("long")
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    withScores
      .withColumn("lang_pred", bestLang)
      .withColumn("lang_score", bestScore)
      .select(col(idCol), col("lang_pred"), col("lang_score"))
  }

  /** English stopwords for the quality ratio. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "or", "is", "are", "to", "in", "on", "at")

  /** Quality metrics per doc: n_chars, n_words, avg word length,
    * punctuation ratio, stopword ratio, and a composite score. Ratios are
    * single exact divisions of integers; the composite is a fixed linear
    * combination — both mirrored in the oracle. Word/char/stop counts come
    * from the one-pass native [[graft.functions.TextNorm]];
    * [[qualityHof]] keeps the HOF formulation. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    df.withColumn("__tn",
        bridge.column(graft.functions.TextNorm(bridge.expression(col(textCol)), stopwords)))
      .filter(col("__tn.n_words") > 0)
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_words", col("__tn.n_words"))
      .withColumn("alpha_chars", col("__tn.alpha_chars"))
      .withColumn("avg_word_len",
        col("alpha_chars").cast("double") / col("n_words").cast("double"))
      .withColumn("punct_ratio",
        (col("n_chars") - col("alpha_chars")).cast("double") / col("n_chars").cast("double"))
      .withColumn("stop_ratio",
        col("__tn.stops").cast("double") / col("n_words").cast("double"))
      .withColumn("quality_score",
        col("stop_ratio") * lit(0.5) + (lit(1.0) - col("punct_ratio")) * lit(0.3) +
          when(col("n_words") >= 20 && col("n_words") <= 1000, lit(0.2)).otherwise(lit(0.0)))
      .select(col(idCol), col("n_chars"), col("n_words"), col("avg_word_len"),
        col("punct_ratio"), col("stop_ratio"), col("quality_score"))
  }

  /** HOF formulation of [[quality]] (three interpreted regexp/HOF chains
    * per row), kept for cross-validation. */
  def qualityHof(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Kernel.tokensHof(col(textCol))
    df.withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("alpha_chars",
        length(regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")).cast("long"))
      .withColumn("avg_word_len",
        col("alpha_chars").cast("double") / col("n_words").cast("double"))
      .withColumn("punct_ratio",
        (col("n_chars") - col("alpha_chars")).cast("double") / col("n_chars").cast("double"))
      .withColumn("stop_ratio",
        size(filter(col("__toks"), t => t.isin(stopwords.map(lit(_)): _*))).cast("double") /
          col("n_words").cast("double"))
      .withColumn("quality_score",
        col("stop_ratio") * lit(0.5) + (lit(1.0) - col("punct_ratio")) * lit(0.3) +
          when(col("n_words") >= 20 && col("n_words") <= 1000, lit(0.2)).otherwise(lit(0.0)))
      .select(col(idCol), col("n_chars"), col("n_words"), col("avg_word_len"),
        col("punct_ratio"), col("stop_ratio"), col("quality_score"))
  }

  /** Token counting: whitespace tokens, alphanumeric regex tokens (a
    * BPE-ish `[a-z0-9]+` segmentation), and a 4-chars-per-token heuristic
    * estimate — all from the one-pass native [[graft.functions.TextNorm]]
    * ([[tokenCountsHof]] keeps the regex formulation the oracle mirrors). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    df.withColumn("__tn",
        bridge.column(graft.functions.TextNorm(bridge.expression(col(textCol)), Nil)))
      .select(col(idCol),
        col("__tn.ws_tokens").as("ws_tokens"),
        col("__tn.n_words").as("alnum_tokens"),
        ceil(length(col(textCol)).cast("double") / lit(4.0)).cast("long").as("est_bpe_tokens"))
  }

  /** HOF/regex formulation of [[tokenCounts]]. */
  def tokenCountsHof(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("ws_tokens",
        size(filter(split(col(textCol), "\\s+"), t => t =!= "")).cast("long"))
      .withColumn("alnum_tokens",
        size(filter(split(regexp_replace(lower(col(textCol)), "[^a-z0-9]", " "), "\\s+"),
          t => t =!= "")).cast("long"))
      .withColumn("est_bpe_tokens",
        ceil(length(col(textCol)).cast("double") / lit(4.0)).cast("long"))
      .select(col(idCol), col("ws_tokens"), col("alnum_tokens"), col("est_bpe_tokens"))

  /** Markup stripping + whitespace normalization — the raw-web-text
    * cleaning step ahead of every other operator: remove tags, decode
    * the common HTML entities, collapse space/tab runs, trim. Patterns
    * deliberately stay in the regex subset Java and RE2 interpret
    * identically (explicit char classes, no \\s shorthand — Java's \\s
    * includes U+000B, RE2's does not), so the transform is
    * cross-engine exact. Narrow, per-row. */
  def cleanText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    // `&amp;` decodes LAST (standard unescape order): decoding it first
    // would double-decode nested entities (`&amp;lt;` → `&lt;` → `<`)
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "[ \\t]+", " "))
  }

  /** (id, clean_text, n_chars_clean) over a raw-text column. */
  def cleaned(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("clean_text", cleanText(col(textCol)))
      .select(col(idCol), col("clean_text"),
        length(col("clean_text")).cast("long").as("n_chars_clean"))

  /** Deterministic corpus split — the held-out/train partitioner: every
    * doc lands in a stable bucket of [0, nBuckets) from an integer hash
    * of its id, so splits are reproducible across runs, machines, and
    * engines (no RNG, unlike randomSplit). Filter `split_bucket <
    * trainPct*nBuckets/100` for the train side.
    *
    * Overflow-safe for the full Long id range: the id reduces mod M
    * BEFORE the multiply (id*A2 alone would wrap for ids above ~4.1e9
    * and emit negative buckets), and both moduli are pmod so negative
    * ids also land in [0, nBuckets). */
  def splitBucket(id: Column, nBuckets: Int = 100): Column =
    pmod(pmod(id, lit(K.M)) * lit(K.A2) + lit(K.C2), lit(K.M)) % lit(nBuckets.toLong)

  /** Corpus term statistics — the vocabulary/IDF-table builder of a
    * training pipeline: per token id, total occurrences (tf) and
    * document frequency (df). One exact two-key aggregation; both
    * reductions are counts → partial-aggregated map-side, safe at any
    * scale (the shuffle carries one row per distinct (doc, token) then
    * one per token). No transcendental idf here — ln() is not
    * cross-engine exact; consumers derive idf from df downstream. */
  def termStats(df: DataFrame, idCol: String, textCol: String,
                maxLength: Int = K.MaxLength): DataFrame =
    df.select(col(idCol), explode(Kernel.tokenIds(col(textCol), maxLength)).as("token_id"))
      .groupBy(col("token_id"))
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("df"))

  /** Per-group top-k keywords by ln-free tf-idf: token score =
    * group-tf · (n_docs / df) — the "what characterizes this
    * source/domain" table a curation dashboard shows. One tokenized
    * projection feeds three partial aggregations (group-tf two-key,
    * per-token df from the distinct (doc, token) pairs, and the 1-row
    * doc count — the same exact idf ratio as
    * [[SparseEmbedder.dfWeighted]]); ranking is the partial top-k heap
    * per group, never a per-group window. Ties → lower token id.
    * Output (groupCol, token_id, rank, score). */
  def topKeywordsPerGroup(df: DataFrame, idCol: String, groupCol: String,
                          textCol: String, k: Int,
                          maxLength: Int = K.MaxLength): DataFrame = {
    val tok = df
      .select(col(groupCol), col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      // three stats branches share one tokenization (lazy lineage cut)
      .localCheckpoint(false)
    val e = tok.select(col(groupCol), col(idCol), explode(col("__tids")).as("token_id"))
    val gtf = e.groupBy(col(groupCol), col("token_id")).agg(count(lit(1)).as("__tf"))
    val dfx = e.select(col(idCol), col("token_id")).distinct()
      .groupBy(col("token_id")).agg(count(lit(1)).as("__df"))
    val nd = tok.groupBy().agg(count(lit(1)).as("__n_docs"))
    gtf.join(broadcast(dfx), "token_id")
      .crossJoin(broadcast(nd))
      .withColumn("__score",
        col("__tf").cast("double") *
          (col("__n_docs").cast("double") / col("__df").cast("double")))
      .groupBy(col(groupCol))
      .agg(graft.functions.TopKAgg.topK(col("__score"), col("token_id"), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(groupCol), col("__t.id").as("token_id"),
        (col("__r") + 1).cast("long").as("rank"), col("__t.score").as("score"))
  }

  /** Repetition statistics — the Gopher/RefinedWeb-style repetition
    * filters a web-scale curation pipeline runs: fraction of tokens
    * taken by the single most frequent token, and fraction of duplicate
    * word trigrams. One narrow pass per row via the native
    * [[graft.functions.RunStats]] kernel (exact integer counts — the
    * oracle mirrors them relationally); docs with no tokens are
    * dropped, docs with < n tokens report zero trigrams. Typical
    * filter: drop docs with top_token_frac > 0.2 or
    * dup_trigram_frac > 0.3. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, maxLength: Int = K.MaxLength): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    def rs(c: Column): Column =
      bridge.column(graft.functions.RunStats(bridge.expression(c)))
    df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) > 0)
      .withColumn("__t", rs(col("__tids")))
      .withColumn("__s", rs(Dedup.shingles(col("__tids"), n)))
      .select(col(idCol),
        col("__t.n_items").as("n_tokens"),
        col("__t.n_distinct").as("distinct_tokens"),
        col("__t.top_cnt").as("top_token_cnt"),
        (col("__t.top_cnt").cast("double") / col("__t.n_items").cast("double"))
          .as("top_token_frac"),
        col("__s.n_items").as("n_trigrams"),
        col("__s.n_distinct").as("distinct_trigrams"),
        when(col("__s.n_items") === 0, lit(0.0))
          .otherwise((col("__s.n_items") - col("__s.n_distinct")).cast("double") /
            col("__s.n_items").cast("double"))
          .as("dup_trigram_frac"))
  }

  /** PII redaction — scrub emails then long digit runs (phone/account
    * numbers) before a data release. Patterns stay in the regex subset
    * Java and RE2 interpret identically (explicit classes, bounded
    * quantifiers), so the transform is cross-engine exact. Digit runs
    * are counted AFTER email redaction (digits inside an address are
    * already gone). Narrow, per-row. */
  val EmailPattern: String = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val DigitRunPattern: String = "[0-9]{9,}"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<email>"),
      DigitRunPattern, "<digits>")

  /** (id, redacted_text, n_emails, n_digit_runs). */
  def redacted(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailPattern, "<email>")
    df.select(col(idCol),
      regexp_replace(noEmail, DigitRunPattern, "<digits>").as("redacted_text"),
      regexp_count(col(textCol), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(DigitRunPattern)).cast("long").as("n_digit_runs"))
  }

  /** Deterministic sequence packing — the concat-and-chunk step that
    * turns a tokenized corpus into fixed-budget training sequences:
    * within each deterministic [[splitBucket]] bucket, docs concatenate
    * in id order and cut every `budget` tokens. Output per doc: its
    * bucket, its (budget-capped) token count, the sequence id its first
    * token lands in, and the offset within that sequence.
    *
    * Scale shape: the running total is a window per pack bucket —
    * nBuckets independent sort-and-scan partitions, so parallelism is
    * the bucket count (size nBuckets to ~2-4× the cluster's cores; no
    * global single-partition scan anywhere). Exact integer arithmetic,
    * RNG-free — the same pack layout on every run and engine. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, nBuckets: Int = 32,
                    maxLength: Int = K.MaxLength): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pack_bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .withColumn("n_tok", least(size(col("__tids")).cast("long"), lit(budget.toLong)))
      .filter(col("n_tok") > 0)
      .withColumn("pack_bucket", splitBucket(col(idCol), nBuckets))
      .withColumn("start_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      // integral `div`, not double division: a cumulative total past 2^53
      // would round in a double and disagree with the exact seq_offset
      .select(col(idCol), col("pack_bucket"), col("n_tok"),
        expr(s"start_tok div ${budget.toLong}").as("seq_id"),
        (col("start_tok") % lit(budget.toLong)).as("seq_offset"))
  }

  /** Winnowing-style document fingerprints: k-gram shingle hashes → MIN
    * over each sliding window of `w` → distinct fingerprints. Output
    * (id, n_fingerprints, min_fp, full_hash) where full_hash is the
    * rolling polynomial hash of the whole normalized token stream. */
  /** Corpus-trained bigram language-model score — the CCNet-style
    * perplexity quality filter (Wenzek et al., arXiv:1911.00359)
    * re-expressed with exact arithmetic: train token-bigram counts over
    * the corpus itself, then score every doc by the mean conditional
    * probability of its bigrams, p(t_i | t_{i-1}) = c(t_{i-1}, t_i) /
    * c(t_{i-1}·) (bigram-start context count). Boilerplate-rich docs
    * score high, character noise scores near the floor — the standard
    * cheap-model quality signal when no external LM can be shipped.
    *
    * Determinism: each probability is one double division (exact in
    * both engines), then quantized to floor(p·S + 0.5) BEFORE the
    * per-doc sum, so the reduction is commutative longs — partitioning
    * -invariant and oracle-exact, like [[Similarity.trainKmeans]].
    * `lm_score` = quantized-sum / (n_bigrams · S), in [0, 1].
    *
    * 100 TB shape: bigram identity is the rolling [[Dedup.shingles]]
    * hash (n=2; n=1 for contexts) — narrow native kernels; counts are
    * two partial (map-side combined) aggregations on the hash keys; the
    * scoring joins are equi-joins of the position stream against those
    * count tables — no corpus self-join, no per-doc state. A hub bigram
    * ("of the" × 10⁹) reduces map-side like any other key. Output
    * (idCol, n_bigrams, lm_score); docs under 2 tokens drop (no bigram
    * evidence). */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              maxLength: Int = K.MaxLength,
              quantScale: Long = 1000000000L): DataFrame = {
    val base = df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) >= 2)
    // position streams: context (unigram at i) and bigram at i share pos
    val pos = base.select(col(idCol),
        posexplode(Dedup.shingles(col("__tids"), 2)).as(Seq("__p", "__s2")),
        col("__tids"))
      .select(col(idCol), col("__p"), col("__s2"),
        (element_at(col("__tids"), col("__p") + 1) % lit(K.M)).as("__s1"))
    val c2 = pos.groupBy(col("__s2")).agg(count(lit(1)).as("__c2"))
    val c1 = pos.groupBy(col("__s1")).agg(count(lit(1)).as("__c1"))
    pos.join(c2, "__s2").join(c1, "__s1")
      .withColumn("__q",
        floor(col("__c2").cast("double") / col("__c1").cast("double")
          * lit(quantScale.toDouble) + lit(0.5)).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__q")).as("__qs"))
      .select(col(idCol), col("n_bigrams"),
        (col("__qs").cast("double") /
          (col("n_bigrams") * lit(quantScale)).cast("double")).as("lm_score"))
  }

  /** Distilled quality regressor — the fastText-quality-filter pattern
    * with exact distributed training: fit ŷ = β₀ + β₁·n_words + β₂·stops
    * by ordinary least squares against the (expensive) corpus-trained
    * [[lmScore]] signal, so the resulting 3-number model scores new
    * docs from two cheap one-pass surface counts. The normal-equation
    * sums are the ONLY corpus pass (partial-aggregated, map-side): all
    * nine moments accumulate as exact Decimal(38,0) integers (label
    * quantized `floor(lm_score·yScale + 0.5)`; products fit int64 per
    * row, the sums get 38 digits — room for ~1e11 docs before the
    * envelope needs widening), and the 3×3 solve is Cramer's rule in
    * doubles with a FIXED operation order, mirrored term-for-term by
    * the oracle's HUGEINT sums. One row out: (n, b0, b1, b2).
    *
    * 100 TB shape: two tokenize passes (features + the lmScore legs),
    * one id equi-join, one 9-cell partial agg — no collect, the solve
    * is in-plan over the 1-row aggregate. */
  def qualityOlsFit(df: DataFrame, idCol: String, textCol: String,
                    maxLength: Int = K.MaxLength,
                    yScale: Long = 1000000L): DataFrame =
    olsSolve(olsSums(olsRows(df, idCol, textCol, maxLength, yScale)))

  /** The regressor applied as an outlier detector: docs whose lmScore
    * diverges most from the surface-feature prediction (|residual|
    * top-`k` — the "expensive signal disagrees with the cheap proxy"
    * review queue). Partial top-k via TakeOrdered; ties break on id. */
  def qualityOlsOutliers(df: DataFrame, idCol: String, textCol: String,
                         k: Int, maxLength: Int = K.MaxLength,
                         yScale: Long = 1000000L): DataFrame = {
    val rows = olsRows(df, idCol, textCol, maxLength, yScale)
      .localCheckpoint(false) // one corpus pass feeds both the fit and the scan
    val beta = olsSolve(olsSums(rows))
    rows.crossJoin(broadcast(beta.select(col("b0"), col("b1"), col("b2"))))
      .withColumn("pred", col("b0") +
        col("b1") * col("__w").cast("double") +
        col("b2") * col("__s").cast("double"))
      .withColumn("residual", col("__y").cast("double") - col("pred"))
      .select(col(idCol), col("__w").as("n_words"), col("__s").as("stops"),
        col("__y").as("y_q"), col("pred"), col("residual"))
      .orderBy(abs(col("residual")).desc, col(idCol).asc)
      .limit(k)
  }

  /** (id, n_words, stops, quantized lm label) — the training rows. */
  private def olsRows(df: DataFrame, idCol: String, textCol: String,
                      maxLength: Int, yScale: Long): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val feats = df
      .withColumn("__tn",
        bridge.column(graft.functions.TextNorm(bridge.expression(col(textCol)), stopwords)))
      .filter(col("__tn.n_words") > 0)
      .select(col(idCol), col("__tn.n_words").as("__w"), col("__tn.stops").as("__s"))
    val label = lmScore(df, idCol, textCol, maxLength)
      .select(col(idCol),
        floor(col("lm_score") * lit(yScale.toDouble) + lit(0.5)).cast("long").as("__y"))
    feats.join(label, idCol)
  }

  /** The nine exact normal-equation moments, one partial-agg pass. */
  private def olsSums(rows: DataFrame): DataFrame = {
    def d(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    rows.agg(
      count(lit(1)).as("n"),
      sum(d(col("__w"))).as("sw"), sum(d(col("__s"))).as("ss"),
      sum(d(col("__w") * col("__w"))).as("sww"),
      sum(d(col("__w") * col("__s"))).as("sws"),
      sum(d(col("__s") * col("__s"))).as("sss"),
      sum(d(col("__y"))).as("sy"),
      sum(d(col("__w") * col("__y"))).as("swy"),
      sum(d(col("__s") * col("__y"))).as("ssy"))
  }

  /** Cramer's rule over the 1-row moment aggregate — in-plan, fixed
    * operation order (shared verbatim with the oracle SQL). */
  private def olsSolve(sums: DataFrame): DataFrame = {
    def det3(a: (Column, Column, Column), b: (Column, Column, Column),
             c: (Column, Column, Column)): Column =
      a._1 * (b._2 * c._3 - b._3 * c._2) -
        b._1 * (a._2 * c._3 - a._3 * c._2) +
        c._1 * (a._2 * b._3 - a._3 * b._2)
    val dd = sums.select(
      col("n"),
      col("n").cast("double").as("a1"), col("sw").cast("double").as("a2"),
      col("ss").cast("double").as("a3"),
      col("sww").cast("double").as("b2"), col("sws").cast("double").as("b3"),
      col("sss").cast("double").as("c3"),
      col("sy").cast("double").as("y1"), col("swy").cast("double").as("y2"),
      col("ssy").cast("double").as("y3"))
    // A's columns (symmetric): c1=(a1,a2,a3), c2=(a2,b2,b3), c3=(a3,b3,c3)
    val c1 = (col("a1"), col("a2"), col("a3"))
    val c2 = (col("a2"), col("b2"), col("b3"))
    val c3 = (col("a3"), col("b3"), col("c3"))
    val bv = (col("y1"), col("y2"), col("y3"))
    dd.select(col("n"),
      (det3(bv, c2, c3) / det3(c1, c2, c3)).as("b0"),
      (det3(c1, bv, c3) / det3(c1, c2, c3)).as("b1"),
      (det3(c1, c2, bv) / det3(c1, c2, c3)).as("b2"))
  }

  def fingerprint(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, w: Int = 4): DataFrame = {
    val tids = Kernel.tokenIds(col(textCol))
    val base = df.withColumn("__tids", tids).filter(size(col("__tids")) >= k + w - 1)
    val sh = Dedup.shingles(col("__tids"), k) // array of kgram hashes
    val windows = transform(
      sequence(lit(0), size(col("__sh")) - lit(w)),
      p => array_min(slice(col("__sh"), p + 1, lit(w))))
    base
      .withColumn("__sh", sh)
      .withColumn("__fps", array_distinct(windows))
      .withColumn("full_hash",
        aggregate(col("__tids"), lit(0L), (a, t) => (a * lit(1000003L) + t) % lit(911382323007L)))
      .select(col(idCol),
        size(col("__fps")).cast("long").as("n_fingerprints"),
        array_min(col("__fps")).as("min_fp"),
        col("full_hash"))
  }
}
