package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Text-analysis operators for a large-scale training-data pipeline:
  * quality scoring, token counting, and heuristic language ID over the
  * `documents` table. Pure column expressions (codegen'd, no UDFs), so at
  * 100 TB these run as a single scan + map with column pruning — no
  * shuffle at all until an aggregate is asked for.
  */
object TextAnalysis {

  /** Whitespace word split (single-space corpus; parity with the DuckDB
    * oracle's string_split).
    */
  def words(text: Column): Column = split(text, " ")

  private val PunctClass = "[.,!?;:]"

  /** Per-document quality metrics: length, word counts, punctuation /
    * uppercase ratios, stopword ratio, and a blended quality score.
    * Every metric is plain arithmetic so the oracle can replicate it.
    */
  def qualityMetrics(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val w = words(col("text"))
    val nChars = length(col("text")).cast("long")
    val nWords = size(w).cast("long")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(w, x => array_contains(stopArr, x))).cast("long")
    val nPunct = (nChars - length(regexp_replace(col("text"), PunctClass, ""))).cast("long")
    val nUpper = (nChars - length(regexp_replace(col("text"), "[A-Z]", ""))).cast("long")
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      // total chars = sum(word lens) + (n_words - 1) separators
      round((nChars - (nWords - 1)).cast("double") / nWords, 6).as("avg_word_len"),
      nStop.as("n_stopwords"),
      round(nStop.cast("double") / nWords, 6).as("stopword_ratio"),
      round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
      round(nUpper.cast("double") / nChars, 6).as("upper_ratio"),
      // Blended heuristic score in [0, ~1]: long-enough docs with a healthy
      // stopword rate and low punctuation/caps noise score high.
      round(
        least(nWords.cast("double") / 100.0, lit(1.0)) * 0.4 +
          least(nStop.cast("double") / nWords * 5.0, lit(1.0)) * 0.4 +
          (lit(1.0) - least(nPunct.cast("double") / nChars * 10.0, lit(1.0))) * 0.2,
        6
      ).as("quality_score")
    )
  }

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** fastText-style LINEAR quality classifier: a fixed-weight margin over
    * row-local features (word count, mean word length, stopword fraction,
    * type-token ratio, long-word fraction), bucketed into quality tiers.
    * The real pipeline would load trained weights; the shape — features →
    * dot product → threshold — is identical, a pure scan-side projection
    * with no shuffle, so 100 TB classifies at scan speed.
    *
    * Every feature and the margin are computed in a fixed left-associated
    * operation order so the DuckDB oracle reproduces the arithmetic
    * bit-for-bit.
    */
  def classifierScore(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val stopArr = array(stopwords.map(lit): _*)
    val meanWlen = (length(col("text")) - size(w) + 1).cast("double") / nWords
    val stopFrac = size(filter(w, x => array_contains(stopArr, x))).cast("double") / nWords
    val ttr = size(array_distinct(w)).cast("double") / nWords
    val longFrac = size(filter(w, x => length(x) >= 6)).cast("double") / nWords
    val margin =
      ttr * 0.8 + stopFrac * 2.0 - meanWlen * 0.1 + nWords * 0.004 + longFrac * 1.5 - 1.2
    docs.select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      round(margin, 6).as("margin"),
      when(margin > 0.2, "high").when(margin > 0, "mid").otherwise("low").as("bucket"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish `\w+|[^\w\s]` regex
    * tokenization (word pieces and isolated punctuation), with a
    * chars-per-token ratio — the usual pre-training corpus size estimate.
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nWs = size(split(col("text"), "\\s+")).cast("long")
    val nTok = size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nWs.as("n_ws_tokens"),
      nTok.as("n_tokens"),
      round(nChars.cast("double") / nTok, 6).as("chars_per_token")
    )
  }

  /** Language profiles: a few high-frequency marker words per language.
    * Order matters — it is the deterministic tie-break (first profile wins
    * on equal scores).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不")
  )

  /** Heuristic language ID: score = fraction of tokens hitting each
    * language's marker profile; argmax with deterministic profile-order
    * tie-break via a single max-of-structs (no shuffle, one projection).
    */
  def langId(docs: DataFrame): DataFrame = {
    val w = words(lower(col("text")))
    val scored = LangProfiles.zipWithIndex.map { case ((lang, profile), idx) =>
      val profArr = array(profile.map(lit): _*)
      val hits = size(filter(w, x => array_contains(profArr, x)))
      struct(
        (hits.cast("double") / size(w)).as("score"),
        lit(LangProfiles.size - idx).as("prio"), // earlier profile wins ties
        lit(lang).as("lang")
      )
    }
    val best = greatest(scored: _*)
    docs.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      best.getField("lang").as("predicted_lang"),
      round(best.getField("score"), 6).as("lang_score")
    )
  }

  /** Gopher-style repetition metrics — the duplicate-fraction quality
    * rules a corpus filter applies per document: fraction of words that
    * are repeats of an earlier word, and fraction of word trigrams that
    * are repeats. Row-local (one compiled pass via the distinct-shingle
    * kernel; no shuffle, no explode).
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val fn = "token_shingle_hashes_3"
    graft.functions.TokenShingleHashes.register(docs.sparkSession, fn, 3)
    val w = words(col("text"))
    val nWords = size(w)
    val nGrams = greatest(nWords - 2, lit(0))
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(lit(1.0) - size(array_distinct(w)).cast("double") / nWords, 6)
        .as("dup_word_ratio"),
      when(nGrams === 0, 0.0)
        .otherwise(round(lit(1.0) - size(expr(s"$fn(text)")).cast("double") / nGrams, 6))
        .as("dup_3gram_ratio")
    )
  }

  /** Corpus vocabulary statistics — the IDF-build step of a training-data
    * pipeline (and the raw material for stopword lists and BPE seeding):
    * per word, total term frequency, document frequency, and
    * `idf = ln(N / df)`.
    *
    * One explode + one hash aggregate (tf is a plain count; df an exact
    * count-distinct, i.e. a two-level partial aggregate — no window, no
    * collect). The corpus size N arrives via a broadcast one-row cross
    * join, so the plan stays fully distributed and lazy.
    */
  /** Top-k characteristic terms per document by TF-IDF — the
    * feature-building step over [[vocabStats]]. The vocabulary (small by
    * Heaps' law relative to the corpus) broadcasts into the per-doc term
    * counts; ranking is one keyed window. The rank order is
    * integer-only — (tf_doc desc, df asc, word asc) — which is the TF-IDF
    * order wherever scores differ and stays reproducible across engines
    * and float libms where they tie (a float order would hinge on the
    * last ulp of `ln`).
    *
    * @param broadcastVocab FORCE the vocab side broadcast. Default
    *                       false — the vocabulary is corpus-derived and
    *                       unbounded at lake scale (web-junk tokens), so
    *                       the honest default lets AQE pick the build
    *                       side from runtime sizes (it still broadcasts
    *                       any vocab that is actually small). Pass true
    *                       only for a vocab known a priori to fit an
    *                       executor regardless of input scale.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, broadcastVocab: Boolean = false): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf_doc"))
    val vocab0 = vocabStats(docs).select(col("word"), col("df"), col("idf"))
    val vocab = if (broadcastVocab) broadcast(vocab0) else vocab0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf_doc").desc, col("df").asc, col("word").asc)
    perDoc
      .join(vocab, "word")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(
        col("doc_id"),
        col("rk").cast("int").as("rk"),
        col("word"),
        col("tf_doc"),
        col("df"),
        round(col("tf_doc") * col("idf"), 6).as("tfidf")
      )
  }

  /** Unigram language-model scoring — the distributed shape of
    * perplexity filtering (CCNet-style): token probabilities come from
    * the corpus itself (count/total), each document's quality signal is
    * its mean token log-probability. Low scores flag gibberish and
    * boilerplate soup; in production the frequency table would come
    * from a reference corpus (or a KenLM), but the dataflow is the
    * same: one token-keyed aggregate builds the LM, one token-keyed
    * equi-join scores the corpus against it — both partition on the
    * token, so the 100 TB version is two shuffles of token-sized rows
    * and never materializes anything per-document except the final
    * score. The total-count scalar broadcasts inside the plan.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val total = tok.agg(count(lit(1)).as("__total"))
    val freq = tok.groupBy(col("word")).agg(count(lit(1)).as("__cnt"))
    tok
      .join(freq, "word")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("__cnt").cast("double") / col("__total"))), 6).as("mean_ll"))
  }

  /** Interpolated bigram LM scoring — the stronger perplexity filter one
    * step up from [[unigramLogProb]]: per-doc mean of
    * `ln(λ·P(w₂|w₁) + (1−λ)·P(w₂))` over corpus-estimated MLE
    * probabilities (Jelinek–Mercer smoothing; the unigram term keeps the
    * score finite on unseen transitions when scoring held-out text).
    * Bigrams are a scan-side shifted-slice zip (no position self-join);
    * the conditional denominator is the bigram-LEFT count, derived from
    * the same filtered bigram relation so the two stay consistent.
    * Interpolation is written `λ·(c_b/c_l) + (1−λ)·(c_u/total)` — the
    * association order the oracle mirrors textually.
    */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0,1)")
    val ts = words(col("text"))
    val bg = docs
      .select(
        col("doc_id"),
        explode(
          zip_with(
            slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
            slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
            (x, y) => struct(x.as("w1"), y.as("w2"))))
          .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_b"))
    val cl = bg.groupBy(col("w1")).agg(count(lit(1)).as("c_l"))
    val tok = docs
      .select(explode(ts).as("w2"))
      .filter(length(col("w2")) > 0)
    val total = tok.agg(count(lit(1)).as("total"))
    val cu = tok.groupBy(col("w2")).agg(count(lit(1)).as("c_u"))
    bg
      .join(cb, Seq("w1", "w2"))
      .join(cl, Seq("w1"))
      .join(cu, Seq("w2"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          avg(log(
            lit(lambda) * (col("c_b") / col("c_l")) +
              lit(1.0 - lambda) * (col("c_u") / col("total")))),
          6).as("mean_ll"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the modern-n-gram-LM
    * counterpart of [[bigramLogProb]]'s Jelinek–Mercer: absolute
    * discounting with a CONTINUATION-count back-off,
    *
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *              + (D·N₁₊(w₁·)/c(w₁·)) · (N₁₊(·w₂)/N₁₊(··))
    *
    * where N₁₊(w₁·)/N₁₊(·w₂) are distinct right/left-neighbor counts
    * and N₁₊(··) is the number of distinct bigram types — the "how many
    * contexts does this word complete" estimate that makes KN the
    * strongest fixed-order smoother (Chen & Goodman '99). Everything is
    * counts over one scan-side bigram relation: three keyed aggregates,
    * all joined back broadcast-or-keyed; the arithmetic chain is
    * association-ordered identically to the oracle.
    */
  def kneserNeyLogProb(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val ts = words(col("text"))
    val bg = docs
      .select(
        col("doc_id"),
        explode(
          zip_with(
            slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
            slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
            (x, y) => struct(x.as("w1"), y.as("w2"))))
          .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_b"))
    val cl = cb.groupBy(col("w1"))
      .agg(sum(col("c_b")).as("c_l"), count(lit(1)).as("n1_right"))
    val nctx = cb.groupBy(col("w2")).agg(count(lit(1)).as("n1_left"))
    val ntypes = cb.agg(count(lit(1)).as("n_types"))
    val d = lit(discount)
    bg
      .join(cb, Seq("w1", "w2"))
      .join(cl, Seq("w1"))
      .join(nctx, Seq("w2"))
      .crossJoin(broadcast(ntypes))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          avg(log(
            greatest(col("c_b") - d, lit(0.0)) / col("c_l") +
              (d * col("n1_right") / col("c_l")) *
              (col("n1_left") / col("n_types")))),
          6).as("mean_kn_ll"))
  }

  /** Per-document character entropy — the Gopher-style "is this natural
    * text or key-mash/boilerplate" quality signal: H = −Σ p·ln p over
    * the doc's character distribution. One char explode + two
    * aggregates; distinct-char fan-in is alphabet-sized, so the explode
    * collapses immediately under partial aggregation.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val chars = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
    val counts = chars
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    counts
      .withColumn(
        "len",
        sum(col("c")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(
        min(col("len")).as("n_chars_counted"),
        round(-sum((col("c") / col("len")) * log(col("c") / col("len"))), 6)
          .as("entropy"))
  }

  /** BM25 retrieval scoring (Okapi, Lucene idf form) for a fixed query
    * term set — the ranking sibling of [[tfidfTopTerms]] and the scoring
    * core of corpus search / RAG retrieval over a lake:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * One token explode feeds BOTH the per-doc length aggregate and the
    * (query-filtered, so tiny) per-term tf relation; df and the corpus
    * constants broadcast. Documents matching no term are absent (score
    * 0), which keeps the score relation |matches|-sized — at 100 TB the
    * inverted postings for 3 terms, not the corpus, flow into the final
    * aggregate.
    */
  def bm25Scores(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val tok = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val docLen = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val consts = docLen.agg(
      count(lit(1)).as("n_docs"),
      avg(col("len")).as("avgdl"))
    val qTok = tok.filter(col("word").isin(queryTerms: _*))
    val df_ = qTok.groupBy(col("word")).agg(count_distinct(col("doc_id")).as("df"))
    val tf = qTok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    tf
      // hint-free: df_ is restricted to the query terms (a handful of
      // rows) — AQE broadcasts it from its runtime size; no forced hint
      .join(df_, "word")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(consts))
      .withColumn(
        "idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn(
        "term_score",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        round(sum(col("term_score")), 6).as("bm25"))
  }

  /** Sliding-window passage chunking — the RAG-ingestion sibling of
    * [[Dedup.chunkDedup]]'s contiguous chunks: fixed `width`-token
    * windows every `stride` tokens (overlap = width − stride keeps
    * context across boundaries). Row-local: the chunk list is a
    * `transform` over the token array, exploded positionally; chunking
    * a 100 TB corpus is a scan plus the explode fan-out, no shuffle.
    */
  def slidingChunks(docs: DataFrame, width: Int = 32, stride: Int = 24): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      "need 0 < stride <= width (stride > width would drop tokens)")
    val ts = filter(words(col("text")), t => length(t) > 0)
    docs
      .select(col("doc_id"), ts.as("__ts"))
      .filter(size(col("__ts")) > 0)
      .select(
        col("doc_id"),
        posexplode(
          transform(
            // window i starts at i*stride while that is a valid index
            sequence(lit(0), floor((size(col("__ts")) - 1) / stride).cast("int")),
            i => concat_ws(" ", slice(col("__ts"), i * stride + 1, lit(width)))
          )).as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_tok", size(split(col("chunk_text"), " ")))
  }

  /** Text normalization for dedup/matching keys: lowercase, strip
    * everything outside [a-z0-9 ], collapse runs of spaces, trim. The
    * regex classes are portable across Java regex and RE2, so the
    * normalized form is engine-independent — the precondition for using
    * it as a cross-system join/dedup key.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: Gopher", Table A1): the rule battery a web-corpus
    * pipeline runs before training — word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, bullet-line and ellipsis-line
    * fractions, alphabetic-word fraction, minimum stop-word hits.
    *
    * Every threshold is evaluated by INTEGER cross-multiplication
    * (`10*n_sym <= n_words` instead of `n_sym/n_words <= 0.1`), so the
    * pass/fail booleans are exact and engine-independent — no float
    * ratio ever feeds a comparison. The rounded ratios ride along as
    * report columns only.
    *
    * Row-local projection: at 100 TB this filters at scan speed with
    * column pruning and no shuffle, like [[qualityMetrics]].
    */
  def gopherRules(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    val w = filter(split(col("text"), "\\s+"), x => length(x) > 0)
    val lines = split(col("text"), "\n")
    val nWords = size(w).cast("long")
    val nLines = size(lines).cast("long")
    // total word characters = everything that is not whitespace
    val wChars = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val nHash =
      (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEllipsis = size(regexp_extract_all(col("text"), lit("\\.\\.\\.|…"), lit(0))).cast("long")
    val nSym = nHash + nEllipsis
    val nBulletLines =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val nEllipsisLines =
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    val nAlphaWords = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(w, x => array_contains(stopArr, x))).cast("long")
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(wChars.cast("double") / nWords, 6).as("mean_word_len"),
      round(nSym.cast("double") / nWords, 6).as("symbol_ratio"),
      round(nBulletLines.cast("double") / nLines, 6).as("bullet_line_ratio"),
      round(nEllipsisLines.cast("double") / nLines, 6).as("ellipsis_line_ratio"),
      round(nAlphaWords.cast("double") / nWords, 6).as("alpha_word_ratio"),
      nStop.as("n_stopwords"),
      (nWords >= minWords && nWords <= maxWords).as("words_ok"),
      // 3 <= mean word length <= 10, exactly: 3n <= chars && chars <= 10n
      (wChars >= nWords * 3L && wChars <= nWords * 10L).as("word_len_ok"),
      (nSym * 10L <= nWords).as("symbol_ok"), // ratio <= 0.1
      (nBulletLines * 10L < nLines * 9L).as("bullet_ok"), // < 90% of lines
      (nEllipsisLines * 10L < nLines * 3L).as("ellipsis_ok"), // < 30% of lines
      (nAlphaWords * 5L >= nWords * 4L).as("alpha_ok"), // >= 80% of words
      (nStop >= 2L).as("stopword_ok")
    ).withColumn(
      "passes_gopher",
      col("words_ok") && col("word_len_ok") && col("symbol_ok") &&
        col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") && col("stopword_ok")
    )
  }

  def vocabStats(docs: DataFrame, minDf: Long = 1L): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(n))
      .select(
        col("word"),
        col("tf"),
        col("df"),
        round(log(col("n_docs").cast("double") / col("df")), 6).as("idf")
      )
  }

  /** Per-document n-gram novelty — the corpus-diversity dual of the
    * dedup family: the fraction of a document's distinct word n-grams
    * that appear NOWHERE else (df = 1). Low novelty across a shard
    * means templated/boilerplate content even when no document pair
    * crosses a near-dup threshold; mean novelty is the self-similarity
    * alarm a diversity report tracks per source.
    *
    * Shape: one scan-side distinct-shingle explode (md5 gram identity,
    * the [[Dedup]] posture), one gram-keyed df agg, one join back —
    * work is Σ distinct grams, never corpus². Documents shorter than n
    * words have no grams and drop out (documented).
    *
    * Output per doc: (doc_id, n_grams, n_novel, novelty).
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val gramExpr =
      s"""CASE WHEN size(w) >= $n THEN
            array_distinct(transform(
              sequence(0, size(w) - $n),
              i -> md5(array_join(slice(w, i + 1, $n), ' '))))
          ELSE array() END"""
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(gramExpr)).as("gram"))
      .localCheckpoint() // consumed by the per-doc count and the df agg
    // a df=1 gram's sole doc IS min(doc_id) — so novelty needs no
    // join-back of the corpus-sized gram relation, just one gram-keyed
    // agg reduced to doc-sized pieces
    val novelPerDoc = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    grams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
      .join(novelPerDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** Heaps'-law vocabulary growth: V(N) ≈ K·N^β fitted over `buckets`
    * cumulative checkpoints of the corpus in doc_id order — the
    * projection ("how much NEW vocabulary will the next 10× of data
    * bring?") a tokenizer/corpus plan needs before committing a vocab
    * budget.
    *
    * Scale shape: a word's contribution to every checkpoint is decided
    * by ONE value — its first containing doc — so the whole curve needs
    * one distinct-word agg (min doc_id), a ROW-LOCAL integer bucket
    * assignment (no interval join, no per-checkpoint rescan), and a
    * buckets-sized cumsum; token counts bucket the same way. The ln-ln
    * OLS runs on `buckets` points with 2⁻³⁰-snapped logs.
    *
    * Output: one row (n_checkpoints, total_tokens, total_vocab, beta,
    * ln_k, r2).
    */
  def heapsLaw(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need >= 2 checkpoints")
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    def bucketOf(idCol: String) =
      expr(s"(($idCol - mn) * $buckets) div (mx - mn + 1)").cast("long") + 1
    val firstDoc = docs
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bounds))
      .select(bucketOf("first_doc").as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("new_words"))
    val tokensPerBucket = docs
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tok"))
      .crossJoin(broadcast(bounds))
      .select(bucketOf("doc_id").as("b"), col("n_tok"))
      .groupBy(col("b"))
      .agg(sum(col("n_tok")).as("toks"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val curve = tokensPerBucket
      .join(firstDoc, Seq("b"), "left")
      .na.fill(0L, Seq("new_words"))
      .withColumn("n_cum", sum(col("toks")).over(w))
      .withColumn("v_cum", sum(col("new_words")).over(w))
      .filter(col("n_cum") > 0 && col("v_cum") > 0)
      .select(snap(log(col("n_cum"))).as("lx"), snap(log(col("v_cum"))).as("ly"),
        col("n_cum"), col("v_cum"))
    curve
      .agg(
        count(lit(1)).as("m"),
        max(col("n_cum")).as("total_tokens"),
        max(col("v_cum")).as("total_vocab"),
        sum(col("lx")).as("sx"),
        sum(col("ly")).as("sy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("ly") * col("ly")).as("syy"))
      // difference terms snap to the grid too: a saturated curve (e.g. a
      // CLOSED vocabulary — every checkpoint sees the same v_cum) makes
      // dyy mathematically 0 but computed as ±1e-13 sum-order noise,
      // which would make the degenerate-fit guards engine-dependent
      .withColumn("dxy", snap(col("m") * col("sxy") - col("sx") * col("sy")))
      .withColumn("dxx", snap(col("m") * col("sxx") - col("sx") * col("sx")))
      .withColumn("dyy", snap(col("m") * col("syy") - col("sy") * col("sy")))
      .select(
        col("m").as("n_checkpoints"),
        col("total_tokens"),
        col("total_vocab"),
        when(col("dxx") =!= 0.0, round(col("dxy") / col("dxx"), 6)).as("beta"),
        when(col("dxx") =!= 0.0,
          round((col("sy") * col("sxx") - col("sx") * col("sxy")) / col("dxx"), 6))
          .as("ln_k"),
        when(col("dxx") =!= 0.0 && col("dyy") =!= 0.0,
          round(col("dxy") * col("dxy") / (col("dxx") * col("dyy")), 6)).as("r2"))
  }
}
