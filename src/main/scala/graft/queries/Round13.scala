package graft.queries

import graft.queries.SqlFragments._

/** Round-13 additions (q406+): the training-data curation operators a
  * 100 TB corpus pipeline runs between ingest and tokenization —
  * cross-document repeated-substring spans (the suffix-array-dedup
  * anchor+extend shape from Lee et al. 2022, re-expressed as hashed
  * k-gram anchors + island maximal runs), tokenizer fertility audit,
  * a staged dedup cascade with per-stage removal accounting,
  * DoReMi-style domain mixture reweighting (Xie et al. 2023, proxied
  * with an exact integer-quantized unigram cross-entropy), and a
  * CCNet-style perplexity tercile filter (Wenzek et al. 2020, bigram
  * LM proxy). Float reductions snap to the dyadic 2⁻³⁰ grid; corpus
  * sums ride exact BIGINT micro-nat quantities so aggregation order
  * can never split the engines.
  */
object Round13 {

  // ---------------------------------------------------------------- q406

  /** Cross-document repeated substrings — the exact-substring dedup
    * primitive (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", §4: suffix-array repeated spans ≥ k
    * tokens). Spark-first shape instead of a suffix array: every
    * 5-token gram is hashed (md5 — shuffle carries a 32-char key, not
    * the text), grams seen in ≥2 documents become ANCHORS, and maximal
    * runs of consecutive anchor positions (the island trick) extend
    * each anchor to its maximal repeated span of runlen+4 tokens.
    * Span text reassembles from the run's own carried words plus the
    * final gram's tail — no range join back to the corpus. Everything
    * is scan + equi-join + per-doc windows: at 100 TB the only wide
    * shuffle is the gram-hash aggregate, and it partial-aggregates.
    */
  val q406RepeatedSubstring: QueryDef =
    QueryDef.sql("q406_repeated_substring", "r13_", "documents")(repeatedSubstringSql)

  private def repeatedSubstringSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val phrase = d.stringAgg("word", "pos")
    val tailOfLast = d match {
      case _: Spark => "substring(max_by(gram, pos), instr(max_by(gram, pos), ' ') + 1)"
      case DuckDb => "substring(max_by(gram, pos), strpos(max_by(gram, pos), ' ') + 1)"
    }
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    s"""WITH tok AS (${posTokens(tbl, d, "doc_id")}),
        grams AS (
          SELECT doc_id, pos, word, gram
          FROM (SELECT doc_id, pos, word,
                       word || ' ' || lead(word, 1) $w || ' ' ||
                       lead(word, 2) $w || ' ' || lead(word, 3) $w || ' ' ||
                       lead(word, 4) $w AS gram
                FROM tok) g
          WHERE gram IS NOT NULL),
        dup AS (
          SELECT md5(gram) h
          FROM grams
          GROUP BY 1
          HAVING count(DISTINCT doc_id) >= 2),
        anchors AS (
          SELECT g.doc_id, g.pos, g.word, g.gram,
                 g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
                   AS island
          FROM grams g JOIN dup d ON d.h = md5(g.gram)),
        spans AS (
          SELECT doc_id, island,
                 $phrase || ' ' || $tailOfLast AS span,
                 CAST(count(*) + 4 AS BIGINT) AS span_tokens
          FROM anchors
          GROUP BY doc_id, island)
        SELECT span, span_tokens,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM spans
        GROUP BY 1, 2
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY span_tokens DESC, span
        LIMIT 15"""
  }

  // ---------------------------------------------------------------- q407

  /** Tokenizer fertility audit per (lang, source) — the pre-training
    * sanity table: words per doc, a greedy BPE-proxy subtoken count
    * (regex `[a-z]{1,4}` chunks a word into ceil(len/4) pieces —
    * deterministic, engine-independent), and the fertility /
    * bytes-per-token / chars-per-token ratios that decide whether a
    * tokenizer is wasting context budget on a language. One scan, one
    * keyed agg; ratios from exact BIGINT sums, snapped at the end.
    */
  val q407TokenizerFertility: QueryDef =
    QueryDef.sql("q407_tokenizer_fertility", "r13_", "documents")(fertilitySql)

  private def fertilitySql(d: Dialect): String = {
    val tbl = d.t("documents")
    // Spark SQL unescapes backslashes in string literals, DuckDB does
    // not — emit '\\s' for Spark, '\s' for DuckDB, same regex either way
    val pat = s"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9${d.ws}]"
    val nWords = d match {
      case _: Spark => """CAST(size(split(trim(text), '\\s+')) AS BIGINT)"""
      case DuckDb => """CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)"""
    }
    val nSub = d.regexCount("lower(text)", pat)
    val nBytes = d match {
      case _: Spark => "octet_length(text)"
      case DuckDb => "octet_length(encode(text))" // DuckDB's octet_length takes BLOB
    }
    s"""WITH d AS (
          SELECT lang, source,
                 CAST(length(text) AS BIGINT) nc,
                 CAST($nBytes AS BIGINT) nb,
                 $nWords nw,
                 $nSub nt
          FROM $tbl)
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_words,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               ${snap("CAST(sum(nt) AS DOUBLE) / sum(nw)")} AS fertility,
               ${snap("CAST(sum(nb) AS DOUBLE) / sum(nt)")} AS bytes_per_token,
               ${snap("CAST(sum(nc) AS DOUBLE) / sum(nt)")} AS chars_per_token
        FROM d
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  // ---------------------------------------------------------------- q408

  /** Staged dedup cascade with per-stage accounting — the shape every
    * production corpus pipeline runs: stage 1 exact bytes (md5 of raw
    * text), stage 2 normalized text (lowercase, punctuation collapsed),
    * stage 3 bag-of-words fingerprint (sorted distinct vocabulary —
    * order-free near-dup). Each stage keeps the lowest doc_id per key
    * among the PREVIOUS stage's survivors, so removals attribute to
    * the first stage that can see them. Output: one row per stage with
    * removed/surviving counts. Hash group-bys only — at 100 TB each
    * stage is one partial-aggregable shuffle on a 32-char key.
    */
  val q408DedupCascade: QueryDef =
    QueryDef.sql("q408_dedup_cascade", "r13_", "documents")(cascadeSql)

  private def cascadeSql(d: Dialect): String = {
    val tbl = d.t("documents")
    // DuckDB's regexp_replace replaces only the first match without 'g'
    val (bow, global) = d match {
      case _: Spark =>
        ("md5(array_join(array_sort(array_distinct(split(regexp_replace(lower(text), '[^a-z0-9]+', ' '), ' '))), ' '))",
          "")
      case DuckDb =>
        ("md5(array_to_string(list_sort(list_distinct(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '))), ' '))",
          ", 'g'")
    }
    s"""WITH keyed AS (
          SELECT doc_id,
                 md5(text) k1,
                 md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '$global))) k2,
                 $bow k3
          FROM $tbl),
        s1 AS (SELECT min(doc_id) doc_id FROM keyed GROUP BY k1),
        s2 AS (SELECT min(k.doc_id) doc_id
               FROM keyed k JOIN s1 ON s1.doc_id = k.doc_id
               GROUP BY k.k2),
        s3 AS (SELECT min(k.doc_id) doc_id
               FROM keyed k JOIN s2 ON s2.doc_id = k.doc_id
               GROUP BY k.k3),
        n AS (SELECT CAST(count(*) AS BIGINT) n0,
                     (SELECT CAST(count(*) AS BIGINT) FROM s1) n1,
                     (SELECT CAST(count(*) AS BIGINT) FROM s2) n2,
                     (SELECT CAST(count(*) AS BIGINT) FROM s3) n3
              FROM keyed)
        SELECT stage, removed, surviving
        FROM (
          SELECT 1 AS stage, n0 - n1 AS removed, n1 AS surviving FROM n
          UNION ALL
          SELECT 2, n1 - n2, n2 FROM n
          UNION ALL
          SELECT 3, n2 - n3, n3 FROM n)
        ORDER BY stage"""
  }

  // ---------------------------------------------------------------- q409

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023) with an
    * exact proxy loss: each source domain's unigram cross-entropy
    * under the CORPUS unigram LM, carried as integer micro-nats
    * (floor(−ln p · 2²⁰ + ½) per word type, then Σ c_dw·li_w is exact
    * BIGINT — a float Σ over 10⁵ rows would diverge between engines'
    * aggregation orders). Five unrolled multiplicative-weights rounds
    * shift mass toward domains with loss above the current
    * mixture-weighted mean: α' ∝ α·exp(η·(H_d − Σα H)), η = 0.1,
    * renormalized each round. Corpus-sized work is two keyed aggs; the
    * iteration runs over #domains rows. DuckDB materializes the CTE
    * chain (`MATERIALIZED`); Spark has no CTE materialization, and the
    * unrolled rounds reference each other ~3× per level, so an inline
    * SQL loop re-analyzes a 3⁵-duplicated plan (562 s at sf0.1 fully
    * inline; ~100 s even with the corpus half checkpointed — the
    * optimizer itself is the cost). The Spark branch therefore runs
    * the MW rounds as a DRIVER loop over the collected #domains-row
    * loss table — bounded model state, the q402 pattern — with every
    * addend snapped onto the 2⁻³⁰ grid so the driver's sums are
    * bit-identical to the oracle's (0.5 s).
    */
  val q409DoremiWeights: QueryDef = QueryDef(
    "q409_doremi_weights",
    (s, dir) => {
      import s.implicits._
      val sp = Spark("r13_")
      sp.register(s, dir, "documents")
      // corpus-sized half: one job, #domains rows back
      val hd = s.sql(doremiHdSql(sp)).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val k = hd.size
      // grid-snapped addends with small magnitude sum EXACTLY in IEEE
      // doubles — iteration order cannot change them, so the driver
      // walk and DuckDB's materialized CTE walk agree bit-for-bit.
      // Known residual: exp below is JVM Math.exp vs DuckDB's libm exp —
      // both are ≤1-ulp-correct but not the SAME ulp, so if w*exp(x)
      // lands within one ulp of a half-grid (2⁻³¹) boundary the snap
      // could in principle flip between engines. The exp ARGUMENT is
      // snapped (identical on both sides), which removes argument
      // drift; the remaining window is ~2⁻⁵² per step on O(1) values —
      // accepted and monitored by the hash gate rather than papered
      // over with a coarser grid that would visibly change the weights.
      var a: Map[String, Double] = hd.keys.toSeq.map(_ -> snapD(1.0 / k)).toMap
      for (_ <- 0 until 5) {
        val mu = a.toSeq.map { case (src, w) => snapD(w * hd(src)) }.sum
        val b = a.map { case (src, w) =>
          src -> snapD(w * math.exp(snapD(0.1 * (hd(src) - mu))))
        }
        val tot = b.values.sum
        a = b.map { case (src, w) => src -> snapD(w / tot) }
      }
      val ranked = a.toSeq.sortBy { case (src, w) => (-w, src) }.zipWithIndex
        .map { case ((src, w), i) => (src, hd(src), w, (i + 1).toLong) }
        .sortBy(_._1)
      ranked.toDF("source", "h_nats", "weight", "pos")
    },
    Some(doremiSql(DuckDb))
  )

  /** The corpus-sized half of q409: per-source cross-entropy in snapped
    * nats under the corpus unigram LM (exact micro-nat BIGINT sums).
    */
  private def doremiHdSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val tok =
      s"""SELECT source, word
            FROM (SELECT source,
                         ${d.words} AS word
                  FROM $tbl) x
            WHERE word <> ''"""
    s"""WITH tok AS ($tok),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) c FROM tok GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) n FROM cw),
        li AS (
          SELECT word,
                 CAST(floor(-ln(CAST(c AS DOUBLE) / t.n) * 1048576.0 + 0.5) AS BIGINT) lw
          FROM cw CROSS JOIN tot t),
        dw AS (SELECT source, word, CAST(count(*) AS BIGINT) c
              FROM tok GROUP BY 1, 2)
        SELECT d.source,
               ${snap("CAST(sum(d.c * l.lw) AS DOUBLE) / (1048576.0 * sum(d.c))")} hd
        FROM dw d JOIN li l ON l.word = d.word
        GROUP BY 1"""
  }

  private def doremiSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val tok =
      s"""SELECT source, word
            FROM (SELECT source,
                         ${d.words} AS word
                  FROM $tbl) x
            WHERE word <> ''"""
    val rounds = (0 until 5)
      .map { k =>
        // snap per-term: the sum of grid values is exact, so aggregation
        // order can never split the engines
        val mean = s"sum(${snap("a.w * h.hd")})"
        val boost = snap(s"a.w * exp(${snap("CAST(0.1 AS DOUBLE) * (h.hd - m.mu)")})")
        s"""m$k AS ${d.materialized}(
              SELECT $mean AS mu
              FROM a$k a JOIN hd h ON h.source = a.source),
            b$k AS ${d.materialized}(
              SELECT a.source, $boost AS w
              FROM a$k a JOIN hd h ON h.source = a.source
              CROSS JOIN m$k m),
            a${k + 1} AS ${d.materialized}(
              SELECT b.source, ${snap("b.w / t.tot")} AS w
              FROM b$k b CROSS JOIN (SELECT sum(w) tot FROM b$k) t)"""
      }
      .mkString(",\n")
    s"""WITH tok AS ($tok),
        cw AS ${d.materialized}(SELECT word, CAST(count(*) AS BIGINT) c FROM tok GROUP BY 1),
        tot AS ${d.materialized}(SELECT CAST(sum(c) AS BIGINT) n FROM cw),
        li AS ${d.materialized}(
          SELECT word,
                 CAST(floor(-ln(CAST(c AS DOUBLE) / t.n) * 1048576.0 + 0.5) AS BIGINT) lw
          FROM cw CROSS JOIN tot t),
        dw AS ${d.materialized}(SELECT source, word, CAST(count(*) AS BIGINT) c
              FROM tok GROUP BY 1, 2),
        hd AS ${d.materialized}(
          SELECT d.source,
                 ${snap("CAST(sum(d.c * l.lw) AS DOUBLE) / (1048576.0 * sum(d.c))")} hd
          FROM dw d JOIN li l ON l.word = d.word
          GROUP BY 1),
        nd AS ${d.materialized}(SELECT CAST(count(*) AS BIGINT) k FROM hd),
        a0 AS ${d.materialized}(SELECT source, ${snap("CAST(1.0 AS DOUBLE) / nd.k")} w
              FROM hd CROSS JOIN nd),
        $rounds
        SELECT h.source, h.hd AS h_nats, a.w AS weight,
               CAST(rank() OVER (ORDER BY a.w DESC, h.source) AS BIGINT) AS pos
        FROM a5 a JOIN hd h ON h.source = a.source
        ORDER BY h.source"""
  }

  // ---------------------------------------------------------------- q410

  /** CCNet-style perplexity filter (Wenzek et al. 2020): score every
    * document's cross-entropy under a corpus bigram LM with add-one
    * smoothing, then split each language into head/middle/tail
    * terciles by score — the bucket assignment CCNet uses to keep,
    * review, or drop web text. Bigram log-probs ride the same exact
    * integer micro-nat encoding as q409 (per-doc sums are exact
    * BIGINT; only the final per-doc division snaps), and the tercile
    * boundary comes from cume_dist over (lang, score) — deterministic
    * because scores tie only when the integer sums tie. Corpus-sized
    * work: one explode + two keyed aggs + one per-lang window.
    */
  val q410PerplexityFilter: QueryDef =
    QueryDef.sql("q410_perplexity_filter", "r13_", "documents")(perplexitySql)

  private def perplexitySql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${posTokens(tbl, d, "doc_id")}),
        docmeta AS (SELECT doc_id, lang FROM $tbl),
        bi AS ${d.materialized}(
          SELECT doc_id, a, b
          FROM (SELECT doc_id, word a,
                       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) b
                FROM tok) x
          WHERE b IS NOT NULL),
        cu AS ${d.materialized}(SELECT a, CAST(count(*) AS BIGINT) c FROM bi GROUP BY 1),
        v AS ${d.materialized}(SELECT CAST(count(DISTINCT b) AS BIGINT) v FROM bi),
        cb AS ${d.materialized}(SELECT a, b, CAST(count(*) AS BIGINT) c FROM bi GROUP BY 1, 2),
        lp AS ${d.materialized}(
          SELECT cb.a, cb.b,
                 CAST(floor(-ln((CAST(cb.c AS DOUBLE) + 1.0) / (cu.c + v.v))
                            * 1048576.0 + 0.5) AS BIGINT) lw
          FROM cb JOIN cu ON cu.a = cb.a CROSS JOIN v),
        docscore AS ${d.materialized}(
          SELECT bi.doc_id,
                 CAST(count(*) AS BIGINT) n_bi,
                 ${snap("CAST(sum(lp.lw) AS DOUBLE) / (1048576.0 * count(*))")} h
          FROM bi JOIN lp ON lp.a = bi.a AND lp.b = bi.b
          GROUP BY 1),
        bucketed AS ${d.materialized}(
          SELECT m.lang, s.h,
                 CASE WHEN cume_dist() OVER (PARTITION BY m.lang ORDER BY s.h, s.doc_id)
                        <= CAST(1.0 AS DOUBLE) / 3 THEN 'head'
                      WHEN cume_dist() OVER (PARTITION BY m.lang ORDER BY s.h, s.doc_id)
                        <= CAST(2.0 AS DOUBLE) / 3 THEN 'middle'
                      ELSE 'tail' END bucket
          FROM docscore s JOIN docmeta m ON m.doc_id = s.doc_id)
        SELECT lang, bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               ${snap("avg(h)")} AS mean_h
        FROM bucketed
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  val all: Seq[QueryDef] =
    Seq(q406RepeatedSubstring, q407TokenizerFertility, q408DedupCascade,
      q409DoremiWeights, q410PerplexityFilter)
}
