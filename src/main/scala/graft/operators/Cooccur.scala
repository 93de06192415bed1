package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Windowed word co-occurrence counts + pointwise mutual information —
  * the association-mining pass behind embedding-prep pipelines
  * (word2vec-style contexts, collocation extraction, topic seeding).
  *
  * Scale shape: pair generation is SCAN-SIDE — for each offset
  * 1..window, the token array is zipped with its own shifted slice, so
  * no self-join (the naive position range-join) ever materializes; the
  * only shuffle is the final pair-count aggregation, map-side-combined
  * to the (small) vocabulary-pair domain.
  */
object Cooccur {

  /** Unordered co-occurring pairs within `window` token positions, with
    * counts and PMI = ln((c_ab/T) / ((c_a/N)·(c_b/N))) — pair probability
    * from the pair-event total T, unigram probabilities from the token
    * total N. Returns the `topK` pairs by (count DESC, a, b).
    */
  def pmiPairs(docs: DataFrame, window: Int = 2, topK: Int = 20): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val ts = split(col("text"), " ")
    // One struct list per offset: (tok[i], tok[i+off]) canonicalized to
    // unordered (least, greatest); flatten the offsets, one explode.
    val offsetPairs = (1 to window).map { off =>
      zip_with(
        slice(ts, lit(1), greatest(size(ts) - off, lit(0))),
        slice(ts, lit(1 + off), greatest(size(ts) - off, lit(0))),
        (x, y) => struct(least(x, y).as("a"), greatest(x, y).as("b"))
      )
    }
    val pairs = docs
      .select(explode(flatten(array(offsetPairs: _*))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val pairCounts = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val toks = docs
      .select(explode(ts).as("w"))
      .filter(col("w") =!= "")
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val totals = pairCounts
      .agg(sum("c_ab").as("t_pairs"))
      .crossJoin(toks.agg(count(lit(1)).as("n_toks")))
    pairCounts
      // hint-free: unigram counts are VOCAB-sized — slowly growing but
      // unbounded at lake scale (web-junk tokens); AQE picks the build side
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .select(
        col("a"),
        col("b"),
        col("c_ab"),
        round(
          log(
            (col("c_ab").cast("double") / col("t_pairs")) /
              ((col("c_a").cast("double") / col("n_toks")) *
                (col("c_b").cast("double") / col("n_toks")))),
          6).as("pmi"))
      .orderBy(col("c_ab").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** Association-rule mining over (basket, item) transactions — the
    * market-basket support/confidence/lift triple for item pairs with
    * support ≥ `minSupport` (Apriori's pair stage, which at pair arity
    * needs no candidate generation: a basket-keyed self-join whose
    * fan-out is basket-size², bounded by the largest basket, not the
    * corpus — the standard co-occurrence shape, same as [[pmiPairs]]).
    * Counts are exact integers; confidence and lift are single
    * divisions, association-ordered with the oracle.
    *
    * Output: (item_a, item_b, supp, conf_ab, conf_ba, lift) where
    * conf_ab = P(b|a), lift = P(ab)/(P(a)P(b)).
    */
  def associationRules(
      tx: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Int = 3
  ): DataFrame = {
    // distinct membership feeds the pair join (twice), item supports and
    // the basket total — checkpoint so consumers share one scan
    val items = tx
      .select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct()
      .localCheckpoint()
    val pairs = items
      .select(col("bk"), col("it").as("item_a"))
      .join(items.select(col("bk"), col("it").as("item_b")), Seq("bk"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
    val supports = items.groupBy(col("it")).agg(count(lit(1)).as("s"))
    val nb = items.agg(countDistinct(col("bk")).as("n_baskets"))
    pairs
      .join(supports.select(col("it").as("item_a"), col("s").as("supp_a")), Seq("item_a"))
      .join(supports.select(col("it").as("item_b"), col("s").as("supp_b")), Seq("item_b"))
      .crossJoin(broadcast(nb))
      .select(
        col("item_a"), col("item_b"), col("supp"),
        round(col("supp").cast("double") / col("supp_a"), 6).as("conf_ab"),
        round(col("supp").cast("double") / col("supp_b"), 6).as("conf_ba"),
        round(
          col("supp").cast("double") * col("n_baskets") / (col("supp_a") * col("supp_b")),
          6).as("lift"))
  }

  /** Dunning log-likelihood-ratio (G²) collocation scoring of ADJACENT
    * bigrams — the significance-based companion to [[pmiPairs]] (PMI
    * over-rewards rare pairs; G² weighs evidence by count). For each
    * bigram (a,b) with the 2×2 contingency table
    * {O11=c(ab), O12=c(a·)−O11, O21=c(·b)−O11, O22=N−c(a·)−c(·b)+O11}:
    *
    *   G² = 2·Σ_cells O·ln(O/E),  E from the independence margins,
    *
    * zero cells contributing zero. Each cell term is snapped to the
    * 2⁻³⁰ grid so the 4-term sum is exact in any order and the oracle
    * replays G² bit-identically.
    *
    * Scale shape: one scan-side bigram explode, one keyed count, two
    * margin aggs broadcast back — all work is proportional to token
    * count, margins are vocabulary-sized.
    *
    * Output: (w_a, w_b, o11, g2) for bigrams with o11 ≥ minCount.
    */
  def collocationG2(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    // O·ln(O/E) with 0·ln0 = 0, each term snapped
    def term(o: Column, e: Column) =
      when(o === 0L, 0.0).otherwise(snap(o.cast("double") * log(o.cast("double") / e)))
    val bigrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(expr(
        // empty sequence for <2-token docs: sequence(0, -1) would DESCEND
        "filter(transform(CASE WHEN size(w) >= 2 THEN sequence(0, size(w) - 2) " +
          "ELSE array() END, " +
          "i -> struct(w[i] AS a, w[i+1] AS b)), p -> length(p.a) > 0 AND length(p.b) > 0)"))
        .as("p"))
      .select(col("p.a").as("w_a"), col("p.b").as("w_b"))
    val pair = bigrams.groupBy(col("w_a"), col("w_b")).agg(count(lit(1)).as("o11"))
    val rowTot = pair.groupBy(col("w_a")).agg(sum(col("o11")).as("ca"))
    val colTot = pair.groupBy(col("w_b")).agg(sum(col("o11")).as("cb"))
    val nTot = pair.agg(sum(col("o11")).as("n"))
    val joined = pair
      .filter(col("o11") >= minCount)
      // hint-free: row/col totals are vocab-keyed (unbounded at scale)
      .join(rowTot, Seq("w_a"))
      .join(colTot, Seq("w_b"))
      .crossJoin(broadcast(nTot))
      .withColumn("o12", col("ca") - col("o11"))
      .withColumn("o21", col("cb") - col("o11"))
      .withColumn("o22", col("n") - col("ca") - col("cb") + col("o11"))
    val nD = col("n").cast("double")
    val e11 = col("ca").cast("double") * col("cb").cast("double") / nD
    val e12 = col("ca").cast("double") * (nD - col("cb").cast("double")) / nD
    val e21 = (nD - col("ca").cast("double")) * col("cb").cast("double") / nD
    val e22 = (nD - col("ca").cast("double")) * (nD - col("cb").cast("double")) / nD
    joined
      .select(
        col("w_a"), col("w_b"), col("o11"),
        round(
          lit(2.0) * (term(col("o11"), e11) + term(col("o12"), e12) +
            term(col("o21"), e21) + term(col("o22"), e22)),
          6).as("g2"))
  }
}
