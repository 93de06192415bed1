package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Multinomial naive Bayes trained IN the engine — the classic
  * fastText-style quality/domain classifier trained from label counts
  * with add-one smoothing, then applied back to the corpus
  * (resubstitution evaluation). Complements
  * [[TextAnalysis.classifierScore]] (a FIXED rule classifier): here the
  * model parameters are themselves aggregates of the data, so the whole
  * train→predict→evaluate loop happens in four keyed aggregations.
  *
  *   score(d, c) = ln P(c) + Σ_w  n_{d,w} · ln( (n_{c,w}+1) / (T_c+V) )
  *
  * Determinism contract: every ln(...) is a ratio of INTEGER counts,
  * snapped to the 2⁻³⁰ grid; per-doc scores are Σ (integer · dyadic) —
  * exact in double at any summation order — so argmax decisions (ties
  * broken by smallest class name) replay bit-identically in a
  * relational oracle.
  *
  * Scale shape: the model is (V × C) likelihood rows — tiny — built by
  * two keyed aggs and BROADCAST into the scoring join; scoring is one
  * explode + broadcast join + doc-keyed agg, so corpus cost is
  * O(tokens) with a single shuffle on doc_id. No driver-side loops: the
  * "training" is the aggregation itself.
  */
object NaiveBayes {

  /** Per-document argmax predictions of the model trained on the same
    * corpus (resubstitution): (doc_id, label, pred, margin) where
    * margin = score(pred) − score(label) ≥ 0 — an exact difference of
    * snapped dyadic scores, so "confidently mislabeled" thresholds
    * replay bit-identically. Docs with no tokens get no prediction and
    * are omitted (callers LEFT-join if they need them).
    */
  def predictions(docs: DataFrame, labelCol: String = "source"): DataFrame = {

    val tokens = docs
      .select(col("doc_id"), col(labelCol).as("label"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)

    // model: class priors, class-word counts, vocabulary size
    val docCounts = docs.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("n_docs"))
    val nTotal = docs.count() // scalar model parameter (driver-held, like k-means k)
    val classWord = tokens.groupBy(col("label"), col("word")).agg(count(lit(1)).as("cw"))
    val classTot = classWord.groupBy(col("label")).agg(sum(col("cw")).as("t_c"))
    val vocab = tokens.select(col("word")).distinct()
    val vSize = vocab.count() // |V|, scalar

    // dense (word × class) likelihood table — V·C rows (joined hint-free;
    // the class-sized factor below broadcasts)
    val likelihood = vocab
      // hint-free: class totals are label-keyed (data-dependent count);
      // AQE broadcasts the runtime-small side of the dimension product
      .crossJoin(classTot)
      .join(classWord, Seq("label", "word"), "left")
      .select(
        col("label"), col("word"),
        snap(log((coalesce(col("cw"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + lit(vSize)).cast("double"))).as("ll"))
    // unseen-in-class floor for words absent from the doc-class pair is
    // already in the dense table; priors:
    val prior = docCounts.select(
      col("label"),
      snap(log(col("n_docs").cast("double") / lit(nTotal.toDouble))).as("lp"))

    val docWords = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n_dw"))
    val scores = docWords
      // hint-free: the likelihood table is VOCAB × CLASSES — unbounded at
      // lake scale (the model itself grows with the corpus vocabulary), so
      // a forced broadcast is the OOM class; the word-keyed equi-join
      // shuffles linearly and AQE still broadcasts a model that is
      // actually small. Same for the class-sized prior: AQE sees its size.
      .join(likelihood.withColumnRenamed("label", "cand"), Seq("word"))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(col("n_dw").cast("double") * col("ll")).as("wsum"))
      .join(prior.withColumnRenamed("label", "cand"), Seq("cand"))
      .withColumn("score", col("wsum") + col("lp"))
    // argmax with deterministic tie-break: highest score, then smallest
    // class name
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand").asc)
    val pred = scores
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand").as("pred"), col("score").as("best_score"))

    docs
      .select(col("doc_id"), col(labelCol).as("label"))
      .join(pred, Seq("doc_id"))
      .join(
        scores.select(col("doc_id"), col("cand").as("label"), col("score").as("label_score")),
        Seq("doc_id", "label"))
      // both scores are sums of dyadics -> the margin difference is exact
      .select(col("doc_id"), col("label"), col("pred"),
        (col("best_score") - col("label_score")).as("margin"))
  }

  /** Train on `docs(doc_id, text, labelCol)` and evaluate
    * resubstitution accuracy per class.
    *
    * Output: (label, n_docs, n_correct, accuracy) per true class.
    */
  def trainEval(docs: DataFrame, labelCol: String = "source"): DataFrame =
    docs
      .select(col("doc_id"), col(labelCol).as("label"))
      .join(predictions(docs, labelCol).select(col("doc_id"), col("pred")), Seq("doc_id"), "left")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn(
        "accuracy",
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 6))

  /** Confident-learning label-noise screen (the Northcutt-style
    * off-diagonal audit): documents whose model prediction disagrees
    * with their recorded label by at least `minMargin` log-units are
    * counted into a (label → pred) confusion cell with their mean
    * margin — the cells with mass are the labeling rules to re-audit.
    * Margins are exact dyadic differences, so the cell counts replay
    * exactly.
    *
    * Output: (label, pred, n_confident, mean_margin) for label ≠ pred.
    */
  def labelNoise(
      docs: DataFrame,
      labelCol: String = "source",
      minMargin: Double = 0.5
  ): DataFrame =
    predictions(docs, labelCol)
      .filter(col("pred") =!= col("label") && col("margin") >= minMargin)
      .groupBy(col("label"), col("pred"))
      .agg(
        count(lit(1)).as("n_confident"),
        round(sum(col("margin")) / count(lit(1)).cast("double"), 6).as("mean_margin"))
}
