package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA top principal component by POWER ITERATION over the corpus
  * covariance — the whitening/compression primitive an embedding
  * pipeline runs before indexing (and the first half of a PCA-dim
  * reduction; SemDeDup-style pipelines center+rotate with exactly this).
  *
  * Scale split: the only corpus-sized work is the second-moment
  * aggregation S_ij = Σ x_i·x_j — an explode + co-partitioned self-join
  * + map-side-combined keyed sum (codegen'd the whole way, no HOF
  * loops). Everything after is dims²-sized (64×64 here): covariance
  * assembly and the iteration loop run on the driver over a collected
  * 4096-entry matrix — the documented bounded-model-state posture shared
  * with k-means ([[Similarity]]) and PQ codebooks.
  *
  * Engine-exact replay (the q99/q114/q172 grid contract, one step
  * stronger): mean and S/n are snapped to the 2^-20 grid (the single
  * corpus-scale float reduction, probabilistic-by-ulp as documented in
  * SURVEY §8); covariance entries are RE-snapped to 2^-20, making every
  * C_ij·v_j product an exact multiple of 2^-40 bounded well under 2^12 —
  * so each iteration's 64-term sums are EXACT in double regardless of
  * association order, and the max-normalized, re-snapped update is
  * bit-identical across engines with no per-iteration ulp risk at all.
  * Sign is fixed deterministically (max-|loading| entry positive,
  * index tie-break).
  */
object Pca {

  // Truncates onto 2^20 (no +½), unlike SqlFragments' rounding 2^30 snap.
  private val Grid = 1048576.0 // 2^20
  private def snap(x: Double): Double = math.floor(x * Grid) / Grid

  /** Top principal component of `emb`'s `embedding` column plus the
    * corpus's strongest projections onto it.
    *
    * Output (role, id, score):
    *   - role='load': id = dimension index, score = component loading;
    *   - role='proj': id = vec_id of the `topK` largest projections of
    *     the CENTERED embeddings onto the component.
    */
  def topComponent(emb: DataFrame, iters: Int = 4, topK: Int = 10): DataFrame = {
    val spark = emb.sparkSession

    val e = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))

    val n = emb.count().toDouble
    require(n > 0, "empty corpus")

    val muRows = e.groupBy(col("i")).agg(avg(col("x")).as("mu")).collect()
    val dims = muRows.length
    val mu = Array.ofDim[Double](dims)
    muRows.foreach(r => mu(r.getInt(0)) = snap(r.getDouble(1)))

    val ea = e.select(col("vec_id"), col("i"), col("x").as("xi"))
    val eb = e.select(col("vec_id"), col("i").as("j"), col("x").as("xj"))
    val sRows = ea
      .join(eb, "vec_id")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("s"))
      .collect()

    val c = Array.ofDim[Double](dims, dims)
    sRows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      c(i)(j) = snap(snap(r.getDouble(2) / n) - mu(i) * mu(j))
    }

    var v = Array.fill(dims)(1.0)
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dims)(i => (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val m = u.map(math.abs).max
      v = u.map(x => snap(x / m))
    }
    val lead = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(lead) < 0) v = v.map(x => -x)

    import spark.implicits._
    val loadings = v.indices
      .map(i => ("load", i.toLong, v(i)))
      .toDF("role", "id", "vraw")
      .select(col("role"), col("id"), round(col("vraw"), 6).as("score"))

    val vDf = v.indices.map(i => (i, v(i), mu(i))).toDF("j", "vj", "muj")
    val proj = e
      .join(broadcast(vDf), col("i") === col("j"))
      .groupBy(col("vec_id"))
      .agg(round(sum((col("x") - col("muj")) * col("vj")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(topK)
      .select(lit("proj").as("role"), col("vec_id").as("id"), col("score"))

    loadings.unionAll(proj)
  }
}
