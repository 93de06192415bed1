package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SimHash64, TokenShingleHashes, VectorCosine}

/** Deduplication suite for a training-data pipeline, over the `documents`
  * and `embeddings` tables: exact (hash groupBy), MinHash+LSH, SimHash,
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): every method is candidate-generation-first —
  * a cheap signature computed row-locally in one compiled pass inside the
  * scan (the [[graft.functions.TokenShingleHashes]] /
  * [[graft.functions.SimHash64]] / [[graft.functions.MinHashSignature]] /
  * [[graft.functions.SrpSignatures]] expression family — Spark's
  * higher-order functions are interpreted and were the hottest stage), a
  * bucket shuffle that only collides plausible near-dups, and exact
  * verification restricted to candidate pairs. Nothing here ever
  * materializes the O(n²) pair space.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups by content hash: keeper = min doc_id per group
    * (one hash-aggregate; at scale this is the classic first-pass dedup).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** PASSAGE (chunk)-level exact dedup — the within-and-across-document
    * variant of [[exactGroups]] (RefinedWeb/FineWeb-style): documents are
    * cut into fixed-size word chunks; globally, only the FIRST occurrence
    * of each distinct chunk (by (doc_id, chunk index)) survives; each
    * document is reassembled from its surviving chunks in order.
    *
    * Output: (doc_id, n_chunks, n_kept, kept_text).
    *
    * Plan shape: chunking is row-local (split/slice/posexplode — no
    * shuffle); first-occurrence election is ONE window over the chunk
    * text; reassembly is one keyed aggregate back to doc_id. Two shuffles
    * total, both on keys with near-uniform cardinality (distinct chunk
    * texts / doc ids). At 100 TB the window key would be a 128-bit chunk
    * hash instead of the raw string (collision-negligible, ~10× less
    * shuffle I/O); the raw text is kept here so the DuckDB oracle can
    * replay the exact semantics.
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkWords > 0, "chunkWords must be positive")
    val ts = split(col("text"), " ")
    val chunked = docs.select(
      col("doc_id"),
      posexplode(
        transform(
          // nonneg domain, so the int cast of the double division is floor
          sequence(lit(0), ((size(ts) - 1) / chunkWords).cast("int")),
          i => array_join(slice(ts, i * chunkWords + 1, lit(chunkWords)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
    val firstOcc = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("idx"))
    chunked
      .withColumn("kept", row_number().over(firstOcc) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("kept_text"))
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word n-shingle set per document — the C4/GPT-style dedup
    * unit. On this corpus word shingles separate signal from noise far
    * better than char grams: planted near-dups score ≈0.95 while unrelated
    * docs (which share the small vocabulary) stay ≈0.03.
    */
  def tokenShingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      // pre-split once: split() referenced INSIDE a lambda is re-evaluated
      // per element (no subexpression elimination across the lambda
      // boundary) — the q214 lesson, worth ~3× on the shingle path
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        col("lang"),
        expr(
          s"array_distinct(transform(sequence(1, greatest(size(w) - ${n - 1}, 0)), " +
            s"i -> concat_ws(' ', slice(w, i, $n))))"
        ).as("shingles")
      )

  /** Shingle strings → stable 64-bit hashes (one xxhash64 per shingle).
    * Downstream set ops and permutation hashing work on longs — an
    * order-of-magnitude cheaper than re-hashing ~20-char strings, with
    * identical Jaccard values (collisions are ~|set|²/2⁶⁴, negligible).
    */
  def hashShingles(sh: DataFrame): DataFrame =
    sh.withColumn("shingles", expr("transform(shingles, s -> xxhash64(s))"))

  /** Distinct hashed word n-shingles straight from the scan: one compiled
    * pass per row ([[TokenShingleHashes]]), bit-identical hashes to
    * `hashShingles(tokenShingles(...))` but without the interpreted
    * HOF tree that dominated both dedup pipelines (SURVEY §8 bench note).
    */
  def hashedTokenShingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val fn = s"token_shingle_hashes_$n"
    TokenShingleHashes.register(docs.sparkSession, fn, n)
    // (r13 note: a scale-adaptive Par.spread was measured HERE and
    // reverted — it helps the minhash-signature callers, which stack a
    // 64-permutation kernel on this projection and now spread in
    // [[minhashPairs]] instead, but costs the PPJoin family an extra
    // exchange + a fragmented cache for no kernel win: min-of-3 at
    // sf0.1 read q28 1.26→1.61, q395 3.55→4.40, q475 3.48→4.18 with
    // the central spread vs without.)
    docs.select(col("doc_id"), expr(s"$fn(text)").as("shingles"))
  }

  /** Exact Jaccard over shingle sets for a pre-bucketed candidate pair
    * relation (columns doc_a, doc_b) — the verification kernel shared by
    * the brute-force and LSH paths.
    */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
      size(col("shingles")).as("vsz_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
      size(col("shingles")).as("vsz_b"))
    // Hint-free keyed equi-joins: which side is broadcast-small is
    // data-dependent (candidates can outnumber docs locally; docs dwarf
    // candidates at lake scale) — AQE resolves it at runtime from actual
    // sizes, and the fallback is a linear keyed shuffle, never a nested
    // loop. Profiled r9: a forced broadcast(pairs) serialized the array
    // relation through a near-sequential stream side and was the
    // family's dominant cost (4.3 s of q243's 4.7 s at sf0.1).
    //
    // |A∪B| = |A|+|B|−|A∩B| exactly (shingle arrays are DISTINCT by
    // construction from TokenShingleHashes/array_distinct) — one
    // array_intersect per pair instead of intersect + a materialized
    // union array, ~2× less per-row set work.
    pairs
      .join(a, "doc_a")
      .join(b, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("inter") / (col("vsz_a") + col("vsz_b") - col("inter")), 6)
          .as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** The catalogue's CANONICAL exact-pair relation: word-3-gram Jaccard
    * ≥ 0.8 over `documents(doc_id, text)`. q28, q521 and every other
    * consumer of "the t = 0.8 exact pair set" goes through this one
    * entry point so their pair-set plans are identical by construction
    * (same column pruning, same parameters) — a regression or
    * optimization in the PPJoin path moves the whole family together
    * instead of diverging per call site.
    */
  def ppjoinPairs(docs: DataFrame): DataFrame =
    ngramJaccardPairs(docs.select("doc_id", "text"), n = 3, threshold = 0.8)

  /** EXACT word-shingle Jaccard pairs at threshold `t`, without the O(n²)
    * pair space: prefix + positional filtering (Chaudhuri/Xiao PPJoin
    * family).
    *
    * Shingles get a canonical global order (document frequency ascending,
    * hash tie-break); any pair with `j >= t` MUST share at least one of
    * each document's first `⌊(1-t)·|x|⌋ + 1` shingles in that order — so an
    * equi-join on prefix shingles generates a candidate superset, pruned
    * losslessly by (1) the size-ratio check (`min >= t·max`) and (2) the
    * positional filter: at the pair's FIRST shared prefix position
    * `(i, j)` (1-based ranks), overlap can't exceed
    * `1 + min(|x|-i, |y|-j)`, and `j(x,y) >= t` needs overlap
    * `>= t·(|x|+|y|)/(1+t)` — the first-collision join row always carries
    * the valid bound, so true pairs always survive. Exact verification
    * keeps only true pairs: the result set is IDENTICAL to the brute-force
    * quadratic (the DuckDB oracle runs the quadratic form) at a cost of
    * three keyed shuffles over |corpus|·prefix-ish rows — the rarest ~20%
    * of each doc's shingles — instead of an n² join. Both prune bounds
    * carry a 1e-9 epsilon so float rounding can never drop an
    * exactly-at-threshold pair (verification would never restore it).
    *
    * The docFreq join is a keyed shuffle, NOT a broadcast: |distinct
    * shingles| grows with the corpus, and collecting it to the driver is
    * the first thing to fall over at lake scale (it was also the slowest
    * stage under memory pressure locally).
    *
    * Candidates ARE deduplicated before verification (r9): a pair can
    * collide on several prefix shingles, and the per-pair array
    * intersect it would re-run costs more than the (doc_a, doc_b)-keyed
    * shuffle that drops it — profiled at sf0.1 the distinct pays for
    * itself at every threshold and makes the verify output unique by
    * construction (no trailing distinct).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    // cache() (columnar, prunable), NOT localCheckpoint — SURVEY §7.4's
    // materialization rule, written after this site was bisected (r10→r11)
    // and q57 repeated the same class (r11→r12): the shingle and
    // prefix relations are corpus-sized at low thresholds, and the r10
    // checkpoint swap materialized them as unprunable row RDDs — q243
    // (t=0.5) went 1.4→3.1 s, q395 (t=0.6) 3.5→4.4 s at sf0.1; reverting
    // to cache recovered both (r11 bisect). Hygiene is preserved anyway:
    // the tail of this method materializes the OUTPUT-sized pair set and
    // unpersists both intermediates before returning, so nothing cached
    // outlives the operator.
    val sh = hashedTokenShingles(docs, n)
      .withColumn("sz", size(col("shingles")))
      .filter(col("sz") > 0)
      .cache()
    val exploded = sh.select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
    val docFreq = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // The per-document (df, sh) ranking is a hash aggregate + local sort of
    // each doc's small array — cheaper than a window, which would sort
    // whole partitions. Cached: the self-join below would otherwise
    // recompute the whole prefix pipeline once per side (self-joins don't
    // share lineage). posexplode keeps each prefix shingle's 0-based rank
    // for the positional filter.
    val prefixes = exploded
      .join(docFreq, "sh")
      .groupBy(col("doc_id"))
      .agg(
        max(col("sz")).as("sz"),
        slice(
          array_sort(collect_list(struct(col("df"), col("sh")))),
          lit(1),
          // +1e-9 inside the floor: (1-t)·sz computed in floats lands just
          // BELOW an exact integer (e.g. (1-0.8)·10 = 1.999…96), which
          // would shave the prefix one short and lose an exactly-at-
          // threshold pair (found live: a subset pair with j = 8/10 = t
          // whose two non-shared shingles were precisely the shaved
          // prefix).
          (floor((lit(1.0) - threshold) * max(col("sz")) + lit(1e-9)) + lit(1)).cast("int")
        ).as("pref")
      )
      .select(col("doc_id"), col("sz"), posexplode(col("pref.sh")).as(Seq("pos", "sh")))
      .cache()
    val eps = 1e-9
    val a = prefixes.toDF("doc_a", "sz_a", "pos_a", "sh")
    val b = prefixes.toDF("doc_b", "sz_b", "pos_b", "sh_b")
    val candidates = a
      .join(
        b,
        col("sh") === col("sh_b") && col("doc_a") < col("doc_b") &&
          col("sz_a") >= col("sz_b") * threshold - eps &&
          col("sz_b") >= col("sz_a") * threshold - eps &&
          // overlap ubound (0-based pos: 1 + (sz-1-pos) = sz-pos) vs the
          // required overlap, cross-multiplied to avoid a division
          least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) *
            (1.0 + threshold) >= (col("sz_a") + col("sz_b")) * threshold - eps
      )
      .select("doc_a", "doc_b")
      .distinct()
    // localCheckpoint HERE, where the relation is output-sized: the true
    // pair set materializes eagerly, then the corpus-sized intermediate
    // caches are released — callers get an already-computed relation and
    // a session with zero residual cached partitions.
    val result = verifyJaccard(candidates, sh.select("doc_id", "shingles"), threshold)
      .localCheckpoint()
    prefixes.unpersist()
    sh.unpersist()
    result
  }

  /** Asymmetric CONTAINMENT near-dup: pairs where the SMALLER document's
    * shingle set is mostly inside the bigger one's —
    * C(A→B) = |A∩B|/|A| ≥ `threshold` with |A| ≤ |B| (at equal sizes the
    * smaller doc_id is A). Catches the quote/excerpt/boilerplate-subset
    * cases symmetric Jaccard misses: a 100-shingle doc fully contained
    * in a 10 000-shingle doc has C = 1.0 but J ≈ 0.01.
    *
    * Candidate generation is the containment prefix filter: A must share
    * ≥ ⌈t·|A|⌉ shingles with B, so A's (⌊(1−t)·|A|⌋+1)-length rarest-first
    * prefix must hit B SOMEWHERE — the prefix explodes only the small
    * side; the big side contributes its full postings (an inverted index,
    * linear in corpus size, never a self-cross). Exact verification via
    * array_intersect closes it.
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    val eps = 1e-9
    // Same cache-then-release discipline as [[ngramJaccardPairs]] (r11):
    // cache the corpus-sized shingle relation for its three readers,
    // checkpoint only the output-sized verified pairs, release before
    // returning.
    val sh = hashedTokenShingles(docs, n)
      .withColumn("sz", size(col("shingles")))
      .filter(col("sz") > 0)
      .cache()
    val exploded = sh.select(col("doc_id"), col("sz"), explode(col("shingles")).as("sh"))
    val docFreq = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefixes = exploded
      .join(docFreq, "sh")
      .groupBy(col("doc_id"))
      .agg(
        max(col("sz")).as("sz"),
        slice(
          array_sort(collect_list(struct(col("df"), col("sh")))),
          lit(1),
          // +1e-9 inside the floor — the q28 at-threshold shaving guard
          (floor((lit(1.0) - threshold) * max(col("sz")) + lit(1e-9)) + lit(1)).cast("int")
        ).as("pref"))
      .select(col("doc_id"), col("sz"), explode(col("pref.sh")).as("sh"))
    val a = prefixes.toDF("doc_a", "sz_a", "sh")
    val b = exploded.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("sh").as("sh_b"))
    val candidates = a
      .join(
        b,
        col("sh") === col("sh_b") &&
          (col("sz_a") < col("sz_b") ||
            (col("sz_a") === col("sz_b") && col("doc_a") < col("doc_b"))))
      .select("doc_a", "doc_b")
      .distinct()
    val result = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("ga")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("gb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).as("inter"),
        size(col("ga")).as("sz_a"), size(col("gb")).as("sz_b"))
      .filter(col("inter") >= col("sz_a") * threshold - eps)
      .select(
        col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") / col("sz_a"), 6).as("containment"))
      .localCheckpoint()
    sh.unpersist()
    result
  }

  // --------------------------------------------------------- decontamination

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with ANY benchmark
    * document — the docs a training run must drop so it doesn't memorize
    * its own eval set. Returns (doc_id, n_shared).
    *
    * Shape at scale: both sides shingle row-locally
    * ([[hashedTokenShingles]]); the benchmark's DISTINCT shingle set
    * (small — it's the eval suite, not the corpus) hits the exploded
    * corpus through one equi-join on the shingle hash, and a per-doc
    * count-distinct closes it. The corpus is never self-joined and never
    * shuffled except by shingle key.
    */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 3,
      minShared: Int = 8
  ): DataFrame = {
    val c = hashedTokenShingles(corpus, n)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val b = hashedTokenShingles(benchmark, n)
      .select(explode(col("shingles")).as("sh"))
      .distinct()
    c.join(b, "sh")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("sh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------- dedup cluster closure

  /** Connected components over a near-dup pair relation — the step that
    * turns pairwise matches into dedup CLUSTERS (keep one doc per
    * component, not per pair): every doc appearing in `pairs`
    * (columns doc_a, doc_b) labeled with the minimum doc_id reachable
    * through the match graph.
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum of its own label and its neighbors' labels; fixpoint after
    * O(component diameter) rounds. Near-dup graphs are short chains and
    * small cliques, so this converges in a handful of keyed-join rounds —
    * each round is one shuffle of the (labels ⋈ edges) join, nothing
    * driver-side except the one-row convergence check. `localCheckpoint`
    * truncates the growing lineage each round (on a cluster, a
    * checkpoint-dir `checkpoint` — or the large-star/small-star variant —
    * is the same loop at 100 TB).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint, not cache: materializes the (possibly expensive)
    // pair pipeline EAGERLY with truncated lineage, so every propagation
    // round joins a stable, compact relation — and nothing stays pinned
    // in executor memory after the plan is GC'd (the q462 lesson; r9).
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    var labels = edges
      .select(col("u").as("doc"))
      .distinct()
      .withColumn("rep", col("doc"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(labels.select(col("doc").as("v"), col("rep").as("n_rep")), "v")
        .groupBy(col("u"))
        .agg(min(col("n_rep")).as("min_n"))
      val updated = labels
        .join(neighborMin.select(col("u").as("doc"), col("min_n")), Seq("doc"), "left")
        .select(
          col("doc"),
          col("rep"),
          least(col("rep"), coalesce(col("min_n"), col("rep"))).as("rep_next")
        )
        .localCheckpoint()
      converged = updated.filter(col("rep_next") < col("rep")).isEmpty
      labels = updated.select(col("doc"), col("rep_next").as("rep"))
    }
    labels.select(col("doc").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale path next to [[connectedComponents]]: min-label
    * propagation needs O(component diameter) rounds (a 10⁶-node chain of
    * pairwise near-dups = 10⁶ shuffles), star contraction converges in
    * O(log n) rounds on any topology.
    *
    *   - large-star: per node u over its full neighborhood,
    *     m = min(Γ(u) ∪ {u}); every LARGER neighbor re-attaches to m.
    *   - small-star: edges oriented large→small; per node u,
    *     every smaller neighbor (and u itself) attaches to the minimum.
    *
    * Each round is two self-describing shuffles (groupBy min + equi-join
    * back), no driver-side state; a (count, hash-sum) signature detects
    * the fixpoint — if a full round leaves the edge set identical, every
    * further round does too (both operators are deterministic functions
    * of the set). At convergence the edge set IS the star forest
    * node → component-min.
    *
    * Output schema matches [[connectedComponents]]: (doc_id, cluster_rep),
    * one row per node that appears in `pairs`.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame =
    connectedComponentsStarKeyed(pairs.withColumn("graph_key", lit(0)), "graph_key")
      .drop("graph_key")

  /** [[connectedComponentsStar]] over MANY independent graphs at once:
    * every shuffle round is keyed by (`keyCol`, node), so N graphs (e.g.
    * one per dedup threshold, or per tenant) converge in max-of-N rounds
    * of SHARED jobs instead of N sequential contractions — on small
    * graphs the per-round job overhead, not the data, is the cost, and
    * at lake scale the shared rounds amortize the shuffle machinery the
    * same way. Output: (`keyCol`, doc_id, cluster_rep), one row per
    * (graph, node). Rounds a converged graph no longer needs are no-ops
    * on its edges (both star operators are idempotent at the fixpoint).
    */
  def connectedComponentsStarKeyed(pairs: DataFrame, keyCol: String): DataFrame = {
    // Materialize the (possibly expensive — e.g. a full MinHash-LSH
    // pipeline) pair set ONCE: both the node universe and the initial
    // edge set derive from it, and without the checkpoint each would
    // re-execute the whole upstream lineage.
    val base = pairs
      .select(col(keyCol).as("k"), col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint()
    // consumed once (the final labeling join) — no cache
    val nodes = base
      .select(col("k"), col("u").as("doc"))
      .union(base.select(col("k"), col("v").as("doc")))
      .distinct()

    // r14 (guide §2.4 "remove shuffles outright"): each star operator was
    // a groupBy-min + equi-join-back — TWO full shuffles of the edge set
    // plus a distinct each, ~6 edge-set exchanges per round. The
    // neighborhood minimum is now a WINDOW over the same (k, u)
    // partitioning: one exchange + one sort per operator, no self-join,
    // no duplicated subtree (a repartition-then-reuse variant was
    // measured first and REJECTED: the optimizer pushes isnotnull join
    // filters into only ONE branch of the shared subtree, so the
    // exchange never dedupes and the symmetric edge set executed twice).
    // largeStar's trailing distinct is dropped too: its duplicates (one
    // per extra neighbor sharing the same minimum) are bounded by node
    // degree, smallStar's min is duplicate-insensitive, and smallStar's
    // closing distinct removes them before the signature/fixpoint check
    // ever sees the edge set. smallStar emits both the re-attachment
    // (v, m) and the self-attachment (u, m) from the SAME window row via
    // explode — the former separate mins branch re-ran the window.
    // Per-round output is bit-identical; a contraction round now runs
    // 3 edge-set exchanges instead of 6.
    val byNode = org.apache.spark.sql.expressions.Window.partitionBy("k", "u")

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("k"), col("v").as("u"), col("u").as("v")))
      sym
        .withColumn("m", least(col("u"), min(col("v")).over(byNode)))
        .filter(col("v") > col("u"))
        .select(col("k"), col("v").as("u"), col("m").as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        col("k"),
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      // every group key u has at least one smaller neighbor, so the
      // neighborhood minimum m is already < u — (u, m) never needs the
      // u ≠ v filter, and (v, m) needs it exactly as before
      oriented
        .withColumn("m", min(col("v")).over(byNode))
        .select(col("k"), explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("k"), col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // (cardinality, hash-sum) set signature over ALL graphs; decimal(38,0)
    // sum cannot overflow and is order-insensitive
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(
          sum(xxhash64(col("k"), col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))
      ).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var edges = base
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var sig = signature(edges)
    var converged = edges.isEmpty
    while (!converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
    }
    // At the fixpoint every edge points node → component minimum; roots
    // (the minima) have no outgoing edge and label themselves.
    nodes
      .join(
        edges.select(col("k"), col("u").as("doc"), col("v").as("star_rep")),
        Seq("k", "doc"), "left")
      .select(col("k").as(keyCol), col("doc").as("doc_id"),
        coalesce(col("star_rep"), col("doc")).as("cluster_rep"))
  }

  // -------------------------------------------------------------- MinHash

  /** Band-hash a precomputed `sig` (array of `numPerm` minima) column
    * into `bands` hashes of `numPerm/bands` minima each, in long format
    * (doc_id, band_id, band_sig). Callers materialize the signature
    * relation first: a band self-join would otherwise re-evaluate the
    * numPerm-permutation signature once per join side.
    */
  def bandsFromSig(sigs: DataFrame, numPerm: Int = 64, bands: Int = 16): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val rows = numPerm / bands
    val bandCols = (0 until bands).map { bnd =>
      xxhash64((bnd * rows until (bnd + 1) * rows).map(i => element_at(col("sig"), i + 1)): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_id", "band_sig")))
  }

  /** LSH candidate pairs: docs sharing any band bucket. One shuffle on
    * (band_id, band_sig); the self-join only collides within buckets.
    */
  def minhashCandidates(bandsDF: DataFrame): DataFrame = {
    val a = bandsDF.select(col("band_id"), col("band_sig"), col("doc_id").as("doc_a"))
    val b = bandsDF.select(
      col("band_id").as("band_id_b"),
      col("band_sig").as("band_sig_b"),
      col("doc_id").as("doc_b")
    )
    a.join(
        b,
        col("band_id") === col("band_id_b") &&
          col("band_sig") === col("band_sig_b") &&
          col("doc_a") < col("doc_b")
      )
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline: word-shingle → signature → band
    * bucket join → exact-Jaccard verification of candidates only. With
    * b=16/r=4 the collision probability at the 0.8 target is ≈1.0 while
    * the ≈0.03 background collides at ~1e-5 — candidates stay linear-ish
    * in corpus size.
    */
  def minhashPairs(
      docs: DataFrame,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8
  ): DataFrame = {
    val spark = docs.sparkSession
    val fn = s"minhash_sig_$numPerm"
    graft.functions.MinHashSignature.register(spark, fn, numPerm, seed = 42L)
    // Shingles AND signature in one checkpoint: both the band self-join (which
    // evaluates its lineage once per side) and the verification read from
    // here, so the 64-permutation signature is computed exactly once.
    // r13: scale-adaptive [[Par.spread]] before the kernels — the bench
    // corpus is a single-row-group parquet scan (ONE task), so shingle
    // hashing + the 64-permutation signature ran on one core; measured
    // min-of-3 at sf0.1: q69 2.04→1.56, q608 4.90→4.44, q127 2.09→1.76,
    // q26 0.97→0.82. No-op on a many-split production scan.
    // r14 keep-or-revert A/B (VERDICT ask #2), isolated min-of-3 in this
    // round's context — spread vs removed: q26 0.771 vs 0.875, q127
    // 1.726 vs 1.880, q608 5.058 vs 5.585, q69 overlapping bands
    // (2.287/2.740/2.598 vs 1.991/2.619/2.683). Three of four win, none
    // loses outside noise: KEPT.
    val sh = hashedTokenShingles(Par.spread(docs.select("doc_id", "text")), n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", expr(s"$fn(shingles)"))
      .localCheckpoint()
    val cands = minhashCandidates(bandsFromSig(sh, numPerm, bands))
    verifyJaccard(cands, sh.select("doc_id", "shingles"), threshold)
  }

  /** INCREMENTAL near-dup pair discovery over a lake delta — the index-
    * maintenance half of the incremental dedup story (the cluster-
    * maintenance half is [[Graph.incrementalConnectedComponents]]): given
    * the stable base corpus and a (disjoint) delta batch, emit exactly
    * the verified pairs that TOUCH the delta — delta×delta plus
    * delta×base via shared LSH band buckets — and never re-pairs the
    * base against itself. Nightly cost is O(|delta| + collisions)
    * instead of re-running the full pipeline: the delta is signed and
    * banded fresh, probes the base's band buckets with a keyed equi-join
    * (at lake scale the base's signatures/bands are the STORED index
    * relation this recomputation stands in for), and only candidates are
    * Jaccard-verified. Recall equals the batch pipeline's by the same
    * band-collision argument — a qualifying pair with ≥1 delta endpoint
    * collides in some band with the same probability as in
    * [[minhashPairs]], whose equality with the exact pair set on this
    * corpus is an established, sweep-verified fact.
    *
    * `baseDocs` and `deltaDocs` must be disjoint on doc_id (a lake delta
    * is; re-ingested docs belong in the delta only).
    */
  def incrementalMinhashPairs(
      baseDocs: DataFrame,
      deltaDocs: DataFrame,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8
  ): DataFrame = {
    val spark = baseDocs.sparkSession
    val fn = s"minhash_sig_$numPerm"
    graft.functions.MinHashSignature.register(spark, fn, numPerm, seed = 42L)
    def signed(docs: DataFrame): DataFrame = hashedTokenShingles(docs, n)
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", expr(s"$fn(shingles)"))
      .localCheckpoint()
    val shBase = signed(baseDocs)
    val shDelta = signed(deltaDocs)
    val bandsBase = bandsFromSig(shBase, numPerm, bands)
    val bandsDelta = bandsFromSig(shDelta, numPerm, bands)
    val deltaDelta = minhashCandidates(bandsDelta)
    val deltaBase = bandsDelta
      .select(col("band_id"), col("band_sig"), col("doc_id").as("doc_d"))
      .join(
        bandsBase.select(
          col("band_id").as("bi"), col("band_sig").as("bs"),
          col("doc_id").as("doc_o")),
        col("band_id") === col("bi") && col("band_sig") === col("bs"))
      .select(
        least(col("doc_d"), col("doc_o")).as("doc_a"),
        greatest(col("doc_d"), col("doc_o")).as("doc_b"))
      .distinct()
    verifyJaccard(
      deltaDelta.union(deltaBase).distinct(),
      shBase.select("doc_id", "shingles").union(shDelta.select("doc_id", "shingles")),
      threshold)
  }

  // ------------------------------------------------ blocked fuzzy match

  /** Entity-resolution CANDIDATE pairs: blocked on the caller's keys
    * PLUS a name-length band. Edit distance is bounded below by the
    * length difference, so any pair within `maxDist` has lengths within
    * `maxDist` of each other; with bucket width `maxDist + 1` their
    * buckets differ by at most 1. The probe side explodes to
    * {b-1, b, b+1}, the build side keeps its single bucket — each
    * qualifying pair meets exactly once (the build bucket is unique per
    * row), so no distinct is needed and NO qualifying pair is lost.
    *
    * The length band is what keeps the blocking skew-resistant: natural
    * blocking keys are often LOW-CARDINALITY (brand × type ≈ 3,750
    * values in TPC-H part regardless of scale factor), so at 100× data
    * each block holds 100× rows and the within-block pair count grows
    * 10,000× on a key set that cannot grow. The band splits every such
    * block by a property that spreads with the data, restoring
    * near-linear candidate counts while preserving exact recall.
    */
  def fuzzyBlockCandidates(
      df: DataFrame,
      blockKeys: Seq[String],
      idCol: String,
      nameCol: String,
      maxDist: Int = 3
  ): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val w = maxDist + 1
    def bucketOf(c: Column): Column = floor(length(c) / w)
    val keyCols = blockKeys.map(col)
    val a = df
      .select(keyCols :+ col(idCol).as("id_a") :+ col(nameCol).as("name_a"): _*)
      .withColumn(
        "__lb",
        explode(array(
          bucketOf(col("name_a")) - 1,
          bucketOf(col("name_a")),
          bucketOf(col("name_a")) + 1)))
    val b = df
      .select(keyCols :+ col(idCol).as("id_b") :+ col(nameCol).as("name_b"): _*)
      .withColumn("__lb", bucketOf(col("name_b")))
    a.join(b, blockKeys :+ "__lb")
      .filter(col("id_a") < col("id_b"))
      .drop("__lb")
  }

  /** Blocked fuzzy match: [[fuzzyBlockCandidates]] scored with
    * `levenshtein` (codegen'd) and thresholded — exact pair parity with
    * the unbanded (blockKeys-only) θ-join, at a candidate count the
    * length band keeps bounded (Round5OpsSpec plants the skew).
    */
  def fuzzyBlockedPairs(
      df: DataFrame,
      blockKeys: Seq[String],
      idCol: String,
      nameCol: String,
      maxDist: Int = 3
  ): DataFrame =
    fuzzyBlockCandidates(df, blockKeys, idCol, nameCol, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document, row-locally via [[SimHash64]] —
    * bit-identical to the explode → 64-column hash-aggregate formulation
    * (same xxhash64 token hashes, same ±1 votes) minus its token shuffle.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    SimHash64.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("simhash64(text)").as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, candidate
    * generation via 4 × 16-bit band buckets. EXACT (complete recall) only
    * for maxHamming <= 3 — the default — since a pair within Hamming 3 of
    * 64 bits always shares at least one clean 16-bit band (pigeonhole).
    * Passing maxHamming > 3 turns this into candidate generation with
    * decreasing recall at wider distances — standard SimHash banding;
    * callers accepting that trade-off opt in explicitly.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(docs).localCheckpoint()
    val banded = sigs.select(
      col("doc_id"),
      col("simhash"),
      posexplode(
        array((0 until 4).map(b => shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*)
      ).as(Seq("band_id", "band_val"))
    )
    val a = banded.select(col("band_id"), col("band_val"), col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(
      col("band_id").as("band_id_b"),
      col("band_val").as("band_val_b"),
      col("doc_id").as("doc_b"),
      col("simhash").as("sim_b")
    )
    a.join(
        b,
        col("band_id") === col("band_id_b") &&
          col("band_val") === col("band_val_b") &&
          col("doc_a") < col("doc_b")
      )
      .select(
        col("doc_a"),
        col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle-replayable SimHash near-dup pairs: md5-derived token hashes
    * (the engine-independent hash family of [[Winnow]]/[[Sampling]])
    * and the signature carried as 4 × 16-bit BAND VALUES instead of one
    * packed 64-bit word, so neither engine needs unsigned-64
    * arithmetic. Semantics match [[simhashPairs]] — same ±1 bit votes,
    * same 4-band pigeonhole (complete recall at maxHamming <= 3) — only
    * the hash family differs; the compiled xxhash64 kernel
    * ([[graft.functions.SimHash64]]) stays the throughput path
    * (KernelParitySpec pins its bit parity).
    *
    * The signature is computed ROW-LOCALLY by the compiled
    * [[graft.functions.SimHashMd5Bands]] kernel (one JVM pass per doc —
    * an interpreted nested-HOF formulation of the same arithmetic
    * measured 31 s at sf0.1; the kernel is ~60× faster), so the only
    * exchanges are the band-bucket self-join and the final candidate
    * dedupe, as in every bucketed dedup here. Docs with no non-empty
    * token are dropped first (they have no signature on either engine).
    */
  def simhashPairsMd5(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding is exact only up to Hamming 3")
    graft.functions.SimHashMd5Bands.register(docs.sparkSession)
    val sigs = docs
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), expr("simhash_md5_bands(text)").as("__bands"))
      .localCheckpoint()
    val banded = sigs.select(
      col("doc_id"),
      posexplode(col("__bands")).as(Seq("band_id", "band_val")))
    val cand = banded
      .select(col("band_id"), col("band_val"), col("doc_id").as("doc_a"))
      .join(
        banded.select(
          col("band_id").as("band_id_b"),
          col("band_val").as("band_val_b"),
          col("doc_id").as("doc_b")),
        col("band_id") === col("band_id_b") && col("band_val") === col("band_val_b") &&
          col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("__bands").as("__ba")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("__bands").as("__bb")), Seq("doc_b"))
      .withColumn(
        "hamming",
        expr("cast(aggregate(zip_with(__ba, __bb, (x, y) -> bit_count(x ^ y)), 0, (s, x) -> s + x) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding near-dup pairs: multi-table SRP-LSH (one
    * [[graft.functions.SrpSignatures]] expression computes every table's
    * bucket id), ONE bucket join on (table, signature) via posexplode,
    * exact-cosine verification of candidates only.
    *
    * Verification is a pair of HINT-FREE keyed equi-joins against the
    * vector relation (the verifyJaccard shape): which side is
    * broadcast-small is data-dependent — the embedding relation is the
    * whole corpus at lake scale, while candidates dominate locally at a
    * low threshold — so AQE resolves the build side at runtime from
    * actual sizes, and the fallback is a linear keyed shuffle. A forced
    * broadcast of either side OOMs the driver at 100×. Duplicate
    * candidates from multi-table collisions are dropped AFTER the cosine
    * filter, on the small surviving set, and the cosine itself is one
    * compiled pass ([[VectorCosine]]).
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      dim: Int = 64,
      threshold: Double = 0.30,
      tables: Int = 6,
      planesPerTable: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val fn = s"srp_neardup_${tables}_${planesPerTable}_$seed"
    graft.functions.SrpSignatures.register(spark, fn, dim, tables, planesPerTable, seed)
    VectorCosine.register(spark)
    val signed = embeddings
      .select(col("vec_id"), col("embedding"), expr(s"$fn(embedding)").as("sigs"))
      .localCheckpoint()
    val banded = signed.select(
      col("vec_id"),
      posexplode(col("sigs")).as(Seq("table_id", "sig"))
    )
    val a = banded.select(col("table_id"), col("sig"), col("vec_id").as("id_a"))
    val b = banded.select(
      col("table_id").as("table_id_b"),
      col("sig").as("sig_b"),
      col("vec_id").as("id_b")
    )
    val candidates = a
      .join(
        b,
        col("table_id") === col("table_id_b") && col("sig") === col("sig_b") &&
          col("id_a") < col("id_b")
      )
      .select("id_a", "id_b")

    val va = signed.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val vb = signed.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    candidates
      .join(va, "id_a")
      .join(vb, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        round(expr("vector_cosine(v_a, v_b)"), 6).as("cosine")
      )
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** ORACLE-REPLAYABLE embedding near-dup: identical pipeline to
    * [[embeddingNearDupPairs]] (same compiled [[SrpSignatures]] kernel,
    * same bucket join, same exact-cosine verification) but over the
    * md5-derived plane family
    * ([[graft.functions.SrpSignatures.makePlanesMd5]]), which a SQL
    * engine can reconstruct from the plane-name strings alone — so the
    * CANDIDATE GENERATION itself, not just the final cosine, is
    * oracle-checked. This is the q26/q27 move applied to the embedding
    * family: the seeded-Gaussian variant stays the default for callers
    * (a JVM-only RNG is fine in production); this one is the
    * cross-engine-verifiable form.
    */
  def embeddingNearDupPairsMd5(
      embeddings: DataFrame,
      dim: Int = 64,
      threshold: Double = 0.30,
      tables: Int = 6,
      planesPerTable: Int = 4
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val fn = s"srp_neardup_md5_${tables}_$planesPerTable"
    graft.functions.SrpSignatures.registerMd5(spark, fn, dim, tables, planesPerTable)
    VectorCosine.register(spark)
    val signed = embeddings
      .select(col("vec_id"), col("embedding"), expr(s"$fn(embedding)").as("sigs"))
      .localCheckpoint()
    val banded = signed.select(
      col("vec_id"),
      posexplode(col("sigs")).as(Seq("table_id", "sig"))
    )
    val a = banded.select(col("table_id"), col("sig"), col("vec_id").as("id_a"))
    val b = banded.select(
      col("table_id").as("table_id_b"),
      col("sig").as("sig_b"),
      col("vec_id").as("id_b")
    )
    val candidates = a
      .join(
        b,
        col("table_id") === col("table_id_b") && col("sig") === col("sig_b") &&
          col("id_a") < col("id_b")
      )
      .select("id_a", "id_b")
    val va = signed.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val vb = signed.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    candidates
      .join(va, "id_a")
      .join(vb, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        round(expr("vector_cosine(v_a, v_b)"), 6).as("cosine")
      )
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** Exact repeated-SPAN detection (the Lee et al. '22 ExactSubstr dedup
    * shape at w-gram granularity): find, per document, the MAXIMAL spans
    * whose every w-token shingle also occurs in some other document —
    * the positional, span-level answer q94's fixed non-overlapping
    * chunks and q76's sampled winnowing fingerprints approximate.
    *
    * Relational all the way down: shingles are a scan-side
    * position-explode (md5 of the joined w-gram — oracle-replayable);
    * cross-document repetition is `min(doc_id) != max(doc_id)` over a
    * sig-partitioned window — ONE pass over the shingles, one shuffle,
    * where a groupBy+semi-join would evaluate the explode twice; maximal
    * spans are ISLANDS of consecutive repeated positions
    * (`pos − row_number`, the gaps-and-islands idiom) — no per-document
    * suffix structure, no quadratic pass. Span token-lengths are
    * `run + w − 1`; adjacent islands closer than w tokens overlap in
    * token space, so `repeated_tokens` is the span-length SUM (the
    * dedup-cost upper bound), documented rather than distinct-counted.
    *
    * Output per affected doc: (doc_id, n_spans, repeated_tokens,
    * max_span_tokens).
    */
  def repeatedSpans(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, "w must be >= 2")
    val ts = split(col("text"), " ")
    // Explode positions FIRST, hash after: `md5(array_join(slice(...)))`
    // then runs as ordinary codegen'd expressions per exploded row, not
    // inside an interpreted `transform` lambda (HOF lambdas fall out of
    // whole-stage codegen and cost ~an order of magnitude on this
    // tokens×w string loop).
    val sh = docs
      .filter(size(ts) >= w)
      .select(col("doc_id"), ts.as("ts"))
      .select(
        col("doc_id"),
        col("ts"),
        explode(sequence(lit(0), size(col("ts")) - w)).as("pos"))
      .select(
        col("doc_id"),
        col("pos"),
        md5(array_join(slice(col("ts"), col("pos") + 1, lit(w)), " "))
          .as("sig"))
    // A shingle is cross-document-repeated iff >=2 distinct doc_ids share
    // its sig ⟺ min(doc_id) != max(doc_id) within the sig partition. The
    // window form needs ONE pass over the shingles (one shuffle by sig)
    // where a groupBy+semi-join would scan and shuffle the explode twice.
    val bySig = Window.partitionBy(col("sig"))
    val islands = sh
      .withColumn(
        "rep",
        min(col("doc_id")).over(bySig) =!= max(col("doc_id")).over(bySig))
      .filter(col("rep"))
      .withColumn(
        "island",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    islands
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("run") + (w - 1)).as("repeated_tokens"),
        (max(col("run")) + (w - 1)).as("max_span_tokens"))
  }

  /** Content-defined chunking (the rsync/LBFS/restic idea at word
    * granularity): a chunk boundary falls AFTER token i whenever the
    * rolling w-gram ending at i hashes to 0 mod `divisor`, so boundaries
    * are determined by CONTENT, not position — an insertion near the
    * start of a document shifts every fixed-width chunk (q94's scheme
    * finds nothing) but CDC boundaries resynchronize at the next content
    * match and every later chunk dedups again. Expected chunk length =
    * `divisor` tokens.
    *
    * Same scale shape as [[repeatedSpans]]: position explode with
    * codegen'd md5 per row, ONE doc-keyed shuffle for the boundary
    * cumsum + chunk assembly, one chunk-hash-keyed window for cross-doc
    * sharing. The hash is the engine-independent first-8-hex-digits md5
    * ([[graft.operators.Winnow]]), so a SQL oracle replays boundaries
    * and chunk identity exactly.
    *
    * Output per doc: (doc_id, n_chunks, n_shared_chunks,
    * max_chunk_tokens) — `n_shared_chunks` counts this doc's chunks
    * whose content appears in at least one OTHER document.
    */
  def cdcChunks(docs: DataFrame, w: Int = 4, divisor: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, "w must be >= 2")
    require(divisor >= 2, "divisor must be >= 2")
    val ts = split(col("text"), " ")
    val toks = docs
      .select(col("doc_id"), ts.as("ts"))
      .select(
        col("doc_id"),
        col("ts"),
        posexplode(col("ts")).as(Seq("pos", "tok")))
    // boundary after position i: md5 of the w-gram ending at i ≡ 0 (mod d)
    val gram = array_join(slice(col("ts"), col("pos") - (w - 2), lit(w)), " ")
    val flagged = toks.withColumn(
      "b",
      when(
        col("pos") >= w - 1,
        pmod(
          conv(substring(md5(gram), 1, 8), 16, 10).cast("long"),
          lit(divisor.toLong)) === 0L)
        .otherwise(lit(false)))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val chunks = flagged
      .withColumn(
        "chunk_id",
        coalesce(
          sum(when(col("b"), 1L).otherwise(0L))
            .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        md5(
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              s => s.getField("tok")),
            " ")).as("chunk_md5"))
    val byChunk = Window.partitionBy(col("chunk_md5"))
    chunks
      .withColumn(
        "shared",
        min(col("doc_id")).over(byChunk) =!= max(col("doc_id")).over(byChunk))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_shared_chunks"),
        max(col("n_tok")).as("max_chunk_tokens"))
  }
}
