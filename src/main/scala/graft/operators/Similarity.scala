package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.natives.cosineSim

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, mirroring how a 100 TB corpus is actually served:
  *  - [[annBruteForce]]: exact top-k — the query side is broadcast, the
  *    corpus is scanned once; correct but O(|corpus|·|queries|). Baseline and
  *    oracle; fine when queries are few.
  *  - [[annLsh]]: random-hyperplane LSH — deterministic signed projections
  *    bucket the corpus (one narrow map + one shuffle); only bucket-colliding
  *    candidates are scored. The scale path: cost ∝ bucket sizes, not n².
  *
  * Scoring is the native codegen'd [[org.apache.spark.sql.graft.CosineSimilarity]]
  * kernel (double accumulation, element order) — no UDF boxing on the hot path.
  */
object Similarity {

  /** Exact top-k: for each query vector, the k nearest corpus vectors by
    * cosine. Query side must be small (it's broadcast).
    */
  def annBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(embCol).as("__qe"))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** MMR — Maximal Marginal Relevance (Carbonell & Goldstein 1998) —
    * diversified top-k: position 1 is the plain relevance argmax, every
    * later position maximizes λ·rel(q,d) − (1−λ)·max_{s∈selected}
    * sim(d,s), so near-duplicate results can't crowd the list (the
    * retrieval-side counterpart of SemDedup). Greedy is inherently
    * sequential in k but fully parallel across queries: each of the k−1
    * rounds is one keyed join + one exact struct-extrema argmax over ALL
    * queries at once — no driver-side per-query loop.
    *
    * Scale shape: relevance scoring is the [[annBruteForce]] broadcast
    * scan ([[mmrTopKLsh]] is the ANN-pooled scale tier — the greedy stage
    * only ever sees poolK rows per query); the pairwise-sim table is
    * per-query-quadratic but BOUNDED at poolK² rows per query and keyed
    * by query id; ties break (score DESC, id ASC) via struct extrema, no
    * max_by nondeterminism. Output is rank-only (query, position, doc,
    * relevance rank) — no float column, so the result hashes identically
    * across engines. A query whose candidate pool has fewer than k docs
    * fills as many positions as it can.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int = 5, poolK: Int = 20,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && poolK >= k && lambda >= 0.0 && lambda <= 1.0,
      "mmrTopK: k >= 1, poolK >= k, lambda in [0, 1]")
    val q = queries.select(col(queryIdCol).as("query_id"), col(embCol).as("__qe"))
    val scored = corpus.select(col(idCol).as("doc_id"), col(embCol).as("__ce"))
      .join(broadcast(q), col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        cosineSim(col("__qe"), col("__ce")).as("rel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val pool = scored.withColumn("rel_rank", row_number().over(w))
      .filter(col("rel_rank") <= poolK)
    mmrGreedy(pool, corpus, idCol, embCol, k, lambda)
  }

  /** MMR at scale: identical greedy diversification, but the candidate
    * POOL comes from the multi-table LSH machinery ([[annLsh]]'s bucket
    * join) instead of the corpus×queries broadcast scan — the missing
    * scale tier the [[mmrTopK]] docstring promises. Recall-traded by
    * construction (a pool member must share an LSH bucket with its
    * query), so this is a DECLARED-approximate path: positions are exact
    * MMR over the recalled pool, every emitted (query, doc) is a genuine
    * corpus neighbor with its true relevance rank within the pool, and
    * the spec checks fair pool recall against [[mmrTopK]]'s brute pool.
    * The greedy stage only ever sees ≤ poolK rows per query either way —
    * swapping the pool source changes the corpus-scan cost from
    * O(|corpus|·|queries|) to bucket-collision volume and nothing else.
    */
  def mmrTopKLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int = 5, poolK: Int = 20,
      lambda: Double = 0.5, numPlanes: Int = 4, numTables: Int = 8,
      seed: Long = 42L, dim: Int = 64): DataFrame = {
    require(k >= 1 && poolK >= k && lambda >= 0.0 && lambda <= 1.0,
      "mmrTopKLsh: k >= 1, poolK >= k, lambda in [0, 1]")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val pool = lshScoredCandidates(corpus, queries, idCol, queryIdCol,
      embCol, numPlanes, numTables, seed, dim)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cs").as("rel"))
      .withColumn("rel_rank", row_number().over(w))
      .filter(col("rel_rank") <= poolK)
    mmrGreedy(pool, corpus, idCol, embCol, k, lambda)
  }

  /** The k−1 greedy MMR rounds shared by [[mmrTopK]] (brute pool, oracle
    * tier) and [[mmrTopKLsh]] (LSH pool, scale tier). `pool` carries one
    * (query_id, doc_id, rel, rel_rank ≤ poolK) row per candidate; the
    * pairwise-sim table is poolK²-bounded per query and both are
    * checkpointed once — each greedy round re-reads them, never the
    * corpus scan that produced the pool.
    */
  private def mmrGreedy(poolIn: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, lambda: Double): DataFrame = {
    val pool = poolIn.localCheckpoint() // consumed every greedy round
    val pv = pool.select(col("query_id"), col("doc_id"))
      .join(corpus.select(col(idCol).as("doc_id"), col(embCol).as("__e")),
        Seq("doc_id"))
    val psim = pv
      .select(col("query_id"), col("doc_id").as("__a"), col("__e").as("__ea"))
      .join(pv.select(col("query_id"), col("doc_id").as("__b"),
        col("__e").as("__eb")), Seq("query_id"))
      .filter(col("__a") =!= col("__b"))
      .select(col("query_id"), col("__a"), col("__b"),
        cosineSim(col("__ea"), col("__eb")).as("__s"))
      .localCheckpoint() // poolK²-bounded per query; consumed every round
    var selected = pool.filter(col("rel_rank") === 1)
      .select(col("query_id"), col("doc_id"), lit(1).as("position"))
      .localCheckpoint()
    for (i <- 2 to k) {
      val remaining = pool
        .join(selected.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_anti")
      val ms = remaining
        .select(col("query_id"), col("doc_id").as("__a"), col("rel"))
        .join(selected.select(col("query_id"), col("doc_id").as("__b")),
          Seq("query_id"))
        .join(psim, Seq("query_id", "__a", "__b"))
        .groupBy(col("query_id"), col("__a"), col("rel"))
        .agg(max(col("__s")).as("__ms"))
      val next = ms
        .withColumn("__score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__ms"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("__score"), (-col("__a")).as("__nid"),
          col("__a").as("__id"))).getField("__id").as("doc_id"))
        .select(col("query_id"), col("doc_id"), lit(i).as("position"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected
      .join(pool.select(col("query_id"), col("doc_id"), col("rel_rank")),
        Seq("query_id", "doc_id"))
      .select(col("query_id"), col("position"), col("doc_id"), col("rel_rank"))
  }

  /** Symmetric int8 quantization of a float-vector column (scale =
    * max|x|/127, zero vector → zeros): floor(x·127/m + 0.5) in DOUBLE so
    * both engines round identically (round()'s half-rule is not
    * bit-specified cross-engine). ONE definition shared by
    * q_x_embed_quant, [[embedDimMoments]], and the streaming drift twin.
    */
  def int8Quant(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x)))
    when(m === 0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec,
        x => floor(x * lit(127.0) / m + lit(0.5)).cast("long")))
  }

  /** Per-DIMENSION embedding moments for a reference cohort (even ids) vs
    * current (odd): counts, Σq, Σq² over the [[int8Quant]] domain — every
    * statistic an exact integer — plus the cross-multiplied mean-shift
    * numerator per dim. All sums are ADDITIVE, so the same definition
    * serves the batch registry entry and the streaming encoder-health
    * twin (micro-batch merge order cannot show through — the
    * incremental-rollup argument). One posexplode + a dim-keyed groupBy;
    * map-side partial aggregation absorbs the dim× fan-out.
    */
  def embedDimMoments(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    emb.select(pmod(col(idCol), lit(2)).as("__coh"),
        posexplode(int8Quant(col(embCol))).as(Seq("__d", "__q")))
      .groupBy(col("__d"))
      .agg(
        sum(when(col("__coh") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__coh") === 1, 1L).otherwise(0L)).as("n_cur"),
        sum(when(col("__coh") === 0, col("__q")).otherwise(0L)).as("sum_ref"),
        sum(when(col("__coh") === 1, col("__q")).otherwise(0L)).as("sum_cur"),
        sum(when(col("__coh") === 0, col("__q") * col("__q")).otherwise(0L))
          .as("ss_ref"),
        sum(when(col("__coh") === 1, col("__q") * col("__q")).otherwise(0L))
          .as("ss_cur"))
      .select((col("__d") + 1).cast("int").as("dim"),
        col("n_ref"), col("n_cur"), col("sum_ref"), col("sum_cur"),
        col("ss_ref"), col("ss_cur"),
        abs(col("sum_ref") * col("n_cur") - col("sum_cur") * col("n_ref"))
          .as("mean_drift_num"))

  /** Exact-integer GRAM / covariance accumulator over the [[int8Quant]]
    * domain — the d×d second-moment statistic behind whitening, PCA, and
    * covariance-shift monitoring of an embedding corpus. One row per
    * upper-triangle dim pair (i ≤ j, 1-based): vector count, Σqᵢqⱼ and the
    * marginal sums Σqᵢ, Σqⱼ — everything the covariance numerator
    * n·Σqᵢqⱼ − Σqᵢ·Σqⱼ needs, all EXACT integers (order-independent adds:
    * no fold pinning anywhere, and the statistic is ADDITIVE, so the
    * streaming twin is exact by construction — the [[embedDimMoments]]
    * argument).
    *
    * Scale shape: the outer product expands PER ROW as a nested-transform
    * array (d(d+1)/2 structs, a narrow codegen'd map — no self-join, no
    * per-vector shuffle), then ONE (i, j)-keyed aggregation whose map-side
    * partial combine collapses the d² fan-out to 2080 keys per task
    * before anything moves. Σ|qᵢqⱼ| ≤ n·127² keeps the RAW sums inside
    * int64 to n ≈ 5·10¹⁴ vectors; the convenience `cov_num` column
    * (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) is exact to n ≈ 7·10⁸ — past that, derive it
    * from the raw sums in double/decimal (they are the contract; the
    * numerator is a convenience, the BM25-guard stance).
    */
  def embedGram(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // r20: ONE native triangle accumulator (GramAgg) instead of a
    // d(d+1)/2-struct nested-transform explode + (i, j)-keyed aggregate —
    // the explode built 2080 interpreted-HOF struct allocations per 64-dim
    // vector (a 4M-row stream at sf0.1) to feed a hash aggregate; the
    // aggregate walks the quant array once per vector into a flat long
    // triangle (~66 KB state at d=64) and partials merge element-wise.
    // Additive exact integers ⇒ bit-identical at any accumulation order —
    // the row's own declared argument — and at corpus scale the shuffle
    // carries one triangle per task instead of d²/2 rows per vector.
    val q = emb.select(int8Quant(col(embCol)).as("__q"))
    q.agg(org.apache.spark.sql.graft.natives.gramAgg(col("__q")).as("__g"))
      .select(explode(col("__g")).as("__p"))
      .select(col("__p.i").as("i"), col("__p.j").as("j"), col("__p.n").as("n"),
        col("__p.sum_qq").as("sum_qq"), col("__p.sum_qi").as("sum_qi"),
        col("__p.sum_qj").as("sum_qj"),
        (col("__p.n") * col("__p.sum_qq") - col("__p.sum_qi") * col("__p.sum_qj"))
          .as("cov_num"))
  }

  /** Top principal direction of the quantized-embedding covariance —
    * fixed-round POWER ITERATION over the [[embedGram]] table: the
    * PCA-whitening axis, computed WITHOUT ever collecting the corpus.
    * The corpus appears exactly once (the Gram accumulation, a narrow
    * map + one (i, j)-keyed agg); every iteration then multiplies the
    * d×d covariance numerator matrix (2080-row table, symmetrized) by
    * the current direction — d-row joins and folds, size-independent of
    * the corpus.
    *
    * Determinism contract (the pageRank argument): round 1 multiplies
    * the all-ones start vector by the INTEGER matrix (order-independent
    * integer sums); each round max-|·|-normalizes with one double
    * division; later rounds fold the d per-dim products in j-ASCENDING
    * order — so every loading is a fixed double expression tree both
    * engines replay bit-for-bit. max-abs normalization (not L2) keeps
    * each round one division — no square root, whose cross-engine
    * bit-identity is guaranteed anyway but whose argument would be an
    * order-sensitive sum. A zero matrix yields all-zero loadings (the
    * CASE guard) rather than NaN.
    */
  def topPrincipalDirection(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", iters: Int = 3): DataFrame = {
    require(iters >= 1, "topPrincipalDirection: iters >= 1")
    val g = embedGram(emb, idCol, embCol).localCheckpoint()
    val sym = g.select(col("i"), col("j"), col("cov_num").as("c"))
      .unionByName(g.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov_num").as("c")))
      .localCheckpoint()
    val w1 = sym.groupBy(col("i")).agg(sum(col("c")).as("w"))
    val m1 = w1.agg(max(abs(col("w"))).as("m"))
    var v: DataFrame = w1.crossJoin(broadcast(m1))
      .select(col("i").as("j"),
        when(col("m") === 0, lit(0.0))
          .otherwise(col("w").cast("double") / col("m").cast("double")).as("v"))
    for (_ <- 2 to iters) {
      // r19: j-ascending fold as a running window sum (Ops.orderedFoldSum —
      // bit-identical association order, no collected row-sized array)
      val w = graft.functions.Ops.orderedFoldSum(
        sym.join(v, Seq("j"))
          .select(col("i"), col("j"),
            (col("c").cast("double") * col("v")).as("t")),
        Seq("i"), Seq("j"), "t", "w")
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          when(col("m") === 0, lit(0.0)).otherwise(col("w") / col("m")).as("v"))
    }
    v.select(col("j").cast("int").as("dim"), col("v").as("loading"))
      .orderBy(col("dim"))
  }

  /** Brute-force near-duplicate pairs: all (a<b) with cosine ≥ threshold.
    * O(n²) by construction — this is the small-corpus baseline / oracle; use
    * [[annLsh]]-style bucketing at scale.
    */
  def nearDupPairsCosine(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val l = embeddings.select(col(idCol).as("a"), col(embCol).as("__ea"))
    val r = embeddings.select(col(idCol).as("b"), col(embCol).as("__eb"))
    l.crossJoin(r).filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosineSim(col("__ea"), col("__eb")).as("cs"))
      .filter(col("cs") >= threshold)
      .select(col("a"), col("b"), round(col("cs"), 4).as("cos_sim"))
  }

  /** Multi-table hyperplane bucketing shared by [[annLsh]] and
    * [[nearDupPairsCosineLsh]] — one (t, bv) struct per table per vector.
    * Both paths MUST share this (seed spacing, field names, explode shape)
    * so their bucket semantics can never diverge.
    */
  private def lshTableBuckets(emb: Column, numPlanes: Int, numTables: Int,
      dim: Int, seed: Long): Column = {
    val tables = (0 until numTables).map(t => hyperplanes(numPlanes, dim, seed + t * 1000003L))
    explode(array(tables.zipWithIndex.map {
      case (planes, t) => struct(lit(t).as("t"), lshBucket(emb, planes).as("bv"))
    }: _*))
  }

  /** The SIZING RULE of [[nearDupPairsCosineLsh]] as code: numPlanes ≈
    * log2(n / targetBucketSize), floored at 4. Callers that know only the
    * corpus (not its size) should pass `df.count()` here rather than pin a
    * plane count — a pinned count is quadratic the day the corpus grows past
    * its sizing (measured: 10× corpus at numPlanes=5 ran 22× the time; auto
    * re-sized it is linear). The count is one metadata-cheap job next to the
    * pair join it protects.
    */
  def autoPlanes(corpusSize: Long, targetBucketSize: Int = 256): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize)) / math.log(2.0)).toInt)

  /** Scale path for embedding near-dup: multi-table hyperplane LSH — vectors
    * sharing a (table, bucket) become candidate pairs, verified with exact
    * cosine ≥ threshold. Probabilistic recall by construction — the
    * all-pairs [[nearDupPairsCosine]] is the exact baseline it is
    * recall-spec-checked against.
    *
    * SIZING RULE (unlike the text pipelines, whose md5 band hashes have an
    * effectively unbounded keyspace): the bucket keyspace here is only
    * numTables × 2^numPlanes, so numPlanes must grow with the corpus —
    * numPlanes ≈ log2(n / targetBucketSize) — or every bucket goes over
    * `maxBucketSize` and the star guard truncates recall to hub edges. The
    * guard ([[BandFront]], published as `emb_lsh_hot_buckets`) is a safety
    * valve for genuine near-identical clusters, not a substitute for
    * sizing. The pairing self-join is salted because the raw (t, bv)
    * keyspace would cap shuffle parallelism.
    */
  def nearDupPairsCosineLsh(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double, numPlanes: Int = 4, numTables: Int = 8, seed: Long = 42L,
      dim: Int = 64, maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    requireDim(embeddings, embCol, dim, "nearDupPairsCosineLsh")
    // candidate generation carries BARE IDS — pairs are deduped across the
    // numTables bucketings first, and the (wide) embedding arrays are
    // attached once per surviving pair, not once per candidate occurrence
    // (array-through-every-bucket-join was ~10× the cost at sf0.1)
    val b = embeddings
      .select(col(idCol).as("id"),
        lshTableBuckets(col(embCol), numPlanes, numTables, dim, seed).as("b"))
      .select(col("id"), col("b.t").as("t"), col("b.bv").as("bv"))
    val cand = BandFront.selfPairs(b, "id", Seq("t", "bv"), "emb_lsh_hot_buckets",
      maxBucketSize, salted = true)
    val ea = embeddings.select(col(idCol).as("a"), col(embCol).as("__ea"))
    val eb = embeddings.select(col(idCol).as("b"), col(embCol).as("__eb"))
    cand.join(ea, Seq("a")).join(eb, Seq("b"))
      .select(col("a"), col("b"), cosineSim(col("__ea"), col("__eb")).as("cs"))
      .filter(col("cs") >= threshold)
      .select(col("a"), col("b"), round(col("cs"), 4).as("cos_sim"))
  }

  /** Deterministic coordinate-sign quantizer: bit p of the cell id is the
    * sign of coordinate `coords(p)`. The oracle-anchorable cell assignment
    * (no random-projection dot product whose fold order could flip a
    * near-zero sign between engines) shared by the exact-LSH twin, the
    * SemDedup cell stage, and their specs; the production assignment is
    * the IVF codebook.
    */
  def signCells(emb: Column, coords: Seq[Int]): Column =
    coords.zipWithIndex.map { case (d, p) =>
      when(emb.getItem(d) > lit(0.0f), lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Within-cell candidate pairs (a < b) over a single cell column — the
    * [[nearDupPairsCosineLsh]] front for a one-table bucketing (SemDedup's
    * sign cells, an IVF codebook assignment). A fixed cell space otherwise
    * guarantees O((n/cells)²) fan-out as the corpus grows, so cells carry
    * the [[BandFront]] guard (published as `cell_hot_buckets`), and the
    * self-join is salted because the cell keyspace is small.
    */
  def cellCandidatePairs(cells: DataFrame, idCol: String, cellCol: String,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame =
    BandFront.selfPairs(cells.select(col(idCol).as("id"), col(cellCol).as("__cell")),
      "id", Seq("__cell"), "cell_hot_buckets", maxBucketSize, salted = true)

  /** Deterministic pseudo-random hyperplanes: component d of plane p is a
    * hash of (seed, p, d) mapped to [-1, 1]. Pure driver-side doubles — the
    * planes are data-independent literals in the plan.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    Array.tabulate(numPlanes, dim) { (p, d) =>
      // splitmix64-style scramble: deterministic, platform-independent
      var z = seed + p.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z.toDouble / Long.MaxValue.toDouble)
    }
  }

  /** LSH signature: an int bucket whose bit p is the sign of dot(v, plane_p).
    * Narrow map over the corpus — no shuffle, no UDF (the dot products are
    * built-in aggregate() folds over zip_with).
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      // r19: native element-order fold (dot_fd) — bit-identical to the
      // zip_with cast-multiply/aggregate chain, codegen'd per plane
      val dot = org.apache.spark.sql.graft.natives.dotFD(emb, planeCol)
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  // per-cell unit centroids → one codebook row: cb = array<struct<cell, centroid>>
  // (input carries cols `cell` and `__e`)
  private def ivfToCodebook(assigned: DataFrame): DataFrame =
    // r19: ONE cell-keyed aggregate (native element-wise vector sum +
    // count → mean) instead of posexplode → per-(cell, pos) avg →
    // re-collect — a dim× narrower shuffle and one exchange fewer per
    // Lloyd pass. Centroid values stay the same shuffle-order-double
    // class the tier declares (oracles replay STORED codebooks).
    // denominator counts the NON-NULL vectors — the rows FloatVectorSumAgg
    // actually accumulated (count(lit(1)) would count a NULL-embedding row
    // the sum skipped and deflate the centroid; the replaced posexplode+avg
    // form excluded NULL rows from both sides). No-op on NULL-free
    // training folds — the tested corpora — so stored-codebook oracles
    // are unchanged.
    assigned.groupBy(col("cell"))
      .agg(count(col("__e")).as("__n"),
        org.apache.spark.sql.graft.natives.floatVectorSum(col("__e")).as("__s"))
      .select(col("cell"), expr("transform(__s, x -> x / __n)").as("c"))
      .select(col("cell"), expr(
        "transform(c, x -> CAST(x / sqrt(greatest(" +
          "aggregate(c, CAST(0.0 AS DOUBLE), (a, v) -> a + v * v), 1e-30)) AS FLOAT))")
        .as("centroid"))
      .localCheckpoint()
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cb"))

  /** Cells of the codebook array in `cbCol` ranked by DESCENDING dot with
    * the vector in `embCol` (the negdot-sort trick) — the ONE definition of
    * coarse-cell ranking, shared by [[ivfAssignCells]], the [[annIvfPq]]
    * single-pass corpus encode, and the streaming vector-admission gate
    * ([[graft.streaming.StreamJobs]] ranks incoming vectors inline so the
    * stream can carry its event-time column through — ivfAssignCells'
    * staged select drops extra columns).
    */
  def coarseRankExpr(cbCol: String, embCol: String): Column =
    // r19: the per-cell dot is the native element-order fold (DotFF —
    // bit-identical to the zip_with/aggregate chain; the transform/sort
    // over nCells structs stays interpreted but is now O(nCells), not
    // O(nCells·dim) of boxed lambda dispatch per row). Column API, not an
    // expr() string: natives resolve structurally, no session-registered
    // SQL function needed (plain sessions build these plans too).
    array_sort(transform(col(cbCol), s => struct(
      (-org.apache.spark.sql.graft.natives
        .dotFF(s.getField("centroid"), col(embCol))).as("negdot"),
      s.getField("cell").as("cell"))))

  // rank cells by dot against the broadcast codebook; keep the best `keep`
  private def ivfAssignCells(df: DataFrame, embCol: String, id: Column,
      keep: Int, codebook: DataFrame): DataFrame = {
    // __e must be a real column before the explode expr references it
    // (Generate cannot hold a lateral column alias)
    val staged = df.select(id, col(embCol).as("__e"))
    staged.crossJoin(broadcast(codebook))
      .withColumn("sc", explode(slice(coarseRankExpr("cb", "__e"), 1, keep)))
      .select(col(staged.columns.head), col("__e"), col("sc.cell").as("cell"))
  }

  /** [[ivfAssignCells]] against a CALLER-SUPPLIED codebook — the add()/
    * search() half of a persisted IVF index ([[graft.serve.AnnIndex]]):
    * assignment is a deterministic narrow map GIVEN the codebook, so
    * appended vectors and queries rank cells exactly as the build did, with
    * no retrain. Returns (`outId`, `__e` staged embedding, `cell`), one row
    * per kept cell.
    */
  def ivfAssignWith(df: DataFrame, embCol: String, outId: Column,
      keep: Int, codebook: DataFrame): DataFrame =
    ivfAssignCells(df, embCol, outId, keep, codebook)

  /** Codebook-training sample cap — the FAISS rule (~256 training vectors
    * per centroid, floored high enough that test-scale corpora never
    * sample): Lloyd refinement learns cell GEOMETRY, which a bounded
    * representative sample pins as well as the full corpus, while the
    * semantics-bearing assignment pass stays full-corpus. This kills the
    * one remaining ∝ n^1.5 step in the index lifecycle: at the √n cell
    * rule, training cost drops from n·√n (full-corpus Lloyd — days at
    * 100 TB) to cap·√n ≈ 256·n (minutes), and the per-pass scan reads the
    * materialized sample, not the corpus.
    */
  def defaultTrainCap(nCells: Int): Long = math.max(256L * nCells, 65536L)

  /** Bounded training sample: a deterministic hash stride over ids — not
    * `sample()`, whose partition-order randomness would change the trained
    * codebook across identical runs for zero recall benefit — materialized
    * with localCheckpoint so each Lloyd pass re-scans ~cap rows instead of
    * re-running the corpus scan. At or below the cap the corpus passes
    * through untouched (the small-corpus path — bit-identical to
    * pre-sampling behavior, which keeps the test-SF spec corpus exact).
    */
  private def trainingSample(corpus: DataFrame, idCol: String, cap: Long): DataFrame = {
    val n = corpus.count()
    if (n <= cap) corpus
    else {
      val stride = math.max(2L, math.round(n.toDouble / cap.toDouble))
      corpus.filter(pmod(hash(col(idCol)), lit(stride)) === 0).localCheckpoint()
    }
  }

  /** The distributed IVF codebook alone: hash-seeded cells refined by
    * `lloydIters` spherical k-means passes over a BOUNDED training sample
    * ([[defaultTrainCap]]; `trainCap` > 0 overrides, 0 disables sampling),
    * carried as ONE broadcast row (see [[annIvf]] for the shape rationale).
    * Sampling changes which codebook is learned, never the downstream
    * determinism argument: census/serve/admission replay from the STORED
    * codebook, and assignment stays a full-corpus narrow map.
    */
  def ivfCodebook(corpus: DataFrame, idCol: String, embCol: String,
      nCells: Int = 16, lloydIters: Int = 2, trainCap: Long = -1L): DataFrame = {
    val cap = if (trainCap >= 0L) trainCap else defaultTrainCap(nCells)
    val train =
      if (cap == 0L) corpus.select(col(idCol).as("__tid"), col(embCol).as("__te"))
      else trainingSample(
        corpus.select(col(idCol).as("__tid"), col(embCol).as("__te")), "__tid", cap)
    var codebook = ivfToCodebook(train.select(
      pmod(hash(col("__tid")), lit(nCells)).as("cell"), col("__te").as("__e")))
    for (_ <- 1 to lloydIters)
      codebook = ivfToCodebook(
        ivfAssignCells(train, "__te", col("__tid").as("id"), 1, codebook)
          .select(col("cell"), col("__e")))
    codebook
  }

  /** One (id, cell) row per corpus vector — its nearest Lloyd centroid.
    * This is the PRODUCTION cell assignment for [[semDedup]] (a data-adaptive
    * drop-in for the oracle-anchorable [[signCells]] quantizer): cells track
    * the actual embedding distribution, so near-duplicates co-locate with
    * higher recall than fixed coordinate signs. Not bit-deterministic across
    * partitionings (the centroid averages are shuffle-order doubles) — the
    * sign-cell twin is the hash-checked tier, this one is spec-bounded.
    */
  def ivfCells(corpus: DataFrame, idCol: String, embCol: String,
      nCells: Int = 16, dim: Int = 64, lloydIters: Int = 2): DataFrame = {
    requireDim(corpus, embCol, dim, "ivfCells corpus")
    ivfAssignCells(corpus, embCol, col(idCol).as(idCol), 1,
      ivfCodebook(corpus, idCol, embCol, nCells, lloydIters))
      .select(col(idCol), col("cell"))
  }

  /** SemDedup core (Abbas et al. 2023), shared by the sign-cell oracle twin
    * and the IVF production tier: cells → star-guarded within-cell
    * candidates ([[cellCandidatePairs]]) → exact cosine ≥ threshold →
    * hash-min transitive closure → one survivor per semantic cluster
    * (+ singletons), with per-survivor merge counts.
    */
  def semDedup(emb: DataFrame, cells: DataFrame, idCol: String, embCol: String,
      threshold: Double, maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val cand = cellCandidatePairs(cells, idCol, "cell", maxBucketSize)
    val ea = emb.select(col(idCol).as("a"), col(embCol).as("__ea"))
    val eb = emb.select(col(idCol).as("b"), col(embCol).as("__eb"))
    val pairs = cand.join(ea, Seq("a")).join(eb, Seq("b"))
      .filter(cosineSim(col("__ea"), col("__eb")) >= threshold)
      .select(col("a"), col("b"))
    val clusters = Dedup.duplicateClusters(pairs, "a", "b", idCol = idCol)
    Dedup.survivors(cells, clusters, idCol)
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nCells` cells by
    * nearest centroid, then search only the query's `nProbe` closest cells.
    *
    * The codebook is fully distributed: seed centroids are one averaging
    * pass over a hash-assigned partition, refined by `lloydIters` spherical
    * k-means iterations (assign to nearest unit centroid → re-average →
    * re-normalize), and carried as a ONE-ROW broadcast DataFrame of
    * (cell, centroid) structs — no driver `.collect()` at any codebook size;
    * the broadcast ceiling (not the driver heap or a SQL-literal plan node)
    * bounds nCells × dim. Cell assignment stays a narrow map: each vector
    * cross-joins the single broadcast codebook row and ranks cells with an
    * `aggregate`/`zip_with` dot product; the search shuffles on cell id only.
    * Each iteration's tiny per-cell table is localCheckpointed so iteration
    * N doesn't re-run iterations 1..N-1's corpus scans.
    */
  def annIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, dim: Int = 64,
      lloydIters: Int = 2): DataFrame = {
    requireDim(corpus, embCol, dim, "annIvf corpus")
    requireDim(queries, embCol, dim, "annIvf queries")
    val codebook = ivfCodebook(corpus, idCol, embCol, nCells, lloydIters)
    val c = ivfAssignCells(corpus, embCol, col(idCol).as("neighbor_id"), 1, codebook)
      .withColumnRenamed("__e", "__ce")
    val q = ivfAssignCells(queries, embCol, col(queryIdCol).as("query_id"), nProbe, codebook)
      .withColumnRenamed("__e", "__qe")
    topKPerQuery(c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs")), "cs", k)
  }

  /** Top-`k` (query_id, rank, neighbor_id) rows of scored candidates
    * (query_id, neighbor_id, `scoreCol`) in which one pair may come more
    * than once (a query probes several cells; an id sits in two segments):
    * `dense_rank()` over (score DESC, neighbor_id ASC) per query, keep
    * rank ≤ k, then one row per (query_id, rank, neighbor_id). The rank is
    * an IntegerType, 1-based, with ties in score broken by neighbor id.
    *
    * Contract: the rows equal the distinct (query_id, neighbor_id, score)
    * triples ranked by `row_number()` over the same order. Copies of one
    * triple tie in the order, so they share a dense rank and collapse in
    * the final dedup; distinct triples of one query differ in (score,
    * neighbor_id) and rank consecutively. That is exact for the PQ forms,
    * which ranked distinct triples. The cosine forms deduplicated on
    * (query_id, neighbor_id) alone, which is the same thing while a pair's
    * copies carry one score, i.e. while corpus ids are unique; an id with
    * two embeddings was an arbitrary pick there and is ranked twice here.
    *
    * Cost: one exchange. The dedup groups by keys that include the
    * window's `query_id`, so it runs on the window's partitioning; the
    * dedup-then-rank form needed a second exchange on (query_id,
    * neighbor_id).
    */
  private[graft] def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id").asc)
    scored.withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .dropDuplicates("query_id", "rank", "neighbor_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Fail fast on mismatched embedding lengths with a SAMPLED probe: the
    * first 1000 rows only, a pruned local scan. A full-corpus pre-scan cost
    * two extra passes over the (at scale, dominant) embedding column per
    * query for a check the scoring kernel repeats anyway —
    * [[org.apache.spark.sql.graft.NativeKernels.cosine]] throws on any
    * ragged pair it actually scores. The probe catches the common
    * misconfiguration (a whole table at the wrong dim) before plan launch;
    * a lone ragged row past the sample dies at scoring time instead of
    * silently null-poisoning its bucket.
    */
  private def requireDim(df: DataFrame, embCol: String, dim: Int, what: String): Unit = {
    val bad = df.select(size(col(embCol)).as("d")).limit(1000)
      .filter(col("d") =!= dim).limit(1).count()
    require(bad == 0, s"$what: embedding length differs from dim=$dim")
  }

  /** Multi-table LSH ANN (OR-amplification): L independent tables of k
    * hyperplanes each; a corpus vector is a candidate if it shares a bucket
    * with the query in ANY table. Recall ≈ 1−(1−p^k)^L for per-plane
    * agreement p = 1−θ/π; tune (k, L) for the corpus's similarity profile —
    * near-orthogonal corpora need more tables. Cost: one shuffle on
    * (table, bucket); candidates are deduped before scoring.
    */
  def annLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int,
      numPlanes: Int = 4, numTables: Int = 8, seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id").asc)
    lshScoredCandidates(corpus, queries, idCol, queryIdCol, embCol,
      numPlanes, numTables, seed, dim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The multi-table LSH candidate join with exact cosine scores —
    * (query_id, neighbor_id, cs), deduped across tables. Shared by
    * [[annLsh]] (rank-k output) and [[mmrTopKLsh]] (pool source).
    */
  private def lshScoredCandidates(corpus: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, embCol: String,
      numPlanes: Int, numTables: Int, seed: Long, dim: Int): DataFrame = {
    // a dim mismatch null-poisons every dot product via zip_with padding and
    // silently collapses all vectors into one bucket (= full cross product);
    // fail fast instead — BOTH sides (the query side is just as poisonable)
    requireDim(corpus, embCol, dim, "annLsh corpus")
    requireDim(queries, embCol, dim, "annLsh queries")
    def buckets(emb: Column): Column = lshTableBuckets(emb, numPlanes, numTables, dim, seed)
    // per-(table, bucket) corpus occupancy: the window's (t, bv) exchange
    // is the partitioning the join needs anyway, so the census costs one
    // sort, not an extra shuffle (the BandFront __sz pattern)
    val wB = Window.partitionBy(col("t"), col("bv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce"),
      buckets(col(embCol)).as("b"))
      .select(col("neighbor_id"), col("__ce"), col("b.t").as("t"), col("b.bv").as("bv"))
      .withColumn("__bsz", count(lit(1)).over(wB))
    val q = queries.select(col(queryIdCol).as("query_id"), col(embCol).as("__qe"),
      buckets(col(embCol)).as("b"))
      .select(col("query_id"), col("__qe"), col("b.t").as("t"), col("b.bv").as("bv"))
    c.join(q, Seq("t", "bv"))
      // pool-volume census (r16 VERDICT item 5): at PINNED numPlanes the
      // per-bucket population grows with corpus size, and candidate volume
      // is Σ_buckets |c_b|·|q_b| — bucket blow-up must be measurable in
      // production BEFORE it hurts (the containment_hot_shingles stance).
      // Pre-dedup pair count = the actual join cost; max corpus bucket
      // occupancy = the skew hazard. Readable from any
      // QueryExecutionListener, zero extra jobs; autoPlanes is the
      // production re-sizing lever when these trend up.
      .observe("ann_lsh_pool",
        count(lit(1)).as("n_candidate_pairs"),
        max(col("__bsz")).as("max_bucket_size"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qe"), col("__ce"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
  }

  // (id, sub, sv): each vector split into m contiguous subspace slices
  private def pqSubVectors(df: DataFrame, idCol: String, embCol: String,
      m: Int, sd: Int): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("__e"))
      .select(col("id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), j -> " +
          s"struct(j AS sub, slice(__e, j * $sd + 1, $sd) AS sv))")).as("s"))
      .select(col("id"), col("s.sub").as("sub"), col("s.sv").as("sv"))

  // per-(sub, cell) mean sub-vectors → ONE broadcast row:
  // cb = array<struct<sub, cell, centroid>>. Sub-centroids are NOT
  // normalized: the full-vector dot decomposes as Σ_m ⟨q_m, x_m⟩ only if
  // codewords live in the raw (unnormalized) subspace.
  private def pqToCodebooks(assigned: DataFrame): DataFrame =
    // r19: one (sub, cell)-keyed aggregate (the ivfToCodebook move)
    // count(col("sv")), not count(lit(1)): the ivfToCodebook NULL-row
    // denominator alignment
    assigned.groupBy(col("sub"), col("cell"))
      .agg(count(col("sv")).as("__n"),
        org.apache.spark.sql.graft.natives.floatVectorSum(col("sv")).as("__s"))
      .select(col("sub"), col("cell"),
        expr("transform(__s, x -> CAST(x / __n AS FLOAT))").as("centroid"))
      .localCheckpoint()
      .agg(collect_list(struct(col("sub"), col("cell"), col("centroid"))).as("cb"))

  // nearest codeword per (id, sub, sv) by squared L2 against the broadcast
  // codebook row (the IVF negdot-sort trick, L2 flavor)
  private def pqAssign(subs: DataFrame, codebooks: DataFrame): DataFrame =
    subs.crossJoin(broadcast(codebooks))
      .withColumn("best", element_at(array_sort(transform(
        filter(col("cb"), s => s.getField("sub") === col("sub")),
        s => struct(
          org.apache.spark.sql.graft.natives
            .sqDistFF(s.getField("centroid"), col("sv")).as("d"),
          s.getField("cell").as("cell")))), 1))
      .select(col("id"), col("sub"), col("sv"), col("best.cell").as("cell"))

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI 2011):
    * the vector splits into `m` contiguous subspaces of dim/m dims, each
    * training its OWN `k`-codeword codebook — hash-seeded cells refined by
    * `lloydIters` k-means passes over the corpus's sub-vectors, all
    * distributed (the IVF codebook shape, keyed by (sub, cell)). Carried
    * as ONE broadcast row; nCodewords^m composite cells from m·k stored
    * centroids is the whole compression argument: 8 subspaces × 16
    * codewords addresses 16⁸ ≈ 4·10⁹ cells from 128 tiny vectors, and a
    * 64-float vector encodes to 8 small ints (32× smaller scan).
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, embCol: String,
      m: Int = 8, k: Int = 16, dim: Int = 64, lloydIters: Int = 2,
      trainCap: Long = -1L): DataFrame = {
    require(dim % m == 0, s"pq: dim=$dim not divisible by m=$m")
    val sd = dim / m
    // the coarse tier's bounded-sample rule, per subspace: every sampled
    // row contributes one training sub-vector to EACH of the m codebooks,
    // so the cap needs no m factor (k codewords, not nCells, set the 256×)
    val cap = if (trainCap >= 0L) trainCap else defaultTrainCap(k)
    val train =
      if (cap == 0L) corpus.select(col(idCol).as("__tid"), col(embCol).as("__te"))
      else trainingSample(
        corpus.select(col(idCol).as("__tid"), col(embCol).as("__te")), "__tid", cap)
    val subs = pqSubVectors(train, "__tid", "__te", m, sd)
    var cb = pqToCodebooks(subs.select(col("sub"),
      pmod(hash(col("id"), col("sub")), lit(k)).as("cell"), col("sv")))
    for (_ <- 1 to lloydIters)
      cb = pqToCodebooks(pqAssign(subs, cb).select(col("sub"), col("cell"), col("sv")))
    cb
  }

  /** PQ-encode: each vector → its m codeword ids, as ONE narrow map
    * against the broadcast codebook row (no explode, no shuffle — the
    * 100 TB encode pass is embarrassingly parallel).
    */
  def pqEncode(df: DataFrame, idCol: String, embCol: String,
      codebooks: DataFrame, m: Int, dim: Int, outIdCol: String): DataFrame =
    df.select(col(idCol).as(outIdCol), col(embCol).as("__e"))
      .crossJoin(broadcast(codebooks))
      .select(col(outIdCol), pqCodesExpr(m, dim / m, "cb", "__e").as("codes"))

  /** The m codeword ids (nearest per-subspace centroid by squared L2) for
    * the vector in `embCol` against the PQ codebook array in `cbCol` — the
    * ONE definition of the encode expression, shared by [[pqEncode]] and
    * the [[annIvfPq]] single-pass corpus encode.
    */
  /** The per-query (sub, codeword) → partial-dot ADC lookup table as a
    * MAP keyed sub·nCw + cell (cells can go extinct in a Lloyd round, so
    * the key set may be sparse). Partial dots are the native element-order
    * fold (DotFF) — bit-identical to the zip_with cast-multiply chain.
    */
  private[graft] def pqLutMap(nCw: Int, sd: Int, cbCol: String, embCol: String): Column =
    map_from_entries(transform(col(cbCol), s =>
      struct((s.getField("sub") * lit(nCw) + s.getField("cell")).as("k"),
        org.apache.spark.sql.graft.natives.dotFF(s.getField("centroid"),
          slice(col(embCol), s.getField("sub") * lit(sd) + lit(1), lit(sd))).as("v"))))

  private def pqCodesExpr(m: Int, sd: Int, cbCol: String, embCol: String): Column =
    // r19: the per-codeword distance is the native element-order fold
    // (SqDistFF — bit-identical to the cast-subtract-square zip_with
    // chain); the per-subspace argmin keeps the array_sort tie order.
    // Column API so plain (extension-less) sessions resolve it.
    transform(sequence(lit(0), lit(m - 1)), j =>
      element_at(array_sort(transform(
        filter(col(cbCol), s => s.getField("sub") === j),
        s => struct(
          org.apache.spark.sql.graft.natives.sqDistFF(
            s.getField("centroid"),
            slice(col(embCol), j * lit(sd) + lit(1), lit(sd))).as("d"),
          s.getField("cell").as("cell")))), 1).getField("cell"))

  /** PQ-scan ANN with asymmetric distance computation (ADC): the corpus is
    * scanned as 8-small-int CODES (32× less data than raw floats — the
    * scan-bandwidth argument for PQ at 100 TB); each query precomputes a
    * (sub, codeword) → partial-dot lookup table against the broadcast
    * codebook, and a candidate's approximate dot is the m-term LUT sum —
    * query vectors never meet raw corpus vectors. Top-k per query by
    * (score DESC, neighbor_id). Like [[annIvf]], Lloyd centroid averages
    * are shuffle-order doubles, so this tier is recall-spec-bounded, not
    * hash-oracled; [[annBruteForce]] is its exact twin.
    */
  def annPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int,
      m: Int = 8, nCodewords: Int = 16, dim: Int = 64,
      lloydIters: Int = 2): DataFrame = {
    requireDim(corpus, embCol, dim, "annPq corpus")
    requireDim(queries, embCol, dim, "annPq queries")
    val sd = dim / m
    val cb = pqCodebooks(corpus, idCol, embCol, m, nCodewords, dim, lloydIters)
    val codes = pqEncode(corpus, idCol, embCol, cb, m, dim, "neighbor_id")
    // per-query LUT keyed sub·k + cell (cells can go extinct in a Lloyd
    // round, so a MAP lookup, not positional indexing)
    // r19: partial dots via the native fold (DotFF inside pqLutMap), and
    // the per-candidate m-term score as ONE codegen'd call straight off
    // the sparse map (PqAdcScore: one entry pass + j-ascending fold)
    // instead of m interpreted linear-scan map lookups per candidate row.
    // Scores bit-identical (same doubles, same 0.0-seeded fold order).
    val q = queries.select(col(queryIdCol).as("query_id"), col(embCol).as("__q"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), pqLutMap(nCodewords, sd, "cb", "__q").as("lut"))
    val scored = codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score", org.apache.spark.sql.graft.natives
        .pqAdcScore(col("lut"), col("codes"), nCodewords))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** IVF-PQ composite — the production ANN architecture (what FAISS calls
    * IVFPQ): [[annIvf]]'s coarse centroid cells prune the corpus to the
    * query's `nProbe` nearest cells, and within those cells candidates are
    * scored through [[annPq]]'s compressed-code LUT instead of raw
    * vectors. The two prunings multiply: candidate COUNT shrinks by
    * ~nProbe/nCells (partitioning) and candidate WIDTH by 32×
    * (compression), so the per-query scan is both shorter and narrower
    * than either tier alone — the shape that serves billion-vector
    * corpora. Join on cell id only; the LUT rides the broadcast query
    * side.
    */
  def annIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, nCodewords: Int = 16, dim: Int = 64,
      lloydIters: Int = 2): DataFrame = {
    requireDim(corpus, embCol, dim, "annIvfPq corpus")
    requireDim(queries, embCol, dim, "annIvfPq queries")
    val sd = dim / m
    val coarse = ivfCodebook(corpus, idCol, embCol, nCells, lloydIters)
    val pq = pqCodebooks(corpus, idCol, embCol, m, nCodewords, dim, lloydIters)
    // corpus side: (neighbor_id, cell, codes) in ONE narrow pass — both
    // the coarse assignment and the PQ encode are maps against broadcast
    // codebook rows, so deriving them separately and joining on id would
    // shuffle the whole corpus for nothing (the coarse row is renamed so
    // the two single-row codebooks coexist in the cross)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__e"))
      .crossJoin(broadcast(coarse.select(col("cb").as("coarse_cb"))))
      .crossJoin(broadcast(pq))
      .select(col("neighbor_id"),
        element_at(coarseRankExpr("coarse_cb", "__e"), 1).getField("cell").as("cell"),
        pqCodesExpr(m, sd, "cb", "__e").as("codes"))
    // query side: probe cells + the ADC lookup table
    val qCells = ivfAssignCells(queries, embCol, col(queryIdCol).as("query_id"),
      nProbe, coarse).select(col("query_id"), col("cell"), col("__e"))
    // r19: native dots + codegen'd map-ADC score — the annPq rewrite (see
    // there for the bit-identity argument)
    val q = qCells.crossJoin(broadcast(pq))
      .select(col("query_id"), col("cell"),
        pqLutMap(nCodewords, sd, "cb", "__e").as("lut"))
    // a corpus vector can meet a query in only ONE cell (corpus assignment
    // keeps the single best cell), but topKPerQuery keeps the dedup
    // structural in case a future multi-assignment corpus tier lands
    topKPerQuery(c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), org.apache.spark.sql.graft.natives
        .pqAdcScore(col("lut"), col("codes"), nCodewords).as("score")), "score", k)
  }

  /** Contrastive hard-negative mining (the DPR / SimCSE training-data
    * move): for each anchor, the k corpus vectors MOST similar to it among
    * those carrying a DIFFERENT label — the negatives that sit closest to
    * the decision boundary, which is exactly what contrastive losses need
    * (random negatives are trivially separable and teach nothing).
    *
    * Exact O(|anchors|·n) baseline: anchors ride a broadcast (a training
    * batch of anchors vs the corpus — the small side by construction), the
    * corpus is scanned ONCE with the label inequality applied before any
    * scoring, and ranks break ties by negative id. This is the oracle tier;
    * [[hardNegativesLsh]] is the bucketed scale path it bounds.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      anchorIdCol: String, embCol: String, labelCol: String, k: Int): DataFrame = {
    val a = anchors.select(col(anchorIdCol).as("anchor_id"),
      col(embCol).as("__qe"), col(labelCol).as("__ql"))
    val scored = corpus.select(col(idCol).as("negative_id"),
      col(embCol).as("__ce"), col(labelCol).as("__cl"))
      .join(broadcast(a), col("__cl") =!= col("__ql"))
      .select(col("anchor_id"), col("negative_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cs").desc, col("negative_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("negative_id"),
        round(col("cs"), 4).as("cos_sim"))
  }

  /** Scale tier of [[hardNegatives]]: the [[annLsh]] multi-table
    * hyperplane bucketing, with the label-inequality filter applied at the
    * bucket join — candidates are (anchor, corpus) pairs that share a
    * (table, bucket) AND disagree on label, so neither the cross product
    * nor the same-label majority is ever materialized. Probabilistic
    * recall by construction (a boundary-hugging negative can miss every
    * bucket); DedupSpec bounds it against the exact tier: every emitted
    * row is a true different-label neighbor scored identically, and
    * recall@k against [[hardNegatives]] stays above the pinned floor.
    */
  def hardNegativesLsh(corpus: DataFrame, anchors: DataFrame, idCol: String,
      anchorIdCol: String, embCol: String, labelCol: String, k: Int,
      numPlanes: Int = 4, numTables: Int = 8, seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    requireDim(corpus, embCol, dim, "hardNegativesLsh corpus")
    requireDim(anchors, embCol, dim, "hardNegativesLsh anchors")
    def buckets(emb: Column): Column = lshTableBuckets(emb, numPlanes, numTables, dim, seed)
    val c = corpus.select(col(idCol).as("negative_id"), col(embCol).as("__ce"),
      col(labelCol).as("__cl"), buckets(col(embCol)).as("b"))
      .select(col("negative_id"), col("__ce"), col("__cl"),
        col("b.t").as("t"), col("b.bv").as("bv"))
    val q = anchors.select(col(anchorIdCol).as("anchor_id"), col(embCol).as("__qe"),
      col(labelCol).as("__ql"), buckets(col(embCol)).as("b"))
      .select(col("anchor_id"), col("__qe"), col("__ql"),
        col("b.t").as("t"), col("b.bv").as("bv"))
    val cand = c.join(q, Seq("t", "bv"))
      .filter(col("__cl") =!= col("__ql"))
      .select(col("anchor_id"), col("negative_id"), col("__qe"), col("__ce"))
      .dropDuplicates("anchor_id", "negative_id")
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cs").desc, col("negative_id").asc)
    cand
      .select(col("anchor_id"), col("negative_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("negative_id"),
        round(col("cs"), 4).as("cos_sim"))
  }
}
