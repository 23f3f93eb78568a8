package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Dedup, Similarity}
import graft.serve.Publish
import graft.sources.Tables

/** Extension operators: similarity search over the embeddings table.
  *
  * The cosine oracle parity holds because both engines compute
  * dot/(√·√) in double over the same float inputs; ranks are broken by
  * neighbor id, and random embeddings keep cosine gaps far above 1-ulp noise.
  */
object ExtVectorQueries {

  /** Corpus row count from the parquet footers — NO Spark job (a plain
    * `df.count()` at plan-build time ran a full count job every time the
    * LSH entry was even constructed, e.g. per PlanGuardSpec plan census).
    * Shared memoized implementation: [[Tables.parquetRecordCount]].
    */
  private def embeddingCount(s: SparkSession, dir: String): Long =
    Tables.parquetRecordCount(s, s"$dir/embeddings.parquet")

  /** The IVF √n rule: coarse cells grow with the corpus so per-cell
    * occupancy (≈ √n) and the probed cell count both stay sublinear — the
    * knob whose ABSENCE made the pinned-nCells cohort rows quadratic
    * (r17 PLANS.md fixture attribution).
    */
  private def annCells(n: Long): Int =
    math.ceil(math.sqrt(n.toDouble)).toInt.max(1)

  /** Persisted production ANN index for q_x_ann_index_census /
    * q_x_ann_index_serve: built ONCE per (dir, embeddings mtime) via
    * [[graft.serve.AnnIndex.build]] with √n cells — the registry rows then
    * exercise the read-back paths every run. The root is a FIXED path
    * keyed by the SF-dir basename, NOT a random temp dir, because the
    * census oracle must `read_parquet` the SAME persisted codebook the
    * assignments were computed from — the argmin replay is deterministic
    * only GIVEN those exact stored doubles (the Lloyd training itself is
    * shuffle-order). [[Publish.publishOnce]] builds it whole (the serve
    * oracle globs `seg-*`) and never deletes a live root.
    */
  private val annRoots = new Publish.FileMemo[String]
  private[queries] def annIndexRoot(s: SparkSession, dir: String): String = {
    val nCells = annCells(embeddingCount(s, dir))
    Publish.sourcedRoot(annRoots, s, AnnIndexBase, dir, s"$dir/embeddings.parquet",
        s"AnnIndex.build vec_id embedding nCells=$nCells") { root =>
      graft.serve.AnnIndex.build(s, root, Tables.embeddings(s, dir),
        "vec_id", "embedding", nCells = nCells)
    }
  }

  /** Must stay in sync with the literal path inside the
    * q_x_ann_index_census oracle SQL (a static string — it cannot see
    * `dir`, so the path is pinned here and derived only from the SF-dir
    * basename there).
    */
  private val AnnIndexBase = "/tmp/graft_ann_index"

  /** Second persisted index, built over the STANDING cohort only
    * (vec_id % 3 == 0 — the q_x_incr_neardup split), for the
    * admission-shape row q_x_ann_index_admit: admission needs incoming
    * DISJOINT from the indexed corpus, which the full-corpus serve index
    * cannot provide. Same publish + memoization as [[annIndexRoot]]; path
    * pinned for the static oracle.
    */
  private val AnnAdmitIndexBase = "/tmp/graft_ann_admit_index"
  private val annAdmitRoots = new Publish.FileMemo[String]
  private def annAdmitIndexRoot(s: SparkSession, dir: String): String = {
    val nCells = annCells((embeddingCount(s, dir) / 3).max(1L))
    Publish.sourcedRoot(annAdmitRoots, s, AnnAdmitIndexBase, dir,
        s"$dir/embeddings.parquet",
        s"AnnIndex.build vec_id%3=0 embedding nCells=$nCells") { root =>
      val standing = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(3)) === 0)
      graft.serve.AnnIndex.build(s, root, standing, "vec_id", "embedding",
        nCells = nCells)
    }
  }

  /** The fixed serving batch: the 100 lowest vec_ids — CONSTANT-size at
    * every SF (vs the `% 100` cohorts, whose size ∝ corpus makes measured
    * probe work ∝ n² by construction; those rows stay for recall
    * coverage, this is the shape a user ships).
    */
  private def fixedQueryBatch(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") < 100)

  /** Third persisted index: the full-corpus IVFPQ (coarse √n cells + 8×16
    * PQ codebooks + per-vector codes) for q_x_ann_index_serve_pq — its
    * ADC search reads cells and codes ONLY, never raw embeddings. Same
    * publish + memoization; path pinned for the static oracle.
    */
  private val AnnPqIndexBase = "/tmp/graft_ann_pq_index"
  private val annPqRoots = new Publish.FileMemo[String]
  private def annPqIndexRoot(s: SparkSession, dir: String): String = {
    val nCells = annCells(embeddingCount(s, dir))
    Publish.sourcedRoot(annPqRoots, s, AnnPqIndexBase, dir, s"$dir/embeddings.parquet",
        s"AnnIndex.buildPq vec_id embedding nCells=$nCells") { root =>
      graft.serve.AnnIndex.buildPq(s, root, Tables.embeddings(s, dir),
        "vec_id", "embedding", nCells = nCells)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact top-5 cosine neighbors for the query subset
    // (vec_id % 100 == 0) — the ANN baseline.
    "q_x_ann_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annBruteForce(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5)
    },
    // MMR diversified top-5 (λ = 0.5, pool 20): position 1 is the plain
    // relevance argmax, each later pick maximizes λ·rel − (1−λ)·max sim
    // to already-selected — near-duplicate results can't crowd the list.
    // Greedy rounds run over ALL queries at once; output rank-only so
    // the float arithmetic never reaches the hash.
    "q_x_mmr" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5, poolK = 20, lambda = 0.5)
    },
    // MMR scale tier: pool from the multi-table LSH bucket join instead
    // of the corpus×queries broadcast scan (no oracle: recall-traded by
    // construction; spec pins pool recall vs the brute pool and exact
    // greedy semantics over whatever pool was recalled). Same greedy
    // stage, same output shape as q_x_mmr.
    "q_x_mmr_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrTopKLsh(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5, poolK = 20, lambda = 0.5,
        numPlanes = 4, numTables = 8)
    },
    // Embedding near-duplicate pairs above a cosine threshold (brute
    // baseline; the LSH variant below is the scale path).
    "q_x_embed_neardup" -> { (s, dir) =>
      Similarity.nearDupPairsCosine(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.25)
    },
    // LSH-bucketed embedding near-dup: the scale path for q_x_embed_neardup
    // (no oracle: recall-traded by construction; spec proves every emitted
    // pair is exact-verified — a subset of brute — with fair recall).
    // Operating point: this corpus's "near-dups" sit at cos≈0.25-0.5, close
    // to random for hyperplane LSH, so pruning is weak by nature; auto-sized
    // planes (≈ log2(n/256), = 5-6 at sf0.1) trade to recall≈0.5 at ~4× less
    // candidate work than the 4/8 default. At a genuine near-dup threshold
    // (≥0.8) the same machinery prunes orders of magnitude harder. Planes
    // are AUTO-SIZED from the corpus count — the sf1 probe measured a pinned
    // numPlanes=5 at 22× on a 10× corpus (quadratic buckets), auto-sized
    // linear. The count comes from the parquet footers, not a count job.
    "q_x_embed_neardup_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.nearDupPairsCosineLsh(emb, "vec_id", "embedding",
        threshold = 0.25, numPlanes = Similarity.autoPlanes(embeddingCount(s, dir)))
    },
    // Oracle-ANCHORED LSH diagnostic: the same bucket→candidate→exact-verify
    // pipeline as q_x_embed_neardup_lsh, but with COORDINATE hyperplanes
    // (bucket bit p = sign of component d_p) instead of random-projection
    // planes — a legitimate (if weaker) member of the same hyperplane LSH
    // family whose bucketing DuckDB can replay EXACTLY: a single float
    // compared against zero has no summation-order rounding, where a
    // 64-term random-projection dot product near zero could flip a sign
    // bit between engines' fold orders. Two 6-bit tables over disjoint
    // coordinate sets, candidates deduped across tables, exact cosine
    // verify at the same 0.25 threshold. This pins the full LSH pipeline
    // shape (bucket → same-bucket pairs → dedup → verify) under the
    // driver hash; the auto-sized random-projection variant stays the
    // production scale path, recall-specced against brute force.
    "q_x_embed_neardup_lsh_exact" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      def pairsFor(coords: Seq[Int]): DataFrame = {
        val b = emb.select(col("vec_id").as("id"),
          Similarity.signCells(col("embedding"), coords).as("bv"))
        b.select(col("id").as("a"), col("bv"))
          .join(b.select(col("id").as("b"), col("bv")), Seq("bv"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
      }
      val cand = pairsFor(Seq(0, 9, 18, 27, 36, 45))
        .unionByName(pairsFor(Seq(4, 13, 22, 31, 40, 49)))
        .distinct()
      import org.apache.spark.sql.graft.natives.cosineSim
      val ea = emb.select(col("vec_id").as("a"), col("embedding").as("__ea"))
      val eb = emb.select(col("vec_id").as("b"), col("embedding").as("__eb"))
      cand.join(ea, Seq("a")).join(eb, Seq("b"))
        .select(col("a"), col("b"), cosineSim(col("__ea"), col("__eb")).as("cs"))
        .filter(col("cs") >= 0.25)
        .select(col("a"), col("b"), round(col("cs"), 4).as("cos_sim"))
    },
    // SemDedup (Abbas et al. 2023): partition the embedding space into
    // cells, find near-duplicate pairs WITHIN each cell (exact cosine ≥
    // threshold), close them transitively, and keep one representative
    // per semantic cluster — the post-dedup corpus with per-survivor
    // merge counts. Cell assignment here is the deterministic
    // coordinate-sign quantizer (6 bits over disjoint coordinates — the
    // same family q_x_embed_neardup_lsh_exact pins) so DuckDB replays
    // the whole pipeline including the recursive-CTE closure; the
    // production assignment is the IVF codebook — real code, not prose:
    // q_x_semdedup_ivf below runs this same Similarity.semDedup core over
    // Similarity.ivfCells. Scale shape: within-cell pairing goes through the
    // STAR-GUARDED Similarity.cellCandidatePairs (quadratic only inside a
    // ≤1024-member cell, linear hub pairs above — the cap never fires at
    // the test SFs, max cell 46 at sf0.1, so the DuckDB replay of the
    // uncapped all-pairs form stays hash-exact; the `cell_hot_buckets`
    // observe metric makes a firing cap loud at scale, where the fix is
    // re-sizing the cell space — more sign bits per autoPlanes, or the
    // IVF codebook); closure is hash-min label propagation
    // (diameter-bounded); the survivor resolve join broadcasts because
    // the cluster table is near-dup-members-only.
    "q_x_semdedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cells = emb.select(col("vec_id"),
        Similarity.signCells(col("embedding"), Seq(0, 9, 18, 27, 36, 45)).as("cell"))
      Similarity.semDedup(emb, cells, "vec_id", "embedding", threshold = 0.25)
    },
    // The PRODUCTION cell assignment of q_x_semdedup, made real: the same
    // semDedup core over Similarity.ivfCells (Lloyd-refined codebook cells
    // instead of fixed coordinate signs — data-adaptive, so near-dups
    // co-locate with higher recall). No oracle by design: the centroid
    // averages are shuffle-order doubles, so cell boundaries are not
    // bit-replayable — the sign-cell twin above is the hash-checked tier;
    // DedupSpec bounds this one (merged pairs ⊆ the exact cosine≥θ pair
    // set by construction, survivors consistent with a union-find replay).
    "q_x_semdedup_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.semDedup(emb,
        Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 16),
        "vec_id", "embedding", threshold = 0.25)
    },
    // LSH-bucketed ANN (no oracle: recall-traded scale path; spec-tested
    // against the brute-force baseline).
    "q_x_ann_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annLsh(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5, numPlanes = 4, numTables = 8)
    },
    // IVF-bucketed ANN: centroid cells + nProbe search (no oracle; recall
    // spec-tested against brute force).
    "q_x_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvf(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5, nCells = 16, nProbe = 6)
    },
    // Product-quantization ANN (ADC scan): the corpus is scanned as 8
    // codeword ids (32× less data than the raw floats — the PQ
    // scan-bandwidth argument), each query scoring candidates through a
    // per-(sub, codeword) partial-dot lookup table. The third vector scale
    // tier beside LSH (bucketing) and IVF (partitioning): compression.
    // No oracle (Lloyd centroid averages are shuffle-order doubles);
    // recall-spec'd against q_x_ann_topk's brute-force baseline.
    "q_x_ann_pq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annPq(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5)
    },
    // The composed production architecture (FAISS IVFPQ): coarse centroid
    // cells prune candidate COUNT (~nProbe/nCells), PQ codes prune
    // candidate WIDTH (32×) — the billion-vector serving shape. No oracle
    // (both codebooks are Lloyd doubles); recall spec vs brute force.
    "q_x_ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvfPq(emb, emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "vec_id", "embedding", k = 5, nCells = 16, nProbe = 8)
    },
    // PERSISTED ANN index census (r18, the q_x_incr_index_census sibling):
    // the standing (vec_id, cell) assignment table read back from the
    // AnnIndex parquet segments, hash-checked against a DuckDB argmin
    // replay over the codebook doubles read from the SAME persisted
    // parquet — assignment is deterministic GIVEN the stored codebook
    // (float→double promotion exact, identical left-to-right dot fold,
    // (dot DESC, cell ASC) tie order), so equality pins the whole
    // build/persist/read round-trip byte-for-byte. Search ≡ in-memory
    // kernel and append-with-stored-codebook are AnnIndexSpec's job; this
    // row keeps the lifecycle's BUILD step on the per-round oracle gate.
    "q_x_ann_index_census" -> { (s, dir) =>
      graft.serve.AnnIndex.readAssignments(s, annIndexRoot(s, dir))
        .select(col("id").as("vec_id"), col("cell"))
    },
    // The PRODUCTION serving shape (r18 — replaces the ∝-corpus cohort
    // rows as the benched tier): a FIXED 100-query batch searched through
    // the persisted serve.AnnIndex with √n coarse cells. Per-query probe
    // work ≈ nProbe · n/√n = O(√n) candidates and the batch is constant,
    // so total work is strictly sublinear in corpus — the shape the
    // pinned-nCells `% 100` cohort rows (kept for recall coverage) can't
    // measure. Hash-oracled end-to-end via the persisted-codebook replay
    // (the census-row argument extended to the whole serve kernel): the
    // Lloyd TRAINING is shuffle-order, but search is deterministic GIVEN
    // the stored codebook, and the DuckDB oracle reads the same persisted
    // parquet. AnnIndexSpec additionally pins recall vs
    // q_x_ann_batch_brute's oracled truth on the SAME batch.
    "q_x_ann_index_serve" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.serve.AnnIndex.search(s, annIndexRoot(s, dir), emb,
        fixedQueryBatch(emb), "vec_id", "vec_id", "embedding",
        k = 5, nProbe = 8)
    },
    // The persisted FAISS-IVFPQ serving shape (r18): the same fixed batch
    // through AnnIndex.searchPq — coarse cells prune candidate COUNT,
    // stored PQ codes prune candidate WIDTH (raw embeddings never read at
    // serve time; the index IS the read path). Deterministic given the
    // stored codebooks (exact argmin cell rank, exact per-(sub, codeword)
    // LUT folds, j-ascending score fold, neighbor-id ties), so the
    // billion-vector production architecture sits on the hash gate
    // end-to-end — where the in-memory q_x_ann_ivfpq tier (kept for
    // recall coverage) can only be recall-specced.
    "q_x_ann_index_serve_pq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.serve.AnnIndex.searchPq(s, annPqIndexRoot(s, dir),
        fixedQueryBatch(emb), "vec_id", "embedding", k = 5, nProbe = 8)
    },
    // Vector-side incremental ADMISSION through the persisted index
    // (r18 — the DedupIndex.admitNearDups sibling, closing the two-index
    // lifecycle symmetry): incoming cohort (vec_id % 3 != 0) vs the
    // standing-cohort index (% 3 == 0, its own clean-room root). Emits
    // the rejection pairs; candidates only from shared IVF cells
    // (batch-proportional), verify exact cosine — deterministic given
    // the stored codebook, so the row hash-oracles end-to-end.
    "q_x_ann_index_admit" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.serve.AnnIndex.admitNearDups(s, annAdmitIndexRoot(s, dir),
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(3)) === 0),
        "vec_id", "embedding", threshold = 0.25, nProbe = 4)
        .select(col("a").as("new_id"), col("b").as("old_id"), col("cos_sim"))
    },
    // Exact top-5 over the SAME fixed batch — the oracled ground truth the
    // serve row's recall spec measures against (q_x_ann_topk's brute
    // kernel at the production batch shape: one broadcast of 100 queries,
    // one corpus scan).
    "q_x_ann_batch_brute" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annBruteForce(emb, fixedQueryBatch(emb),
        "vec_id", "vec_id", "embedding", k = 5)
    },
    // Contrastive hard-negative mining (exact tier): for each anchor
    // (vec_id % 50 == 0), the 5 most-similar corpus vectors with a
    // DIFFERENT label — the boundary-hugging negatives a contrastive
    // trainer wants. Anchors broadcast, corpus scanned once, label
    // inequality applied before scoring; ranks tie-break by negative id.
    "q_x_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "vec_id", "embedding", "label", k = 5)
    },
    // Scale tier: the annLsh bucketing with the label filter at the bucket
    // join (no oracle — probabilistic recall; DedupSpec pins soundness of
    // every emitted row + a recall floor vs the exact tier above).
    "q_x_hard_negatives_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegativesLsh(emb, emb.filter(col("vec_id") % 50 === 0),
        "vec_id", "vec_id", "embedding", "label", k = 5,
        numPlanes = 4, numTables = 8)
    },
    // Int8 symmetric quantization audit — the 4× storage path for a
    // 100 TB embedding table. Per vector: q_i = ⌊v_i·127/max|v| + ½⌋
    // (floor(x+.5) on BOTH engines — round()'s half-rule is not
    // bit-specified cross-engine), emitted as exact integer checksums
    // plus the 6dp scale so the driver hash pins the whole codebook.
    // Float→double promotion is exact and the fold is per-row, so every
    // column is deterministic. Narrow map, no shuffle.
    "q_x_embed_quant" -> { (s, dir) =>
      val vec = col("embedding")
      val m = array_max(transform(vec, x => abs(x)))
      val qv = Similarity.int8Quant(vec)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), size(vec).as("n_dims"),
          round(m.cast("double"), 6).as("max_abs"), qv.as("qv"))
        .select(col("vec_id"), col("n_dims"), col("max_abs"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("qv"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
          array_max(col("qv")).as("q_max"))
    },
    // Per-DIMENSION embedding health profile + drift — the check that
    // catches a silently retrained/reordered encoder before it poisons an
    // index: per dim, counts / Σq / Σq² for a reference cohort (even ids)
    // vs current (odd ids) over the SHARED q_x_embed_quant int8 domain
    // (quantized ⇒ every statistic exact integer, hash-checkable), plus
    // the cross-multiplied mean-shift numerator |Σr·n_c − Σc·n_r| (the
    // rational-statistics idiom — no division until the reader). Scale:
    // 64-key groupBy after a posexplode; map-side partial agg absorbs the
    // 64× row fan-out, one dimension-sized shuffle.
    "q_x_embed_drift" -> { (s, dir) =>
      Similarity.embedDimMoments(Tables.embeddings(s, dir))
    },
    // Exact-integer Gram/covariance accumulator over the int8-quant
    // domain — the d×d second-moment table behind whitening/PCA and
    // covariance-shift monitoring: per upper-triangle dim pair the
    // vector count, Σqiqj, marginal sums, and the covariance numerator.
    // All integer, all additive (streaming twin drain ≡ batch by
    // construction); per-row outer product is a narrow nested-transform
    // map, then ONE (i, j)-keyed agg (2080 keys).
    "q_x_embed_gram" -> { (s, dir) =>
      Similarity.embedGram(Tables.embeddings(s, dir))
    },
    // Top principal direction of the quantized covariance via 3 rounds
    // of power iteration over the Gram table — the PCA/whitening axis
    // with the corpus touched exactly once; every loading bit-exact
    // (integer round-1 multiply, j-ASC double folds, one max-|·|
    // division per round — the pagerank determinism argument).
    "q_x_power_iter" -> { (s, dir) =>
      Similarity.topPrincipalDirection(Tables.embeddings(s, dir), iters = 3)
    },
    // Embedding-curation outlier pruning: per label, the ~5% of vectors
    // farthest from the label CENTROID — the standard mislabeled-example
    // sweep before contrastive training (a vector far from its own
    // class's center is noise or a labeling error). Centroids are exact
    // vec_id-ordered mean folds (buffer bounded by class size; a
    // web-scale class would go through the Clustering two-level fold),
    // distances the left-to-right dim fold, and the 5% cut an integer
    // quota ⌈n/20⌉ by (dist DESC, vec_id) — so the flag set is
    // bit-deterministic and the DuckDB replay exact.
    "q_x_embed_outliers" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val d = 64
      val ctr = e.groupBy(col("label"))
        .agg(count(lit(1)).as("__n"),
          aggregate(sort_array(collect_list(struct(col("vec_id"), col("embedding")))),
            array((0 until d).map(_ => lit(0.0)): _*),
            (acc, x) => zip_with(acc, x.getField("embedding"), (a, v) => a + v))
            .as("__s"))
        .select(col("label"), col("__n"),
          transform(col("__s"), v => v / col("__n")).as("__ctr"))
      e.join(ctr, Seq("label"))
        .select(col("label"), col("vec_id"), col("__n"),
          aggregate(zip_with(col("embedding"), col("__ctr"), (x, c) => (x - c) * (x - c)),
            lit(0.0), (a, v) => a + v).as("sq_dist"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(col("sq_dist").desc, col("vec_id").asc)))
        .filter(col("rank") <= expr("(__n + 19) div 20"))
        .select(col("label"), col("vec_id"), col("sq_dist"),
          col("rank").cast("int").as("rank"))
    },
    // Distributed k-means (Lloyd) as a first-class ORACLED operator — the
    // deterministic-exact tier of the codebook training the IVF/PQ ANN
    // paths run behind recall specs: smallest-(features, id) init, argmin
    // with a cid tie-break, id-sorted mean folds (Clustering.kMeans), so
    // DuckDB replays all 3 rounds bit-for-bit. Features: line quantity
    // and price (k$) — the classic order-profile segmentation.
    // Johnson–Lindenstrauss random projection 64 → 16: the dense
    // embedding compression you reach for BEFORE product quantization —
    // pairwise distances preserved within (1±ε) w.h.p. (JL lemma), and
    // unlike PQ the output is still a dense vector downstream ops can
    // keep using (cosine, clustering, another LSH pass). Planes are the
    // deterministic splitmix hyperplanes (Similarity.hyperplanes:
    // data-independent DOUBLE literals baked into the plan — nothing to
    // broadcast, nothing to join); each output dim is one index-ORDER
    // fold over the zip_with products — a narrow codegen'd map, no
    // shuffle, no UDF, embarrassingly parallel at any corpus size. The
    // oracle regenerates the SAME plane constants from the same Scala
    // function (shortest-round-trip double literals parse back to the
    // identical bits) and replays the same left fold with a 0.0 seed
    // (list_prepend), so every projected double is bit-exact
    // cross-engine.
    // Output is FLATTENED to (vec_id, dim, proj_val) scalars — the r8
    // DECIMAL export-contract precedent, round 2: the driver's pandas
    // canonicalizer sort_values() cannot order array cells (it crashed on
    // the r14 array<double> `proj` column — DRIVER_BUG.md defect #2), so
    // driver-facing schemas carry only scalar top-level columns
    // (OutputTypeSpec pins the census). posexplode preserves the in-array
    // position, so each row is one (vector, output-dim) projection value.
    "q_x_rand_proj" -> { (s, dir) =>
      val planes = Similarity.hyperplanes(16, 64, seed = 77L)
      // r19: each output dim's index-order fold runs as the native dot_fd
      // (bit-identical: same float→double promote, same 0.0-seeded
      // left-to-right adds) instead of 16 interpreted HOF chains per row
      val proj = array(planes.map { p =>
        org.apache.spark.sql.graft.natives
          .dotFD(col("embedding"), array(p.map(lit).toSeq: _*))
      }.toSeq: _*)
      Tables.embeddings(s, dir).select(col("vec_id"), posexplode(proj))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
          col("col").as("proj_val"))
    },
    "q_x_kmeans" -> { (s, dir) =>
      val pts = Tables.lineitem(s, dir)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("pid"),
          col("l_quantity").as("f_qty"),
          (col("l_extendedprice") / 1000).as("f_price_k"))
      Clustering.kMeans(pts, "pid", Seq("f_qty", "f_price_k"), k = 4, iters = 3)
        .select(col("cluster"), col("n_points"),
          element_at(col("centroid"), 1).as("c_qty"),
          element_at(col("centroid"), 2).as("c_price_k"))
    }
  )

  /** The int8-quant Gram CTE chain shared by the q_x_embed_gram oracle
    * and the q_x_power_iter oracle (one definition — the two replays can
    * never drift apart). Ends in `ga` (i, j, n, sum_qq, sum_qi, sum_qj).
    */
  private val gramCtes: String =
    """base AS (
      |  SELECT vec_id, embedding AS vec,
      |    list_max(list_transform(embedding, x -> abs(x))) AS m
      |  FROM embeddings),
      |q AS (SELECT vec_id,
      |    CASE WHEN m = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(vec,
      |                x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS qv
      |  FROM base),
      |p AS (SELECT i, j, qv[i] AS qi, qv[j] AS qj
      |  FROM q,
      |    unnest(generate_series(1, len(qv))) AS ti(i),
      |    unnest(generate_series(1, len(qv))) AS tj(j)
      |  WHERE j >= i),
      |ga AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(qi * qj) AS BIGINT) AS sum_qq,
      |    CAST(sum(qi) AS BIGINT) AS sum_qi,
      |    CAST(sum(qj) AS BIGINT) AS sum_qj
      |  FROM p GROUP BY 1, 2)""".stripMargin

  /** The k−1 greedy MMR rounds as a WITH-chain: each round anti-joins the
    * selected set, folds max-sim-to-selected per remaining candidate, and
    * takes the rank-1 MMR score (λ = 0.5) with the Spark tie order.
    */
  private def mmrRoundsCtes(k: Int): String =
    (2 to k).map { i =>
      s"""ms$i AS (SELECT p.query_id, p.doc_id, p.rel, max(ps.s) AS ms
         |  FROM pool p
         |  JOIN acc${i - 1} s ON s.query_id = p.query_id
         |  JOIN ps ON ps.query_id = p.query_id AND ps.a = p.doc_id AND ps.b = s.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} z
         |    WHERE z.query_id = p.query_id AND z.doc_id = p.doc_id)
         |  GROUP BY 1, 2, 3),
         |sel$i AS (SELECT query_id, doc_id, $i AS pos FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY 5E-1 * rel - 5E-1 * ms DESC, doc_id ASC) AS rn
         |  FROM ms$i) WHERE rn = 1),
         |acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")

  val oracleSql: Map[String, String] = Map(
    // the identical plane constants regenerated from the same splitmix
    // function, the identical 0.0-seeded left fold per output dim. The
    // E0 suffix on every plane literal is LOAD-BEARING, twice over
    // (both caught by r14 hash mismatches): a bare decimal literal is
    // DECIMAL-typed, so (1) FLOAT × DECIMAL multiplies in FLOAT, and
    // (2) even CAST(list AS DOUBLE[]) first unifies the 64 elements to
    // one common DECIMAL scale whose rescaled integers exceed 2⁵³ —
    // the decimal→double conversion then goes 1 ulp off. E-notation
    // parses as DOUBLE directly, bit-identical to the JVM literal.
    "q_x_rand_proj" -> {
      val planes = Similarity.hyperplanes(16, 64, seed = 77L)
      def dlit(d: Double): String = {
        val s = d.toString
        if (s.contains("E")) s else s + "E0"
      }
      val planeCols = planes.zipWithIndex.map { case (p, i) =>
        p.map(dlit).mkString("[", ", ", s"] AS p$i")
      }.mkString(",\n    ")
      val dims = planes.indices.map { i =>
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(generate_series(1, 64), i -> e.embedding[i] * p.p$i[i])),
           |      (a, x) -> a + x)""".stripMargin
      }.mkString(",\n    ")
      s"""WITH p AS (SELECT $planeCols),
         |base AS (SELECT e.vec_id, [
         |    $dims] AS proj
         |  FROM embeddings e, p)
         |SELECT vec_id, CAST(g.i AS INT) AS dim, proj[g.i] AS proj_val
         |FROM base, generate_series(1, 16) g(i)""".stripMargin
    },
    // per-dim vec_id-ordered mean folds, the identical dim-ordered
    // distance fold, integer ceil(n/20) quota by (dist DESC, vec_id)
    "q_x_embed_outliers" ->
      """WITH dims AS (SELECT e.label, g.i,
        |    list_reduce(list(CAST(e.embedding[g.i] AS DOUBLE) ORDER BY e.vec_id),
        |      (a, b) -> a + b) AS s,
        |    count(*) AS n
        |  FROM embeddings e, generate_series(1, 64) g(i) GROUP BY 1, 2),
        |ctr AS (SELECT label, max(n) AS n, list(s / n ORDER BY i) AS c
        |  FROM dims GROUP BY label),
        |dv AS (SELECT e.vec_id, e.label, g.i,
        |    (CAST(e.embedding[g.i] AS DOUBLE) - ctr.c[g.i]) AS d
        |  FROM embeddings e JOIN ctr USING (label), generate_series(1, 64) g(i)),
        |dist AS (SELECT vec_id, label,
        |    list_reduce(list(d * d ORDER BY i), (a, b) -> a + b) AS sq_dist
        |  FROM dv GROUP BY 1, 2),
        |rk AS (SELECT d.label, d.vec_id, d.sq_dist, ctr.n,
        |    row_number() OVER (PARTITION BY d.label
        |      ORDER BY d.sq_dist DESC, d.vec_id ASC) AS rank
        |  FROM dist d JOIN ctr ON ctr.label = d.label)
        |SELECT label, vec_id, sq_dist, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= (n + 19) // 20""".stripMargin,
    // the 3 Lloyd rounds unrolled: assignment = per-ROW correlated argmin
    // over (squaredDist, cid) — every input row is a point (the synthetic
    // (orderkey, linenumber) key COLLIDES, so ids must not be collapsed);
    // update folds each feature ordered by (id, f1, f2) within id-range
    // buckets then bucket-sorted (the engine's two-level fold — exact
    // duplicates are interchangeable, so the order is still data-pinned;
    // list_reduce's ((v1+v2)+v3) = Spark's ((0+v1)+v2)+v3, IEEE 0+x = x);
    // an emptied cluster keeps its centroid via the LEFT JOIN coalesce
    "q_x_kmeans" -> {
      def round(i: Int): String =
        s"""as$i AS (SELECT p.id, p.f1, p.f2,
           |    (SELECT c.cid FROM c${i - 1} c ORDER BY
           |      (p.f1 - c.c1) * (p.f1 - c.c1) + (p.f2 - c.c2) * (p.f2 - c.c2),
           |      c.cid LIMIT 1) AS cid
           |  FROM pts p),
           |b$i AS (SELECT cid, id // 65536 AS bk, count(*) AS n,
           |    list_reduce(list(f1 ORDER BY id, f1, f2), (x, y) -> x + y) AS s1,
           |    list_reduce(list(f2 ORDER BY id, f1, f2), (x, y) -> x + y) AS s2
           |  FROM as$i GROUP BY cid, bk),
           |u$i AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n,
           |    list_reduce(list(s1 ORDER BY bk), (x, y) -> x + y) AS s1,
           |    list_reduce(list(s2 ORDER BY bk), (x, y) -> x + y) AS s2
           |  FROM b$i GROUP BY cid),
           |c$i AS (SELECT c.cid,
           |    CASE WHEN u.n IS NULL THEN c.c1 ELSE u.s1 / u.n END AS c1,
           |    CASE WHEN u.n IS NULL THEN c.c2 ELSE u.s2 / u.n END AS c2
           |  FROM c${i - 1} c LEFT JOIN u$i u USING (cid))""".stripMargin
      s"""WITH pts AS (SELECT l_orderkey * 10 + l_linenumber AS id,
         |    l_quantity AS f1, l_extendedprice / 1000 AS f2 FROM lineitem),
         |c0 AS (SELECT row_number() OVER (ORDER BY f1, f2, id) - 1 AS cid,
         |    f1 AS c1, f2 AS c2
         |  FROM (SELECT * FROM pts ORDER BY f1, f2, id LIMIT 4)),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT c.cid AS cluster, coalesce(u.n, 0) AS n_points,
         |  c.c1 AS c_qty, c.c2 AS c_price_k
         |FROM c3 c LEFT JOIN u3 u USING (cid)""".stripMargin
    },
    "q_x_hard_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS qe, label AS ql
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |s AS (SELECT anchor_id, vec_id AS negative_id,
        |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cs
        |  FROM embeddings CROSS JOIN a WHERE label <> ql),
        |r AS (SELECT anchor_id, negative_id, cs,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY cs DESC, negative_id ASC) AS rank
        |  FROM s)
        |SELECT anchor_id, CAST(rank AS INTEGER) AS rank, negative_id,
        |  round(cs, 4) AS cos_sim
        |FROM r WHERE rank <= 5""".stripMargin,
    // the greedy chain unrolled: pool + pairwise sims once, then per
    // round an anti-joined max-sim-to-selected fold and a rank-1 argmax
    // with the Spark tie order (score DESC, doc ASC); 5E-1 literals keep
    // the score arithmetic in DOUBLE (the q_x_rand_proj decimal finding)
    "q_x_mmr" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
         |sc AS (SELECT query_id, vec_id AS doc_id,
         |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS rel
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
         |pool AS (SELECT * FROM (SELECT query_id, doc_id, rel,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rn
         |  FROM sc) WHERE rn <= 20),
         |pe AS (SELECT p.query_id, p.doc_id, e.embedding
         |  FROM pool p JOIN embeddings e ON e.vec_id = p.doc_id),
         |ps AS (SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
         |    list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])) AS s
         |  FROM pe x JOIN pe y ON x.query_id = y.query_id AND x.doc_id <> y.doc_id),
         |sel1 AS (SELECT query_id, doc_id, 1 AS pos FROM pool WHERE rn = 1),
         |acc1 AS (SELECT * FROM sel1),
         |${mmrRoundsCtes(5)}
         |SELECT a.query_id, CAST(a.pos AS INT) AS position, a.doc_id,
         |  CAST(p.rn AS INT) AS rel_rank
         |FROM acc5 a JOIN pool p ON p.query_id = a.query_id AND p.doc_id = a.doc_id""".stripMargin,
    // the persisted-codebook argmin replayed over the SAME parquet the
    // Spark side wrote: per (vector, cell) the identical left-to-right
    // 0.0-seeded dot fold over float→double promotions (exact), winner by
    // (dot DESC, cell ASC) — bit-equal to Similarity.coarseRankExpr's
    // (negdot, cell) struct sort. The read_parquet path mirrors
    // annIndexRoot for the sf0.01 dir the driver compares at (a static
    // string cannot see `dir`; the Spark side builds there first, so the
    // codebook exists by compare time).
    "q_x_ann_index_census" ->
      """WITH cb AS (SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/codebook/*.parquet')),
        |d AS (SELECT e.vec_id, c.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 64),
        |        i -> CAST(c.centroid[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dot
        |  FROM embeddings e CROSS JOIN cb c),
        |r AS (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn
        |  FROM d)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM r WHERE rn = 1""".stripMargin,
    // the whole serve kernel replayed from the persisted index: cell
    // ranking is the census row's exact argmin fold extended to the top
    // nProbe=8 cells, candidates come from the seg-* assignment parquet
    // (the clean-room build guarantees the glob ≡ the manifest), scoring
    // and the (cs DESC, neighbor ASC) rank mirror q_x_ann_topk's oracle —
    // search through the index is DETERMINISTIC given the stored codebook,
    // so the production serving row sits on the hash gate end-to-end
    "q_x_ann_index_serve" ->
      """WITH cb AS (SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/codebook/*.parquet')),
        |asg AS (SELECT id, cell
        |  FROM read_parquet('/tmp/graft_ann_index/sf0.01/seg-*/*.parquet')),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
        |qd AS (SELECT q.query_id, c.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 64),
        |        i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dot
        |  FROM q CROSS JOIN cb c),
        |qc AS (SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cell ASC) AS rn
        |    FROM qd) WHERE rn <= 8),
        |cand AS (SELECT DISTINCT qc.query_id, a.id AS neighbor_id
        |  FROM qc JOIN asg a USING (cell) WHERE a.id <> qc.query_id),
        |s AS (SELECT c.query_id, c.neighbor_id,
        |    list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cs
        |  FROM cand c JOIN q ON q.query_id = c.query_id
        |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,
    // the full ADC kernel replayed from the PQ index's parquet: coarse
    // cell rank (the census argmin fold, top 8), per-(sub, codeword)
    // partial-dot LUT (exact 8-element left folds over the stored float
    // centroids × query sub-slices), candidate codes from the seg glob,
    // score = the sub-ASC-ordered fold of the m LUT hits (Spark's
    // j-ascending aggregate), rank by (score DESC, neighbor ASC)
    "q_x_ann_index_serve_pq" ->
      """WITH cb AS (SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_pq_index/sf0.01/codebook/*.parquet')),
        |pq AS (SELECT sub, cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_pq_index/sf0.01/pq/*.parquet')),
        |asg AS (SELECT id, cell, codes
        |  FROM read_parquet('/tmp/graft_ann_pq_index/sf0.01/seg-*/*.parquet')),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
        |qd AS (SELECT q.query_id, c.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 64),
        |        i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dot
        |  FROM q CROSS JOIN cb c),
        |qc AS (SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cell ASC) AS rn
        |    FROM qd) WHERE rn <= 8),
        |lut AS (SELECT q.query_id, p.sub, p.cell AS cw,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 8),
        |        i -> CAST(p.centroid[i] AS DOUBLE) * CAST(q.qe[p.sub * 8 + i] AS DOUBLE))),
        |      (a, x) -> a + x) AS v
        |  FROM q CROSS JOIN pq p),
        |cand AS (SELECT DISTINCT qc.query_id, a.id AS neighbor_id, a.codes
        |  FROM qc JOIN asg a USING (cell) WHERE a.id <> qc.query_id),
        |sc AS (SELECT c.query_id, c.neighbor_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list(l.v ORDER BY l.sub)), (a, x) -> a + x) AS score
        |  FROM cand c JOIN lut l
        |    ON l.query_id = c.query_id AND l.cw = c.codes[l.sub + 1]
        |  GROUP BY c.query_id, c.neighbor_id),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM sc)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,
    // the admission kernel replayed from the ADMIT index's parquet: each
    // incoming vector's top-4 cells by the exact argmin fold, standing
    // candidates from the seg glob, distinct pairs scored once, raw-cs
    // threshold with the 4dp presentation round (the q_x_embed_neardup
    // convention)
    "q_x_ann_index_admit" ->
      """WITH cb AS (SELECT cell, centroid
        |  FROM read_parquet('/tmp/graft_ann_admit_index/sf0.01/codebook/*.parquet')),
        |asg AS (SELECT id, cell
        |  FROM read_parquet('/tmp/graft_ann_admit_index/sf0.01/seg-*/*.parquet')),
        |q AS (SELECT vec_id AS new_id, embedding AS qe FROM embeddings WHERE vec_id % 3 <> 0),
        |qd AS (SELECT q.new_id, c.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 64),
        |        i -> CAST(c.centroid[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dot
        |  FROM q CROSS JOIN cb c),
        |qc AS (SELECT new_id, cell FROM (
        |    SELECT new_id, cell,
        |      row_number() OVER (PARTITION BY new_id ORDER BY dot DESC, cell ASC) AS rn
        |    FROM qd) WHERE rn <= 4),
        |cand AS (SELECT DISTINCT qc.new_id, a.id AS old_id
        |  FROM qc JOIN asg a USING (cell)),
        |s AS (SELECT c.new_id, c.old_id,
        |    list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cs
        |  FROM cand c JOIN q ON q.new_id = c.new_id
        |  JOIN embeddings e ON e.vec_id = c.old_id)
        |SELECT new_id, old_id, round(cs, 4) AS cos_sim FROM s WHERE cs >= 0.25""".stripMargin,
    "q_x_ann_batch_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cs
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,
    "q_x_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS cs
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,
    "q_x_embed_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.25""".stripMargin,

    // full pipeline replay: sign-quantized cells → within-cell exact-cosine
    // pairs → recursive-CTE transitive closure (min-label flooding, the
    // hash-min fixpoint) → survivors = component representatives + singletons
    "q_x_semdedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |c AS (SELECT vec_id,
        |    CAST(v[1] > 0 AS INT) + 2*CAST(v[10] > 0 AS INT)
        |  + 4*CAST(v[19] > 0 AS INT) + 8*CAST(v[28] > 0 AS INT)
        |  + 16*CAST(v[37] > 0 AS INT) + 32*CAST(v[46] > 0 AS INT) AS cell
        |  FROM e),
        |pr AS (SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM c x JOIN c y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  JOIN e ea ON ea.vec_id = x.vec_id
        |  JOIN e eb ON eb.vec_id = y.vec_id
        |  WHERE list_cosine_similarity(CAST(ea.v AS DOUBLE[]),
        |    CAST(eb.v AS DOUBLE[])) >= 0.25),
        |nodes AS (SELECT a AS node FROM pr UNION SELECT b FROM pr),
        |edges AS (SELECT a AS src, b AS dst FROM pr
        |          UNION SELECT b AS src, a AS dst FROM pr),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.node),
        |cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
        |cls AS (SELECT node AS vec_id, cluster_id,
        |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |  FROM cl)
        |SELECT c.vec_id, c.cell, coalesce(cls.cluster_size, 1) AS n_merged
        |FROM c LEFT JOIN cls ON c.vec_id = cls.vec_id
        |WHERE cls.cluster_id IS NULL OR cls.cluster_id = c.vec_id""".stripMargin,

    "q_x_embed_neardup_lsh_exact" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        |b0 AS (SELECT vec_id,
        |    CAST(v[1] > 0 AS INT) + 2*CAST(v[10] > 0 AS INT)
        |  + 4*CAST(v[19] > 0 AS INT) + 8*CAST(v[28] > 0 AS INT)
        |  + 16*CAST(v[37] > 0 AS INT) + 32*CAST(v[46] > 0 AS INT) AS bv
        |  FROM e),
        |b1 AS (SELECT vec_id,
        |    CAST(v[5] > 0 AS INT) + 2*CAST(v[14] > 0 AS INT)
        |  + 4*CAST(v[23] > 0 AS INT) + 8*CAST(v[32] > 0 AS INT)
        |  + 16*CAST(v[41] > 0 AS INT) + 32*CAST(v[50] > 0 AS INT) AS bv
        |  FROM e),
        |cand AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM b0 l JOIN b0 r ON l.bv = r.bv AND l.vec_id < r.vec_id
        |  UNION
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM b1 l JOIN b1 r ON l.bv = r.bv AND l.vec_id < r.vec_id)
        |SELECT a, b,
        |  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |    CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM cand
        |JOIN embeddings ea ON ea.vec_id = cand.a
        |JOIN embeddings eb ON eb.vec_id = cand.b
        |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |  CAST(eb.embedding AS DOUBLE[])) >= 0.25""".stripMargin,
    // the embed_quant chain replayed, exploded per dim, the six cohort
    // sums and the cross-multiplied drift numerator — all exact integers
    "q_x_embed_drift" ->
      """WITH base AS (
        |  SELECT vec_id, embedding AS vec,
        |    list_max(list_transform(embedding, x -> abs(x))) AS m
        |  FROM embeddings),
        |q AS (SELECT vec_id % 2 AS coh,
        |    CASE WHEN m = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(vec,
        |                x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS qv
        |  FROM base),
        |e AS (SELECT coh, i AS d, qv[i] AS qq
        |  FROM q, unnest(generate_series(1, len(qv))) AS t(i)),
        |a AS (SELECT d,
        |    CAST(sum(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
        |    CAST(sum(CASE WHEN coh = 0 THEN qq ELSE 0 END) AS BIGINT) AS sum_ref,
        |    CAST(sum(CASE WHEN coh = 1 THEN qq ELSE 0 END) AS BIGINT) AS sum_cur,
        |    CAST(sum(CASE WHEN coh = 0 THEN qq*qq ELSE 0 END) AS BIGINT) AS ss_ref,
        |    CAST(sum(CASE WHEN coh = 1 THEN qq*qq ELSE 0 END) AS BIGINT) AS ss_cur
        |  FROM e GROUP BY d)
        |SELECT CAST(d AS INT) AS dim, n_ref, n_cur, sum_ref, sum_cur,
        |  ss_ref, ss_cur,
        |  abs(sum_ref * n_cur - sum_cur * n_ref) AS mean_drift_num
        |FROM a""".stripMargin,
    // identical int8 quant replay, upper-triangle pairs from two index
    // unnests (j >= i), integer sums cast back to BIGINT
    "q_x_embed_gram" ->
      s"""WITH $gramCtes
        |SELECT i, j, n, sum_qq, sum_qi, sum_qj,
        |  n * sum_qq - sum_qi * sum_qj AS cov_num
        |FROM ga""".stripMargin,
    // the identical Gram CTEs, then the 3 power-iteration rounds
    // unrolled: round 1 an integer matrix×ones multiply, later rounds
    // j-ASC-ordered double folds, one max-|·| division per round — the
    // pagerank unroll pattern, so every loading is bit-exact
    "q_x_power_iter" ->
      s"""WITH $gramCtes,
        |cov AS (SELECT i, j, n * sum_qq - sum_qi * sum_qj AS c FROM ga),
        |sym AS (SELECT i, j, c FROM cov
        |  UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i <> j),
        |w1 AS (SELECT i, CAST(sum(c) AS BIGINT) AS w FROM sym GROUP BY i),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS (SELECT i AS j, CASE WHEN m = 0 THEN 0.0E0
        |    ELSE CAST(w AS DOUBLE) / CAST(m AS DOUBLE) END AS v FROM w1, m1),
        |w2 AS (SELECT s.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(s.c AS DOUBLE) * v1.v ORDER BY s.j)),
        |    (acc, x) -> acc + x) AS w
        |  FROM sym s JOIN v1 ON v1.j = s.j GROUP BY s.i),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2),
        |v2 AS (SELECT i AS j, CASE WHEN m = 0 THEN 0.0E0 ELSE w / m END AS v
        |  FROM w2, m2),
        |w3 AS (SELECT s.i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(CAST(s.c AS DOUBLE) * v2.v ORDER BY s.j)),
        |    (acc, x) -> acc + x) AS w
        |  FROM sym s JOIN v2 ON v2.j = s.j GROUP BY s.i),
        |m3 AS (SELECT max(abs(w)) AS m FROM w3)
        |SELECT CAST(i AS INT) AS dim,
        |  CASE WHEN m = 0 THEN 0.0E0 ELSE w / m END AS loading
        |FROM w3, m3""".stripMargin,
    "q_x_embed_quant" ->
      """WITH base AS (
        |  SELECT vec_id, embedding AS vec,
        |    list_max(list_transform(embedding, x -> abs(x))) AS m
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, len(vec) AS n_dims, m,
        |    CASE WHEN m = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(vec,
        |                x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS qv
        |  FROM base
        |)
        |SELECT vec_id, CAST(n_dims AS INT) AS n_dims,
        |  round(CAST(m AS DOUBLE), 6) AS max_abs,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum') AS BIGINT) AS q_l1,
        |  CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
        |FROM q""".stripMargin
  )
}
