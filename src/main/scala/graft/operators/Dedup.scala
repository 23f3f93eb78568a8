package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextOps.{md5Long64, tokens}

/** Deduplication operators for training-data pipelines, all LSH-based where
  * pairwise comparison would be O(n²):
  *
  *  - exact: hash-groupBy keep-first (one shuffle)
  *  - MinHash + LSH banding: shingle → k min-hashes → b bands → bucket join;
  *    only bucket-colliding pairs are verified with exact Jaccard
  *  - SimHash: 64-bit sign-of-weighted-sums sketch, banded for Hamming ≤ r
  *    candidate search — order-invariant, catches shuffled duplicates
  *  - n-gram Jaccard: exact similarity, evaluated only on banded candidates
  *
  * The hash family is md5-derived (seeded by prefix), chosen because common
  * SQL engines can reproduce it bit-for-bit for oracle checks. Every stage is
  * built-in expressions (codegen'd); shuffles key on doc id or band bucket —
  * both well-distributed — so the pipeline survives a 100 TB corpus. The one
  * skew risk — a hot LSH bucket from boilerplate mega-clusters — is guarded
  * once, for every banded front, by [[BandFront]].
  */
object Dedup {

  /** Exact dedup: keep the lowest id per key group. */
  def dedupExact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct word n-gram shingles of the text (order-sensitive). */
  def shingles(text: Column, n: Int): Column = {
    val ws = tokens(text)
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
  }

  /** Distinct character n-grams (for n-gram Jaccard similarity). */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** splitmix64 — generates the per-seed xor constants (the same constants
    * are embedded in the SQL oracle). Canonical implementation lives in
    * NativeKernels so the one-pass kernels and the oracle SQL can never
    * diverge.
    */
  def splitmix64(x0: Long): Long =
    org.apache.spark.sql.graft.NativeKernels.splitmix64(x0)

  def seedConstants(numHashes: Int): IndexedSeq[Long] =
    (0 until numHashes).map(i => splitmix64(i.toLong))

  /** xorshift64 mix, bit-identical across engines: Java's wrapping `<<`
    * equals DuckDB's mask-then-shift `(z & (2^(64-n)-1)) << n`.
    */
  def xs64(z0: Column): Column = {
    val z1 = z0.bitwiseXOR(shiftleft(z0, 13))
    val z2 = z1.bitwiseXOR(shiftrightunsigned(z1, 7))
    z2.bitwiseXOR(shiftleft(z2, 17))
  }

  /** Seeded 64-bit hash family: ONE md5 per shingle (the expensive part),
    * then k cheap xorshift mixes h_i = xs64(h0 ⊕ C_i). Hashing once instead
    * of k times cut the signature stage ~k-fold at 5k docs.
    */
  def seededHashes(c: Column, numHashes: Int): Seq[Column] = {
    val h0 = md5Long64(c)
    seedConstants(numHashes).map(ci => xs64(h0.bitwiseXOR(lit(ci))))
  }

  /** MinHash signature: one row per doc, columns m0..m{k-1} = min over the
    * doc's shingles of the k seeded hashes. Computed by the one-pass native
    * kernel ([[org.apache.spark.sql.graft.natives.minhashSig]]) — a NARROW
    * MAP: the signature stage performs zero shuffles (round 1 exploded
    * shingles and ran k min-aggs — one full shuffle of the exploded corpus).
    * The repartition spreads the hashing work when the source is one parquet
    * file; on a many-split 100 TB corpus it can be dropped.
    */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int): DataFrame =
    widenSignature(docs.repartition(col(idCol))
      .select(col(idCol),
        org.apache.spark.sql.graft.natives.minhashSig(col(textCol), numHashes, shingleN).as("__sig")),
      idCol, numHashes)

  /** MinHash signature over character n-grams — same one-pass narrow-map
    * shape as [[minHashSignature]], gram-level hashing instead of word
    * shingles ([[org.apache.spark.sql.graft.natives.minhashSigChar]]). Docs
    * shorter than `n` codepoints have no grams and are dropped (null sig).
    */
  def minHashSignatureCharNgram(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, n: Int): DataFrame =
    widenSignature(docs.repartition(col(idCol))
      .select(col(idCol),
        org.apache.spark.sql.graft.natives.minhashSigChar(col(textCol), numHashes, n).as("__sig")),
      idCol, numHashes)

  private def widenSignature(sig: DataFrame, idCol: String, numHashes: Int): DataFrame =
    sig.filter(col("__sig").isNotNull)
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)

  /** Default per-bucket cap for banded candidate generation. A bucket of m
    * near-identical docs (boilerplate mega-cluster) otherwise emits m²/2
    * pairs onto one reducer — the one scale-killer in LSH dedup.
    */
  val DefaultMaxBucketSize = 1024

  /** Banded signature table: one row per (id, band index, band hash) —
    * the shared front of [[lshCandidatePairs]] (self-join) and
    * [[crossNearDupMinHash]] (cross-cohort join).
    */
  private def bandTable(sig: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { j =>
      val cols = (j * rowsPerBand until (j + 1) * rowsPerBand).map(i => col(s"m$i"))
      struct(lit(j).as("band"), md5(concat_ws("|", cols: _*)).as("bh"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** (id, band, bh) straight from text — the MinHash banding front exposed
    * for stream-static joins ([[graft.streaming.StreamJobs]]'s near-dup
    * gate precomputes the standing corpus's bands with this): one narrow
    * signature pass + a band explode, stateless and streaming-safe.
    */
  def textBands(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3): DataFrame =
    bandTable(minHashSignature(docs, idCol, textCol, numHashes, shingleN),
      idCol, numHashes, rowsPerBand)

  /** LSH banding: md5 each band of `rowsPerBand` signature values, bucket-join
    * on (band index, band hash), emit unordered candidate pairs (a < b).
    * Hot-bucket guard: [[BandFront]], published as `lsh_hot_buckets`;
    * `failOnOverCap = true` selects its [[BandFront.Fail]] policy.
    */
  def lshCandidatePairs(sig: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame =
    BandFront.selfPairs(bandTable(sig, idCol, numHashes, rowsPerBand), idCol,
      Seq("band", "bh"), "lsh_hot_buckets", maxBucketSize,
      BandFront.policy(failOnOverCap))

  /** MinHash banded candidate pairs straight from text — the
    * [[lshCandidatePairs]] front with the signature step inlined, exposed
    * for consumers that need the CANDIDATE graph itself rather than the
    * verified near-dup pairs (the cross-modal alignment gate).
    */
  def textCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame =
    lshCandidatePairs(minHashSignature(docs, idCol, textCol, numHashes, shingleN),
      idCol, numHashes, rowsPerBand, maxBucketSize, failOnOverCap)

  /** Cross-modal ALIGNMENT gate — CLIP-score's decision role (filter
    * weakly-aligned (caption, image) records before they pollute training
    * or the mm dedup family), made exactly computable: a record is aligned
    * when the corpus NEIGHBORHOODS its two modalities induce agree.
    * Text neighbors = MinHash band collisions of the caption
    * ([[textCandidatePairs]]); image neighbors = pHash band collisions
    * ([[Multimodal.phashBandPairs]]); the score is the Jaccard of the two
    * neighbor SETS, rounded to 3dp (the estimator-calibration idiom).
    * A stock photo reused under an unrelated caption sits in a populated
    * image neighborhood that its caption neighborhood never touches —
    * score → 0; an aligned record's neighborhoods coincide — score → 1;
    * a record with NO neighbors in either modality is vacuously aligned
    * (nothing contradicts the pairing; score 1.0 by definition).
    *
    * Fully deterministic — both band chains replay in DuckDB, so the gate
    * is hash-oracled end-to-end (no declared tier). Scale shape: two
    * band-bucket-bounded pair joins (hot-bucket guards inherited from both
    * fronts), one keyed intersection join of the two neighbor-edge tables,
    * three per-doc counting aggregates; the corpus is touched once per
    * modality for sketching.
    */
  def crossModalAlignment(records: DataFrame, idCol: String,
      captionCol: String, phashCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame = {
    val tp = textCandidatePairs(records, idCol, captionCol,
      numHashes, rowsPerBand, shingleN, maxBucketSize, failOnOverCap)
      .localCheckpoint()
    val ip = Multimodal.phashBandPairs(records, idCol, phashCol,
      maxBucketSize = maxBucketSize, failOnOverCap = failOnOverCap)
      .localCheckpoint()
    // (a, b) with a < b, once → symmetrized edges are distinct by
    // construction (no self-pairs, each unordered pair yields exactly one
    // a→b and one b→a row)
    def sym(p: DataFrame): DataFrame =
      p.select(col("a").as(idCol), col("b").as("__nbr"))
        .unionByName(p.select(col("b").as(idCol), col("a").as("__nbr")))
    alignmentFromNeighbors(records.select(col(idCol)), sym(tp), sym(ip), idCol, tau)
  }

  /** [[crossModalAlignment]]'s NEW-vs-STANDING form — the incremental /
    * streaming-admission tier of the gate (the [[crossModalIncremental]]
    * relationship, applied to alignment): each INCOMING record's two
    * modality neighborhoods are measured against the STANDING corpus only
    * (text = MinHash NEW→OLD band collisions, image = pHash NEW→OLD band
    * collisions — no new×new pairing; intra-batch alignment is the batch
    * operator's job), and the score is the same neighbor-set Jaccard with
    * the same vacuous-1.0 rule. This is the batch twin the streaming gate
    * ([[graft.streaming.StreamJobs.mmAlignmentGateStream]]) is pinned
    * against — both fronts are deterministic band chains, so the row
    * hash-oracles end-to-end. Ids must be globally unique across cohorts
    * (the [[crossNearDupMinHash]] contract).
    */
  def crossModalAlignmentAcross(newRecs: DataFrame, oldRecs: DataFrame,
      idCol: String, captionCol: String, phashCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame = {
    val tp = crossBandPairsOnBands(
      textBands(newRecs, idCol, captionCol, numHashes, rowsPerBand, shingleN),
      textBands(oldRecs, idCol, captionCol, numHashes, rowsPerBand, shingleN),
      idCol, maxBucketSize, failOnOverCap).localCheckpoint()
    val ip = Multimodal.phashBandPairsAcross(newRecs, oldRecs, idCol, phashCol,
      maxBucketSize = maxBucketSize, failOnOverCap = failOnOverCap)
      .localCheckpoint()
    def edges(p: DataFrame): DataFrame =
      p.select(col("a").as(idCol), col("b").as("__nbr"))
    alignmentFromNeighbors(newRecs.select(col(idCol)), edges(tp), edges(ip),
      idCol, tau)
  }

  /** The shared score tail of both alignment forms: distinct neighbor-edge
    * tables (idCol, __nbr) in, per-record counts + Jaccard + gate out.
    */
  private def alignmentFromNeighbors(ids: DataFrame, tn: DataFrame,
      in_ : DataFrame, idCol: String, tau: Double): DataFrame = {
    val nT = tn.groupBy(col(idCol)).agg(count(lit(1)).as("n_text_nbrs"))
    val nI = in_.groupBy(col(idCol)).agg(count(lit(1)).as("n_img_nbrs"))
    val nC = tn.join(in_, Seq(idCol, "__nbr"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_common"))
    ids
      .join(nT, Seq(idCol), "left").join(nI, Seq(idCol), "left")
      .join(nC, Seq(idCol), "left")
      .na.fill(0L, Seq("n_text_nbrs", "n_img_nbrs", "n_common"))
      .withColumn("alignment",
        when(col("n_text_nbrs") + col("n_img_nbrs") === 0, lit(1.0))
          .otherwise(round(col("n_common").cast("double") /
            (col("n_text_nbrs") + col("n_img_nbrs") - col("n_common")).cast("double"), 3)))
      .withColumn("is_aligned", col("alignment") >= tau)
  }

  /** Exact word-shingle Jaccard on candidate pairs: |A∩B| via a native
    * merge walk over sorted hashed shingle sets, |A∪B| = |A|+|B|−|A∩B|.
    *
    * Verification only ever needs the candidate docs — semi-join the corpus
    * down FIRST, then hash each candidate's shingle set ONCE (one-pass
    * [[org.apache.spark.sql.graft.natives.shingleHashes]], a narrow map) and
    * compare pairs with the zero-allocation SortedIntersectCount. The round-2
    * form exploded candidate shingles into an equi-join + two groupBys —
    * three shuffles of the exploded shingle sets; this form shuffles only
    * the (tiny) pair list and the per-doc hash arrays. 64-bit shingle
    * hashing is exact w.r.t. the string sets up to ~1e-15 collision odds
    * per pair (same argument as the n-gram verify and its oracle).
    */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    // semi-join the corpus down BEFORE hashing (the r2 lesson): only
    // candidate docs' shingle sets are ever computed — a Project above the
    // scan would hash every row, the join can't push through it
    val candIds = pairs.select(col("a").as("__id"))
      .unionByName(pairs.select(col("b").as("__id"))).distinct()
    val docsCand = docs.join(broadcast(candIds), col(idCol) === col("__id"), "left_semi")
    jaccardOnPairsShingles(pairs,
      textShingles(docsCand, idCol, textCol, shingleN), idCol)
  }

  /** The verify half of [[jaccardOnPairs]] over a PRE-BUILT shingle table
    * ((idCol, ss sorted-hash array) — hashed inline by the batch path, or
    * read back from a persisted standing index so admission never touches
    * the corpus text at all, [[graft.serve.DedupIndex]]). Semi-joins the
    * shingle table down to candidate docs first; only candidates' arrays
    * ever shuffle.
    */
  def jaccardOnPairsShingles(pairs: DataFrame, shingles: DataFrame,
      idCol: String): DataFrame = {
    val candIds = pairs.select(col("a").as("__id"))
      .unionByName(pairs.select(col("b").as("__id"))).distinct()
    val sh = shingles.join(broadcast(candIds), col(idCol) === col("__id"), "left_semi")
    import org.apache.spark.sql.graft.natives.sortedIntersectCount
    pairs
      .join(sh.select(col(idCol).as("a"), col("ss").as("sa")), Seq("a"))
      .join(sh.select(col(idCol).as("b"), col("ss").as("sb")), Seq("b"))
      .withColumn("common", sortedIntersectCount(col("sa"), col("sb")).cast("double"))
      .select(col("a"), col("b"),
        round(col("common") /
          (size(col("sa")) + size(col("sb")) - col("common")).cast("double"), 3).as("jaccard"))
  }

  /** (id, ss) shingle-hash table straight from text — the persisted-index
    * build's third artifact and the one definition of the verify domain
    * ([[jaccardOnPairsShingles]] input).
    */
  def textShingles(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame =
    docs.select(col(idCol),
      org.apache.spark.sql.graft.natives.shingleHashes(col(textCol), shingleN).as("ss"))

  /** Full MinHash near-dup pipeline: signature → banded candidates → exact
    * Jaccard ≥ threshold.
    */
  def nearDupPairsMinHash(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.6,
      maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame = {
    val sig = minHashSignature(docs, idCol, textCol, numHashes, shingleN)
    // candidate pairs are tiny but referenced twice by the verifier (for the
    // semi-join filter and the pair join) — materialize once so the whole
    // signature pipeline doesn't re-run per reference
    val pairs = lshCandidatePairs(sig, idCol, numHashes, rowsPerBand, maxBucketSize,
      failOnOverCap).localCheckpoint()
    jaccardOnPairs(pairs, docs, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup admission — the NEAR-DUP tier of the Bloom-exact
    * incremental dedup ([[antiJoinBloom]]): which INCOMING docs are
    * near-duplicates of the already-ingested corpus? Signatures for both
    * cohorts, banded buckets joined NEW→OLD only — no new×new or old×old
    * pairing (the standing corpus already deduped itself; intra-batch dedup
    * is [[nearDupPairsMinHash]]'s job) — then exact word-shingle Jaccard on
    * the candidates ([[jaccardOnPairs]] over the union corpus; ids must be
    * globally unique across cohorts). Emits (a = incoming id, b = standing
    * id, jaccard) for matches ≥ threshold — the rows a daily-crawl
    * admission gate REJECTS; admitted = incoming anti-joined on `a`.
    *
    * Scale shape: a daily batch is small next to the standing corpus, so
    * the banded join's cost is bounded by the NEW side's bucket membership,
    * not the corpus. The OLD side (the corpus-sized cohort) carries the
    * [[BandFront.crossPairs]] guard, `cross_lsh_hot_buckets`: an incoming
    * doc colliding with a near-identical mega-cluster still verifies
    * against the cluster's hub.
    */
  def crossNearDupMinHash(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.6,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = crossBandPairs(newDocs, oldDocs, idCol, textCol,
      numHashes, rowsPerBand, shingleN, maxBucketSize).localCheckpoint()
    jaccardOnPairs(pairs, newDocs.unionByName(oldDocs), idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** The NEW→OLD banded candidate join of [[crossNearDupMinHash]] —
    * (a = incoming id, b = standing id) pairs — extracted so the
    * cross-modal incremental tier composes it with the image band join
    * before ONE shared verify.
    */
  private def crossBandPairs(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, numHashes: Int, rowsPerBand: Int,
      shingleN: Int, maxBucketSize: Int): DataFrame =
    crossBandPairsOnBands(
      textBands(newDocs, idCol, textCol, numHashes, rowsPerBand, shingleN),
      textBands(oldDocs, idCol, textCol, numHashes, rowsPerBand, shingleN),
      idCol, maxBucketSize)

  /** The NEW→OLD band join over PRE-BUILT band tables ((idCol, band, bh)
    * rows — [[textBands]] output or a persisted standing index read back
    * from parquet, [[graft.serve.DedupIndex]]): identical semantics to the
    * recompute path because [[crossBandPairs]] delegates here. The
    * standing-side guard ([[BandFront.crossPairs]], `cross_lsh_hot_buckets`)
    * applies to the standing bands wherever they came from.
    */
  def crossBandPairsOnBands(newBands: DataFrame, oldBands: DataFrame,
      idCol: String, maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame =
    BandFront.crossPairs(newBands, oldBands, idCol, Seq("band", "bh"),
      "cross_lsh_hot_buckets", maxBucketSize, BandFront.policy(failOnOverCap))

  /** Incremental CROSS-MODAL admission — [[crossModalPairDedup]]'s
    * NEW-vs-STANDING form, completing the incremental matrix (exact →
    * [[antiJoinBloom]]; text near-dup → [[crossNearDupMinHash]]; edit →
    * the grid tier; pairs → this): which incoming (caption, image)
    * records duplicate the standing corpus in BOTH modalities? Candidates
    * = the text NEW→OLD band join ∩ the image NEW→OLD pHash band join
    * (both with the old-side hub guard at `maxBucketSize`); ONE verify —
    * exact caption Jaccard ≥ `threshold` AND exact image Hamming ≤
    * `maxHamming`. Emits (a =
    * incoming id, b = standing id, jaccard, hamming); admitted = incoming
    * anti-joined on `a`. No new×new or old×old pairing — intra-batch
    * cross-modal dedup is [[crossModalPairDedup]]'s job. Ids must be
    * globally unique across cohorts (the crossNearDupMinHash contract).
    */
  def crossModalIncremental(newRecs: DataFrame, oldRecs: DataFrame,
      idCol: String, captionCol: String, phashCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.6, maxHamming: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val tPairs = crossBandPairs(newRecs, oldRecs, idCol, captionCol,
      numHashes, rowsPerBand, shingleN, maxBucketSize)
    val iPairs = Multimodal.phashBandPairsAcross(newRecs, oldRecs, idCol, phashCol,
      maxBucketSize = maxBucketSize)
    val cand = tPairs.join(iPairs, Seq("a", "b")).localCheckpoint()
    val all = newRecs.unionByName(oldRecs)
    val ph = all.select(col(idCol), col(phashCol))
    jaccardOnPairs(cand, all, idCol, captionCol, shingleN)
      .join(ph.select(col(idCol).as("a"), col(phashCol).as("__pa")), Seq("a"))
      .join(ph.select(col(idCol).as("b"), col(phashCol).as("__pb")), Seq("b"))
      .select(col("a"), col("b"), col("jaccard"),
        expr("bit_count(__pa ^ __pb)").cast("long").as("hamming"))
      .filter(col("jaccard") >= threshold && col("hamming") <= maxHamming)
  }

  /** Cross-modal PAIR-level near-dup — the LAION-style (caption, image)
    * record dedup: two records are duplicates only when BOTH modalities
    * agree. Per-modality dedup ([[nearDupPairsMinHash]] for text,
    * [[Multimodal.phashBandPairs]]+Hamming for images) cannot express
    * this — a re-used stock photo under different captions, or a re-worded
    * caption over different images, must NOT collapse; only the
    * caption-near-dup ∧ image-near-dup conjunction may.
    *
    * Candidates = text MinHash band collisions ∩ image pHash band
    * collisions (inner join of the two banded pair sets — the conjunction
    * at the CANDIDATE tier already, so the verify stage only ever touches
    * pairs plausible in both modalities). Verify = exact word-shingle
    * Jaccard ≥ `threshold` AND exact Hamming ≤ `maxHamming` — fully
    * deterministic, so the whole pipeline is oracle-replayable (no
    * declared tier needed). Recall contract: the conjunction of the two
    * banding guarantees — a pair is guaranteed a candidate when its
    * signatures share a band (MinHash side) AND its hashes differ in
    * < numBands bits (pigeonhole, image side); beyond either radius the
    * miss probability is the product of the two band-miss probabilities
    * (strictly better than either blocker alone at equal thresholds,
    * because the OTHER modality can still not rescue a missed candidate —
    * the conjunction only ever SHRINKS the candidate set, never recall
    * within the guaranteed radii).
    *
    * `phashCol` is any 63-bit perceptual hash column; the registry row
    * feeds [[Multimodal.dHash63]] over the stub-decode tier, a production
    * pipeline substitutes the decoded-thumbnail dHash at exactly that
    * column (the [[Multimodal]] class contract) and nothing here changes.
    *
    * Scale shape: both band joins are bucket-bounded shuffles of
    * (band, value) keys; the conjunction join and both verify joins run
    * over the (tiny) intersected pair list — the corpus is touched once
    * per modality for sketching plus one semi-joined verify read.
    */
  def crossModalPairDedup(records: DataFrame, idCol: String,
      captionCol: String, phashCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.6, maxHamming: Int = 6,
      maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame = {
    val textCand = lshCandidatePairs(
      minHashSignature(records, idCol, captionCol, numHashes, shingleN),
      idCol, numHashes, rowsPerBand, maxBucketSize, failOnOverCap)
    // failOnOverCap covers BOTH band fronts: a silently star-capped image
    // bucket would thin the conjunction textCand∩imgCand against an
    // uncapped oracle replay even when the text side raised loudly
    val imgCand = Multimodal.phashBandPairs(records, idCol, phashCol,
      maxBucketSize = maxBucketSize, failOnOverCap = failOnOverCap)
    // conjunction BEFORE verify; materialized once — referenced by the
    // verify semi-join and the pair join (the nearDupPairsMinHash pattern)
    val cand = textCand.join(imgCand, Seq("a", "b")).localCheckpoint()
    crossModalVerify(cand, records, idCol, captionCol, phashCol,
      shingleN, threshold, maxHamming)
  }

  /** The verify tail shared by [[crossModalPairDedup]] and
    * [[crossModalGatedDedup]]: a materialized candidate pair table in,
    * exact caption Jaccard + exact image Hamming out, conjunction filter.
    */
  private def crossModalVerify(cand: DataFrame, records: DataFrame,
      idCol: String, captionCol: String, phashCol: String,
      shingleN: Int, threshold: Double, maxHamming: Int): DataFrame = {
    val ph = records.select(col(idCol), col(phashCol))
    jaccardOnPairs(cand, records, idCol, captionCol, shingleN)
      .join(ph.select(col(idCol).as("a"), col(phashCol).as("__pa")), Seq("a"))
      .join(ph.select(col(idCol).as("b"), col(phashCol).as("__pb")), Seq("b"))
      .select(col("a"), col("b"), col("jaccard"),
        expr("bit_count(__pa ^ __pb)").cast("long").as("hamming"))
      .filter(col("jaccard") >= threshold && col("hamming") <= maxHamming)
  }

  /** [[crossModalAlignment]] composed with [[crossModalPairDedup]], the band
    * fronts built ONCE (r20): the alignment gate and the pair dedup consume
    * the SAME two banded candidate-pair tables, so the composed query (gate
    * first, dedup over aligned survivors) need not re-sketch the survivor
    * cohort — the survivor cohort's candidate pairs are exactly the
    * full-cohort pairs whose BOTH endpoints survived the gate:
    *   - all-pairs buckets: restricting a bucket's membership to the
    *     survivor set S turns its pair set {a<b ∈ M} into {a<b ∈ M∩S},
    *     i.e. the full pair set filtered to S×S;
    *   - both fronts always run with the [[BandFront.Fail]] policy: a
    *     full-cohort over-cap bucket raises instead of star-substituting.
    *     Star pairs would break the identity twice over — a sub-cohort
    *     bucket may drop under the cap and pair in full, and a gated-out
    *     hub disconnects its whole bucket (the [[BandFront]] trade).
    * Output is therefore row-identical to
    * `crossModalPairDedup(records ⋉ aligned, …, failOnOverCap = true)`
    * (DedupSpec pins it) at half the sketching cost: one MinHash signature
    * pipeline and one pHash band table instead of two of each.
    */
  def crossModalGatedDedup(records: DataFrame, idCol: String,
      captionCol: String, phashCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.6, maxHamming: Int = 6, tau: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val tp = textCandidatePairs(records, idCol, captionCol,
      numHashes, rowsPerBand, shingleN, maxBucketSize, failOnOverCap = true)
      .localCheckpoint()
    val ip = Multimodal.phashBandPairs(records, idCol, phashCol,
      maxBucketSize = maxBucketSize, failOnOverCap = true)
      .localCheckpoint()
    def sym(p: DataFrame): DataFrame =
      p.select(col("a").as(idCol), col("b").as("__nbr"))
        .unionByName(p.select(col("b").as(idCol), col("a").as("__nbr")))
    // doc-scale survivor set; materialized once — referenced by two
    // semi-joins (both endpoints must survive the gate)
    val aligned = alignmentFromNeighbors(records.select(col(idCol)),
        sym(tp), sym(ip), idCol, tau)
      .filter(col("is_aligned")).select(col(idCol))
      .localCheckpoint()
    val cand = tp.join(ip, Seq("a", "b"))
      .join(aligned.select(col(idCol).as("a")), Seq("a"), "left_semi")
      .join(aligned.select(col(idCol).as("b")), Seq("b"), "left_semi")
      .localCheckpoint()
    crossModalVerify(cand, records, idCol, captionCol, phashCol,
      shingleN, threshold, maxHamming)
  }

  /** 64-bit SimHash per doc over the token multiset: bit i of the sketch is
    * set iff Σ_tokens (±1 by bit i of the token hash) > 0. One-pass native
    * kernel straight from the text ([[org.apache.spark.sql.graft.natives
    * .simhashText]]) — a narrow map, no explode/collect_list shuffle (round
    * 1's explode+groupBy form; before that, the all-built-ins fold blew up
    * codegen via CollapseProject duplication).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(col(idCol))
      .select(col(idCol), org.apache.spark.sql.graft.natives.simhashText(col(textCol)).as("simhash"))
      // null text → null sketch; the exploded pipeline (and the SQL oracle)
      // drop such docs, so parity requires dropping them here too
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup candidates: split the sketch into bands, bucket-join,
    * then verify the true Hamming distance with bit_count(xor).
    *
    * RECALL CONTRACT: the default 4×16-bit banding GUARANTEES a candidate
    * only for pairs with Hamming ≤ 3 (pigeonhole: ≤ 3 differing bits cannot
    * touch all 4 bands). `maxHamming` may be set higher — the verify stage
    * is exact — but then results are candidate-recall-limited: a pair at
    * distance 4..maxHamming is found only if its differing bits happen to
    * spare one band. For a GUARANTEE at larger radii set
    * `guaranteeRadius = true`: the sketch is split into `maxHamming + 1`
    * near-equal slices, so any pair within radius shares an untouched band
    * by pigeonhole — zero candidate misses at Hamming ≤ maxHamming.
    * Supported for maxHamming ≤ 7 (8×8-bit bands); beyond that the band
    * keyspace (2^width per band) is too small to discriminate at corpus
    * scale — band a rotation family or use [[nearDupPairsMinHash]] instead.
    *
    * Hot-bucket guard: [[BandFront]] (star policy), published as
    * `simhash_hot_buckets`; the hub's sketch rides along as the payload, so
    * star pairs carry their exact Hamming. The Hamming filter runs AFTER
    * star substitution, so an over-cap member whose distance to the HUB
    * exceeds `maxHamming` is dropped entirely even when within range of a
    * sibling — over-cap buckets can lose members, not just re-home their
    * edges; with `guaranteeRadius` the zero-miss guarantee is therefore
    * modulo capped buckets.
    */
  def nearDupPairsSimHash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize,
      guaranteeRadius: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    require(!guaranteeRadius || maxHamming <= 7,
      s"guaranteeRadius supports maxHamming <= 7 (got $maxHamming); " +
        "larger radii need a rotation family or MinHash banding")
    val numBands = if (guaranteeRadius) maxHamming + 1 else 4
    // near-equal bit slices covering all 64 bits (e.g. 6 bands → 11,11,11,11,10,10)
    val base = 64 / numBands
    val rem = 64 % numBands
    val slices = (0 until numBands).map { j =>
      val start = j * base + math.min(j, rem)
      val width = base + (if (j < rem) 1 else 0)
      // width can be 64 (guaranteeRadius + maxHamming=0 → one full-word
      // band); JVM shifts are mod-64, so (1L << 64) - 1L would be 0 and
      // collapse the whole corpus into a single bucket
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(j).as("band"),
        shiftrightunsigned(col("simhash"), start)
          .bitwiseAND(lit(mask)).as("bv"))
    }
    val bands = simHash(docs, idCol, textCol)
      .select(col(idCol), col("simhash"), explode(array(slices: _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    BandFront.selfPairs(bands, idCol, Seq("band", "bv"), "simhash_hot_buckets",
        maxBucketSize, payload = Some("simhash" -> ((x, y) => bit_count(x.bitwiseXOR(y)))))
      .withColumnRenamed("__p", "hamming")
      .filter(col("hamming") <= maxHamming)
  }

  /** Character-n-gram Jaccard near-dups with CONTENT-based banding: gram-level
    * MinHash signatures ([[minHashSignatureCharNgram]], one narrow map) band
    * candidates through [[lshCandidatePairs]], then exact gram Jaccard is
    * verified on candidates only. The round-2 form banded by a length bucket
    * — content-blind, so a bucket held a constant FRACTION of the corpus and
    * the within-bucket all-pairs join was O(n²) no matter the salt; banded
    * candidates are linearithmic and shuffle on a well-distributed band hash.
    *
    * Verification is exact on the candidate set: n-gram sets are hashed to
    * longs and sorted ONCE per doc (semi-joined down to candidate docs
    * first), then each pair is a zero-allocation merge walk (native
    * SortedIntersectCount). 64-bit gram hashing is exact w.r.t. the string
    * sets up to ~1e-15 collision odds per pair.
    *
    * RECALL CONTRACT: candidates are probabilistic — catch probability is
    * 1−(1−J^r)^b, s-curve midpoint (1/b)^(1/r). The default r=4, b=4 sits
    * the midpoint at ≈0.71: near-identical docs (J ≥ 0.8, the dedup targets)
    * are caught at ≥ 97%, while pairs just over a low threshold may be
    * missed. r MUST stay ≥ 4 on natural-language corpora: shared vocabulary
    * puts the BASELINE pairwise gram Jaccard around 0.2 (measured on the
    * test corpus), and r=2 banding made 46% of ALL pairs candidates — the
    * all-pairs regime the banding exists to avoid. Pairs the bands miss are
    * lost (the trade every LSH path in this module makes); the exact verify
    * guarantees no false positives.
    */
  def nearDupPairsCharNgram(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5,
      numHashes: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame = {
    val sig = minHashSignatureCharNgram(docs, idCol, textCol, numHashes, n)
    // pairs are tiny but referenced twice by the verifier — materialize once
    val pairs = lshCandidatePairs(sig, idCol, numHashes, rowsPerBand, maxBucketSize,
      failOnOverCap).localCheckpoint()
    val candIds = pairs.select(col("a").as("__id"))
      .unionByName(pairs.select(col("b").as("__id"))).distinct()
    val grams = docs.join(broadcast(candIds), col(idCol) === col("__id"), "left_semi")
      .select(col(idCol), org.apache.spark.sql.graft.natives.gramHashes(col(textCol), n).as("gs"))
    import org.apache.spark.sql.graft.natives.sortedIntersectCount
    pairs
      .join(grams.select(col(idCol).as("a"), col("gs").as("ga")), Seq("a"))
      .join(grams.select(col(idCol).as("b"), col("gs").as("gb")), Seq("b"))
      .withColumn("common", sortedIntersectCount(col("ga"), col("gb")).cast("double"))
      .select(col("a"), col("b"),
        round(col("common") /
          (size(col("ga")) + size(col("gb")) - col("common")).cast("double"),
          3).as("ngram_jaccard"))
      .filter(col("ngram_jaccard") >= threshold)
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph, so "a≈b, b≈c" collapses to one keep-decision instead of two
    * independent pair drops. Hash-min label propagation (the MapReduce-CC
    * family — Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): every node starts as its own label and each round
    * adopts the min label among itself and its neighbors, so the component's
    * min id floods outward one hop per round — labels stabilize after
    * `diameter` rounds and the fixpoint is OBSERVED one round later (the
    * detecting round's no-change propagation is itself the proof), so
    * `maxIter` must be ≥ diameter + 1. Detection is distributed (an
    * any-label-shrank aggregate, no driver-side data). Near-dup graphs are
    * dense blobs with tiny diameters
    * (the LSH star-guard caps them at 2 hops), so 3-4 rounds is typical;
    * each round is two key-shuffles (join on dst, groupBy node), every
    * intermediate is localCheckpoint'd to keep the lineage flat, and labels
    * only ever decrease so the propagation is shuffle-order-independent and
    * deterministic. 100 TB lens: O((V+E)·diameter) total shuffle volume; for
    * a pathological long-chain graph the large-star/small-star variant of
    * the same paper halves the diameter per round — the guard rails here
    * (maxIter + hard failure) make that upgrade a drop-in if a corpus ever
    * needs it.
    *
    * Returns (idCol, cluster_id, cluster_size) for every node that appears
    * in `pairs`; cluster_id is the component's min node id (= the kept
    * representative under keep-lowest).
    */
  def duplicateClusters(pairs: DataFrame, leftCol: String, rightCol: String,
      idCol: String = "doc_id", maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(leftCol).as("src"), col(rightCol).as("dst"))
      .unionByName(pairs.select(col(rightCol).as("src"), col(leftCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("label"))
      val merged = neighborLabels.unionByName(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      // labels are monotonically non-increasing, so "changed" ⟺ "shrank".
      // r19: the shrink census rides the checkpoint job itself — the
      // previous labels join INTO the checkpointed plan (1:1 on the same
      // node set, so the output rows are unchanged) and the count is an
      // observe metric (Ops.checkpointWithMetric) instead of a separate
      // join-and-isEmpty action per round.
      val withPrev = merged
        .join(labels.withColumnRenamed("label", "__prev"), Seq("node"))
      val (cp, readChanged) = graft.functions.Ops.checkpointWithMetric(
        withPrev.select(col("node"), col("label"), col("__prev")),
        sum(when(col("label") < col("__prev"), 1L).otherwise(0L)).as("n_changed"))
      val next = cp.select(col("node"), col("label"))
      converged = readChanged() match {
        case Some(n: Long) => n == 0L
        case Some(null) => true // sum over zero rows: no label could change
        case _ =>
          // metric pruned (empty frame under AQE) — the pre-fusion check
          next.join(labels.withColumnRenamed("label", "prev"), Seq("node"))
            .filter(col("label") < col("prev")).isEmpty
      }
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: no fixpoint after $maxIter rounds — component " +
          "diameter exceeds the bound; raise maxIter or switch to large-star/small-star")
    labels
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("node").as(idCol), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** Build a Bloom membership sketch over `keyCol` of the already-ingested
    * corpus — the incremental-dedup accelerator. The aggregate is Spark's
    * own distributive BloomFilterAggregate (partial sketches OR-merge
    * map-side), sized at numBits = ⌈−n·ln(fpp)/ln²2⌉; the returned bytes
    * are numBits/8 regardless of corpus size (≈1.2 MB per 10⁶ keys at 1%
    * FPP — for a 10⁹-key history either accept a higher FPP or shard the
    * sketch by key range; correctness never depends on FPP because every
    * "maybe" is exactly verified downstream). The one-row result is
    * materialized on the driver because [[natives.bloomMightContain]]
    * requires a plan-time-constant sketch — the same materialize-then-probe
    * shape Spark's InjectRuntimeFilter uses (there via a scalar subquery);
    * this is a KB-sized sketch, not row data. Returns None for an empty
    * key set (probe side should then skip straight to the exact path).
    */
  def buildKeyBloom(oldKeys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): Option[Array[Byte]] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, "bad bloom sizing")
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong.max(64L)
    import org.apache.spark.sql.graft.natives
    Option(oldKeys
      .agg(natives.bloomAgg(xxhash64(col(keyCol)), expectedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf"))
  }

  /** Incremental corpus dedup: rows of `newDf` whose `keyCol` is NOT among
    * `oldKeys`, Bloom-pruned then exactly verified. The sketch answers
    * "definitely new" for most of the incoming batch WITHOUT any shuffle —
    * those rows stream straight through a narrow filter; only the "maybe"
    * sliver (true duplicates + FPP·new) pays the anti-join against the old
    * key set. Result is EXACT for any FPP (Bloom filters have no false
    * negatives; false positives are caught by the anti-join), so the
    * output is oracle-checkable while the scale win — not shuffling the
    * 99% of a daily crawl that is genuinely new — survives. The plan keeps
    * one scan of newDf feeding both branches (the probe is a cheap
    * codegen'd predicate), and the union is partition-local.
    */
  def antiJoinBloom(newDf: DataFrame, oldKeys: DataFrame, keyCol: String,
      bloom: Option[Array[Byte]]): DataFrame = bloom match {
    case None => newDf // no history yet: everything is new
    case Some(bytes) =>
      import org.apache.spark.sql.graft.natives
      val maybe = natives.bloomMightContain(lit(bytes), xxhash64(col(keyCol)))
      val definitelyNew = newDf.filter(!maybe)
      val verified = newDf.filter(maybe)
        .join(oldKeys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      definitelyNew.unionByName(verified)
  }

  /** Post-dedup survivor resolve — the one representative per duplicate
    * cluster plus every singleton, with the merge count. `clusters` is
    * [[duplicateClusters]] output (near-dup members ONLY, so the join
    * broadcasts at any corpus size); the representative is the hash-min
    * cluster_id itself. Keeps every column of `df` and appends
    * `n_merged` (1 for singletons). One place pins the representative
    * rule for the doc and embedding pipelines and their specs.
    */
  def survivors(df: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(clusters), Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
      .withColumn("n_merged", coalesce(col("cluster_size"), lit(1L)))
      .drop("cluster_size")

  /** GOLDEN-RECORD construction — the entity-resolution survivorship
    * merge that turns each resolved duplicate cluster into ONE canonical
    * row with FIELD-LEVEL rules (vs [[survivors]], which keeps one
    * existing member row verbatim): per entity (cluster id when
    * clustered, the row's own id otherwise) the golden row takes
    *  - the LONGEST `textCol` value — the most-complete rule; ties break
    *    to the lowest member id so the merge is deterministic,
    *  - the MAJORITY `catCol` value — vote; ties to the smallest value,
    *  - provenance: member count, distinct-`srcCol` count, and the
    *    sorted source list (the audit trail a downstream consumer needs
    *    to trust a merged row).
    * Scale shape: the cluster table is dup-members-only → broadcast key
    * attach (the [[survivors]] argument). Both merge rules are exact
    * struct-extrema folds — argmax via max(struct(len, −id, text)) and
    * majority via a (entity, value) count then min(struct(−count,
    * value)) — no max_by tie nondeterminism, no per-entity buffer beyond
    * the distinct-value count; the sorted source list is the one
    * cluster-bounded collect, bounded by the same LSH hub caps that
    * bound cluster size upstream.
    */
  def goldenRecords(df: DataFrame, clusters: DataFrame, idCol: String,
      textCol: String, catCol: String, srcCol: String): DataFrame = {
    val keyed = df
      .join(broadcast(clusters.select(col(idCol), col("cluster_id"))),
        Seq(idCol), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col(idCol)))
    val merged = keyed.groupBy(col("entity_id"))
      .agg(
        max(struct(length(col(textCol)).as("__l"), (-col(idCol)).as("__nid"),
          col(textCol).as("__t"))).getField("__t").as(textCol),
        count(lit(1)).as("n_members"),
        countDistinct(col(srcCol)).as("n_sources"),
        array_join(array_sort(collect_set(col(srcCol))), ",").as("sources"))
    val majority = keyed
      .groupBy(col("entity_id"), col(catCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("entity_id"))
      .agg(min(struct((-col("__c")).as("__nc"), col(catCol).as("__v")))
        .getField("__v").as(catCol))
    merged.join(majority, Seq("entity_id"))
      .select(col("entity_id"), col("n_members"), col(textCol), col(catCol),
        col("n_sources"), col("sources"))
  }

  /** Exact duplicate-SPAN removal (the ExactSubstr move of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", word-gram
    * form): any word n-gram occurring ≥2 times ANYWHERE in the corpus —
    * across documents or repeated within one — is cut from EVERY document,
    * a token being cut when any duplicated gram's n-token window covers it.
    * (That is the published semantics: the suffix-array implementation
    * removes all copies of a duplicated substring, which can hollow out
    * heavily-templated documents — by design.) Production uses n≈50 BPE
    * tokens; n is a parameter here.
    *
    * Distributed shape (the suffix array is inherently single-machine; the
    * scalable equivalent is gram-frequency counting):
    *   1. one narrow pass emits (doc, pos, gramHash64) via posexplode of
    *      the position-ordered [[org.apache.spark.sql.graft.natives.shingleHashesOrdered]]
    *      kernel — O(total tokens) rows, no gram strings materialized;
    *   2. one gram-keyed shuffle counts occurrences (partial aggregation
    *      absorbs hot boilerplate grams — the skewed keys are exactly the
    *      duplicated ones, and map-side combine collapses them per task);
    *   3. the duplicated-gram set joins back to the instances (AQE picks
    *      broadcast when the dup set is small; gram hashes are uniform so
    *      the sort-merge fallback has no skew) and one doc-keyed shuffle
    *      collects each doc's duplicated start positions;
    *   4. a per-row rebuild keeps tokens covered by no duplicated window —
    *      per-row cost O(tokens · dupStarts), bounded by document length,
    *      corpus-size-invariant (the chunk-dedup precedent).
    *
    * The dup key is the 64-bit md5 prefix of the space-joined gram (the
    * decontamination contract): both engines hash identically, so the
    * semantics are exact-by-construction at the hash level; a cross-gram
    * collision (~1e-15 per pair) would merely cut one extra span.
    *
    * Output: one row per input doc — n_tokens (raw whitespace split; blank
    * docs count their [""] artifact like the oracle's regexp_split),
    * n_dup_grams (this doc's duplicated gram instances), n_kept, and the
    * md5 digest of the space-rejoined surviving tokens.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.natives.shingleHashesOrdered
    val grams = docs.select(col(idCol),
        posexplode(shingleHashesOrdered(col(textCol), n)).as(Seq("__pos", "__g")))
    val dup = grams.groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select(col("__g"))
    val dupStarts = grams.join(dup, Seq("__g"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__starts"))
    docs.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"))
      .select(col(idCol), col("__toks"), col("__starts"),
        transform(
          filter(sequence(lit(0), size(col("__toks")) - 1),
            p => !exists(col("__starts"), s => p >= s && p <= s + lit(n - 1))),
          p => element_at(col("__toks"), p + 1)).as("__kept"))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        size(col("__starts")).as("n_dup_grams"),
        size(col("__kept")).as("n_kept"),
        md5(array_join(col("__kept"), " ")).as("clean_digest"))
  }

  /** Set-CONTAINMENT near-dup pairs via prefix filtering (the AllPairs /
    * PPJoin candidate rule, Bayardo et al. 2007 / Xiao et al. 2008) — the
    * asymmetric duplicate class Jaccard tiers under-rank: a short document
    * quoted wholesale inside a long one has tiny Jaccard (union is large)
    * but containment ≈ 1 of the short side. Containment here is over
    * distinct word n-gram shingles: C(a, b) = |S(a) ∩ S(b)| / |S(a)| for
    * the pair oriented so a is the SMALLER set (ties: smaller id).
    *
    * Prefix filtering, with its exactness argument: order every doc's
    * shingles by ascending global document frequency (ties: shingle text);
    * the doc's PREFIX is its first ⌊(1−τ)·n⌋+1 shingles. If C(a, b) ≥ τ
    * then fewer than (1−τ)·n_a + 1 of a's shingles miss b, so at least one
    * PREFIX shingle of a is in b — candidates = (prefix(x) ⋈ shingles(y))
    * pairs, a LOSSLESS filter at threshold τ. Rarest-first ordering is
    * what makes it cheap: the join keys are by construction the corpus's
    * LOW-df shingles, so posting lists on the probe side are short. τ is
    * carried as an integer ratio (tauNum/tauDen) end to end — prefix
    * length, verification test, and the output basis points are all
    * integer arithmetic, hence oracle-exact.
    *
    * Scale shape: one narrow shingle pass (checkpointed — the set table
    * is read by the df count, the rank window, and both verify sides),
    * one df-keyed count, one per-doc rank window (partition = doc,
    * buffer = its distinct shingles), one shingle-keyed candidate join,
    * then set intersection on the candidate pairs only. `maxTokenDf`
    * drops shingles more frequent than the cap from candidate generation
    * (boilerplate n-grams — the [[editNearDupPairs]] maxChunkDf move, a
    * documented recall trade; verification still uses FULL sets). The cap
    * census rides `observe` as `containment_hot_shingles`
    * (n_capped_shingles + max_shingle_df) so both failure modes — recall
    * loss when it fires, df² candidate blowup when it should have — are
    * visible to any QueryExecutionListener in production. Caveat (probed
    * on Spark 4.1): if a run's RESULT is empty, AQE's empty-relation
    * propagation can prune the CollectMetrics subtree and the metric is
    * absent rather than zero — treat a missing census as "no survivors",
    * not "no capping".
    *
    * Output: (a, b, overlap, n_small, containment_bp) for C ≥ τ pairs.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      tauNum: Int = 8, tauDen: Int = 10, maxTokenDf: Long = 1024L): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, "containmentPairs: 0 < tau <= 1")
    // shingle sets are SORTED DISTINCT 64-bit hashes from the one-pass
    // native kernel: the candidate keys shrink to longs and the verify
    // becomes a zero-allocation merge walk (sortedIntersectCount) instead
    // of a quadratic string array_intersect — measured 12.7 s → see
    // PLANS.md at sf0.1. Exactness is at the hash level (the
    // removeDuplicateSpans contract): a cross-shingle collision
    // (~1e-15/pair) could inflate one overlap count by 1.
    val tl = docs
      .select(col(idCol).as("__id"),
        org.apache.spark.sql.graft.natives.shingleHashes(col(textCol), shingleN).as("__ts"))
      .filter(size(col("__ts")) > 0)
      .localCheckpoint()
    val toks = tl.select(col("__id"), size(col("__ts")).as("__n"),
      explode(col("__ts")).as("__tok"))
    // the maxTokenDf cap firing is a RECALL event (a capped shingle can no
    // longer witness a candidate pair) and the cap NOT firing on a
    // saturating vocabulary is a COST event (candidate volume grows with
    // df²) — both must be visible in production, so the df census rides
    // `observe` (the BandFront hot-bucket
    // pattern): capped-shingle count + the max df actually seen, readable
    // from any QueryExecutionListener without extra jobs.
    // checkpointed: the df table is consumed TWICE (prefix ranking and
    // the candidate probe side) — without the cut the observe'd aggregate
    // subtree executes twice per run and the census double-counts (the
    // BandFront.selfPairs pattern; r14 advice)
    val dfc = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
      .observe("containment_hot_shingles",
        sum(when(col("__df") > maxTokenDf, 1L).otherwise(0L))
          .as("n_capped_shingles"),
        max(col("__df")).as("max_shingle_df"))
      .filter(col("__df") <= maxTokenDf)
      .localCheckpoint()
    val ranked = toks.join(dfc, Seq("__tok"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))))
    // integer prefix length ⌊(1−τ)·n⌋+1 via `div` — Spark's `/` on ints is
    // a double divide, and 1−τ is not binary-exact; the oracle uses `//`
    val prefix = ranked
      .filter(col("__r") <= expr(s"__n * ${tauDen - tauNum} div $tauDen") + 1)
      .select(col("__tok"), col("__id").as("__x"), col("__n").as("__nx"))
    val cand = prefix
      .join(toks.join(dfc, Seq("__tok"))
          .select(col("__tok"), col("__id").as("__y"), col("__n").as("__ny")),
        Seq("__tok"))
      .filter(col("__x") =!= col("__y"))
      .select(
        when(struct(col("__nx"), col("__x")) < struct(col("__ny"), col("__y")),
          struct(col("__x").as("a"), col("__y").as("b")))
          .otherwise(struct(col("__y").as("a"), col("__x").as("b"))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .distinct()
    cand
      .join(tl.select(col("__id").as("a"), col("__ts").as("__ta")), Seq("a"))
      .join(tl.select(col("__id").as("b"), col("__ts").as("__tb")), Seq("b"))
      .select(col("a"), col("b"),
        org.apache.spark.sql.graft.natives
          .sortedIntersectCount(col("__ta"), col("__tb")).cast("long").as("overlap"),
        size(col("__ta")).cast("long").as("n_small"))
      .filter(col("overlap") * tauDen >= col("n_small") * tauNum)
      .select(col("a"), col("b"), col("overlap"), col("n_small"),
        expr("overlap * 10000 div n_small").as("containment_bp"))
  }

  /** Edit-distance near-duplicate pairs: positional-grid blocking + banded
    * Levenshtein verification — the EXACT-THRESHOLD sibling of the MinHash/
    * SimHash tiers for the "small local edits" duplicate class (version
    * bumps, timestamp swaps, appended footers), where Jaccard over shingles
    * both over- and under-fires and the edit distance IS the spec.
    *
    * Blocking: each doc emits its aligned q-char grid chunks (chunk i =
    * codepoints [i·q, (i+1)·q)); candidates are pairs agreeing on ANY
    * (position, chunk) key with |len(a) − len(b)| ≤ maxDist (a necessary
    * condition of the edit bound, applied inside the chunk join). The grid
    * guarantee is honest and stated: a pair is caught iff some aligned
    * q-chunk survives the edits — always true when the edits sit right of
    * the first chunk, true for ≤ ⌊L/q⌋−1 scattered substitutions by
    * pigeonhole, NOT guaranteed once an early insertion shifts the whole
    * tail (that phase-shifted class is what [[nearDupPairsMinHash]]'s
    * order-insensitive bucketing feeds to the same verifier — compose the
    * two candidate streams when both edit classes are in play).
    *
    * Verification is Spark's threshold-banded `levenshtein(a, b, k)` —
    * O(k·L) per pair instead of O(L²), returning the exact distance when
    * ≤ k (the oracle's plain levenshtein agrees integer-for-integer; no
    * float anywhere in the operator).
    *
    * Scale shape: the grid pass is a narrow codegen'd map emitting L/q keys
    * per doc; the candidate join keys on (position, chunk) — and a chunk
    * shared by > maxChunkDf docs is dropped BEFORE the join (a grid chunk
    * that frequent is boilerplate, not identity evidence — the prefix-
    * filtering move, same role as [[DefaultMaxBucketSize]]: it converts the
    * boilerplate-header quadratic blowup into a documented recall trade;
    * real same-position near-dups still collide on their non-boilerplate
    * chunks). Verified pairs join text back by id — two keyed shuffles, no
    * broadcast of the corpus anywhere.
    *
    * Output: (a, b, lev) with a < b, lev ≤ maxDist, BIGINT lev.
    */
  /** Normalized (id, text, codepoint length) projection shared by the
    * edit-distance family.
    */
  private def editDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"), col(textCol).as("__t"),
      length(col(textCol)).cast("long").as("__len"))

  /** Aligned q-codepoint grid chunks of [[editDocs]] rows: one row per
    * (id, len, chunk index, chunk). len = 0 docs emit no chunks (no
    * identity evidence, never paired) — matches the oracle's empty
    * generate_series on an empty text. Narrow codegen'd map.
    */
  private def gridChunks(d: DataFrame, q: Int): DataFrame =
    d.filter(col("__len") >= 1)
      .select(col("__id"), col("__len"),
        posexplode(transform(
          sequence(lit(0), ((col("__len") - 1) / q).cast("int")),
          i => substring(col("__t"), lit(1) + i * q, lit(q)))).as(Seq("__i", "__ch")))

  /** Aligned-grid candidate pairs over [[editDocs]] rows, boilerplate
    * chunks excluded. `lenFilterDist = Some(d)` applies the
    * |len(a)−len(b)| ≤ d necessary condition INSIDE the pair join —
    * recall-lossless for any lev-≤-d consumer, and it cuts hot-chunk
    * pair volume before the distinct ([[composedEditPairs]] passes it);
    * `None` keeps the raw blocker output ([[blockingQuality]]'s census
    * contract counts pre-filter candidate volume). Shared by both.
    */
  private def gridCandidatePairs(d: DataFrame, q: Int,
      maxChunkDf: Long, lenFilterDist: Option[Int] = None): DataFrame = {
    val chunks = gridChunks(d, q)
    val cold = chunks.groupBy(col("__i"), col("__ch"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxChunkDf)
      .select(col("__i"), col("__ch"))
    val keyed = chunks.join(cold, Seq("__i", "__ch"))
    keyed.select(col("__i"), col("__ch"), col("__id").as("a"), col("__len").as("__la"))
      .join(keyed.select(col("__i"), col("__ch"), col("__id").as("b"),
          col("__len").as("__lb"))
          .hint("shuffle_hash"),
        Seq("__i", "__ch"))
      .filter(col("a") < col("b") &&
        lenFilterDist.map(m => abs(col("__la") - col("__lb")) <= m)
          .getOrElse(lit(true)))
      .select(col("a"), col("b"))
      // a pair colliding on several chunks must still be ONE candidate —
      // downstream unions dedupe anyway, but the blocking census counts
      .distinct()
  }

  def editNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", q: Int = 16, maxDist: Int = 16,
      maxChunkDf: Long = 1024L): DataFrame = {
    require(q >= 1 && maxDist >= 0 && maxChunkDf >= 2,
      "editNearDupPairs: q >= 1, maxDist >= 0, maxChunkDf >= 2")
    val d = editDocs(docs, idCol, textCol)
    // candidates via the shared grid blocker (one copy of the cold-chunk
    // logic — r14 advice); the length prefilter is pushed into the pair
    // join, recall-lossless for the lev ≤ maxDist acceptance below
    val cand = gridCandidatePairs(d, q, maxChunkDf, Some(maxDist))
    cand
      .join(d.select(col("__id").as("a"), col("__t").as("__ta")), Seq("a"))
      .join(d.select(col("__id").as("b"), col("__t").as("__tb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }

  /** COMPOSED candidate generation for the edit-distance duplicate class —
    * the production composition the [[editNearDupPairs]] docstring
    * promises: aligned-grid candidates catch scattered small edits
    * (pigeonhole: some q-chunk survives), MinHash band candidates catch
    * the PHASE-SHIFTED class the grid provably misses (an early insertion
    * slides every chunk, but bag-of-shingles banding is
    * order-insensitive). The two candidate streams UNION and verify ONCE
    * with the banded levenshtein — two recall engines, one acceptance
    * criterion, so the output contract stays exactly
    * [[editNearDupPairs]]' (a, b, lev ≤ maxDist), just with wider recall.
    *
    * Scale shape: both blockers are the proven bucketed paths (cold-chunk
    * cap on the grid, hot-bucket guard on the bands — `failOnOverCap`
    * passes through for oracle-faithful runs); the union is pair-list
    * sized, the |len(a)−len(b)| ≤ maxDist necessary-condition prefilter
    * runs before the O(maxDist·L) verify, and verification joins text
    * back by id — no corpus broadcast anywhere.
    */
  def composedEditPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", q: Int = 16, maxDist: Int = 16,
      maxChunkDf: Long = 1024L, numHashes: Int = 16, rowsPerBand: Int = 4,
      shingleN: Int = 3, failOnOverCap: Boolean = false): DataFrame = {
    require(q >= 1 && maxDist >= 0 && maxChunkDf >= 2,
      "composedEditPairs: q >= 1, maxDist >= 0, maxChunkDf >= 2")
    val d = editDocs(docs, idCol, textCol).localCheckpoint()
    val gridCand = gridCandidatePairs(d, q, maxChunkDf, Some(maxDist))
    val bandCand = lshCandidatePairs(
      minHashSignature(docs, idCol, textCol, numHashes, shingleN),
      idCol, numHashes, rowsPerBand, failOnOverCap = failOnOverCap)
    gridCand.unionByName(bandCand).distinct()
      .join(d.select(col("__id").as("a"), col("__t").as("__ta"),
        col("__len").as("__la")), Seq("a"))
      .join(d.select(col("__id").as("b"), col("__t").as("__tb"),
        col("__len").as("__lb")), Seq("b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }

  /** BLOCKING-QUALITY census — the ops report that justifies trusting any
    * blocker before it gates a 100 TB dedup pass: per blocker (aligned
    * grid, MinHash bands, their composition) the candidate volume, the
    * true-duplicate recall (pair completeness), and the pruning power
    * (reduction ratio), measured against EXHAUSTIVE ground truth on a
    * deterministic seedless-hash sample of the corpus. Two sampling
    * knobs: `sampleBp` (proportional, of 10,000 — oracle-replayable as a
    * literal) and `maxSampleRows` (ABSOLUTE — the effective bp is derived
    * from the corpus count via [[autoSampleBp]], so the quadratic truth
    * stage is O(1) in corpus size by construction; completeness is a
    * per-pair Bernoulli estimate, so a fixed absolute sample gives the
    * same confidence at any scale). When both are set the smaller
    * effective rate wins.
    *
    * Ground truth avoids a CartesianProduct even on the sample: lev ≤ d
    * implies |len(a)−len(b)| ≤ d, so candidate truth pairs come from a
    * LENGTH-BAND equi-join (bucket width d+1, one side exploded to
    * {k, k+1} — complete by the triangle bound, per-bucket quadratic only
    * within the bounded sample) and then the same banded-levenshtein
    * acceptance as the production verify. One row per blocker, all
    * counters exact integers: `n_docs`, `total_pairs` = C(n,2), `n_true`,
    * `n_cand` (raw blocker output, before the length prefilter — the
    * volume the verify stage would pay for), `n_found` (candidates that
    * are true pairs), `completeness_bp` = n_found·10⁴ div n_true
    * (vacuously 10⁴ when the sample holds no true pair), `reduction_bp` =
    * (total_pairs − n_cand)·10⁴ div total_pairs.
    */
  def blockingQuality(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", q: Int = 16, maxDist: Int = 16,
      maxChunkDf: Long = 1024L, numHashes: Int = 16, rowsPerBand: Int = 4,
      shingleN: Int = 3, sampleBp: Int = 10000,
      failOnOverCap: Boolean = false,
      maxSampleRows: Option[Long] = None): DataFrame = {
    require(q >= 1 && maxDist >= 0 && maxChunkDf >= 2 &&
      sampleBp >= 1 && sampleBp <= 10000,
      "blockingQuality: q >= 1, maxDist >= 0, maxChunkDf >= 2, sampleBp in [1, 10000]")
    // `maxSampleRows` makes the documented "a fixed absolute sample
    // suffices" ENFORCEABLE (r14 verdict): sampleBp alone is
    // proportional, so at a fixed knob the quadratic truth stage grows
    // with corpus² (measured 18× at 10× data). With a cap the effective
    // bp is derived from the corpus count ([[autoSampleBp]]) so the
    // expected sample — and hence the truth stage — is O(1) in corpus
    // size by construction. For a raw table scan the count is free
    // (parquet footer statistics, no job); otherwise it is one cheap
    // job next to the quadratic stage it protects (the
    // Similarity.autoPlanes argument). Callers who already know the row
    // count can call autoSampleBp themselves and pin via sampleBp.
    // r16: when the input is a raw parquet scan the count comes from the
    // footers (no job at all — Tables.footerCountIfPlainScan); the full
    // count job is the fallback for derived inputs only.
    val effBp = maxSampleRows match {
      case Some(cap) =>
        val rows = graft.sources.Tables.footerCountIfPlainScan(docs)
          .getOrElse(docs.count())
        math.min(sampleBp, autoSampleBp(rows, cap))
      case None => sampleBp
    }
    val sample = docs
      .filter(pmod(md5Long64(concat(lit("blk:"), col(idCol).cast("string"))),
        lit(10000L)) < effBp)
      .select(col(idCol), col(textCol))
    // one materialization feeds truth + both blockers + the verify joins
    val d = editDocs(sample, idCol, textCol).localCheckpoint()
    val w = maxDist + 1
    val bucketed = d.withColumn("__bk", (col("__len") / w).cast("long"))
    // exploded side carries {k, k+1}: equal-bucket pairs arrive twice (once
    // per orientation), adjacent-bucket pairs once — distinct() after the
    // min/max canonicalization makes the set exact either way
    val truthCand = bucketed
      .select(col("__id"), explode(array(col("__bk"), col("__bk") + 1)).as("__j"))
      .join(bucketed.select(col("__id").as("__idb"), col("__bk").as("__j"))
          .hint("shuffle_hash"),
        Seq("__j"))
      .filter(col("__id") =!= col("__idb"))
      .select(least(col("__id"), col("__idb")).as("a"),
        greatest(col("__id"), col("__idb")).as("b"))
      .distinct()
    val truth = truthCand
      .join(d.select(col("__id").as("a"), col("__t").as("__ta"),
        col("__len").as("__la")), Seq("a"))
      .join(d.select(col("__id").as("b"), col("__t").as("__tb"),
        col("__len").as("__lb")), Seq("b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist &&
        levenshtein(col("__ta"), col("__tb"), maxDist) >= 0)
      .select(col("a"), col("b"))
      .localCheckpoint()
    val gridCand = gridCandidatePairs(d, q, maxChunkDf)
    val bandCand = lshCandidatePairs(
      minHashSignature(sample, idCol, textCol, numHashes, shingleN),
      idCol, numHashes, rowsPerBand, failOnOverCap = failOnOverCap)
    val scalars = d.agg(count(lit(1)).as("n_docs"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .withColumn("total_pairs", expr("n_docs * (n_docs - 1) div 2"))
    // tag-then-aggregate in ONE pass: a full-outer join of the two
    // candidate sets yields each distinct pair once with its blocker
    // memberships (composed = every pair, by construction), exploded to
    // labeled rows — no per-blocker unions (replaying each candidate
    // subtree per blocker both triples the plan and trips the union
    // constraint rewrite on shared checkpoint attribute ids), one truth
    // join and one groupBy serving all three census rows
    val labeled = gridCand.withColumn("__g", lit(1L))
      .join(bandCand.withColumn("__b", lit(1L)), Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        explode(filter(array(
          when(col("__g").isNotNull, lit("grid")),
          when(col("__b").isNotNull, lit("minhash_bands")),
          lit("composed")), x => x.isNotNull)).as("blocker"))
    val perBlocker = labeled
      .join(truth.withColumn("__hit", lit(1L)), Seq("a", "b"), "left")
      .groupBy(col("blocker"))
      .agg(count(lit(1)).as("n_cand"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_found"))
    scalars
      .select(explode(array(lit("grid"), lit("minhash_bands"),
        lit("composed"))).as("blocker"),
        col("n_docs"), col("total_pairs"), col("n_true"))
      .join(perBlocker, Seq("blocker"), "left")
      .select(col("blocker"), col("n_docs"), col("total_pairs"), col("n_true"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
      .select(col("blocker"), col("n_docs"), col("total_pairs"),
        col("n_true"), col("n_cand"), col("n_found"),
        when(col("n_true") > 0, expr("n_found * 10000 div n_true"))
          .otherwise(lit(10000L)).as("completeness_bp"),
        when(col("total_pairs") > 0,
          expr("(total_pairs - n_cand) * 10000 div total_pairs"))
          .otherwise(lit(10000L)).as("reduction_bp"))
  }

  /** The [[blockingQuality]] sample knob derived from an ABSOLUTE
    * sample-size budget: the largest bp whose EXPECTED sample
    * (corpusRows·bp/10⁴, Bernoulli per row under the seedless hash) stays
    * within `maxSampleRows` — 10⁴ (everything) when the corpus already
    * fits. Completeness is a per-pair Bernoulli estimate, so a fixed
    * absolute sample gives the same confidence at ANY corpus size; this
    * function is what turns that statistical fact into an O(1)-by-
    * construction truth stage (the [[graft.operators.Similarity.autoPlanes]]
    * precedent: derive the knob from the count, never pin it).
    */
  def autoSampleBp(corpusRows: Long, maxSampleRows: Long): Int = {
    require(corpusRows >= 0 && maxSampleRows >= 1,
      "autoSampleBp: corpusRows >= 0, maxSampleRows >= 1")
    if (corpusRows <= maxSampleRows) 10000
    else math.max(1, (maxSampleRows * 10000L / corpusRows).toInt)
  }

  /** Incremental admission for the EDIT-distance duplicate class: each NEW
    * doc is tested against the STANDING corpus only — the
    * [[crossNearDupMinHash]] contract (no new×new or old×old pairs, so a
    * batch of mutual near-dups is adjudicated against history, not against
    * itself) with [[editNearDupPairs]]' grid blocking and banded-Levenshtein
    * verify. The incremental family now covers all three duplicate
    * geometries: exact keys ([[antiJoinBloom]]), Jaccard
    * ([[crossNearDupMinHash]]), and edit distance (this).
    *
    * The chunk-frequency cap is measured over the STANDING side — the
    * boilerplate census belongs to history (stable across batches, and a
    * new batch full of one template cannot vote its own template cold).
    * Scale shape: the old side's cold-chunk table is the standing index a
    * stream job maintains incrementally; per batch one (i, chunk)-keyed
    * join + the pair verify.
    *
    * Output: (new_id, old_id, lev ≤ maxDist) — the reject/link list.
    */
  def crossEditNearDup(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      q: Int = 16, maxDist: Int = 16, maxChunkDf: Long = 1024L): DataFrame = {
    require(q >= 1 && maxDist >= 0 && maxChunkDf >= 2,
      "crossEditNearDup: q >= 1, maxDist >= 0, maxChunkDf >= 2")
    val nd = editDocs(newDocs, idCol, textCol)
    val od = editDocs(oldDocs, idCol, textCol)
    val oldChunks = gridChunks(od, q)
    val cold = oldChunks.groupBy(col("__i"), col("__ch"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxChunkDf)
      .select(col("__i"), col("__ch"))
    val cand = gridChunks(nd, q)
      .select(col("__i"), col("__ch"), col("__id").as("new_id"), col("__len").as("__ln"))
      .join(oldChunks.join(cold, Seq("__i", "__ch"))
          .select(col("__i"), col("__ch"), col("__id").as("old_id"), col("__len").as("__lo")),
        Seq("__i", "__ch"))
      .filter(abs(col("__ln") - col("__lo")) <= maxDist)
      .select(col("new_id"), col("old_id")).distinct()
    cand
      .join(nd.select(col("__id").as("new_id"), col("__t").as("__tn")), Seq("new_id"))
      .join(od.select(col("__id").as("old_id"), col("__t").as("__to")), Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        levenshtein(col("__tn"), col("__to"), maxDist).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }

  /** Sorted-neighborhood (SNM, Hernández & Stolfo 1995) candidate
    * generation + edit verify — the THIRD classic ER blocking geometry
    * next to positional grids ([[editNearDupPairs]]) and content bands
    * (MinHash/SimHash): sort the corpus by a domain key (here the text
    * itself with the id as tiebreak — near-identical records are
    * lexicographic neighbors), slide a window of `w`, and verify every
    * pair falling inside a window. Catches duplicates whose SHARED
    * PREFIX sorts them together regardless of which chunks survive;
    * misses pairs differing at offset 0 (SNM's published weakness — the
    * multi-pass remedy is composing a second key, e.g. reversed text).
    *
    * The global sort rank is TWO-LEVEL, never one partition: rows rank
    * within their 2-codepoint-prefix bucket (the prefix function is
    * monotone under the (text, id) order, so bucket boundaries respect
    * it), and bucket offsets come from a prefix-count scan over the
    * tiny bucket table — the cumSumGlobal decomposition. Window pairs
    * are a BUCKETIZED band join on rank div w (each Y row probes its own
    * and the previous rank bucket — the intervalOverlapJoin move), so
    * no inequality-range nested loop is ever planned.
    *
    * Output: (a, b, rank_gap, lev ≤ maxDist), a/b id-ordered.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 8, maxDist: Int = 16): DataFrame = {
    require(w >= 2 && maxDist >= 0, "sortedNeighborhoodPairs: w >= 2, maxDist >= 0")
    val d = editDocs(docs, idCol, textCol)
    val withPfx = d.withColumn("__pfx", substring(col("__t"), 1, 2))
    val offs = withPfx.groupBy(col("__pfx")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__pfx"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pfx"), col("__off"))
    val ranked = withPfx
      .withColumn("__rw", row_number().over(
        Window.partitionBy(col("__pfx")).orderBy(col("__t"), col("__id"))))
      .join(offs, Seq("__pfx"))
      .select(col("__id"), col("__t"), (col("__rw") + col("__off")).as("__r"))
    val kb = expr(s"__r div $w")
    val x = ranked.select(col("__id").as("__xid"), col("__t").as("__xt"),
      col("__r").as("__xr"), kb.as("__k"))
    val y = ranked.select(col("__id").as("__yid"), col("__t").as("__yt"),
      col("__r").as("__yr"), explode(array(kb, kb - 1)).as("__k"))
    x.join(y, Seq("__k"))
      .filter(col("__yr") > col("__xr") && col("__yr") - col("__xr") < w)
      .select(
        least(col("__xid"), col("__yid")).as("a"),
        greatest(col("__xid"), col("__yid")).as("b"),
        (col("__yr") - col("__xr")).as("rank_gap"),
        levenshtein(col("__xt"), col("__yt"), maxDist).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }
}
