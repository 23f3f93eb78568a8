package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, TextOps}
import graft.serve.Publish
import graft.sources.Tables

/** Extension operators: text analysis + deduplication over the `documents`
  * corpus (the LLM-training-data-pipeline surface). All hash-parity oracles
  * use the md5-derived 64-bit hash family so DuckDB reproduces every stage
  * bit-for-bit — including the full MinHash→LSH→Jaccard and SimHash
  * pipelines.
  */
object ExtTextQueries {

  private val stopwords = Seq("the", "a")
  private val lexicons = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "une"),
    "de" -> Seq("der", "die", "das"),
    "zh" -> Seq("de5", "shi4", "le5"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting per doc: whitespace tokenizer + the BPE-ish
    // pretokenizer (lookahead-free GPT-2 pattern, identical under Java
    // regex and RE2 so the count is oracled exactly).
    "q_x_token_count" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeTokenCount(col("text")).cast("int").as("n_bpe_tokens"),
          length(col("text")).as("n_chars_measured"))
    },
    // Quality scoring: length/diversity/stopword composite in [0,1]. The
    // token array is materialized in its own projection stage so the split
    // runs once per row, not once per feature.
    "q_x_quality_score" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.qualityScoreFromTokens(col("toks"), stopwords).as("quality"))
    },
    // Language ID via per-language lexicon hit argmax (tokens staged once).
    "q_x_lang_id" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.langIdFromTokens(col("toks"), lexicons).as("lang_pred"))
    },
    // Language-ID confusion matrix — the engine EVALUATING ITS OWN
    // operator: q_x_lang_id's stopword-lexicon predictions against the
    // corpus's true lang labels, per (true, predicted) cell the count and
    // the row share in exact basis points. The matrix is the artifact a
    // pipeline owner reads before trusting the lang gate in
    // q_x_pipeline_e2e / the dataset card — accuracy alone hides WHICH
    // languages bleed into which. Cell space is lang² (bounded), one
    // narrow scoring map + a 2-key aggregate.
    "q_x_langid_eval" -> { (s, dir) =>
      val pred = Tables.documents(s, dir)
        .select(col("lang"),
          TextOps.langIdFromTokens(TextOps.tokens(col("text")), lexicons)
            .as("lang_pred"))
      val cells = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("n * 10000 div row_n").as("share_bp"),
          (col("lang") === col("lang_pred")).as("is_correct"))
    },
    // End-to-end pretraining-data pipeline: stage tokens once, score
    // quality and language, FILTER (quality >= 0.5, known language), exact
    // content-dedup on the order-invariant fingerprint (DISTINCT ON (fp)
    // keeping the lowest doc_id), then per-language corpus accounting.
    // Composes the four oracle-green primitives above into the shape a
    // 100 TB corpus-prep job runs: one scan, one narrow shuffle for the
    // dedup window, one for the final rollup. Quality sums go through
    // DECIMAL so the rollup is shuffle-order-independent.
    "q_x_pipeline_e2e" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
          TextOps.fingerprintMd5(col("text")).as("fp"))
        .select(col("doc_id"), col("fp"),
          TextOps.tokenCountFromTokens(col("toks")).as("n_tokens"),
          TextOps.qualityScoreFromTokens(col("toks"), stopwords).as("quality"),
          TextOps.langIdFromTokens(col("toks"), lexicons).as("lang_pred"))
        .filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      val kept = staged
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
        .filter(col("rk") === 1)
      kept.groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          (sum(col("quality").cast("decimal(9,6)")).cast("double") /
            count(lit(1)).cast("double")).as("avg_quality"))
        .orderBy(col("lang_pred").asc)
    },
    // Order-invariant document fingerprint (md5 of sorted token multiset).
    "q_x_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fingerprint"))
    },
    // Rolling-hash (winnowing) fingerprint set per doc, emitted as a scalar
    // digest + count (the driver's comparator can't sort raw array columns).
    // The oracle replays the Rabin-Karp k-gram hashes positionally with
    // precomputed powers of B mod 2^61-1 (HUGEINT holds the products) and
    // winnows via distinct window minima — bit-parity with the native
    // kernel for ASCII corpora (this testdata: verified 0 non-ASCII docs).
    // The kernel hashes UTF-8 BYTES while the oracle's ord(text[i]) walks
    // codepoints, so non-ASCII text would diverge; a byte-true oracle would
    // need blob-level indexing. Winnowing guarantee spec-tested in DedupSpec.
    "q_x_fingerprint_rolling" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.fingerprintRolling(col("text")).as("fps"))
        .select(col("doc_id"),
          md5(concat_ws(",", col("fps").cast("array<string>"))).as("fp_digest"),
          size(col("fps")).as("n_fingerprints"))
    },
    // Exact dedup: keep lowest doc_id per (lang, source) group.
    "q_x_dedup_exact" -> { (s, dir) =>
      Dedup.dedupExact(Tables.documents(s, dir), Seq("lang", "source"), "doc_id")
        .select(col("lang"), col("source"), col("doc_id").as("kept_id"))
    },
    // MinHash + LSH banding + exact-Jaccard verify (full near-dup pipeline).
    // failOnOverCap: the DuckDB oracle replays the pipeline UNCAPPED, so the
    // star-guard silently triggering would be a pair-level parity break —
    // fail loudly instead if the corpus ever grows a >1024 bucket.
    "q_x_dedup_minhash" -> { (s, dir) =>
      Dedup.nearDupPairsMinHash(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
    },
    // SimHash 64-bit sketch per doc (bit-parity checked against the oracle).
    "q_x_simhash_sketch" -> { (s, dir) =>
      Dedup.simHash(Tables.documents(s, dir), "doc_id", "text")
    },
    // SimHash banded near-dup pairs with verified Hamming distance. Hamming
    // ≤ 20 keeps the oracle non-vacuous on this corpus (permuted docs share
    // token multisets → distance 0; edited ones land in the teens).
    "q_x_dedup_simhash" -> { (s, dir) =>
      Dedup.nearDupPairsSimHash(Tables.documents(s, dir), "doc_id", "text", maxHamming = 20)
    },
    // Character-5-gram Jaccard near-dups, content-banded: gram-MinHash
    // signatures → LSH candidates (4 bands × 4 rows) → exact gram Jaccard on
    // candidates only. The oracle replays the full banded pipeline
    // bit-for-bit (like q_x_dedup_simhash / q_x_dedup_minhash).
    "q_x_dedup_ngram" -> { (s, dir) =>
      Dedup.nearDupPairsCharNgram(Tables.documents(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5, numHashes = 16, rowsPerBand = 4,
        failOnOverCap = true)
    },
    // Edit-distance near-dup pairs: positional 16-char-grid blocking (a
    // pair is a candidate iff some aligned grid chunk survives the edits,
    // with the |Δlen| ≤ k necessary-condition filter and a ≤1024-df
    // boilerplate-chunk drop), then threshold-banded Levenshtein ≤ 16 —
    // O(k·L) per candidate, integer-exact on both engines. The class this
    // catches that Jaccard tiers mis-rank: small LOCAL edits (version
    // bumps, appended footers) where the edit distance IS the dedup spec.
    // See Dedup.editNearDupPairs for the stated recall guarantee.
    "q_x_edit_neardup" -> { (s, dir) =>
      Dedup.editNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        q = 16, maxDist = 16, maxChunkDf = 1024L)
    },
    // COMPOSED near-dup candidates: aligned-grid ∪ MinHash bands, ONE
    // banded-levenshtein verify — the composition the edit-grid docstring
    // promises (the grid misses the phase-shifted class an early
    // insertion creates; order-insensitive banding catches it; the union
    // recalls both with the same exact acceptance test). failOnOverCap
    // because the oracle replays the band side uncapped.
    "q_x_neardup_composed" -> { (s, dir) =>
      Dedup.composedEditPairs(Tables.documents(s, dir), "doc_id", "text",
        q = 16, maxDist = 16, maxChunkDf = 1024L, numHashes = 16,
        rowsPerBand = 4, shingleN = 3, failOnOverCap = true)
    },
    // Cross-modal PAIR-level near-dup (LAION-style caption+image records):
    // candidates = text MinHash band collisions ∩ image dHash band
    // collisions, verify = exact shingle Jaccard ≥ 0.6 AND exact Hamming
    // ≤ 6 — both modalities must agree before a pair collapses (a reused
    // stock photo under different captions survives; so does a re-worded
    // caption over different images). Image tier = dHash63 over the
    // stub-decode window (the Multimodal class contract); fully
    // deterministic, so the whole conjunction replays in DuckDB exactly.
    "q_x_mm_pair_dedup" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__cells", Multimodal.dHashCells(col("text")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.crossModalPairDedup(recs, "doc_id", "text", "ph",
        numHashes = 16, rowsPerBand = 4, shingleN = 3,
        threshold = 0.6, maxHamming = 6, failOnOverCap = true)
    },
    // Incremental CROSS-MODAL admission — which incoming (caption, image)
    // records duplicate the STANDING corpus in both modalities: text
    // NEW→OLD band join ∩ image NEW→OLD band join, one shared verify
    // (exact Jaccard ∧ exact Hamming). Completes the incremental matrix
    // (exact Bloom / text MinHash / edit grid / cross-modal). Cohorts:
    // doc_id % 3 (the q_x_incr_neardup split — 2/3 incoming, 1/3
    // standing); admitted = incoming anti-joined on new_id.
    "q_x_mm_incr_admission" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__cells", Multimodal.dHashCells(col("text")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.crossModalIncremental(
        recs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        recs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", "ph")
        .select(col("a").as("new_id"), col("b").as("old_id"),
          col("jaccard"), col("hamming"))
    },
    // Cross-modal ALIGNMENT gate (r17 stretch): per (caption, image)
    // record, the Jaccard agreement of its text-band neighborhood vs its
    // image-band neighborhood — CLIP-score's decision role (drop weakly
    // aligned pairs before the mm dedup family), exactly computable so it
    // hash-oracles. Misalignment is PLANTED: the doc_id % 11 == 7 cohort
    // takes its image from the REVERSED caption (a deterministic "wrong
    // image" both engines replay char-for-char on this ASCII corpus), so
    // those records sit in image neighborhoods their captions never touch.
    "q_x_mm_alignment" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__img", when(pmod(col("doc_id"), lit(11)) === 7,
          reverse(col("text"))).otherwise(col("text")))
        .withColumn("__cells", Multimodal.dHashCells(col("__img")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.crossModalAlignment(recs, "doc_id", "text", "ph",
        failOnOverCap = true)
    },
    // The star-cap REMEDIATION tier of the alignment gate (r19): the same
    // operator with failOnOverCap = false — over-cap band buckets emit
    // linear hub→member star pairs instead of raising. This is the
    // documented 100 TB fallback a production corpus actually runs when a
    // boilerplate mega-bucket appears (the loud row q_x_mm_alignment is
    // the oracle-parity stance; at sf10 its phash mega-bucket raises BY
    // DESIGN — this row completes there, PLANS.md probe). At the compare
    // SF no bucket exceeds the cap, so output ≡ the loud row and the SAME
    // oracle applies; DedupSpec pins the over-cap semantics (clusters stay
    // connected through the hub) with a forced-tiny cap.
    "q_x_mm_alignment_capped" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__img", when(pmod(col("doc_id"), lit(11)) === 7,
          reverse(col("text"))).otherwise(col("text")))
        .withColumn("__cells", Multimodal.dHashCells(col("__img")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.crossModalAlignment(recs, "doc_id", "text", "ph")
    },
    // The alignment gate's INCREMENTAL form (r18): each incoming record's
    // modality neighborhoods measured against the STANDING corpus only —
    // the admission-time tier of q_x_mm_alignment, and the exact batch
    // twin of the live gate (StreamJobs.mmAlignmentGateStream; drain ≡
    // this row's operator is StreamingSpec's pin). Same planted-image
    // corpus, the q_x_incr_neardup % 3 cohort split.
    "q_x_mm_alignment_incr" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__img", when(pmod(col("doc_id"), lit(11)) === 7,
          reverse(col("text"))).otherwise(col("text")))
        .withColumn("__cells", Multimodal.dHashCells(col("__img")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.crossModalAlignmentAcross(
        recs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        recs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", "ph", failOnOverCap = true)
    },
    // The alignment gate COMPOSED with the pair dedup (r17 stretch,
    // completed): weakly-aligned records are dropped FIRST (the CLIP-score
    // decision role — a mismatched (caption, image) record must not vote
    // in dedup; its caption may near-dup one cluster while its image
    // near-dups another, welding unrelated clusters), then the two-modal
    // conjunction dedup runs over the aligned survivors only. Same planted
    // corpus as q_x_mm_alignment, so the gate is non-vacuous; the oracle
    // replays gate + dedup in one statement.
    "q_x_mm_gated_dedup" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__img", when(pmod(col("doc_id"), lit(11)) === 7,
          reverse(col("text"))).otherwise(col("text")))
        .withColumn("__cells", Multimodal.dHashCells(col("__img")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      // r20: the gate and the dedup share ONE pair of band fronts
      // (Dedup.crossModalGatedDedup) — the survivor cohort's candidate
      // pairs are the full-cohort pairs with both endpoints aligned, so
      // re-sketching the survivors was pure recompute. Row-identical to
      // the previous alignment∘pairDedup composition (DedupSpec pins it;
      // oracle unchanged).
      Dedup.crossModalGatedDedup(recs, "doc_id", "text", "ph",
        numHashes = 16, rowsPerBand = 4, shingleN = 3,
        threshold = 0.6, maxHamming = 6)
    },
    // The cross-modal pair graph closed transitively — per-RECORD cluster
    // ids over the conjunction pairs (hash-min flooding, the
    // q_x_dedup_clusters kernel): the table a LAION-style pipeline keeps
    // one (caption, image) record per cluster from.
    "q_x_mm_pair_clusters" -> { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .withColumn("__cells", Multimodal.dHashCells(col("text")))
        .select(col("doc_id"), col("text"),
          Multimodal.dHash63("__cells").as("ph"))
      Dedup.duplicateClusters(
        Dedup.crossModalPairDedup(recs, "doc_id", "text", "ph",
          numHashes = 16, rowsPerBand = 4, shingleN = 3,
          threshold = 0.6, maxHamming = 6, failOnOverCap = true), "a", "b")
    },
    // MinHash Jaccard ESTIMATOR calibration: per banded candidate pair,
    // the signature-agreement count (matches/16 is the classic unbiased
    // Jaccard estimate — ALL-INTEGER, so the estimator itself is
    // hash-oracle-checked, not just the exact value it approximates)
    // side by side with the exact shingle Jaccard. The ops query behind
    // "how many hash functions do we actually need": the (est, exact)
    // scatter IS the calibration curve.
    "q_x_minhash_est" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sig = Dedup.minHashSignature(docs, "doc_id", "text", 16, 3)
      val cand = Dedup.lshCandidatePairs(sig, "doc_id", 16, 4,
        failOnOverCap = true)
      val sa = sig.select(col("doc_id").as("a") +:
        (0 until 16).map(i => col(s"m$i").as(s"__a$i")): _*)
      val sb = sig.select(col("doc_id").as("b") +:
        (0 until 16).map(i => col(s"m$i").as(s"__b$i")): _*)
      val est = cand.join(sa, Seq("a")).join(sb, Seq("b"))
        .select(col("a"), col("b"),
          (0 until 16).map(i =>
            when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("est_matches"))
      Dedup.jaccardOnPairs(cand, docs, "doc_id", "text", 3)
        .join(est, Seq("a", "b"))
        .select(col("a"), col("b"), col("est_matches"),
          expr("est_matches * 10000 div 16").as("est_jaccard_bp"),
          col("jaccard"))
    },
    // BLOCKING-QUALITY census: per blocker (grid / bands / composed) the
    // candidate volume, pair completeness and reduction ratio against
    // exhaustive ground truth on a 70% seedless-hash sample — the ops
    // report that justifies trusting a blocker before a corpus-scale
    // dedup pass. Truth avoids a Cartesian via the length-band join
    // (lev ≤ d ⇒ |len diff| ≤ d). r17: the ABSOLUTE sample cap is now
    // set (4000 docs): a proportional fraction alone left the quadratic
    // truth stage growing with corpus² — the sf1 warm probe measured
    // 7.9 s → 297 s at 10× data; with the cap the effective bp derives
    // from the footer count so the truth stage is O(1) in corpus size
    // (inert below 4000/0.7 docs — sf0.01/sf0.1 samples, and hence the
    // oracle hash, are unchanged). The oracle replays the derived rate
    // from count(*), so it stays exact at every SF.
    "q_x_blocking_report" -> { (s, dir) =>
      Dedup.blockingQuality(Tables.documents(s, dir), "doc_id", "text",
        q = 16, maxDist = 16, maxChunkDf = 1024L, numHashes = 16,
        rowsPerBand = 4, shingleN = 3, sampleBp = 7000,
        failOnOverCap = true, maxSampleRows = Some(4000L))
    },
    // Lexicon blocklist gate (the toxicity/NSFW word-filter stage): docs
    // are scored against a broadcast blocklist — distinct blocked terms
    // hit and total hit count — and pass iff they contain NO blocked
    // term. The list rides as a broadcast join against the token stream
    // (a 10⁵-word lexicon is query metadata at any corpus size; the
    // Aho-Corasick single-pass form is the in-map alternative when the
    // lexicon outgrows a join — not needed at lexicon scales). LEFT join
    // keeps clean docs visible with zero counts — the gate's output IS
    // the full corpus with verdicts, not just the rejects.
    "q_x_blocklist" -> { (s, dir) =>
      import s.implicits._
      val blocked = Seq("error", "crash", "fail", "panic", "leak")
        .toDF("term")
      val hits = docToks(s, dir)
        .join(broadcast(blocked), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("term")).as("n_blocked_terms"),
          count(lit(1)).as("n_hits"))
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_blocked_terms"), lit(0L)).as("n_blocked_terms"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) === 0).as("passed"))
    },
    // Vocabulary-growth (Heaps-law) curve: distinct word-3-gram count
    // after each doc_id decile of the corpus — the measurement that
    // PREDICTS whether df-based pruning (prefix-filtered containment,
    // rare-chunk blocking) stays linear at scale: a growing vocabulary
    // keeps rare grams rare; a saturating one (this synthetic corpus —
    // the session-10 sf1 finding) pushes every df up with corpus size.
    // Shape: each gram contributes its FIRST-occurrence decile (one
    // gram-keyed min), then one 10-row cumulative — no prefix is ever
    // re-scanned. All-integer.
    "q_x_vocab_growth" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val nDocs = docs.agg(max(col("doc_id")).as("mx"))
      // r19: grams ride as a native one-pass distinct HASH set instead of
      // interpreted string shingles + a string-keyed shuffle (that was this
      // row's whole cost). r20: the identity is widened to the FULL 16-byte
      // md5 (shingleHashes128) — a 64-bit identity EXPECTS birthday
      // collisions near 4.3e9 distinct grams (≈0.3% at the 100 TB regime's
      // ~1e10), which would silently undercount new_grams while the row's
      // declaration says exact; 128 bits is collision-free at any realistic
      // corpus (~1e-19 at 1e10). The oracle keeps counting the STRING
      // grams; the distinct-count per decile is identical absent a
      // collision (compared green at every SF).
      val firstDecile = docs
        .crossJoin(broadcast(nDocs))
        .select(least(expr("doc_id * 10 div (mx + 1)"), lit(9)).as("decile"),
          explode(org.apache.spark.sql.graft.natives
            .shingleHashes128(col("text"), 3)).as("g"))
        .groupBy(col("g")).agg(min(col("decile")).as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_grams"))
      firstDecile
        .withColumn("vocab_size",
          sum(col("new_grams")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile").cast("int").as("decile"),
          col("new_grams"), col("vocab_size"))
    },
    // Incremental admission for the EDIT-distance duplicate class: the
    // batch cohort (doc_id % 7 == 0) tested against the standing corpus
    // only — new×new / old×old pairs never form (the crossNearDupMinHash
    // contract), the boilerplate-chunk census is measured on HISTORY.
    // With bloom (exact) and minhash (Jaccard) this completes the
    // incremental gate for all three duplicate geometries.
    "q_x_incr_editdup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.crossEditNearDup(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text", q = 16, maxDist = 16, maxChunkDf = 1024L)
    },
    // Sorted-neighborhood (SNM) blocking + banded edit verify — the third
    // classic ER blocking geometry: sort by (text, id), verify every pair
    // within a w=8 rank window. The global rank is two-level (2-char
    // prefix buckets + offset scan) and the window pairing a bucketized
    // band join — no single-partition window, no range nested loop. The
    // oracle replays the same sort with a plain rank inequality join.
    "q_x_snm_pairs" -> { (s, dir) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 8, maxDist = 16)
    },
    // Shingle-set CONTAINMENT pairs (C ≥ 0.8) via lossless prefix
    // filtering — the asymmetric quote-inclusion class where Jaccard
    // under-fires (a short doc swallowed by a long one has small
    // union-normalized similarity but containment ≈ 1). τ = 8/10 as an
    // integer ratio end to end; candidates only from pairs sharing one
    // of the contained side's ⌊0.2·n⌋+1 RAREST shingles. See
    // Dedup.containmentPairs for the losslessness argument.
    "q_x_containment" -> { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, tauNum = 8, tauDen = 10)
    },
    // Duplicate-cluster resolution: the minhash near-dup pairs collapsed to
    // connected components (hash-min label propagation) — (doc, cluster
    // representative, cluster size). The oracle replays the full pair
    // pipeline and closes it transitively with a recursive CTE — UNCAPPED,
    // so failOnOverCap: at pair level a capped-bucket mismatch costs one
    // pair, but transitive closure amplifies a lost hub edge to a split
    // component; the parity assumption must fail loudly, not drift.
    "q_x_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.nearDupPairsMinHash(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
      Dedup.duplicateClusters(pairs, "a", "b")
    },
    // The end state of the near-dup arc: the post-dedup corpus. Per
    // component the hash-min representative (cluster_id = min member id,
    // by construction of duplicateClusters) survives carrying the member
    // count; every unclustered doc survives as its own singleton. The
    // cluster table is near-dup-members-only — tiny next to the corpus —
    // so the resolve join broadcasts at scale; survivors stream out of
    // the left join with no extra shuffle.
    "q_x_dedup_survivors" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
      val clusters = Dedup.duplicateClusters(pairs, "a", "b")
      Dedup.survivors(docs.select(col("doc_id")), clusters, "doc_id")
    },
    // Golden-record construction: same resolved clusters, but instead of
    // keeping one member row verbatim (survivors) each entity MERGES with
    // field-level survivorship — longest text (ties to lowest id),
    // majority lang (ties to smallest), full source provenance. The ER
    // endgame a master-data consumer reads.
    "q_x_er_golden" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
      val clusters = Dedup.duplicateClusters(pairs, "a", "b")
      Dedup.goldenRecords(docs, clusters, "doc_id", "text", "lang", "source")
    },
    // Gopher-style quality signals (Rae et al. 2021 rule family): token/
    // bigram/line arrays staged once, then nine per-row repetition and
    // shape features plus the keep/drop verdict. Narrow map over the scan —
    // no shuffle, the corpus-filtering front door of a 100 TB pipeline.
    "q_x_gopher_quality" -> { (s, dir) =>
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"), col("toks"),
          TextOps.bigramsFromTokens(col("toks")).as("bg"),
          split(col("text"), "\n").as("ls"))
      val feats = TextOps.gopherFeatures(col("text"), col("toks"), col("bg"), col("ls"))
      val withFeats = staged.select(col("doc_id") +: feats.map { case (nm, c) => c.as(nm) }: _*)
      withFeats.select(col("*"),
        TextOps.gopherPass(feats.map { case (nm, _) => nm -> col(nm) }.toMap).as("gopher_pass"))
    },
    // DATASET CARD — the per-(lang, source) datasheet a corpus release
    // ships (Gebru et al. 2021 "Datasheets for Datasets" flavor): volume
    // (docs/chars/tokens), quality (Gopher pass rate), redundancy
    // (near-dup cluster membership rate), and split balance, ALL-INTEGER
    // so the whole card is hash-checked. Composes the shipped signals —
    // gopherPass, the MinHash cluster chain, splitAssign — rather than
    // re-deriving them, so the card can never disagree with the per-doc
    // rows; one wide groupBy after one narrow map + the cluster attach.
    "q_x_dataset_card" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val staged = docs
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"), col("toks"),
          TextOps.bigramsFromTokens(col("toks")).as("bg"),
          split(col("text"), "\n").as("ls"))
      val feats = TextOps.gopherFeatures(col("text"), col("toks"), col("bg"),
        col("ls"))
      val perDoc = staged.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        TextOps.splitAssign(col("doc_id")).as("split"),
        TextOps.gopherPass(feats.map { case (nm, c) => nm -> c }.toMap)
          .cast("long").as("gpass"))
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
      val dup = Dedup.duplicateClusters(pairs, "a", "b")
        .select(col("doc_id"), lit(1L).as("__dup"))
      perDoc.join(broadcast(dup), Seq("doc_id"), "left")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          sum(col("n_toks")).as("n_tokens_total"),
          sum(col("gpass")).as("n_gopher_pass"),
          coalesce(sum(col("__dup")), lit(0L)).as("n_dup_members"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("n_chars_total"), col("n_tokens_total"), col("n_gopher_pass"),
          col("n_dup_members"), col("n_train"), col("n_val"), col("n_test"),
          expr("n_gopher_pass * 10000 div n_docs").as("gopher_pass_bp"),
          expr("n_dup_members * 10000 div n_docs").as("dup_bp"))
    },
    // Corpus term stats, top-50 by count: the word-count shuffle with the
    // deterministic (count desc, term asc) cut so the LIMIT boundary can't
    // flap on ties.
    "q_x_term_freq" -> { (s, dir) =>
      TextOps.termStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("term_count").desc, col("term").asc)
        .limit(50)
    },
    // Surprisal-proxy rarity filter — the count-based stand-in for the
    // CCNet/C4 LM-perplexity gate: a doc full of corpus-rare tokens is
    // "surprising" (OCR noise, boilerplate soup, wrong language), a doc
    // of common tokens is fluent-corpus-like. Per token occurrence the
    // proxy surprisal is the scaled inverse corpus frequency
    // 10⁸ div tf(term) (integer — a transcendental log would not be
    // bit-reproducible cross-engine; div preserves the ranking the gate
    // thresholds on), per doc the mean over occurrences plus the count
    // of rare (tf ≤ 2) occurrences. Scale shape: one narrow token
    // explode, one term-keyed count (partial agg absorbs hot terms),
    // one term-keyed join back (AQE broadcasts the vocab-sized tf table
    // when it fits), one doc-keyed integer sum — order-independent
    // (integer adds), so no fold pinning needed anywhere.
    "q_x_rarity_score" -> { (s, dir) =>
      val toks = docToks(s, dir)
      val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      toks.join(tf, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(expr("100000000 div tf")).as("__s"),
          sum(when(col("tf") <= 2, 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_toks"),
          expr("__s div n_toks").as("rarity_score"), col("n_rare"))
    },
    // Bigram count-LM table (KenLM-lite): conditional continuation
    // counts for the 20 highest-fanout context words — c(w1, w2),
    // c(w1·) and the integer-bp conditional p(w2|w1), top-3
    // continuations per context by (count DESC, w2 ASC). The count-based
    // n-gram LM is the classic filter/scoring backbone before neural
    // perplexity; counts are also what a backoff LM persists. Scale
    // shape: one (w1, w2)-keyed count shuffle (map-side combine absorbs
    // hot bigrams), one w1-keyed rollup, a rank window partitioned by
    // the 20 selected contexts only — never vocab-wide.
    "q_x_bigram_lm" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bg = Tables.documents(s, dir)
        .select(explode(TextOps.bigramsFromTokens(
          TextOps.tokens(col("text")))).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("pair_count")).as("w1_count"))
      val top = c1.orderBy(col("w1_count").desc, col("w1").asc).limit(20)
      c2.join(broadcast(top), Seq("w1"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("w1"))
            .orderBy(col("pair_count").desc, col("w2").asc)))
        .filter(col("rank") <= 3)
        .select(col("w1"), col("w1_count"), col("rank").cast("int").as("rank"),
          col("w2"), col("pair_count"),
          expr("pair_count * 10000 div w1_count").as("cont_bp"))
    },
    // Feature hashing (the hashing trick): every token folds into a
    // FIXED 1024-dim signed sparse vector — idx = md5("fh:"+term) mod D,
    // sign = ±1 off an independent md5 bit (the sign hash keeps collision
    // noise zero-mean, Weinberger et al.'s construction) — the
    // vocabulary-free featurizer that needs no fitted dictionary, no
    // broadcast vocab, and never reshuffles when new terms appear.
    // Zero-sum cells drop (exact sparsity, deterministic: collisions
    // cancel identically in both engines). One narrow map + one
    // (doc, idx)-keyed aggregate; output flattened to (doc_id, idx, val)
    // rows — the export-contract form (r11 inverted-index lesson: no
    // array cells through the driver hash).
    "q_x_feature_hash" -> { (s, dir) =>
      val D = 1024L
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .withColumn("idx",
          pmod(TextOps.md5Long64(concat(lit("fh:"), col("term"))), lit(D)))
        .withColumn("sgn",
          when(pmod(TextOps.md5Long64(concat(lit("fhs:"), col("term"))),
            lit(2L)) === 0, lit(1L)).otherwise(lit(-1L)))
        .groupBy(col("doc_id"), col("idx"))
        .agg(sum(col("sgn")).as("val"))
        .filter(col("val") =!= 0)
    },
    // Collocation mining (phrase detection for vocab/tokenizer design):
    // top-20 adjacent bigrams by the exact PMI-ratio lift
    // 10⁴·c12·N div (c1·c2) — the log-free rational core of PMI (the
    // tf-idf linear-idf stance: the log is monotone, so the RANKING is
    // PMI's ranking, and the statistic stays an order-free BIGINT:
    // 10⁴·c12·N tops out near 10¹⁷ at a 3M-token corpus; a 100 TB corpus
    // upgrades the numerator to DECIMAL(38,0), the dec38 idiom). Noise
    // floor c12 ≥ 5 — the standard collocation support cut. One bigram
    // count shuffle + one vocabulary-keyed count, two vocab-sized joins.
    "q_x_collocations" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val n = toks.agg(count(lit(1)).as("n_tokens"))
      val c1 = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val c2 = Tables.documents(s, dir)
        .select(explode(TextOps.bigramsFromTokens(
          TextOps.tokens(col("text")))).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      c2.join(c1.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(c1.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          expr("c12 * 10000 * n_tokens div (c1 * c2)").as("lift_bp"))
        .orderBy(col("lift_bp").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },
    // Per-doc top-3 terms by exact-rational tf-idf (linear idf — see
    // TextOps.tfIdfTopTerms for why ln is deliberately avoided).
    "q_x_tfidf_top" -> { (s, dir) =>
      TextOps.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
    },
    // Deterministic stratified corpus sampling (domain-mixing weights):
    // per-language keep rates in basis points from a broadcast mixing dim
    // (the S7 config pattern), keep decision = md5 of the salted doc id
    // mod 10^4 under the stratum rate — content-independent, seedless,
    // and bit-reproducible across engines, runs, and cluster sizes (the
    // property a resumable 100 TB mixing job needs: re-running any
    // partition keeps exactly the same docs; `rand()` sampling cannot
    // promise that). Rollup per (lang, source): totals, kept, kept chars.
    "q_x_corpus_sample" -> { (s, dir) =>
      import s.implicits._
      val rates = Seq(("en", 8000), ("es", 5000), ("fr", 5000), ("de", 3000), ("zh", 2000))
        .toDF("r_lang", "rate_bp")
      Tables.documents(s, dir)
        .join(broadcast(rates), col("lang") === col("r_lang"), "left")
        .withColumn("rate", coalesce(col("rate_bp"), lit(1000)))
        .withColumn("keep",
          pmod(TextOps.md5Long64(concat(lit("sample:"), col("doc_id").cast("string"))),
            lit(10000L)) < col("rate"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"),
          max(col("rate")).cast("int").as("rate_bp"))
    },
    // Deterministic fixed-k-per-group sample (eval-set carving: "exactly 5
    // docs per language, reproducibly"): rank by the seedless md5 hash of
    // the doc id, take k — content-independent and bit-reproducible like
    // q_x_corpus_sample's rate-based cousin, but with an exact count
    // guarantee per stratum. Runs through Ops.topKPerGroup's two-level
    // salted tournament, so few corpus-sized groups never collapse onto
    // single reducers; the oracle replays the same selection with one
    // plain window (same result by the tournament's correctness argument).
    "q_x_group_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("h",
          TextOps.md5Long64(concat(lit("gs:"), col("doc_id").cast("string"))))
      graft.functions.Ops.topKPerGroup(docs, Seq("lang"),
          Seq(col("h").asc, col("doc_id").asc), col("doc_id"), k = 5, salts = 16)
        .select(col("lang"), col("doc_id"), col("h"))
    },
    // Token-BUDGET mixture sampling (the Pile/DoReMi domain-weights move):
    // each source gets share_bp of the total corpus char budget, and docs
    // are admitted in deterministic seedless hash order until their
    // source's budget is crossed — so the mixture is hit by CONTENT
    // VOLUME, not doc count (q_x_source_cap's k-docs cap can't express
    // "10% of tokens from code"). The per-source running char total runs
    // through Ops.cumAggPerKey(sum) bucketed by the hash's top bits: no
    // source's corpus ever sorts on one reducer, the exact shape that
    // matters when one crawl source IS most of the corpus. Budgets are
    // exact integer bp of the broadcast total; unlisted sources default
    // to 300 bp.
    "q_x_mixture_sample" -> { (s, dir) =>
      import s.implicits._
      val weights = Seq(("src0", 1500), ("src1", 1200), ("src2", 800))
        .toDF("w_source", "share_bp")
      val docs = Tables.documents(s, dir)
        .join(broadcast(weights), col("source") === col("w_source"), "left")
        .withColumn("share_bp", coalesce(col("share_bp"), lit(300)))
        .withColumn("h",
          TextOps.md5Long64(concat(lit("mix:"), col("doc_id").cast("string"))))
        .select(col("source"), col("doc_id"), col("n_chars"), col("share_bp"), col("h"))
      val total = docs.agg(sum(col("n_chars")).as("t_chars"))
      val cum = graft.functions.Ops.cumAggPerKey(
        docs.crossJoin(broadcast(total)),
        Seq("source"), Seq(col("h"), col("doc_id")),
        "n_chars", "cum_chars", expr("shiftright(h, 52)"), "sum")
      cum.withColumn("budget_chars", expr("t_chars * share_bp div 10000"))
        .filter(col("cum_chars") <= col("budget_chars"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("cum_chars"), col("budget_chars"))
    },
    // RENDEZVOUS (highest-random-weight) sharding: every doc scores all 8
    // shards with the seedless md5 of doc:rv:shard and lands on the
    // argmax — the STABLE assignment an incremental 100 TB pipeline needs
    // (growing the shard count moves only the keys the NEW shard wins —
    // an exact invariant ScaleTechniqueSpec pins — where pmod resharding
    // moves ~(n−1)/n of the corpus). One explode + one keyed max whose
    // partial agg collapses map-side; the oracle replays the argmax as a
    // per-doc rank over the cross range.
    "q_x_rendezvous" -> { (s, dir) =>
      graft.functions.Ops.rendezvousShard(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", nShards = 8)
    },
    // PPS SYSTEMATIC sampling, stratified per source: ~k docs per source
    // with inclusion probability PROPORTIONAL TO SIZE (chars) — the
    // "sample big documents more" design the uniform md5 samplers can't
    // express. Classic systematic PPS: docs in seedless-hash order carry a
    // running char total; step = ⌊W_s/k⌋ (floored at 1); a doc is selected
    // iff its (cum−w, cum] interval contains a multiple of step, i.e.
    // ⌊cum/step⌋ > ⌊(cum−w)/step⌋. ALL-INTEGER arithmetic — this is the
    // weighted-sampling design that is hash-oracle-able, where the
    // exponential-keys form (A-ES) needs libm ln and could never be. A
    // doc heavier than step is a certainty inclusion (selected once).
    // The per-source cumulative is the bucketed cumAggPerKey (no
    // single-reducer stratum); W_s rides a broadcast aggregate.
    "q_x_pps_sample" -> { (s, dir) =>
      val kTarget = 5
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("h",
          TextOps.md5Long64(concat(lit("pps:"), col("doc_id").cast("string"))))
      val cum = graft.functions.Ops.cumAggPerKey(docs, Seq("source"),
        Seq(col("h"), col("doc_id")), "n_chars", "cum_chars",
        expr("shiftright(h, 52)"), "sum")
      val totals = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).as("w_total"))
        .withColumn("step", greatest(expr(s"w_total div $kTarget"), lit(1L)))
      cum.join(broadcast(totals), "source")
        .filter(expr("cum_chars div step") > expr("(cum_chars - n_chars) div step"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("cum_chars"), col("step"))
    },
    // TEMPERATURE-scaled mixture (α = ½): source shares derived from the
    // DATA — w_s = √(chars_s), share_s = w_s/Σw — instead of a fixed
    // weight table: the multilingual/low-resource rebalancing move
    // (α = 1 is natural proportions, α = 0 uniform; ½ the standard
    // compromise). √ is IEEE-correctly-rounded in BOTH engines (unlike
    // pow/ln — this is exactly why the α = ½ point is the oracle-exact
    // one), Σw folds in source-sorted order, and budget_s =
    // ⌊0.5·T·share_s⌋ in one pinned double expression tree. Admission is
    // the q_x_mixture_sample hash-order cumulative (bucketed
    // cumAggPerKey), rolled up per source; the LEFT JOIN keeps
    // zero-admission sources visible with explicit zeros.
    // r17: split into ADDITIVE doc-grain state + finisher (the CUPED
    // state/finisher precedent) so the SAME kernel serves this batch row
    // and complete-mode streaming upkeep (StreamJobs.temperatureMixStream;
    // drain ≡ batch pinned in StreamingSpec). Semantics unchanged — the
    // chain above moved verbatim into TextOps.temperatureMixFromState.
    "q_x_temperature_mix" -> { (s, dir) =>
      TextOps.temperatureMixFromState(
        TextOps.temperatureMixDocState(Tables.documents(s, dir)))
    },
    // Train/val/test split, PRODUCTION tier: 80/10/10 by seedless md5
    // bucket of the doc id — a NARROW map with zero shuffles before the
    // rollup, so assignment is embarrassingly parallel, bit-reproducible
    // across runs/partitionings/engines, and RESUMABLE (re-splitting any
    // Grouped k-fold cross-validation assignment (k = 5), entity =
    // customer: fold is a pure seedless-md5 function of the GROUP key,
    // so every row of one entity lands in ONE fold — the group-leakage
    // guard plain row-hashing lacks (a customer's orders in both train
    // and holdout folds leak entity-level signal into validation, the
    // same vector q_x_split_safe closes for near-duplicate documents).
    // A narrow shuffle-free map: deterministic, resumable, and
    // subset-stable (re-assigning any subset agrees — the split_hash
    // argument); the full assignment table is the output so the oracle
    // hash pins every row, not just counts.
    "q_x_kfold" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .withColumn("fold", pmod(TextOps.md5Long64(
            concat(lit("fold:"), col("o_custkey").cast("string"))), lit(5L))
          .cast("int"))
    },
    // Rolling-origin time-series CV (k = 5, day grain): the last 5 days
    // are the validation origins, each fold trains on strictly earlier
    // days — the temporal-leakage-safe evaluation hash/grouped folds
    // can't give. One row per event (fold membership derivable from
    // fold_val + n_train_folds), period dimension broadcast, facts never
    // shuffle.
    "q_x_ts_cv" -> { (s, dir) =>
      graft.functions.Ops.rollingOriginCv(
        Tables.events(s, dir).select(col("event_id"), col("ts")),
        "ts", k = 5, grain = "day")
        .select(col("event_id"), col("period"), col("fold_val"),
          col("n_train_folds"))
    },
    // subset assigns identically — rand() cannot promise any of this).
    // Proportions are exact only in expectation (binomial around 80%);
    // the quota tier below trades one shuffle for exactness. Rollup per
    // (lang, split) so the oracle hash pins every assignment via counts.
    "q_x_split_hash" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", TextOps.splitAssign(col("doc_id")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_tot"))
    },
    // Train/val/test split, EXACT-QUOTA tier, stratified per lang: rank
    // docs within each stratum by the seedless hash (content-independent,
    // reproducible), then cut at floor(n·0.8) / floor(n·0.9) — every
    // stratum's split sizes are exact, not binomial. The within-stratum
    // rank runs through Ops.cumAggPerKey bucketed by the hash's top bits,
    // so a corpus-sized stratum (one language IS most of a web corpus)
    // never sorts on a single reducer; the stratum totals are a broadcast
    // one-row-per-lang aggregate. Same "split:" hash domain as
    // q_x_split_hash: the two tiers agree on singleton ordering.
    "q_x_split_quota" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"))
        .withColumn("h",
          TextOps.md5Long64(concat(lit("split:"), col("doc_id").cast("string"))))
        .withColumn("one", lit(1L))
      val ranked = graft.functions.Ops.cumAggPerKey(docs, Seq("lang"),
        Seq(col("h"), col("doc_id")), "one", "rk", expr("shiftright(h, 52)"), "sum")
      // stratum sizes from the narrow pre-rank scan, not the ranked plan —
      // counting through `ranked` would replay the two-level window
      val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      ranked.join(broadcast(totals), "lang")
        .withColumn("split",
          when(col("rk") <= expr("n_lang * 8000 div 10000"), "train")
            .when(col("rk") <= expr("n_lang * 9000 div 10000"), "val")
            .otherwise("test"))
        .select(col("lang"), col("doc_id"), col("rk"), col("split"))
    },
    // LEAKAGE-SAFE split: near-duplicate documents must land in the SAME
    // split (a test doc with a train near-twin inflates eval — the
    // canonical train/test contamination vector that doc-id hashing
    // cannot see). Split key = the doc's near-dup cluster id when it has
    // one (the MinHash pair pipeline closed transitively —
    // q_x_dedup_clusters' exact machinery, failOnOverCap for the same
    // closure-amplification reason), else the doc id; every cluster then
    // draws ONE hash and moves as a unit. The cluster table is
    // dup-members-only — tiny next to the corpus, so the key-attach join
    // broadcasts at scale. Rollup per split with the clustered-doc count
    // (the docs whose assignment the naive tier could have leaked).
    "q_x_split_safe" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        failOnOverCap = true)
      val clusters = Dedup.duplicateClusters(pairs, "a", "b")
      val keyed = docs.select(col("doc_id"), col("n_chars"))
        .join(broadcast(clusters.select(col("doc_id"), col("cluster_id"))),
          Seq("doc_id"), "left")
        .withColumn("skey", coalesce(col("cluster_id"), col("doc_id")))
      keyed
        .withColumn("split", TextOps.splitAssign(col("skey")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_tot"),
          sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"))
    },
    // The flagship corpus-prep composition: every pipeline stage in ONE
    // Catalyst plan — quality gate + language filter (narrow maps), exact
    // content dedup (DISTINCT ON fp), train-test decontamination (the
    // mod-7 hold-out cohort leaves the corpus AND screens it via the
    // broadcast 8-gram table), deterministic stratified sampling by
    // predicted language, and the per-source cap — finishing in a
    // per-language corpus accounting rollup. Stage order is the
    // production order (cheap narrow filters first, the broadcast screen
    // before the shuffling cap) and every stage reuses the oracle-proven
    // primitive it composes.
    // Per-document gate PROVENANCE — the pipeline-observability view of
    // q_x_corpus_full's admission stages: every doc gets its verdict at
    // each gate it REACHED (quality, lang, exact dedup, eval holdout,
    // decontamination — the same rules verbatim), the first failing
    // stage, and the final admission flag. Verdicts for unreached stages
    // are NULL, not false — a doc cut at the quality gate was never
    // dedup-adjudicated, and a curation debug session needs that
    // distinction ("why did doc X disappear" is answered by first_fail,
    // "what WOULD have happened" deliberately is not). Stage predicates
    // are the shared implementations, so this trace can never drift from
    // the corpus build it explains.
    "q_x_gate_provenance" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val verdicts = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
          TextOps.fingerprintMd5(col("text")).as("fp"))
        .select(col("doc_id"), col("fp"),
          (TextOps.qualityScoreFromTokens(col("toks"), stopwords) >= 0.5).as("q_pass"),
          (TextOps.langIdFromTokens(col("toks"), lexicons) =!= "und").as("lang_pass"),
          (pmod(col("doc_id"), lit(7)) === 3).as("is_eval"))
      val surv = verdicts.filter(col("q_pass") && col("lang_pass"))
      val keep = surv
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
        .select(col("doc_id"), (col("__rk") === 1).as("dedup_keep"))
      val corpus0 = surv.join(keep, Seq("doc_id"))
        .filter(col("dedup_keep") && !col("is_eval"))
        .select(col("doc_id"), lit(true).as("__in_corpus"))
      val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      val flagged = TextOps.contaminationReport(
          docs.join(corpus0, Seq("doc_id"), "left_semi"), bench, n = 8)
        .select(col("doc_id"), lit(true).as("__flagged"))
      verdicts.join(keep, Seq("doc_id"), "left")
        .join(corpus0, Seq("doc_id"), "left")
        .join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("q_pass"), col("lang_pass"), col("is_eval"),
          col("dedup_keep"),
          when(col("__in_corpus"), coalesce(col("__flagged"), lit(false)))
            .otherwise(lit(null).cast("boolean")).as("contaminated"),
          when(!col("q_pass"), lit("quality"))
            .when(!col("lang_pass"), lit("lang"))
            .when(!col("dedup_keep"), lit("duplicate"))
            .when(col("is_eval"), lit("eval_holdout"))
            .when(coalesce(col("__flagged"), lit(false)), lit("contaminated"))
            .otherwise(lit("none")).as("first_fail"))
        .withColumn("admitted", col("first_fail") === "none")
    },
    "q_x_corpus_full" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val staged = docs
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          TextOps.tokens(col("text")).as("toks"),
          TextOps.fingerprintMd5(col("text")).as("fp"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"), col("fp"),
          TextOps.tokenCountFromTokens(col("toks")).as("n_tokens"),
          TextOps.qualityScoreFromTokens(col("toks"), stopwords).as("quality"),
          TextOps.langIdFromTokens(col("toks"), lexicons).as("lang_pred"))
        .filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      val deduped = staged
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
        .filter(col("rk") === 1).drop("rk")
      // the eval cohort is held out of the corpus and screens it; the
      // benchmark side is the RAW cohort (an eval set is contaminating
      // whatever its quality score is)
      val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      val corpus0 = deduped.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      val clean = corpus0.join(
        TextOps.contaminationReport(corpus0, bench, n = 8).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      val sampled = clean.filter(
        pmod(TextOps.md5Long64(concat(lit("sample:"), col("doc_id").cast("string"))),
          lit(10000L)) <
          when(col("lang_pred") === "en", 8000)
            .when(col("lang_pred").isin("es", "fr"), 5000)
            .when(col("lang_pred") === "de", 3000).otherwise(2000))
      // cap per (source, language), not per source alone: a global cap
      // lets the dominant language crowd every slot. (On this synthetic
      // corpus the en-stopword quality gate leaves en only — same as
      // q_x_pipeline_e2e — so the rollup is one row either way; the cap
      // grain is the design point.)
      val capped = sampled
        .withColumn("srk", row_number().over(
          Window.partitionBy(col("source"), col("lang_pred"))
            .orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("srk") <= 5)
      capped.groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang_pred").asc)
    },
    // Sequence packing (concat-and-chunk): documents concatenated in
    // doc-id order and split into fixed 2048-token training sequences;
    // each doc reports its running token total and the pack its last
    // token lands in. The running total is the per-EVENT global prefix
    // sum shape — fatal as a single-partition window at corpus scale —
    // so it runs on Ops.cumSumGlobal (id-range buckets + the tiny
    // handoff aggregate), the same decomposition that cleared
    // q_lit_buyback. LONG sums are exact, so the decomposition is
    // value-identical to the naive window. Bucket 1024 keeps the handoff
    // at N/1024 rows — one window partition of ~10M rows even at a
    // 10B-doc corpus; past that, the same decomposition applies
    // recursively to the handoff itself (buckets-of-buckets) before the
    // per-bucket windows ever become the problem.
    "q_x_seq_pack" -> { (s, dir) =>
      val budget = 2048L
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.Ops
        .cumSumGlobal(base, "doc_id", "n_tokens", "cum_tokens",
          expr("doc_id div 1024"))
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr(s"(cum_tokens - 1) div $budget"))
            .as("pack_id"))
    },
    // Per-source document cap (the C4-style per-domain cap, keeping a
    // corpus from being dominated by one crawl source): top-K docs per
    // source under a deterministic total order (longest first, doc id as
    // the tiebreak), emitted with their rank so the downstream filter is
    // rank <= K. r17: reshaped from a rank window into a BOUNDED top-K
    // sketch aggregate (TextOps.sourceCapState — order-encoded longs into
    // kmvBottomK) + rank finisher: partial aggregation absorbs the corpus
    // map-side (≤ K longs per source cross the shuffle, no per-source
    // sort), and the SAME kernel serves complete-mode streaming upkeep
    // (StreamJobs.sourceCapStream; drain ≡ batch pinned in StreamingSpec).
    "q_x_source_cap" -> { (s, dir) =>
      TextOps.sourceCapFromState(
        TextOps.sourceCapState(Tables.documents(s, dir), k = 5))
    },
    // Train-test decontamination (the GPT-3 appendix-C 8-gram screen):
    // the mod-7 doc cohort plays the benchmark/eval set, the rest the
    // training corpus; report = corpus docs sharing any exact 8-gram with
    // a benchmark doc (distinct-gram hit count + lowest contaminating
    // bench id). The benchmark gram table broadcasts — no corpus-sized
    // shuffle; see TextOps.contaminationReport.
    "q_x_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextOps.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 3),
        docs.filter(pmod(col("doc_id"), lit(7)) === 3), n = 8)
    },
    // The decontamination audit as the (train shard × eval set) MATRIX a
    // release ships: 3 corpus shards × 2 eval sets, per cell the
    // contaminated-doc count, (doc, distinct-gram) hit volume, and rate
    // in bp — zero-hit cells still report. Eval grams broadcast; the hit
    // aggregate is the only shuffle.
    "q_x_contamination_matrix" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextOps.contaminationMatrix(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
          .withColumn("shard", pmod(col("doc_id"), lit(3))),
        docs.filter(pmod(col("doc_id"), lit(7)) === 3)
          .withColumn("eval_set", pmod(col("doc_id"), lit(2))),
        "shard", "eval_set", n = 8)
    },
    // PII redaction (the C4/Dolma scrub): emails, NANP-shaped phones, IPv4s
    // → typed placeholders, with pre-scrub per-category match counts as the
    // audit signal. The synthetic corpus carries no organic PII, so each doc
    // deterministically injects one of each (derived from its id; even ids
    // get a second email so the counts are non-constant) — the scrub then
    // has real work whose counts and redacted text the oracle replays
    // byte-for-byte (patterns live in the Java-regex ∩ RE2 dialect —
    // TextOps.EmailPattern et al.). Narrow map, no shuffle.
    "q_x_pii_scrub" -> { (s, dir) =>
      val injected = concat(col("text"),
        lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" at 10.2."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".99"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" cc admin@test.org")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), injected.as("txt"))
        .select(col("doc_id") +:
          TextOps.piiCounts(col("txt")).map { case (n, c) => c.as(n) } :+
          md5(TextOps.piiScrub(col("txt"))).as("clean_digest"): _*)
    },
    // Intra-document repetition removal: 2-token pseudo-sentence chunks,
    // first occurrence kept, document rebuilt (digest compared). The
    // quadratic keep-first kernel is per-row work bounded by doc length —
    // corpus-size-invariant, fully codegen'd, zero shuffles.
    // RAG-style sliding-window chunking: overlapping 32-token windows at
    // stride 24 (8-token overlap keeps context across cuts — the
    // retrieval-ingest front door). One posexplode over a narrow map —
    // zero shuffle, corpus-linear; every chunk ships its provenance
    // (start offset, length, digest) so an index row can always be traced
    // back to its span. Tail windows shorten (slice clamps identically in
    // both engines); blank docs emit no chunks.
    "q_x_rag_chunks" -> { (s, dir) =>
      TextOps.slidingChunks(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "text", window = 32, stride = 24)
    },
    "q_x_chunk_dedup" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.tokenChunks(col("toks"), 2).as("chunks"))
        .select(col("doc_id"), size(col("chunks")).as("n_chunks"),
          TextOps.dedupKeepFirst(col("chunks")).as("kept"))
        .select(col("doc_id"), col("n_chunks"),
          size(col("kept")).as("n_kept"),
          md5(array_join(col("kept"), " ")).as("clean_digest"))
    },
    // Cross-document boilerplate removal (the RefinedWeb/CCNet move): a
    // 3-token chunk appearing in ≥5 DISTINCT documents is boilerplate
    // (nav text, license banners) and is cut from EVERY document, order
    // preserved. Plan shape for 100 TB: chunk rows via the codegen'd
    // explode-index kernel (TextOps.chunkRows — the naive chunk-array
    // posexplode re-tokenized per chunk inside a pushed-down Generate
    // guard, ~10× slower); ONE chunk-keyed shuffle for the doc-frequency
    // aggregate (countDistinct partial-aggregates map-side, so hot
    // boilerplate chunks don't skew — the window/collect_set alternative
    // is a skew bomb on exactly the chunks this query exists to find);
    // the ≥threshold survivor set is heavy-hitter-small at any corpus
    // size → broadcast flag-join back onto the chunk rows, so ONE
    // doc-keyed aggregate computes total, kept count, and the
    // order-preserved rebuild digest together; the final left join (off a
    // doc_id-only column-pruned scan) restores blank docs, and
    // all-boilerplate docs fall out of the same aggregate with the
    // empty-corpus digest.
    "q_x_boilerplate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val chunks = TextOps.chunkRows(docs, "doc_id", "text", 3)
      val frequent = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 5)
        .select(col("chunk"), lit(true).as("boiler"))
      val flagged = chunks.join(broadcast(frequent), Seq("chunk"), "left")
      val rebuilt = flagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_chunks"),
          count(when(col("boiler").isNull, 1)).cast("int").as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(col("boiler").isNull, struct(col("pos"), col("chunk"))))),
              x => x.getField("chunk")), " ")).as("clean_digest"))
      docs.select(col("doc_id"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0)).as("n_chunks"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("clean_digest"), md5(lit(""))).as("clean_digest"))
    },
    // URL canonicalization + dedup (the crawl-frontier move): raw URLs
    // folded to canonical form (case, default ports, fragments, trailing
    // slashes, utm_* tracking params, param order — TextOps.urlNormalize),
    // then exact dedup per canonical URL keeping the lowest doc id. The
    // synthetic corpus carries no URL column, so each doc injects a
    // deterministic messy URL derived from (source, doc_id) — six
    // independent presentation axes vary by doc id residues while the
    // canonical form depends only on (source, doc_id mod 17), so the fold
    // does real work (~15 raw docs and 2+ raw FORMS per canonical URL).
    // Normalization is a narrow codegen'd map; the dedup is one
    // canonical-URL-keyed shuffle — the exact-dedup shape.
    "q_x_url_dedup" -> { (s, dir) =>
      val id = col("doc_id")
      val rawUrl = concat(
        when(pmod(id, lit(2)) === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(pmod(id, lit(3)) === 0, upper(col("source"))).otherwise(col("source")),
        lit(".Example.COM"),
        when(pmod(id, lit(4)) === 0, lit(":443")).otherwise(lit("")),
        lit("/a/"), pmod(id, lit(17)).cast("string"),
        when(pmod(id, lit(5)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(id, lit(2)) === 0, lit("?b=2&a=1&utm_source=feed"))
          .otherwise(lit("?a=1&utm_campaign=x&b=2")),
        when(pmod(id, lit(6)) === 0, lit("#sec")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl.as("raw_url"))
        .select(col("doc_id"), col("raw_url"),
          TextOps.urlNormalize(col("raw_url")).as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("kept_doc_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("raw_url")).as("n_raw_forms"))
    },
    // Exact duplicate-SPAN removal (ExactSubstr, Lee et al. 2021, word-gram
    // form): any word 8-gram occurring twice anywhere in the corpus —
    // cross-doc or repeated within one doc — is cut from every document
    // (the published remove-all-copies semantics; production uses n≈50 BPE
    // tokens, the suffix array's distributed equivalent being this
    // gram-frequency count). One narrow posexplode of the position-ordered
    // shingle kernel, one gram-keyed count shuffle (partial agg absorbs the
    // hot boilerplate grams), one join back + doc-keyed start-list collect,
    // then a per-row O(len·dups) rebuild. See Dedup.removeDuplicateSpans.
    "q_x_substr_dedup" -> { (s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), n = 8)
    },
    // BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first 6
    // merge rules from the corpus — word-frequency table once (the only
    // corpus-sized shuffle), then 6 rounds of weighted adjacent-pair
    // counting + argmax + merge over the vocabulary-sized word table.
    // Deterministic: ties break lexicographically on (left, right). See
    // TextOps.bpeTrainMerges; the oracle replays all 6 rounds with
    // list_reduce folds.
    "q_x_bpe_train" -> { (s, dir) =>
      TextOps.bpeTrainMerges(Tables.documents(s, dir), k = 6)
    },
    // BPE tokenizer APPLICATION — the train→apply round trip: learn the
    // 6 merges from the corpus (q_x_bpe_train's exact path), then encode
    // every document by replaying the merge sequence per word and report
    // the per-doc BPE token count + token-stream digest. The merges are
    // vocabulary metadata (driver-side list, broadcast-sized by
    // construction); the encode itself is a narrow codegen'd map. The
    // oracle replays training AND encoding through the same CTE chain.
    "q_x_bpe_encode" -> { (s, dir) =>
      val merges = TextOps.bpeTrainMerges(Tables.documents(s, dir), k = 6)
        .orderBy(col("step"))
        .select(col("left_sym"), col("right_sym"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      // Encode each DISTINCT word once (the merge-fold chain is interpreted
      // HOF work — running it per word OCCURRENCE measured 9.3 s at sf0.1;
      // per VOCAB word it is 1.4 s), broadcast the encoded vocabulary back
      // onto the occurrence stream, and reassemble per doc in position
      // order. This is also the 100 TB shape: encode the vocabulary, not
      // the corpus. The left join restores blank docs at zero tokens.
      val docs = Tables.documents(s, dir)
      val words = docs.select(col("doc_id"),
        posexplode(filter(TextOps.tokens(col("text")), w => w =!= ""))
          .as(Seq("pos", "w")))
      val vocab = words.select(col("w")).distinct()
        .withColumn("enc", TextOps.bpeEncode(col("w"), merges))
      val perDoc = words.join(broadcast(vocab), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(flatten(transform(
          sort_array(collect_list(struct(col("pos"), col("enc")))),
          x => x.getField("enc"))).as("toks"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(size(col("toks")), lit(0)).as("n_bpe_tokens"),
          md5(coalesce(array_join(col("toks"), " "), lit(""))).as("tok_digest"))
    },
    // Tokenizer FERTILITY by language — the tokenizer-equity diagnostic
    // (which languages the learned vocabulary over-fragments): per lang
    // the word/char/BPE-token totals and the two standard ratios,
    // chars-per-token and tokens-per-word, in exact centi-units. Same
    // encode-the-vocabulary-not-the-corpus shape as q_x_bpe_encode (the
    // merge list is driver-side vocabulary metadata, the per-word encode
    // runs once per DISTINCT word and broadcasts back); token lengths
    // partition the non-whitespace chars, so Σ len(word) over occurrences
    // replays as one regexp_replace per doc in the oracle.
    "q_x_bpe_fertility" -> { (s, dir) =>
      val merges = TextOps.bpeTrainMerges(Tables.documents(s, dir), k = 6)
        .orderBy(col("step"))
        .select(col("left_sym"), col("right_sym"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val words = Tables.documents(s, dir).select(col("lang"),
        explode(filter(TextOps.tokens(col("text")), w => w =!= "")).as("w"))
      val vocab = words.select(col("w")).distinct()
        .withColumn("n_toks",
          size(TextOps.bpeEncode(col("w"), merges)).cast("long"))
        .withColumn("n_wchars", length(col("w")).cast("long"))
      words.join(broadcast(vocab), Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_wchars")).as("n_word_chars"),
          sum(col("n_toks")).as("n_bpe_tokens"))
        .filter(col("n_bpe_tokens") > 0)
        .select(col("lang"), col("n_words"), col("n_word_chars"),
          col("n_bpe_tokens"),
          expr("n_word_chars * 100 div n_bpe_tokens").as("chars_per_token_cb"),
          expr("n_bpe_tokens * 100 div n_words").as("tokens_per_word_cb"))
    },
    // ROLLUP (hierarchical subtotals): per-(lang, source) doc counts with
    // per-lang subtotals and the grand total in one pass — Spark plans
    // grouping sets as a single Expand + one aggregate, no re-scan per
    // level. grouping_id disambiguates subtotal NULLs from data NULLs
    // (bit order: first rollup column = MSB, mirrored explicitly in the
    // oracle as 2·GROUPING(lang)+GROUPING(source)).
    "q_x_rollup" -> { (s, dir) =>
      groupingSetsCounts(Tables.documents(s, dir).rollup(col("lang"), col("source")))
    },
    // CUBE: all four grouping sets of (lang, source) — adds the per-source
    // marginals to the rollup. Same single-Expand plan shape.
    "q_x_cube" -> { (s, dir) =>
      groupingSetsCounts(Tables.documents(s, dir).cube(col("lang"), col("source")))
    },
    // PIVOT: per-source doc counts spread into one column per language.
    // The value list is EXPLICIT (the scale-safe form — an unlisted pivot
    // makes Spark run a distinct scan at plan time and caps at
    // spark.sql.pivotMaxValues); absent combinations coalesce to 0 to
    // match the oracle's conditional-aggregation formulation.
    "q_x_pivot" -> { (s, dir) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val p = Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
      p.select(col("source") +: langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
    },
    // Deterministic training-order shuffle + sharding: every epoch-shuffle
    // in a training pipeline needs a reproducible global permutation.
    // Sort key = md5-64 of (doc_id ":" salt) — seedless, resumable,
    // identical on any cluster size (rand() is none of those); shard =
    // pmod(key, nShards) (2^64 ≡ 0 mod 8, so the unsigned-mod oracle
    // agrees); in-shard position via one keyed window. nShards is the
    // scale knob: pick ~corpus/250 MB so each shard's window stays
    // bounded — shard count grows with the corpus, per-shard work doesn't.
    "q_x_corpus_shuffle" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val skey = TextOps.md5Long64(concat(col("doc_id").cast("string"), lit(":42")))
      Tables.documents(s, dir)
        .select(col("doc_id"), skey.as("skey"),
          pmod(skey, lit(8)).cast("int").as("shard"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))).cast("int"))
        .select(col("shard"), col("pos"), col("doc_id"), col("skey"))
    },
    // Inverted index build — TextOps.invertedIndex (the array-of-structs
    // postings column IS the operator API); the registry entry flattens
    // postings to the canonical "doc:tf;doc:tf" string because the
    // driver's pandas canonicalizer cannot hash array cells (r11's one
    // `err` row). sort_array on struct<doc_id, tf> orders by doc_id
    // (first field; (term, doc_id) is unique so no tie), matching the
    // oracle's string_agg(... ORDER BY doc_id).
    "q_x_inverted_index" -> { (s, dir) =>
      TextOps.invertedIndex(Tables.documents(s, dir), "doc_id", "text", minDf = 5)
        .select(col("term"), col("df"), col("total_tf"),
          array_join(transform(col("postings"),
            p => concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ";").as("postings"))
    },
    // The PAGED inverted index — q_x_inverted_index's documented
    // production form made real: postings split into fixed-size blocks
    // (doc_id order preserved) with per-block skip metadata (block_len,
    // block_max_tf — the block-max structure WAND-style retrieval skips
    // on — and first_doc, the block seek key). THIS is the form that
    // survives an ultra-high-df term at 100 TB: the single-page form
    // must assemble one unbounded in-memory collect_list per term, while
    // here the per-term work is a WINDOW (whose partition buffer SPILLS —
    // ExternalAppendOnlyUnsafeRowArray — instead of growing one array
    // value) and every final (term, block) reducer group is ≤ blockSize
    // rows: the assembly bound comes from the structure, not the data.
    // Both window functions share the one term-keyed Exchange. blockSize
    // = 4 keeps blocks visible at test SFs; production ~128.
    "q_x_inverted_index_blocks" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .filter(col("df") >= 5)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("term")).orderBy(col("doc_id"))) - 1)
        .select(col("term"), expr("CAST(rk div 4 AS INT)").as("block_id"),
          col("doc_id"), col("tf"))
        .groupBy(col("term"), col("block_id"))
        .agg(count(lit(1)).cast("int").as("block_len"),
          max(col("tf")).as("block_max_tf"),
          min(col("doc_id")).as("first_doc"),
          array_join(transform(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
            p => concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ";").as("postings"))
    },
    // Per-language token-length quantiles — the length-distribution
    // diagnostic every corpus-curation pass starts from (and the cut-point
    // feed for length filtering). EXACT percentile (Spark's `percentile`
    // aggregate ≡ DuckDB quantile_cont: both interpolate at (n−1)p): on
    // INTEGER inputs with quarter fractions the interpolation is exact in
    // double, so the hash holds. 100 TB note: exact percentile sorts per
    // group — per-language groups bound the sort; the production tier is
    // approx_percentile (t-digest, mergeable partial aggs) with this as
    // its oracled twin, the A4/HLL pattern.
    "q_x_length_quantiles" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), TextOps.tokenCount(col("text")).as("n"))
        .groupBy(col("lang"))
        .agg(expr("percentile(n, 0.25)").as("p25"),
          expr("percentile(n, 0.5)").as("p50"),
          expr("percentile(n, 0.75)").as("p75"),
          count(lit(1)).as("n_docs"))
    },
    // The PRODUCTION tier of q_x_length_quantiles, made real: t-digest
    // sketch quantiles (percentile_approx) — the partial sketches merge
    // map-side, so the per-group sort the exact percentile pays never
    // happens and group size stops mattering. The A4/HLL two-tier
    // pattern: no oracle by design (sketch estimates are
    // engine-specific); TextOpsSpec pins every estimate inside the exact
    // ±5%-rank quantile band (accuracy 100 ⇒ rank error ≤ 1%).
    "q_x_length_quantiles_approx" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), TextOps.tokenCount(col("text")).as("n"))
        .groupBy(col("lang"))
        .agg(expr("percentile_approx(n, 0.25, 100)").as("p25"),
          expr("percentile_approx(n, 0.5, 100)").as("p50"),
          expr("percentile_approx(n, 0.75, 100)").as("p75"),
          count(lit(1)).as("n_docs"))
    },
    // Tokenizer-prep vocabulary coverage cutoff: the smallest
    // frequency-ranked vocabulary prefix covering 95% of corpus tokens —
    // the vocab-size / OOV-rate trade study run before training any
    // tokenizer. Rank order (tf DESC, term ASC) is a total order, so the
    // cumulative is engine-independent. Scale shape: the term table is
    // vocabulary-bounded (Heaps' law), but one global window is still the
    // one shape that cannot scale out — so the prefix sum is BUCKETED
    // (the Ops.cumSumGlobal decomposition): running sums inside
    // (-tf, first-char) partitions plus a per-bucket handoff offset whose
    // window runs over the BUCKET table (≤ #distinct-tf × alphabet rows —
    // metadata-sized). Keep rule in exact integers: a term is in the
    // prefix iff coverage BEFORE it is short of 95% ⇔ 20·(cum−tf) < 19·T;
    // cov_bp = cum·10⁴ div T is exact BIGINT while T < 9·10¹⁴ (a corpus
    // past that ceiling widens to DECIMAL — documented, not silent).
    "q_x_vocab_coverage" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      val tot = tf.agg(sum(col("tf")).as("T"))
      val withB = tf.withColumn("__b1", -col("tf"))
        .withColumn("__b2", substring(col("term"), 1, 1))
      val wIn = Window.partitionBy(col("__b1"), col("__b2"))
        .orderBy(col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val within = withB.withColumn("__cum", sum(col("tf")).over(wIn))
      val handoff = withB.groupBy(col("__b1"), col("__b2"))
        .agg(sum(col("tf")).as("__btot"))
        .withColumn("__off", sum(col("__btot")).over(
          Window.orderBy(col("__b1"), col("__b2"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("__b1"), col("__b2"), col("__off"))
      within.join(handoff, Seq("__b1", "__b2"), "left")
        .select(col("term"), col("tf"),
          (coalesce(col("__off"), lit(0L)) + col("__cum")).as("cum_tf"))
        .crossJoin(broadcast(tot))
        .filter((col("cum_tf") - col("tf")) * 20 < col("T") * 19)
        .select(col("term"), col("tf"), col("cum_tf"),
          expr("cum_tf * 10000 div T").as("cov_bp"))
    },
    // Overlapping strided token windows (size 8, stride 4) — the
    // context-window split LLM pretraining and RAG indexing apply to long
    // documents (each window overlaps the previous by size−stride tokens
    // so no span loses context at a boundary). Explodes a window-INDEX
    // sequence off the staged token count and builds each window after
    // the Generate (the chunkRows lesson: never explode a HOF-built
    // array), so the tokenizer runs once per doc and the whole stage is
    // one codegen'd narrow pass.
    "q_x_chunk_stride" -> { (s, dir) =>
      val size_ = 8
      val stride = 4
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          TextOps.tokenCountFromTokens(col("toks")).as("n"))
        .select(col("doc_id"), col("toks"),
          posexplode(when(col("n") > 0,
            sequence(lit(0), expr(s"((n + ${stride - 1}) div $stride) - 1")))
            .otherwise(array().cast("array<int>"))).as(Seq("win_idx", "start")))
        .select(col("doc_id"), col("win_idx"),
          (col("start") * stride).cast("int").as("start_tok"),
          slice(col("toks"), (col("start") * stride + 1).cast("int"), lit(size_)).as("win"))
        .filter(size(col("win")) > 0)
        .select(col("doc_id"), col("win_idx"), col("start_tok"),
          size(col("win")).as("win_len"),
          md5(array_join(col("win"), " ")).as("win_digest"))
    },
    // PageRank (damping 0.85, 3 iterations) over the customer↔supplier
    // trading graph (distinct pairs from lineitem⋈orders, symmetrized; node
    // ids namespaced even/odd) — the link-graph centrality family behind
    // crawl-quality signals, run as a lazily-composed iterative dataflow
    // with NO driver action in the loop. Bit-exact determinism comes from
    // folding each node's contributions in SOURCE-sorted order (see
    // Graph.pageRank); the oracle replays all 3 rounds with the identical
    // double expression tree (every literal cast to DOUBLE — DuckDB's bare
    // 0.85 is a DECIMAL and 1.0−0.85 ≠ double 0.15's neighbor).
    "q_x_pagerank" -> { (s, dir) =>
      val pairs = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("su"))
        .distinct()
      val sym = pairs.select(col("c").as("src"), col("su").as("dst"))
        .union(pairs.select(col("su").as("src"), col("c").as("dst")))
      graft.operators.Graph.pageRank(sym, "src", "dst", iters = 3)
        .select(when(pmod(col("node"), lit(2)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
          col("node"), col("rank"))
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },
    // PERSONALIZED PageRank over the same trading graph: teleport
    // concentrated on a seed cohort (customers with custkey % 100 = 7 →
    // even node ids ≡ 14 mod 200), so ranks measure proximity to the
    // seeds — the "related entities" / crawl-frontier form — instead of
    // global centrality. Same determinism contract as q_x_pagerank
    // (source-sorted fold, every oracle literal cast to DOUBLE); the
    // teleport flag rides a broadcast join of the metadata-sized seed
    // set. Top-20 by (rank DESC, node ASC).
    //
    // pairs is localCheckpointed HERE, not just inside the operator: the
    // edge list and the seed set are materialized by SEPARATE jobs inside
    // personalizedPageRank (no cross-job exchange reuse), so without this
    // cut the fact-sized lineitem⋈orders distinct executes twice per run
    // — the r14 adjudication of the q_x_ppr sweep anomaly (PLANS.md).
    "q_x_ppr" -> { (s, dir) =>
      val pairs = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("su"))
        .distinct()
        .localCheckpoint()
      val sym = pairs.select(col("c").as("src"), col("su").as("dst"))
        .union(pairs.select(col("su").as("src"), col("c").as("dst")))
      val seeds = pairs.filter(pmod(col("c"), lit(200)) === 14)
        .select(col("c").as("node")).distinct()
      graft.operators.Graph.personalizedPageRank(sym, "src", "dst",
          seeds, "node", iters = 3)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
    },
    // BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query,
    // made bit-exact: with k1=6/5 and b=3/4 every per-term score clears
    // to ONE integer ratio — idf·tfw = [(2N−2df+1)·22·tf·T] /
    // [(2df+1)·(10·tf·T + 3·T + 9·dl·N)] (T = corpus tokens, dl = doc
    // length; multiply through by 10·avgdl·N·2) — so both engines do the
    // identical single double division, and the per-doc sum folds over
    // term-ASC-sorted scores (order pinned, not shuffle-dependent).
    // Corpus stats ride a broadcast one-row scalar (J4 pattern); the
    // doc-term join is a narrow explode + term-keyed count. Top-10 by
    // (score desc, doc_id) via TakeOrdered.
    // Exactness ceiling — GUARDED IN CODE (bm25Score): the BIGINT
    // numerator needs ≈44·N·tf·T < 2⁶³ — comfortable at the test SFs
    // (N·T ≈ 10¹⁰), but a 100 TB corpus (N≈10¹¹ docs, T≈10¹³ tokens)
    // would wrap SILENTLY in non-ANSI Spark while DuckDB throws. The
    // score expression therefore switches per-row to an all-double form
    // of the same ratio when either side's double estimate passes
    // 4·10¹⁸ (Bm25GuardSpec pins both sides of the boundary); below the
    // ceiling the integer branch keeps the single-division bit-exactness
    // the oracle checks — the exact-integer form is the oracle-checkable
    // tier, not the only one (the A4/HLL pattern).
    "q_x_bm25" -> { (s, dir) =>
      bm25Top(s, dir)
    },
    // Pseudo-relevance feedback (PRF / RM3-style) query expansion: run
    // BM25 with the base terms, mine the top-10 FEEDBACK docs for the 3
    // strongest expansion terms (by feedback-set df, then tf, then term —
    // all-integer ranking, original terms excluded), and re-run BM25 with
    // the expanded 6-term query. The expansion set is a DataFrame joined
    // by broadcast — no driver collect, the whole two-pass retrieval is
    // one lazy plan. Recall widens (docs matching only expansion terms
    // now surface) while the scoring stays the oracle-exact rational
    // form.
    "q_x_prf" -> { (s, dir) =>
      val base = baseTermSet(s)
      val feedback = bm25ScoredTop(s, dir, base).select(col("doc_id"))
      val expansion = docToks(s, dir)
        .join(broadcast(feedback), Seq("doc_id"), "left_semi")
        .filter(!col("term").isin(QueryTerms: _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("fdf"), count(lit(1)).as("ftf"))
        .orderBy(col("fdf").desc, col("ftf").desc, col("term").asc)
        .limit(3)
        .select(col("term"))
      bm25ScoredTop(s, dir, base.unionByName(expansion))
    },
    // Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    // rankers — the standard hybrid-search consensus (BM25 ∪ vector /
    // secondary ranker) that needs no score calibration because it only
    // consumes RANKS: score(d) = Σ 1/(60 + rank_r(d)) over the top-10
    // lists of BM25 and the all-integer term-coverage ranker. The
    // contributions are a tiny fixed set {1/61..1/70} summed in
    // ranker-name order (pinned fold), so the fusion is bit-exact
    // cross-engine. Both input rankings are top-k-bounded → the fusion
    // operates on query-metadata-sized tables at any corpus size.
    // NDCG@10 of the BM25 ranking against term-coverage relevance grades
    // — the ranking-eval row that closes the IR family (score → fuse →
    // diversify → EVALUATE). The log2 position discounts are the Benford
    // move: ten PUBLIC constants baked as integer micro-units
    // (⌊10⁶/log2(i+1)⌉), so DCG/IDCG are exact BIGITs and the only
    // division is the closing basis-point ratio. Ideal ranking = the
    // corpus's top-10 by grade under a total order (WindowGroupLimit
    // prunes the rank-≤10 map-side); unjudged retrieved docs grade 0.
    "q_x_ndcg" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val disc = array(Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L).map(lit): _*)
      val rel = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term").isin(QueryTerms: _*))
        .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("rel"))
      val dcg = bm25Top(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .join(rel, Seq("doc_id"), "left")
        .select((coalesce(col("rel"), lit(0L)) *
          element_at(disc, col("r"))).as("g"))
        .agg(sum(col("g")).as("dcg_micro"))
      val idcg = rel
        .withColumn("r", row_number().over(
          Window.orderBy(col("rel").desc, col("doc_id").asc)))
        .filter(col("r") <= 10)
        .select((col("rel") * element_at(disc, col("r"))).as("g"))
        .agg(sum(col("g")).as("idcg_micro"))
      dcg.crossJoin(broadcast(idcg))
        .select(col("dcg_micro"), col("idcg_micro"),
          expr("dcg_micro * 10000 div idcg_micro").as("ndcg_bp"))
    },
    // MAP@10 (binary relevance: ≥2 distinct query terms) — NDCG's
    // rank-UNAWARE sibling: average precision rewards putting relevant
    // docs early without a graded discount. All-integer: precision@i
    // terms as hits·10⁶ div i summed over relevant positions, then one
    // integer division by min(R, 10) — truncating twice is the
    // documented contract, deterministic in both engines. The running
    // hit count is a 10-row window over the ranked cut; R comes from one
    // broadcast corpus-side count.
    "q_x_map" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val relB = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term").isin(QueryTerms: _*))
        .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("cov"))
        .filter(col("cov") >= 2).select(col("doc_id"))
      val r = relB.agg(count(lit(1)).as("n_relevant"))
      val sys = bm25Top(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .join(relB.withColumn("relv", lit(1L)), Seq("doc_id"), "left")
        .withColumn("relv", coalesce(col("relv"), lit(0L)))
        .withColumn("hits", sum(col("relv")).over(
          Window.orderBy(col("r"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("term",
          when(col("relv") === 1, expr("hits * 1000000 div r")).otherwise(lit(0L)))
      sys.agg(sum(col("term")).as("ap_sum"), max(col("hits")).as("hits_at_10"))
        .crossJoin(broadcast(r))
        // Zero guard (r16 ADVICE): a corpus where no document covers ≥2
        // query terms gives n_relevant = 0; DuckDB's `//` by zero errors
        // while Spark's `div` yields NULL, breaking the engine/oracle
        // contract on the degenerate input. Both sides now agree on NULL.
        .select(col("n_relevant"), col("hits_at_10"),
          when(col("n_relevant") > 0,
            expr("ap_sum div least(n_relevant, 10)")).as("ap_micro"))
    },
    "q_x_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ra = bm25Top(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), lit("bm25").as("ranker"), col("r"))
      val rb = coverageTop(s, dir)
        .withColumn("r", row_number().over(
          Window.orderBy(col("cov").desc, col("tf_total").desc, col("doc_id").asc)))
        .select(col("doc_id"), lit("coverage").as("ranker"), col("r"))
      ra.unionByName(rb)
        .select(col("doc_id"), col("ranker"),
          (lit(1.0) / (col("r") + 60)).as("contrib"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_rankers"),
          aggregate(sort_array(collect_list(struct(col("ranker"), col("contrib")))),
            lit(0.0), (acc, x) => acc + x.getField("contrib")).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(10)
    },
    // Incremental corpus dedup, Bloom-accelerated: the already-ingested
    // cohort (doc_id ≡ 0 mod 3) is "yesterday's corpus"; the incoming rest
    // is admitted iff its content key (md5 of the first 4 tokens — a
    // prefix fingerprint with real cross-cohort collisions on this corpus)
    // is not already present. The old cohort's keys are folded into a
    // Bloom sketch ONCE (memoized per dir+mtime, built by Spark's own
    // distributive BloomFilterAggregate); most incoming rows pass the
    // narrow might-contain filter as definitely-new with NO shuffle, and
    // only the maybe sliver pays the exact anti-join — so the result is
    // EXACT (oracle-checkable) while the scale win survives: a daily crawl
    // that is 99% new shuffles 1% of itself. See Dedup.antiJoinBloom.
    "q_x_bloom_dedup" -> { (s, dir) =>
      val fpCol = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 4)))
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"), fpCol.as("prefix_fp"))
      val old = keyed.filter(pmod(col("doc_id"), lit(3)) === 0)
      val incoming = keyed.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      Dedup.antiJoinBloom(incoming, old, "prefix_fp", docBloom(s, dir))
        .select(col("doc_id"), col("prefix_fp"))
    },
    // Incremental NEAR-dup admission — the near-dup tier of
    // q_x_bloom_dedup's exact incremental path: yesterday's corpus
    // (doc_id ≡ 0 mod 3, the bloom cohort) vs the incoming rest, banded
    // MinHash buckets joined NEW→OLD only (no new×new or old×old pairs —
    // the standing corpus already deduped itself), exact word-shingle
    // Jaccard ≥ 0.6 verify. Emits the rejection list (new_id, old_id,
    // jaccard); admission is the anti-join on new_id. The old-side
    // hot-bucket hub guard (Dedup.crossNearDupMinHash) is inert at test
    // SFs, so the oracle replays the pipeline uncapped and exact.
    "q_x_incr_neardup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.crossNearDupMinHash(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text")
        .select(col("a").as("new_id"), col("b").as("old_id"), col("jaccard"))
    },
    // The persisted-index ADMIT step on the hash gate (r17): the SAME
    // rejection list as q_x_incr_neardup, computed through the
    // materialized index — candidates from the persisted band segments,
    // exact-Jaccard verify from the persisted shingle segments, standing
    // corpus text untouched (DedupIndex.admitNearDupsIndexOnly). The
    // oracle is the recompute chain, so a green row proves the
    // index-served admission IS the recompute admission on real data —
    // the lifecycle's build (census row below) AND admit steps both sit
    // on the per-round oracle gate.
    "q_x_incr_admission_idx" -> { (s, dir) =>
      graft.serve.DedupIndex.admitNearDupsIndexOnly(s, standingIndexRoot(s, dir),
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", "text")
        .select(col("a").as("new_id"), col("b").as("old_id"), col("jaccard"))
    },
    // PERSISTED standing-index census (r17): the q_x_incr_neardup standing
    // cohort's MinHash band table materialized ONCE as a versioned
    // DedupIndex segment (build → _MANIFEST publish → read back from
    // parquet), then censused per band — row count, distinct buckets, max
    // bucket occupancy (the number the hot-bucket guard watches). The
    // oracle replays the banded chain directly, so a green row pins the
    // whole persist/read round-trip byte-for-byte, not just the in-memory
    // bands. Admission ≡ recompute is DedupIndexSpec's job; this row keeps
    // the lifecycle's BUILD step on the per-round hash gate.
    "q_x_incr_index_census" -> { (s, dir) =>
      val b = graft.serve.DedupIndex.readBands(s, standingIndexRoot(s, dir))
      b.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("sz"))
        .groupBy(col("band"))
        .agg(sum(col("sz")).as("n_rows"), count(lit(1)).as("n_buckets"),
          max(col("sz")).as("max_bucket"))
        .select(col("band"), col("n_rows"), col("n_buckets"), col("max_bucket"))
    },
    // Unigram-likelihood quality bucketing (the CCNet head/middle/tail
    // move, with the LM made exact-rational so it oracles): the corpus
    // trains its own unigram model (term counts, one partial-agg-absorbed
    // shuffle), the top-16 terms become the broadcast vocabulary (tail
    // terms are OOV at probability 0 — the vocab-cutoff every real LM
    // applies, and what keeps the probe join BROADCAST at any corpus
    // size), and each doc scores sum(tf(term))/(n_tokens·total) — the
    // arithmetic-mean unigram likelihood. A mean-LOG-prob (true
    // perplexity) ranks almost identically but rides libm's ln, which is
    // not bit-specified across engines; the mean-prob form is a ratio of
    // exact longs, so the double is bit-identical and unrounded. Buckets
    // are per-language likelihood thirds via ntile(3) over a total order
    // (deterministic). Zero-token docs carry no signal and are excluded.
    // 100 TB note: the ntile sorts within one language partition; the
    // production path computes the two cut points on a sample
    // (approx_percentile), broadcasts them, and buckets with a narrow
    // map — the ntile form is the oracle-checkable twin of that plan.
    "q_x_unigram_bucket" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      val vocab = counts.orderBy(col("tf").desc, col("term").asc).limit(16)
      val total = counts.agg(sum(col("tf")).as("n_total"))
      val perDoc = toks
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("tf"), lit(0L))).as("hit_mass"))
      perDoc.crossJoin(broadcast(total))
        .withColumn("likelihood", col("hit_mass").cast("double") /
          (col("n_tokens") * col("n_total")).cast("double"))
        .withColumn("bucket_id", ntile(3).over(
          Window.partitionBy(col("lang"))
            .orderBy(col("likelihood").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("likelihood"),
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            col("bucket_id")).as("bucket"))
    },
    // Bigram-fluency LM scoring — the order-sensitive sibling of
    // q_x_unigram_bucket's bag-of-words likelihood (a token-shuffled doc
    // keeps its unigram score but collapses here — the fluency signal a
    // CCNet-style quality gate actually wants). The corpus trains its own
    // bigram model: P(w₂|w₁) = c(w₁w₂)/c(w₁·) with both counts over
    // bigram-left positions — self-trained, so every document bigram is
    // observed and no smoothing constant enters the arithmetic. Score =
    // arithmetic mean of the per-position probabilities: each p is ONE
    // exact-integer division (bit-identical both engines), and the
    // per-doc sum folds over POSITION-sorted probabilities (order pinned
    // by data, not shuffle; DuckDB's list_reduce seeds from the first
    // element, which equals the 0.0-seeded fold exactly in IEEE). A mean
    // LOG-prob (true perplexity) rides libm's ln — not bit-specified
    // across engines — so the mean-prob form is the oracled tier, the
    // BM25/unigram precedent. Scale shape: the count tables are
    // vocabulary²-bounded (not corpus), the two probability joins are
    // keyed shuffles with partial-agg Zipf absorption; the per-doc fold
    // buffer is bounded by document length.
    "q_x_bigram_fluency" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(filter(TextOps.tokens(col("text")), w => w =!= ""))
            .as(Seq("pos", "term")))
      val bg = toks
        .withColumn("nxt", lead(col("term"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .filter(col("nxt").isNotNull)
      // The trained model is materialized ONCE (lazily — plan-build stays
      // job-free for the registry census): c2 is vocab²-bounded, so the
      // checkpoint is tiny, and without it Spark re-derives the count
      // subtree per consumer (no cross-consumer CSE) — the naive form
      // planned 3 corpus scans, this plans exactly 2 (train + score).
      // c(w₁·) folds from the materialized bigram table, not the corpus.
      val c2 = bg.groupBy(col("term"), col("nxt")).agg(count(lit(1)).as("c2"))
        .localCheckpoint(eager = false)
      val c1 = c2.groupBy(col("term")).agg(sum(col("c2")).as("c1"))
      bg.join(c2, Seq("term", "nxt")).join(c1, Seq("term"))
        .select(col("doc_id"), col("pos"),
          (col("c2").cast("double") / col("c1").cast("double")).as("p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          (aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
            lit(0.0), (acc, x) => acc + x.getField("p")) /
            count(lit(1)).cast("double")).as("fluency"))
    }
  )

  /** Memoized Bloom sketch over the old cohort's prefix fingerprints —
    * built once per (dir, documents mtime), KB-sized, held like the
    * broadcast scalar it is. Sized from the parquet footer count (no count
    * job at plan-build time — the embeddingCount lesson).
    */
  private val docBlooms = new Publish.FileMemo[Option[Array[Byte]]]
  private def docBloom(s: SparkSession, dir: String): Option[Array[Byte]] =
    docBlooms(s, s"$dir/documents.parquet") { _ =>
      val nDocs = Tables.parquetRecordCount(s, s"$dir/documents.parquet")
      val fpCol = md5(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 4)))
      val old = Tables.documents(s, dir)
        .select(col("doc_id"), fpCol.as("prefix_fp"))
        .filter(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.buildKeyBloom(old, "prefix_fp",
        expectedItems = (nDocs / 3 + 1).max(1024L), fpp = 0.01)
    }

  /** Persisted standing-corpus dedup index for q_x_incr_index_census:
    * built ONCE per (dir, documents mtime) via
    * [[graft.serve.DedupIndex.build]] into the fixed root
    * `/tmp/graft_dedup_index/<SF-dir basename>`, published and reused
    * across JVMs by [[graft.serve.Publish.publishOnce]] — the registry row
    * then exercises the read-back path every run (a bench rep re-reads
    * parquet, it does not re-publish).
    */
  private val dedupIndexRoots = new Publish.FileMemo[String]
  private def standingIndexRoot(s: SparkSession, dir: String): String =
    Publish.sourcedRoot(dedupIndexRoots, s, "/tmp/graft_dedup_index", dir,
        s"$dir/documents.parquet",
        s"DedupIndex.build doc_id%3=0 text ${graft.serve.DedupIndex.Params()}") { root =>
      graft.serve.DedupIndex.build(s, root,
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text")
    }

  /** Fixed retrieval query terms shared by the BM25, coverage, and RRF
    * fusion entries.
    */
  private val QueryTerms = Seq("spark", "stream", "window")

  /** Corpus token stream (doc_id, term) shared by the retrieval family. */
  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("term")).filter(col("term") =!= "")

  /** BM25 top-10 over an arbitrary TERM-SET DataFrame (column `term`) —
    * integer-ratio-exact scoring per the documented k1=1.2 / b=0.75
    * rational form, term folds source-sorted. The term set rides in as a
    * broadcast join (never a driver collect), so a DATA-DERIVED set (the
    * PRF expansion) keeps the whole pipeline one lazy plan. Shared by the
    * standalone row, the RRF fusion, and both PRF passes.
    */
  private def bm25ScoredTop(s: SparkSession, dir: String,
      termSet: DataFrame): DataFrame = {
    val toks = docToks(s, dir)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val hits = toks.join(broadcast(termSet), Seq("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val df_ = hits.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val scored = hits
      .join(broadcast(df_), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        bm25Score(col("n_docs"), col("df"), col("tf"), col("t_tokens"),
          col("dl")).as("score"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms_hit"),
        aggregate(sort_array(collect_list(struct(col("term"), col("score")))),
          lit(0.0), (acc, x) => acc + x.getField("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** BM25 per-(term, doc) score as the single integer-ratio division
    * (k1=6/5, b=3/4 cleared to one BIGINT/BIGINT ratio — the documented
    * exact-oracle tier), GUARDED against the int64 ceiling: when either
    * side of the ratio would exceed 4·10¹⁸ (double estimates of the exact
    * products — within a few ulp of the true values, and 4·10¹⁸ leaves a
    * >2× margin under 2⁶³ ≈ 9.2·10¹⁸, so estimate error can never flip the
    * branch into a wrap), the SAME ratio is computed with every factor
    * hoisted to DOUBLE instead. Left-associated BIGINT products only grow
    * (all factors ≥ 1), so "final product fits" ⇒ every intermediate fits.
    * Below the ceiling (all test SFs: N·T ≈ 10¹⁰) the integer branch is
    * bit-exact cross-engine; above it (100 TB: N≈10¹¹ docs, T≈10¹³ tokens)
    * the double branch differs from the true ratio only in the last ulps —
    * never the silent int64 wrap non-ANSI Spark would otherwise produce
    * while DuckDB throws. Bm25GuardSpec pins both sides of the boundary
    * against BigInt-exact arithmetic.
    */
  private[graft] def bm25Score(nDocs: Column, df: Column, tf: Column,
      tTokens: Column, dl: Column): Column = {
    val numI = (lit(2) * nDocs - lit(2) * df + lit(1)) *
      lit(22) * tf * tTokens
    val denI = (lit(2) * df + lit(1)) *
      (lit(10) * tf * tTokens + lit(3) * tTokens + lit(9) * dl * nDocs)
    val nD = nDocs.cast("double"); val dfD = df.cast("double")
    val tfD = tf.cast("double"); val tD = tTokens.cast("double")
    val dlD = dl.cast("double")
    val numD = (lit(2.0) * nD - lit(2.0) * dfD + lit(1.0)) *
      lit(22.0) * tfD * tD
    val denD = (lit(2.0) * dfD + lit(1.0)) *
      (lit(10.0) * tfD * tD + lit(3.0) * tD + lit(9.0) * dlD * nD)
    when(numD < lit(4.0e18) && denD < lit(4.0e18),
      numI.cast("double") / denI.cast("double"))
      .otherwise(numD / denD)
  }

  private def baseTermSet(s: SparkSession): DataFrame = {
    import s.implicits._
    QueryTerms.toDF("term")
  }

  private def bm25Top(s: SparkSession, dir: String): DataFrame =
    bm25ScoredTop(s, dir, baseTermSet(s))

  /** Term-coverage top-10: rank by (distinct query terms hit DESC, total
    * tf DESC, doc_id) — the all-integer second ranker RRF fuses with BM25.
    */
  private[graft] def coverageTop(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("cov"), count(lit(1)).as("tf_total"))
      .orderBy(col("cov").desc, col("tf_total").desc, col("doc_id").asc)
      .limit(10)

  /** The q_x_bm25 oracle's CTE chain (through `agg`), shared with the RRF
    * fusion oracle so the two scorings can never drift apart.
    */
  private val bm25Ctes =
    """tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tok2 AS (SELECT * FROM tok WHERE term <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl),
      |hits AS (SELECT term, doc_id, count(*) AS tf FROM tok2
      |  WHERE term IN ('spark', 'stream', 'window') GROUP BY term, doc_id),
      |dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
      |scored AS (SELECT h.doc_id, h.term,
      |    CAST((2*s.n_docs - 2*d.df + 1) * 22 * h.tf * s.t_tokens AS DOUBLE) /
      |    CAST((2*d.df + 1) * (10*h.tf*s.t_tokens + 3*s.t_tokens + 9*l.dl*s.n_docs) AS DOUBLE)
      |      AS score
      |  FROM hits h JOIN dfs d USING (term) JOIN dl l ON h.doc_id = l.doc_id
      |  CROSS JOIN stats s),
      |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
      |    list_reduce(list(score ORDER BY term), (acc, x) -> acc + x) AS score
      |  FROM scored GROUP BY doc_id)""".stripMargin

  private val wCte =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws, text FROM documents)"""
  private val shingleExpr =
    "list_distinct([array_to_string(ws[i:i+2], ' ') for i in generate_series(1, len(ws)-2)])"

  /** The shared aggregate body of the ROLLUP/CUBE queries — one place for
    * the metric set and the grouping_id convention (first column = MSB).
    */
  private def groupingSetsCounts(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .select(col("lang"), col("source"), col("gid"), col("n_docs"), col("chars"))

  /** ROLLUP/CUBE oracle, parameterized on the grouping-set keyword. */
  private def groupingSetsOracle(keyword: String): String =
    s"""SELECT lang, source, CAST(2*GROUPING(lang) + GROUPING(source) AS INT) AS gid,
       |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
       |FROM documents GROUP BY $keyword(lang, source)""".stripMargin

  /** The k training rounds as a WITH-chain (shared by the train and encode
    * oracles): w0 = char-split word-frequency table, then per round a pair
    * count, the deterministic argmax m_i, and the merged word table w_i.
    */
  private def bpeRoundsCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT l, r, sum(freq) AS cnt FROM (
         |    SELECT syms[i] AS l, syms[i+1] AS r, freq
         |    FROM w${i - 1}, unnest(generate_series(1, len(syms)-1)) AS t(i))
         |  GROUP BY l, r),
         |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |w$i AS (
         |  SELECT list_reduce([[s] for s in syms],
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$i.l AND x[1] = m$i.r
         |                THEN list_slice(acc, 1, len(acc)-1) || [m$i.l || m$i.r]
         |                ELSE acc || x END) AS syms, freq
         |  FROM w${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT regexp_split_to_array(w, '') AS syms, count(*) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |$rounds""".stripMargin
  }

  /** The BPE-training oracle, generated for k rounds: w0 = the character-
    * split word-frequency table, then per round i a pair count (every
    * adjacent position, frequency-weighted), a deterministic argmax
    * (cnt DESC, left ASC, right ASC), and a merged word table via a
    * list_reduce fold over single-element lists (DuckDB 1.x list_reduce
    * seeds from the first element, so the element type must already be
    * LIST; the fold replicates the left-to-right merge scan exactly —
    * see TextOps.bpeMergePass).
    */
  private def bpeTrainOracle(k: Int): String = {
    val sel = (1 to k).map { i =>
      s"SELECT CAST($i AS INT) AS step, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundsCtes(k)}
       |$sel""".stripMargin
  }

  /** The encode oracle: replay training (shared CTEs), then re-tokenize
    * every document with the learned merges — per word the same
    * single-element-list fold as training, chained once per round. Each
    * stage LEFT-joins its merge row on TRUE rather than cross-joining:
    * if a training round exhausts (no pair left), the empty m_i must
    * pass documents through unchanged — a cross join would collapse
    * every downstream stage to zero rows while the Spark side encodes
    * with the merges learned so far.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val stages = (1 to k).map { i =>
      s"""d$i AS (SELECT doc_id,
         |  CASE WHEN m$i.l IS NULL THEN wls
         |  ELSE list_transform(wls, tl -> list_reduce([[s] for s in tl],
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$i.l AND x[1] = m$i.r
         |                THEN list_slice(acc, 1, len(acc)-1) || [m$i.l || m$i.r]
         |                ELSE acc || x END)) END AS wls
         |  FROM d${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeRoundsCtes(k)},
       |d0 AS (SELECT doc_id,
       |    list_transform(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''),
       |      w -> regexp_split_to_array(w, '')) AS wls
       |  FROM documents),
       |$stages,
       |f AS (SELECT doc_id, flatten(wls) AS toks FROM d$k)
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_bpe_tokens,
       |  md5(coalesce(array_to_string(toks, ' '), '')) AS tok_digest
       |FROM f""".stripMargin
  }

  /** Shared DuckDB CTE chain for the seeded md5+xorshift MinHash family:
    * expects a CTE `sh0(doc_id, u0 UBIGINT)` (one row per shingle/gram hash)
    * upstream, yields `sig(doc_id, sig)` — the 16-minima signature ordered by
    * seed. Seed constants come from Dedup.seedConstants (single source of
    * truth with the native kernels); wrapping `<< n` equals mask-then-shift
    * on UBIGINT (masks are 2^(64-n)-1).
    */
  private def minhashChainCtes: String = {
    val seeds = graft.operators.Dedup.seedConstants(16).zipWithIndex
      .map { case (c, i) =>
        val u = java.lang.Long.toUnsignedString(c)
        s"($i, CAST($u AS UBIGINT))"
      }.mkString(", ")
    s"""seeds(seed, c) AS (VALUES $seeds),
       |z0t AS (SELECT doc_id, seed, xor(u0, c) AS z0 FROM sh0 CROSS JOIN seeds),
       |z1t AS (SELECT doc_id, seed, xor(z0, (z0 & CAST(2251799813685247 AS UBIGINT)) * CAST(8192 AS UBIGINT)) AS z1 FROM z0t),
       |z2t AS (SELECT doc_id, seed, xor(z1, (z1 >> 7)) AS z2 FROM z1t),
       |hs AS (SELECT doc_id, seed, xor(z2, (z2 & CAST(140737488355327 AS UBIGINT)) * CAST(131072 AS UBIGINT)) AS u FROM z2t),
       |hsig AS (SELECT doc_id, seed,
       |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
       |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
       |         ELSE CAST(u AS BIGINT) END AS h
       |  FROM hs),
       |mins AS (SELECT doc_id, seed, min(h) AS mh FROM hsig GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mins GROUP BY doc_id)""".stripMargin
  }

  /** The full minhash→LSH→verify→transitive-closure chain (shared by the
    * cluster and survivor oracles): min-label flooding as a recursive CTE,
    * component id = min reachable node id — exactly the hash-min fixpoint
    * the Spark side converges to. Yields `cls(doc_id, cluster_id,
    * cluster_size)`, clustered docs only.
    */
  private def clusterChainCtes: String =
    s"""$wCte,
       |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
       |sh0 AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
       |  FROM sh),
       |$minhashChainCtes,
       |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
       |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w),
       |pr AS (SELECT a, b
       |  FROM cand JOIN shl x ON x.doc_id = a JOIN shl y ON y.doc_id = b
       |  WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
       |              len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6),
       |nodes AS (SELECT a AS node FROM pr UNION SELECT b FROM pr),
       |edges AS (SELECT a AS src, b AS dst FROM pr
       |          UNION SELECT b AS src, a AS dst FROM pr),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node),
       |cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
       |cls AS (SELECT node AS doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cl)""".stripMargin

  /** The cross-modal pair chain as CTEs ending in `mmpr(a, b, jaccard,
    * hamming)` — shared verbatim by the pair-dedup and pair-cluster
    * oracles so the conjunction can never drift between the two rows.
    */
  private def mmPairChainCtes: String = {
    val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
      s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
        s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
    s"""$wCte,
       |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
       |sh0 AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
       |  FROM sh),
       |$minhashChainCtes,
       |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
       |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
       |tcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |cells AS (SELECT doc_id,
       |    [ascii(substr(rpad(text, 70, ' '), k, 1))
       |     for k in range(1, 71)] AS cl
       |  FROM documents),
       |phx AS (SELECT doc_id, CAST($phTerms AS BIGINT) AS ph FROM cells),
       |ibands AS (SELECT doc_id, g.b AS j, (ph >> (g.b * 16)) & 65535 AS bv
       |  FROM phx, generate_series(0, 3) g(b)),
       |icand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM ibands x JOIN ibands y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |mmcand AS (SELECT t.a, t.b FROM tcand t
       |  JOIN icand i ON t.a = i.a AND t.b = i.b),
       |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w),
       |mmv AS (SELECT mmcand.a, mmcand.b,
       |    round(len(list_intersect(x.sl, y.sl))::DOUBLE /
       |          len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard,
       |    CAST(bit_count(xor(px.ph, py.ph)) AS BIGINT) AS hamming
       |  FROM mmcand JOIN shl x ON x.doc_id = mmcand.a JOIN shl y ON y.doc_id = mmcand.b
       |    JOIN phx px ON px.doc_id = mmcand.a JOIN phx py ON py.doc_id = mmcand.b),
       |mmpr AS (SELECT a, b, jaccard, hamming FROM mmv
       |  WHERE jaccard >= 0.6 AND hamming <= 6)""".stripMargin
  }

  /** The full q_x_gopher_quality oracle statement — shared verbatim by the
    * dataset-card oracle (nested as a CTE subquery) so the pass rule can
    * never drift between the per-doc row and the card rollup.
    */
  private val gopherOracleSql: String =
    """WITH toks AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, text, t,
        |    CASE WHEN len(t) < 2 THEN []
        |         ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END AS b,
        |    string_split(text, chr(10)) AS ls
        |  FROM toks
        |)
        |SELECT doc_id,
        |  len(t) AS n_tokens,
        |  round(length(regexp_replace(trim(text), '\s+', '', 'g')) / nullif(len(t), 0), 6)
        |    AS mean_word_len,
        |  round(CASE WHEN len(b) = 0 THEN 0.0
        |             ELSE (len(b) - len(list_distinct(b))) / len(b) END, 6) AS dup_bigram_frac,
        |  round(CASE WHEN len(b) = 0 THEN 0.0
        |             ELSE 2.0 * list_max(list_transform(list_distinct(b),
        |                    x -> len(list_filter(b, y -> y = x)))) / len(t) END, 6)
        |    AS top_bigram_frac,
        |  round((len(ls) - len(list_distinct(ls))) / len(ls), 6) AS dup_line_frac,
        |  round(len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
        |          OR starts_with(ltrim(l), '* ') OR starts_with(ltrim(l), '• ')))
        |        / len(ls), 6) AS bullet_line_frac,
        |  round(len(list_filter(ls, l -> ends_with(rtrim(l), '...')
        |          OR ends_with(rtrim(l), '…'))) / len(ls), 6) AS ellipsis_line_frac,
        |  round(CASE WHEN len(t) = 0 THEN 0.0
        |             ELSE len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) / len(t)
        |        END, 6) AS alpha_word_frac,
        |  round(CASE WHEN len(t) = 0 THEN 0.0
        |             ELSE ((length(text) - length(translate(text, '#', '')))
        |                   + (length(text) - length(replace(text, '...', ''))) / 3) / len(t)
        |        END, 6) AS symbol_word_ratio,
        |  CAST(len(t) BETWEEN 10 AND 100000
        |       AND mean_word_len BETWEEN 3 AND 10
        |       AND dup_line_frac <= 0.3
        |       AND top_bigram_frac <= 0.18
        |       AND alpha_word_frac >= 0.8 AS INT) AS gopher_pass
        |FROM bg""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q_x_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
        |    AS INTEGER) AS n_bpe_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_measured
        |FROM documents""".stripMargin,
    // blank-text guard mirrors Spark's tokenCount: split('') yields [''] in
    // both engines, which must count as 0 tokens, not 1
    "q_x_quality_score" ->
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n,
         |  len(list_distinct(ws))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS diversity,
         |  len(list_filter(ws, t -> t IN ('the','a')))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS stop
         |FROM w)
         |SELECT doc_id,
         |  round(least(n / 50.0, 1.0) * 0.4 + coalesce(diversity, 0.0) * 0.4 +
         |        least(coalesce(stop, 0.0) * 5.0, 1.0) * 0.2, 6) AS quality
         |FROM f""".stripMargin,
    "q_x_lang_id" ->
      s"""WITH $wCte,
         |s AS (SELECT doc_id,
         |  len(list_filter(ws, t -> t IN ('der','die','das'))) AS s_de,
         |  len(list_filter(ws, t -> t IN ('the','a','of','and'))) AS s_en,
         |  len(list_filter(ws, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(ws, t -> t IN ('le','les','une'))) AS s_fr,
         |  len(list_filter(ws, t -> t IN ('de5','shi4','le5'))) AS s_zh
         |FROM w)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM s""".stripMargin,
    // the q_x_lang_id scoring chain joined back to the truth labels,
    // then the bounded lang² cell rollup with integer row shares
    "q_x_langid_eval" ->
      s"""WITH $wCte,
         |s AS (SELECT doc_id,
         |  len(list_filter(ws, t -> t IN ('der','die','das'))) AS s_de,
         |  len(list_filter(ws, t -> t IN ('the','a','of','and'))) AS s_en,
         |  len(list_filter(ws, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(ws, t -> t IN ('le','les','une'))) AS s_fr,
         |  len(list_filter(ws, t -> t IN ('de5','shi4','le5'))) AS s_zh
         |FROM w),
         |p AS (SELECT doc_id,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM s),
         |c AS (SELECT d.lang, p.lang_pred, count(*) AS n
         |  FROM documents d JOIN p ON d.doc_id = p.doc_id GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
         |SELECT c.lang, c.lang_pred, c.n,
         |  c.n * 10000 // t.row_n AS share_bp,
         |  c.lang = c.lang_pred AS is_correct
         |FROM c JOIN t USING (lang)""".stripMargin,
    "q_x_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(regexp_split_to_array(trim(text), '\s+')), ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    "q_x_pipeline_e2e" ->
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(ws), ' ')) AS fp,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n,
         |  len(list_distinct(ws))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS diversity,
         |  len(list_filter(ws, t -> t IN ('the','a')))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS stop,
         |  len(list_filter(ws, t -> t IN ('der','die','das'))) AS s_de,
         |  len(list_filter(ws, t -> t IN ('the','a','of','and'))) AS s_en,
         |  len(list_filter(ws, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(ws, t -> t IN ('le','les','une'))) AS s_fr,
         |  len(list_filter(ws, t -> t IN ('de5','shi4','le5'))) AS s_zh
         |FROM w),
         |scored AS (SELECT doc_id, fp, n,
         |  round(least(n / 50.0, 1.0) * 0.4 + coalesce(diversity, 0.0) * 0.4 +
         |        least(coalesce(stop, 0.0) * 5.0, 1.0) * 0.2, 6) AS quality,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM f),
         |filtered AS (SELECT * FROM scored
         |  WHERE quality >= 0.5 AND lang_pred <> 'und'),
         |kept AS (SELECT DISTINCT ON (fp) fp, doc_id, n, quality, lang_pred
         |  FROM filtered ORDER BY fp, doc_id ASC)
         |SELECT lang_pred, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CAST(quality AS DECIMAL(9,6))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS avg_quality
         |FROM kept GROUP BY lang_pred ORDER BY lang_pred ASC""".stripMargin,
    "q_x_fingerprint_rolling" -> {
      // Rabin-Karp powers B^(k-1-j) mod 2^61-1 for B=1000003, k=8 — the same
      // constants the native kernel derives (NativeKernels.winnow).
      val M = (1L << 61) - 1
      val B = 1000003L
      val P = (0 until 8).map { j =>
        java.math.BigInteger.valueOf(B)
          .modPow(java.math.BigInteger.valueOf(7L - j), java.math.BigInteger.valueOf(M))
          .longValueExact()
      }
      s"""WITH b AS (SELECT doc_id,
         |    [ord(text[i]) for i in generate_series(1, length(text))] AS bv
         |  FROM documents),
         |hs AS (SELECT doc_id,
         |  CASE WHEN len(bv) < 8 THEN []
         |  ELSE [CAST((bv[i]::HUGEINT*${P(0)} + bv[i+1]::HUGEINT*${P(1)}
         |            + bv[i+2]::HUGEINT*${P(2)} + bv[i+3]::HUGEINT*${P(3)}
         |            + bv[i+4]::HUGEINT*${P(4)} + bv[i+5]::HUGEINT*${P(5)}
         |            + bv[i+6]::HUGEINT*${P(6)} + bv[i+7]::HUGEINT*${P(7)}) % $M AS BIGINT)
         |     for i in generate_series(1, len(bv)-7)] END AS hashes
         |  FROM b),
         |wn AS (SELECT doc_id,
         |  CASE WHEN len(hashes) = 0 THEN []
         |  ELSE list_sort(list_distinct([
         |    list_min(hashes[s:s+least(16, len(hashes))-1])
         |    for s in generate_series(1, len(hashes)-least(16, len(hashes))+1)])) END AS picks
         |  FROM hs)
         |SELECT doc_id, md5(array_to_string(picks, ',')) AS fp_digest,
         |  CAST(len(picks) AS INTEGER) AS n_fingerprints
         |FROM wn""".stripMargin
    },
    "q_x_dedup_exact" ->
      """SELECT lang, source, min(doc_id) AS kept_id
        |FROM documents GROUP BY lang, source""".stripMargin,
    "q_x_blocklist" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, count(DISTINCT term) AS n_blocked_terms,
        |    count(*) AS n_hits
        |  FROM tok WHERE term <> ''
        |    AND term IN ('error', 'crash', 'fail', 'panic', 'leak')
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  coalesce(h.n_blocked_terms, 0) AS n_blocked_terms,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  (coalesce(h.n_hits, 0) = 0) AS passed
        |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin,
    // first-occurrence decile per gram, then the 10-row cumulative
    "q_x_vocab_growth" ->
      s"""WITH $wCte,
         |nd AS (SELECT max(doc_id) AS mx FROM documents),
         |g AS (SELECT least(doc_id * 10 // (nd.mx + 1), 9) AS decile,
         |    unnest($shingleExpr) AS g
         |  FROM w, nd),
         |fd AS (SELECT g, min(decile) AS decile FROM g GROUP BY g),
         |per AS (SELECT decile, count(*) AS new_grams FROM fd GROUP BY decile)
         |SELECT CAST(decile AS INT) AS decile, new_grams,
         |  CAST(sum(new_grams) OVER (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS vocab_size
         |FROM per""".stripMargin,
    // the same cohort split, grid blocking (cap on the standing side
    // only), cross-cohort candidate join, and levenshtein verify
    "q_x_incr_editdup" ->
      """WITH nd AS (SELECT doc_id, text, length(text) AS ln,
        |    unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
        |  FROM documents WHERE doc_id % 7 = 0 AND length(text) >= 1),
        |od AS (SELECT doc_id, text, length(text) AS ln,
        |    unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
        |  FROM documents WHERE doc_id % 7 <> 0 AND length(text) >= 1),
        |gn AS (SELECT doc_id, ln, i,
        |    substr(text, CAST(i * 16 + 1 AS INTEGER), 16) AS c FROM nd),
        |go AS (SELECT doc_id, ln, i,
        |    substr(text, CAST(i * 16 + 1 AS INTEGER), 16) AS c FROM od),
        |coldo AS (SELECT i, c FROM go GROUP BY 1, 2 HAVING count(*) <= 1024),
        |ko AS (SELECT go.* FROM go JOIN coldo USING (i, c)),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        |  FROM gn n JOIN ko o ON n.i = o.i AND n.c = o.c
        |  WHERE abs(n.ln - o.ln) <= 16)
        |SELECT new_id, old_id, CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev
        |FROM cand JOIN documents x ON x.doc_id = new_id
        |  JOIN documents y ON y.doc_id = old_id
        |WHERE levenshtein(x.text, y.text) <= 16""".stripMargin,
    // identical (text, id) sort replayed as one rank + inequality join
    // (the engine's two-level rank and band join compute the same pairs)
    "q_x_snm_pairs" ->
      """WITH r AS (SELECT doc_id, text,
        |    row_number() OVER (ORDER BY text, doc_id) AS r FROM documents)
        |SELECT least(x.doc_id, y.doc_id) AS a,
        |  greatest(x.doc_id, y.doc_id) AS b,
        |  y.r - x.r AS rank_gap,
        |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev
        |FROM r x JOIN r y ON y.r > x.r AND y.r - x.r < 8
        |WHERE levenshtein(x.text, y.text) <= 16""".stripMargin,
    // the same prefix-filter pipeline over SIGNED 64-bit shingle hashes
    // (the engine's shingleHashes kernel ≡ the md5-prefix UBIGINT
    // reinterpreted signed — the minhash/simhash oracle identity): df
    // ranks order by (df, signed hash), candidates join on the contained
    // side's rare prefix, verify = grouped shared-hash count
    "q_x_containment" ->
      s"""WITH $wCte,
         |tk0 AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |tk1 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u FROM tk0),
         |tk2 AS (SELECT DISTINCT doc_id,
         |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
         |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |         ELSE CAST(u AS BIGINT) END AS tok
         |  FROM tk1),
         |sz AS (SELECT doc_id, count(*) AS n FROM tk2 GROUP BY 1),
         |tk AS (SELECT tk2.doc_id, sz.n, tk2.tok FROM tk2 JOIN sz USING (doc_id)),
         |dfc AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1
         |  HAVING count(*) <= 1024),
         |rk AS (SELECT t.doc_id, t.tok, t.n, row_number() OVER (
         |    PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS r
         |  FROM tk t JOIN dfc d USING (tok)),
         |pfx AS (SELECT tok, doc_id AS x, n AS nx FROM rk
         |  WHERE r <= n * 2 // 10 + 1),
         |alltok AS (SELECT t.tok, t.doc_id AS y, t.n AS ny
         |  FROM tk t JOIN dfc d USING (tok)),
         |cand AS (SELECT DISTINCT
         |    CASE WHEN nx < ny OR (nx = ny AND x < y) THEN x ELSE y END AS a,
         |    CASE WHEN nx < ny OR (nx = ny AND x < y) THEN y ELSE x END AS b
         |  FROM pfx JOIN alltok USING (tok) WHERE x <> y),
         |v AS (SELECT c.a, c.b, count(*) AS overlap
         |  FROM cand c JOIN tk2 x ON x.doc_id = c.a
         |    JOIN tk2 y ON y.doc_id = c.b AND y.tok = x.tok
         |  GROUP BY 1, 2)
         |SELECT v.a, v.b, CAST(v.overlap AS BIGINT) AS overlap,
         |  CAST(sa.n AS BIGINT) AS n_small,
         |  v.overlap * 10000 // sa.n AS containment_bp
         |FROM v JOIN sz sa ON sa.doc_id = v.a
         |WHERE v.overlap * 10 >= 8 * sa.n""".stripMargin,
    // the same grid → cold-chunk filter → candidate join → levenshtein
    // verify; DuckDB's plain levenshtein equals Spark's banded form
    // integer-for-integer on every kept (≤ 16) pair
    "q_x_edit_neardup" ->
      """WITH g AS (SELECT doc_id, length(text) AS ln, text,
        |    unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
        |  FROM documents WHERE length(text) >= 1),
        |ch AS (SELECT doc_id, ln, i,
        |    substr(text, CAST(i * 16 + 1 AS INTEGER), 16) AS c FROM g),
        |cold AS (SELECT i, c FROM ch GROUP BY 1, 2 HAVING count(*) <= 1024),
        |k AS (SELECT ch.* FROM ch JOIN cold USING (i, c)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM k x JOIN k y ON x.i = y.i AND x.c = y.c AND x.doc_id < y.doc_id
        |  WHERE abs(x.ln - y.ln) <= 16)
        |SELECT a, b, CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev
        |FROM cand JOIN documents x ON x.doc_id = a
        |  JOIN documents y ON y.doc_id = b
        |WHERE levenshtein(x.text, y.text) <= 16""".stripMargin,
    // grid candidates ∪ band candidates, one plain-levenshtein verify —
    // CTE-for-CTE the union of the q_x_edit_neardup and q_x_dedup_minhash
    // candidate replays
    "q_x_neardup_composed" ->
      s"""WITH g AS (SELECT doc_id, length(text) AS ln, text,
         |    unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
         |  FROM documents WHERE length(text) >= 1),
         |ch AS (SELECT doc_id, ln, i,
         |    substr(text, CAST(i * 16 + 1 AS INTEGER), 16) AS c FROM g),
         |cold AS (SELECT i, c FROM ch GROUP BY 1, 2 HAVING count(*) <= 1024),
         |k AS (SELECT ch.* FROM ch JOIN cold USING (i, c)),
         |gcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM k x JOIN k y ON x.i = y.i AND x.c = y.c AND x.doc_id < y.doc_id),
         |$wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |bcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |cand AS (SELECT a, b FROM gcand UNION SELECT a, b FROM bcand)
         |SELECT a, b, CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev
         |FROM cand JOIN documents x ON x.doc_id = a
         |  JOIN documents y ON y.doc_id = b
         |WHERE levenshtein(x.text, y.text) <= 16""".stripMargin,
    // the signature chain replayed, agreement counted positionally, the
    // exact-jaccard verify expression from q_x_dedup_minhash alongside
    "q_x_minhash_est" ->
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |est AS (SELECT cand.a, cand.b,
         |    CAST(len(list_filter(generate_series(1, 16),
         |      i -> sx.sig[i] = sy.sig[i])) AS BIGINT) AS est_matches
         |  FROM cand JOIN sig sx ON sx.doc_id = cand.a
         |    JOIN sig sy ON sy.doc_id = cand.b),
         |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w)
         |SELECT est.a, est.b, est.est_matches,
         |  est.est_matches * 10000 // 16 AS est_jaccard_bp,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard
         |FROM est JOIN shl x ON x.doc_id = est.a JOIN shl y ON y.doc_id = est.b""".stripMargin,
    // the sample replayed via the split-hash idiom (domain "blk:"), truth
    // as the plain quadratic join the sample makes affordable, both
    // candidate chains re-sourced from the sample, counts per blocker
    "q_x_blocking_report" ->
      s"""WITH sdh AS (SELECT doc_id, text,
         |    CAST(concat('0x', substr(md5(concat('blk:', CAST(doc_id AS VARCHAR))), 1, 16))
         |      AS UBIGINT) AS u
         |  FROM documents),
         |eff AS (SELECT least(7000, CASE WHEN count(*) <= 4000 THEN 10000
         |    ELSE greatest(1, CAST(4000 * 10000 // count(*) AS INTEGER)) END) AS bp
         |  FROM documents),
         |sd AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
         |      THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |      ELSE CAST(u AS BIGINT) END AS hsig FROM sdh)
         |  WHERE ((hsig % 10000) + 10000) % 10000 < (SELECT bp FROM eff)),
         |truth AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM sd x JOIN sd y ON x.doc_id < y.doc_id
         |  WHERE abs(length(x.text) - length(y.text)) <= 16
         |    AND levenshtein(x.text, y.text) <= 16),
         |g AS (SELECT doc_id, text,
         |    unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
         |  FROM sd WHERE length(text) >= 1),
         |ch AS (SELECT doc_id, i,
         |    substr(text, CAST(i * 16 + 1 AS INTEGER), 16) AS c FROM g),
         |cold AS (SELECT i, c FROM ch GROUP BY 1, 2 HAVING count(*) <= 1024),
         |k AS (SELECT ch.* FROM ch JOIN cold USING (i, c)),
         |gcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM k x JOIN k y ON x.i = y.i AND x.c = y.c AND x.doc_id < y.doc_id),
         |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws, text FROM sd),
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |bcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |ccand AS (SELECT a, b FROM gcand UNION SELECT a, b FROM bcand),
         |nd AS (SELECT count(*) AS n_docs FROM sd),
         |nt AS (SELECT count(*) AS n_true FROM truth),
         |gq AS (SELECT count(*) AS n_cand, count(t.a) AS n_found
         |  FROM gcand c LEFT JOIN truth t ON c.a = t.a AND c.b = t.b),
         |bq AS (SELECT count(*) AS n_cand, count(t.a) AS n_found
         |  FROM bcand c LEFT JOIN truth t ON c.a = t.a AND c.b = t.b),
         |cq AS (SELECT count(*) AS n_cand, count(t.a) AS n_found
         |  FROM ccand c LEFT JOIN truth t ON c.a = t.a AND c.b = t.b),
         |sc AS (SELECT n_docs, n_docs * (n_docs - 1) // 2 AS total_pairs, n_true
         |  FROM nd, nt)
         |SELECT blocker, n_docs, total_pairs, n_true, n_cand, n_found,
         |  CASE WHEN n_true > 0 THEN n_found * 10000 // n_true
         |       ELSE CAST(10000 AS BIGINT) END AS completeness_bp,
         |  CASE WHEN total_pairs > 0 THEN (total_pairs - n_cand) * 10000 // total_pairs
         |       ELSE CAST(10000 AS BIGINT) END AS reduction_bp
         |FROM (
         |  SELECT 'grid' AS blocker, * FROM gq, sc
         |  UNION ALL SELECT 'minhash_bands', * FROM bq, sc
         |  UNION ALL SELECT 'composed', * FROM cq, sc)""".stripMargin,
    "q_x_dedup_minhash" ->
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w)
         |SELECT a, b,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard
         |FROM cand JOIN shl x ON x.doc_id = a JOIN shl y ON y.doc_id = b
         |WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |            len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6""".stripMargin,
    // the index-served admission replays as the RECOMPUTE chain — same SQL
    // as q_x_incr_neardup; equality proves the persisted bands+shingles
    // serve bit-identical admission
    "q_x_incr_admission_idx" ->
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands n JOIN bands o ON n.j = o.j AND n.bh = o.bh
         |  WHERE n.doc_id % 3 <> 0 AND o.doc_id % 3 = 0),
         |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w)
         |SELECT new_id, old_id,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard
         |FROM cand JOIN shl x ON x.doc_id = new_id JOIN shl y ON y.doc_id = old_id
         |WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |            len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6""".stripMargin,
    // the persisted index build replayed: same banded chain as
    // q_x_dedup_minhash restricted to the standing cohort (doc_id % 3 = 0),
    // censused per band — the Spark side reads the parquet segments back,
    // so equality pins the persist/read round-trip
    "q_x_incr_index_census" ->
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)
         |  WHERE doc_id % 3 = 0),
         |sb AS (SELECT j, bh, count(*) AS sz FROM bands GROUP BY 1, 2)
         |SELECT CAST(j AS INTEGER) AS band, CAST(sum(sz) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_buckets, CAST(max(sz) AS BIGINT) AS max_bucket
         |FROM sb GROUP BY j""".stripMargin,
    // gate + dedup in ONE statement: the alignment CTEs (planted image
    // source) compute the aligned doc set, then the conjunction pair chain
    // runs restricted to aligned∧aligned pairs (band signatures are
    // doc-local, so filtering records before banding ≡ filtering pairs —
    // the Spark side semi-joins the records, the oracle filters the pairs)
    "q_x_mm_gated_dedup" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |tcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |cells AS (SELECT doc_id,
         |    [ascii(substr(rpad(CASE WHEN doc_id % 11 = 7 THEN reverse(text)
         |                            ELSE text END, 70, ' '), k, 1))
         |     for k in range(1, 71)] AS cl
         |  FROM documents),
         |phx AS (SELECT doc_id, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |ibands AS (SELECT doc_id, g.b AS j, (ph >> (g.b * 16)) & 65535 AS bv
         |  FROM phx, generate_series(0, 3) g(b)),
         |icand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM ibands x JOIN ibands y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |tn AS (SELECT a AS doc_id, b AS nbr FROM tcand
         |       UNION ALL SELECT b, a FROM tcand),
         |inb AS (SELECT a AS doc_id, b AS nbr FROM icand
         |        UNION ALL SELECT b, a FROM icand),
         |nt AS (SELECT doc_id, count(*) AS n FROM tn GROUP BY 1),
         |ni AS (SELECT doc_id, count(*) AS n FROM inb GROUP BY 1),
         |nc AS (SELECT tn.doc_id, count(*) AS n
         |  FROM tn JOIN inb ON tn.doc_id = inb.doc_id AND tn.nbr = inb.nbr
         |  GROUP BY 1),
         |alg AS (SELECT d.doc_id, coalesce(nt.n, 0) AS t, coalesce(ni.n, 0) AS i,
         |    coalesce(nc.n, 0) AS c
         |  FROM documents d
         |  LEFT JOIN nt ON nt.doc_id = d.doc_id
         |  LEFT JOIN ni ON ni.doc_id = d.doc_id
         |  LEFT JOIN nc ON nc.doc_id = d.doc_id),
         |alset AS (SELECT doc_id FROM alg
         |  WHERE (t + i = 0) OR round(c::DOUBLE / (t + i - c)::DOUBLE, 3) >= 0.5),
         |gcand AS (SELECT tc.a, tc.b FROM tcand tc
         |  JOIN icand ic ON tc.a = ic.a AND tc.b = ic.b
         |  JOIN alset ax ON ax.doc_id = tc.a
         |  JOIN alset ay ON ay.doc_id = tc.b),
         |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w)
         |SELECT gcand.a, gcand.b,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard,
         |  CAST(bit_count(xor(px.ph, py.ph)) AS BIGINT) AS hamming
         |FROM gcand JOIN shl x ON x.doc_id = gcand.a JOIN shl y ON y.doc_id = gcand.b
         |  JOIN phx px ON px.doc_id = gcand.a JOIN phx py ON py.doc_id = gcand.b
         |WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |            len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6
         |  AND bit_count(xor(px.ph, py.ph)) <= 6""".stripMargin
    },
    // both banded chains replayed in full — the shared MinHash CTEs for
    // the caption side, the 70-cell dHash for the image side — then the
    // candidate INTERSECT and both exact verifies
    "q_x_mm_pair_dedup" ->
      s"""WITH $mmPairChainCtes
         |SELECT a, b, jaccard, hamming FROM mmpr""".stripMargin,
    // the shared mm chain's band tables re-joined NEW→OLD only (cohorts
    // by doc_id % 3), conjunction, then the same two exact verifies
    "q_x_mm_incr_admission" ->
      s"""WITH $mmPairChainCtes,
         |tc AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands n JOIN bands o ON n.j = o.j AND n.bh = o.bh
         |  WHERE n.doc_id % 3 <> 0 AND o.doc_id % 3 = 0),
         |ic AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM ibands n JOIN ibands o ON n.j = o.j AND n.bv = o.bv
         |  WHERE n.doc_id % 3 <> 0 AND o.doc_id % 3 = 0),
         |cc AS (SELECT t.new_id, t.old_id FROM tc t
         |  JOIN ic i ON t.new_id = i.new_id AND t.old_id = i.old_id)
         |SELECT cc.new_id, cc.old_id,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard,
         |  CAST(bit_count(xor(px.ph, py.ph)) AS BIGINT) AS hamming
         |FROM cc JOIN shl x ON x.doc_id = cc.new_id JOIN shl y ON y.doc_id = cc.old_id
         |  JOIN phx px ON px.doc_id = cc.new_id JOIN phx py ON py.doc_id = cc.old_id
         |WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |            len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6
         |  AND bit_count(xor(px.ph, py.ph)) <= 6""".stripMargin,
    // both band chains replayed with the PLANTED image source (reversed
    // caption for doc_id % 11 = 7), then the neighbor-set Jaccard per doc
    "q_x_mm_alignment" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |tcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |cells AS (SELECT doc_id,
         |    [ascii(substr(rpad(CASE WHEN doc_id % 11 = 7 THEN reverse(text)
         |                            ELSE text END, 70, ' '), k, 1))
         |     for k in range(1, 71)] AS cl
         |  FROM documents),
         |phx AS (SELECT doc_id, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |ibands AS (SELECT doc_id, g.b AS j, (ph >> (g.b * 16)) & 65535 AS bv
         |  FROM phx, generate_series(0, 3) g(b)),
         |icand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM ibands x JOIN ibands y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |tn AS (SELECT a AS doc_id, b AS nbr FROM tcand
         |       UNION ALL SELECT b, a FROM tcand),
         |inb AS (SELECT a AS doc_id, b AS nbr FROM icand
         |        UNION ALL SELECT b, a FROM icand),
         |nt AS (SELECT doc_id, count(*) AS n FROM tn GROUP BY 1),
         |ni AS (SELECT doc_id, count(*) AS n FROM inb GROUP BY 1),
         |nc AS (SELECT tn.doc_id, count(*) AS n
         |  FROM tn JOIN inb ON tn.doc_id = inb.doc_id AND tn.nbr = inb.nbr
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nt.n, 0) AS BIGINT) AS n_text_nbrs,
         |  CAST(coalesce(ni.n, 0) AS BIGINT) AS n_img_nbrs,
         |  CAST(coalesce(nc.n, 0) AS BIGINT) AS n_common,
         |  CASE WHEN coalesce(nt.n, 0) + coalesce(ni.n, 0) = 0 THEN 1.0
         |       ELSE round(coalesce(nc.n, 0)::DOUBLE /
         |         (coalesce(nt.n, 0) + coalesce(ni.n, 0) - coalesce(nc.n, 0))::DOUBLE, 3)
         |  END AS alignment,
         |  (CASE WHEN coalesce(nt.n, 0) + coalesce(ni.n, 0) = 0 THEN 1.0
         |        ELSE round(coalesce(nc.n, 0)::DOUBLE /
         |          (coalesce(nt.n, 0) + coalesce(ni.n, 0) - coalesce(nc.n, 0))::DOUBLE, 3)
         |  END) >= 0.5 AS is_aligned
         |FROM documents d
         |LEFT JOIN nt ON nt.doc_id = d.doc_id
         |LEFT JOIN ni ON ni.doc_id = d.doc_id
         |LEFT JOIN nc ON nc.doc_id = d.doc_id""".stripMargin
    },
    // the same band chains restricted NEW→OLD (doc_id % 3 split): neighbor
    // edges are directed incoming→standing, no symmetrization, scored per
    // incoming record only
    "q_x_mm_alignment_incr" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |tn AS (SELECT DISTINCT x.doc_id, y.doc_id AS nbr
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh
         |  WHERE x.doc_id % 3 <> 0 AND y.doc_id % 3 = 0),
         |cells AS (SELECT doc_id,
         |    [ascii(substr(rpad(CASE WHEN doc_id % 11 = 7 THEN reverse(text)
         |                            ELSE text END, 70, ' '), k, 1))
         |     for k in range(1, 71)] AS cl
         |  FROM documents),
         |phx AS (SELECT doc_id, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |ibands AS (SELECT doc_id, g.b AS j, (ph >> (g.b * 16)) & 65535 AS bv
         |  FROM phx, generate_series(0, 3) g(b)),
         |inb AS (SELECT DISTINCT x.doc_id, y.doc_id AS nbr
         |  FROM ibands x JOIN ibands y ON x.j = y.j AND x.bv = y.bv
         |  WHERE x.doc_id % 3 <> 0 AND y.doc_id % 3 = 0),
         |nt AS (SELECT doc_id, count(*) AS n FROM tn GROUP BY 1),
         |ni AS (SELECT doc_id, count(*) AS n FROM inb GROUP BY 1),
         |nc AS (SELECT tn.doc_id, count(*) AS n
         |  FROM tn JOIN inb ON tn.doc_id = inb.doc_id AND tn.nbr = inb.nbr
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(nt.n, 0) AS BIGINT) AS n_text_nbrs,
         |  CAST(coalesce(ni.n, 0) AS BIGINT) AS n_img_nbrs,
         |  CAST(coalesce(nc.n, 0) AS BIGINT) AS n_common,
         |  CASE WHEN coalesce(nt.n, 0) + coalesce(ni.n, 0) = 0 THEN 1.0
         |       ELSE round(coalesce(nc.n, 0)::DOUBLE /
         |         (coalesce(nt.n, 0) + coalesce(ni.n, 0) - coalesce(nc.n, 0))::DOUBLE, 3)
         |  END AS alignment,
         |  (CASE WHEN coalesce(nt.n, 0) + coalesce(ni.n, 0) = 0 THEN 1.0
         |        ELSE round(coalesce(nc.n, 0)::DOUBLE /
         |          (coalesce(nt.n, 0) + coalesce(ni.n, 0) - coalesce(nc.n, 0))::DOUBLE, 3)
         |  END) >= 0.5 AS is_aligned
         |FROM documents d
         |LEFT JOIN nt ON nt.doc_id = d.doc_id
         |LEFT JOIN ni ON ni.doc_id = d.doc_id
         |LEFT JOIN nc ON nc.doc_id = d.doc_id
         |WHERE d.doc_id % 3 <> 0""".stripMargin
    },
    // the same cross-modal pair chain closed transitively (the
    // q_x_dedup_clusters recursive-CTE idiom over the mm pair graph)
    "q_x_mm_pair_clusters" ->
      s"""WITH RECURSIVE $mmPairChainCtes,
         |nodes AS (SELECT a AS node FROM mmpr UNION SELECT b FROM mmpr),
         |edges AS (SELECT a AS src, b AS dst FROM mmpr
         |          UNION SELECT b AS src, a AS dst FROM mmpr),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node),
         |cl AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
         |cls AS (SELECT node AS doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cl)
         |SELECT doc_id, cluster_id, cluster_size FROM cls""".stripMargin,
    "q_x_simhash_sketch" ->
      s"""WITH $wCte,
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS u
         |  FROM tok),
         |bits AS (SELECT doc_id, i,
         |    sum(CASE WHEN ((u >> i) & 1) = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN generate_series(0, 63) t(i) GROUP BY 1, 2),
         |sk AS (SELECT doc_id,
         |    sum(CASE WHEN s > 0 THEN CAST(CAST(1 AS UBIGINT) << i AS HUGEINT) ELSE 0 END) AS su
         |  FROM bits GROUP BY doc_id)
         |SELECT doc_id,
         |  CASE WHEN su >= 9223372036854775808
         |       THEN CAST(su - 18446744073709551616 AS BIGINT)
         |       ELSE CAST(su AS BIGINT) END AS simhash
         |FROM sk""".stripMargin,
    "q_x_dedup_simhash" ->
      s"""WITH $wCte,
         |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS u
         |  FROM tok),
         |bits AS (SELECT doc_id, i,
         |    sum(CASE WHEN ((u >> i) & 1) = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN generate_series(0, 63) t(i) GROUP BY 1, 2),
         |sk AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN s > 0 THEN CAST(CAST(1 AS UBIGINT) << i AS HUGEINT) ELSE 0 END) AS UBIGINT) AS su
         |  FROM bits GROUP BY doc_id),
         |bands AS (SELECT doc_id, su, j, CAST((su >> (16*j)) & 65535 AS BIGINT) AS bv
         |  FROM sk CROSS JOIN generate_series(0, 3) t(j)),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.su AS sua, y.su AS sub
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sua, sub)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sua, sub)) <= 20""".stripMargin,
    // Full banded-contract replay: gram hashes → shared MinHash chain → 8
    // bands × 2 rows → candidates → exact string-level gram Jaccard. Grams
    // are codepoint substrings in both engines; duplicate grams feed the
    // hash chain redundantly on both sides (min-insensitive).
    "q_x_dedup_ngram" ->
      s"""WITH g AS (SELECT doc_id,
         |    list_distinct([substr(text, i, 5) for i in generate_series(1, length(text)-4)]) AS gs
         |  FROM documents),
         |gr AS (SELECT doc_id, unnest(gs) AS gm FROM g),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(gm), 1, 16)) AS UBIGINT) AS u0
         |  FROM gr),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id)
         |SELECT a, b,
         |  round(len(list_intersect(x.gs, y.gs))::DOUBLE /
         |        len(list_distinct(list_concat(x.gs, y.gs)))::DOUBLE, 3) AS ngram_jaccard
         |FROM cand JOIN g x ON x.doc_id = a JOIN g y ON y.doc_id = b
         |WHERE round(len(list_intersect(x.gs, y.gs))::DOUBLE /
         |            len(list_distinct(list_concat(x.gs, y.gs)))::DOUBLE, 3) >= 0.5""".stripMargin,
    // the minhash pair pipeline (same CTEs as q_x_dedup_minhash) closed
    // transitively: min-label flooding as a recursive CTE, component id =
    // min reachable node id — exactly the hash-min fixpoint the Spark side
    // converges to
    "q_x_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterChainCtes
         |SELECT doc_id, cluster_id, cluster_size FROM cls""".stripMargin,
    // the same transitive closure, resolved to the post-dedup corpus: the
    // hash-min representative (cluster_id = min member id) survives for
    // each component, every unclustered doc survives as its own singleton
    "q_x_dedup_survivors" ->
      s"""WITH RECURSIVE $clusterChainCtes
         |SELECT d.doc_id, coalesce(c.cluster_size, 1) AS n_merged
         |FROM documents d LEFT JOIN cls c ON d.doc_id = c.doc_id
         |WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id""".stripMargin,
    // the same closure, merged to golden records: longest-text argmax and
    // majority-lang vote replayed as rank-1 windows with the Spark tie
    // rules (length DESC, id ASC; count DESC, value ASC)
    "q_x_er_golden" ->
      s"""WITH RECURSIVE $clusterChainCtes,
         |ke AS (SELECT d.doc_id, d.text, d.lang, d.source,
         |    coalesce(c.cluster_id, d.doc_id) AS entity_id
         |  FROM documents d LEFT JOIN cls c ON d.doc_id = c.doc_id),
         |lr AS (SELECT entity_id, text,
         |    row_number() OVER (PARTITION BY entity_id
         |      ORDER BY length(text) DESC, doc_id ASC) AS rn FROM ke),
         |mv AS (SELECT entity_id, lang, count(*) AS c FROM ke GROUP BY 1, 2),
         |mj AS (SELECT entity_id, lang,
         |    row_number() OVER (PARTITION BY entity_id
         |      ORDER BY c DESC, lang ASC) AS rn FROM mv),
         |st AS (SELECT entity_id, count(*) AS n_members,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
         |  FROM ke GROUP BY 1)
         |SELECT st.entity_id, st.n_members, lr.text, mj.lang,
         |  st.n_sources, st.sources
         |FROM st JOIN lr ON lr.entity_id = st.entity_id AND lr.rn = 1
         |  JOIN mj ON mj.entity_id = st.entity_id AND mj.rn = 1""".stripMargin,
    // the same transitive closure feeding the leakage-safe split: split
    // key = cluster id when clustered else doc id, one md5 draw per key
    "q_x_split_safe" ->
      s"""WITH RECURSIVE $clusterChainCtes,
         |k AS (SELECT d.doc_id, d.n_chars, c.cluster_id,
         |    coalesce(c.cluster_id, d.doc_id) AS skey
         |  FROM documents d LEFT JOIN cls c ON d.doc_id = c.doc_id),
         |kh AS (SELECT *,
         |    CAST(concat('0x', substr(md5(concat('split:', CAST(skey AS VARCHAR))), 1, 16))
         |      AS UBIGINT) AS u
         |  FROM k),
         |khh AS (SELECT *, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
         |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |       ELSE CAST(u AS BIGINT) END AS hsig FROM kh),
         |kb AS (SELECT *, ((hsig % 10000) + 10000) % 10000 AS bk FROM khh)
         |SELECT CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_tot,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered
         |FROM kb GROUP BY 1""".stripMargin,

    // Gopher quality signals: same staged token/bigram/line arrays, ratios
    // of per-row ints rounded at 6dp (lateral aliases feed gopher_pass).
    "q_x_gopher_quality" -> gopherOracleSql,
    // the card replays its three ingredients verbatim: the full gopher
    // statement nested as a CTE subquery, the recursive cluster closure,
    // and the split-hash arithmetic — then one rollup
    "q_x_dataset_card" ->
      s"""WITH RECURSIVE $clusterChainCtes,
         |gq AS ($gopherOracleSql),
         |sph AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 16))
         |      AS UBIGINT) AS u
         |  FROM documents),
         |sp AS (SELECT doc_id,
         |    ((CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
         |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |       ELSE CAST(u AS BIGINT) END % 10000) + 10000) % 10000 AS bk
         |  FROM sph),
         |base AS (SELECT d.doc_id, d.lang, d.source, d.n_chars,
         |    CASE WHEN length(trim(d.text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS n_toks,
         |    CASE WHEN sp.bk < 8000 THEN 'train' WHEN sp.bk < 9000 THEN 'val'
         |         ELSE 'test' END AS split,
         |    gq.gopher_pass AS gpass,
         |    CASE WHEN cls.doc_id IS NULL THEN 0 ELSE 1 END AS dup
         |  FROM documents d
         |  JOIN gq ON gq.doc_id = d.doc_id
         |  JOIN sp ON sp.doc_id = d.doc_id
         |  LEFT JOIN cls ON cls.doc_id = d.doc_id)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens_total,
         |  CAST(sum(gpass) AS BIGINT) AS n_gopher_pass,
         |  CAST(sum(dup) AS BIGINT) AS n_dup_members,
         |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         |  CAST(sum(gpass) AS BIGINT) * 10000 // count(*) AS gopher_pass_bp,
         |  CAST(sum(dup) AS BIGINT) * 10000 // count(*) AS dup_bp
         |FROM base GROUP BY 1, 2""".stripMargin,

    "q_x_term_freq" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), f AS (
        |  SELECT term, count(*) AS term_count, count(DISTINCT doc_id) AS doc_freq
        |  FROM t WHERE term <> '' GROUP BY term)
        |SELECT term, term_count, doc_freq FROM f
        |ORDER BY term_count DESC, term ASC LIMIT 50""".stripMargin,

    // identical integer surprisal proxy: per-occurrence 10⁸ // tf, doc
    // mean via integer //; DuckDB's HUGEINT sums cast back to BIGINT so
    // the arrow schemas agree (Spark sums longs as longs)
    "q_x_rarity_score" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), t2 AS (SELECT * FROM t WHERE term <> ''),
        |f AS (SELECT term, count(*) AS tf FROM t2 GROUP BY term)
        |SELECT t2.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(CAST(sum(100000000 // f.tf) AS BIGINT) // count(*) AS BIGINT)
        |    AS rarity_score,
        |  CAST(sum(CASE WHEN f.tf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |FROM t2 JOIN f USING (term)
        |GROUP BY t2.doc_id""".stripMargin,

    // the same bigram table from array windows (ws[i], ws[i+1]); w1
    // fanout counts summed per context, top-20 contexts, top-3
    // continuations per context under the identical (count DESC, w2 ASC)
    // tie order; conditional probability as integer basis points
    // the same two md5 hash domains (index mod 1024, sign bit), signed
    // via the cms bucket idiom; zero-sum cells dropped by HAVING
    "q_x_feature_hash" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |h AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('fh:', term)), 1, 16))
        |      AS UBIGINT) AS u,
        |    CAST(concat('0x', substr(md5(concat('fhs:', term)), 1, 16))
        |      AS UBIGINT) AS us
        |  FROM tt),
        |s AS (SELECT doc_id,
        |    ((CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |           THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |           ELSE CAST(u AS BIGINT) END % 1024) + 1024) % 1024 AS idx,
        |    CASE WHEN ((CASE WHEN us >= CAST(9223372036854775808 AS UBIGINT)
        |           THEN CAST(CAST(us AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |           ELSE CAST(us AS BIGINT) END % 2) + 2) % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM h)
        |SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS val
        |FROM s GROUP BY 1, 2 HAVING sum(sgn) <> 0""".stripMargin,
    // same token stream, bigram build, support cut, and integer lift
    "q_x_collocations" ->
      """WITH tok AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |t AS (SELECT unnest(ws) AS w FROM tok),
        |tt AS (SELECT w FROM t WHERE w <> ''),
        |n AS (SELECT count(*) AS n_tokens FROM tt),
        |c1 AS (SELECT w, count(*) AS c FROM tt GROUP BY 1),
        |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i
        |        FROM tok WHERE len(ws) >= 2)),
        |c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT c2.w1, c2.w2, c2.c12, u1.c AS c1, u2.c AS c2,
        |  c2.c12 * 10000 * n.n_tokens // (u1.c * u2.c) AS lift_bp
        |FROM c2 JOIN c1 u1 ON u1.w = c2.w1 JOIN c1 u2 ON u2.w = c2.w2
        |CROSS JOIN n
        |ORDER BY lift_bp DESC, c2.w1 ASC, c2.w2 ASC LIMIT 20""".stripMargin,
    "q_x_bigram_lm" ->
      """WITH tok AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i
        |        FROM tok WHERE len(ws) >= 2)),
        |c2 AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(pair_count) AS BIGINT) AS w1_count
        |  FROM c2 GROUP BY 1),
        |top AS (SELECT * FROM c1 ORDER BY w1_count DESC, w1 ASC LIMIT 20),
        |rk AS (SELECT c2.w1, top.w1_count, c2.w2, c2.pair_count,
        |    row_number() OVER (PARTITION BY c2.w1
        |      ORDER BY c2.pair_count DESC, c2.w2 ASC) AS rank
        |  FROM c2 JOIN top USING (w1))
        |SELECT w1, w1_count, CAST(rank AS INT) AS rank, w2, pair_count,
        |  pair_count * 10000 // w1_count AS cont_bp
        |FROM rk WHERE rank <= 3""".stripMargin,

    "q_x_tfidf_top" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tc AS (SELECT doc_id, term, count(*) AS tc FROM t WHERE term <> '' GROUP BY 1, 2),
        |tot AS (SELECT doc_id, term, tc,
        |          sum(tc) OVER (PARTITION BY doc_id) AS n_tokens FROM tc),
        |df AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tot.doc_id, tot.term,
        |        round((tc * n_docs)::DOUBLE / (n_tokens * df)::DOUBLE, 6) AS score
        |      FROM tot JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, term ASC) AS rank
        |      FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, score
        |FROM r WHERE rank <= 3""".stripMargin,
    // the corpus_full stage rules verbatim, emitted as per-doc verdicts
    // with NULL for unreached stages and the first failing stage name
    "q_x_gate_provenance" ->
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(ws), ' ')) AS fp,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n,
         |  len(list_distinct(ws))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS diversity,
         |  len(list_filter(ws, t -> t IN ('the','a')))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS stop,
         |  len(list_filter(ws, t -> t IN ('der','die','das'))) AS s_de,
         |  len(list_filter(ws, t -> t IN ('the','a','of','and'))) AS s_en,
         |  len(list_filter(ws, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(ws, t -> t IN ('le','les','une'))) AS s_fr,
         |  len(list_filter(ws, t -> t IN ('de5','shi4','le5'))) AS s_zh
         |FROM w),
         |scored AS (SELECT doc_id, fp,
         |  round(least(n / 50.0, 1.0) * 0.4 + coalesce(diversity, 0.0) * 0.4 +
         |        least(coalesce(stop, 0.0) * 5.0, 1.0) * 0.2, 6) AS quality,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM f),
         |v AS (SELECT doc_id, fp, (quality >= 0.5) AS q_pass,
         |    (lang_pred <> 'und') AS lang_pass, (doc_id % 7 = 3) AS is_eval
         |  FROM scored),
         |surv AS (SELECT * FROM v WHERE q_pass AND lang_pass),
         |keep AS (SELECT doc_id, (row_number() OVER (
         |    PARTITION BY fp ORDER BY doc_id ASC) = 1) AS dedup_keep FROM surv),
         |corpus0 AS (SELECT s.doc_id FROM surv s JOIN keep k USING (doc_id)
         |  WHERE k.dedup_keep AND NOT s.is_eval),
         |grams AS (SELECT doc_id,
         |    list_distinct(list_transform(range(len(ws) - 7),
         |      i -> array_to_string(ws[i+1:i+8], ' '))) AS gs
         |  FROM w),
         |bench AS (SELECT DISTINCT
         |      CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
         |    FROM (SELECT unnest(gs) AS gram FROM grams WHERE doc_id % 7 = 3)),
         |flagged AS (SELECT DISTINCT c.doc_id FROM (
         |    SELECT doc_id,
         |      CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
         |    FROM (SELECT doc_id, unnest(gs) AS gram FROM grams
         |          WHERE doc_id IN (SELECT doc_id FROM corpus0))) c
         |  JOIN bench b ON c.u = b.u)
         |SELECT v.doc_id, v.q_pass, v.lang_pass, v.is_eval, k.dedup_keep,
         |  CASE WHEN v.doc_id IN (SELECT doc_id FROM corpus0)
         |       THEN (v.doc_id IN (SELECT doc_id FROM flagged))
         |       ELSE NULL END AS contaminated,
         |  CASE WHEN NOT v.q_pass THEN 'quality'
         |       WHEN NOT v.lang_pass THEN 'lang'
         |       WHEN NOT k.dedup_keep THEN 'duplicate'
         |       WHEN v.is_eval THEN 'eval_holdout'
         |       WHEN v.doc_id IN (SELECT doc_id FROM flagged) THEN 'contaminated'
         |       ELSE 'none' END AS first_fail,
         |  (CASE WHEN NOT v.q_pass THEN 'quality'
         |       WHEN NOT v.lang_pass THEN 'lang'
         |       WHEN NOT k.dedup_keep THEN 'duplicate'
         |       WHEN v.is_eval THEN 'eval_holdout'
         |       WHEN v.doc_id IN (SELECT doc_id FROM flagged) THEN 'contaminated'
         |       ELSE 'none' END = 'none') AS admitted
         |FROM v LEFT JOIN keep k USING (doc_id)""".stripMargin,
    "q_x_corpus_full" ->
      s"""WITH $wCte,
         |f AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(ws), ' ')) AS fp,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n,
         |  len(list_distinct(ws))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS diversity,
         |  len(list_filter(ws, t -> t IN ('the','a')))::DOUBLE
         |    / nullif(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END, 0) AS stop,
         |  len(list_filter(ws, t -> t IN ('der','die','das'))) AS s_de,
         |  len(list_filter(ws, t -> t IN ('the','a','of','and'))) AS s_en,
         |  len(list_filter(ws, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(ws, t -> t IN ('le','les','une'))) AS s_fr,
         |  len(list_filter(ws, t -> t IN ('de5','shi4','le5'))) AS s_zh
         |FROM w),
         |scored AS (SELECT doc_id, fp, n,
         |  round(least(n / 50.0, 1.0) * 0.4 + coalesce(diversity, 0.0) * 0.4 +
         |        least(coalesce(stop, 0.0) * 5.0, 1.0) * 0.2, 6) AS quality,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM f),
         |filtered AS (SELECT * FROM scored
         |  WHERE quality >= 0.5 AND lang_pred <> 'und'),
         |kept AS (SELECT DISTINCT ON (fp) fp, doc_id, n, quality, lang_pred
         |  FROM filtered ORDER BY fp, doc_id ASC),
         |grams AS (SELECT doc_id,
         |    list_distinct(list_transform(range(len(ws) - 7),
         |      i -> array_to_string(ws[i+1:i+8], ' '))) AS gs
         |  FROM w),
         |bench AS (SELECT u, min(doc_id) AS bid FROM (
         |    SELECT doc_id,
         |      CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
         |    FROM (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 7 = 3))
         |  GROUP BY u),
         |corpus0 AS (SELECT * FROM kept WHERE doc_id % 7 <> 3),
         |flagged AS (SELECT DISTINCT c.doc_id FROM (
         |    SELECT doc_id,
         |      CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
         |    FROM (SELECT doc_id, unnest(gs) AS gram FROM grams
         |          WHERE doc_id IN (SELECT doc_id FROM corpus0))) c
         |  JOIN bench b ON c.u = b.u),
         |clean AS (SELECT * FROM corpus0
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |hh AS (SELECT doc_id,
         |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
         |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
         |         ELSE CAST(u AS BIGINT) END AS hsig FROM (
         |    SELECT doc_id,
         |      CAST(concat('0x', substr(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 16))
         |        AS UBIGINT) AS u
         |    FROM clean)),
         |sampled AS (SELECT c.* FROM clean c JOIN hh ON c.doc_id = hh.doc_id
         |  WHERE ((hh.hsig % 10000) + 10000) % 10000 <
         |    CASE c.lang_pred WHEN 'en' THEN 8000 WHEN 'es' THEN 5000
         |      WHEN 'fr' THEN 5000 WHEN 'de' THEN 3000 ELSE 2000 END),
         |src AS (SELECT s.*, d.source, d.n_chars
         |  FROM sampled s JOIN documents d ON d.doc_id = s.doc_id),
         |capped AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source, lang_pred
         |        ORDER BY n_chars DESC, doc_id ASC) AS srk
         |    FROM src) WHERE srk <= 5)
         |SELECT lang_pred, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         |FROM capped GROUP BY lang_pred ORDER BY lang_pred ASC""".stripMargin,
    "q_x_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE CAST((cum - 1) // 2048 AS BIGINT) END AS pack_id
        |FROM c""".stripMargin,
    "q_x_source_cap" ->
      """SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin,
    // signed reinterpretation of the UBIGINT md5 prefix matches
    // md5Long64; ((h % m) + m) % m matches Spark's pmod on negatives
    "q_x_corpus_sample" ->
      """WITH h AS (SELECT doc_id, lang, source, n_chars,
        |    CAST(concat('0x', substr(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT *, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(u AS BIGINT) END AS hsig FROM h),
        |r AS (SELECT *,
        |    CASE lang WHEN 'en' THEN 8000 WHEN 'es' THEN 5000 WHEN 'fr' THEN 5000
        |      WHEN 'de' THEN 3000 WHEN 'zh' THEN 2000 ELSE 1000 END AS rate,
        |    ((hsig % 10000) + 10000) % 10000 AS bucket FROM hh)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |  CAST(max(rate) AS INT) AS rate_bp
        |FROM r GROUP BY lang, source""".stripMargin,
    "q_x_kfold" ->
      """WITH h AS (SELECT o_orderkey, o_custkey,
        |    CAST(concat('0x', substr(md5(concat('fold:', CAST(o_custkey AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM orders),
        |hh AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |         ELSE CAST(u AS BIGINT) END AS hsig FROM h)
        |SELECT o_orderkey, o_custkey,
        |  CAST(((hsig % 5) + 5) % 5 AS INT) AS fold FROM hh""".stripMargin,
    "q_x_ts_cv" ->
      """WITH ev AS (SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS period
        |  FROM events),
        |per AS (SELECT DISTINCT period FROM ev),
        |idx AS (SELECT period, CAST(row_number() OVER (ORDER BY period) AS INT) AS p
        |  FROM per),
        |pm AS (SELECT max(p) AS pmax FROM idx),
        |dim AS (SELECT period,
        |    CASE WHEN p > pmax - 5 THEN CAST(p - (pmax - 5) AS INT) END AS fold_val,
        |    CAST(5 - coalesce(CASE WHEN p > pmax - 5 THEN p - (pmax - 5) END, 0) AS INT)
        |      AS n_train_folds
        |  FROM idx, pm)
        |SELECT ev.event_id, dim.period, dim.fold_val, dim.n_train_folds
        |FROM ev JOIN dim USING (period)""".stripMargin,
    "q_x_split_hash" ->
      """WITH h AS (SELECT lang, n_chars,
        |    CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT lang, n_chars, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(u AS BIGINT) END AS hsig FROM h),
        |b AS (SELECT lang, n_chars, ((hsig % 10000) + 10000) % 10000 AS bk FROM hh)
        |SELECT lang,
        |  CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_tot
        |FROM b GROUP BY 1, 2""".stripMargin,
    "q_x_split_quota" ->
      """WITH h AS (SELECT lang, doc_id,
        |    CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT lang, doc_id, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(u AS BIGINT) END AS h FROM h),
        |r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n_lang FROM hh)
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk,
        |  CASE WHEN rk <= n_lang * 8000 // 10000 THEN 'train'
        |       WHEN rk <= n_lang * 9000 // 10000 THEN 'val' ELSE 'test' END AS split
        |FROM r""".stripMargin,
    // one plain window replays the two-level tournament's selection
    "q_x_group_sample" ->
      """WITH h AS (SELECT lang, doc_id,
        |    CAST(concat('0x', substr(md5(concat('gs:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT lang, doc_id, CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(u AS BIGINT) END AS h FROM h),
        |r AS (SELECT lang, doc_id, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn
        |  FROM hh)
        |SELECT lang, doc_id, h FROM r WHERE rn <= 5""".stripMargin,
    // one plain per-source window replays the bucketed prefix sum
    "q_x_mixture_sample" ->
      """WITH k AS (SELECT doc_id, source, n_chars,
        |    CAST(concat('0x', substr(md5(concat('mix:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |s AS (SELECT doc_id, source, n_chars,
        |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |         ELSE CAST(u AS BIGINT) END AS h FROM k),
        |j AS (SELECT s.*,
        |    CASE source WHEN 'src0' THEN 1500 WHEN 'src1' THEN 1200
        |      WHEN 'src2' THEN 800 ELSE 300 END AS share_bp FROM s),
        |t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t_chars FROM documents),
        |c AS (SELECT source, doc_id, n_chars, share_bp, t_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
        |  FROM j CROSS JOIN t)
        |SELECT source, doc_id, n_chars, cum_chars,
        |  t_chars * share_bp // 10000 AS budget_chars
        |FROM c WHERE cum_chars <= t_chars * share_bp // 10000""".stripMargin,
    // the HRW argmax as a per-doc rank: hv DESC, shard DESC matches the
    // Spark struct-max tiebreak
    "q_x_rendezvous" ->
      """WITH g AS (SELECT doc_id, j FROM documents, unnest(generate_series(0, 7)) AS t(j)),
        |h AS (SELECT doc_id, j,
        |    CAST(concat('0x', substr(md5(doc_id || ':rv:' || j), 1, 16)) AS UBIGINT) AS u
        |  FROM g),
        |s AS (SELECT doc_id, j,
        |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |         ELSE CAST(u AS BIGINT) END AS hv FROM h),
        |r AS (SELECT doc_id, j,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, j DESC) AS rn
        |  FROM s)
        |SELECT doc_id, CAST(j AS INT) AS shard FROM r WHERE rn = 1""".stripMargin,
    // all-integer systematic PPS: the window-sum replay of the bucketed
    // cumulative, integer div on both sides
    "q_x_pps_sample" ->
      """WITH k AS (SELECT doc_id, source, n_chars,
        |    CAST(concat('0x', substr(md5(concat('pps:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT doc_id, source, n_chars,
        |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |         ELSE CAST(u AS BIGINT) END AS h FROM k),
        |c AS (SELECT source, doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
        |  FROM hh),
        |t AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w_total,
        |    greatest(CAST(sum(n_chars) AS BIGINT) // 5, 1) AS step
        |  FROM documents GROUP BY source)
        |SELECT c.source, c.doc_id, c.n_chars, c.cum_chars, t.step
        |FROM c JOIN t USING (source)
        |WHERE cum_chars // step > (cum_chars - n_chars) // step""".stripMargin,
    // sqrt is IEEE-correctly-rounded on both engines; the Σw fold is
    // source-sorted (list_reduce seeds the first element — 0.0 + w ≡ w on
    // positive weights, matching Spark's zero-seeded aggregate); every
    // literal cast to DOUBLE; floor cast to BIGINT on both sides (Spark's
    // floor(double) is already BIGINT, DuckDB's stays DOUBLE)
    "q_x_temperature_mix" ->
      """WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS sc
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, sqrt(CAST(sc AS DOUBLE)) AS w FROM s),
        |twt AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS tw FROM w),
        |t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t_chars FROM documents),
        |b AS (SELECT w.source,
        |    CAST(floor(CAST(t.t_chars AS DOUBLE) * CAST(0.5 AS DOUBLE) * w.w / twt.tw)
        |      AS BIGINT) AS budget_chars
        |  FROM w, twt, t),
        |k AS (SELECT doc_id, source, n_chars,
        |    CAST(concat('0x', substr(md5(concat('tmix:', CAST(doc_id AS VARCHAR))), 1, 16))
        |      AS UBIGINT) AS u
        |  FROM documents),
        |hh AS (SELECT doc_id, source, n_chars,
        |    CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |         THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |         ELSE CAST(u AS BIGINT) END AS h FROM k),
        |c AS (SELECT source, doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
        |  FROM hh),
        |adm AS (SELECT c.source, count(*) AS n_admitted,
        |    CAST(sum(c.n_chars) AS BIGINT) AS admitted_chars
        |  FROM c JOIN b USING (source) WHERE cum_chars <= budget_chars
        |  GROUP BY c.source)
        |SELECT b.source, b.budget_chars,
        |  coalesce(adm.n_admitted, 0) AS n_admitted,
        |  coalesce(adm.admitted_chars, 0) AS admitted_chars
        |FROM b LEFT JOIN adm USING (source)""".stripMargin,
    // blank/short docs: range(len-7) is empty below 8 tokens in DuckDB,
    // mirroring the Spark-side wordNgrams guard
    "q_x_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |grams AS (SELECT doc_id,
        |    list_distinct(list_transform(range(len(ws) - 7),
        |      i -> array_to_string(ws[i+1:i+8], ' '))) AS gs
        |  FROM toks),
        |bench AS (SELECT u, min(doc_id) AS bid FROM (
        |    SELECT doc_id,
        |      CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
        |    FROM (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 7 = 3))
        |  GROUP BY u),
        |corpus AS (SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
        |  FROM (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 7 <> 3))
        |SELECT c.doc_id, count(*) AS matched_grams, min(b.bid) AS bench_ref
        |FROM corpus c JOIN bench b ON c.u = b.u
        |GROUP BY c.doc_id""".stripMargin,
    // the decontaminate replay generalized to the shard × set grid — the
    // same md5-64 gram-hash domain as the Spark kernel, zero-hit cells
    // restored by the universe LEFT JOIN
    "q_x_contamination_matrix" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |grams AS (SELECT doc_id,
        |    list_distinct(list_transform(range(len(ws) - 7),
        |      i -> array_to_string(ws[i+1:i+8], ' '))) AS gs
        |  FROM toks),
        |bg AS (SELECT DISTINCT doc_id % 2 AS eval_set,
        |    CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
        |  FROM (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 7 = 3)),
        |cg AS (SELECT DISTINCT doc_id % 3 AS shard, doc_id,
        |    CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u
        |  FROM (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 7 <> 3)),
        |hits AS (SELECT cg.shard, bg.eval_set,
        |    CAST(count(DISTINCT cg.doc_id) AS BIGINT) AS n_contaminated_docs,
        |    count(*) AS n_gram_hits
        |  FROM cg JOIN bg ON bg.u = cg.u GROUP BY 1, 2),
        |tot AS (SELECT doc_id % 3 AS shard, count(*) AS n_shard_docs
        |  FROM documents WHERE doc_id % 7 <> 3 GROUP BY 1),
        |uni AS (SELECT t.shard, e.eval_set, t.n_shard_docs FROM tot t
        |  CROSS JOIN (SELECT DISTINCT doc_id % 2 AS eval_set
        |    FROM documents WHERE doc_id % 7 = 3) e)
        |SELECT u.shard, u.eval_set, u.n_shard_docs,
        |  coalesce(h.n_contaminated_docs, CAST(0 AS BIGINT)) AS n_contaminated_docs,
        |  coalesce(h.n_gram_hits, CAST(0 AS BIGINT)) AS n_gram_hits,
        |  coalesce(h.n_contaminated_docs, CAST(0 AS BIGINT)) * 10000 // u.n_shard_docs
        |    AS contamination_bp
        |FROM uni u LEFT JOIN hits h ON h.shard = u.shard AND h.eval_set = u.eval_set""".stripMargin,
    // regexp_replace needs the explicit 'g' flag here (Spark replaces all
    // occurrences by default); patterns are the shared Java∩RE2 dialect
    "q_x_pii_scrub" ->
      """WITH inj AS (SELECT doc_id,
        |  text || ' reach user' || doc_id || '@example.com or +1-555-' ||
        |  lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
        |  ' at 10.2.' || (doc_id % 256) || '.99' ||
        |  CASE WHEN doc_id % 2 = 0 THEN ' cc admin@test.org' ELSE '' END AS txt
        | FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(txt, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(txt, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS clean_digest
        |FROM inj""".stripMargin,
    // the window generator replayed: starts k·24 < n_tokens, 32-wide
    // slices clamping at the array end exactly like Spark's slice
    "q_x_rag_chunks" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE length(trim(text)) > 0),
        |ch AS (SELECT doc_id, ws, unnest(range(0, (len(ws)-1)//24 + 1)) AS k FROM w),
        |sl AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |    CAST(k*24 AS BIGINT) AS start_tok,
        |    ws[CAST(k*24+1 AS INTEGER):CAST(k*24+32 AS INTEGER)] AS c
        |  FROM ch)
        |SELECT doc_id, chunk_idx, start_tok, CAST(len(c) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(c, ' ')) AS chunk_digest FROM sl""".stripMargin,
    // list slices clamp at the array end in both engines, so the tail
    // chunk shortens identically; blank text guards to [] like the Spark
    // tokenChunks blank guard
    "q_x_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws, text FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |  ELSE [array_to_string(ws[(i-1)*2+1:(i-1)*2+2], ' ')
        |        for i in generate_series(1, (len(ws)+1)//2)] END AS chunks
        | FROM w),
        |k AS (SELECT doc_id, chunks,
        |  [chunks[i] for i in generate_series(1, len(chunks))
        |   if list_position(chunks, chunks[i]) = i] AS kept
        | FROM c)
        |SELECT doc_id, CAST(len(chunks) AS INT) AS n_chunks,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  md5(array_to_string(kept, ' ')) AS clean_digest
        |FROM k""".stripMargin,
    // the recursive unnest flattens {pos, chunk} structs so string_agg can
    // rebuild in document order; the final LEFT JOIN restores all-boilerplate
    // and blank docs with the empty digest, mirroring the Spark plan
    "q_x_boilerplate" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws, text FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |  ELSE [array_to_string(ws[(i-1)*3+1:(i-1)*3+3], ' ')
        |        for i in generate_series(1, (len(ws)+2)//3)] END AS chunks
        | FROM w),
        |e AS (SELECT doc_id, unnest([{'pos': i, 'chunk': chunks[i]}
        |    for i in generate_series(1, len(chunks))], recursive := true) FROM c),
        |f AS (SELECT chunk FROM (SELECT chunk, count(DISTINCT doc_id) AS nd
        |    FROM e GROUP BY 1) WHERE nd >= 5),
        |k AS (SELECT e.doc_id, e.pos, e.chunk FROM e
        |  LEFT JOIN f ON e.chunk = f.chunk WHERE f.chunk IS NULL),
        |a AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |   md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_digest
        | FROM k GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.chunks) AS INT) AS n_chunks,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  coalesce(a.clean_digest, md5('')) AS clean_digest
        |FROM c LEFT JOIN a USING (doc_id)""".stripMargin,
    // same injected messy URL, same anchored-regex normalization chain —
    // every pattern matches at most once, so Spark's replace-all and
    // DuckDB's replace-first agree; param sort is bytewise in both
    "q_x_url_dedup" ->
      """WITH u0 AS (SELECT doc_id,
        |  (CASE WHEN doc_id%2=0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id%3=0 THEN upper(source) ELSE source END) || '.Example.COM' ||
        |  (CASE WHEN doc_id%4=0 THEN ':443' ELSE '' END) ||
        |  '/a/' || CAST(doc_id%17 AS VARCHAR) ||
        |  (CASE WHEN doc_id%5=0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id%2=0 THEN '?b=2&a=1&utm_source=feed'
        |        ELSE '?a=1&utm_campaign=x&b=2' END) ||
        |  (CASE WHEN doc_id%6=0 THEN '#sec' ELSE '' END) AS raw_url
        |  FROM documents),
        |n1 AS (SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*$', '') AS nf FROM u0),
        |n2 AS (SELECT doc_id, raw_url,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM n1),
        |n3 AS (SELECT doc_id, raw_url, scheme,
        |  lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
        |  regexp_replace(rest, '^[^/?]*', '') AS pathq FROM n2),
        |n4 AS (SELECT doc_id, raw_url, scheme,
        |  CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       ELSE hostport END AS host,
        |  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
        |  CASE WHEN contains(pathq, '?')
        |       THEN regexp_replace(pathq, '^[^?]*\?', '') ELSE '' END AS q
        |  FROM n3),
        |n5 AS (SELECT doc_id, raw_url, scheme, host, path,
        |  array_to_string(list_sort(list_filter(string_split(q, '&'),
        |    p -> NOT (starts_with(p, 'utm_') OR p = ''))), '&') AS qs
        |  FROM n4),
        |urls AS (SELECT doc_id, raw_url,
        |  scheme || '://' || host || path ||
        |  (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS url FROM n5)
        |SELECT url, min(doc_id) AS kept_doc_id, count(*) AS n_docs,
        |  count(DISTINCT raw_url) AS n_raw_forms
        |FROM urls GROUP BY url""".stripMargin,
    // dup key = the decontamination md5-64 prefix contract (both engines
    // hash the identical space-joined gram); generate_series(1, len-7) is
    // empty below 8 tokens, mirroring the kernel's short-doc guard, and
    // array_to_string of an empty kept list is NULL in DuckDB — coalesced
    // to '' to match Spark's array_join
    "q_x_substr_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest([{pos: i-1, gram: array_to_string(ws[i:i+7], ' ')}
        |    for i in generate_series(1, len(ws)-7)], recursive := true) FROM toks),
        |h AS (SELECT doc_id, pos,
        |    CAST(concat('0x', substr(md5(gram), 1, 16)) AS UBIGINT) AS u FROM g),
        |dup AS (SELECT u FROM h GROUP BY u HAVING count(*) >= 2),
        |st AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |  FROM h WHERE u IN (SELECT u FROM dup) GROUP BY doc_id),
        |r AS (SELECT t.doc_id, t.ws, coalesce(s.starts, []) AS starts
        |  FROM toks t LEFT JOIN st s USING (doc_id)),
        |k AS (SELECT doc_id, ws, starts,
        |  [ws[p] for p in generate_series(1, len(ws))
        |   if len(list_filter(starts, s -> p-1 >= s AND p-1 <= s+7)) = 0] AS kept
        |  FROM r)
        |SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(len(starts) AS INT) AS n_dup_grams,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS clean_digest
        |FROM k""".stripMargin,
    "q_x_bpe_train" -> bpeTrainOracle(6),
    "q_x_bpe_encode" -> bpeEncodeOracle(6),
    // the full encode statement nested, per-doc word/char counts from the
    // documents scan, one lang rollup; blank-only strata (zero tokens)
    // are excluded on both sides so the centi-ratios never divide by zero
    "q_x_bpe_fertility" ->
      s"""WITH enc AS (${bpeEncodeOracle(6)}),
         |d AS (SELECT doc_id, lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wchars
         |  FROM documents)
         |SELECT d.lang, CAST(sum(d.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(d.n_wchars) AS BIGINT) AS n_word_chars,
         |  CAST(sum(enc.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(d.n_wchars) AS BIGINT) * 100 // CAST(sum(enc.n_bpe_tokens) AS BIGINT)
         |    AS chars_per_token_cb,
         |  CAST(sum(enc.n_bpe_tokens) AS BIGINT) * 100 // CAST(sum(d.n_words) AS BIGINT)
         |    AS tokens_per_word_cb
         |FROM d JOIN enc ON enc.doc_id = d.doc_id
         |GROUP BY 1 HAVING sum(enc.n_bpe_tokens) > 0""".stripMargin,
    "q_x_rollup" -> groupingSetsOracle("ROLLUP"),
    "q_x_cube" -> groupingSetsOracle("CUBE"),
    // conditional aggregation is the engine-portable pivot formulation;
    // count(CASE …) yields 0 for absent combos, matching the coalesce
    "q_x_pivot" ->
      """SELECT source,
        |  count(CASE WHEN lang = 'de' THEN 1 END) AS de,
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS en,
        |  count(CASE WHEN lang = 'es' THEN 1 END) AS es,
        |  count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
        |  count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
        |FROM documents GROUP BY source""".stripMargin,
    // unsigned md5 prefix mod 8 ≡ Spark's signed pmod (2^64 ≡ 0 mod 8);
    // ordering uses the signed reinterpretation so both engines sort alike
    "q_x_corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(doc_id || ':42'), 1, 16)) AS UBIGINT) AS u
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CASE WHEN u >= CAST(9223372036854775808 AS UBIGINT)
        |       THEN CAST(CAST(u AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(u AS BIGINT) END AS skey,
        |  CAST(u % 8 AS INT) AS shard FROM k)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS INT) AS pos,
        |  doc_id, skey
        |FROM s""".stripMargin,
    // postings flattened to "doc:tf;doc:tf" ordered by doc_id — the
    // hashable twin of the operator's array-of-structs form
    "q_x_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok WHERE term <> ''
        |  GROUP BY term, doc_id)
        |SELECT term, count(DISTINCT doc_id) AS df,
        |  CAST(sum(tf) AS BIGINT) AS total_tf,
        |  string_agg(doc_id || ':' || tf, ';' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term HAVING count(DISTINCT doc_id) >= 5""".stripMargin,
    // rk replays posexplode's 0-based position over the doc_id-sorted
    // postings; rk // 4 is the same int division as Spark's `rk div 4`
    "q_x_inverted_index_blocks" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tfs AS (SELECT term, doc_id, count(*) AS tf FROM tok WHERE term <> ''
        |  GROUP BY term, doc_id),
        |d AS (SELECT term FROM tfs GROUP BY term HAVING count(DISTINCT doc_id) >= 5),
        |r AS (SELECT t.term, t.doc_id, t.tf,
        |    row_number() OVER (PARTITION BY t.term ORDER BY t.doc_id) - 1 AS rk
        |  FROM tfs t JOIN d USING (term)),
        |b AS (SELECT term, CAST(rk // 4 AS INT) AS block_id, doc_id, tf FROM r)
        |SELECT term, block_id, CAST(count(*) AS INT) AS block_len,
        |  CAST(max(tf) AS BIGINT) AS block_max_tf, min(doc_id) AS first_doc,
        |  string_agg(doc_id || ':' || tf, ';' ORDER BY doc_id) AS postings
        |FROM b GROUP BY term, block_id""".stripMargin,
    // Spark's exact `percentile` ≡ quantile_cont (both interpolate at
    // (n−1)p); integer inputs + quarter fractions → exact doubles; blank
    // docs count 0 tokens (the tokenCount guard), not their [""] artifact
    // the cumulative's (tf DESC, term ASC) is a total order, and both
    // engines compare strings byte-wise (UTF-8 preserves codepoint order),
    // so the bucketed Spark decomposition replays exactly
    "q_x_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY term),
        |tot AS (SELECT sum(tf) AS T FROM tf),
        |c AS (SELECT term, tf, sum(tf) OVER (ORDER BY tf DESC, term ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tf FROM tf)
        |SELECT term, CAST(tf AS BIGINT) AS tf, CAST(cum_tf AS BIGINT) AS cum_tf,
        |  CAST(cum_tf * 10000 // T AS BIGINT) AS cov_bp
        |FROM c, tot WHERE (cum_tf - tf) * 20 < T * 19""".stripMargin,
    "q_x_length_quantiles" ->
      """WITH t AS (SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS n
        |  FROM documents)
        |SELECT lang, quantile_cont(n, 0.25) AS p25, quantile_cont(n, 0.5) AS p50,
        |  quantile_cont(n, 0.75) AS p75, count(*) AS n_docs
        |FROM t GROUP BY lang""".stripMargin,
    // list slices clamp at the array end in both engines (short tail
    // window); the blank-doc token-count guard mirrors tokenCountFromTokens
    "q_x_chunk_stride" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws, text FROM documents),
        |c AS (SELECT doc_id, ws,
        |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n FROM w),
        |e AS (SELECT doc_id, ws,
        |    unnest([{win_idx: i, start_tok: i*4} for i in generate_series(0, (n+3)//4 - 1)],
        |      recursive := true)
        |  FROM c WHERE n > 0)
        |SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
        |  CAST(start_tok AS INT) AS start_tok,
        |  CAST(len(ws[start_tok+1:start_tok+8]) AS INT) AS win_len,
        |  md5(array_to_string(ws[start_tok+1:start_tok+8], ' ')) AS win_digest
        |FROM e""".stripMargin,
    // every literal CAST to DOUBLE (bare 0.85/1.0 are DECIMALs in DuckDB);
    // the (1.0-0.85) teleport mirrors the Scala-side double subtraction;
    // list_reduce's first-element seed ≡ Spark's 0.0 seed on positive terms
    "q_x_pagerank" -> {
      def iter(i: Int): String =
        s"""c$i AS (SELECT e.dst, e.src, r.rank / e.deg AS c
           |  FROM r${i - 1} r JOIN e ON r.node = e.src),
           |r$i AS (SELECT dst AS node,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |      + CAST(0.85 AS DOUBLE) * list_reduce(list(c ORDER BY src), (a, b) -> a + b)
           |      AS rank
           |  FROM c$i, nn GROUP BY dst, nn.n)""".stripMargin
      s"""WITH pr0 AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS su
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |ed AS (SELECT c AS src, su AS dst FROM pr0
         |  UNION ALL SELECT su AS src, c AS dst FROM pr0),
         |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |e AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
         |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM dg, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |  node, rank
         |FROM r3 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
    },
    // the pagerank replay with the teleport concentrated on the seed
    // cohort: (1−d)·tele instead of (1−d)/n, tele = 1/|S| on seeds else
    // 0; the start vector IS tele (full mass on seeds). Every node of the
    // symmetrized graph has in-edges, so the per-round GROUP BY dst
    // covers the node set exactly as the Spark left join does.
    "q_x_ppr" -> {
      def iter(i: Int): String =
        s"""c$i AS (SELECT e.dst, e.src, r.rank / e.deg AS c
           |  FROM r${i - 1} r JOIN e ON r.node = e.src),
           |r$i AS (SELECT c$i.dst AS node,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
           |      + CAST(0.85 AS DOUBLE) * list_reduce(list(c ORDER BY src), (a, b) -> a + b)
           |      AS rank
           |  FROM c$i JOIN t ON t.node = c$i.dst GROUP BY c$i.dst, t.tele)""".stripMargin
      s"""WITH pr0 AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS su
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |ed AS (SELECT c AS src, su AS dst FROM pr0
         |  UNION ALL SELECT su AS src, c AS dst FROM pr0),
         |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |e AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
         |sd AS (SELECT DISTINCT c AS node FROM pr0 WHERE c % 200 = 14),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd),
         |t AS (SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN CAST(1.0 AS DOUBLE) / ns.ns
         |         ELSE CAST(0.0 AS DOUBLE) END AS tele
         |  FROM (SELECT DISTINCT src AS node FROM ed) n
         |  LEFT JOIN sd s ON s.node = n.node, ns),
         |r0 AS (SELECT node, tele AS rank FROM t),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, rank
         |FROM r3 ORDER BY rank DESC, node ASC LIMIT 20""".stripMargin
    },
    // per-term score is ONE integer ratio (k1=6/5, b=3/4 cleared of
    // fractions), per-doc sum folds over term-ASC scores via list_reduce
    // (seeded by the first element; 0.0 + s ≡ s for positive doubles, so
    // the fold equals Spark's zero-seeded aggregate bit-for-bit)
    "q_x_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms_hit, score FROM agg
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    // base pass → top-10 feedback docs → all-integer expansion-term
    // ranking → the identical scoring chain over the expanded term set
    "q_x_prf" ->
      s"""WITH $bm25Ctes,
         |f AS (SELECT doc_id FROM agg ORDER BY score DESC, doc_id ASC LIMIT 10),
         |exp AS (SELECT term FROM (
         |    SELECT t2.term, count(DISTINCT t2.doc_id) AS fdf, count(*) AS ftf
         |    FROM tok2 t2 JOIN f USING (doc_id)
         |    WHERE t2.term NOT IN ('spark', 'stream', 'window')
         |    GROUP BY 1 ORDER BY fdf DESC, ftf DESC, term ASC LIMIT 3)),
         |q1 AS (SELECT 'spark' AS term UNION ALL SELECT 'stream'
         |  UNION ALL SELECT 'window' UNION ALL SELECT term FROM exp),
         |hits1 AS (SELECT t2.term, t2.doc_id, count(*) AS tf
         |  FROM tok2 t2 JOIN q1 USING (term) GROUP BY 1, 2),
         |dfs1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits1 GROUP BY term),
         |scored1 AS (SELECT h.doc_id, h.term,
         |    CAST((2*s.n_docs - 2*d.df + 1) * 22 * h.tf * s.t_tokens AS DOUBLE) /
         |    CAST((2*d.df + 1) * (10*h.tf*s.t_tokens + 3*s.t_tokens + 9*l.dl*s.n_docs) AS DOUBLE)
         |      AS score
         |  FROM hits1 h JOIN dfs1 d USING (term) JOIN dl l ON h.doc_id = l.doc_id
         |  CROSS JOIN stats s),
         |agg1 AS (SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
         |    list_reduce(list(score ORDER BY term), (acc, x) -> acc + x) AS score
         |  FROM scored1 GROUP BY doc_id)
         |SELECT doc_id, n_terms_hit, score FROM agg1
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    // the same two top-10 lists re-ranked, then the pinned ranker-order
    // fold of 1/(60+rank) — rank arithmetic only, no score calibration
    // the same binary-relevance cut, running hit count, and double
    // integer truncation
    "q_x_map" ->
      s"""WITH $bm25Ctes,
         |relb AS (SELECT doc_id FROM (
         |    SELECT doc_id, count(DISTINCT term) AS cov FROM tok2
         |    WHERE term IN ('spark', 'stream', 'window') GROUP BY 1)
         |  WHERE cov >= 2),
         |r AS (SELECT count(*) AS n_relevant FROM relb),
         |sysr AS (SELECT s.doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r,
         |    CASE WHEN relb.doc_id IS NOT NULL THEN 1 ELSE 0 END AS relv
         |  FROM (SELECT doc_id, score FROM agg
         |        ORDER BY score DESC, doc_id ASC LIMIT 10) s
         |  LEFT JOIN relb USING (doc_id)),
         |h AS (SELECT r, relv,
         |    CAST(sum(relv) OVER (ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS hits
         |  FROM sysr),
         |t AS (SELECT CAST(sum(CASE WHEN relv = 1
         |      THEN hits * 1000000 // r ELSE 0 END) AS BIGINT) AS ap_sum,
         |    max(hits) AS hits_at_10 FROM h)
         |SELECT r.n_relevant, t.hits_at_10,
         |  CASE WHEN r.n_relevant > 0
         |    THEN t.ap_sum // least(r.n_relevant, 10) END AS ap_micro
         |FROM t, r""".stripMargin,
    // the same BM25 chain, literal micro-unit discount table, coverage
    // grades, and ranked cuts
    "q_x_ndcg" ->
      s"""WITH $bm25Ctes,
         |disc AS (SELECT CAST(i AS BIGINT) AS i, CAST(w AS BIGINT) AS w
         |  FROM (VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677),
         |    (5, 386853), (6, 356207), (7, 333333), (8, 315465),
         |    (9, 301030), (10, 289065)) AS t(i, w)),
         |rel AS (SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS rel
         |  FROM tok2 WHERE term IN ('spark', 'stream', 'window') GROUP BY 1),
         |sysr AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
         |  FROM (SELECT doc_id, score FROM agg
         |        ORDER BY score DESC, doc_id ASC LIMIT 10)),
         |dcg AS (SELECT CAST(sum(coalesce(rel.rel, 0) * d.w) AS BIGINT)
         |    AS dcg_micro
         |  FROM sysr JOIN disc d ON d.i = sysr.r
         |  LEFT JOIN rel ON rel.doc_id = sysr.doc_id),
         |ir AS (SELECT rel,
         |    row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS r FROM rel),
         |idcg AS (SELECT CAST(sum(ir.rel * d.w) AS BIGINT) AS idcg_micro
         |  FROM ir JOIN disc d ON d.i = ir.r WHERE ir.r <= 10)
         |SELECT dcg.dcg_micro, idcg.idcg_micro,
         |  dcg.dcg_micro * 10000 // idcg.idcg_micro AS ndcg_bp
         |FROM dcg, idcg""".stripMargin,
    "q_x_rrf" ->
      s"""WITH $bm25Ctes,
         |ra AS (SELECT doc_id, 'bm25' AS ranker,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
         |  FROM (SELECT doc_id, score FROM agg
         |        ORDER BY score DESC, doc_id ASC LIMIT 10)),
         |cb AS (SELECT doc_id, count(DISTINCT term) AS cov, count(*) AS tf_total
         |  FROM tok2 WHERE term IN ('spark', 'stream', 'window') GROUP BY doc_id),
         |rb AS (SELECT doc_id, 'coverage' AS ranker,
         |    row_number() OVER (ORDER BY cov DESC, tf_total DESC, doc_id ASC) AS r
         |  FROM (SELECT * FROM cb
         |        ORDER BY cov DESC, tf_total DESC, doc_id ASC LIMIT 10)),
         |u AS (SELECT doc_id, ranker, CAST(1.0 AS DOUBLE) / (r + 60) AS contrib
         |    FROM ra
         |  UNION ALL
         |  SELECT doc_id, ranker, CAST(1.0 AS DOUBLE) / (r + 60) FROM rb)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_rankers,
         |  list_reduce(list(contrib ORDER BY ranker), (a, x) -> a + x) AS rrf
         |FROM u GROUP BY doc_id
         |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    // the Bloom sketch only PRUNES (no false negatives) and every maybe is
    // exactly verified, so the oracle is the plain anti-join
    "q_x_bloom_dedup" ->
      """WITH f AS (SELECT doc_id,
        |    md5(array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:4], ' ')) AS prefix_fp
        |  FROM documents),
        |old AS (SELECT prefix_fp FROM f WHERE doc_id % 3 = 0)
        |SELECT doc_id, prefix_fp FROM f n
        |WHERE doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM old o WHERE o.prefix_fp = n.prefix_fp)""".stripMargin,
    // the full minhash chain replayed once over ALL docs, then the banded
    // join restricted to new×old — the uncapped twin of the guarded path
    "q_x_incr_neardup" ->
      s"""WITH $wCte,
         |sh AS (SELECT doc_id, unnest($shingleExpr) AS sh FROM w),
         |sh0 AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(sh), 1, 16)) AS UBIGINT) AS u0
         |  FROM sh),
         |$minhashChainCtes,
         |bands AS (SELECT doc_id, j, md5(array_to_string(sig[4*j+1:4*j+4], '|')) AS bh
         |  FROM sig CROSS JOIN generate_series(0, 3) t(j)),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands n JOIN bands o ON n.j = o.j AND n.bh = o.bh
         |  WHERE n.doc_id % 3 <> 0 AND o.doc_id % 3 = 0),
         |shl AS (SELECT doc_id, $shingleExpr AS sl FROM w)
         |SELECT new_id, old_id,
         |  round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |        len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) AS jaccard
         |FROM cand JOIN shl x ON x.doc_id = new_id JOIN shl y ON y.doc_id = old_id
         |WHERE round(len(list_intersect(x.sl, y.sl))::DOUBLE /
         |            len(list_distinct(list_concat(x.sl, y.sl)))::DOUBLE, 3) >= 0.6""".stripMargin,
    // the likelihood is a ratio of exact integers (HUGEINT sums here, long
    // sums in Spark — both exact, both convert to the identical double far
    // below 2^53 at these SFs), so it is emitted unrounded
    "q_x_unigram_bucket" ->
      """WITH w AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |tok AS (SELECT doc_id, lang, unnest(ws) AS term FROM w),
        |tok2 AS (SELECT * FROM tok WHERE term <> ''),
        |counts AS (SELECT term, count(*) AS tf FROM tok2 GROUP BY term),
        |vocab AS (SELECT term, tf FROM counts ORDER BY tf DESC, term ASC LIMIT 16),
        |total AS (SELECT sum(tf) AS n_total FROM counts),
        |perdoc AS (SELECT t.doc_id, t.lang, count(*) AS n_tokens,
        |    sum(coalesce(v.tf, 0)) AS hit_mass
        |  FROM tok2 t LEFT JOIN vocab v USING (term) GROUP BY t.doc_id, t.lang),
        |scored AS (SELECT doc_id, lang, n_tokens,
        |    CAST(hit_mass AS DOUBLE) / CAST(n_tokens * n_total AS DOUBLE) AS likelihood
        |  FROM perdoc CROSS JOIN total),
        |b AS (SELECT *, ntile(3) OVER (PARTITION BY lang
        |    ORDER BY likelihood DESC, doc_id ASC) AS bucket_id FROM scored)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, likelihood,
        |  CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM b""".stripMargin,
    // each p is one exact-integer division; the per-doc fold is
    // position-ordered (list_reduce seeds from the first element, which
    // equals Spark's 0.0-seeded fold exactly: 0.0 + x ≡ x in IEEE)
    "q_x_bigram_fluency" ->
      s"""WITH $wCte,
         |lf AS (SELECT doc_id, list_filter(ws, x -> x <> '') AS fs FROM w),
         |bg AS (SELECT doc_id, i AS pos, fs[i] AS term, fs[i+1] AS nxt
         |  FROM lf, unnest(generate_series(1, len(fs)-1)) AS t(i)),
         |c2 AS (SELECT term, nxt, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT term, count(*) AS c1 FROM bg GROUP BY 1),
         |p AS (SELECT doc_id, pos, CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
         |  FROM bg JOIN c2 USING (term, nxt) JOIN c1 USING (term)),
         |f AS (SELECT doc_id, count(*) AS n, list(p ORDER BY pos) AS ps
         |  FROM p GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS INT) AS n_bigrams,
         |  list_reduce(ps, (a, x) -> a + x) / CAST(n AS DOUBLE) AS fluency
         |FROM f""".stripMargin
  )

  /** The star-cap remediation tier shares its loud twin's oracle verbatim:
    * at the compare SF no band bucket exceeds the cap, so the capped
    * operator's output is bit-identical to the uncapped replay — the
    * oracle checks exactly the regime where the cap is inert. The over-cap
    * regime is DedupSpec's job (hub-connectivity pin with a forced-tiny
    * cap) plus the sf10 probe that COMPLETES where the loud row raises
    * (PLANS.md).
    */
  val oracleSql: Map[String, String] =
    oracleSqlBase + ("q_x_mm_alignment_capped" -> oracleSqlBase("q_x_mm_alignment"))
}
