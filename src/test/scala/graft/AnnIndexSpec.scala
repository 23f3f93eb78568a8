package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.serve.AnnIndex

/** Persisted IVF ANN index lifecycle (r17): build → search → append →
  * compact, pinned as a PURE MATERIALIZATION of the in-memory IVF kernel —
  * the stored codebook round-trips parquet exactly, appended vectors land in
  * the cells a fresh assignment with the same codebook gives (no retrain),
  * and search output is invariant under segment layout.
  */
class AnnIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def canonSearch(df: DataFrame): Set[(Long, Int, Long)] =
    df.as[(Long, Int, Long)].collect().toSet

  test("build/append/search/compact: the index is a pure materialization of the IVF kernel") {
    val base = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val extra = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(97)) === 1)
    val root = tempDir("graft_ann_idx").toString
    AnnIndex.build(spark, root, base, "vec_id", "embedding",
      nCells = 16, lloydIters = 2)

    // stored assignments == fresh assignment with the ROUND-TRIPPED codebook
    // (pins both the float-array parquet fidelity and the no-retrain rule)
    val cb = AnnIndex.readCodebook(spark, root)
    def assignWith(d: DataFrame) =
      Similarity.ivfAssignWith(d, "embedding", col("vec_id").as("id"), 1, cb)
        .select(col("id"), col("cell"))
        .as[(Long, Int)].collect().toMap
    def stored() = AnnIndex.readAssignments(spark, root)
      .as[(Long, Int)].collect().toMap
    assert(stored() == assignWith(base) && stored().nonEmpty)

    // search through the index == the same kernel over in-memory pieces
    val viaIndex = canonSearch(AnnIndex.search(spark, root, base, queries,
      "vec_id", "vec_id", "embedding", k = 5))
    val inMemory = canonSearch(AnnIndex.searchWith(cb,
      AnnIndex.readAssignments(spark, root), base, queries,
      "vec_id", "vec_id", "embedding", k = 5, nProbe = 4))
    assert(viaIndex == inMemory && viaIndex.nonEmpty)

    // recall floor vs exact brute force (IVF is a declared approximate
    // tier; the codebook is data-adaptive so the bound is generous)
    val brute = Similarity.annBruteForce(base, queries,
        "vec_id", "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val idxPairs = viaIndex.map(r => (r._1, r._3))
    val recall = (brute & idxPairs).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall too low")

    // append assigns the new batch with the STORED codebook — union of the
    // two cohorts' fresh assignments, never a retrained one
    AnnIndex.append(spark, root, extra, "vec_id", "embedding")
    assert(stored() == assignWith(base) ++ assignWith(extra),
      "append must reuse the persisted codebook verbatim")
    val all = base.unionByName(extra)
    val afterAppend = canonSearch(AnnIndex.search(spark, root, all, queries,
      "vec_id", "vec_id", "embedding", k = 5))
    assert(afterAppend.nonEmpty)

    // compact folds segments; search output is layout-invariant
    AnnIndex.compact(spark, root, retentionMs = 0L)
    val segs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
    assert(segs.length == 1, s"expected 1 compacted segment, got ${segs.length}")
    assert(canonSearch(AnnIndex.search(spark, root, all, queries,
      "vec_id", "vec_id", "embedding", k = 5)) == afterAppend,
      "compaction changed search output")
  }

  test("index admission: sound (exact subset of the brute pair set) with fair recall, admitted = anti-join") {
    import org.apache.spark.sql.graft.natives.cosineSim
    val standing = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val root = tempDir("graft_ann_idx_admit").toString
    AnnIndex.build(spark, root, standing, "vec_id", "embedding", nCells = 8)
    val rej = AnnIndex.admitNearDups(spark, root, incoming, standing,
        "vec_id", "embedding", threshold = 0.25, nProbe = 4)
      .select(col("a"), col("b"))
      .as[(Long, Long)].collect().toSet
    assert(rej.nonEmpty, "vacuous fixture: no rejection pairs")
    // brute truth: every incoming×standing pair with exact cosine ≥ θ
    val brute = incoming.select(col("vec_id").as("a"), col("embedding").as("__qa"))
      .crossJoin(broadcast(standing.select(col("vec_id").as("b"), col("embedding").as("__qb"))))
      .filter(cosineSim(col("__qa"), col("__qb")) >= 0.25)
      .select(col("a"), col("b"))
      .as[(Long, Long)].collect().toSet
    assert(rej.subsetOf(brute), "admission emitted a pair below the exact threshold")
    val recall = rej.size.toDouble / brute.size
    assert(recall >= 0.2, s"cell-candidate recall $recall below floor")
    // the gate stance: admitted = incoming anti-joined on the rejection ids
    val admitted = incoming.join(
        rej.map(_._1).toSeq.toDF("a"), col("vec_id") === col("a"), "left_anti")
      .count()
    assert(admitted == incoming.count() - rej.map(_._1).size)
  }

  test("pq lifecycle: stored codes are a pure materialization, append reuses both codebooks, ADC recall holds") {
    import graft.operators.Similarity
    val base = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val extra = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(97)) === 1)
    val root = tempDir("graft_ann_idx_pq").toString
    AnnIndex.buildPq(spark, root, base, "vec_id", "embedding", nCells = 8)

    // stored (id, codes) == a fresh encode with the ROUND-TRIPPED pq
    // codebooks (parquet fidelity + no-retrain, the (id, cell) argument
    // extended to the PQ layer)
    val (pqCb, m, nCw, dim) = AnnIndex.readPqCodebooks(spark, root)
    assert(m == 8 && nCw == 16 && dim == 64, s"pq meta drifted: ($m, $nCw, $dim)")
    def storedCodes() = AnnIndex.readAssignments(spark, root)
      .select(col("id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    def encodeWith(d: DataFrame) =
      Similarity.pqEncode(d, "vec_id", "embedding", pqCb, m, dim, "id")
        .as[(Long, Seq[Int])].collect().toMap
    assert(storedCodes() == encodeWith(base) && storedCodes().nonEmpty)

    // ADC search reads cells+codes only; recall floor vs exact brute
    val served = canonSearch(AnnIndex.searchPq(spark, root, queries,
      "vec_id", "embedding", k = 5, nProbe = 4))
    val brute = Similarity.annBruteForce(base, queries,
        "vec_id", "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (brute & served.map(r => (r._1, r._3))).size.toDouble / brute.size
    assert(recall >= 0.25, s"ADC recall $recall below floor")

    // append encodes the new batch with the STORED codebooks (no retrain
    // on either level); compaction is layout-invariant
    AnnIndex.append(spark, root, extra, "vec_id", "embedding")
    assert(storedCodes() == encodeWith(base) ++ encodeWith(extra),
      "append must reuse the persisted pq codebooks verbatim")
    val afterAppend = canonSearch(AnnIndex.searchPq(spark, root, queries,
      "vec_id", "embedding", k = 5, nProbe = 4))
    AnnIndex.compact(spark, root, retentionMs = 0L)
    assert(canonSearch(AnnIndex.searchPq(spark, root, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)) == afterAppend,
      "compaction changed ADC search output")
  }

  test("sampled Lloyd training: a bounded-sample codebook keeps structure, coverage, and recall (the FAISS train rule)") {
    // r19: training runs over a deterministic hash-stride sample
    // (defaultTrainCap ≈ 256·nCells) so build cost is linear in the corpus
    // at the √n cell rule instead of n^1.5 — this pin forces the sampled
    // path on the tiny spec corpus with an explicit sub-corpus cap and
    // asserts the three things sampling must NOT break
    val n = emb.count()
    val cap = math.max(64L, n / 4) // strictly below n → the sample path runs
    assert(cap < n, "fixture must force sampling")
    val cbS = Similarity.ivfCodebook(emb, "vec_id", "embedding",
      nCells = 16, lloydIters = 2, trainCap = cap)
    // structure: ≤ nCells unit-norm 64-d centroids
    val cells = cbS.select(explode(col("cb")).as("s"))
      .select(col("s.cell").as("cell"), col("s.centroid").as("centroid"))
      .as[(Int, Seq[Float])].collect()
    assert(cells.nonEmpty && cells.length <= 16)
    assert(cells.forall(_._2.length == 64))
    assert(cells.forall(c =>
      math.abs(c._2.map(x => x.toDouble * x).sum - 1.0) < 1e-3),
      "sampled centroids must stay unit-norm (spherical k-means)")
    // the semantics-bearing pass stays FULL-corpus: assignment with the
    // sampled codebook covers every vector exactly once
    val assigned = Similarity.ivfAssignWith(emb, "embedding",
      col("vec_id").as("id"), 1, cbS).select(col("id"), col("cell"))
    assert(assigned.count() == n)
    assert(assigned.select(col("id")).distinct().count() == n)
    // recall floor: the serve kernel with the SAMPLED codebook vs brute
    val queries = emb.filter(pmod(col("vec_id"), lit(97)) === 1)
    val served = canonSearch(AnnIndex.searchWith(cbS, assigned, emb, queries,
      "vec_id", "vec_id", "embedding", k = 5, nProbe = 4))
    val brute = Similarity.annBruteForce(emb, queries,
        "vec_id", "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (brute & served.map(r => (r._1, r._3))).size.toDouble / brute.size
    assert(recall >= 0.2, s"sampled-codebook recall $recall below floor")
    // PQ tier: sampled subspace codebooks keep the (sub, cell) structure
    // and encode the full corpus in-domain
    val pqCb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, trainCap = cap)
    val pqCells = pqCb.select(explode(col("cb")).as("s"))
      .select(col("s.sub").as("sub"), col("s.cell").as("cell"),
        col("s.centroid").as("centroid"))
      .as[(Int, Int, Seq[Float])].collect()
    assert(pqCells.map(_._1).toSet == (0 until 8).toSet,
      "every subspace must train a codebook from the sample")
    assert(pqCells.forall(_._3.length == 8))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", pqCb, 8, 64, "id")
      .as[(Long, Seq[Int])].collect()
    assert(codes.length == n)
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
  }

  test("production serve shape: fixed batch through the √n-cell index meets a recall floor vs brute truth") {
    // the q_x_ann_index_serve registry shape exactly: √n coarse cells,
    // fixed 100-query batch, nProbe = 8 — recall measured against
    // q_x_ann_batch_brute's oracled ground truth on the SAME batch
    val n = emb.count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt.max(1)
    val batch = emb.filter(col("vec_id") < 100)
    val root = tempDir("graft_ann_idx_serve").toString
    AnnIndex.build(spark, root, emb, "vec_id", "embedding", nCells = nCells)
    val served = canonSearch(AnnIndex.search(spark, root, emb, batch,
      "vec_id", "vec_id", "embedding", k = 5, nProbe = 8))
    val brute = Similarity.annBruteForce(emb, batch,
        "vec_id", "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    assert(served.map(_._1) == brute.map(_._1),
      "served batch must cover every query the brute truth covers")
    val recall = (brute & served.map(r => (r._1, r._3))).size.toDouble / brute.size
    // probing 8 of √n cells on near-random embeddings: generous floor —
    // the row's point is the SCALE shape, the census row pins exactness
    // of what is persisted
    assert(recall >= 0.25, s"serve-shape recall $recall below floor")
    // soundness: every served neighbor must be a real corpus id ≠ query
    assert(served.forall(r => r._1 != r._3))
  }

  /** The stored coarse codebook read straight from its parquet, in the
    * one-row shape — what a JVM that never saw the index would serve from.
    */
  private def storedCodebook(root: String): DataFrame =
    spark.read.parquet(s"$root/codebook")
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cb"))

  private def copyOf(root: String): String = {
    val copy = tempDir("graft_ann_idx_copy").resolve("idx").toFile
    FileUtils.copyDirectory(new java.io.File(root), copy)
    copy.toString
  }

  test("resident codebooks: a rebuild at the same root serves from the new codebooks") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val queries = emb.filter(pmod(col("vec_id"), lit(97)) === 1)
    def search(root: String, corpus: DataFrame) = canonSearch(AnnIndex.search(spark, root,
      corpus, queries, "vec_id", "vec_id", "embedding", k = 5, nProbe = 4))
    def cells(cb: DataFrame) = cb.select(explode(col("cb")).as("s"))
      .select(col("s.cell"), col("s.centroid")).as[(Int, Seq[Float])].collect().toMap

    val root = tempDir("graft_ann_idx_rebuild").toString
    AnnIndex.build(spark, root, even, "vec_id", "embedding", nCells = 4)
    val first = search(root, even)
    assert(cells(AnnIndex.readCodebook(spark, root)).size == 4)
    AnnIndex.build(spark, root, odd, "vec_id", "embedding", nCells = 6)
    val resident = cells(AnnIndex.readCodebook(spark, root))
    assert(resident.size == 6 && resident == cells(storedCodebook(root)),
      "the resident codebook must be the rebuilt one")
    val served = search(root, odd)
    assert(served.nonEmpty && served != first)
    assert(served == canonSearch(AnnIndex.searchWith(storedCodebook(root),
      AnnIndex.readAssignments(spark, root), odd, queries,
      "vec_id", "vec_id", "embedding", k = 5, nProbe = 4)))
    assert(served == search(copyOf(root), odd), "a cold read of the same files serves the same rows")

    val pqRoot = tempDir("graft_ann_idx_pq_rebuild").toString
    def searchPq(root: String) = canonSearch(AnnIndex.searchPq(spark, root, queries,
      "vec_id", "embedding", k = 5, nProbe = 4))
    AnnIndex.buildPq(spark, pqRoot, even, "vec_id", "embedding", nCells = 4)
    val firstPq = searchPq(pqRoot)
    AnnIndex.buildPq(spark, pqRoot, odd, "vec_id", "embedding", nCells = 6, nCodewords = 8)
    val (pqCb, m, nCw, dim) = AnnIndex.readPqCodebooks(spark, pqRoot)
    assert((m, nCw, dim) == (8, 8, 64), s"pq meta of the rebuild: ($m, $nCw, $dim)")
    val storedPq = spark.read.parquet(s"$pqRoot/pq").as[(Int, Int, Seq[Float])].collect().toSet
    assert(pqCb.select(explode(col("cb")).as("s")).select("s.*")
      .as[(Int, Int, Seq[Float])].collect().toSet == storedPq)
    val servedPq = searchPq(pqRoot)
    assert(servedPq.nonEmpty && servedPq != firstPq)
    assert(servedPq == searchPq(copyOf(pqRoot)), "a cold read of the same files serves the same rows")
  }

  test("a warm search and searchPq run no footer-inference job and rank in one exchange") {
    val n = emb.count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
    // a serving batch staged on the driver, as a server receives it
    val batch = emb.filter(col("vec_id") < 16).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .toDF("qid", "embedding")
    val root = tempDir("graft_ann_idx_lean").toString
    val pqRoot = tempDir("graft_ann_idx_lean_pq").toString
    AnnIndex.build(spark, root, emb, "vec_id", "embedding", nCells = nCells)
    AnnIndex.buildPq(spark, pqRoot, emb, "vec_id", "embedding", nCells = nCells)
    val corpus = emb
    val searches = Seq[(String, () => DataFrame)](
      "search" -> (() => AnnIndex.search(spark, root, corpus, batch,
        "vec_id", "qid", "embedding", k = 5, nProbe = 8)),
      "searchPq" -> (() => AnnIndex.searchPq(spark, pqRoot, batch,
        "qid", "embedding", k = 5, nProbe = 8)))
    for ((name, search) <- searches) {
      val cold = search().collect().toSet
      val (df, sites) = jobSites { val df = search(); df.collect(); df }
      assert(df.collect().toSet == cold)
      assert(sites.size <= 5, s"warm $name ran ${sites.size} jobs: ${sites.mkString("; ")}")
      assert(!sites.exists(_.contains("parquet at AnnIndex")),
        s"warm $name inferred a schema: ${sites.mkString("; ")}")
      val exchanges = collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"warm $name: ${exchanges.size} shuffle exchanges in\n" +
        df.queryExecution.executedPlan)
    }
  }
}
