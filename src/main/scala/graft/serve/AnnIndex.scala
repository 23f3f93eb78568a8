package graft.serve

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.natives.cosineSim
import graft.operators.Similarity

/** Persisted IVF ANN index — the vector-side sibling of [[DedupIndex]] and
  * the FAISS build/add/search lifecycle on Spark tables: train the coarse
  * codebook ONCE, persist it with the corpus cell assignments as versioned
  * segments, then serve searches and ADD new vectors against the stored
  * codebook with no retrain (assignment is a deterministic narrow map given
  * the codebook, [[Similarity.ivfAssignWith]]).
  *
  * Layout: a [[Publish]] segment list, as in [[DedupIndex]] (one writer
  * per index for `append`):
  * {{{
  *   <root>/_MANIFEST              — newline-separated live segment names
  *   <root>/codebook/              — (cell, centroid array<float>) rows
  *   <root>/seg-<millis>-<uuid>/   — (id, cell) assignment parquet
  * }}}
  * The codebook is written once at build (a rebuild republishes everything);
  * `append` writes only the new batch's assignments — batch-proportional,
  * never corpus-proportional. Scale shape at search: the codebook broadcasts
  * (one row after re-collection), queries fan out to `nProbe` cells, the
  * candidate join shuffles on cell id only, and scoring touches candidate
  * embeddings alone.
  *
  * Correctness contract (AnnIndexSpec): the persisted codebook round-trips
  * parquet bit-for-bit (float arrays), appended vectors land in exactly the
  * cells a from-scratch assignment with the same codebook gives, and search
  * through the index equals the in-memory IVF search over the same
  * (codebook, assignments) — the index is a pure materialization.
  */
object AnnIndex {

  /** Train the codebook on `corpus`, persist it + the corpus assignments as
    * segment zero.
    */
  def build(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, embCol: String, nCells: Int = 16,
      lloydIters: Int = 2): Unit = {
    val cb = Similarity.ivfCodebook(corpus, idCol, embCol, nCells, lloydIters)
    // persist exploded (cell, centroid) rows; order inside the re-collected
    // codebook array is irrelevant (cell ranking sorts by (negdot, cell))
    cb.select(explode(col("cb")).as("s"))
      .select(col("s.cell").as("cell"), col("s.centroid").as("centroid"))
      .write.mode(SaveMode.Overwrite).parquet(new Path(root, "codebook").toString)
    Publish.startSegments(spark, root,
      writeAssignments(spark, root, corpus, idCol, embCol))
  }

  /** Assign one new batch with the PERSISTED codebook (no retrain — the
    * FAISS add()) and append its (id, cell) rows — plus PQ codes when the
    * index carries a PQ layer — as a new segment.
    */
  def append(spark: SparkSession, root: String, newVecs: DataFrame,
      idCol: String, embCol: String): Unit = {
    Publish.appendSegment(spark, root,
      writeAssignments(spark, root, newVecs, idCol, embCol))
  }

  /** [[build]] with the PQ layer — the persisted FAISS **IVFPQ** lifecycle:
    * beside the coarse codebook, `m` per-subspace codebooks (Lloyd over
    * sub-vectors, [[Similarity.pqCodebooks]]) are persisted under
    * `<root>/pq/` as (sub, cell, centroid) rows, and every segment stores
    * each vector's `m` codeword ids beside its coarse cell — so
    * [[searchPq]] serves queries from cells + codes ALONE, never touching
    * raw corpus embeddings (the 32× scan-bandwidth argument, made durable:
    * at 100 TB the embedding table stays cold storage, the index is the
    * read path). `append` detects the PQ layer and encodes new batches
    * with the STORED subspace codebooks — no retrain on either level.
    */
  def buildPq(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, embCol: String, nCells: Int = 16,
      lloydIters: Int = 2, m: Int = 8, nCodewords: Int = 16,
      dim: Int = 64): Unit = {
    val cb = Similarity.ivfCodebook(corpus, idCol, embCol, nCells, lloydIters)
    cb.select(explode(col("cb")).as("s"))
      .select(col("s.cell").as("cell"), col("s.centroid").as("centroid"))
      .write.mode(SaveMode.Overwrite).parquet(new Path(root, "codebook").toString)
    Similarity.pqCodebooks(corpus, idCol, embCol, m, nCodewords, dim, lloydIters)
      .select(explode(col("cb")).as("s"))
      .select(col("s.sub").as("sub"), col("s.cell").as("cell"),
        col("s.centroid").as("centroid"))
      .write.mode(SaveMode.Overwrite).parquet(new Path(root, "pq").toString)
    Publish.startSegments(spark, root,
      writeAssignments(spark, root, corpus, idCol, embCol))
  }

  /** The stored PQ codebooks re-collected to the one-row broadcast shape
    * ([[Similarity.pqEncode]]'s input), plus the layer's derived meta
    * (m, nCodewords, dim) read from the same rows — nothing is stored
    * that the codebook table doesn't already pin.
    */
  def readPqCodebooks(spark: SparkSession, root: String): (DataFrame, Int, Int, Int) = {
    val rows = spark.read.parquet(new Path(root, "pq").toString)
    val meta = rows.agg(
      (max(col("sub")) + 1).as("m"), (max(col("cell")) + 1).as("k"),
      max(size(col("centroid"))).as("sd")).head
    val (m, k, sd) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val cb = rows
      .agg(collect_list(struct(col("sub"), col("cell"), col("centroid"))).as("cb"))
    (cb, m, k, m * sd)
  }

  private def hasPqLayer(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, "pq")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** ADC search against the persisted IVFPQ index: queries rank the stored
    * coarse codebook's cells (broadcast, narrow), build their per-
    * (sub, codeword) partial-dot lookup table against the stored PQ
    * codebooks (broadcast, narrow), and score candidates from the stored
    * (cell, codes) segments ALONE — an m-term LUT fold per candidate, raw
    * corpus embeddings never read. Same output contract as [[search]];
    * deterministic GIVEN the stored codebooks (j-ascending LUT fold, ties
    * by neighbor id), so the registry row hash-oracles like the IVF serve
    * row.
    */
  def searchPq(spark: SparkSession, root: String, queries: DataFrame,
      queryIdCol: String, embCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val (pqCb, m, nCw, dim) = readPqCodebooks(spark, root)
    val sd = dim / m
    // the m·nCodewords LUT is computed ONCE per query on the deduplicated
    // projection — ivfAssignWith has already fanned each query to nProbe
    // (query, cell) rows, so building the map there repeated the fold
    // nProbe× and carried the result through the explode; the (query_id →
    // lut) table is batch-sized, so it joins back broadcast
    // r19: partial dots via the native fold (DotFF) and the per-candidate
    // score as one codegen'd map-ADC call — bit-identical scores (same
    // j-ascending 0.0-seeded fold), see Similarity.annPq
    val qlut = queries
      .select(col(queryIdCol).as("query_id"), col(embCol).as("__qe"))
      .crossJoin(broadcast(pqCb))
      .select(col("query_id"),
        Similarity.pqLutMap(nCw, sd, "cb", "__qe").as("lut"))
    val q = Similarity.ivfAssignWith(queries, embCol,
        col(queryIdCol).as("query_id"), nProbe, readCodebook(spark, root))
      .select(col("query_id"), col("cell"))
      .join(broadcast(qlut), Seq("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    readAssignments(spark, root)
      .select(col("id").as("neighbor_id"), col("cell"), col("codes"))
      .join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", org.apache.spark.sql.graft.natives
        .pqAdcScore(col("lut"), col("codes"), nCw))
      .select(col("query_id"), col("neighbor_id"), col("score")).distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The stored codebook, re-collected to the one-row broadcast shape every
    * assignment call expects.
    */
  def readCodebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(new Path(root, "codebook").toString)
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cb"))

  /** The standing (id, cell) assignment table — union of live segments. */
  def readAssignments(spark: SparkSession, root: String): DataFrame =
    Publish.segments(spark, root)
      .map(seg => spark.read.parquet(new Path(root, seg).toString))
      .reduce(_.unionByName(_))

  /** IVF search against the persisted index: queries rank the stored
    * codebook's cells (broadcast, narrow), probe their `nProbe` best cells
    * against the stored assignments (cell-keyed join — the only shuffle of
    * index data), and score candidates exactly against `corpus` embeddings
    * (id-keyed join touches candidates only). Emits (query_id, rank,
    * neighbor_id) — the [[Similarity.annIvf]] output contract.
    */
  def search(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, idCol: String, queryIdCol: String, embCol: String,
      k: Int, nProbe: Int = 4): DataFrame =
    searchWith(readCodebook(spark, root), readAssignments(spark, root),
      corpus, queries, idCol, queryIdCol, embCol, k, nProbe)

  /** The search kernel over EXPLICIT (codebook, assignments) — one
    * definition for the persisted path and the spec's in-memory control.
    */
  def searchWith(codebook: DataFrame, assignments: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String,
      queryIdCol: String, embCol: String, k: Int, nProbe: Int): DataFrame = {
    val q = Similarity.ivfAssignWith(queries, embCol,
        col(queryIdCol).as("query_id"), nProbe, codebook)
      .withColumnRenamed("__e", "__qe")
    val cand = q.join(assignments.select(col("id"), col("cell")), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id").asc)
    cand.join(corpus.select(col(idCol).as("id"), col(embCol).as("__ce")), Seq("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosineSim(col("__qe"), col("__ce")).as("cs"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Embedding near-dup ADMISSION against the persisted index — the
    * vector-side sibling of [[DedupIndex.admitNearDups]], completing the
    * two-lifecycle symmetry: each incoming vector ranks the STORED
    * codebook's cells (narrow, no retrain), candidates are the standing
    * vectors sharing its `nProbe` best cells (cell-keyed join against the
    * persisted assignments — the standing corpus is never re-assigned),
    * and the exact-cosine verify touches candidate embeddings only. Emits
    * the rejection pairs (a = incoming id, b = standing id, cos_sim ≥
    * threshold); admitted = incoming anti-joined on `a` — the
    * [[DedupIndex]] gate stance. Batch-proportional by construction:
    * per incoming vector ~nProbe·n/nCells candidates (O(√n) at the √n
    * cell rule), independent of how many batches built the index.
    * Deterministic GIVEN the stored codebook (the search/census
    * argument), so the registry row hash-oracles end-to-end; recall is
    * the IVF trade (candidates only from shared cells) — the exact
    * brute pair set is the spec's floor reference.
    */
  def admitNearDups(spark: SparkSession, root: String, incoming: DataFrame,
      corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double, nProbe: Int = 4): DataFrame = {
    val q = Similarity.ivfAssignWith(incoming, embCol, col(idCol).as("a"),
        nProbe, readCodebook(spark, root))
      .withColumnRenamed("__e", "__qe")
    q.join(readAssignments(spark, root).select(col("id").as("b"), col("cell")),
        Seq("cell"))
      .join(corpus.select(col(idCol).as("b"), col(embCol).as("__ce")), Seq("b"))
      .select(col("a"), col("b"), cosineSim(col("__qe"), col("__ce")).as("cs"))
      .dropDuplicates("a", "b")
      .filter(col("cs") >= threshold)
      .select(col("a"), col("b"), round(col("cs"), 4).as("cos_sim"))
  }

  /** Fold assignment segments into one and prune superseded dirs (the
    * [[DedupIndex.compact]] contract; the codebook is shared and untouched).
    */
  def compact(spark: SparkSession, root: String,
      retentionMs: Long = Materialize.PruneRetentionMs): Unit =
    Publish.compact(spark, root, retentionMs) { (live, seg) =>
      spark.read.parquet(live.map(s => new Path(root, s).toString): _*)
        .write.mode(SaveMode.Overwrite).parquet(new Path(root, seg).toString)
    }

  // ---- internals -------------------------------------------------------

  // build()/buildPq() write the codebook(s) before the first assignment,
  // so the stored artifacts are always present here; the PQ layer's codes
  // ride a batch-sized id join (never a corpus shuffle)
  private def writeAssignments(spark: SparkSession, root: String,
      vecs: DataFrame, idCol: String, embCol: String): String = {
    val seg = Publish.newSegment()
    val cells = Similarity.ivfAssignWith(vecs, embCol, col(idCol).as("id"), 1,
        readCodebook(spark, root))
      .select(col("id"), col("cell"))
    val out =
      if (hasPqLayer(spark, root)) {
        val (pqCb, m, _, dim) = readPqCodebooks(spark, root)
        cells.join(
          Similarity.pqEncode(vecs, idCol, embCol, pqCb, m, dim, "id"),
          Seq("id"))
      } else cells
    out.write.mode(SaveMode.Overwrite).parquet(new Path(root, seg).toString)
    seg
  }
}
