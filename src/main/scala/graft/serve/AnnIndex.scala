package graft.serve

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * never corpus-proportional. Scale shape at search: the codebooks are
  * resident — collected to the driver once per stored version (the build
  * seeds them, so its own JVM never reads them back) and broadcast from a
  * one-row local relation, so a warm search runs no job for them; each
  * segment is read with its memoized schema (no footer-inference job);
  * queries fan out to `nProbe` cells, the candidate join is on cell id
  * only, scoring touches candidate embeddings alone, and the top-k is one
  * exchange on query id ([[Similarity.topKPerQuery]]). A warm `search`
  * over small segments and a small query batch runs five jobs: the
  * broadcasts of the codebook, the assignments and the corpus embeddings,
  * the ranking exchange and the result; `searchPq` reads no embeddings and
  * runs four.
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
    persist(spark, root, Coarse,
      Similarity.ivfCodebook(corpus, idCol, embCol, nCells, lloydIters))
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
    persist(spark, root, Coarse,
      Similarity.ivfCodebook(corpus, idCol, embCol, nCells, lloydIters))
    persist(spark, root, Pq,
      Similarity.pqCodebooks(corpus, idCol, embCol, m, nCodewords, dim, lloydIters))
    Publish.startSegments(spark, root,
      writeAssignments(spark, root, corpus, idCol, embCol))
  }

  /** The stored PQ codebooks re-collected to the one-row broadcast shape
    * ([[Similarity.pqEncode]]'s input), plus the layer's derived meta
    * (m, nCodewords, dim) read from the same rows — nothing is stored
    * that the codebook table doesn't already pin.
    */
  def readPqCodebooks(spark: SparkSession, root: String): (DataFrame, Int, Int, Int) = {
    val rows = resident(spark, root, Pq)
    val (m, k, dim) = pqMeta(rows)
    (oneRow(spark, "cb" -> (Pq, rows)), m, k, dim)
  }

  private def pqMeta(rows: Seq[Row]): (Int, Int, Int) = {
    val m = rows.map(_.getInt(0)).max + 1
    (m, rows.map(_.getInt(1)).max + 1, m * rows.map(_.getSeq[Float](2).size).max)
  }

  private def hasPqLayer(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, "pq")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** ADC search against the persisted IVFPQ index: queries rank the stored
    * coarse codebook's cells and build their per-(sub, codeword) partial-dot
    * lookup table against the stored PQ codebooks (both codebooks in one
    * broadcast row, narrow), and score candidates from the stored
    * (cell, codes) segments ALONE — an m-term LUT fold per candidate, raw
    * corpus embeddings never read. Same output contract as [[search]];
    * deterministic GIVEN the stored codebooks (j-ascending LUT fold, ties
    * by neighbor id), so the registry row hash-oracles like the IVF serve
    * row.
    */
  def searchPq(spark: SparkSession, root: String, queries: DataFrame,
      queryIdCol: String, embCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val pq = resident(spark, root, Pq)
    val (m, nCw, dim) = pqMeta(pq)
    // both codebooks ride ONE broadcast row, and the m·nCodewords LUT is
    // computed once per query, before the explode fans the query out to its
    // nProbe cells (ranked by Similarity.coarseRankExpr, as ivfAssignWith
    // ranks them)
    // r19: partial dots via the native fold (DotFF) and the per-candidate
    // score as one codegen'd map-ADC call — bit-identical scores (same
    // j-ascending 0.0-seeded fold), see Similarity.annPq
    val q = queries
      .select(col(queryIdCol).as("query_id"), col(embCol).as("__qe"))
      .crossJoin(broadcast(oneRow(spark,
        "coarse_cb" -> (Coarse, resident(spark, root, Coarse)), "cb" -> (Pq, pq))))
      .select(col("query_id"),
        Similarity.pqLutMap(nCw, dim / m, "cb", "__qe").as("lut"),
        slice(Similarity.coarseRankExpr("coarse_cb", "__qe"), 1, nProbe).as("cells"))
      .select(col("query_id"), col("lut"), explode(col("cells")).as("sc"))
      .select(col("query_id"), col("sc.cell").as("cell"), col("lut"))
    Similarity.topKPerQuery(readAssignments(spark, root)
      .select(col("id").as("neighbor_id"), col("cell"), col("codes"))
      .join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), org.apache.spark.sql.graft.natives
        .pqAdcScore(col("lut"), col("codes"), nCw).as("score")), "score", k)
  }

  /** The stored codebook in the one-row broadcast shape every assignment
    * call expects, as a local relation over the resident rows.
    */
  def readCodebook(spark: SparkSession, root: String): DataFrame =
    oneRow(spark, "cb" -> (Coarse, resident(spark, root, Coarse)))

  /** The standing (id, cell) assignment table — union of live segments,
    * each read with its schema as first inferred (segments are immutable).
    */
  def readAssignments(spark: SparkSession, root: String): DataFrame =
    Publish.segments(spark, root).map { seg =>
      val dir = new Path(root, seg).toString
      spark.read.schema(segmentSchemas(spark, dir)(_ => spark.read.parquet(dir).schema))
        .parquet(dir)
    }.reduce(_.unionByName(_))

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
    Similarity.topKPerQuery(
      cand.join(corpus.select(col(idCol).as("id"), col(embCol).as("__ce")), Seq("id"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          cosineSim(col("__qe"), col("__ce")).as("cs")), "cs", k)
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

  /** A stored codebook table: its directory under the root, its (fixed)
    * row schema, and the memo of its rows per stored version.
    */
  private final class Book(val dir: String, val schema: StructType) {
    val rows = new Publish.FileMemo[Seq[Row]]
  }
  private val Coarse = new Book("codebook", StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(FloatType)))))
  private val Pq = new Book("pq", StructType(StructField("sub", IntegerType) +: Coarse.schema))

  private val segmentSchemas = new Publish.FileMemo[StructType]

  /** The rows of `book` under `root`, collected once per stored version. */
  private def resident(spark: SparkSession, root: String, book: Book): Seq[Row] = {
    val dir = new Path(root, book.dir).toString
    book.rows(spark, dir)(_ => spark.read.schema(book.schema).parquet(dir).collect().toSeq)
  }

  // the one-row broadcast shape: one column per named book, holding its
  // rows as array<struct<…book columns…>>
  private def oneRow(spark: SparkSession, books: (String, (Book, Seq[Row]))*): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(books.map(_._2._2): _*)),
      StructType(books.map { case (name, (book, _)) =>
        StructField(name, ArrayType(book.schema, containsNull = false), nullable = false) }))

  // collect a trained one-row codebook, store its rows (one file, in array
  // order; the order is irrelevant to readers, which rank by (score, cell))
  // and seed the memo with them, so the assignment pass reads nothing back
  private def persist(spark: SparkSession, root: String, book: Book,
      trained: DataFrame): Unit = {
    val rows = trained.head().getSeq[Row](0)
    val dir = new Path(root, book.dir).toString
    spark.createDataFrame(rows.asJava, book.schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    book.rows.seed(spark, dir, rows)
  }

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
