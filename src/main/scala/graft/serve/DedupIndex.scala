package graft.serve

import java.io.ByteArrayInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.operators.Dedup

/** Persisted STANDING-INDEX lifecycle for incremental dedup — the piece that
  * turns the per-run recompute in [[graft.operators.Dedup.crossNearDupMinHash]]
  * / `StreamJobs.nearDupGateStream` into a production admission loop at
  * 100 TB: the standing corpus's MinHash band signatures and exact-key Bloom
  * sketch are materialized ONCE as versioned segments, and each admission
  * batch (a daily crawl, tiny next to the corpus) reads the index, band-joins
  * NEW→persisted-OLD, verifies exactly, then APPENDS only the admitted docs'
  * signatures — the corpus text is never re-sketched.
  *
  * Layout (the [[Materialize]] `_CURRENT`-pointer idiom, applied to a
  * manifest instead of a single snapshot):
  * {{{
  *   <root>/_MANIFEST            — newline-separated live segment names
  *   <root>/seg-<millis>-<uuid>/bands/     (idCol, band, bh) parquet
  *   <root>/seg-<millis>-<uuid>/shingles/  (idCol, ss sorted-hash array)
  *   <root>/seg-<millis>-<uuid>/bloom/     one row (num_bits, n_keys, bytes)
  * }}}
  * The manifest is a [[Publish]] segment list, so a reader mid-admission
  * keeps a complete segment list and `append` assumes one writer per index;
  * [[compact]] folds all live segments into one (bands unioned, Bloom
  * sketches merged via Spark's own `BloomFilter.mergeInPlace` — exact bitset
  * union because every segment is sized with the manifest-pinned numBits)
  * and prunes superseded segments past a retention floor.
  *
  * Correctness contract (DedupIndexSpec pins it): admission through the
  * persisted index ≡ [[Dedup.crossNearDupMinHash]]'s recompute admission
  * bit-for-bit, across appends and after compaction — because the index
  * stores exactly the [[Dedup.textBands]] rows the recompute would build and
  * the band join is the SAME code path ([[Dedup.crossBandPairsOnBands]]).
  */
object DedupIndex {

  /** Bloom sizing is pinned at build time and reused by every append, so
    * segment sketches stay OR-mergeable (mergeInPlace requires identical
    * numBits/numHashFunctions). Size for the corpus's EXPECTED END STATE,
    * not its current size — 1.2 MB per 10⁶ keys at 1% FPP; admission
    * correctness never depends on FPP (every "maybe" is exactly verified).
    */
  final case class Params(numHashes: Int = 16, rowsPerBand: Int = 4,
      shingleN: Int = 3, expectedItems: Long = 1000000L, fpp: Double = 0.01)

  /** Build the index from scratch: one segment holding the standing corpus's
    * band table + key Bloom, manifest pointed at it alone.
    */
  def build(spark: SparkSession, root: String, standing: DataFrame,
      idCol: String, textCol: String, p: Params = Params()): Unit = {
    Publish.startSegments(spark, root,
      writeSegment(spark, root, standing, idCol, textCol, p))
  }

  /** Append one admitted batch's signatures as a new segment (the docs that
    * passed admission and now JOIN the standing corpus). Cheap by design —
    * proportional to the batch, never the corpus.
    */
  def append(spark: SparkSession, root: String, admitted: DataFrame,
      idCol: String, textCol: String, p: Params = Params()): Unit = {
    // fail at WRITE time if the caller's Params derive a different Bloom
    // sizing than the manifest-pinned segments: a mismatched segment would
    // only surface later inside readBloom as mergeInPlace's
    // IncompatibleMergeException — far from the append that caused it
    val pinnedBits = readBloomMeta(spark, root)._1
    val newBits = bloomNumBits(p)
    require(newBits == pinnedBits,
      s"DedupIndex.append: Params(expectedItems=${p.expectedItems}, fpp=${p.fpp}) " +
        s"derive numBits=$newBits but the index's segments are pinned at " +
        s"numBits=$pinnedBits — segment Blooms must be sized identically to " +
        "stay mergeable; pass the build-time Params")
    Publish.appendSegment(spark, root,
      writeSegment(spark, root, admitted, idCol, textCol, p))
  }

  /** The standing corpus's band table — union of all live segments. */
  def readBands(spark: SparkSession, root: String): DataFrame =
    Publish.segments(spark, root)
      .map(seg => spark.read.parquet(new Path(root, s"$seg/bands").toString))
      .reduce(_.unionByName(_))

  /** The standing corpus's shingle-hash table — union of all live segments.
    * With this third artifact, admission touches the corpus TEXT never:
    * candidates come from the persisted bands, the verify from the
    * persisted shingle sets (semi-joined down to candidates first).
    */
  def readShingles(spark: SparkSession, root: String): DataFrame =
    Publish.segments(spark, root)
      .map(seg => spark.read.parquet(new Path(root, s"$seg/shingles").toString))
      .reduce(_.unionByName(_))

  /** The standing corpus's exact-key Bloom — segment sketches merged via
    * BloomFilter.mergeInPlace (bitset union; identical sizing enforced by
    * construction). Driver-side KBs, the [[Dedup.buildKeyBloom]] shape.
    */
  def readBloom(spark: SparkSession, root: String): Option[Array[Byte]] = {
    val parts = Publish.segments(spark, root).flatMap { seg =>
      spark.read.parquet(new Path(root, s"$seg/bloom").toString)
        .select(col("bytes")).collect().map(_.getAs[Array[Byte]]("bytes"))
    }.filter(_.nonEmpty) // an empty-cohort segment stores a zero-byte marker
    parts.map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
      .map { bf =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
      }
  }

  /** Near-dup admission against the PERSISTED index: incoming bands are
    * computed (one narrow pass over the batch), the standing side is read
    * back — never re-sketched — and the verify touches only candidate
    * standing docs (semi-joined inside [[Dedup.jaccardOnPairs]]). Emits the
    * rejection pairs (a = incoming id, b = standing id, jaccard ≥ threshold);
    * admitted = incoming anti-joined on `a`. Bit-equal to
    * [[Dedup.crossNearDupMinHash]] on the same cohorts by construction.
    */
  def admitNearDups(spark: SparkSession, root: String, incoming: DataFrame,
      standing: DataFrame, idCol: String, textCol: String,
      p: Params = Params(), threshold: Double = 0.6,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val nb = Dedup.textBands(incoming, idCol, textCol,
      p.numHashes, p.rowsPerBand, p.shingleN)
    val pairs = Dedup.crossBandPairsOnBands(nb, readBands(spark, root),
      idCol, maxBucketSize).localCheckpoint()
    Dedup.jaccardOnPairs(pairs, incoming.unionByName(standing),
        idCol, textCol, p.shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** [[admitNearDups]] with the verify ALSO served from the index — the
    * fully-materialized admission: candidate generation reads the persisted
    * bands, the exact-Jaccard verify reads the persisted shingle sets, and
    * the standing corpus TEXT is never touched at all. Bit-equal to the
    * recompute path because the stored shingles are the same
    * [[Dedup.textShingles]] rows the batch path hashes inline.
    */
  def admitNearDupsIndexOnly(spark: SparkSession, root: String,
      incoming: DataFrame, idCol: String, textCol: String,
      p: Params = Params(), threshold: Double = 0.6,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val nb = Dedup.textBands(incoming, idCol, textCol,
      p.numHashes, p.rowsPerBand, p.shingleN)
    val pairs = Dedup.crossBandPairsOnBands(nb, readBands(spark, root),
      idCol, maxBucketSize).localCheckpoint()
    val sh = Dedup.textShingles(incoming, idCol, textCol, p.shingleN)
      .unionByName(readShingles(spark, root))
    Dedup.jaccardOnPairsShingles(pairs, sh, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact-dup admission via the persisted Bloom: rows of `incoming` whose
    * `keyCol` is definitely-new stream through the narrow probe; the maybe
    * sliver verifies against `oldKeys` exactly ([[Dedup.antiJoinBloom]] —
    * result exact at any FPP).
    */
  def admitExact(spark: SparkSession, root: String, incoming: DataFrame,
      oldKeys: DataFrame, keyCol: String): DataFrame =
    Dedup.antiJoinBloom(incoming, oldKeys, keyCol, readBloom(spark, root))

  /** Fold all live segments into one (bands unioned, Blooms merged), point
    * the manifest at the merged segment, prune superseded segment dirs past
    * `retentionMs` (readers holding the old manifest finish their scan —
    * the [[Materialize.PruneRetentionMs]] argument).
    */
  def compact(spark: SparkSession, root: String,
      retentionMs: Long = Materialize.PruneRetentionMs): Unit =
    Publish.compact(spark, root, retentionMs) { (live, seg) =>
      Seq("bands", "shingles").foreach { part =>
        spark.read.parquet(live.map(s => new Path(root, s"$s/$part").toString): _*)
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(root, s"$seg/$part").toString)
      }
      writeBloomRow(spark, root, seg, readBloom(spark, root),
        readBloomMeta(spark, root))
    }

  // ---- internals -----------------------------------------------------

  private def bloomNumBits(p: Params): Long =
    math.ceil(-p.expectedItems * math.log(p.fpp) /
      (math.log(2) * math.log(2))).toLong.max(64L)

  private def writeSegment(spark: SparkSession, root: String, docs: DataFrame,
      idCol: String, textCol: String, p: Params): String = {
    val seg = Publish.newSegment()
    Dedup.textBands(docs, idCol, textCol, p.numHashes, p.rowsPerBand, p.shingleN)
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(root, s"$seg/bands").toString)
    Dedup.textShingles(docs, idCol, textCol, p.shingleN)
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(root, s"$seg/shingles").toString)
    // numBits from the PINNED Params — every segment sized identically so
    // sketches stay mergeable (the ⌈−n·ln(fpp)/ln²2⌉ sizing of buildKeyBloom)
    val numBits = bloomNumBits(p)
    import org.apache.spark.sql.graft.natives
    val bytes = Option(docs
      .agg(natives.bloomAgg(xxhash64(col(textCol)), p.expectedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf"))
    writeBloomRow(spark, root, seg, bytes, (numBits, p.expectedItems))
    seg
  }

  private def writeBloomRow(spark: SparkSession, root: String, seg: String,
      bytes: Option[Array[Byte]], meta: (Long, Long)): Unit = {
    import spark.implicits._
    Seq((meta._1, meta._2, bytes.getOrElse(Array.empty[Byte])))
      .toDF("num_bits", "n_keys", "bytes")
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(root, s"$seg/bloom").toString)
  }

  private def readBloomMeta(spark: SparkSession, root: String): (Long, Long) = {
    val r = spark.read.parquet(Publish.segments(spark, root)
        .map(s => new Path(root, s"$s/bloom").toString): _*)
      .agg(max(col("num_bits")), sum(col("n_keys"))).head
    (r.getLong(0), r.getLong(1))
  }
}
