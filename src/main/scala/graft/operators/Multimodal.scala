package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * The Spark-side shape is real and tested — schema, partitioning, the
  * batched `mapPartitions` stage (Scala's analog of a pandas-batch UDF: one
  * iterator per partition, so per-partition codec state is amortized across
  * rows). The codec tier is real where the JDK ships one: images decode via
  * `javax.imageio` (PNG/JPEG/GIF/BMP — format, width, height read from the
  * header without materializing pixels) and audio via `javax.sound.sampled`
  * (WAV/AIFF/AU — type, channels, sample rate). Video, which has no JDK
  * codec, and undecodable payloads fall back to `stubDecode`'s deterministic
  * byte-derived features; swapping in a full codec (e.g. ffmpeg bindings)
  * changes only `decodeOne`.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
      checksum: Long, features: Array[Float])

  /** Deterministic media table derived from documents: payload = UTF-8 bytes
    * of the text, kind round-robins image/audio/video. Stands in for a real
    * parquet-of-blobs table; schema and scale behavior are identical.
    */
  def toMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Windowed energy extraction over the payload read as 16-bit
    * little-endian samples — the FEATURE-EXTRACT verb of the multimodal
    * stub family (decodeMeta = probe, frameSample = sample, dHash =
    * perceptual hash). The sample decode is real byte plumbing, not a
    * library call: sample_k = byte(2k−1) + 256·byte(2k), folded per
    * `windowChars`-byte window into one integer energy — pure codegen'd
    * column expressions, zero shuffle until the caller aggregates. A
    * production pipeline swaps the two-byte fold for a codec UDF
    * (mapInPandas batch shape) and keeps the windowing unchanged. The
    * ASCII corpus makes byte positions ≡ char positions (the frameSample
    * argument), so the per-window energies are DuckDB-replayable.
    * Windows are COMPLETE only (len div windowChars); a trailing partial
    * window is not a valid sample frame and is dropped, unlike
    * frameSample's tail chunk.
    */
  def audioEnergy(media: DataFrame, windowChars: Int = 32): DataFrame = {
    val txt = col("payload").cast("string")
    val nW = floor(length(txt) / windowChars).cast("int")
    val wins = when(nW > 0, transform(sequence(lit(0), nW - 1),
      w => txt.substr(w * windowChars + 1, lit(windowChars))))
      .otherwise(array().cast("array<string>"))
    media
      .select(col("doc_id"), col("kind"),
        posexplode(wins).as(Seq("window_idx", "win")))
      .select(col("doc_id"), col("kind"),
        col("window_idx").cast("int").as("window_idx"),
        aggregate(
          transform(sequence(lit(1), lit(windowChars)),
            i => ascii(col("win").substr(i, lit(1))).cast("long") *
              when(pmod(i, lit(2)) === 1, lit(1L)).otherwise(lit(256L))),
          lit(0L), (a, x) => a + x).as("energy"))
  }

  /** STUB decoder — a real implementation would hand `payload` to an image/
    * audio codec here (per-partition init, batch decode). The fake is
    * deterministic: byte count, a rolling checksum, and the first 16 bytes
    * scaled to floats stand in for decoded features/embeddings.
    */
  def stubDecode(m: MediaRow): MediaFeatures = {
    var checksum = 1469598103934665603L // FNV offset basis
    var i = 0
    while (i < m.payload.length) {
      checksum = (checksum ^ (m.payload(i) & 0xFF)) * 1099511628211L
      i += 1
    }
    val features = Array.tabulate(math.min(16, m.payload.length)) { j =>
      (m.payload(j) & 0xFF) / 255.0f
    }
    MediaFeatures(m.doc_id, m.kind, m.payload.length, checksum, features)
  }

  /** Batched decode stage: one partition = one codec session. */
  def decodeFeatures(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // real codec init would happen once per partition here
      rows.map(stubDecode)
    }
  }

  /** Decoded per-object metadata. `format` is the codec's own name ("png",
    * "wave", …; empty when no JDK codec decoded the payload). `dim1`/`dim2`
    * are kind-dependent: width × height for images, channels × sample rate
    * for audio, -1 × -1 for the stub fallback.
    */
  case class MediaMeta(doc_id: Long, kind: String, n_bytes: Int, checksum: Long,
      format: String, dim1: Int, dim2: Int, features: Array[Float])

  /** Real header decode for one object; stub fallback for video/undecodable
    * bytes. Header-only on purpose: at 100 TB the metadata pass must not
    * materialize pixel buffers — `ImageReader.getWidth/getHeight` parse the
    * stream header, so cost is O(header), not O(pixels).
    */
  def decodeOne(m: MediaRow): MediaMeta = {
    val base = stubDecode(m)
    val header = m.kind match {
      case "image" => decodeImageHeader(m.payload)
      case "audio" => decodeAudioHeader(m.payload)
      case _       => None
    }
    val (fmt, d1, d2) = header.getOrElse(("", -1, -1))
    MediaMeta(m.doc_id, m.kind, base.n_bytes, base.checksum, fmt, d1, d2, base.features)
  }

  /** (format, width, height) from an image byte stream via javax.imageio,
    * or None if no installed reader claims the bytes.
    */
  def decodeImageHeader(payload: Array[Byte]): Option[(String, Int, Int)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    // null when no ImageInputStreamSpi is registered (stripped-down JRE) —
    // fall through to the caller's stub tier instead of NPE-ing in finally
    if (iis == null) return None
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
        } catch { case scala.util.control.NonFatal(_) => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** (type, channels, sample rate) from an audio byte stream via
    * javax.sound.sampled (WAV/AIFF/AU headers), or None.
    */
  def decodeAudioHeader(payload: Array[Byte]): Option[(String, Int, Int)] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      Some((aff.getType.toString.toLowerCase,
        aff.getFormat.getChannels, aff.getFormat.getSampleRate.toInt))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batched metadata decode: the real-codec analog of `decodeFeatures` —
    * one partition = one codec session (`ImageIO` plugin lookup is cached
    * per JVM; the disk cache is disabled so byte-array streams stay on-heap).
    */
  def decodeMeta(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map(decodeOne)
    }
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the payload (the
    * video-frame analog). Pure column expressions — no UDF.
    */
  def frameSample(media: DataFrame, chunkBytes: Int, stride: Int): DataFrame =
    media.select(col("doc_id"), col("kind"),
      filter(
        transform(
          sequence(lit(0), greatest((length(col("payload")) / chunkBytes).cast("int") - 1, lit(0))),
          i => substring(col("payload"), (i * chunkBytes + 1).cast("int"), lit(chunkBytes))),
        (_, i) => i % stride === 0).as("frames"))

  /** "Resize": clamp payloads to `targetBytes` (truncate; right-pad with
    * zero bytes when shorter) and record the original size in metadata —
    * the byte-level shape of a real resize/transcode stage.
    */
  /** The 7×10 cell grid feeding [[dHash63]]: byte values of the payload's
    * first 70 positions (right-padded with spaces below 70). This is the
    * labeled STUB-decode tier (class doc): the production pipeline
    * substitutes the decoded 7×10 luma thumbnail at exactly this column
    * and nothing downstream (hashing, banding, Hamming verify, oracle
    * arithmetic) changes. A fixed window — not length-rescaled
    * sampling — because raw text bytes have no spatial correlation:
    * rescaled offsets shift wholesale under a trailing edit and the
    * sketch never collides (measured: 0 pairs), while the fixed window
    * is invariant to the append/trailing-edit duplicate class, which is
    * what a thumbnail is to a re-encode.
    */
  def dHashCells(text: Column): Column = {
    val t2 = rpad(text, 70, " ")
    array((1 to 70).map(k => ascii(substring(t2, k, 1))): _*)
  }

  /** 63-bit difference hash (dHash) over a [[dHashCells]] grid column —
    * bit (r, c) = "cell brighter than its right neighbor" over 7 rows ×
    * 9 comparisons: the perceptual-near-dup sketch (gradient pattern,
    * not absolute values, so a uniform brightness shift changes nothing).
    * 63 bits, not 64, keeps every shift inside the signed range on both
    * engines (the hilbertIndex order-15 argument). Pass the cells as a
    * MATERIALIZED column — the hash references the grid 126 times.
    */
  def dHash63(cellsCol: String): Column = dHash63Of(col(cellsCol))

  /** [[dHash63]] over an arbitrary cells COLUMN (e.g. a lambda variable
    * inside `transform` — the array-native per-frame form). Same 63
    * comparison terms; pass a MATERIALIZED cells array, the hash
    * references it 126 times.
    */
  def dHash63Of(cells: Column): Column = {
    val bits = for (r <- 0 until 7; c <- 0 until 9) yield
      when(element_at(cells, r * 10 + c + 1) >
          element_at(cells, r * 10 + c + 2),
        lit(1L << (r * 9 + c))).otherwise(lit(0L))
    bits.reduce(_ + _)
  }

  /** [[dHash63]] directly over a text column, in ONE native call
    * (NativeKernels.dhash63Text, r20) — on non-NULL text the same value
    * as [[dHashCells]]+[[dHash63Of]] cell for cell, with no intermediate
    * cells array: that form explodes when the optimizer inlines the hash
    * into a pushed-down predicate, because `element_at(array(70 cells), i)`
    * is NOT simplified and every one of the 126 references drags the whole
    * array construction along (measured: a 325 KB filter condition and a
    * codegen OOM in the shot-dedup chain). It also replaced a ~140-node
    * rpad/substring/ascii comparison tree; MultimodalSpec pins parity
    * against that tree, incl. multi-byte, short and NULL inputs. The
    * dominant win is sceneCuts, which evaluates the hash twice per frame
    * pair.
    *
    * NULL text hashes to NULL, where both Column forms give 0L: a 0
    * signature would put every NULL-text row in the same band buckets, a
    * near-duplicate of every other, while a NULL one joins nothing.
    */
  def dHash63Text(text: Column): Column =
    org.apache.spark.sql.graft.natives.dhash63Text(text)

  /** Scene-change detection, SHUFFLE-FREE: per media row, pair each
    * sampled frame with its successor INSIDE the frames array (one cheap
    * `zip_with` building (prev, next) structs — the only interpreted
    * higher-order step, deliberately trivial per element because Spark
    * HOFs are CodegenFallback), explode the pairs, then run the 126-term
    * dHash comparison per exploded row in WHOLE-STAGE CODEGEN and emit
    * the Hamming distance with a cut flag at `threshold`. Zero exchanges:
    * the windowed first cut shuffled every (doc, frame) row just to lag
    * within a doc (and a fully array-native cut paid interpreted HOF
    * evaluation for the hash itself — measured 2.8× slower than the
    * window; this form keeps the heavy arithmetic codegen'd at the cost
    * of hashing each interior frame twice). Stateless per file ⇒ the SAME
    * definition runs under Structured Streaming in append mode
    * ([[graft.streaming.StreamJobs.sceneChangeStream]]).
    */
  def sceneCuts(media: DataFrame, chunkBytes: Int, stride: Int,
      threshold: Int): DataFrame =
    frameSample(media, chunkBytes, stride)
      .withColumn("__pairs", zip_with(
        slice(col("frames"), lit(1), greatest(size(col("frames")) - 1, lit(0))),
        slice(col("frames"), lit(2), greatest(size(col("frames")) - 1, lit(0))),
        (a, b) => struct(a.cast("string").as("pa"), b.cast("string").as("pb"))))
      .select(col("doc_id"), posexplode(col("__pairs")).as(Seq("__p", "pr")))
      .select(col("doc_id"), (col("__p") + 1).cast("int").as("frame_idx"),
        bit_count(dHash63Text(col("pr.pa")).bitwiseXOR(dHash63Text(col("pr.pb"))))
          .cast("long").as("hamming"))
      .withColumn("is_cut", col("hamming") >= threshold)

  /** Banded candidate pairs over a perceptual-hash column — the LSH move
    * for Hamming space: split the hash into `numBands` contiguous
    * `bandBits`-bit bands, bucket-join on (band, value), keep each
    * unordered pair once. Pigeonhole gives GUARANTEED recall for pairs
    * within Hamming distance `numBands − 1` (that few differing bits
    * cannot touch every band); beyond that recall is probabilistic and
    * the caller's exact bit_count(xor) verify decides. The default 4×16
    * matches [[dHash63]]'s 63-bit sketch (top band carries 15 bits).
    * Scale shape: the join shuffles band keys, never hash pairs — cost is
    * bounded by bucket occupancy exactly like MinHash banding, and like
    * MinHash banding it needs the hot-bucket guard ([[BandFront]],
    * published as `phash_hot_buckets`): a degenerate constant-phash cluster
    * (many short payloads hashing identically — the saturation class the
    * shot-dedup probe measured at 65k candidates from 361 shots) otherwise
    * emits m²/2 pairs onto one reducer.
    */
  def phashBandPairs(d: DataFrame, idCol: String, hashCol: String,
      numBands: Int = 4, bandBits: Int = 16,
      maxBucketSize: Int = graft.operators.Dedup.DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame =
    BandFront.selfPairs(phashBands(d, idCol, hashCol, numBands, bandBits), idCol,
      Seq("band", "bv"), "phash_hot_buckets", maxBucketSize,
      BandFront.policy(failOnOverCap))

  /** [[phashBandPairs]] across two cohorts: NEW→OLD band collisions only
    * — no new×new or old×old pairing (the incremental-admission shape,
    * mirroring Dedup.crossNearDupMinHash's band join). Emits (a = new id,
    * b = old id) distinct. The standing side carries the [[BandFront]]
    * guard, published as `cross_phash_hot_buckets`.
    */
  def phashBandPairsAcross(newD: DataFrame, oldD: DataFrame, idCol: String,
      hashCol: String, numBands: Int = 4, bandBits: Int = 16,
      maxBucketSize: Int = graft.operators.Dedup.DefaultMaxBucketSize,
      failOnOverCap: Boolean = false): DataFrame =
    BandFront.crossPairs(phashBands(newD, idCol, hashCol, numBands, bandBits),
      phashBands(oldD, idCol, hashCol, numBands, bandBits), idCol,
      Seq("band", "bv"), "cross_phash_hot_buckets", maxBucketSize,
      BandFront.policy(failOnOverCap))

  /** (id, band, bv) straight from a perceptual-hash column — the
    * [[graft.operators.Dedup.textBands]] analog for Hamming space, exposed
    * for stream-static joins (the streaming mm alignment gate precomputes
    * the standing corpus's image bands with this): a narrow band explode,
    * stateless and streaming-safe.
    */
  def phashBands(d: DataFrame, idCol: String, hashCol: String,
      numBands: Int = 4, bandBits: Int = 16): DataFrame = {
    val mask = (1L << bandBits) - 1
    d.select(col(idCol),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask)).as("bv"))): _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** Shot table from the scene-cut stream: frames partition into maximal
    * runs between cuts — (doc_id, shot_id, start_f, end_f, n_frames).
    * Built from the SPARSE boundary rows, not the frame table: shot
    * starts = frame 0 ∪ cut frames ([[sceneCuts]] is the one definition
    * of "cut"), end = next start − 1 (last shot ends at the doc's final
    * kept frame, from the frames-array size — a doc-grain join, never a
    * frame-grain shuffle). The per-doc windows run over shot-boundary
    * rows only.
    */
  def shotTable(media: DataFrame, chunkBytes: Int, stride: Int,
      cutThreshold: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // doc-count-sized and referenced twice (the shot-starts union and the
    // last-shot-end join) — checkpoint so the frames-array build (an
    // interpreted HOF) runs once
    val nFrames = frameSample(media, chunkBytes, stride)
      .select(col("doc_id"), size(col("frames")).as("__nf"))
      .filter(col("__nf") > 0)
      .localCheckpoint()
    val starts = sceneCuts(media, chunkBytes, stride, cutThreshold)
      .filter(col("is_cut")).select(col("doc_id"), col("frame_idx"))
      .unionByName(nFrames.select(col("doc_id"), lit(0).as("frame_idx")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    starts
      .withColumn("shot_id", (row_number().over(w) - 1).cast("long"))
      .withColumn("__next", lead(col("frame_idx"), 1).over(w))
      .join(nFrames, Seq("doc_id"))
      .select(col("doc_id"), col("shot_id"),
        col("frame_idx").as("start_f"),
        coalesce(col("__next") - 1, col("__nf") - 1).as("end_f"))
      .withColumn("n_frames", col("end_f") - col("start_f") + 1)
  }

  /** Shot-level video near-dup — the segmentation composed with banded
    * Hamming dedup: per shot a 63-bit dHash signature over the shot's
    * OPENING 70 payload bytes (the shot-thumbnail move; NOT the padded
    * 32-byte first frame, whose constant pad zeroes the high hash bits
    * and saturates every band — measured: 65k candidates from 361 shots
    * vs 336 with the opening window), banded 4×16 via
    * [[phashBandPairs]] over a packed (doc, shot) key, exact Hamming ≤
    * `maxHamming` verify. Finds re-used clips ACROSS videos and repeated
    * shots within one — the frame-level q_x_phash_dedup move lifted to
    * the segment grain a video-dedup pipeline actually works at.
    * Packing headroom guarded like the compaction planner (the oracle
    * replays the same packing, so the gate could not catch a silent
    * wrap).
    */
  def shotDedup(media: DataFrame, chunkBytes: Int, stride: Int,
      cutThreshold: Int, maxHamming: Int,
      failOnOverCap: Boolean = false): DataFrame = {
    val PackBase = 1000000L
    val shots = shotTable(media, chunkBytes, stride, cutThreshold)
    val sigs = shots
      .join(media.select(col("doc_id"), col("payload")), Seq("doc_id"))
      .withColumn("__open", substring(col("payload").cast("string"),
        // kept frame k is raw chunk k·stride → byte offset k·stride·chunkBytes
        (col("start_f") * (stride * chunkBytes) + 1).cast("int"), lit(70)))
      .select(
        when(assert_true(col("shot_id") < PackBase &&
               col("doc_id") <= lit(Long.MaxValue / PackBase - 1),
             lit("shotDedup: (doc_id, shot_id) exceeds the packed-key headroom"))
            .isNull,
          col("doc_id") * PackBase + col("shot_id")).as("sid"),
        dHash63Text(col("__open")).as("sig"))
    // shot-count-sized and referenced THREE times (band self-join + two
    // verify rejoins) — checkpoint once or the whole cut/segment chain
    // re-executes per reference (the minhash-family stance; measured
    // 5.0 s → 1.6 s at sf0.1)
    val ph = sigs.select(col("sid"), col("sig")).localCheckpoint()
    phashBandPairs(ph, "sid", "sig", failOnOverCap = failOnOverCap)
      .join(ph.select(col("sid").as("a"), col("sig").as("__sa")), Seq("a"))
      .join(ph.select(col("sid").as("b"), col("sig").as("__sb")), Seq("b"))
      .select(col("a"), col("b"),
        expr("bit_count(__sa ^ __sb)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(
        expr(s"a div $PackBase").as("a_doc"), expr(s"a % $PackBase").as("a_shot"),
        expr(s"b div $PackBase").as("b_doc"), expr(s"b % $PackBase").as("b_shot"),
        col("hamming"))
  }

  def resize(media: DataFrame, targetBytes: Int): DataFrame =
    media.select(col("doc_id"), col("kind"),
      length(col("payload")).as("orig_bytes"),
      rpad(substring(col("payload"), 1, targetBytes), targetBytes, Array[Byte](0)).as("payload"))
}
