package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.toMedia(
    Seq((0L, "hello world"), (1L, "abcdefghijklmnopqrstuvwxyz0123456789"), (2L, "xy"))
      .toDF("doc_id", "text"))

  test("decode stage is deterministic and batch-shaped") {
    implicit val s = spark
    val f1 = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(f1.map(_.checksum).toSeq == f2.map(_.checksum).toSeq)
    assert(f1(0).n_bytes == 11 && f1(0).kind == "image")
    assert(f1(2).features.length == 2) // short payload → short feature vec
    assert(f1(0).features.forall(v => v >= 0f && v <= 1f))
  }

  test("decodeMeta reads real PNG and WAV headers, stub-falls-back elsewhere") {
    implicit val s = spark
    // real PNG: 7×5 ARGB rendered through the JDK encoder
    val img = new java.awt.image.BufferedImage(7, 5, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    img.setRGB(3, 2, 0xFF336699)
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    // real WAV: 100 frames of mono 8 kHz 8-bit silence through the JDK encoder
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](100)), fmt, 100),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val rows = Seq(
      Multimodal.MediaRow(0L, "image", pngOut.toByteArray),
      Multimodal.MediaRow(1L, "audio", wavOut.toByteArray),
      Multimodal.MediaRow(2L, "video", "not a codec stream".getBytes("UTF-8")),
      Multimodal.MediaRow(3L, "image", "not a png".getBytes("UTF-8")))
    val meta = Multimodal.decodeMeta(rows.toDF("doc_id", "kind", "payload"))
      .collect().sortBy(_.doc_id)
    assert(meta(0).format == "png" && meta(0).dim1 == 7 && meta(0).dim2 == 5)
    assert(meta(1).format == "wave" && meta(1).dim1 == 1 && meta(1).dim2 == 8000)
    assert(meta(2).format == "" && meta(2).dim1 == -1) // video: stub fallback
    assert(meta(3).format == "" && meta(3).dim2 == -1) // bad bytes: fallback
    assert(meta.forall(_.checksum != 0)) // stub features still computed
  }

  test("frameSample takes every stride-th chunk") {
    implicit val s = spark
    val frames = Multimodal.frameSample(media, chunkBytes = 4, stride = 2)
      .filter($"doc_id" === 1L).select("frames").as[Seq[Array[Byte]]].head()
    // 36 bytes → 9 chunks → indices 0,2,4,6,8 → 5 frames
    assert(frames.length == 5)
    assert(new String(frames.head, "UTF-8") == "abcd")
    assert(new String(frames(1), "UTF-8") == "ijkl")
  }

  test("resize clamps payloads and keeps original size in metadata") {
    val r = Multimodal.resize(media, targetBytes = 8)
      .select("doc_id", "orig_bytes", "payload")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getAs[Array[Byte]](2))).toSeq
    assert(r.forall(_._3.length == 8))
    assert(r.find(_._1 == 1L).get._2 == 36)
    assert(r.find(_._1 == 2L).get._3.drop(2).forall(_ == 0)) // zero-padded
  }

  test("dHash63: gradient invariance, trailing-edit collision, unrelated distance") {
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog and keeps going today " +
      "with more trailing content far beyond the sketch window"
    // brightness shift: every cell +1 (shift each char code by 1) — the
    // GRADIENT pattern is unchanged, so the hash must be identical
    val shifted = base.take(70).map(c => (c + 1).toChar).mkString + base.drop(70)
    val fixture = Seq(
      (1L, base),
      (2L, base + " appended tail edit"), // beyond the window → hamming 0
      (3L, shifted),
      (4L, "completely different content with other words entirely here " * 3)
    ).toDF("doc_id", "text")
    val h = fixture
      .withColumn("__cells", Multimodal.dHashCells(col("text")))
      .select(col("doc_id"), Multimodal.dHash63("__cells").as("ph"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L), "trailing edit must not move the sketch")
    assert(h(1L) == h(3L), "uniform brightness shift preserves every gradient bit")
    assert(hamming(h(1L), h(4L)) > 12, s"unrelated docs too close: ${hamming(h(1L), h(4L))}")
    assert(h.values.forall(_ >= 0L), "63-bit hash stays in the signed-positive range")
  }

  /** The all-built-ins formulation the native [[Multimodal.dHash63Text]]
    * replaced, kept only as its parity reference, with the kernel's NULL
    * contract (NULL text → NULL; the bare tree gives 0L).
    */
  private def dHash63TextColumns(text: Column): Column = {
    val t2 = rpad(text, 70, " ")
    def cell(k: Int) = ascii(substring(t2, k, 1))
    when(text.isNotNull, (for (r <- 0 until 7; c <- 0 until 9) yield
      when(cell(r * 10 + c + 1) > cell(r * 10 + c + 2),
        lit(1L << (r * 9 + c))).otherwise(lit(0L))).reduce(_ + _))
  }

  test("native dHash63Text is bit-identical to the ascii/substring Column tree") {
    // covers: plain ASCII over/under the 70-char window, the empty string
    // (all-pad grid), exact-70, multi-byte code points (Spark's ascii
    // returns the CODE POINT — the kernel must too), a supplementary-plane
    // char, a string of identical chars (zero gradient bits) and NULL
    val rows = (Seq(
      "the quick brown fox jumps over the lazy dog and keeps going today with more trailing content",
      "short",
      "",
      "x" * 70,
      "café crème €100 über alles and some filler text to cross the window boundary ok",
      "emoji 😀 inside the seventy char window with padding after it",
      "aaaaaaaaaa",
      null
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        Multimodal.dHash63Text(col("text")).as("n"),
        dHash63TextColumns(col("text")).as("c"))
      .as[(Long, Option[Long], Option[Long])].collect()
    got.foreach { case (id, n, c) =>
      assert(n == c, s"doc $id: native $n != column-tree $c")
    }
    assert(got.count(_._2.isEmpty) == 1, "NULL text, and only NULL text, hashes to NULL")
    // and against the cells-array formulation too (the mm-family path)
    val viaCells = rows
      .withColumn("__cells", Multimodal.dHashCells(col("text")))
      .select(col("doc_id"), Multimodal.dHash63("__cells").as("h"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, n, _) =>
      n.foreach(h => assert(h == viaCells(id), s"doc $id: native $h != cells ${viaCells(id)}"))
    }
  }

  test("scene-change: per-doc consecutive-frame Hamming, cuts at the threshold") {
    val rows = graft.queries.PipelineQueries.queries("q_x_scene_change")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case ((d, i), (h, cut)) =>
      assert(h >= 0 && h <= 63, s"doc $d frame $i: hamming $h out of 63-bit range")
      assert(cut == (h >= 16), s"doc $d frame $i: cut flag must be hamming >= 16")
    }
    // both classes present on this corpus — the threshold is not vacuous
    assert(rows.values.exists(_._2) && rows.values.exists(!_._2))
    // frame 0 never appears (no predecessor)
    assert(rows.keys.forall(_._2 >= 1))
  }

  test("vad segments are maximal voiced runs with exact spans") {
    val energy = Multimodal.audioEnergy(
        Multimodal.toMedia(graft.sources.Tables.documents(spark, sfDir))
          .filter(col("kind") === "audio"), windowChars = 32)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    val segs = graft.queries.PipelineQueries.queries("q_x_vad_segments")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(segs.nonEmpty)
    segs.foreach { case (d, a, b, n, tot) =>
      assert(n == b - a + 1, s"doc $d [$a,$b]: segment must be gapless")
      // every window in the span is voiced, and the run is MAXIMAL:
      // the windows just outside are quiet or absent
      (a to b).foreach(i => assert(energy((d, i)) >= 400000L,
        s"doc $d window $i inside segment must be voiced"))
      assert(energy.get((d, a - 1)).forall(_ < 400000L), s"doc $d: not maximal left")
      assert(energy.get((d, b + 1)).forall(_ < 400000L), s"doc $d: not maximal right")
      assert(tot == (a to b).map(i => energy((d, i))).sum)
    }
  }

  test("audioEnergy: two-byte LE sample fold, complete windows only") {
    // 64 chars → 2 windows; 31 chars → 0 windows (partial frames are not
    // valid samples); per-window energy replayed byte-for-byte
    val txt64 = ("ab" * 16) + ("zz" * 16)
    val media = Seq((1L, "audio", txt64), (2L, "audio", "x" * 31))
      .toDF("doc_id", "kind", "payload_s")
      .select(col("doc_id"), col("kind"),
        encode(col("payload_s"), "UTF-8").as("payload"))
    def energyOf(s: String): Long =
      s.zipWithIndex.map { case (c, i) =>
        c.toLong * (if ((i + 1) % 2 == 1) 1L else 256L)
      }.sum
    val got = Multimodal.audioEnergy(media, windowChars = 32)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    assert(got == Map(
      (1L, 0) -> energyOf("ab" * 16),
      (1L, 1) -> energyOf("zz" * 16)))
    assert(!got.keySet.exists(_._1 == 2L), "sub-window payload yields no frames")
    // hand arithmetic: 'a'=97 at odd positions, 'b'=98 at even ones
    assert(energyOf("ab" * 16) == 16L * 97 + 16L * 98 * 256)
  }

  test("phash hot-bucket guard: constant-hash cluster emits linear star pairs") {
    // 300 rows sharing ONE phash (the degenerate constant-hash saturation
    // class) collide in every band; uncapped that is ~45k pairs on one
    // reducer. With the cap the cluster must stay one star component:
    // exactly 299 hub pairs from the min id, plus the untouched small pair.
    // every row's four 16-bit bands are NON-zero and cohort-distinct, so
    // cross-cohort band collisions can't sneak in via shared zero bands
    val cluster = (0L until 300L).map(i => (i, 0x1111222233334444L))
    val pairRows = Seq((900L, 0x5555666677778888L),
      (901L, 0x5555666677778888L), (902L, 0x0999099909990999L))
    val d = spark.createDataFrame(cluster ++ pairRows).toDF("id", "ph")
    val got = Multimodal.phashBandPairs(d, "id", "ph", maxBucketSize = 64)
      .as[(Long, Long)].collect().toSet
    assert(got == ((1L until 300L).map(b => (0L, b)).toSet + ((900L, 901L))),
      s"expected 299 star pairs + the small bucket pair, got ${got.size}")
    // inert below the cap: guarded output equals the unguarded semantics
    val small = spark.createDataFrame(pairRows).toDF("id", "ph")
    val guarded = Multimodal.phashBandPairs(small, "id", "ph", maxBucketSize = 64)
      .as[(Long, Long)].collect().toSet
    val open = Multimodal.phashBandPairs(small, "id", "ph",
      maxBucketSize = Int.MaxValue).as[(Long, Long)].collect().toSet
    assert(guarded == open && guarded == Set((900L, 901L)))
  }

  test("phash failOnOverCap raises on a hot bucket instead of star-substituting") {
    val cluster = (0L until 300L).map(i => (i, 0x1111222233334444L))
    val d = spark.createDataFrame(cluster).toDF("id", "ph")
    val ex = intercept[Exception] {
      Multimodal.phashBandPairs(d, "id", "ph", maxBucketSize = 64,
        failOnOverCap = true).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxBucketSize"), s"expected over-cap raise, got: $msgs")
  }
}
