package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamJobs

class StreamingSpec extends SparkSpec {

  /** Stage the sf0.001 events as a one-file stream source directory. */
  private def stageEvents(): String = {
    val dir = tempDir("graft_stream_src").toString
    val batch = graft.sources.Tables.events(spark, sfDir)
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming split assignment equals the batch split (narrow stateless map)") {
    // the production claim behind q_x_split_hash's design: a seedless
    // md5-bucket assignment is a stateless narrow map, so the SAME
    // expression assigns identically whether a doc arrives in a batch
    // scan or through a stream — no watermark, no state store, no
    // reconciliation needed for split stability
    import spark.implicits._
    val src = tempDir("graft_split_src").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .select($"doc_id", graft.operators.TextOps.splitAssign($"doc_id").as("split"))
      .writeStream.outputMode("append").format("memory").queryName("split_s").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("split_s").as[(Long, String)].collect().toMap
    val batch = docs.select($"doc_id", graft.operators.TextOps.splitAssign($"doc_id"))
      .as[(Long, String)].collect().toMap
    assert(streamed == batch)
    assert(streamed.values.toSet == Set("train", "val", "test"))
  }

  test("hourly windowed aggregation matches the batch computation") {
    val src = stageEvents()
    val q = StreamJobs.hourlyTypeCounts(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("hourly").start()
    q.processAllAvailable(); q.stop()
    // append mode only emits closed windows (watermark 2h) — compare those
    val streamed = spark.table("hourly")
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val maxClosed = streamed.agg(max("hour")).head().getTimestamp(0)
    if (maxClosed != null) {
      val s = streamed.select("hour", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val b = batch.filter(col("hour") <= lit(maxClosed))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(s == b, "streamed closed windows must equal batch rollup")
      assert(s.nonEmpty)
    }
  }

  test("streaming session_window: closed sessions equal the batch sessionization") {
    val src = stageEvents()
    val q = StreamJobs.sessionCounts(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("sessions_sw").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions_sw")
    // append emits only watermark-closed sessions; every batch session
    // ending at or before the latest emitted end must match exactly
    val maxClosed = streamed.agg(max("session_end")).head().getTimestamp(0)
    if (maxClosed != null) {
      // second-truncated like the stream (and like q_x_sessionize's gap
      // rule — the stream truncates so a sub-second boundary gap can't
      // split in batch but merge in streaming)
      val batch = graft.sources.Tables.events(spark, sfDir)
        .withColumn("ts", date_trunc("second", col("ts")))
        .groupBy(session_window(col("ts"), "1800 seconds").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .filter(col("session_end") <= lit(maxClosed))
      val s = streamed.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) -> r.getLong(3)).toMap
      val b = batch.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)) -> r.getLong(3)).toMap
      assert(s == b, "closed streamed sessions must equal the batch session rollup")
      assert(s.nonEmpty)
    }
  }

  test("streaming near-dup gate equals the batch cross-corpus operator") {
    import spark.implicits._
    val src = tempDir("graft_gate_src").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val standing = docs.filter(pmod($"doc_id", lit(3)) === 0).select("doc_id", "text")
    val incoming = docs.filter(pmod($"doc_id", lit(3)) =!= 0).select("doc_id", "text")
    incoming.withColumn("ingest_ts", lit(t0))
      .coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.nearDupGateStream(stream, standing, threshold = 0.3)
      .writeStream.outputMode("append").format("memory").queryName("gate").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("gate").select("doc_id", "old_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.operators.Dedup.crossNearDupMinHash(
      incoming, standing, "doc_id", "text", threshold = 0.3)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, "gate feed must equal the batch rejection list")
    assert(streamed.nonEmpty, "fixture must exercise the near-dup path")
  }

  test("streaming mm alignment gate equals the batch cross-corpus alignment") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val src = tempDir("graft_mmalign_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // the q_x_mm_alignment_incr fixture exactly: planted wrong-image cohort
    // (doc_id % 11 == 7 takes the reversed caption's image), % 3 split
    val recs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("__img", when(pmod($"doc_id", lit(11)) === 7,
        reverse($"text")).otherwise($"text"))
      .withColumn("__cells", Multimodal.dHashCells($"__img"))
      .select($"doc_id", $"text", Multimodal.dHash63("__cells").as("ph"))
    val standing = recs.filter(pmod($"doc_id", lit(3)) === 0)
    val incoming = recs.filter(pmod($"doc_id", lit(3)) =!= 0)
    incoming.withColumn("ingest_ts", lit(t0))
      .repartition(3).write.mode("append").parquet(src) // several micro-batches
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.mmAlignmentGateStream(stream,
        Dedup.textBands(standing, "doc_id", "text"),
        Multimodal.phashBands(standing, "doc_id", "ph"))
      .writeStream.outputMode("append").format("memory").queryName("mmalign").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_text_nbrs", "n_img_nbrs", "n_common", "alignment", "is_aligned")
        .as[(Long, Long, Long, Long, Double, Boolean)].collect().toSet
    val streamed = canon(spark.table("mmalign"))
    val batch = canon(Dedup.crossModalAlignmentAcross(incoming, standing,
      "doc_id", "text", "ph"))
    assert(streamed == batch, "live gate must equal the batch alignment scores")
    // non-vacuous in all three regimes: some records with standing
    // neighborhoods in both modalities, some flagged misaligned, some
    // vacuously aligned singletons
    assert(streamed.exists(r => r._2 > 0 && r._3 > 0))
    assert(streamed.exists(!_._6), "planted misalignment must flag records")
    assert(streamed.exists(r => r._2 == 0 && r._3 == 0 && r._6))
  }

  test("streaming vector admission gate equals the batch index admission") {
    import spark.implicits._
    import graft.serve.AnnIndex
    val src = tempDir("graft_annadmit_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val standing = emb.filter(pmod($"vec_id", lit(3)) === 0)
    val incoming = emb.filter(pmod($"vec_id", lit(3)) =!= 0)
    val root = tempDir("graft_annadmit_idx").toString
    AnnIndex.build(spark, root, standing, "vec_id", "embedding", nCells = 8)
    incoming.select($"vec_id", $"embedding").withColumn("ingest_ts", lit(t0))
      .repartition(3).write.mode("append").parquet(src) // several micro-batches
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.annAdmitGateStream(stream,
        AnnIndex.readCodebook(spark, root), AnnIndex.readAssignments(spark, root),
        standing, threshold = 0.25, nProbe = 4)
      .writeStream.outputMode("append").format("memory").queryName("annadmit").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("annadmit").select("vec_id", "old_id", "cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    val batch = AnnIndex.admitNearDups(spark, root, incoming, standing,
        "vec_id", "embedding", threshold = 0.25, nProbe = 4)
      .select($"a", $"b", $"cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, "live gate must equal the batch rejection list")
    assert(streamed.nonEmpty, "fixture must exercise the vector near-dup path")
  }

  test("streaming daily sketches equal the batch sketch columns after drain") {
    val src = tempDir("graft_sketch_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src) // 3 micro-batches
    val q = StreamJobs.dailySketches(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("complete").format("memory").queryName("sketches").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Long], Seq[Byte])] =
      df.collect().map(r => (r.getTimestamp(0).toString,
        (r.getSeq[Long](1), r.getAs[Array[Byte]](2).toSeq))).toMap
    val got = canon(spark.table("sketches"))
    val want = canon(StreamJobs.dailySketches(ev))
    // CMS counters are additive and theta unions layout-blind, so the
    // micro-batch merge order cannot show through: bit-equality, not ≈
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming drift bin counts equal the batch census; chi2 derives identically") {
    val src = tempDir("graft_drift_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src) // 3 micro-batches
    val q = StreamJobs.driftBinCounts(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("complete").format("memory").queryName("drift").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Map[(String, Boolean, Long), Long] =
      df.collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)) -> r.getLong(3)).toMap
    val got = canon(spark.table("drift"))
    val want = canon(StreamJobs.driftBinCounts(ev))
    // counts are additive integers — micro-batch slicing cannot show
    // through: bit-equality, and therefore the chi-square DERIVED from
    // the drained grid equals the batch statistic exactly
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming scd2: closed versions equal the batch history build") {
    // three ts-ordered slices, mtimes forced sequential so the file source
    // replays them in event-time order (the CDC ordered-arrival contract)
    val src = tempDir("graft_scd2_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    val n = ev.count()
    val slices = ev.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
    (0 until 3).foreach { i =>
      slices.filter(col("rn") > i * n / 3 && col("rn") <= (i + 1) * n / 3)
        .drop("rn").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(150) // distinct mtimes → file source replays slices in order
    }
    val q = StreamJobs.scd2Stream(spark, StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("scd2").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("scd2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = graft.queries.BehaviorQueries.queries("q_x_scd2")(spark, sfDir)
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("version"), col("state"),
        unix_micros(col("valid_from")), unix_micros(col("valid_to")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == want, "streamed closed versions must equal the batch build")
    assert(got.nonEmpty)
  }

  test("streaming funnel emits exactly the batch-converted users") {
    val src = tempDir("graft_funnel_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    val n = ev.count()
    val slices = ev.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
    (0 until 3).foreach { i =>
      slices.filter(col("rn") > i * n / 3 && col("rn") <= (i + 1) * n / 3)
        .drop("rn").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(150)
    }
    val q = StreamJobs.funnelStream(spark, StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("funnel").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // naive driver replay of the ordered-funnel contract
    val winUs = 7L * 86400L * 1000000L
    val evs = ev.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      for {
        t1 <- s.find(_._4 == "view").map(_._2)
        t2 <- s.find(e => e._4 == "click" && e._2 > t1 && e._2 <= t1 + winUs).map(_._2)
        t3 <- s.find(e => e._4 == "purchase" && e._2 > t2 && e._2 <= t1 + winUs).map(_._2)
      } yield (u, t1, t2, t3)
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming transition steps aggregate to the batch Markov counts") {
    val src = tempDir("graft_trans_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    val n = ev.count()
    val slices = ev.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
    (0 until 3).foreach { i =>
      slices.filter(col("rn") > i * n / 3 && col("rn") <= (i + 1) * n / 3)
        .drop("rn").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(150)
    }
    val q = StreamJobs.transitionsStream(spark, StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("trans").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("trans").groupBy(col("from_state"), col("to_state"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.queries.BehaviorQueries.queries("q_x_transitions")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming drawdown state drains to the batch q_x_drawdown aggregate") {
    val src = tempDir("graft_dd_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    val n = ev.count()
    val slices = ev.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
    (0 until 3).foreach { i =>
      slices.filter(col("rn") > i * n / 3 && col("rn") <= (i + 1) * n / 3)
        .drop("rn").coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(150)
    }
    val q = StreamJobs.drawdownStream(spark, StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("update").format("memory").queryName("dd").start()
    q.processAllAvailable(); q.stop()
    // peak and worst-dd are monotone, so the per-symbol max over all
    // update emissions is the final state
    val got = spark.table("dd").groupBy(col("symbol"))
      .agg(max(col("peak_c")).as("p"), max(col("max_drawdown_bp")).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = graft.queries.TimeSeriesQueries.queries("q_x_drawdown")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("symbol") ->
        (r.getAs[Long]("peak_c"), r.getAs[Long]("max_drawdown_bp"))).toMap
    assert(got == want)
    assert(got.nonEmpty && got.values.exists(_._2 > 0))
  }

  test("stream dedup drops replayed event_ids") {
    val src = tempDir("graft_dup_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir).limit(100)
    // write the same 100 events twice = two micro-batches of pure replay
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)
    val q = StreamJobs.dedupByKey(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() == 100)
  }

  test("streaming rag chunks: drained stream equals batch chunking row-for-row") {
    import spark.implicits._
    val src = tempDir("graft_ragchunk_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 40 tokens → two windows (one overlapping tail), 10 → one short
    // window, blank → none; split across two files to force micro-batches
    val b1 = Seq((1L, (0 until 40).map(i => s"t$i").mkString(" ")),
      (3L, "   ")).toDF("doc_id", "text").withColumn("ingest_ts", lit(t0))
    val b2 = Seq((2L, (0 until 10).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text").withColumn("ingest_ts", lit(t0))
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(
      spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.ragChunksStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("ragchunks").start()
    q.processAllAvailable(); q.stop()
    val drained = spark.table("ragchunks")
      .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_digest")
      .as[(Long, Int, Long, Int, String)].collect().toSet
    val batch = graft.operators.TextOps.slidingChunks(
      spark.read.parquet(src).select($"doc_id", $"text"), "text")
      .as[(Long, Int, Long, Int, String)].collect().toSet
    assert(drained == batch && drained.size == 3,
      s"stream/batch drift: drained=$drained batch=$batch")
  }

  test("streaming embed drift: drained moments equal the batch report") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val src = tempDir("graft_embdrift_src").toString
    // two files → two micro-batches; additive sums must merge exactly
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    emb.filter(col("vec_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    val q = StreamJobs.embedDriftStream(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("embdrift").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        (1 to 7).map(i => r.getLong(i)).toList).toMap
    val got = canon(spark.table("embdrift"))
    val want = canon(graft.operators.Similarity.embedDimMoments(emb))
    assert(got == want && got.size == 64, s"stream/batch drift: ${got.size} dims")
  }

  test("streaming contamination gate: rejection feed is exactly the hit pairs") {
    import spark.implicits._
    val src = tempDir("graft_contam_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val shared = (0 until 8).map(i => s"g$i").mkString(" ") // one full 8-gram
    val bench = Seq(
      (100L, shared + " benchtail words here", 0L),
      (101L, "totally different benchmark content with eight tokens plus", 1L)
    ).toDF("doc_id", "text", "eval_set")
    // doc 1 carries the shared 8-gram (hits set 0, several gram replays →
    // ONE row), doc 2 is clean, doc 3 hits the same set from a later
    // micro-batch
    val b1 = Seq((1L, "prefix " + shared + " suffix"),
      (2L, "nothing in common at all with any benchmark"))
      .toDF("doc_id", "text").withColumn("ingest_ts", lit(t0))
    val b2 = Seq((3L, shared + " another suffix entirely"))
      .toDF("doc_id", "text").withColumn("ingest_ts", lit(t0))
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(
      spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.contaminationGateStream(stream, bench)
      .writeStream.outputMode("append").format("memory")
      .queryName("contamgate").start()
    q.processAllAvailable(); q.stop()
    val drained = spark.table("contamgate").select("doc_id", "eval_set")
      .as[(Long, Long)].collect().toSet
    assert(drained == Set((1L, 0L), (3L, 0L)), s"got $drained")
  }

  test("streaming corpus prep: quality gate + content dedup across replays") {
    import spark.implicits._
    val src = tempDir("graft_corpus_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // base doc (12 distinct tokens incl. one stopword → quality ≈ 0.579),
    // a word-order shuffle of it (same sorted-token fingerprint), a
    // low-quality repetition doc, and one distinct good doc
    val base = "the quick brown fox jumps over lazy dogs near riverbank at dawn"
    val shuffled = "dawn at riverbank near dogs lazy over jumps fox brown quick the"
    val junk = "x x x x"
    val other = "a calm harbor holds twelve bright ships before morning tide arrives"
    val b1 = Seq((1L, base), (2L, shuffled), (3L, junk)).toDF("doc_id", "text")
      .withColumn("ingest_ts", lit(t0))
    val b2 = Seq((4L, base), (5L, other)).toDF("doc_id", "text")
      .withColumn("ingest_ts", lit(t0))
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(
      spark.read.parquet(src).schema).parquet(src)
    val q = StreamJobs.corpusPrepStream(stream, stopwords = Seq("the", "a"))
      .writeStream.outputMode("append").format("memory").queryName("corpus").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("corpus").select("doc_id", "fp").collect()
    // junk fails the quality gate; base/shuffled/replayed-base share one
    // fingerprint → exactly one survivor of {1,2,4}, plus doc 5
    assert(out.length == 2, s"got ${out.mkString(", ")}")
    assert(out.map(_.getString(1)).distinct.length == 2)
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.contains(5L) && ids.exists(Set(1L, 2L, 4L)), s"ids were $ids")
  }

  test("flatMapGroupsWithState accumulates per-user running totals") {
    val src = stageEvents()
    val out = StreamJobs.userSessions(spark, StreamJobs.fileEventStream(spark, src))
    val q = out.writeStream.outputMode("append").format("memory").queryName("sessions").start()
    // ProcessingTimeTimeout queries keep scheduling empty timeout-check
    // batches, so processAllAvailable can spin — poll the sink until every
    // user's final total has landed, then stop.
    val expected = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deadline = System.currentTimeMillis() + 120000
    def latest() = spark.table("sessions")
      .groupBy("user_id").agg(max(col("n_events")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    while (latest() != expected && System.currentTimeMillis() < deadline) Thread.sleep(250)
    q.stop()
    // last emitted row per user must equal the batch per-user totals
    val last = spark.table("sessions")
      .groupBy("user_id").agg(max(struct(col("n_events"), col("total_value"))).as("s"))
      .select(col("user_id"), col("s.n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(last == batch)
  }

  test("stream-stream interval join enriches purchases with in-window views") {
    val src = stageEvents()
    val q = StreamJobs.enrichedPurchaseStream(StreamJobs.fileEventStream(spark, src))
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched")
    val batchEquiv = {
      val ev = graft.sources.Tables.events(spark, sfDir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("ts").as("v_ts"), col("user_id").as("v_user"))
      p.join(v, expr("p_user = v_user AND v_ts >= p_ts - interval 1 hour AND v_ts <= p_ts"))
    }
    // inner-match rows (price not null) must equal the batch interval join;
    // left-outer nulls for unmatched purchases may lag the final watermark
    assert(got.filter(col("price").isNotNull).count() == batchEquiv.count())
  }

  test("price poller drains one cycle, normalizes, and re-polls as a no-op") {
    val src = stageEvents()
    val sink = tempDir("graft_poll_sink").toString + "/prices"
    val cp = tempDir("graft_poll_cp").toString
    val q1 = StreamJobs.pricePollerOnce(spark, src, sink, cp)
    q1.awaitTermination() // AvailableNow stops by itself after the drain
    val expected = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
    val got = spark.read.parquet(sink)
    assert(got.count() == expected.count())
    // decimal normalization applied (value / 10^2)
    val sample = got.orderBy("event_id").select("event_id", "price").head()
    val raw = expected.orderBy("event_id").select("event_id", "value").head()
    assert(sample.getLong(0) == raw.getLong(0))
    assert(math.abs(sample.getDouble(1) - raw.getDouble(1) / 100.0) < 1e-9)
    // second poll cycle over the same feed: checkpoint + keyed dedup → no-op
    val q2 = StreamJobs.pricePollerOnce(spark, src, sink, cp)
    q2.awaitTermination()
    assert(spark.read.parquet(sink).count() == expected.count())
  }

  test("breaker sink: transient batch failures retry in place, then recover") {
    val src = tempDir("graft_brk_src").toString
    graft.sources.Tables.events(spark, sfDir).limit(20).coalesce(1)
      .write.mode("append").parquet(src)
    val sink = tempDir("graft_brk_sink").toString + "/t"
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val q = StreamJobs.fileEventStream(spark, src).writeStream
      .option("checkpointLocation", tempDir("graft_brk_cp").toString)
      .foreachBatch(StreamJobs.breakerForeachBatch(maxAttempts = 3) { (batch, _) =>
        if (failures.getAndDecrement() > 0) sys.error("transient sink outage")
        graft.sink.Sinks.appendDedupParquet(batch.toDF(), sink, Seq("event_id"))
      })
      .start()
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(sink).count() == 20, "batch must land exactly once after retries")
  }

  test("breaker opens after max consecutive failures and the listener latches") {
    val src = tempDir("graft_brk2_src").toString
    graft.sources.Tables.events(spark, sfDir).limit(5).coalesce(1)
      .write.mode("append").parquet(src)
    val listener = new StreamJobs.BreakerListener
    spark.streams.addListener(listener)
    try {
      val q = StreamJobs.fileEventStream(spark, src).writeStream
        .option("checkpointLocation", tempDir("graft_brk2_cp").toString)
        .foreachBatch(StreamJobs.breakerForeachBatch(maxAttempts = 2) { (_, _) =>
          sys.error("sink permanently down")
        })
        .start()
      val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination()
      }
      assert(died.getMessage.contains("circuit breaker open"))
      // listener delivery is async — poll until the event lands
      var waited = 0
      while (!listener.isOpen && waited < 10000) { Thread.sleep(100); waited += 100 }
      assert(listener.isOpen, "listener must latch the breaker open on sick termination")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming point-in-time features equal the batch as-of assembly") {
    // the r14 feature-serving twin: purchases stream in (3 micro-batches),
    // features are the STATIC compacted per-user histories, and the as-of
    // pick is a narrow array fold behind two stateless stream-static
    // joins — per-row enrichment, so micro-batch slicing cannot show
    // through and the drained stream must equal q_x_pit_features
    // row-for-row
    val src = tempDir("graft_pit_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src) // 3 micro-batches
    val clickHist = StreamJobs.pitClickHistory(ev).localCheckpoint()
    val viewHist = StreamJobs.pitViewHistory(ev).localCheckpoint()
    val q = StreamJobs.pitFeaturesStream(
        StreamJobs.fileEventStream(spark, src), clickHist, viewHist)
      .writeStream.outputMode("append").format("memory").queryName("pit_s").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).sortBy(t => (t._1, t._3))
    val got = canon(spark.table("pit_s"))
    val want = canon(SparkEntry.queries("q_x_pit_features")(spark, sfDir))
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("streaming target-encode moments equal the batch moments; LOO derives identically") {
    // additive (sum, count) moments per category: micro-batch merge order
    // cannot show through (the driftBinCounts argument), so the drained
    // complete-mode table equals the batch moments bit-for-bit — and the
    // LOO encode DERIVED from the drained moments equals q_x_target_encode
    val src = tempDir("graft_tmom_src").toString
    val orders = graft.sources.Tables.orders(spark, sfDir)
    orders.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.targetMomentsStream(
        spark.readStream.schema(orders.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory").queryName("tmom").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = canon(spark.table("tmom"))
    val want = canon(StreamJobs.targetMomentsStream(orders))
    assert(got == want && got.nonEmpty)
    // LOO encode from the drained moments == the batch encoder's output
    val enc = orders.select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("t_cents"))
      .join(broadcast(spark.table("tmom")
        .withColumnRenamed("cat", "cat").select(col("cat"),
          col("t_sum").as("__s"), col("t_n").as("__n"))), Seq("cat"))
      .select(col("o_orderkey"), col("cat"), col("t_cents"),
        expr("case when __n > 1 then (__s - t_cents) div (__n - 1) end")
          .as("loo_mean_cents"), col("__n").as("cat_n"))
    def canonEnc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).sortBy(_._1)
    assert(canonEnc(enc).toSeq ==
      canonEnc(SparkEntry.queries("q_x_target_encode")(spark, sfDir)).toSeq)
  }

  test("streaming CMS counters drain to the batch sketch; join-size estimate derives identically") {
    // counters are additive integers: drained state ≡ batch build at any
    // slicing, and the inner-product estimate derived from two drained
    // tables equals the registry row's est_join
    val src = tempDir("graft_cms_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    def drain(t: String, name: String) = {
      val q = StreamJobs.cmsCountersStream(
          spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
            .parquet(src), t)
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    def canonCms(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val gotV = canonCms(drain("view", "cms_v"))
    val gotP = canonCms(drain("purchase", "cms_p"))
    assert(gotV == canonCms(StreamJobs.cmsCountersStream(ev, "view")))
    assert(gotP == canonCms(StreamJobs.cmsCountersStream(ev, "purchase")))
    val estFromDrain = (0 until 4).map { i =>
      gotV.collect { case ((ri, b), c) if ri == i && gotP.contains((ri, b)) =>
        c * gotP((ri, b))
      }.sum
    }.min
    val batch = graft.queries.SketchQueries.queries("q_x_join_card")(spark, sfDir)
      .collect().head
    assert(estFromDrain == batch.getLong(batch.fieldIndex("est_join")))
  }

  test("streaming Benford counters drain to the batch census; the deviation report derives identically") {
    val src = tempDir("graft_benford_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.benfordCountsStream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("benford_s").start()
    q.processAllAvailable(); q.stop()
    def canonB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = canonB(spark.table("benford_s"))
    assert(got == canonB(StreamJobs.benfordCountsStream(ev)) && got.nonEmpty)
    // deviation report derived from drained state ≡ the registry row
    val ppm = Map(1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
      5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)
    val n = got.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val derived = (for { (t, nt) <- n.toSeq; d <- 1L to 9L } yield {
      val obs = got.getOrElse((t, d), 0L)
      (t, d) -> ((obs, nt, ppm(d), (obs * 1000000L - ppm(d) * nt).abs))
    }).toMap
    val batch = graft.queries.QualityQueries.queries("q_x_benford")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(derived == batch)
  }

  test("streaming daily-series upkeep drains to the batch kernel table") {
    val src = tempDir("graft_daily_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.dailyCentsStream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("daily_s").start()
    q.processAllAvailable(); q.stop()
    def canonDaily(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        r.getLong(2)).toMap
    val got = canonDaily(spark.table("daily_s"))
    assert(got == canonDaily(StreamJobs.dailyCentsStream(ev)) && got.nonEmpty)
  }

  test("streaming drift counters drain to the batch state; all three finishers derive the registry rows") {
    val src = tempDir("graft_drift_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    def drain(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String) = {
      val q = mk(spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      q.processAllAvailable(); q.stop()
      // re-materialize: the finishers self-join the counts, and a memory
      // -sink View fails Catalyst's conflicting-reference dedup
      val t = spark.table(name)
      spark.createDataFrame(
        java.util.Arrays.asList(t.collect(): _*), t.schema)
    }
    def canonC(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // additive counters: drained ≡ batch state bit-for-bit
    val binDrained = drain(StreamJobs.driftBinCountsStream, "drift_bin_s")
    assert(canonC(binDrained) ==
      canonC(graft.operators.Drift.binCounts(ev)) && binDrained.count() > 0)
    val centsDrained = drain(StreamJobs.driftCentsCountsStream, "drift_cents_s")
    assert(canonC(centsDrained) == canonC(graft.operators.Drift.centsCounts(ev)))
    // finishers over DRAINED state ≡ the registry rows (one definition)
    def canonRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(canonRows(graft.operators.Drift.chi2FromCounts(binDrained)) ==
      canonRows(graft.queries.QualityQueries.queries("q_x_drift_chi2")(spark, sfDir)))
    assert(canonRows(graft.operators.Drift.w1FromCounts(binDrained)) ==
      canonRows(graft.queries.QualityQueries.queries("q_x_drift_w1")(spark, sfDir)))
    assert(canonRows(graft.operators.Drift.ksFromCounts(centsDrained)) ==
      canonRows(graft.queries.QualityQueries.queries("q_x_drift_ks")(spark, sfDir)))
  }

  test("streaming scene-change cuts equal the batch rows (stateless append mode)") {
    val src = tempDir("graft_scene_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.sceneChangeStream(
        graft.operators.Multimodal.toMedia(
          spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
            .parquet(src)))
      .writeStream.outputMode("append").format("memory")
      .queryName("scene_s").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    val got = canon(spark.table("scene_s"))
    assert(got == canon(
      graft.queries.PipelineQueries.queries("q_x_scene_change")(spark, sfDir))
      && got.nonEmpty)
  }

  test("streaming drift moments + bootstrap state drain to batch; Welch and CI finishers derive the registry rows") {
    val src = tempDir("graft_welch_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    def drain(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String) = {
      val q = mk(spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      q.processAllAvailable(); q.stop()
      val t = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.head -> r.toSeq.tail).toSet
    val moments = drain(StreamJobs.driftMomentsStream, "welch_s")
    assert(canon(moments) ==
      canon(graft.operators.Drift.momentCounts(ev)) && moments.count() > 0)
    assert(canon(graft.operators.Drift.welchFromState(moments)) ==
      canon(graft.queries.QualityQueries.queries("q_x_drift_welch")(spark, sfDir)))
    val boot = drain(StreamJobs.bootstrapStateStream, "boot_s")
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.toSeq.head, r.toSeq(1)) -> r.toSeq.drop(2)).toSet
    assert(canon2(boot) ==
      canon2(graft.operators.Resample.bootstrapState(ev)) && boot.count() > 0)
    assert(canon(graft.operators.Resample.bootstrapCiFromState(boot)) ==
      canon(graft.queries.QualityQueries.queries("q_x_bootstrap_ci")(spark, sfDir)))
  }

  test("streaming CUPED user state + proportion counters drain to batch; finishers derive the registry rows") {
    val src = tempDir("graft_cuped_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    def drain(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String) = {
      val q = mk(spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      q.processAllAvailable(); q.stop()
      val t = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.head -> r.toSeq.tail).toSet
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.toSeq.head, r.toSeq(1)) -> r.toSeq.drop(2)).toSet
    // the additive user layer drains exactly; the two-level finisher over
    // drained state equals the registry CUPED row
    val us = drain(StreamJobs.cupedUserStateStream, "cuped_s")
    assert(canon2(us) == canon2(graft.operators.Drift.cupedUserState(ev))
      && us.count() > 0)
    assert(canon(graft.operators.Drift.cupedFromState(
        graft.operators.Drift.cupedMomentsFromUserState(us))) ==
      canon(graft.queries.QualityQueries.queries("q_x_cuped")(spark, sfDir)))
    // proportion counters: drain ≡ batch, pooled z ≡ registry row
    val pc = drain(StreamJobs.propCountsStream, "prop_s")
    assert(canon(pc) == canon(graft.operators.Drift.proportionCounts(ev)))
    assert(canon(graft.operators.Drift.propZFromCounts(pc)) ==
      canon(graft.queries.QualityQueries.queries("q_x_drift_prop_z")(spark, sfDir)))
  }

  test("streaming calibration state drains to the batch table; the curve finisher derives the registry row") {
    val src = tempDir("graft_calib_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.calibrationStateStream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("calib_s").start()
    q.processAllAvailable(); q.stop()
    // re-materialize (the drift-test memory-sink View self-join caveat):
    // the bin finisher crossJoins the state with its own min/max aggregate
    val t = spark.table("calib_s")
    val drained = spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    def canonS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(canonS(drained) ==
      canonS(graft.operators.Eval.calibrationState(docs)) && drained.count() > 0)
    def canonRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(canonRows(graft.operators.Eval.calibrationFromState(drained)) ==
      canonRows(graft.queries.EvalQueries.queries("q_x_calibration")(spark, sfDir)))
  }

  test("streaming KMV sketch drains to the batch bottom-k; the estimate derives the registry row") {
    val src = tempDir("graft_kmv_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.kmvStream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_s").start()
    q.processAllAvailable(); q.stop()
    val drained = spark.table("kmv_s")
    def canonK(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    // set-union state is slicing-insensitive: drained sketch ≡ batch sketch
    val got = canonK(drained)
    assert(got == canonK(graft.operators.Sketches.kmvState(ev)) && got.nonEmpty)
    got.values.foreach { s =>
      assert(s.size <= 64 && s == s.sorted && s.distinct == s,
        "sketch must be ascending distinct bottom-64") }
    // estimate finisher over drained state ≡ the registry row's estimator
    val est = graft.operators.Sketches.kmvEstimateFromState(drained)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.queries.SketchQueries.queries("q_x_kmv_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(r.fieldIndex("kmv_k")), r.getLong(r.fieldIndex("h_k")),
          r.getLong(r.fieldIndex("est_distinct"))))).toMap
    assert(est == batch, s"drained estimate vs registry row: $est vs $batch")
  }

  test("streaming OHLC candle upkeep drains to the batch bars") {
    // every candle fold is associative (struct extrema / min / max /
    // count / sum), so complete-mode drain ≡ batch at any slicing
    val src = tempDir("graft_ohlc_src").toString
    val ev = graft.sources.Tables.events(spark, sfDir)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.ohlcStream(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ohlc_s").start()
    q.processAllAvailable(); q.stop()
    def canonBars(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    val got = canonBars(spark.table("ohlc_s"))
    val want = canonBars(StreamJobs.ohlcStream(ev))
    assert(got == want && got.nonEmpty)
  }

  test("streaming embed-gram upkeep equals the batch Gram table bit-for-bit") {
    // additive exact-integer second moments over dim pairs: drain ≡ batch
    // regardless of micro-batch slicing
    val src = tempDir("graft_gram_src").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.embedGramStream(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory").queryName("gram_s").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val got = canon(spark.table("gram_s"))
    val want = canon(graft.operators.Similarity.embedGram(emb))
    assert(got.size == 64 * 65 / 2, s"expected 2080 dim pairs, got ${got.size}")
    assert(got == want)
  }

  test("streaming term-frequency upkeep equals the batch tf table; rarity derives identically") {
    // additive integer counts: drain ≡ batch regardless of micro-batch
    // slicing, and the rarity score DERIVED from the drained tf equals
    // the batch q_x_rarity_score pipeline row-for-row
    val src = tempDir("graft_tf_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.termFreqStream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory").queryName("tf_s").start()
    q.processAllAvailable(); q.stop()
    def canonTf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = canonTf(spark.table("tf_s"))
    val want = canonTf(StreamJobs.termFreqStream(docs))
    assert(got == want && got.nonEmpty)
    // rarity from the drained table == the registry row at this sf
    val toks = docs.select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val derived = toks.join(spark.table("tf_s"), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(expr("100000000 div tf")).as("__s"),
        sum(when(col("tf") <= 2, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_toks"),
        expr("__s div n_toks").as("rarity_score"), col("n_rare"))
    def canonR(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(canonR(derived) ==
      canonR(SparkEntry.queries("q_x_rarity_score")(spark, sfDir)))
  }

  test("streaming golden-record state drains to the batch golden records") {
    // the r15 twin: every survivorship rule is an associative fold, so
    // the (entity, category)-keyed streaming state + the broadcast-sized
    // batch finisher must reproduce q_x_er_golden row-for-row regardless
    // of micro-batch slicing (3 batches here)
    val src = tempDir("graft_gold_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val pairs = graft.operators.Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
      failOnOverCap = true)
    val clusters = graft.operators.Dedup.duplicateClusters(pairs, "a", "b")
      .localCheckpoint()
    val q = StreamJobs.goldenStateStream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(src), clusters)
      .writeStream.outputMode("complete").format("memory").queryName("gold_s").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    val got = canon(StreamJobs.goldenRecordsFromState(spark.table("gold_s")))
    val want = canon(SparkEntry.queries("q_x_er_golden")(spark, sfDir))
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming source-cap sketch drains to the batch top-K; the rank finisher derives the registry row") {
    val src = tempDir("graft_scap_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.sourceCapStream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory").queryName("scap_s").start()
    q.processAllAvailable(); q.stop()
    val drained = spark.table("scap_s")
    def canonS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    // set-union sketch state is slicing-insensitive: drained ≡ batch
    val got = canonS(drained)
    assert(got == canonS(graft.operators.TextOps.sourceCapState(docs)) && got.nonEmpty)
    got.values.foreach(s => assert(s.size <= 5 && s == s.sorted))
    // rank finisher over drained state ≡ the registry row
    def canonRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(canonRows(graft.operators.TextOps.sourceCapFromState(drained)) ==
      canonRows(SparkEntry.queries("q_x_source_cap")(spark, sfDir)))
  }

  test("streaming temperature-mix state drains to the batch doc totals; the quota finisher derives the registry row") {
    val src = tempDir("graft_tmix_src").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    val q = StreamJobs.temperatureMixStream(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
          .parquet(src))
      .writeStream.outputMode("complete").format("memory").queryName("tmix_s").start()
    q.processAllAvailable(); q.stop()
    // re-materialize (the memory-sink View self-join caveat): the finisher
    // crossJoins the state with two of its own aggregates
    val t = spark.table("tmix_s")
    val drained = spark.createDataFrame(
      java.util.Arrays.asList(t.collect(): _*), t.schema)
    def canonS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(canonS(drained) ==
      canonS(graft.operators.TextOps.temperatureMixDocState(docs)) &&
      drained.count() > 0)
    def canonRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(canonRows(graft.operators.TextOps.temperatureMixFromState(drained)) ==
      canonRows(SparkEntry.queries("q_x_temperature_mix")(spark, sfDir)))
  }

  test("idempotent sink: replaying a batch adds no rows (parquet + jdbc)") {
    val sink = tempDir("graft_sink").toString + "/t"
    val batch = graft.sources.Tables.events(spark, sfDir).limit(50)
    graft.sink.Sinks.appendDedupParquet(batch, sink, Seq("event_id"))
    graft.sink.Sinks.appendDedupParquet(batch, sink, Seq("event_id"))
    assert(spark.read.parquet(sink).count() == 50)

    val dbDir = tempDir("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val simple = batch.select("event_id", "event_type", "value")
    graft.sink.Sinks.appendDedupJdbc(simple, url, "events_t", Seq("event_id"))
    graft.sink.Sinks.appendDedupJdbc(simple, url, "events_t", Seq("event_id"))
    assert(spark.read.jdbc(url, "events_t", new java.util.Properties()).count() == 50)
  }
}
