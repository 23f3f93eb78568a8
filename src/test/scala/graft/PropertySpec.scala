package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Ops

/** Property tests from the SURVEY §5 harness plan: ingestion idempotency,
  * as-of join vs a naive reference implementation, latest-per-key totality.
  * Uses ScalaCheck generators with explicit seeds (deterministic runs).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  private val rowsGen: Gen[List[(Int, Long, Double)]] = Gen.listOfN(40,
    for {
      key <- Gen.choose(0, 4)
      ts <- Gen.choose(0L, 1000L)
      v <- Gen.choose(-100.0, 100.0)
    } yield (key, ts, v))

  /** Shared as-of fixture: generated rows plus their micro-timestamp
    * DataFrames; `checkUnambiguous` runs the naive latest-at-or-before
    * reference per left row (ties on (key, ts) are order-dependent in
    * every implementation, so only rows with a unique latest are checked)
    * and hands (row, candidates) to the expectation.
    */
  private def asOfFixture(seed: Int) = {
    val leftRows = sample(rowsGen, seed)
    val rightRows = sample(rowsGen, seed + 1000)
    val left = leftRows.zipWithIndex
      .map { case ((k, t, v), i) => (i.toLong, k, t, v) }
      .toDF("id", "k", "t", "v")
      .select($"id", $"k", timestamp_micros($"t").as("t"), $"v")
    val right = rightRows.toDF("rk", "rt", "price")
      .select($"rk", timestamp_micros($"rt").as("rt"), $"price")
    (leftRows, rightRows, left, right)
  }

  private def checkUnambiguous(seed: Int,
      leftRows: List[(Int, Long, Double)], rightRows: List[(Int, Long, Double)],
      got: Map[Long, Option[Double]])(
      expected: (Long, List[(Int, Long, Double)]) => Option[Double]): Unit =
    leftRows.zipWithIndex.foreach { case ((k, t, _), i) =>
      val cands = rightRows.filter(r => r._1 == k && r._2 <= t)
      val unambiguous = cands.isEmpty ||
        cands.count(r => r._2 == cands.map(_._2).max) == 1
      if (unambiguous)
        assert(got(i.toLong) == expected(t, cands), s"seed $seed row $i")
    }

  test("property: asOfJoin equals the naive per-row latest-at-or-before lookup") {
    for (seed <- 1 to 10) {
      val (leftRows, rightRows, left, right) = asOfFixture(seed)
      val got = Ops.asOfJoin(left, right, "k", "rk", "t", "rt", Seq("price"))
        .select($"id", $"price").as[(Long, Option[Double])].collect().toMap
      checkUnambiguous(seed, leftRows, rightRows, got) { (_, cands) =>
        if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3)
      }
    }
  }

  test("property: asOfJoin tolerance nulls the nearest match when stale, never falls back") {
    // timestamps in MICROSECONDS (timestamp_micros), so tolerance 0.0005 s
    // = 500 ticks of the generator's 0..1000 range — NOT binary-
    // representable, which pins the integer-micros boundary compare (a
    // double-domain compare drops matches exactly tolTicks old)
    val tolTicks = 500L
    for (seed <- 1 to 10) {
      val (leftRows, rightRows, left, right) = asOfFixture(seed)
      val got = Ops.asOfJoin(left, right, "k", "rk", "t", "rt", Seq("price"),
        toleranceSeconds = Some(tolTicks / 1e6))
        .select($"id", $"price").as[(Long, Option[Double])].collect().toMap
      checkUnambiguous(seed, leftRows, rightRows, got) { (t, cands) =>
        cands.sortBy(_._2).lastOption.filter(r => t - r._2 <= tolTicks).map(_._3)
      }
    }
  }

  test("asOfJoin tolerance boundary is inclusive at a non-representable tolerance") {
    // gap == tolerance exactly: merge_asof keeps the match; the former
    // double-domain compare (mts >= t − tol) dropped it
    val left = Seq((1L, 1)).toDF("id", "k")
      .select($"id", $"k", timestamp_micros(lit(501L)).as("t"))
    val right = Seq((1, 7.0)).toDF("rk", "price")
      .select($"rk", timestamp_micros(lit(1L)).as("rt"), $"price")
    val got = Ops.asOfJoin(left, right, "k", "rk", "t", "rt", Seq("price"),
      toleranceSeconds = Some(0.0005))
      .select($"price").as[Option[Double]].head()
    assert(got.contains(7.0))
  }

  test("property: idempotent sink converges regardless of replay count") {
    for (replays <- 1 to 3) {
      val sink = tempDir("graft_prop_sink").toString + "/t"
      val batch = graft.sources.Tables.events(spark, sfDir).limit(30)
      (0 to replays).foreach { _ =>
        graft.sink.Sinks.appendDedupParquet(batch, sink, Seq("event_id"))
      }
      assert(spark.read.parquet(sink).count() == 30)
    }
  }

  test("property: latestPerKey emits exactly one row per key, the maximum") {
    for (seed <- 1 to 10) {
      val rows = sample(rowsGen, seed)
      val df = rows.zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
        .toDF("k", "ord", "uid")
      val got = Ops.latestPerKey(df, Seq("k"), Seq(col("ord").desc, col("uid").desc))
        .select($"k", $"ord", $"uid").as[(Int, Long, Long)].collect()
      val expected = rows.zipWithIndex
        .map { case ((k, t, _), i) => (k, t, i.toLong) }
        .groupBy(_._1).view.mapValues(_.maxBy(r => (r._2, r._3))).toMap
      assert(got.length == expected.size, s"seed $seed")
      got.foreach { case (k, ord, uid) =>
        assert(expected(k) == ((k, ord, uid)), s"seed $seed key $k")
      }
    }
  }

  test("property: one-pass minhash/simhash kernels equal the exploded formulations") {
    import graft.operators.Dedup
    import org.apache.spark.sql.graft.natives
    // adversarial tokenization inputs: blank, pure whitespace, tabs/newlines
    // (UTF8String.trim strips 0x20 only), runs of spaces, non-ASCII bytes,
    // plus seeded random word soup
    val fixed = Seq("", " ", "   ", "a", "a b", "a b c", "a  b\tc\nd e",
      "\tlead tab still here", "trail space ", " both  sides ",
      "café naïve résumé words here", "é ü ñ x y z")
    val rng = new scala.util.Random(42)
    val words = Seq("alpha", "beta", "été", "gamma", "x", "longerword")
    val random = (1 to 20).map { _ =>
      (1 to rng.nextInt(12)).map(_ => words(rng.nextInt(words.size)))
        .mkString(Seq(" ", "  ", "\t", " \n ")(rng.nextInt(4)))
    }
    val docs = (fixed ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    // minhash: kernel array vs the round-1 exploded shingle→min-agg pipeline
    val kernelSig = docs.select($"doc_id", natives.minhashSig($"text", 8, 3).as("sig"))
      .filter($"sig".isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    val sh = docs.select($"doc_id", explode(Dedup.shingles($"text", 3)).as("sh"))
    val hs = Dedup.seededHashes($"sh", 8)
    val explodedSig = sh.select($"doc_id" +: hs.zipWithIndex.map { case (h, i) => h.as(s"h$i") }: _*)
      .groupBy($"doc_id").agg(min($"h0").as("m0"), (1 until 8).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9)).toMap
    assert(kernelSig == explodedSig,
      "one-pass MinHash must be bit-identical to the exploded pipeline")

    // simhash: kernel vs explode+md5Long+collect_list+simhash64
    val kernelSim = docs.select($"doc_id", natives.simhashText($"text"))
      .as[(Long, Long)].collect().toMap
    val explodedSim = docs
      .select($"doc_id", explode(graft.operators.TextOps.tokens($"text")).as("w"))
      .select($"doc_id", graft.operators.TextOps.md5Long64($"w").as("h"))
      .groupBy($"doc_id").agg(collect_list($"h").as("hs"))
      .select($"doc_id", natives.simhash64($"hs"))
      .as[(Long, Long)].collect().toMap
    assert(kernelSim == explodedSim,
      "one-pass SimHash must be bit-identical to the exploded pipeline")
  }

  test("property: cumSumGlobal equals the single-partition cumulative on random data") {
    val gen: Gen[List[(Long, String)]] = Gen.listOfN(60,
      for {
        ts <- Gen.choose(0L, 50L)            // coarse → frequent RANGE peers
        cents <- Gen.choose(-99999L, 99999L) // negatives exercise sign paths
      } yield (ts * 86400000L + (ts % 7) * 3600000L, s"${cents / 100}.${math.abs(cents % 100)}"))
    for (seed <- 1 to 10) {
      val rows = sample(gen, seed.toLong)
      val df = rows.toDF("ms", "sv")
        .select(timestamp_millis($"ms").as("t"), $"sv".cast("decimal(18,2)").as("v"))
        .repartition(5)
      val got = Ops.cumSumGlobal(df, "t", "v", "cum", date_trunc("day", $"t"))
        .select($"t".cast("string"), $"cum".cast("decimal(38,8)").cast("string"))
        .as[(String, String)].collect().sorted.toSeq
      val w = org.apache.spark.sql.expressions.Window.orderBy($"t")
        .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val want = df.select($"t".cast("string"),
          sum($"v").over(w).cast("decimal(38,8)").cast("string"))
        .as[(String, String)].collect().sorted.toSeq
      assert(got == want, s"seed $seed diverged")
    }
  }

  test("property: vocab coverage's bucketed prefix sum equals a naive driver ranking") {
    // the q_x_vocab_coverage decomposition ((-tf, first-char) partitions +
    // handoff offsets) must equal the single global (tf DESC, term ASC)
    // cumulative — including the exact-integer keep rule and cov_bp
    val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "zq")
    val docGen: Gen[String] =
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for (seed <- 1 to 5) {
      val docs = sample(Gen.listOfN(30, docGen), seed.toLong).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val dir = tempDir(s"graft_vocab_$seed").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q_x_vocab_coverage")(spark, dir)
        .as[(String, Long, Long, Long)].collect().toSet
      val tf = docs.flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = tf.values.sum
      val ranked = tf.toSeq.sortBy { case (t, c) => (-c, t) }
      var cum = 0L
      val want = ranked.flatMap { case (t, c) =>
        val before = cum; cum += c
        if (before * 20 < total * 19) Some((t, c, cum, cum * 10000 / total)) else None
      }.toSet
      assert(got == want, s"seed $seed diverged")
    }
  }

  test("property: bigram fluency equals a driver-side position-ordered naive scorer") {
    // exact Double equality expected: same integer divisions, same
    // position-ordered fold, same final division — identical IEEE sequence
    val word: Gen[String] = Gen.oneOf("a", "b", "c", "d")
    val docGen: Gen[String] =
      Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for (seed <- 1 to 5) {
      val docs = sample(Gen.listOfN(25, docGen), seed.toLong).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val dir = tempDir(s"graft_bigram_$seed").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q_x_bigram_fluency")(spark, dir)
        .as[(Long, Int, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }
      val bgs = toks.flatMap { case (id, ws) =>
        ws.zip(ws.drop(1)).zipWithIndex.map { case (p, i) => (id, i, p) } }
      val c2 = bgs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val c1 = bgs.groupBy(_._3._1).view.mapValues(_.size.toLong).toMap
      val want = bgs.groupBy(_._1).map { case (id, rows) =>
        val ps = rows.sortBy(_._2).map(r => c2(r._3).toDouble / c1(r._3._1).toDouble)
        id -> ((rows.size, ps.foldLeft(0.0)(_ + _) / rows.size.toDouble))
      }
      assert(got == want, s"seed $seed diverged")
    }
  }

  test("property: contaminationReport equals the naive n-gram set intersection") {
    val word: Gen[String] = Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl")
    val docGen: Gen[String] = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen: Gen[List[String]] = Gen.listOfN(12, docGen)
    for (seed <- 1 to 10) {
      val corpusDocs = sample(corpusGen, seed.toLong)
      val benchDocs = sample(corpusGen, seed + 5000L)
      val corpus = corpusDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bench = benchDocs.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val n = 3
      def grams(t: String): Set[Seq[String]] = {
        val toks = t.trim.split("\\s+").toSeq
        if (toks.size < n) Set.empty else toks.sliding(n).map(_.toSeq).toSet
      }
      val benchGrams = benchDocs.zipWithIndex
        .flatMap { case (t, i) => grams(t).map(g => g -> (100L + i)) }
        .groupBy(_._1).map { case (g, hits) => g -> hits.map(_._2).min }
      val want = corpusDocs.zipWithIndex.flatMap { case (t, i) =>
        val hits = grams(t).flatMap(g => benchGrams.get(g).map(g -> _))
        if (hits.isEmpty) None
        else Some((i.toLong, hits.size.toLong, hits.map(_._2).min))
      }.toSet
      val got = graft.operators.TextOps.contaminationReport(corpus, bench, n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed $seed: got $got want $want")
    }
  }

  test("property: relational CMS equals a naive driver-side sketch under forced collisions") {
    import org.apache.spark.unsafe.types.UTF8String
    val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen: Gen[String] = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen: Gen[List[String]] = Gen.listOfN(15, docGen)
    val (depth, width) = (2, 4) // 8 terms into 2×4 buckets: collisions guaranteed
    for (seed <- 1 to 10) {
      val docs = sample(corpusGen, seed.toLong)
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val exact = docs.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, hits) => t -> hits.size.toLong }
      val counters = scala.collection.mutable.Map.empty[(Int, Int), Long]
      exact.foreach { case (t, c) =>
        (0 until depth).foreach { i =>
          val b = org.apache.spark.sql.graft.NativeKernels
            .cmsBucket(UTF8String.fromString(t), i, width)
          counters((i, b)) = counters.getOrElse((i, b), 0L) + c
        }
      }
      val want = exact.keySet.map { t =>
        t -> (0 until depth).map { i =>
          counters((i, org.apache.spark.sql.graft.NativeKernels
            .cmsBucket(UTF8String.fromString(t), i, width)))
        }.min
      }.toMap
      val got = graft.operators.Sketches
        .cmsHeavyHitters(df, "text", depth, width, k = 1000)
        .as[(String, Long)].collect().toMap
      assert(got == want, s"seed $seed: got $got want $want")
      want.foreach { case (t, est) => assert(est >= exact(t), s"seed $seed undercount on $t") }
    }
  }

  test("property: topKPerGroup tournament equals the naive single-window top-k") {
    val rowGen: Gen[(Int, Long, Long)] = for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(0L, 50L)   // narrow range: force value ties across salts
      id <- Gen.choose(0L, 100000L)
    } yield (g, v, id)
    for (seed <- 1 to 8) {
      val rows = sample(Gen.listOfN(60, rowGen), seed.toLong)
        .distinctBy(_._3) // id is the total-order tiebreak, keep it unique
      val df = rows.toDF("g", "v", "id")
      for (k <- Seq(1, 3, 7)) {
        val got = Ops.topKPerGroup(df, Seq("g"),
            Seq(col("v").desc, col("id").asc), col("id"), k = k, salts = 5)
          .as[(Int, Long, Long)].collect().toSet
        val want = rows.groupBy(_._1).values.flatMap { grp =>
          grp.sortBy(r => (-r._2, r._3)).take(k)
        }.toSet
        assert(got == want, s"seed $seed k $k: got $got want $want")
      }
    }
  }

  test("time-window params parse with reference contract") {
    import graft.serve.TimeWindowParams._
    assert(parse(Some("3m"), None) == Months(3))
    assert(parse(Some("12m"), None) == Months(12))
    assert(parse(Some("all"), None) == All)
    assert(parse(None, None) == Months(3)) // default only on absence
    intercept[IllegalArgumentException](parse(Some("bogus"), None))
    intercept[IllegalArgumentException](parse(Some("9m"), None))
    val f = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    assert(parse(Some("6m"), Some(f)) == From(f)) // from wins
  }

  test("limit clamping follows the reference pagination guard") {
    import graft.serve.TimeWindowParams.clampLimit
    assert(clampLimit(None) == 10)          // absent → default
    assert(clampLimit(Some(42)) == 42)      // in range passes through
    assert(clampLimit(Some(100)) == 100)    // cap inclusive
    assert(clampLimit(Some(5000)) == 100)   // oversized → clamped, not error
    assert(clampLimit(Some(0)) == 0)
    assert(clampLimit(Some(7), default = 25, max = 50) == 7)
    assert(clampLimit(None, default = 25, max = 50) == 25)
    intercept[IllegalArgumentException](clampLimit(Some(-1)))
  }

  test("catch-up scheduling mirrors the reference timer math") {
    import graft.serve.Scheduling.catchUpDelaySeconds
    val hour = 3600L
    assert(catchUpDelaySeconds(hour, None, 1000000L) == 0L)           // cold start → now
    assert(catchUpDelaySeconds(hour, Some(0L), hour * 2000) == 0L)    // long overdue → now
    val now = 10_000_000_000L
    assert(catchUpDelaySeconds(hour, Some(now - 600_000), now) == 3000L) // 10 min ago → 50 min
    assert(catchUpDelaySeconds(hour, Some(now), now) == hour)         // just ran / skew → full
    assert(catchUpDelaySeconds(hour, Some(now + 5000), now) == hour)  // future ts → full
    intercept[IllegalArgumentException](catchUpDelaySeconds(0, None, now))
  }

  test("property: removeDuplicateSpans equals the naive gram-count reference") {
    val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc: Gen[String] = Gen.choose(0, 9)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpusGen: Gen[List[String]] = Gen.listOfN(12, doc)
    val n = 3
    for (seed <- 1 to 8) {
      val texts = sample(corpusGen, 9000 + seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

      // naive reference: count every gram instance corpus-wide, cut every
      // token covered by a duplicated gram's window
      val toks = texts.map(_.trim.split("\\s+").toSeq)
      val allGrams = toks.flatMap(ws =>
        if (ws.length < n || (ws.length == 1 && ws.head.isEmpty)) Nil
        else ws.sliding(n).map(_.mkString(" ")).toSeq)
      val counts = allGrams.groupBy(identity).view.mapValues(_.size).toMap
      val want = toks.zipWithIndex.map { case (ws, id) =>
        val starts =
          if (ws.length < n || (ws.length == 1 && ws.head.isEmpty)) Seq.empty[Int]
          else (0 to ws.length - n).filter(s => counts(ws.slice(s, s + n).mkString(" ")) >= 2)
        val kept = ws.indices.filterNot(p => starts.exists(s => p >= s && p <= s + n - 1))
        id.toLong -> ((ws.length, starts.length, kept.length))
      }.toMap

      val got = graft.operators.Dedup.removeDuplicateSpans(docs, n = n)
        .select("doc_id", "n_tokens", "n_dup_grams", "n_kept")
        .as[(Long, Int, Int, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == want, s"seed $seed")
    }
  }

  test("property: gap-based sessionization equals Spark's native session_window") {
    // the q_x_sessionize rule (new session when gap > 1800 s) is exactly
    // session_window with a 1800 s gap: session_window merges while
    // diff ≤ gap — the window end touches INCLUSIVELY (diff 1800 at gap
    // 1800 merges, 1801 splits; this test's pinned boundary pair proves
    // the off-by-one a 1801 s gap would introduce) — the bridge to the
    // streaming-capable native operator (StreamJobs.sessionCounts).
    // Inputs carry SUB-SECOND timestamps and
    // BOTH sides second-truncate first, exactly as both production paths
    // do — on raw ns-precision a boundary gap (e.g. 1800.4 s raw → 1801 s
    // truncated) splits under the batch rule but merges under a raw-clock
    // session_window, so the equivalence is only true post-truncation;
    // sampling only whole seconds would never exercise that edge.
    val evGen: Gen[List[(Int, Long)]] = Gen.listOfN(80,
      for {
        user <- Gen.choose(0, 3)
        tMs <- Gen.choose(0L, 20000000L) // millisecond precision
      } yield (user, tMs))
    for (seed <- 1 to 6) {
      // pin BOTH boundary cases alongside the random sample. User 9:
      // 100.9 s and 1901.3 s — a 1800.4 s raw gap that truncates to
      // 100 s / 1901 s = a 1801 s gap → must SPLIT on both sides (and a
      // raw-clock session_window would have merged it). User 8: exactly
      // 1800 s truncated → must MERGE on both sides (and a 1801 s
      // session_window gap would also merge 1801 — the off-by-one this
      // pair disambiguates together with user 9).
      val boundary = List((9, 100900L), (9, 100900L + 1800400L),
        (8, 50000L), (8, 50000L + 1800000L))
      val rows = (sample(evGen, 7000 + seed) ++ boundary).distinct
      val df = rows.zipWithIndex.map { case ((u, tMs), i) =>
        (u.toLong, i.toLong, new java.sql.Timestamp(tMs)) }
        .toDF("user_id", "event_id", "raw_ts")
        .withColumn("ts", date_trunc("second", $"raw_ts"))

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val batch = df
        .withColumn("gap_s",
          unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
        .withColumn("is_new", when($"gap_s".isNull || $"gap_s" > 1800, 1).otherwise(0))
        .withColumn("sid", sum($"is_new").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(min($"ts").as("s"), max($"ts").as("e"), count(lit(1)).as("n"))
        .select($"user_id", $"s", $"e", $"n")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet

      val native = df
        .groupBy(session_window($"ts", "1800 seconds"), $"user_id")
        .agg(min($"ts").as("s"), max($"ts").as("e"), count(lit(1)).as("n"))
        .select($"user_id", $"s", $"e", $"n")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet

      assert(batch == native, s"seed $seed")
      // the pinned boundary pairs really did split / merge
      assert(native.count(_._1 == 9L) == 2, s"seed $seed: 1801 s gap must split")
      assert(native.count(_._1 == 8L) == 1, s"seed $seed: 1800 s gap must merge")
    }
  }

  test("json response sink renders clamped rows as a JSON array") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val body = graft.sink.Sinks.toJsonResponse(df.orderBy("id"), maxRows = 2)
    assert(body.startsWith("[") && body.endsWith("]"))
    assert(body.contains("\"id\":1") && body.contains("\"name\":\"a\""))
    assert(!body.contains("\"id\":3"), "rows past the clamp must not serialize")
  }

  test("property: slidingChunks covers every token exactly, overlap = w − s") {
    import spark.implicits._
    val lens = sample(Gen.listOfN(25, Gen.choose(0, 90)), 77L)
    val docs = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (0 until n).map(j => s"w$j").mkString(" ")) }
      .toDF("doc_id", "text")
    val (w, s) = (32, 24)
    val got = graft.operators.TextOps.slidingChunks(docs, "text", w, s)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_chunk_tokens")
      .as[(Long, Int, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toList).toMap
    lens.zipWithIndex.foreach { case (n, i) =>
      val chunks = got.getOrElse(i.toLong, Nil)
      if (n == 0) assert(chunks.isEmpty, "blank docs emit no chunks")
      else {
        // starts are exactly 0, s, 2s, … < n
        assert(chunks.map(_._3) == (0L until n.toLong by s.toLong).toList)
        // chunk k covers [k·s, min(k·s + w, n)) — union covers [0, n)
        // exactly: consecutive chunks overlap w − s except a short tail
        chunks.foreach { case (_, k, st, len) =>
          assert(len == math.min(st + w, n.toLong) - st, s"doc $i chunk $k")
        }
        assert(chunks.last._3 + chunks.last._4 == n.toLong,
          "last chunk must end at the last token")
      }
    }
  }

  test("property: rollingOriginCv fold membership is derivable and exhaustive") {
    import spark.implicits._
    val dayGen = Gen.listOfN(60, Gen.choose(1, 20))
    val days = sample(dayGen, 99L)
    val df = days.zipWithIndex
      .map { case (d, i) => (i.toLong, f"2024-05-$d%02d 12:00:00") }
      .toDF("id", "ts0")
      .select($"id", to_timestamp($"ts0").as("ts"))
    val k = 4
    val got = Ops.rollingOriginCv(df, "ts", k)
      .select($"id", $"fold_val", $"n_train_folds")
      .as[(Long, Option[Int], Int)].collect().toList
    assert(got.size == days.size, "one output row per input row")
    val distinctDays = days.distinct.sorted
    val p = distinctDays.size
    got.foreach { case (id, fv, ntf) =>
      val rank = distinctDays.indexOf(days(id.toInt)) + 1
      val expectFv = if (rank > p - k) Some(rank - (p - k)) else None
      assert(fv == expectFv, s"row $id day-rank $rank of $p")
      assert(ntf == k - expectFv.getOrElse(0), s"row $id")
    }
    // exhaustive: every fold's val set = exactly the rows of its origin day
    (1 to k).foreach { f =>
      val valRows = got.count(_._2.contains(f))
      val originDay = distinctDays(p - k + f - 1)
      assert(valRows == days.count(_ == originDay), s"fold $f val set")
    }
  }
}
