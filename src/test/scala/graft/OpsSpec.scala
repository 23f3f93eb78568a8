package graft

import org.apache.spark.sql.functions._
import graft.functions.Ops

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("latestPerKey keeps exactly the top row per key") {
    val df = Seq(("a", 1, 10), ("a", 2, 20), ("b", 5, 50)).toDF("k", "ord", "v")
    val got = Ops.latestPerKey(df, Seq("k"), Seq(col("ord").desc))
      .select("k", "v").as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 20, "b" -> 50))
  }

  test("asOfJoin attaches the latest right value at or before each left ts") {
    val left = Seq((1L, "u", 100L), (2L, "u", 205L), (3L, "u", 50L), (4L, "w", 100L))
      .toDF("id", "k", "t")
      .select($"id", $"k", timestamp_micros($"t").as("t"))
    val right = Seq(("u", 100L, 1.0), ("u", 200L, 2.0), ("v", 90L, 9.0))
      .toDF("rk", "rt", "price")
      .select($"rk", timestamp_micros($"rt").as("rt"), $"price")
    val got = Ops.asOfJoin(left, right, "k", "rk", "t", "rt", Seq("price"))
      .select($"id", $"price").as[(Long, Option[Double])].collect().toMap
    // id1: ts=100 matches price@100 (inclusive); id2: latest ≤205 is 2.0;
    // id3: before any price → null; id4: other key → null
    assert(got == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None, 4L -> None))
  }

  test("asOfJoin attaches a genuinely-NULL latest value instead of skipping to an older one") {
    val left = Seq((1L, "u", 300L)).toDF("id", "k", "t")
      .select($"id", $"k", timestamp_micros($"t").as("t"))
    val right = Seq(("u", 100L, Some(5.0)), ("u", 200L, None))
      .toDF("rk", "rt", "price")
      .select($"rk", timestamp_micros($"rt").as("rt"), $"price")
    val got = Ops.asOfJoin(left, right, "k", "rk", "t", "rt", Seq("price"))
      .select($"price").as[Option[Double]].head()
    // the latest right ROW (ts=200) has price NULL — true as-of semantics
    // (and SQL ASOF JOIN) attach NULL, not the older 5.0
    assert(got.isEmpty)
  }

  test("dateScaffold emits every day inclusive") {
    val bounds = Seq(("2024-01-01", "2024-01-05")).toDF("lo", "hi")
      .select($"lo".cast("timestamp").as("lo"), $"hi".cast("timestamp").as("hi"))
    val days = Ops.dateScaffold(bounds, col("lo"), col("hi"), "day")
    assert(days.count() == 5)
  }

  test("leadGlobal equals the single-partition global lead (distinct keys)") {
    import org.apache.spark.sql.expressions.Window
    // keys engineered around a small bucket: consecutive pairs straddling
    // bucket boundaries (7,8), (15,16), whole empty buckets between 16 and
    // 40, a gap inside a bucket (3→7), and a lone global max
    val keys = Seq(1L, 2L, 3L, 7L, 8L, 15L, 16L, 40L, 41L, 99L)
    val df = keys.toDF("k").repartition(4)
    val got = Ops.leadGlobal(df, "k", bucket = 8)
      .select($"k", $"next_k").as[(Long, Option[Long])].collect().toMap
    val want = df
      .withColumn("next_k", lead($"k", 1).over(Window.orderBy($"k")))
      .select($"k", $"next_k").as[(Long, Option[Long])].collect().toMap
    assert(got == want)
    assert(got(99L).isEmpty && got(16L).contains(40L) && got(7L).contains(8L))
  }

  test("leadGlobal buckets exactly above 2^53 (integral div, no double promotion)") {
    import org.apache.spark.sql.expressions.Window
    // adjacent keys around a bucket boundary in the range where
    // floor(k / bucket) through double would collapse distinct keys
    val base = (1L << 60) + 123456789L
    val keys = Seq(base, base + 1, base + 2, base + 65536L, base + 65537L)
    val df = keys.toDF("k").repartition(3)
    val got = Ops.leadGlobal(df, "k", bucket = 1L << 16)
      .select($"k", $"next_k").as[(Long, Option[Long])].collect().toMap
    val want = df
      .withColumn("next_k", lead($"k", 1).over(Window.orderBy($"k")))
      .select($"k", $"next_k").as[(Long, Option[Long])].collect().toMap
    assert(got == want)
  }

  test("cumSumGlobal equals the single-partition RANGE cumulative, peers included") {
    import org.apache.spark.sql.expressions.Window
    // duplicate order values (peers) both inside a bucket and as an entire
    // bucket; empty buckets between days; decimal values so the
    // decomposition must be exact
    val rows = Seq(
      ("2024-01-01 10:00:00", "1.10"), ("2024-01-01 10:00:00", "2.20"),
      ("2024-01-01 11:00:00", "0.70"), ("2024-01-03 09:00:00", "5.00"),
      ("2024-01-03 09:00:00", "0.05"), ("2024-01-09 23:59:59", "7.77"))
    val df = rows.toDF("s", "sv")
      .select($"s".cast("timestamp").as("t"), $"sv".cast("decimal(18,2)").as("v"))
      .repartition(4)
    val got = Ops.cumSumGlobal(df, "t", "v", "cum", date_trunc("day", $"t"))
      .select($"t".cast("string"), $"cum".cast("decimal(38,8)").cast("string"))
      .as[(String, String)].collect().sorted.toSeq
    val w = Window.orderBy($"t")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .select($"t".cast("string"), sum($"v").over(w).cast("decimal(38,8)").cast("string"))
      .as[(String, String)].collect().sorted.toSeq
    assert(got == want)
    // peers share the cumulative: both 10:00:00 rows carry 1.10+2.20
    val peers = got.filter(_._1.startsWith("2024-01-01 10")).map(_._2).distinct
    assert(peers.length == 1, s"peers diverged: $peers")
  }

  test("cumSumGlobal: empty input and single row stay well-formed") {
    val empty = Seq.empty[(java.sql.Timestamp, java.math.BigDecimal)].toDF("t", "v")
    assert(Ops.cumSumGlobal(empty, "t", "v", "cum", date_trunc("day", $"t")).count() == 0)
    val one = Seq(("2024-01-01 00:00:00", "1.50")).toDF("s", "sv")
      .select($"s".cast("timestamp").as("t"), $"sv".cast("decimal(18,2)").as("v"))
    val got = Ops.cumSumGlobal(one, "t", "v", "cum", date_trunc("day", $"t"))
      .select($"cum".cast("string")).as[String].collect()
    assert(got.toSeq == Seq("1.50"))
  }

  test("cumAggPerKey(max|sum) equals the single-window per-key running agg on random data") {
    import org.apache.spark.sql.expressions.Window
    // seeded random rows over 3 keys / 12 days with repeated timestamps
    // (the unique id column is the tiebreak), values negative and positive,
    // whole empty day-buckets per key
    val rnd = new scala.util.Random(20260814L)
    val rows = (1 to 300).map { i =>
      val key = s"k${rnd.nextInt(3)}"
      val day = 1 + rnd.nextInt(12)
      val sec = rnd.nextInt(3) * 1800 // forced ts collisions
      (i.toLong, key, f"2024-03-$day%02d 08:00:00", sec, (rnd.nextInt(4001) - 2000) / 100.0)
    }
    val df = rows.toDF("id", "k", "d", "sec", "dv")
      .select($"id", $"k",
        timestamp_seconds(unix_timestamp($"d".cast("timestamp")) + $"sec").as("t"),
        $"dv".cast("decimal(18,2)").as("v"))
      .repartition(5)
    val wRef = Window.partitionBy($"k").orderBy($"t", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for (agg <- Seq("max", "sum")) {
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (agg == "max") max else sum
      val got = Ops.cumAggPerKey(df, Seq("k"), Seq($"t", $"id"), "v", "out",
          date_trunc("day", $"t"), agg)
        .select($"id", $"out".cast("decimal(38,2)").cast("string"))
        .as[(Long, String)].collect().toMap
      val want = df.select($"id", fn($"v").over(wRef).cast("decimal(38,2)").cast("string"))
        .as[(Long, String)].collect().toMap
      assert(got == want, s"cumAggPerKey($agg) diverged from the plain window")
    }
  }

  test("lagPerKey equals the plain per-key lag, across bucket boundaries and gaps") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42L)
    val rows = (1 to 250).map { i =>
      (i.toLong, s"s${rnd.nextInt(4)}", rnd.nextLong(1L << 40).abs, rnd.nextInt(1000))
    }
    // bucket = key div 2^32: boundary-adjacent keys, empty buckets, and a
    // non-timestamp order column all in one
    val df = rows.toDF("id", "k", "ord", "v").repartition(6)
    val got = Ops.lagPerKey(df, Seq("k"), Seq($"ord", $"id"), "v", "prev",
        expr("ord div 4294967296"))
      .select($"id", $"prev").as[(Long, Option[Int])].collect().toMap
    val want = df
      .withColumn("prev", lag($"v", 1).over(Window.partitionBy($"k").orderBy($"ord", $"id")))
      .select($"id", $"prev").as[(Long, Option[Int])].collect().toMap
    assert(got == want)
    assert(got.values.count(_.isEmpty) == 4, "exactly one NULL lag per key")
  }

  test("cumAggPerKey and lagPerKey stay exact on a NULLABLE value column") {
    import org.apache.spark.sql.expressions.Window
    // every hazard at once: a bucket whose prefix is all NULL (the sum
    // path's NULL+off trap), a bucket ENDING in NULL (the lag handoff must
    // carry a genuine NULL across the boundary, not the older non-NULL),
    // and a mid-bucket NULL predecessor (must NOT be replaced by the
    // previous bucket's last value)
    val rnd = new scala.util.Random(1313L)
    val rows = (1 to 240).map { i =>
      val v = if (rnd.nextInt(3) == 0) None
        else Some(((rnd.nextInt(2001) - 1000) / 100.0).toString)
      (i.toLong, s"k${rnd.nextInt(3)}", rnd.nextInt(12).toLong * 100 + rnd.nextInt(100), v)
    }
    // decimal values: exact under the bucket decomposition's reassociation
    // (the point here is NULL handling, not float addition order)
    val df = rows.toDF("id", "k", "ord", "sv")
      .withColumn("v", $"sv".cast("decimal(18,2)")).drop("sv")
      .repartition(5)
    val wRef = Window.partitionBy($"k").orderBy($"ord", $"id")
    for (agg <- Seq("sum", "max")) {
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (agg == "max") max else sum
      val got = Ops.cumAggPerKey(df, Seq("k"), Seq($"ord", $"id"), "v", "out",
          expr("ord div 100"), agg)
        .select($"id", $"out".cast("decimal(38,2)").cast("string"))
        .as[(Long, Option[String])].collect().toMap
      val want = df.withColumn("out", fn($"v").over(
          wRef.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"id", $"out".cast("decimal(38,2)").cast("string"))
        .as[(Long, Option[String])].collect().toMap
      assert(got == want, s"cumAggPerKey($agg) diverged on nullable values")
    }
    val gotLag = Ops.lagPerKey(df, Seq("k"), Seq($"ord", $"id"), "v", "prev",
        expr("ord div 100"))
      .select($"id", $"prev".cast("string")).as[(Long, Option[String])].collect().toMap
    val wantLag = df.withColumn("prev", lag($"v", 1).over(wRef))
      .select($"id", $"prev".cast("string")).as[(Long, Option[String])].collect().toMap
    assert(gotLag == wantLag)
    // the sample really exercised the trap: more NULL lags than the 3
    // per-key leading ones means genuinely-NULL mid-series predecessors
    assert(wantLag.values.count(_.isEmpty) > 3, "want mid-series NULL lags in the sample")
  }

  test("intervalOverlapJoin equals the naive cross filter, each pair exactly once") {
    // seeded random half-open intervals spanning 0–40 buckets of width 10,
    // lengths 0–35 so many pairs share several buckets — the shape where a
    // missing responsibility rule duplicates matches
    val rnd = new scala.util.Random(7L)
    val as = (1 to 80).map { i =>
      val lo = rnd.nextInt(400).toDouble; (i.toLong, lo, lo + rnd.nextInt(36))
    }
    val bs = (1 to 60).map { i =>
      val lo = rnd.nextInt(400).toDouble; (i.toLong, lo, lo + rnd.nextInt(36))
    }
    val a = as.toDF("a_id", "a_lo", "a_hi").repartition(4)
    val b = bs.toDF("b_id", "b_lo", "b_hi").repartition(3)
    val got = Ops.intervalOverlapJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 10)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSeq
    val want = for {
      (ai, alo, ahi) <- as; (bi, blo, bhi) <- bs
      if alo < bhi && blo < ahi
    } yield (ai, bi)
    assert(got.sorted == want.sorted,
      s"got ${got.size} pairs (${got.distinct.size} distinct), want ${want.size}")
  }

  test("exactDouble: exact below 2^53, null passthrough, loud past the range") {
    val df = Seq(Tuple1(Option(123456789L)), Tuple1(Option.empty[Long]))
      .toDF("v")
    val got = df.select(Ops.exactDouble($"v").as("d"))
      .as[Option[Double]].collect().toSet
    assert(got == Set(Some(123456789.0), None))
    val big = Seq(Tuple1((1L << 53) + 1)).toDF("v")
    val ex = intercept[Exception] {
      big.select(Ops.exactDouble($"v").as("d")).collect()
    }
    assert(ex.getMessage.contains("2^53"), s"message was: ${ex.getMessage}")
  }

  test("rollingOriginCv: last k periods validate, history trains everywhere") {
    // 7 days, two rows on day 2 (multiplicity must survive the broadcast
    // join), k = 3: days 1-4 are pure history (fold_val null, trains in
    // all 3 folds); days 5/6/7 validate folds 1/2/3 and train in the
    // folds after their own (3-f each)
    val rows = (1 to 7).map(d => (d.toLong, s"2024-03-0$d 10:00:00")) :+
      (99L, "2024-03-02 23:59:59")
    val df = rows.toDF("id", "s").select($"id", to_timestamp($"s").as("ts"))
    val got = Ops.rollingOriginCv(df, "ts", k = 3)
      .select($"id", $"fold_val", $"n_train_folds")
      .as[(Long, Option[Int], Int)].collect()
    assert(got.length == 8, "every input row survives, duplicates included")
    val byId = got.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(byId(99L) == Seq((99L, None, 3)), "second day-2 row rides along")
    (1L to 4L).foreach(d => assert(byId(d) == Seq((d, None, 3))))
    assert(byId(5L) == Seq((5L, Some(1), 2)))
    assert(byId(6L) == Seq((6L, Some(2), 1)))
    assert(byId(7L) == Seq((7L, Some(3), 0)))
    // reconstruction contract: row r is validation of fold f iff
    // fold_val = f, and trains in fold f iff f > k - n_train_folds
    val trainCounts = got.map(_._3).sum
    assert(trainCounts == 5 * 3 + 2 + 1 + 0)
  }

  test("rollingOriginCv: sub-day grains keep hourly periods distinct (r14 advice)") {
    // 5 hours of one day at grain=hour, k=2: a DATE-cast period would
    // collapse all five into a single fold-less period
    val rows = (10 to 14).map(h => (h.toLong, s"2024-03-01 $h:15:00"))
    val df = rows.toDF("id", "s").select($"id", to_timestamp($"s").as("ts"))
    val got = Ops.rollingOriginCv(df, "ts", k = 2, grain = "hour")
      .select($"id", $"fold_val", $"n_train_folds")
      .as[(Long, Option[Int], Int)].collect()
    val byId = got.groupBy(_._1).view.mapValues(_.head).toMap
    (10L to 12L).foreach(h => assert(byId(h) == ((h, None, 2))))
    assert(byId(13L) == ((13L, Some(1), 1)))
    assert(byId(14L) == ((14L, Some(2), 0)))
    // and the period column stays a timestamp (no silent day collapse)
    val perType = Ops.rollingOriginCv(df, "ts", k = 2, grain = "hour")
      .schema("period").dataType.typeName
    assert(perType == "timestamp", perType)
  }

  test("rollingOriginCv: unrecognized grain fails loudly") {
    val df = Seq((1L, "2024-03-01 10:00:00")).toDF("id", "s")
      .select($"id", to_timestamp($"s").as("ts"))
    val ex = intercept[IllegalArgumentException] {
      Ops.rollingOriginCv(df, "ts", k = 1, grain = "fortnight")
    }
    assert(ex.getMessage.contains("unsupported grain"))
  }

  test("ObservationBridge.peek: an undelivered observation reads empty at once") {
    import org.apache.spark.sql.graft.ObservationBridge.peek
    val pending = org.apache.spark.sql.Observation()
    val t0 = System.nanoTime()
    (1 to 50).foreach(_ => assert(peek(pending).isEmpty))
    // a blocking read waits up to 100 ms per call: 50 calls would take 5 s
    assert((System.nanoTime() - t0) / 1e6 < 1000, "peek must not block")

    val fired = org.apache.spark.sql.Observation()
    spark.range(10).observe(fired, count(lit(1)).as("n")).collect()
    fired.get // waits for the listener
    assert(peek(fired) == Map("n" -> 10L))
    val (cp, read) = Ops.checkpointWithMetric(spark.range(7).toDF(), count(lit(1)).as("n"))
    assert(cp.count() == 7 && read().contains(7L))
  }
}
