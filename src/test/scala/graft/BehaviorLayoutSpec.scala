package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.Ops
import graft.queries.{BehaviorQueries, LayoutQueries}
import graft.sources.Tables

/** Independent (non-oracle) checks for the behavioral-analytics and
  * physical-layout operators: the DuckDB gate proves SQL equivalence;
  * these pin the operator CONTRACTS — funnel ordering against a naive
  * driver replay, SCD2 interval algebra, cohort identities, Morton bit
  * math against a bit-twiddling reference, and the z-tile locality bound
  * that makes z-order file skipping work.
  */
class BehaviorLayoutSpec extends SparkSpec {

  // ---- Morton / z-order ----

  /** Reference interleave: plain per-bit loop, the slow-but-obvious form. */
  private def mortonRef(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
    }

  test("mortonInterleave matches the per-bit reference on random 16-bit pairs") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq((0L, 0L), (65535L, 65535L), (5L, 3L), (65535L, 0L), (0L, 65535L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = spark.createDataFrame(pairs).toDF("x", "y")
      .select(col("x"), col("y"), Ops.mortonInterleave(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == mortonRef(x, y), s"morton($x, $y) = $z, expected ${mortonRef(x, y)}")
    }
  }

  test("mortonInterleave raises on out-of-range coordinates instead of aliasing") {
    val df = spark.createDataFrame(Seq((65536L, 0L))).toDF("x", "y")
      .select(Ops.mortonInterleave(col("x"), col("y")))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("mortonInterleave") ||
      Option(e.getCause).exists(_.getMessage.contains("mortonInterleave")))
  }

  test("z-tiles bound both dimensions: every zbucket spans ≤ 256 customers × 256 days") {
    // the property file skipping rests on: dropping 16 interleaved bits
    // (8 per dimension) confines a tile to a 256×256 cell, so per-tile
    // min/max footer stats stay tight no matter how many rows the table
    // grows — tiles get heavier, never wider
    val stats = LayoutQueries.queries("q_x_zorder_stats")(spark, sfDir).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (cd, dd) = (r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust"),
        r.getAs[Long]("max_day") - r.getAs[Long]("min_day"))
      assert(cd >= 0 && cd <= 255, s"zbucket ${r.get(0)} customer span $cd")
      assert(dd >= 0 && dd <= 255, s"zbucket ${r.get(0)} day span $dd")
    }
  }

  private def hilbertRef(n: Long, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("hilbertIndex matches the canonical xy2d loop and raises out of range") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq((0L, 0L), (32767L, 32767L), (5L, 7L), (32767L, 0L), (0L, 32767L)) ++
      Seq.fill(200)((rnd.nextInt(32768).toLong, rnd.nextInt(32768).toLong))
    spark.createDataFrame(pairs).toDF("x", "y")
      .select(col("x"), col("y"), Ops.hilbertIndex(col("x"), col("y")).as("h"))
      .collect().foreach { r =>
        val (x, y, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(h == hilbertRef(32768L, x, y), s"hilbert($x, $y) = $h")
      }
    val e = intercept[Exception](
      spark.createDataFrame(Seq((32768L, 0L))).toDF("x", "y")
        .select(Ops.hilbertIndex(col("x"), col("y"))).collect())
    assert(e.getMessage.contains("hilbertIndex") ||
      Option(e.getCause).exists(_.getMessage.contains("hilbertIndex")))
  }

  test("hilbert locality: consecutive indexes are grid-adjacent; tiles beat morton's bbox") {
    // the curve-adjacency property morton lacks: d and d+1 always map to
    // cells one step apart (driver replay of d2xy via inverting the ref
    // on a small grid)
    val n = 64L
    val cells = (for (x <- 0L until n; y <- 0L until n) yield (hilbertRef(n, x, y), x, y))
      .sortBy(_._1)
    cells.sliding(2).foreach { case Seq((d1, x1, y1), (d2, x2, y2)) =>
      assert(d2 == d1 + 1 && math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step at d=$d1")
    }
    // and the payoff on the real data: equal-grain tiles from the Hilbert
    // sort have a no-worse total bounding-box perimeter than z-order's
    // (tighter boxes = tighter footers = more pruning)
    def totalSpan(q: String): Long =
      LayoutQueries.queries(q)(spark, sfDir).collect().map { r =>
        (r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")) +
          (r.getAs[Long]("max_day") - r.getAs[Long]("min_day"))
      }.sum
    val hz = totalSpan("q_x_hilbert_stats")
    val zz = totalSpan("q_x_zorder_stats")
    assert(hz <= zz, s"hilbert total span $hz vs zorder $zz")
  }

  test("z-order layout actually skips row groups for the NON-leading dimension") {
    // End-to-end proof of the layout claim, not just the key arithmetic:
    // write orders twice into 8 files — once range-partitioned+sorted by
    // the z-value, once by o_custkey (the lexicographic strawman) — then
    // scan with a date-only predicate. Parquet row-group stats let the
    // reader skip groups whose [min,max] exclude the predicate: the
    // z-layout bounds BOTH custkey and orderdate per file, so a date
    // predicate skips most groups; the custkey-sorted layout leaves every
    // file spanning the full date range, so nothing skips. Measured on
    // the scan's actual materialized-row metric.
    //
    // The date rides as a parquet DATE (int32) — a stats-bearing physical
    // type is part of the layout recipe: Spark's TimestampType columns
    // (INT96, or INT64 with the NTZ annotation mismatch) never match the
    // pushed rowgroup filter, and nothing prunes regardless of layout
    // (measured: both layouts read all rows before this cast).
    val base = Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", to_date(col("o_orderdate")))
      .withColumn("zval", Ops.mortonInterleave(
        col("o_custkey").cast("bigint"),
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1995-01-01")))
          .cast("bigint")))
    val zDir = tempDir("graft_zsort").toString
    val lexDir = tempDir("graft_lexsort").toString
    base.repartitionByRange(8, col("zval")).sortWithinPartitions(col("zval"))
      .drop("zval").write.mode("overwrite").parquet(zDir)
    base.repartitionByRange(8, col("o_custkey")).sortWithinPartitions(col("o_custkey"))
      .drop("zval").write.mode("overwrite").parquet(lexDir)

    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir)
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderdate") < lit(java.sql.Date.valueOf("1996-04-01")))
      df.collect()
      // SQL metrics settle via listener events; poll briefly
      def read(): Long = df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      var v = read(); var tries = 0
      while (v == 0 && tries < 20) { Thread.sleep(100); v = read(); tries += 1 }
      v
    }
    val total = base.count()
    val zRows = scannedRows(zDir)
    val lexRows = scannedRows(lexDir)
    assert(lexRows >= (total * 9) / 10,
      s"custkey-sorted layout should read ~everything for a date predicate, read $lexRows/$total")
    assert(zRows * 2 <= lexRows,
      s"z-layout should skip at least half the rows the lexicographic one reads ($zRows vs $lexRows)")
  }

  // ---- funnel ----

  test("funnel counts match a naive per-user driver replay") {
    val winMicros = 7L * 86400L * 1000000L
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byUser = events.groupBy(_._1)
    var (n1, n2, n3) = (0L, 0L, 0L)
    byUser.foreach { case (_, evs) =>
      val t1 = evs.filter(_._3 == "view").map(_._2).minOption
      t1.foreach { a =>
        n1 += 1
        val t2 = evs.filter(e => e._3 == "click" && e._2 > a && e._2 <= a + winMicros)
          .map(_._2).minOption
        t2.foreach { b =>
          n2 += 1
          if (evs.exists(e => e._3 == "purchase" && e._2 > b && e._2 <= a + winMicros))
            n3 += 1
        }
      }
    }
    val row = BehaviorQueries.queries("q_x_funnel")(spark, sfDir).collect().head
    assert(row.getAs[Long]("users_view") == n1)
    assert(row.getAs[Long]("users_click") == n2)
    assert(row.getAs[Long]("users_purchase") == n3)
    assert(n1 >= n2 && n2 >= n3, "funnel must be monotone")
    assert(row.getAs[Long]("click_conv_bp") == n2 * 10000 / n1)
  }

  test("rolling 7-day WAU matches a driver sliding-window replay") {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val days = act.map(_._2).distinct
    val want = days.map { d =>
      d -> act.filter(a => a._2 <= d && a._2 > d - 7L * 86400000L)
        .map(_._1).distinct.length.toLong
    }.toMap
    val got = BehaviorQueries.queries("q_x_rolling_wau")(spark, sfDir)
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("conversion lag median matches a driver doubled-median replay") {
    val winUs = 7L * 86400L * 1000000L
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lags = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      for {
        t1 <- es.filter(_._3 == "view").map(_._2).minOption
        t2 <- es.filter(e => e._3 == "click" && e._2 > t1 && e._2 <= t1 + winUs)
          .map(_._2).minOption
        sg <- seg.get(u)
      } yield (sg, u, t2 - t1)
    }
    def med2(xs: Seq[(Long, Long)]): Long = { // (lag, tiebreak user) pairs
      val s = xs.sortBy(identity).map(_._1)
      val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val want = lags.groupBy(_._1).map { case (sg, ls) =>
      sg -> ((ls.length.toLong, med2(ls.map(l => (l._3, l._2)))))
    }
    val got = BehaviorQueries.queries("q_x_conversion_lag")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("equi-depth histogram: decile counts within 1, ordered non-overlapping bounds") {
    val rows = graft.queries.ProfileQueries.queries("q_x_equidepth")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totals = Tables.events(spark, sfDir).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (tpe, ds0) =>
      val ds = ds0.sortBy(_._2)
      assert(ds.map(_._2).toSeq == (1 to 10), s"$tpe deciles not dense")
      assert(ds.map(_._3).sum == totals(tpe), s"$tpe counts don't total")
      assert(ds.map(_._3).max - ds.map(_._3).min <= 1,
        s"$tpe equi-depth property violated")
      ds.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4, s"$tpe bounds overlap-disordered")
        case _ =>
      }
      ds.foreach(d => assert(d._4 <= d._5))
    }
    assert(rows.nonEmpty)
  }

  // ---- SCD2 ----

  test("scd2 versions tile each user's timeline: adjacent intervals meet, states differ, one current") {
    val rows = BehaviorQueries.queries("q_x_scd2")(spark, sfDir)
      .orderBy(col("user_id"), col("version")).collect()
    val firstTs = Tables.events(spark, sfDir).groupBy(col("user_id"))
      .agg(min(col("ts")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (uid, vs0) =>
      val vs = vs0.sortBy(_.getAs[Int]("version"))
      assert(vs.map(_.getAs[Int]("version")).toSeq == (1 to vs.length),
        s"user $uid versions not dense")
      assert(vs.head.getAs[java.sql.Timestamp]("valid_from") == firstTs(uid),
        s"user $uid history must start at their first event")
      vs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("valid_to") ==
            b.getAs[java.sql.Timestamp]("valid_from"),
            s"user $uid: interval gap between v${a.get(1)} and v${b.get(1)}")
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $uid: un-collapsed duplicate state at v${b.get(1)}")
        case _ =>
      }
      assert(vs.count(_.getAs[Boolean]("is_current")) == 1, s"user $uid current count")
      assert(vs.last.getAs[Boolean]("is_current") && vs.last.isNullAt(4))
    }
  }

  test("rfm scores are balanced quintiles per segment and the code decomposes") {
    val rows = BehaviorQueries.queries("q_x_rfm")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
        r.getAs[Int]("m_score"))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5)
      assert(r.getAs[Int]("rfm_code") == rs * 100 + fs * 10 + ms)
      assert(r.getAs[Int]("recency_days") >= 0)
    }
    // NTILE balance: within a segment, bucket sizes differ by ≤ 1 per dim
    rows.groupBy(_.getString(1)).foreach { case (seg, rs) =>
      Seq("r_score", "f_score", "m_score").foreach { dim =>
        val sizes = rs.groupBy(_.getAs[Int](dim)).values.map(_.length)
        assert(sizes.max - sizes.min <= 1, s"$seg/$dim quintiles unbalanced")
      }
    }
  }

  test("path trigrams match a driver sliding-triple replay") {
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._2, e._3)).map(_._4).sliding(3).collect {
        case Array(a, b, c) => (a, b, c)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = BehaviorQueries.queries("q_x_path_trigrams")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("gap buckets are exact power-of-two bands and count every gap") {
    val rows = BehaviorQueries.queries("q_x_gap_buckets")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, lo, hi) = (r.getAs[Int]("bucket"),
        r.getAs[Long]("min_gap_s"), r.getAs[Long]("max_gap_s"))
      if (b == -1) assert(lo == 0 && hi == 0)
      else {
        assert(lo >= (1L << b) && hi < (1L << (b + 1)),
          s"bucket $b bounds [$lo, $hi] escape [2^$b, 2^${b + 1})")
      }
    }
    // every consecutive gap lands in exactly one bucket: totals match
    val nGaps = Tables.events(spark, sfDir).count() -
      Tables.events(spark, sfDir).select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == nGaps)
  }

  // ---- cohort retention ----

  test("cohort retention: offset-0 cell is the cohort size, cells sum to the activity grid") {
    val cells = BehaviorQueries.queries("q_x_cohort_retention")(spark, sfDir).collect()
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    val cohortSizes = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("c")).groupBy(col("c")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val zero = cells.filter(_.getAs[Int]("offset_days") == 0)
    assert(zero.length == cohortSizes.size, "every cohort has its day-0 cell")
    zero.foreach { r =>
      assert(r.getAs[Long]("users") == cohortSizes(r.getTimestamp(0)),
        s"cohort ${r.get(0)} day-0 cell must equal the cohort size")
    }
    assert(cells.map(_.getAs[Long]("users")).sum == act.count(),
      "cells partition the (user, day) activity grid")
    assert(cells.forall(_.getAs[Int]("offset_days") >= 0))
  }

  // ---- triangle census ----

  test("triangleStats matches a brute-force census on a known graph and tames a star") {
    import spark.implicits._
    // K4 plus a pendant: 4 triangles in K4, none through the pendant.
    // Edges given messy on purpose: duplicates, both directions, a loop.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L), (4L, 5L), (5L, 5L)).toDF("a", "b")
    val row = graft.operators.Graph.triangleStats(edges, "a", "b").collect().head
    assert(row.getAs[Long]("n_nodes") == 5 && row.getAs[Long]("n_edges") == 7)
    assert(row.getAs[Long]("n_triangles") == 4)
    // wedges: degrees (3,3,3,4,1) → 3+3+3+6+0 = 15; cc = 12/15 = 8000bp
    assert(row.getAs[Long]("n_wedges") == 15)
    assert(row.getAs[Long]("clustering_bp") == 8000)

    // star K1,50: no triangles, and the degree orientation points every
    // edge INTO the hub, so the wedge join generates zero candidates —
    // the property that keeps hubs from melting a reducer at scale
    val star = (1L to 50L).map(i => (0L, i)).toDF("a", "b")
    val srow = graft.operators.Graph.triangleStats(star, "a", "b").collect().head
    assert(srow.getAs[Long]("n_triangles") == 0)
    assert(srow.getAs[Long]("n_wedges") == 50 * 49 / 2)
  }

  test("triangleStats raises on node ids outside [0, 2^31)") {
    import spark.implicits._
    val bad = Seq((1L, 1L << 31)).toDF("a", "b")
    val e = intercept[Exception](
      graft.operators.Graph.triangleStats(bad, "a", "b").collect())
    assert(e.getMessage.contains("triangleStats") ||
      Option(e.getCause).exists(_.getMessage.contains("triangleStats")))
  }

  // ---- robust MAD outliers ----

  test("q_x_outliers_mad matches a naive driver median/MAD replay") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def med2(xs: Seq[Long]): Long = { // doubled median, integer-exact
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (t, es) =>
      val m2 = med2(es.map(_._3).toSeq)
      val devs = es.toSeq.map(e => (e._2, math.abs(2 * e._3 - m2)))
      val m4 = med2(devs.map(_._2))
      devs.filter(d => 2 * d._2 > 3 * m4).map(d => (t, d._1))
    }.toSet
    val got = BehaviorQueries.queries("q_x_outliers_mad")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getAs[Long]("event_id"))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ---- unpivot / pivot inverse ----

  test("q_x_unpivot melts back exactly to the raw (day, type) counts") {
    val long = graft.queries.ProfileQueries.queries("q_x_unpivot")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val raw = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    raw.foreach { case (k, n) => assert(long(k) == n, s"cell $k") }
    // melted cells absent from raw must be explicit zeros, never dropped
    assert(long.filterNot { case (k, _) => raw.contains(k) }.values.forall(_ == 0L))
  }

  // ---- salted skew join registry entry ----

  test("q_x_skew_join equals the plain-join aggregate") {
    val plain = Tables.events(spark, sfDir)
      .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")), "user_id")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total_value"))
      .collect().toSet
    val salted = LayoutQueries.queries("q_x_skew_join")(spark, sfDir).collect().toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }
}
