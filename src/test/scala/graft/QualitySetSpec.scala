package graft

import org.apache.spark.sql.functions._
import graft.queries.{QualityQueries, WindowSetQueries}
import graft.sources.Tables

/** Contract checks for the data-quality operators and the bag-algebra set
  * operations. The DuckDB gate proves SQL equivalence on the clean test
  * tables — where every constraint passes — so the dq_report test here
  * does what the oracle can't: seed one violation of each class into a
  * corrupted copy of the tables and assert the report counts each
  * exactly once.
  */
class QualitySetSpec extends SparkSpec {
  import spark.implicits._

  test("dq_report counts seeded violations of every constraint class exactly") {
    val dir = tempDir("graft_dq").toString
    val o = Tables.orders(spark, sfDir)
    val nOrders = o.count()
    val corruptOrders = o
      // one duplicated key (row copy → +1 row, 1 uniqueness violation)
      .unionByName(o.limit(1))
      // one null custkey + one dangling custkey, on two fresh rows
      .unionByName(o.limit(1).withColumn("o_custkey", lit(null).cast("bigint"))
        .withColumn("o_orderkey", lit(900000001L)))
      .unionByName(o.limit(1).withColumn("o_custkey", lit(888888888L))
        .withColumn("o_orderkey", lit(900000002L)))
      // one out-of-domain status and one non-positive price
      .unionByName(o.limit(1).withColumn("o_orderstatus", lit("X"))
        .withColumn("o_orderkey", lit(900000003L)))
      .unionByName(o.limit(1).withColumn("o_totalprice", lit(-1.0))
        .withColumn("o_orderkey", lit(900000004L)))
    corruptOrders.write.parquet(s"$dir/orders.parquet")
    val li = Tables.lineitem(spark, sfDir)
    val nLi = li.count()
    li.unionByName(li.limit(1).withColumn("l_orderkey", lit(777777777L)))
      .unionByName(li.limit(1).withColumn("l_quantity", lit(0.0)))
      .write.parquet(s"$dir/lineitem.parquet")
    Tables.customer(spark, sfDir).write.parquet(s"$dir/customer.parquet")

    val got = QualityQueries.queries("q_x_dq_report")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // the null-custkey row also fails referential integrity (NOT EXISTS
    // over a null key is true on both engines) — 2 ref violations, not 1
    val want = Map(
      "orders.o_orderkey.unique" -> ((nOrders + 5, 1L, false)),
      "orders.o_custkey.not_null" -> ((nOrders + 5, 1L, false)),
      "orders.o_orderstatus.domain" -> ((nOrders + 5, 1L, false)),
      "orders.o_totalprice.positive" -> ((nOrders + 5, 1L, false)),
      "orders.o_custkey.ref_customer" -> ((nOrders + 5, 2L, false)),
      "lineitem.l_orderkey.ref_orders" -> ((nLi + 2, 1L, false)),
      "lineitem.l_quantity.range_1_50" -> ((nLi + 2, 1L, false)))
    assert(got == want, s"got $got")
  }

  test("dq_report passes every constraint on the clean tables") {
    val rows = QualityQueries.queries("q_x_dq_report")(spark, sfDir).collect()
    assert(rows.length == 7)
    assert(rows.forall(_.getAs[Boolean]("passed")),
      "driver-generated tables must satisfy every constraint")
  }

  test("seasonal anomaly flags exactly the >2-sigma days of a driver replay") {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    def dow(ts: java.sql.Timestamp): Int = {
      cal.setTimeInMillis(ts.getTime); cal.get(java.util.Calendar.DAY_OF_WEEK)
    }
    val bySlice = daily.groupBy(d => (d._1, dow(d._2)))
    val want = bySlice.toSeq.flatMap { case (_, ds) =>
      val t = ds.map(_._3).sum
      val d = ds.length
      ds.filter { x =>
        val dev = x._3 * d - t
        dev * dev > 4L * d * t
      }.map(x => (x._1, x._2))
    }.toSet
    val got = QualityQueries.queries("q_x_seasonal_anomaly")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet
    assert(got == want)
    assert(got.nonEmpty, "the σ-scaled band must fire on the test data")
  }

  test("intersect/except ALL keep exact multiset algebra with the view grid") {
    def grid(t: String) = Tables.events(spark, sfDir)
      .filter(col("event_type") === t)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    def counts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getTimestamp(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val v = counts(grid("view").collect())
    val c = counts(grid("click").collect())
    val inter = counts(WindowSetQueries.queries("q_x_intersect_all")(spark, sfDir).collect())
    val exc = counts(WindowSetQueries.queries("q_x_except_all")(spark, sfDir).collect())
    val keys = v.keySet ++ c.keySet
    keys.foreach { k =>
      val (nv, nc) = (v.getOrElse(k, 0), c.getOrElse(k, 0))
      assert(inter.getOrElse(k, 0) == math.min(nv, nc), s"intersect at $k")
      assert(exc.getOrElse(k, 0) == math.max(0, nv - nc), s"except at $k")
    }
    // and the bag identity |A| = |A ∩ B| + |A − B|
    assert(inter.values.sum + exc.values.sum == v.values.sum)
    assert(inter.nonEmpty && exc.nonEmpty)
  }

  test("transition matrix rows are stochastic and match a driver replay") {
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2).collect {
        case Array(a, b) => (a, b)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = graft.queries.BehaviorQueries.queries("q_x_transitions")(spark, sfDir)
      .collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // each from-state's prob_bp column sums to 10000 up to div truncation
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val s = rs.map(_.getAs[Long]("prob_bp")).sum
      assert(s <= 10000 && s > 10000 - rs.length,
        s"row $from not stochastic: $s")
    }
  }

  test("basket lift matches a driver apriori replay over distinct brand sets") {
    val items = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val singles = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nBaskets = items.map(_._1).distinct.length.toLong
    val pairCounts = items.groupBy(_._1).toSeq.flatMap { case (_, is) =>
      val bs = is.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length) yield (bs(i), bs(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 10)
    val got = graft.queries.BehaviorQueries.queries("q_x_basket_lift")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == pairCounts.keySet)
    got.foreach { case ((a, b), (cab, sup, conf, lift)) =>
      assert(cab == pairCounts((a, b)))
      assert(sup == cab * 10000 / nBaskets)
      assert(conf == cab * 10000 / singles(a))
      assert(lift == cab * nBaskets * 10000 / (singles(a) * singles(b)))
    }
    assert(got.nonEmpty)
  }

  test("bootstrap CI: 32 replicates per type, ordered ranked cuts, brackets the exact mean") {
    val got = QualityQueries.queries("q_x_bootstrap_ci")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(expr("sum(cast(cast(value as decimal(18,2)) * 100 as bigint)) div count(1)")
        .as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, (nBoot, mn, mx, lo, hi)) =>
      assert(nBoot == 32L, s"$t: every replicate must keep weight (got $nBoot)")
      assert(mn <= lo && lo <= hi && hi <= mx, s"$t: ranked cuts out of order")
      // a 95% CI over thousands of rows per type brackets the exact mean;
      // deterministic for this corpus (derandomized weights), so pin it
      assert(lo <= exact(t) && exact(t) <= hi,
        s"$t: CI [$lo, $hi] must bracket the exact mean ${exact(t)}")
    }
  }

  test("cuped: identities hold and theta/rho2 match an independent driver replay") {
    val got = QualityQueries.queries("q_x_cuped")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.nonEmpty)
    // independent replay from raw per-user pairs
    val pairs = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        (dayofmonth(col("ts")) <= 15).as("r"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(coalesce(sum(when(col("r"), col("c"))), lit(0L)).as("x"),
        coalesce(sum(when(!col("r"), col("c"))), lit(0L)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    got.foreach { case (t, (n, theta, rho2, adj)) =>
      val xs = pairs(t).map(_._2.toDouble)
      val ys = pairs(t).map(_._3.toDouble)
      assert(n == xs.length)
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = xs.map(a => (a - mx) * (a - mx)).sum
      val vy = ys.map(b => (b - my) * (b - my)).sum
      assert(math.abs(theta - cov / vx) < 1e-6 * math.abs(theta).max(1.0),
        s"$t: theta $theta vs replay ${cov / vx}")
      assert(math.abs(rho2 - cov * cov / (vx * vy)) < 1e-6, s"$t: rho2 $rho2")
      assert(rho2 > 0 && rho2 <= 1.0 && math.abs(adj - (1.0 - rho2)) < 1e-12)
    }
  }

  test("rrf fusion equals a driver recomputation from the two ranked lists") {
    val bm25 = SparkEntry.queries("q_x_bm25")(spark, sfDir)
      .select("doc_id").as[Long].collect().toSeq // already (score, id)-ordered
    val fused = SparkEntry.queries("q_x_rrf")(spark, sfDir)
    val covList = graft.queries.ExtTextQueries.coverageTop(spark, sfDir)
      .select("doc_id").as[Long].collect().toSeq
    val want = (bm25.zipWithIndex.map { case (d, i) => (d, "bm25", i + 1) } ++
      covList.zipWithIndex.map { case (d, i) => (d, "coverage", i + 1) })
      .groupBy(_._1).map { case (d, rs) =>
        val sorted = rs.sortBy(_._2)
        d -> ((rs.size,
          sorted.foldLeft(0.0)((a, r) => a + 1.0 / (60 + r._3))))
      }
    val got = fused.select("doc_id", "n_rankers", "rrf")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // the emitted top-10 of the fusion matches the driver scores exactly
    got.foreach { case (d, (n, s)) =>
      assert(want(d)._1 == n && want(d)._2 == s, s"doc $d: ($n,$s) vs ${want(d)}")
    }
    assert(got.nonEmpty && got.values.exists(_._1 == 2),
      "fixture must exercise a doc ranked by both rankers")
  }
}
