package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.functions.Ops

/** Skew-stress suite (r17 VERDICT item 4): a synthetic hot-key corpus —
  * one source carrying 90% of docs, one user carrying 50% of events, one
  * LSH band bucket far over cap — drives every skew guard in the engine
  * and asserts TWO things per guard: (a) it actually FIRED (observe
  * counters where the guard publishes one, construction otherwise), and
  * (b) the guarded output preserves the semantics the unguarded form
  * would produce (bit-equal where the guard is a pure re-plan, component-
  * equal where the star cap deliberately thins redundant pairs).
  */
class SkewStressSpec extends SparkSpec {
  import spark.implicits._

  /** Collect one observe metric by name via a QueryExecutionListener —
    * production's vantage (localCheckpoint moves the CollectMetrics node
    * onto the checkpoint's execution, so df.observedMetrics is blind).
    */
  private def withMetric[T](name: String)(body: => T): (T, Row) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      val deadline = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, s"observe '$name' never reached the listener")
      (out, seen.peek())
    } finally spark.listenerManager.unregister(listener)
  }

  test("cumAggPerKey under a 90%-hot key equals the plain running window") {
    // 'hot' carries 90% of rows — the exact shape that melts a single
    // window partition; the bucketed form must be a pure re-plan: every
    // cumulative value bit-equal to the one-partition window's.
    val rows = (0L until 1800L).map(i => ("hot", i, (i % 7) + 1)) ++
      (0L until 200L).map(i => (s"cold${i % 8}", i, (i % 5) + 1))
    val df = rows.toDF("src", "ord", "v")
    val bucketed = Ops.cumAggPerKey(df, Seq("src"), Seq(col("ord")),
        "v", "cum", expr("ord div 64"), "sum")
      .select(col("src"), col("ord"), col("cum"))
      .as[(String, Long, Long)].collect().toMap2
    val plain = df.withColumn("cum", sum(col("v")).over(
        Window.partitionBy(col("src")).orderBy(col("ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("src"), col("ord"), col("cum"))
      .as[(String, Long, Long)].collect().toMap2
    assert(bucketed.size == 2000 && bucketed == plain,
      "bucketed cumulative diverged from the plain window")
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("saltedJoin under a 50%-hot user equals the plain join aggregate") {
    // one user = 50% of the fact side; the salt spreads it over 8 reducers
    // and must change NOTHING about the result (decimal sums — exact, no
    // shuffle-order dependence in the compare)
    val fact = ((0L until 1000L).map(i => (1L, (i % 13 + 1).toString)) ++
      (0L until 1000L).map(i => (i % 50 + 2, (i % 11 + 1).toString)))
      .toDF("user_id", "vs")
      .select(col("user_id"), col("vs").cast("decimal(18,2)").as("v"))
    val dim = (1L to 60L).map(u => (u, s"seg${u % 4}")).toDF("user_id", "seg")
    def agg(j: DataFrame) = j.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val salted = agg(Ops.saltedJoin(fact, dim, "user_id", saltFactor = 8))
    val plainJ = agg(fact.join(dim, Seq("user_id")))
    assert(salted == plainJ && salted.nonEmpty,
      "salted join diverged from the plain join")
  }

  // one band bucket over cap: 600 near-identical docs (the boilerplate
  // mega-cluster) + a handful of genuinely distinct docs
  private val boiler = "the quick brown fox jumps over the lazy dog while " +
    "the storm rolls in across the quiet valley tonight"
  private def megaCorpus = {
    val cluster = (0L until 600L).map(i => (i, boiler))
    val distinct = Seq(
      (9000L, "completely different content about catalyst optimizer rules and spans"),
      (9001L, "another unrelated snippet touching neither fox nor valley at all"),
      (9002L, "a third standalone document speaking only of parquet footers and scans"))
    spark.createDataFrame(cluster ++ distinct).toDF("doc_id", "text")
  }

  test("LSH hot-bucket star guard fires (observe) and preserves cluster components") {
    val capped = 64
    val (pairsCapped, metric) = withMetric("lsh_hot_buckets") {
      Dedup.nearDupPairsMinHash(megaCorpus, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
        maxBucketSize = capped)
    }
    assert(metric.getAs[Long]("n_capped_buckets") >= 1L,
      s"guard did not fire on a 600-doc bucket at cap $capped: $metric")
    // the star cap thins redundant intra-cluster pairs but must NOT split
    // the component: clusters over capped pairs == clusters over uncapped
    val uncapped = Dedup.nearDupPairsMinHash(megaCorpus, "doc_id", "text",
      numHashes = 16, rowsPerBand = 4, shingleN = 3, threshold = 0.6,
      maxBucketSize = Int.MaxValue)
    def comp(p: DataFrame) = Dedup.duplicateClusters(p, "a", "b")
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    val cc = comp(pairsCapped)
    assert(cc == comp(uncapped) && cc.nonEmpty,
      "star substitution changed the duplicate components")
    assert(cc.forall(_._3 == 600L), "the mega-cluster must stay ONE component")
  }

  test("cross-cohort hot-bucket hub guard fires (observe) and preserves the admission verdicts") {
    // standing corpus = the mega-cluster; incoming = 3 more copies of the
    // boilerplate + 1 genuinely new doc. The hub guard collapses the
    // over-cap standing bucket to its min id — the incoming copies still
    // collide with the hub and must still be REJECTED; the new doc admitted.
    val standing = megaCorpus
    val incoming = Seq(
      (20000L, boiler), (20001L, boiler), (20002L, boiler),
      (20003L, "a wholly novel incoming document about watermark semantics only"))
      .toDF("doc_id", "text")
    val capped = 64
    val (rej, metric) = withMetric("cross_lsh_hot_buckets") {
      Dedup.crossNearDupMinHash(incoming, standing, "doc_id", "text",
          maxBucketSize = capped)
        .select("a").as[Long].collect().toSet
    }
    assert(metric.getAs[Long]("n_capped_buckets") >= 1L,
      s"old-side hub guard did not fire: $metric")
    val rejUncapped = Dedup.crossNearDupMinHash(incoming, standing,
        "doc_id", "text", maxBucketSize = Int.MaxValue)
      .select("a").as[Long].collect().toSet
    assert(rej == rejUncapped,
      "hub guard changed which incoming docs are rejected")
    assert(rej == Set(20000L, 20001L, 20002L), s"wrong admission verdicts: $rej")
  }

  test("phash hot-bucket guard fires its observe counter") {
    val cluster = (0L until 300L).map(i => (i, 0x1111222233334444L))
    val d = spark.createDataFrame(cluster).toDF("id", "ph")
    val (pairs, metric) = withMetric("phash_hot_buckets") {
      Multimodal.phashBandPairs(d, "id", "ph", maxBucketSize = 64)
        .as[(Long, Long)].collect()
    }
    assert(metric.getAs[Long]("n_capped_buckets") >= 1L,
      s"phash guard did not fire: $metric")
    assert(pairs.length == 299, "star pairs must stay linear in the bucket")
  }

  test("cross-cohort phash hub guard fires (observe) and preserves the admission verdicts") {
    // standing = a 300-member constant-phash cluster + one distinct hash;
    // incoming = two copies of the cluster hash, one hash 3 bits off it
    // (within the verify radius), and one unrelated hash. Collapsing the
    // over-cap standing buckets to their hub must reject the same incoming
    // ids as the uncapped join.
    val hot = 0x1111222233334444L
    val standing = spark.createDataFrame((0L until 300L).map(i => (i, hot)) :+
      ((900L, 0x5555666677778888L))).toDF("id", "ph")
    val incoming = Seq((20000L, hot), (20001L, hot), (20002L, hot ^ 0x7L),
      (20003L, 0x0999099909990999L)).toDF("id", "ph")
    def rejected(cap: Int): Set[Long] = {
      val ph = incoming.unionByName(standing)
      Multimodal.phashBandPairsAcross(incoming, standing, "id", "ph",
          maxBucketSize = cap)
        .join(ph.select(col("id").as("a"), col("ph").as("__pa")), Seq("a"))
        .join(ph.select(col("id").as("b"), col("ph").as("__pb")), Seq("b"))
        .filter(expr("bit_count(__pa ^ __pb)") <= 6)
        .select("a").as[Long].collect().toSet
    }
    val (rej, metric) = withMetric("cross_phash_hot_buckets") { rejected(64) }
    assert(metric.getAs[Long]("n_capped_buckets") >= 1L,
      s"standing-side phash guard did not fire: $metric")
    assert(rej == rejected(Int.MaxValue),
      "hub guard changed which incoming records are rejected")
    assert(rej == Set(20000L, 20001L, 20002L), s"wrong admission verdicts: $rej")
  }

  // SimHash fixtures: `simBoiler` copies share every band; the two variants
  // in the last SimHash test (simBoiler + one word) were picked so that
  // each is more than 3 bits from the simBoiler sketch but within 3 bits
  // of the other, and every band the two variants share is also
  // simBoiler's — that test re-checks this
  private val simBoiler = "parquet footers carry column statistics that prune entire " +
    "row groups early while the planner folds constant filters into every scan of the warehouse"
  private def simPairs(docs: DataFrame, cap: Int): Set[(Long, Long, Int)] =
    Dedup.nearDupPairsSimHash(docs, "doc_id", "text", maxBucketSize = cap)
      .as[(Long, Long, Int)].collect().toSet

  test("simhash hot-bucket guard counts every over-cap bucket and keeps star pairs linear") {
    val docs = spark.createDataFrame((0L until 300L).map(i => (i, simBoiler)) :+
      ((9000L, "completely different content about catalyst optimizer rules and spans")))
      .toDF("doc_id", "text")
    val (pairs, metric) = withMetric("simhash_hot_buckets") { simPairs(docs, 64) }
    // identical sketches share all 4 bands: 4 over-cap buckets
    assert(metric.getAs[Long]("n_capped_buckets") == 4L, s"$metric")
    assert(pairs == (1L until 300L).map(b => (0L, b, 0)).toSet,
      s"expected 299 hub pairs, got ${pairs.size}")
  }

  test("simhash guard is inert under the cap, a bucket of exactly cap members included") {
    val docs = spark.createDataFrame((0L until 64L).map(i => (i, simBoiler)) :+
      ((9000L, "completely different content about catalyst optimizer rules and spans")))
      .toDF("doc_id", "text")
    val (capped, metric) = withMetric("simhash_hot_buckets") { simPairs(docs, 64) }
    assert(metric.getAs[Long]("n_capped_buckets") == 0L, s"$metric")
    assert(capped == simPairs(docs, Int.MaxValue))
    assert(capped == (for (a <- 0L until 64L; b <- a + 1 until 64L) yield (a, b, 0)).toSet)
  }

  test("simhash star pairs are Hamming-filtered against the hub, dropping sibling-only members") {
    val m = simBoiler + " w0"
    val s = simBoiler + " w58"
    val sk = Dedup.simHash(Seq((0L, simBoiler), (1L, m), (2L, s)).toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Long)].collect().toMap
    def d(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    def band(x: Long, j: Int) = (x >>> (16 * j)) & 0xFFFFL
    assert(d(sk(1L), sk(2L)) <= 3 && d(sk(0L), sk(1L)) > 3 && d(sk(0L), sk(2L)) > 3)
    assert((0 until 4).forall(j => band(sk(1L), j) != band(sk(2L), j) ||
      band(sk(1L), j) == band(sk(0L), j)), "fixture: shared variant bands must be the hub's")
    // 9 boiler copies (hub = id 0) + the two variants: every bucket holding
    // both variants also holds the copies, so at cap 8 it is over the cap
    val docs = spark.createDataFrame((0L until 9L).map(i => (i, simBoiler)) ++
      Seq((100L, m), (101L, s))).toDF("doc_id", "text")
    val uncapped = simPairs(docs, Int.MaxValue)
    assert(uncapped.exists(p => p._1 == 100L && p._2 == 101L && p._3 <= 3))
    val (capped, metric) = withMetric("simhash_hot_buckets") { simPairs(docs, 8) }
    assert(metric.getAs[Long]("n_capped_buckets") == 4L, s"$metric")
    // the star edges hub→variant exceed maxHamming, so both variants vanish
    assert(capped == (1L until 9L).map(b => (0L, b, 0)).toSet, s"capped=$capped")
  }

  // unit vectors along +e0 and −e0: opposite signs against every hyperplane
  // (no plane is orthogonal to e0), so the two groups never share a bucket
  private def axis(sign: Float): Array[Float] = Array.tabulate(64)(i => if (i == 0) sign else 0f)
  private def noise(i: Long): Array[Float] = {
    val r = new scala.util.Random(i)
    val v = Array.fill(64)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }
  private def cosPairs(emb: DataFrame, cap: Int): Set[(Long, Long)] =
    Similarity.nearDupPairsCosineLsh(emb, "vec_id", "embedding", threshold = 0.9,
        maxBucketSize = cap)
      .select("a", "b").as[(Long, Long)].collect().toSet

  test("cosine LSH hot-bucket guard counts one over-cap bucket per table and keeps star pairs linear") {
    // 300 identical vectors land in one bucket of each of the 8 tables; 20
    // random vectors can add at most 20 members to any other bucket
    val emb = ((0L until 300L).map(i => (i, axis(1f))) ++
      (1000L until 1020L).map(i => (i, noise(i)))).toDF("vec_id", "embedding")
    val (pairs, metric) = withMetric("emb_lsh_hot_buckets") { cosPairs(emb, 64) }
    assert(metric.getAs[Long]("n_capped_buckets") == 8L, s"$metric")
    assert(pairs == (1L until 300L).map(b => (0L, b)).toSet,
      s"expected 299 hub pairs, got ${pairs.size}")
  }

  test("cosine LSH guard is inert under the cap, a bucket of exactly cap members included") {
    val emb = ((0L until 64L).map(i => (i, axis(1f))) ++
      (100L until 103L).map(i => (i, axis(-1f)))).toDF("vec_id", "embedding")
    val (capped, metric) = withMetric("emb_lsh_hot_buckets") { cosPairs(emb, 64) }
    assert(metric.getAs[Long]("n_capped_buckets") == 0L, s"$metric")
    assert(capped == cosPairs(emb, Int.MaxValue))
    assert(capped.size == 64 * 63 / 2 + 3)
  }

  test("cell hot-bucket guard counts over-cap cells, keeps star pairs linear, is inert under the cap") {
    // cells 0 and 1 over a cap of 16; cell 2 holds exactly 16; cell 3 a pair
    val cells = ((0L until 200L).map((_, 0)) ++ (1000L until 1050L).map((_, 1)) ++
      (2000L until 2016L).map((_, 2)) ++ Seq(3000L -> 3, 3001L -> 3))
      .toDF("vec_id", "cell")
    def pairs(c: DataFrame, cap: Int) =
      Similarity.cellCandidatePairs(c, "vec_id", "cell", cap).as[(Long, Long)].collect().toSet
    val (got, metric) = withMetric("cell_hot_buckets") { pairs(cells, 16) }
    assert(metric.getAs[Long]("n_capped_buckets") == 2L, s"$metric")
    assert(got.count(_._1 == 0L) == 199 && got.count(_._1 == 1000L) == 49,
      "over-cap cells must emit one hub pair per member")
    val under = cells.filter(col("cell") >= 2)
    val (inert, m2) = withMetric("cell_hot_buckets") { pairs(under, 16) }
    assert(m2.getAs[Long]("n_capped_buckets") == 0L, s"$m2")
    assert(inert == pairs(under, Int.MaxValue) && inert.size == 16 * 15 / 2 + 1)
    assert(got == inert ++ (1L until 200L).map((0L, _)) ++ (1001L until 1050L).map((1000L, _)))
  }
}
