package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.ingest.IngestJob
import graft.sources.Tables

/** Drives the full batch write path (SURVEY §3: bronze → silver → gold) into
  * a temp warehouse and checks layout, counts, gold parity with the
  * oracle-verified registry queries, and idempotent re-runs.
  */
class IngestJobSpec extends SparkSpec {

  test("full lifecycle lands bronze/silver/gold; re-run is a no-op") {
    val wh = Files.createTempDirectory("graft_wh").toString
    IngestJob.run(spark, sfDir, wh)

    val events = Tables.events(spark, sfDir)
    val nPurchases = events.filter(col("event_type") === "purchase").count()

    // bronze: one date-partitioned entity table per family, exact row parity
    val purchase = spark.read.parquet(s"$wh/entities/purchase")
    assert(purchase.count() == nPurchases)
    assert(new java.io.File(s"$wh/entities/purchase").listFiles()
      .exists(_.getName.startsWith("event_date=")), "entity tables must be date-partitioned")
    for (t <- Seq("view", "click", "signup", "error")) {
      assert(spark.read.parquet(s"$wh/entities/$t").count() ==
        events.filter(col("event_type") === t).count(), s"entity $t count")
    }

    // silver: enriched purchases carry the precomputed in_stable column
    val enriched = spark.read.parquet(s"$wh/enriched_purchases")
    assert(enriched.count() == nPurchases)
    assert(enriched.columns.contains("in_stable"))

    // gold: the WRITTEN daily state is cell-identical to the oracle-verified
    // registry computation (catches write-path corruption — partition column
    // damage, schema drift, row loss — not just count equality)
    val daily = spark.read.parquet(s"$wh/daily_user_state")
    val registryDaily = graft.queries.PipelineQueries.queries("q_e2e_daily_state")(spark, sfDir)
      .select(daily.columns.map(col): _*)
    assert(daily.exceptAll(registryDaily).isEmpty && registryDaily.exceptAll(daily).isEmpty,
      "written daily_user_state must be cell-identical to the registry computation")
    // independent recomputation (different code path than the pipeline):
    // each user's final balance == Σ of their purchase values
    val finalBalance = daily.groupBy("user_id")
      .agg(max_by(col("balance"), col("day")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(finalBalance == direct, "final balances must equal independently-summed purchases")
    val gold = spark.read.parquet(s"$wh/gold_pl_state")
    assert(gold.count() ==
      graft.queries.PipelineQueries.queries("q_e2e_pl_state")(spark, sfDir).count())

    // run log: one persisted marker per stage (action_history analog)
    val runLog = spark.read.parquet(s"$wh/run_log")
    val stages = Seq("entities", "enriched_purchases", "daily_user_state", "gold_pl_state")
    assert(runLog.select("stage").distinct().collect().map(_.getString(0)).toSet == stages.toSet)
    assert(runLog.count() == stages.size, "exactly one marker per stage on first run")
    val enrRow = runLog.filter(col("stage") === "enriched_purchases").head()
    assert(enrRow.getAs[Long]("rows") == nPurchases)
    assert(enrRow.getAs[Long]("finished_ms") >= enrRow.getAs[Long]("started_ms"))

    // catch-up math driven from the persisted marker: just-finished → wait
    // out (almost) the full interval; cold stage → run immediately
    val last = graft.ingest.RunLog.lastFinishedMs(spark, wh, "gold_pl_state").get
    val delay = graft.ingest.RunLog.catchUpDelaySeconds(spark, wh, "gold_pl_state",
      intervalSeconds = 3600, nowEpochMs = last + 1000)
    assert(delay == 3599, s"expected 3599s remaining, got $delay")
    assert(graft.ingest.RunLog.catchUpDelaySeconds(spark, wh, "never_ran",
      intervalSeconds = 3600, nowEpochMs = last) == 0L, "unknown stage = cold start")
    // overdue marker → immediate catch-up
    assert(graft.ingest.RunLog.catchUpDelaySeconds(spark, wh, "gold_pl_state",
      intervalSeconds = 3600, nowEpochMs = last + 7200 * 1000) == 0L)

    // idempotent re-run: entity tables unchanged (K1 replay contract);
    // silver/gold are fresh and kept, still exact; run log APPENDS one
    // marker per stage (history, not upsert)
    IngestJob.run(spark, sfDir, wh)
    assert(spark.read.parquet(s"$wh/entities/purchase").count() == nPurchases)
    assert(spark.read.parquet(s"$wh/enriched_purchases").count() == nPurchases)
    assert(spark.read.parquet(s"$wh/run_log").count() == 2L * stages.size)
    assert(graft.ingest.RunLog.lastFinishedMs(spark, wh, "gold_pl_state").get >= last,
      "re-run must advance (or hold) the last-finished marker")
  }

  /** Every file under `dir`, relative path → (size, mtime ms). */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap
    finally walk.close()
  }

  private val derived = Seq("enriched_purchases", "daily_user_state", "gold_pl_state")

  /** `rows` of each stage's latest marker. */
  private def lastRows(wh: String): Map[String, Long] =
    spark.read.parquet(s"$wh/run_log").collect()
      .groupBy(_.getAs[String]("stage"))
      .map { case (st, rs) => st -> rs.maxBy(_.getAs[Long]("finished_ms")).getAs[Long]("rows") }

  /** Silver and gold in `wh` hold exactly what the registry computes over `dir`. */
  private def assertMatchesRegistry(wh: String, dir: String): Unit = {
    def same(table: String, q: String): Unit = {
      val got = spark.read.parquet(s"$wh/$table")
      val want = graft.queries.PipelineQueries.queries(q)(spark, dir).select(got.columns.map(col): _*)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$table must equal the registry's $q")
    }
    same("daily_user_state", "q_e2e_daily_state")
    same("gold_pl_state", "q_e2e_pl_state")
    val purchases = Tables.events(spark, dir).filter(col("event_type") === "purchase")
    val enriched = spark.read.parquet(s"$wh/enriched_purchases")
    assert(enriched.select("event_id").exceptAll(purchases.select("event_id")).isEmpty &&
      enriched.count() == purchases.count(), "enriched_purchases holds each purchase once")
  }

  /** The first half of the source's events by time, as a source directory. */
  private def earlierHalf(): String = {
    val n = Tables.events(spark, sfDir).count() // sets the ns-timestamp read mode
    val dir = Files.createTempDirectory("graft_half").toString
    spark.read.parquet(s"$sfDir/events.parquet").orderBy("ts", "event_id").limit((n / 2).toInt)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("no-op replay keeps silver and gold files as they are and logs 0 landed rows") {
    val wh = Files.createTempDirectory("graft_wh").toString
    IngestJob.run(spark, sfDir, wh)
    val before = derived.map(t => t -> listing(s"$wh/$t")).toMap
    val bronze = listing(s"$wh/entities")
    IngestJob.run(spark, sfDir, wh)
    derived.foreach(t => assert(listing(s"$wh/$t") == before(t), s"$t was rewritten"))
    assert(listing(s"$wh/entities") == bronze, "bronze changed on replay")
    assert(lastRows(wh) == (derived :+ "entities").map(_ -> 0L).toMap,
      "a replay lands no entity rows and skips every fresh stage")
  }

  test("a missing table, or stages stale after an interrupted run, are rebuilt exactly") {
    val wh = Files.createTempDirectory("graft_wh").toString
    IngestJob.run(spark, sfDir, wh)
    val kept = Seq("enriched_purchases", "daily_user_state").map(t => t -> listing(s"$wh/$t")).toMap
    val gold = Files.walk(java.nio.file.Paths.get(s"$wh/gold_pl_state"))
    try gold.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally gold.close()
    IngestJob.run(spark, sfDir, wh)
    kept.foreach { case (t, l) => assert(listing(s"$wh/$t") == l, s"fresh $t was rewritten") }
    assert(lastRows(wh)("gold_pl_state") > 0, "the deleted gold table is rebuilt")
    assertMatchesRegistry(wh, sfDir)

    // a run over the full source that stopped after its entities stage:
    // bronze is current, silver and gold still hold the earlier half
    val half = earlierHalf()
    val wh2 = Files.createTempDirectory("graft_wh").toString
    IngestJob.run(spark, half, wh2)
    val parsed = graft.ingest.EventPipeline.parse(Tables.events(spark, sfDir))
    assert(IngestJob.landEntities(parsed, spark, wh2) > 0)
    IngestJob.run(spark, sfDir, wh2)
    assert(lastRows(wh2)("entities") == 0L, "bronze already held every key")
    derived.foreach(t => assert(lastRows(wh2)(t) > 0, s"stale $t must be rebuilt"))
    assertMatchesRegistry(wh2, sfDir)
  }

  test("a grown source lands only its new events; silver and gold follow the full source") {
    val half = earlierHalf()
    val wh = Files.createTempDirectory("graft_wh").toString
    IngestJob.run(spark, half, wh)
    val firstRows = lastRows(wh)("entities")
    assert(firstRows == Tables.events(spark, half).count())
    IngestJob.run(spark, sfDir, wh)
    val total = Tables.events(spark, sfDir).count()
    assert(lastRows(wh)("entities") == total - firstRows, "only the difference lands")
    for (t <- IngestJob.Families)
      assert(spark.read.parquet(s"$wh/entities/$t").count() ==
        Tables.events(spark, sfDir).filter(col("event_type") === t).count(), s"entity $t count")
    assertMatchesRegistry(wh, sfDir)
  }

  test("decimal clamp guard: testdata passes, >1e30 amounts and cast overflows fail") {
    import spark.implicits._
    import graft.ingest.DecimalGuard.assertWithinClamp
    // the real corpus sits far under the clamp — must pass untouched
    assertWithinClamp(Tables.events(spark, sfDir), "value")
    // nulls are data, not violations
    assertWithinClamp(Seq[Option[Double]](None, Some(1.0)).toDF("value"), "value")
    // an amount past the documented 1e30 bound must be rejected...
    intercept[IllegalStateException](assertWithinClamp(Seq(1e31).toDF("value"), "value"))
    // ...and so must one the (38,0) cast itself overflows (u128 max ≈ 3.4e38)
    intercept[IllegalStateException](assertWithinClamp(Seq(1e39).toDF("value"), "value"))
    // boundary: just under the limit passes
    assertWithinClamp(Seq(9.99e29).toDF("value"), "value")
  }

  test("typed entity tier agrees with the untyped pipeline") {
    import spark.implicits._
    val typedTotal = graft.ingest.Entities.purchases(spark, sfDir)
      .groupByKey(_.user_id)
      .mapValues(_.value.getOrElse(0.0))
      .reduceGroups(_ + _)
      .collect().toMap
    val untyped = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum(coalesce(col("value"), lit(0.0))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(typedTotal.keySet == untyped.keySet)
    typedTotal.foreach { case (u, t) => assert(math.abs(t - untyped(u)) < 1e-6) }
    // every family's typed view decodes (encoder/schema mismatches fail here,
    // not at a downstream caller)
    val ev = Tables.events(spark, sfDir)
    def n(t: String) = ev.filter(col("event_type") === t).count()
    assert(graft.ingest.Entities.views(spark, sfDir).count() == n("view"))
    assert(graft.ingest.Entities.clicks(spark, sfDir).count() == n("click"))
    assert(graft.ingest.Entities.signups(spark, sfDir).count() == n("signup"))
    assert(graft.ingest.Entities.errors(spark, sfDir).count() == n("error"))
  }
}
