package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ingest.IngestJob
import graft.sources.Tables

/** Drives the full batch write path (SURVEY §3: bronze → silver → gold) into
  * a temp warehouse and checks layout, counts, gold parity with the
  * oracle-verified registry queries, and idempotent re-runs.
  */
class IngestJobSpec extends SparkSpec {

  test("full lifecycle lands bronze/silver/gold; re-run is a no-op") {
    val wh = tempDir("graft_wh").toString
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
    val dir = tempDir("graft_half").toString
    spark.read.parquet(s"$sfDir/events.parquet").orderBy("ts", "event_id").limit((n / 2).toInt)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** File scans over tables under `dir` that `plan` holds, counting those in
    * the plans of the cached relations it reads. An adaptive plan is read
    * as planned: once a stage comes out empty, its final plan keeps no scan.
    */
  private def scansUnder(plan: SparkPlan, dir: String): Int = plan match {
    case a: AdaptiveSparkPlanExec => scansUnder(a.inputPlan, dir)
    case m: InMemoryTableScanExec => scansUnder(m.relation.cachedPlan, dir)
    case s: FileSourceScanExec => if (s.relation.location.rootPaths.exists(_.toString.contains(dir))) 1 else 0
    case p => p.children.map(scansUnder(_, dir)).sum
  }

  test("no-op replay keeps silver and gold files as they are and logs 0 landed rows") {
    val wh = tempDir("graft_wh").toString
    IngestJob.run(spark, sfDir, wh)
    val before = derived.map(t => t -> listing(s"$wh/$t")).toMap
    val bronze = listing(s"$wh/entities")
    // per execution of the replay, its file scans over the entity tables
    val census = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        census.add(scansUnder(qe.executedPlan, s"$wh/entities")); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (_, sites) =
      try jobSites(IngestJob.run(spark, sfDir, wh))
      finally spark.listenerManager.unregister(listener)
    assert(!sites.exists(_.contains("parquet at Tables.scala")),
      s"a replay inferred the source's schema: ${sites.mkString("; ")}")
    assert(census.asScala.filter(_ > 0).toSeq == Seq(1),
      s"the key check reads every family's keys in one scan: ${census.asScala.mkString(", ")}")
    derived.foreach(t => assert(listing(s"$wh/$t") == before(t), s"$t was rewritten"))
    assert(listing(s"$wh/entities") == bronze, "bronze changed on replay")
    assert(lastRows(wh) == (derived :+ "entities").map(_ -> 0L).toMap,
      "a replay lands no entity rows and skips every fresh stage")
  }

  test("a missing table, or stages stale after an interrupted run, are rebuilt exactly") {
    val wh = tempDir("graft_wh").toString
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
    val wh2 = tempDir("graft_wh").toString
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
    val wh = tempDir("graft_wh").toString
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

  /** Every message along `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("decimal clamp guard: testdata passes, >1e30 amounts and cast overflows fail") {
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame): Long =
      graft.ingest.DecimalGuard.enforce(df, "value").count()
    // the real corpus sits far under the clamp — must pass untouched
    val events = Tables.events(spark, sfDir)
    assert(check(events) == events.count(), "the guard keeps every row")
    // nulls are data, not violations
    assert(check(Seq[Option[Double]](None, Some(1.0)).toDF("value")) == 2)
    // an amount past the documented 1e30 bound must be rejected...
    val over = intercept[Exception](check(Seq(1e31).toDF("value")))
    assert(messages(over).contains("|value| reaches 1e30"), messages(over))
    // ...and so must one the (38,0) cast itself overflows (u128 max ≈ 3.4e38)
    val ovf = intercept[Exception](check(Seq(1e39).toDF("value")))
    assert(messages(ovf).contains("|value| reaches 1e30"), messages(ovf))
    // boundary: just under the limit passes
    assert(check(Seq(9.99e29).toDF("value")) == 1)
  }

  test("an amount past the clamp fails the run before anything lands") {
    Tables.events(spark, sfDir).count() // sets the ns-timestamp read mode
    val src = tempDir("graft_over").toString
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val one = raw.select(min("event_id")).head().get(0)
    raw.withColumn("value", when(col("event_id") === one, lit(1e31)).otherwise(col("value")))
      .write.parquet(s"$src/events.parquet")
    val wh = tempDir("graft_wh").toString
    val e = intercept[Exception](IngestJob.run(spark, src, wh))
    assert(messages(e).contains("|value| reaches 1e30"), messages(e))
    assert(!Files.exists(java.nio.file.Paths.get(wh, "entities")), "no bronze file lands")
    assert(!Files.exists(java.nio.file.Paths.get(wh, "run_log")), "no marker is logged")
  }

  test("run_log: driver-written markers read like Spark-written ones; temp files stay unseen") {
    import spark.implicits._
    import graft.ingest.RunLog
    val rows = Seq(("entities", 1L, 5L, 10L), ("entities", 6L, 9L, 0L), ("gold_pl_state", 7L, 8L, 3L))
    // how markers were written before the driver-side writer: a Spark append
    def sparkAppend(wh: String, r: (String, Long, Long, Long)): Unit =
      Seq(r).toDF("stage", "started_ms", "finished_ms", "rows").coalesce(1)
        .write.mode("append").parquet(s"$wh/run_log")
    def record(wh: String, r: (String, Long, Long, Long)): Unit =
      RunLog.record(spark, wh, r._1, r._2, r._3, r._4)
    val old = tempDir("graft_log").toString
    rows.foreach(sparkAppend(old, _))
    val fresh = tempDir("graft_log").toString
    rows.foreach(record(fresh, _))
    val mixed = tempDir("graft_log").toString
    rows.zipWithIndex.foreach { case (r, i) => if (i == 1) record(mixed, r) else sparkAppend(mixed, r) }

    // a plain read infers the old names, types and order from the new files
    def read(wh: String) = spark.read.parquet(s"$wh/run_log")
    def columns(wh: String) = read(wh).schema.map(f => f.name -> f.dataType)
    assert(columns(fresh) == columns(old))
    assert(columns(fresh) == RunLog.Schema.map(f => f.name -> f.dataType))
    assert(read(fresh).as[(String, Long, Long, Long)].collect().sorted.toSeq == rows.sorted)

    val want = RunLog.Marks(Map("entities" -> 9L, "gold_pl_state" -> 8L),
      Map("entities" -> 5L, "gold_pl_state" -> 8L))
    for (wh <- Seq(old, fresh, mixed)) {
      assert(RunLog.marks(spark, wh) == want, wh)
      assert(RunLog.lastFinishedMs(spark, wh, "entities").contains(9L), wh)
    }

    // a marker whose writer died before the rename: a partial `.`-prefixed file
    Files.write(java.nio.file.Paths.get(mixed, "run_log", ".part-unpublished.parquet"),
      "PAR1 truncated".getBytes)
    assert(read(mixed).count() == rows.size)
    assert(RunLog.marks(spark, mixed) == want)
  }

  test("rowsWritten: the write command's rows, or the table's count when no listener call comes") {
    import spark.implicits._
    import scala.concurrent.duration._
    val wh = tempDir("graft_wh").toString
    assert(IngestJob.rowsWritten(spark, s"$wh/direct")(
      Seq(1, 2, 3).toDF("x").write.parquet(s"$wh/direct")) == 3)
    // written elsewhere and moved into place: no write command names the
    // path, so the listener never fires and the committed table is counted
    val moved = IngestJob.rowsWritten(spark, s"$wh/moved", 200.millis) {
      Seq(1, 2, 3, 4).toDF("x").write.parquet(s"$wh/staged")
      Files.move(java.nio.file.Paths.get(wh, "staged"), java.nio.file.Paths.get(wh, "moved"))
    }
    assert(moved == 4)
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
