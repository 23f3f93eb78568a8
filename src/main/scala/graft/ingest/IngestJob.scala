package graft.ingest

import scala.concurrent.{Await, Promise, TimeoutException}
import scala.concurrent.duration._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sink.Sinks

/** End-to-end batch ETL driver mirroring the reference's full lifecycle
  * (SURVEY §3): raw events → typed entity tables (bronze, idempotent
  * append) → enriched silver → snapshot/state tables (gold).
  *
  * Usage: graft.ingest.IngestJob <sfDir> <warehouseDir>
  *
  * Layout written:
  *   <wh>/entities/<event_type>/   one idempotent append table per family
  *   <wh>/enriched_purchases/      silver with as-of price + in_stable
  *   <wh>/daily_user_state/        per-user snapshots (LS_State analog)
  *   <wh>/gold_pl_state/           platform rollup (PL_State analog)
  *   <wh>/run_log/                 one marker per stage per run ([[RunLog]])
  *
  * Source contract: each run's source is the FULL event history so far
  * (what the registry queries over the same files assume). Re-delivering it
  * is routine, the reference's at-least-once load (ls_opening.rs:100):
  *
  *  - Bronze appends only keys it does not hold yet, in one fused pass over
  *    all five families ([[Sinks.appendDedupParquet]]'s split form, whose
  *    key check reads every family's held `event_id`s in one file scan),
  *    and the `entities` marker logs the rows this run landed.
  *  - Silver and gold are overwritten from this run's source, and only when
  *    stale: the table is missing, or it has no marker finished after the
  *    last `entities` marker that logged rows (this run's included). Under
  *    the full-history contract a run that lands nothing has nothing to add
  *    to a fresh table, so a re-delivered source costs two Spark queries:
  *    the `run_log` read and the key check. A skipped stage still logs its
  *    marker, with `rows = 0`; markers are written on the driver, without a
  *    Spark job ([[RunLog]]). A derived plan (the as-of enrichment, the
  *    rollups) is built only when a stage that writes it runs, so a skipped
  *    stage costs no analysis either.
  *    Logs written before markers counted landed rows hold table totals
  *    (always > 0); the job then refreshed every stage after each of them,
  *    so the rule reads them correctly.
  *  - The SURVEY §7.4 decimal clamp ([[DecimalGuard]]) is asserted inside
  *    the plan of the persisted parsed events. The key check is the first
  *    query to materialize them, so a source with an amount past the clamp
  *    fails the run before any bronze write and before any marker.
  *
  * A driver that dies after the bronze append commits but before the
  * `entities` marker is written leaves no record of what it landed: the
  * next run lands 0 rows and keeps the derived tables. Delete one of them
  * (it is rebuilt) or run with new events to refresh them.
  *
  * Facts are partitioned by event date — the time-partitioning every 100 TB
  * deployment needs for pruning.
  */
object IngestJob {

  /** The event families, one bronze table each. */
  val Families: Seq[String] = Seq("purchase", "view", "click", "signup", "error")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, wh) = args.take(2)
    val spark = graft.LocalSession()
    run(spark, sfDir, wh)
    spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, wh: String): Unit = {
    // parsed feeds every stage — persist so the raw scan + JSON parse run
    // once, not once per action; the decimal clamp is asserted in its plan
    val parsed = DecimalGuard.enforce(
      EventPipeline.parse(graft.sources.Tables.events(spark, sfDir)), "value").persist()
    try runStages(parsed, spark, wh)
    finally parsed.unpersist()
  }

  private def runStages(parsed: DataFrame, spark: SparkSession, wh: String): Unit = {
    // every stage persists an action_history-style run marker (RunLog) —
    // stage, start/finish, rows — so a restarted driver can size its first
    // tick from RunLog.catchUpDelaySeconds instead of cold-starting; the
    // markers of earlier runs, read once here, say which stages are stale
    val marks = RunLog.marks(spark, wh)
    val landed = landEntities(parsed, spark, wh)

    // overwrite a derived table when stale; its marker logs the rows the
    // write command wrote, or 0 when the stage had nothing to do
    def refresh(stage: String)(write: String => Unit): Unit = {
      val path = s"$wh/$stage"
      RunLog.timed(spark, wh, stage) {
        if (landed == 0 && Sinks.exists(spark, path) && !marks.staleSince(stage, "entities")) 0L
        else rowsWritten(spark, path)(write(path))
      }
    }

    // silver: enriched purchases (as-of price, in_stable precompute — R4:
    // enrich at write time so every read query skips the as-of join);
    // lazy, so a run that skips both stages using it never analyzes its plan
    lazy val enriched = EventPipeline.enrichPurchases(parsed)
    refresh("enriched_purchases") {
      enriched.withColumn("event_date", to_date(col("ts")))
        .write.mode(SaveMode.Overwrite).partitionBy("event_date").parquet(_)
    }
    // gold: state snapshots + platform rollup
    refresh("daily_user_state") {
      EventPipeline.dailyUserState(enriched).write.mode(SaveMode.Overwrite).parquet(_)
    }
    refresh("gold_pl_state") {
      graft.queries.PipelineQueries.plState(parsed).write.mode(SaveMode.Overwrite).parquet(_)
    }
  }

  /** Run `write`, which writes the parquet table at `path`, and return the
    * rows its write command reported (`numOutputRows`), read from a
    * QueryExecutionListener matched to the command by its output path.
    * Listener calls arrive on Spark's listener bus after the write returns.
    * If none arrives within `wait` (the bus drops events when its queue is
    * full), the committed table is counted instead, so a write that
    * succeeded never fails the run.
    */
  private[graft] def rowsWritten(spark: SparkSession, path: String,
      wait: FiniteDuration = 10.seconds)(write: => Unit): Long = {
    val out = new Path(path)
    val target = out.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(out)
    val rows = Promise[Long]()
    // a planned write runs under adaptive execution: the command sits inside
    // the AdaptiveSparkPlanExec root, which the helper's traversal enters
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collectFirst(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath == target => c.metrics("numOutputRows").value
        }.foreach(rows.trySuccess)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val reported =
      try {
        write
        try Some(Await.result(rows.future, wait))
        catch { case _: TimeoutException => None }
      } finally spark.listenerManager.unregister(listener)
    reported.getOrElse {
      System.err.println(s"[IngestJob] no write metrics for $path within $wait; counting the table")
      spark.read.parquet(path).count()
    }
  }

  /** The `entities` stage: land the keys bronze does not hold yet, one
    * date-partitioned table per family, and log the rows landed.
    */
  private[graft] def landEntities(parsed: DataFrame, spark: SparkSession, wh: String): Long =
    RunLog.timed(spark, wh, "entities") {
      Sinks.appendDedupParquet(parsed.withColumn("event_date", to_date(col("ts"))),
        s"$wh/entities", "event_type", Families, Seq("event_id"), Seq("event_date")).values.sum
    }
}
