package graft.ingest

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted job-run metadata — the reference's `action_history` analog
  * (crates/etl-ingest/src/aggregation_task.rs:76-86 inserts one row per
  * aggregation action; crates/etl-ingest/src/main.rs:103-140 reads the last
  * one to size the first timer tick).
  *
  * Append-only parquet table `<wh>/run_log`, one row per stage run:
  * (stage, started_ms, finished_ms, rows). `rows` is what the stage wrote
  * in that run: for `entities` the rows it landed (0 on a replay), for a
  * derived table its row count when rewritten, 0 when the stage found
  * nothing to do. A re-run appends — history is the point — and
  * [[lastFinishedMs]] feeds [[graft.serve.Scheduling.catchUpDelaySeconds]]
  * so the aggregation loop resumes from the PERSISTED marker after a driver
  * restart, not from a cold start; [[marks]] tells
  * [[graft.ingest.IngestJob]] which derived tables are stale. The
  * single-row append is a driver-side bookkeeping write, mirroring the
  * reference's `INSERT INTO action_history`.
  *
  * Growth note: one small file per stage run, unbounded by design (the
  * reference's action_history has the same property). At one row per
  * aggregation tick this is ~10⁴ files/year — when reads matter, compact
  * occasionally (`spark.read.parquet(dir).repartition(1)` to a new dir, or
  * prune rows older than the catch-up horizon, which only needs the last
  * marker per stage).
  */
object RunLog {

  def record(spark: SparkSession, wh: String, stage: String,
      startedMs: Long, finishedMs: Long, rows: Long): Unit = {
    import spark.implicits._
    Seq((stage, startedMs, finishedMs, rows))
      .toDF("stage", "started_ms", "finished_ms", "rows")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$wh/run_log")
  }

  /** Run `body`, persist the (stage, started, finished, rows) marker, and
    * pass the result through. `body` returns the stage's row count.
    */
  def timed(spark: SparkSession, wh: String, stage: String)(body: => Long): Long = {
    val t0 = System.currentTimeMillis()
    val rows = body
    record(spark, wh, stage, t0, System.currentTimeMillis(), rows)
    rows
  }

  /** Completion time of the most recent run of `stage`; None when the log is
    * absent or holds no such stage (cold start).
    */
  def lastFinishedMs(spark: SparkSession, wh: String, stage: String): Option[Long] =
    marks(spark, wh).lastFinished.get(stage)

  /** The log as a run needs it, read in one aggregate: per stage, when its
    * last marker finished and when its last marker with `rows > 0`
    * finished. Empty when the log is absent.
    */
  final case class Marks(lastFinished: Map[String, Long], lastLanded: Map[String, Long]) {
    /** True when `stage` has no marker finished after the last marker of
      * `source` that logged rows — what `source` landed since is not in
      * `stage` yet. A `source` that never logged rows makes nothing stale.
      */
    def staleSince(stage: String, source: String): Boolean =
      lastLanded.get(source).exists(l => lastFinished.get(stage).forall(_ <= l))
  }

  def marks(spark: SparkSession, wh: String): Marks = {
    val path = new org.apache.hadoop.fs.Path(s"$wh/run_log")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Marks(Map.empty, Map.empty)
    val rows = spark.read.parquet(path.toString)
      .groupBy(col("stage"))
      .agg(max(col("finished_ms")), max(when(col("rows") > 0, col("finished_ms"))))
      .collect()
    def at(i: Int) = rows.collect { case r if !r.isNullAt(i) => r.getString(0) -> r.getLong(i) }.toMap
    Marks(at(1), at(2))
  }

  /** Seconds until the next run of `stage` is due — the persisted-marker
    * form of the reference's catch-up sizing (run immediately when overdue,
    * wait out the remainder otherwise).
    */
  def catchUpDelaySeconds(spark: SparkSession, wh: String, stage: String,
      intervalSeconds: Long, nowEpochMs: Long): Long =
    graft.serve.Scheduling.catchUpDelaySeconds(
      intervalSeconds, lastFinishedMs(spark, wh, stage), nowEpochMs)
}
