package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  * [[graft.ingest.IngestJob]] which derived tables are stale.
  *
  * Each marker is one single-row parquet file written on the driver with
  * parquet-hadoop's writer — the reference's `INSERT INTO action_history`,
  * with no Spark job behind it. The file is written under a `.`-prefixed
  * name and published by rename; readers skip `.`- and `_`-prefixed files,
  * so none ever sees a partial marker. Its columns are the ones a Spark
  * append of the same row wrote (logs that predate the driver-side writer
  * hold such files), so every reader reads both kinds alike.
  *
  * Growth note: one small file per stage run, unbounded by design (the
  * reference's action_history has the same property), and every run reads
  * all of them once ([[marks]]). At one row per aggregation tick this is
  * ~10⁴ files/year — when that read matters, compact occasionally
  * (`spark.read.parquet(dir).repartition(1)` to a new dir, or prune rows
  * older than the catch-up horizon, which only needs the last marker per
  * stage).
  */
object RunLog {

  /** The log's columns, in the order a Spark append of the row wrote them. */
  val Schema: StructType = StructType(Seq(StructField("stage", StringType),
    StructField("started_ms", LongType), StructField("finished_ms", LongType),
    StructField("rows", LongType)))

  /** [[Schema]] as the parquet types Spark's own writer gives it. */
  private val FileSchema = new SparkToParquetSchemaConverter().convert(Schema)

  def record(spark: SparkSession, wh: String, stage: String,
      startedMs: Long, finishedMs: Long, rows: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(s"$wh/run_log", "." + name)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(FileSchema).build()
    try writer.write(new SimpleGroupFactory(FileSchema).newGroup()
      .append("stage", stage).append("started_ms", startedMs)
      .append("finished_ms", finishedMs).append("rows", rows))
    finally writer.close()
    if (!tmp.getFileSystem(conf).rename(tmp, new Path(tmp.getParent, name)))
      throw new java.io.IOException(s"run_log marker $tmp could not be published")
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

  /** The log as a run needs it: per stage, when its last marker finished
    * and when its last marker with `rows > 0` finished. Empty when the log
    * is absent.
    */
  final case class Marks(lastFinished: Map[String, Long], lastLanded: Map[String, Long]) {
    /** True when `stage` has no marker finished after the last marker of
      * `source` that logged rows — what `source` landed since is not in
      * `stage` yet. A `source` that never logged rows makes nothing stale.
      */
    def staleSince(stage: String, source: String): Boolean =
      lastLanded.get(source).exists(l => lastFinished.get(stage).forall(_ <= l))
  }

  /** One scan of the log with its known [[Schema]] (no footer inference),
    * folded on the driver.
    */
  def marks(spark: SparkSession, wh: String): Marks = {
    val path = new Path(s"$wh/run_log")
    if (!path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path))
      return Marks(Map.empty, Map.empty)
    val rows = spark.read.schema(Schema).parquet(path.toString).collect().toSeq
      .filterNot(_.anyNull).map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    def lastFinished(rs: Seq[(String, Long, Long)]) = rs.groupMapReduce(_._1)(_._2)(math.max)
    Marks(lastFinished(rows), lastFinished(rows.filter(_._3 > 0)))
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
