package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated star-schema test tables (TESTDATA.md).
  *
  * Scale tiers: `lineitem`, `orders`, `events`, `documents`, `embeddings` are
  * fact-tier (grow with sf; at production scale these are the 100 TB tables) —
  * read them with column pruning / predicate pushdown intact (plain parquet
  * scan, no driver-side collect). `region`, `nation`, `customer`, `supplier`,
  * `part` are dimension-tier — small enough to broadcast in joins (mirrors the
  * reference's five broadcast dimensions, SURVEY.md §4).
  */
object Tables {
  val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val dimTables  = Seq("region", "nation", "customer", "supplier", "part")
  val all: Seq[String] = dimTables ++ factTables

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Parquet-footer record count for a table file or directory, memoized
    * per (path, mtime) — sizing sketches and plan choices must not run a
    * count JOB at plan-build time. Listing is single-level (Spark's own
    * flat layout); a partition-nested table would need a recursive walk.
    */
  private val footerCounts = new graft.serve.Publish.FileMemo[Long]
  def parquetRecordCount(s: SparkSession, path: String): Long =
    footerCounts(s, path) { _ =>
      val conf = s.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
        else Seq(root)
      files.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    }

  /** Footer-statistics row count for a DataFrame that is a PLAIN parquet
    * scan — Project/SubqueryAlias layers over one file relation, nothing
    * that can change the row COUNT — else None. Lets eager sizing
    * decisions ([[graft.operators.Dedup.blockingQuality]]'s
    * `autoSampleBp` derivation) read the count from parquet footers
    * instead of running a full count JOB before the operator even plans
    * (r16 VERDICT item 6: the one driver-side action on an otherwise
    * lazy operator surface). Filters, joins, generators, aggregates all
    * break the plain-scan shape and fall back to the caller's count.
    */
  def footerCountIfPlainScan(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c)       => strip(c)
      case SubqueryAlias(_, c) => strip(c)
      case other               => other
    }
    strip(df.queryExecution.analyzed) match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          scala.util.Try(fs.location.rootPaths.map(p =>
            parquetRecordCount(df.sparkSession, p.toString)).sum).toOption
        case _ => None
      }
      case _ => None
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")

  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark 4 refuses to
    * read as a timestamp ([PARQUET_TYPE_ILLEGAL]). Read nanos as a long via
    * the legacy conf, then truncate to microsecond TimestampType — the same
    * truncation the oracle side applies with `date_trunc('microseconds', ts)`.
    * Schema-adaptive: µs/ms-precision copies of the table (already in Spark's
    * native range, so the legacy conf leaves them as timestamps) pass through
    * with only a session-TZ cast — real lakes mix precisions across writers.
    * The schema is inferred once per (file, mtime), always under the
    * nanos-as-long setting this read sets first, so a re-read (every ingest
    * replay) runs no footer-inference job.
    */
  private val eventSchemas = new graft.serve.Publish.FileMemo[StructType]
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    val raw = s.read.schema(eventSchemas(s, path)(_ => s.read.parquet(path).schema)).parquet(path)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
