package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `local[SPARK_GRAFT_CPUS]`
  * (default 4) with as many shuffle partitions, UTC, the graft extensions,
  * no UI and WARN logging.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `f` and print its wall seconds beside `label`, after dropping the
    * blocks earlier steps persisted (synchronously — the async
    * ContextCleaner lags) and a GC, so each step starts from the same heap.
    */
  def timed[A](spark: SparkSession, label: String)(f: => A): A = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    val t0 = System.nanoTime()
    val r = f
    println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $label")
    r
  }
}
