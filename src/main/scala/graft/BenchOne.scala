package graft

/** Dev utility: time individual named queries against a chosen sf dir.
  * Usage: graft.BenchOne <sfDir> <queryName>...
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = LocalSession()
    for (n <- args.tail) LocalSession.timed(spark, n) {
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
