package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility: dump formatted plans for named queries so scan pushdown,
  * join strategy, and codegen spans can be audited. A row that runs
  * executions while it is built (checkpointed band fronts, iterative
  * rounds) shows each of them, in order, before its final plan — the final
  * plan alone shows such a front only as a `Scan ExistingRDD`.
  * Usage: graft.ExplainAudit <sfDir> <queryName>...
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = LocalSession()
    val built = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        built.add((funcName, qe))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    for (n <- args.tail) {
      ListenerBus.drain(spark.sparkContext)
      built.clear()
      val df = SparkEntry.queries(n)(spark, sfDir)
      ListenerBus.drain(spark.sparkContext)
      println(s"========== $n ==========")
      built.asScala.zipWithIndex.foreach { case ((funcName, qe), i) =>
        println(s"---------- build execution ${i + 1} ($funcName) ----------")
        println(qe.explainString(FormattedMode))
      }
      println("---------- final plan ----------")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
