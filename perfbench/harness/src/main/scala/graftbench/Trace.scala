package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: wall-clock bounds in epoch ms (to match listener
  * event times) plus a monotonic duration and the CPU time the whole JVM
  * spent meanwhile (0 for derived spans). `parent` is the id of the span
  * that was open when this one started, -1 at top level.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    durNs: Long, cpuNs: Long = 0L) {
  def seconds: Double = durNs / 1e9
  def contains(s: Long, e: Long): Boolean = s >= startMs - 1 && e <= endMs + 1
}

/** In-memory span recorder for the single client thread. Spans are kept in
  * both traced and untraced runs (one small object per call); only the
  * listeners below are traced-mode only.
  */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** JVM CPU time when the first span started: the CPU cost of set-up. */
  var firstCpuNs = -1L

  def apply[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms = System.currentTimeMillis()
    val c0 = Jvm.cpuNs
    if (firstCpuNs < 0) firstCpuNs = c0
    val t0 = System.nanoTime()
    val r = try body finally stack = stack.tail
    val d = System.nanoTime() - t0
    val s = Span(id, parent, name, ms, ms + d / 1000000L, d, Jvm.cpuNs - c0)
    all += s
    (r, s)
  }

  /** A span derived after the fact (run_log stage windows, micro-batches). */
  def derived(parent: Span, name: String, startMs: Long, endMs: Long): Span = {
    val s = Span(nextId, parent.id, name, startMs, endMs, (endMs - startMs) * 1000000L)
    nextId += 1
    all += s
    s
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  def childrenOf(p: Span): Seq[Span] = all.filter(_.parent == p.id).toSeq
}

final case class TaskRec(launchMs: Long, finishMs: Long, shuffleWrite: Long, inputBytes: Long,
    spill: Long)

/** One successful query execution; `execId` is the QueryExecution's identity
  * hash, resolved to its SQL execution (and so its time window) through the
  * execution-end event that carried it.
  */
final case class QeRec(execId: Long, funcName: String, durNs: Long, planMs: Double,
    writes: Seq[(String, Long, Long, Long)], // (output path, files, bytes, rows)
    scans: Seq[(String, Long, Int)], // (root path, size of files read, scan node identity)
    joinRows: Seq[Long], observed: Map[String, Long])

/** Listeners the harness registers on its own session in a traced run. They
  * only append raw events to in-memory queues; all attribution to layers
  * happens after the timed work, by wall-clock containment in the spans.
  */
final class Listeners extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(Int, Long)]() // (jobId, start ms)
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val execEnd = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  // QueryExecution identity -> SQL execution id, from the execution-end events
  val execOfQe = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val qeFailures = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      execEnd.put(s.executionId, s.time)
      org.apache.spark.sql.graftbench.ExecutionEnd.qe(s).foreach(q =>
        execOfQe.put(System.identityHashCode(q), s.executionId))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val plan = qe.executedPlan
    val writes = collectAll(plan) {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          Seq((c.outputPath.toString, metric(w.cmd.metrics, "numFiles"),
            metric(w.cmd.metrics, "numOutputBytes"), metric(w.cmd.metrics, "numOutputRows")))
        case _ => Nil
      }
    }
    // file scans, including those inside cached relations and those an
    // adaptive re-plan dropped from the final plan (a stage whose result
    // let AQE prune the rest): a scan node is one object however many plans
    // hold it, so the identity hash lets a count take each scan once
    def scansOf(p: SparkPlan): Seq[(String, Long, Int)] = (collectAll(p) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(r =>
        (r.toString, metric(f.metrics, "filesSize") max metric(f.metrics, "staticFilesSize"),
          System.identityHashCode(f)))
      case m: InMemoryTableScanExec => scansOf(m.relation.cachedPlan)
    } ++ p.collectWithSubqueries { case a: AdaptiveSparkPlanExec => a }
      .flatMap(a => scansOf(a.inputPlan))).distinct
    val scans = scansOf(plan)
    val joins = collectAll(plan) { case j: BaseJoinExec => Seq(metric(j.metrics, "numOutputRows")) }
    val observed = qe.observedMetrics.toSeq.flatMap { case (name, row) =>
      row.schema.fieldNames.toSeq.zipWithIndex.collect {
        case (f, i) if !row.isNullAt(i) && row.get(i).isInstanceOf[Number] =>
          s"$name.$f" -> row.get(i).asInstanceOf[Number].longValue()
      }
    }.toMap
    qes.add(QeRec(System.identityHashCode(qe).toLong, funcName, durationNs, planMs, writes, scans, joins, observed))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    qeFailures.incrementAndGet()

  private def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
      k: String): Long = m.get(k).map(_.value).getOrElse(0L)

  /** Every node of the final plan: adaptive stages, reused exchanges and
    * subqueries included.
    */
  private def collectAll[T](plan: SparkPlan)(pf: PartialFunction[SparkPlan, Seq[T]]): Seq[T] =
    collectWithSubqueries(plan)(pf.orElse { case _ => Nil }).flatten

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Time window of one query execution; None when its events are missing. */
  def window(q: QeRec): Option[(Long, Long)] =
    for (id <- Option(execOfQe.get(q.execId.toInt)); s <- Option(execStart.get(id));
         e <- Option(execEnd.get(id))) yield (s.longValue(), e.longValue())

  def qesIn(span: Span): Seq[QeRec] =
    qes.asScala.toSeq.filter(q => window(q).exists { case (s, e) => span.contains(s, e) })
  def tasksIn(span: Span): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => span.contains(t.launchMs, t.finishMs))
  def jobsIn(span: Span): Int = jobs.asScala.count { case (id, t) =>
    span.contains(t, Option(jobEnds.get(id)).map(_.longValue()).getOrElse(t)) }
}

/** Process-level gauges read from the JVM's own management beans. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  /** CPU time of every thread of the JVM; time the host steals from this
    * machine's CPUs is not in it.
    */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
