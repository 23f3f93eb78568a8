package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one workload needs: the session, its generated inputs, its
  * private scratch directory, the measuring window and the span recorder.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seconds: Double, val seed: Long, val spans: Spans,
    val listeners: Option[Listeners]) {
  def traced: Boolean = listeners.isDefined

  /** Run `op` again and again until `seconds` have passed since this call,
    * at least `min` times and while `more` holds; the window is checked
    * before each run.
    */
  def repeat[T](min: Int, more: => Boolean = false)(op: => T): Vector[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val b = Vector.newBuilder[T]
    var i = 0
    while (i < min || more || System.nanoTime() < end) { b += op; i += 1 }
    b.result()
  }
}

/** What a workload hands back. `cold` is its first (cold) operation,
  * `warmMs` and `warmCpuMs` the wall and CPU time of every sample of its
  * repeated operation, `failures` every check the harness itself made that
  * did not hold, `layer` the per-layer metrics of a traced run and
  * `outputs` what the independent checks read.
  */
final case class Result(cold: Span, warmMs: Seq[Double], warmCpuMs: Seq[Double],
    attempted: Int, failures: Seq[String], layer: Map[String, Double],
    outputs: Map[String, String])

/** Benchmark harness entry point. Arguments, all required except --cores:
  *   --workload etl_batch|etl_stream|api_queries|corpus_ops
  *   --data <generated inputs>  --work <run-private scratch dir>
  *   --seconds <measuring window> --seed <n> --trace 0|1
  *   --out <result json> [--spans <span json lines>] [--cores 4]
  * `--pass <workload,...> --data <dir> --work <dir>` instead runs each listed
  * workload once and writes no result: the class-loading pass the build
  * records its class archive from.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.getOrElse("cores", "4")
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listeners = if (a.get("trace").contains("1")) {
      val l = new Listeners
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      spark.streams.addListener(l.streaming)
      Some(l)
    } else None
    for (ws <- a.get("pass")) {
      // class-loading pass for the build's shared class archive: every listed
      // workload once, on inputs under <data>/<workload>, with no result
      for (w <- ws.split(",")) {
        Files.createDirectories(Paths.get(work, w))
        run(w, new Ctx(spark, s"${a("data")}/$w", s"$work/$w", 0, 0, new Spans, None))
      }
      spark.stop()
      return
    }
    val ctx = new Ctx(spark, a("data"), work, a("seconds").toDouble, a("seed").toLong,
      new Spans, listeners)
    val r = try run(a("workload"), ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val first = ctx.spans.all.minBy(_.startMs)
    val setupS = (first.startMs - Jvm.startMs) / 1000.0
    val layer = listeners.fold(Map.empty[String, Double]) { l =>
      Layers.waitForListeners(spark)
      r.layer ++ Layers.common(ctx, l)
    }
    a.get("spans").foreach(p => Files.write(Paths.get(p),
      ctx.spans.all.map(Json.span).mkString("", "\n", "\n").getBytes(UTF_8)))
    for (p <- a.get("spans"); l <- listeners) Files.write(Paths.get(p + ".qes"),
      l.qes.asScala.map(q => Json.obj(Seq("exec" -> q.execId, "func" -> q.funcName,
        "dur_ms" -> q.durNs / 1e6, "plan_ms" -> q.planMs,
        "window" -> l.window(q).map(w => Seq(w._1, w._2)).getOrElse(Nil),
        "writes" -> q.writes.map(w => Seq(w._1, w._2, w._3, w._4)),
        "scans" -> q.scans.map(s => Seq(s._1, s._2, s._3)), "joins" -> q.joinRows,
        "observed" -> q.observed))).mkString("", "\n", "\n").getBytes(UTF_8))
    val json = Json.obj(Seq(
      "setup_s" -> setupS, "setup_cpu_s" -> ctx.spans.firstCpuNs / 1e9,
      "cold_s" -> r.cold.seconds, "cold_cpu_s" -> r.cold.cpuNs / 1e9,
      "warm_ms" -> r.warmMs, "warm_cpu_ms" -> r.warmCpuMs,
      "attempted" -> r.attempted, "failures" -> r.failures,
      "layer" -> layer, "outputs" -> r.outputs))
    Files.write(Paths.get(a("out")), json.getBytes(UTF_8))
    spark.stop()
  }

  def run(workload: String, ctx: Ctx): Result = workload match {
    case "etl_batch"   => EtlBatch.run(ctx)
    case "etl_stream"  => EtlStream.run(ctx)
    case "api_queries" => ApiQueries.run(ctx)
    case "corpus_ops"  => CorpusOps.run(ctx)
    case w             => throw new IllegalArgumentException(s"unknown workload $w")
  }
}

/** Minimal JSON writer for the harness's flat result records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def span(s: Span): String = obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6,
    "cpu_ms" -> s.cpuNs / 1e6))
}
