package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing names restrict the dump (dev subset runs); the
    // driver always calls with exactly two args → full dump
    val only = args.drop(2).toSet
    val spark = LocalSession()
    // belt-and-braces with the ntz() output cast below: any timestamp
    // that does reach the writer as LTZ lands as µs, never INT96/ns
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // sorted for deterministic run order (Map iteration order is not)
    // Serialization contract with the DuckDB oracle (r6): the oracle's
    // TIMESTAMP is timezone-naive microseconds (arrow timestamp[us]); a
    // Spark TIMESTAMP (= LTZ) column would land in parquet as INT96/ns or
    // as µs-with-UTC-flag, either of which a type-sensitive compare reads
    // as a different arrow type. Since the session timezone is pinned UTC,
    // casting LTZ→NTZ at the output boundary is value-preserving and makes
    // both sides arrow-identical. Top-level columns only (no query returns
    // nested timestamps; the check.py census would flag one that did).
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.types.TimestampType
      import org.apache.spark.sql.functions.col
      df.schema.fields.filter(_.dataType == TimestampType).foldLeft(df) {
        (d, f) => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      }
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
