package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sink.Sinks

/** The idempotent sinks' replay contract: re-delivering a batch appends no
  * rows, NULL keys included, and the split-column parquet form lands what
  * the single-table form lands when called once per table.
  */
class SinksSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("payload", StringType), StructField("event_date", DateType)))

  private def frame(rows: Seq[(Option[Long], String, String, Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, t, p, d) =>
      Row(k.map(Long.box).orNull, t, p, java.sql.Date.valueOf(s"2024-01-0${d + 1}"))
    }: _*), schema)

  /** Rows of the parquet table at `path`, sorted; none when it does not exist. */
  private def contents(path: String): Seq[String] =
    if (!Files.exists(Paths.get(path))) Nil
    else spark.read.parquet(path).select("event_id", "payload", "event_date")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private val nullBatch = Seq((Some(1L), "purchase", "a", 0), (None, "purchase", "b", 1),
    (Some(2L), "purchase", "c", 0))

  test("single form: a NULL key lands once over three deliveries") {
    val sink = tempDir("graft_sink").toString + "/t"
    for (_ <- 1 to 3)
      Sinks.appendDedupParquet(frame(nullBatch).drop("event_type"), sink, Seq("event_id"),
        Seq("event_date"))
    assert(contents(sink).size == 3)
    assert(spark.read.parquet(sink).filter(col("event_id").isNull).count() == 1)
  }

  test("split form: a NULL key lands once, and a replay reports nothing landed") {
    val root = tempDir("graft_sink").toString + "/entities"
    val landed = (1 to 3).map(_ => Sinks.appendDedupParquet(frame(nullBatch), root,
      "event_type", Seq("purchase", "view"), Seq("event_id"), Seq("event_date")))
    assert(landed == Seq(Map("purchase" -> 3L, "view" -> 0L)) ++
      Seq.fill(2)(Map("purchase" -> 0L, "view" -> 0L)))
    assert(spark.read.parquet(s"$root/purchase").filter(col("event_id").isNull).count() == 1)
  }

  test("jdbc form: a NULL key lands once over three deliveries") {
    val url = s"jdbc:derby:${tempDir("graft_derby")}/db;create=true"
    for (_ <- 1 to 3)
      Sinks.appendDedupJdbc(frame(nullBatch).select("event_id", "payload"), url, "sink_t",
        Seq("event_id"))
    val t = spark.read.jdbc(url, "sink_t", new java.util.Properties())
    assert(t.count() == 3 && t.filter(col("event_id").isNull).count() == 1)
  }

  test("split form: keys must not be partition columns") {
    val root = tempDir("graft_sink").toString + "/entities"
    intercept[IllegalArgumentException](Sinks.appendDedupParquet(frame(nullBatch), root,
      "event_type", Seq("purchase"), Seq("event_date"), Seq("event_date")))
  }

  test("split form: a file at another depth under a table fails the key read") {
    // straight under the table, and one directory below its partition
    for (nest <- Seq(Nil, Seq("event_date=2024-01-01", "sub"))) {
      val root = tempDir("graft_sink").toString + "/entities"
      def deliver() = Sinks.appendDedupParquet(frame(nullBatch), root, "event_type",
        Seq("purchase"), Seq("event_id"), Seq("event_date"))
      deliver()
      val dir = Files.createDirectories(Paths.get(s"$root/purchase", nest: _*))
      Files.copy(keyFile(), dir.resolve("part-00000-stray.parquet"))
      val e = intercept[Exception](deliver())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("unexpected file under split root")),
        s"nest $nest: $e")
    }
  }

  test("property: the split form equals the single form called once per table") {
    val tables = Seq("purchase", "view", "a b+c%d", "click")
    // families outside `tables` and a NULL family are dropped by both forms
    val families = tables ++ Seq("other", null)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val base = tempDir("graft_sink").toString
      // roots whose paths need URL-encoding and look like partition dirs
      val split = s"$base/split root%x=y/entities"
      val single = s"$base/single root%x=y/entities"
      for (call <- 1 to 3) {
        // a payload names its delivery, so the contents show which call landed
        // a key; a key repeated within a call repeats one row, so the dedup's
        // pick among them cannot differ between the forms
        val keys = (0 until 20 + rnd.nextInt(20)).map(_ =>
          (if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(30).toLong),
            families(rnd.nextInt(if (call == 1) 2 else families.size))))
        // key 999 is held only by the leftover files planted after call 1
        val leftover = if (call > 1) Seq((Some(999L), "purchase")) else Nil
        val rows = (keys ++ keys.take(5) ++ leftover).map { case (k, f) =>
          (k, f, s"$f/${k.getOrElse("null")}/$call", (k.getOrElse(0L) % 3).toInt) }
        val landed = Sinks.appendDedupParquet(frame(rows), split, "event_type", tables,
          Seq("event_id"), Seq("event_date"))
        val want = tables.map { t =>
          val before = contents(s"$single/$t").size
          // a family absent from the batch gets no call: an empty append would
          // only leave an empty table directory behind
          if (rows.exists(_._2 == t))
            Sinks.appendDedupParquet(frame(rows).filter(col("event_type") === t)
              .drop("event_type"), s"$single/$t", Seq("event_id"), Seq("event_date"))
          t -> (contents(s"$single/$t").size - before).toLong
        }.toMap
        assert(landed == want, s"seed $seed call $call")
        tables.foreach(t => assert(contents(s"$split/$t") == contents(s"$single/$t"),
          s"seed $seed call $call table $t"))
        if (call == 1) plantLeftovers(Seq(split, single).map(r => s"$r/purchase"))
      }
      assert(contents(s"$split/purchase").count(_.startsWith("999|")) == 1,
        "a key held only by leftover files lands")
    }
  }

  /** A leftover `_temporary` part file and a `.`-prefixed parquet file
    * holding key 999 under each table: both stay unread.
    */
  private def plantLeftovers(tableDirs: Seq[String]): Unit = {
    val part = keyFile()
    for (dir <- tableDirs) {
      val tmp = Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0", "event_date=2024-01-01")
      Files.createDirectories(tmp)
      Files.copy(part, tmp.resolve("part-00000-leftover.parquet"))
      val published = Files.createDirectories(Paths.get(dir, "event_date=2024-01-01"))
      Files.copy(part, published.resolve(".part-unpublished.parquet"))
    }
  }

  /** One parquet file holding key 999, as a table's part file holds it. */
  private def keyFile(): java.nio.file.Path = {
    val src = tempDir("graft_leftover").toString + "/t"
    frame(Seq((Some(999L), "purchase", "leftover", 0))).drop("event_type", "event_date")
      .coalesce(1).write.parquet(src)
    Files.list(Paths.get(src)).filter(_.toString.endsWith(".parquet")).findFirst().get
  }
}
