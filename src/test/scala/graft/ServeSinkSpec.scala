package graft

import org.apache.spark.sql.functions._
import graft.serve.Materialize

class ServeSinkSpec extends SparkSpec {
  import spark.implicits._

  test("goldTable materializes once within TTL and rebuilds after") {
    val path = tempDir("graft_gold").toString + "/t"
    var builds = 0
    def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val first = Materialize.goldTable(spark, path, ttlSeconds = 3600)(build)
    assert(first.count() == 2 && builds == 1)
    val second = Materialize.goldTable(spark, path, ttlSeconds = 3600)(build)
    assert(second.count() == 2 && builds == 1) // cache hit, no rebuild
    Materialize.goldTable(spark, path, ttlSeconds = 0)(build)
    assert(builds == 2) // TTL 0 forces refresh
  }

  test("concurrent stale readers coalesce into one build") {
    val path = tempDir("graft_gold_race").toString + "/t"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = { builds.incrementAndGet(); Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          def call(): Long = Materialize.goldTable(spark, path, ttlSeconds = 3600)(build).count()
        }))
      assert(futures.map(_.get()).forall(_ == 2))
      assert(builds.get() == 1, s"expected one coalesced build, got ${builds.get()}")
    } finally pool.shutdown()
  }

  test("reader during rebuild keeps the previous complete snapshot") {
    val path = tempDir("graft_gold_swap").toString + "/t"
    Materialize.goldTable(spark, path, ttlSeconds = 3600)(Seq((1, "v1")).toDF("id", "tag"))
    val oldReader = Materialize.goldTable(spark, path, ttlSeconds = 3600)(
      fail("fresh snapshot must not rebuild"))
    // force a new version; the old reader's resolved snapshot must survive
    Materialize.goldTable(spark, path, ttlSeconds = 0)(Seq((1, "v2"), (2, "v2")).toDF("id", "tag"))
    assert(oldReader.count() == 1, "pre-swap reader lost its snapshot")
    assert(oldReader.select("tag").head().getString(0) == "v1")
    val newReader = Materialize.goldTable(spark, path, ttlSeconds = 3600)(
      fail("fresh snapshot must not rebuild"))
    assert(newReader.count() == 2)
  }

  test("proactive refresh fires past the TTL fraction and coalesces") {
    val path = tempDir("graft_gold_refresh").toString + "/t"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tag: String) = { builds.incrementAndGet(); Seq((1, tag)).toDF("id", "tag") }
    Materialize.goldTable(spark, path, ttlSeconds = 3600)(build("v1"))
    assert(builds.get() == 1)
    // snapshot age ~0: with ttl=3600 and fraction 0.8 nothing is due
    assert(Materialize.refreshIfPastFraction(spark, path, 3600)(build("x")).isEmpty)
    // ttl=0 makes any age past the fraction: refresh runs in background
    val fut = Materialize.refreshIfPastFraction(spark, path, 0)(build("v2"))
    assert(fut.isDefined)
    fut.get.get() // await
    assert(builds.get() == 2)
    val df = Materialize.goldTable(spark, path, ttlSeconds = 3600)(
      fail("refreshed snapshot must not rebuild"))
    assert(df.select("tag").head().getString(0) == "v2")
  }

  test("upsertJdbc replaces matching keys and keeps the rest") {
    val dbDir = tempDir("graft_derby_up").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties()
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    base.write.mode("append").jdbc(url, "dim_t", props)
    val updates = Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    graft.sink.Sinks.upsertJdbc(updates, url, "dim_t", Seq("id"), props)
    val got = spark.read.jdbc(url, "dim_t", props)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got == Map(
      1L -> ("a", 10.0), 2L -> ("b2", 25.0), 3L -> ("c", 30.0), 4L -> ("d", 40.0)))
    // the staging table must not survive the merge
    assert(!spark.read.jdbc(url, "(SELECT tablename FROM sys.systables) q", props)
      .collect().exists(_.getString(0).toLowerCase.contains("graft_stage")))
  }

  test("upsertJdbc merges a multi-partition batch sink-side (no driver collect)") {
    val dbDir = tempDir("graft_derby_up2").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties()
    val base = (1L to 50L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "v")
    base.write.mode("append").jdbc(url, "dim_big", props)
    // 100 updates across 5 partitions, half replacing, half new, plus a
    // within-batch duplicate key that must collapse before the MERGE
    val updates = ((26L to 125L).map(i => (i, s"u$i", i * 2.0)) :+ (30L, "u30", 60.0))
      .toDF("id", "name", "v").repartition(5)
    assert(updates.rdd.getNumPartitions == 5)
    graft.sink.Sinks.upsertJdbc(updates, url, "dim_big", Seq("id"), props)
    val got = spark.read.jdbc(url, "dim_big", props)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got.size == 125)
    assert(got(10L) == ("n10", 10.0))   // untouched
    assert(got(30L) == ("u30", 60.0))   // replaced
    assert(got(125L) == ("u125", 250.0)) // inserted
  }

  test("upsertJdbc orderCol makes within-batch duplicate keys last-write-wins") {
    val dbDir = tempDir("graft_derby_up3").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties()
    Seq((1L, "base", 0L)).toDF("id", "name", "seq")
      .write.mode("append").jdbc(url, "dim_ord", props)
    // two different rows for key 2: the greater seq must win deterministically
    val updates = Seq((2L, "first", 1L), (2L, "fixup", 2L), (1L, "upd", 3L))
      .toDF("id", "name", "seq").repartition(3)
    graft.sink.Sinks.upsertJdbc(updates, url, "dim_ord", Seq("id"), props, orderCol = Some("seq"))
    val got = spark.read.jdbc(url, "dim_ord", props)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "upd", 2L -> "fixup"))
  }

  test("upsertSql dispatches on the JDBC dialect") {
    import graft.sink.Sinks.upsertSql
    val cols = Seq("id", "name", "v")
    // reference contract: Postgres takes INSERT ... ON CONFLICT, any version
    assert(upsertSql("jdbc:postgresql://h/db", "t", "t__s", cols, Seq("id")) ==
      """INSERT INTO t ("id", "name", "v") SELECT "id", "name", "v" FROM t__s""" +
        """ ON CONFLICT ("id") DO UPDATE SET "name" = EXCLUDED."name", "v" = EXCLUDED."v"""")
    // MySQL: ON DUPLICATE KEY, backtick quoting
    assert(upsertSql("jdbc:mysql://h/db", "t", "t__s", cols, Seq("id")) ==
      "INSERT INTO t (`id`, `name`, `v`) SELECT `id`, `name`, `v` FROM t__s" +
        " ON DUPLICATE KEY UPDATE `name` = VALUES(`name`), `v` = VALUES(`v`)")
    // ANSI engines (Derby/H2/Oracle/MSSQL): MERGE INTO
    val merge = upsertSql("jdbc:derby:/x/db", "t", "t__s", cols, Seq("id"))
    assert(merge.startsWith("MERGE INTO t t USING t__s s ON t.\"id\" = s.\"id\""))
    assert(merge.contains("WHEN MATCHED THEN UPDATE SET") &&
      merge.contains("WHEN NOT MATCHED THEN INSERT"))
    // key-only tables degrade to insert-if-absent in every dialect
    assert(upsertSql("jdbc:postgresql://h/db", "t", "t__s", Seq("id"), Seq("id"))
      .endsWith("ON CONFLICT (\"id\") DO NOTHING"))
    assert(upsertSql("jdbc:sqlite:/x.db", "t", "t__s", Seq("id"), Seq("id"))
      .contains("ON CONFLICT"))
    assert(!upsertSql("jdbc:derby:/x/db", "t", "t__s", Seq("id"), Seq("id"))
      .contains("WHEN MATCHED"))
  }

  test("rapid republish keeps superseded snapshots for in-flight readers") {
    // a ttl=0 caller republishing in a loop: the retention floor must keep
    // every superseded version on disk (none is older than PruneRetentionMs),
    // so a reader holding any of them never loses its snapshot mid-scan
    val path = tempDir("graft_gold_floor").toString + "/t"
    for (i <- 1 to 3)
      Materialize.goldTable(spark, path, ttlSeconds = 0)(Seq((i, s"v$i")).toDF("id", "tag"))
    val versionDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
    assert(versionDirs.length == 3,
      s"expected all 3 versions retained, found ${versionDirs.length}")
  }
}
