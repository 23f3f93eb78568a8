package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import org.apache.spark.sql.functions._
import graft.serve.{AnnIndex, DedupIndex, Materialize, Publish}

/** The publish contract ([[Publish]]): a pointer a reader polls is never
  * missing while it is republished, two publishers of one stamped root end
  * on the same root, and pointers written by the checksumming Hadoop local
  * file system still read and republish.
  */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` while a thread polls `file` with `Files.exists`; returns
    * how many polls found it missing after it first appeared.
    */
  private def missingWhile(file: Path)(body: => Unit): Long = {
    val stop = new AtomicBoolean(false)
    val missing = new AtomicLong(0)
    val poller = new Thread(() => {
      var seen = false
      while (!stop.get()) {
        if (Files.exists(file)) seen = true
        else if (seen) missing.incrementAndGet()
      }
    })
    poller.setDaemon(true)
    poller.start()
    try body
    finally { stop.set(true); poller.join() }
    missing.get()
  }

  test("two publishers of one stamped root: one live root, never missing, no sibling left") {
    val base = tempDir("graft_publish_race")
    val name = new java.io.File(sfDir).getName
    val manifest = base.resolve(name).resolve(Publish.Manifest)
    val source = s"$sfDir/embeddings.parquet"
    val builds = new AtomicInteger(0)
    // two JVMs' memo maps, each building the same SF's index
    def publisher(memo: Publish.FileMemo[String]): java.util.concurrent.Callable[String] =
      () => Publish.sourcedRoot(memo, spark, base.toString, sfDir, source, "nCells=4") { root =>
        builds.incrementAndGet()
        AnnIndex.build(spark, root, spark.read.parquet(source), "vec_id", "embedding",
          nCells = 4, lloydIters = 1)
        Thread.sleep(500)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    var roots = Seq.empty[String]
    val missing = try missingWhile(manifest) {
      val futures = Seq(new Publish.FileMemo[String], new Publish.FileMemo[String])
        .map(m => pool.submit(publisher(m)))
      roots = futures.map(_.get())
    } finally pool.shutdown()
    assert(missing == 0, s"_MANIFEST was missing in $missing polls after it was published")
    assert(roots.distinct == Seq(base.resolve(name).toString), s"roots: $roots")
    assert(builds.get() >= 1)
    val siblings = base.toFile.list().filter(_.startsWith(s".$name."))
    assert(siblings.isEmpty, s"private siblings left behind: ${siblings.mkString(", ")}")
    assert(AnnIndex.readAssignments(spark, roots.head).count() ==
      spark.read.parquet(source).count())
    // a later publisher (a third JVM) reuses the published root
    val again = Publish.sourcedRoot(new Publish.FileMemo[String], spark, base.toString,
      sfDir, source, "nCells=4") { _ => fail("a root with a matching stamp was rebuilt") }
    assert(again == roots.head)
  }

  test("publishOnce replaces an unstamped root and rebuilds one whose stamp differs") {
    val base = tempDir("graft_publish_stamp")
    val root = base.resolve("sf")
    // a legacy root from before stamps: a manifest and a stale segment
    Files.createDirectories(root.resolve("seg-stale"))
    Files.writeString(root.resolve(Publish.Manifest), "seg-stale")
    val builds = new AtomicInteger(0)
    def publish(stamp: String): String =
      Publish.publishOnce(base.toString, "sf", stamp) { dir =>
        builds.incrementAndGet()
        Files.createDirectories(Paths.get(dir, s"seg-$stamp"))
        Files.writeString(Paths.get(dir, Publish.Manifest), s"seg-$stamp")
      }
    assert(publish("a") == root.toString && builds.get() == 1)
    assert(!Files.exists(root.resolve("seg-stale")), "unstamped root was kept")
    assert(Files.readString(root.resolve(Publish.Manifest)) == "seg-a")
    publish("a")
    assert(builds.get() == 1, "a root with the same stamp was rebuilt")
    publish("b")
    assert(builds.get() == 2 && Files.readString(root.resolve(Publish.Manifest)) == "seg-b")
    assert(!Files.exists(root.resolve("seg-a")))
    assert(base.toFile.list().toSeq == Seq("sf"), base.toFile.list().mkString(", "))
  }

  test("republishing a gold table never hides _CURRENT") {
    val path = tempDir("graft_publish_gold").toString + "/t"
    val missing = missingWhile(Paths.get(path, "_CURRENT")) {
      for (i <- 1 to 20)
        Materialize.goldTable(spark, path, ttlSeconds = 0)(Seq((i, s"v$i")).toDF("id", "tag"))
    }
    assert(missing == 0, s"_CURRENT was missing in $missing polls")
    assert(Materialize.goldTable(spark, path, ttlSeconds = 3600)(fail("rebuilt"))
      .as[(Int, String)].collect().toSeq == Seq((20, "v20")))
  }

  test("index append and compact never hide _MANIFEST") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val dRoot = tempDir("graft_publish_dedup").toString
    DedupIndex.build(spark, dRoot, docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text")
    var bands = 0L
    val dMissing = missingWhile(Paths.get(dRoot, Publish.Manifest)) {
      for (m <- 1 to 2)
        DedupIndex.append(spark, dRoot, docs.filter(pmod(col("doc_id"), lit(3)) === m),
          "doc_id", "text")
      bands = DedupIndex.readBands(spark, dRoot).count()
      DedupIndex.compact(spark, dRoot, retentionMs = 0L)
    }
    assert(dMissing == 0, s"DedupIndex _MANIFEST was missing in $dMissing polls")
    assert(Publish.segments(spark, dRoot).size == 1)
    assert(DedupIndex.readBands(spark, dRoot).count() == bands && bands > 0)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val aRoot = tempDir("graft_publish_ann").toString
    AnnIndex.build(spark, aRoot, emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      "vec_id", "embedding", nCells = 4, lloydIters = 1)
    val aMissing = missingWhile(Paths.get(aRoot, Publish.Manifest)) {
      for (m <- 1 to 2)
        AnnIndex.append(spark, aRoot, emb.filter(pmod(col("vec_id"), lit(3)) === m),
          "vec_id", "embedding")
      AnnIndex.compact(spark, aRoot, retentionMs = 0L)
    }
    assert(aMissing == 0, s"AnnIndex _MANIFEST was missing in $aMissing polls")
    assert(Publish.segments(spark, aRoot).size == 1)
    assert(AnnIndex.readAssignments(spark, aRoot).count() == emb.count())
    assert(new java.io.File(aRoot).list().count(_.startsWith("seg-")) == 1)
  }

  test("a pointer written with a Hadoop checksum still reads and republishes") {
    val path = tempDir("graft_publish_crc").toString + "/t"
    Seq((0, "old")).toDF("id", "tag").write.parquet(s"$path/v0-legacy")
    // the earlier writer: the checksumming local file system, which leaves
    // ._CURRENT.crc beside the pointer
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(path, "_CURRENT")
    val out = fs.create(ptr, true)
    try out.write("v0-legacy".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(Paths.get(path, "._CURRENT.crc")))
    assert(Materialize.goldTable(spark, path, ttlSeconds = 3600)(fail("rebuilt"))
      .as[(Int, String)].collect().toSeq == Seq((0, "old")))

    Materialize.goldTable(spark, path, ttlSeconds = 0)(Seq((1, "new")).toDF("id", "tag"))
    assert(!Files.exists(Paths.get(path, "._CURRENT.crc")), "stale checksum left behind")
    // a checksumming reader of the republished pointer reads it cleanly
    val in = fs.open(ptr)
    val version = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(version.startsWith("v") && version != "v0-legacy")
    assert(Materialize.goldTable(spark, path, ttlSeconds = 3600)(fail("rebuilt"))
      .as[(Int, String)].collect().toSeq == Seq((1, "new")))
  }
}
