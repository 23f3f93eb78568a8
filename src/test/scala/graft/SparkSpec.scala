package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite, UTC, small shuffle. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new temp directory, deleted with everything under it after the suite. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempRoots.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tempRoots.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** `body`'s result and the call sites of the Spark jobs it started, one
    * entry per job: its stage names ("parquet at X.scala:N", "count at …").
    * The listener bus is drained on both sides, so no other step's job
    * lands in the list.
    */
  def jobSites[T](body: => T): (T, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        sites.add(js.stageInfos.map(_.name).distinct.mkString(" | "))
        ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
