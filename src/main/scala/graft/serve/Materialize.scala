package graft.serve

import java.util.concurrent.{ConcurrentHashMap, Executors, Future, ThreadFactory}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Serving-layer equivalent of the reference's cache tier (SURVEY §2.12):
  * the ~33 moka caches with TTL + proactive refresh become materialized gold
  * tables refreshed on the aggregation cadence
  * (etl-api/src/handler/cache_refresher.rs:41-69,164-200).
  *
  * Snapshot layout: each build writes a fresh `v<millis>` directory under the
  * table path, then repoints the `_CURRENT` pointer file through
  * [[Publish.writePointer]] ([[Publish]] says what is atomic on which file
  * system). Readers resolve the pointer at read time, so a reader during a
  * rebuild keeps the old complete snapshot; there is never a moment where
  * the table is missing or half-written (the round-1
  * SaveMode.Overwrite-in-place design had both failure modes). The previous
  * version is retained for in-flight readers; older ones are pruned.
  *
  * Stampede guard: staleness is re-checked under a per-path lock, so
  * concurrent stale readers in one process coalesce into a single build.
  * Across processes the pointer swap keeps every reader on a complete
  * snapshot; a duplicate build is wasted work, never corruption (same
  * best-effort contract as the reference's per-process moka tier).
  */
object Materialize {

  // Striped build locks: bounded BY CONSTRUCTION — a long-lived driver
  // serving arbitrarily many table paths holds exactly 64 monitors (the
  // per-path ConcurrentHashMap of the first cut grew without eviction, and
  // evicting a monitor somebody may hold reopens the stampede it guards
  // against). Distinct paths on one stripe merely serialize their builds;
  // staleness is re-checked per path under the lock, so coalescing stays
  // correct. refreshInFlight IS per-path but self-evicting (removed in the
  // task's finally), so it only ever holds in-flight paths.
  private val lockStripes = Array.fill(64)(new Object)
  private val refreshInFlight = ConcurrentHashMap.newKeySet[String]()
  private lazy val refreshPool = Executors.newFixedThreadPool(2, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-cache-refresh")
      t.setDaemon(true)
      t
    }
  })

  private def lockFor(path: String): Object =
    lockStripes(math.floorMod(path.hashCode, lockStripes.length))

  /** Read the gold table at `path`, rebuilding via `build` when absent or
    * older than `ttlSeconds` (TTL 0 forces rebuild). Concurrent stale
    * readers build once (coalesced under a per-path lock); readers during a
    * rebuild keep the previous snapshot.
    */
  def goldTable(spark: SparkSession, path: String, ttlSeconds: Long)
      (build: => DataFrame): DataFrame = {
    if (ageSeconds(spark, path).forall(_ >= ttlSeconds)) {
      lockFor(path).synchronized {
        // re-check under the lock: a coalesced waiter finds a fresh snapshot
        if (ageSeconds(spark, path).forall(_ >= ttlSeconds)) publish(spark, path, build)
      }
    }
    readCurrent(spark, path)
  }

  /** Proactive refresh at a TTL fraction, mirroring the reference's
    * 80%-of-TTL background refresher: if the snapshot has aged past
    * `fraction * ttlSeconds` and no refresh for this path is in flight,
    * rebuild on the bounded background pool while readers keep serving the
    * current snapshot. Returns the refresh future when one was scheduled
    * (callers — and specs — can await it), None when the snapshot is young
    * or a refresh is already running.
    */
  def refreshIfPastFraction(spark: SparkSession, path: String, ttlSeconds: Long,
      fraction: Double = 0.8)(build: => DataFrame): Option[Future[_]] = {
    val threshold = (ttlSeconds * fraction).toLong
    val due = ageSeconds(spark, path).forall(_ >= threshold)
    if (due && refreshInFlight.add(path)) {
      Some(refreshPool.submit(new Runnable {
        def run(): Unit =
          try lockFor(path).synchronized {
            if (ageSeconds(spark, path).forall(_ >= threshold))
              publish(spark, path, build)
          } finally refreshInFlight.remove(path)
      }))
    } else None
  }

  /** Age of the current snapshot in seconds; None when absent (treated as
    * infinitely stale by both callers).
    */
  private def ageSeconds(spark: SparkSession, path: String): Option[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(path, "_CURRENT")
    if (!fs.exists(ptr)) None
    else Some((System.currentTimeMillis() - fs.getFileStatus(ptr).getModificationTime) / 1000)
  }

  /** Build into a fresh version directory, repoint `_CURRENT`, prune
    * everything but the new and the previously-pointed version.
    */
  private def publish(spark: SparkSession, path: String, build: => DataFrame): Unit = {
    val root = new Path(path)
    // the version the pointer held BEFORE this publish is the one in-flight
    // readers may still be scanning — prune keeps exactly {new, previous},
    // never trusting directory names (a partial dir from a failed build must
    // not displace the real previous snapshot)
    val prev = ageSeconds(spark, path).map(_ => currentVersion(spark, path))
    val version = s"v${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}"
    build.write.mode(SaveMode.Overwrite).parquet(new Path(root, version).toString)
    Publish.writePointer(spark, new Path(root, "_CURRENT"), version)
    // also keep the two most recent directories: a cross-process
    // publisher's {new, prev} this process never pointed at
    Publish.prune(spark, path, "v", Set(version) ++ prev, PruneRetentionMs, keepNewest = 2)
  }

  private def currentVersion(spark: SparkSession, path: String): String =
    Publish.readPointer(spark, new Path(path, "_CURRENT")).trim

  private def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(new Path(path, currentVersion(spark, path)).toString)

  /** Retention floor for pruned snapshot versions: a version is deletable
    * only once it has been superseded for at least this long, bounding how
    * long a reader may hold one DataFrame across publishes (a ttl=0 caller
    * re-publishing in a loop would otherwise delete a snapshot mid-scan
    * after just two iterations). Size to the longest expected query.
    */
  val PruneRetentionMs: Long = 30 * 60 * 1000L
}
