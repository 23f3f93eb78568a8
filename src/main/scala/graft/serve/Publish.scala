package graft.serve

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** How every durable serving artifact reaches readers — gold snapshots
  * ([[Materialize]]), index segment lists ([[DedupIndex]], [[AnnIndex]]),
  * the registry's fixed index roots — so that no reader sees one missing
  * or half-written.
  *
  * Pointer files (`_CURRENT`, `_MANIFEST`) are written under a `.`-prefixed
  * name in their directory and moved over the target. On `file:` paths the
  * move is `Files.move(ATOMIC_MOVE)`, i.e. `rename(2)`, atomic; Hadoop's
  * `FileContext.rename(…, OVERWRITE)` is not atomic there (the local file
  * system inherits `AbstractFileSystem.renameInternal`, which deletes the
  * target, then renames). Other schemes use that rename, atomic on HDFS.
  * Local pointers are written and read without checksums: a `.<name>.crc`
  * that Hadoop's checksumming `LocalFileSystem` left beside an older pointer
  * would not match, so a republish deletes it before its move.
  *
  * A segment list is a `_MANIFEST` naming the live `seg-<millis>-<uuid8>`
  * directories, one per line. `append` reads, extends and republishes it,
  * so it assumes one writer per index (two concurrent appenders can each
  * drop the other's segment).
  *
  * A stamped root ([[publishOnce]], local file system only) is built whole
  * in a private `.`-prefixed sibling and moved into place; its `_SOURCE`
  * stamp names the source path, its mtime and the build parameters. A root
  * with the same stamp is reused, by other JVMs too, and concurrent
  * publishers of one stamp end on one root. Only an unstamped root or one
  * with another stamp is replaced, and not atomically: a non-empty
  * directory cannot be renamed over, so it is moved aside first and its
  * readers lose it. A change to what a build writes must change its stamp.
  */
private[graft] object Publish {

  val Manifest = "_MANIFEST"
  private val Source = "_SOURCE"

  private def uuid8(): String = java.util.UUID.randomUUID().toString.take(8)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def local(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    Some(fs.makeQualified(p).toUri).filter(_.getScheme == "file").map(Paths.get(_))

  /** Atomically replace (or create) the pointer `file` with `content`. */
  def writePointer(spark: SparkSession, file: Path, content: String): Unit = {
    val fs = fsOf(spark, file)
    val tmpName = s".${file.getName}.${uuid8()}"
    local(fs, file) match {
      case Some(target) =>
        val tmp = target.resolveSibling(tmpName)
        Files.createDirectories(target.getParent)
        Files.write(tmp, content.getBytes(UTF_8))
        Files.deleteIfExists(target.resolveSibling(s".${file.getName}.crc"))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      case None =>
        val tmp = new Path(file.getParent, tmpName)
        val out = fs.create(tmp, true)
        try out.write(content.getBytes(UTF_8)) finally out.close()
        FileContext.getFileContext(file.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, file, Options.Rename.OVERWRITE)
    }
  }

  def readPointer(spark: SparkSession, file: Path): String = {
    val fs = fsOf(spark, file)
    local(fs, file) match {
      case Some(p) => new String(Files.readAllBytes(p), UTF_8)
      case None =>
        val in = fs.open(file)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  def newSegment(): String = s"seg-${System.currentTimeMillis()}-${uuid8()}"

  /** The live segments of the index at `root`, in publish order. */
  def segments(spark: SparkSession, root: String): Seq[String] =
    readPointer(spark, new Path(root, Manifest)).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** Point the index at `seg` alone. */
  def startSegments(spark: SparkSession, root: String, seg: String): Unit =
    writePointer(spark, new Path(root, Manifest), seg)

  def appendSegment(spark: SparkSession, root: String, seg: String): Unit =
    writePointer(spark, new Path(root, Manifest), (segments(spark, root) :+ seg).mkString("\n"))

  /** Fold the live segments into one: `merge(live, seg)` writes segment
    * `seg`, which is then published alone; superseded segments are pruned
    * past `retentionMs`. No-op with one live segment.
    */
  def compact(spark: SparkSession, root: String, retentionMs: Long)
      (merge: (Seq[String], String) => Unit): Unit = {
    val live = segments(spark, root)
    if (live.size > 1) {
      val seg = newSegment()
      merge(live, seg)
      startSegments(spark, root, seg)
      prune(spark, root, "seg-", Set(seg), retentionMs)
    }
  }

  /** Delete the `prefix*` directories under `root`, except those in `keep`,
    * the `keepNewest` most recently modified, and any modified within
    * `retentionMs` (mtime ≈ publish time, so a reader that resolved an
    * older pointer has that long to finish its scan).
    */
  def prune(spark: SparkSession, root: String, prefix: String, keep: Set[String],
      retentionMs: Long, keepNewest: Int = 0): Unit = {
    val fs = fsOf(spark, new Path(root))
    val now = System.currentTimeMillis()
    val dirs = fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
    val kept = keep ++ dirs.sortBy(-_.getModificationTime).take(keepNewest).map(_.getPath.getName)
    dirs.filterNot(s => kept(s.getPath.getName))
      .filter(s => now - s.getModificationTime > retentionMs)
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** A value derived from one file, computed once per (file, mtime). Only
    * the value of a file's latest mtime is kept, so a file rewritten over
    * and over holds one entry, not one per version.
    */
  final class FileMemo[V] {
    private val memo = scala.collection.concurrent.TrieMap.empty[String, (Long, V)]

    private def mtimeOf(s: SparkSession, file: String): Long = {
      val p = new Path(file)
      p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p).getModificationTime
    }

    def apply(s: SparkSession, file: String)(derive: Long => V): V = {
      val mtime = mtimeOf(s, file)
      memo.get(file) match {
        case Some((`mtime`, v)) => v
        case _ =>
          val v = derive(mtime)
          memo.put(file, (mtime, v))
          v
      }
    }

    /** Record `v` as the value of `file` as it is now — for a writer that
      * already holds what a reader would derive from the file it wrote.
      */
    def seed(s: SparkSession, file: String, v: V): Unit =
      memo.put(file, (mtimeOf(s, file), v))
  }

  /** [[publishOnce]] of `<base>/<basename of dir>`, stamped with `source`'s
    * path and mtime and `params`, memoized per (source, mtime) in `memo`.
    */
  def sourcedRoot(memo: FileMemo[String], s: SparkSession, base: String,
      dir: String, source: String, params: String)(build: String => Unit): String =
    memo(s, source) { mtime =>
      val stamp = s"${new java.io.File(source).getAbsolutePath}\n$mtime\n$params"
      publishOnce(base, new java.io.File(dir).getName, stamp)(build)
    }

  /** `<base>/<name>` as built by `build` for `stamp` (see the class doc). */
  def publishOnce(base: String, name: String, stamp: String)(build: String => Unit): String = {
    val root = Paths.get(base, name)
    if (!stampOf(root).contains(stamp)) {
      Files.createDirectories(root.getParent)
      val mine = root.resolveSibling(s".$name.${uuid8()}")
      try {
        build(mine.toString)
        Files.write(mine.resolve(Source), stamp.getBytes(UTF_8))
        install(mine, root, stamp, attempts = 8)
      } finally deleteTree(mine)
    }
    root.toString
  }

  private def stampOf(root: java.nio.file.Path): Option[String] =
    try Some(new String(Files.readAllBytes(root.resolve(Source)), UTF_8))
    catch { case _: IOException => None }

  // NIO, not Hadoop's FileSystem.rename: onto an existing directory that
  // moves the source INTO it, and on failure it falls back to a copy
  @annotation.tailrec
  private def install(mine: java.nio.file.Path, root: java.nio.file.Path,
      stamp: String, attempts: Int): Unit =
    if (!stampOf(root).contains(stamp)) {
      val moved =
        try { Files.move(mine, root, StandardCopyOption.ATOMIC_MOVE); true }
        catch { case _: IOException if attempts > 1 && Files.exists(root) => false }
      // re-read the stamp: a racing publisher of this stamp may have won
      if (!moved && !stampOf(root).contains(stamp)) {
        val aside = root.resolveSibling(s".${root.getFileName}.old.${uuid8()}")
        try Files.move(root, aside, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: IOException => () } // another publisher moved it
        deleteTree(aside)
      }
      if (!moved) install(mine, root, stamp, attempts - 1)
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
