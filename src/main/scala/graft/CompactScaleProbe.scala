package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSession.timed
import graft.serve.{AnnIndex, DedupIndex}
import graft.sources.Tables

/** Dev utility (r19, VERDICT item 6): wall-clock `compact` under MANY
  * segments. The r18 three-decade table probed one append → a 2-segment
  * compact; production runs dozens of appends between compactions, and a
  * compact whose cost grew with segment COUNT (per-segment scans, manifest
  * round-trips, small-file explosion) rather than total DATA would be a
  * 100 TB regression this probe exists to catch.
  *
  * Shape: build the standing index from `standingSfDir`, append `n`
  * disjoint-id batches from `batchSfDir` (n+1 segments), compact — then
  * rebuild the SAME total data as ONE union append (2 segments), compact
  * again. Data-proportional compaction ⇒ the two compact times agree to
  * noise; segment-count-proportional cost shows as the 16-segment compact
  * pulling away. Both lifecycles (DedupIndex, AnnIndex) are probed.
  *
  * Usage: graft.CompactScaleProbe <standingSfDir> <batchSfDir> [nAppends]
  */
object CompactScaleProbe {
  def main(args: Array[String]): Unit = {
    val standingDir = args(0)
    val batchDir = args(1)
    val nAppends = if (args.length > 2) args(2).toInt else 15
    val spark = LocalSession()

    // one lifecycle: build, n disjoint-id appends, compact; then the same
    // total data appended as ONE segment onto a fresh build, compact
    def probe(name: String, idCol: String, standing: DataFrame, batch: DataFrame)(
        build: (String, DataFrame) => Unit, append: (String, DataFrame) => Unit,
        compact: String => Unit): Unit = {
      val off = standing.agg(max(col(idCol))).head.getLong(0) + 1
      val span = batch.agg(max(col(idCol))).head.getLong(0) + 1
      // batch i lives at [off + i·span, …)
      val batches = (0 until nAppends)
        .map(i => batch.withColumn(idCol, col(idCol) + (off + i * span)))
      val many = Files.createTempDirectory(s"graft_probe_cmp_${name}_m").toString
      timed(spark, s"$name.build (standing)")(build(many, standing))
      timed(spark, s"$name.append ×$nAppends (disjoint batches)") {
        batches.foreach(append(many, _))
      }
      println(s"          segments before compact: ${graft.serve.Publish.segments(spark, many).size}")
      timed(spark, s"$name.compact (${nAppends + 1} segments)")(compact(many))
      val two = Files.createTempDirectory(s"graft_probe_cmp_${name}_2").toString
      timed(spark, s"$name.build (standing, control)")(build(two, standing))
      timed(spark, s"$name.append ×1 (same total data, one segment)") {
        append(two, batches.reduce(_.unionByName(_)))
      }
      timed(spark, s"$name.compact (2 segments, same total data)")(compact(two))
    }

    probe("DedupIndex", "doc_id", Tables.documents(spark, standingDir),
        Tables.documents(spark, batchDir))(
      DedupIndex.build(spark, _, _, "doc_id", "text"),
      DedupIndex.append(spark, _, _, "doc_id", "text"),
      DedupIndex.compact(spark, _, retentionMs = 0L))

    val standingEmb = Tables.embeddings(spark, standingDir)
    val nCells = math.ceil(math.sqrt(standingEmb.count().toDouble)).toInt.max(1)
    println(s"          AnnIndex nCells=$nCells")
    probe("AnnIndex", "vec_id", standingEmb, Tables.embeddings(spark, batchDir))(
      AnnIndex.build(spark, _, _, "vec_id", "embedding", nCells = nCells),
      AnnIndex.append(spark, _, _, "vec_id", "embedding"),
      AnnIndex.compact(spark, _, retentionMs = 0L))
    spark.stop()
  }
}
