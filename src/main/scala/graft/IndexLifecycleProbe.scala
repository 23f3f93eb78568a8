package graft

import org.apache.spark.sql.functions._
import graft.LocalSession.timed

/** Dev utility (r18 VERDICT item 3): wall-clock the two persisted index
  * lifecycles at a REAL scale step — build the standing index from a large
  * SF, admit + append a one-decade-smaller batch, compact — and print each
  * step, so "append is batch-proportional, never corpus-proportional" is a
  * measurement, not a design claim (the same probe discipline that caught
  * q_x_blocking_report's uncapped truth sample in r17).
  *
  * Usage: graft.IndexLifecycleProbe <standingSfDir> <batchSfDir>
  * The batch cohort's ids are offset past the standing corpus so the two
  * cohorts never collide (the cross-admission id contract).
  */
object IndexLifecycleProbe {
  def main(args: Array[String]): Unit = {
    val standingDir = args(0)
    val batchDir = args(1)
    val spark = LocalSession()

    // ---- DedupIndex: build(standing) / admit / append(batch) / compact
    val standingDocs = graft.sources.Tables.documents(spark, standingDir)
    val idOffset = standingDocs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val batchDocs = graft.sources.Tables.documents(spark, batchDir)
      .withColumn("doc_id", col("doc_id") + idOffset)
    val dRoot = java.nio.file.Files.createTempDirectory("graft_probe_dedup_idx").toString
    timed(spark, "DedupIndex.build (standing corpus)") {
      graft.serve.DedupIndex.build(spark, dRoot, standingDocs, "doc_id", "text")
    }
    val rejections = timed(spark, "DedupIndex.admitNearDupsIndexOnly (batch)") {
      graft.serve.DedupIndex.admitNearDupsIndexOnly(spark, dRoot, batchDocs,
        "doc_id", "text").count()
    }
    println(s"          rejection pairs: $rejections")
    timed(spark, "DedupIndex.append (batch)") {
      graft.serve.DedupIndex.append(spark, dRoot, batchDocs, "doc_id", "text")
    }
    timed(spark, "DedupIndex.compact") {
      graft.serve.DedupIndex.compact(spark, dRoot, retentionMs = 0L)
    }

    // ---- AnnIndex: build(standing) / search(fixed batch) / append / compact
    val standingEmb = spark.read.parquet(s"$standingDir/embeddings.parquet")
    val vecOffset = standingEmb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val batchEmb = spark.read.parquet(s"$batchDir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + vecOffset)
    val n = standingEmb.count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt.max(1)
    val aRoot = java.nio.file.Files.createTempDirectory("graft_probe_ann_idx").toString
    timed(spark, s"AnnIndex.build (standing corpus, nCells=$nCells)") {
      graft.serve.AnnIndex.build(spark, aRoot, standingEmb,
        "vec_id", "embedding", nCells = nCells)
    }
    val served = timed(spark, "AnnIndex.search (fixed 100-query batch, nProbe=8)") {
      graft.serve.AnnIndex.search(spark, aRoot, standingEmb,
        standingEmb.filter(col("vec_id") < 100), "vec_id", "vec_id",
        "embedding", k = 5, nProbe = 8).count()
    }
    println(s"          served rows: $served")
    timed(spark, "AnnIndex.append (batch, stored codebook)") {
      graft.serve.AnnIndex.append(spark, aRoot, batchEmb, "vec_id", "embedding")
    }
    timed(spark, "AnnIndex.compact") {
      graft.serve.AnnIndex.compact(spark, aRoot, retentionMs = 0L)
    }
    spark.stop()
  }
}
