package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.serve.DedupIndex
import graft.sources.Tables

/** Persisted standing-index lifecycle (r17 VERDICT item 2): build → persist
  * → admit → append → admit → compact, pinned bit-for-bit against the
  * recompute admission ([[Dedup.crossNearDupMinHash]]) at every step. The
  * index must be a pure materialization — NEVER a semantics change.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
  private def cohort(m: Int): DataFrame = docs.filter(pmod(col("doc_id"), lit(3)) === m)

  private def canonPairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("a"), col("b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet

  test("persisted-index admission ≡ recompute admission across two batches, then compact") {
    val root = tempDir("graft_dedup_idx_spec").toString
    val standing0 = cohort(0)
    DedupIndex.build(spark, root, standing0, "doc_id", "text")

    // batch 1: admission through the persisted index must equal the
    // recompute path bit-for-bit (same bands, same guard, same verify)
    val batch1 = cohort(1)
    val viaIdx1 = canonPairs(
      DedupIndex.admitNearDups(spark, root, batch1, standing0, "doc_id", "text"))
    val recomp1 = canonPairs(
      Dedup.crossNearDupMinHash(batch1, standing0, "doc_id", "text"))
    assert(viaIdx1 == recomp1, "index admission diverged from recompute (batch 1)")
    assert(viaIdx1.nonEmpty, "vacuous fixture: batch 1 found no near-dups")

    // admitted docs join the corpus; ONLY their signatures are appended —
    // the standing corpus is never re-sketched
    val rejected1 = viaIdx1.map(_._1)
    val admitted1 = batch1.filter(!col("doc_id").isin(rejected1.toSeq: _*))
    DedupIndex.append(spark, root, admitted1, "doc_id", "text")
    val standing1 = standing0.unionByName(admitted1)

    // batch 2 admits against the GROWN corpus: persisted base+delta segments
    // must equal a full recompute over standing ∪ admitted
    val batch2 = cohort(2)
    val viaIdx2 = canonPairs(
      DedupIndex.admitNearDups(spark, root, batch2, standing1, "doc_id", "text"))
    val recomp2 = canonPairs(
      Dedup.crossNearDupMinHash(batch2, standing1, "doc_id", "text"))
    assert(viaIdx2 == recomp2, "index admission diverged from recompute (batch 2)")
    assert(viaIdx2.nonEmpty, "vacuous fixture: batch 2 found no near-dups")

    // index-ONLY admission (persisted shingles serve the verify — standing
    // text never touched) must also equal the recompute path
    val idxOnly2 = canonPairs(
      DedupIndex.admitNearDupsIndexOnly(spark, root, batch2, "doc_id", "text"))
    assert(idxOnly2 == recomp2, "index-only admission diverged from recompute")

    // the delta must matter: batch-2 rejections must include at least one
    // pair against a batch-1 ADMITTED doc, or the append path is untested
    val admitted1Ids = admitted1.select("doc_id").as[Long].collect().toSet
    assert(viaIdx2.exists(p => admitted1Ids.contains(p._2)),
      "no batch-2 rejection hit an appended doc — append path not exercised")

    // compact: segments fold to one; admission result is UNCHANGED
    val before = DedupIndex.readBands(spark, root).count()
    DedupIndex.compact(spark, root, retentionMs = 0L)
    assert(DedupIndex.readBands(spark, root).count() == before,
      "compaction changed the band row count")
    val viaIdx2c = canonPairs(
      DedupIndex.admitNearDups(spark, root, batch2, standing1, "doc_id", "text"))
    assert(viaIdx2c == viaIdx2, "compaction changed admission output")
    // superseded segment dirs are pruned at retention 0
    val segs = new java.io.File(root).listFiles().filter(_.getName.startsWith("seg-"))
    assert(segs.length == 1, s"expected 1 compacted segment, found ${segs.length}")
  }

  test("streaming gate against the persisted index equals the batch rejection list") {
    val root = tempDir("graft_dedup_idx_stream").toString
    val standing = cohort(0).select("doc_id", "text")
    val incoming = cohort(1).select("doc_id", "text")
    DedupIndex.build(spark, root, standing, "doc_id", "text")
    val src = tempDir("graft_gate_idx_src").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    incoming.withColumn("ingest_ts", lit(t0))
      .coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    // the static sides are the READ-BACK index tables — the standing
    // corpus is never re-sketched (the 100 TB gate shape)
    val q = graft.streaming.StreamJobs.nearDupGateStreamIndexed(stream,
        DedupIndex.readBands(spark, root), DedupIndex.readShingles(spark, root),
        threshold = 0.3)
      .writeStream.outputMode("append").format("memory")
      .queryName("gate_idx").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("gate_idx").select("doc_id", "old_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val batch = Dedup.crossNearDupMinHash(incoming, standing,
        "doc_id", "text", threshold = 0.3)
      .select(col("a"), col("b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty,
      "indexed gate must equal the batch rejection list")
  }

  test("segment Blooms OR-merge to the single-build sketch; exact admission matches") {
    val root = tempDir("graft_dedup_idx_bloom").toString
    val a = cohort(0)
    val b = cohort(1)
    DedupIndex.build(spark, root, a, "doc_id", "text")
    DedupIndex.append(spark, root, b, "doc_id", "text")
    // merged segment sketches ≡ one sketch over the union, byte-for-byte
    // (same numBits by construction; Bloom insert is a bitset OR)
    val merged = DedupIndex.readBloom(spark, root).get
    val oneRoot = tempDir("graft_dedup_idx_bloom1").toString
    DedupIndex.build(spark, oneRoot, a.unionByName(b), "doc_id", "text")
    val single = DedupIndex.readBloom(spark, oneRoot).get
    assert(java.util.Arrays.equals(merged, single),
      "OR-merged segment blooms != single-build bloom")
    // exact tier through the index ≡ antiJoinBloom with a fresh sketch
    val incoming = cohort(2)
    val oldKeys = a.unionByName(b).select(col("text"))
    def ids(df: DataFrame) = df.select("doc_id").as[Long].collect().toSet
    val viaIdx = ids(DedupIndex.admitExact(spark, root, incoming, oldKeys, "text"))
    // same sizing (1e6 items, 1% fpp) and same key hash (xxhash64 of text)
    // as the index's Params default → byte-identical sketch semantics
    val fresh = ids(Dedup.antiJoinBloom(incoming, oldKeys, "text",
      Dedup.buildKeyBloom(oldKeys, "text", expectedItems = 1000000L)))
    assert(viaIdx.nonEmpty)
    assert(viaIdx == ids(incoming.join(oldKeys.distinct(), Seq("text"), "left_anti")),
      "exact admission must equal the plain anti-join truth")
    assert(fresh == viaIdx, "index bloom and fresh bloom admissions diverged")
  }

  test("append with mismatched Bloom sizing fails at write time, not inside readBloom") {
    val root = tempDir("graft_dedup_idx_sizing").toString
    DedupIndex.build(spark, root, cohort(0), "doc_id", "text")
    val manifestBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_MANIFEST"))
    val e = intercept[IllegalArgumentException] {
      DedupIndex.append(spark, root, cohort(1), "doc_id", "text",
        DedupIndex.Params(expectedItems = 50000L))
    }
    assert(e.getMessage.contains("numBits"),
      s"mismatch message must name the sizing conflict, got: ${e.getMessage}")
    // the refused append must not have published anything — the index is
    // exactly as built, and the merged Bloom still reads cleanly
    val manifestAfter = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_MANIFEST"))
    assert(manifestAfter == manifestBefore, "refused append mutated the manifest")
    assert(DedupIndex.readBloom(spark, root).nonEmpty)
    // matching Params still append fine
    DedupIndex.append(spark, root, cohort(1), "doc_id", "text")
    assert(DedupIndex.readBloom(spark, root).nonEmpty)
  }
}
