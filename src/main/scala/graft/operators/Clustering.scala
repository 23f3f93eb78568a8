package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd clustering as a FIRST-CLASS oracled operator. The IVF /
  * PQ vector tiers in [[Similarity]] train codebooks with the same loop but
  * live behind recall specs (float sums over 64-dim embeddings); this is the
  * deterministic-exact form over explicit feature columns, built so a DuckDB
  * replay agrees bit-for-bit — the same contract as [[Graph.pageRank]]:
  * every double sum folds in one data-pinned order.
  */
object Clustering {

  /** Id-range width of the exact tier's first-level fold buckets: one
    * bucket's members fold together (id-sorted), then bucket sums fold in
    * bucket order — both orders data-pinned, both buffers bounded.
    */
  val FoldBucketWidth = 65536L

  /** k-means (Lloyd) over `featureCols`, `iters` synchronous rounds.
    *
    * Determinism contract, stated piece by piece:
    *   - init: the k lexicographically-smallest (features…, id) rows,
    *     cluster ids 0..k−1 in that order — no RNG, replayable as an
    *     ORDER BY … LIMIT k on any engine;
    *   - assignment: argmin over (squaredDist, cid) — the cid tie-break
    *     pins equidistant points; the distance tree is the left-to-right
    *     feature fold both engines build identically;
    *   - update: per-cluster per-feature mean, the sum folded in a
    *     data-pinned TWO-LEVEL order (`exactFold = true`): id-sorted
    *     within fixed [[FoldBucketWidth]] id-range buckets, then
    *     bucket-sorted across bucket sums — the [[Graph.pageRank]]
    *     exactFold move with bounded buffers at both levels. An emptied
    *     cluster keeps its previous centroid.
    *
    * `exactFold = false` swaps the sorted folds for plain streaming sums —
    * the production tier (map-side partial aggregation, O(d) state per
    * cluster instead of a member-list buffer), last-ulp shuffle-order
    * nondeterministic, spec-pinned ≤1e-9 against the exact tier.
    *
    * Scale shape, per round: one broadcast of the k×d centroid table onto
    * the point scan (the assignment is a NARROW map — no shuffle moves the
    * points), one cluster-keyed aggregate for the update (k keys; with
    * plain sums the partial agg collapses map-side, so the shuffle carries
    * k·d doubles per task). The point table is localCheckpointed once —
    * the loop references it every round; per-round checkpoints cut the
    * re-optimized lineage like every iterative operator here.
    *
    * Returns (cluster, n_points, centroid array<double>): the post-update
    * centroids after `iters` rounds with the LAST assignment's sizes
    * (n_points = 0 for a cluster emptied in the final round).
    *
    * `idCol` need NOT be unique: every input ROW is a point (multiset
    * semantics — collapsing id collisions would silently drop data), and
    * the fold order key is the full (id, features) tuple, under which two
    * rows compare equal only when they are bit-identical points — whose
    * mutual order cannot affect the sum. So the fold order stays
    * data-pinned without any uniqueness precondition.
    */
  def kMeans(points: DataFrame, idCol: String, featureCols: Seq[String],
      k: Int, iters: Int, exactFold: Boolean = true): DataFrame = {
    require(k >= 1 && iters >= 1, "kMeans: k >= 1, iters >= 1")
    val d = featureCols.size
    val pts = points.select(col(idCol).cast("long").as("__id"),
        array(featureCols.map(c => col(c).cast("double")): _*).as("__fs"))
      .localCheckpoint()
    val initOrder = (1 to d).map(i => element_at(col("__fs"), i).asc) :+ col("__id").asc
    // the k-row seed is checkpointed once: every round's ctr chain ends
    // in it, and left lazy it re-ran the O(n) orderBy(...).limit(k) each round
    var ctr = pts.orderBy(initOrder: _*).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(initOrder: _*)) - 1)
      .select(col("cid"), col("__fs").as("__cs"))
      .localCheckpoint()
    var upd: DataFrame = null
    for (_ <- 1 to iters) {
      // assignment is a NARROW map: the k×d centroid table rides in as ONE
      // broadcast row (cid-sorted list) and the argmin is an array fold —
      // array_min over (dist, cid) structs IS the lexicographic
      // (min dist, then min cid) contract. No shuffle touches the points
      // here (the first cut crossed points×k and grouped by id — a k-fold
      // point-table shuffle per round; this form measured 15.4 s → 9 s at
      // sf0.1, and at scale it is the difference between an encode pass
      // and a re-shuffle per round — the IVF-encode precedent).
      val ctrList = ctr.agg(
        sort_array(collect_list(struct(col("cid"), col("__cs")))).as("__ctrs"))
      // the per-centroid distance is the native element-order fold
      // (natives.sqDistDD — bit-identical to the zip_with/aggregate chain,
      // but one codegen'd call instead of an interpreted HOF per centroid
      // per row; r19)
      val assigned = pts.crossJoin(broadcast(ctrList))
        .select(col("__id"), col("__fs"),
          array_min(transform(col("__ctrs"), c =>
            struct(
              org.apache.spark.sql.graft.natives
                .sqDistDD(col("__fs"), c.getField("__cs")).as("__dist"),
              c.getField("cid").as("cid")))).getField("cid").as("cid"))
      // the k-row update table is what gets checkpointed (one pass over
      // the points per round — the un-checkpointed form recomputed the
      // final round's assignment a second time for the n_points output:
      // 17.1 s → ~12 s at sf0.1); the centroid derivation from it is
      // k-row arithmetic, cheap to recompute
      // exact tier: TWO-LEVEL deterministic fold (the vocab-coverage
      // decomposition) — per (cid, id-range bucket) an id-sorted fold
      // (buffer ≤ bucket width), then per cid a bucket-sorted fold of the
      // bucket sums (buffer = bucket count). The association order is
      // data-pinned at both levels, so the oracle replays it exactly,
      // and no reducer ever buffers a whole cluster — the flat
      // in-cluster-sorted fold would page on a 10⁹-member cluster.
      // exact tier, r19 rewrite: both fold levels run as RUNNING WINDOW
      // SUMS (one per feature dim) instead of collect_list arrays + an
      // interpreted zip_with fold — the window walks rows in the identical
      // (__id, __fs) / __bk ascending order and Sum's update is the same
      // 0.0-seeded left add per dim, so every centroid double is
      // bit-identical (the Ops.orderedFoldSum argument, array-valued), but
      // no reducer ever materializes a bucket's member list.
      def lastRowVecSum(df: org.apache.spark.sql.DataFrame, parts: Seq[String],
          ords: Seq[org.apache.spark.sql.Column], vec: String,
          cnt: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy(parts.map(col): _*).orderBy(ords: _*)
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        df.withColumn("__rs", array((1 to d).map(i =>
              sum(element_at(col(vec), i)).over(run)): _*))
          .withColumn("__rn", row_number().over(w))
          .withColumn("__ct", count(lit(1)).over(full))
          .withColumn("__nt", sum(cnt).over(full))
          .filter(col("__rn") === col("__ct"))
      }
      upd = (if (exactFold) {
          val lvl1 = lastRowVecSum(
              assigned.withColumn("__bk", expr(s"__id div $FoldBucketWidth")),
              Seq("cid", "__bk"), Seq(col("__id"), col("__fs")), "__fs", lit(1L))
            .select(col("cid"), col("__bk"), col("__nt").as("__bn"),
              col("__rs").as("__bs"))
          lastRowVecSum(lvl1, Seq("cid"), Seq(col("__bk")), "__bs", col("__bn"))
            .select(col("cid"), col("__nt").as("__n"), col("__rs").as("__sum"))
        } else
          assigned.groupBy(col("cid"))
            .agg(count(lit(1)).as("__n"),
              array((1 to d).map(i => sum(element_at(col("__fs"), i))): _*).as("__sum"))
        ).localCheckpoint()
      // ctr stays LAZY (r20): it is k rows joined to the CHECKPOINTED upd,
      // so its lineage grows by one k-row join per round (linearly in
      // iters) over materialized leaves — the checkpointed seed and each
      // round's upd — where a per-round localCheckpoint paid a driver
      // action each round
      ctr = ctr.join(upd, Seq("cid"), "left")
        .select(col("cid"),
          when(col("__n").isNull, col("__cs"))
            .otherwise(transform(col("__sum"), s => s / col("__n"))).as("__cs"))
    }
    ctr.join(upd.select(col("cid"), col("__n")), Seq("cid"), "left")
      .select(col("cid").cast("long").as("cluster"),
        coalesce(col("__n"), lit(0L)).as("n_points"),
        col("__cs").as("centroid"))
  }
}
