package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The capped band front: a band table in, candidate pairs out, with the
  * hot-bucket guard written once. Every banded operator in this package
  * (MinHash, SimHash, pHash, cosine LSH, sign/IVF cells, and their NEW→OLD
  * forms) builds its own band table and hands it here.
  *
  * HOT-BUCKET CONTRACT. A bucket is the set of rows sharing one value of
  * the key columns. A bucket of m members costs m²/2 pairs on one reducer,
  * so each front caps it at `cap` members (default
  * [[Dedup.DefaultMaxBucketSize]]); buckets of exactly `cap` members are
  * still paired in full. Over the cap the `policy` decides:
  *  - [[Star]]: the bucket emits STAR pairs from its min-id hub to every
  *    other member — linear in the bucket size. For the boilerplate
  *    mega-clusters the cap targets every member verifies against the hub,
  *    so the cluster stays one connected component. In a mixed bucket a
  *    member similar to a sibling but not to the hub loses that edge, and
  *    anything that later drops the hub (a gate, a semi-join on survivors,
  *    a verify the hub fails) disconnects the whole bucket: star edges all
  *    run through it. That is the accepted trade for bounded fan-out
  *    (the reference bounds fan-out per bucket the same way,
  *    handler/ls_state.rs:23-47).
  *  - [[Fail]]: the first over-cap row raises, naming the front (its guard
  *    name) and `maxBucketSize=<cap>`. For consumers whose contract
  *    assumes all-pairs semantics (an oracle that replays the pipeline
  *    uncapped, a transitive closure where one missing edge splits a
  *    component, a composition whose equivalence needs the full pair set)
  *    the cap firing is a correctness event, so it must be loud.
  * The count of capped buckets is published via `observe(guard,
  * n_capped_buckets)` under both policies (0 on a healthy corpus), so the
  * pipeline monitor sees the cap fire. Below the cap the guard is inert, so
  * the uncapped oracle replays stay exact at test scale.
  *
  * [[selfPairs]] localCheckpoints its annotated band table: three
  * consumers (both sides of the self-join and the over-cap branch) would
  * otherwise each re-run the sketch pipeline. [[crossPairs]] guards the
  * standing side only and has one consumer (the NEW→OLD join), so it stays
  * lazy.
  */
private[operators] object BandFront {

  sealed trait Policy
  case object Star extends Policy
  case object Fail extends Policy

  def policy(failOnOverCap: Boolean): Policy = if (failOnOverCap) Fail else Star

  private val SaltFactor = 16

  /** Annotate each band row with its bucket's size `__sz` and hub `__mn`
    * (min id, or min (id, payload) struct) and publish the capped-bucket
    * count; `hubId` reads the hub's id back out of `__mn`.
    */
  private def annotate(bands: DataFrame, idCol: String, keys: Seq[String],
      guard: String, cap: Int, payload: Option[String]): (DataFrame, Column) = {
    val w = Window.partitionBy(keys.map(col): _*)
    val hub = payload.fold(col(idCol))(p => struct(col(idCol), col(p)))
    val hubId = payload.fold(col("__mn"))(_ => col("__mn").getField(idCol))
    val annotated = bands
      .withColumn("__sz", count(lit(1)).over(w))
      .withColumn("__mn", min(hub).over(w))
      // one row per bucket carries id == hub, so this counts capped buckets
      // exactly once (observe disallows DISTINCT aggregates)
      .observe(guard,
        sum(when(col("__sz") > cap && col(idCol) === hubId, 1)
          .otherwise(0)).as("n_capped_buckets"))
    (annotated, hubId)
  }

  /** Evaluates to `id` on rows of buckets within the cap; raises on the
    * first over-cap row (the when-condition keeps raise_error in the plan —
    * a bare unused error column would be pruned).
    */
  private def failOverCap(idCol: String, guard: String, cap: Int): Column =
    when(col("__sz") > cap, raise_error(concat(
        lit(s"$guard: bucket exceeded maxBucketSize=$cap (size="),
        col("__sz").cast("string"), lit(") with failOnOverCap set"))))
      .otherwise(col(idCol))

  /** Unordered candidate pairs (a < b) within each bucket of `bands`.
    * `salted` spreads the self-join over ×16 id salts, for small fixed
    * keyspaces (cosine LSH tables, cells) that would otherwise cap shuffle
    * parallelism. `payload` = (column, f): the column rides along on both
    * sides and on the hub, and each pair carries `__p` = f(payload of a,
    * payload of b), computed before the final distinct.
    */
  def selfPairs(bands: DataFrame, idCol: String, keys: Seq[String],
      guard: String, cap: Int, policy: Policy = Star, salted: Boolean = false,
      payload: Option[(String, (Column, Column) => Column)] = None): DataFrame = {
    val (annotated, hubId) = annotate(bands, idCol, keys, guard, cap, payload.map(_._1))
    val b = annotated.localCheckpoint()
    val pay = payload.map(_._1).toSeq
    // the folded payload column, given how each pair side reads the payload
    def folded(pa: String => Column, pb: String => Column): Seq[Column] =
      payload.toSeq.map { case (p, f) => f(pa(p), pb(p)).as("__p") }
    val small = b.filter(col("__sz") <= cap)
    def side(id: String, p: String): DataFrame =
      small.select((col(idCol).as(id) +: pay.map(col(_).as(p))) ++ keys.map(col): _*)
    val (l, r) =
      if (salted)
        (side("a", "__pa").withColumn("__s", pmod(hash(col("a")), lit(SaltFactor))),
          side("b", "__pb").withColumn("__s",
            explode(sequence(lit(0), lit(SaltFactor - 1)))).hint("shuffle_hash"))
      else (side("a", "__pa"), side("b", "__pb"))
    val allPairs = l.join(r, if (salted) keys :+ "__s" else keys)
      .filter(col("a") < col("b"))
      .select(col("a") +: col("b") +: folded(_ => col("__pa"), _ => col("__pb")): _*)
    val overCap = b.filter(col("__sz") > cap)
    val overPairs = policy match {
      case Fail =>
        overCap.select(failOverCap(idCol, guard, cap).as("a") +: col(idCol).as("b") +:
          folded(col, col): _*)
      case Star =>
        overCap.filter(col(idCol) =!= hubId)
          .select(hubId.as("a") +: col(idCol).as("b") +:
            folded(col("__mn").getField(_), col): _*)
    }
    allPairs.unionByName(overPairs).distinct()
  }

  /** NEW→OLD candidate pairs (a = new id, b = old id), distinct: every new
    * row joins the old rows of its bucket. The guard applies to the
    * standing (old) side only — over-cap old buckets keep just their hub
    * under [[Star]], or raise under [[Fail]].
    */
  def crossPairs(newBands: DataFrame, oldBands: DataFrame, idCol: String,
      keys: Seq[String], guard: String, cap: Int, policy: Policy): DataFrame = {
    val (annotated, hubId) = annotate(oldBands, idCol, keys, guard, cap, None)
    val ob = policy match {
      // single branch: the standing band table is the big side, and an
      // under/over split would scan it twice
      case Fail => annotated.select(failOverCap(idCol, guard, cap).as("b") +: keys.map(col): _*)
      case Star => annotated.filter(col("__sz") <= cap || col(idCol) === hubId)
        .select(col(idCol).as("b") +: keys.map(col): _*)
    }
    newBands.select(col(idCol).as("a") +: keys.map(col): _*)
      .join(ob, keys)
      .select(col("a"), col("b")).distinct()
  }
}
