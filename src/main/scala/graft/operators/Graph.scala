package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond the label-flooding connected components
  * in [[Dedup.duplicateClusters]]. PageRank is the classic link-graph
  * quality signal (crawl prioritization / page-quality filtering descends
  * from it); here it runs over any edge list as a lazily-composed iterative
  * dataflow — no driver-side collect anywhere in the loop.
  */
object Graph {

  /** PageRank over a DIRECTED edge list (pass both directions for an
    * undirected graph). Damping 0.85, teleport over the full node set
    * (src ∪ dst), `iters` fixed iterations from a uniform start. Nodes
    * with no in-edges keep their teleport share every round (the
    * all-nodes left join below — without it a source-only node would
    * vanish after round 1). Dangling-node mass (out-degree 0) is DROPPED
    * by default, the common simplification: ranks then sum to < 1 on
    * graphs with sinks; symmetrized input has no sinks and sums to 1.
    * `redistributeDanglingMass = true` switches to the full model — each
    * round the total rank sitting on sinks is spread uniformly (scaled by
    * damping, like any followed link), so ranks sum to 1 on ANY graph.
    * The mass is one extra scalar aggregate per round (an anti-join of
    * ranks against the out-degree table, broadcast back as a one-row
    * cross) — no driver action, the loop stays one lazy dataflow.
    * `weightCol` switches to WEIGHTED PageRank: rank splits over
    * out-edges proportionally to edge weight (rank·w/W, W = out-weight
    * total) — unweighted is the all-weights-1 special case.
    *
    * Determinism contract (what makes this oracle-checkable): each node's
    * incoming contributions are summed by folding over the SOURCE-sorted
    * list — the sum order is pinned by data, not by shuffle arrival, so
    * the result is bit-identical across partitionings, cluster sizes, and
    * engines. `exactFold = false` swaps the fold for a plain `sum` — the
    * PRODUCTION tier at web scale, where a hub node's in-degree-sized
    * sort buffer would page: plain sum is a streaming partial aggregate
    * (map-side combine, O(1) state per node) at the price of last-ulp
    * shuffle-order nondeterminism. Identical plan shape otherwise;
    * GraphSpec pins the two tiers to ≤1e-12 rank disagreement.
    *
    * Scale shape: per iteration one join of ranks to edges on src (both
    * sides hash-partitioned on the same key — the exchange is reused) and
    * one dst-keyed aggregate. The per-node buffer is bounded by in-degree;
    * web-scale hubs would page this (or use the plain-sum tier). The whole
    * `iters`-round loop composes into ONE lazy plan by default;
    * `checkpointEvery = k` materializes the rank table every k rounds
    * (node-table-sized, tiny next to the edge joins) so a deep iteration
    * count doesn't compound plan depth — Catalyst re-optimizes the whole
    * lineage each action, and past ~10 unchecked rounds the PLANNING time
    * (not the data) becomes the bottleneck. Ranks are bit-identical with
    * or without checkpoints (GraphSpec pins it): a checkpoint replays the
    * same deterministic computation, it just cuts where the plan starts.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85,
      exactFold: Boolean = true, checkpointEvery: Int = 0,
      redistributeDanglingMass: Boolean = false,
      weightCol: Option[String] = None): DataFrame =
    powerIteration(edges, srcCol, dstCol, weightCol, iters, damping, exactFold,
        checkpointEvery, redistributeDanglingMass) { nodes =>
      val nDf = nodes.agg(count(lit(1)).as("n"))
      (nodes.crossJoin(broadcast(nDf)).select(col("node"), (lit(1.0) / col("n")).as("rank")),
        sums => nodes.join(sums, col("node") === col("dst"), "left").crossJoin(broadcast(nDf)),
        mass => mass / col("n"))
    }

  /** Personalized PageRank: the teleport distribution concentrates on a
    * SEED set instead of all nodes — ranks then measure proximity to the
    * seeds (the "related entities" / crawl-frontier-prioritization form)
    * rather than global centrality. Same loop shape and determinism
    * contract (source-sorted contribution fold) as [[pageRank]]; the
    * teleport term is `(1−d)/|S|` on seed nodes and 0 elsewhere, attached
    * as a broadcast-joined flag (the seed set is query-metadata-sized by
    * definition). Seeds not present in the graph are ignored (they could
    * never receive or emit mass); the start vector is uniform over the
    * retained seeds, so on a sink-free graph ranks sum to 1 every round.
    *
    * Dangling mass follows the same two tiers as [[pageRank]]: dropped by
    * default (ranks sum < 1 on graphs with sinks), or — with
    * `redistributeDanglingMass = true` — returned to the PERSONALIZATION
    * vector each round (`d·dm·tele(n)`, not uniform: in the personalized
    * model a surfer stuck on a sink restarts at the seeds, so ranks keep
    * summing to 1 on ANY graph while staying a proximity measure). The
    * mass is the same anti-join scalar broadcast as the plain tier.
    *
    * `checkpointEvery = k` cuts the rank lineage every k rounds (the
    * [[pageRank]] knob): ranks are bit-identical with or without it.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, damping: Double = 0.85,
      exactFold: Boolean = true, checkpointEvery: Int = 0,
      redistributeDanglingMass: Boolean = false): DataFrame =
    powerIteration(edges, srcCol, dstCol, None, iters, damping, exactFold,
        checkpointEvery, redistributeDanglingMass) { nodes =>
      val sd = seeds.select(col(seedCol).as("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .withColumn("is_seed", lit(true))
        .localCheckpoint()
      val nsDf = sd.agg(count(lit(1)).as("ns"))
      val seeded = nodes.join(broadcast(sd), Seq("node"), "left")
        .crossJoin(broadcast(nsDf))
        .select(col("node"),
          when(col("is_seed"), lit(1.0) / col("ns")).otherwise(lit(0.0)).as("tele"))
        .localCheckpoint()
      (seeded.select(col("node"), col("tele").as("rank")),
        sums => seeded.join(sums, col("node") === col("dst"), "left"),
        mass => mass * col("tele"))
    }

  /** The power iteration [[pageRank]] and [[personalizedPageRank]] share.
    * `teleport(nodes)` gets the graph's node set (src ∪ dst) and returns
    * the start ranks (node, rank), how each round's contribution sums
    * (dst, s) join the per-node teleport table (a left join from every
    * node, so nodes without in-edges keep their teleport share), and how
    * a mass spreads over the nodes under the teleport distribution. Each
    * round a node's rank is spread(1−d) + d·s, plus d·spread(dm) with the
    * dangling mass dm redistributed; the caller's spread fixes the
    * floating-point operation order (m/n uniform, m·tele personalized).
    * Runs `iters` rounds as one lazy plan, cut every `checkpointEvery`.
    */
  private def powerIteration(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iters: Int, damping: Double, exactFold: Boolean,
      checkpointEvery: Int, redistributeDanglingMass: Boolean)(
      teleport: DataFrame => (DataFrame, DataFrame => DataFrame, Column => Column)): DataFrame = {
    // materialize the edge list once — the iterations reference it 2·iters
    // times, and without the checkpoint each reference re-executes the
    // caller's whole edge-derivation subtree (measured 4.8 s → 2.6 s at
    // sf0.1 for the trading-graph query, whose edges are a distinct over
    // a fact join)
    //
    // weightCol: WEIGHTED PageRank — a node's rank splits over its
    // out-edges proportionally to edge weight (rank·w/W instead of
    // rank/outdeg, W = the node's out-weight total). Unweighted is the
    // all-weights-1 special case; the fold-determinism argument is
    // unchanged (the per-edge share is one extra exact double multiply).
    // r20 negative result, kept for the record: PRE-PARTITIONING this
    // checkpoint on src (repartition(col("src")) before localCheckpoint —
    // Spark 4's LogicalRDD does capture the partitioning, probe-verified)
    // measured a ~25% REGRESSION isolated at sf0.1 (pagerank 3.19→4.24 s
    // warm, ppr 4.36→4.68, pagerank_w 3.34→3.86): the extra edge-scale
    // exchange at build is real, while the per-round e-side exchanges it
    // was meant to remove were already deduped by ReusedExchange across
    // the loop's identical subtrees. Do not re-try without a shape change.
    val e = edges.select(col(srcCol).as("src") +: col(dstCol).as("dst") +:
        weightCol.map(w => col(w).cast("double").as("w")).toSeq: _*)
      .localCheckpoint()
    val deg = weightCol match {
      case Some(_) => e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      case None => e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    }
    // NOT checkpointed: both join sides read the checkpointed e, so the
    // recomputed join is cheaper than eagerly materializing its output
    // (measured 3.8 s vs 5.8 s at sf0.1)
    val withDeg = e.join(deg, Seq("src"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val share =
      if (weightCol.isDefined) col("rank") * col("w") / col("deg")
      else col("rank") / col("deg")
    val (start, withTeleport, spread) = teleport(nodes)
    var ranks = start
    for (i <- 1 to iters) {
      val contribs = ranks.join(withDeg, col("node") === col("src"))
        .select(col("dst"), col("src"), share.as("c"))
      // exact tier: the source-sorted fold as a running window sum
      // (Ops.orderedFoldSum — bit-identical association order, streaming
      // O(1) state instead of a collected in-degree-sized array; r19)
      val sums =
        if (exactFold)
          graft.functions.Ops.orderedFoldSum(contribs, Seq("dst"), Seq("src"), "c", "s")
        else
          contribs.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val base = withTeleport(sums)
      ranks =
        if (redistributeDanglingMass) {
          // total rank sitting on sinks this round: nodes absent from the
          // out-degree table. In the exact tier the fold keeps the sum
          // order data-pinned (same bit-exactness argument as the per-node
          // contributions); the production tier uses a plain partial-agg
          // sum — on a sink-heavy graph (the web: ~10%+ sinks) the sorted
          // collect_list would buffer a node-table-scale single row on one
          // reducer, exactly the unbounded exact-tier buffer the fold tier
          // flag exists to avoid.
          val danglingRanks = ranks.join(deg, col("node") === col("src"), "left_anti")
          val dangling =
            if (exactFold)
              danglingRanks.agg(coalesce(
                aggregate(sort_array(collect_list(struct(col("node"), col("rank")))),
                  lit(0.0), (acc, x) => acc + x.getField("rank")),
                lit(0.0)).as("dm"))
            else
              danglingRanks.agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
          base.crossJoin(broadcast(dangling))
            .select(col("node"),
              (spread(lit(1.0 - damping)) +
                lit(damping) * (coalesce(col("s"), lit(0.0)) +
                  spread(col("dm")))).as("rank"))
        } else
          base.select(col("node"),
            (spread(lit(1.0 - damping)) +
              lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** HITS (Kleinberg 1999) hubs & authorities over a DIRECTED edge list —
    * the bipartite-flavored centrality PageRank is not: a good HUB points
    * at good authorities, a good AUTHORITY is pointed at by good hubs
    * (curator-vs-content scoring on a link graph; buyer-vs-product on a
    * purchase graph). `iters` synchronous rounds from all-ones: each round
    * auth(n) = Σ_{s→n} hub(s) then L2-normalize, hub(n) = Σ_{n→d} auth(d)
    * then L2-normalize. Nodes missing a side score 0 there (left joins —
    * a source-only node is a pure hub, a sink a pure authority).
    *
    * Determinism contract, same as [[pageRank]]: per-node sums fold over
    * the COUNTERPARTY-sorted contribution list, and each L2 norm folds the
    * squared scores through a TWO-LEVEL data-pinned tree (node-sorted
    * within id-buckets of 4096, then bucket-sorted partials) — every
    * double sum has one data-pinned association order, so engine and
    * oracle agree to the bit (sqrt itself is IEEE correctly-rounded on
    * both engines — the q_x_temperature_mix precedent). The norm fold's
    * largest buffer is 4096 entries per bucket plus #buckets ≤ n/4096 at
    * the combine — bounded, unlike the r13 flat node-table fold;
    * `exactFold = false` swaps all folds for plain streaming sums — the
    * production tier at web scale, last-ulp nondeterministic, spec-pinned
    * ≤1e-12 against the exact tier.
    *
    * Scale shape, per round: one join of hubs to edges on src + dst-keyed
    * aggregate, one join of auths to edges on dst + src-keyed aggregate,
    * two scalar norms broadcast back — 4 keyed shuffles, edge-linear.
    * Scores are re-derived lazily; one localCheckpoint per round cuts the
    * doubly-iterative lineage (the [[connectedComponents]] reasoning).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, exactFold: Boolean = true): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // exact tier: counterparty-sorted fold as a running window sum
    // (Ops.orderedFoldSum — bit-identical, streaming state; r19)
    def foldSum(pairs: DataFrame, key: String, by: String, v: String): DataFrame =
      if (exactFold)
        graft.functions.Ops.orderedFoldSum(pairs, Seq(key), Seq(by), v, "s")
          .withColumnRenamed(key, "node")
      else
        pairs.groupBy(col(key).as("node")).agg(sum(col(v)).as("s"))
    // L2 norm of a (node, score) table as a one-row frame. The exact tier
    // is a TWO-LEVEL data-pinned fold (the Ops.cumSumGlobal decomposition):
    // nodes bucket by id>>12 (arithmetic shift = floor-div 4096; NOTE
    // DuckDB's `//` truncates, so an oracle replay over negative ids
    // would need an explicit floor-div), each bucket folds its
    // squares in node order, and the final fold walks the bucket partials
    // in bucket order — every double sum still has ONE data-pinned
    // association, but the largest single buffer is now 4096 entries
    // (bucket level: #buckets ≤ n/4096) instead of the node TABLE on one
    // reducer, which is what made the r13 flat fold the last unbounded
    // exact-tier buffer. The oracle replays the identical two-level tree.
    def l2(scores: DataFrame, v: String): DataFrame =
      if (exactFold) {
        // bucket level as a running window sum over the pre-squared score
        // (node order is unique within a bucket, so ordering by node alone
        // replays sort_array's (node, v) order; v*v is the same double
        // multiply the fold applied per element — bit-identical). The final
        // bucket-order fold stays a GLOBAL collect fold: its input is
        // ≤ n/4096 one-row-per-bucket partials and a global window would
        // yield zero rows on empty input where the fold yields one.
        val sq = scores.select(shiftright(col("node"), 12).as("__bk"),
          col("node"), (col(v) * col(v)).as("__v2"))
        graft.functions.Ops.orderedFoldSum(sq, Seq("__bk"), Seq("node"), "__v2", "__p")
          .agg(sqrt(aggregate(
            sort_array(collect_list(struct(col("__bk"), col("__p")))),
            lit(0.0), (acc, x) => acc + x.getField("__p"))).as("nrm"))
      } else
        scores.agg(sqrt(sum(col(v) * col(v))).as("nrm"))
    def normalize(scores: DataFrame, v: String): DataFrame =
      scores.crossJoin(broadcast(l2(scores, v)))
        .select(col("node"),
          when(col("nrm") > 0.0, col(v) / col("nrm")).otherwise(lit(0.0)).as(v))
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // r20: checkpoint the PRE-normalized score table, not normalize's
      // output — normalize references its input twice (the main branch and
      // the l2 subtree), so checkpointing after it materialized the
      // expensive edge-join + fold subtree through BOTH references; with
      // the cut before it, the fold runs once per half-round and the lazy
      // normalize only re-derives the cheap node-scale l2/crossJoin from
      // the checkpointed table per consumer. Same doubles bit-for-bit —
      // materialization placement doesn't touch any fold order.
      val a0 = foldSum(
        hub.join(e, col("node") === col("src"))
          .select(col("dst"), col("src").as("__by"), col("hub").as("__v")),
        "dst", "__by", "__v")
      auth = normalize(
        nodes.join(a0, Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0.0)).as("auth"))
          .localCheckpoint(), "auth")
      val h0 = foldSum(
        auth.join(e, col("node") === col("dst"))
          .select(col("src"), col("dst").as("__by"), col("auth").as("__v")),
        "src", "__by", "__v")
      hub = normalize(
        nodes.join(h0, Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0.0)).as("hub"))
          .localCheckpoint(), "hub")
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("hub"), col("auth"))
  }

  /** Canonical pairs of an undirected edge list: (a, b) = `id` of the
    * (least, greatest) of each input pair, self-loops dropped, `extra`
    * columns carried along. Not deduplicated — [[undirected]] is the
    * distinct set.
    */
  private def canonicalPairs(edges: DataFrame, aCol: String, bCol: String,
      id: Column => Column = identity, extra: Seq[Column] = Nil): DataFrame =
    edges.select(id(least(col(aCol), col(bCol))).as("a") +:
        id(greatest(col(aCol), col(bCol))).as("b") +: extra: _*)
      .filter(col("a") =!= col("b"))

  /** The edge set of an undirected edge list as distinct (a, b) rows with
    * a < b: duplicates, reversed copies and self-loops in the input do
    * not change it.
    */
  private def undirected(edges: DataFrame, aCol: String, bCol: String,
      id: Column => Column = identity): DataFrame =
    canonicalPairs(edges, aCol, bCol, id).distinct()

  /** Both orientations of an (a, b) edge table as (src, dst) rows. */
  private[operators] def bothWays(e: DataFrame): DataFrame =
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))

  /** The checkpointed symmetric (src, dst) table of an undirected edge
    * list: each edge of [[undirected]] once per orientation, so a round
    * reaches every neighbor of a node through one join on src.
    */
  private def symmetricEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    bothWays(undirected(edges, aCol, bCol)).localCheckpoint()

  /** One relaxation round: every node's value `v` in `state` (key, v)
    * travels each (src, dst) edge as `step(v)` (one join of the edges to
    * the state on src), joins the values the nodes already hold (a
    * union), and each node keeps `agg` over what it then holds (one
    * key-grouped aggregate). Nodes not in `state` enter it when a value
    * reaches them. Over a symmetric edge table a node hears from all its
    * neighbors; an aggregate that ignores input order (min, a sketch
    * union) makes the round independent of the edge table's orientation
    * and partitioning. Lazy; returns (key, v).
    */
  private[operators] def relaxRound(edges: DataFrame, state: DataFrame, key: String,
      v: String)(step: Column => Column, agg: Column => Column): DataFrame = {
    val viaNbr = edges.join(state.withColumnRenamed(key, "src"), "src")
      .select(col("dst").as(key), step(col(v)).as(v))
    state.unionByName(viaNbr).groupBy(col(key)).agg(agg(col(v)).as(v))
  }

  /** Approximate k-hop neighborhood sizes — HyperBall (Boldi & Vigna 2013)
    * with theta sketches in place of HyperLogLog counters: each node
    * carries a BOUNDED sketch of its ball, and one hop is "my ball ∪ my
    * neighbors' balls" — one [[relaxRound]]: an edge join plus a
    * node-keyed sketch-union aggregate
    * ([[org.apache.spark.sql.graft.sketches.thetaUnion]]), both keyed
    * shuffles. Exact distinct k-hop per node materializes Σ·deg^k
    * pairs — quadratic on dense graphs — while this is edge-linear per
    * round with O(2^lgK) state per node, the canonical
    * sketch-instead-of-set scale move. Below 2^lgK distinct members a
    * theta sketch is still in EXACT mode, so small-ball estimates are
    * exact counts (the spec pins it); past it they carry the standard
    * theta error. Balls include the node itself. Input may carry
    * duplicates / self-loops / both directions (normalized first).
    * Returns (node, n_reach) after `hops` rounds.
    */
  def neighborhoodReach(edges: DataFrame, aCol: String, bCol: String,
      hops: Int, lgK: Int = 12): DataFrame = {
    import org.apache.spark.sql.graft.sketches.{thetaEstimate, thetaSketch, thetaUnion}
    val e = symmetricEdges(edges, aCol, bCol)
    var balls = e.select(col("src").as("node")).distinct()
      .groupBy(col("node")).agg(thetaSketch(col("node"), lgK).as("sk"))
      .localCheckpoint()
    for (_ <- 1 to hops)
      balls = relaxRound(e, balls, "node", "sk")(identity, thetaUnion(_, lgK))
        .localCheckpoint()
    balls.select(col("node"), thetaEstimate(col("sk")).as("n_reach"))
  }

  /** Connected components over an UNDIRECTED edge list via hash-min label
    * propagation: every node starts labeled with its own id; each round,
    * a node's label drops to the minimum over itself and its neighbors;
    * after ≥ diameter rounds every node carries its component's minimum
    * id. `rounds` is FIXED — propagation at a fixpoint is a no-op, so a
    * capped run and an exactly-R-round run agree (the [[kcore]]
    * argument), which lets the DuckDB oracle replay the same R rounds as
    * an unrolled CTE chain. Choose rounds ≥ the expected diameter.
    *
    * Scale shape, per round: one [[relaxRound]] — one join of the labels
    * to the checkpointed symmetric edge table (both orientations, so one
    * join reaches every neighbor) and one node-keyed min aggregate, both
    * keyed shuffles; labels are localCheckpointed per round (each round
    * references the previous labels twice — unchecked, the lazy plan
    * re-expands 2^rounds). Hash-min is the diameter-bound tier; a
    * web-scale high-diameter graph wants the large-star/small-star
    * alternation (O(log n) rounds) — implemented as
    * [[connectedComponentsLS]], different re-pointing rule. Input may carry
    * duplicates / self-loops / both directions (normalized first).
    *
    * This is the relational-graph sibling of
    * [[Dedup.duplicateClusters]]' label flooding (whose cluster ids the
    * near-dup pipeline consumes); here the graph is arbitrary and the
    * oracle independent.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    val e = symmetricEdges(edges, aCol, bCol)
    var labels = e.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("lab"))
    for (_ <- 1 to rounds)
      labels = relaxRound(e, labels, "n", "lab")(identity, min).localCheckpoint()
    labels.select(col("n").as("node"), col("lab").as("component"))
  }

  /** One large-star round: every node re-points its STRICTLY LARGER
    * neighbors at the minimum of its closed neighborhood. Emitted pairs
    * (v, m) satisfy v > u ≥ m, so they arrive already big→small ordered
    * and self-loop-free.
    *
    * Single-pass shape: the per-node minimum rides a whole-partition
    * window (the benign O(n)-per-partition frame) instead of a
    * groupBy + join-back — one shuffle, and the input is referenced
    * exactly once past the direction union. NO dedup here: output
    * multiplicity is bounded by input multiplicity (each undirected
    * input row contributes from exactly one endpoint's perspective),
    * and [[smallStar]]'s closing distinct collapses everything each
    * round, so an extra shuffle per round buys nothing.
    */
  private def largeStar(e: DataFrame): DataFrame =
    bothWays(e)
      .withColumn("m",
        least(min(col("dst")).over(Window.partitionBy(col("src"))), col("src")))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("a"), col("m").as("b"))

  /** One small-star round: every node re-points its SMALLER-OR-EQUAL
    * neighbors (and itself) at the minimum of that set. Operates on the
    * big→small orientation, so the reduce key is the larger endpoint.
    * Same single-pass window shape as [[largeStar]]; the (u, m)
    * self-attachment is emitted per ROW via a 2-element explode (the
    * closing distinct collapses the per-u duplicates along with
    * everything else — this is the round's ONE dedup shuffle).
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
      .select(explode(array(col("v"), col("u"))).as("x"), col("m"))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("a"), col("m").as("b"))
      .distinct()

  /** Connected components via LARGE-STAR / SMALL-STAR alternation — the
    * production escalation of [[connectedComponents]] for graphs whose
    * diameter is unknown or large (a path graph of length 10⁶ converges
    * here in ~O(log n) rounds where hash-min needs 10⁶). Per the
    * two-phase algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014): each round applies large-star
    * (re-point larger neighbors at the neighborhood minimum) then
    * small-star (re-point smaller neighbors at the minimum), shrinking
    * tree heights multiplicatively until the edge set is a star forest,
    * each star rooted at its component's minimum id — the SAME labels
    * hash-min produces, so the two tiers oracle-check each other.
    *
    * Scale shape, per round: each star step is one node-keyed
    * whole-partition-window shuffle (no join-back — the per-node minimum
    * rides the window, and each step reads its input ONCE), plus
    * small-star's closing distinct: three keyed shuffles a round,
    * edge-linear, no driver-side graph state beyond the per-round
    * convergence scalar (the kcore pattern). Only the composed round
    * output is localCheckpointed — the single-reference chain needs no
    * mid-round cut. Convergence = the round output equals its input
    * (carried |prev| + count + one-sided EXCEPT, the EXCEPT only firing
    * once counts agree); the alternation provably converges, `maxRounds`
    * is a runaway backstop that raises rather than returning unconverged
    * labels. Input may carry duplicates / self-loops / both directions
    * (normalized first, like [[connectedComponents]]); isolated nodes
    * (self-loop-only) drop with the self-loops, matching the hash-min
    * tier.
    */
  def connectedComponentsLS(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    var e = undirected(edges, aCol, bCol)
      .select(col("b").as("a"), col("a").as("b"))
      .localCheckpoint()
    var eCount = e.count()
    var converged = eCount == 0L
    var r = 0
    while (!converged && r < maxRounds) {
      // r19: the round's edge count rides the checkpoint job; the EXCEPT
      // (which only fires once counts agree — normally exactly once, at
      // the fixpoint) stays a separate action
      val (ss, ssCount) = graft.functions.Ops.checkpointWithMetric[Long](
        smallStar(largeStar(e)), count(lit(1)).as("n"))
      converged = ssCount == eCount && ss.except(e).isEmpty
      e = ss
      eCount = ssCount
      r += 1
    }
    if (!converged)
      sys.error(s"connectedComponentsLS: not converged after $maxRounds rounds")
    e.select(col("a").as("node"), col("b").as("component"))
      .union(e.select(col("b").as("node"), col("b").as("component")))
      .distinct()
  }

  /** Multi-source BFS distances over an UNDIRECTED edge list: every seed
    * starts at distance 0; each round a node's distance drops to
    * min(own, min over neighbors + 1) — after R rounds every node within
    * R hops of the seed set carries its exact hop distance (all-integer,
    * so the DuckDB oracle replay is bit-trivially exact). The frontier
    * query of crawl-depth analysis, contamination-radius tracing ("what
    * is within k hops of a flagged document"), and seed-expansion
    * labeling. Nodes beyond R hops are absent from the output (their
    * distance is genuinely unknown at R rounds, not ∞ — a capped run
    * must not invent a sentinel the fixpoint run would overwrite).
    *
    * `rounds` is FIXED, the [[connectedComponents]] argument: relaxing at
    * a fixpoint is a no-op, so the capped engine loop and the exactly-R
    * oracle replay agree on every node within R hops by construction.
    *
    * Scale shape, per round: one [[relaxRound]] over the checkpointed
    * symmetric edge table (one edge join + one node-keyed min) —
    * identical to hash-min component flooding, with distance+1 in place
    * of label. Per-round localCheckpoint for the same 2^rounds lineage
    * reason. Seeds not present in the graph are dropped
    * (semi-join), matching the isolated-node convention of the other
    * graph operators. Input may carry duplicates / self-loops / both
    * directions (normalized first).
    */
  def bfsDistances(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    val e = symmetricEdges(edges, aCol, bCol)
    val nodes = e.select(col("src").as("n")).distinct()
    var dist = seeds.select(col(seedCol).as("n")).distinct()
      .join(nodes, Seq("n"), "left_semi")
      .select(col("n"), lit(0L).as("d"))
    for (_ <- 1 to rounds)
      dist = relaxRound(e, dist, "n", "d")(_ + 1L, min).localCheckpoint()
    dist.select(col("n").as("node"), col("d").as("dist"))
  }

  /** Synchronous label propagation (LPA, Raghavan et al. 2007) community
    * detection over an UNDIRECTED edge list, made DETERMINISTIC: every
    * node starts labeled with its own id; each round EVERY node
    * simultaneously adopts its neighbors' most frequent label, ties
    * broken by the SMALLEST label. Determinism is the whole design: the
    * published algorithm breaks ties uniformly at random and updates
    * asynchronously in random node order — irreproducible across runs,
    * let alone engines; synchronous rounds + the (count DESC, label ASC)
    * tie-break pin one exact answer both the engine and the DuckDB
    * replay compute. The price is the known synchronous-LPA caveat:
    * labels can oscillate on bipartite-ish structure instead of
    * converging, so `rounds` is a FIXED count (both sides replay the
    * same R — agreement does not require convergence), not a fixpoint.
    *
    * Scale shape, per round: one join of the labels to the checkpointed
    * symmetric edge table emits each node's neighbor-label votes, one
    * (node, label)-keyed count (map-side combine absorbs hot labels), one
    * node-keyed argmax via row_number over (count DESC, label ASC) — all
    * keyed shuffles, edge-linear, checkpointed per round. The argmax window partitions by node and
    * buffers one node's DISTINCT labels — bounded by degree (the
    * in-degree-buffer bound pageRank's exactFold docstring documents).
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    val e = symmetricEdges(edges, aCol, bCol)
    var labels = e.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("lab"))
    val w = Window.partitionBy(col("n"))
      .orderBy(col("__c").desc, col("lab").asc)
    for (_ <- 1 to rounds) {
      val votes = e.join(labels.withColumnRenamed("n", "src"), "src")
        .select(col("dst").as("n"), col("lab"))
      labels = votes.groupBy(col("n"), col("lab"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("n"), col("lab"))
        .localCheckpoint()
    }
    labels.select(col("n").as("node"), col("lab").as("community"))
  }

  /** localCheckpoint + STATS reset: the checkpointed LogicalRDD inherits
    * the original plan's size estimate, and in a doubly-nested iterative
    * dataflow those estimates MULTIPLY through every join — by Borůvka's
    * round 4×8 the inherited sizeInBytes is a BigInteger with ~10⁸
    * digits and the driver burns minutes in Toom-Cook multiplication
    * inside plan-size estimation (measured: q_x_mst 3m26s → 8s at
    * sf0.01). Re-wrapping the materialized RDD via createDataFrame
    * drops the inherited estimate back to the default leaf size, so
    * estimation cost stays bounded regardless of loop depth. Execution
    * is unchanged — the data is already materialized; only the
    * ESTIMATE is reset.
    */
  private def checkpointCutStats(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Minimum spanning forest via Borůvka rounds — THE parallel MST (each
    * round every component grabs its cheapest incident edge, components
    * merge, the component count at least halves, so ~log n rounds finish
    * any graph — the reason Borůvka, not Prim/Kruskal, is the
    * distributed form: Prim grows one frontier serially and Kruskal
    * needs a globally sorted edge stream through one union-find).
    *
    * Determinism: edges are totally ordered by (w, a, b), so the
    * per-component argmin is unique and the resulting forest is THE
    * minimum spanning forest under that order (ties in w cannot flap) —
    * both engines and the driver-replay Kruskal agree on the exact edge
    * set. `rounds` is FIXED (the [[connectedComponents]] convention: a
    * component with no outgoing edge picks nothing, so extra rounds are
    * no-ops); rounds ≥ ⌈log₂ n⌉ yields the complete forest, fewer a
    * partial forest — both replayed identically by the oracle.
    *
    * Scale shape, per round: two label joins onto the edge list + one
    * component-keyed min (all keyed shuffles, map-side combine absorbs
    * big components), then the CONTRACTION: hash-min flooding WITH
    * pointer jumping (`label ← label(label)` each sub-round — the
    * Shiloach–Vishkin shortcut, so convergence is O(log diameter), not
    * O(diameter)) over the chosen-edge COMPONENT graph
    * (component-count-sized, shrinking geometrically), run TO
    * CONVERGENCE, and one label re-point join. Convergence is detected
    * by the label-SUM scalar: hash-min labels are monotone
    * non-increasing per node, so the sum strictly decreases until the
    * fixpoint and one cheap aggregate per sub-round is the whole check
    * (no EXCEPT). A fixed sub-round count here would be a silent
    * correctness hazard: on a chosen-edge graph whose diameter exceeds
    * it (a monotone-weight path, where every component picks its left
    * edge and the chosen graph IS the whole path), labels under-merge
    * and the next round re-selects an edge INSIDE an already-connected
    * component — duplicate forest rows, possibly cycle edges.
    * `maxCcRounds` is a runaway backstop that raises rather than
    * returning a wrong forest (the [[connectedComponentsLS]]
    * convention); with pointer jumping, 50 covers diameters past 2^25.
    * A round whose chosen-edge set is empty ends the loop early — every
    * later round would choose nothing too (no cross-component edges
    * remain reachable), so the early exit preserves the fixed-rounds
    * contract while skipping the dead jobs.
    *
    * Labels are checkpointed per round (three references each — the
    * 3^rounds lineage argument); the forest is a lazy union of the
    * per-round chosen-edge checkpoints.
    *
    * Output: the forest edges (a, b, w).
    */
  def boruvkaForest(edges: DataFrame, aCol: String, bCol: String,
      wCol: String, rounds: Int, maxCcRounds: Int = 50): DataFrame = {
    val e = canonicalPairs(edges, aCol, bCol, extra = Seq(col(wCol).cast("long").as("w")))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    var labels = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .distinct()
      .select(col("n"), col("n").as("lab"))
    var forest = e.filter(lit(false)) // empty (a, b, w) frame
    // r19: the per-round/sub-round driver scalars (chosen-edge count, the
    // label-sum convergence scalar) now ride the SAME checkpoint jobs that
    // materialize those tables (Ops.checkpointWithMetric) instead of one
    // extra action each — at sf0.1 this roughly halves the job count of
    // the whole operator, and at 100 TB each avoided action is a cluster
    // round-trip. Stats-cut unchanged (the BigInteger estimate hazard).
    def cutStatsWithMetric[T](df: DataFrame, metric: Column): (DataFrame, T) = {
      val (cp, v) = graft.functions.Ops.checkpointWithMetric[T](df, metric)
      (cp.sparkSession.createDataFrame(cp.rdd, cp.schema), v)
    }
    // converged ⟺ no label moved ⟺ the (monotone-decreasing) label sum is
    // unchanged; decimal(38,0) keeps the scalar exact at any node count
    val labelSumMetric = sum(col("mlab").cast("decimal(38,0)")).as("s")
    var exhausted = false
    var round = 0
    while (!exhausted && round < rounds) {
      round += 1
      val ce = e
        .join(labels.select(col("n").as("a"), col("lab").as("__ca")), Seq("a"))
        .join(labels.select(col("n").as("b"), col("lab").as("__cb")), Seq("b"))
        .filter(col("__ca") =!= col("__cb"))
      val pick = ce.select(col("__ca").as("__c"), struct(col("w"), col("a"), col("b")).as("__e"))
        .unionByName(ce.select(col("__cb").as("__c"), struct(col("w"), col("a"), col("b")).as("__e")))
        .groupBy(col("__c")).agg(min(col("__e")).as("__m"))
      val chosen = pick
        .select(col("__m.a").as("a"), col("__m.b").as("b"), col("__m.w").as("w"))
        .distinct()
      val (chosenCp, nChosen) = cutStatsWithMetric[Long](chosen, count(lit(1)).as("n"))
      if (nChosen == 0L) {
        exhausted = true // no component has a cross edge left: done for good
      } else {
        // r20: forest stays a LAZY union — every leaf is an
        // already-materialized chosenCp checkpoint, so re-checkpointing
        // the union was one pure-overhead action per round (the union
        // tree is `rounds` deep over round-sized leaves; planning cost is
        // trivial and nothing re-executes)
        forest = forest.unionByName(chosenCp)
        // contraction: hash-min + pointer-jump over the chosen-edge
        // COMPONENT graph, to the label-sum fixpoint (see docstring).
        // r19: the component graph materializes BOTH orientations once
        // (it was recomputed from two label joins per sub-round, twice),
        // so each flood is one join over a checkpointed table.
        val cg = checkpointCutStats(bothWays(chosenCp
          .join(labels.select(col("n").as("a"), col("lab").as("__ca")), Seq("a"))
          .join(labels.select(col("n").as("b"), col("lab").as("__cb")), Seq("b"))
          .select(col("__ca").as("a"), col("__cb").as("b"))
          .distinct()))
        var (m, mSum) = cutStatsWithMetric[java.math.BigDecimal](
          cg.select(col("src").as("c")).distinct()
            .select(col("c"), col("c").as("mlab")),
          labelSumMetric)
        var converged = false
        var cc = 0
        while (!converged && cc < maxCcRounds) {
          cc += 1
          val flooded = relaxRound(cg, m, "c", "mlab")(identity, min)
          // pointer jump: label ← label(label); every label value is a cg
          // node (labels start as node ids and only copy), so the lookup
          // always hits — coalesce is belt-and-braces. (r20 negative: a
          // SECOND jump per sub-round — one more self-join inside the same
          // checkpoint job, hoping to halve sub-round count — measured
          // slightly WORSE at sf0.1: the supplier-graph contraction
          // already converges in 1-2 sub-rounds, so the extra join was
          // pure plan cost. Revisit only for deep-diameter graphs.)
          val jumped = flooded.as("x")
            .join(flooded.as("y"), col("x.mlab") === col("y.c"), "left")
            .select(col("x.c").as("c"),
              coalesce(col("y.mlab"), col("x.mlab")).as("mlab"))
          val (mNext, s) = cutStatsWithMetric[java.math.BigDecimal](jumped, labelSumMetric)
          m = mNext
          converged = s.compareTo(mSum) == 0
          mSum = s
        }
        if (!converged)
          sys.error(s"boruvkaForest: contraction not converged after $maxCcRounds sub-rounds")
        labels = checkpointCutStats(
          labels.join(m.withColumnRenamed("c", "lab"), Seq("lab"), "left")
            .select(col("n"), coalesce(col("mlab"), col("lab")).as("lab")))
      }
    }
    forest
  }

  /** k-core decomposition over an UNDIRECTED edge list: repeatedly remove
    * nodes of degree < k (each removal can drag neighbors below k — the
    * cascade is the point) until fixpoint or `rounds` peels, then return
    * the surviving nodes with their within-core degree.
    *
    * `rounds` is FIXED, which is what makes the operator oracle-checkable:
    * peeling an already-stable core is a no-op, so "early-exit at
    * fixpoint" and "always run R rounds" produce identical sets — the
    * loop here exits early on a stable edge count (one driver-side scalar
    * per round, the same bounded pattern as BPE training's per-round
    * argmax), while the DuckDB oracle replays all R rounds unrolled;
    * choose R ≥ the peel depth if fixpoint semantics are wanted
    * (GraphSpec pins convergence on a cascade graph).
    *
    * Scale shape, per round: one node-keyed degree aggregate and two
    * edge semi-joins — all keyed shuffles, edge-linear, no driver-side
    * graph state. The edge set only SHRINKS, so rounds get cheaper. Each
    * round's survivors are localCheckpointed: edges_{i+1} references
    * edges_i three times (degree union + both semi-join probes), and an
    * unchecked lazy composition would re-expand 3^rounds — the checkpoint
    * makes each round's work linear in the current edge count. Input may
    * carry duplicates / self-loops / both directions (normalized first,
    * like [[triangleStats]]).
    */
  def kcore(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    var e = undirected(edges, aCol, bCol).localCheckpoint()
    var nEdges = e.count()
    var stable = false
    var r = 0
    while (r < rounds && !stable) {
      val keep = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("n"))
      // r19: the survivor count rides the checkpoint job (one observe
      // metric) instead of a separate count action per peel round
      val (cp, n2) = graft.functions.Ops.checkpointWithMetric[Long](
        e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi"),
        count(lit(1)).as("n"))
      e = cp
      stable = n2 == nEdges
      nEdges = n2
      r += 1
    }
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** k-truss decomposition over an UNDIRECTED edge list: iteratively drop
    * every edge supported by fewer than k−2 triangles until stable — the
    * cohesion filter one notch stronger than [[kcore]] (every surviving
    * edge sits in k−2 triangles of surviving edges; a k-truss is always
    * inside the (k−1)-core but prunes "bridge" edges the core keeps).
    * Output: the surviving edges with their final support.
    *
    * Per round, everything stays edge-shaped: triangles enumerate as the
    * wedge join closed by one semi-shaped equi-join (a<b<c canonical, so
    * each triangle materializes ONCE), each triangle votes for its three
    * edges (union + one keyed count with map-side combine), and the edge
    * set shrinks by an inner join on the support filter. `rounds` is the
    * FIXED [[kcore]] schedule: ≥ the observed peel depth it IS the
    * k-truss (peeling at a fixpoint is a no-op), the early-exit saves the
    * tail locally, and the unrolled oracle replays the same count.
    * Shrinking edge sets are localCheckpointed per round (the kcore /
    * boruvka lineage stance). At web scale the triangle join is the
    * bounded piece — degree-ordered orientation (the [[triangleStats]]
    * O(√m) bound) applies verbatim since the wedge join here is already
    * canonical-ordered.
    */
  def ktruss(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, "ktruss: k must be at least 3")
    var e = undirected(edges, aCol, bCol).localCheckpoint()
    def support(es: DataFrame): DataFrame = {
      val tri = es.as("x").join(es.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
        .join(es.select(col("a").as("ta"), col("b").as("tc")), Seq("ta", "tc"))
      tri.select(col("ta").as("a"), col("tb").as("b"))
        .unionByName(tri.select(col("tb").as("a"), col("tc").as("b")))
        .unionByName(tri.select(col("ta").as("a"), col("tc").as("b")))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var nEdges = e.count()
    var stable = nEdges == 0L
    var r = 0
    while (r < rounds && !stable) {
      // r19: survivor count fused into the checkpoint (the kcore move)
      val (cp, n2) = graft.functions.Ops.checkpointWithMetric[Long](
        e.join(support(e).filter(col("support") >= k - 2), Seq("a", "b"),
          "left_semi"),
        count(lit(1)).as("n"))
      e = cp
      stable = n2 == nEdges
      nEdges = n2
      r += 1
    }
    e.join(support(e), Seq("a", "b"))
  }

  /** Exact triangle census over an UNDIRECTED edge list: one row with
    * node / edge / wedge / triangle counts and the global clustering
    * coefficient (3·triangles / wedges) in integer basis points.
    *
    * Algorithm: degree orientation. Every edge is directed from its
    * lower-(degree, id) endpoint to the higher one, making the edge set
    * acyclic with out-degree ≤ O(√m) for ANY graph — the classic bound
    * that tames hubs: a star's center (degree n) ORIENTS ALL EDGES INWARD
    * and generates zero wedge candidates, where an id-ordered orientation
    * would enumerate C(n,2) pairs on one reducer. Wedges u→v, u→w
    * (v before w in orientation order) are generated by a self-join on
    * the oriented source and closed into triangles by a LEFT SEMI join
    * against the oriented edges on (v, w) — each triangle counted exactly
    * once, from its minimum-(degree, id) corner. All three joins are
    * key-partitioned shuffles (src, then (v, w)); nothing driver-side.
    *
    * Input edges may carry duplicates, self-loops, or both directions —
    * normalized to distinct canonical id-ordered pairs first. Orientation
    * key = degree·2³² + id packed in one BIGINT (requires non-negative
    * ids < 2³¹ — checked), so "compare (degree, id) lexicographically"
    * is a single long comparison in codegen.
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    def chk(c: Column): Column = {
      val v = c.cast("bigint")
      when(v < 0 || v >= (1L << 31),
        raise_error(concat(lit("triangleStats: node id out of [0, 2^31): "),
          v.cast("string"))))
        .otherwise(v)
    }
    // materialize the normalized edge list and the orientation once: ce
    // feeds the degree table, the orientation join, and the edge count,
    // and oriented feeds both wedge sides plus the closing semi-join —
    // left lazy, the sf0.1 supplier-graph plan held 72 copies of the
    // caller's lineitem-scan subtree (AQE's ReusedExchange recovered
    // most of the runtime, 6.9 s → 6.4 s measured, but only when the
    // replicas line up exchange-for-exchange; the checkpoint makes the
    // single-materialization guarantee structural, as in pageRank)
    val ce = undirected(edges, aCol, bCol, chk).localCheckpoint()
    val deg = ce.select(col("a").as("n")).union(ce.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orientation key: (degree, id) packed into one comparable long
    val key = (col("d") * (1L << 32)) + col("n")
    val keyed = deg.select(col("n"), key.as("k"))
    val oriented = ce
      .join(keyed.withColumnRenamed("n", "a").withColumnRenamed("k", "ka"), "a")
      .join(keyed.withColumnRenamed("n", "b").withColumnRenamed("k", "kb"), "b")
      .select(
        when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kv"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.v").as("u"), col("e2.v").as("v"))
    val triangles = wedges
      .join(oriented.select(col("u"), col("v")), Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val base = ce.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))))
    base.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("n_triangles * 3 * 10000 div n_wedges").as("clustering_bp"))
  }
}
