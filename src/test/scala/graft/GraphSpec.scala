package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches a naive driver-side power iteration") {
    // small undirected graph: a 4-cycle with a chord plus a pendant pair
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap

    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet.toSeq.sorted
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 4) {
      rank = nodes.map { v =>
        // sum in source-sorted order — the operator's determinism contract
        val s = adj(v).sorted.foldLeft(0.0)((acc, u) => acc + rank(u) / adj(u).size)
        v -> ((1.0 - 0.85) / n + 0.85 * s)
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    got.foreach { case (v, r) => assert(r == rank(v), s"node $v: $r vs ${rank(v)}") }
    // ranks form a probability-ish distribution (sums to ~1 on a graph
    // with no dangling nodes)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the chorded nodes (1, 3) outrank the plain cycle nodes (2, 4)
    assert(got(1L) > got(2L) && got(3L) > got(4L))
  }

  test("pageRank on a directed graph keeps source-only nodes and teleports over |V|") {
    // 1 → 2: node 1 receives nothing but must keep its teleport share;
    // n must be |V| = 2 (not the out-degree-node count); node 2's dangling
    // mass is dropped by documented design
    val got = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == (1.0 - 0.85) / 2)
    assert(got(2L) == (1.0 - 0.85) / 2 + 0.85 * 0.5)
  }

  test("plain-sum production tier agrees with the sorted-fold within 1e-12") {
    // the web-scale escape hatch for hub in-degree buffers: identical plan
    // shape, plain streaming sum instead of the source-sorted fold — rank
    // differences are pure float reassociation, bounded far below any
    // downstream threshold's resolution
    val r = new scala.util.Random(11)
    val edges0 = (1 to 600).map(_ => (r.nextInt(50).toLong, r.nextInt(50).toLong))
      .filter(p => p._1 != p._2)
    val sym = (edges0 ++ edges0.map(_.swap)).distinct.toDF("src", "dst")
    val exact = Graph.pageRank(sym, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap
    val plain = Graph.pageRank(sym, "src", "dst", iters = 4, exactFold = false)
      .as[(Long, Double)].collect().toMap
    assert(exact.keySet == plain.keySet)
    exact.foreach { case (v, rk) =>
      assert(math.abs(rk - plain(v)) <= 1e-12, s"node $v: $rk vs ${plain(v)}")
    }
  }

  test("checkpointed iteration is bit-identical to the single lazy plan") {
    // checkpointEvery cuts plan lineage, not the computation: every k-th
    // rank table is materialized and replayed, so deep iteration counts
    // stop compounding Catalyst planning time with zero value drift
    val r = new scala.util.Random(23)
    val edges0 = (1 to 300).map(_ => (r.nextInt(30).toLong, r.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val sym = (edges0 ++ edges0.map(_.swap)).distinct.toDF("src", "dst")
    val lazyPlan = Graph.pageRank(sym, "src", "dst", iters = 5)
      .as[(Long, Double)].collect().toMap
    val checked = Graph.pageRank(sym, "src", "dst", iters = 5, checkpointEvery = 2)
      .as[(Long, Double)].collect().toMap
    assert(lazyPlan == checked)
  }

  test("pageRank is bit-identical across repartitionings") {
    val r = new scala.util.Random(7)
    val edges0 = (1 to 400).map(_ => (r.nextInt(40).toLong, r.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val sym = (edges0 ++ edges0.map(_.swap)).distinct
    val a = Graph.pageRank(sym.toDF("src", "dst").repartition(1), "src", "dst", 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(sym.toDF("src", "dst").repartition(13), "src", "dst", 3)
      .as[(Long, Double)].collect().toMap
    assert(a == b)
  }

  test("kcore peels a cascade chain, keeps the clique, matches a driver replay") {
    // K5 (every node degree 4) with a path 5-10-11-12 hanging off it:
    // the 3-core must drop the whole path, but only via the CASCADE —
    // node 10 has degree 2 only after 11 is gone, which needs 12 gone
    // first. Messy input (dup edge, both directions, self-loop) on
    // purpose, as for triangleStats.
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val edges = (k5 ++ chain ++ Seq((2L, 1L), (3L, 4L), (7L, 7L))).toDF("a", "b")
    val got = Graph.kcore(edges, "a", "b", k = 3, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 5L).map(_ -> 4L).toMap,
      s"3-core must be exactly the K5 with in-core degrees 4, got $got")

    // driver replay of the peel on a random graph, any k
    val r = new scala.util.Random(11)
    val rand = (1 to 300).map(_ => (r.nextInt(60).toLong, r.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    var e = rand.toSet
    var done = false
    while (!done) {
      val deg = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= 4).keySet
      val e2 = e.filter(p => keep(p._1) && keep(p._2))
      done = e2 == e
      e = e2
    }
    val want = e.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val got4 = Graph.kcore(rand.toDF("a", "b"), "a", "b", k = 4, rounds = 32)
      .as[(Long, Long)].collect().toMap
    assert(got4 == want)

    // k above the max degree peels to empty
    assert(Graph.kcore(rand.toDF("a", "b"), "a", "b", k = 100, rounds = 8)
      .count() == 0L)
  }

  test("connectedComponents labels every node with its component minimum") {
    // two triangles bridged by a path, plus an isolated edge: 2 components
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L), (20L, 21L), (2L, 1L), (9L, 9L))
      .toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b", rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 1L, 20L -> 20L, 21L -> 20L))

    // random graph vs a driver union-find
    val r = new scala.util.Random(23)
    val rand = (1 to 120).map(_ => (r.nextInt(200).toLong, r.nextInt(200).toLong))
      .filter(p => p._1 != p._2)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
    }
    rand.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = parent.keys.toSeq.map(n => n -> find(n)).toMap
    // rounds = 32 ≥ any diameter of a 200-node graph's giant component here
    val gotR = Graph.connectedComponents(rand.toDF("a", "b"), "a", "b", rounds = 32)
      .as[(Long, Long)].collect().toMap
    assert(gotR == want)
  }

  test("connectedComponentsLS labels equal hash-min on the random-graph replay") {
    // the same messy fixed graph as the hash-min test (dup edge, both
    // directions, self-loop) ...
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L), (20L, 21L), (2L, 1L), (9L, 9L))
      .toDF("a", "b")
    val got = Graph.connectedComponentsLS(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 1L, 20L -> 20L, 21L -> 20L))

    // ... and the same random graph vs a driver union-find AND the
    // hash-min tier — three independent algorithms, one labeling
    val r = new scala.util.Random(23)
    val rand = (1 to 120).map(_ => (r.nextInt(200).toLong, r.nextInt(200).toLong))
      .filter(p => p._1 != p._2)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
    }
    rand.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = parent.keys.toSeq.map(n => n -> find(n)).toMap
    val gotLS = Graph.connectedComponentsLS(rand.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(gotLS == want)
    val gotHM = Graph.connectedComponents(rand.toDF("a", "b"), "a", "b", rounds = 32)
      .as[(Long, Long)].collect().toMap
    assert(gotLS == gotHM)
  }

  test("connectedComponentsLS converges where fixed-round hash-min falls short") {
    // a 240-node path: diameter 239. Hash-min with 8 rounds propagates the
    // minimum only 8 hops — provably wrong labels past hop 8 — while the
    // star alternation's multiplicative height-shrinking converges well
    // inside the 50-round backstop. This is the high-diameter case the
    // production escalation exists for.
    val path = (1L until 240L).map(i => (i, i + 1)).toDF("a", "b")
    val gotLS = Graph.connectedComponentsLS(path, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(gotLS == (1L to 240L).map(_ -> 1L).toMap)
    val gotHM8 = Graph.connectedComponents(path, "a", "b", rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(gotHM8 != gotLS, "8-round hash-min should NOT have converged at diameter 239")
  }

  test("weighted pageRank matches a driver replay; all-weights-1 equals unweighted") {
    // weighted triangle plus a pendant: 1-2 strong (w=10), 1-3 and 2-3
    // weak (w=1), 3-4 medium (w=5)
    val und = Seq((1L, 2L, 10L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 5L))
    val edges = (und ++ und.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "w")
    val iters = 4
    val got = Graph.pageRank(edges, "src", "dst", iters = iters, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap

    val out = (und ++ und.map(t => (t._2, t._1, t._3)))
      .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    val nodes = out.keySet.toSeq.sorted
    val wsum = out.view.mapValues(_.map(_._2).sum.toDouble).toMap
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      rank = nodes.map { v =>
        val ins = nodes.filter(u => out(u).exists(_._1 == v)).sorted
        val s = ins.foldLeft(0.0) { (acc, u) =>
          acc + rank(u) * out(u).find(_._1 == v).get._2.toDouble / wsum(u)
        }
        v -> ((1.0 - 0.85) / n + 0.85 * s)
      }.toMap
    }
    got.foreach { case (v, r) => assert(r == rank(v), s"node $v: $r vs ${rank(v)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // strong-tie pair outranks the weakly-attached pendant's neighbor share
    assert(got(1L) > got(4L) && got(2L) > got(4L))

    // all-weights-1 must equal the unweighted tier bit-for-bit
    val unw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val sym = (unw ++ unw.map(_.swap))
    val plain = Graph.pageRank(sym.toDF("src", "dst"), "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    val ones = Graph.pageRank(sym.map(t => (t._1, t._2, 1L)).toDF("src", "dst", "w"),
      "src", "dst", iters = 3, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(plain == ones)
  }

  test("personalizedPageRank matches a driver replay and concentrates near seeds") {
    // two communities bridged by one edge: a 4-clique {1..4} and a
    // 4-cycle {10..13}, bridge 4–10. Seeds = {1, 2}.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (4L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 99L).toDF("node") // 99 absent from the graph → ignored
    val iters = 4
    val got = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node", iters)
      .as[(Long, Double)].collect().toMap

    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet.toSeq.sorted
    val seedSet = Set(1L, 2L)
    def tele(v: Long): Double = if (seedSet(v)) 1.0 / seedSet.size else 0.0
    var rank = nodes.map(v => v -> tele(v)).toMap
    for (_ <- 1 to iters) {
      rank = nodes.map { v =>
        val s = adj(v).sorted.foldLeft(0.0)((acc, u) => acc + rank(u) / adj(u).size)
        v -> ((1.0 - 0.85) * tele(v) + 0.85 * s)
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    got.foreach { case (v, r) => assert(r == rank(v), s"node $v: $r vs ${rank(v)}") }
    // mass conserved on a sink-free graph; proximity: every clique member
    // outranks every far-cycle node
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    for (near <- Seq(3L, 4L); far <- Seq(11L, 12L, 13L))
      assert(got(near) > got(far), s"$near should outrank $far")
    // checkpointEvery only cuts lineage — ranks are bit-identical
    val cp = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iters, checkpointEvery = 1).as[(Long, Double)].collect().toMap
    assert(cp == got)
  }

  test("personalizedPageRank dangling redistribution returns sink mass to the seeds") {
    // 1→2, 3→1, 3→2: node 2 is a sink; seed = {1}. In the personalized
    // model a surfer stranded on a sink restarts at the TELEPORT
    // distribution, so redistributed mass goes d·dm·tele(v) — ranks sum
    // to 1 on any graph and stay a seed-proximity measure. Driver power
    // iteration replays the exact fold orders (node-sorted dangling sum,
    // source-sorted contribution sum), so equality is bit-exact.
    val edges = Seq((1L, 2L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val iters = 6
    val got = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iters, redistributeDanglingMass = true).as[(Long, Double)].collect().toMap

    val outs = Map(1L -> Seq(2L), 3L -> Seq(1L, 2L))
    val ins = Map(1L -> Seq(3L), 2L -> Seq(1L, 3L), 3L -> Seq[Long]())
    val nodes = Seq(1L, 2L, 3L)
    def tele(v: Long): Double = if (v == 1L) 1.0 else 0.0
    var rank = nodes.map(v => v -> tele(v)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.sorted.filter(v => !outs.contains(v))
        .foldLeft(0.0)((acc, v) => acc + rank(v))
      rank = nodes.map { v =>
        val s = ins(v).sorted.foldLeft(0.0)((acc, u) => acc + rank(u) / outs(u).size)
        v -> ((1.0 - 0.85) * tele(v) + 0.85 * (s + dm * tele(v)))
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    got.foreach { case (v, r) => assert(r == rank(v), s"node $v: $r vs ${rank(v)}") }
    assert(math.abs(got.values.sum - 1.0) <= 1e-12)
    // and the default tier on the same graph indeed leaks the sink mass
    val dropped = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iters).as[(Long, Double)].collect().map(_._2).sum
    assert(dropped < 1.0 - 1e-6)
  }

  test("neighborhoodReach equals the exact 2-hop ball while the sketch is exact-mode") {
    // path 1-2-3-4-5 plus a triangle 7-8-9: ball sizes are hand-checkable
    // and far below 2^12, so the theta estimate must be EXACT
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L), (8L, 9L), (7L, 9L))
    val got = Graph.neighborhoodReach(und.toDF("a", "b"), "a", "b", hops = 2)
      .as[(Long, Long)].collect().toMap
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.keys.map { v =>
      val one = adj(v) + v
      v -> (one ++ one.flatMap(adj(_))).size.toLong
    }.toMap
    assert(got == want)

    // random graph: still exact-mode (≤60 nodes), so estimate ≡ exact ball
    val r = new scala.util.Random(5)
    val rand = (1 to 150).map(_ => (r.nextInt(60).toLong, r.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val radj = (rand ++ rand.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val rwant = radj.keys.map { v =>
      val one = radj(v) + v
      v -> (one ++ one.flatMap(radj(_))).size.toLong
    }.toMap
    val rgot = Graph.neighborhoodReach(rand.toDF("a", "b"), "a", "b", hops = 2)
      .as[(Long, Long)].collect().toMap
    assert(rgot == rwant)
  }

  test("pageRank with dangling-mass redistribution sums to 1 on a sink graph") {
    // 1→2, 3→1, 3→2: node 2 is a sink. The default tier drops its mass
    // (sum < 1); the full model redistributes it and matches a driver
    // power iteration exactly (dangling fold in node-sorted order,
    // mirroring the operator's determinism contract).
    val edges = Seq((1L, 2L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    val iters = 6
    val got = Graph.pageRank(edges, "src", "dst", iters = iters,
      redistributeDanglingMass = true).as[(Long, Double)].collect().toMap

    val outs = Map(1L -> Seq(2L), 3L -> Seq(1L, 2L))
    val ins = Map(1L -> Seq(3L), 2L -> Seq(1L, 3L), 3L -> Seq[Long]())
    val nodes = Seq(1L, 2L, 3L)
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.sorted.filter(v => !outs.contains(v))
        .foldLeft(0.0)((acc, v) => acc + rank(v))
      rank = nodes.map { v =>
        val s = ins(v).sorted.foldLeft(0.0)((acc, u) => acc + rank(u) / outs(u).size)
        v -> ((1.0 - 0.85) / n + 0.85 * (s + dm / n))
      }.toMap
    }
    assert(got.keySet == rank.keySet)
    got.foreach { case (v, r) => assert(r == rank(v), s"node $v: $r vs ${rank(v)}") }
    assert(math.abs(got.values.sum - 1.0) <= 1e-12)
    // and the default tier on the same graph indeed leaks the sink mass
    val dropped = Graph.pageRank(edges, "src", "dst", iters = iters)
      .as[(Long, Double)].collect().map(_._2).sum
    assert(dropped < 1.0 - 1e-6)
  }

  test("dangling redistribution: production fold tier agrees with the exact tier") {
    // Sink-HEAVY graph (most nodes dangling — the web shape the production
    // tier exists for): a 3-node core fanning out to 12 pure sinks. With
    // exactFold = false the dangling mass must use a plain partial-agg sum
    // (no node-table-scale collect_list buffer) and still agree with the
    // exact tier to 1e-12, in both pageRank and personalizedPageRank.
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
      (10L to 21L).map(s => (1L + s % 3, s))).toDF("src", "dst")
    val exactPr = Graph.pageRank(edges, "src", "dst", iters = 5,
      redistributeDanglingMass = true, exactFold = true)
      .as[(Long, Double)].collect().toMap
    val prodPr = Graph.pageRank(edges, "src", "dst", iters = 5,
      redistributeDanglingMass = true, exactFold = false)
      .as[(Long, Double)].collect().toMap
    assert(prodPr.keySet == exactPr.keySet)
    prodPr.foreach { case (v, r) =>
      assert(math.abs(r - exactPr(v)) <= 1e-12, s"pageRank node $v: $r vs ${exactPr(v)}")
    }
    assert(math.abs(prodPr.values.sum - 1.0) <= 1e-12)

    val seeds = Seq(1L, 2L).toDF("node")
    val exactPpr = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iters = 5, redistributeDanglingMass = true, exactFold = true)
      .as[(Long, Double)].collect().toMap
    val prodPpr = Graph.personalizedPageRank(edges, "src", "dst", seeds, "node",
      iters = 5, redistributeDanglingMass = true, exactFold = false)
      .as[(Long, Double)].collect().toMap
    assert(prodPpr.keySet == exactPpr.keySet)
    prodPpr.foreach { case (v, r) =>
      assert(math.abs(r - exactPpr(v)) <= 1e-12, s"ppr node $v: $r vs ${exactPpr(v)}")
    }
    assert(math.abs(prodPpr.values.sum - 1.0) <= 1e-12)
  }

  test("boruvkaForest equals a driver Kruskal under the (w, a, b) total order") {
    val r = new scala.util.Random(13)
    // random weighted graph with DUPLICATE weights to exercise the
    // tie-break, plus a disconnected pair (forest, not tree)
    val und = (0 until 60).map(_ => (r.nextInt(15).toLong, r.nextInt(15).toLong,
      (r.nextInt(5) + 1).toLong)).filter(p => p._1 != p._2) ++
      Seq((100L, 101L, 2L))
    val edges = und.toDF("a", "b", "w")
    val got = Graph.boruvkaForest(edges, "a", "b", "w", rounds = 5)
      .as[(Long, Long, Long)].collect().toSet

    // Kruskal over the same normalized edge list and total order
    val norm = und.map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
      .groupBy(p => (p._1, p._2)).map { case ((a, b), es) => (a, b, es.map(_._3).min) }
      .toSeq.sortBy(p => (p._3, p._1, p._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
    }
    val kruskal = norm.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
    assert(got == kruskal, s"boruvka ${got.size} vs kruskal ${kruskal.size}")
    // total weight is the MSF weight and the forest spans both components
    assert(got.toSeq.map(_._3).sum == kruskal.toSeq.map(_._3).sum)
    assert(got.exists(e => e._1 == 100L && e._2 == 101L))
  }

  test("boruvkaForest: monotone-weight path (chosen-graph diameter 39) fully merges") {
    // Every component picks its LEFT edge (weights rise along the path),
    // so round 1's chosen-edge component graph IS the whole 40-node path —
    // diameter 39, far past the r13 fixed 12-round flood. An under-merged
    // contraction would leave multiple labels inside the one true
    // component and round 2 would re-select an intra-component edge:
    // duplicate forest rows / cycle edges. The convergent contraction
    // must return each path edge EXACTLY once and nothing else.
    val edges = (1L until 40L).map(i => (i, i + 1, i)).toDF("a", "b", "w")
    val rows = Graph.boruvkaForest(edges, "a", "b", "w", rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.length == 39, s"expected 39 forest rows, got ${rows.length}")
    assert(rows.toSet == (1L until 40L).map(i => (i, i + 1, i)).toSet)
  }

  test("bfsDistances: exact hop counts, capped horizon, absent seeds dropped") {
    // path 1-2-3-4-5-6 plus an isolated edge 10-11; seeds 1 and 10, plus
    // 99 which is not in the graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("a", "b")
    val seeds = Seq(1L, 10L, 99L).toDF("s")
    val d3 = Graph.bfsDistances(edges, "a", "b", seeds, "s", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 10L -> 0L, 11L -> 1L),
      s"got $d3") // 5 and 6 are beyond 3 hops → absent, not sentinel; 99 dropped
    // extra rounds at the fixpoint are no-ops (the fixed-rounds contract)
    val d5 = Graph.bfsDistances(edges, "a", "b", seeds, "s", rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(d5(5L) == 4L && d5(6L) == 5L && d5.view.filterKeys(d3.contains).toMap == d3)
  }

  test("labelPropagation: two bridged cliques resolve to two min-labeled communities") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      (4L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 4)
      .as[(Long, Long)].collect().toMap
    // within each clique every node sees the same vote multiset ⇒ the min
    // label (1 resp. 10) wins everywhere; the bridge does not flip either
    // side because in-clique votes outnumber the single cross vote
    assert(Seq(1L, 2L, 3L, 4L).forall(n => got(n) == 1L), s"got $got")
    assert(Seq(10L, 11L, 12L, 13L).forall(n => got(n) == 10L), s"got $got")
  }

  test("labelPropagation matches a naive synchronous driver replay on a random graph") {
    val r = new scala.util.Random(23)
    val und = (0 until 60).map(_ => (r.nextInt(18).toLong, r.nextInt(18).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = und.toDF("a", "b")
    val rounds = 4
    val got = Graph.labelPropagation(edges, "a", "b", rounds)
      .as[(Long, Long)].collect().toMap

    val canon = und.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lab = lab.map { case (n, _) =>
        val votes = adj(n).map(lab).groupBy(identity).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got == lab)
  }

  test("hits: bit-exact driver replay, unit L2 norms, pure-side zeros") {
    // bipartite-ish purchase graph with one reversed edge to exercise a
    // mixed node, plus a pure hub (5) and a pure authority (40)
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 30L), (3L, 20L),
      (10L, 30L), (5L, 40L)).toDF("src", "dst")
    val iters = 2
    val got = Graph.hits(edges, "src", "dst", iters = iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val outs = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 30L), (3L, 20L),
      (10L, 30L), (5L, 40L))
    val nodes = (outs.map(_._1) ++ outs.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      auth = nodes.map { n =>
        n -> outs.filter(_._2 == n).map(_._1).sorted
          .foldLeft(0.0)((acc, s) => acc + hub(s))
      }.toMap
      val an = math.sqrt(nodes.foldLeft(0.0)((acc, n) => acc + auth(n) * auth(n)))
      auth = auth.map { case (n, v) => n -> (if (an > 0) v / an else 0.0) }
      hub = nodes.map { n =>
        n -> outs.filter(_._1 == n).map(_._2).sorted
          .foldLeft(0.0)((acc, d) => acc + auth(d))
      }.toMap
      val hn = math.sqrt(nodes.foldLeft(0.0)((acc, n) => acc + hub(n) * hub(n)))
      hub = hub.map { case (n, v) => n -> (if (hn > 0) v / hn else 0.0) }
    }
    assert(got.keySet == nodes.toSet)
    got.foreach { case (n, (h, a)) =>
      assert(h == hub(n) && a == auth(n), s"node $n: ($h,$a) vs (${hub(n)},${auth(n)})")
    }
    // L2 norms are 1 after the closing normalization
    assert(math.abs(got.values.map(x => x._1 * x._1).sum - 1.0) <= 1e-12)
    assert(math.abs(got.values.map(x => x._2 * x._2).sum - 1.0) <= 1e-12)
    // a node nobody points at has auth 0; a node pointing at nothing has hub 0
    assert(got(5L)._2 == 0.0 && got(40L)._1 == 0.0)
    // plain-sum production tier within 1e-12 of the exact folds
    val plain = Graph.hits(edges, "src", "dst", iters = iters, exactFold = false)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    plain.foreach { case (n, (h, a)) =>
      assert(math.abs(h - got(n)._1) <= 1e-12 && math.abs(a - got(n)._2) <= 1e-12)
    }
  }

  test("hits: two-level L2 norm fold is bit-exact across id buckets") {
    // node ids straddle the 4096-wide norm buckets (bucket 0: 1, 2;
    // bucket 1: 5000; bucket 2: 9000, 9001), so the r14 bucketed norm —
    // per-bucket node-sorted squares fold, then a bucket-sorted combine —
    // takes a DIFFERENT association order than a flat fold would. The
    // driver replay walks the exact two-level tree; equality is bit-exact.
    val edges = Seq((1L, 5000L), (1L, 9000L), (2L, 5000L), (2L, 9001L),
      (5000L, 9000L)).toDF("src", "dst")
    val iters = 2
    val got = Graph.hits(edges, "src", "dst", iters = iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val outs = Seq((1L, 5000L), (1L, 9000L), (2L, 5000L), (2L, 9001L),
      (5000L, 9000L))
    val nodes = (outs.map(_._1) ++ outs.map(_._2)).distinct.sorted
    def l2(m: Map[Long, Double]): Double = math.sqrt(
      m.keys.groupBy(_ >> 12).toSeq.sortBy(_._1)
        .map { case (_, ks) =>
          ks.toSeq.sorted.foldLeft(0.0)((acc, n) => acc + m(n) * m(n)) }
        .foldLeft(0.0)(_ + _))
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      auth = nodes.map { n =>
        n -> outs.filter(_._2 == n).map(_._1).sorted
          .foldLeft(0.0)((acc, s) => acc + hub(s))
      }.toMap
      val an = l2(auth)
      auth = auth.map { case (n, v) => n -> (if (an > 0) v / an else 0.0) }
      hub = nodes.map { n =>
        n -> outs.filter(_._1 == n).map(_._2).sorted
          .foldLeft(0.0)((acc, d) => acc + auth(d))
      }.toMap
      val hn = l2(hub)
      hub = hub.map { case (n, v) => n -> (if (hn > 0) v / hn else 0.0) }
    }
    assert(got.keySet == nodes.toSet)
    got.foreach { case (n, (h, a)) =>
      assert(h == hub(n) && a == auth(n), s"node $n: ($h,$a) vs (${hub(n)},${auth(n)})")
    }
  }

  test("ktruss: K4 survives the 4-truss, a hanging triangle is peeled") {
    // K4 on {1,2,3,4}: every edge closes 2 triangles of surviving edges.
    // Triangle {4,5,6} hangs off node 4: each of its edges closes only 1,
    // so the whole triangle peels in round one and K4 is untouched.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val tri = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val edges = (k4 ++ tri).toDF("a", "b")
    val got = Graph.ktruss(edges, "a", "b", k = 4, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == k4.toSet)
    assert(got.values.forall(_ == 2L), "every K4 edge closes exactly 2 triangles")
  }

  test("ktruss: extra rounds are no-ops at the fixpoint; duplicate/reversed input normalized") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val noisy = (k4 ++ k4.map(e => (e._2, e._1)) ++ Seq((2L, 2L))).toDF("a", "b")
    def run(rounds: Int) = Graph.ktruss(noisy, "a", "b", k = 4, rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(8) == run(12))
  }

  test("ktruss: fixed-round peel matches a naive driver replay on the co-part graph") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cp = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (o(r.getLong(0)), r.getLong(1))).distinct
    val byCust = cp.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val custs = byCust.keys.toSeq.sorted
    var edges = (for {
      i <- custs.indices; j <- (i + 1) until custs.size
      if (byCust(custs(i)) & byCust(custs(j))).size >= 5
    } yield (custs(i), custs(j))).toSet
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      for ((a, b) <- es) { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      es.map(e => e -> (adj(e._1) & adj(e._2)).size.toLong).toMap
    }
    var r = 0
    var stable = edges.isEmpty
    while (r < 8 && !stable) {
      val keep = { val s = support(edges); edges.filter(e => s(e) >= 2) }
      stable = keep == edges; edges = keep; r += 1
    }
    val expected = { val s = support(edges); edges.map(e => (e._1, e._2, s(e))) }
    val got = graft.queries.GraphQueries.queries("q_x_ktruss")(spark, sfDir)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2))).toSet
    assert(got == expected)
  }

  test("undirected operators: generated edge lists and noisy copies give the same rows") {
    // Each undirected operator normalizes its input to the distinct
    // (least, greatest) pairs without self-loops, so adding duplicates,
    // reversed copies and self-loops and repartitioning must not change a
    // single output row. Weights of the added copies are never below the
    // pair's weight, so the min-weight rule keeps boruvkaForest's input.
    def weight(a: Long, b: Long): Long = ((a min b) * 7 + (a max b) * 3) % 5 + 1
    def run(edges: Seq[(Long, Long, Long)]): Map[String, Seq[String]] = {
      val e = edges.toDF("a", "b", "w").repartition(3)
      val seeds = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted.take(2).toDF("s")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
      Map(
        "connectedComponents" -> rows(Graph.connectedComponents(e, "a", "b", rounds = 8)),
        "connectedComponentsLS" -> rows(Graph.connectedComponentsLS(e, "a", "b")),
        "bfsDistances" -> rows(Graph.bfsDistances(e, "a", "b", seeds, "s", rounds = 3)),
        "labelPropagation" -> rows(Graph.labelPropagation(e, "a", "b", rounds = 3)),
        "kcore" -> rows(Graph.kcore(e, "a", "b", k = 3, rounds = 6)),
        "ktruss" -> rows(Graph.ktruss(e, "a", "b", k = 3, rounds = 6)),
        "triangleStats" -> rows(Graph.triangleStats(e, "a", "b")),
        "boruvkaForest" -> rows(Graph.boruvkaForest(e, "a", "b", "w", rounds = 5)),
        // lgK 12: balls of ≤ 25 nodes keep the sketch in exact mode
        "neighborhoodReach" -> rows(Graph.neighborhoodReach(e, "a", "b", hops = 2)))
    }
    def noisy(edges: Seq[(Long, Long, Long)], r: scala.util.Random): Seq[(Long, Long, Long)] = {
      val dups = edges.filter(_ => r.nextBoolean()).map(p => (p._1, p._2, p._3 + r.nextInt(3)))
      val reversed = edges.filter(_ => r.nextBoolean()).map(p => (p._2, p._1, p._3 + r.nextInt(3)))
      val loops = (0 until 3).map(_ => r.nextInt(25).toLong).map(n => (n, n, 1L))
      r.shuffle(edges ++ dups ++ reversed ++ loops)
    }
    // the empty list: every operator answers with no rows, except the
    // triangle census's one row of zero counts (its wedge sum and
    // clustering coefficient are null over no nodes)
    val empty = run(Nil)
    assert(empty == run(noisy(Nil, new scala.util.Random(1))))
    assert(empty.forall { case (op, got) =>
      got == (if (op == "triangleStats") Seq("[0,0,null,0,null]") else Nil)
    }, empty)
    for (seed <- 1 to 2) {
      val r = new scala.util.Random(seed)
      val edges = (1 to 30).map(_ => (r.nextInt(25).toLong, r.nextInt(25).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).distinct
        .map(p => if (r.nextBoolean()) p else p.swap)
        .map(p => (p._1, p._2, weight(p._1, p._2)))
      val clean = run(edges)
      assert(clean("connectedComponents").nonEmpty && clean("triangleStats").size == 1)
      val got = run(noisy(edges, r))
      clean.keys.foreach(op => assert(got(op) == clean(op), s"seed $seed: $op"))
    }
  }
}
