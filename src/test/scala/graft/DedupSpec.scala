package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "storm rolls in across the wide green valley and the river keeps running south"
  private val docs = Seq(
    (0L, base),
    (1L, base.replace("dog", "cat")), // 1-word edit, high shingle overlap
    (2L, base.split(' ').reverse.mkString(" ")), // permutation of 0
    (3L, "completely different content about spark engines and shuffle plans yes")
  ).toDF("doc_id", "text")

  test("minhash pipeline finds the near-duplicate, not the unrelated doc") {
    // 2-row bands: catch probability for j≈0.9 is 1-(1-j²)^8 ≈ 1-2e-6 —
    // effectively deterministic for this fixture
    val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash is identical for a token permutation and far from unrelated text") {
    val sk = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sk(0L) == sk(2L)) // order-invariant
    val hammingTo3 = java.lang.Long.bitCount(sk(0L) ^ sk(3L))
    assert(hammingTo3 > 10)
  }

  test("guaranteed-radius simhash banding misses no pair within the radius") {
    // seeded corpus of token-mutated clusters: variants of a shared base
    // land at small (but > 3) Hamming distances, plus unrelated noise docs
    val r = new scala.util.Random(11)
    def randTokens(n: Int) = Seq.fill(n)(r.alphanumeric.take(5).mkString)
    val bases = (0 until 6).map(_ => randTokens(40))
    val corpus = bases.zipWithIndex.flatMap { case (toks, c) =>
      (0 until 4).map { v =>
        val mutated = if (v == 0) toks
          else toks.updated(v * 3, "mut" + c + "x" + v).updated(v * 5 + 1, "alt" + v)
        ((c * 4 + v).toLong, mutated.mkString(" "))
      }
    } ++ (100L until 115L).map(i => (i, randTokens(40).mkString(" ")))
    val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val radius = 5
    // ground truth: all-pairs Hamming over the sketches
    val sk = Dedup.simHash(df, "doc_id", "text").as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sk; (ib, sb) <- sk
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "fixture must contain pairs within the radius")
    assert(want.exists { case (a, b) =>
      val m = sk.toMap; java.lang.Long.bitCount(m(a) ^ m(b)) > 3
    }, "fixture must contain pairs beyond the default 4-band guarantee")
    val got = Dedup.nearDupPairsSimHash(df, "doc_id", "text",
      maxHamming = radius, guaranteeRadius = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == want, s"guaranteed banding must find exactly the within-radius pairs; " +
      s"missed ${(want -- got).size}, extra ${(got -- want).size}")
  }

  test("char-ngram jaccard finds the 1-word edit, not unrelated docs") {
    // gram jaccard(0,1) ≈ 0.9 → band-catch probability 1-(1-0.9⁴)⁴ ≈ 0.99
    // (deterministic for the fixed hash family — no flake)
    val pairs = Dedup.nearDupPairsCharNgram(docs, "doc_id", "text",
      n = 5, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => ((p._1, p._2), p._3)).toMap
    assert(pairs((0L, 1L)) > pairs.getOrElse((0L, 3L), 0.0))
  }

  test("char-ngram content banding finds the one near-dup pair in a wider corpus") {
    val r = new scala.util.Random(7)
    def randDoc() = Seq.fill(12)(r.alphanumeric.take(5).mkString).mkString(" ")
    val uniq = (2L until 50L).map(i => (i, randDoc()))
    val nd = Seq((0L, base), (1L, base.replace("dog", "cat")))
    val df = spark.createDataFrame(nd ++ uniq).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsCharNgram(df, "doc_id", "text", n = 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
  }

  test("dedupExact keeps the lowest id per group") {
    val df = Seq((5L, "x"), (3L, "x"), (9L, "y")).toDF("id", "g")
    val kept = Dedup.dedupExact(df, Seq("g"), "id").select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 9L))
  }

  test("winnowing fingerprints: shared passages overlap, unrelated text doesn't") {
    import org.apache.spark.sql.graft.natives.{winnowFingerprint, sortedIntersectCount}
    val passage = "the quick brown fox jumps over the lazy dog while the storm rolls in"
    val df = Seq(
      (0L, passage + " and the day ends quietly by the river bank tonight"),
      (1L, "meanwhile in another town " + passage + " as the crowd watches on"),
      (2L, "completely unrelated content about catalyst optimizer rules and codegen spans here")
    ).toDF("id", "t")
    val fp = df.select($"id", winnowFingerprint($"t", 8, 16).as("fp"))
    val pairs = fp.as("x").crossJoin(fp.as("y"))
      .filter($"x.id" < $"y.id")
      .select($"x.id".as("a"), $"y.id".as("b"),
        sortedIntersectCount($"x.fp", $"y.fp").as("common"))
      .as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) > 0, "docs sharing a long passage must share fingerprints")
    assert(pairs((0L, 1L)) > pairs((0L, 2L)))
  }

  test("hot-bucket guard: a mega-cluster emits linear star pairs, not quadratic") {
    // 1,200 identical docs (the boilerplate case) share one LSH bucket in
    // every band; without the cap this is ~719k pairs on one reducer. With
    // the default cap (1024) the cluster must complete promptly and stay
    // connected via the star hub (min id): exactly 1199 linear pairs.
    val cluster = (0L until 1200L).map(i => (i, base))
    val others = Seq((5000L, "completely different content about spark engines and plans"),
      (5001L, "another unrelated snippet touching neither fox nor valley at all"))
    val big = spark.createDataFrame(cluster ++ others).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsMinHash(big, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.length == 1199, s"expected 1199 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L), "cap must link cluster members to the bucket-min hub")
  }

  test("failOnOverCap raises on a hot bucket instead of star-substituting") {
    // the registry's oracled dedup entries run in this mode: their DuckDB
    // oracles replay the pipeline UNCAPPED, so a silently-capped bucket is a
    // parity break (amplified to a split component by transitive closure) —
    // it must throw, not degrade
    val cluster = (0L until 1200L).map(i => (i, base))
    val big = spark.createDataFrame(cluster).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.nearDupPairsMinHash(big, "doc_id", "text",
        numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5,
        failOnOverCap = true).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxBucketSize"), s"expected over-cap raise, got: $msgs")
    // under the cap the mode is a no-op: same pairs with and without it
    val loud = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5,
      failOnOverCap = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val plain = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(loud == plain)
  }

  test("duplicateClusters resolves chains, stars, cycles, and separate components") {
    // component A: a 4-node chain 1-2-3-4 (diameter 3 — needs >1 round);
    // component B: a star around 10; component C: a triangle cycle with a
    // redundant reverse edge and a self-loop — all must collapse to min-id
    // labels with correct sizes
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),           // chain (mixed edge direction)
      (10L, 11L), (10L, 12L), (10L, 13L),     // star
      (20L, 21L), (21L, 22L), (22L, 20L),     // cycle
      (20L, 22L),                             // reverse duplicate of an edge
      (30L, 30L)                              // self-loop: singleton cluster
    ).toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs, "a", "b")
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 4L), (11L, 10L, 4L), (12L, 10L, 4L), (13L, 10L, 4L),
      (20L, 20L, 3L), (21L, 20L, 3L), (22L, 20L, 3L),
      (30L, 30L, 1L))
    assert(got == want)
  }

  test("duplicateClusters fails loudly when maxIter is below the diameter") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, "a", "b", maxIter = 2)
    }
    // and converges with room: 6-chain diameter is 5
    val ok = Dedup.duplicateClusters(chain, "a", "b", maxIter = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(ok == (1L to 6L).map(n => (n, 1L, 6L)).toSet)
  }

  test("duplicateClusters: thousands of components converge in max-diameter rounds") {
    // The 100 TB concern (r8 verdict): iteration count must be governed by
    // the LARGEST component's diameter, never by how many components there
    // are. 3,000 independent components (pairs, triangles, 5-star hubs)
    // plus one 9-node chain (diameter 8). maxIter = 10 = diameter + 2 must
    // suffice — were round count coupled to component count, this would
    // throw the no-fixpoint error instead.
    val comps = (0 until 3000).flatMap { c =>
      val b = c * 100L
      c % 3 match {
        case 0 => Seq((b, b + 1))                              // pair
        case 1 => Seq((b, b + 1), (b + 1, b + 2), (b + 2, b))  // triangle
        case _ => (1L to 4L).map(i => (b, b + i))              // 5-star
      }
    }
    val chainBase = 1000000L
    val chain = (0L until 8L).map(i => (chainBase + i, chainBase + i + 1))
    val pairs = (comps ++ chain).toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs, "a", "b", maxIter = 10)
      .as[(Long, Long, Long)].collect()
    val want = ((0 until 3000).flatMap { c =>
      val b = c * 100L
      c % 3 match {
        case 0 => Seq(b, b + 1).map((_, b, 2L))
        case 1 => Seq(b, b + 1, b + 2).map((_, b, 3L))
        case _ => (0L to 4L).map(i => (b + i, b, 5L))
      }
    } ++ (0L to 8L).map(i => (chainBase + i, chainBase, 9L))).toSet
    assert(got.length == want.size && got.toSet == want)
  }

  test("duplicateClusters: a diameter-30 long-chain corpus converges correctly") {
    // The adversarial shape for hash-min propagation (one hop per round):
    // 2,000 parallel 31-node chains (62k nodes, diameter 30) — the r10
    // verdict's decision corpus for whether the large-star/small-star
    // round-halving variant is needed. Convergence must take exactly
    // diameter+1 rounds and stay correct; the wall-clock of this worst
    // case (vs the ~3 rounds of real near-dup blobs) is the measured basis
    // for the keep-hash-min decision recorded in PLANS.md.
    val chains = (0 until 2000).flatMap { c =>
      val b = c * 1000L
      (0L until 30L).map(i => (b + i, b + i + 1))
    }
    val t0 = System.nanoTime()
    val got = Dedup.duplicateClusters(chains.toDF("a", "b"), "a", "b", maxIter = 32)
      .as[(Long, Long, Long)].collect()
    info(f"diameter-30 corpus (62k nodes): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(got.length == 2000 * 31)
    val byCluster = got.groupBy(_._2)
    assert(byCluster.size == 2000)
    assert(byCluster.forall { case (cid, members) =>
      cid % 1000 == 0 && members.length == 31 && members.forall(_._3 == 31L)
    })
  }

  test("hot-bucket guard in simhash banding caps identical-sketch clusters") {
    val cluster = (0L until 1200L).map(i => (i, base))
    val big = spark.createDataFrame(cluster :+
      (5000L, "another unrelated snippet touching neither fox nor valley at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsSimHash(big, "doc_id", "text", maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.length == 1199, s"expected 1199 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L))
  }

  test("small buckets keep exact all-pairs semantics regardless of the guard") {
    val pairsDefault = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val pairsHugeCap = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      numHashes = 16, rowsPerBand = 2, shingleN = 3, threshold = 0.5,
      maxBucketSize = Int.MaxValue)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairsDefault == pairsHugeCap)
  }

  test("mmr diversified top-k demotes the near-duplicate result") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // d1 most relevant; d2 a near-duplicate of d1 (relevance rank 2);
    // d3 clearly less relevant but diverse — plain top-k ranks d2 second,
    // MMR (λ=.5) pays the redundancy penalty and promotes d3
    val emb = Seq(
      (100L, v(1, 0, 0)),
      (1L, v(0.99, 0.1, 0)),
      (2L, v(0.99, 0.11, 0)),
      (3L, v(0.7, 0, 0.7))
    ).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 100L)
    val plain = Similarity.annBruteForce(emb, queries, "vec_id", "vec_id",
      "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(plain == Seq(1L, 2L, 3L), "relevance alone ranks the near-dup second")
    val mmr = Similarity.mmrTopK(emb, queries, "vec_id", "vec_id", "embedding",
      k = 3, poolK = 3)
      .orderBy("position")
      .select("position", "doc_id", "rel_rank").as[(Int, Long, Int)]
      .collect().toSeq
    assert(mmr.map(_._1) == Seq(1, 2, 3))
    assert(mmr.map(_._2) == Seq(1L, 3L, 2L), s"mmr must interleave diversity: $mmr")
    assert(mmr.map(_._3) == Seq(1, 3, 2), "rel_rank carries the plain ranking")
  }

  test("embed gram: hand-checked exact-integer second moments over dim pairs") {
    // quants: [1,2]→[64,127] (m=2), [3,4]→[95,127] (m=4), [0,-1]→[0,-127]
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq((1L, v(1, 2)), (2L, v(3, 4)), (3L, v(0, -1)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embedGram(emb)
      .as[(Int, Int, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got.keySet == Set((1, 1), (1, 2), (2, 2)))
    assert(got((1, 1)) == ((3L, 13121L, 159L, 159L, 3L * 13121 - 159L * 159)))
    assert(got((1, 2)) == ((3L, 20193L, 159L, 127L, 3L * 20193 - 159L * 127)))
    assert(got((2, 2)) == ((3L, 48387L, 127L, 127L, 3L * 48387 - 127L * 127)))
  }

  test("embed gram: ragged and null inputs keep the exploded-form semantics") {
    // the r20 native GramAgg must mirror the replaced explode+groupBy
    // exactly: a NULL row contributes nothing, pair (i, j) counts only
    // vectors long enough to contain j, shorter vectors still feed the
    // pairs they do contain
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq((1L, Option(v(1, 2, 4))), (2L, Option(v(3, 4))),
      (3L, Option(v(2))), (4L, None))
      .toDF("vec_id", "embedding")
    val got = Similarity.embedGram(emb)
      .as[(Int, Int, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // quants: [1,2,4] m=4 → [32,64,127]; [3,4] m=4 → [95,127]; [2] m=2 → [127]
    assert(got.keySet == Set((1, 1), (1, 2), (2, 2), (1, 3), (2, 3), (3, 3)))
    // (1,1): three non-null vectors
    assert(got((1, 1)) == ((3L, 32L * 32 + 95L * 95 + 127L * 127, 32L + 95 + 127, 32L + 95 + 127)))
    // (1,2): only the two vectors with a dim 2
    assert(got((1, 2)) == ((2L, 32L * 64 + 95L * 127, 32L + 95, 64L + 127)))
    // (3,3): only the 3-dim vector
    assert(got((3, 3)) == ((1L, 127L * 127, 127L, 127L)))
  }

  test("power iteration: loadings equal a driver-side replay; zero matrix yields zeros") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val got = Similarity.topPrincipalDirection(emb, iters = 3)
      .as[(Int, Double)].collect().toMap
    assert(got.size == 64)
    // driver replay with the IDENTICAL arithmetic: integer round-1
    // multiply, j-ascending double folds, max-|.| division per round
    val g = Similarity.embedGram(emb)
      .select("i", "j", "cov_num").as[(Int, Int, Long)].collect()
    val c = Array.ofDim[Long](65, 65)
    g.foreach { case (i, j, v) => c(i)(j) = v; c(j)(i) = v }
    val w1 = (1 to 64).map(i => (1 to 64).map(j => c(i)(j)).sum)
    val m1 = w1.map(math.abs).max
    var v = w1.map(w => if (m1 == 0) 0.0 else w.toDouble / m1.toDouble)
    for (_ <- 2 to 3) {
      val w = (1 to 64).map(i =>
        (1 to 64).foldLeft(0.0)((acc, j) => acc + c(i)(j).toDouble * v(j - 1)))
      val m = w.map(math.abs).max
      v = w.map(x => if (m == 0) 0.0 else x / m)
    }
    (1 to 64).foreach(i => assert(got(i) == v(i - 1), s"dim $i: ${got(i)} vs ${v(i - 1)}"))
    // dominant direction: |loading| peaks at 1 exactly once (max-abs norm)
    assert(got.values.count(x => math.abs(x) == 1.0) >= 1)
    // degenerate corpus (identical vectors -> zero covariance): all-zero
    // loadings, never NaN
    def vv(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val same = Seq((1L, vv(1, 2)), (2L, vv(1, 2))).toDF("vec_id", "embedding")
    val z = Similarity.topPrincipalDirection(same, iters = 2)
      .as[(Int, Double)].collect()
    assert(z.forall(_._2 == 0.0), s"degenerate loadings must be exactly 0: ${z.toSeq}")
  }

  test("lsh-pooled mmr: sound positions, fair pool recall vs the brute pool") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.mmrTopK(emb, queries, "vec_id", "vec_id",
      "embedding", k = 5, poolK = 20, lambda = 0.5)
      .select("query_id", "position", "doc_id").as[(Long, Int, Long)]
      .collect()
    val lsh = Similarity.mmrTopKLsh(emb, queries, "vec_id", "vec_id",
      "embedding", k = 5, poolK = 20, lambda = 0.5,
      numPlanes = 4, numTables = 8)
      .select("query_id", "position", "doc_id").as[(Long, Int, Long)]
      .collect()
    // soundness: every query fills positions 1..m densely, no repeats
    lsh.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $q: positions must be dense from 1")
      assert(rows.map(_._3).distinct.length == rows.length,
        s"query $q: a doc selected twice")
    }
    // position 1 is the pool's relevance argmax, so with fair bucket
    // recall the LSH tier's first pick usually matches brute's; require
    // a majority (the q_x_ann_lsh 0.4-recall bar, applied to picks)
    val bruteFirst = brute.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    val lshFirst = lsh.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    val common = bruteFirst.keySet & lshFirst.keySet
    assert(common.nonEmpty, "LSH pool must recall candidates for some queries")
    val agree = common.count(q => bruteFirst(q) == lshFirst(q)).toDouble / common.size
    assert(agree >= 0.4, s"first-pick agreement $agree too low")
    // overall selected-set recall against the brute MMR lists
    val bSet = brute.map(r => (r._1, r._3)).toSet
    val lSet = lsh.map(r => (r._1, r._3)).toSet
    val recall = (bSet & lSet).size.toDouble / bSet.size
    assert(recall >= 0.3, s"selected-set recall $recall too low")
  }

  test("lsh ann achieves reasonable recall against brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.annBruteForce(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.annLsh(emb, queries, "vec_id", "vec_id", "embedding", 5,
      numPlanes = 4, numTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("lsh ann pool census reaches a QueryExecutionListener") {
    // the ann_lsh_pool observe (r16): pre-dedup candidate-pair count +
    // max corpus bucket occupancy — the signal that says "bucket blow-up
    // at pinned numPlanes" before it costs anything. Read exactly where
    // production reads it: a QueryExecutionListener, no extra jobs.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("ann_lsh_pool").foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val rows = Similarity.annLsh(emb, queries, "vec_id", "vec_id",
        "embedding", 5, numPlanes = 4, numTables = 8).collect()
      assert(rows.nonEmpty)
      val deadline = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, "pool census must reach the QueryExecutionListener")
      val m = seen.peek()
      val nPairs = m.getAs[Long]("n_candidate_pairs")
      val maxBucket = m.getAs[Long]("max_bucket_size")
      // every emitted neighbor pair came through the pool, and a bucket
      // holds at least the corpus vectors that produced those pairs
      assert(nPairs >= rows.length,
        s"pre-dedup pool ($nPairs) must be >= emitted rows (${rows.length})")
      assert(maxBucket >= 1L && maxBucket <= emb.count(),
        s"max bucket occupancy out of range: $maxBucket")
    } finally spark.listenerManager.unregister(listener)
  }

  test("lsh embedding near-dup: exact-verified subset of brute with fair recall") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Similarity.nearDupPairsCosine(emb, "vec_id", "embedding", threshold = 0.25)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    // test BOTH the operator default (4 planes) and the registry's shipped
    // operating point (5 planes) — a recall collapse at either must fail CI
    for ((planes, minRecall) <- Seq(4 -> 0.4, 5 -> 0.3)) {
      val lsh = Similarity.nearDupPairsCosineLsh(emb, "vec_id", "embedding",
        threshold = 0.25, numPlanes = planes)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(lsh.subsetOf(brute), s"planes=$planes: exact verify must forbid false positives")
      val recall = (brute & lsh).size.toDouble / brute.size
      assert(recall >= minRecall, s"planes=$planes recall $recall too low")
    }
  }

  test("ivf ann achieves reasonable recall against brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.annBruteForce(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(emb, queries, "vec_id", "vec_id", "embedding", 5,
      nCells = 16, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"ivf recall $recall too low")
  }

  test("pq ann: sane codes, self-nearest reconstruction, fair recall vs brute force") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    // codes are m small ints in [0, k)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8, dim = 64, "id")
      .select(col("id"), col("codes")).as[(Long, Seq[Int])].collect()
    assert(codes.nonEmpty)
    codes.foreach { case (id, cs) =>
      assert(cs.length == 8, s"vec $id: ${cs.length} codes")
      assert(cs.forall(c => c >= 0 && c < 16), s"vec $id: code out of range")
    }
    // recall@5 against the exact twin — ADC over 8x16 codebooks is lossy
    // but must stay a usable ANN tier on this corpus
    val brute = Similarity.annBruteForce(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.annPq(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.25, s"pq recall $recall too low")
    // every query got exactly k rows (the scan is exhaustive, unlike
    // bucketed tiers that can run short)
    val perQuery = pq.groupBy(_._1).view.mapValues(_.size)
    assert(perQuery.values.forall(_ == 5))
  }

  test("ivf-pq composite ann: fair recall, never exceeds k rows per query") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.annBruteForce(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.annIvfPq(emb, queries, "vec_id", "vec_id", "embedding", 5,
      nCells = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // both prunings stack (cells AND code quantization), so the composite
    // floor sits below either single tier's — but it must stay usable
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall >= 0.2, s"ivf-pq recall $recall too low")
    val perQuery = ivfpq.groupBy(_._1).view.mapValues(_.size)
    assert(perQuery.values.forall(_ <= 5), "a query emitted more than k rows")
    assert(ivfpq.nonEmpty)
  }

  test("hard negatives: labels always differ, ranks dense, lsh tier sound with fair recall") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val anchors = emb.filter(col("vec_id") % 50 === 0)
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val exact = Similarity.hardNegatives(emb, anchors,
      "vec_id", "vec_id", "embedding", "label", k = 5)
      .select("anchor_id", "rank", "negative_id").as[(Long, Int, Long)].collect()
    assert(exact.nonEmpty)
    // every negative genuinely carries a different label than its anchor
    exact.foreach { case (a, _, n) =>
      assert(labels(a) != labels(n), s"anchor $a got same-label negative $n")
    }
    // ranks are dense 1..5 per anchor (the corpus has >k different-label rows)
    exact.groupBy(_._1).foreach { case (a, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"anchor $a ranks not dense")
    }
    val exactSet = exact.map(r => (r._1, r._3)).toSet
    val lsh = Similarity.hardNegativesLsh(emb, anchors,
      "vec_id", "vec_id", "embedding", "label", k = 5,
      numPlanes = 4, numTables = 8)
      .select("anchor_id", "negative_id").as[(Long, Long)].collect()
    // soundness: every lsh row is a true different-label pair
    lsh.foreach { case (a, n) =>
      assert(labels(a) != labels(n), s"lsh: anchor $a got same-label negative $n")
    }
    // recall vs the exact tier — same floor as the plain annLsh spec
    val recall = (exactSet & lsh.toSet).size.toDouble / exactSet.size
    assert(recall >= 0.4, s"hard-negative lsh recall $recall too low")
  }

  test("bloom incremental dedup: exact result, no false negatives, sane FPP") {
    val old = (0 until 1000).map(i => f"key$i%04d").toDF("key")
    val incoming = (500 until 1500).map(i => f"key$i%04d").toDF("key")
    val bloom = Dedup.buildKeyBloom(old, "key", expectedItems = 1000, fpp = 0.01)
    assert(bloom.isDefined && bloom.get.length < 4096,
      "sketch should be KB-sized for 1k keys at 1% fpp")
    // exact survivors regardless of sketch FPP
    val got = Dedup.antiJoinBloom(incoming, old, "key", bloom)
      .as[String].collect().toSet
    assert(got == (1000 until 1500).map(i => f"key$i%04d").toSet)
    // no false negatives: every genuinely-present key must read "maybe"
    import org.apache.spark.sql.graft.natives
    val maybe = incoming
      .filter(natives.bloomMightContain(lit(bloom.get), xxhash64($"key")))
      .as[String].collect().toSet
    assert((500 until 1000).map(i => f"key$i%04d").toSet.subsetOf(maybe))
    // FPP sanity on the 500 truly-new keys (1% nominal; allow 10x slack)
    val falsePos = maybe.count(_.drop(3).toInt >= 1000)
    assert(falsePos <= 50, s"bloom false-positive count off the rails: $falsePos/500")
  }

  test("bloom incremental dedup: empty history means everything is new") {
    val incoming = (0 until 10).map(i => s"k$i").toDF("key")
    assert(Dedup.buildKeyBloom(incoming.limit(0), "key", expectedItems = 10).isEmpty)
    assert(Dedup.antiJoinBloom(incoming, incoming.limit(0), "key", None).count() == 10)
  }

  test("semdedup survivors match a naive union-find over the exact pairs") {
    // replay the q_x_semdedup pipeline pieces on the sf corpus and check the
    // survivor set against a driver-side union-find over the same exact
    // within-cell cosine pairs
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cells = emb.select(col("vec_id"),
      Similarity.signCells(col("embedding"), Seq(0, 9, 18, 27, 36, 45)).as("cell"))
    import org.apache.spark.sql.graft.natives.cosineSim
    val pairs = cells.select(col("vec_id").as("a"), col("cell"))
      .join(cells.select(col("vec_id").as("b"), col("cell")), Seq("cell"))
      .filter(col("a") < col("b"))
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("__ea")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("__eb")), Seq("b"))
      .filter(cosineSim(col("__ea"), col("__eb")) >= 0.25)
      .select("a", "b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    val allIds = cells.select("vec_id").as[Long].collect().toSet
    val wantSurvivors = allIds.filter(id => find(id) == id)
    val clusters = Dedup.duplicateClusters(pairs.toSeq.toDF("a", "b"), "a", "b",
      idCol = "vec_id")
    val gotSurvivors = Dedup.survivors(cells, clusters, "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(gotSurvivors == wantSurvivors)
    assert(pairs.nonEmpty, "fixture must exercise the near-dup path")
  }

  test("duplicate-span removal: cross-doc, within-doc, and clean docs behave per ExactSubstr") {
    // n=3: "x1 x2 x3" is shared by docs 10 and 11 (cut from BOTH — the
    // remove-all-copies semantics); doc 12 repeats its own "r1 r2 r3"
    // twice (both occurrences cut); doc 13 shares nothing; doc 14 is too
    // short for any 3-gram (untouched).
    val corpus = Seq(
      (10L, "a1 a2 x1 x2 x3 a3 a4"),
      (11L, "b1 x1 x2 x3 b2 b3 b4"),
      (12L, "r1 r2 r3 q1 r1 r2 r3 q2"),
      (13L, "c1 c2 c3 c4 c5"),
      (14L, "d1 d2")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(corpus, n = 3)
      .select("doc_id", "n_tokens", "n_dup_grams", "n_kept")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((7, 1, 4)))  // x1 x2 x3 cut, a1 a2 a3 a4 kept
    assert(got(11L) == ((7, 1, 4)))  // cut from the second copy too
    assert(got(12L) == ((8, 2, 2)))  // both self-repeats cut; q1 q2 kept
    assert(got(13L) == ((5, 0, 5)))  // untouched
    assert(got(14L) == ((2, 0, 2)))  // too short to carry a gram
    // digest equals md5 of the space-joined surviving tokens
    val dig = Dedup.removeDuplicateSpans(corpus, n = 3)
      .filter($"doc_id" === 10L).select("clean_digest").as[String].head()
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("a1 a2 a3 a4".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(dig == want)
  }

  test("crossNearDupMinHash matches only new-against-old, never within a cohort") {
    // doc 0 (old) ≈ doc 1 (new): cross match must surface. docs 2 and 4
    // (both new) are near-identical: must NOT pair (intra-batch dedup is
    // nearDupPairsMinHash's job). docs 3 and 6 (both old) likewise. doc 5
    // is unrelated noise.
    val variant = base.replace("dog", "cat")
    val corpus = Seq(
      (0L, base), (3L, "totally different standing text about mountains and " +
        "glaciers carving stone valleys under slow winter light for ages"),
      (6L, "totally different standing text about mountains and glaciers " +
        "carving stone valleys under slow winter light for ages yes"),
      (1L, variant), (2L, base + " extra"), (4L, base + " extra more"),
      (5L, "completely unrelated short noise text with nothing shared here " +
        "at all beyond plain everyday words arranged differently")
    ).toDF("doc_id", "text")
    val got = Dedup.crossNearDupMinHash(
      corpus.filter($"doc_id" % 3 =!= 0), corpus.filter($"doc_id" % 3 === 0),
      "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 0L)) || got.contains((2L, 0L)),
      s"expected a cross-cohort match against doc 0, got $got")
    // every emitted pair is (new, old) — no intra-cohort pair can appear
    got.foreach { case (a, b) =>
      assert(a % 3 != 0 && b % 3 == 0, s"pair ($a, $b) is not new-against-old")
    }
  }

  test("IVF-cell semdedup: valid assignment, precision-1 pairs, union-find-consistent survivors") {
    // the production tier of q_x_semdedup — not bit-replayable (Lloyd
    // centroids are shuffle-order doubles) so it is bounded instead of
    // hashed: (1) every vector lands in exactly one in-range cell;
    // (2) every merged pair is a TRUE near-dup (⊆ the exact cosine≥θ
    // all-pairs set — precision 1 by construction, the verify filter);
    // (3) the operator's survivors replay as a union-find over its own
    // pair set (same consistency contract as the sign-cell twin's spec)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cells = Similarity.ivfCells(emb, "vec_id", "embedding", nCells = 8)
      .localCheckpoint() // pin ONE codebook draw for all three assertions
    val n = emb.count()
    assert(cells.count() == n)
    assert(cells.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    import org.apache.spark.sql.graft.natives.cosineSim
    val pairs = Similarity.cellCandidatePairs(cells, "vec_id", "cell")
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("__ea")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("__eb")), Seq("b"))
      .filter(cosineSim(col("__ea"), col("__eb")) >= 0.25)
      .select("a", "b").as[(Long, Long)].collect()
    val exact = Similarity.nearDupPairsCosine(emb, "vec_id", "embedding", 0.25)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "fixture must exercise the near-dup path")
    assert(pairs.toSet.subsetOf(exact), "a merged pair failed the exact verify")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    val allIds = cells.select("vec_id").as[Long].collect().toSet
    val wantSurvivors = allIds.filter(id => find(id) == id)
    val gotSurvivors = Similarity.semDedup(emb, cells, "vec_id", "embedding", 0.25)
      .select("vec_id").as[Long].collect().toSet
    assert(gotSurvivors == wantSurvivors)
  }

  test("cellCandidatePairs: all-pairs under the cap, star pairs above it, fan-out bounded") {
    // bucket A (cell 0): 5 members, cap 3 → STAR pairs only (hub = min id)
    // bucket B (cell 1): 3 members, at cap → all 3 unordered pairs
    // bucket C (cell 2): 1 member → nothing
    val cells = (Seq(10L, 11L, 12L, 13L, 14L).map((_, 0)) ++
      Seq(20L, 21L, 22L).map((_, 1)) ++ Seq(30L -> 2)).toDF("id", "cell")
    val got = Similarity.cellCandidatePairs(cells, "id", "cell", maxBucketSize = 3)
      .as[(Long, Long)].collect().toSet
    val star = Set((10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L))
    val all = Set((20L, 21L), (20L, 22L), (21L, 22L))
    assert(got == star ++ all)
    // fan-out bound: an over-cap bucket of m emits m−1 pairs (linear),
    // never m·(m−1)/2 — the guard's whole point
    assert(got.count(_._1 == 10L) == 4)
  }

  test("cellCandidatePairs with the default cap replays the naive within-cell join on the sf corpus") {
    // the q_x_semdedup contract: at test SFs no cell approaches 1024, so
    // the guarded path must be pair-for-pair the uncapped self-join the
    // DuckDB oracle replays
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cells = emb.select(col("vec_id"),
      Similarity.signCells(col("embedding"), Seq(0, 9, 18, 27, 36, 45)).as("cell"))
    val naive = cells.select(col("vec_id").as("a"), col("cell"))
      .join(cells.select(col("vec_id").as("b"), col("cell")), Seq("cell"))
      .filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    val guarded = Similarity.cellCandidatePairs(cells, "vec_id", "cell")
      .as[(Long, Long)].collect().toSet
    assert(guarded == naive)
    assert(naive.nonEmpty, "fixture must exercise the candidate path")
  }

  test("containment pairs: catches quote inclusion Jaccard misses, lossless vs naive") {
    val quoted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixture = Seq(
      (1L, quoted), // 10 tokens, 8 distinct 3-shingles
      (2L, "intro words before the quote now " + quoted +
        " and a long tail of unrelated trailing filler content " +
        "keeps the union large so jaccard stays small " * 3),
      (3L, "totally different text with no shared shingles at all here " * 2)
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture, "doc_id", "text",
      shingleN = 3, tauNum = 8, tauDen = 10)
      .select("a", "b", "containment_bp").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 10000L)), s"got ${got.toSeq}")
    // the same pair's Jaccard is far below the containment threshold —
    // the asymmetric class this operator exists for
    def sh(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val (s1, s2) = (sh(quoted), sh(fixture.as[(Long, String)].collect()
      .find(_._1 == 2L).get._2))
    val jac = (s1 & s2).size.toDouble / (s1 | s2).size
    assert(jac < 0.5 && (s1 & s2).size == s1.size)

    // losslessness of the prefix filter at tau: random mutated corpus,
    // engine pairs == naive all-pairs containment (driver)
    val r = new scala.util.Random(31)
    def words(n: Int) = Seq.fill(n)("w" + r.nextInt(400))
    val corpus = (0 until 30).map { i =>
      val base = words(30)
      val t = if (i % 3 == 0) base ++ words(25) // extended copy: containment class
      else words(30)
      (i.toLong, t.mkString(" "))
    }
    val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val eng = Dedup.containmentPairs(df, "doc_id", "text",
      shingleN = 3, tauNum = 8, tauDen = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val sets = corpus.map { case (id, t) =>
      id -> t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val ord = implicitly[Ordering[(Int, Long)]]
    val naive = (for {
      (ia, sa) <- sets
      (ib, sb) <- sets
      if ord.lt((sa.size, ia), (sb.size, ib))
      if sa.intersect(sb).size * 10 >= sa.size * 8
    } yield (ia, ib)).toSet
    assert(eng == naive, s"engine ${eng.size} vs naive ${naive.size}")
  }

  test("containment maxTokenDf cap census is visible via observe") {
    // every doc opens with the same boilerplate header, so its 3-shingles
    // have df 4 — past a cap of 2 they are dropped from candidate
    // generation, and that RECALL event must surface in the
    // containment_hot_shingles observe metrics (r14, VERDICT item 5).
    // Docs 1/2 additionally share their body (df 2 ≤ cap), so the run
    // still emits a pair: AQE's empty-relation propagation would PRUNE
    // the CollectMetrics subtree on an all-empty result (probed on
    // Spark 4.1 — the caveat is documented on containmentPairs), so the
    // census is pinned on the surviving-pair path, the one production
    // monitors.
    val header = "shared boiler plate header words here "
    val body = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, header + body),
      (2L, header + body + " extra tail words"),
      (3L, header + "unique3a unique3b unique3c unique3d"),
      (4L, header + "unique4a unique4b unique4c unique4d"))
      .toDF("doc_id", "text")
    // The census subtree is localCheckpoint'd right after the observe
    // (r14 advice: two consumers would otherwise run the aggregate twice
    // and double-count), so the metric rides the CHECKPOINT's execution —
    // exactly where a production QueryExecutionListener reads it. The
    // listener sees the metric ONCE per run: the double-count fix is
    // pinned by the event count, not just the values.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("containment_hot_shingles").foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, tauNum = 8, tauDen = 10, maxTokenDf = 2L).collect()
      assert(rows.nonEmpty, "fixture must keep a surviving pair (see comment)")
      val deadline = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!seen.isEmpty, "census metric must reach the QueryExecutionListener")
      val m = seen.peek()
      assert(m.getAs[Long]("n_capped_shingles") >= 4L,
        s"header shingles past the cap must be counted: $m")
      assert(m.getAs[Long]("max_shingle_df") >= 4L, s"max df seen must be >= 4: $m")
      Thread.sleep(500) // drain any stragglers before counting events
      assert(seen.size == 1,
        s"census subtree must execute exactly once per run, saw ${seen.size}")
      // and an uncapped run reports zero capped shingles on the same corpus
      seen.clear()
      Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, tauNum = 8, tauDen = 10).collect()
      val deadline2 = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline2) Thread.sleep(50)
      assert(!seen.isEmpty && seen.peek().getAs[Long]("n_capped_shingles") == 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("edit near-dup: grid blocking + banded levenshtein per the stated guarantee") {
    val long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").take(120)
    val fixture = Seq(
      (0L, long),
      (1L, long + " tail"),                      // append-only edit, lev 5
      (2L, long.updated(90, 'X').updated(110, 'Y')), // 2 scattered substitutions
      (3L, "zz " + long),                        // early insertion: phase-shifts
                                                 // every chunk — the DOCUMENTED miss
      (4L, "unrelated content entirely " * 4)
    ).toDF("doc_id", "text")
    val pairs = Dedup.editNearDupPairs(fixture, "doc_id", "text",
      q = 16, maxDist = 16)
      .select("a", "b", "lev").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((0L, 1L)).contains(5L))
    assert(pairs.get((0L, 2L)).contains(2L), "pigeonhole: 2 substitutions leave a chunk intact")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "a whole-text phase shift defeats aligned-grid blocking (the MinHash tier's job)")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // the COMPOSED blocker closes exactly that hole: banding is
    // order-insensitive, so the phase-shifted doc 3 (lev 3 from doc 0)
    // becomes a candidate and survives the same levenshtein verify —
    // while every grid-found pair is still found (candidate union ⊇)
    val composed = Dedup.composedEditPairs(fixture, "doc_id", "text",
      q = 16, maxDist = 16)
      .select("a", "b", "lev").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(composed.get((0L, 3L)).contains(3L),
      s"composed candidates must recall the phase-shifted pair: $composed")
    pairs.foreach { case (p, l) =>
      assert(composed.get(p).contains(l), s"grid pair $p lost in composition")
    }
    assert(!composed.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // every reported distance is the exact levenshtein (banded == plain)
    val texts = fixture.as[(Long, String)].collect().toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    pairs.foreach { case ((a, b), l) => assert(l == lev(texts(a), texts(b))) }
  }

  test("blocking quality census: exact counters per blocker, pairs deduped") {
    val long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega").take(120)
    // same geometry as the edit fixture: docs 0-3 mutually within lev 16
    // (truth = all 6 pairs), doc 4 unrelated; the grid sees exactly
    // (0,1)(0,2)(1,2) — doc 3's phase shift hides it from aligned chunks
    val fixture = Seq(
      (0L, long),
      (1L, long + " tail"),
      (2L, long.updated(90, 'X').updated(110, 'Y')),
      (3L, "zz " + long),
      (4L, "unrelated content entirely " * 4)
    ).toDF("doc_id", "text")
    val rep = Dedup.blockingQuality(fixture, "doc_id", "text",
      q = 16, maxDist = 16)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rep.keySet == Set("grid", "minhash_bands", "composed"))
    rep.values.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) == 10L && r.getLong(3) == 6L,
        s"n_docs/total_pairs/n_true must be 5/10/6: $r")
      val (nCand, nFound) = (r.getLong(4), r.getLong(5))
      assert(nFound <= nCand && nFound <= 6L, s"counter sanity: $r")
      assert(r.getLong(6) == nFound * 10000L / 6L, s"completeness_bp: $r")
      assert(r.getLong(7) == (10L - nCand) * 10000L / 10L, s"reduction_bp: $r")
    }
    // grid: exactly the 3 aligned-chunk pairs, counted ONCE each even
    // though (0,1) shares seven identical chunks (the dedup regression)
    val grid = rep("grid")
    assert(grid.getLong(4) == 3L && grid.getLong(5) == 3L,
      s"grid candidates must be the 3 deduped aligned pairs: $grid")
    assert(grid.getLong(6) == 5000L && grid.getLong(7) == 7000L)
    // composition only widens: candidates within union bound, recall ≥ both
    val (band, comp) = (rep("minhash_bands"), rep("composed"))
    assert(comp.getLong(4) <= grid.getLong(4) + band.getLong(4))
    assert(comp.getLong(5) >= math.max(grid.getLong(5), band.getLong(5)))
  }

  test("blocking quality: maxSampleRows caps the truth stage at any corpus size") {
    // autoSampleBp unit contract first
    assert(Dedup.autoSampleBp(100L, 500L) == 10000, "corpus fits: sample everything")
    assert(Dedup.autoSampleBp(3000L, 150L) == 500)
    assert(Dedup.autoSampleBp(100000000L, 1000L) == 1, "floor at 1 bp")
    intercept[IllegalArgumentException](Dedup.autoSampleBp(10L, 0L))

    // 3000-doc corpus, 150-row budget → effective bp 500; the Bernoulli
    // sample concentrates hard around 150 (σ ≈ 12): n_docs must land far
    // below the corpus and the report must be identical to an explicit
    // sampleBp pin at the derived rate (what the oracle-facing registry
    // row does)
    val corpus = (0L until 3000L)
      .map(i => (i, s"document number $i with some filler text ${i % 7}"))
      .toDF("doc_id", "text")
    val capped = Dedup.blockingQuality(corpus, "doc_id", "text",
      q = 16, maxDist = 4, maxSampleRows = Some(150L))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val n = capped("grid")(1).asInstanceOf[Long]
    assert(n >= 75L && n <= 230L, s"expected ≈150 sampled docs, got $n")
    val pinned = Dedup.blockingQuality(corpus, "doc_id", "text",
      q = 16, maxDist = 4, sampleBp = 500)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(capped == pinned, "cap must equal the explicitly pinned derived bp")
    // and the smaller effective rate wins when both knobs are set
    val both = Dedup.blockingQuality(corpus, "doc_id", "text",
      q = 16, maxDist = 4, sampleBp = 200, maxSampleRows = Some(150L))
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val nBoth = both("grid")(1).asInstanceOf[Long]
    assert(nBoth <= n, s"sampleBp=200 < derived 500 must win: $nBoth vs $n")
  }

  test("cross-modal pair dedup: only pairs duplicate in BOTH modalities collapse") {
    import graft.operators.Multimodal
    // image tier = dHash63 over the first 70 chars (stub decode), so the
    // ≥70-char prefixes below ARE the "images": same prefix = same image,
    // different prefix = different image — independent of the caption tail
    val pref1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val pref3 = "first second third fourth fifth sixth seventh eighth ninth tenth eleventh"
    val pref4 = "north south east west up down left right forward backward sideways inward"
    val pref5 = "red orange yellow green blue indigo violet crimson amber teal magenta cyan"
    val tailA = (1 to 200).map(i => s"tok$i").mkString(" ")
    val tailB = (301 to 500).map(i => s"word$i").mkString(" ")
    val recs = Seq(
      // BOTH near: same image prefix, one-word caption edit → keep
      (1L, s"$pref1 $tailA ending one"),
      (2L, s"$pref1 $tailA ending two"),
      // caption-only dup: shared long tail, different images → drop
      (3L, s"$pref3 $tailB"),
      (4L, s"$pref4 $tailB"),
      // image-only dup: same image prefix, unrelated captions → drop
      (5L, s"$pref5 " + (601 to 700).map(i => s"left$i").mkString(" ")),
      (6L, s"$pref5 " + (801 to 900).map(i => s"right$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("__cells", Multimodal.dHashCells(col("text")))
      .select(col("doc_id"), col("text"), Multimodal.dHash63("__cells").as("ph"))

    val got = Dedup.crossModalPairDedup(recs, "doc_id", "text", "ph")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)),
      s"only the both-modality pair may collapse, got $got")

    // the dropped pairs ARE single-modality duplicates — proving the
    // conjunction (not the individual verifies) did the pruning
    val textOnly = Dedup.nearDupPairsMinHash(recs, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(textOnly.contains((3L, 4L)), s"caption tier must find (3,4): $textOnly")
    val imgPairs = Multimodal.phashBandPairs(recs, "doc_id", "ph")
      .join(recs.select(col("doc_id").as("a"), col("ph").as("__pa")), Seq("a"))
      .join(recs.select(col("doc_id").as("b"), col("ph").as("__pb")), Seq("b"))
      .filter(expr("bit_count(__pa ^ __pb)") <= 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(imgPairs.contains((5L, 6L)), s"image tier must find (5,6): $imgPairs")
    // soundness: the conjunction is a subset of each single-modality set
    assert(got.subsetOf(textOnly) && got.subsetOf(imgPairs))
    // the cluster tier: the one conjunction pair closes to exactly one
    // 2-member cluster labeled by its min id — single-modality dups never
    // enter the pair graph, so they never cluster
    val cls = Dedup.duplicateClusters(
        Dedup.crossModalPairDedup(recs, "doc_id", "text", "ph"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cls == Set((1L, 1L, 2L), (2L, 1L, 2L)), s"got $cls")
    // incremental admission: incoming evens vs standing odds — only the
    // both-modality pair (2 → 1) is rejected; the caption-only (4 vs 3)
    // and image-only (6 vs 5) incomings are admitted
    val incr = Dedup.crossModalIncremental(
        recs.filter(col("doc_id") % 2 === 0),
        recs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "ph")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(incr == Set((2L, 1L)), s"got $incr")
  }

  test("blocking quality: raw-scan cap sizes from parquet footers, no count job") {
    import graft.sources.Tables
    val raw = Tables.documents(spark, sfDir)
    val n = raw.count()
    // plain scan and pure projections qualify for the footer path…
    assert(Tables.footerCountIfPlainScan(raw).contains(n))
    assert(Tables.footerCountIfPlainScan(raw.select("doc_id", "text")).contains(n))
    // …anything that can change the row COUNT must decline
    assert(Tables.footerCountIfPlainScan(raw.filter(col("doc_id") > 10)).isEmpty)
    assert(Tables.footerCountIfPlainScan(raw.limit(5)).isEmpty)
    assert(Tables.footerCountIfPlainScan(spark.range(5).toDF("i")).isEmpty)

    // listener census (r16 VERDICT item 6): constructing the capped report
    // over a raw scan must submit NO count job — the only eager jobs are
    // the operator's own localCheckpoints, identical to the uncapped build
    val (_, sites) = jobSites(Dedup.blockingQuality(raw, "doc_id", "text",
      q = 16, maxDist = 4, maxSampleRows = Some(50L)))
    val countJobs = sites.filter(_.startsWith("count at"))
    assert(countJobs.isEmpty,
      s"raw-scan cap must size from footers, found: ${countJobs.mkString("; ")}")
  }

  test("golden records: field-level survivorship with pinned tie rules") {
    val docs = Seq(
      // cluster {1,2,3}: longest text on 3; lang vote 2:1 for en;
      // two distinct sources, one shared
      (1L, "aa", "en", "s2"),
      (2L, "bbb", "de", "s1"),
      (3L, "cccc", "en", "s1"),
      // cluster {5,6}: EQUAL text lengths → lowest id (5) wins; lang
      // vote 1:1 → lexicographically smallest (de) wins
      (5L, "xx", "fr", "s9"),
      (6L, "yy", "de", "s3"),
      // singleton: passes through as its own entity
      (9L, "zzz", "it", "s7")
    ).toDF("doc_id", "text", "lang", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.goldenRecords(docs, clusters, "doc_id", "text", "lang", "source")
      .as[(Long, Long, String, String, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 5L, 9L))
    assert(got(1L) == ((1L, 3L, "cccc", "en", 2L, "s1,s2")))
    assert(got(5L) == ((5L, 2L, "xx", "de", 2L, "s3,s9")))
    assert(got(9L) == ((9L, 1L, "zzz", "it", 1L, "s7")))
  }

  test("cross edit gate: new-vs-old only, never within a cohort") {
    val base = "the quick brown fox jumps over the lazy dog and keeps on running " +
      "through the wide green valley beside the long cold river bank today"
    val olds = Seq((1L, base), (2L, "entirely different standing content " * 4))
      .toDF("doc_id", "text")
    // 10 and 11 are mutual near-dups of each other AND of standing doc 1
    val news = Seq((10L, base + " x"), (11L, base + " yy"))
      .toDF("doc_id", "text")
    val got = Dedup.crossEditNearDup(news, olds, "doc_id", "text",
      q = 16, maxDist = 16)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    // both new docs link to standing doc 1; the (10, 11) mutual pair is
    // NOT emitted — batch self-dup adjudication is not this gate's job
    assert(got == Set((10L, 1L), (11L, 1L)), s"got $got")
  }

  test("SNM pairs: prefix-sorted neighbors verified, offset-0 edits are the documented miss") {
    val base = "mmmm program synthesis over relational algebra keeps the " +
      "optimizer honest and the partitions balanced across the cluster"
    val fixture = Seq(
      (1L, base),
      (2L, base + " tail"),       // shares the full prefix → sorts adjacent
      (3L, "zz " + base),         // differs at offset 0 → sorts far away
      (4L, "aaaa unrelated opener with entirely different words here"),
      (5L, "qqqq another unrelated document body to pad the sort space")
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(fixture, "doc_id", "text",
      w = 2, maxDist = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
    // w large enough to reach doc 3 across the sort does catch it — the
    // window size, not the verifier, is what bounded recall above
    val wide = Dedup.sortedNeighborhoodPairs(fixture, "doc_id", "text",
      w = 5, maxDist = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(wide.contains((1L, 3L)) && wide.contains((1L, 2L)))
  }

  test("SNM two-level rank + band join equals a naive flat-rank window scan") {
    val r = new scala.util.Random(41)
    val corpus = (0L until 40L).map { i =>
      val t = Seq.fill(12)(r.alphanumeric.take(6).mkString).mkString(" ")
      (i, if (i % 4 == 0) t + " suffix" else t)
    }
    val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val w = 4
    val eng = Dedup.sortedNeighborhoodPairs(df, "doc_id", "text",
      w = w, maxDist = 1000)
      .select("a", "b", "rank_gap").as[(Long, Long, Long)].collect().toSet
    val sorted = corpus.sortBy(p => (p._2, p._1))
    val naive = (for {
      i <- sorted.indices; j <- (i + 1) until math.min(i + w, sorted.size)
    } yield (math.min(sorted(i)._1, sorted(j)._1),
      math.max(sorted(i)._1, sorted(j)._1), (j - i).toLong)).toSet
    assert(eng == naive, s"engine ${eng.size} vs naive ${naive.size}")
  }

  test("edit near-dup: boilerplate-frequency cap drops hot chunks, not cold evidence") {
    // 40 docs share the SAME first 16 chars (a boilerplate header) but are
    // otherwise unrelated filler; two of them are true near-dups whose
    // evidence also lives in later (cold) chunks.
    val header = "SHARED-HEADER-XX"
    require(header.length == 16)
    val r = new scala.util.Random(7)
    def filler() = Seq.fill(12)(r.alphanumeric.take(8).mkString).mkString(" ")
    val body = filler() + " " + filler()
    val corpus = (0L until 38L).map(i => (i, header + filler() + filler())) ++
      Seq((100L, header + body), (101L, header + body + " x"))
    val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val capped = Dedup.editNearDupPairs(df, "doc_id", "text",
      q = 16, maxDist = 16, maxChunkDf = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // the header chunk (df=40 > 8) is dropped, so unrelated header-sharers
    // never become candidates; the true pair still collides on cold chunks
    assert(capped == Set((100L, 101L)))
  }

  test("cross-modal alignment gate: planted misaligned records score 0, aligned clusters high, singletons vacuous") {
    // group A: 6 identical captions; docs 0-4 share image phA, doc 5 is
    // MISALIGNED with an image nobody else has. group B: 4 identical
    // captions; 10-12 share phB, doc 13 is misaligned with group A's
    // image (the reused-stock-photo case — populated image neighborhood,
    // disjoint caption neighborhood). docs 20/21: unique caption + image.
    val capA = "the quick brown fox jumps over the lazy dog while the storm rolls in"
    val capB = "parquet footers carry column statistics that prune entire row groups early"
    val phA = 0x1111222233334444L
    val phB = 0x5555666677778888L
    val phX = 0x0999099909990999L
    val rows = (0L to 4L).map(i => (i, capA, phA)) ++ Seq((5L, capA, phX)) ++
      (10L to 12L).map(i => (i, capB, phB)) ++ Seq((13L, capB, phA)) ++
      Seq((20L, "a singleton about watermark semantics and state stores", 0x0AAA0BBB0CCC0DDDL),
        (21L, "another loner speaking of shuffle partitions and skew salts", 0x0EEE0FFF01110222L))
    val recs = spark.createDataFrame(rows).toDF("doc_id", "text", "ph")
    val got = Dedup.crossModalAlignment(recs, "doc_id", "text", "ph")
      .as[(Long, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // docs 0-4: 5 text nbrs (all of A), 5 img nbrs (the other 4 + doc 13),
    // 4 common → 4/(10-4) = 0.667, aligned
    (0L to 4L).foreach(d => assert(got(d) == ((5L, 5L, 4L, 0.667, true)), s"doc $d: ${got(d)}"))
    // doc 5: caption neighborhood populated, image neighborhood empty → 0
    assert(got(5L) == ((5L, 0L, 0L, 0.0, false)), s"doc 5: ${got(5L)}")
    // docs 10-12: 3 text nbrs, 2 img nbrs, 2 common → 2/3, aligned
    (10L to 12L).foreach(d => assert(got(d) == ((3L, 2L, 2L, 0.667, true)), s"doc $d: ${got(d)}"))
    // doc 13: reused stock photo — 3 caption nbrs, 5 image nbrs, 0 common
    assert(got(13L) == ((3L, 5L, 0L, 0.0, false)), s"doc 13: ${got(13L)}")
    // singletons: no neighborhood contradicts the pairing → vacuous 1.0
    Seq(20L, 21L).foreach(d => assert(got(d) == ((0L, 0L, 0L, 1.0, true)), s"doc $d: ${got(d)}"))
  }

  test("gated dedup with shared band fronts is row-identical to the alignment∘pairDedup composition") {
    // the alignment-gate corpus (misaligned records 5 and 13 are dropped by
    // the gate, so the gate is non-vacuous): the r20 shared-fronts operator
    // must emit exactly the rows of the two-stage composition that
    // re-sketches the survivor cohort — the equivalence claim of
    // Dedup.crossModalGatedDedup (survivor pairs = full-cohort pairs with
    // both endpoints aligned)
    val capA = "the quick brown fox jumps over the lazy dog while the storm rolls in"
    val capB = "parquet footers carry column statistics that prune entire row groups early"
    val rows = (0L to 4L).map(i => (i, capA, 0x1111222233334444L)) ++
      Seq((5L, capA, 0x0999099909990999L)) ++
      (10L to 12L).map(i => (i, capB, 0x5555666677778888L)) ++
      Seq((13L, capB, 0x1111222233334444L)) ++
      Seq((20L, "a singleton about watermark semantics and state stores", 0x0AAA0BBB0CCC0DDDL))
    val recs = spark.createDataFrame(rows).toDF("doc_id", "text", "ph")
    val aligned = Dedup.crossModalAlignment(recs, "doc_id", "text", "ph")
      .filter(col("is_aligned")).select(col("doc_id"))
    val composed = Dedup.crossModalPairDedup(
        recs.join(aligned, Seq("doc_id"), "left_semi"), "doc_id", "text", "ph")
      .as[(Long, Long, Double, Long)].collect().toSet
    val shared = Dedup.crossModalGatedDedup(recs, "doc_id", "text", "ph")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(shared == composed, s"shared=$shared composed=$composed")
    // the gate actually bit: misaligned 5/13 appear in NO pair, aligned
    // clusters still collapse
    assert(shared.nonEmpty)
    assert(!shared.exists(p => Set(p._1, p._2).exists(Set(5L, 13L))))
  }

  test("gated dedup raises on an over-cap band bucket instead of star-substituting") {
    // star pairs would route the cluster through its min-id hub, which the
    // gate may drop, so the shared-fronts operator always runs both fronts
    // with the fail policy
    val cap = "the quick brown fox jumps over the lazy dog while the storm rolls in"
    val rows = (0L until 40L).map(i => (i, cap, 0x1234432112344321L))
    val recs = spark.createDataFrame(rows).toDF("doc_id", "text", "ph")
    val ex = intercept[Exception] {
      Dedup.crossModalGatedDedup(recs, "doc_id", "text", "ph", maxBucketSize = 8).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxBucketSize=8"), s"expected over-cap raise, got: $msgs")
  }

  test("star-cap remediation tier: over-cap alignment buckets stay connected through the hub; the loud tier raises") {
    // 40 identical (caption, image) records: every band bucket holds all
    // 40 — far over a forced cap of 8 — plus a singleton. The capped mode
    // (registry row q_x_mm_alignment_capped — the documented 100 TB
    // fallback when a boilerplate mega-bucket appears) must COMPLETE with
    // linear star pairs: each member's neighborhoods collapse to {hub}
    // (bucket-min id 0), so every cluster member stays aligned THROUGH
    // the hub — connectivity is preserved, all-pairs density is not.
    val cap = "the quick brown fox jumps over the lazy dog while the storm rolls in"
    val rows = (0L until 40L).map(i => (i, cap, 0x1234432112344321L)) ++
      Seq((100L, "a singleton about watermark semantics and state stores",
        0x0AAA0BBB0CCC0DDDL))
    val recs = spark.createDataFrame(rows).toDF("doc_id", "text", "ph")
    val got = Dedup.crossModalAlignment(recs, "doc_id", "text", "ph",
        maxBucketSize = 8)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // hub (min id): all 39 members in both neighborhoods, fully aligned
    assert(got(0L) == ((39L, 39L, 39L, 1.0, true)), s"hub: ${got(0L)}")
    // members: both neighborhoods = {hub} → aligned via the hub edge
    (1L until 40L).foreach(d =>
      assert(got(d) == ((1L, 1L, 1L, 1.0, true)), s"doc $d: ${got(d)}"))
    assert(got(100L) == ((0L, 0L, 0L, 1.0, true)))
    // the loud tier (q_x_mm_alignment's mode) raises on the same corpus
    // instead of star-substituting — the sf10 division of labor: loud row
    // raises by design, capped row completes (PLANS.md probe)
    val ex = intercept[Exception] {
      Dedup.crossModalAlignment(recs, "doc_id", "text", "ph",
        maxBucketSize = 8, failOnOverCap = true).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxBucketSize"), s"expected over-cap raise, got: $msgs")
  }
}
