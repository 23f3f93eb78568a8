package graft

/** Per-round benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are executed through the noop sink so the FULL plan runs —
  * `.count()` would let Catalyst prune projections and undercount the real
  * work. One warmup query amortizes JIT/codegen and parquet footer reads out
  * of the first measurement.
  *
  * Each query is timed MEDIAN-OF-3 with a GC settle between attempts: a
  * serial single-JVM sweep over 70+ queries otherwise attributes JIT warmup
  * and GC pauses to whichever query they land on (the round-2 ledger showed
  * two 8×-inflated rows that re-measured at warm truth). The median — not
  * the min — keeps the number honest for genuinely variable plans.
  *
  * Additionally each query runs ONE untimed warm-up rep before its measured
  * reps: whole-stage codegen compiles per query shape, so the global warm-up
  * can't pre-pay it and the first rep of early-alphabet queries otherwise
  * reads 1.5-2× warm truth (the round-3 ledger's q_j1_broadcast_dim
  * 2.32 s-vs-1.54 s gap).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = LocalSession()

    // Sweep-overhead instrumentation (r14, VERDICT item 4): the per-round
    // driver sweep cost drifted 907 s/255 q → 1590 s/298 q while the
    // builder's local sweep stayed flat, so the harness now separates
    // MEASURED query time from its own overhead — cumulative settle
    // seconds + unpersisted-RDD count, and the JVM heap high-water after
    // each rep — all on stderr + extra JSON fields (the driver reads the
    // keys it knows; extras are additive).
    var settleSec = 0.0
    var settleRdds = 0L
    var heapPeakMb = 0L
    var sinceGc = 0

    // Per-query GC attribution (r15, VERDICT item 2): three consecutive
    // rounds a graph row inflated ONLY in the driver sweep, each time
    // adjudicated per-row; this instruments the class-level signal — GC
    // milliseconds incurred INSIDE each query's measured reps (settle GC
    // excluded: settle() runs outside the timed window). A row whose
    // med inflates with a matching gc_ms delta is GC-context, not plan.
    import scala.jdk.CollectionConverters._
    def gcMsNow(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      val rt = Runtime.getRuntime
      heapPeakMb = math.max(heapPeakMb, (rt.totalMemory - rt.freeMemory) >> 20)
      (System.nanoTime() - t0) / 1e9
    }

    def settle(): Unit = {
      // drop leftover localCheckpoint blocks BEFORE the GC: a 255-query
      // sweep otherwise accumulates the checkpoint-heavy queries' persisted
      // RDDs in the block manager (the async ContextCleaner lags the
      // sweep), squeezing execution memory for late-alphabet rows — the
      // r12 ledger's q_x_pagerank read 11.5 s in-sweep vs 3.5 s isolated
      // on identical data and code (A/B in PLANS.md). Each rep rebuilds
      // its DataFrame from scratch, so nothing persisted is ever reused
      // across reps — unpersisting is purely hermetic.
      // r14 instrumented finding: the unconditional System.gc() here cost
      // 308 s across 894 settles of a 373 s-of-measured-queries sf0.1
      // sweep (~0.34 s per full GC at a 7 GB heap) while only 376 settles
      // had any RDD to drop — the harness was paying a full GC for
      // nothing two-thirds of the time, and that scaling with registry
      // size is the r13 sweep-cost drift. The GC now runs only when
      // blocks were actually unpersisted (the hermetic case the r12
      // pagerank A/B proved matters) or every 8th settle (bounds plain
      // garbage accumulation so pauses can't drift into timed reps).
      val t0 = System.nanoTime()
      val rdds = spark.sparkContext.getPersistentRDDs.values
      settleRdds += rdds.size
      rdds.foreach(_.unpersist(blocking = true))
      sinceGc += 1
      if (rdds.nonEmpty || sinceGc >= 8) { System.gc(); sinceGc = 0 }
      settleSec += (System.nanoTime() - t0) / 1e9
    }

    val gcByQuery = scala.collection.mutable.LinkedHashMap[String, Long]()

    def runOne(name: String): Double = {
      // GC-honest measured reps (r17, VERDICT item 1): the fixed every-8-
      // settles GC cadence let allocation-heavy rows absorb their
      // predecessors' garbage — q_x_pagerank read 10.04 s in the r16 sweep
      // (gc_ms 755) vs ~2.65 s isolated. The untimed warm-up rep doubles as
      // the allocation probe: any GC observed inside it (its own allocation
      // or inherited heap pressure — either pollutes the timed reps) forces
      // a full GC + settle BEFORE the measured window. Light rows (zero
      // warm-up GC, the vast majority) skip it, so sweep overhead doesn't
      // regress to the r14 pay-a-full-GC-per-settle drift.
      val gw = gcMsNow()
      timeOne(name) // untimed warm-up rep: per-query codegen compile
      val warmGc = gcMsNow() - gw
      if (warmGc > 0) {
        val t0 = System.nanoTime()
        System.gc(); sinceGc = 0
        settleSec += (System.nanoTime() - t0) / 1e9
      }
      var gcMs = 0L
      val ts = (1 to reps).map { _ =>
        settle() // don't bill the previous rep's blocks/garbage here
        val g0 = gcMsNow()
        val t = timeOne(name)
        gcMs += gcMsNow() - g0
        t
      }
      gcByQuery(name) = gcMs
      // a row that still collected heavily leaves garbage behind — make the
      // NEXT row's first settle a forced GC instead of waiting out the cadence
      if (gcMs > 100) sinceGc = 8
      val med = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(reps / 2)
      System.err.println(f"[bench] $name%-28s med=$med%7.2f reps=${
        ts.map(t => f"$t%.2f").mkString(",")} gc_ms=$gcMs warm_gc=$warmGc settle_cum=$settleSec%.1f heap=${heapPeakMb}MB")
      med
    }

    // Optional isolation filter (comma-separated names) for re-measuring a
    // single query without the 70+-query sweep around it; absent → full
    // registry, the driver contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // HEAVY mode (r20, additive — the driver never sets it, the full
    // registry stays the default): SPARK_GRAFT_BENCH_HEAVY=1 restricts the
    // sweep to a PINNED list of scale-bearing rows (fact-scan, shuffle and
    // iterative-graph shapes; fixture rows whose work is ∝ n² by
    // registered shape are excluded). Purpose: at sf0.1 the full sweep
    // sits at the per-job scheduling floor (r19 finding: 8 cores beat 32),
    // so core-scaling claims are unmeasurable there — this subset, run
    // against a larger SF dir (scripts/make_sf1.py) at two core counts,
    // is the discriminating artifact. Same methodology, same JSON lines.
    val heavyRows = Set(
      "q1_agg", "q_x_mst", "q_x_hits", "q_x_kmeans", "q_x_dbscan",
      "q_x_mm_gated_dedup", "q_x_mm_pair_dedup", "q_x_mm_pair_clusters",
      "q_x_ppr", "q_x_pagerank", "q_x_pagerank_w", "q_x_linkpred",
      "q_x_assortativity", "q_x_concomp", "q_x_concomp_ls", "q_x_lpa",
      "q_x_kcore", "q_x_ktruss", "q_x_reach_exact", "q_x_triangles",
      "q_x_modularity", "q_x_bfs_dist", "q_x_shot_dedup", "q_x_semdedup",
      "q_x_semdedup_ivf", "q_x_dedup_clusters", "q_x_er_golden",
      "q_x_dataset_card", "q_x_profile", "q_x_embed_gram", "q_x_power_iter",
      "q_lit_positions", "q_lit_daily_open_close", "q_lit_historically_repaid")
    val heavy = sys.env.get("SPARK_GRAFT_BENCH_HEAVY").exists(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filter(n => !heavy || heavyRows.contains(n))

    timeOne("q1_agg") // warmup: JIT, codegen cache, parquet footers
    val results = names.map(n => n -> runOne(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // gc_ms: per-query GC milliseconds inside the measured reps (additive
    // JSON field — the r12/r13/r14 one-graph-row-inflates-only-in-the-
    // driver-sweep pattern adjudicates from the ledger itself: an
    // inflated med with a matching gc_ms delta is heap/co-load context,
    // not a plan regression)
    val gcj = gcByQuery.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // fixture_rows (r18, VERDICT item 6 — additive JSON field): rows whose
    // REGISTERED shape deliberately scales the query cohort with the
    // corpus (`vec_id % 100` etc.) so the recall/oracle coverage stays
    // non-vacuous at every SF — measured work is ∝ n²/cells BY
    // CONSTRUCTION, a shape no user ships. Their production twin is the
    // fixed-batch persisted-index row `q_x_ann_index_serve` (warm
    // 0.9/1.2/2.4 s at sf0.1/1/10). A slow ledger entry from this list is
    // the fixture, not the operator.
    val fixtureRows = Seq("q_x_ann_lsh", "q_x_ann_ivf", "q_x_ann_pq",
      "q_x_ann_ivfpq", "q_x_ann_topk", "q_x_mmr", "q_x_mmr_lsh",
      "q_x_hard_negatives", "q_x_hard_negatives_lsh",
      // incoming cohort ∝ corpus (deliberate, for oracle coverage) →
      // total work ∝ n·√n; the production admission batch is fixed-size
      "q_x_ann_index_admit",
      // replicated-fixture NEW×OLD band edges ∝ bucket² across cohorts
      // (the sf10 probe's 113.7 s is that arithmetic, PLANS.md r18/r19);
      // a production admission batch is fixed-size against the standing
      // bands — the streaming twin mmAlignmentGateStream is that shape
      "q_x_mm_alignment_incr")
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // pinned isolated truths (r19, VERDICT item 3): PLANS.md BenchOne
    // warm medians for the rows that have drawn sweep-context inflation
    // (r12–r18: one row per round inflates ONLY in the 370-query sweep,
    // each adjudicated by an isolated re-pin). Carrying the pins in the
    // artifact lets the ledger self-adjudicate: sweep_over_pinned > 1.5
    // marks the med as GC/co-load context — the [med, gc, net] triple
    // alone under-corrects (r18: net 14.11 vs isolated truth 8.34, heap
    // pressure isn't gc_ms). Values re-pinned at this round's HEAD.
    val pinned = Map(
      "q_x_mm_gated_dedup" -> 6.80, "q_x_hits" -> 4.67,
      "q_x_semdedup_ivf" -> 6.77, "q_x_ppr" -> 3.94, "q_x_kmeans" -> 7.88)
    val resultMap = results.toMap
    val ratios = pinned.toSeq.sorted.flatMap { case (q, p) =>
      resultMap.get(q).filter(_ >= 0).map(q -> _ / p) }
    val pinnedJ = pinned.toSeq.sorted
      .map { case (q, p) => "\"" + q + "\":" + p }.mkString("{", ",", "}")
    val ratioJ = ratios
      .map { case (q, r) => "\"" + q + "\":" + math.rint(r * 100) / 100 }
      .mkString("{", ",", "}")
    val flaggedJ = ratios.filter(_._2 > 1.5).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"agg":"median-after-warm","settle_sec":$settleSec,"settle_rdds":$settleRdds,"heap_peak_mb":$heapPeakMb,"fixture_rows":$fixtureRows,"production_ann_row":"q_x_ann_index_serve","pinned":$pinnedJ,"sweep_over_pinned":$ratioJ,"flagged_over_pinned":$flaggedJ,"gc_ms":$gcj}""")
    // Compact summary line LAST (r16, VERDICT item 1): the driver captures
    // only the final 2000 characters of stdout, so the full line above —
    // ~9 KB of per-query timings + the gc_ms map — loses everything before
    // its own tail (BENCH_r15.json carried zero timings). This line is the
    // driver-facing perf contract: total/settle/heap plus the 20 slowest
    // rows as name:[median_sec, gc_ms], hard-capped under the window so
    // the perf signal survives regardless of registry size.
    // Locale-pinned number formatting (r17 ADVICE): the f interpolator uses
    // the JVM default locale, so a comma-decimal locale would emit 362,6 and
    // break the JSON this line exists to keep parseable.
    def jd(x: Double, p: Int): String =
      String.format(java.util.Locale.ROOT, "%." + p + "f", Double.box(x))
    // slowest rows as name:[median_sec, gc_ms, net_sec(, pinned_sec)]: net
    // subtracts the per-rep GC share (gc_ms sums across reps) and, for
    // rows with a PLANS.md isolated pin, the 4th element cites that truth
    // beside the sweep draw — the reader's GC-context adjudication
    // (r12-r18 per-row) done in the artifact itself, with the pin because
    // net alone under-corrects under heap pressure (r18: net 14.11 vs
    // isolated 8.34)
    def slowJson(k: Int): String = results.filter(_._2 >= 0).sortBy(-_._2).take(k)
      .map { case (q, v) =>
        val g = gcByQuery.getOrElse(q, 0L)
        val net = math.max(0.0, v - g.toDouble / reps / 1000.0)
        val pin = pinned.get(q).map("," + _).getOrElse("")
        "\"" + q + "\":[" + jd(v, 2) + "," + g + "," + jd(net, 2) + pin + "]" }
      .mkString("{", ",", "}")
    def summaryFor(k: Int): String =
      s"""{"metric":"summary","total":${jd(total, 1)},"n":${results.size},"sf":"$sfDir","settle_sec":${jd(settleSec, 1)},"settle_rdds":$settleRdds,"heap_peak_mb":$heapPeakMb,"flagged_over_pinned":$flaggedJ,"slowest":${slowJson(k)}}"""
    // shrink the slowest list rather than truncate mid-JSON (the r16 take()
    // fallback could emit malformed JSON if ever hit)
    println((20 to 4 by -4).map(summaryFor).find(_.length <= 1800)
      .getOrElse(summaryFor(3)))
    spark.stop()
  }
}
