package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational helpers the reference leans on constantly.
  *
  * These are the three idioms SURVEY.md §7.1 calls out as unblocking
  * everything else: top-1-per-group (`DISTINCT ON`, W5), the as-of join
  * (LATERAL top-1 ≤ ts, J5), and the date scaffold (`generate_series`,
  * §2.9). All are single-shuffle, driver-free, and AQE-friendly — designed
  * to survive a 100 TB fact side.
  */
object Ops {

  /** Top-1 row per key — Postgres `DISTINCT ON (keys) ORDER BY keys, ord`
    * (reference: crates/etl-core/src/dao/postgre/lp_pool_state.rs:319-327 and
    * ~6 more sites, SURVEY.md W5).
    *
    * One shuffle on `keys`; `row_number` keeps only rank 1 so the filter is
    * evaluated streaming inside the window operator — no second pass. Callers
    * must pass a total order (include a unique tiebreak column) for
    * deterministic results.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** As-of join: for every left row, attach the latest right row with
    * `right.ts <= left.ts` within the same key — the reference's
    * `LEFT JOIN LATERAL (... WHERE ts <= $t ORDER BY ts DESC LIMIT 1)`
    * (crates/etl-core/src/dao/postgre/ls_opening.rs:1460-1467, SURVEY.md J5).
    *
    * Implementation is the union-and-window technique: tag both sides, union
    * on a common schema, and carry the last non-null right-side values forward
    * with `last(_, ignoreNulls=true)` over (key ORDER BY ts, side). This costs
    * exactly ONE shuffle on the key column — no correlated per-row lookup, no
    * broadcast of the (potentially huge) time-series side — so it scales to a
    * 100 TB fact table joined to a long price history. At equal timestamps the
    * right row sorts first, making the bound inclusive (<=).
    *
    * @param valueCols right-side columns to attach (left's columns all pass through)
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      toleranceSeconds: Option[Double] = None
  ): DataFrame = {
    val leftCols = left.columns
    require(!(leftCols ++ valueCols).exists(Set("__k", "__ts", "__side", "__vals", "__picked", "__mts")),
      "asOfJoin reserves the __k/__ts/__side/__vals/__picked/__mts column names")
    val clash = leftCols.toSet.intersect(valueCols.toSet)
    require(clash.isEmpty,
      s"asOfJoin value columns ${clash.mkString(", ")} collide with left columns — " +
        "alias them on the right side first (duplicate output names break downstream resolution)")
    // Common schema: all left columns (null on right rows) ++ valueCols (null
    // on left rows) ++ [__k, __ts, __side].
    // The carried payload is a STRUCT of the value columns: non-null for
    // every right row even when individual fields are null, so
    // last(ignoreNulls) picks the latest right ROW — a right row whose value
    // is genuinely NULL is attached as NULL rather than skipped for an older
    // non-null one (true as-of semantics; matches SQL ASOF JOIN oracles).
    // The payload carries the matched right timestamp as __mts so the
    // optional tolerance (merge_asof semantics: ONLY the nearest prior
    // row counts — a too-old nearest match nulls out rather than falling
    // back to an even older one) can be applied after the pick.
    val lProj = left.select(
      leftCols.map(col) ++
        Seq(lit(null).cast(org.apache.spark.sql.types.StructType(
            valueCols.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)) :+
              org.apache.spark.sql.types.StructField("__mts", right.schema(rightTs).dataType))).as("__vals"),
          col(leftKey).as("__k"), col(leftTs).as("__ts"), lit(0).as("__side")): _*
    )
    val rProj = right.select(
      leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(struct(valueCols.map(col) :+ col(rightTs).as("__mts"): _*).as("__vals"),
          col(rightKey).as("__k"), col(rightTs).as("__ts"), lit(1).as("__side")): _*
    )
    val w = Window
      .partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lProj.unionByName(rProj).select(
      (leftCols.map(col) :+
        last(col("__vals"), ignoreNulls = true).over(w).as("__picked") :+
        col("__side")): _*
    )
    // Timestamp columns compare in INTEGER MICROSECONDS: the double-domain
    // form (mts >= t - tol) misclassifies a row exactly tol old whenever
    // tol is not binary-representable (float rounding breaks merge_asof's
    // inclusive boundary). Numeric ts columns subtract exactly in their
    // own domain first, then compare against the double tolerance.
    val inTol = toleranceSeconds match {
      case None => lit(true)
      case Some(tol) =>
        val mts = col("__picked").getField("__mts")
        left.schema(leftTs).dataType match {
          case _: org.apache.spark.sql.types.TimestampType |
               _: org.apache.spark.sql.types.TimestampNTZType =>
            unix_micros(col(leftTs).cast("timestamp")) -
              unix_micros(mts.cast("timestamp")) <= lit(math.round(tol * 1e6))
          case _ =>
            (col(leftTs).cast("double") - mts.cast("double")) <= lit(tol)
        }
    }
    filled.filter(col("__side") === 0)
      .select(leftCols.map(col) ++
        valueCols.map(c => when(inTol, col("__picked").getField(c)).as(c)): _*)
  }

  /** Skew-mitigating equi-join: the left (skewed fact) side gets a random
    * salt in [0, saltFactor); the right side is replicated saltFactor times
    * with every salt value, and the join key becomes (key, salt). Hot keys
    * spread over saltFactor reducers instead of landing on one. Use when a
    * handful of keys dominate (AQE skew-join handles moderate skew on its
    * own; salting is for the pathological long tail).
    *
    * The salt is `rand`-derived, so results are row-identical but partition
    * placement is not reproducible — fine for joins, never use the salt in
    * output.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit saltFactor null-padded copies of every
    // unmatched replicated right row — only shapes where the replicated side
    // never surfaces unmatched are allowed
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin does not support '$joinType' (replicated right side would duplicate unmatched rows)")
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name")
    val salted = left.withColumn("__salt", (rand() * saltFactor).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Continuous per-day scaffold between two dates — Postgres
    * `generate_series(start, end, interval '1 day')`
    * (crates/etl-core/src/dao/postgre/ls_opening.rs:1321-1335, SURVEY.md §2.9).
    * Returns a single-column DataFrame `colName: timestamp`, one row per day,
    * bounds inclusive. Built with `sequence` + `explode` — computed
    * distributed, never a driver loop.
    */
  def dateScaffold(df: DataFrame, startExpr: Column, endExpr: Column, colName: String): DataFrame =
    df.select(explode(sequence(startExpr, endExpr, expr("interval 1 day"))).as(colName))

  /** Guarded exact long→double cast for integer-unit aggregate sums (the
    * earn-APR pattern: decimal sums rewritten as LONG sums in fixed-point
    * units plus one final correctly-rounded power-of-ten division).
    * int64→double is exact only below 2^53 (~9.007e15); past that the
    * cast rounds SILENTLY — ANSI mode only catches the 2^63 long-sum
    * overflow — so the "bit-identical to the decimal form" property of
    * the rewrite would drift by an ulp at some scale factor with no
    * signal. This guard turns that drift into a loud error: any
    * aggregated magnitude at or above 2^53 raises, and the caller's
    * documented fallback is the decimal form the rewrite replaced.
    * Cost: one comparison per aggregated (post-groupBy) row, not per
    * input row. NULL (empty / all-null sum) passes through as NULL.
    */
  def exactDouble(c: Column): Column =
    when(c.isNull.or(abs(c) < lit(1L << 53)), c.cast("double"))
      .otherwise(raise_error(format_string(
        "integer-unit sum %d exceeds the 2^53 exact-double range — " +
          "fall back to the decimal form at this scale factor", c)))

  /** Distributed global cumulative sum — the scale-safe form of
    * `SUM(v) OVER (ORDER BY o RANGE UNBOUNDED PRECEDING)`, whose empty
    * PARTITION BY otherwise collapses the whole table into ONE window
    * partition (the last fact-shaped single-partition window shape; fine
    * on per-day rollups, fatal on a per-event fact at 100×). Same
    * range-bucket-and-handoff decomposition as [[leadGlobal]], for prefix
    * sums: rows are bucketed by a monotone function of the order column,
    * each bucket computes its LOCAL cumulative as a normal partitioned
    * window, and a per-bucket aggregate (one row per non-empty bucket —
    * tiny at any table size) carries each bucket's total so every row
    * adds the exclusive prefix of its bucket. The only unpartitioned
    * window runs over that aggregate.
    *
    * RANGE-frame peer semantics are preserved: the in-bucket window uses
    * `rangeBetween`, so rows with equal order values share the
    * cumulative — and because `bucketExpr` must be a deterministic
    * function of the order column alone (monotone non-decreasing in it),
    * peers can never straddle a bucket boundary. Exact for decimal
    * values (decimal addition is associative); double values would
    * reassociate — keep them decimal through this helper.
    *
    * @param bucketExpr monotone non-decreasing function of `orderCol`
    *                   (e.g. `date_trunc("day", col(orderCol))` for a
    *                   timestamp order, `col(k) div n` for a long) —
    *                   bucket granularity trades per-bucket partition
    *                   size against handoff-aggregate size
    */
  def cumSumGlobal(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, bucketExpr: Column): DataFrame = {
    require(!df.columns.exists(Set("__b", "__cum", "__btot", "__off")),
      "cumSumGlobal reserves the __b/__cum/__btot/__off column names")
    // Decimal widths need pinning at the bucket+offset addition: the window
    // sum is (p+10, s) and the two-level offset sum (p+10+10 capped, s), so
    // a naive `+` pushes precision past 38 and Spark's overflow rule TRIMS
    // THE SCALE (e.g. (38,8)+(36,8) → (38,7)) — silently rounding the last
    // fractional digit away from the single-partition form. Casting both
    // operands to (37, s) makes the sum exactly (38, s): lossless as long
    // as the running total fits 37−s integer digits, which any value that
    // later final-casts to DOUBLE does by orders of magnitude.
    val addExact: (Column, Column) => Column =
      df.schema(valueCol).dataType match {
        case d: org.apache.spark.sql.types.DecimalType =>
          val t = s"decimal(37,${d.scale})"
          (a, b) => a.cast(t) + b.cast(t)
        case _ => (a, b) => a + b
      }
    val wIn = Window.partitionBy(col("__b")).orderBy(col(orderCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val within = df.withColumn("__b", bucketExpr)
      .withColumn("__cum", sum(col(valueCol)).over(wIn))
    val handoff = within.groupBy(col("__b"))
      .agg(sum(col(valueCol)).as("__btot"))
      .withColumn("__off", sum(col("__btot")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__off"))
    within.join(handoff, Seq("__b"), "left")
      .withColumn(outCol, when(col("__off").isNull, col("__cum"))
        .otherwise(addExact(col("__cum"), col("__off"))))
      .drop("__b", "__cum", "__off")
  }

  /** The exact-fold idiom `groupBy(keys).agg(aggregate(sort_array(
    * collect_list(struct(ord…, v))), 0.0D, (acc, x) -> acc + x.v))` as a
    * RUNNING WINDOW SUM: shuffle by keys, sort by (ord…, v), running
    * sum(v), keep the last row per group. Bit-identical to the
    * collect-and-fold form — the window walks rows in the same ascending
    * (ord…, v) order, and Sum's update expression is `coalesce(acc, 0.0) +
    * v`, the same 0.0-seeded left fold (including the -0.0 first-element
    * case) — but the per-group state is ONE double instead of a collected
    * array, the per-element add is the codegen'd Sum update instead of an
    * interpreted CodegenFallback `aggregate` lambda, and the group-size
    * buffer bound (in-degree, bucket width) becomes a sort key instead of
    * an ObjectHashAggregate array (r19 measured: the graph exact-fold rows
    * spent most of their time building/sorting/folding those arrays).
    *
    * KEYED groups only (groups have ≥1 row by construction); a GLOBAL fold
    * over a possibly-empty frame must keep the collect_list form, whose
    * empty-input result is one 0.0 row where a window yields zero rows.
    */
  def orderedFoldSum(df: DataFrame, keyCols: Seq[String], ordCols: Seq[String],
      vCol: String, outCol: String): DataFrame = {
    require(!df.columns.exists(Set("__ofs_rs", "__ofs_rn", "__ofs_n")),
      "orderedFoldSum reserves the __ofs_* column names")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((ordCols :+ vCol).map(col): _*)
    df.withColumn("__ofs_rs", sum(col(vCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__ofs_rn", row_number().over(w))
      .withColumn("__ofs_n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__ofs_rn") === col("__ofs_n"))
      .select(keyCols.map(col) :+ col("__ofs_rs").as(outCol): _*)
  }

  /** localCheckpoint with a FUSED scalar metric (r19): attaches one
    * aggregate column via `observe` so the scalar an iterative loop needs
    * (convergence count, label sum, row count) is computed DURING the
    * checkpoint materialization itself instead of a separate driver action
    * per round — at 100 TB each avoided action is a full cluster
    * round-trip. The metric is read back through
    * [[org.apache.spark.sql.Observation]] (a QueryExecutionListener —
    * production's vantage; the r16 probe pinned that observe+checkpoint
    * moves the CollectMetrics to the CHECKPOINT's QueryExecution). The
    * listener bus is asynchronous, so the reader spin-waits briefly;
    * `None` after the wait means the metric never fired — AQE's
    * empty-relation propagation can prune the CollectMetrics subtree when
    * the frame is empty (the blockingQuality caveat) — and callers fall
    * back to their pre-fusion check, which only happens on empty/terminal
    * rounds.
    *
    * Returns the checkpointed frame (metric column NOT in the output —
    * observe is pass-through) and a blocking reader.
    */
  def checkpointWithMetric(df: DataFrame, metric: Column): (DataFrame, () => Option[Any]) = {
    import org.apache.spark.sql.graft.ObservationBridge.{discard, peek}
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, metric).localCheckpoint()
    val read = () => {
      // the listener bus usually delivers within well under a millisecond —
      // spin-yield first (sleep granularity would otherwise add ~2 ms per
      // round to tight iterative loops), then back off: peek does not
      // block, so the bound is 1,000 yields + 2,000 one-ms sleeps, ~2 s
      var tries = 0
      var m = peek(obs)
      while (m.isEmpty && tries < 3000) {
        if (tries < 1000) Thread.`yield`() else Thread.sleep(1)
        tries += 1; m = peek(obs)
      }
      if (m.isEmpty) {
        // r20: make the fallback LOUD — expected at most once per loop
        // (AQE's empty-relation propagation pruning the CollectMetrics on
        // an empty/terminal round); on a NON-empty frame it means the
        // listener path regressed and every round is paying the ~2 s
        // wait above. Also evict the never-completing observation
        // from the session's pending registry (one entry would otherwise
        // leak per pruned round).
        val evicted = discard(df.sparkSession, obs)
        System.err.println(
          "[graft] checkpointWithMetric: observe metric never fired " +
            "(CollectMetrics pruned or listener stalled); caller falls " +
            s"back to a separate action (evicted=$evicted)")
      }
      m.values.headOption
    }
    (cp, read)
  }

  /** Distributed global LEAD over a DISTINCT numeric key column — the
    * scale-safe form of `lead(k) OVER (ORDER BY k)`, whose empty PARTITION
    * BY otherwise collapses the whole table into one window partition
    * (Spark's own WindowExec warning). Keys are range-bucketed
    * (`floor(k / bucket)`), each bucket's lead runs as a normal
    * partitioned window, and each bucket's LAST row takes the next
    * non-empty bucket's first key from a per-bucket aggregate — the only
    * unpartitioned window runs over that aggregate, one row per non-empty
    * bucket, tiny at any table size. Output: the input plus
    * `next_<keyCol>` (null for the global maximum), identical to the
    * single-partition form for distinct keys.
    *
    * Bucketing uses integral `div`, not `floor(k / bucket)`: Spark's
    * `/` promotes to double, which mis-buckets keys above 2^53 (two
    * adjacent keys can land out of order across a bucket boundary,
    * breaking the handoff). `div` stays exact over the full long range;
    * truncation-toward-zero is monotone for a positive bucket size, so
    * bucket ids remain ordered and contiguous. Distinct keys stay a
    * caller contract (duplicates would make "next" skip peers).
    */
  def leadGlobal(df: DataFrame, keyCol: String, bucket: Long = 1L << 16): DataFrame = {
    require(bucket > 0, "leadGlobal bucket size must be positive")
    val wIn = Window.partitionBy(col("__b")).orderBy(col(keyCol))
    val within = df.withColumn("__b",
      expr(s"cast(`$keyCol` as bigint) div ${bucket}L"))
      .withColumn("__next", lead(col(keyCol), 1).over(wIn))
    val handoff = within.groupBy(col("__b"))
      .agg(min(col(keyCol)).as("__first"))
      .withColumn("__next_first", lead(col("__first"), 1).over(Window.orderBy(col("__b"))))
      .select(col("__b"), col("__next_first"))
    within.join(handoff, Seq("__b"), "left")
      .withColumn(s"next_$keyCol", coalesce(col("__next"), col("__next_first")))
      .drop("__b", "__next", "__next_first")
  }

  /** Point-in-interval range join, bucketized. A naive
    * `points.join(intervals, $"t" >= $"lo" && $"t" < $"hi")` has no equi
    * key, so Spark plans BroadcastNestedLoopJoin — O(|points|·|intervals|)
    * and a driver OOM once the interval side outgrows the broadcast
    * threshold. The classic rewrite: pick a bucket width, explode each
    * interval to every bucket it touches (⌈len/width⌉+1 rows — bounded
    * when interval length is), map each point to its one bucket, and
    * equi-join on the bucket with the exact predicate as a post-filter.
    * The join becomes a plain shuffle hash/sort-merge join; each match is
    * produced exactly once because a point's bucket intersects a matching
    * interval's bucket range exactly once.
    *
    * `bucketWidth` trades fan-out for selectivity: ~the typical interval
    * length is right (intervals explode to ~2 rows; a point's bucket
    * holds few intervals). Columns `lo`/`hi` and the point's `tsCol` are
    * compared as epoch-second doubles (timestamp or numeric both work);
    * the interval is half-open [lo, hi).
    */
  def pointInIntervalJoin(points: DataFrame, tsCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidthSeconds: Long, equiKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidthSeconds > 0, "bucketWidthSeconds must be positive")
    require(!(points.columns ++ intervals.columns).contains("__b"),
      "pointInIntervalJoin reserves the __b column name")
    val shared = points.columns.toSet.intersect(intervals.columns.toSet) -- equiKeys
    require(shared.isEmpty,
      s"columns ${shared.mkString(", ")} exist on both sides but are not equiKeys — " +
        "alias one side first (duplicate output names break downstream resolution)")
    val w = bucketWidthSeconds
    // floor, not cast-truncation: pre-1970 timestamps have negative epochs
    val iv = intervals.withColumn("__b",
      explode(sequence(
        floor(col(loCol).cast("double") / w).cast("long"),
        floor(col(hiCol).cast("double") / w).cast("long"))))
    val pt = points.withColumn("__b",
      floor(col(tsCol).cast("double") / w).cast("long"))
    // equiKeys (shared column names, e.g. the entity id) join ALONGSIDE the
    // bucket — a bucket-only key makes every interval collide with every
    // concurrent point corpus-wide, the hot-key shape this helper exists
    // to avoid
    pt.join(iv, "__b" +: equiKeys)
      .filter(col(tsCol).cast("double") >= col(loCol).cast("double") &&
        col(tsCol).cast("double") < col(hiCol).cast("double"))
      .drop("__b")
  }

  /** Interval-overlap join, bucketized — the two-sided sibling of
    * [[pointInIntervalJoin]]. `a JOIN b ON a.lo < b.hi AND b.lo < a.hi`
    * (both half-open) has no equi key, so Spark plans
    * BroadcastNestedLoopJoin — O(|a|·|b|). Rewrite: explode BOTH sides to
    * every bucket their interval touches, equi-join on the bucket, keep
    * the exact overlap predicate as a post-filter — and deduplicate with
    * the responsibility rule: an overlapping pair shares every bucket in
    * the overlap range, so only the FIRST common bucket
    * (max(⌊a.lo/w⌋, ⌊b.lo/w⌋), which both sides provably explode to)
    * emits the pair. Each side fans out ⌈len/w⌉+1 rows — bounded when
    * interval lengths are; `bucketWidthSeconds` ≈ the typical interval
    * length keeps fan-out ~2× and bucket occupancy low. `equiKeys` join
    * alongside the bucket (a bucket-only key collides every concurrent
    * interval corpus-wide).
    */
  def intervalOverlapJoin(a: DataFrame, aLo: String, aHi: String,
      b: DataFrame, bLo: String, bHi: String,
      bucketWidthSeconds: Long, equiKeys: Seq[String] = Nil): DataFrame = {
    require(bucketWidthSeconds > 0, "bucketWidthSeconds must be positive")
    require(!(a.columns ++ b.columns).contains("__b"),
      "intervalOverlapJoin reserves the __b column name")
    val shared = a.columns.toSet.intersect(b.columns.toSet) -- equiKeys
    require(shared.isEmpty,
      s"columns ${shared.mkString(", ")} exist on both sides but are not equiKeys — " +
        "alias one side first")
    val w = bucketWidthSeconds
    def bucketed(df: DataFrame, lo: String, hi: String) = df.withColumn("__b",
      explode(sequence(
        floor(col(lo).cast("double") / w).cast("long"),
        floor(col(hi).cast("double") / w).cast("long"))))
    bucketed(a, aLo, aHi).join(bucketed(b, bLo, bHi), "__b" +: equiKeys)
      .filter(col(aLo).cast("double") < col(bHi).cast("double") &&
        col(bLo).cast("double") < col(aHi).cast("double"))
      .filter(col("__b") === greatest(
        floor(col(aLo).cast("double") / w).cast("long"),
        floor(col(bLo).cast("double") / w).cast("long")))
      .drop("__b")
  }

  /** Top-k rows per group, scale-safe — the general-k sibling of
    * [[latestPerKey]] (which the optimizer rewrites to max_by for k=1).
    *
    * A single `row_number() OVER (PARTITION BY group)` sorts EVERY group on
    * one reducer: with few, corpus-sized groups (per-language sampling over
    * 5 languages at 100 TB) that is a 5-reducer job. This runs a two-level
    * tournament instead: rank within (group, salt) — `salts`× the
    * parallelism, each cell spill-bounded — keep k per salted cell, then
    * rank the ≤ salts·k survivors per group (a bounded input regardless of
    * corpus size). ANY deterministic row partitioning preserves top-k
    * (every global top-k row is top-k within whatever cell it lands in),
    * so the salt is a hash of `saltCol` — pass a stable per-row value (the
    * tiebreak id is ideal); results are then partition-layout invariant.
    *
    * Callers must pass a TOTAL order in `ord` (include a unique tiebreak
    * column) — same contract as latestPerKey.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], ord: Seq[Column],
      saltCol: Column, k: Int, salts: Int = 64): DataFrame = {
    require(k > 0 && salts > 0, s"topKPerGroup: k and salts must be positive, got ($k, $salts)")
    val salted = df.withColumn("__salt", pmod(xxhash64(saltCol), lit(salts.toLong)))
    val w1 = Window.partitionBy((groupCols.map(col) :+ col("__salt")): _*).orderBy(ord: _*)
    val survivors = salted.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k).drop("__rn", "__salt")
    val w2 = Window.partitionBy(groupCols.map(col): _*).orderBy(ord: _*)
    survivors.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Per-key running aggregate (`sum` or `max`), scale-safe — the keyed
    * sibling of [[cumSumGlobal]]. A plain
    * `agg(v) OVER (PARTITION BY key ORDER BY ord ROWS UNBOUNDED PRECEDING)`
    * sorts each key's ENTIRE history on one reducer: fine for thousands of
    * small keys, fatal when a key is an instrument or a crawl source whose
    * history alone is TBs. Same bucket-and-handoff decomposition: rows
    * split into (key, bucket) cells — each a normal partitioned window —
    * and a one-row-per-cell handoff aggregate carries the exclusive
    * prefix (running sum or running max OVER buckets, per key) back onto
    * every row. Both levels are spill-bounded by the bucket granularity,
    * never by the key's total history.
    *
    * Contract (same as cumSumGlobal, per key): `orderCols` must be a
    * TOTAL order within a key (include a unique tiebreak — the rows frame
    * makes peers an error, not a semantic); `bucketExpr` must be a
    * monotone non-decreasing function of the FIRST order column, so no
    * row in a later bucket precedes any row of an earlier one. `sum`
    * over decimals pins operand widths to (37, s) exactly as
    * cumSumGlobal does (Spark's 38-cap otherwise TRIMS SCALE silently);
    * `max` needs no width care (no arithmetic, just comparison).
    */
  def cumAggPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
      valueCol: String, outCol: String, bucketExpr: Column, agg: String): DataFrame = {
    require(Set("sum", "max").contains(agg), s"cumAggPerKey supports sum|max, got $agg")
    require(!df.columns.exists(Set("__b", "__cum", "__btot", "__off")),
      "cumAggPerKey reserves the __b/__cum/__btot/__off column names")
    val aggFn: Column => Column = if (agg == "sum") sum else max
    // combine must be NULL-tolerant on the LEFT: a row whose within-bucket
    // prefix is all NULL has __cum NULL, and the plain running window
    // (sum/max both skip NULLs) would return the carried prefix there —
    // greatest already skips NULLs; the sum path coalesces __cum to zero
    // (the right side, __off, is non-NULL in this branch by the when())
    val combine: (Column, Column) => Column =
      if (agg == "max") (a, b) => greatest(a, b)
      else df.schema(valueCol).dataType match {
        case d: org.apache.spark.sql.types.DecimalType =>
          val t = s"decimal(37,${d.scale})"
          (a, b) => coalesce(a.cast(t), lit(0).cast(t)) + b.cast(t)
        case _ => (a, b) => coalesce(a, lit(0)) + b
      }
    val wIn = Window.partitionBy((keyCols.map(col) :+ col("__b")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = df.withColumn("__b", bucketExpr)
      .withColumn("__cum", aggFn(col(valueCol)).over(wIn))
    val handoff = within.groupBy((keyCols :+ "__b").map(col): _*)
      .agg(aggFn(col(valueCol)).as("__btot"))
      .withColumn("__off", aggFn(col("__btot")).over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select((keyCols :+ "__b").map(col) :+ col("__off"): _*)
    within.join(handoff, keyCols :+ "__b", "left")
      .withColumn(outCol, when(col("__off").isNull, col("__cum"))
        .otherwise(combine(col("__cum"), col("__off"))))
      .drop("__b", "__cum", "__off")
  }

  /** Per-key LAG(1), scale-safe — the keyed, multi-order sibling of
    * [[leadGlobal]]. Within each (key, bucket) cell a normal lag window
    * runs; each cell's LAST value (max_by over the total order — exact,
    * no sort of the cell beyond the window's own) rides a one-row-per-cell
    * handoff so the first row of the next bucket still sees its true
    * predecessor. The very first row per key lags NULL, as plain lag
    * would — and a NULLABLE `valueCol` is exact too: the substitution is
    * gated on being the bucket's FIRST row (row_number, not
    * lag-returned-NULL), so a genuinely-NULL mid-bucket predecessor stays
    * NULL. Same contract as [[cumAggPerKey]]: total `orderCols`,
    * `bucketExpr` monotone in the first of them.
    */
  def lagPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
      valueCol: String, outCol: String, bucketExpr: Column): DataFrame = {
    require(!df.columns.exists(Set("__b", "__lag", "__rn", "__last", "__prev")),
      "lagPerKey reserves the __b/__lag/__rn/__last/__prev column names")
    val wIn = Window.partitionBy((keyCols.map(col) :+ col("__b")): _*)
      .orderBy(orderCols: _*)
    // the handoff substitution applies ONLY on each bucket's first row
    // (gated on row_number, not on __lag being NULL — a nullable valueCol's
    // genuinely-NULL mid-bucket predecessor must stay NULL), and the cell's
    // last value rides inside a struct so max_by can hand a NULL value
    // across the boundary instead of conflating it with "no previous cell"
    val within = df.withColumn("__b", bucketExpr)
      .withColumn("__lag", lag(col(valueCol), 1).over(wIn))
      .withColumn("__rn", row_number().over(wIn))
    val handoff = within.groupBy((keyCols :+ "__b").map(col): _*)
      .agg(max_by(struct(col(valueCol).as("v")), struct(orderCols: _*)).as("__last"))
      .withColumn("__prev", lag(col("__last"), 1).over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col("__b"))))
      .select((keyCols :+ "__b").map(col) :+ col("__prev"): _*)
    within.join(handoff, keyCols :+ "__b", "left")
      .withColumn(outCol,
        when(col("__rn") === 1, col("__prev.v")).otherwise(col("__lag")))
      .drop("__b", "__lag", "__rn", "__prev")
  }

  /** Spread the low 16 bits of `v` so bit i lands at position 2i — the
    * standard four-round magic-mask dilation. Input must already be
    * BIGINT in [0, 65536); masks keep everything inside 32 bits so the
    * arithmetic is sign-free and replayable as plain BIGINT ops in any
    * engine.
    */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton (Z-order) interleave of two 16-bit dimensions: bit i of `x`
    * goes to position 2i, bit i of `y` to 2i+1. The data-LAYOUT primitive
    * behind multi-dimensional file skipping: sort (or repartitionByRange)
    * a 100 TB table by the z-value before writing and every file's
    * min/max footer stats become a tight bounding box in BOTH dimensions
    * at once — a predicate on either column prunes files, where a plain
    * lexicographic sort only serves its leading column. Pure codegen'd
    * integer arithmetic (shift/and/or on BIGINT), no UDF, and exactly
    * replayable in SQL — see the q_x_zorder oracle.
    *
    * Inputs are range-checked (0 ≤ v < 65536): an out-of-range coordinate
    * would silently alias distant rows into the same z-cell, destroying
    * the locality the caller is sorting for — raise instead. Callers with
    * wider domains bucket first (divide or hash into 16 bits).
    */
  def mortonInterleave(x: Column, y: Column): Column = {
    def checked(v: Column, name: String): Column = {
      val lv = v.cast("bigint")
      when(lv < 0 || lv > 0xFFFFL,
        raise_error(concat(lit(s"mortonInterleave: $name out of [0, 65536): "),
          lv.cast("string"))))
        .otherwise(lv)
    }
    spread16(checked(x, "x"))
      .bitwiseOR(shiftleft(spread16(checked(y, "y")), 1))
  }

  /** Hilbert-curve index of two 15-bit dimensions (order-15 curve,
    * domain [0, 32768) per axis) — the locality-PRESERVING sibling of
    * [[mortonInterleave]]: the Hilbert curve visits every cell of the
    * 2-d grid such that consecutive indexes are ALWAYS grid-adjacent
    * (Morton order takes long diagonal jumps at power-of-two
    * boundaries), so equal-count file tiles cut from a Hilbert sort
    * have tighter per-dimension bounding boxes — measurably better
    * min/max footer pruning on the same data (BehaviorLayoutSpec
    * quantifies it against the z-order layout).
    *
    * Implementation is the canonical xy2d bit-level loop (15 rounds of
    * quadrant classification d += s²·((3·rx) ⊕ ry) and grid reflection/
    * transposition), expressed as ONE array fold over the bit levels
    * with the (x, y, d) state packed into a single BIGINT
    * (d·2³² | x·2¹⁶ | y — order 15 keeps the pack inside the SIGNED
    * 63-bit range on both engines, which is why the order is 15 and not
    * 16). Pure codegen'd integer arithmetic, no UDF, replayed
    * bit-for-bit by the q_x_hilbert oracle's identical fold.
    *
    * Inputs are range-checked (0 ≤ v < 32768) for the same aliasing
    * reason as [[mortonInterleave]]; wider domains bucket first.
    */
  def hilbertIndex(x: Column, y: Column): Column = {
    def checked(v: Column, name: String): Column = {
      val lv = v.cast("bigint")
      when(lv < 0 || lv > 0x7FFFL,
        raise_error(concat(lit(s"hilbertIndex: $name out of [0, 32768): "),
          lv.cast("string"))))
        .otherwise(lv)
    }
    // r19: the 15-level aggregate() fold ran as an interpreted
    // CodegenFallback HOF per row; the identical all-integer d2xy
    // recurrence now runs as ONE codegen'd static call
    // (NativeKernels.hilbert2D — bit-identical by integer arithmetic).
    // The range guard stays out here as the codegen'd raise_error gate.
    org.apache.spark.sql.graft.natives.hilbert2D(checked(x, "x"), checked(y, "y"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: each key scores
    * every shard with the seedless md5 of `key:rv:shard` and lands on the
    * argmax — the STABLE sharding a 100 TB incremental pipeline needs:
    * growing nShards → nShards+1 moves ONLY the keys the new shard wins
    * (≈ 1/(nShards+1) of them, each to the new shard — an exact
    * invariant, spec-pinned), where `pmod(hash, n)` resharding moves
    * ~(n−1)/n of the corpus. Ties on the 64-bit score are broken toward
    * the higher shard id, deterministically.
    *
    * Shape: a NARROW per-row argmax fold over the shard range (an
    * `aggregate` higher-order expression carrying the running
    * (score, shard) pair) — no explode, no shuffle, no aggregate. The r13
    * form exploded nShards rows per key and re-grouped on the WHOLE input
    * row, which both shuffled the corpus and silently collapsed duplicate
    * rows (ADVICE r13); the fold preserves row multiplicity trivially and
    * keeps the operator inside whole-stage codegen.
    */
  def rendezvousShard(df: DataFrame, keyCol: String, nShards: Int,
      outCol: String = "shard"): DataFrame = {
    require(nShards > 0, "rendezvousShard: nShards must be positive")
    def score(j: Column): Column = graft.operators.TextOps.md5Long64(
      concat(col(keyCol).cast("string"), lit(":rv:"), j.cast("string")))
    val best =
      if (nShards == 1) lit(0)
      else aggregate(
        sequence(lit(1), lit(nShards - 1), lit(1)),
        struct(score(lit(0)).as("__hv"), lit(0).as("__j")),
        (acc, j) => {
          val hv = score(j)
          // >= : equal scores prefer the higher shard id (j is ascending)
          when(hv >= acc.getField("__hv"),
            struct(hv.as("__hv"), j.cast("int").as("__j"))).otherwise(acc)
        }).getField("__j")
    df.withColumn(outCol, best.cast("int"))
  }

  /** Per-(key…) OHLC candle fold over a totally-ordered tick stream:
    * open/close are struct extrema over the (order…, value) tuple — the
    * latest-per-key idiom as an AGGREGATE, not a window — beside plain
    * min/max/count/sum. One map-side-combinable pass: each map task
    * collapses its ticks to one candidate candle per group before the
    * shuffle, so a hot instrument's tick volume never serializes on a
    * reducer the way a `PARTITION BY symbol, day` window would. Every
    * fold here is associative, so the SAME function is the batch operator
    * and the streaming twin's state upkeep (complete-mode drain ≡ batch
    * by construction — the incr_rollup merge ≡ recompute contract).
    *
    * `orderCols` must be a total order within a group (include a unique
    * tiebreak), `valueCol` the integer price basis (exact cents).
    */
  def ohlcBars(ticks: DataFrame, keyCols: Seq[String],
      orderCols: Seq[Column], valueCol: String): DataFrame = {
    val ord = orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    def endpoint(f: Column => Column): Column =
      f(struct(ord :+ col(valueCol).as("__v"): _*)).getField("__v")
    ticks.groupBy(keyCols.map(col): _*).agg(
      endpoint(min).as("open_c"),
      max(col(valueCol)).as("high_c"),
      min(col(valueCol)).as("low_c"),
      endpoint(max).as("close_c"),
      count(lit(1)).as("n_ticks"),
      sum(col(valueCol)).as("vol_c"))
  }

  /** Per-(event_type, day) exact-cents daily totals — the shared series
    * kernel under the CUSUM / autocorrelation / cross-correlation / MASE
    * rows AND their streaming twin (StreamJobs.dailyCentsStream): one
    * keyed aggregate, map-side combine absorbs the raw event volume, and
    * every statistic is an additive integer — so a complete-mode stream
    * drains to the identical table at any micro-batch slicing.
    */
  def dailyTypeCents(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("d"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("d")).agg(sum(col("c")).as("x"))

  /** Rolling-origin (expanding-window) time-series cross-validation
    * assignment at a calendar `grain`: the last `k` periods are the
    * validation origins — fold f (1-based) validates on period P−k+f and
    * trains on every strictly earlier period, the leakage-safe evaluation
    * for anything temporal (forecasting, churn, CTR) where the hash and
    * grouped k-folds ([[graft.operators.TextOps.splitAssign]],
    * q_x_kfold) would let the model peek at the future. Output attaches
    * two columns per input row — `fold_val` (the one fold where the row
    * is validation; NULL for pure-history rows) and `n_train_folds`
    * (k for history, k − fold_val for origin rows) — from which
    * membership in every fold is derivable, so the assignment ships one
    * row per input row instead of a k× exploded copy of the corpus.
    *
    * Scale shape: the period index is a row_number over the DISTINCT
    * period dimension (calendar-sized — days or months, never
    * corpus-sized — so its single-partition window is bounded by the
    * calendar); facts pick up their fold columns through one BROADCAST
    * equi-join on the period and never shuffle. Callers should pick
    * k ≤ the period count; with fewer periods the early folds are
    * simply empty.
    */
  def rollingOriginCv(df: DataFrame, tsCol: String, k: Int,
      grain: String = "day", outPeriod: String = "period"): DataFrame = {
    require(k >= 1, "rollingOriginCv: k must be positive")
    require(!df.columns.exists(Set(outPeriod, "__p", "__pmax",
      "fold_val", "n_train_folds")),
      "rollingOriginCv reserves the period/__p/__pmax/fold_val/n_train_folds names")
    // DATE-cast only at day-or-coarser grains: a sub-day grain cast to
    // DATE would silently collapse every hour/minute of a day into one
    // period and mis-assign folds (r14 advice). Sub-day grains keep the
    // truncated TIMESTAMP as the period column; anything unrecognized
    // fails loudly instead of producing wrong folds.
    val g = grain.toLowerCase(java.util.Locale.ROOT)
    val dayOrCoarser =
      Set("year", "yyyy", "yy", "quarter", "month", "mon", "mm", "week", "day", "dd")
    val subDay = Set("hour", "minute", "second")
    require(dayOrCoarser(g) || subDay(g),
      s"rollingOriginCv: unsupported grain '$grain' (day-or-coarser: " +
        s"${dayOrCoarser.toSeq.sorted.mkString("/")}; sub-day: " +
        s"${subDay.toSeq.sorted.mkString("/")})")
    val per =
      if (dayOrCoarser(g)) date_trunc(g, col(tsCol)).cast("date")
      else date_trunc(g, col(tsCol))
    val withPer = df.withColumn(outPeriod, per)
    val periods = withPer.select(col(outPeriod)).distinct()
      .withColumn("__p", row_number().over(Window.orderBy(col(outPeriod))))
    val dim = periods.crossJoin(periods.agg(max(col("__p")).as("__pmax")))
      .withColumn("fold_val",
        when(col("__p") > col("__pmax") - k,
          (col("__p") - (col("__pmax") - k)).cast("int")))
      .withColumn("n_train_folds",
        (lit(k) - coalesce(col("fold_val"), lit(0))).cast("int"))
      .select(col(outPeriod), col("fold_val"), col("n_train_folds"))
    withPer.join(broadcast(dim), Seq(outPeriod))
  }
}
