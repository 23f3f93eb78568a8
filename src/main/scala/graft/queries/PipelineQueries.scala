package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Ops
import graft.ingest.EventPipeline
import graft.operators.Multimodal
import graft.sources.Tables

/** End-to-end composite queries (parse → enrich → snapshot, SURVEY §3; the
  * get_positions and earn-APR pages) and the multimodal metadata rollup.
  */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full write-path composition: raw events → typed purchase entities →
    // as-of price enrichment (in_stable) → daily per-user state snapshots
    // with running balances.
    "q_e2e_daily_state" -> { (s, dir) => EventPipeline.run(s, dir) },
    // The reference's hardest read query, get_positions (ls_state.rs:799-941,
    // SURVEY §7.2): latest state per key (W5) ⋈ as-of entry price (J5) ⋈
    // current price (W5 again) with an active-set anti-join (J6, "no closing
    // event after") and the unrealized-PnL derivation (B9) — composed here
    // from the same library operators.
    "q_e2e_positions" -> { (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Single-pass form: every branch of the position (latest purchase,
      // as-of entry price, current price, error cutoff) is per-user, so ONE
      // events scan feeds ONE user-partitioned window (carrying the as-of
      // view price, same tie/NULL semantics as Ops.asOfJoin: views sort
      // before purchases at equal ts, struct payload so NULL prices attach
      // as NULL) and ONE groupBy on the same key — which reuses the window's
      // hash partitioning, so the whole query is one shuffle. Round 1
      // composed this from latestPerKey+asOfJoin+anti-join and re-scanned
      // the fact 4× (13.1 s at sf0.1).
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view", "error"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      val isP = col("event_type") === "purchase"
      val isV = col("event_type") === "view"
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, when(isV, 0).otherwise(1).asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withPrice = e.withColumn("__vw",
        last(when(isV, struct(col("value").as("price"))), ignoreNulls = true).over(w))
      withPrice.groupBy(col("user_id")).agg(
          max_by(
            when(isP, struct(col("ts"), col("event_id"), col("value").as("amount"),
              col("__vw").getField("price").as("entry_price"))),
            when(isP, struct(col("ts"), col("event_id")))).as("p"),
          max_by(when(isV, struct(col("value").as("price"))),
            when(isV, struct(col("ts"), col("event_id")))).as("v"),
          max(when(col("event_type") === "error", col("ts"))).as("max_err_ts"))
        .filter(col("p").isNotNull)
        // active = latest purchase not followed by an error event of that user
        .filter(col("max_err_ts").isNull || col("max_err_ts") <= col("p.ts"))
        .select(col("user_id"), col("p.event_id").as("event_id"),
          col("p.amount").as("amount"), col("p.entry_price").as("entry_price"),
          col("v.price").as("current_price"),
          round(col("p.amount") * (coalesce(col("v.price"), lit(1.0)) /
            coalesce(col("p.entry_price"), lit(1.0)) - 1.0), 6).as("unrealized_pnl"))
    }},
    // PL_State analog: the platform-wide daily rollup (reference
    // pl_state.rs:13-204 — ~20 scalar aggregates per interval, previous
    // snapshot joined via lag, and the tax identity tax = state_now +
    // outflows − rewards − state_prev, entities.md:345). One multi-agg pass
    // + one window — no per-interval re-scans.
    "q_e2e_pl_state" -> { (s, dir) => plState(Tables.events(s, dir)) },
    // The earn-APR page (reference lp_pool_state.rs:440-517): a 4-operator
    // composition no other e2e query covers — W5 latest state per pool
    // (DISTINCT ON), A6 weighted-average net interest with a NULLIF guard,
    // B11 utilization, and the §2.9 daily-compounding POWER formula, glued
    // with a broadcast dim join (J1) and LEFT JOIN null padding (J2).
    // Suppliers play the pools; lineitem plays both the pool-state series
    // (per ship date) and the open-position set.
    "q_e2e_earn_apr" -> { (s, dir) => {
      val dec = (c: String) => col(c).cast("decimal(18,2)")
      // Exact integer-unit arithmetic on the hot path: cents for prices,
      // scale-2 units for the net rate (= discount% − flat 1% margin), so
      // the (pool, day) pre-aggregate — which barely reduces (≈0.9 groups
      // per row on this schema) — sums LONGs instead of 128-bit decimals.
      // Every downstream double is derived from the exact integer with one
      // correctly-rounded division by a power of ten, which equals the
      // former decimal→double cast bit-for-bit ONLY while the integer
      // stays under 2^53 (~9.0e15) — and the worst-case per-pool wsum
      // magnitude (Σ netRateU·priceU, up to ~1e16) can cross that line
      // well before the 2^63 overflow that ANSI mode (Spark 4 default)
      // would catch. Past 2^53 the long→double cast rounds SILENTLY, so
      // every such cast goes through Ops.exactDouble, which raises
      // loudly instead of drifting; the documented fallback above that
      // ceiling is the decimal form this rewrite replaced (r10 history).
      val priceU = (dec("l_extendedprice") * 100).cast("long")
      val netRateU = (dec("l_discount") * 10000).cast("long") - 100
      // ONE fact scan: the (pool, day) pre-aggregate carries both the state
      // series (tvl/borrowed) AND the weighted-net-interest partial sum, so
      // the W5 latest row and the A6 all-history weighted average both come
      // from re-aggregating this pre-agg per pool — no second lineitem
      // scan. Integer sums re-aggregate exactly (sum of per-day sums ==
      // sum of rows), so the result is hash-identical to the decimal form.
      val st = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(
          sum(priceU).as("tvl_u"),
          sum(when(col("l_returnflag") === "R", priceU)).as("borrowed_u"),
          sum(netRateU * priceU).as("wsum_u"))
      // W5 via scalar max_by pairs — primitive agg buffers keep the re-agg in
      // HashAggregate (a struct payload would demote it to SortAggregate);
      // (pool, day) is unique so the day order is tie-free and both max_by
      // calls pick the same row. A6 via sum-of-sums with the NULLIF guard.
      val perPool = st
        .groupBy(col("l_suppkey"))
        .agg(
          max_by(col("tvl_u"), col("l_shipdate")).as("latest_tvl_u"),
          max_by(col("borrowed_u"), col("l_shipdate")).as("latest_borrowed_u"),
          ((Ops.exactDouble(sum(col("wsum_u"))) / 1e4) /
            nullif(Ops.exactDouble(sum(col("tvl_u"))) / 1e2, lit(0.0))).as("avg_net_interest"))
      val base = perPool
        .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_suppkey"), col("s_name").as("protocol"),
          (coalesce(Ops.exactDouble(col("latest_borrowed_u")) / 1e2, lit(0.0)) /
            nullif(Ops.exactDouble(col("latest_tvl_u")) / 1e2, lit(0.0))).as("util_rate"),
          (Ops.exactDouble(col("latest_tvl_u")) / 1e2).as("supplied"),
          coalesce(Ops.exactDouble(col("latest_borrowed_u")) / 1e2, lit(0.0)).as("borrowed"),
          col("avg_net_interest"))
      base
        .withColumn("apr_simple",
          coalesce(col("avg_net_interest"), lit(0.0)) * coalesce(col("util_rate"), lit(0.0)))
        .select(col("l_suppkey").as("pool_id"), col("protocol"),
          round(coalesce(col("util_rate"), lit(0.0)) * 100.0, 6).as("utilization_pct"),
          col("supplied"), col("borrowed"),
          when(col("apr_simple") > 0,
            round((pow(lit(1.0) + col("apr_simple") / 100.0 / 365.0, 365) - 1.0) * 100.0, 6))
            .otherwise(lit(0.0)).as("earn_apr"))
    }},
    // Perceptual near-dup over the media payloads: 63-bit dHash
    // (Multimodal.dHash63 — gradient-pattern sketch, stub-decode tier per
    // its doc) banded into 4×16-bit buckets, bucket-colliding pairs
    // verified with exact Hamming ≤ 6 (bit_count of xor). The banding
    // GUARANTEES recall for Hamming ≤ 3 (pigeonhole over 4 bands);
    // 4..6 is probabilistic — and irrelevant to oracle exactness, since
    // the oracle replays the same banding. The image-dedup move
    // (re-encoded/brightness-shifted copies collide) expressed entirely
    // in codegen'd integer arithmetic.
    "q_x_phash_dedup" -> { (s, dir) =>
      // banding extracted to Multimodal.phashBandPairs (r16 — shared with
      // the cross-modal pair dedup); rejoining the hashes to the tiny
      // distinct pair set yields the identical (a, b, hamming) rows the
      // inline band-carry form produced
      val d = Tables.documents(s, dir)
        .withColumn("__cells", Multimodal.dHashCells(col("text")))
        .select(col("doc_id"), Multimodal.dHash63("__cells").as("ph"))
      // failOnOverCap: the oracle replays the band join uncapped, so a
      // silently star-capped bucket at a larger SF must raise, not diverge
      Multimodal.phashBandPairs(d, "doc_id", "ph", failOnOverCap = true)
        .join(d.select(col("doc_id").as("a"), col("ph").as("__pa")), Seq("a"))
        .join(d.select(col("doc_id").as("b"), col("ph").as("__pb")), Seq("b"))
        .select(col("a"), col("b"),
          expr("bit_count(__pa ^ __pb)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
    },
    // Multimodal metadata rollup over the binary payload table: per kind,
    // object count and byte-size stats (decode stage is spec-tested; this
    // checks the schema/plumbing tier against the oracle).
    "q_x_mm_meta" -> { (s, dir) =>
      Multimodal.toMedia(Tables.documents(s, dir))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_objects"),
          sum(length(col("payload"))).as("total_bytes"),
          max(length(col("payload"))).as("max_bytes"))
    },
    // Frame sampling over the binary payload table — the video-frame
    // analog (every 2nd 32-byte chunk), flattened to one row per kept
    // frame with its byte length and md5 digest (the index-upsert shape;
    // nested arrays never cross the export boundary — the r15 contract).
    // Pure column expressions over BINARY — no UDF, narrow map + one
    // posexplode. The oracle replays the chunk grid on the text column:
    // payload = UTF-8 of ASCII-only synthetic text, so byte slices and
    // char slices coincide and Spark's md5(binary) equals DuckDB's
    // md5(varchar) over the same bytes (the decontamination-oracle hash
    // argument).
    // Windowed sample-energy extraction over the audio-kind payloads —
    // the feature-extract multimodal verb: two-byte little-endian sample
    // fold per 32-byte window (16 samples), per-window integer energy +
    // the silence flag a VAD gate thresholds on. Narrow codegen'd map +
    // one posexplode; the kind filter prunes 2/3 of the media table
    // before any window materializes.
    "q_x_audio_energy" -> { (s, dir) =>
      Multimodal.audioEnergy(
          Multimodal.toMedia(Tables.documents(s, dir))
            .filter(col("kind") === "audio"), windowChars = 32)
        .withColumn("is_quiet", col("energy") < 400000L)
    },
    "q_x_frame_sample" -> { (s, dir) =>
      val media = Multimodal.toMedia(Tables.documents(s, dir))
      Multimodal.frameSample(media, chunkBytes = 32, stride = 2)
        .select(col("doc_id"), col("kind"),
          posexplode(col("frames")).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("kind"),
          col("frame_idx").cast("int").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"),
          md5(col("frame")).as("frame_digest"))
    },
    // Shot-level video near-dup — scene segmentation composed with banded
    // Hamming dedup: shots from the cut stream, a 63-bit opening-window
    // signature per shot, 4×16 band join over the packed (doc, shot) key,
    // exact Hamming verify. Re-used clips across videos and repeated
    // shots within one — frame-level phash dedup lifted to the segment
    // grain a video-dedup pipeline works at.
    "q_x_shot_dedup" -> { (s, dir) =>
      Multimodal.shotDedup(
        Multimodal.toMedia(Tables.documents(s, dir))
          .filter(col("kind") === "video"),
        chunkBytes = 32, stride = 2, cutThreshold = 16, maxHamming = 6,
        failOnOverCap = true)
    },
    // Voice-activity SEGMENTS over the audio-kind payloads — the
    // audio-energy grid composed with gaps-and-islands: voiced windows
    // (energy ≥ the q_x_audio_energy quiet threshold) grouped into
    // maximal consecutive runs per doc (island id = window_idx − dense
    // rank, the q_x_streak rule at window grain), one row per segment
    // with its span, length, and total energy. The clip-extraction shape
    // every speech pipeline needs (VAD gate → segment table → per-segment
    // decode); per-doc keyed windows only, nothing corpus-global.
    "q_x_vad_segments" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val voiced = Multimodal.audioEnergy(
          Multimodal.toMedia(Tables.documents(s, dir))
            .filter(col("kind") === "audio"), windowChars = 32)
        .filter(col("energy") >= 400000L)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("window_idx"))
      voiced
        .withColumn("isl", col("window_idx") - row_number().over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("window_idx")).as("seg_start"),
          max(col("window_idx")).as("seg_end"),
          count(lit(1)).as("n_windows"),
          sum(col("energy")).as("total_energy"))
        .select(col("doc_id"), col("seg_start"), col("seg_end"),
          col("n_windows"), col("total_energy"))
    },
    // Scene-change detection over the video-kind payloads — frame
    // sampling composed with the perceptual hash: dHash63 per sampled
    // frame, Hamming distance between CONSECUTIVE frames per doc (one
    // per-doc keyed lag window), cut where the gradient pattern jumps
    // ≥ 16 bits. The video-segmentation move (shot boundaries for
    // frame-dedup and clip extraction) expressed entirely in the
    // existing stub-decode kernels — a production pipeline substitutes
    // decoded luma thumbnails at the dHashCells column and the boundary
    // arithmetic is unchanged. Narrow maps + one posexplode + per-doc
    // windows: nothing corpus-global in the plan.
    // Array-native (r16 rewrite): per-row lambda algebra, zero exchanges
    // — the windowed first cut shuffled every (doc, frame) row just to
    // lag within a doc. Shared kernel with the streaming twin.
    "q_x_scene_change" -> { (s, dir) =>
      Multimodal.sceneCuts(
        Multimodal.toMedia(Tables.documents(s, dir))
          .filter(col("kind") === "video"),
        chunkBytes = 32, stride = 2, threshold = 16)
    },
    // B13 raw-tx codec, end-to-end: build a cosmos-TxRaw-shaped message per
    // event row with the wire-format encoders (TxBody{repeated Any, memo} +
    // AuthInfo{Fee{repeated Coin, gas}} + repeated signatures — the layout
    // event_dispatch.rs:246-279 walks), then recover every field from the
    // single `tx` binary with the decode walkers. The oracle is the
    // roundtrip identity: a plain SELECT of the source columns — any
    // encode/decode asymmetry (tag layout, varint continuation, length
    // framing, repeated-field order, nested descent) breaks the hash.
    "q_x_proto_roundtrip" -> { (s, dir) =>
      import org.apache.spark.sql.graft.natives._
      val any1 = concat(
        protoEncBytes(col("event_type").cast("binary"), 1),
        protoEncBytes(col("props").cast("binary"), 2))
      val any2 = protoEncBytes(lit("graft.event.Marker").cast("binary"), 1)
      val body = concat(
        protoEncBytes(any1, 1),
        protoEncBytes(any2, 1),
        protoEncBytes(col("props").cast("binary"), 2))
      val coin = concat(
        protoEncBytes(lit("unls").cast("binary"), 1),
        protoEncVarint(col("event_id"), 2))
      val fee = concat(
        protoEncBytes(coin, 1),
        protoEncVarint(col("user_id") + lit(100000L), 2))
      val auth = protoEncBytes(fee, 1)
      val tx = concat(
        protoEncBytes(body, 1),
        protoEncBytes(auth, 2),
        protoEncBytes(unhex(md5(col("props"))), 3),
        protoEncBytes(unhex(md5(col("event_type"))), 3))
      Tables.events(s, dir)
        .select(col("event_id"), tx.as("tx"))
        .select(col("event_id"),
          protoBytes(col("tx"), 1).as("body"),
          protoBytes(col("tx"), 2).as("auth"),
          protoBytesAll(col("tx"), 3).as("sigs"))
        .select(col("event_id"),
          protoBytesAll(col("body"), 1).as("msgs"),
          protoBytes(col("body"), 2).as("memo_b"),
          protoBytes(col("auth"), 1).as("fee"),
          col("sigs"))
        .select(col("event_id"),
          protoBytes(element_at(col("msgs"), 1), 1).cast("string").as("type_url"),
          protoBytes(element_at(col("msgs"), 1), 2).cast("string").as("msg_value"),
          col("memo_b").cast("string").as("memo"),
          protoBytes(element_at(protoBytesAll(col("fee"), 1), 1), 1)
            .cast("string").as("denom"),
          protoVarint(element_at(protoBytesAll(col("fee"), 1), 1), 2).as("amount"),
          protoVarint(col("fee"), 2).as("gas_limit"),
          size(col("msgs")).as("n_msgs"),
          size(col("sigs")).as("n_sigs"),
          lower(hex(element_at(col("sigs"), 1))).as("sig1_hex"))
    }
  )

  /** The `q_e2e_pl_state` rollup over an events frame (`ts`, `user_id`,
    * `event_type`, `value`): the registry row passes the raw events table,
    * `IngestJob` its already-parsed, persisted events, so the gold stage
    * does not scan the source a second time.
    */
  def plState(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec18 = (c: String) => col(c).cast("decimal(18,2)")
    val daily = events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        sum(when(col("event_type") === "purchase", dec18("value"))).as("purchase_vol"),
        count(when(col("event_type") === "signup", 1)).as("n_signups"),
        sum(when(col("event_type") === "signup", dec18("value"))).as("signup_vol"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        sum(when(col("event_type") === "error", dec18("value"))).as("error_vol"),
        countDistinct(col("user_id")).as("n_active"),
        max(when(col("event_type") === "purchase", col("value"))).as("max_purchase"))
    val w = Window.orderBy(col("day"))
    val cum = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("state", sum(coalesce(col("purchase_vol"), lit(0).cast("decimal(18,2)")) -
        coalesce(col("error_vol"), lit(0).cast("decimal(18,2)"))).over(cum))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .select(col("day").cast("date").as("day"),
        col("n_purchases"), col("n_signups"), col("n_errors"), col("n_active"),
        col("purchase_vol").cast("double").as("purchase_vol"),
        col("signup_vol").cast("double").as("signup_vol"),
        col("error_vol").cast("double").as("error_vol"),
        col("max_purchase"),
        col("state").cast("double").as("state"),
        (col("state") + coalesce(col("error_vol"), lit(0).cast("decimal(18,2)"))
          - coalesce(col("signup_vol"), lit(0).cast("decimal(18,2)"))
          - coalesce(col("prev_state"), lit(0).cast("decimal(28,2)")))
          .cast("double").as("tax_identity"))
  }

  val oracleSql: Map[String, String] = Map(
    "q_e2e_daily_state" ->
      """WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type, value FROM events),
        |purchases AS (SELECT event_id, user_id, ts, value AS amount FROM ev WHERE event_type = 'purchase'),
        |prices AS (SELECT user_id AS p_user, ts AS p_ts, value AS price FROM ev WHERE event_type = 'view'),
        |enr AS (SELECT p.event_id, p.user_id, p.ts, p.amount, v.price
        |  FROM purchases p ASOF LEFT JOIN prices v ON p.user_id = v.p_user AND p.ts >= v.p_ts),
        |daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(CAST(amount AS DECIMAL(18,2))) AS day_amount,
        |    sum(CAST(amount * coalesce(price, 1.0) AS DECIMAL(28,6))) AS day_stable,
        |    count(*) AS n_tx
        |  FROM enr GROUP BY 1, 2)
        |SELECT user_id, day, n_tx,
        |  CAST(day_amount AS DOUBLE) AS day_amount,
        |  CAST(sum(day_amount) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance,
        |  CAST(sum(day_stable) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS balance_stable
        |FROM daily""".stripMargin,
    "q_e2e_positions" ->
      """WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type, value FROM events),
        |purchases AS (SELECT event_id, user_id, ts, value AS amount FROM ev WHERE event_type = 'purchase'),
        |latest_purchase AS (
        |  SELECT event_id, user_id, ts, amount FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM purchases) WHERE rn = 1),
        |views AS (SELECT user_id AS v_user, ts AS v_ts, event_id AS v_id, value AS price FROM ev WHERE event_type = 'view'),
        |entry AS (SELECT p.event_id, p.user_id, p.ts, p.amount, v.price AS entry_price
        |  FROM latest_purchase p ASOF LEFT JOIN views v
        |  ON p.user_id = v.v_user AND p.ts >= v.v_ts),
        |now_price AS (
        |  SELECT v_user, price AS current_price FROM (
        |    SELECT *, row_number() OVER (PARTITION BY v_user ORDER BY v_ts DESC, v_id DESC) AS rn
        |    FROM views) WHERE rn = 1),
        |active AS (SELECT * FROM entry e
        |  WHERE NOT EXISTS (SELECT 1 FROM ev x
        |    WHERE x.event_type = 'error' AND x.user_id = e.user_id AND x.ts > e.ts))
        |SELECT a.user_id, a.event_id, a.amount, a.entry_price, n.current_price,
        |  round(a.amount * (coalesce(n.current_price, 1.0) / coalesce(a.entry_price, 1.0) - 1.0), 6) AS unrealized_pnl
        |FROM active a LEFT JOIN now_price n ON a.user_id = n.v_user""".stripMargin,
    "q_e2e_pl_state" ->
      """WITH ev AS (SELECT date_trunc('microseconds', ts) AS ts, user_id, event_type, value FROM events),
        |daily AS (SELECT date_trunc('day', ts) AS day,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        |    sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS purchase_vol,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signups,
        |    sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS signup_vol,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
        |    sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS error_vol,
        |    count(DISTINCT user_id) AS n_active,
        |    max(CASE WHEN event_type = 'purchase' THEN value END) AS max_purchase
        |  FROM ev GROUP BY 1),
        |st AS (SELECT *,
        |    sum(coalesce(purchase_vol, 0) - coalesce(error_vol, 0)) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state
        |  FROM daily),
        |pv AS (SELECT *, lag(state, 1) OVER (ORDER BY day) AS prev_state FROM st)
        |SELECT day, n_purchases, n_signups, n_errors, n_active,
        |  CAST(purchase_vol AS DOUBLE) AS purchase_vol,
        |  CAST(signup_vol AS DOUBLE) AS signup_vol,
        |  CAST(error_vol AS DOUBLE) AS error_vol,
        |  max_purchase,
        |  CAST(state AS DOUBLE) AS state,
        |  CAST(state + coalesce(error_vol, 0) - coalesce(signup_vol, 0)
        |       - coalesce(prev_state, 0) AS DOUBLE) AS tax_identity
        |FROM pv""".stripMargin,
    "q_e2e_earn_apr" ->
      """WITH st AS (SELECT l_suppkey, l_shipdate,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS tvl,
        |    sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS borrowed
        |  FROM lineitem GROUP BY 1, 2),
        |latest AS (SELECT DISTINCT ON (l_suppkey) l_suppkey, tvl, borrowed
        |  FROM st ORDER BY l_suppkey, l_shipdate DESC),
        |ai AS (SELECT l_suppkey,
        |    CAST(sum(CAST((CAST(l_discount AS DECIMAL(18,2)) * CAST(100 AS DECIMAL(18,0))
        |                    - CAST(1 AS DECIMAL(18,2))) * CAST(l_extendedprice AS DECIMAL(18,2))
        |             AS DECIMAL(30,4))) AS DOUBLE) /
        |    nullif(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS avg_net_interest
        |  FROM lineitem GROUP BY l_suppkey),
        |base AS (SELECT l.l_suppkey, s_name AS protocol,
        |    coalesce(CAST(l.borrowed AS DOUBLE), 0.0) / nullif(CAST(l.tvl AS DOUBLE), 0.0) AS util_rate,
        |    CAST(l.tvl AS DOUBLE) AS supplied,
        |    coalesce(CAST(l.borrowed AS DOUBLE), 0.0) AS borrowed,
        |    ai.avg_net_interest
        |  FROM latest l
        |  JOIN supplier ON l.l_suppkey = s_suppkey
        |  LEFT JOIN ai ON l.l_suppkey = ai.l_suppkey),
        |calc AS (SELECT *,
        |    coalesce(avg_net_interest, 0.0) * coalesce(util_rate, 0.0) AS apr_simple
        |  FROM base)
        |SELECT l_suppkey AS pool_id, protocol,
        |  round(coalesce(util_rate, 0.0) * 100.0, 6) AS utilization_pct,
        |  supplied, borrowed,
        |  CASE WHEN apr_simple > 0
        |       THEN round((power(1.0 + apr_simple / 100.0 / 365.0, 365) - 1.0) * 100.0, 6)
        |       ELSE 0.0 END AS earn_apr
        |FROM calc""".stripMargin,
    // the identical 70-cell sampling, 63 comparison terms, 4-band join,
    // and bit_count(xor) verify
    "q_x_phash_dedup" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH cells AS (SELECT doc_id,
         |    [ascii(substr(rpad(text, 70, ' '), k, 1))
         |     for k in range(1, 71)] AS cl
         |  FROM documents),
         |ph AS (SELECT doc_id, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |bands AS (SELECT doc_id, ph, g.b, (ph >> (g.b * 16)) & 65535 AS bv
         |  FROM ph, generate_series(0, 3) g(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    x.ph AS xp, y.ph AS yp
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv
         |    AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(xp, yp)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(xp, yp)) <= 6""".stripMargin
    },
    // the chunk grid replayed on the VARCHAR side (ASCII ⇒ byte slice ==
    // char slice; md5 over the identical bytes), tail-below-chunk kept as
    // the one short frame exactly like substring-on-binary
    // same complete-window grid and two-byte LE sample fold (ord ≡ ascii
    // on the ASCII corpus); odd char positions weigh 1, even weigh 256
    "q_x_audio_energy" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        |    text FROM documents),
        |a AS (SELECT doc_id, kind, text FROM m WHERE kind = 'audio'),
        |g AS (SELECT doc_id, kind, text,
        |    unnest(range(0, CAST(length(text) // 32 AS BIGINT))) AS w
        |  FROM a WHERE length(text) >= 32),
        |e AS (SELECT doc_id, kind, CAST(w AS INT) AS window_idx,
        |    list_reduce(list_transform(range(1, 33), i ->
        |      CAST(ord(substring(text, CAST(w * 32 + i AS INT), 1)) AS BIGINT)
        |        * (CASE WHEN i % 2 = 1 THEN 1 ELSE 256 END)),
        |      (x, y) -> x + y) AS energy
        |  FROM g)
        |SELECT doc_id, kind, window_idx, energy, energy < 400000 AS is_quiet
        |FROM e""".stripMargin,
    // the same cut chain, boundary-run shots, opening-window signatures,
    // band join over the lexicographic (doc, shot) order, Hamming verify
    "q_x_shot_dedup" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH m AS (SELECT doc_id,
         |    list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
         |    text FROM documents),
         |v AS (SELECT doc_id, text FROM m WHERE kind = 'video'),
         |g AS (SELECT doc_id, text,
         |    unnest(range(0, greatest(CAST(length(text) // 32 AS BIGINT) - 1, 0) + 1)) AS i
         |  FROM v),
         |f AS (SELECT doc_id, i, substring(text, CAST(i * 32 + 1 AS INT), 32) AS frame
         |  FROM g WHERE i % 2 = 0),
         |idx AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS frame_idx,
         |    frame FROM f),
         |cells AS (SELECT doc_id, frame_idx,
         |    [ascii(substr(rpad(frame, 70, ' '), k, 1)) for k in range(1, 71)] AS cl
         |  FROM idx),
         |ph AS (SELECT doc_id, frame_idx, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |lg AS (SELECT doc_id, frame_idx, ph,
         |    lag(ph) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM ph),
         |cut AS (SELECT doc_id, frame_idx,
         |    CASE WHEN prev IS NOT NULL AND bit_count(xor(ph, prev)) >= 16
         |         THEN 1 ELSE 0 END AS is_cut FROM lg),
         |sh AS (SELECT doc_id, frame_idx,
         |    CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT)
         |      AS shot_id FROM cut),
         |shots AS (SELECT doc_id, shot_id, min(frame_idx) AS start_f
         |  FROM sh GROUP BY 1, 2),
         |opening AS (SELECT s.doc_id, s.shot_id,
         |    [ascii(substr(rpad(substring(v.text, CAST(s.start_f * 64 + 1 AS INT), 70),
         |       70, ' '), k, 1)) for k in range(1, 71)] AS cl
         |  FROM shots s JOIN v ON v.doc_id = s.doc_id),
         |sig AS (SELECT doc_id, shot_id, CAST($phTerms AS BIGINT) AS sig FROM opening),
         |bands AS (SELECT doc_id, shot_id, sig, g.b AS j, (sig >> (g.b * 16)) & 65535 AS bv
         |  FROM sig, generate_series(0, 3) g(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a_doc, x.shot_id AS a_shot, x.sig AS sa,
         |    y.doc_id AS b_doc, y.shot_id AS b_shot, y.sig AS sb
         |  FROM bands x JOIN bands y ON x.j = y.j AND x.bv = y.bv
         |    AND (x.doc_id < y.doc_id OR (x.doc_id = y.doc_id AND x.shot_id < y.shot_id)))
         |SELECT a_doc, a_shot, b_doc, b_shot,
         |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 6""".stripMargin
    },
    // the same energy grid, voiced filter, and island id over window_idx
    "q_x_vad_segments" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        |    text FROM documents),
        |a AS (SELECT doc_id, text FROM m WHERE kind = 'audio'),
        |g AS (SELECT doc_id, text,
        |    unnest(range(0, CAST(length(text) // 32 AS BIGINT))) AS w
        |  FROM a WHERE length(text) >= 32),
        |e AS (SELECT doc_id, CAST(w AS INT) AS window_idx,
        |    list_reduce(list_transform(range(1, 33), i ->
        |      CAST(ord(substring(text, CAST(w * 32 + i AS INT), 1)) AS BIGINT)
        |        * (CASE WHEN i % 2 = 1 THEN 1 ELSE 256 END)),
        |      (x, y) -> x + y) AS energy
        |  FROM g),
        |v AS (SELECT doc_id, window_idx, energy FROM e WHERE energy >= 400000),
        |isl AS (SELECT doc_id, window_idx, energy,
        |    window_idx - row_number() OVER (PARTITION BY doc_id ORDER BY window_idx) AS g
        |  FROM v)
        |SELECT doc_id, CAST(min(window_idx) AS INT) AS seg_start,
        |  CAST(max(window_idx) AS INT) AS seg_end,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(energy) AS BIGINT) AS total_energy
        |FROM isl GROUP BY doc_id, g""".stripMargin,
    // the same stride-2 frame grid, the 70-cell dHash per frame, and the
    // per-doc lag window over the dense kept-frame index
    "q_x_scene_change" -> {
      val phTerms = (for (r <- 0 until 7; c <- 0 until 9) yield
        s"(CASE WHEN cl[${r * 10 + c + 1}] > cl[${r * 10 + c + 2}] " +
          s"THEN ${1L << (r * 9 + c)} ELSE 0 END)").mkString(" + ")
      s"""WITH m AS (SELECT doc_id,
         |    list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
         |    text FROM documents),
         |v AS (SELECT doc_id, text FROM m WHERE kind = 'video'),
         |g AS (SELECT doc_id, text,
         |    unnest(range(0, greatest(CAST(length(text) // 32 AS BIGINT) - 1, 0) + 1)) AS i
         |  FROM v),
         |f AS (SELECT doc_id, i, substring(text, CAST(i * 32 + 1 AS INT), 32) AS frame
         |  FROM g WHERE i % 2 = 0),
         |idx AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS frame_idx,
         |    frame FROM f),
         |cells AS (SELECT doc_id, frame_idx,
         |    [ascii(substr(rpad(frame, 70, ' '), k, 1)) for k in range(1, 71)] AS cl
         |  FROM idx),
         |ph AS (SELECT doc_id, frame_idx, CAST($phTerms AS BIGINT) AS ph FROM cells),
         |lg AS (SELECT doc_id, frame_idx, ph,
         |    lag(ph) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM ph)
         |SELECT doc_id, frame_idx, CAST(bit_count(xor(ph, prev)) AS BIGINT) AS hamming,
         |  bit_count(xor(ph, prev)) >= 16 AS is_cut
         |FROM lg WHERE prev IS NOT NULL""".stripMargin
    },
    "q_x_frame_sample" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        |    text FROM documents),
        |g AS (SELECT doc_id, kind, text,
        |    unnest(range(0, greatest(CAST(length(text) // 32 AS BIGINT) - 1, 0) + 1)) AS i
        |  FROM m),
        |f AS (SELECT doc_id, kind, i,
        |    substring(text, CAST(i * 32 + 1 AS INT), 32) AS frame
        |  FROM g WHERE i % 2 = 0)
        |SELECT doc_id, kind,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT)
        |    AS frame_idx,
        |  CAST(length(frame) AS BIGINT) AS frame_bytes,
        |  md5(frame) AS frame_digest
        |FROM f""".stripMargin,
    "q_x_mm_meta" ->
      """SELECT list_extract(['image','audio','video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
        |  count(*) AS n_objects,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(max(octet_length(encode(text))) AS INTEGER) AS max_bytes
        |FROM documents GROUP BY 1""".stripMargin,
    // roundtrip identity: decode(encode(row)) must equal the source columns
    "q_x_proto_roundtrip" ->
      """SELECT event_id,
        |  event_type AS type_url,
        |  props AS msg_value,
        |  props AS memo,
        |  'unls' AS denom,
        |  event_id AS amount,
        |  user_id + 100000 AS gas_limit,
        |  2 AS n_msgs,
        |  2 AS n_sigs,
        |  md5(props) AS sig1_hex
        |FROM events""".stripMargin
  )
}
