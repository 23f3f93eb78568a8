package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for hot paths built-ins can't express without
  * blowing up the expression tree (SURVEY.md §7.3 preference order: compose
  * built-ins → custom Expression → custom plan → mapPartitions).
  *
  * Hosted under org.apache.spark.sql because `ExpressionUtils` (Expression ⇄
  * Column bridge) and `AbstractDataType` are private[sql] — the same pattern
  * public Spark extension libraries use. Both expressions participate in
  * whole-stage codegen via a single static call: no boxing, no lambda
  * dispatch, no 64-way expression duplication (the all-built-ins SimHash
  * formulation OOM'd codegen when CollapseProject duplicated the fold once
  * per output bit).
  */
object natives {
  /** 64-bit SimHash over an array of 64-bit token hashes. */
  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(hashes)))

  /** Cosine similarity between two float vectors, double accumulation in
    * element order (bit-reproducible against a strict left-fold oracle).
    */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Intersection size of two SORTED long arrays (single merge walk, zero
    * allocation) — the set-similarity kernel for pair verification.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Signed 64-bit hash = first 8 md5 bytes (big-endian) of the UTF-8 text —
    * identical to CAST('0x'||substr(md5(s),1,16) AS UBIGINT) reinterpreted
    * signed, but computed digest-direct (no hex string / decimal churn).
    */
  def md5Long(c: Column): Column =
    ExpressionUtils.column(Md5Long(ExpressionUtils.expression(c)))

  /** Winnowing fingerprint: Rabin-Karp rolling hashes of byte k-grams,
    * keeping the minimum hash of each sliding window — returns the sorted
    * distinct fingerprint set (array<long>). Standard winnowing guarantee:
    * any shared substring of length ≥ window+k−1 yields a shared fingerprint.
    */
  def winnowFingerprint(c: Column, k: Int = 8, window: Int = 16): Column =
    ExpressionUtils.column(WinnowFingerprint(ExpressionUtils.expression(c), k, window))

  /** MinHash signature in ONE pass over the document: tokenize, build word
    * n-gram shingles, md5+xorshift per seed, track mins — array<long> of
    * `numHashes` minima, null when the doc has fewer than `shingleN` tokens.
    * Bit-identical to the exploded shingle→16-min-agg pipeline (duplicate
    * shingles can't change a min, so no distinct pass is needed), but a
    * narrow map: the signature stage stops shuffling entirely.
    */
  def minhashSig(text: Column, numHashes: Int, shingleN: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(text), numHashes, shingleN))

  /** MinHash signature over CHARACTER n-grams (codepoint-indexed, matching
    * SQL `substr` semantics) in one pass — same seeded md5+xorshift family as
    * [[minhashSig]], null when the text has fewer than `n` codepoints. The
    * content-banding primitive for n-gram Jaccard dedup: gram-level
    * signatures band candidates by CONTENT, where a length bucket is blind
    * to it (and quadratic within bucket).
    */
  def minhashSigChar(text: Column, numHashes: Int, n: Int): Column =
    ExpressionUtils.column(MinHashSigChar(ExpressionUtils.expression(text), numHashes, n))

  /** Sorted distinct 64-bit (md5-derived) hashes of the text's character
    * n-grams in one pass — the exact-verify twin of [[minhashSigChar]]:
    * feed two of these to [[sortedIntersectCount]] for an exact gram
    * Jaccard (exact w.r.t. the string sets up to ~1e-15 collision odds per
    * pair). Replaces the interpreted transform(substr)+hash+sort+distinct
    * higher-order pipeline on the verification hot path. Empty array when
    * the text has fewer than `n` codepoints.
    */
  def gramHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(GramHashes(ExpressionUtils.expression(text), n))

  /** Sorted distinct 64-bit (md5-derived) hashes of the text's word n-gram
    * SHINGLES in one pass — the exact-verify twin of [[minhashSig]], pairing
    * with [[sortedIntersectCount]] for exact shingle Jaccard on candidate
    * pairs (replaces the explode→equi-join→count intersection, which
    * shuffled every candidate doc's shingle set). Empty array when the doc
    * has fewer than `n` tokens.
    */
  def shingleHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), n))

  /** Sorted distinct FULL 16-byte md5 digests of the word n-gram shingles —
    * the 128-bit widening of [[shingleHashes]] for distinct-gram COUNTING
    * at corpus scale (r20): a 64-bit identity expects birthday collisions
    * near ~4.3e9 distinct grams (≈0.3% collision odds at 1e10 grams, the
    * 100 TB regime), silently undercounting a distinct count; both md5
    * halves are collision-free at any realistic corpus (~1e-19 at 1e10).
    * Pairwise-verify consumers (Jaccard on candidate pairs) keep the
    * 64-bit form — per-pair odds there are ~1e-15 and the arrays pair with
    * the zero-allocation sorted-intersect kernels.
    */
  def shingleHashes128(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes128(ExpressionUtils.expression(text), n))

  /** Position-ordered (duplicates kept) md5-derived word n-gram shingle
    * hashes — element i is the shingle starting at token i. The positional
    * twin of [[shingleHashes]]: `posexplode` of this array yields
    * (position, gram-hash) pairs straight from the one-pass kernel, which
    * is what span-level operators (exact duplicate-span removal) need.
    */
  def shingleHashesOrdered(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashesOrdered(ExpressionUtils.expression(text), n))

  /** 64-bit SimHash straight from text in one pass (tokenize → md5 per
    * token → ±1 bit votes). Same result as explode+collect_list+simhash64
    * without the shuffle.
    */
  def simhashText(text: Column): Column =
    ExpressionUtils.column(SimHashText(ExpressionUtils.expression(text)))

  /** First varint field `fieldNo` of a protobuf wire-format message (B13 raw
    * tx decode tier): null when absent. Unknown fields are skipped by wire
    * type, exactly as a generated decoder would.
    */
  def protoVarint(bin: Column, fieldNo: Int): Column =
    ExpressionUtils.column(ProtoVarintField(ExpressionUtils.expression(bin), fieldNo))

  /** First length-delimited field `fieldNo` (bytes / string / submessage) of
    * a protobuf wire-format message; null when absent. Chain calls to walk
    * nested messages.
    */
  def protoBytes(bin: Column, fieldNo: Int): Column =
    ExpressionUtils.column(ProtoBytesField(ExpressionUtils.expression(bin), fieldNo))

  /** EVERY length-delimited occurrence of `fieldNo` in wire order —
    * `array<binary>` (protobuf repeated fields are just repeated tags; the
    * cosmos `TxBody.messages` field the reference iterates in
    * `event_dispatch.rs:246-279` is one). Empty array when absent, null on
    * malformed input.
    */
  def protoBytesAll(bin: Column, fieldNo: Int): Column =
    ExpressionUtils.column(ProtoBytesAllField(ExpressionUtils.expression(bin), fieldNo))

  /** Encode `fieldNo` as a varint (wire type 0) field — tag + zig-zag-free
    * two's-complement varint, the proto3 int64/uint64 encoding. Concat
    * encoded fields to build a message; field order is the canonical
    * ascending-tag layout only if the caller concats in that order.
    */
  def protoEncVarint(v: Column, fieldNo: Int): Column =
    ExpressionUtils.column(ProtoEncodeVarint(ExpressionUtils.expression(v), fieldNo))

  /** Encode `fieldNo` as a length-delimited (wire type 2) field — tag +
    * length varint + raw bytes. Feed a string cast to binary for text
    * fields, or an already-encoded message for nesting.
    */
  def protoEncBytes(b: Column, fieldNo: Int): Column =
    ExpressionUtils.column(ProtoEncodeBytes(ExpressionUtils.expression(b), fieldNo))

  /** Bloom-filter sketch aggregate over a LONG hash column (feed
    * `xxhash64(key)`), emitted as the serialized sketch bytes. This is
    * Spark's own `BloomFilterAggregate` — the sketch behind runtime join
    * filtering — exposed as a Column so the incremental-dedup path can
    * build a key-membership sketch distributively (partial sketches
    * OR-merge map-side; the final sketch is numBits/8 bytes regardless of
    * corpus size).
    */
  /** KMV bottom-k distinct sketch aggregate over a LONG hash column —
    * emitted as the ascending k-smallest-distinct-hashes array (see
    * [[KmvBottomKAgg]]). Mergeable: partial sketches union+truncate
    * map-side; the same aggregate maintains the sketch in a complete-mode
    * stream.
    */
  def kmvBottomK(hash: Column, k: Int): Column =
    ExpressionUtils.column(KmvBottomKAgg(
      ExpressionUtils.expression(hash), k).toAggregateExpression())

  /** Element-wise double-accumulated sum of float vectors (see
    * [[FloatVectorSumAgg]]) — the one-shuffle Lloyd centroid accumulator.
    */
  def floatVectorSum(vec: Column): Column =
    ExpressionUtils.column(FloatVectorSumAgg(
      ExpressionUtils.expression(vec)).toAggregateExpression())

  /** One-pass exact-integer Gram accumulator over int8-quantized vectors —
    * array<struct<i, j, n, sum_qq, sum_qi, sum_qj>> per group, see
    * [[GramAgg]].
    */
  def gramAgg(qv: Column): Column =
    ExpressionUtils.column(GramAgg(
      ExpressionUtils.expression(qv)).toAggregateExpression())

  def bloomAgg(hash: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(hash),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** Membership probe against a [[bloomAgg]] sketch: false ⇒ definitely
    * absent, true ⇒ maybe present (verify exactly downstream). The sketch
    * side must be a plan-time constant (`lit(bytes)`) — the same constraint
    * Spark's InjectRuntimeFilter satisfies with a scalar subquery.
    */
  def bloomMightContain(bloom: Column, hash: Column): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(hash)))

  /** Dot product of two FLOAT vectors with double accumulation in element
    * order — bit-identical to `aggregate(zip_with(a, b, (x, y) ->
    * CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)`,
    * including the null semantics (length mismatch or a null element
    * null-poisons the fold → null), but evaluated as ONE whole-stage-codegen
    * static call instead of an interpreted CodegenFallback HOF chain per row
    * (r19: the coarse-cell ranking spent ~all its time in boxed lambda
    * dispatch).
    */
  def dotFF(a: Column, b: Column): Column =
    ExpressionUtils.column(DotFF(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** [[dotFF]] with a FLOAT left vector and a DOUBLE right vector —
    * bit-identical to `aggregate(zip_with(a, b, (x, h) ->
    * CAST(x AS DOUBLE) * h), 0.0D, +)` (the hyperplane-projection shape:
    * float embeddings against double plane literals).
    */
  def dotFD(a: Column, b: Column): Column =
    ExpressionUtils.column(DotFD(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** [[sqDistDD]] over FLOAT vectors (double accumulation) — the PQ
    * codeword-assignment distance shape.
    */
  def sqDistFF(a: Column, b: Column): Column =
    ExpressionUtils.column(SqDistFF(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Squared L2 distance of two DOUBLE vectors, element-order left fold —
    * bit-identical to `aggregate(zip_with(a, b, (x, c) -> (x-c)*(x-c)),
    * 0.0D, +)` with the same null-poisoning semantics.
    */
  def sqDistDD(a: Column, b: Column): Column =
    ExpressionUtils.column(SqDistDD(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Order-15 2-D Hilbert index over validated [0, 2^15) coordinates —
    * bit-identical to the 15-level `aggregate` fold in
    * [[graft.functions.Ops.hilbertIndex]] (all-integer arithmetic), as one
    * codegen'd static call. Callers keep their own range guard.
    */
  /** 63-bit dHash straight from text in one native call — bit-identical to
    * the `ascii(substring(rpad(text, 70, ' '), k, 1))` comparison tree
    * (see [[DHash63Text]]).
    */
  def dhash63Text(text: Column): Column =
    ExpressionUtils.column(DHash63Text(ExpressionUtils.expression(text)))

  def hilbert2D(x: Column, y: Column): Column =
    ExpressionUtils.column(HilbertIndex2D(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y)))

  /** ADC score: `aggregate(sequence(0, m-1), 0.0D, (a, j) ->
    * a + element_at(lut, j * nCodewords + codes[j]))` straight off the
    * sparse (sub·nCodewords + cell) → partial-dot LUT MAP — same values,
    * same j-ascending fold order, one codegen'd call per candidate row.
    */
  def pqAdcScore(lut: Column, codes: Column, nCodewords: Int): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(lut), ExpressionUtils.expression(codes), nCodewords))
}

/** Winnowing (rolling-hash) document fingerprint — one pass, O(n) per doc,
  * array<long> output sized ~2n/window. Pairs directly with
  * [[SortedIntersectCount]] for fingerprint-overlap similarity.
  */
case class WinnowFingerprint(child: Expression, k: Int, window: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.winnow(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.winnow($c, $k, $window)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** First 8 bytes of md5 as a big-endian signed long — the seeded-hash base
  * for MinHash/SimHash/fingerprints. Bit-identical to the hex-string
  * formulation both engines can express, ~an order of magnitude cheaper.
  */
case class Md5Long(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.md5Long(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.md5Long($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
}

/** SparkSessionExtensions entry point: registers the native expressions as
  * SQL functions (`simhash64`, `cosine_sim`, `sorted_intersect_count`) so
  * `spark.sql(...)` users get them too. Enable with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => LatestPerKeyRule)
    e.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))
    def literalInt(fn: String, argName: String, expr: Expression): Int = {
      require(expr.foldable, s"$fn: $argName must be a literal integer")
      expr.eval() match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"$fn: $argName must be a literal integer, got ${if (other == null) "NULL" else other}")
      }
    }
    def literalFieldNo(fn: String, exprs: Seq[Expression]): Int = {
      require(exprs.length == 2, s"$fn(bin, fieldNo) takes exactly 2 arguments")
      literalInt(fn, "fieldNo", exprs(1))
    }
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "minhash_sig(text, numHashes, shingleN) takes exactly 3 arguments")
        val numHashes = literalInt("minhash_sig", "numHashes", exprs(1))
        val shingleN = literalInt("minhash_sig", "shingleN", exprs(2))
        // non-positive values don't error downstream — they yield empty or
        // constant signatures (every doc colliding), so fail at analysis
        require(numHashes > 0 && shingleN > 0,
          s"minhash_sig: numHashes and shingleN must be positive, got ($numHashes, $shingleN)")
        MinHashSig(exprs.head, numHashes, shingleN)
      }))
    e.injectFunction((FunctionIdentifier("minhash_sig_char"),
      new ExpressionInfo(classOf[MinHashSigChar].getName, "minhash_sig_char"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "minhash_sig_char(text, numHashes, n) takes exactly 3 arguments")
        val numHashes = literalInt("minhash_sig_char", "numHashes", exprs(1))
        val n = literalInt("minhash_sig_char", "n", exprs(2))
        require(numHashes > 0 && n > 0,
          s"minhash_sig_char: numHashes and n must be positive, got ($numHashes, $n)")
        MinHashSigChar(exprs.head, numHashes, n)
      }))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "shingle_hashes(text, n) takes exactly 2 arguments")
        val n = literalInt("shingle_hashes", "n", exprs(1))
        require(n > 0, s"shingle_hashes: n must be positive, got $n")
        ShingleHashes(exprs.head, n)
      }))
    e.injectFunction((FunctionIdentifier("shingle_hashes_ordered"),
      new ExpressionInfo(classOf[ShingleHashesOrdered].getName, "shingle_hashes_ordered"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "shingle_hashes_ordered(text, n) takes exactly 2 arguments")
        val n = literalInt("shingle_hashes_ordered", "n", exprs(1))
        require(n > 0, s"shingle_hashes_ordered: n must be positive, got $n")
        ShingleHashesOrdered(exprs.head, n)
      }))
    e.injectFunction((FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashes].getName, "gram_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "gram_hashes(text, n) takes exactly 2 arguments")
        val n = literalInt("gram_hashes", "n", exprs(1))
        require(n > 0, s"gram_hashes: n must be positive, got $n")
        GramHashes(exprs.head, n)
      }))
    e.injectFunction((FunctionIdentifier("simhash_text"),
      new ExpressionInfo(classOf[SimHashText].getName, "simhash_text"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "simhash_text(text) takes exactly 1 argument")
        SimHashText(exprs.head)
      }))
    e.injectFunction((FunctionIdentifier("proto_varint"),
      new ExpressionInfo(classOf[ProtoVarintField].getName, "proto_varint"),
      (exprs: Seq[Expression]) =>
        ProtoVarintField(exprs(0), literalFieldNo("proto_varint", exprs))))
    e.injectFunction((FunctionIdentifier("proto_bytes"),
      new ExpressionInfo(classOf[ProtoBytesField].getName, "proto_bytes"),
      (exprs: Seq[Expression]) =>
        ProtoBytesField(exprs(0), literalFieldNo("proto_bytes", exprs))))
    e.injectFunction((FunctionIdentifier("proto_bytes_all"),
      new ExpressionInfo(classOf[ProtoBytesAllField].getName, "proto_bytes_all"),
      (exprs: Seq[Expression]) =>
        ProtoBytesAllField(exprs(0), literalFieldNo("proto_bytes_all", exprs))))
    e.injectFunction((FunctionIdentifier("proto_enc_varint"),
      new ExpressionInfo(classOf[ProtoEncodeVarint].getName, "proto_enc_varint"),
      (exprs: Seq[Expression]) =>
        ProtoEncodeVarint(exprs(0), literalFieldNo("proto_enc_varint", exprs))))
    e.injectFunction((FunctionIdentifier("proto_enc_bytes"),
      new ExpressionInfo(classOf[ProtoEncodeBytes].getName, "proto_enc_bytes"),
      (exprs: Seq[Expression]) =>
        ProtoEncodeBytes(exprs(0), literalFieldNo("proto_enc_bytes", exprs))))
    // Sketch-column family (SketchExpressions.scala). The analyzer wraps a
    // bare AggregateFunction in an AggregateExpression during resolution,
    // so injecting the function constructor is enough for SQL use.
    e.injectFunction((FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "cms_sketch(term, depth, width) takes exactly 3 arguments")
        CmsAgg(exprs.head, literalInt("cms_sketch", "depth", exprs(1)),
          literalInt("cms_sketch", "width", exprs(2)))
      }))
    e.injectFunction((FunctionIdentifier("long_vector_sum"),
      new ExpressionInfo(classOf[LongVectorSumAgg].getName, "long_vector_sum"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "long_vector_sum(vec) takes exactly 1 argument")
        LongVectorSumAgg(exprs.head)
      }))
    e.injectFunction((FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          "cms_estimate(counters, term, depth, width) takes exactly 4 arguments")
        CmsEstimate(exprs(0), exprs(1), literalInt("cms_estimate", "depth", exprs(2)),
          literalInt("cms_estimate", "width", exprs(3)))
      }))
    e.injectFunction((FunctionIdentifier("theta_sketch"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "theta_sketch(key, lgK) takes exactly 2 arguments")
        ThetaSketchAgg(exprs.head, literalInt("theta_sketch", "lgK", exprs(1)))
      }))
    e.injectFunction((FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "theta_estimate(sketch) takes exactly 1 argument")
        ThetaEstimate(exprs.head)
      }))
    e.injectFunction((FunctionIdentifier("theta_intersect"),
      new ExpressionInfo(classOf[ThetaIntersectEstimate].getName, "theta_intersect"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "theta_intersect(a, b) takes exactly 2 arguments")
        ThetaIntersectEstimate(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("theta_diff"),
      new ExpressionInfo(classOf[ThetaAnotBEstimate].getName, "theta_diff"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "theta_diff(a, b) takes exactly 2 arguments")
        ThetaAnotBEstimate(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("dot_ff"),
      new ExpressionInfo(classOf[DotFF].getName, "dot_ff"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "dot_ff(a, b) takes exactly 2 arguments")
        DotFF(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("dot_fd"),
      new ExpressionInfo(classOf[DotFD].getName, "dot_fd"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "dot_fd(a, b) takes exactly 2 arguments")
        DotFD(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("sq_dist_ff"),
      new ExpressionInfo(classOf[SqDistFF].getName, "sq_dist_ff"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "sq_dist_ff(a, b) takes exactly 2 arguments")
        SqDistFF(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("sq_dist_dd"),
      new ExpressionInfo(classOf[SqDistDD].getName, "sq_dist_dd"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "sq_dist_dd(a, b) takes exactly 2 arguments")
        SqDistDD(exprs(0), exprs(1))
      }))
    e.injectFunction((FunctionIdentifier("pq_adc_score"),
      new ExpressionInfo(classOf[PqAdcScore].getName, "pq_adc_score"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          "pq_adc_score(lut, codes, nCodewords) takes exactly 3 arguments")
        PqAdcScore(exprs(0), exprs(1), literalInt("pq_adc_score", "nCodewords", exprs(2)))
      }))
  }
}

/** One-pass SimHash: counts[i] += ±1 per token-hash bit, result bit i set
  * iff counts[i] > 0.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** dot(a,b) / (|a|·|b|) over float vectors, double accumulators, strict
  * element order; 0.0 when either norm is zero; throws on ragged input
  * (silent truncation would quietly corrupt similarity scores).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.NativeKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two sorted (ascending, distinct) long arrays via merge walk —
  * O(|A|+|B|), no per-row hash sets. The candidate-pair verification hot
  * path: with hashed n-grams this replaces string-set intersection.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sortedIntersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.NativeKernels.sortedIntersect($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** One-pass MinHash signature over text (see [[natives.minhashSig]]).
  * Tokenization matches `split(trim(text), "\\s+")` exactly — UTF8String
  * space-trim + Java regex split — so results are bit-identical to the
  * built-ins pipeline and its DuckDB oracle.
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleN: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    NativeKernels.minhashSig(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numHashes, shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName: two instances in one stage over a non-nullable child
      // would otherwise declare duplicate locals and break Janino
      val v = ctx.freshName("minhashSig")
      s"""org.apache.spark.sql.catalyst.util.GenericArrayData $v =
         |  org.apache.spark.sql.graft.NativeKernels.minhashSig($c, $numHashes, $shingleN);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** One-pass MinHash signature over character n-grams (see
  * [[natives.minhashSigChar]]). Grams are codepoint-indexed substrings —
  * identical to `substr(text, i, n)` in Spark and DuckDB — hashed over their
  * UTF-8 bytes, so signatures are bit-reproducible in the SQL oracle.
  */
case class MinHashSigChar(child: Expression, numHashes: Int, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    NativeKernels.minhashSigChar(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], numHashes, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("minhashSigChar")
      s"""org.apache.spark.sql.catalyst.util.GenericArrayData $v =
         |  org.apache.spark.sql.graft.NativeKernels.minhashSigChar($c, $numHashes, $n);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinHashSigChar =
    copy(child = newChild)
}

/** Sorted distinct md5-derived hashes of word n-gram shingles (see
  * [[natives.shingleHashes]]). Non-null: shingle-less short docs yield an
  * empty array.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.shingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Sorted distinct full 16-byte md5 digests of word n-gram shingles (see
  * [[natives.shingleHashes128]]). Non-null: shingle-less short docs yield an
  * empty array.
  */
case class ShingleHashes128(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.shingleHashes128(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.shingleHashes128($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes128 =
    copy(child = newChild)
}

/** Position-ordered md5-derived hashes of word n-gram shingles (see
  * [[natives.shingleHashesOrdered]]): element i = shingle starting at token
  * i, duplicates kept. Non-null: shingle-less short docs yield an empty
  * array.
  */
case class ShingleHashesOrdered(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.shingleHashesOrdered(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.shingleHashesOrdered($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesOrdered =
    copy(child = newChild)
}

/** Sorted distinct md5-derived hashes of character n-grams (see
  * [[natives.gramHashes]]). Non-null: gram-less short texts yield an empty
  * array (Jaccard 0 against everything, matching the SQL `list_distinct` of
  * an empty comprehension).
  */
case class GramHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.gramHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.gramHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** One-pass SimHash from text (see [[natives.simhashText]]). */
case class SimHashText(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.simhashText(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.simhashText($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

/** First varint field with number `fieldNo` from protobuf wire format —
  * nullable long (protobuf fields are optional by construction). The raw-tx
  * decode tier (SURVEY B13): the reference decodes cosmos tx protobuf
  * upstream of SQL; this expression gives the engine the same wire-walking
  * primitive without any generated classes.
  */
case class ProtoVarintField(child: Expression, fieldNo: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    NativeKernels.protoVarint(input.asInstanceOf[Array[Byte]], fieldNo)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("protoVarint")
      s"""java.lang.Long $v = org.apache.spark.sql.graft.NativeKernels.protoVarint($c, $fieldNo);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.longValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ProtoVarintField =
    copy(child = newChild)
}

/** First length-delimited field (bytes/string/submessage) with number
  * `fieldNo` from protobuf wire format — nullable binary. Chain to descend
  * into nested messages, cast to string for text fields.
  */
case class ProtoBytesField(child: Expression, fieldNo: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    NativeKernels.protoBytes(input.asInstanceOf[Array[Byte]], fieldNo)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("protoBytes")
      s"""byte[] $v = org.apache.spark.sql.graft.NativeKernels.protoBytes($c, $fieldNo);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ProtoBytesField =
    copy(child = newChild)
}

/** All length-delimited occurrences of field `fieldNo` in wire order —
  * repeated-field decode (cosmos `TxBody.messages`, `Fee.amount`,
  * `TxRaw.signatures`). Empty array when the field is absent (a valid
  * message with zero occurrences), null only on malformed wire data.
  */
case class ProtoBytesAllField(child: Expression, fieldNo: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    NativeKernels.protoBytesAll(input.asInstanceOf[Array[Byte]], fieldNo)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("protoBytesAll")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $v =
         |  org.apache.spark.sql.graft.NativeKernels.protoBytesAll($c, $fieldNo);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ProtoBytesAllField =
    copy(child = newChild)
}

/** Wire-type-0 field encoder: tag varint + value varint (proto3
  * int64/uint64 layout — negatives take the canonical 10-byte form).
  * Together with [[ProtoEncodeBytes]] this closes the B13 codec: the same
  * engine that decodes raw tx bytes can produce them, so the decode tier is
  * testable end-to-end with no generated classes.
  */
case class ProtoEncodeVarint(child: Expression, fieldNo: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.protoEncVarint(fieldNo, input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.NativeKernels.protoEncVarint($fieldNo, $c)")
  override protected def withNewChildInternal(newChild: Expression): ProtoEncodeVarint =
    copy(child = newChild)
}

/** Wire-type-2 field encoder: tag varint + length varint + raw bytes.
  * Nest messages by encoding the inner message first and feeding its bytes
  * back through another ProtoEncodeBytes.
  */
case class ProtoEncodeBytes(child: Expression, fieldNo: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.protoEncBytes(fieldNo, input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.NativeKernels.protoEncBytes($fieldNo, $c)")
  override protected def withNewChildInternal(newChild: Expression): ProtoEncodeBytes =
    copy(child = newChild)
}

/** Bridges to [[org.apache.spark.sql.Observation]] internals, kept in this
  * package like the other private[sql] surfaces.
  */
object ObservationBridge {
  /** Non-blocking read of an Observation's metrics: `Map.empty` until the
    * listener has delivered them. Reads the public `future` directly — the
    * blocking `get` would deadlock when AQE's empty-relation propagation
    * prunes the CollectMetrics node, and `getOrEmpty` waits up to 100 ms
    * per call, then throws a NullPointerException on an undelivered
    * observation (its empty fallback row has no schema).
    */
  def peek(o: org.apache.spark.sql.Observation): Map[String, Any] =
    o.future.value match {
      case Some(scala.util.Success(row)) if row != null && row.schema != null =>
        row.getValuesMap[Any](row.schema.fieldNames.toSeq)
      case _ => Map.empty
    }

  /** Best-effort removal of a never-completed Observation from the
    * session's ObservationManager registry (r20): when AQE's
    * empty-relation propagation prunes a CollectMetrics node, the
    * manager's `tryComplete` never fires for that plan and the observation
    * entry stays in its pending map for the life of the session — one
    * leaked entry per pruned iterative round. The map is private, so this
    * reaches it reflectively; any failure (a future Spark rename) is
    * swallowed — the leak is small and the fallback path already ran.
    * Returns true when an entry was removed.
    */
  def discard(spark: org.apache.spark.sql.SparkSession,
      o: org.apache.spark.sql.Observation): Boolean =
    try {
      val mgr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .observationManager
      val f = mgr.getClass.getDeclaredField("observations")
      f.setAccessible(true)
      val m = f.get(mgr)
        .asInstanceOf[java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]]
      val it = m.entrySet().iterator()
      var removed = false
      while (it.hasNext) {
        if (it.next().getValue eq o) { it.remove(); removed = true }
      }
      removed
    } catch { case scala.util.control.NonFatal(_) => false }
}

/** Dot product over two float arrays, double accumulation in element order.
  * Nullable: a length mismatch or null element mirrors the zip_with padding /
  * null-poisoned fold of the built-ins formulation it replaces (boxed Double
  * return, null ⇒ SQL NULL).
  */
case class DotFF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("dotFF")
      s"""java.lang.Double $v = org.apache.spark.sql.graft.NativeKernels.dotFF($a, $b);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotFF =
    copy(left = newLeft, right = newRight)
}

/** Dot product of a float array against a double array (hyperplane shape),
  * double accumulation in element order; null semantics as [[DotFF]].
  */
case class DotFD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.dotFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("dotFD")
      s"""java.lang.Double $v = org.apache.spark.sql.graft.NativeKernels.dotFD($a, $b);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotFD =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two float arrays (double accumulation),
  * element-order left fold; null semantics as [[DotFF]].
  */
case class SqDistFF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sqDistFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("sqDistFF")
      s"""java.lang.Double $v = org.apache.spark.sql.graft.NativeKernels.sqDistFF($a, $b);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SqDistFF =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two double arrays, element-order left fold; null
  * semantics as [[DotFF]].
  */
case class SqDistDD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sqDistDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val v = ctx.freshName("sqDistDD")
      s"""java.lang.Double $v = org.apache.spark.sql.graft.NativeKernels.sqDistDD($a, $b);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SqDistDD =
    copy(left = newLeft, right = newRight)
}

/** Order-15 2-D Hilbert curve index (d2xy fold, all-integer) — the
  * [[graft.functions.Ops.hilbertIndex]] 15-level aggregate() fold as one
  * static call. Inputs must already be validated to [0, 2^15).
  */
/** 63-bit difference hash (dHash) straight from a text column in one native
  * pass (r20) — bit (r, c) = cell(r·10+c) > cell(r·10+c+1) over the first
  * 70 code points (space-padded below 70), exactly the
  * `ascii(substring(rpad(text, 70, ' '), k, 1))` cell grid of the
  * Column-tree form (Spark's ascii returns the CODE POINT — probe-pinned)
  * — but one call instead of ~140 codegen'd rpad/substring/ascii nodes per
  * row. NULL text gives NULL (the Column tree gives 0L; the contract is on
  * [[graft.operators.Multimodal.dHash63Text]]). MultimodalSpec pins
  * bit-parity against the Column tree, including multi-byte, short and
  * NULL inputs.
  */
case class DHash63Text(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    NativeKernels.dhash63Text(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graft.NativeKernels.dhash63Text($c)")
  override protected def withNewChildInternal(newChild: Expression): DHash63Text =
    copy(child = newChild)
}

case class HilbertIndex2D(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any): Any =
    NativeKernels.hilbert2D(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"org.apache.spark.sql.graft.NativeKernels.hilbert2D($x, $y)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HilbertIndex2D =
    copy(left = newLeft, right = newRight)
}

/** ADC score fold STRAIGHT OFF THE SPARSE LUT MAP: one native pass over the
  * map's entries gathers the m addressed partial dots (key j·nCodewords +
  * codes[j]), then folds them j-ASCENDING with double accumulation — the
  * exact `aggregate(sequence(0, m-1), 0.0, (a, j) -> a + element_at(lut,
  * …))` values and association order, without m interpreted linear-scan
  * GetMapValue calls per candidate row. (A dense positional-array LUT was
  * tried first and REVERTED: CollapseProject inlines the map construction
  * into the densify-transform's lambda, rebuilding the 128-dot map once per
  * element — the dHash63Text hazard — which doubled q_x_ann_index_serve_pq.)
  * A missing key (impossible by construction — codes come from the same
  * codebook) yields null.
  */
case class PqAdcScore(left: Expression, right: Expression, nCodewords: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(MapType(IntegerType, DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(lut: Any, codes: Any): Any =
    NativeKernels.pqAdcScore(
      lut.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      codes.asInstanceOf[ArrayData], nCodewords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val v = ctx.freshName("adc")
      s"""java.lang.Double $v = org.apache.spark.sql.graft.NativeKernels.pqAdcScore($lut, $codes, $nCodewords);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Static kernels invoked from generated code. */
object NativeKernels {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Long(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** Count-min-sketch row hash: bucket_i(term) = pmod(md5Long64("cms<i>:" +
    * term), width). The "cms"+i+":" prefix is pure ASCII, so the digest
    * input equals the UTF-8 bytes of the concatenated string and DuckDB
    * replays it verbatim as md5('cms' || CAST(i AS VARCHAR) || ':' || term)
    * — the property that makes CMS counters (and therefore estimates)
    * hash-checkable integers rather than engine-private sketch state.
    * Prefixes for the practical depth range are built once.
    */
  private val cmsPrefixes: Array[Array[Byte]] =
    Array.tabulate(16)(i =>
      ("cms" + i + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def cmsBucket(term: org.apache.spark.unsafe.types.UTF8String, i: Int, width: Int): Int = {
    val prefix =
      if (i < cmsPrefixes.length) cmsPrefixes(i)
      else ("cms" + i + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tb = term.getBytes
    val buf = new Array[Byte](prefix.length + tb.length)
    System.arraycopy(prefix, 0, buf, 0, prefix.length)
    System.arraycopy(tb, 0, buf, prefix.length, tb.length)
    val h = md5LongBytes(buf, 0, buf.length)
    (((h % width) + width) % width).toInt
  }

  /** CMS point estimate: min over the depth rows of the counter each row
    * hashes the term to. Counters are the row-major long array CmsAgg
    * emits; a zero counter (term absent from the sketched stream AND no
    * collision) correctly estimates 0.
    */
  def cmsEstimate(counters: ArrayData, term: org.apache.spark.unsafe.types.UTF8String,
      depth: Int, width: Int): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counters.getLong(i * width + cmsBucket(term, i, width))
      if (c < min) min = c
      i += 1
    }
    min
  }

  def simhash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var k = 0
    while (k < n) {
      val h = arr.getLong(k)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      k += 1
    }
    var r = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) r |= (1L << i)
      i += 1
    }
    r
  }

  /** Rabin-Karp + winnowing over UTF-8 bytes; deterministic base/modulus. */
  def winnow(s: org.apache.spark.unsafe.types.UTF8String, k: Int, window: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val B = 1000003L
    val M = (1L << 61) - 1 // Mersenne prime; products fit via 128-bit Math.multiplyHigh-free path
    def mulMod(a: Long, b: Long): Long = {
      // (a*b) mod 2^61-1 using Math.multiplyHigh
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      // split into low 61 bits and the rest
      val lo61 = lo & M
      val rest = (hi << 3) | (lo >>> 61)
      val r = lo61 + rest
      if (r >= M) r - M else r
    }
    // rolling hash of k-grams
    var bk = 1L
    var i = 0
    while (i < k - 1) { bk = mulMod(bk, B); i += 1 } // B^(k-1)
    val nh = n - k + 1
    val hashes = new Array[Long](nh)
    var h = 0L
    i = 0
    while (i < k) { h = (mulMod(h, B) + (bytes(i) & 0xFF)) % M; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nh) {
      h = (h + M - mulMod((bytes(i - 1) & 0xFF).toLong, bk)) % M
      h = (mulMod(h, B) + (bytes(i + k - 1) & 0xFF)) % M
      hashes(i) = h
      i += 1
    }
    // winnow: min of each sliding window (rightmost min on ties)
    val picks = scala.collection.mutable.SortedSet.empty[Long]
    val w = math.min(window, nh)
    var start = 0
    while (start + w <= nh) {
      var minIdx = start
      var j = start + 1
      while (j < start + w) {
        if (hashes(j) <= hashes(minIdx)) minIdx = j
        j += 1
      }
      picks += hashes(minIdx)
      start += 1
    }
    if (picks.isEmpty) picks += hashes.min
    new org.apache.spark.sql.catalyst.util.GenericArrayData(picks.toArray)
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** splitmix64 — the seed-constant generator shared with the SQL oracle
    * (graft.operators.Dedup delegates here; single source of truth).
    */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** xorshift64 mix — bit-identical to the Column/SQL formulation. */
  @inline private def xs64(z0: Long): Long = {
    var z = z0 ^ (z0 << 13)
    z = z ^ (z >>> 7)
    z ^ (z << 17)
  }

  private def md5LongBytes(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = digest.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** Tokens exactly as `split(trim(text), "\\s+")` produces them: UTF8String
    * space-trim (0x20 only — Java's String.trim would also eat tabs and
    * diverge), then Java-regex split with limit -1.
    */
  private def tokensOf(s: org.apache.spark.unsafe.types.UTF8String): Array[String] =
    wsPattern.split(s.trim().toString, -1)

  /** One-pass MinHash signature; null when the doc has < shingleN tokens
    * (the exploded pipeline emits no row for such docs). Duplicate shingles
    * are hashed redundantly rather than deduped — a min is insensitive to
    * them, and skipping the per-doc distinct set is cheaper.
    */
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def seedsFor(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes, n => Array.tabulate(n)(i => splitmix64(i.toLong)))

  def minhashSig(s: org.apache.spark.unsafe.types.UTF8String, numHashes: Int, shingleN: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = tokensOf(s)
    if (toks.length < shingleN) return null
    val seeds = seedsFor(numHashes) // per-query constant — memoized, not per row
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var k = 0
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    val last = toks.length - shingleN
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < shingleN) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h0 = md5LongBytes(bytes, 0, bytes.length)
      k = 0
      while (k < numHashes) {
        val h = xs64(h0 ^ seeds(k))
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** One-pass MinHash signature over character n-grams; null when the text
    * has fewer than n codepoints (no grams — such docs can't band). Grams are
    * codepoint-indexed (`substr` semantics in both engines) and hashed over
    * UTF-8 bytes; duplicate grams are hashed redundantly — a min is
    * insensitive to them, same argument as [[minhashSig]].
    */
  def minhashSigChar(s: org.apache.spark.unsafe.types.UTF8String, numHashes: Int, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    // A codepoint substring in UTF-8 is exactly the byte slice between its
    // codepoint byte offsets, so grams are hashed as slices of ONE shared
    // byte array — no per-gram String/substring/getBytes allocation (the
    // allocation path was ~2× the md5 cost at ~2k grams/doc).
    val bytes = s.getBytes
    val len = bytes.length
    var cp = 0
    var i = 0
    while (i < len) { // codepoint starts = non-continuation bytes
      if ((bytes(i) & 0xC0) != 0x80) cp += 1
      i += 1
    }
    if (cp < n) return null
    val offs = new Array[Int](cp + 1)
    var k = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(k) = i; k += 1 }
      i += 1
    }
    offs(cp) = len
    val seeds = seedsFor(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var g = 0
    val last = cp - n
    while (g <= last) {
      val h0 = md5LongBytes(bytes, offs(g), offs(g + n) - offs(g))
      k = 0
      while (k < numHashes) {
        val h = xs64(h0 ^ seeds(k))
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Sorted distinct md5-derived 64-bit hashes of the codepoint n-grams —
    * same byte-slice walk as [[minhashSigChar]]; pairs with
    * [[sortedIntersect]] for exact gram Jaccard on candidates.
    */
  def gramHashes(s: org.apache.spark.unsafe.types.UTF8String, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var cp = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) cp += 1
      i += 1
    }
    if (cp < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val offs = new Array[Int](cp + 1)
    var k = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { offs(k) = i; k += 1 }
      i += 1
    }
    offs(cp) = len
    val hs = new Array[Long](cp - n + 1)
    var g = 0
    while (g <= cp - n) {
      hs(g) = md5LongBytes(bytes, offs(g), offs(g + n) - offs(g))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sortDistinct(hs))
  }

  /** Sorted distinct md5-derived hashes of word n-gram shingles — shingle
    * construction identical to [[minhashSig]] (space-joined tokens), pairs
    * with [[sortedIntersect]] for exact shingle Jaccard.
    */
  def shingleHashes(s: org.apache.spark.unsafe.types.UTF8String, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sortDistinct(shingleHashArray(s, n)))

  /** Sorted distinct FULL 16-byte md5 digests of word n-gram shingles —
    * the 128-bit gram identity (see [[natives.shingleHashes128]]). Shingle
    * construction identical to [[shingleHashes]]; only the hash width
    * differs (whole digest instead of the first 8 bytes).
    */
  def shingleHashes128(s: org.apache.spark.unsafe.types.UTF8String, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = tokensOf(s)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Array[Byte]])
    val md = digest.get()
    val out = new Array[Array[Byte]](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    val last = toks.length - n
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      md.update(bytes, 0, bytes.length)
      out(i) = md.digest()
      i += 1
    }
    // sort (signed lexicographic — consumers only need SOME total order for
    // dedup; counting is order-blind) + adjacent dedupe
    java.util.Arrays.sort(out,
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compare(a, b))
    var w = 0
    i = 1
    while (i < out.length) {
      if (!java.util.Arrays.equals(out(i), out(w))) { w += 1; out(w) = out(i) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w + 1 == out.length) out else java.util.Arrays.copyOf(out, w + 1))
  }

  /** Position-ordered md5-derived hashes of word n-gram shingles — element
    * i is the shingle STARTING at token i, duplicates kept. The positional
    * twin of [[shingleHashes]] for span-level operators (duplicate-span
    * removal needs to map a duplicated gram back to the token range it
    * covers, which the sorted-distinct form erases).
    */
  def shingleHashesOrdered(s: org.apache.spark.unsafe.types.UTF8String, n: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(shingleHashArray(s, n))

  private def shingleHashArray(s: org.apache.spark.unsafe.types.UTF8String, n: Int): Array[Long] = {
    val toks = tokensOf(s)
    if (toks.length < n) return Array.empty[Long]
    val hs = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    val last = toks.length - n
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      hs(i) = md5LongBytes(bytes, 0, bytes.length)
      i += 1
    }
    hs
  }

  /** Sort + in-place dedupe; returns the (possibly shorter) array. */
  private def sortDistinct(hs: Array[Long]): Array[Long] = {
    if (hs.isEmpty) return hs
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 1
    while (i < hs.length) {
      if (hs(i) != hs(w)) { w += 1; hs(w) = hs(i) }
      i += 1
    }
    if (w + 1 == hs.length) hs else java.util.Arrays.copyOf(hs, w + 1)
  }

  /** One-pass SimHash from text: every token (including the empty token a
    * blank doc tokenizes to — parity with the exploded pipeline) votes ±1
    * per bit of its md5-derived hash.
    */
  def simhashText(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val toks = tokensOf(s)
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val bytes = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = md5LongBytes(bytes, 0, bytes.length)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var r = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) r |= (1L << i)
      i += 1
    }
    r
  }

  /** Reads a varint at `pos`; returns (value, nextPos) packed — value in the
    * low path via the array. Malformed input yields null at the callers.
    */
  private def readVarint(b: Array[Byte], pos0: Int): (Long, Int) = {
    var v = 0L
    var shift = 0
    var pos = pos0
    while (pos < b.length && shift < 64) {
      val x = b(pos)
      v |= (x & 0x7FL) << shift
      pos += 1
      if ((x & 0x80) == 0) return (v, pos)
      shift += 7
    }
    (v, -1) // truncated / overlong
  }

  /** Walk protobuf wire format, return the first field matching `fieldNo`
    * with the wanted wire type: 0 = varint (Long), 2 = length-delimited
    * (Array[Byte]). Null for absent field or malformed input — decode
    * failures are data, not exceptions, at ETL scale.
    */
  private def protoWalk(b: Array[Byte], fieldNo: Int, wantWire: Int): Any = {
    var pos = 0
    while (pos < b.length) {
      val (key, p1) = readVarint(b, pos)
      if (p1 < 0) return null
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      pos = p1
      wire match {
        case 0 =>
          val (v, p2) = readVarint(b, pos)
          if (p2 < 0) return null
          if (field == fieldNo && wantWire == 0) return java.lang.Long.valueOf(v)
          pos = p2
        case 1 => pos += 8
        case 2 =>
          val (len, p2) = readVarint(b, pos)
          if (p2 < 0 || len < 0 || p2 + len > b.length) return null
          if (field == fieldNo && wantWire == 2)
            return java.util.Arrays.copyOfRange(b, p2, p2 + len.toInt)
          pos = p2 + len.toInt
        case 5 => pos += 4
        case _ => return null // groups (3/4) are pre-proto2 legacy; treat as malformed
      }
    }
    null
  }

  def protoVarint(b: Array[Byte], fieldNo: Int): java.lang.Long =
    protoWalk(b, fieldNo, 0).asInstanceOf[java.lang.Long]

  def protoBytes(b: Array[Byte], fieldNo: Int): Array[Byte] =
    protoWalk(b, fieldNo, 2).asInstanceOf[Array[Byte]]

  /** Every length-delimited occurrence of `fieldNo`, wire order. Unlike
    * protoWalk this cannot early-return on a hit, so malformed data after a
    * valid occurrence still nulls the whole decode — the strict choice:
    * partial reads of a corrupt message are worse than no read.
    */
  def protoBytesAll(b: Array[Byte], fieldNo: Int): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = 0
    while (pos < b.length) {
      val (key, p1) = readVarint(b, pos)
      if (p1 < 0) return null
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      pos = p1
      wire match {
        case 0 =>
          val (_, p2) = readVarint(b, pos)
          if (p2 < 0) return null
          pos = p2
        case 1 =>
          // bounds-checked, unlike protoWalk's skip: there an overshoot
          // falls out of the loop into the not-found null, here it would
          // return the partial occurrence array and break the strict
          // malformed-nulls-the-decode contract above
          if (pos + 8 > b.length) return null
          pos += 8
        case 2 =>
          val (len, p2) = readVarint(b, pos)
          if (p2 < 0 || len < 0 || p2 + len > b.length) return null
          if (field == fieldNo) out += java.util.Arrays.copyOfRange(b, p2, p2 + len.toInt)
          pos = p2 + len.toInt
        case 5 =>
          if (pos + 4 > b.length) return null
          pos += 4
        case _ => return null
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Two's-complement varint (proto3 int64): 1-10 bytes, negatives always
    * 10 (the sign bits ride the high continuation groups).
    */
  private def varintBytes(v0: Long): Array[Byte] = {
    val buf = new Array[Byte](10)
    var v = v0
    var i = 0
    while ((v & ~0x7FL) != 0L) {
      buf(i) = ((v & 0x7FL) | 0x80L).toByte
      v >>>= 7
      i += 1
    }
    buf(i) = v.toByte
    java.util.Arrays.copyOf(buf, i + 1)
  }

  def protoEncVarint(fieldNo: Int, v: Long): Array[Byte] = {
    val tag = varintBytes((fieldNo.toLong << 3) | 0L)
    val body = varintBytes(v)
    val out = new Array[Byte](tag.length + body.length)
    System.arraycopy(tag, 0, out, 0, tag.length)
    System.arraycopy(body, 0, out, tag.length, body.length)
    out
  }

  def protoEncBytes(fieldNo: Int, b: Array[Byte]): Array[Byte] = {
    val tag = varintBytes((fieldNo.toLong << 3) | 2L)
    val len = varintBytes(b.length.toLong)
    val out = new Array[Byte](tag.length + len.length + b.length)
    System.arraycopy(tag, 0, out, 0, tag.length)
    System.arraycopy(len, 0, out, tag.length, len.length)
    System.arraycopy(b, 0, out, tag.length + len.length, b.length)
    out
  }

  def sortedIntersect(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Double-accumulated float dot in element order; null mirrors the
    * zip_with/aggregate built-ins chain (length mismatch pads null, a null
    * element poisons the fold).
    */
  def dotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Float×double dot (hyperplane-projection shape), same contract. */
  def dotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Squared L2 over float arrays (double accumulation), element-order
    * fold, same contract.
    */
  def sqDistFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Squared L2 over double arrays, element-order fold, same contract. */
  def sqDistDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Order-15 2-D Hilbert d2xy fold — the exact integer recurrence of
    * Ops.hilbertIndex's aggregate() formulation, one level at a time from
    * bit 14 down to 0.
    */
  /** 63-bit dHash over the first 70 code points (space-padded) — the
    * native twin of the ascii/substring/rpad Column tree (see
    * [[natives.dhash63Text]]). Cells are CODE POINTS (Spark's `ascii`),
    * decoded by the same UTF-8 → String path Spark's string ops use.
    */
  def dhash63Text(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    val cells = new Array[Int](70)
    var i = 0
    var k = 0
    val n = str.length
    while (k < 70 && i < n) {
      val cp = str.codePointAt(i)
      cells(k) = cp
      i += Character.charCount(cp)
      k += 1
    }
    while (k < 70) { cells(k) = 32; k += 1 }
    var h = 0L
    var r = 0
    while (r < 7) {
      var c = 0
      while (c < 9) {
        if (cells(r * 10 + c) > cells(r * 10 + c + 1)) h |= 1L << (r * 9 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  def hilbert2D(x0: Long, y0: Long): Long = {
    var d = 0L
    var cx = x0
    var cy = y0
    var i = 14
    while (i >= 0) {
      val rx = (cx >> i) & 1L
      val ry = (cy >> i) & 1L
      d += (1L << (i * 2)) * ((rx * 3L) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          val nx = 0x7FFFL - cy
          val ny = 0x7FFFL - cx
          cx = nx
          cy = ny
        } else {
          val t = cx
          cx = cy
          cy = t
        }
      }
      i -= 1
    }
    d
  }

  /** ADC fold off the sparse LUT map: gather the m addressed partial dots
    * in ONE pass over the map's entry arrays, then fold j-ascending (double
    * accumulation) — same values, same association order as the
    * element_at(map, …) sequence fold. Null on a missing key / null value /
    * null code (the null-poisoned-fold semantics).
    */
  def pqAdcScore(lut: org.apache.spark.sql.catalyst.util.MapData,
      codes: ArrayData, nCw: Int): java.lang.Double = {
    val m = codes.numElements()
    val wanted = new Array[Int](m)
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      wanted(j) = j * nCw + codes.getInt(j)
      j += 1
    }
    val keys = lut.keyArray()
    val vals = lut.valueArray()
    val n = keys.numElements()
    val picked = new Array[Double](m)
    var found = 0
    var i = 0
    while (i < n && found < m) {
      val k = keys.getInt(i)
      var jj = 0
      while (jj < m) {
        if (wanted(jj) == k) {
          if (vals.isNullAt(i)) return null
          picked(jj) = vals.getDouble(i)
          found += 1
          jj = m
        } else jj += 1
      }
      i += 1
    }
    if (found < m) return null
    var acc = 0.0
    j = 0
    while (j < m) { acc += picked(j); j += 1 }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    // ragged embeddings are data corruption, not a 0-similarity pair — fail
    // fast instead of silently truncating to the shorter vector
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: embedding lengths differ ($n vs ${b.numElements()})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
