package graft.plans

import graft.kpl.KplCodec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The zlib kernels behind [[graft.operators.RecordPipeline]]'s
  * `inflateZlib` / `deflateZlib` UDFs, which the consume path and q31 use.
  *
  * The rest of this file holds graft's native Catalyst expressions;
  * [[GraftExtensions]] lists the ones SQL can call. Versus a ScalaUDF, a
  * native expression:
  *  - participates in whole-stage codegen — `defineCodeGen` emits a direct
  *    static call, no ScalaUDF closure dispatch, no encoder boundary;
  *  - propagates nulls for free (generated null checks);
  *  - is foldable when its input is a literal, so Catalyst constant-folds
  *    `graft_is_kpl(X'F3899AC2...')` at plan time.
  */
object ZlibOps {
  /** Pooled per-thread codecs (round 15, the q31 sf5 regression): a fresh
    * `Inflater`/`Deflater` per ROW is a native (zlib C) allocation, and the
    * old failure path never called `end()` — every raw payload leaked its
    * native state until finalization, a drag that grows superlinearly with
    * row count in a shared 8 GB JVM. Spark executor task threads are
    * pooled, so a ThreadLocal holds exactly one native codec per core for
    * the life of the executor; `reset()` reuses the native buffer.
    */
  private val tlInflater = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater = new java.util.zip.Inflater()
  }
  private val tlDeflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater = new java.util.zip.Deflater()
  }

  /** RFC 1950 header check: any stream `Inflater` accepts has CM = 8 and
    * CMF·256+FLG ≡ 0 (mod 31), so rejecting on the first two bytes is
    * semantics-preserving — it only short-circuits inputs the full inflate
    * path would throw on anyway. The win is that the raw-passthrough rows
    * (the reference's not-actually-compressed case, consumer.go:211-224)
    * no longer pay a constructed-and-caught exception each.
    */
  def looksZlib(data: Array[Byte]): Boolean =
    data.length >= 2 && (data(0) & 0x0f) == 8 &&
      ((((data(0) & 0xff) << 8) | (data(1) & 0xff)) % 31 == 0)

  /** Per-thread inflate output buffer, doubled whenever a record fills
    * it: the consume path inflates every record, and inflating straight
    * into it leaves one allocation per record — the exact-length result.
    * A thread keeps a grown buffer only up to [[InflateBufKeep]] bytes.
    */
  private val tlInflateBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }
  private val InflateBufKeep = 1 << 20

  /** zlib inflate; ANY failure returns the raw input (consumer.go:211-224).
    * Static so generated code can call it directly. A stream that stalls
    * — input exhausted, or a preset dictionary this codec never has —
    * counts as a failure.
    */
  def inflateOrRaw(data: Array[Byte]): Array[Byte] = {
    if (!looksZlib(data)) return data
    val inf = tlInflater.get()
    inf.reset()
    try {
      inf.setInput(data)
      var buf = tlInflateBuf.get()
      var n = 0
      while (!inf.finished()) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        val got = inf.inflate(buf, n, buf.length - n)
        if (got == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new java.util.zip.DataFormatException("truncated")
        n += got
      }
      if (buf.length <= InflateBufKeep) tlInflateBuf.set(buf)
      java.util.Arrays.copyOf(buf, n)
    } catch { case _: Exception => data }
  }

  /** zlib deflate (produce-side encode; the q31 round-trip fixture). */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = tlDeflater.get()
    d.reset()
    d.setInput(data)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    out.toByteArray
  }
}

/** `graft_is_kpl(binary) → boolean`: KPL magic-prefix detect (§2 C3). */
final case class IsKplAggregated(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BINARY argument")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_is_kpl"
  override protected def nullSafeEval(input: Any): Any =
    KplCodec.isAggregated(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kpl.KplCodec.isAggregated($c)")
  override protected def withNewChildInternal(newChild: Expression): IsKplAggregated =
    copy(child = newChild)
}

/** `graft_kpl_md5_ok(binary) → boolean`: KPL MD5-trailer verification —
  * the optional C4 extension ([[graft.kpl.KplCodec.md5Ok]]; the reference
  * never verifies, consumer.go:174, and deaggregate keeps that parity).
  */
final case class KplMd5Ok(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a BINARY argument")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_kpl_md5_ok"
  override protected def nullSafeEval(input: Any): Any =
    KplCodec.md5Ok(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kpl.KplCodec.md5Ok($c)")
  override protected def withNewChildInternal(newChild: Expression): KplMd5Ok =
    copy(child = newChild)
}

/** KPL de-aggregation as a native Catalyst GENERATOR (round 21, VERDICT
  * r20 ask #5 — the consume path's Invoke-heavy span): one row per child
  * record, aggregated frames exploding via [[graft.kpl.KplCodec.children]]
  * and plain records passing through 1:1 with their own key (NULL data
  * included), a decode error yielding zero rows so the parent drops
  * silently — exactly the semantics of the old isAgg-UDF + deagg-UDF +
  * `when(array(struct))` + `explode` chain, minus its costs: two ScalaUDF
  * boundary crossings per frame, the reflection-encoder conversion of
  * every child to an external case class and back, and the materialized
  * intermediate array the explode then walked. eval emits the child
  * `InternalRow`s straight from the codec's one pass over the frame: each
  * key-table entry becomes a `UTF8String` once (an ASCII key is a view of
  * the frame bytes), each child's data one copy of its byte range.
  * CodegenFallback: GenerateExec only codegens the builtin explode family,
  * and the decode work dominates the per-frame cost anyway.
  */
final case class KplDeaggregate(key: Expression, data: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(key, data)
  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && data.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, BINARY) arguments")
  override def elementSchema: StructType = StructType(Seq(
    StructField("partitionKey", StringType, nullable = true),
    StructField("data", BinaryType, nullable = true)))
  override def prettyName: String = "graft_kpl_deaggregate"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val d = data.eval(input).asInstanceOf[Array[Byte]]
    if (!KplCodec.isAggregated(d))
      Iterator.single(new GenericInternalRow(Array[Any](key.eval(input), d)))
    else {
      val c = KplCodec.children(d)
      val keys = new Array[UTF8String](c.keyCount)
      Iterator.tabulate(c.size) { i =>
        val k = c.keyIndex(i)
        if (keys(k) == null) keys(k) = KplDeaggregate.utf8(d, c.keyOff(k), c.keyLen(k))
        new GenericInternalRow(Array[Any](keys(k), c.data(i)))
      }
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KplDeaggregate =
    copy(key = newChildren(0), data = newChildren(1))
}

object KplDeaggregate {
  /** `bytes[off, off + len)` as the UTF8String of its UTF-8 decoding: the
    * bytes themselves when they are ASCII, else re-encoded from the
    * decoded String, so malformed input maps to U+FFFD as it does for
    * [[graft.kpl.KplCodec.deaggregate]]'s keys.
    */
  def utf8(bytes: Array[Byte], off: Int, len: Int): UTF8String = {
    var i = off
    while (i < off + len && bytes(i) >= 0) i += 1
    if (i == off + len) UTF8String.fromBytes(bytes, off, len)
    else UTF8String.fromString(new String(bytes, off, len, java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** `graft_vector_dot(array<double>, array<double>) → double`: ascending
  * left-to-right dot product over Catalyst ArrayData — zero boxing (the
  * ScalaUDF path materializes both vectors as WrappedArray[java.lang.Double]
  * per call, which dominated the 2.7M-pair cosine join). Summation order is
  * identical to DuckDB's list_dot_product, so results stay bit-exact.
  */
final case class VectorDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def isArrD(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isArrD(left.dataType) && isArrD(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two ARRAY<DOUBLE> arguments")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_vector_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    VectorDot.dot(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.VectorDot.dot($a.toDoubleArray(), $b.toDoubleArray())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  def dot(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }
}

/** `graft_centroid_argmin(v, flat_centroids, c_ids, c_dots) → bigint`:
  * the id of the nearest centroid by
  * `round(v·v − 2·v·cᵢ + c_dotsᵢ, 6)` with (d², id) lexicographic
  * tie-break — the Lloyd assignment of q119/q120/q123 as ONE native call
  * per row. The centroid matrix (row-major, k×d), ids, and precomputed
  * c·c terms are FOLDABLE array literals: the expression converts them
  * to primitive tables once per task (transient lazy vals riding
  * serialization), so a row pays exactly one `v` deserialization plus
  * k·d multiply-adds — where a per-centroid `graft_vector_dot(v, lit)`
  * chain paid k+1 array conversions per row (measured 4–7 s per
  * assignment pass at sf5 with k=134; this form runs the same pass in
  * ~1 s) and a ScalaUDF would pay an encoder boundary. Every dot is the
  * same sequential [[VectorDot.dot]] fold and the round replicates
  * Spark `round(_, 6)`'s exact double semantics, so oracle parity is
  * unchanged (list_dot_product + round in DuckDB).
  */
final case class CentroidArgmin(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!first.dataType.isInstanceOf[ArrayType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires an ARRAY vector")
    else if (!(second.foldable && third.foldable && fourth.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal centroid/ids/dots arrays")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_centroid_argmin"
  @transient private lazy val matArr: Array[Double] =
    second.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
  @transient private lazy val idsArr: Array[Long] =
    third.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
  @transient private lazy val ccsArr: Array[Double] =
    fourth.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()
  override protected def nullSafeEval(v: Any, f: Any, i: Any, c: Any): Any =
    KmeansKernel.argmin(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      matArr, idsArr, ccsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("kmMat", matArr, "double[]")
    val id = ctx.addReferenceObj("kmIds", idsArr, "long[]")
    val cc = ctx.addReferenceObj("kmCcs", ccsArr, "double[]")
    defineCodeGen(ctx, ev,
      (v, _, _, _) => s"graft.plans.KmeansKernel.argmin($v, $m, $id, $cc)")
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): CentroidArgmin = copy(a, b, c, d)
}

object KmeansKernel {
  /** Nearest-centroid id: `mat` is the row-major k×d centroid matrix,
    * `ccs(i)` the precomputed cᵢ·cᵢ (the same [[VectorDot.dot]] fold).
    * Dots run ascending over min(|v|, d) like [[VectorDot.dot]];
    * distances round through [[round6]]. The k-means driver finish calls
    * this form directly, so both paths assign with one kernel.
    */
  def argmin(va: Array[Double], mat: Array[Double], ids: Array[Long],
      ccs: Array[Double]): Long = {
    val k = ids.length
    val d = if (k == 0) 0 else mat.length / k
    var vv = 0.0
    var t = 0
    while (t < va.length) { vv += va(t) * va(t); t += 1 }
    var bestD = 0.0
    var bestId = 0L
    var first = true
    var i = 0
    while (i < k) {
      val off = i * d
      val n = math.min(va.length, d)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += va(j) * mat(off + j); j += 1 }
      val d2 = round6(vv - 2.0 * dot + ccs(i))
      if (first || d2 < bestD || (d2 == bestD && ids(i) < bestId)) {
        bestD = d2; bestId = ids(i); first = false
      }
      i += 1
    }
    bestId
  }

  /** The row form [[CentroidArgmin]] evaluates and generates code for. */
  def argmin(v: org.apache.spark.sql.catalyst.util.ArrayData,
      mat: Array[Double], ids: Array[Long], ccs: Array[Double]): Long =
    argmin(v.toDoubleArray(), mat, ids, ccs)

  /** Spark `round(x, 6)` on a finite double: `java.math.BigDecimal.valueOf`
    * + HALF_UP, its codegen formula for doubles.
    */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()
}

/** `graft_minhash16(string) → array<bigint>`: 16-permutation MinHash
  * signature over the text's 3-token shingles — one md5 per shingle + 16
  * linear permutations mod 2^61−1 (kernel + oracle contract in
  * [[graft.functions.TextHash.minhashArray]]; the r13 family paid 16 md5
  * digests per shingle, the measured dominant cost of the LSH suite). A
  * native expression rather than a ScalaUDF so the whole q41/q42/q83
  * signature scan stays inside one WholeStageCodegen span — no closure
  * dispatch, no WrappedArray encoder boundary, and the tokenize/shingle
  * steps fuse into the kernel instead of running as interpreted HOF
  * lambdas in the plan.
  */
final case class MinHash16(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash16"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.minhashArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minhashArray($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}

/** `graft_shingles(string, n) → array<string>`: DISTINCT n-token shingles
  * in first-occurrence order (kernel + contract in
  * [[graft.functions.TextHash.shingles]]). `n` must be a foldable
  * positive integer — it parameterizes the kernel, not the data.
  */
final case class ShingleSet(child: Expression, n: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = child
  override def right: Expression = n
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
    else if (n.dataType != org.apache.spark.sql.types.IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal INT shingle size")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def nullSafeEval(text: Any, size: Any): Any =
    graft.functions.TextHash.shingles(text.asInstanceOf[UTF8String],
      size.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.TextHash.shingles($t, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleSet =
    copy(child = newLeft, n = newRight)
}

/** `graft_shingles64(string, n) → array<bigint>`: DISTINCT n-token
  * shingles as md5-folded 64-bit keys mod 2^61−1 (kernel + oracle
  * contract in [[graft.functions.TextHash.shingles64]]) — the 8-byte
  * exchange-friendly form of [[ShingleSet]] for corpus-scale set
  * operations.
  */
final case class ShingleSet64(child: Expression, n: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = child
  override def right: Expression = n
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
    else if (n.dataType != org.apache.spark.sql.types.IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal INT shingle size")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_shingles64"
  override protected def nullSafeEval(text: Any, size: Any): Any =
    graft.functions.TextHash.shingles64(text.asInstanceOf[UTF8String],
      size.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.TextHash.shingles64($t, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleSet64 =
    copy(child = newLeft, n = newRight)
}

/** `graft_simhash64(string) → string`: 64-bit SimHash bit string over the
  * text's whitespace tokens (kernel + oracle contract in
  * [[graft.functions.TextHash.simhashBits]]).
  */
final case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.simhashBits(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhashBits($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `graft_hyperplane_sig(array<double>) → string`: 128 random-hyperplane
  * projection signs as a 128-char bit string — q108's signature kernel.
  * Plane components are derived from md5("hp<p>:<d>") (first 4 hex chars
  * → [0, 65535] → scaled to [-1, 1]), so the DuckDB oracle rebuilds the
  * IDENTICAL matrix in SQL; each projection is an ascending left-to-right
  * double dot product, the same order as `list_dot_product`, so the sign
  * bits are bit-equal across engines (the [[VectorDot]] contract). A JVM
  * kernel because the decimal-summed relational formulation allocates a
  * Decimal per product — 17M allocations at sf0.1 (~22 s); this is one
  * array pass (~17M flops, tens of ms).
  */
final case class HyperplaneSig(child: Expression) extends UnaryExpression {
  private def isArrD(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isArrD(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an ARRAY<DOUBLE> argument")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_hyperplane_sig"
  override protected def nullSafeEval(input: Any): Any =
    HyperplaneSig.sig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HyperplaneSig.sig($c.toDoubleArray())")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  val Planes = 128
  val Dims = 64

  /** H[p][d] = (hex4(md5("hp<p>:<d>")) / 32767.5) - 1 — the exact formula
    * the oracle's `planes` CTE computes from the same md5 hex chars.
    */
  private lazy val H: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dims) { (p, d) =>
      md.reset()
      val h = md.digest(s"hp$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex4 = ((h(0) & 0xFF) << 8) | (h(1) & 0xFF)
      (hex4 / 32767.5) - 1.0
    }
  }

  def sig(v: Array[Double]): UTF8String = {
    val bits = new Array[Byte](Planes)
    val n = math.min(v.length, Dims)
    var p = 0
    while (p < Planes) {
      val hp = H(p)
      var s = 0.0
      var d = 0
      while (d < n) { s += v(d) * hp(d); d += 1 }
      bits(p) = if (s >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(bits)
  }
}

/** Point-count probe of a [[org.apache.spark.util.sketch.CountMinSketch]]
  * held through a [[org.apache.spark.broadcast.Broadcast]] handle — the
  * q112/q150 CMS audits. Round 20 (guide §5 task-closure rule) replaced a
  * plan-literal form, which serialized the sketch TWICE into every stage's
  * task binary that referenced it — once as a foldable BINARY literal in
  * the expression tree and once deserialized in the codegen references
  * array — and made every TASK re-deserialize both (q150's six-pack
  * measured as a 12.4 MiB "Broadcasting large task binary" per probe
  * stage). The handle ships the sketch ONCE per executor through the
  * torrent protocol (in local mode: zero copies — the value is the
  * driver's own object) and the task binary carries only the handle.
  * `CountMinSketch.estimateCount` hashes a String through its UTF-8 bytes,
  * so probing `UTF8String.getBytes` gives the String path's estimate.
  * Cannot be built from the SQL function registry (the handle is not a
  * literal), so call sites construct the Column via
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]].
  */
final case class CmsProbe(
    bcast: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch],
    child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING probe argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_probe"
  override protected def nullSafeEval(value: Any): Any =
    bcast.value.estimateCount(value.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCmsBc", bcast,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, v =>
      s"((org.apache.spark.util.sketch.CountMinSketch)$ref.value()).estimateCount($v.getBytes())")
  }
  override protected def withNewChildInternal(newChild: Expression): CmsProbe =
    copy(child = newChild)
}

/** Membership probe of a [[org.apache.spark.util.sketch.BloomFilter]]
  * held through a broadcast handle — the q113/q142 Bloom pre-filters, one
  * broadcast per executor for the reason given at [[CmsProbe]]. A STRING
  * probe tests its UTF-8 bytes with `mightContainBinary`, which is what
  * `mightContainString` does; a BIGINT probe calls `mightContainLong`.
  */
final case class BloomProbe(
    bcast: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
    child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING or BIGINT probe argument")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"
  override protected def nullSafeEval(value: Any): Any = child.dataType match {
    case StringType =>
      bcast.value.mightContainBinary(value.asInstanceOf[UTF8String].getBytes)
    case _ => bcast.value.mightContainLong(value.asInstanceOf[Long])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloomBc", bcast,
      "org.apache.spark.broadcast.Broadcast")
    val probe = child.dataType match {
      case StringType => (v: String) => s"mightContainBinary($v.getBytes())"
      case _ => (v: String) => s"mightContainLong($v)"
    }
    defineCodeGen(ctx, ev, v =>
      s"((org.apache.spark.util.sketch.BloomFilter)$ref.value()).${probe(v)}")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

/** `graft_gram_stats(string) → struct<n2,top2,n5,d5>`: q118's per-doc
  * repetition statistics in one token pass (kernel + split contract in
  * [[graft.functions.TextHash.gramStats]]); null for docs under 5 tokens.
  * Not codegen'd beyond the call (the kernel IS the work — one virtual
  * call per row, unlike the per-element HOF chain it replaced).
  */
final case class GramStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
  override def dataType: DataType = StructType(Seq(
    StructField("n2", LongType, nullable = false),
    StructField("top2", LongType, nullable = false),
    StructField("n5", LongType, nullable = false),
    StructField("d5", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gram_stats"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.gramStats(input.asInstanceOf[UTF8String])
  // defineCodeGen assumes a non-null result for a non-null input; this
  // kernel returns null for short docs, so the generated code must flip
  // isNull itself or downstream struct reads NPE
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.gramStats($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
}

/** `graft_token_tf(string) → array<struct<token, tf>>`: per-document term
  * frequencies in one pass ([[graft.functions.TextHash.tokenTf]]) — the
  * map-side half of exact TF-IDF (q127). Emitting (distinct token,
  * multiplicity) pairs from the row itself removes the corpus-wide
  * (doc, token) count shuffle entirely; only the vocab-sized doc-frequency
  * aggregate still exchanges. Not codegen'd beyond the call — the kernel
  * IS the work, one virtual call per row.
  */
final case class TokenTf(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_token_tf"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.tokenTf(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.tokenTf($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenTf =
    copy(child = newChild)
}

object GraftExtensions {
  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name takes exactly 1 argument")
    args.head
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_is_kpl",
      new ExpressionInfo(classOf[IsKplAggregated].getName, "graft_is_kpl"),
      (args: Seq[Expression]) => IsKplAggregated(one(args, "graft_is_kpl"))),
    ("graft_kpl_md5_ok",
      new ExpressionInfo(classOf[KplMd5Ok].getName, "graft_kpl_md5_ok"),
      (args: Seq[Expression]) => KplMd5Ok(one(args, "graft_kpl_md5_ok"))),
    ("graft_vector_dot",
      new ExpressionInfo(classOf[VectorDot].getName, "graft_vector_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_vector_dot takes exactly 2 arguments")
        VectorDot(args(0), args(1))
      }),
    ("graft_minhash16",
      new ExpressionInfo(classOf[MinHash16].getName, "graft_minhash16"),
      (args: Seq[Expression]) => MinHash16(one(args, "graft_minhash16"))),
    ("graft_simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (args: Seq[Expression]) => SimHash64(one(args, "graft_simhash64"))),
    ("graft_hyperplane_sig",
      new ExpressionInfo(classOf[HyperplaneSig].getName, "graft_hyperplane_sig"),
      (args: Seq[Expression]) => HyperplaneSig(one(args, "graft_hyperplane_sig"))),
    ("graft_shingles",
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles takes exactly 2 arguments")
        ShingleSet(args(0), args(1))
      }),
    ("graft_shingles64",
      new ExpressionInfo(classOf[ShingleSet64].getName, "graft_shingles64"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles64 takes exactly 2 arguments")
        ShingleSet64(args(0), args(1))
      }),
    ("graft_gram_stats",
      new ExpressionInfo(classOf[GramStats].getName, "graft_gram_stats"),
      (args: Seq[Expression]) => GramStats(one(args, "graft_gram_stats"))),
    ("graft_centroid_argmin",
      new ExpressionInfo(classOf[CentroidArgmin].getName, "graft_centroid_argmin"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_centroid_argmin takes exactly 4 arguments")
        CentroidArgmin(args(0), args(1), args(2), args(3))
      }),
    ("graft_token_tf",
      new ExpressionInfo(classOf[TokenTf].getName, "graft_token_tf"),
      (args: Seq[Expression]) => TokenTf(one(args, "graft_token_tf"))),
    ("graft_fixed_sum_hl",
      new ExpressionInfo(classOf[FixedPointSumHL].getName, "graft_fixed_sum_hl"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_fixed_sum_hl takes exactly 2 arguments")
        val scale = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_fixed_sum_hl scale must be an INT literal, got $other")
        }
        FixedPointSumHL(args(0), scale)
      }))

  /** Registers [[functions]] on a live session; idempotent (one map put per
    * function). [[graft.Tables]] is the only caller: `Tables.session`
    * registers every session graft builds, and `Tables.t` every session a
    * query scans through, including one graft did not build.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
