package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Catalyst expressions for the vector kernels.
  *
  * Design: each expression stays inside whole-stage codegen by emitting a
  * single static call into [[VectorKernels]] (tight JIT-compiled primitive
  * loops, no per-element boxing). This is the Spark-native analogue of the
  * reference's batched SIMD NIF kernels (native/vettore/src/distances.rs):
  * the batching unit is the partition, the kernel is JVM-JIT vectorized.
  *
  * Query-vs-corpus comparisons have a foldable query side: those
  * expressions extract the literal to a primitive array ONCE (a codegen
  * reference object), so per-row cost is one memcpy (`toFloatArray`) plus
  * arithmetic — the same shape as the reference's "one NIF call per
  * batch, SIMD inside" (nifs.rs batched helpers).
  */

/** Raw metric value between two f32 vectors. `metricCode` 0..8 per
  * graft.core.Metric plus 9 = true cosine (funnel prefixes). */
case class VectorDistance(left: Expression, right: Expression, metricCode: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_distance"

  @transient private lazy val rightConst: Array[Float] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toFloatArray()
    } else null

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (rightConst != null)
      VectorKernels.distance(metricCode, a.asInstanceOf[ArrayData], rightConst)
    else
      VectorKernels.distance(metricCode, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (rightConst != null) {
      val ref = ctx.addReferenceObj("queryVec", rightConst, "float[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.distance($metricCode, ${leftGen.value}, $ref);
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expr.VectorKernels.distance($metricCode, $a, $b);")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDistance =
    copy(left = l, right = r)
}

/** A multi-distance scan: one corpus row's child value scored against
  * a WHOLE broadcast query block, `batchSize` doubles per row. The batch
  * rides an ordinary `SparkContext.broadcast` handle (fetched once per
  * executor), NOT a plan literal or a closure capture — a 100k-query
  * block would otherwise be re-deserialized per task inside the task
  * binary.
  *
  * [[scoreRows]] is the one scoring function. The heap node
  * ([[BatchTopKExec]]) calls it on blocks of corpus rows; evaluated as
  * an expression (the grouped two-level cut), the scan is
  * [[scoreRows]] over one row, returned as an [[UnsafeArrayData]] over
  * the primitive doubles (no boxing). */
trait BatchScan extends UnaryExpression {

  /** Queries in the block: the values each row yields. */
  def batchSize: Int

  /** Scores rows `inputs(0 until n)` (non-NULL child values) against the
    * block: `out(r * batchSize + q)` is row r's raw value for query q. */
  def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit

  /** [[scoreRows]] of one row. */
  final def scoreOne(v: Any): UnsafeArrayData = {
    val out = new Array[Double](batchSize)
    scoreRows(Array(v), 1, out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any = scoreOne(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scan = ctx.addReferenceObj("scan", this, classOf[BatchScan].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $scan.scoreOne($v);")
  }

  /** [[scoreRows]] through a one-row kernel `f`. */
  protected def eachRow(inputs: Array[Any], n: Int, out: Array[Double])(
      f: Any => Array[Double]): Unit = {
    var r = 0
    while (r < n) {
      System.arraycopy(f(inputs(r)), 0, out, r * batchSize, batchSize)
      r += 1
    }
  }
}

/** Distances of stored f32 vectors (their `prefix` dims when
  * `prefix > 0`) against a WHOLE query batch — the batch brute-force
  * scan shape: a row decodes once and every query reuses it. For codes
  * 0-4 the kernel scores one query per SIMD lane against a transposed
  * copy of the batch, built once per batch per thread, the dot codes
  * in tiles of 4 rows ([[VectorKernels.distanceMultiRows]]); codes 5-9 and a JVM
  * without the Vector API run the scalar loop. Either way per-(row,
  * query) values equal [[VectorDistance]] bit for bit. */
case class VectorDistanceMulti(child: Expression,
    queries: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
    metricCode: Int, prefix: Int = 0) extends BatchScan {

  override def prettyName: String = "vector_distance_multi"

  @transient private lazy val qs: Array[Array[Float]] = queries.value

  override def batchSize: Int = qs.length

  override def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit =
    VectorKernels.distanceMultiRows(metricCode,
      Array.tabulate(n)(r => inputs(r).asInstanceOf[ArrayData].toFloatArray()),
      n, qs, prefix, out)

  override protected def withNewChildInternal(newChild: Expression): VectorDistanceMulti =
    copy(child = newChild)
}

/** Batch quantized candidate rank: one stored sign-bit word array
  * against the whole query block ([[VectorKernels.packedAsymmetricDotMulti]]
  * — `negate` bakes the metric's rank direction in, so the output IS
  * the per-query rank). */
case class PackedDotMulti(child: Expression,
    queries: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
    negate: Boolean) extends BatchScan {

  override def prettyName: String = "packed_dot_multi"

  @transient private lazy val qs: Array[Array[Float]] = queries.value

  override def batchSize: Int = qs.length

  override def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit =
    eachRow(inputs, n, out)(v =>
      VectorKernels.packedAsymmetricDotMulti(v.asInstanceOf[ArrayData], qs, negate))

  override protected def withNewChildInternal(newChild: Expression): PackedDotMulti =
    copy(child = newChild)
}

/** Batch symmetric Hamming candidate rank over pre-packed query sign
  * words ([[VectorKernels.packedHammingMulti]]). */
case class PackedHammingMulti(child: Expression,
    queryBits: org.apache.spark.broadcast.Broadcast[Array[Array[Long]]],
    dims: Int) extends BatchScan {

  override def prettyName: String = "packed_hamming_multi"

  @transient private lazy val qs: Array[Array[Long]] = queryBits.value

  override def batchSize: Int = qs.length

  override def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit =
    eachRow(inputs, n, out)(v =>
      VectorKernels.packedHammingMulti(v.asInstanceOf[ArrayData], qs, dims))

  override protected def withNewChildInternal(newChild: Expression): PackedHammingMulti =
    copy(child = newChild)
}

/** bf16 twin of [[VectorDistanceMulti]]: one 2 B/dim unpack per row,
  * then the same batch path as the float scan
  * ([[VectorKernels.distanceMultiRows]]; bit-equal to
  * [[Bf16VectorDistance]] per pair). */
case class Bf16VectorDistanceMulti(child: Expression,
    queries: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
    metricCode: Int) extends BatchScan {

  override def prettyName: String = "bf16_vector_distance_multi"

  @transient private lazy val qs: Array[Array[Float]] = queries.value

  override def batchSize: Int = qs.length

  override def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit =
    VectorKernels.distanceMultiRows(metricCode,
      Array.tabulate(n)(r => VectorKernels.unpackBf16(inputs(r).asInstanceOf[Array[Byte]])),
      n, qs, 0, out)

  override protected def withNewChildInternal(newChild: Expression): Bf16VectorDistanceMulti =
    copy(child = newChild)
}

/** Pack a f32 vector into 4d bytes (BinaryType) — the scan-friendly
  * at-rest layout: parquet decodes one BYTE_ARRAY per row instead of d
  * repetition-leveled elements. */
case class PackFloats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_floats"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.packFloatsData(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.VectorKernels.packFloatsData($v);")

  override protected def withNewChildInternal(c: Expression): PackFloats = copy(child = c)
}

/** Inverse of [[PackFloats]]. */
case class UnpackFloats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "unpack_floats"

  override protected def nullSafeEval(v: Any): Any =
    ArrayData.toArrayData(VectorKernels.unpackFloats(v.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.expr.VectorKernels.unpackFloats($v));")

  override protected def withNewChildInternal(c: Expression): UnpackFloats = copy(child = c)
}

/** f32 vector -> packed bf16 bytes (2 bytes/dim, round-to-nearest-even)
  * — HALF the at-rest/scan footprint of [[PackFloats]] with f32's full
  * exponent range. */
case class PackBf16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_bf16"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.packBf16Data(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.VectorKernels.packBf16Data($v);")

  override protected def withNewChildInternal(c: Expression): PackBf16 = copy(child = c)
}

/** Inverse of [[PackBf16]] (decoded f32 values — the rounded corpus). */
case class UnpackBf16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "unpack_bf16"

  override protected def nullSafeEval(v: Any): Any =
    ArrayData.toArrayData(VectorKernels.unpackBf16(v.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.expr.VectorKernels.unpackBf16($v));")

  override protected def withNewChildInternal(c: Expression): UnpackBf16 = copy(child = c)
}

/** Raw metric value between a packed bf16 vector and a f32 query —
  * in-place bf16 decode, no array materialization ([[
  * BinaryVectorDistance]]'s shape at half the scan bytes). */
case class Bf16VectorDistance(left: Expression, right: Expression, metricCode: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bf16_vector_distance"

  @transient private lazy val rightConst: Array[Float] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toFloatArray()
    } else null

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (rightConst != null)
      VectorKernels.distanceBf16(metricCode, a.asInstanceOf[Array[Byte]], rightConst)
    else
      VectorKernels.distanceBf16(metricCode, a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (rightConst != null) {
      val ref = ctx.addReferenceObj("queryVec", rightConst, "float[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.distanceBf16(
            $metricCode, ${leftGen.value}, $ref);
        }""")
    } else
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expr.VectorKernels.distanceBf16($metricCode, $a, " +
          s"((org.apache.spark.sql.catalyst.util.ArrayData) $b).toFloatArray());")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Bf16VectorDistance =
    copy(left = l, right = r)
}

/** Raw metric value between a packed byte vector and a foldable f32
  * query literal — in-place byte reads, no array materialization. */
case class BinaryVectorDistance(left: Expression, right: Expression, metricCode: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "binary_vector_distance"

  @transient private lazy val rightConst: Array[Float] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toFloatArray()
    } else null

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (rightConst != null)
      VectorKernels.distanceBytes(metricCode, a.asInstanceOf[Array[Byte]], rightConst)
    else
      VectorKernels.distanceBytes(metricCode, a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (rightConst != null) {
      val ref = ctx.addReferenceObj("queryVec", rightConst, "float[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.distanceBytes($metricCode, ${leftGen.value}, $ref);
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expr.VectorKernels.distanceBytes($metricCode, $a, " +
          s"((org.apache.spark.sql.catalyst.util.ArrayData) $b).toFloatArray());")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinaryVectorDistance =
    copy(left = l, right = r)
}

/** Pack sign bits of a f32 vector into Long words (64 dims per word). */
case class PackSignBits(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pack_sign_bits"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.packSignBitsData(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.VectorKernels.packSignBitsData($v);")

  override protected def withNewChildInternal(c: Expression): PackSignBits = copy(child = c)
}

/** Hamming (popcount of XOR) over packed sign words, padding masked. */
case class PackedHamming(left: Expression, right: Expression, dims: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "packed_hamming"

  @transient private lazy val rightConst: Array[Long] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toLongArray()
    } else null

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (rightConst != null)
      VectorKernels.packedHamming(a.asInstanceOf[ArrayData], rightConst, dims)
    else
      VectorKernels.packedHamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (rightConst != null) {
      val ref = ctx.addReferenceObj("queryBits", rightConst, "long[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.packedHamming(${leftGen.value}, $ref, $dims);
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expr.VectorKernels.packedHamming($a, $b, $dims);")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PackedHamming =
    copy(left = l, right = r)
}

/** Asymmetric binary dot: stored packed sign words (left) scored against
  * the full-precision f32 query (right) — see
  * VectorKernels.packedAsymmetricDot. Query side is foldable in search
  * plans and extracted once to a codegen reference object. */
case class PackedAsymmetricDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "packed_asymmetric_dot"

  @transient private lazy val rightConst: Array[Float] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toFloatArray()
    } else null

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (rightConst != null)
      VectorKernels.packedAsymmetricDot(a.asInstanceOf[ArrayData], rightConst)
    else
      VectorKernels.packedAsymmetricDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (rightConst != null) {
      val ref = ctx.addReferenceObj("queryVec", rightConst, "float[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.packedAsymmetricDot(${leftGen.value}, $ref);
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.expr.VectorKernels.packedAsymmetricDot($a, $b);")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PackedAsymmetricDot =
    copy(left = l, right = r)
}

/** Jaccard over packed sign words, padding masked. */
case class PackedJaccard(left: Expression, right: Expression, dims: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "packed_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.packedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VectorKernels.packedJaccard($a, $b, $dims);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PackedJaccard =
    copy(left = l, right = r)
}

/** Normalize a f32 vector; mode 0=none 1=l2 2=zscore 3=minmax. */
case class NormalizeVector(child: Expression, mode: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "normalize_vector"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.normalizeData(mode, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.VectorKernels.normalizeData($mode, $v);")

  override protected def withNewChildInternal(c: Expression): NormalizeVector = copy(child = c)
}

/** ColBERT/MaxSim late-interaction score between two multi-vector sets.
  * The query side (left) is foldable in search plans and is extracted to
  * float[][] once. */
case class MaxSim(left: Expression, right: Expression, metricCode: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "max_sim"

  @transient private lazy val leftConst: Array[Array[Float]] =
    if (left.foldable) {
      val v = left.eval(InternalRow.empty)
      if (v == null) null else VectorKernels.toFloatMatrix(v.asInstanceOf[ArrayData])
    } else null

  override protected def nullSafeEval(q: Any, d: Any): Any =
    if (leftConst != null)
      VectorKernels.maxSim(metricCode, leftConst, d.asInstanceOf[ArrayData])
    else
      VectorKernels.maxSim(metricCode, q.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (leftConst != null) {
      val ref = ctx.addReferenceObj("queryVecs", leftConst, "float[][]")
      val rightGen = right.genCode(ctx)
      ev.copy(code = code"""
        ${rightGen.code}
        boolean ${ev.isNull} = ${rightGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.maxSim($metricCode, $ref, ${rightGen.value});
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (q, d) =>
        s"${ev.value} = graft.expr.VectorKernels.maxSim($metricCode, $q, $d);")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxSim =
    copy(left = l, right = r)
}

/** Batch MaxSim: one document's vector set scores the WHOLE batch of
  * query vector sets in one call ([[VectorKernels.maxSimMulti]] — the
  * doc matrix converts once). Query sets ride a broadcast handle like
  * [[VectorDistanceMulti]]. */
case class MaxSimMulti(child: Expression,
    queries: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]],
    metricCode: Int) extends BatchScan {

  override def prettyName: String = "max_sim_multi"

  @transient private lazy val qs: Array[Array[Array[Float]]] = queries.value

  override def batchSize: Int = qs.length

  override def scoreRows(inputs: Array[Any], n: Int, out: Array[Double]): Unit =
    eachRow(inputs, n, out)(d =>
      VectorKernels.maxSimMulti(metricCode, qs, d.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(newChild: Expression): MaxSimMulti =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) scoring of a quantized byte-code column
  * against a partial-distance table (position-major:
  * `table[pos * stride + code]`). Covers SQ8 (stride 256, one code per
  * dimension) and PQ (stride k, one code per subspace). The usual table
  * side is a per-query constant (a foldable array) extracted once into
  * a codegen reference object, so the scan stays in whole-stage codegen
  * with zero per-row allocation; a non-foldable table column also works
  * (per-row extraction). */
/** ADC against a PLAN-CONSTANT per-query table. The table rides as a
  * codegen reference object, NOT as an array Literal in the expression
  * tree: a dims*256-entry literal (sq8 at 384 dims = 98k doubles) costs
  * O(table) every time the plan is converted/analyzed/hashed, which
  * dominated single-query ADC search wall time — the scan itself only
  * reads the m (or dims) TOUCHED entries per row. */
case class AdcDistanceConst(child: Expression, table: Array[Double], stride: Int)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_distance_const"

  override protected def nullSafeEval(codes: Any): Any =
    VectorKernels.adcLookup(codes.asInstanceOf[Array[Byte]], table, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcTable", table, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.VectorKernels.adcLookup($c, $ref, $stride);")
  }

  override protected def withNewChildInternal(newChild: Expression): AdcDistanceConst =
    copy(child = newChild)
}

case class AdcDistance(left: Expression, right: Expression, stride: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_distance"

  @transient private lazy val tableConst: Array[Double] =
    if (right.foldable) {
      val v = right.eval(InternalRow.empty)
      if (v == null) null else v.asInstanceOf[ArrayData].toDoubleArray()
    } else null

  override protected def nullSafeEval(codes: Any, table: Any): Any =
    if (tableConst != null)
      VectorKernels.adcLookup(codes.asInstanceOf[Array[Byte]], tableConst, stride)
    else
      VectorKernels.adcLookupIndexed(codes.asInstanceOf[Array[Byte]],
        table.asInstanceOf[ArrayData], stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (tableConst != null) {
      val ref = ctx.addReferenceObj("adcTable", tableConst, "double[]")
      val leftGen = left.genCode(ctx)
      ev.copy(code = code"""
        ${leftGen.code}
        boolean ${ev.isNull} = ${leftGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = graft.expr.VectorKernels.adcLookup(${leftGen.value}, $ref, $stride);
        }""")
    } else {
      nullSafeCodeGen(ctx, ev, (c, t) =>
        s"${ev.value} = graft.expr.VectorKernels.adcLookupIndexed($c, $t, $stride);")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistance =
    copy(left = l, right = r)
}

/** Upper-triangular per-row products array<struct<i int, j int,
  * p double>> — the fused form of the nested
  * transform(sequence, transform(sequence, struct(...))) chain PCA's
  * moment pass exploded (interpreted HOFs, once per (i, j) PAIR: dims
  * 64 = 2080 interpreted closures per row). One kernel call per row,
  * identical element ORDER to the chain, so the downstream explode +
  * groupBy sums accumulate in exactly the same sequence — bit-identical
  * moments. Accepts float or double vectors (products always f64, like
  * the chain's cast-then-multiply). `dims` bounds the emitted indices at
  * `min(length, dims)`, matching the chain's `sequence(0, dims-1)`
  * truncation (`dims <= 0` = use the full array). */
case class TriProducts(child: Expression, dims: Int = 0) extends UnaryExpression {
  import org.apache.spark.sql.types._

  // dataType resolves only after analysis — inspect lazily, validate via
  // checkInputDataTypes (a constructor throw fires on the UNRESOLVED child)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"tri_products needs a float/double array, got $other")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("p", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "tri_products"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.triProducts(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.VectorKernels.triProducts($c, $isFloat, $dims);")

  override protected def withNewChildInternal(c: Expression): TriProducts =
    copy(child = c)
}
