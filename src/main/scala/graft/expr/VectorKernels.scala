package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/** Scalar vector kernels shared by the Catalyst expressions (hot path,
  * called from generated code via static forwarders) and by driver-side
  * helpers (query preparation, MMR, MUVERA).
  *
  * All arithmetic is Double over f32 inputs. The reference computes f32
  * SIMD with an f64 recovery pass on overflow (distances.rs:59-98);
  * computing directly in f64 yields the same recovered values and never
  * needs the retry.
  *
  * Performance model: ArrayData rows are converted to primitive float[]
  * once per row (UnsafeArrayData.toFloatArray is one memcpy), then the
  * kernels run branch-free primitive loops the JIT can unroll — no
  * per-element virtual calls, no boxing. Query literals are extracted to
  * float[] ONCE at codegen time (see VectorDistance) so the per-row cost
  * is a single memcpy + the arithmetic.
  *
  * A sequential f64 sum is bound by add latency (~1 element per cycle),
  * not by arithmetic throughput. The batch scan ([[distanceMultiRows]],
  * and its one-row forms [[distanceMulti]], [[distanceMultiPrefix]])
  * therefore puts ONE QUERY PER SIMD LANE for codes 0-4: the query
  * batch is widened to f64 and transposed once per batch per thread.
  * Once the lanes stop waiting on add latency, the scan is bound by
  * streaming that table (nq × dims doubles, 196 KB for 64 queries at
  * 384 dims) through the core, so the dot codes (2-4) score a block of
  * rows in tiles of 4 rows × 4 lane vectors
  * ([[graft.simd.SimdArgmin.dotTransposedRows]]): each table load serves
  * 4 rows. The L2 codes (0, 1) run the one-row lane kernel per row; no
  * benchmark workload scans an L2 collection, so an L2 tile would be
  * unmeasured. Lane q still sums query q's terms in element order with
  * one f64 accumulator and unfused mul and add, so every (row,
  * query) value is BIT-EQUAL to [[distance]] — the contract the oracle
  * gate hashes rely on. What stays scalar: codes 5-9, a JVM without the
  * Vector API (probed once per JVM, with a WARN), single-query
  * [[distance]], [[maxSimMulti]]'s inner loop, and the graph-ranking
  * kernels (their own fixed 16-chain order, [[rankingDistanceOff]]).
  *
  * Metric codes 0..8 as in graft.core.Metric; 9 is the internal
  * "true cosine" kernel used for funnel prefix scoring
  * (distances.rs:160-177, search.rs:56-59).
  */
object VectorKernels {

  final val TRUE_COSINE_CODE = 9

  // ------------------------------------------------------ primitive kernels

  def distance(code: Int, a: Array[Float], b: Array[Float]): Double = {
    val n = a.length
    if (b.length != n)
      throw new IllegalArgumentException(s"dimension mismatch: $n vs ${b.length}")
    code match {
      case 0 => math.sqrt(l2sq(a, b, n))
      case 1 => l2sq(a, b, n)
      case 2 => dot(a, b, n)
      case 3 => dot(a, b, n)
      case 4 => -dot(a, b, n)
      case 5 => manhattan(a, b, n)
      case 6 => chebyshev(a, b, n)
      case 7 => hamming(a, b, n)
      case 8 => jaccard(a, b, n)
      case TRUE_COSINE_CODE => trueCosine(a, b, n)
      case c => throw new IllegalArgumentException(s"unknown metric code $c")
    }
  }

  /** ArrayData entry point (one memcpy per side, then primitive loop). */
  def distance(code: Int, a: ArrayData, b: ArrayData): Double =
    distance(code, a.toFloatArray(), b.toFloatArray())

  /** One stored vector against a WHOLE query batch: the vector converts
    * to float[] ONCE and each query reuses it — per-(row, query) results
    * equal `distance(code, a, qs(i))` bit for bit. The batch-scan shape:
    * the corpus row is decoded/copied once regardless of batch size,
    * where a per-pair cross join re-copies it per query. Codes 0-4 run
    * one query per SIMD lane (see the performance model above). */
  def distanceMulti(code: Int, a: ArrayData, qs: Array[Array[Float]]): Array[Double] =
    distanceMultiPrefix(code, a, qs, 0)

  /** [[distanceMulti]] over the first `prefix` dimensions (0 = all):
    * the Matryoshka funnel's stage scan — queries arrive pre-sliced and
    * the stored vector is read up to `prefix` in place, where the
    * per-pair Column form allocates a slice per (row, query). */
  def distanceMultiPrefix(code: Int, a: ArrayData, qs: Array[Array[Float]],
      prefix: Int): Array[Double] = {
    val out = new Array[Double](qs.length)
    distanceMultiRows(code, Array(a.toFloatArray()), 1, qs, prefix, out)
    out
  }

  /** A block of stored rows against a whole query batch:
    * `out(r * qs.length + q)` = `distance(code, rows(r) up to prefix,
    * qs(q))` for every r below `n` (`prefix` 0 = whole rows; a prefix
    * past a row's length leaves the row whole). Codes 0-4 on a probed
    * JVM run [[graft.simd.SimdArgmin]]'s lane kernels — for codes 2-4
    * in 4-row tiles, so the query table streams once per 4 rows — and
    * every value stays bit-equal to [[distance]]; other codes run the
    * scalar loop. bf16 rows are unpacked ([[unpackBf16]]) by the
    * caller. */
  def distanceMultiRows(code: Int, rows: Array[Array[Float]], n: Int,
      qs: Array[Array[Float]], prefix: Int, out: Array[Double]): Unit = {
    val nq = qs.length
    if (queryLanes && code >= 0 && code <= 4 && nq > 0) {
      val b = laneBatch(qs)
      if (b.dims >= 0) { b.distances(code, rows, n, prefix, out); return }
    }
    var r = 0
    while (r < n) {
      val v = rows(r)
      val len = prefixLength(v, prefix)
      val row = if (len < v.length) java.util.Arrays.copyOf(v, len) else v
      var q = 0
      while (q < nq) { out(r * nq + q) = distance(code, row, qs(q)); q += 1 }
      r += 1
    }
  }

  @inline private def prefixLength(v: Array[Float], prefix: Int): Int =
    if (prefix > 0 && prefix < v.length) prefix else v.length

  /** A query batch prepared for the lane kernels: `t(i * qPad + q)` is
    * query q's element i widened to f64
    * ([[graft.simd.SimdArgmin.transpose]]); padded columns' sums are
    * never read. `dims` is -1 when the queries differ in length (the
    * scalar loop then reports the mismatch). Owns its sums buffer, so an
    * instance serves one thread. */
  private final class LaneBatch(val qs: Array[Array[Float]]) {
    private val nq = qs.length
    val dims: Int = if (qs.forall(_.length == qs(0).length)) qs(0).length else -1
    private val qPad = graft.simd.SimdArgmin.padded(nq)
    private val t: Array[Double] =
      if (dims < 0) null else graft.simd.SimdArgmin.transpose(qs, qPad, dims)
    private var sums = new Array[Double](qPad)

    /** [[distanceMultiRows]] for codes 0-4. */
    def distances(code: Int, rows: Array[Array[Float]], n: Int, prefix: Int,
        out: Array[Double]): Unit = {
      var r = 0
      while (r < n) {
        val len = prefixLength(rows(r), prefix)
        if (len != dims)
          throw new IllegalArgumentException(s"dimension mismatch: $len vs $dims")
        r += 1
      }
      if (sums.length < n * qPad) sums = new Array[Double](n * qPad)
      if (code >= 2) graft.simd.SimdArgmin.dotTransposedRows(t, qPad, rows, n, dims, sums)
      else {
        r = 0
        while (r < n) {
          graft.simd.SimdArgmin.l2sqTransposed(t, qPad, rows(r), 0, dims, sums, r * qPad)
          r += 1
        }
      }
      r = 0
      while (r < n) {
        val s = r * qPad
        val o = r * nq
        var q = 0
        code match {
          case 0 => while (q < nq) { out(o + q) = math.sqrt(sums(s + q)); q += 1 }
          case 4 => while (q < nq) { out(o + q) = -sums(s + q); q += 1 }
          case _ => System.arraycopy(sums, s, out, o, nq)
        }
        r += 1
      }
    }
  }

  // Per-thread last-batch memo, keyed on the batch array's identity: a
  // task's scan passes the same broadcast query block for every row, so
  // the transpose runs once per batch per thread and a row pays one
  // reference compare. Softly held, like ArgminKernel's memos: a pooled
  // thread does not pin a finished batch under memory pressure.
  private val laneMemo = new ThreadLocal[java.lang.ref.SoftReference[LaneBatch]]

  private def laneBatch(qs: Array[Array[Float]]): LaneBatch = {
    val ref = laneMemo.get()
    val hit = if (ref == null) null else ref.get()
    if (hit != null && (hit.qs eq qs)) hit
    else {
      val b = new LaneBatch(qs)
      laneMemo.set(new java.lang.ref.SoftReference(b))
      b
    }
  }

  /** Query-lane SIMD usable on this JVM: the Vector API module loads and
    * the lane sums are bit-equal to [[distance]] for codes 0-4 on a
    * deterministic probe block: 9 rows (for the dot codes two 4-row
    * tiles and a one-row tail), odd dims, and 37 queries, which fill both the
    * four-vector and the two-vector column blocks and leave padded
    * lanes. Exponents spread over 32 binades so the partial sums round,
    * and a kernel that reorders the terms or fuses an L2 step fails the
    * check. */
  private[graft] val queryLanes: Boolean = graft.simd.SimdProbe("batch exact scan") {
    var seed = 0x452821E638D01377L
    def nextF(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val m = ((seed >>> 40).toInt / 16777216.0f) - 0.5f
      java.lang.Math.scalb(m, ((seed >>> 24) & 31).toInt - 15)
    }
    val dims = 37
    val qs = Array.fill(37, dims)(nextF())
    val rows = Array.fill(9, dims)(nextF())
    val b = new LaneBatch(qs)
    val got = new Array[Double](rows.length * qs.length)
    (0 to 4).forall { code =>
      b.distances(code, rows, rows.length, 0, got)
      rows.indices.forall(r => qs.indices.forall(q =>
        java.lang.Double.doubleToRawLongBits(got(r * qs.length + q)) ==
          java.lang.Double.doubleToRawLongBits(distance(code, rows(r), qs(q)))))
    }
  }

  /** Literal-specialized entry point: the query side is already float[]. */
  def distance(code: Int, a: ArrayData, b: Array[Float]): Double =
    distance(code, a.toFloatArray(), b)

  // ------------------------------------------- packed f32 byte vectors
  //
  // Scale layout: a d-dim vector stored as BinaryType (4d LITTLE-ENDIAN
  // f32 bytes) decodes from parquet as ONE plain BYTE_ARRAY value per
  // row instead of d repetition-leveled elements — the scan-side cost
  // that dominates brute-force search over parquet at 100 TB. Kernels
  // read floats in place (no float[] materialization) in the SAME
  // sequential order as the ArrayData kernels, so results are
  // bit-identical and the DuckDB oracles carry over unchanged.
  //
  // The byte order is pinned LE because this is a durable at-rest format
  // (packed parquet snapshots travel between hosts): on a big-endian JVM
  // the int bits are byte-swapped around the native Platform access — a
  // constant branch the JIT eliminates on LE hosts (zero cost there).

  import org.apache.spark.unsafe.Platform

  private val BAO = Platform.BYTE_ARRAY_OFFSET
  private final val NativeIsLE =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  @inline private def getF(b: Array[Byte], i: Int): Float =
    if (NativeIsLE) Platform.getFloat(b, BAO + i * 4L)
    else java.lang.Float.intBitsToFloat(
      java.lang.Integer.reverseBytes(Platform.getInt(b, BAO + i * 4L)))

  def packFloats(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length * 4)
    var i = 0
    if (NativeIsLE) {
      while (i < v.length) {
        Platform.putFloat(out, BAO + i * 4L, v(i))
        i += 1
      }
    } else {
      while (i < v.length) {
        Platform.putInt(out, BAO + i * 4L,
          java.lang.Integer.reverseBytes(java.lang.Float.floatToRawIntBits(v(i))))
        i += 1
      }
    }
    out
  }

  def packFloatsData(v: ArrayData): Array[Byte] = packFloats(v.toFloatArray())

  def unpackFloats(b: Array[Byte]): Array[Float] = {
    require(b.length % 4 == 0, s"binary vector length ${b.length} not a multiple of 4")
    val out = new Array[Float](b.length / 4)
    var i = 0
    while (i < out.length) {
      out(i) = getF(b, i)
      i += 1
    }
    out
  }

  /** Metric over a packed byte vector and a float[] query — identical
    * arithmetic/order to [[distance]]; codes 5..9 fall back through
    * [[unpackFloats]]. */
  def distanceBytes(code: Int, a: Array[Byte], q: Array[Float]): Double = {
    val n = q.length
    if (a.length != n * 4)
      throw new IllegalArgumentException(
        s"dimension mismatch: ${a.length / 4} vs $n")
    code match {
      case 0 => math.sqrt(l2sqBytes(a, q, n))
      case 1 => l2sqBytes(a, q, n)
      case 2 => dotBytes(a, q, n)
      case 3 => dotBytes(a, q, n)
      case 4 => -dotBytes(a, q, n)
      case c => distance(c, unpackFloats(a), q)
    }
  }

  private def dotBytes(a: Array[Byte], q: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      acc += getF(a, i).toDouble * q(i).toDouble
      i += 1
    }
    acc
  }

  private def l2sqBytes(a: Array[Byte], q: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = getF(a, i).toDouble - q(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  // ----------------------------------------------- bf16 packed layout
  //
  // 2 bytes/dim at rest (the upper half of the IEEE f32 pattern,
  // round-to-nearest-even) — HALF the scan IO of the packed-f32 layout
  // for ~3 significant decimal digits: the standard embedding-storage
  // trade (bf16 keeps f32's full exponent range, so norms and dots
  // never overflow where f32 wouldn't). Scoring decodes in place
  // (bits << 16), so search cost is the same arithmetic over a stream
  // half the size.

  /** Round-to-nearest-even f32 -> bf16 bit pattern. NaN payloads are
    * squashed to a canonical quiet NaN instead of rounding (RNE on a
    * NaN pattern could carry into the exponent and yield infinity). */
  def f32ToBf16Bits(x: Float): Short = {
    val bits = java.lang.Float.floatToRawIntBits(x)
    if ((bits & 0x7FFFFFFF) > 0x7F800000) (((bits >>> 16) | 0x0040) & 0xFFFF).toShort
    else ((bits + (0x7FFF + ((bits >>> 16) & 1))) >>> 16).toShort
  }

  def bf16BitsToF32(s: Short): Float =
    java.lang.Float.intBitsToFloat((s & 0xFFFF) << 16)

  @inline private def getBf(b: Array[Byte], i: Int): Float = {
    val s =
      if (NativeIsLE) Platform.getShort(b, BAO + i * 2L)
      else java.lang.Short.reverseBytes(Platform.getShort(b, BAO + i * 2L))
    bf16BitsToF32(s)
  }

  def packBf16(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length * 2)
    var i = 0
    while (i < v.length) {
      val s = f32ToBf16Bits(v(i))
      Platform.putShort(out, BAO + i * 2L,
        if (NativeIsLE) s else java.lang.Short.reverseBytes(s))
      i += 1
    }
    out
  }

  def packBf16Data(v: ArrayData): Array[Byte] = packBf16(v.toFloatArray())

  def unpackBf16(b: Array[Byte]): Array[Float] = {
    require(b.length % 2 == 0, s"bf16 vector length ${b.length} not a multiple of 2")
    val out = new Array[Float](b.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = getBf(b, i)
      i += 1
    }
    out
  }

  /** Metric over a packed bf16 vector and a float[] query — the same
    * f64 accumulation order as [[distance]] over the DECODED values, so
    * results equal `distance(code, unpackBf16(a), q)` bit-for-bit;
    * codes above 4 fall back through [[unpackBf16]]. */
  def distanceBf16(code: Int, a: Array[Byte], q: Array[Float]): Double = {
    val n = q.length
    if (a.length != n * 2)
      throw new IllegalArgumentException(
        s"dimension mismatch: ${a.length / 2} vs $n")
    code match {
      case 0 => math.sqrt(l2sqBf(a, q, n))
      case 1 => l2sqBf(a, q, n)
      case 2 => dotBf(a, q, n)
      case 3 => dotBf(a, q, n)
      case 4 => -dotBf(a, q, n)
      case c => distance(c, unpackBf16(a), q)
    }
  }

  private def dotBf(a: Array[Byte], q: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      acc += getBf(a, i).toDouble * q(i).toDouble
      i += 1
    }
    acc
  }

  private def l2sqBf(a: Array[Byte], q: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = getBf(a, i).toDouble - q(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  // ------------------------------------------- quantized-code ADC lookup
  //
  // Asymmetric distance computation: a quantized vector is a byte code
  // per position (SQ8: one code per dimension; PQ: one code per
  // subspace), and the query is precomputed into a position-major table
  // of partial distances (table[pos * stride + code]). Scoring a row is
  // then codes.length dependent loads + adds — no float decode at scan
  // time. Accumulation order is position order, matching the sequential
  // kernels, so a DuckDB oracle can replicate the sum bit-for-bit.

  def adcLookup(codes: Array[Byte], table: Array[Double], stride: Int): Double = {
    // one cheap guard per row: a mismatched stride/table would otherwise
    // silently read another position's entries
    if (codes.length * stride != table.length)
      throw new IllegalArgumentException(
        s"ADC shape mismatch: ${codes.length} codes * stride $stride != table ${table.length}")
    var acc = 0.0
    var i = 0
    while (i < codes.length) {
      acc += table(i * stride + (codes(i) & 0xff))
      i += 1
    }
    acc
  }

  /** ADC over a Catalyst ArrayData table (the batch-search shape: each
    * query's table rides the broadcast query side as an array column).
    * Reads only the `codes.length` touched entries in place —
    * materializing the table per row (`toDoubleArray`) would copy
    * dims*256 doubles per scanned row. */
  def adcLookupIndexed(codes: Array[Byte],
      table: org.apache.spark.sql.catalyst.util.ArrayData, stride: Int): Double = {
    if (codes.length * stride != table.numElements())
      throw new IllegalArgumentException(
        s"ADC shape mismatch: ${codes.length} codes * stride $stride != table ${table.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < codes.length) {
      acc += table.getDouble(i * stride + (codes(i) & 0xff))
      i += 1
    }
    acc
  }

  // ---- unrolled variants: independent accumulator chains break the
  // FP-add latency dependency. Summation ORDER differs from the
  // sequential kernels, so these are reserved for internal ranking
  // (graph walks) where no oracle mirrors the arithmetic — every
  // oracle-matched path stays on the sequential kernels, whose order
  // the DuckDB SQL replicates exactly.

  /** Graph-walk ranking distance for codes 0..4 (l2/l2sq/cos/ip/nip):
    * `a` lives at offset `ao` inside a flat arena (HNSW stores all node
    * vectors in one contiguous Array[Float] — one less pointer chase per
    * graph-walk distance, no per-vector object header splitting cache
    * lines). Pass offset 0 to rank two plain vectors.
    *
    * Since r16 this path uses the 16-accumulator-chain order
    * ([[graft.simd.SimdRank]]'s contract): the 4-chain order was bound
    * by the f64 add dependency chain at ~1 element/cycle, and the graph
    * builds (the bench's largest single cost) are ~85% inside this
    * kernel. The order is FIXED and platform-independent — the scalar
    * fallback implements it bit-exactly and the init self-check pins
    * SIMD == scalar — but it differs from the pre-r16 4-chain order at
    * the last ulp, so f32 graphs differ from earlier rounds' at tie
    * margins; the ann_hnsw fixture tripwire (FixtureRegenSpec) and the
    * data-derived vamana oracles gate that the served RESULTS are
    * unchanged. Internal ranking only: no oracle mirrors this order. */
  def rankingDistanceOff(code: Int, a: Array[Float], ao: Int,
      b: Array[Float], bo: Int, n: Int): Double = {
    code match {
      case 0 => math.sqrt(l2sqRank(a, ao, b, bo, n))
      case 1 => l2sqRank(a, ao, b, bo, n)
      case 2 => dotRank(a, ao, b, bo, n)
      case 3 => dotRank(a, ao, b, bo, n)
      case 4 => -dotRank(a, ao, b, bo, n)
      case c =>
        throw new IllegalArgumentException(s"unsupported ranking metric code $c")
    }
  }

  /** SIMD ranking kernels usable (module present + bit-equal probe
    * against the scalar 16-chain twins on mixed main/tail sizes). */
  private val simdRank: Boolean = graft.simd.SimdProbe("graph ranking") {
    var seed = 0x243F6A8885A308D3L
    def nextF(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40).toInt / 16777216.0f) - 0.5f
    }
    var ok = true
    for (n <- Seq(1, 5, 16, 23, 37, 384)) {
      val a = Array.fill(n + 3)(nextF())
      val b = Array.fill(n + 3)(nextF())
      def eq(x: Double, y: Double): Boolean =
        java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y)
      if (!eq(graft.simd.SimdRank.dot(a, 3, b, 1, n), dot16Off(a, 3, b, 1, n)))
        ok = false
      if (!eq(graft.simd.SimdRank.l2sq(a, 3, b, 1, n), l2sq16Off(a, 3, b, 1, n)))
        ok = false
    }
    ok
  }

  private def dotRank(a: Array[Float], ao: Int, b: Array[Float], bo: Int, n: Int): Double =
    if (simdRank) graft.simd.SimdRank.dot(a, ao, b, bo, n)
    else dot16Off(a, ao, b, bo, n)

  private def l2sqRank(a: Array[Float], ao: Int, b: Array[Float], bo: Int, n: Int): Double =
    if (simdRank) graft.simd.SimdRank.l2sq(a, ao, b, bo, n)
    else l2sq16Off(a, ao, b, bo, n)

  /** Scalar twin of [[graft.simd.SimdRank.dot]]: same 16-chain order,
    * same fixed reduction tree, bit-equal by construction. */
  private def dot16Off(a: Array[Float], ao: Int, b: Array[Float], bo: Int, n: Int): Double = {
    val s = new Array[Double](16)
    val main = n & ~15
    var i = 0
    while (i < main) {
      var j = 0
      while (j < 16) {
        s(j) += a(ao + i + j).toDouble * b(bo + i + j).toDouble
        j += 1
      }
      i += 16
    }
    var tail = 0.0
    while (i < n) { tail += a(ao + i).toDouble * b(bo + i).toDouble; i += 1 }
    if (main == 0) return tail
    reduce16(s) + tail
  }

  /** Scalar twin of [[graft.simd.SimdRank.l2sq]]. */
  private def l2sq16Off(a: Array[Float], ao: Int, b: Array[Float], bo: Int, n: Int): Double = {
    val s = new Array[Double](16)
    val main = n & ~15
    var i = 0
    while (i < main) {
      var j = 0
      while (j < 16) {
        val d = a(ao + i + j).toDouble - b(bo + i + j).toDouble
        s(j) += d * d
        j += 1
      }
      i += 16
    }
    var tail = 0.0
    while (i < n) { val d = a(ao + i).toDouble - b(bo + i).toDouble; tail += d * d; i += 1 }
    if (main == 0) return tail
    reduce16(s) + tail
  }

  private def reduce16(s: Array[Double]): Double = {
    val t0 = (s(0) + s(1)) + (s(2) + s(3))
    val t1 = (s(4) + s(5)) + (s(6) + s(7))
    val t2 = (s(8) + s(9)) + (s(10) + s(11))
    val t3 = (s(12) + s(13)) + (s(14) + s(15))
    (t0 + t1) + (t2 + t3)
  }

  /** Graph-walk ranking over a bf16 byte ARENA vs a float[] query —
    * the coded-graph twin of [[rankingDistanceOff]] (unrolled, internal
    * ranking only: no oracle mirrors this order). `ao` is the ELEMENT
    * offset inside the arena (dims, not bytes). */
  def rankingDistanceBf16Off(code: Int, a: Array[Byte], ao: Int,
      q: Array[Float], n: Int): Double = code match {
    case 0 => math.sqrt(l2sq4BfOff(a, ao, q, n))
    case 1 => l2sq4BfOff(a, ao, q, n)
    case 2 => dot4BfOff(a, ao, q, n)
    case 3 => dot4BfOff(a, ao, q, n)
    case 4 => -dot4BfOff(a, ao, q, n)
    case c =>
      val tmp = new Array[Float](n)
      var i = 0
      while (i < n) { tmp(i) = getBf(a, ao + i); i += 1 }
      distance(c, tmp, q)
  }

  /** Node-to-node ranking, both sides in a bf16 byte arena. */
  def rankingDistanceBf16PairOff(code: Int, a: Array[Byte], ao: Int,
      bo: Int, n: Int): Double = code match {
    case 0 => math.sqrt(l2sq4BfPairOff(a, ao, bo, n))
    case 1 => l2sq4BfPairOff(a, ao, bo, n)
    case 2 => dot4BfPairOff(a, ao, bo, n)
    case 3 => dot4BfPairOff(a, ao, bo, n)
    case 4 => -dot4BfPairOff(a, ao, bo, n)
    case c =>
      val ta = new Array[Float](n)
      val tb = new Array[Float](n)
      var i = 0
      while (i < n) { ta(i) = getBf(a, ao + i); tb(i) = getBf(a, bo + i); i += 1 }
      distance(c, ta, tb)
  }

  private def l2sq4BfOff(a: Array[Byte], ao: Int, q: Array[Float], n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      val d0 = getBf(a, ao + i).toDouble - q(i).toDouble
      val d1 = getBf(a, ao + i + 1).toDouble - q(i + 1).toDouble
      val d2 = getBf(a, ao + i + 2).toDouble - q(i + 2).toDouble
      val d3 = getBf(a, ao + i + 3).toDouble - q(i + 3).toDouble
      s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
      i += 4
    }
    while (i < n) { val d = getBf(a, ao + i).toDouble - q(i).toDouble; s0 += d * d; i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  private def dot4BfOff(a: Array[Byte], ao: Int, q: Array[Float], n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      s0 += getBf(a, ao + i).toDouble * q(i).toDouble
      s1 += getBf(a, ao + i + 1).toDouble * q(i + 1).toDouble
      s2 += getBf(a, ao + i + 2).toDouble * q(i + 2).toDouble
      s3 += getBf(a, ao + i + 3).toDouble * q(i + 3).toDouble
      i += 4
    }
    while (i < n) { s0 += getBf(a, ao + i).toDouble * q(i).toDouble; i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  private def l2sq4BfPairOff(a: Array[Byte], ao: Int, bo: Int, n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      val d0 = getBf(a, ao + i).toDouble - getBf(a, bo + i).toDouble
      val d1 = getBf(a, ao + i + 1).toDouble - getBf(a, bo + i + 1).toDouble
      val d2 = getBf(a, ao + i + 2).toDouble - getBf(a, bo + i + 2).toDouble
      val d3 = getBf(a, ao + i + 3).toDouble - getBf(a, bo + i + 3).toDouble
      s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
      i += 4
    }
    while (i < n) {
      val d = getBf(a, ao + i).toDouble - getBf(a, bo + i).toDouble
      s0 += d * d; i += 1
    }
    (s0 + s1) + (s2 + s3)
  }

  private def dot4BfPairOff(a: Array[Byte], ao: Int, bo: Int, n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    val lim = n - 3
    while (i < lim) {
      s0 += getBf(a, ao + i).toDouble * getBf(a, bo + i).toDouble
      s1 += getBf(a, ao + i + 1).toDouble * getBf(a, bo + i + 1).toDouble
      s2 += getBf(a, ao + i + 2).toDouble * getBf(a, bo + i + 2).toDouble
      s3 += getBf(a, ao + i + 3).toDouble * getBf(a, bo + i + 3).toDouble
      i += 4
    }
    while (i < n) { s0 += getBf(a, ao + i).toDouble * getBf(a, bo + i).toDouble; i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  private def dot(a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Sequential l2sq with early abandonment at `bound` — the argmin
    * scan kernel ([[graft.ann.IvfIndex.nearestCentroid]], PQ encode).
    * The accumulation order is exactly [[l2sq]]'s (single f64
    * accumulator, element order), and the scan stops once the partial
    * sum reaches `bound`: every term is non-negative, so the full value
    * could only be >= the abandoned partial. Callers that only test
    * `result < bound` therefore make bit-identical decisions to the
    * full kernel — a completed scan returns the identical f64 value,
    * an abandoned scan returns a partial that already fails the test.
    * The bound check runs once per 16 elements so the hot loop stays
    * branch-predictable. */
  def l2sqBounded(a: Array[Float], b: Array[Float], bound: Double): Double = {
    val n = a.length
    if (b.length != n)
      throw new IllegalArgumentException(s"dimension mismatch: $n vs ${b.length}")
    var acc = 0.0; var i = 0
    while (i < n) {
      val lim = math.min(n, i + 16)
      while (i < lim) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      if (acc >= bound) return acc
    }
    acc
  }

  private def l2sq(a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  private def manhattan(a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) { acc += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
    acc
  }

  private def chebyshev(a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = math.abs(a(i).toDouble - b(i).toDouble)
      if (d > acc) acc = d
      i += 1
    }
    acc
  }

  /** Truthy-float Hamming: coordinates differ when (x != 0) != (y != 0). */
  private def hamming(a: Array[Float], b: Array[Float], n: Int): Double = {
    var acc = 0; var i = 0
    while (i < n) {
      if ((a(i) != 0.0f) != (b(i) != 0.0f)) acc += 1
      i += 1
    }
    acc.toDouble
  }

  /** Truthy-float Jaccard distance; empty union -> 0.0. */
  private def jaccard(a: Array[Float], b: Array[Float], n: Int): Double = {
    var inter = 0; var union = 0; var i = 0
    while (i < n) {
      val x = a(i) != 0.0f; val y = b(i) != 0.0f
      if (x || y) union += 1
      if (x && y) inter += 1
      i += 1
    }
    if (union == 0) 0.0 else 1.0 - inter.toDouble / union.toDouble
  }

  /** True cosine with norms: zero vector -> 0.0, clamped to [-1, 1]. */
  private def trueCosine(a: Array[Float], b: Array[Float], n: Int): Double = {
    var dotAcc = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dotAcc += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else math.max(-1.0, math.min(1.0, dotAcc / (math.sqrt(na) * math.sqrt(nb))))
  }

  // ------------------------------------------------------------- packed bits

  /** Sign-bit packing: bit i set iff v(i) >= 0, 64 dims per Long word
    * (distances.rs:413-423). */
  def packSignBits(v: Array[Float]): Array[Long] = {
    val n = v.length
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (v(i) >= 0.0f) words(i / 64) |= 1L << (i % 64)
      i += 1
    }
    words
  }

  def packSignBitsData(v: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(packSignBits(v.toFloatArray()))

  private def lastWordMask(wordIdx: Int, words: Int, dims: Int): Long = {
    val rem = dims % 64
    if (wordIdx + 1 == words && rem != 0) (1L << rem) - 1 else -1L
  }

  /** Hamming over packed sign words; padding bits masked out
    * (distances.rs:426-437). */
  def packedHamming(a: Array[Long], b: Array[Long], dims: Int): Double = {
    val words = (dims + 63) / 64
    require(a.length == words && b.length == words, "dimension mismatch")
    var acc = 0L; var i = 0
    while (i < words) {
      acc += java.lang.Long.bitCount((a(i) ^ b(i)) & lastWordMask(i, words, dims))
      i += 1
    }
    acc.toDouble
  }

  def packedHamming(a: ArrayData, b: ArrayData, dims: Int): Double =
    packedHamming(a.toLongArray(), b.toLongArray(), dims)

  def packedHamming(a: ArrayData, b: Array[Long], dims: Int): Double =
    packedHamming(a.toLongArray(), b, dims)

  /** Jaccard over packed sign words; empty union -> 0.0 (distances.rs:440-457). */
  def packedJaccard(a: Array[Long], b: Array[Long], dims: Int): Double = {
    val words = (dims + 63) / 64
    require(a.length == words && b.length == words, "dimension mismatch")
    var inter = 0L; var union = 0L; var i = 0
    while (i < words) {
      val m = lastWordMask(i, words, dims)
      inter += java.lang.Long.bitCount(a(i) & b(i) & m)
      union += java.lang.Long.bitCount((a(i) | b(i)) & m)
      i += 1
    }
    if (union == 0L) 0.0 else 1.0 - inter.toDouble / union.toDouble
  }

  def packedJaccard(a: ArrayData, b: ArrayData, dims: Int): Double =
    packedJaccard(a.toLongArray(), b.toLongArray(), dims)

  def packedJaccard(a: ArrayData, b: Array[Long], dims: Int): Double =
    packedJaccard(a.toLongArray(), b, dims)

  /** Asymmetric binary dot: sum_i (bit i set ? +q(i) : -q(i)), f64
    * accumulated in ascending i. Scores stored SIGN BITS against the
    * FULL-PRECISION query — the asymmetric-hashing candidate scorer
    * (Dong et al. 2008; ScaNN's asymmetric regime). On an isotropic
    * corpus sgn(v) correlates with v at E[|v|]/sqrt(E[v^2]) ~ 0.87, so
    * ranking by this proxy recalls the exact top-k far better than the
    * symmetric sign-Hamming proxy at the same candidate budget (measured
    * planted-query overlap@10: 0.87 vs 0.62 at candidates=200 over 100k
    * x 384) while reading the same packed words. The reference packs raw
    * signs and ranks by Hamming (distances.rs:413-437); its bench gate
    * measures overlap before every run (search_modes_bench.exs:193-238)
    * — this scorer is how we beat that contract without more storage. */
  def packedAsymmetricDot(bits: Array[Long], q: Array[Float]): Double = {
    val n = q.length
    require(bits.length == (n + 63) / 64, "dimension mismatch")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = q(i).toDouble
      acc += (if ((bits(i >>> 6) & (1L << (i & 63))) != 0L) x else -x)
      i += 1
    }
    acc
  }

  def packedAsymmetricDot(bits: ArrayData, q: Array[Float]): Double =
    packedAsymmetricDot(bits.toLongArray(), q)

  /** One stored sign-bit word array against a whole query batch — the
    * words convert once, each query reuses them; `negate` applies the
    * candidate-rank direction so the output IS the rank (lower =
    * better), matching the per-pair `-packedAsymmetricDot` column. */
  def packedAsymmetricDotMulti(bits: ArrayData, qs: Array[Array[Float]],
      negate: Boolean): Array[Double] = {
    val b = bits.toLongArray()
    val out = new Array[Double](qs.length)
    var i = 0
    while (i < qs.length) {
      val d = packedAsymmetricDot(b, qs(i))
      out(i) = if (negate) -d else d
      i += 1
    }
    out
  }

  /** Batch twin of [[packedHamming]]: one stored word array against
    * pre-packed query sign words. */
  def packedHammingMulti(bits: ArrayData, qs: Array[Array[Long]],
      dims: Int): Array[Double] = {
    val b = bits.toLongArray()
    val out = new Array[Double](qs.length)
    var i = 0
    while (i < qs.length) { out(i) = packedHamming(b, qs(i), dims); i += 1 }
    out
  }

  def packedAsymmetricDot(bits: ArrayData, q: ArrayData): Double =
    packedAsymmetricDot(bits.toLongArray(), q.toFloatArray())

  // ----------------------------------------------------------- normalization

  /** Normalize modes 0=none 1=l2 2=zscore 3=minmax (distances.rs:350-410).
    * Output stays f32 for storage parity. */
  def normalize(mode: Int, v: Array[Float]): Array[Float] = {
    val n = v.length
    val out = new Array[Float](n)
    mode match {
      case 0 =>
        System.arraycopy(v, 0, out, 0, n)
      case 1 =>
        var norm = 0.0; var i = 0
        while (i < n) { val x = v(i).toDouble; norm += x * x; i += 1 }
        norm = math.sqrt(norm)
        if (norm != 0.0) { i = 0; while (i < n) { out(i) = (v(i).toDouble / norm).toFloat; i += 1 } }
      case 2 =>
        if (n > 0) {
          var sum = 0.0; var i = 0
          while (i < n) { sum += v(i).toDouble; i += 1 }
          val mean = sum / n
          var varAcc = 0.0; i = 0
          while (i < n) { val d = v(i).toDouble - mean; varAcc += d * d; i += 1 }
          val std = math.sqrt(varAcc / n) // population variance
          if (std != 0.0) { i = 0; while (i < n) { out(i) = ((v(i).toDouble - mean) / std).toFloat; i += 1 } }
        }
      case 3 =>
        if (n > 0) {
          var mn = Float.PositiveInfinity; var mx = Float.NegativeInfinity; var i = 0
          while (i < n) { val x = v(i); if (x < mn) mn = x; if (x > mx) mx = x; i += 1 }
          if (mn != mx) {
            val lo = mn.toDouble; val span = mx.toDouble - lo
            i = 0; while (i < n) { out(i) = ((v(i).toDouble - lo) / span).toFloat; i += 1 }
          }
        }
      case m => throw new IllegalArgumentException(s"unknown normalize mode $m")
    }
    out
  }

  def normalizeData(mode: Int, v: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(normalize(mode, v.toFloatArray()))

  // ----------------------------------------------------------------- MaxSim
  // ColBERT-style late interaction (multi_vector.rs:39-132): score =
  // sum over query vectors of (max over doc vectors of
  // similarity_value(metric, raw)). Either side empty -> 0.0.

  def maxSim(metricCode: Int, queryVecs: Array[Array[Float]],
      docVecs: Array[Array[Float]]): Double = {
    val nq = queryVecs.length; val nd = docVecs.length
    if (nq == 0 || nd == 0) return 0.0
    var total = 0.0
    var qi = 0
    while (qi < nq) {
      val q = queryVecs(qi)
      var best = Double.NegativeInfinity
      var di = 0
      while (di < nd) {
        val sim = similarityValue(metricCode, distance(metricCode, q, docVecs(di)))
        if (sim > best) best = sim
        di += 1
      }
      total += best
      qi += 1
    }
    total
  }

  /** One document's vector set against a whole batch of QUERY SETS —
    * the doc matrix converts once, each query set reuses it. Per-query
    * values equal `maxSim(code, queries(i), docVecs)` bit for bit. */
  def maxSimMulti(metricCode: Int, queries: Array[Array[Array[Float]]],
      docVecs: ArrayData): Array[Double] = {
    val d = toFloatMatrix(docVecs)
    val out = new Array[Double](queries.length)
    var i = 0
    while (i < queries.length) { out(i) = maxSim(metricCode, queries(i), d); i += 1 }
    out
  }

  def toFloatMatrix(a: ArrayData): Array[Array[Float]] = {
    val n = a.numElements()
    val out = new Array[Array[Float]](n)
    var i = 0
    while (i < n) { out(i) = a.getArray(i).toFloatArray(); i += 1 }
    out
  }

  def maxSim(metricCode: Int, queryVecs: ArrayData, docVecs: ArrayData): Double =
    maxSim(metricCode, toFloatMatrix(queryVecs), toFloatMatrix(docVecs))

  def maxSim(metricCode: Int, queryVecs: Array[Array[Float]], docVecs: ArrayData): Double =
    maxSim(metricCode, queryVecs, toFloatMatrix(docVecs))

  def similarityValue(metricCode: Int, raw: Double): Double = metricCode match {
    case 2 | 3 => raw
    case 4     => -raw
    case _     => 1.0 / (1.0 + raw)
  }

  def rankValue(metricCode: Int, raw: Double): Double = metricCode match {
    case 2 => 1.0 - raw
    case 3 => -raw
    case _ => raw
  }

  /** Upper-triangular products (i <= j) as (i, j, xi*xj) rows in the
    * same order the interpreted HOF chain emitted them — see
    * [[graft.expr.TriProducts]]. Bounded at `dims` elements, like the
    * chain's `sequence(0, dims-1)` (longer vectors truncate; `dims <= 0`
    * means unbounded). */
  def triProducts(v: org.apache.spark.sql.catalyst.util.ArrayData,
      isFloat: Boolean, dims: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = if (dims > 0) math.min(v.numElements(), dims) else v.numElements()
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      vals(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Any](n * (n + 1) / 2)
    var idx = 0
    i = 0
    while (i < n) {
      var j = i
      while (j < n) {
        out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, j, vals(i) * vals(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def validateFinite(v: Array[Float]): Boolean = {
    var i = 0
    while (i < v.length) { if (!java.lang.Float.isFinite(v(i))) return false; i += 1 }
    true
  }
}
