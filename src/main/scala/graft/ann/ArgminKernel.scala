package graft.ann

import graft.expr.VectorKernels

/** Candidate-parallel argmin dispatch for the two per-row encode hot
  * paths (IVF cell assignment, PQ subspace codes).
  *
  * The scalar argmin pays ~k*dims sequential f64 ops per row with a
  * 1-element/cycle dependency chain; the SIMD path
  * ([[graft.simd.SimdArgmin]]) puts one CANDIDATE per lane over a
  * transposed, f64-widened centroid table, so each lane still
  * accumulates its candidate's terms in exactly the scalar element
  * order — per-candidate sums are bit-equal to the sequential kernel
  * and the argmin (strict `<`, first-min tie-break) picks the identical
  * index. Encodes, and therefore every gate hash, are unchanged.
  *
  * Availability is probed once per JVM: the incubator Vector API module
  * may be absent (class load fails -> scalar path), and a deterministic
  * self-check additionally requires the SIMD sums to be BIT-EQUAL to
  * the scalar kernel on a probe model before the path is trusted; a
  * failed probe logs one WARN ([[graft.simd.SimdProbe]]).
  *
  * Prepared (transposed) models are memoized per thread keyed on the
  * model array's identity: within a task the same deserialized array
  * instance repeats every row, so the transpose runs once per task (a
  * few hundred KB at most) and the per-row cost is one reference
  * compare. A thread-local memo needs no synchronization on the hot
  * path.
  */
private[graft] object ArgminKernel {

  /** SIMD path usable on this JVM (module present + bit-equal probe). */
  val simdEnabled: Boolean = graft.simd.SimdProbe("IVF/PQ argmin") {
    // deterministic probe: odd dims, non-padded k, LCG values
    val dims = 13
    val k = 19
    var seed = 0x9E3779B97F4A7C15L
    def nextF(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 40).toInt / 16777216.0f) - 0.5f
    }
    val cents = Array.fill(k, dims)(nextF())
    val v = Array.fill(dims)(nextF())
    val kPad = graft.simd.SimdArgmin.padded(k)
    val t = graft.simd.SimdArgmin.transpose(cents, kPad, dims)
    val sums = new Array[Double](kPad)
    graft.simd.SimdArgmin.l2sqTransposed(t, kPad, v, 0, dims, sums)
    var ok = true
    var c = 0
    while (c < k) {
      val ref = VectorKernels.l2sqBounded(v, cents(c), Double.MaxValue)
      if (java.lang.Double.doubleToRawLongBits(ref) !=
          java.lang.Double.doubleToRawLongBits(sums(c))) ok = false
      c += 1
    }
    ok
  }

  /** Prepared centroid table (IVF cells and any nearest-centroid scan). */
  final class Cents(val cents: Array[Array[Float]]) {
    private val k = cents.length
    private val dims = if (k > 0) cents(0).length else 0
    private val kPad =
      if (simdEnabled && k > 0) graft.simd.SimdArgmin.padded(k)
      else 0
    private val t: Array[Double] =
      if (kPad > 0) graft.simd.SimdArgmin.transpose(cents, kPad, dims) else null
    private val sums: Array[Double] =
      if (kPad > 0) new Array[Double](kPad) else null

    def nearest(v: Array[Float]): Int = {
      if (t == null || v.length != dims) return IvfIndex.nearestCentroidScalar(v, cents)
      graft.simd.SimdArgmin.l2sqTransposed(t, kPad, v, 0, dims, sums)
      argminPrefix(sums, k)
    }
  }

  /** Prepared per-subspace codebook tables (PQ encode). */
  final class Books(val codebooks: Array[Array[Array[Float]]]) {
    private val m = codebooks.length
    private val sub = codebooks(0)(0).length
    private val k = codebooks(0).length
    private val kPad =
      if (simdEnabled) graft.simd.SimdArgmin.padded(k) else 0
    private val t: Array[Array[Double]] =
      if (kPad > 0) Array.tabulate(m)(j => graft.simd.SimdArgmin.transpose(codebooks(j), kPad, sub))
      else null
    private val sums: Array[Double] =
      if (kPad > 0) new Array[Double](kPad) else null

    def encode(v: Array[Float]): Array[Byte] = {
      if (t == null) return Pq.encodeVecScalar(v, codebooks)
      require(v.length == m * sub, s"dimension mismatch: ${v.length} vs ${m * sub}")
      val out = new Array[Byte](m)
      var j = 0
      while (j < m) {
        graft.simd.SimdArgmin.l2sqTransposed(t(j), kPad, v, j * sub, sub, sums)
        out(j) = argminPrefix(sums, k).toByte
        j += 1
      }
      out
    }
  }

  /** First index of the strict minimum over sums(0..k) — the scalar
    * scan's `d < best` selection order exactly. */
  private def argminPrefix(sums: Array[Double], k: Int): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < k) {
      val d = sums(c)
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    best
  }

  // Per-thread last-model memo: one entry of each kind per thread (a
  // task's projection reuses one model object for every row; a prepared
  // entry also owns its scratch buffer, so no cross-thread sharing). The
  // entry is softly held: a pooled executor thread would otherwise pin a
  // retired IVF/PQ model (and its transposed copy) until it next encodes
  // with another one; under memory pressure the memo is simply rebuilt.
  private val centsMemo = new ThreadLocal[java.lang.ref.SoftReference[Cents]]
  private val booksMemo = new ThreadLocal[java.lang.ref.SoftReference[Books]]

  private def memoOf[P <: AnyRef](memo: ThreadLocal[java.lang.ref.SoftReference[P]],
      hit: P => Boolean, make: => P): P = {
    val ref = memo.get()
    val e = if (ref == null) null.asInstanceOf[P] else ref.get()
    if (e != null && hit(e)) e
    else { val p = make; memo.set(new java.lang.ref.SoftReference(p)); p }
  }

  def cents(c: Array[Array[Float]]): Cents =
    memoOf[Cents](centsMemo, _.cents eq c, new Cents(c))

  def books(b: Array[Array[Array[Float]]]): Books =
    memoOf[Books](booksMemo, _.codebooks eq b, new Books(b))
}
