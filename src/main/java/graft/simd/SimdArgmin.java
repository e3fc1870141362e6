package graft.simd;

import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.VectorSpecies;

/**
 * Lane-parallel L2-squared and dot sums over a TRANSPOSED, f64-widened
 * table of f32 vectors, one table vector per SIMD lane. Two callers fill
 * the lanes:
 * <ul>
 * <li>one CANDIDATE per lane: the argmin scan of IVF cell assignment and
 *     PQ subspace encoding ({@code graft.ann.ArgminKernel}), the table
 *     being the centroids and {@code v} the row being encoded;</li>
 * <li>one QUERY per lane: the batch exact scan
 *     ({@code VectorKernels.distanceMultiPrefix}), the table being the
 *     query batch and {@code v} the stored row being scanned.</li>
 * </ul>
 *
 * Bit-identity contract: lane c accumulates its terms in element order
 * 0..dims-1 with one f64 accumulator -- exactly the scalar sequential
 * kernel's order for that pair (f32-to-f64 widening is exact and done
 * once at transpose time; mul and add stay separate IEEE ops, never
 * fused). The per-lane sums are therefore bit-equal to
 * {@code VectorKernels.distance(1 | 2, v, vec_c)}, and any argmin or
 * top-k over them picks the identical entries.
 *
 * Lives in its own class so a JVM without {@code jdk.incubator.vector}
 * fails at class load inside the caller's probe and falls back to the
 * scalar path.
 */
public final class SimdArgmin {

  private static final VectorSpecies<Double> SP = DoubleVector.SPECIES_PREFERRED;

  private SimdArgmin() {}

  /** Lanes per vector; the transposed table must pad its vector
   * count to a multiple of {@code 2 * laneCount()}. */
  public static int laneCount() {
    return SP.length();
  }

  /** {@code n} rounded up to the padded column count the kernels take,
   * a multiple of {@code 2 * laneCount()}. */
  public static int padded(int n) {
    int step = 2 * SP.length();
    return ((n + step - 1) / step) * step;
  }

  /**
   * The kernels' table layout: {@code t[i * kPad + c]} is
   * {@code vs[c][i]} widened to f64 (exact), for c below
   * {@code vs.length} and i below {@code dims}; padded columns stay
   * zero.
   */
  public static double[] transpose(float[][] vs, int kPad, int dims) {
    double[] t = new double[dims * kPad];
    for (int c = 0; c < vs.length; c++) {
      float[] vc = vs[c];
      for (int i = 0; i < dims; i++) t[i * kPad + c] = vc[i];
    }
    return t;
  }

  /**
   * Fill {@code sums[0..kPad)} with the L2-squared distance of
   * {@code v[off..off+dims)} to each of the kPad transposed vectors.
   * Layout: {@code t[i * kPad + c]} is vector c's element i.
   * {@code kPad} must be a multiple of {@code 2 * laneCount()}; padded
   * columns produce well-defined garbage sums the caller must ignore
   * (scan only real columns). Lane c computes
   * {@code sum_i (v[off+i] - t_c[i])^2} in element order.
   *
   * Blocks of four vectors' worth of columns run four independent
   * accumulator chains (the f64 add latency, not the arithmetic, bounds a
   * chain); a remaining block of two runs two. Each lane owns its chain,
   * so the blocking changes speed, never a lane's sum.
   */
  public static void l2sqTransposed(double[] t, int kPad, float[] v,
      int off, int dims, double[] sums) {
    int L = SP.length();
    int cb = 0;
    for (; cb + 4 * L <= kPad; cb += 4 * L) {
      DoubleVector acc0 = DoubleVector.zero(SP);
      DoubleVector acc1 = DoubleVector.zero(SP);
      DoubleVector acc2 = DoubleVector.zero(SP);
      DoubleVector acc3 = DoubleVector.zero(SP);
      int base = cb;
      for (int i = 0; i < dims; i++) {
        DoubleVector q = DoubleVector.broadcast(SP, (double) v[off + i]);
        DoubleVector d0 = q.sub(DoubleVector.fromArray(SP, t, base));
        DoubleVector d1 = q.sub(DoubleVector.fromArray(SP, t, base + L));
        DoubleVector d2 = q.sub(DoubleVector.fromArray(SP, t, base + 2 * L));
        DoubleVector d3 = q.sub(DoubleVector.fromArray(SP, t, base + 3 * L));
        acc0 = acc0.add(d0.mul(d0));
        acc1 = acc1.add(d1.mul(d1));
        acc2 = acc2.add(d2.mul(d2));
        acc3 = acc3.add(d3.mul(d3));
        base += kPad;
      }
      acc0.intoArray(sums, cb);
      acc1.intoArray(sums, cb + L);
      acc2.intoArray(sums, cb + 2 * L);
      acc3.intoArray(sums, cb + 3 * L);
    }
    for (; cb < kPad; cb += 2 * L) {
      DoubleVector acc0 = DoubleVector.zero(SP);
      DoubleVector acc1 = DoubleVector.zero(SP);
      int base = cb;
      for (int i = 0; i < dims; i++) {
        DoubleVector q = DoubleVector.broadcast(SP, (double) v[off + i]);
        DoubleVector d0 = q.sub(DoubleVector.fromArray(SP, t, base));
        DoubleVector d1 = q.sub(DoubleVector.fromArray(SP, t, base + L));
        acc0 = acc0.add(d0.mul(d0));
        acc1 = acc1.add(d1.mul(d1));
        base += kPad;
      }
      acc0.intoArray(sums, cb);
      acc1.intoArray(sums, cb + L);
    }
  }

  /**
   * Fill {@code sums[0..kPad)} with the dot product of
   * {@code v[off..off+dims)} and each of the kPad transposed vectors, in
   * the same layout, padding and blocking as {@link #l2sqTransposed}.
   * Lane c computes {@code sum_i v[off+i] * t_c[i]} in element order, the
   * scalar dot kernel's order (the product is commutative, so the operand
   * order of the scalar kernel does not matter).
   */
  public static void dotTransposed(double[] t, int kPad, float[] v,
      int off, int dims, double[] sums) {
    int L = SP.length();
    int cb = 0;
    for (; cb + 4 * L <= kPad; cb += 4 * L) {
      DoubleVector acc0 = DoubleVector.zero(SP);
      DoubleVector acc1 = DoubleVector.zero(SP);
      DoubleVector acc2 = DoubleVector.zero(SP);
      DoubleVector acc3 = DoubleVector.zero(SP);
      int base = cb;
      for (int i = 0; i < dims; i++) {
        DoubleVector q = DoubleVector.broadcast(SP, (double) v[off + i]);
        acc0 = acc0.add(q.mul(DoubleVector.fromArray(SP, t, base)));
        acc1 = acc1.add(q.mul(DoubleVector.fromArray(SP, t, base + L)));
        acc2 = acc2.add(q.mul(DoubleVector.fromArray(SP, t, base + 2 * L)));
        acc3 = acc3.add(q.mul(DoubleVector.fromArray(SP, t, base + 3 * L)));
        base += kPad;
      }
      acc0.intoArray(sums, cb);
      acc1.intoArray(sums, cb + L);
      acc2.intoArray(sums, cb + 2 * L);
      acc3.intoArray(sums, cb + 3 * L);
    }
    for (; cb < kPad; cb += 2 * L) {
      DoubleVector acc0 = DoubleVector.zero(SP);
      DoubleVector acc1 = DoubleVector.zero(SP);
      int base = cb;
      for (int i = 0; i < dims; i++) {
        DoubleVector q = DoubleVector.broadcast(SP, (double) v[off + i]);
        acc0 = acc0.add(q.mul(DoubleVector.fromArray(SP, t, base)));
        acc1 = acc1.add(q.mul(DoubleVector.fromArray(SP, t, base + L)));
        base += kPad;
      }
      acc0.intoArray(sums, cb);
      acc1.intoArray(sums, cb + L);
    }
  }
}
