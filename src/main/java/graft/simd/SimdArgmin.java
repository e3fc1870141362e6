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
 *     ({@code VectorKernels.distanceMultiRows}), the table being the
 *     query batch and {@code v} (or each row of a block) the stored row
 *     being scanned.</li>
 * </ul>
 *
 * Bit-identity contract: lane c accumulates its terms in element order
 * 0..dims-1 with one f64 accumulator -- exactly the scalar sequential
 * kernel's order for that pair (f32-to-f64 widening is exact and done
 * once at transpose time). The per-lane sums are therefore bit-equal to
 * {@code VectorKernels.distance(1 | 2, v, vec_c)}, and any argmin or
 * top-k over them picks the identical entries. Every kernel keeps sub,
 * mul and add as separate IEEE ops, as the scalar kernel does: no fused
 * multiply-add, which the Vector API would run one lane at a time in
 * software on a CPU or JVM without FMA.
 *
 * <p>{@link #dotTransposedRows} scores a block of stored rows against
 * one query table in tiles of 4 rows x 4 lane vectors: each table
 * vector loaded serves 4 rows, so the table streams once per 4 rows
 * instead of once per row. Rows past the last full tile, and table
 * columns past the last 4-vector block, run the one-row dot kernel. L2
 * has no row tile; its block callers run {@link #l2sqTransposed} once
 * per row.
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
    l2sqTransposed(t, kPad, v, off, dims, sums, 0);
  }

  /** {@link #l2sqTransposed} with column c's sum stored at
   * {@code sums[sOff + c]}: one row of a block's {@code sums}. */
  public static void l2sqTransposed(double[] t, int kPad, float[] v,
      int off, int dims, double[] sums, int sOff) {
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
      acc0.intoArray(sums, sOff + cb);
      acc1.intoArray(sums, sOff + cb + L);
      acc2.intoArray(sums, sOff + cb + 2 * L);
      acc3.intoArray(sums, sOff + cb + 3 * L);
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
      acc0.intoArray(sums, sOff + cb);
      acc1.intoArray(sums, sOff + cb + L);
    }
  }

  /**
   * The one-row dot kernel behind {@link #dotTransposedRows}'s tails:
   * {@code sums[sOff + c]} = the dot product of {@code v[off..off+dims)}
   * and transposed vector c, for table columns c in {@code [cb0, kPad)}
   * ({@code cb0} a multiple of {@code 2 * laneCount()}), in the layout,
   * padding and blocking of {@link #l2sqTransposed}. Lane c computes
   * {@code sum_i v[off+i] * t_c[i]} in element order, the scalar dot
   * kernel's order (the product is commutative, so the operand order of
   * the scalar kernel does not matter).
   */
  private static void dotFrom(double[] t, int kPad, float[] v,
      int off, int dims, double[] sums, int sOff, int cb0) {
    int L = SP.length();
    int cb = cb0;
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
      acc0.intoArray(sums, sOff + cb);
      acc1.intoArray(sums, sOff + cb + L);
      acc2.intoArray(sums, sOff + cb + 2 * L);
      acc3.intoArray(sums, sOff + cb + 3 * L);
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
      acc0.intoArray(sums, sOff + cb);
      acc1.intoArray(sums, sOff + cb + L);
    }
  }

  /**
   * For each row r below {@code n}, the dot product of
   * {@code vs[r][0..dims)} with each of the kPad transposed vectors,
   * stored at {@code sums[r * kPad + c]} ({@code sums} holds at least
   * {@code n * kPad}). Each row reads only its first {@code dims}
   * elements. Tiles of 4 rows x 4 lane vectors keep 16 independent
   * accumulators; row and column tails run the one-row kernel. Every
   * (row, column) sum is bit-equal to the scalar dot kernel's.
   */
  public static void dotTransposedRows(double[] t, int kPad, float[][] vs, int n,
      int dims, double[] sums) {
    int L = SP.length();
    int r = 0;
    for (; r + 4 <= n; r += 4) {
      float[] v0 = vs[r], v1 = vs[r + 1], v2 = vs[r + 2], v3 = vs[r + 3];
      int cb = 0;
      for (; cb + 4 * L <= kPad; cb += 4 * L) {
        DoubleVector a00 = DoubleVector.zero(SP); DoubleVector a01 = DoubleVector.zero(SP);
        DoubleVector a02 = DoubleVector.zero(SP); DoubleVector a03 = DoubleVector.zero(SP);
        DoubleVector a10 = DoubleVector.zero(SP); DoubleVector a11 = DoubleVector.zero(SP);
        DoubleVector a12 = DoubleVector.zero(SP); DoubleVector a13 = DoubleVector.zero(SP);
        DoubleVector a20 = DoubleVector.zero(SP); DoubleVector a21 = DoubleVector.zero(SP);
        DoubleVector a22 = DoubleVector.zero(SP); DoubleVector a23 = DoubleVector.zero(SP);
        DoubleVector a30 = DoubleVector.zero(SP); DoubleVector a31 = DoubleVector.zero(SP);
        DoubleVector a32 = DoubleVector.zero(SP); DoubleVector a33 = DoubleVector.zero(SP);
        int base = cb;
        for (int i = 0; i < dims; i++) {
          DoubleVector t0 = DoubleVector.fromArray(SP, t, base);
          DoubleVector t1 = DoubleVector.fromArray(SP, t, base + L);
          DoubleVector t2 = DoubleVector.fromArray(SP, t, base + 2 * L);
          DoubleVector t3 = DoubleVector.fromArray(SP, t, base + 3 * L);
          DoubleVector x0 = DoubleVector.broadcast(SP, (double) v0[i]);
          a00 = a00.add(x0.mul(t0));
          a01 = a01.add(x0.mul(t1));
          a02 = a02.add(x0.mul(t2));
          a03 = a03.add(x0.mul(t3));
          DoubleVector x1 = DoubleVector.broadcast(SP, (double) v1[i]);
          a10 = a10.add(x1.mul(t0));
          a11 = a11.add(x1.mul(t1));
          a12 = a12.add(x1.mul(t2));
          a13 = a13.add(x1.mul(t3));
          DoubleVector x2 = DoubleVector.broadcast(SP, (double) v2[i]);
          a20 = a20.add(x2.mul(t0));
          a21 = a21.add(x2.mul(t1));
          a22 = a22.add(x2.mul(t2));
          a23 = a23.add(x2.mul(t3));
          DoubleVector x3 = DoubleVector.broadcast(SP, (double) v3[i]);
          a30 = a30.add(x3.mul(t0));
          a31 = a31.add(x3.mul(t1));
          a32 = a32.add(x3.mul(t2));
          a33 = a33.add(x3.mul(t3));
          base += kPad;
        }
        int o0 = r * kPad + cb;
        a00.intoArray(sums, o0);
        a01.intoArray(sums, o0 + L);
        a02.intoArray(sums, o0 + 2 * L);
        a03.intoArray(sums, o0 + 3 * L);
        int o1 = (r + 1) * kPad + cb;
        a10.intoArray(sums, o1);
        a11.intoArray(sums, o1 + L);
        a12.intoArray(sums, o1 + 2 * L);
        a13.intoArray(sums, o1 + 3 * L);
        int o2 = (r + 2) * kPad + cb;
        a20.intoArray(sums, o2);
        a21.intoArray(sums, o2 + L);
        a22.intoArray(sums, o2 + 2 * L);
        a23.intoArray(sums, o2 + 3 * L);
        int o3 = (r + 3) * kPad + cb;
        a30.intoArray(sums, o3);
        a31.intoArray(sums, o3 + L);
        a32.intoArray(sums, o3 + 2 * L);
        a33.intoArray(sums, o3 + 3 * L);
      }
      for (int j = 0; j < 4; j++)
        dotFrom(t, kPad, vs[r + j], 0, dims, sums, (r + j) * kPad, cb);
    }
    for (; r < n; r++) dotFrom(t, kPad, vs[r], 0, dims, sums, r * kPad, 0);
  }
}
