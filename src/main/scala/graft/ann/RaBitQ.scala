package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CollectionConfig, Metric}
import graft.functions.VectorFunctions._
import graft.search.Search

/** RaBitQ-style calibrated binary quantization (Gao & Long, "RaBitQ:
  * Quantizing High-Dimensional Vectors with a Theoretical Error Bound
  * for Approximate Nearest Neighbor Search", SIGMOD 2024): rotate each
  * (optionally centered) vector with a seeded sign-Hadamard orthonormal
  * transform, keep ONE bit per rotated dimension, and store two scalar
  * calibration factors per row — `rnorm` = ||rotated residual|| and
  * `sabs` = sum |rotated residual_i|. Against a rotated query the pair
  * inner product is then ESTIMATED (nearly unbiased on rotated data, the
  * paper's Sec. 3 estimator) instead of merely sign-matched:
  *
  *   <q_hat, o_hat> ~= <q_hat, x_bar> / <o_hat, x_bar>
  *                   = (signed-dot(bits, q_hat) / sqrt(D))
  *                     / (sabs / (rnorm * sqrt(D)))
  *                   = signed-dot * rnorm / sabs            (sqrt(D) cancels)
  *
  * which upgrades the reference's raw sign-bit candidate pass
  * (lib/vettore/collection.ex:263-295, same 1 bit/dim at-rest cost plus
  * 24 bytes of factors) to CALIBRATED approximate distances: the
  * candidate cut ranks by estimated metric values, not Hamming proxies,
  * so recall at equal `candidates` is strictly better on anisotropic
  * corpora. The final top-k remains an exact rerank — with
  * `candidates >= n` every metric degenerates to exact flat search, the
  * same equivalence contract as the rest of the quantized family.
  *
  * Scale shape (the 100 TB story): encode is one codegen projection at
  * ingest (O(d log d) fast-Hadamard per row on the bulk path); the
  * candidate scan reads `padded/8 + 24` bytes per row — ~14x less than
  * the f32 vectors it avoids — and cuts with the same slim (id, rank)
  * discipline as the sign-bit and SQ8/PQ tiers; the batch form answers a
  * whole query block in ONE codes-only scan. Rotation, bits, factors,
  * and the estimator are all deterministic from the seed and accumulate
  * in ascending index order, so an external SQL oracle replicates the
  * CANDIDATE SET, not just the reranked output ([[Opq]] pioneered the
  * same sign-Hadamard/ordered-sum contract for the PQ family).
  */
object RaBitQ {

  /** `rounds` sign-Hadamard rounds (round r draws its +-1 diagonal from
    * `seed + r`); `centered = true` subtracts the trained per-dimension
    * mean before rotating (the paper's residual-vs-centroid form —
    * composes with IVF cells where each cell would carry its own
    * centroid); `ordered = false` takes the O(d log d) fast-Hadamard
    * butterfly for bulk ingest (same rotation up to last-ulp summation
    * order; gates pin the ordered variant, like [[Opq.rotateFht]]). */
  final case class Config(dims: Int, rounds: Int = 1, seed: Long = 7L,
      centered: Boolean = false, ordered: Boolean = true) {
    require(dims > 0, "dims must be positive")
    require(rounds > 0, "rounds must be positive")
    /** Rotation width: dims padded up to the next power of two (the
      * Hadamard transform needs it; padding slots enter as zeros and
      * the orthonormal rotation preserves norms). */
    val padded: Int = {
      var p = 1
      while (p < dims) p <<= 1
      p
    }
  }

  /** Trained model: config + per-dimension centroid (all-zero when
    * uncentered, so the estimator's centroid cross-terms vanish). */
  final case class Model(config: Config, centroid: Array[Double]) {
    require(centroid.length == config.dims, "centroid/dims mismatch")
    def padded: Int = config.padded
    def words: Int = (config.padded + 63) / 64
    /** Per-round +-1 diagonals, regenerated from the seed on each JVM. */
    @transient lazy val signs: Array[Array[Float]] =
      Array.tabulate(config.rounds)(r => Opq.signs(config.padded, config.seed + r))
    /** ||centroid||^2 (ascending-index f64 sum — oracle order). */
    @transient lazy val cc: Double = {
      var s = 0.0
      var d = 0
      while (d < centroid.length) { s += centroid(d) * centroid(d); d += 1 }
      s
    }
  }

  /** Driver-prepared query: rotated residual direction `qhat` (unit,
    * padded), its norm `nqr` = ||q - c||, and `qc` = <q, c>. */
  final case class QueryPrep(qhat: Array[Double], nqr: Double, qc: Double)

  /** Stored struct column: packed sign bits of the rotated residual +
    * the two calibration factors + the centroid dot (0 when
    * uncentered). */
  val schema: StructType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("rnorm", DoubleType, nullable = false),
    StructField("sabs", DoubleType, nullable = false),
    StructField("oc", DoubleType, nullable = false)))

  /** Query-prep struct (in-plan batch form of [[QueryPrep]]). */
  val qprepSchema: StructType = StructType(Seq(
    StructField("qhat", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nqr", DoubleType, nullable = false),
    StructField("qc", DoubleType, nullable = false)))

  /** Candidate-rank mode per metric: 0 = estimated L2^2 ascending (all
    * distance metrics — Manhattan/Chebyshev use it as a proxy, the
    * exact rerank restores their true order), 1 = -estimated <q,o>
    * (inner product), 2 = +estimated <q,o> (negative inner product:
    * most-opposite wins, mirroring the quantized family's direction
    * rule), 3 = -estimated cosine. */
  def modeFor(metric: Metric): Int = metric match {
    case Metric.InnerProduct         => 1
    case Metric.NegativeInnerProduct => 2
    case Metric.Cosine               => 3
    case _                           => 0
  }

  /** Train: centroid = per-dimension mean when `centered` (one
    * distributed pass of per-partition (sum[], count) partials, merged
    * in partition order — deterministic, no shuffle, no row x dim
    * explode), all-zero otherwise (no corpus pass at all). */
  def train(df: DataFrame, config: Config, vectorCol: String = "vector"): Model = {
    if (!config.centered) return Model(config, new Array[Double](config.dims))
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(col(vectorCol)).as[Array[Float]]
      .mapPartitions { it =>
        var s: Array[Double] = null
        var n = 0L
        it.foreach { v =>
          if (s == null) s = new Array[Double](v.length)
          var d = 0
          while (d < v.length) { s(d) += v(d); d += 1 }
          n += 1
        }
        if (s == null) Iterator.empty else Iterator((s, n))
      }.collect()
    require(partials.nonEmpty, "cannot train RaBitQ on an empty collection")
    val dims = partials.head._1.length
    require(dims == config.dims, s"dimension mismatch: $dims vs ${config.dims}")
    val sum = new Array[Double](dims)
    var n = 0L
    partials.foreach { case (s, c) =>
      var d = 0
      while (d < dims) { sum(d) += s(d); d += 1 }
      n += c
    }
    Model(config, sum.map(_ / n.toDouble))
  }

  // ------------------------------------------------------------ rotation

  /** Ordered-sum rotation round (oracle-exact): out(i) =
    * (sum_j (-1)^popcount(i&j) * sgn(j) * a(j)) / sqrt(D), f64
    * accumulation in ascending j — term-for-term the SQL `list_sum`. */
  private def rotateOrdered(a: Array[Double], sgn: Array[Float]): Array[Double] = {
    val d = a.length
    val inv = math.sqrt(d.toDouble)
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) {
        val term = sgn(j).toDouble * a(j)
        acc += (if ((java.lang.Integer.bitCount(i & j) & 1) == 1) -term else term)
        j += 1
      }
      out(i) = acc / inv
      i += 1
    }
    out
  }

  /** Fast Walsh-Hadamard round: same rotation, butterfly order,
    * O(d log d) — the bulk-ingest path ([[Opq.rotateFht]]'s shape in
    * f64). */
  private def rotateFhtRound(a: Array[Double], sgn: Array[Float]): Array[Double] = {
    val d = a.length
    val out = new Array[Double](d)
    var j = 0
    while (j < d) { out(j) = sgn(j).toDouble * a(j); j += 1 }
    var len = 1
    while (len < d) {
      var i = 0
      while (i < d) {
        var k = i
        while (k < i + len) {
          val x = out(k); val y = out(k + len)
          out(k) = x + y; out(k + len) = x - y
          k += 1
        }
        i += 2 * len
      }
      len *= 2
    }
    val inv = math.sqrt(d.toDouble)
    var i = 0
    while (i < d) { out(i) /= inv; i += 1 }
    out
  }

  /** Pad the centered residual to the rotation width and apply every
    * round. All f64 — no f32 casts anywhere past the input. */
  def rotateResidual(v: Array[Float], m: Model): Array[Double] = {
    require(v.length == m.config.dims,
      s"dimension mismatch: ${v.length} vs ${m.config.dims}")
    var a = new Array[Double](m.padded)
    var i = 0
    while (i < v.length) { a(i) = v(i).toDouble - m.centroid(i); i += 1 }
    var r = 0
    while (r < m.config.rounds) {
      a = if (m.config.ordered) rotateOrdered(a, m.signs(r))
          else rotateFhtRound(a, m.signs(r))
      r += 1
    }
    a
  }

  // -------------------------------------------------------------- encode

  /** (packed sign bits, ||residual||, sum|residual_i|, <v, centroid>)
    * of one vector's rotated residual. Bit i set iff rotated value >= 0
    * (the [[graft.expr.VectorKernels.packSignBits]] convention). */
  def encodeVec(v: Array[Float], m: Model): (Array[Long], Double, Double, Double) = {
    val r = rotateResidual(v, m)
    val words = new Array[Long](m.words)
    var norm2 = 0.0
    var sabs = 0.0
    var i = 0
    while (i < r.length) {
      val x = r(i)
      if (x >= 0.0) words(i >>> 6) |= 1L << (i & 63)
      norm2 += x * x
      sabs += math.abs(x)
      i += 1
    }
    var oc = 0.0
    if (m.config.centered) {
      var d = 0
      while (d < v.length) { oc += v(d).toDouble * m.centroid(d); d += 1 }
    }
    (words, math.sqrt(norm2), sabs, oc)
  }

  /** Codegen entry point ([[graft.expr.RaBitQEncode]]). */
  def encodeRowData(v: ArrayData, m: Model): InternalRow = {
    val (w, n, s, o) = encodeVec(v.toFloatArray(), m)
    new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(w), n, s, o))
  }

  /** Encode as a fused codegen column (ingest stays in whole-stage
    * codegen; the model rides the plan as one reference object). */
  def encodeColumn(model: Model)(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.RaBitQEncode(
        org.apache.spark.sql.graft.Bridge.expression(v), model))

  /** Attach the struct column (idempotent). */
  def withCodes(df: DataFrame, model: Model,
      structCol: String = "rabitq"): DataFrame =
    if (df.columns.contains(structCol)) df
    else df.withColumn(structCol, encodeColumn(model)(col("vector")))

  // --------------------------------------------------------------- query

  /** Rotate the (already config-normalized) query's residual; `qhat` is
    * its unit direction (all-zero for a zero residual — every estimate
    * then degenerates to the prior-only distance, deterministically). */
  def prepareQueryRot(m: Model, q: Array[Float]): QueryPrep = {
    val r = rotateResidual(q, m)
    var n2 = 0.0
    var i = 0
    while (i < r.length) { n2 += r(i) * r(i); i += 1 }
    val nqr = math.sqrt(n2)
    val qhat = new Array[Double](r.length)
    if (nqr > 0.0) {
      i = 0
      while (i < r.length) { qhat(i) = r(i) / nqr; i += 1 }
    }
    var qc = 0.0
    if (m.config.centered) {
      var d = 0
      while (d < q.length) { qc += q(d).toDouble * m.centroid(d); d += 1 }
    }
    QueryPrep(qhat, nqr, qc)
  }

  /** Codegen entry point ([[graft.expr.RaBitQQueryPrep]]) — the batch
    * path rotates each query IN PLAN (nq rows, not the corpus). */
  def queryPrepRowData(v: ArrayData, m: Model): InternalRow = {
    val qp = prepareQueryRot(m, v.toFloatArray())
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(qp.qhat), qp.nqr, qp.qc))
  }

  def queryPrepColumn(model: Model)(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.RaBitQQueryPrep(
        org.apache.spark.sql.graft.Bridge.expression(v), model))

  // ------------------------------------------------------------ estimator

  /** Candidate rank of one stored row against one prepared query.
    * `e` estimates <q_hat, o_hat> (guarded to 0 on a degenerate
    * all-zero residual); `ip` estimates <q - c, o - c>; the centroid
    * cross-terms reassemble full-space values:
    * <q,o> = ip + <q,c> + <o,c> - ||c||^2,
    * L2^2(q,o) = ||q-c||^2 + ||o-c||^2 - 2 ip,
    * ||o||^2 = ||o-c||^2 + 2 <o,c> - ||c||^2. */
  def rankBits(codes: Array[Long], rnorm: Double, sabs: Double, oc: Double,
      qhat: Array[Double], nqr: Double, qc: Double, cc: Double,
      mode: Int): Double = {
    var sdot = 0.0
    var i = 0
    while (i < qhat.length) {
      val x = qhat(i)
      sdot += (if ((codes(i >>> 6) & (1L << (i & 63))) != 0L) x else -x)
      i += 1
    }
    val e = if (sabs == 0.0) 0.0 else sdot * rnorm / sabs
    val ip = nqr * rnorm * e
    mode match {
      case 1 => -(ip + qc + oc - cc)
      case 2 => ip + qc + oc - cc
      case 3 =>
        val on2 = rnorm * rnorm + 2.0 * oc - cc
        if (on2 <= 0.0) 0.0 else -(ip + qc + oc - cc) / math.sqrt(on2)
      case _ => nqr * nqr + rnorm * rnorm - 2.0 * ip
    }
  }

  /** Codegen entry points: stored struct x driver query
    * ([[graft.expr.RaBitQRank]]) and stored struct x in-plan query prep
    * ([[graft.expr.RaBitQPairRank]], the batch pair form). */
  def rankRowData(row: InternalRow, qp: QueryPrep, cc: Double, mode: Int): Double =
    rankBits(row.getArray(0).toLongArray(), row.getDouble(1), row.getDouble(2),
      row.getDouble(3), qp.qhat, qp.nqr, qp.qc, cc, mode)

  def pairRankRowData(row: InternalRow, qrow: InternalRow, cc: Double,
      mode: Int): Double =
    rankBits(row.getArray(0).toLongArray(), row.getDouble(1), row.getDouble(2),
      row.getDouble(3), qrow.getArray(0).toDoubleArray(), qrow.getDouble(1),
      qrow.getDouble(2), cc, mode)

  def rankColumn(model: Model, qp: QueryPrep, mode: Int)(s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.RaBitQRank(
        org.apache.spark.sql.graft.Bridge.expression(s), qp, model.cc, mode))

  def pairRankColumn(cc: Double, mode: Int)(s: Column, qp: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.RaBitQPairRank(
        org.apache.spark.sql.graft.Bridge.expression(s),
        org.apache.spark.sql.graft.Bridge.expression(qp), cc, mode))

  // -------------------------------------------------------------- search

  /** RaBitQ ANN: estimated-distance candidate cut over the codes+factors
    * scan (slim (id, rank) discipline — the full-precision vectors never
    * enter the cut), exact rerank on full vectors. `candidates >= n`
    * degenerates to exact flat search for every metric. */
  def search(df: DataFrame, config: CollectionConfig, model: Model,
      query: Array[Float], limit: Int, candidates: Int = 0,
      structCol: String = "rabitq"): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val qp = prepareQueryRot(model, q)
    val rank = rankColumn(model, qp, modeFor(config.metric))(col(structCol))
    Search.rerankExact(
      Search.cutAndFilter(withCodes(df, model, structCol), df, rank, effCand),
      config, q, limit)
  }

  /** Batch RaBitQ search: ONE codes-only scan answers every query.
    * Queries rotate in plan (nq rows) and broadcast onto the slim
    * (id, struct) scan; the per-query candidate cut rides row_number's
    * map-side WindowGroupLimit over (estimated rank, id) pairs only; the
    * shared bounded-broadcast exact rerank finishes. Per-query results
    * equal [[search]] with the same `candidates`. */
  def searchMany(df: DataFrame, config: CollectionConfig, model: Model,
      queries: DataFrame, limit: Int, candidates: Int = 0,
      structCol: String = "rabitq", knownNq: Long = -1L,
      codes: Option[DataFrame] = None): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val mode = modeFor(config.metric)
    val qNorm = Search.normalizedQueries(config, queries)
    val qSide = qNorm.select(col("qid"),
      queryPrepColumn(model)(col("qvector")).as("_qprep"))
    val qHint = Search.adcBroadcastHint(df,
      if (knownNq >= 0) knownNq * model.padded else -1L)
    // a split at-rest layout (codes-only file beside the vector file —
    // the PQ-style shape) passes `codes`; the candidate scan then never
    // touches the full-precision frame it is there to avoid reading
    val scored = codes.getOrElse(withCodes(df, model, structCol))
      .select(col("id"), col(structCol))
      .filter(col("id").isNotNull && col(structCol).isNotNull)
      .crossJoin(qHint(qSide))
      .withColumn("_arank", pairRankColumn(model.cc, mode)(col(structCol), col("_qprep")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= effCand).select("qid", "id")
    Search.rerankManyExact(df, config, cands, qNorm, limit, effCand, knownNq)
  }
}
