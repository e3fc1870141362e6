package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.functions.VectorFunctions._
import graft.search.Search

/** Scalar (int8) quantization: every dimension is affinely mapped onto
  * one byte using per-dimension [min, max] learned from the data — 4x
  * smaller than f32 at rest, and scored without decoding via ADC
  * (asymmetric distance computation): the query is expanded once on the
  * driver into a dims x 256 partial-distance table and each row costs
  * `dims` lookups + adds inside whole-stage codegen.
  *
  * This extends the reference's quantized-search family (sign-bit binary
  * quantization, lib/vettore/collection.ex:1252-1262 + search
  * collection.ex:263-295) to 8-bit precision: same candidate-cut +
  * exact-rerank contract, much tighter candidate quality. With
  * `candidates >= dataset size` the rerank covers every row, so results
  * degenerate to exact flat search — the same equivalence property the
  * reference pins for its adaptive modes
  * (test/vector_adversarial_test.exs:376-422).
  *
  * Every arithmetic step (f32 subtract, f64 scale, half-up round, f64
  * reconstruct) is chosen to be exactly replicable in portable SQL, so
  * the approximate CANDIDATE SET — not just the reranked output — is
  * oracle-checkable.
  */
object Sq8 {

  /** Per-dimension affine range; `rng = max - min` in f32 (0 for a
    * constant dimension, which always encodes to code 0). */
  final case class Model(mn: Array[Float], rng: Array[Float]) {
    def dims: Int = mn.length
  }

  /** Per-dimension min/max in one distributed pass: one partial
    * (min[], max[]) pair per partition, merged on the driver — no
    * shuffle and no (row x dim) explode (which at 100 TB would be a
    * dims-times blowup of the scan). */
  def train(df: DataFrame, vectorCol: String = "vector"): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(col(vectorCol)).as[Array[Float]]
      .mapPartitions { it =>
        var mn: Array[Float] = null
        var mx: Array[Float] = null
        it.foreach { v =>
          if (mn == null) { mn = v.clone(); mx = v.clone() }
          else {
            var d = 0
            while (d < v.length) {
              if (v(d) < mn(d)) mn(d) = v(d)
              if (v(d) > mx(d)) mx(d) = v(d)
              d += 1
            }
          }
        }
        if (mn == null) Iterator.empty else Iterator((mn, mx))
      }.collect()
    require(partials.nonEmpty, "cannot train SQ8 on an empty collection")
    val dims = partials.head._1.length
    val mn = partials.map(_._1).reduce((a, b) =>
      Array.tabulate(dims)(d => math.min(a(d), b(d))))
    val mx = partials.map(_._2).reduce((a, b) =>
      Array.tabulate(dims)(d => math.max(a(d), b(d))))
    Model(mn, Array.tabulate(dims)(d => mx(d) - mn(d)))
  }

  /** code = clamp(round((v - mn) * 255 / rng)): f32 subtract, then f64
    * scale + half-up round — each step mirrored by the SQL oracle. */
  def encodeVec(v: Array[Float], model: Model): Array[Byte] = {
    require(v.length == model.dims,
      s"dimension mismatch: ${v.length} vs ${model.dims}")
    val out = new Array[Byte](v.length)
    var d = 0
    while (d < v.length) {
      val r = model.rng(d)
      if (r != 0f) {
        val c = math.round((v(d) - model.mn(d)).toDouble * 255.0 / r.toDouble)
        out(d) = math.max(0L, math.min(255L, c)).toByte
      }
      d += 1
    }
    out
  }

  /** Codegen entry point ([[graft.expr.Sq8Encode]]): same kernel, one
    * primitive copy in, no boxed Seq. */
  def encodeVecData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      model: Model): Array[Byte] =
    encodeVec(v.toFloatArray(), model)

  /** Codes column (BinaryType, dims bytes/row at rest) — a fused codegen
    * expression, not a Scala UDF, so ingest stays in whole-stage codegen. */
  def encodeColumn(model: Model)(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.Sq8Encode(
        org.apache.spark.sql.graft.Bridge.expression(v), model))

  /** Attach codes (idempotent). */
  def withCodes(df: DataFrame, model: Model,
      codesCol: String = "sq8_codes"): DataFrame =
    if (df.columns.contains(codesCol)) df
    else df.withColumn(codesCol, encodeColumn(model)(col("vector")))

  private def similarityLike(metric: Metric): Boolean =
    metric == Metric.Cosine || metric == Metric.InnerProduct

  /** Query expanded into the position-major ADC table: entry (d, c) is
    * the per-dimension partial term against the reconstruction
    * `mn + c*rng/255` (f64). Distance metrics use squared error; dot
    * metrics use the product (additively decomposable either way). */
  def adcTable(model: Model, q: Array[Float], metric: Metric): Array[Double] = {
    require(q.length == model.dims,
      s"dimension mismatch: ${q.length} vs ${model.dims}")
    val sim = similarityLike(metric)
    val nip = metric == Metric.NegativeInnerProduct
    val t = new Array[Double](model.dims * 256)
    var d = 0
    while (d < model.dims) {
      val mn = model.mn(d).toDouble
      val rng = model.rng(d).toDouble
      val qd = q(d).toDouble
      var c = 0
      while (c < 256) {
        val recon = mn + c * rng / 255.0
        t(d * 256 + c) =
          if (sim) qd * recon
          else if (nip) -(qd * recon)
          else { val diff = qd - recon; diff * diff }
        c += 1
      }
      d += 1
    }
    t
  }

  /** SQ8 ANN: ADC candidate cut over codes (TakeOrderedAndProject — a
    * bounded heap per partition, no shuffle of vectors), exact rerank on
    * full vectors. `candidates >= n` degenerates to exact flat search. */
  def search(df: DataFrame, config: CollectionConfig, model: Model,
      query: Array[Float], limit: Int, candidates: Int = 0,
      codesCol: String = "sq8_codes"): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val table = adcTable(model, q, config.metric)
    val approx = adcDistance(col(codesCol), table, 256)
    val rank = if (similarityLike(config.metric)) -approx else approx
    // slim (id, adc-rank) cut: the codes-only scan's sort carries 12
    // bytes/row, and survivors re-enter as an id InSet over the raw
    // frame — the cut never touches the full-precision columns it is
    // there to avoid reading
    Search.rerankExact(
      Search.cutAndFilter(withCodes(df, model, codesCol), df, rank, effCand),
      config, q, limit)
  }

  /** Batch ADC search: ONE codes-only scan answers every query — the
    * training-pipeline shape (per-query driver jobs are the way a
    * million-query batch dies in production). Queries (qid, qvector) are
    * broadcast carrying their precomputed ADC tables; the per-query
    * candidate cut rides row_number's map-side WindowGroupLimit pre-cut
    * over (codes-derived rank, id) only; the exact rerank broadcasts the
    * <= nq*candidates survivors back onto the corpus, so the vector
    * column never enters a shuffle. Per-query results equal [[search]]
    * with the same candidates. */
  def searchMany(df: DataFrame, config: CollectionConfig, model: Model,
      queries: DataFrame, limit: Int, candidates: Int = 0,
      codesCol: String = "sq8_codes", knownNq: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val m = model
    val metric = config.metric
    val qNorm = Search.normalizedQueries(config, queries)
    val tableUdf = udf((q: Seq[Float]) => adcTable(m, q.toArray, metric))
    val qSide = qNorm.select(col("qid"), tableUdf(col("qvector")).as("_qtable"))
    val qHint = Search.adcBroadcastHint(df,
      if (knownNq >= 0) knownNq * model.dims * 256 else -1L)
    val approx = adcDistanceDyn(col(codesCol), col("_qtable"), 256)
    val scored = withCodes(df, model, codesCol).select(col("id"), col(codesCol))
      .crossJoin(qHint(qSide))
      .withColumn("arank", if (similarityLike(metric)) -approx else approx)
    val w = Window.partitionBy(col("qid")).orderBy(col("arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= effCand).select("qid", "id")
    Search.rerankManyExact(df, config, cands, qNorm, limit, effCand, knownNq)
  }
}
