package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.expr.VectorKernels
import graft.functions.VectorFunctions._
import graft.search.Search

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): the vector is split into `m` contiguous
  * subspaces, each quantized by its own small k-means codebook, so a row
  * stores only `m` bytes. A query is expanded once (driver-side) into an
  * m x k partial-distance table and scored by ADC lookups — the standard
  * billion-scale compression path (e.g. beneath IVF-PQ indexes).
  *
  * Spark shape mirrors [[IvfIndex]]: codebooks are trained on a
  * driver-side sample (deterministic Lloyd's per subspace, shared core)
  * and shipped as literals; encoding is a narrow projection; search is a
  * codegen'd ADC scan -> TakeOrderedAndProject candidate cut -> exact
  * rerank. `candidates >= n` degenerates to exact flat search (same
  * equivalence property the reference pins for its adaptive modes,
  * test/vector_adversarial_test.exs:376-422).
  *
  * Training via [[trainOrdered]] uses a caller-chosen sample order, so an
  * external SQL oracle can replicate the k-means — and therefore the
  * approximate candidate set — end-to-end.
  */
object Pq {

  final case class PqConfig(m: Int = 4, k: Int = 8, iterations: Int = 3,
      sampleSize: Int = 256)

  /** codebooks(j)(c): centroid c of subspace j, each dims/m floats. */
  def trainOrdered(df: DataFrame, config: CollectionConfig, pq: PqConfig,
      order: Column, vectorCol: String = "vector"): Array[Array[Array[Float]]] = {
    require(config.dimensions % pq.m == 0,
      s"dims ${config.dimensions} not divisible by m=${pq.m}")
    require(pq.k <= 256, "PQ codes are one byte: k must be <= 256")
    val sub = config.dimensions / pq.m
    val sample = df.orderBy(order).select(vectorCol)
      .limit(pq.sampleSize).collect().map(_.getSeq[Float](0).toArray)
    parSubspaces(pq.m) { j =>
      val slices = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      IvfIndex.lloydKMeans(slices, sub, pq.k, pq.iterations)
    }
  }

  /** Run the `m` independent per-subspace trainings on driver threads.
    * Each subspace's k-means is self-contained and deterministic, so
    * the result array is bit-identical to the sequential
    * `Array.tabulate(m)(f)` — only wall-clock changes (the m=32
    * codebook training was the single largest driver-side stage of the
    * index write paths, ~2 s single-threaded at 500k/384d). */
  private[ann] def parSubspaces(m: Int)(
      f: Int => Array[Array[Float]]): Array[Array[Array[Float]]] = {
    val out = new Array[Array[Array[Float]]](m)
    val threads = math.max(1,
      math.min(m, Runtime.getRuntime.availableProcessors))
    if (threads == 1) {
      var j = 0
      while (j < m) { out(j) = f(j); j += 1 }
      return out
    }
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val workers = Array.tabulate(threads) { _ =>
      val t = new Thread(() => {
        var j = next.getAndIncrement()
        while (j < m && failure.get() == null) {
          try out(j) = f(j)
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          j = next.getAndIncrement()
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    out
  }

  /** One byte per subspace: the nearest (L2, first-min tie-break)
    * codeword of each slice. Dispatches to the candidate-per-lane SIMD
    * argmin when available (bit-identical codes — see [[ArgminKernel]]). */
  def encodeVec(v: Array[Float], codebooks: Array[Array[Array[Float]]]): Array[Byte] =
    ArgminKernel.books(codebooks).encode(v)

  /** Scalar encode (SIMD-unavailable fallback; also the reference the
    * SIMD self-check pins against). */
  private[graft] def encodeVecScalar(v: Array[Float],
      codebooks: Array[Array[Array[Float]]]): Array[Byte] = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    require(v.length == m * sub, s"dimension mismatch: ${v.length} vs ${m * sub}")
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val slice = java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)
      out(j) = IvfIndex.nearestCentroidScalar(slice, codebooks(j)).toByte
      j += 1
    }
    out
  }

  /** Codegen entry point ([[graft.expr.PqEncode]]): same kernel, one
    * primitive copy in, no boxed Seq. */
  def encodeVecData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      codebooks: Array[Array[Array[Float]]]): Array[Byte] =
    encodeVec(v.toFloatArray(), codebooks)

  /** Codes column (BinaryType, m bytes/row at rest — e.g. 4 bytes for a
    * 384-dim vector, a 384x compression of the scan payload) — a fused
    * codegen expression, not a Scala UDF. */
  def encodeColumn(codebooks: Array[Array[Array[Float]]])(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.PqEncode(
        org.apache.spark.sql.graft.Bridge.expression(v), codebooks))

  def withCodes(df: DataFrame, codebooks: Array[Array[Array[Float]]],
      codesCol: String = "pq_codes"): DataFrame =
    if (df.columns.contains(codesCol)) df
    else df.withColumn(codesCol, encodeColumn(codebooks)(col("vector")))

  private def similarityLike(metric: Metric): Boolean =
    metric == Metric.Cosine || metric == Metric.InnerProduct

  /** Position-major m x k ADC table: entry (j, c) is the f64 partial
    * term between the query's j-th slice and codeword c (squared L2 for
    * distance metrics, dot for similarity metrics — both additively
    * decomposable across subspaces; subspace accumulation order is
    * j = 0..m-1, matching the oracle's ordered sum). */
  def adcTable(codebooks: Array[Array[Array[Float]]], q: Array[Float],
      metric: Metric): Array[Double] = {
    val m = codebooks.length
    val k = codebooks(0).length
    val sub = codebooks(0)(0).length
    require(q.length == m * sub, s"dimension mismatch: ${q.length} vs ${m * sub}")
    val sim = similarityLike(metric)
    val nip = metric == Metric.NegativeInnerProduct
    val t = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val qSlice = java.util.Arrays.copyOfRange(q, j * sub, (j + 1) * sub)
      var c = 0
      while (c < k) {
        val term =
          if (sim) VectorKernels.distance(3, qSlice, codebooks(j)(c))
          else if (nip) -VectorKernels.distance(3, qSlice, codebooks(j)(c))
          else VectorKernels.distance(1, qSlice, codebooks(j)(c)) // l2 squared
        t(j * k + c) = term
        c += 1
      }
      j += 1
    }
    t
  }

  /** PQ ANN: ADC candidate cut over m-byte codes, exact rerank on full
    * vectors. The scan reads m bytes + does m lookups per row. */
  def search(df: DataFrame, config: CollectionConfig,
      codebooks: Array[Array[Array[Float]]], query: Array[Float], limit: Int,
      candidates: Int = 0, codesCol: String = "pq_codes"): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val table = adcTable(codebooks, q, config.metric)
    val approx = adcDistance(col(codesCol), table, codebooks(0).length)
    val rank = if (similarityLike(config.metric)) -approx else approx
    // slim (id, adc-rank) cut + InSet survivors, like Sq8.search; above
    // the driver-collect bound the cut degrades to a left-semi join
    Search.rerankExact(
      Search.cutAndFilter(withCodes(df, codebooks, codesCol), df, rank, effCand),
      config, q, limit)
  }

  /** Batch ADC search over m-byte codes — same contract and shape as
    * [[Sq8.searchMany]] (broadcast per-query tables, codes-only scan,
    * map-side pre-cut window, broadcast-survivor exact rerank); the scan
    * side reads m bytes + does m lookups per (row, query) pair. */
  def searchMany(df: DataFrame, config: CollectionConfig,
      codebooks: Array[Array[Array[Float]]], queries: DataFrame, limit: Int,
      candidates: Int = 0, codesCol: String = "pq_codes",
      knownNq: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(limit > 0, "limit must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val cb = codebooks
    val metric = config.metric
    val qNorm = Search.normalizedQueries(config, queries)
    val tableUdf = udf((q: Seq[Float]) => adcTable(cb, q.toArray, metric))
    val qSide = qNorm.select(col("qid"), tableUdf(col("qvector")).as("_qtable"))
    val qHint = Search.adcBroadcastHint(df,
      if (knownNq >= 0) knownNq * codebooks.length * codebooks(0).length else -1L)
    val approx = adcDistanceDyn(col(codesCol), col("_qtable"), codebooks(0).length)
    val scored = withCodes(df, codebooks, codesCol).select(col("id"), col(codesCol))
      .crossJoin(qHint(qSide))
      .withColumn("arank", if (similarityLike(metric)) -approx else approx)
    val w = Window.partitionBy(col("qid")).orderBy(col("arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= effCand).select("qid", "id")
    Search.rerankManyExact(df, config, cands, qNorm, limit, effCand, knownNq)
  }
}
