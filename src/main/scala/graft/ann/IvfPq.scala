package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.functions.VectorFunctions._
import graft.search.Search

/** IVF-PQ: the standard billion-vector ANN layout (coarse k-means cells
  * for pruning + product-quantized codes for in-cell scoring, exact
  * rerank on the survivors). At rest a row carries one cell id and m
  * code bytes; a probe prunes whole cells (whole files/partitions under
  * [[IvfIndex.writePartitioned]]) before any IO, then scores survivors
  * with ADC lookups inside whole-stage codegen — the scan never touches
  * a float vector until the final `candidates`-row rerank.
  *
  * Composition of [[IvfIndex]] (cells) and [[Pq]] (codes): both trained
  * deterministically on ordered samples, so the full pipeline — both
  * k-means, the probe set, the ADC candidate cut — is replicable by an
  * external SQL oracle. `nprobe = k` with `candidates >= n` degenerates
  * to exact flat search.
  */
object IvfPq {

  /** Attach cell + code columns (idempotent); write with
    * [[IvfIndex.writePartitioned]] for cell-pruned storage. */
  def prepare(df: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    Pq.withCodes(IvfIndex.withCells(df, centroids), codebooks)

  def search(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      query: Array[Float], limit: Int, nprobe: Int,
      candidates: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val cells = IvfIndex.probeCells(q, centroids, nprobe)
    val table = Pq.adcTable(codebooks, q, config.metric)
    val sim = config.metric == Metric.Cosine || config.metric == Metric.InnerProduct
    val prepared =
      if (df.columns.contains("ivf_cell") && df.columns.contains("pq_codes")) df
      else prepare(df, centroids, codebooks)
    val approx = adcDistance(col("pq_codes"), table, codebooks(0).length)
    // slim (id, adc-rank) cut over the probed cells + InSet survivors;
    // the rerank keeps the cell probe on its scan too — survivors lie in
    // probed cells by construction, and on the partitioned at-rest
    // layout that filter IS the directory pruning (PartitionFilters),
    // which an id-only probe would forfeit
    val probed = prepared.filter(col("ivf_cell").isin(cells: _*))
    Search.rerankExact(
      Search.cutAndFilter(probed, probed, if (sim) -approx else approx, effCand),
      config, q, limit)
  }

  /** Batch IVF-PQ search — the full scale shape for a million-query
    * training batch: each query explodes to its nprobe probed cells and
    * the (cell, qid, ADC-table) side is BROADCAST, so the corpus join
    * touches only probed-cell rows and reads only (cell, id, m-byte
    * codes); the per-query candidate cut rides row_number's map-side
    * WindowGroupLimit pre-cut; the exact rerank broadcasts the bounded
    * survivor set back by id (vectors never ride a shuffle). Per-query
    * results equal [[search]] with the same nprobe/candidates. */
  def searchMany(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      queries: DataFrame, limit: Int, nprobe: Int,
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val cents = centroids
    val cb = codebooks
    val np = nprobe
    val metric = config.metric
    val sim = metric == Metric.Cosine || metric == Metric.InnerProduct
    val qNorm = Search.normalizedQueries(config, queries)
    val tableUdf = udf((q: Seq[Float]) => Pq.adcTable(cb, q.toArray, metric))
    val probeUdf = udf((q: Seq[Float]) => IvfIndex.probeCells(q.toArray, cents, np).toArray)
    val qSide = qNorm.select(col("qid"), tableUdf(col("qvector")).as("_qtable"),
      explode(probeUdf(col("qvector"))).as("ivf_cell"))
    // the exploded broadcast duplicates each query's ADC table nprobe
    // times — guard on total cells like the residual path
    val qHint = Search.adcBroadcastHint(df, if (knownNq >= 0)
      knownNq * np * codebooks.length * codebooks(0).length else -1L)
    val prepared =
      if (df.columns.contains("ivf_cell") && df.columns.contains("pq_codes")) df
      else prepare(df, cents, cb)
    val approx = adcDistanceDyn(col("pq_codes"), col("_qtable"), codebooks(0).length)
    val scored = prepared.select(col("ivf_cell"), col("id"), col("pq_codes"))
      .join(qHint(qSide), "ivf_cell")
      .withColumn("arank", if (sim) -approx else approx)
    val w = Window.partitionBy(col("qid")).orderBy(col("arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= effCand).select("qid", "id")
    Search.rerankManyExact(df, config, cands, qNorm, limit, effCand, knownNq)
  }

  // ------------------------------------------------- residual encoding
  //
  // FAISS-style IVFPQ: codes quantize the RESIDUAL v - centroid[cell]
  // rather than v itself. Residual norms are much smaller than vector
  // norms, so the same code budget spends its resolution where it
  // matters; for L2, ||q - (centroid + recon)||^2 = ||qres - recon||^2
  // with qres = q - centroid, so ADC works per probed cell with a
  // cell-specific query residual table.

  /** Residual in f32 (element-wise subtract, mirrored by the oracle). */
  def residualVec(v: Array[Float], centroid: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) - centroid(i); i += 1 }
    out
  }

  /** Train PQ codebooks on the residuals of an id-ordered sample
    * (replicable by an external oracle, like the non-residual paths). */
  def trainResidual(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], pq: Pq.PqConfig,
      order: org.apache.spark.sql.Column): Array[Array[Array[Float]]] = {
    require(config.dimensions % pq.m == 0,
      s"dims ${config.dimensions} not divisible by m=${pq.m}")
    val sub = config.dimensions / pq.m
    val sample = df.orderBy(order).select("vector")
      .limit(pq.sampleSize).collect().map(_.getSeq[Float](0).toArray)
      .map(v => residualVec(v, centroids(IvfIndex.nearestCentroid(v, centroids))))
    Pq.parSubspaces(pq.m) { j =>
      IvfIndex.lloydKMeans(sample.map(r =>
        java.util.Arrays.copyOfRange(r, j * sub, (j + 1) * sub)), sub, pq.k, pq.iterations)
    }
  }

  /** Cell + residual-code columns in one pass. Residual codes live in
    * their OWN column (`pq_res_codes`): a frame carrying plain
    * [[Pq.withCodes]] codes is not silently accepted by the residual
    * search path (the encodings are incompatible). */
  def withResidualCodes(df: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    if (df.columns.contains("ivf_cell") && df.columns.contains("pq_res_codes")) df
    else {
      val cents = centroids
      val cb = codebooks
      val f = udf((v: Seq[Float]) => {
        val arr = v.toArray
        val cell = IvfIndex.nearestCentroid(arr, cents)
        (cell, Pq.encodeVec(residualVec(arr, cents(cell)), cb))
      })
      df.drop("ivf_cell").withColumn("_cc", f(col("vector")))
        .withColumn("ivf_cell", col("_cc._1"))
        .withColumn("pq_res_codes", col("_cc._2"))
        .drop("_cc")
    }

  /** Residual-encoded search: each probed cell scores its rows against
    * its own query-residual ADC table (a per-cell scan branch — nprobe
    * branches unioned, each pruning to one cell), then one candidate
    * cut + exact rerank. L2-family metrics only (the residual identity
    * is an L2 decomposition). */
  def searchResidual(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      query: Array[Float], limit: Int, nprobe: Int,
      candidates: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    require(config.metric == Metric.L2 || config.metric == Metric.L2Squared,
      s"residual IVF-PQ supports l2/l2_squared, not ${config.metric.name}")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val cells = IvfIndex.probeCells(q, centroids, nprobe)
    val prepared = withResidualCodes(df, centroids, codebooks)
    val k = codebooks(0).length
    val branches = cells.map { c =>
      val table = Pq.adcTable(codebooks, residualVec(q, centroids(c)), Metric.L2Squared)
      prepared.filter(col("ivf_cell") === c)
        .withColumn("rank", adcDistance(col("pq_res_codes"), table, k))
    }
    // the per-cell branches carry their rank column; the union's cut is
    // slim + InSet like every single-query candidate pass, and the
    // rerank keeps the cell probe so the at-rest layout's directory
    // pruning survives in the final plan
    Search.rerankExact(
      Search.cutAndFilter(branches.reduce(_ unionByName _),
        prepared.filter(col("ivf_cell").isin(cells: _*)), col("rank"), effCand),
      config, q, limit)
  }

  /** Batch residual search — [[searchMany]]'s shape with per-(query,cell)
    * residual ADC tables: each query explodes to its nprobe cells and the
    * broadcast side carries the table for THAT cell's query residual, so
    * the probed-cell join scores every row against the right table in one
    * codes-only scan. Per-query results equal [[searchResidual]]. */
  def searchManyResidual(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      queries: DataFrame, limit: Int, nprobe: Int,
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    require(config.metric == Metric.L2 || config.metric == Metric.L2Squared,
      s"residual IVF-PQ supports l2/l2_squared, not ${config.metric.name}")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val cents = centroids
    val cb = codebooks
    val np = nprobe
    val qNorm = Search.normalizedQueries(config, queries)
    val probeUdf = udf((q: Seq[Float]) => IvfIndex.probeCells(q.toArray, cents, np).toArray)
    val tableUdf = udf((q: Seq[Float], cell: Int) =>
      Pq.adcTable(cb, residualVec(q.toArray, cents(cell)), Metric.L2Squared))
    val qSide = qNorm
      .select(col("qid"), col("qvector"), explode(probeUdf(col("qvector"))).as("ivf_cell"))
      .select(col("qid"), col("ivf_cell"),
        tableUdf(col("qvector"), col("ivf_cell")).as("_qtable"))
    // every (query, cell) pair carries its OWN m*k residual table, so
    // the broadcast is nprobe x larger per query than the shared-table
    // paths — size it (counting the tiny query frame if the caller did
    // not pass nq) and fall back to a shuffle join over the cells
    val nq = if (knownNq >= 0) knownNq else queries.count()
    val qHint = Search.adcBroadcastHint(df,
      nq * np * codebooks.length * codebooks(0).length)
    val prepared = withResidualCodes(df, cents, cb)
    val scored = prepared.select(col("ivf_cell"), col("id"), col("pq_res_codes"))
      .join(qHint(qSide), "ivf_cell")
      .withColumn("arank",
        adcDistanceDyn(col("pq_res_codes"), col("_qtable"), codebooks(0).length))
    val w = Window.partitionBy(col("qid")).orderBy(col("arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= effCand).select("qid", "id")
    Search.rerankManyExact(df, config, cands, qNorm, limit, effCand, nq)
  }

  /** Write the prepared collection partitioned BY CELL: each IVF cell is
    * its own directory, so a probe prunes whole files before any IO
    * (PartitionFilters in the scan), and inside a cell the ADC scan
    * reads only (id, value, pq_codes) until the rerank — the full
    * at-rest IVF-PQ layout. The trained model (centroids + codebooks)
    * rides along as a `_graft_model.json` sidecar (underscore-prefixed,
    * so parquet readers skip it): a cold session calls [[loadModel]]
    * instead of retraining — the codes at rest are useless without the
    * exact codebooks that produced them. */
  def writePartitioned(df: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], path: String,
      filesPerCell: Int = 1): Unit = {
    IvfIndex.writeCellLayout(prepare(df, centroids, codebooks), path, filesPerCell)
    ModelStore.saveIvfPq(df.sparkSession, sidecarPath(path), centroids,
      codebooks, residual = false)
  }

  /** Append NEW rows to an existing partitioned layout WITHOUT
    * retraining: rows are encoded with the SIDECAR's model (raw or
    * residual codes per its flag, so the codes at rest stay mutually
    * decodable against one codebook set) and appended into the cell
    * directories. The incremental-ingest half of the lifecycle — at
    * 100 TB you retrain rarely and append constantly; the sidecar is
    * left untouched. Input needs the same base columns as the original
    * write (id, value, vector, ...). */
  def appendPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, filesPerCell: Int = 1,
      checkIds: Boolean = true,
      cachedModel: Option[(Array[Array[Float]], Array[Array[Array[Float]]], Boolean)] = None): Unit = {
    if (checkIds) IvfIndex.requireNewIds(spark, path, df)
    val (cents, cb, residual) = cachedModel.getOrElse(loadModel(spark, path))
    val prepared =
      if (residual) withResidualCodes(df, cents, cb) else prepare(df, cents, cb)
    IvfIndex.writeCellLayout(prepared, path, filesPerCell, mode = "append")
  }

  private def sidecarPath(path: String): String =
    path.stripSuffix("/") + "/" + ModelStore.SidecarName

  /** Load the model sidecar of a [[writePartitioned]] /
    * [[writePartitionedResidual]] layout: (centroids, codebooks,
    * residual). Bit-identical to the trained artifacts. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Float]], Array[Array[Array[Float]]], Boolean) =
    ModelStore.loadIvfPq(spark, sidecarPath(path))

  def hasModel(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    ModelStore.exists(spark, sidecarPath(path))

  /** Search the cell-partitioned layout: identical results to [[search]]
    * over the same data (the probe filter becomes a partition filter). */
  def searchPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      config: CollectionConfig, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], query: Array[Float], limit: Int,
      nprobe: Int, candidates: Int = 0,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // metadata post-filter (IvfIndex.searchPartitioned semantics): rides
    // the scan, so the ADC candidate cut ranks FILTERED rows only —
    // a selective predicate doesn't eat the candidate budget
    val base = spark.read.parquet(path)
    search(filter.foldLeft(base)(_.filter(_)), config, centroids, codebooks,
      query, limit, nprobe, candidates)
  }

  /** Residual layout at rest: cells as directories, residual codes in
    * the rows — the full FAISS-style default persisted with the same
    * directory-pruning property as [[writePartitioned]]. */
  def writePartitionedResidual(df: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], path: String,
      filesPerCell: Int = 1): Unit = {
    IvfIndex.writeCellLayout(withResidualCodes(df, centroids, codebooks), path,
      filesPerCell)
    ModelStore.saveIvfPq(df.sparkSession, sidecarPath(path), centroids,
      codebooks, residual = true)
  }

  /** Batch search over a cell-partitioned at-rest layout ([[
    * writePartitioned]] or [[writePartitionedResidual]] — the sidecar
    * records which). The union of every query's probed cells is computed
    * FIRST (one tiny job over the nq-row query frame — the corpus is
    * untouched) and applied as a STATIC `isin` filter on the partition
    * column, so directories outside the probe union are pruned before
    * any IO; a broadcast join alone would rely on runtime DPP for the
    * same effect. Results are identical to [[searchMany]] /
    * [[searchManyResidual]] over the same layout. */
  def searchManyPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, config: CollectionConfig, queries: DataFrame, limit: Int,
      nprobe: Int, candidates: Int = 0, knownNq: Long = -1L,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (cents, cb, residual) = loadModel(spark, path)
    // metadata post-filter (IvfIndex.searchPartitioned semantics)
    val base = spark.read.parquet(path)
    searchManyPruned(filter.foldLeft(base)(_.filter(_)), config, cents, cb,
      residual, queries, limit, nprobe, candidates, knownNq)
  }

  /** The probe-union-pruned batch over an ALREADY-LOADED cell-assigned
    * frame with ALREADY-LOADED models — the form callers that cached
    * the artifacts at open time use (re-reading the layout and
    * re-parsing the sidecar per batch would discard exactly what they
    * cached). The static `isin` on the partition column still prunes
    * directories when the frame is a partitioned scan. */
  def searchManyPruned(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      residual: Boolean, queries: DataFrame, limit: Int, nprobe: Int,
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    val cents = centroids
    val np = math.min(nprobe, cents.length)
    val probeUdf = udf((q: Seq[Float]) => IvfIndex.probeCells(q.toArray, cents, np).toArray)
    // ONE job over the nq-row query frame yields both the probe union
    // (bounded by the cell count) and nq: probeCells returns exactly np
    // distinct cells per query, so exploded rows / np = nq — the
    // downstream broadcast-bound checks then never run their own count
    val agg = Search.normalizedQueries(config, queries)
      .select(explode(probeUdf(col("qvector"))).as("c"))
      .agg(collect_set(col("c")), count(lit(1))).head()
    val cells = agg.getSeq[Int](0)
    val nq = if (knownNq >= 0) knownNq else agg.getLong(1) / np
    val pruned = df.filter(col("ivf_cell").isin(cells.map(Int.box): _*))
    if (residual)
      searchManyResidual(pruned, config, cents, codebooks, queries, limit, np,
        candidates, nq)
    else
      searchMany(pruned, config, cents, codebooks, queries, limit, np,
        candidates, nq)
  }

  /** Residual search over the cell-partitioned layout: identical results
    * to [[searchResidual]]; each probe branch prunes whole directories. */
  def searchPartitionedResidual(spark: org.apache.spark.sql.SparkSession,
      path: String, config: CollectionConfig, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], query: Array[Float], limit: Int,
      nprobe: Int, candidates: Int = 0): DataFrame =
    searchResidual(spark.read.parquet(path), config, centroids, codebooks,
      query, limit, nprobe, candidates)
}
