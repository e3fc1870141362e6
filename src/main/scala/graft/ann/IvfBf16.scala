package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CollectionConfig
import graft.functions.VectorFunctions._
import graft.search.Search

/** IVF-partitioned bf16 layout: cell-directory pruning over a HALF-IO
  * near-exact payload — the serving point between the flat bf16 scan
  * (whole corpus every query, bf16-exact ranking) and IVF-PQ (pruned
  * directories, lossy m-byte codes + mandatory exact rerank). At rest a
  * row stores (id, value, vector_bf16) inside its `ivf_cell` directory;
  * search probes `nprobe` cells — whole directories outside the probe
  * set are skipped before any IO (PartitionFilters in the scan) — and
  * ranks the survivors by the bf16 distance directly, so recall is the
  * probe's cell recall with bf16's near-exact ordering inside it and NO
  * rerank join is needed. Pick it when PQ's quantization error (or its
  * rerank's second scan) costs more than a 2 B/dim payload at rest.
  *
  * Model sidecar: the shared IVF centroid store — train once per corpus
  * generation ([[IvfIndex.trainOrdered]]), share with every other
  * cell-partitioned layout.
  */
object IvfBf16 {

  private def sidecar(path: String): String =
    path.stripSuffix("/") + "/" + ModelStore.SidecarName

  // bf16 payloads are WIDE (2 B/dim binary per row): parquet buffers a
  // full row group uncompressed per open file, so every concurrent
  // write task holds one — the default 128 MB x 32 tasks is a 4 GB
  // heap bill for zero scan benefit at this payload shape; 32 MB row
  // groups keep the write inside a default driver heap
  private val writeOptions: Map[String, String] =
    Map("parquet.block.size" -> (32L * 1024 * 1024).toString)

  /** The serving frame: cell-assigned + bf16-encoded rows of a
    * canonical collection frame — what the facade caches for an
    * in-memory ivfbf16 collection (an opened at-rest layout puts the
    * parquet scan itself here instead). */
  def prepare(df: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    graft.prepare.Prepare.withBf16Vector(IvfIndex.withCells(df, centroids))

  private def slimAtRest(df: DataFrame): DataFrame =
    df.select("id", "value", "vector_bf16", "ivf_cell")

  /** Write `df` (id, value, vector) cell-partitioned with bf16 payloads:
    * the f32 column is DROPPED at rest — half the bytes of
    * [[IvfIndex.writePartitioned]] under the same directory layout and
    * bounded-file-count discipline ([[IvfIndex.writeCellLayout]]). */
  def writePartitioned(df: DataFrame, centroids: Array[Array[Float]],
      path: String, filesPerCell: Int = 1): Unit = {
    IvfIndex.writeCellLayout(slimAtRest(prepare(df, centroids)), path,
      filesPerCell, options = writeOptions)
    ModelStore.saveIvf(df.sparkSession, sidecar(path), centroids)
  }

  /** Append NEW rows to an existing partitioned layout WITHOUT
    * retraining: rows are cell-assigned and bf16-encoded with the
    * SIDECAR's centroids and appended into the cell directories — the
    * incremental-ingest half of the lifecycle (at 100 TB you retrain
    * rarely and append constantly). The sidecar is left untouched.
    * Input needs the same base columns as the original write. */
  def appendPartitioned(spark: SparkSession, path: String, df: DataFrame,
      filesPerCell: Int = 1, checkIds: Boolean = true,
      cachedModel: Option[Array[Array[Float]]] = None): Unit = {
    if (checkIds) IvfIndex.requireNewIds(spark, path, df)
    val cents = cachedModel.getOrElse(loadModel(spark, path))
    IvfIndex.writeCellLayout(slimAtRest(prepare(df, cents)), path,
      filesPerCell, mode = "append", options = writeOptions)
  }

  def loadModel(spark: SparkSession, path: String): Array[Array[Float]] =
    ModelStore.loadIvf(spark, sidecar(path))

  def hasModel(spark: SparkSession, path: String): Boolean =
    ModelStore.exists(spark, sidecar(path))

  /** Single-query search over a cell-assigned bf16 frame (a [[prepare]]d
    * in-memory frame or an at-rest scan): prune to the probed cells,
    * rank the survivors by the bf16 distance directly. nprobe == cells
    * degenerates to [[Search.flatSearchBf16]] over the whole frame. */
  def search(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], query: Array[Float], limit: Int,
      nprobe: Int): DataFrame = {
    val q = Search.prepareQuery(config, query)
    searchProbes(df, config, query, limit,
      IvfIndex.probeCells(q, centroids, math.min(nprobe, centroids.length)))
  }

  /** Single-query search with the ADAPTIVE probe policy
    * ([[IvfIndex.probeCellsAdaptive]] — the facade default for the ivf
    * family): identical plan shape to [[search]], only the probe set
    * differs. */
  def searchAdaptive(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], query: Array[Float], limit: Int,
      ratio: Double = 1.5, maxProbe: Int = 8): DataFrame = {
    val q = Search.prepareQuery(config, query)
    searchProbes(df, config, query, limit,
      IvfIndex.probeCellsAdaptive(q, centroids, ratio, maxProbe))
  }

  private def searchProbes(df: DataFrame, config: CollectionConfig,
      query: Array[Float], limit: Int, probes: Seq[Int]): DataFrame = {
    val cands = df.filter(col("ivf_cell").isin(probes: _*)).drop("ivf_cell")
    Search.flatSearchBf16(cands, config, query, limit)
  }

  /** Single-query search over the at-rest layout: probe filter =
    * partition filter, then the bf16 flat search over the surviving
    * cells. `filter` is a post-filter on stored rows (pushes down next
    * to the cell PartitionFilters, [[IvfIndex.searchPartitioned]]
    * semantics). */
  def searchPartitioned(spark: SparkSession, path: String,
      config: CollectionConfig, query: Array[Float], limit: Int, nprobe: Int,
      filter: Option[Column] = None): DataFrame = {
    val cents = loadModel(spark, path)
    val base = spark.read.parquet(path)
    search(filter.foldLeft(base)(_.filter(_)), config, cents, query, limit,
      nprobe)
  }

  /** Batch search over the at-rest layout: the probe UNION becomes a
    * static partition filter (directories outside it are never read),
    * then each query joins its OWN probed cells — per-query results
    * equal [[searchPartitioned]] with the same knobs. */
  def searchManyPartitioned(spark: SparkSession, path: String,
      config: CollectionConfig, queries: DataFrame, limit: Int, nprobe: Int,
      knownNq: Long = -1L, filter: Option[Column] = None): DataFrame = {
    val cents = loadModel(spark, path)
    val base = spark.read.parquet(path)
    searchManyPruned(filter.foldLeft(base)(_.filter(_)), config, cents,
      queries, limit, nprobe, knownNq)
  }

  /** The probe-union-pruned batch over an already-loaded cell-assigned
    * frame: queries broadcast as (qid, qvector, cell) rows — the join on
    * `ivf_cell` narrows each query back to its own cells (the
    * [[IvfPq.searchMany]] shape with the bf16 pair distance standing in
    * for the ADC table), the per-qid cut rides map-side
    * WindowGroupLimit, and only slim (qid, id, raw) winners rejoin the
    * corpus for `value`. No rerank stage: the bf16 rank IS the result
    * contract, as in [[Search.flatSearchManyBf16]]. */
  def searchManyPruned(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      nprobe: Int, knownNq: Long = -1L): DataFrame = {
    val cents = centroids
    val np = math.min(math.max(nprobe, 1), cents.length)
    searchManyWith(df, config, queries, limit,
      q => IvfIndex.probeCells(q, cents, np), knownNq)
  }

  /** Adaptive-probe twin of [[searchManyPruned]]: per-query probe sets
    * are variable-length (the explode-join shape absorbs that for free —
    * easy queries ship fewer (qid, cell) pairs and the probe UNION that
    * prunes the scan shrinks with them). Per-query results equal
    * [[searchAdaptive]] at the same knobs. */
  def searchManyPrunedAdaptive(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      ratio: Double = 1.5, maxProbe: Int = 8, knownNq: Long = -1L): DataFrame = {
    val cents = centroids
    val (r, mp) = (ratio, maxProbe)
    searchManyWith(df, config, queries, limit,
      q => IvfIndex.probeCellsAdaptive(q, cents, r, mp), knownNq)
  }

  private def searchManyWith(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int, probe: Array[Float] => Seq[Int],
      knownNq: Long): DataFrame = {
    require(limit > 0, "limit must be positive")
    val probeUdf = udf((q: Seq[Float]) => probe(q.toArray).toArray)
    val qNorm = Search.normalizedQueries(config, queries)
    val qSide = qNorm.select(col("qid"), col("qvector"),
      explode(probeUdf(col("qvector"))).as("ivf_cell"))
    // ONE tiny job over the exploded query side yields the static probe
    // union AND nq (adaptive probe sets are variable-length, so nq is a
    // distinct count, not rows/np)
    val agg = qSide.agg(collect_set(col("ivf_cell")),
      count_distinct(col("qid"))).head()
    val cells = agg.getSeq[Int](0)
    val nq = if (knownNq >= 0) knownNq else agg.getLong(1)
    val pruned = df.filter(col("ivf_cell").isin(cells.map(Int.box): _*))
    val raw = Search.col2Bf16Distance(config.metric,
      col("vector_bf16"), col("qvector"))
    // null id/payload rows never win — the heap plans' null contract
    val scored = pruned.select(col("ivf_cell"), col("id"), col("vector_bf16"))
      .filter(col("id").isNotNull && col("vector_bf16").isNotNull)
      .join(broadcast(qSide), "ivf_cell")
      .withColumn("raw", raw.cast("double"))
      .withColumn("rank", rankValue(config.metric, col("raw")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rank").asc_nulls_last, col("id").asc)
    val slim = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= limit).select("qid", "id", "raw")
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    val hint: DataFrame => DataFrame =
      if (nq >= 0 && nq * limit <= 1000000L) broadcast(_) else identity
    // value-fetch joins the PRUNED frame — every winner lives in a
    // probed cell, so this second scan keeps the same partition filter
    // (joining the unpruned frame would re-read id/value from every
    // cell directory and defeat the layout's pruning contract)
    pruned.select(col("id"), col("value")).join(hint(slim), Seq("id"))
      .select(col("qid"), col("id"), col("value"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }
}
