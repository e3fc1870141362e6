package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.CollectionConfig
import graft.functions.VectorFunctions._
import graft.search.Search

/** IVF x RaBitQ: coarse cells prune whole directories, and inside each
  * cell the rows carry RaBitQ codes of the residual `v - centroid[cell]`
  * — the deployment shape the RaBitQ paper itself ships (Gao & Long,
  * SIGMOD 2024, Sec. 4: "combined with IVF", where the quantized vector
  * is the residual against the cluster centroid). Residuals are small
  * and centered by construction, which is exactly where 1 bit/dim sign
  * codes carry the most information — the same reason FAISS defaults
  * IVF-PQ to by_residual ([[IvfPq.searchResidual]]). Relative to that
  * sibling this layout spends 1 bit/dim + 24 B of factors instead of m
  * codebook bytes, needs NO k-means beyond the coarse quantizer (the
  * rotation is seeded, training-free), and its candidate cut ranks by
  * CALIBRATED estimated metric values rather than ADC table sums.
  *
  * Estimator (all metrics, unlike the L2-only residual ADC): with
  * per-cell centroid c, `ip` estimates `<q - c, o - c>` from the stored
  * bits and factors ([[RaBitQ.rankBits]]); full-space values reassemble
  * through the cross-terms `<q,c>`, `<o,c>`, `||c||^2`. Those are
  * per-CELL quantities, but [[graft.expr.RaBitQPairRank]] takes one
  * literal `cc` — so both sides store SHIFTED factors instead:
  * `oc' = <o,c> - ||c||^2/2` at encode, `qc' = <q,c> - ||c||^2/2` at
  * query prep. Every mode of the shared estimator is then algebraically
  * exact with `cc = 0`:
  *   - `<q,o> = ip + qc' + oc'` (modes 1/2),
  *   - `||o||^2 = rnorm^2 + 2 oc'` (mode 3's denominator),
  *   - mode 0 (est L2^2) never used the cross-terms: the residual
  *     identity `L2^2(q,o) = ||q-c||^2 + ||o-c||^2 - 2<q-c,o-c>` is
  *     already within-cell.
  * The exact rerank finishes as everywhere in the quantized family, so
  * `nprobe = cells` + `candidates >= n` degenerates to exact flat
  * search for every metric.
  *
  * Scale shape: the at-rest layout is cell directories (probe union =
  * static PartitionFilter, directories outside it never read) whose
  * candidate scan touches `padded/8 + 32` bytes per row; batch queries
  * rotate per (query, probed cell) IN PLAN — nq x nprobe tiny rows, the
  * corpus is scanned once; the cut is the slim per-qid WindowGroupLimit
  * and the rerank joins only winners back to the f32 vectors inside the
  * probed cells.
  */
object IvfRaBitQ {

  /** The residual codes live in their OWN column: a frame carrying a
    * whole-space [[RaBitQ.withCodes]] column is not silently accepted
    * (the encodings are incompatible — same discipline as
    * `pq_res_codes`). */
  val StructCol = "rabitq_res"

  /** Trained model: coarse centroids (the only trained state — the
    * rotation is seeded) + the shared RaBitQ config. `config.centered`
    * is forced true: per-cell encode IS the centered form, with the
    * cell centroid in the global slot. */
  final case class Model(centroids: Array[Array[Float]],
      config: RaBitQ.Config) {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids(0).length == config.dims, "centroid/dims mismatch")
    def cells: Int = centroids.length

    /** Per-cell RaBitQ views: shared seed/rounds (one sign stream), the
      * cell centroid as the centering point. Lazy per JVM — executors
      * rebuild from the serialized centroids. */
    @transient lazy val cellModels: Array[RaBitQ.Model] =
      centroids.map(c => RaBitQ.Model(config.copy(centered = true),
        c.map(_.toDouble)))
  }

  /** Encoded struct: (cell, (codes, rnorm, sabs, oc')) — one fused
    * codegen pass assigns the cell AND encodes the residual
    * ([[graft.expr.IvfRaBitQEncode]]). */
  val encSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("rq", RaBitQ.schema, nullable = false)))

  /** Nearest cell + residual codes + SHIFTED oc' of one vector (the
    * codegen kernel behind [[withCodes]]). */
  def encodeRowData(v: ArrayData, m: Model): InternalRow = {
    val arr = v.toFloatArray()
    val cell = IvfIndex.nearestCentroid(arr, m.centroids)
    val cm = m.cellModels(cell)
    val (w, rnorm, sabs, ocRaw) = RaBitQ.encodeVec(arr, cm)
    new GenericInternalRow(Array[Any](cell, new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(w), rnorm, sabs,
      ocRaw - cm.cc / 2.0))))
  }

  def encodeColumn(model: Model)(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.IvfRaBitQEncode(
        org.apache.spark.sql.graft.Bridge.expression(v), model))

  /** Cell + residual-code columns in one fused pass (idempotent). */
  def prepare(df: DataFrame, model: Model): DataFrame =
    if (df.columns.contains("ivf_cell") && df.columns.contains(StructCol)) df
    else df.drop("ivf_cell").drop(StructCol)
      .withColumn("_irq", encodeColumn(model)(col("vector")))
      .withColumn("ivf_cell", col("_irq.cell"))
      .withColumn(StructCol, col("_irq.rq"))
      .drop("_irq")

  /** Driver-side query prep against ONE cell: rotate the query residual
    * and shift qc by the same -||c||^2/2 the encode side applied. */
  def prepareQueryCell(m: Model, q: Array[Float], cell: Int): RaBitQ.QueryPrep = {
    val cm = m.cellModels(cell)
    val qp = RaBitQ.prepareQueryRot(cm, q)
    qp.copy(qc = qp.qc - cm.cc / 2.0)
  }

  /** In-plan query prep for the batch path ([[graft.expr.IvfRaBitQQueryPrep]]):
    * (query vector, cell) -> shifted qprep struct — nq x nprobe rows,
    * never the corpus. */
  def queryPrepRowData(v: ArrayData, cell: Int, m: Model): InternalRow = {
    val qp = prepareQueryCell(m, v.toFloatArray(), cell)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(qp.qhat), qp.nqr, qp.qc))
  }

  private def queryPrepColumn(model: Model)(v: Column, cell: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.IvfRaBitQQueryPrep(
        org.apache.spark.sql.graft.Bridge.expression(v),
        org.apache.spark.sql.graft.Bridge.expression(cell), model))

  private def rankColumn(qp: RaBitQ.QueryPrep, mode: Int)(s: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.RaBitQRank(
        org.apache.spark.sql.graft.Bridge.expression(s), qp, 0.0, mode))

  // -------------------------------------------------------------- search

  /** Single-query search over a prepared frame (in-memory or an at-rest
    * scan): probe `nprobe` cells, rank each cell's rows against ITS OWN
    * shifted query prep (per-cell scan branches, unioned — each branch
    * prunes to one cell, so a partitioned scan keeps directory pruning),
    * cut to `candidates`, exact rerank. `nprobe = cells` +
    * `candidates >= n` == exact flat for every metric. */
  def search(df: DataFrame, config: CollectionConfig, model: Model,
      query: Array[Float], limit: Int, nprobe: Int,
      candidates: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val q = Search.prepareQuery(config, query)
    val mode = RaBitQ.modeFor(config.metric)
    val cells = IvfIndex.probeCells(q, model.centroids,
      math.min(nprobe, model.cells))
    val prepared = prepare(df, model)
    val branches = cells.map { c =>
      prepared.filter(col("ivf_cell") === c)
        .withColumn("rank",
          rankColumn(prepareQueryCell(model, q, c), mode)(col(StructCol)))
    }
    Search.rerankExact(
      Search.cutAndFilter(branches.reduce(_ unionByName _),
        prepared.filter(col("ivf_cell").isin(cells: _*)), col("rank"), effCand),
      config, q, limit)
  }

  /** Batch search: each query explodes to its nprobe cells, each
    * (query, cell) pair rotates IN PLAN into its shifted prep, and ONE
    * codes-only scan of the probed cells scores every pair via the
    * shared estimator; per-qid cut + shared exact batch rerank.
    * Per-query results equal [[search]] at the same knobs. */
  def searchMany(df: DataFrame, config: CollectionConfig, model: Model,
      queries: DataFrame, limit: Int, nprobe: Int, candidates: Int = 0,
      knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(nprobe > 0, "nprobe must be positive")
    val effCand = math.max(if (candidates > 0) candidates else 20 * limit, limit)
    val mode = RaBitQ.modeFor(config.metric)
    val cents = model.centroids
    val np = math.min(nprobe, model.cells)
    val qNorm = Search.normalizedQueries(config, queries)
    val probeUdf = udf((q: Seq[Float]) =>
      IvfIndex.probeCells(q.toArray, cents, np).toArray)
    val qSide = qNorm
      .select(col("qid"), col("qvector"),
        explode(probeUdf(col("qvector"))).as("ivf_cell"))
      .select(col("qid"), col("ivf_cell"),
        queryPrepColumn(model)(col("qvector"), col("ivf_cell")).as("_qprep"))
    // every (query, cell) pair carries a padded-length rotated prep, so
    // the broadcast is nprobe x larger per query than the whole-space
    // rabitq batch — size it like the residual ADC path and fall back
    // to a shuffle join past the bound
    val nq = if (knownNq >= 0) knownNq else queries.count()
    val qHint = Search.adcBroadcastHint(df, nq * np * model.config.padded)
    val prepared = prepare(df, model)
    val scored = prepared.select(col("ivf_cell"), col("id"), col(StructCol))
      .filter(col("id").isNotNull && col(StructCol).isNotNull)
      .join(qHint(qSide), "ivf_cell")
      .withColumn("_arank",
        RaBitQ.pairRankColumn(0.0, mode)(col(StructCol), col("_qprep")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_arank").asc_nulls_last, col("id").asc)
    val cands = scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= effCand).select("qid", "id")
    // rerank joins the PROBED frame: every winner lives in a probed
    // cell, so the value/vector fetch keeps the partition filter
    Search.rerankManyExact(prepared, config, cands, qNorm, limit, effCand, nq)
  }

  /** Probe-union-pruned batch over an already-loaded frame: one tiny job
    * over the nq-row query frame yields the static probe union (applied
    * as an `isin` on the partition column — directory pruning on an
    * at-rest scan) and nq. Per-query results equal [[search]]. */
  def searchManyPruned(df: DataFrame, config: CollectionConfig, model: Model,
      queries: DataFrame, limit: Int, nprobe: Int, candidates: Int = 0,
      knownNq: Long = -1L): DataFrame = {
    val cents = model.centroids
    val np = math.min(math.max(nprobe, 1), model.cells)
    val probeUdf = udf((q: Seq[Float]) =>
      IvfIndex.probeCells(q.toArray, cents, np).toArray)
    val agg = Search.normalizedQueries(config, queries)
      .select(explode(probeUdf(col("qvector"))).as("c"))
      .agg(collect_set(col("c")), count(lit(1))).head()
    val cells = agg.getSeq[Int](0)
    val nq = if (knownNq >= 0) knownNq else agg.getLong(1) / np
    val pruned = df.filter(col("ivf_cell").isin(cells.map(Int.box): _*))
    searchMany(pruned, config, model, queries, limit, np, candidates, nq)
  }

  // ------------------------------------------------------------- at rest

  private def sidecar(path: String): String =
    path.stripSuffix("/") + "/" + ModelStore.SidecarName

  /** Write cell-partitioned: directories per cell (probe pruning =
    * directory pruning), rows carry the residual codes; the f32 vectors
    * stay at rest for the exact rerank (the IVF-PQ contract). Model
    * sidecar = centroids + rotation config — bit-identical on reload.
    * Row groups are bounded by [[IvfIndex.writeCellLayout]]'s 32 MB
    * default (wide rows; see the OOM note there). */
  def writePartitioned(df: DataFrame, model: Model, path: String,
      filesPerCell: Int = 1): Unit = {
    IvfIndex.writeCellLayout(prepare(df, model), path, filesPerCell)
    ModelStore.saveIvfRabitq(df.sparkSession, sidecar(path), model)
  }

  /** Append NEW rows through the PERSISTED model — never retrains; the
    * sidecar is untouched (the incremental-ingest half of the
    * lifecycle). */
  def appendPartitioned(spark: SparkSession, path: String, df: DataFrame,
      filesPerCell: Int = 1, checkIds: Boolean = true,
      cachedModel: Option[Model] = None): Unit = {
    if (checkIds) IvfIndex.requireNewIds(spark, path, df)
    val model = cachedModel.getOrElse(loadModel(spark, path))
    IvfIndex.writeCellLayout(prepare(df, model), path, filesPerCell,
      mode = "append")
  }

  def loadModel(spark: SparkSession, path: String): Model =
    ModelStore.loadIvfRabitq(spark, sidecar(path))

  def hasModel(spark: SparkSession, path: String): Boolean =
    ModelStore.exists(spark, sidecar(path))

  /** Single-query search over the at-rest layout: probe filter =
    * partition filter; `filter` is a metadata post-filter on stored
    * rows (rides the scan, so the candidate cut ranks filtered rows
    * only). */
  def searchPartitioned(spark: SparkSession, path: String,
      config: CollectionConfig, query: Array[Float], limit: Int, nprobe: Int,
      candidates: Int = 0, filter: Option[Column] = None): DataFrame = {
    val model = loadModel(spark, path)
    val base = spark.read.parquet(path)
    search(filter.foldLeft(base)(_.filter(_)), config, model, query, limit,
      nprobe, candidates)
  }

  /** Batch search over the at-rest layout: static probe-union partition
    * filter, then the one-scan batch. */
  def searchManyPartitioned(spark: SparkSession, path: String,
      config: CollectionConfig, queries: DataFrame, limit: Int, nprobe: Int,
      candidates: Int = 0, knownNq: Long = -1L,
      filter: Option[Column] = None): DataFrame = {
    val model = loadModel(spark, path)
    val base = spark.read.parquet(path)
    searchManyPruned(filter.foldLeft(base)(_.filter(_)), config, model,
      queries, limit, nprobe, candidates, knownNq)
  }
}
