package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.expr.VectorKernels
import graft.functions.VectorFunctions._
import graft.search.Search

/** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
  * corpus into cells; a query probes only the `nprobe` nearest cells and
  * exact-reranks inside them — the classic scale path for
  * billion-vector similarity search.
  *
  * Spark shape: centroids are trained on a driver-side sample
  * (deterministic seeded Lloyd's — tiny, k x dims floats) and shipped as
  * a literal; cell assignment is a per-row expression (narrow, no
  * shuffle); at rest the collection can be repartitioned/bucketed BY
  * CELL so a probe prunes whole partitions/files. `nprobe == k` recovers
  * exact flat search (the equivalence the tests and the SQL oracle pin).
  */
object IvfIndex {

  final case class IvfConfig(k: Int = 16, nprobe: Int = 2, iterations: Int = 10,
      sampleSize: Int = 10000, seed: Long = 42L)

  /** Deterministic Lloyd's iterations over a seeded sample (L2 cells —
    * the standard IVF coarse metric; normalized vectors make this
    * cosine-compatible). Empty cells re-seed from the sample. */
  def train(df: DataFrame, config: CollectionConfig, ivf: IvfConfig): Array[Array[Float]] = {
    // Deterministic sample: order by a cheap codegen'd hash of the raw
    // vector bytes (xxhash64 supports array columns natively); the
    // orderBy+limit pair compiles to TakeOrderedAndProject, so at scale
    // this is a single pass with a bounded heap, not a full sort.
    lloyd(df.select("vector")
      .orderBy(xxhash64(col("vector"), lit(ivf.seed)))
      .limit(ivf.sampleSize).collect().map(_.getSeq[Float](0).toArray), config, ivf)
  }

  /** Lloyd's over a sample in an EXPLICIT caller-chosen order (e.g. by
    * id) — same algorithm as [[train]], but the sample ordering is
    * replicable by an external oracle, so partial-probe results can be
    * verified end-to-end outside the engine. */
  def trainOrdered(df: DataFrame, config: CollectionConfig, ivf: IvfConfig,
      order: Column): Array[Array[Float]] =
    lloyd(df.orderBy(order).select("vector")
      .limit(ivf.sampleSize).collect().map(_.getSeq[Float](0).toArray), config, ivf)

  private def lloyd(sample: Array[Array[Float]], config: CollectionConfig,
      ivf: IvfConfig): Array[Array[Float]] =
    lloydKMeans(sample, config.dimensions, ivf.k, ivf.iterations)

  /** Deterministic Lloyd's core (shared with [[Pq]] subspace training):
    * init by evenly-spaced sample positions, f64 sums / f32 centroids,
    * empty clusters re-seeded from position (c*7919) mod n. */
  private[ann] def lloydKMeans(sample: Array[Array[Float]], dims: Int,
      k0: Int, iterations: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "cannot train on an empty sample")
    val k = math.min(k0, sample.length)
    var centroids = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    var iter = 0
    while (iter < iterations) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < v.length) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) sample((c * 7919) % sample.length).clone()
        else sums(c).map(x => (x / counts(c)).toFloat)
      }
      iter += 1
    }
    centroids
  }

  def nearestCentroid(v: Array[Float], centroids: Array[Array[Float]]): Int =
    ArgminKernel.cents(centroids).nearest(v)

  /** Scalar argmin (the SIMD-unavailable fallback, and the reference
    * the SIMD path's self-check pins against): early-abandoned l2sq is
    * bit-identical to the full kernel for argmin purposes — terms are
    * non-negative and selection is strict `<` (see l2sqBounded). */
  private[graft] def nearestCentroidScalar(v: Array[Float],
      centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = VectorKernels.l2sqBounded(v, centroids(c), bestDist)
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    best
  }

  /** Codegen entry point ([[graft.expr.IvfCell]]): same kernel, one
    * primitive copy in, no boxed Seq. */
  def cellData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      centroids: Array[Array[Float]]): Int =
    nearestCentroid(v.toFloatArray(), centroids)

  /** Cell-assignment column (narrow, fused codegen expression). At rest,
    * `assigned.repartition(col("ivf_cell"))` or bucketed writes co-locate
    * cells. */
  def withCells(df: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    df.withColumn("ivf_cell", org.apache.spark.sql.graft.Bridge.column(
      graft.expr.IvfCell(
        org.apache.spark.sql.graft.Bridge.expression(col("vector")), centroids)))

  /** The nprobe nearest cells for a prepared query. */
  def probeCells(q: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] =
    centroids.indices
      .map(c => (VectorKernels.distance(1, q, centroids(c)), c))
      .sortBy(identity).take(math.min(nprobe, centroids.length)).map(_._2)

  /** Adaptive probe set: cells sorted by squared centroid distance;
    * probe every cell within `ratio` x the nearest cell's distance,
    * bounded to at most `maxProbe`. A fixed nprobe wastes probes on
    * easy queries (one dominant cell) and under-recalls on ambiguous
    * ones (cell distances concentrate in high dimensions) — the ratio
    * cutoff spends probes exactly where the coarse quantizer is
    * uncertain, which is the knob FAISS users hand-tune nprobe toward.
    * Ties in the cutoff keep ascending cell order (deterministic,
    * SQL-replicable). */
  def probeCellsAdaptive(q: Array[Float], centroids: Array[Array[Float]],
      ratio: Double, maxProbe: Int): Seq[Int] = {
    require(ratio >= 1.0, "ratio must be >= 1")
    require(maxProbe > 0, "maxProbe must be positive")
    val ds = centroids.indices
      .map(c => (VectorKernels.distance(1, q, centroids(c)), c)).sortBy(identity)
    val cutoff = ds.head._1 * ratio
    ds.takeWhile(_._1 <= cutoff).take(math.min(maxProbe, centroids.length)).map(_._2)
  }

  /** IVF search with the adaptive probe policy: identical plan shape to
    * [[search]] — only the probe set differs. */
  def searchAdaptive(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], query: Array[Float], limit: Int,
      ratio: Double = 1.5, maxProbe: Int = 8): DataFrame = {
    val q = Search.prepareQuery(config, query)
    val probes = probeCellsAdaptive(q, centroids, ratio, maxProbe)
    val withCell = if (df.columns.contains("ivf_cell")) df else withCells(df, centroids)
    val cands = withCell.filter(col("ivf_cell").isin(probes: _*)).drop("ivf_cell")
    Search.flatSearch(cands, config, query, limit)
  }

  /** IVF search: prune to probed cells, exact-rerank inside.
    * nprobe == k degenerates to exact flat search. */
  def search(df: DataFrame, config: CollectionConfig, centroids: Array[Array[Float]],
      query: Array[Float], limit: Int, nprobe: Int): DataFrame = {
    val q = Search.prepareQuery(config, query)
    val probes = probeCells(q, centroids, nprobe)
    val withCell = if (df.columns.contains("ivf_cell")) df else withCells(df, centroids)
    val cands = withCell.filter(col("ivf_cell").isin(probes: _*)).drop("ivf_cell")
    Search.flatSearch(cands, config, query, limit)
  }

  /** Batch IVF search: each query probes its `nprobe` nearest cells;
    * queries explode to (cell, qid) and join the cell-assigned corpus on
    * the CELL ID — the only shuffled corpus payload is rows of probed
    * cells, never all-pairs. Per-query results equal [[search]] with the
    * same nprobe. Returns (qid, id, value, score, distance, metric). */
  def searchMany(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids
    val np = nprobe
    searchManyWith(df, config, centroids, queries, limit,
      v => probeCells(v, cents, np))
  }

  /** Batch IVF with the ADAPTIVE probe policy of [[searchAdaptive]]:
    * per-query probe sets are variable-length (the explode-join shape
    * absorbs that for free — easy queries ship fewer (cell,qid) pairs).
    * Per-query results equal [[searchAdaptive]] at the same knobs. */
  def searchManyAdaptive(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      ratio: Double = 1.5, maxProbe: Int = 8): DataFrame = {
    val cents = centroids
    val (r, mp) = (ratio, maxProbe)
    searchManyWith(df, config, centroids, queries, limit,
      v => probeCellsAdaptive(v, cents, r, mp))
  }

  private def searchManyWith(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      probe: Array[Float] => Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qNorm = Search.normalizedQueries(config, queries)
    val probeUdf = udf((v: Seq[Float]) => probe(v.toArray).toArray)
    val qSide = qNorm.withColumn("ivf_cell", explode(probeUdf(col("qvector"))))
    val dSide = (if (df.columns.contains("ivf_cell")) df else withCells(df, centroids))
      .select(col("ivf_cell"), col("id"), col("value"), col("vector"))
    val cands = dSide.join(qSide, "ivf_cell")
      .withColumn("raw", vecDistance(config.metric, col("vector"), col("qvector")))
      .withColumn("rank", rankValue(config.metric, col("raw")))
    val w = Window.partitionBy(col("qid")).orderBy(col("rank").asc_nulls_last, col("id").asc)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= limit)
      .select(col("qid"), col("id"), col("value"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }

  /** Write the collection partitioned BY CELL: at rest each IVF cell is
    * its own directory, so a probe prunes whole files before any IO —
    * the layout that matters at 100 TB (partition pruning shows up as
    * PartitionFilters in the scan). */
  def writePartitioned(df: DataFrame, centroids: Array[Array[Float]],
      path: String, filesPerCell: Int = 1): Unit = {
    writeCellLayout(withCells(df, centroids), path, filesPerCell)
    ModelStore.saveIvf(df.sparkSession,
      path.stripSuffix("/") + "/" + ModelStore.SidecarName, centroids)
  }

  /** Write a cell-assigned frame partitioned BY CELL with a BOUNDED
    * file count. Without the pre-shuffle every write task emits one
    * file into every cell directory it holds rows for — tasks x cells
    * small files, the classic partitioned-write bug that kills the
    * layout at scale. Clustering by (cell, id-hash bucket) first puts
    * each cell in at most `filesPerCell` tasks, so each directory gets
    * at most that many files, sized ~n/(k*filesPerCell); raise
    * `filesPerCell` when single-file cells would exceed a healthy
    * parquet size. */
  private[ann] def writeCellLayout(prepared: DataFrame, path: String,
      filesPerCell: Int, mode: String = "overwrite",
      options: Map[String, String] = Map.empty): Unit = {
    require(filesPerCell > 0, "filesPerCell must be positive")
    // cell-layout rows are WIDE (f32 vectors for the exact rerank, plus
    // codes): parquet buffers one uncompressed row group per open file,
    // and a partitioned write holds a file per (task, cell) — at the
    // 128 MB default that is a multi-GB heap bill across concurrent
    // tasks (observed as a JVM OOM on the 5M-row ivfrabitq tier). Bound
    // row groups to 32 MB for every cell layout unless the caller
    // overrides; scans lose nothing (row groups stay well above the
    // pruning granularity that matters here — the cell DIRECTORY).
    val opts = Map("parquet.block.size" -> (32L * 1024 * 1024).toString) ++
      options
    prepared
      .repartition(col("ivf_cell"), pmod(xxhash64(col("id")), lit(filesPerCell)))
      .write.mode(mode).options(opts).partitionBy("ivf_cell").parquet(path)
  }

  /** Append NEW rows to an existing [[writePartitioned]] layout WITHOUT
    * retraining: rows are assigned cells by the SIDECAR's centroids (so
    * the layout stays self-consistent) and appended into the cell
    * directories. At scale you retrain rarely and append constantly —
    * this is the incremental-ingest half of the lifecycle; the model
    * sidecar is left untouched. */
  def appendPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, filesPerCell: Int = 1,
      checkIds: Boolean = true,
      cachedModel: Option[Array[Array[Float]]] = None): Unit = {
    if (checkIds) requireNewIds(spark, path, df)
    // callers that already hold the sidecar's centroids (openIndexed
    // caches) pass them to skip the per-append JSON re-parse — the
    // sidecar is append-invariant, so the two are identical by contract
    val cents = cachedModel.getOrElse(loadModel(spark, path))
    writeCellLayout(withCells(df, cents), path, filesPerCell, mode = "append")
  }

  /** Duplicate-id rejection for the append paths — the same contract
    * the canonical ingest (put_many) enforces; a layout with repeated
    * ids serves the same id twice in top-k. The check reads the id
    * COLUMN only (parquet pruning); disable for bulk loads whose id
    * disjointness is guaranteed upstream. */
  private[graft] def requireNewIds(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame): Unit = {
    // one unioned plan covers both failure modes (Prepare.duplicateIds):
    // ids duplicated within the batch AND ids already at rest
    val dup = graft.prepare.Prepare.duplicateIds(
      spark.read.parquet(path).select("id"), df).limit(1).collect()
    require(dup.isEmpty,
      s"append would duplicate id ${dup.headOption.map(_.get(0)).orNull} " +
        "(in-batch or already in the layout) — pass checkIds = false only " +
        "when disjointness is guaranteed")
  }

  /** Load the centroid sidecar of a [[writePartitioned]] layout —
    * bit-identical to the trained centroids, so probe sets and search
    * results match the training session's exactly. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] =
    ModelStore.loadIvf(spark, path.stripSuffix("/") + "/" + ModelStore.SidecarName)

  /** Search a cell-partitioned collection: the probe filter becomes a
    * partition filter — only nprobe/k of the data is read.
    *
    * `filter` is a POST-FILTER on the stored rows (top-k among rows
    * matching the predicate): it rides the same scan as the probe
    * filter, so a plain-column predicate reaches the parquet reader as
    * PushedFilters next to the ivf_cell PartitionFilters — row groups
    * outside the predicate are skipped before decode, the interaction
    * that matters when a 100 TB corpus is searched "within language=X".
    * With a full probe (nprobe = k) the result is EXACTLY the filtered
    * exact top-k; with partial probes a highly selective predicate can
    * empty probed cells while matches live in unprobed ones — widen
    * nprobe (or use adaptive probing) as selectivity grows. */
  def searchPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      config: CollectionConfig, centroids: Array[Array[Float]],
      query: Array[Float], limit: Int, nprobe: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val q = Search.prepareQuery(config, query)
    val probes = probeCells(q, centroids, nprobe)
    val base = spark.read.parquet(path)
    val cands = filter.foldLeft(base)(_.filter(_))
      .filter(col("ivf_cell").isin(probes: _*)).drop("ivf_cell")
    Search.flatSearch(cands, config, query, limit)
  }

  /** Batch search over a cell-partitioned layout: the union of every
    * query's probed cells (one tiny job over the nq-row query frame —
    * the corpus is untouched) becomes a STATIC partition filter, so
    * directories outside the probe union are pruned before any IO; the
    * per-query probe join inside [[searchMany]] then narrows each query
    * back to its own cells. Results are identical to [[searchMany]]
    * over the same layout. */
  def searchManyPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, config: CollectionConfig, queries: DataFrame, limit: Int,
      nprobe: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // metadata post-filter (see searchPartitioned): applied to the scan
    // frame so it pushes down beside the static probe-union cell filter
    val base = spark.read.parquet(path)
    searchManyPruned(filter.foldLeft(base)(_.filter(_)), config,
      loadModel(spark, path), queries, limit, nprobe)
  }

  /** Probe-union-pruned batch over an already-loaded frame with
    * already-loaded centroids (see IvfPq.searchManyPruned for why this
    * form exists separately from the path-based one). */
  def searchManyPruned(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids
    val np = math.min(nprobe, cents.length)
    val pruned = prunedToProbes(df, config, queries,
      v => probeCells(v, cents, np))
    searchMany(pruned, config, cents, queries, limit, np)
  }

  /** Adaptive-probe twin of [[searchManyPruned]]: the probe UNION that
    * prunes the scan is the union of per-query ADAPTIVE probe sets, so
    * a batch of easy queries reads fewer cell directories. Results per
    * query equal [[searchAdaptive]]. */
  def searchManyPrunedAdaptive(df: DataFrame, config: CollectionConfig,
      centroids: Array[Array[Float]], queries: DataFrame, limit: Int,
      ratio: Double = 1.5, maxProbe: Int = 8): DataFrame = {
    val cents = centroids
    val (r, mp) = (ratio, maxProbe)
    val pruned = prunedToProbes(df, config, queries,
      v => probeCellsAdaptive(v, cents, r, mp))
    searchManyAdaptive(pruned, config, cents, queries, limit, r, mp)
  }

  private def prunedToProbes(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, probe: Array[Float] => Seq[Int]): DataFrame = {
    val probeUdf = udf((v: Seq[Float]) => probe(v.toArray).toArray)
    val cells = Search.normalizedQueries(config, queries)
      .select(explode(probeUdf(col("qvector"))).as("c"))
      .distinct().collect().map(_.getInt(0)) // bounded by the cell count
    df.filter(col("ivf_cell").isin(cells.map(Int.box): _*))
  }

  /** overlap@k vs exact flat — the quality gate. */
  def overlapAtK(df: DataFrame, config: CollectionConfig, centroids: Array[Array[Float]],
      query: Array[Float], k: Int, nprobe: Int): Double = {
    val exact = Search.flatSearch(df, config, query, k).select("id")
      .collect().map(_.getString(0)).toSet
    val ann = search(df, config, centroids, query, k, nprobe).select("id")
      .collect().map(_.getString(0)).toSet
    if (exact.isEmpty) 1.0 else exact.intersect(ann).size.toDouble / exact.size
  }
}
