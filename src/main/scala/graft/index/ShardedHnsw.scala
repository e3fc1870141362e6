package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, GraftConf}
import graft.expr.VectorKernels
import graft.functions.VectorFunctions.resultValues
import graft.search.Search

/** Distributed HNSW batch search — the scale path for `index: hnsw`
  * that the driver-resident parity shim ([[Hnsw.build]], capped at
  * `spark.graft.hnsw.maxBuildRows`) cannot be.
  *
  * The corpus hash-partitions into `shards` by id; each task builds an
  * independent HNSW graph over ITS rows (sorted by id — the reference's
  * rebuild order, collection.ex:426-433 — so shard graphs are
  * deterministic) and answers the whole broadcast query batch locally;
  * per-shard top-k lists merge to the global top-k. Nothing ever
  * collects the corpus: graph memory is per-executor, bounded by the
  * shard size, which is the standard shard-per-worker ANN layout.
  *
  * Graphs are acceleration state rebuilt from canonical rows (the
  * reference's own contract — hnsw holds nothing authoritative), kept
  * in an EXECUTOR-JVM cache keyed by (cacheKey, shard): repeated
  * batches against an unchanged collection reuse the built graphs
  * (Spark still scans the partition — the rows feed the cache-miss
  * path; the scan is the price of not pinning state to executors).
  * Callers MUST change `cacheKey` when the data changes, or pass ""
  * to rebuild every call.
  *
  * Recall semantics: a sharded graph searches each sub-graph
  * independently, so per-shard results are HNSW-approximate but the
  * merge is exact over them — with shards=1 and the same params this
  * is bit-identical to the driver shim's graph. */
object ShardedHnsw {

  // executor-JVM-local: each executor caches the graphs of the shards
  // it has served; local mode holds all of them in the one JVM. The
  // machinery (version-purged keys, LRU node budget) is the shared
  // [[ShardGraphCache]] — ShardedVamana holds its own instance.
  private val cache = new ShardGraphCache[Hnsw](_.size.toLong)

  /** See [[ShardGraphCache.samePrefixEvictions]]. */
  def samePrefixEvictions: Long = cache.samePrefixEvictions

  /** Default for `spark.graft.hnsw.cacheMaxNodes`: total LIVE nodes
    * across all cached shard graphs in one JVM. At 384 float dims a
    * node is ~1.7 KB of arena + adjacency, so 4M nodes ≈ 7 GB — a
    * deliberate executor-memory-sized bound, not a tuning knob users
    * must find before things work. */
  val DefaultCacheMaxNodes = 4000000L

  /** Drop every cached shard graph whose cacheKey starts with `prefix`
    * (facade invalidation uses a name-derived prefix). NOTE: this runs
    * in the CALLING JVM only — on a cluster, executor caches are
    * invalidated by version-suffixed cache keys instead (see
    * [[ShardGraphCache.cachedGraph]]), not by this call. */
  def clearCache(prefix: String): Unit = cache.clearCache(prefix)

  private[graft] def cachedNodeCount: Long = cache.cachedNodeCount

  private def withShardCount(key: String, nShards: Int): String =
    cache.withShardCount(key, nShards)

  private def cachedGraph(key: String, shard: Int,
      maxNodes: Long = DefaultCacheMaxNodes)(build: => Hnsw): Hnsw =
    cache.cachedGraph(key, shard, maxNodes)(build)

  /** The JVM-wide cached-node budget, read driver-side and shipped in
    * the task closure (executors cannot see runtime SQL confs). */
  private[index] def cacheMaxNodes(spark: org.apache.spark.sql.SparkSession): Long =
    GraftConf.long(spark, "spark.graft.hnsw.cacheMaxNodes", DefaultCacheMaxNodes)

  /** Batch search: queries are (qid, qvector) rows, bounded (they
    * broadcast); returns (qid, id, score, distance, metric) like the
    * facade's single hnsw search. `shards = 0` uses the session's
    * default parallelism.
    *
    * `filter` is a POST-FILTER on the collection rows (top-k among rows
    * matching the predicate). Graph nodes hold only (id, vector), so
    * the predicate can't steer the walk; instead each shard's beam is
    * WIDENED to limit*oversample candidates and the merged candidate
    * set (bounded: nShards * nq * limit * oversample rows — it
    * broadcasts) joins the predicate-filtered collection scan, where
    * the predicate pushes down to the source. Approximate like every
    * HNSW answer, and additionally bounded by the beam: a predicate
    * keeping ~1/s of rows wants oversample ≳ s. */
  def searchMany(df: DataFrame, config: CollectionConfig, queries: DataFrame,
      limit: Int, shards: Int = 0, cacheKey: String = "",
      params: Hnsw.Params = Hnsw.Params(),
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, beam: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(oversample > 0, "oversample must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nShards =
      if (shards > 0) shards else spark.sparkContext.defaultParallelism
    val qs = preparedQueries(config, queries)
    val bq = graft.search.BroadcastHandles.register(spark,
      spark.sparkContext.broadcast(qs))
    val metric = config.metric
    val p = params
    // shard count rides the stable key part: same cacheKey at a
    // different nShards (defaultParallelism moved under dynamic
    // allocation) must rebuild, not reuse another partitioning's graphs
    val key = withShardCount(cacheKey, nShards)
    val maxNodes = cacheMaxNodes(spark)
    // multiplyExact: a silently-overflowed beam would return an empty
    // result indistinguishable from "nothing matches the predicate".
    // `beam` (recall knob, default off) widens each shard's candidate
    // list past `limit` even without a filter — per-shard search effort
    // scales with the beam and the global merge still returns `limit`.
    val lim = math.max(
      if (filter.isDefined) math.multiplyExact(limit, oversample) else limit,
      beam)
    val perShard = df
      .select(col("id").cast("string"), col("vector").cast("array<float>"))
      .as[(String, Array[Float])]
      .repartition(nShards, col("id"))
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        def freshGraph(): Hnsw = {
          val rows = it.toArray.sortBy(_._1)
          val g = new Hnsw(metric, p)
          g.insertMany(rows.toIndexedSeq)
          g
        }
        // getOrElseUpdate may build twice under a concurrent-first-use
        // race (one result wins); searches on a published graph are
        // read-only, so sharing it across tasks is safe
        val g = cachedGraph(key, pid, maxNodes)(freshGraph())
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.search(qv, lim).iterator.map { case (id, raw) =>
            (qid, id, raw, VectorKernels.rankValue(metric.code, raw))
          }
        }
      }
    mergeTopK(postFilter(perShard.toDF("qid", "id", "raw", "rank"), df, filter),
      config, limit)
  }

  /** Candidate post-filter for the filtered search paths: keep only
    * candidates whose id survives the predicate over `attrs` (the
    * collection frame / layout scan — the predicate pushes down there),
    * joining the BOUNDED candidate set broadcast against that scan. */
  private[index] def postFilter(cands: DataFrame, attrs: DataFrame,
      filter: Option[org.apache.spark.sql.Column]): DataFrame =
    filter match {
      case None => cands
      case Some(pred) =>
        attrs.filter(pred).select(col("id").cast("string").as("id"))
          .join(org.apache.spark.sql.functions.broadcast(cands), Seq("id"))
    }

  /** Global merge of per-shard candidate lists: nShards * nq * limit
    * rows, one keyed window. */
  private[index] def mergeTopK(perShard: DataFrame, config: CollectionConfig,
      limit: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rank").asc_nulls_last, col("id").asc)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    perShard
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= limit)
      .select(col("qid"), col("id"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }

  /** Collect + prepare a bounded (qid, qvector) query frame, each query
    * checked by [[Search.collectQueries]] (qids read as strings). */
  private[index] def preparedQueries(config: CollectionConfig,
      queries: DataFrame): Array[(String, Array[Float])] =
    Search.collectQueries(config, queries.select(col("qid").cast("string").as("qid"),
        col("qvector").cast("array<float>").as("qvector")))
      .map { case (qid, v) => (qid.asInstanceOf[String], v) }

  // ----------------------------------------------------- at-rest layout
  //
  // The build above is the expensive half (per-shard graph construction
  // is ~n/shards * ef_construction distance evaluations); the layout
  // below persists the finished graphs so later sessions skip it. State
  // rows carry the CANONICAL collection columns plus per-node graph
  // state (internal id, layer, layer-major adjacency, entry flag),
  // partitioned by shard — opening reconstructs each shard graph from
  // adjacency with ZERO distance computations ([[Hnsw.fromState]]), so
  // a cold open costs a scan, not a rebuild. The reference's contract
  // is rebuild-from-canonical (collection.ex:426-433); persisting the
  // graph is this engine's extension, same as the quantized families'
  // model sidecars.

  /** Build per-shard graphs and write them as an at-rest layout:
    * parquet partitioned by `hnsw_shard`, model sidecar with shard
    * count + graph params. Shard assignment is the SAME id-hash
    * `searchMany` uses, so a layout searched after [[searchManyPersisted]]
    * returns exactly what the build-path search returns. */
  def writeLayout(df: DataFrame, config: CollectionConfig, path: String,
      shards: Int = 0, params: Hnsw.Params = Hnsw.Params()): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    val spark = df.sparkSession
    val nShards =
      if (shards > 0) shards else spark.sparkContext.defaultParallelism
    val keep = df.columns.toSeq
    val idIdx = keep.indexOf("id")
    val vecIdx = keep.indexOf("vector")
    require(idIdx >= 0 && vecIdx >= 0, "layout input needs id and vector columns")
    val outSchema = StructType(
      df.schema.fields.toSeq ++ Seq(
        StructField("internal_id", IntegerType, nullable = false),
        StructField("layer", IntegerType, nullable = false),
        StructField("connections", ArrayType(ArrayType(IntegerType)), nullable = false),
        StructField("is_entry", BooleanType, nullable = false),
        StructField("hnsw_shard", IntegerType, nullable = false)))
    val metric = config.metric
    val p = params
    val state = df
      .repartition(nShards, col("id"))
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val byId = rows.iterator.map(r => r.getString(idIdx) -> r).toMap
          val g = new Hnsw(metric, p)
          g.insertMany(rows.map(r => (r.getString(idIdx),
            r.getSeq[Float](vecIdx).toArray)).sortBy(_._1).toIndexedSeq)
          g.exportState().iterator.map { ns =>
            Row.fromSeq(byId(ns.externalId).toSeq ++
              Seq(ns.internalId, ns.layer,
                ns.connections.map(_.toSeq).toSeq, ns.isEntry, pid))
          }
        }
      }(Encoders.row(outSchema))
    // rows are already clustered one-shard-per-task, so partitionBy
    // emits exactly one directory per task — no tasks x cells fan-out
    state.write.mode("overwrite").partitionBy("hnsw_shard").parquet(path)
    graft.ann.ModelStore.saveHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, p)
    // a rewrite invalidates any graphs cached under this path — without
    // this, re-persisting different data to the same path would serve
    // the OLD graphs to path-keyed readers
    clearCache(path)
  }

  /** Append prepared canonical rows to an at-rest layout IN PLACE:
    * each new row hashes to its shard (the same `pmod(hash(id), n)`
    * assignment `repartition(n, col("id"))` produces), the affected
    * shard graphs reconstruct from stored adjacency, absorb the new
    * rows through the normal insert path (sorted by id within the
    * batch — the live-insert contract, NOT a bulk rebuild), and only
    * those shard directories are rewritten (dynamic partition
    * overwrite). Untouched shards and the sidecar (append-invariant:
    * shard count + params) are never rewritten. Callers must validate
    * rows and reject duplicate ids BEFORE calling (the facade's
    * appendIndexed does). */
  def appendLayout(spark: org.apache.spark.sql.SparkSession, path: String,
      config: CollectionConfig, prepared: DataFrame): Unit = {
    import org.apache.spark.sql.{Encoders, Row}
    val (nShards, params, _) = graft.ann.ModelStore.loadHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path))
    val state = spark.read.parquet(path)
    val graphCols = Seq("internal_id", "layer", "connections", "is_entry")
    val canonCols = state.columns.toSeq
      .filterNot(c => graphCols.contains(c) || c == "hnsw_shard")
    val newRows = prepared
      .select(canonCols.map(c =>
        (if (prepared.columns.contains(c)) col(c)
         else lit(null)).cast(state.schema(c).dataType).as(c)): _*)
      .withColumn("hnsw_shard", pmod(hash(col("id")), lit(nShards)))
    val affected = newRows.select("hnsw_shard").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (affected.isEmpty) return
    // old state of the affected shards + new rows with null graph state
    val stateOrder = canonCols ++ graphCols :+ "hnsw_shard"
    val oldPart = state.filter(col("hnsw_shard").isin(affected: _*))
      .select(stateOrder.map(col): _*)
    val newPart = newRows
      .withColumn("internal_id", lit(null).cast("int"))
      .withColumn("layer", lit(null).cast("int"))
      .withColumn("connections", lit(null).cast("array<array<int>>"))
      .withColumn("is_entry", lit(null).cast("boolean"))
      .select(stateOrder.map(col): _*)
    val outSchema = oldPart.schema
    val idIdx = outSchema.fieldIndex("id")
    val vecIdx = outSchema.fieldIndex("vector")
    val iidIdx = outSchema.fieldIndex("internal_id")
    val layerIdx = outSchema.fieldIndex("layer")
    val connIdx = outSchema.fieldIndex("connections")
    val entryIdx = outSchema.fieldIndex("is_entry")
    val shardIdx = outSchema.fieldIndex("hnsw_shard")
    val metric = config.metric
    val p = params
    val rebuilt = oldPart.union(newPart)
      .repartition(math.max(affected.size, 1), col("hnsw_shard"))
      .mapPartitions { it =>
        // a task may hold several shard groups after the hash
        // repartition — rebuild each independently
        it.toArray.groupBy(_.getInt(shardIdx)).iterator.flatMap {
          case (shard, rows) =>
            val (oldRows, addRows) = rows.partition(!_.isNullAt(iidIdx))
            val byId = rows.iterator.map(r => r.getString(idIdx) -> r).toMap
            val g = Hnsw.fromState(metric, p, oldRows.toSeq.map { r =>
              Hnsw.NodeState(r.getInt(iidIdx), r.getString(idIdx),
                r.getInt(layerIdx),
                r.getSeq[Float](vecIdx).toArray,
                r.getSeq[scala.collection.Seq[Int]](connIdx)
                  .map(_.toArray).toArray,
                r.getBoolean(entryIdx))
            })
            g.insertMany(addRows.map(r => (r.getString(idIdx),
              r.getSeq[Float](vecIdx).toArray)).sortBy(_._1).toIndexedSeq)
            g.exportState().iterator.map { ns =>
              val base = byId(ns.externalId).toSeq.toArray
              base(iidIdx) = ns.internalId
              base(layerIdx) = ns.layer
              base(connIdx) = ns.connections.map(_.toSeq).toSeq
              base(entryIdx) = ns.isEntry
              base(shardIdx) = shard
              Row.fromSeq(base.toIndexedSeq)
            }
        }
      }(Encoders.row(outSchema))
    // params stay append-invariant, but the VERSION stamp rotates
    // TWICE around the data rewrite. The pre-write rotation closes the
    // crash window: dying mid-rewrite leaves a transient version over
    // mixed data, so version-keyed executor caches miss and rebuild
    // rather than serving stale graphs against rewritten directories.
    // The post-write rotation closes the no-crash poisoning race: a
    // concurrent reader that loads the sidecar DURING the rewrite
    // caches half-appended graphs under the transient version — if
    // that version survived the append, those entries would serve
    // stale results forever; rotating again after commit supersedes
    // them on first post-append touch (cachedGraph purges same-stable
    // older-version entries).
    graft.ann.ModelStore.saveHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, params)
    // dynamic overwrite touches ONLY the shard directories present in
    // the written rows; the sidecar and untouched shards survive
    rebuilt.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("hnsw_shard").parquet(path)
    graft.ann.ModelStore.saveHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, params)
    clearCache(path) // local-JVM hygiene; clusters rely on the version
  }

  /** Co-partition layout state so every shard's rows share one task —
    * the shape [[searchManyPersisted]] wants. Repeated-batch callers
    * should `.persist()` the result and pass it as `state`: serving
    * then reads cached blocks with NO per-call shuffle (the default
    * path re-shuffles the state every call). */
  def layoutState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (nShards, _, _) = graft.ann.ModelStore.loadHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path))
    layoutState(spark, path, nShards)
  }

  private def layoutState(spark: org.apache.spark.sql.SparkSession,
      path: String, nShards: Int): DataFrame =
    spark.read.parquet(path).repartition(nShards, col("hnsw_shard"))

  /** Batch search over an at-rest layout written by [[writeLayout]]:
    * shard graphs reconstruct from persisted adjacency (no inserts, no
    * distance calls) into the executor cache under `cacheKey` — pass
    * the layout path (stable across sessions); "" rebuilds every call.
    * Results are bit-identical to `searchMany` over the same rows with
    * the layout's shard count and params.
    *
    * `filter`/`oversample` mirror [[searchMany]]'s post-filter: widened
    * per-shard beams, candidates joined against the predicate-filtered
    * layout scan (the predicate pushes down to the layout's parquet). */
  def searchManyPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, config: CollectionConfig, queries: DataFrame,
      limit: Int, cacheKey: String = "",
      state: Option[DataFrame] = None,
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, beam: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(oversample > 0, "oversample must be positive")
    import spark.implicits._
    // one sidecar read serves shards + params + version
    val (nShards, params, version) = graft.ann.ModelStore.loadHnsw(spark,
      graft.ann.ModelStore.sidecarOf(path))
    val qs = preparedQueries(config, queries)
    val bq = graft.search.BroadcastHandles.register(spark,
      spark.sparkContext.broadcast(qs))
    val metric = config.metric
    val p = params
    // fold the layout version into the key: a rewrite/append bumps it,
    // so stale executor-cached graphs can never serve this layout; the
    // shard count rides the stable part like searchMany's key
    val key = if (cacheKey.isEmpty) ""
      else s"${withShardCount(cacheKey, nShards)}#$version"
    val maxNodes = cacheMaxNodes(spark)
    // multiplyExact: a silently-overflowed beam would return an empty
    // result indistinguishable from "nothing matches the predicate";
    // `beam` widens per-shard candidates even unfiltered (recall knob)
    val lim = math.max(
      if (filter.isDefined) math.multiplyExact(limit, oversample) else limit,
      beam)
    // caller-supplied state frames promise "a shard never spans tasks";
    // trust-but-verify with the layout's true per-shard row counts — a
    // mis-partitioned frame would cache PARTIAL shard graphs under
    // (key, shard) and silently poison every later call with the key
    val validate = state.isDefined
    // broadcast once per (path, version) — null when not validating so
    // the unvalidated path allocates no broadcast at all (the closure
    // never dereferences it with validate=false)
    val bexp: org.apache.spark.broadcast.Broadcast[Map[Int, Long]] =
      if (validate) shardCounts(spark, path, version) else null
    // a task groups its partition locally (a shard never spans tasks —
    // layoutState's contract), so cached-graph serving avoids the
    // groupByKey shuffle of the whole state frame per call
    val stateFrame = state.getOrElse(layoutState(spark, path, nShards))
    val perShard = stateFrame
      .select(col("hnsw_shard").cast("int"), col("internal_id").cast("int"),
        col("id").cast("string"), col("layer").cast("int"),
        col("vector").cast("array<float>"), col("connections"), col("is_entry"))
      .as[(Int, Int, String, Int, Array[Float], Array[Array[Int]], Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          if (validate && bexp.value.getOrElse(shard, 0L) != rows.length.toLong)
            throw new IllegalArgumentException(
              s"state frame violates the co-partition contract: shard $shard " +
              s"holds ${rows.length} rows in this task, layout has " +
              s"${bexp.value.getOrElse(shard, 0L)} — repartition the frame " +
              "with ShardedHnsw.layoutState (a shard must never span tasks)")
          def fresh(): Hnsw = Hnsw.fromState(metric, p,
            rows.toSeq.map { case (_, iid, eid, layer, vec, conns, isEntry) =>
              Hnsw.NodeState(iid, eid, layer, vec, conns, isEntry)
            })
          val g = cachedGraph(key, shard, maxNodes)(fresh())
          bq.value.iterator.flatMap { case (qid, qv) =>
            g.search(qv, lim).iterator.map { case (id, raw) =>
              (qid, id, raw, VectorKernels.rankValue(metric.code, raw))
            }
          }
        }
      }
    // post-filter attrs come from the SAME frame that served the graphs:
    // a caller-persisted state frame keeps the no-per-call-parquet-decode
    // contract, and the predicate always evaluates against the generation
    // the candidates came from (a fresh read could see a newer file set
    // mid-append than the version-keyed graphs serving the candidates)
    mergeTopK(postFilter(perShard.toDF("qid", "id", "raw", "rank"),
      stateFrame, filter), config, limit)
  }

  // True per-shard row counts of a layout generation, broadcast ONCE
  // per (path, version) — the price of validating caller-supplied
  // state frames is one footer-reading count job and one broadcast per
  // layout generation, not per call. Keyed by PATH with only the
  // LATEST version retained (mirroring cachedGraph's supersede): a
  // long-lived driver appending in a loop holds one entry per layout,
  // not one per generation, and superseded broadcasts are unpersisted
  // so executors drop their blocks (not destroyed — a stale lazy frame
  // still referencing one re-fetches from the driver instead of
  // crashing).
  private final case class CountsEntry(version: String,
      bcast: org.apache.spark.broadcast.Broadcast[Map[Int, Long]])
  private val countsCache =
    scala.collection.concurrent.TrieMap.empty[String, CountsEntry]

  private[graft] def countsCacheSize: Int = countsCache.size

  private def shardCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, version: String
      ): org.apache.spark.broadcast.Broadcast[Map[Int, Long]] = {
    val cur = countsCache.get(path)
    if (cur.exists(_.version == version)) cur.get.bcast
    else {
      val counts = spark.read.parquet(path).groupBy("hnsw_shard").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val b = spark.sparkContext.broadcast(counts)
      countsCache.put(path, CountsEntry(version, b))
        .foreach(old => if (old.version != version)
          old.bcast.unpersist(blocking = false))
      b
    }
  }
}
