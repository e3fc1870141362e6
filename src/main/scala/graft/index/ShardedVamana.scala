package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, GraftConf}
import graft.expr.VectorKernels

/** Distributed Vamana (DiskANN-style) batch search — the flat-graph
  * sibling of [[ShardedHnsw]], same architecture throughout:
  *
  *   - the corpus hash-partitions into `shards` by id; each task builds
  *     an independent [[Vamana]] graph over ITS rows (sorted by id, so
  *     shard graphs are deterministic) and answers the whole broadcast
  *     query batch locally; per-shard top-k lists merge exactly;
  *   - graphs live in an executor-JVM [[ShardGraphCache]] keyed by
  *     (cacheKey, shard) with the version/LRU rules ShardedHnsw
  *     documents; `spark.graft.vamana.cacheMaxNodes` bounds this
  *     family's budget independently of hnsw's;
  *   - [[writeLayout]] persists finished graphs (flat adjacency — ONE
  *     fixed-shape record per node, the property that makes this the
  *     disk-resident graph layout) partitioned by `vamana_shard`;
  *     [[searchManyPersisted]] reconstructs shard graphs from stored
  *     adjacency with ZERO distance computations.
  *
  * Engine extension beyond the reference (its only graph family is
  * hnsw); at 100 TB this is the layout you want when graphs outgrow
  * executor memory: a beam step touches ≤ R fixed-size node records,
  * so the at-rest page layout — not a layer hierarchy — bounds IO. */
object ShardedVamana {

  private val cache = new ShardGraphCache[Vamana](_.size.toLong)

  /** See [[ShardGraphCache.samePrefixEvictions]]. */
  def samePrefixEvictions: Long = cache.samePrefixEvictions

  /** Same executor-memory-sized default as ShardedHnsw: a flat-graph
    * node (arena slice + ≤R adjacency ints) is a bit SMALLER than an
    * hnsw node at equal dims, so the shared default stays safe. */
  val DefaultCacheMaxNodes: Long = ShardedHnsw.DefaultCacheMaxNodes

  /** Calling-JVM cache invalidation; clusters invalidate via
    * version-suffixed cache keys (see [[ShardGraphCache]]). */
  def clearCache(prefix: String): Unit = cache.clearCache(prefix)

  private[graft] def cachedNodeCount: Long = cache.cachedNodeCount

  private def cacheMaxNodes(spark: org.apache.spark.sql.SparkSession): Long =
    GraftConf.long(spark, "spark.graft.vamana.cacheMaxNodes", DefaultCacheMaxNodes)

  /** Batch search: queries are (qid, qvector) rows, bounded (they
    * broadcast); returns (qid, id, score, distance, metric). `shards=0`
    * uses the session's default parallelism. `filter`/`oversample` are
    * the post-filter contract of [[ShardedHnsw.searchMany]]: widened
    * per-shard beams, bounded candidate set joined against the
    * predicate-filtered collection scan. `beam` widens per-shard
    * candidates even unfiltered (recall knob; 0 = the graph's
    * autoscale). */
  def searchMany(df: DataFrame, config: CollectionConfig, queries: DataFrame,
      limit: Int, shards: Int = 0, cacheKey: String = "",
      params: Vamana.Params = Vamana.Params(),
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, beam: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(oversample > 0, "oversample must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val nShards =
      if (shards > 0) shards else spark.sparkContext.defaultParallelism
    val qs = ShardedHnsw.preparedQueries(config, queries)
    val bq = graft.search.BroadcastHandles.register(spark,
      spark.sparkContext.broadcast(qs))
    val metric = config.metric
    val p = params
    val key = cache.withShardCount(cacheKey, nShards)
    val maxNodes = cacheMaxNodes(spark)
    val lim = math.max(
      if (filter.isDefined) math.multiplyExact(limit, oversample) else limit,
      beam)
    val bm = beam
    val perShard = df
      .select(col("id").cast("string"), col("vector").cast("array<float>"))
      .as[(String, Array[Float])]
      .repartition(nShards, col("id"))
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        def freshGraph(): Vamana = {
          val rows = it.toArray.sortBy(_._1)
          val g = new Vamana(metric, p)
          g.insertMany(rows.toIndexedSeq)
          g
        }
        val g = cache.cachedGraph(key, pid, maxNodes)(freshGraph())
        bq.value.iterator.flatMap { case (qid, qv) =>
          g.searchBeamed(qv, lim, bm).iterator.map { case (id, raw) =>
            (qid, id, raw, VectorKernels.rankValue(metric.code, raw))
          }
        }
      }
    ShardedHnsw.mergeTopK(
      ShardedHnsw.postFilter(perShard.toDF("qid", "id", "raw", "rank"),
        df, filter),
      config, limit)
  }

  // ----------------------------------------------------- at-rest layout

  /** Build per-shard graphs and persist them: parquet partitioned by
    * `vamana_shard`, model sidecar with shard count + params. Shard
    * assignment is the same id-hash [[searchMany]] uses, so the layout
    * serves exactly what the build-path search returns. Each node is a
    * flat record (canonical columns + internal id + one adjacency
    * array + entry flag) — the fixed-shape row DiskANN's disk layout
    * is built around. */
  def writeLayout(df: DataFrame, config: CollectionConfig, path: String,
      shards: Int = 0, params: Vamana.Params = Vamana.Params()): Unit = {
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
        StructField("neighbors", ArrayType(IntegerType), nullable = false),
        StructField("is_entry", BooleanType, nullable = false),
        StructField("vamana_shard", IntegerType, nullable = false)))
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
          val g = new Vamana(metric, p)
          g.insertMany(rows.map(r => (r.getString(idIdx),
            r.getSeq[Float](vecIdx).toArray)).sortBy(_._1).toIndexedSeq)
          g.exportState().iterator.map { ns =>
            Row.fromSeq(byId(ns.externalId).toSeq ++
              Seq(ns.internalId, ns.neighbors.toSeq, ns.isEntry, pid))
          }
        }
      }(Encoders.row(outSchema))
    // rows are already clustered one-shard-per-task, so partitionBy
    // emits exactly one directory per task
    state.write.mode("overwrite").partitionBy("vamana_shard").parquet(path)
    graft.ann.ModelStore.saveVamana(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, p)
    clearCache(path)
  }

  /** Append prepared canonical rows to an at-rest layout IN PLACE:
    * each new row hashes to its shard (the same `pmod(hash(id), n)`
    * assignment `repartition(n, col("id"))` produces), affected shard
    * graphs reconstruct from stored adjacency and absorb the new rows
    * through the incremental insert path (sorted by id within the
    * batch — the FreshDiskANN-style live insert, NOT a bulk rebuild),
    * and only those shard directories rewrite (dynamic partition
    * overwrite). The sidecar's version stamp rotates twice around the
    * data rewrite — the crash-window and cache-poisoning rationale is
    * documented at [[ShardedHnsw.appendLayout]]. Callers must validate
    * rows and reject duplicate ids BEFORE calling (the facade does). */
  def appendLayout(spark: org.apache.spark.sql.SparkSession, path: String,
      config: CollectionConfig, prepared: DataFrame): Unit = {
    import org.apache.spark.sql.{Encoders, Row}
    val (nShards, params, _) = graft.ann.ModelStore.loadVamana(spark,
      graft.ann.ModelStore.sidecarOf(path))
    val state = spark.read.parquet(path)
    val graphCols = Seq("internal_id", "neighbors", "is_entry")
    val canonCols = state.columns.toSeq
      .filterNot(c => graphCols.contains(c) || c == "vamana_shard")
    val newRows = prepared
      .select(canonCols.map(c =>
        (if (prepared.columns.contains(c)) col(c)
         else lit(null)).cast(state.schema(c).dataType).as(c)): _*)
      .withColumn("vamana_shard", pmod(hash(col("id")), lit(nShards)))
    val affected = newRows.select("vamana_shard").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (affected.isEmpty) return
    val stateOrder = canonCols ++ graphCols :+ "vamana_shard"
    val oldPart = state.filter(col("vamana_shard").isin(affected: _*))
      .select(stateOrder.map(col): _*)
    val newPart = newRows
      .withColumn("internal_id", lit(null).cast("int"))
      .withColumn("neighbors", lit(null).cast("array<int>"))
      .withColumn("is_entry", lit(null).cast("boolean"))
      .select(stateOrder.map(col): _*)
    val outSchema = oldPart.schema
    val idIdx = outSchema.fieldIndex("id")
    val vecIdx = outSchema.fieldIndex("vector")
    val iidIdx = outSchema.fieldIndex("internal_id")
    val nbrIdx = outSchema.fieldIndex("neighbors")
    val entryIdx = outSchema.fieldIndex("is_entry")
    val shardIdx = outSchema.fieldIndex("vamana_shard")
    val metric = config.metric
    val p = params
    val rebuilt = oldPart.union(newPart)
      .repartition(math.max(affected.size, 1), col("vamana_shard"))
      .mapPartitions { it =>
        it.toArray.groupBy(_.getInt(shardIdx)).iterator.flatMap {
          case (shard, rows) =>
            val (oldRows, addRows) = rows.partition(!_.isNullAt(iidIdx))
            val byId = rows.iterator.map(r => r.getString(idIdx) -> r).toMap
            val g = Vamana.fromState(metric, p, oldRows.toSeq.map { r =>
              Vamana.NodeState(r.getInt(iidIdx), r.getString(idIdx),
                r.getSeq[Float](vecIdx).toArray,
                r.getSeq[Int](nbrIdx).toArray,
                r.getBoolean(entryIdx))
            })
            addRows.map(r => (r.getString(idIdx),
              r.getSeq[Float](vecIdx).toArray)).sortBy(_._1)
              .foreach { case (id, v) => g.insert(id, v) }
            g.exportState().iterator.map { ns =>
              val base = byId(ns.externalId).toSeq.toArray
              base(iidIdx) = ns.internalId
              base(nbrIdx) = ns.neighbors.toSeq
              base(entryIdx) = ns.isEntry
              base(shardIdx) = shard
              Row.fromSeq(base.toIndexedSeq)
            }
        }
      }(Encoders.row(outSchema))
    graft.ann.ModelStore.saveVamana(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, params)
    rebuilt.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("vamana_shard").parquet(path)
    graft.ann.ModelStore.saveVamana(spark,
      graft.ann.ModelStore.sidecarOf(path), nShards, params)
    clearCache(path) // local-JVM hygiene; clusters rely on the version
  }

  /** Co-partition layout state so every shard's rows share one task.
    * Repeated-batch callers should `.persist()` the result and pass it
    * as `state` to [[searchManyPersisted]] — serving then reads cached
    * blocks with no per-call shuffle. */
  def layoutState(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (nShards, _, _) = graft.ann.ModelStore.loadVamana(spark,
      graft.ann.ModelStore.sidecarOf(path))
    layoutState(spark, path, nShards)
  }

  private def layoutState(spark: org.apache.spark.sql.SparkSession,
      path: String, nShards: Int): DataFrame =
    spark.read.parquet(path).repartition(nShards, col("vamana_shard"))

  /** Batch search over a layout written by [[writeLayout]]: shard
    * graphs reconstruct from persisted adjacency (no inserts, no
    * distance calls) into the executor cache under `cacheKey` — pass
    * the layout path; "" rebuilds every call. Results are bit-identical
    * to [[searchMany]] over the same rows with the layout's shard count
    * and params. The layout version is folded into the cache key and
    * caller-supplied `state` frames are validated against true
    * per-shard counts, exactly like the persisted hnsw path. */
  def searchManyPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, config: CollectionConfig, queries: DataFrame,
      limit: Int, cacheKey: String = "",
      state: Option[DataFrame] = None,
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, beam: Int = 0): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(oversample > 0, "oversample must be positive")
    import spark.implicits._
    val (nShards, params, version) = graft.ann.ModelStore.loadVamana(spark,
      graft.ann.ModelStore.sidecarOf(path))
    val qs = ShardedHnsw.preparedQueries(config, queries)
    val bq = graft.search.BroadcastHandles.register(spark,
      spark.sparkContext.broadcast(qs))
    val metric = config.metric
    val p = params
    val key = if (cacheKey.isEmpty) ""
      else s"${cache.withShardCount(cacheKey, nShards)}#$version"
    val maxNodes = cacheMaxNodes(spark)
    val lim = math.max(
      if (filter.isDefined) math.multiplyExact(limit, oversample) else limit,
      beam)
    val bm = beam
    val validate = state.isDefined
    val bexp: org.apache.spark.broadcast.Broadcast[Map[Int, Long]] =
      if (validate) shardCounts(spark, path, version) else null
    val stateFrame = state.getOrElse(layoutState(spark, path, nShards))
    val perShard = stateFrame
      .select(col("vamana_shard").cast("int"), col("internal_id").cast("int"),
        col("id").cast("string"), col("vector").cast("array<float>"),
        col("neighbors"), col("is_entry"))
      .as[(Int, Int, String, Array[Float], Array[Int], Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          if (validate && bexp.value.getOrElse(shard, 0L) != rows.length.toLong)
            throw new IllegalArgumentException(
              s"state frame violates the co-partition contract: shard $shard " +
              s"holds ${rows.length} rows in this task, layout has " +
              s"${bexp.value.getOrElse(shard, 0L)} — repartition the frame " +
              "with ShardedVamana.layoutState (a shard must never span tasks)")
          def fresh(): Vamana = Vamana.fromState(metric, p,
            rows.toSeq.map { case (_, iid, eid, vec, nbrs, isEntry) =>
              Vamana.NodeState(iid, eid, vec, nbrs, isEntry)
            })
          val g = cache.cachedGraph(key, shard, maxNodes)(fresh())
          bq.value.iterator.flatMap { case (qid, qv) =>
            g.searchBeamed(qv, lim, bm).iterator.map { case (id, raw) =>
              (qid, id, raw, VectorKernels.rankValue(metric.code, raw))
            }
          }
        }
      }
    ShardedHnsw.mergeTopK(
      ShardedHnsw.postFilter(perShard.toDF("qid", "id", "raw", "rank"),
        stateFrame, filter),
      config, limit)
  }

  // True per-shard row counts per (path, version), broadcast once —
  // same validation economics as ShardedHnsw.shardCounts.
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
      val counts = spark.read.parquet(path).groupBy("vamana_shard").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val b = spark.sparkContext.broadcast(counts)
      countsCache.put(path, CountsEntry(version, b))
        .foreach(old => if (old.version != version)
          old.bcast.unpersist(blocking = false))
      b
    }
  }
}
