package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.prepare.Prepare
import graft.rerank.Mmr
import graft.search.Search
import graft.store.CollectionStore

/** Compat facade: the reference's DB-handle API (lib/vettore.ex) over
  * collection DataFrames — a registry of named collections with CRUD,
  * search and snapshot verbs, so a user of the reference maps calls
  * 1:1:
  *
  *   Vettore.new/create_collection    -> db.createCollection
  *   put/insert, put_many/batch       -> db.insert, db.batch
  *   get/get_by_value/get_by_vector   -> db.get / getByValue / getByVector
  *   all/get_all, delete, close       -> db.all, db.delete, db.close
  *   search/similarity_search         -> db.search / db.similaritySearch
  *   funnel/quantized/multi_vector/
  *   hybrid_search, rerank (MMR)      -> same names
  *   snapshot/load_snapshot           -> db.snapshot / db.loadSnapshot
  *
  * Collections are immutable frames under the hood: writes swap the
  * registry pointer (copy-on-write), atomicity comes from the Spark job
  * (SURVEY §3.2), and the compat API defaults to score mode
  * :similarity exactly like the reference (vettore.ex:358).
  */
final class GraftDb(val spark: SparkSession) {

  final case class EmbeddingInput(
      id: String = null, value: String = null,
      vector: Array[Float] = null, vectors: Seq[Array[Float]] = null,
      metadata: Map[String, String] = null)

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, CollectionConfig)]

  private def collection(name: String): (DataFrame, CollectionConfig) =
    registry.getOrElse(name, throw new NoSuchElementException(s"no collection $name"))

  /** Create an empty named collection (reference `Vettore.new` /
    * `create_collection`).
    * {{{
    * val db = new GraftDb(spark)
    * db.createCollection("articles", dimensions = 4)           // cosine/flat defaults
    * db.createCollection("codes", 4, metric = "l2", index = "sq8")
    * }}} */
  def createCollection(name: String, dimensions: Int,
      metric: String = "cosine", normalize: Option[String] = None,
      score: String = "similarity", index: String = "flat"): Unit = {
    require(GraftIndexRegistry.BuiltinNames(index) ||
      GraftIndexRegistry.lookup(index).isDefined, s"unknown index $index")
    require(!registry.contains(name), s"collection $name already exists")
    val config = CollectionConfig(name, dimensions, Metric.fromName(metric),
      normalize.map(Normalize.fromName), ScoreMode.fromName(score), index)
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Prepare.canonicalSchema)
    registry.put(name, (empty, config))
  }

  /** Idempotent release (reference close/1, collection.ex:360-374).
    * {{{
    * db.close("articles")   // frees caches; safe to call twice
    * }}} */
  def close(name: String): Unit = {
    registry.remove(name).foreach(_._1.unpersist())
    invalidateIndexCaches(name)
  }

  /** Alias of [[close]] (reference `delete_collection`).
    * {{{
    * db.deleteCollection("articles")
    * }}} */
  def deleteCollection(name: String): Unit = close(name)

  /** Registered collection names, sorted.
    * {{{
    * db.listCollections()   // Seq("articles", "codes")
    * }}} */
  def listCollections(): Seq[String] = registry.keys.toSeq.sorted

  private def toDf(rows: Seq[EmbeddingInput]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("value", StringType),
      StructField("vector", ArrayType(FloatType)),
      StructField("vectors", ArrayType(ArrayType(FloatType))),
      StructField("metadata", MapType(StringType, StringType))))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(e =>
      Row(e.id, e.value,
        Option(e.vector).map(_.toSeq).orNull,
        Option(e.vectors).map(_.map(_.toSeq)).orNull,
        e.metadata)): _*), schema)
  }

  /** Insert one embedding (reference `put`).
    * {{{
    * db.insert("articles", db.EmbeddingInput("a1", "hello world",
    *   vector = Array(1f, 0f, 0f, 0f)))
    * }}} */
  def insert(name: String, e: EmbeddingInput): Unit = batch(name, Seq(e))

  /** Atomic batch append with duplicate-id rejection (put_many).
    * {{{
    * db.batch("articles", Seq(
    *   db.EmbeddingInput("a2", vector = Array(0f, 1f, 0f, 0f)),
    *   db.EmbeddingInput("a3", vector = Array(0f, 0f, 1f, 0f))))
    * }}} */
  def batch(name: String, rows: Seq[EmbeddingInput]): Unit = {
    val (df, config) = collection(name)
    val next = Prepare.putMany(df, toDf(rows), config)
    registry.put(name, (next, config))
    invalidateIndexCaches(name)
  }

  /** The collection's canonical frame (reference `all`).
    * {{{
    * db.all("articles").select("id", "vector").show()
    * }}} */
  def all(name: String): DataFrame = collection(name)._1

  /** Alias of [[all]] (reference `get_all`).
    * {{{
    * db.getAll("articles").count()
    * }}} */
  def getAll(name: String): DataFrame = all(name)

  /** Row count (reference `Store.count`).
    * {{{
    * db.count("articles")   // 3L
    * }}} */
  def count(name: String): Long = all(name).count()

  /** The collection's config (dimensions, metric, normalize, score, index).
    * {{{
    * db.config("articles").metric.name   // "cosine"
    * }}} */
  def config(name: String): CollectionConfig = collection(name)._2

  /** Fetch one record by id (reference `get`).
    * {{{
    * db.get("articles", "a1").map(_.getAs[String]("value"))   // Some("hello world")
    * }}} */
  def get(name: String, id: String): Option[Row] =
    Prepare.get(all(name), id).collect().headOption

  /** First record whose value matches; lowest id wins (reference
    * `get_by_value`).
    * {{{
    * db.getByValue("articles", "hello world").map(_.getAs[String]("id"))   // Some("a1")
    * }}} */
  def getByValue(name: String, value: String): Option[Row] =
    all(name).filter(col("value") === value).orderBy(col("id")).limit(1)
      .collect().headOption

  /** First exact match of the *prepared* (normalized) vector
    * (vettore.ex:508-524); lowest id wins for determinism.
    * {{{
    * db.getByVector("articles", Array(1f, 0f, 0f, 0f))
    *   .map(_.getAs[String]("id"))   // Some("a1")
    * }}} */
  def getByVector(name: String, vector: Array[Float]): Option[Row] = {
    val (df, config) = collection(name)
    val prepared = Search.prepareQuery(config, vector)
    df.filter(col("vector") === graft.functions.VectorFunctions.vecLit(prepared))
      .orderBy(col("id")).limit(1).collect().headOption
  }

  /** Copy-on-write delete by id (reference `delete`).
    * {{{
    * db.delete("articles", "a3")
    * }}} */
  def delete(name: String, id: String): Unit = {
    val (df, config) = collection(name)
    registry.put(name, (Prepare.deleteIds(df, Seq(id)), config))
    invalidateIndexCaches(name)
  }

  // ------------------------------------------------------------- search

  // ---- cost-based filtered-search routing (engine extension) ----
  // The pre- vs post-filter planning step production vector stores
  // make: when a query predicate matches only a handful of rows, an
  // approximate index is the WRONG plan — probing cells / walking
  // beams over a corpus that is 99.9% filtered away costs more than
  // scanning the survivors, and post-filtered candidates can miss
  // matching rows entirely (the classic filtered-ANN recall hole).
  // Below `spark.graft.filter.exactMaxMatches` surviving rows
  // (default 10k) the facade therefore serves the query EXACTLY from
  // a scan of the filtered frame: cheaper AND recall-1.0. The match
  // count probe is bounded — limit(cutoff+1).count() stops the scan
  // as soon as the cutoff is crossed — and its verdict caches per
  // (collection frame, predicate), so repeated queries skip it.
  // `spark.graft.filter.exactRoute=false` disables the routing.
  private val routeVerdictCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, String), Boolean]
  private val routeFrameCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  /** Last filtered-search route taken per collection — a diagnostic
    * hook ("exact-selective" | "index"), not a stable API. */
  private[graft] val lastFilterRoute =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Index kinds whose filtered form can route to the exact scan: the
    * approximate families. flat/bf16 are already exact scans, and
    * third-party kinds own their filter semantics. */
  private val exactRoutableKinds = Set("lsh", "ivf", "ivfbf16", "sq8",
    "pq", "apq", "rabitq", "ivfpq", "ivfrabitq", "hnsw", "vamana")

  private def exactRouteDecision(name: String, df: DataFrame,
      config: CollectionConfig,
      filter: Option[org.apache.spark.sql.Column]): Boolean = {
    val route = filter.isDefined &&
      GraftConf.bool(spark, "spark.graft.filter.exactRoute", true) &&
      exactRoutableKinds.contains(config.index) && {
        val cutoff = GraftConf.long(spark, "spark.graft.filter.exactMaxMatches", 10000L)
        val probeRows = math.min(cutoff + 1L, Int.MaxValue.toLong).toInt
        val key = (name, System.identityHashCode(df),
          s"${filter.get}|$cutoff")
        routeVerdictCache.getOrElseUpdate(key,
          df.filter(filter.get).select(lit(1).as("one"))
            .limit(probeRows).count() <= cutoff)
      }
    if (filter.isDefined)
      lastFilterRoute.put(name, if (route) "exact-selective" else "index")
    route
  }

  /** The exact serving frame for a routed filtered search. ivfbf16's
    * result contract is the bf16-ROUNDED rank (its normal path scores
    * packed bf16), so its exact route scores the same rounding — for
    * an opened layout the registry vector is already the decoded
    * rounded corpus, and re-packing is idempotent. Every other
    * routable kind reranks exactly in f32, so the registry frame's
    * f32 vector IS its contract. */
  private def exactRouteFrame(name: String, df: DataFrame,
      config: CollectionConfig): DataFrame =
    if (config.index == "ivfbf16")
      codedFrameCache.get(name).filter(_.columns.contains("vector_bf16"))
        .getOrElse(routeFrameCache.getOrElseUpdate(name,
          Prepare.withBf16Vector(df)))
    else df

  /** Index-routed search: `flat` scans exactly; `bf16` scans exactly
    * over the bf16-rounded corpus at 2 B/dim (half the scan bytes of a
    * flat at-rest layout — see [[persistIndex]]); `hnsw` uses the
    * parity graph; `lsh` / `ivf` / `sq8` / `pq` / `ivfpq` use the
    * distributed ANN candidate paths (quantized variants rerank
    * exactly). Mirrors the reference's `index_mod.search` dispatch.
    *
    * `filter` (engine extension) makes it a FILTERED search: top-k
    * among rows matching the predicate (post-filter semantics). Models
    * and codes stay trained on the FULL collection — a query-time
    * predicate never retrains; scan-shaped indexes pre-filter the
    * candidate scan (exact for flat; quantized candidate budgets rank
    * filtered rows only), hnsw post-filters oversampled sharded beams
    * (the driver shim's graph holds no metadata, so filtered hnsw
    * always routes to the sharded path — `oversample` widens it).
    * SELECTIVE predicates route to an exact scan of the surviving
    * rows instead of the approximate structure (cheaper AND exact
    * below `spark.graft.filter.exactMaxMatches` matches — see the
    * routing note above [[search]]'s implementation).
    *
    * `recallTarget` resolves the search knobs from the measured
    * [[overlapCurve]] exactly like [[searchMany]]'s form of the same
    * option (the single-query path shares the batch path's models and
    * candidate budgets, so the curve transfers).
    * {{{
    * db.search("articles", Array(1f, 0f, 0f, 0f), limit = 2)
    *   .select("id", "score").show()
    * db.search("articles", q, 10, filter = Some(col("id") =!= "a2"))
    * }}} */
  def search(name: String, query: Array[Float], limit: Int,
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, recallTarget: Double = 0.0): DataFrame = {
    val (df, config) = collection(name)
    if (recallTarget > 0.0) {
      // resolve knobs once, then serve through the batch path (one
      // query) so knob plumbing exists in exactly one dispatch
      import spark.implicits._
      val queries = Seq(("q", query.toSeq)).toDF("qid", "qvector")
      return searchMany(name, queries, limit, knownNq = 1L, filter = filter,
        oversample = oversample, recallTarget = recallTarget)
        .select(col("id"), col("score"), col("distance"), col("metric"))
    }
    if (exactRouteDecision(name, df, config, filter)) {
      val frame = exactRouteFrame(name, df, config).filter(filter.get)
      val exact =
        if (config.index == "ivfbf16")
          Search.flatSearchBf16(frame, config, query, limit)
        else Search.flatSearch(frame, config, query, limit)
      // the graph kinds' result contract is the slim 4-column shape
      return if (config.index == "hnsw" || config.index == "vamana")
        exact.select(col("id"), col("score"), col("distance"), col("metric"))
      else exact
    }
    def filtered(f: DataFrame): DataFrame = filter.foldLeft(f)(_.filter(_))
    config.index match {
      case "flat" => Search.flatSearch(filtered(df), config, query, limit)
      case "bf16" =>
        // exact scan over the bf16-ROUNDED corpus (2 B/dim at rest —
        // half the flat snapshot's scan bytes); deterministic, no knobs
        // (recallTarget routes through the batch path's funnel ladder)
        val frame = codedFrameCache.getOrElseUpdate(name, bf16Frame(df, config))
        Search.flatSearchBf16(filtered(frame), config, query, limit)
      case "hnsw" if openPaths.contains(name) =>
        // opened from an at-rest layout: serve through the persisted
        // shard graphs (reconstructed from adjacency, cached per path)
        import spark.implicits._
        val queries = Seq(("q", query.toSeq)).toDF("qid", "qvector")
        val path = openPaths(name)
        def run(os: Int) = graft.index.ShardedHnsw.searchManyPersisted(
            spark, path, config, queries, limit, cacheKey = path,
            filter = filter, oversample = os)
          .select(col("id"), col("score"), col("distance"), col("metric"))
        widenFilteredHnsw(run, filter, limit, oversample)
      case "hnsw" =>
        // driver parity graph below the build cap; above it, fall back
        // to the distributed per-shard graphs instead of erroring — a
        // billion-row hnsw collection stays searchable, it just loses
        // bit-parity with the driver shim (sharded semantics).
        val cap = GraftConf.long(spark, "spark.graft.hnsw.maxBuildRows",
          graft.index.Hnsw.DefaultMaxBuildRows)
        // the routing count runs once per registry frame (mutations
        // invalidate it), not once per query
        lazy val n = hnswRowCount.getOrElseUpdate(name, df.count())
        if (filter.isEmpty && (hnswCache.contains(name) || n <= cap)) {
          val g = hnswCache.getOrElseUpdate(name,
            graft.index.Hnsw.build(df, config, knownCount = n))
          val q = Search.prepareQuery(config, query)
          import org.apache.spark.sql.types._
          val rows = g.search(q, limit).map { case (id, raw) =>
            val (score, dist) = ScoreMode.resultValues(config.metric, raw, config.score)
            Row(id, score, dist.orNull, config.metric.name)
          }
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
            StructField("id", StringType, nullable = false),
            StructField("score", DoubleType, nullable = false),
            StructField("distance", DoubleType, nullable = true),
            StructField("metric", StringType, nullable = false))))
        } else {
          import spark.implicits._
          val queries = Seq(("q", query.toSeq)).toDF("qid", "qvector")
          // graphs hold no metadata, so filtered and unfiltered share
          // the same cache key — one build serves both
          def run(os: Int) = graft.index.ShardedHnsw.searchMany(df, config,
              queries, limit, cacheKey = hnswKey(name), filter = filter,
              oversample = os)
            .select(col("id"), col("score"), col("distance"), col("metric"))
          widenFilteredHnsw(run, filter, limit, oversample)
        }
      case "vamana" if openPaths.contains(name) =>
        // opened from an at-rest layout: shard graphs reconstruct from
        // stored flat adjacency, cached per path (see ShardedVamana)
        import spark.implicits._
        val queries = Seq(("q", query.toSeq)).toDF("qid", "qvector")
        val path = openPaths(name)
        def run(os: Int) = graft.index.ShardedVamana.searchManyPersisted(
            spark, path, config, queries, limit, cacheKey = path,
            filter = filter, oversample = os)
          .select(col("id"), col("score"), col("distance"), col("metric"))
        widenFilteredHnsw(run, filter, limit, oversample)
      case "vamana" =>
        // always the distributed per-shard graphs — Vamana has no
        // driver parity shim to match (it is an engine extension, not a
        // reference contract), so single queries ride the batch path
        import spark.implicits._
        val queries = Seq(("q", query.toSeq)).toDF("qid", "qvector")
        def run(os: Int) = graft.index.ShardedVamana.searchMany(df, config,
            queries, limit, cacheKey = hnswKey(name), filter = filter,
            oversample = os)
          .select(col("id"), col("score"), col("distance"), col("metric"))
        widenFilteredHnsw(run, filter, limit, oversample)
      case "lsh" =>
        graft.ann.CosineLsh.search(
          filtered(codedFrameCache.getOrElse(name, df)), config,
          graft.ann.CosineLsh.LshConfig(), query, limit)
      case "ivf" =>
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val frame = codedFrameCache.getOrElse(name, df)
        ivfAdaptive match {
          case Some((ratio, maxProbe)) =>
            graft.ann.IvfIndex.searchAdaptive(filtered(frame), config, cents,
              query, limit, ratio, maxProbe)
          case None =>
            graft.ann.IvfIndex.search(filtered(frame), config, cents, query,
              limit, ivfCfg.nprobe)
        }
      case "ivfbf16" =>
        // cell-directory pruning x half-IO bf16 payload — the serving
        // point between flat bf16 and ivfpq (graft.ann.IvfBf16); the
        // probe policy mirrors "ivf" exactly (adaptive by default)
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val frame = codedFrameCache.getOrElseUpdate(name,
          graft.ann.IvfBf16.prepare(df, cents))
        ivfAdaptive match {
          case Some((ratio, maxProbe)) =>
            graft.ann.IvfBf16.searchAdaptive(filtered(frame), config, cents,
              query, limit, ratio, maxProbe)
          case None =>
            graft.ann.IvfBf16.search(filtered(frame), config, cents, query,
              limit, ivfCfg.nprobe)
        }
      case "sq8" =>
        val (model, coded) = sq8Cache.getOrElseUpdate(name, {
          val m = graft.ann.Sq8.train(df)
          (m, graft.ann.Sq8.withCodes(df, m).persist())
        })
        graft.ann.Sq8.search(filtered(coded), config, model, query, limit)
      case "pq" | "apq" =>
        val (cb, coded) = pqCache.getOrElseUpdate(name, {
          val c = pqTrain(df, config)
          (c, graft.ann.Pq.withCodes(df, c).persist())
        })
        graft.ann.Pq.search(filtered(coded), config, cb, query, limit)
      case "rabitq" =>
        // calibrated 1-bit codes (rotation + factors): estimated-metric
        // candidates, exact rerank — the quantized-family contract with
        // a centered model and the FHT bulk encode as shipped defaults
        val (model, coded) = rabitqCache.getOrElseUpdate(name, {
          val m = graft.ann.RaBitQ.train(df, rabitqConfigFor(config))
          (m, graft.ann.RaBitQ.withCodes(df, m).persist())
        })
        graft.ann.RaBitQ.search(filtered(coded), config, model, query, limit)
      case "ivfpq" if residualMetric(config) =>
        // FAISS-style default for the L2 family: codes quantize the
        // residual v - centroid[cell] (by_residual), spending the code
        // budget on the small in-cell displacement instead of the vector
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val (cb, prepared) = ivfPqResCache.getOrElseUpdate(name, {
          val c = graft.ann.IvfPq.trainResidual(df, config, cents,
            pqConfigFor(config), col("id"))
          (c, graft.ann.IvfPq.withResidualCodes(df, cents, c).persist())
        })
        graft.ann.IvfPq.searchResidual(filtered(prepared), config, cents, cb,
          query, limit, ivfCfg.nprobe)
      case "ivfpq" =>
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val (cb, _) = pqCache.getOrElseUpdate(name, {
          val c = graft.ann.Pq.trainOrdered(df, config, pqConfigFor(config), col("id"))
          (c, null)
        })
        val prepared = ivfPqCache.getOrElseUpdate(name,
          graft.ann.IvfPq.prepare(df, cents, cb).persist())
        graft.ann.IvfPq.search(filtered(prepared), config, cents, cb, query,
          limit, ivfCfg.nprobe)
      case "ivfrabitq" =>
        // coarse cells prune, 1-bit calibrated residual codes score,
        // exact rerank — the RaBitQ paper's IVF deployment form
        // (graft.ann.IvfRaBitQ). ALL metrics (the shifted-factor
        // estimator reassembles full-space values); fixed-nprobe
        // policy like "ivfpq"
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val (model, prepared) = ivfRabitqCache.getOrElseUpdate(name, {
          val cents = ivfCache.getOrElseUpdate(name,
            graft.ann.IvfIndex.train(df, config, ivfCfg))
          val m = graft.ann.IvfRaBitQ.Model(cents, rabitqConfigFor(config))
          (m, graft.ann.IvfRaBitQ.prepare(df, m).persist())
        })
        graft.ann.IvfRaBitQ.search(filtered(prepared), config, model, query,
          limit, ivfCfg.nprobe)
      case other => GraftIndexRegistry.lookup(other) match {
        // third-party behaviour (reference: custom index modules,
        // collection.ex:1283-1298) — the impl owns filter semantics
        case Some(impl) => impl.search(df, config, query, limit, filter)
        case None => throw new IllegalArgumentException(s"unknown index $other")
      }
    }
  }

  /** Filtered-HNSW under-fill guard: oversampled beams post-filter, so a
    * predicate more selective than ~1-in-oversample can return fewer
    * than `limit` rows while looking identical to "nothing matches".
    * When the filtered result comes up short, auto-widen the beam ONCE
    * at 4x the caller's oversample and take the better result; a second
    * shortfall means the filtered corpus itself likely has fewer than
    * `limit` matches, which re-widening cannot fix. The extra count job
    * is bounded by `limit` rows and only runs on filtered searches. */
  private def widenFilteredHnsw(run: Int => DataFrame,
      filter: Option[org.apache.spark.sql.Column], limit: Int,
      oversample: Int): DataFrame = {
    val first = run(oversample)
    if (filter.isEmpty) first
    else if (first.limit(limit).count() >= limit) first
    else run(oversample * 4)
  }

  // acceleration structures (hnsw graphs, ivf centroids), invalidated on
  // every write (rebuildable state, like the reference's rebuild-on-load)
  private val hnswCache = scala.collection.concurrent.TrieMap.empty[String, graft.index.Hnsw]
  // sharded-hnsw cache generation per name: bumped on every mutation, so
  // executor caches (which the driver cannot clear on a cluster) miss on
  // the new key and purge the old generation on first touch; also caches
  // the row count that gates the driver-shim-vs-sharded routing
  private val hnswGen = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val hnswRowCount = scala.collection.concurrent.TrieMap.empty[String, Long]
  // the graph cache is JVM-global but generations are per-handle: the
  // instance token keeps two GraftDb handles with same-named collections
  // from serving each other's graphs
  private val dbToken = java.util.UUID.randomUUID().toString.take(8)
  private def hnswKey(name: String): String =
    s"$name@$dbToken#${hnswGen.getOrElse(name, 0L)}"
  private val ivfCache = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]
  // quantizer state caches hold (model, PERSISTED coded frame) — without
  // the cached frame every query would re-run the encode UDF over the
  // whole collection, making quantized search slower than flat
  private val sq8Cache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.ann.Sq8.Model, DataFrame)]
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[String, (Array[Array[Array[Float]]], DataFrame)]
  private val rabitqCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.ann.RaBitQ.Model, DataFrame)]
  private val ivfPqCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  // at-rest coded frames opened by openIndexed for indexes whose search
  // reuses precomputed columns directly from the scan (lsh_bands,
  // ivf_cell) — CRUD sees the canonical projection, search sees this
  private val codedFrameCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** bf16 serving frame: the packed full-width column PLUS the funnel
    * prefix columns (flat scans prune the prefixes away for free; the
    * recallTarget funnel ladder needs them present). */
  private def bf16Frame(df: DataFrame, config: CollectionConfig): DataFrame =
    Prepare.withBf16Prefixes(df,
      graft.search.Search.defaultFunnelStages(config.dimensions),
      config.dimensions)
  private val ivfRabitqCache = scala.collection.concurrent.TrieMap
    .empty[String, (graft.ann.IvfRaBitQ.Model, DataFrame)]
  private val ivfPqResCache = scala.collection.concurrent.TrieMap
    .empty[String, (Array[Array[Array[Float]]], DataFrame)]
  // where each openIndexed collection's at-rest layout lives. Any CRUD
  // mutation drops the binding (via invalidateIndexCaches): the in-memory
  // frame has diverged from disk, and a later appendIndexed re-capture
  // would silently resurrect deleted rows. appendIndexed re-binds around
  // its own invalidate/re-capture cycle.
  private val openPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def residualMetric(config: CollectionConfig): Boolean =
    config.metric == Metric.L2 || config.metric == Metric.L2Squared

  /** Adaptive IVF probing is the facade DEFAULT (measured: fixed
    * nprobe scores 0.4-0.5 overlap@10 where the ratio policy scores
    * 0.7-0.8 at comparable probe counts) — `spark.graft.ivf.adaptive`
    * set to false opts back into fixed-nprobe probing. The ratio
    * policy (ratio/maxProbe tunable via `spark.graft.ivf.ratio` /
    * `spark.graft.ivf.maxProbe`) applies to BOTH single and batch
    * search, so the two stay per-query identical. The fixed default
    * under-recalls on ambiguous queries; the ratio cutoff spends
    * probes exactly where the coarse quantizer is uncertain. */
  private def ivfAdaptive: Option[(Double, Int)] =
    if (GraftConf.bool(spark, "spark.graft.ivf.adaptive", true))
      Some((
        GraftConf.double(spark, "spark.graft.ivf.ratio", 1.5),
        GraftConf.int(spark, "spark.graft.ivf.maxProbe", 8)))
    else None

  private def invalidateIndexCaches(name: String): Unit = {
    hnswCache.remove(name); ivfCache.remove(name)
    codedFrameCache.remove(name); openPaths.remove(name)
    hnswRowCount.remove(name)
    hnswGen.put(name, hnswGen.getOrElse(name, 0L) + 1L)
    graft.index.ShardedHnsw.clearCache(s"$name@$dbToken#")
    graft.index.ShardedVamana.clearCache(s"$name@$dbToken#")
    sq8Cache.remove(name).foreach(c => Option(c._2).foreach(_.unpersist()))
    pqCache.remove(name).foreach(c => Option(c._2).foreach(_.unpersist()))
    rabitqCache.remove(name).foreach(c => Option(c._2).foreach(_.unpersist()))
    ivfPqCache.remove(name).foreach(_.unpersist())
    ivfPqResCache.remove(name).foreach(c => Option(c._2).foreach(_.unpersist()))
    ivfRabitqCache.remove(name).foreach(c => Option(c._2).foreach(_.unpersist()))
    // measured recall curves are per collection generation (keys carry
    // the limit suffix, so sweep by prefix)
    curveCache.keys.filter(_.startsWith(name + "#")).foreach(curveCache.remove)
    // filtered-search routing state: verdicts key the frame instance
    // too, so a mutation's NEW frame would never hit a stale verdict —
    // the sweep just keeps the maps bounded
    routeVerdictCache.keys.filter(_._1 == name).foreach(routeVerdictCache.remove)
    routeFrameCache.remove(name)
    lastFilterRoute.remove(name)
    GraftIndexRegistry.notifyMutation(name)
  }

  /** Largest m <= 8 dividing the dimension (PQ needs m | dims). */
  private def pqConfigFor(config: CollectionConfig): graft.ann.Pq.PqConfig =
    graft.ann.Pq.PqConfig(m = (8 to 1 by -1).find(config.dimensions % _ == 0).get)

  /** pq-family codebooks: plain L2 k-means for "pq", the anisotropic
    * (score-aware) trainer for "apq" — everything downstream (codes,
    * ADC, layout, sidecar) is shared, so the two kinds differ ONLY
    * here. */
  private def pqTrain(df: DataFrame,
      config: CollectionConfig): Array[Array[Array[Float]]] =
    if (config.index == "apq")
      graft.ann.AnisotropicPq.trainOrdered(df, config, pqConfigFor(config), col("id"))
    else
      graft.ann.Pq.trainOrdered(df, config, pqConfigFor(config), col("id"))

  /** Shipped RaBitQ defaults: centered (the paper's residual form) +
    * the O(d log d) fast-Hadamard bulk encode. */
  private def rabitqConfigFor(config: CollectionConfig): graft.ann.RaBitQ.Config =
    graft.ann.RaBitQ.Config(dims = config.dimensions, centered = true,
      ordered = false)

  /** Validate + normalize a query exactly like ingest — the reference's
    * prepare_query/2 (vettore.ex:314).
    * {{{
    * db.prepareQuery("articles", Array(3f, 0f, 0f, 0f))   // unit-normalized
    * }}} */
  def prepareQuery(name: String, query: Array[Float]): Array[Float] =
    Search.prepareQuery(collection(name)._2, query)

  /** (id, score) pairs, compat default score mode (vettore.ex:593-605).
    * {{{
    * db.similaritySearch("articles", Array(1f, 0f, 0f, 0f), 2)
    *   // Seq(("a1", 1.0), ...)
    * }}} */
  def similaritySearch(name: String, query: Array[Float], limit: Int): Seq[(String, Double)] =
    search(name, query, limit).select("id", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** Batch search: one scan answers every query. Routes by index like
    * [[search]] — flat scores all rows, lsh joins on exploded band keys,
    * ivf joins on probed cells, sq8/pq/ivfpq broadcast per-query ADC
    * tables over a codes-only scan (the reference's batched-NIF idiom,
    * nifs.rs:151-175). Queries are (qid, qvector) rows; pass `knownNq`
    * when the batch size is known so the broadcast-bound checks ride it
    * instead of running a count job.
    *
    * `filter`/`oversample` make it a filtered batch search with the
    * same semantics as [[search]]'s filtered form.
    *
    * `recallTarget` (engine extension): instead of hand-picking
    * nprobe/candidates/beam, ask for measured quality — the facade
    * resolves the cheapest operating point on the collection's
    * [[overlapCurve]] whose measured overlap@limit meets the target
    * (curve measured once per collection generation, persisted beside
    * an at-rest index). Explicit `nprobe`/`candidates`/`beam` override
    * both the defaults and the target; 0 means "not set".
    * {{{
    * val queries = Seq(("q0", Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvector")
    * db.searchMany("articles", queries, limit = 2, knownNq = 1L)
    * }}} */
  def searchMany(name: String, queries: DataFrame, limit: Int,
      knownNq: Long = -1L,
      filter: Option[org.apache.spark.sql.Column] = None,
      oversample: Int = 4, recallTarget: Double = 0.0,
      nprobe: Int = 0, candidates: Int = 0, beam: Int = 0): DataFrame = {
    val (df, config) = collection(name)
    // selective-filter exact routing, BEFORE knob resolution: an exact
    // scan of the surviving rows meets any recallTarget by definition,
    // so a routed query never needs the overlap curve
    if (exactRouteDecision(name, df, config, filter)) {
      val frame = exactRouteFrame(name, df, config).filter(filter.get)
      val exact =
        if (config.index == "ivfbf16")
          Search.flatSearchManyBf16(frame, config, queries, limit,
            knownNq = knownNq)
        else Search.flatSearchMany(frame, config, queries, limit, knownNq)
      return if (config.index == "hnsw" || config.index == "vamana")
        exact.select(col("qid"), col("id"), col("score"), col("distance"),
          col("metric"))
      else exact
    }
    val (np, cand, bm) =
      if (recallTarget > 0.0 && nprobe == 0 && candidates == 0 && beam == 0) {
        val p = knobsFor(name, recallTarget, limit)
        (p.nprobe, p.candidates, p.beam)
      } else (nprobe, candidates, beam)
    def filtered(f: DataFrame): DataFrame = filter.foldLeft(f)(_.filter(_))
    config.index match {
      case "bf16" =>
        // candidates > 0 selects the Matryoshka prefix funnel (the bf16
        // recallTarget ladder's knob); 0 = the exact rounded-corpus scan.
        // Opened layouts written before prefixes existed degrade to the
        // exact scan rather than erroring.
        val frame = codedFrameCache.getOrElseUpdate(name, bf16Frame(df, config))
        val stages = graft.search.Search.defaultFunnelStages(config.dimensions)
        val funnelable = stages.forall(d => d >= config.dimensions ||
          frame.columns.contains(Prepare.bf16PrefixCol(d)))
        if (cand > 0 && funnelable)
          Search.funnelSearchManyBf16(filtered(frame), config, queries, limit,
            candidates = cand, knownNq = knownNq)
        else
          Search.flatSearchManyBf16(filtered(frame), config, queries, limit,
            knownNq = knownNq)
      case "hnsw" if openPaths.contains(name) =>
        val path = openPaths(name)
        graft.index.ShardedHnsw.searchManyPersisted(spark, path, config,
          queries, limit, cacheKey = path, filter = filter,
          oversample = oversample, beam = bm)
      case "hnsw" =>
        // the DISTRIBUTED hnsw path: per-shard graphs on executors, no
        // driver build, no row cap — the scale answer the single-query
        // driver shim can't give. The cache key tracks the registry
        // frame instance, so any CRUD mutation (new frame) re-shards.
        graft.index.ShardedHnsw.searchMany(df, config, queries, limit,
          cacheKey = hnswKey(name), filter = filter, oversample = oversample,
          beam = bm)
      case "vamana" if openPaths.contains(name) =>
        val path = openPaths(name)
        graft.index.ShardedVamana.searchManyPersisted(spark, path, config,
          queries, limit, cacheKey = path, filter = filter,
          oversample = oversample, beam = bm)
      case "vamana" =>
        // flat-graph sibling of the distributed hnsw path (engine
        // extension — DiskANN-style per-shard graphs); same cache-key
        // generation regime as hnsw
        graft.index.ShardedVamana.searchMany(df, config, queries, limit,
          cacheKey = hnswKey(name), filter = filter, oversample = oversample,
          beam = bm)
      case "lsh" =>
        graft.ann.CosineLsh.searchMany(
          filtered(codedFrameCache.getOrElse(name, df)),
          config, graft.ann.CosineLsh.LshConfig(), queries, limit)
      case "ivf" =>
        // probe-union prune + batch join over the SAME frame single
        // search uses (the captured at-rest frame when opened, so the
        // isin on the partition column prunes directories statically;
        // the cached models never re-load per call)
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        // cache the cell-assigned frame for never-opened collections too
        // (opened ones put the at-rest scan here), so repeated batches
        // reuse one plan instead of re-deriving cells per call
        val frame = codedFrameCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.withCells(df, cents))
        (if (np > 0) None else ivfAdaptive) match {
          case Some((ratio, maxProbe)) =>
            graft.ann.IvfIndex.searchManyPrunedAdaptive(filtered(frame),
              config, cents, queries, limit, ratio, maxProbe)
          case None =>
            graft.ann.IvfIndex.searchManyPruned(filtered(frame), config,
              cents, queries, limit, if (np > 0) np else ivfCfg.nprobe)
        }
      case "ivfbf16" =>
        // the probe union prunes the scan statically (directory pruning
        // on an opened layout); the bf16 rank IS the result contract —
        // no rerank stage. Explicit nprobe (the recallTarget ladder's
        // knob) opts out of adaptive probing, as with "ivf".
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val frame = codedFrameCache.getOrElseUpdate(name,
          graft.ann.IvfBf16.prepare(df, cents))
        (if (np > 0) None else ivfAdaptive) match {
          case Some((ratio, maxProbe)) =>
            graft.ann.IvfBf16.searchManyPrunedAdaptive(filtered(frame),
              config, cents, queries, limit, ratio, maxProbe, knownNq)
          case None =>
            graft.ann.IvfBf16.searchManyPruned(filtered(frame), config,
              cents, queries, limit, if (np > 0) np else ivfCfg.nprobe,
              knownNq)
        }
      case "sq8" =>
        val (model, coded) = sq8Cache.getOrElseUpdate(name, {
          val m = graft.ann.Sq8.train(df)
          (m, graft.ann.Sq8.withCodes(df, m).persist())
        })
        graft.ann.Sq8.searchMany(filtered(coded), config, model, queries,
          limit, candidates = cand, knownNq = knownNq)
      case "pq" | "apq" =>
        val (cb, coded) = pqCache.getOrElseUpdate(name, {
          val c = pqTrain(df, config)
          (c, graft.ann.Pq.withCodes(df, c).persist())
        })
        graft.ann.Pq.searchMany(filtered(coded), config, cb, queries, limit,
          candidates = cand, knownNq = knownNq)
      case "rabitq" =>
        val (model, coded) = rabitqCache.getOrElseUpdate(name, {
          val m = graft.ann.RaBitQ.train(df, rabitqConfigFor(config))
          (m, graft.ann.RaBitQ.withCodes(df, m).persist())
        })
        graft.ann.RaBitQ.searchMany(filtered(coded), config, model, queries,
          limit, candidates = cand, knownNq = knownNq)
      case "ivfpq" if residualMetric(config) =>
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val (cb, prepared) = ivfPqResCache.getOrElseUpdate(name, {
          val c = graft.ann.IvfPq.trainResidual(df, config, cents,
            pqConfigFor(config), col("id"))
          (c, graft.ann.IvfPq.withResidualCodes(df, cents, c).persist())
        })
        graft.ann.IvfPq.searchManyPruned(filtered(prepared), config, cents, cb,
          residual = true, queries, limit,
          if (np > 0) np else ivfCfg.nprobe, candidates = cand,
          knownNq = knownNq)
      case "ivfpq" =>
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, ivfCfg))
        val (cb, _) = pqCache.getOrElseUpdate(name, {
          val c = graft.ann.Pq.trainOrdered(df, config, pqConfigFor(config), col("id"))
          (c, null)
        })
        val prepared = ivfPqCache.getOrElseUpdate(name,
          graft.ann.IvfPq.prepare(df, cents, cb).persist())
        graft.ann.IvfPq.searchManyPruned(filtered(prepared), config, cents, cb,
          residual = false, queries, limit,
          if (np > 0) np else ivfCfg.nprobe, candidates = cand,
          knownNq = knownNq)
      case "ivfrabitq" =>
        // static probe-union prune (directory pruning on an opened
        // layout) + per-(query,cell) in-plan rotations over ONE
        // codes-only scan; explicit nprobe/candidates (the recallTarget
        // ladder's knobs) override the defaults, as with "ivfpq"
        val ivfCfg = graft.ann.IvfIndex.IvfConfig()
        val (model, prepared) = ivfRabitqCache.getOrElseUpdate(name, {
          val cents = ivfCache.getOrElseUpdate(name,
            graft.ann.IvfIndex.train(df, config, ivfCfg))
          val m = graft.ann.IvfRaBitQ.Model(cents, rabitqConfigFor(config))
          (m, graft.ann.IvfRaBitQ.prepare(df, m).persist())
        })
        graft.ann.IvfRaBitQ.searchManyPruned(filtered(prepared), config,
          model, queries, limit, if (np > 0) np else ivfCfg.nprobe,
          candidates = cand, knownNq = knownNq)
      case "flat" =>
        Search.flatSearchMany(filtered(df), config, queries, limit,
          knownNq = knownNq)
      case other => GraftIndexRegistry.lookup(other) match {
        case Some(impl) =>
          impl.searchMany(df, config, queries, limit, knownNq, filter)
        // mirror search(): an unknown kind (plugin unregistered after
        // create) must throw, not silently serve a flat scan
        case None => throw new IllegalArgumentException(s"unknown index $other")
      }
    }
  }

  // ---------------------------------------------------- recall calibration

  /** One measured point of an index's recall/cost curve: searching with
    * these knobs (0 = not applicable for the index type) delivered
    * `overlap` mean overlap@limit vs exact flat on the probe sample.
    * `fill` is the mean fraction of the expected result count actually
    * returned — a too-narrow probe (one sparse IVF cell) can score
    * overlap ≥ target while returning FEWER than limit rows, so
    * [[knobsFor]] requires a full fill as well as the overlap. */
  final case class OperatingPoint(nprobe: Int, candidates: Int, beam: Int,
      overlap: Double, fill: Double = 1.0)

  private val curveCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[OperatingPoint]]

  /** Knob ladder per index type, cheapest point first. */
  private def knobLadder(index: String, limit: Int, cells: Int): Seq[(Int, Int, Int)] =
    index match {
      case "ivf" | "ivfbf16" =>
        Seq(1, 2, 4, 8, cells).distinct.filter(_ <= cells).map(np => (np, 0, 0))
      case "pq" | "apq" | "sq8" | "rabitq" =>
        Seq(2, 5, 20, 50, 200).map(m => (0, m * limit, 0))
      case "ivfpq" | "ivfrabitq" =>
        Seq((1, 20), (2, 20), (4, 20), (8, 50), (cells, 200))
          .map { case (np, c) => (math.min(np, cells), c * limit, 0) }.distinct
      case "hnsw" | "vamana" =>
        Seq(1, 2, 4, 8, 16).map(b => (0, 0, b * limit))
      case "bf16" =>
        // prefix-funnel candidate ladder, then the exact rounded scan as
        // the measured ceiling (candidates = 0 dispatches to flat bf16)
        Seq(2, 5, 20).map(m => (0, m * limit, 0)) :+ ((0, 0, 0))
      case _ => Seq((0, 0, 0)) // flat is exact; lsh tunes via LshConfig
    }

  /** Measured overlap curve of `name`'s index at `limit`: mean
    * overlap@limit vs exact flat over a deterministic sample of stored
    * vectors used as self-queries (md5-of-id order, stable across
    * partitionings). The reference prints exactly this measurement
    * before every bench run (bench/search_modes_bench.exs:193-238);
    * here it is measured ONCE per collection generation, cached, and —
    * for a collection opened from an at-rest index — persisted as a
    * sidecar beside the model so reopened sessions skip the
    * measurement. Cost: one exact batch search plus one batch search
    * per ladder point, each over `sampleQueries` probe queries.
    * {{{
    * db.overlapCurve("codes", limit = 5)   // Seq(OperatingPoint(...), ...)
    * }}} */
  def overlapCurve(name: String, limit: Int = 10,
      sampleQueries: Int = 8): Seq[OperatingPoint] =
    curveCache.getOrElseUpdate(s"$name#$limit", {
      val persisted = openPaths.get(name)
        .flatMap(p => graft.ann.ModelStore.loadRecallCurve(spark, p))
        .collect { case (l, pts) if l == limit =>
          pts.map { case (n, c, b, ov, fl) => OperatingPoint(n, c, b, ov, fl) } }
      persisted.getOrElse {
        val curve = measureCurve(name, limit, sampleQueries)
        openPaths.get(name).foreach { p =>
          graft.ann.ModelStore.saveRecallCurve(spark, p, limit,
            curve.map(pt => (pt.nprobe, pt.candidates, pt.beam, pt.overlap, pt.fill)))
        }
        curve
      }
    })

  private def measureCurve(name: String, limit: Int,
      sampleQueries: Int): Seq[OperatingPoint] = {
    val (df, config) = collection(name)
    import spark.implicits._
    val probes = df.select(col("id").cast("string"), col("vector"))
      .orderBy(md5(col("id")), col("id")).limit(sampleQueries)
      .collect().map(r => (r.getString(0), r.getSeq[Float](1).toSeq))
    require(probes.nonEmpty, s"collection $name is empty — nothing to calibrate")
    val qdf = probes.toSeq.toDF("qid", "qvector")
    def topIds(res: DataFrame): Map[String, Set[String]] =
      res.select("qid", "id").collect().groupBy(_.getString(0))
        .map { case (q, rows) => q -> rows.map(_.getString(1)).toSet }
    val exact = topIds(Search.flatSearchMany(df, config, qdf, limit,
      knownNq = probes.length.toLong))
    def overlapAndFill(res: DataFrame): (Double, Double) = {
      val got = topIds(res)
      val per = exact.toSeq.map { case (q, ex) =>
        val g = got.getOrElse(q, Set.empty)
        (if (ex.isEmpty) 1.0 else ex.intersect(g).size.toDouble / ex.size,
         if (ex.isEmpty) 1.0 else math.min(1.0, g.size.toDouble / ex.size))
      }
      if (per.isEmpty) (1.0, 1.0)
      else (per.map(_._1).sum / per.size, per.map(_._2).sum / per.size)
    }
    knobLadder(config.index, limit, graft.ann.IvfIndex.IvfConfig().k)
      .map { case (np, c, b) =>
        val (ov, fl) = overlapAndFill(searchMany(name, qdf, limit,
          knownNq = probes.length.toLong, nprobe = np, candidates = c, beam = b))
        OperatingPoint(np, c, b, ov, fl)
      }
  }

  /** The cheapest measured operating point meeting `recallTarget`; when
    * no ladder point does, the most expensive point (a target above the
    * index's measured ceiling cannot be conjured — check
    * [[overlapCurve]] and widen the ladder knobs explicitly if the
    * ceiling surprises you).
    * {{{
    * val p = db.knobsFor("codes", recallTarget = 0.9)
    * db.searchMany("codes", queries, 10, candidates = p.candidates)
    * }}} */
  def knobsFor(name: String, recallTarget: Double, limit: Int = 10): OperatingPoint = {
    val curve = overlapCurve(name, limit)
    curve.find(p => p.overlap >= recallTarget && p.fill >= 0.999)
      .getOrElse(curve.last)
  }

  /** One [[advise]] measurement: what `index` delivered on the sample —
    * overlap@limit vs exact, result fill, one-time build cost (train +
    * structure + first search), warm per-query serving cost. */
  final case class IndexAdvice(index: String, overlap: Double, fill: Double,
      buildSeconds: Double, perQuerySeconds: Double)

  /** Cross-kind index advisor (engine extension): measure, on a bounded
    * deterministic sample of the collection, what each candidate index
    * kind would deliver at its SHIPPED defaults, and return one row per
    * kind ranked best-first (overlap desc, then warm per-query cost).
    * Complements [[knobsFor]]: that tunes knobs WITHIN a kind from the
    * measured [[overlapCurve]]; this picks the KIND.
    *
    * Bounded by construction — build/train/search all happen on a
    * hash-ordered sample of `sampleRows` rows plus `sampleQueries`
    * held-out probe rows (the same deterministic ordering the overlap
    * curve calibrates with), so the advisor costs the same on a 4k-row
    * collection and a 100 TB one. Advice transfers as the sample's
    * geometry does: pick the kind here, then resolve its knobs on the
    * real collection via `recallTarget`. Kinds the collection's metric
    * rejects (e.g. vamana under inner-product) are skipped, not errors.
    * {{{
    * db.advise("articles").foreach(println)  // best kind first
    * }}} */
  def advise(name: String, limit: Int = 10, sampleRows: Int = 4096,
      sampleQueries: Int = 8,
      kinds: Seq[String] = Seq("flat", "bf16", "lsh", "ivf", "ivfbf16",
        "sq8", "pq", "apq", "rabitq", "ivfpq", "ivfrabitq", "hnsw", "vamana"))
      : Seq[IndexAdvice] = {
    require(limit > 0 && sampleRows > 0 && sampleQueries > 0 && kinds.nonEmpty,
      "limit, sampleRows, sampleQueries must be positive; kinds non-empty")
    val (df, config) = collection(name)
    import spark.implicits._
    val take = df.select(col("id").cast("string").as("id"), col("vector"))
      .orderBy(md5(col("id")), col("id")).limit(sampleRows + sampleQueries)
      .collect()
    require(take.length > sampleQueries,
      s"collection $name has too few rows to advise on")
    val (corpus, probes) = take.splitAt(take.length - sampleQueries)
    val inputs = corpus.map(r => EmbeddingInput(id = r.getString(0),
      vector = r.getSeq[Float](1).toArray)).toSeq
    val qdf = probes.map(r => (r.getString(0), r.getSeq[Float](1)))
      .toSeq.toDF("qid", "qvector")
    val nq = probes.length.toLong
    // exact ground truth over the sample, through a flat twin so every
    // kind (including "flat" itself) measures through the same facade
    def topIds(res: DataFrame): Map[String, Set[String]] =
      res.select("qid", "id").collect().groupBy(_.getString(0))
        .map { case (k, rows) => k -> rows.map(_.getString(1)).toSet }
    val exactName = s"__advise__${name}__exact"
    val exact = try {
      createCollection(exactName, config.dimensions,
        metric = config.metric.name, index = "flat")
      batch(exactName, inputs)
      topIds(searchMany(exactName, qdf, limit, knownNq = nq))
    } finally close(exactName)
    val out = kinds.flatMap { kind =>
      val tmp = s"__advise__${name}__$kind"
      try {
        createCollection(tmp, config.dimensions,
          metric = config.metric.name, index = kind)
        batch(tmp, inputs)
        val t0 = System.nanoTime()
        val first = searchMany(tmp, qdf, limit, knownNq = nq)
        val firstRows = first.select("qid", "id").collect()
        val buildS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        searchMany(tmp, qdf, limit, knownNq = nq).collect()
        val perQ = (System.nanoTime() - t1) / 1e9 / nq
        val got = firstRows.groupBy(_.getString(0))
          .map { case (k, rows) => k -> rows.map(_.getString(1)).toSet }
        val (ovSum, fillSum) = exact.foldLeft((0.0, 0.0)) {
          case ((o, f), (qid, want)) =>
            val have = got.getOrElse(qid, Set.empty)
            (o + (if (want.isEmpty) 1.0
                  else want.intersect(have).size.toDouble / want.size),
             f + math.min(1.0, have.size.toDouble / limit))
        }
        Some(IndexAdvice(kind, ovSum / exact.size, fillSum / exact.size,
          buildS, perQ))
      } catch {
        // a kind the metric rejects (vamana under MIPS) is not an error
        case scala.util.control.NonFatal(_) => None
      } finally {
        try close(tmp) catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    out.sortBy(a => (-a.overlap, a.perQuerySeconds))
  }

  /** Cursor pagination (`search_after`): the page of `limit` rows
    * strictly after the previous page's last `(distance, id)` in the
    * exact (rank, id) total order — `None` starts from the top. Served
    * from the EXACT flat scan for every index kind: a cursor is only
    * stable under a deterministic total order, which approximate
    * candidate sets do not give (same reasoning as the selective
    * filtered-search route), and page depth costs nothing extra under
    * the heap cut, where OFFSET would scan-and-discard. An optional
    * predicate pre-filters the scan (pages of a filtered ranking).
    * {{{
    * val p1 = db.searchAfter("docs", q, 100)
    * val last = p1.collect().last
    * val p2 = db.searchAfter("docs", q, 100,
    *   after = Some((last.getAs[Double]("distance"), last.getAs[Any]("id"))))
    * }}} */
  def searchAfter(name: String, query: Array[Float], limit: Int,
      after: Option[(Double, Any)] = None,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (df, config) = collection(name)
    val base = filter.map(f => df.filter(f)).getOrElse(df)
    after match {
      case None => Search.flatSearch(base, config, query, limit)
      case Some((d, id)) =>
        Search.flatSearchAfter(base, config, query, limit, d, id)
    }
  }

  /** Embedding-space drift of an incoming batch against THIS
    * collection — [[graft.functions.Drift.psiEmbedding]] served from
    * the collection's own coarse quantizer: an ivf-family collection
    * monitors drift over the SAME cells it serves searches from (the
    * cached/persisted sidecar centroids — never retrained here, which
    * is what keeps PSI values comparable across batches); any other
    * kind gets a default-trained IVF quantizer through the same cache
    * the probe paths use. The current batch's `vecCol` is normalized
    * through the collection's configured normalization, so raw
    * new-crawl embeddings compare in the collection's own space.
    * Output: one row per observed cell (cell, ref_frac, cur_frac,
    * psi_term); Σ psi_term is the PSI (< 0.1 stable, > 0.25 drifted).
    * {{{
    * db.embeddingDrift("articles", newCrawl.select($"embedding".as("vector")))
    *   .agg(sum("psi_term")).head.getDouble(0)
    * }}} */
  def embeddingDrift(name: String, current: DataFrame,
      vecCol: String = "vector", eps: Double = 1e-6): DataFrame = {
    val (df, config) = collection(name)
    val cents = ivfCache.getOrElseUpdate(name,
      graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
    val cur = current.select(graft.functions.VectorFunctions.normalizeVector(
      config.effectiveNormalize, col(vecCol)).as("vector"))
    graft.functions.Drift.psiEmbedding(df, cur, "vector", cents, eps)
  }

  /** Streaming form of [[embeddingDrift]] — the ONLINE monitor over a
    * continuously-ingesting stream, served from the same collection
    * cells: per event-time window, one row per cell against the
    * collection's fixed mix (see
    * [[graft.functions.Drift.psiEmbeddingStream]] for the bounded-state
    * shape). The stream's `vecCol` normalizes through the collection's
    * configured normalization, like the batch form. */
  def embeddingDriftStream(name: String, current: DataFrame,
      timeCol: String, windowDur: String, watermark: String,
      vecCol: String = "vector", eps: Double = 1e-6): DataFrame = {
    val (df, config) = collection(name)
    val cents = ivfCache.getOrElseUpdate(name,
      graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
    val cur = current.select(col(timeCol),
      graft.functions.VectorFunctions.normalizeVector(
        config.effectiveNormalize, col(vecCol)).as("vector"))
    graft.functions.Drift.psiEmbeddingStream(cur, "vector", timeCol, df,
      cents, windowDur, watermark, eps)
  }

  /** Matryoshka funnel search (compat funnel_search).
    * {{{
    * db.funnelSearch("articles", q, 10, stages = Seq(1, 2, 4))
    * }}} */
  def funnelSearch(name: String, query: Array[Float], limit: Int,
      stages: Seq[Int] = Nil, candidates: Int = 0): DataFrame = {
    val (df, config) = collection(name)
    Search.funnelSearch(df, config, query, limit, stages, candidates)
  }

  /** Batch funnel search — per-query results equal [[funnelSearch]]
    * with the same knobs. Stage 1, the only whole-corpus stage, is the
    * batch heap cut over ONE multi-distance scan; the later stages are
    * per-qid window cuts over the bounded survivor pairs (see
    * Search.funnelSearchMany), so a million-query batch pays no
    * per-query driver round-trips.
    * {{{
    * db.funnelSearchMany("articles", queries, 10, knownNq = 1L)
    * }}} */
  def funnelSearchMany(name: String, queries: DataFrame, limit: Int,
      stages: Seq[Int] = Nil, candidates: Int = 0,
      knownNq: Long = -1L): DataFrame = {
    val (df, config) = collection(name)
    Search.funnelSearchMany(df, config, queries, limit, stages, candidates,
      knownNq = knownNq)
  }

  /** Sign-bit candidate search + exact rerank (compat quantized_search).
    * {{{
    * db.quantizedSearch("articles", q, 10, candidates = 50)
    * }}} */
  def quantizedSearch(name: String, query: Array[Float], limit: Int,
      candidates: Int = 0): DataFrame = {
    val (df, config) = collection(name)
    Search.quantizedSearch(df, config, query, limit, candidates)
  }

  /** Batch quantized search — sign-bit candidates for the whole query
    * batch in one scan (see Search.quantizedSearchMany).
    * {{{
    * db.quantizedSearchMany("articles", queries, 10, knownNq = 1L)
    * }}} */
  def quantizedSearchMany(name: String, queries: DataFrame, limit: Int,
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    val (df, config) = collection(name)
    Search.quantizedSearchMany(df, config, queries, limit, candidates,
      knownNq = knownNq)
  }

  /** MaxSim late-interaction search over multi-vector records (compat
    * multi_vector_search).
    * {{{
    * db.multiVectorSearch("articles",
    *   Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f)), 5)
    * }}} */
  def multiVectorSearch(name: String, queryVectors: Seq[Array[Float]], limit: Int,
      metric: Option[String] = None): DataFrame = {
    val (df, config) = collection(name)
    Search.multiVectorSearch(df, config, queryVectors, limit,
      metric.map(Metric.fromName))
  }

  /** Batch ColBERT/MaxSim search: `queries` carries
    * `(qid, qvectors array<array<float>>)` — one vector SET per query;
    * per-query results equal [[multiVectorSearch]] (one corpus scan for
    * the whole batch, see Search.multiVectorSearchMany).
    * {{{
    * val queries = Seq(("q0", Seq(Seq(1f, 0f, 0f, 0f)))).toDF("qid", "qvectors")
    * db.multiVectorSearchMany("articles", queries, limit = 2)
    * }}} */
  def multiVectorSearchMany(name: String, queries: DataFrame, limit: Int,
      metric: Option[String] = None): DataFrame = {
    val (df, config) = collection(name)
    Search.multiVectorSearchMany(df, config, queries, limit,
      metric.map(Metric.fromName))
  }

  /** Candidate-generator union + exact (or MaxSim) rerank (compat
    * hybrid_search).
    * {{{
    * db.hybridSearch("articles", q, 10, generators = Seq("funnel", "quantized"))
    * }}} */
  def hybridSearch(name: String, query: Array[Float], limit: Int,
      generators: Seq[String] = Seq("funnel", "quantized"), candidates: Int = 0,
      rerankMultiVector: Option[Seq[Array[Float]]] = None): DataFrame = {
    val (df, config) = collection(name)
    Search.hybridSearch(df, config, query, limit, generators, candidates,
      rerankMultiVector = rerankMultiVector)
  }

  /** Batch hybrid search — per-query results equal [[hybridSearch]]
    * with the same knobs; every generator runs in batch form and ONE
    * exact rerank scores the deduped union (see
    * Search.hybridSearchMany).
    * {{{
    * db.hybridSearchMany("articles", queries, 10, knownNq = 1L)
    * }}} */
  def hybridSearchMany(name: String, queries: DataFrame, limit: Int,
      generators: Seq[String] = Seq("funnel", "quantized"),
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    val (df, config) = collection(name)
    Search.hybridSearchMany(df, config, queries, limit, generators,
      candidates, knownNq = knownNq)
  }

  /** BM25 lexical search over the collection's `value` payload (the
    * reference stores the document text there): top-`limit` by Okapi
    * BM25, (id, dl, score). Null values rank as empty docs — they
    * never match. Engine extension (the reference has no lexical
    * scorer); see [[graft.text.Bm25]] for the scale shape.
    * {{{
    * db.textSearch("articles", Seq("hello", "world"), 5)
    * }}} */
  def textSearch(name: String, queryTerms: Seq[String], limit: Int,
      k1: Double = graft.text.Bm25.DefaultK1,
      b: Double = graft.text.Bm25.DefaultB): DataFrame = {
    val (df, _) = collection(name)
    graft.text.Bm25.topK(
      df.select(col("id"), coalesce(col("value"), lit("")).as("_txt")),
      "id", "_txt", queryTerms, limit, k1, b)
  }

  /** Hybrid lexical + vector retrieval fused by Reciprocal Rank
    * Fusion: BM25 over `value` and the collection's OWN index route
    * (whatever [[search]] dispatches to — flat, ivf, hnsw, ...), each
    * contributing a `poolSize` ranking, fused by 1/(k0+rank). The
    * rank-based fusion needs no calibration between BM25 and the
    * vector score scale.
    * {{{
    * db.hybridRrfSearch("articles", Seq("hello"), q, 5)
    * }}} */
  def hybridRrfSearch(name: String, queryTerms: Seq[String],
      query: Array[Float], limit: Int, poolSize: Int = 50,
      k0: Int = graft.search.Fusion.DefaultK0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = textSearch(name, queryTerms, poolSize)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id").asc)))
      .select(col("id"), col("rank"))
    val vec = search(name, query, poolSize)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("distance").asc, col("id").asc)))
      .select(col("id"), col("rank"))
    graft.search.Fusion.rrf(Seq("lex" -> lex, "vec" -> vec), "id",
      k0 = k0, limit = limit)
  }

  /** MMR rerank over the collection (compat rerank/4, vettore.ex:622-642).
    * {{{
    * db.rerank("articles", q, alpha = 0.7, finalK = 3)
    * }}} */
  def rerank(name: String, query: Array[Float], alpha: Double, finalK: Int,
      candidates: Int = 0): DataFrame = {
    val (df, config) = collection(name)
    val cands = if (candidates > 0) candidates else math.max(finalK * 10, finalK)
    Mmr.rerankSearch(spark, df, config, query, alpha, finalK, cands)
  }

  /** Batch MMR rerank: per-query results equal [[rerank]] with the same
    * knobs, candidates for every query from ONE corpus pass
    * ([[graft.rerank.Mmr.rerankMany]]). `queries` carries (qid, qvector).
    * {{{
    * db.rerankMany("articles", queries, alpha = 0.7, finalK = 3)
    * }}} */
  def rerankMany(name: String, queries: DataFrame, alpha: Double, finalK: Int,
      candidates: Int = 0, knownNq: Long = -1L): DataFrame = {
    val (df, config) = collection(name)
    val cands = if (candidates > 0) candidates else math.max(finalK * 10, finalK)
    Mmr.rerankMany(spark, df, config, queries, alpha, finalK, cands, knownNq)
  }

  // ------------------------------------------------------------ snapshot

  /** Persist the collection + config at `path` through a registered
    * [[GraftStore]] (parquet by default; compat snapshot/2).
    * {{{
    * db.snapshot("articles", "/tmp/articles_snap")
    * }}} */
  def snapshot(name: String, path: String, store: String = ParquetStore.name): Unit = {
    val (df, config) = collection(name)
    GraftStoreRegistry(store).snapshot(df, config, path)
  }

  /** Load a snapshot into the registry (overrides whitelisted per
    * collection.ex:54). `store` names a [[GraftStoreRegistry]] entry;
    * WHATEVER the store returns goes through the same full-record
    * validation scan and derived-column rebuild as the default parquet
    * path — a custom store cannot bypass restored-record validation
    * (the reference's adversarial contract,
    * test/vector_adversarial_test.exs:294).
    * {{{
    * val restored = db.loadSnapshot("/tmp/articles_snap",
    *   overrides = Map("name" -> "articles2"))
    * db.count(restored)
    * }}} */
  def loadSnapshot(path: String, overrides: Map[String, String] = Map.empty,
      store: String = ParquetStore.name): String = {
    val (raw, config) = GraftStoreRegistry(store).load(spark, path, overrides)
    val missing = Seq("id", "vector").filterNot(raw.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snapshot missing required columns: ${missing.mkString(",")}")
    val invalid = Prepare.invalidRows(raw, config).limit(1).collect()
    if (invalid.nonEmpty)
      throw new IllegalStateException(
        s"snapshot contains invalid record id=${invalid.head.getAs[String]("id")}")
    val df =
      if (raw.columns.contains("binary_vector")) raw
      else raw.withColumn("binary_vector",
        graft.functions.VectorFunctions.packSignBits(col("vector")))
    registry.put(config.name, (df, config))
    invalidateIndexCaches(config.name)
    config.name
  }

  private def idxSidecar(path: String): String =
    path.stripSuffix("/") + "/" + graft.ann.ModelStore.SidecarName

  /** Persist collection `name`'s trained index AND encoded rows as an
    * at-rest layout at `path`: canonical columns + code/cell columns,
    * the collection config (`_graft_config.json`), and the trained
    * model (`_graft_model.json`). Cell-routed indexes write
    * cell-partitioned directories, so probe pruning is directory
    * pruning. The reference's snapshot persists config exactly so load
    * doesn't re-derive it (collection.ex:444-457); this extends that
    * contract to the model artifacts — see [[openIndexed]] for the
    * other half of the lifecycle. `hnsw` persists its per-shard graphs
    * WITH adjacency (the reference rebuilds from canonical,
    * collection.ex:426-433 — the layout is this engine's extension), so
    * reopening reconstructs them with zero distance computations.
    * {{{
    * db.persistIndex("codes", "/tmp/codes_idx")   // model + encoded layout
    * }}} */
  def persistIndex(name: String, path: String): Unit = {
    val (df, config) = collection(name)
    config.index match {
      case "sq8" =>
        val (model, coded) = sq8Cache.getOrElseUpdate(name, {
          val m = graft.ann.Sq8.train(df)
          (m, graft.ann.Sq8.withCodes(df, m).persist())
        })
        coded.write.mode("overwrite").parquet(path)
        graft.ann.ModelStore.saveSq8(spark, idxSidecar(path), model)
      case "pq" | "apq" =>
        val (cb, coded) = pqCache.getOrElseUpdate(name, {
          val c = pqTrain(df, config)
          (c, graft.ann.Pq.withCodes(df, c).persist())
        })
        val out = Option(coded).getOrElse(graft.ann.Pq.withCodes(df, cb))
        out.write.mode("overwrite").parquet(path)
        graft.ann.ModelStore.savePq(spark, idxSidecar(path), cb)
      case "rabitq" =>
        val (model, coded) = rabitqCache.getOrElseUpdate(name, {
          val m = graft.ann.RaBitQ.train(df, rabitqConfigFor(config))
          (m, graft.ann.RaBitQ.withCodes(df, m).persist())
        })
        coded.write.mode("overwrite").parquet(path)
        graft.ann.ModelStore.saveRabitq(spark, idxSidecar(path), model)
      case "ivf" =>
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
        graft.ann.IvfIndex.writePartitioned(df, cents, path)
      case "ivfbf16" =>
        // cell directories + bf16 payloads, f32 DROPPED at rest (the
        // bf16 contract): probe pruning is directory pruning over half
        // the flat layout's scan bytes
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
        graft.ann.IvfBf16.writePartitioned(df, cents, path)
      case "ivfpq" if residualMetric(config) =>
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
        val (cb, _) = ivfPqResCache.getOrElseUpdate(name, {
          val c = graft.ann.IvfPq.trainResidual(df, config, cents,
            pqConfigFor(config), col("id"))
          (c, graft.ann.IvfPq.withResidualCodes(df, cents, c).persist())
        })
        graft.ann.IvfPq.writePartitionedResidual(df, cents, cb, path)
      case "ivfpq" =>
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
        val (cb, _) = pqCache.getOrElseUpdate(name, {
          val c = graft.ann.Pq.trainOrdered(df, config, pqConfigFor(config), col("id"))
          (c, null)
        })
        graft.ann.IvfPq.writePartitioned(df, cents, cb, path)
      case "ivfrabitq" =>
        val cents = ivfCache.getOrElseUpdate(name,
          graft.ann.IvfIndex.train(df, config, graft.ann.IvfIndex.IvfConfig()))
        val model = ivfRabitqCache.get(name).map(_._1).getOrElse(
          graft.ann.IvfRaBitQ.Model(cents, rabitqConfigFor(config)))
        graft.ann.IvfRaBitQ.writePartitioned(df, model, path)
      case "lsh" =>
        // LSH has no trained state — band keys derive deterministically
        // from the config; persist the signatures so a cold open serves
        // without re-hashing the corpus
        graft.ann.CosineLsh.withSignatures(df, graft.ann.CosineLsh.LshConfig())
          .write.mode("overwrite").parquet(path)
      case "flat" =>
        CollectionStore.snapshot(df, config, path)
      case "bf16" =>
        // the at-rest layout DROPS the f32 vector column entirely:
        // vector_bf16 carries the payload at 2 B/dim (plus the packed
        // funnel prefix columns — column pruning keeps flat scans at
        // 2 B/dim; the prefixes are what lets a reopened collection
        // serve the recallTarget funnel ladder). The f32 values are NOT
        // recoverable — a reopened collection serves the rounded corpus
        // (the bf16 contract).
        bf16Frame(df, config).drop("vector")
          .write.mode("overwrite").parquet(path)
      case "hnsw" =>
        // per-shard graphs persisted WITH their adjacency: a cold open
        // reconstructs them with zero distance computations, skipping
        // the expensive build (the reference rebuilds from canonical;
        // persisting the graph is this engine's extension, like the
        // quantized families' model sidecars)
        graft.index.ShardedHnsw.writeLayout(df, config, path,
          shards = GraftConf.int(spark, "spark.graft.hnsw.shards", 0))
      case "vamana" =>
        // flat adjacency at rest — one fixed-shape record per node.
        // spark.graft.vamana.bf16=true builds+serves the layout's shard
        // graphs over a bf16-packed arena (half the executor-cache
        // bytes per node; rounded-corpus semantics) — the flag persists
        // in the sidecar, so reopened sessions serve consistently.
        graft.index.ShardedVamana.writeLayout(df, config, path,
          shards = GraftConf.int(spark, "spark.graft.vamana.shards", 0),
          params = graft.index.Vamana.Params(coded =
            GraftConf.bool(spark, "spark.graft.vamana.bf16", false)))
      case other => throw new IllegalArgumentException(
        s"index $other has no persistable layout")
    }
    CollectionStore.writeConfig(spark, path, config)
  }

  /** Open an at-rest layout written by [[persistIndex]] as collection
    * `name`: the config comes from its sidecar, the trained model from
    * the model sidecar, and the code/cell columns feed the search
    * caches directly — a cold session serves its first query with NO
    * retraining and NO re-encoding. The registry holds the canonical
    * columns, so CRUD output is unchanged.
    * {{{
    * db.openIndexed("codes2", "/tmp/codes_idx")   // cold open, no retrain
    * db.search("codes2", q, 10)
    * }}} */
  def openIndexed(name: String, path: String): Unit = {
    require(!registry.contains(name), s"collection $name already exists")
    val config = CollectionStore.readConfig(spark, path).copy(name = name)
    // bind the path only once the capture SUCCEEDED — a failed open
    // (flag mismatch, unreadable layout) must not leave a stale binding
    // that a later same-named in-memory collection could append through
    captureIndexed(name, path, config)
    openPaths.put(name, path)
  }

  /** Snapshot the at-rest layout into the per-name caches + registry —
    * the shared tail of [[openIndexed]] and [[appendIndexed]] (the
    * latter must re-capture so the frames see the appended files; a
    * DataFrame's file listing is fixed at read time). */
  private def captureIndexed(name: String, path: String,
      config: CollectionConfig): Unit = {
    val full = spark.read.parquet(path)
    config.index match {
      case "sq8" =>
        sq8Cache.put(name, (graft.ann.ModelStore.loadSq8(spark, idxSidecar(path)), full))
      case "pq" | "apq" =>
        pqCache.put(name, (graft.ann.ModelStore.loadPq(spark, idxSidecar(path)), full))
      case "rabitq" =>
        require(full.columns.contains("rabitq"),
          s"rabitq layout at $path is missing the rabitq struct column")
        rabitqCache.put(name,
          (graft.ann.ModelStore.loadRabitq(spark, idxSidecar(path)), full))
      case "ivf" =>
        ivfCache.put(name, graft.ann.IvfIndex.loadModel(spark, path))
        codedFrameCache.put(name, full)
      case "ivfbf16" =>
        require(full.columns.contains("vector_bf16"),
          s"ivfbf16 layout at $path is missing vector_bf16")
        ivfCache.put(name, graft.ann.IvfBf16.loadModel(spark, path))
        codedFrameCache.put(name, full)
      case "ivfpq" =>
        val (cents, cb, residual) = graft.ann.IvfPq.loadModel(spark, path)
        require(residual == residualMetric(config),
          "layout residual flag does not match the collection's metric family")
        ivfCache.put(name, cents)
        if (residual) ivfPqResCache.put(name, (cb, full))
        else { pqCache.put(name, (cb, null)); ivfPqCache.put(name, full) }
      case "ivfrabitq" =>
        require(full.columns.contains(graft.ann.IvfRaBitQ.StructCol),
          s"ivfrabitq layout at $path is missing ${graft.ann.IvfRaBitQ.StructCol}")
        val m = graft.ann.IvfRaBitQ.loadModel(spark, path)
        ivfCache.put(name, m.centroids)
        ivfRabitqCache.put(name, (m, full))
      case "lsh" =>
        codedFrameCache.put(name, full)
      case "bf16" =>
        require(full.columns.contains("vector_bf16"),
          s"bf16 layout at $path is missing vector_bf16")
        codedFrameCache.put(name, full)
      case "hnsw" =>
        // validate the sidecar now (a failed open must not bind the
        // path); shard graphs themselves reconstruct lazily on first
        // search, into the executor cache keyed by the layout path
        graft.ann.ModelStore.loadHnsw(spark, idxSidecar(path))
      case "vamana" =>
        graft.ann.ModelStore.loadVamana(spark, idxSidecar(path))
      case "flat" => ()
      case other => throw new IllegalArgumentException(
        s"index $other has no persistable layout")
    }
    // a bf16/ivfbf16 layout has no f32 column at rest — CRUD reads
    // (get/all) serve the DECODED rounded vectors, which ARE the stored
    // corpus
    val reg = if (config.index == "bf16" || config.index == "ivfbf16")
      full.withColumn("vector",
        graft.functions.VectorFunctions.unpackBf16(col("vector_bf16")))
    else full
    val canonical = Prepare.canonicalSchema.fieldNames.filter(reg.columns.contains)
    registry.put(name, (reg.select(canonical.map(col).toSeq: _*), config))
  }

  /** Append new rows to the at-rest layout of a collection opened via
    * [[openIndexed]], encode them with the PERSISTED model (never
    * retraining), and refresh the collection so single search, batch
    * search, and CRUD all see them — the incremental-ingest API at the
    * facade level. Rows run through the SAME projection + validation as
    * `put_many` (id resolution, normalization, derived columns,
    * invalid-row and duplicate-id rejection — in-batch or already at
    * rest), so raw (id, vector) input is fine. The refresh swaps cache
    * entries per key without ever emptying them; since the model
    * sidecar is append-invariant, a search racing the refresh pairs the
    * unchanged model with either the old or the new frame — both
    * self-consistent, and nothing ever retrains.
    * {{{
    * db.openIndexed("codes2", "/tmp/codes_idx")
    * db.appendIndexed("codes2", newRows)  // encodes through the persisted model
    * }}} */
  def appendIndexed(name: String, rows: DataFrame): Unit = {
    val (_, config) = registry.getOrElse(name,
      throw new IllegalArgumentException(s"collection $name does not exist"))
    val path = openPaths.getOrElse(name, throw new IllegalArgumentException(
      s"collection $name was not opened from an at-rest layout"))
    val prepared = Prepare.prepareEmbeddings(rows, config)
    val bad = Prepare.invalidRows(prepared, config).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid embedding in append (id=${bad.head.getAs[Any]("id")}): " +
          "missing/wrong-dimension/non-finite vector or empty id")
    val dups = Prepare.duplicateIds(
      spark.read.parquet(path).select("id"), prepared).limit(1).collect()
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"duplicate id: ${dups.head.getString(0)}")
    writeAppend(name, config, path, prepared)
    captureIndexed(name, path, config)
  }

  /** Continuous ingest into an OPENED at-rest index layout: the
    * Structured-Streaming form of [[appendIndexed]]. Each microbatch
    * appends through the SAME encode-through-persisted-models path
    * (ivf-family rows encode against the trained sidecar centroids —
    * never retrain; hnsw/vamana absorb through the incremental-insert
    * append protocol), then re-captures the collection so searches see
    * the grown corpus.
    *
    * REPLAY SAFETY (the property batch [[appendIndexed]] does not
    * need): a restarted stream re-delivers its last uncommitted
    * microbatch, so rows whose ids are ALREADY AT REST are silently
    * skipped instead of throwing — re-running a batch is a no-op and
    * the layout never holds duplicate ids. Ids must still be unique
    * WITHIN a microbatch (a same-batch collision is a data bug, not a
    * replay, and throws like the batch path).
    *
    * The checkpoint directory carries the stream's progress across
    * restarts, exactly as any other Structured Streaming sink.
    * {{{
    * val q = db.appendStream("articles", stream, "/ckpt/articles")
    * q.processAllAvailable()   // drain what's queued (tests/backfills)
    * }}} */
  def appendStream(name: String, stream: DataFrame, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming,
      "appendStream needs a streaming DataFrame; use appendIndexed for batch")
    // validate the binding before the query starts, not inside batch 0
    registry.getOrElse(name,
      throw new IllegalArgumentException(s"collection $name does not exist"))
    openPaths.getOrElse(name, throw new IllegalArgumentException(
      s"collection $name was not opened from an at-rest layout"))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, _: Long) =>
        appendBatchIdempotent(name, batch))
      .start()
  }

  /** One [[appendStream]] microbatch: validate, drop already-at-rest
    * ids (replay), append survivors, re-capture. Exposed within the
    * package so the replay contract is testable without a restart. */
  private[graft] def appendBatchIdempotent(name: String, rows: DataFrame): Unit = {
    val (_, config) = registry.getOrElse(name,
      throw new IllegalArgumentException(s"collection $name does not exist"))
    val path = openPaths.getOrElse(name, throw new IllegalArgumentException(
      s"collection $name was not opened from an at-rest layout"))
    val prepared = Prepare.prepareEmbeddings(rows, config)
    val bad = Prepare.invalidRows(prepared, config).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid embedding in stream append (id=${bad.head.getAs[Any]("id")}): " +
          "missing/wrong-dimension/non-finite vector or empty id")
    val inBatchDup = prepared.groupBy(col("id")).count()
      .filter(col("count") > 1).limit(1).collect()
    if (inBatchDup.nonEmpty)
      throw new IllegalArgumentException(
        s"duplicate id within one microbatch: ${inBatchDup.head.getString(0)}")
    // at-rest collisions are REPLAYED rows — skip them (idempotency)
    val fresh = prepared.join(
      spark.read.parquet(path).select(col("id")), Seq("id"), "left_anti")
    if (!fresh.isEmpty) {
      writeAppend(name, config, path, fresh)
      captureIndexed(name, path, config)
    }
  }

  private def writeAppend(name: String, config: CollectionConfig, path: String,
      prepared: DataFrame): Unit =
    config.index match {
      case "hnsw" =>
        graft.index.ShardedHnsw.appendLayout(spark, path, config, prepared)
      case "vamana" =>
        graft.index.ShardedVamana.appendLayout(spark, path, config, prepared)
      case "ivf" =>
        graft.ann.IvfIndex.appendPartitioned(spark, path, prepared,
          checkIds = false, cachedModel = ivfCache.get(name))
      case "ivfbf16" =>
        graft.ann.IvfBf16.appendPartitioned(spark, path, prepared,
          checkIds = false, cachedModel = ivfCache.get(name))
      case "ivfpq" =>
        // rebuild the cached (cents, cb, residual) triple from the open
        // caches when present, mirroring what loadModel would return
        val cached = ivfCache.get(name).flatMap { cents =>
          ivfPqResCache.get(name).map { case (cb, _) => (cents, cb, true) }
            .orElse(pqCache.get(name).map { case (cb, _) => (cents, cb, false) })
        }
        graft.ann.IvfPq.appendPartitioned(spark, path, prepared,
          checkIds = false, cachedModel = cached)
      case "ivfrabitq" =>
        graft.ann.IvfRaBitQ.appendPartitioned(spark, path, prepared,
          checkIds = false, cachedModel = ivfRabitqCache.get(name).map(_._1))
      case "sq8" =>
        val model = sq8Cache.get(name).map(_._1).getOrElse(
          graft.ann.ModelStore.loadSq8(spark, idxSidecar(path)))
        graft.ann.Sq8.withCodes(prepared, model).write.mode("append").parquet(path)
      case "pq" | "apq" =>
        val cb = pqCache.get(name).map(_._1).getOrElse(
          graft.ann.ModelStore.loadPq(spark, idxSidecar(path)))
        graft.ann.Pq.withCodes(prepared, cb).write.mode("append").parquet(path)
      case "rabitq" =>
        val model = rabitqCache.get(name).map(_._1).getOrElse(
          graft.ann.ModelStore.loadRabitq(spark, idxSidecar(path)))
        graft.ann.RaBitQ.withCodes(prepared, model)
          .write.mode("append").parquet(path)
      case "lsh" =>
        graft.ann.CosineLsh.withSignatures(prepared, graft.ann.CosineLsh.LshConfig())
          .write.mode("append").parquet(path)
      case "flat" =>
        prepared.write.mode("append").parquet(path)
      case "bf16" =>
        Prepare.withBf16Vector(prepared).drop("vector")
          .write.mode("append").parquet(path)
      case other => throw new IllegalArgumentException(
        s"index $other has no persistable layout")
    }

  /** Compact the at-rest layout of an opened collection — the small-file
    * maintenance step after many [[appendIndexed]] rounds (each append
    * adds files; scan task scheduling and footer reads degrade as they
    * pile up). Data, sidecars, and search results are unchanged; the
    * refreshed frames serve the merged files. Returns the new file
    * count.
    *
    * MAINTENANCE WINDOW: unlike [[appendIndexed]] (old files stay valid,
    * a racing search sees old-or-new), compaction REPLACES the backing
    * files — DataFrames captured before the call, including lazily held
    * search results, reference deleted paths and will fail when next
    * evaluated. Quiesce reads on this collection around the call and
    * re-issue queries after it returns.
    * {{{
    * db.compactIndexed("codes2")  // rewrite small files, results unchanged
    * }}} */
  /** Delete ids from the at-rest layout of a collection opened via
    * [[openIndexed]] — the right-to-be-forgotten half of incremental
    * maintenance, completing the persist/open/append/compact lifecycle.
    * BOUNDED rewrite: only the cell directories that actually hold a
    * deleted id are rewritten (staged-swap, crash-safe — see
    * [[graft.store.Compaction.deleteIds]]); every other partition
    * directory keeps its files byte-identical, so a delete batch at
    * 100 TB costs a handful of cells, not the corpus. Ids not present
    * delete nothing (idempotent — a replayed request is a no-op), and
    * a deleted id may be re-ingested through [[appendIndexed]]
    * afterwards. Caches and the registry refresh through the same
    * capture as append/compact, so search and CRUD see the removal
    * immediately. Graph layouts (hnsw/vamana) are REJECTED: their
    * stored adjacency references node ids, so removing rows would
    * leave dangling edges — delete from a graph kind by filtering the
    * corpus and rebuilding via [[persistIndex]]. Returns the number of
    * rows removed. */
  def deleteIndexed(name: String, ids: Seq[Any]): Long = {
    val (_, config) = registry.getOrElse(name,
      throw new IllegalArgumentException(s"collection $name does not exist"))
    val path = openPaths.getOrElse(name, throw new IllegalArgumentException(
      s"collection $name was not opened from an at-rest layout"))
    require(config.index != "hnsw" && config.index != "vamana",
      s"${config.index} layouts store graph adjacency; delete by rebuild: " +
      "close the collection, filter the corpus, persistIndex anew")
    val n = graft.store.Compaction.deleteIds(spark, path, ids)
    // refresh like append: swap cache entries per key (never emptying),
    // keep the layout binding; measured recall curves die with the old
    // corpus generation
    captureIndexed(name, path, config)
    curveCache.keys.filter(_.startsWith(name + "#")).foreach(curveCache.remove)
    n
  }

  def compactIndexed(name: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val (_, config) = registry.getOrElse(name,
      throw new IllegalArgumentException(s"collection $name does not exist"))
    val path = openPaths.getOrElse(name, throw new IllegalArgumentException(
      s"collection $name was not opened from an at-rest layout"))
    val n = graft.store.Compaction.compact(spark, path, targetBytes)
    captureIndexed(name, path, config)
    n
  }
}
