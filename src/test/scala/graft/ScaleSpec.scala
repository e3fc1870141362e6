package graft

import org.apache.spark.sql.functions._

import graft.ann.IvfIndex
import graft.core.CollectionConfig
import graft.functions.Skew
import graft.search.Search

/** Scale-layout features: cell-partitioned storage with partition
  * pruning, salted skew handling. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("IVF cell-partitioned storage: pruned scan, same results as flat") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val centroids = IvfIndex.train(coll, config, IvfIndex.IvfConfig(k = 8, iterations = 5))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.writePartitioned(coll, centroids, path)
    // one directory per cell on disk
    val cells = new java.io.File(path).listFiles().count(_.getName.startsWith("ivf_cell="))
    assert(cells > 1 && cells <= 8)
    val q = Tables.queryVector(spark, sfDir, 1L)
    // full probe == exact flat
    val full = IvfIndex.searchPartitioned(spark, path, config, centroids, q, 10, nprobe = 8)
      .collect().map(_.getString(0)).toSeq
    val exact = Search.flatSearch(coll, config, q, 10).collect().map(_.getString(0)).toSeq
    assert(full === exact)
    // partial probe physically prunes partitions (PartitionFilters in plan)
    val prepared = Search.prepareQuery(config, q)
    val probes = IvfIndex.probeCells(prepared, centroids, 2)
    val plan = spark.read.parquet(path).filter(col("ivf_cell").isin(probes: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"))
  }

  test("IVF-PQ partitioned storage: pruned ADC scan equals in-memory pipeline") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val order = col("id").cast("long")
    val cents = IvfIndex.trainOrdered(coll, config, IvfIndex.IvfConfig(k = 8, iterations = 3), order)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 3, sampleSize = 256), order)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    graft.ann.IvfPq.writePartitioned(coll.drop("metadata"), cents, cb, path)
    val q = Tables.queryVector(spark, sfDir, 1L)
    val inMem = graft.ann.IvfPq.search(coll, config, cents, cb, q, 10, nprobe = 2, candidates = 50)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    val onDisk = graft.ann.IvfPq.searchPartitioned(spark, path, config, cents, cb,
      q, 10, nprobe = 2, candidates = 50)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    assert(onDisk === inMem)
    // filtered at-rest search: full probe + candidates >= corpus makes
    // the ADC cut a no-op, so the exact rerank over the filtered rows
    // must equal exact flat search over the pre-filtered collection
    val pred = col("id") >= "3"
    val filtered = graft.ann.IvfPq.searchPartitioned(spark, path, config,
      cents, cb, q, 10, nprobe = 8, candidates = 100000,
      filter = Some(pred)).collect().map(_.getString(0)).toSeq
    val exact = graft.search.Search.flatSearch(coll.filter(pred), config, q, 10)
      .collect().map(_.getString(0)).toSeq
    assert(filtered === exact)
    import spark.implicits._
    val queries = Seq(("1", q.toSeq)).toDF("qid", "qvector")
    val filteredMany = graft.ann.IvfPq.searchManyPartitioned(spark, path,
      config, queries, 10, nprobe = 8, candidates = 100000,
      filter = Some(pred)).collect().map(_.getAs[String]("id")).toSeq.sorted
    assert(filteredMany === exact.sorted)
  }

  test("bucketed tables: co-located join plans with no shuffle exchange") {
    import graft.store.Bucketing
    val left = (0 until 500).map(i => (i.toString, i * 2)).toDF("id", "a")
    val right = (0 until 500).map(i => (i.toString, i * 3)).toDF("id", "b")
    Bucketing.writeBucketed(left, "bkt_left", 4, "id")
    Bucketing.writeBucketed(right, "bkt_right", 4, "id")
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
      }
      assert(joined.count() === 500)
      assert(joined.filter(col("id") === "7").select("a", "b").head() ===
        org.apache.spark.sql.Row(14, 21))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("query-side broadcast is bounded: oversize batch splits into per-block broadcasts") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select("qid", "id").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(identity).toSeq
    // reference results under the default (single-broadcast) regime
    val flatRef = key(Search.flatSearchMany(coll, config, qs, 5, knownNq = 8L))
    val funnelRef = key(Search.funnelSearchMany(coll, config, qs, 5,
      candidates = 20, knownNq = 8L))
    val quantRef = key(Search.quantizedSearchMany(coll, config, qs, 5,
      candidates = 20, knownNq = 8L))
    val hybridRef = key(Search.hybridSearchMany(coll, config, qs, 5,
      candidates = 20, knownNq = 8L))
    // 8 queries x d cells against a 3d-cell bound -> ceil(8/3) = 3
    // bounded query blocks. The flat batch rides the multi-distance
    // scan: one posexplode'd slim branch PER BLOCK (each block's query
    // matrix is its own bounded executor-cached broadcast handle), with
    // map-side WindowGroupLimit pre-cuts before the only exchange of
    // 16-byte triples; the staged searches chunk their broadcast-joined
    // query frames the same way.
    withSQLConf("spark.graft.query.broadcastMaxCells" -> (3L * d).toString) {
      val flat = Search.flatSearchMany(coll, config, qs, 5, knownNq = 8L)
      val plan = flat.queryExecution.executedPlan.toString
      assert("vector_distance_multi".r.findAllIn(plan).length >= 3,
        s"expected >= 3 per-block multi-distance scans:\n$plan")
      assert(plan.contains("Union"), "blocks must union")
      assert(plan.contains("BatchTopKExec"),
        "per-query cut must combine map-side (partial heap aggregation)")
      assert(key(flat) === flatRef)
      assert(key(Search.funnelSearchMany(coll, config, qs, 5,
        candidates = 20, knownNq = 8L)) === funnelRef)
      assert(key(Search.quantizedSearchMany(coll, config, qs, 5,
        candidates = 20, knownNq = 8L)) === quantRef)
      assert(key(Search.hybridSearchMany(coll, config, qs, 5,
        candidates = 20, knownNq = 8L)) === hybridRef)
    }
  }

  test("two-level heap merge == single global aggregate (flat, funnel, quantized, MaxSim)") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val mv = coll.withColumn("vectors", array(col("vector")))
    val qsets = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").cast("string").as("qid"),
        array(col("embedding")).as("qvectors"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Double)] =
      df.select("qid", "id", "score").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    def run(): Seq[Seq[(String, String, Double)]] = Seq(
      key(Search.flatSearchMany(coll, config, qs, 5, knownNq = 8L)),
      key(Search.funnelSearchMany(coll, config, qs, 5, candidates = 20,
        knownNq = 8L)),
      key(Search.quantizedSearchMany(coll, config, qs, 5, candidates = 20,
        knownNq = 8L)),
      key(Search.multiVectorSearchMany(mv, config, qsets, 5)))
    // default thresholds on this tiny batch: single global aggregate
    val single = run()
    // force EVERY heap cut two-level (threshold 1 entry, 3 slice groups):
    // rows must be bit-identical — the global top-k is the top-k of the
    // union of any disjoint corpus slicing's top-k's, and the window cut
    // replicates the heap's (rank, id) order
    var twoLevel: Seq[Seq[(String, String, Double)]] = null
    withSQLConf(
      "spark.graft.batch.mergeSingleMaxEntries" -> "1",
      "spark.graft.batch.mergeGroups" -> "3") { twoLevel = run() }
    assert(twoLevel === single, "two-level merge changed batch results")
  }

  test("heap-cut broadcast lifecycle: 200+ batch calls keep block-manager broadcast blocks bounded") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 2)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
      .cache()
    qs.count()
    def broadcastBlockCount(): Int =
      org.apache.spark.SparkEnv.get.blockManager
        .getMatchingBlockIds(_.isBroadcast).map {
          case org.apache.spark.storage.BroadcastBlockId(id, _) => id
          case _ => -1L
        }.distinct.size
    withSQLConf("spark.graft.batch.broadcastHandles" -> "8") {
      for (_ <- 0 until 210)
        Search.flatSearchMany(coll, config, qs, 3, knownNq = 2L).count()
      // the registry bound held: at most 8 of the 210 per-call query
      // matrices are still strongly held (the rest were unpersisted and
      // released to ContextCleaner)
      assert(graft.search.BroadcastHandles.liveCount <= 8,
        s"registry grew past its bound: ${graft.search.BroadcastHandles.liveCount}")
      // and the block manager is actually bounded, not just the
      // registry's view: evicted per-call matrices and Spark's own
      // join-relation broadcasts are both ContextCleaner-managed once
      // unreferenced (released on GC), so drain them, then require far
      // fewer live broadcast ids than the 210 the loop would have
      // accumulated with an unbounded registry
      var blocks = broadcastBlockCount()
      var tries = 0
      while (blocks > 100 && tries < 10) {
        System.gc(); Thread.sleep(300)
        blocks = broadcastBlockCount(); tries += 1
      }
      assert(blocks <= 100,
        s"block manager still holds $blocks broadcast ids after 210 batch calls")
    }
    qs.unpersist(blocking = true)
    // the batch results stay correct with eager destroy in play
    val out = Search.flatSearchMany(coll, config, qs, 3, knownNq = 2L).collect()
    assert(out.length === 6)
  }

  test("broadcast registry: two concurrent sessions share the context bound; evicted plans re-execute") {
    val sfDir = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    def fixtures(s: org.apache.spark.sql.SparkSession) = {
      val d = Tables.dims(s, sfDir)
      val config = Tables.cosineConfig(d)
      val coll = Tables.embeddingsCollection(s, sfDir, config)
      val qs = Tables.read(s, sfDir, "embeddings").filter(col("vec_id") < 2)
        .select(col("vec_id").cast("string").as("qid"),
          col("embedding").as("qvector"))
      (coll, config, qs)
    }
    val (coll1, config1, qs1) = fixtures(spark)
    val (coll2, config2, qs2) = fixtures(s2)
    // a batch plan built BEFORE the eviction traffic below; under the
    // former destroy() policy re-executing it past the bound raised
    // SparkException ("Attempted to use Broadcast after it was destroyed")
    val early = Search.flatSearchMany(coll1, config1, qs1, 3, knownNq = 2L)
    val expected = early.collect().map(_.toString).sorted
    assert(expected.nonEmpty)
    spark.conf.set("spark.graft.batch.broadcastHandles", "4")
    s2.conf.set("spark.graft.batch.broadcastHandles", "4")
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def traffic(s: org.apache.spark.sql.SparkSession,
          coll: org.apache.spark.sql.DataFrame, config: graft.core.CollectionConfig,
          qs: org.apache.spark.sql.DataFrame): Runnable = () =>
        try {
          for (_ <- 0 until 40)
            assert(Search.flatSearchMany(coll, config, qs, 3, knownNq = 2L)
              .count() === 6)
        } catch { case t: Throwable => errors.add(t) }
      pool.submit(traffic(spark, coll1, config1, qs1))
      pool.submit(traffic(s2, coll2, config2, qs2))
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(errors.isEmpty, s"interleaved batch call failed: ${errors.peek()}")
      // both sessions feed ONE per-SparkContext queue — the bound is on
      // the block manager they share, and it held under interleaving
      assert(graft.search.BroadcastHandles.liveCount(spark) <= 4)
      assert(graft.search.BroadcastHandles.liveCount(s2) <= 4)
      // the early plan's matrix was long evicted (80 newer handles), yet
      // unpersist() kept it re-readable: same rows, no SparkException
      assert(early.collect().map(_.toString).sorted === expected)
    } finally {
      spark.conf.unset("spark.graft.batch.broadcastHandles")
      s2.conf.unset("spark.graft.batch.broadcastHandles")
    }
  }

  test("compaction: small files merged, data identical") {
    import graft.store.Compaction
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (0 until 2000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(40).write.parquet(path)
    def parquetFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles === 40)
    val before = spark.read.parquet(path).orderBy("id").collect()
    val n = Compaction.compact(spark, path, targetBytes = 1L << 30)
    assert(n === 1 && parquetFiles === 1)
    assert(spark.read.parquet(path).orderBy("id").collect() === before)
  }

  test("compaction preserves hive-partitioned layouts (per-cell rewrite)") {
    import graft.store.Compaction
    val path = java.nio.file.Files.createTempDirectory("graft_compact_part").toString + "/t"
    val df = (0 until 1000).map(i => (i.toLong, i % 4)).toDF("id", "cell")
    df.repartition(10).write.partitionBy("cell").parquet(path)
    val before = spark.read.parquet(path).orderBy("id").collect()
    Compaction.compact(spark, path, targetBytes = 1L << 30)
    val cellDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("cell=")).toSeq
    assert(cellDirs.size === 4, "partition directories must survive compaction")
    cellDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    }
    assert(spark.read.parquet(path).orderBy("id").collect() === before)
    // partition pruning still works on the compacted layout
    val plan = spark.read.parquet(path).filter(col("cell") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("IVF-PQ partitioned search is unchanged by compaction") {
    import graft.store.Compaction
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val order = col("id").cast("long")
    val cents = IvfIndex.trainOrdered(coll, config, IvfIndex.IvfConfig(k = 4, iterations = 2), order)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 2, sampleSize = 128), order)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_c").toString + "/t"
    graft.ann.IvfPq.writePartitioned(coll.drop("metadata").repartition(8), cents, cb, path)
    val q = Tables.queryVector(spark, sfDir, 1L)
    val beforeC = graft.ann.IvfPq.searchPartitioned(spark, path, config, cents, cb,
      q, 10, nprobe = 2, candidates = 30).collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    Compaction.compact(spark, path)
    val afterC = graft.ann.IvfPq.searchPartitioned(spark, path, config, cents, cb,
      q, 10, nprobe = 2, candidates = 30).collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
    assert(afterC === beforeC)
  }

  test("quantized batch search plan: broadcast query side, map-side window pre-cut") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val model = graft.ann.Sq8.train(coll)
    val coded = graft.ann.Sq8.withCodes(coll, model)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val plan = graft.ann.Sq8.searchMany(coded, config, model, qs, 5)
      .queryExecution.executedPlan.toString
    // queries ride a broadcast (no shuffle of the corpus against them)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"no broadcast join in plan:\n$plan")
    // the per-query candidate cut pre-cuts map-side BEFORE the exchange
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in plan:\n$plan")
    assert(plan.contains("Partial"), s"no partial (map-side) group limit in plan:\n$plan")
  }

  test("quantizedSearchMany candidate scan reads sign bits only, never the vector column") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    // persist the collection as parquet so the plan has a real scan
    // whose ReadSchema shows exactly what the candidate stage decodes
    val dir = java.nio.file.Files.createTempDirectory("graft_qsm_plan").toString
    Tables.embeddingsCollection(spark, sfDir, config)
      .select("id", "value", "vector", "binary_vector")
      .write.mode("overwrite").parquet(dir)
    val atRest = spark.read.parquet(dir)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val res = Search.quantizedSearchMany(atRest, config, qs, 5,
      candidates = 20, knownNq = 4L)
    val plan = res.queryExecution.executedPlan.toString
    // two scans of the corpus: the candidate scan must read ONLY
    // (id, binary_vector) — dims/8 bytes/row — and the rerank scan
    // carries the vectors for the bounded survivors
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    val candReads = reads.filter(_.contains("binary_vector"))
    assert(candReads.nonEmpty, s"no binary_vector scan in plan:\n$plan")
    candReads.foreach { r =>
      assert(!r.replace("binary_vector", "").contains("vector"),
        s"candidate scan decodes the full vector column: $r")
    }
    // and the results equal per-query single search over the same frame
    val got = res.select("qid", "id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding")).collect().foreach { r =>
        val single = Search.quantizedSearch(atRest, config,
          r.getSeq[Float](1).toArray, 5, candidates = 20)
          .collect().map(_.getString(0)).toSet
        assert(got(r.getLong(0).toString) === single, s"qid=${r.getLong(0)}")
      }
  }

  test("searchMany with knownNq plans without running any job (no hidden count)") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val model = graft.ann.Sq8.train(coll)
    val coded = graft.ann.Sq8.withCodes(coll, model).cache()
    coded.count()
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    // any hidden count() is SYNCHRONOUS and runs on THIS thread, so it
    // lands in this job group before searchMany returns (the group scopes
    // the counter away from concurrently-running suites on the shared
    // session)
    spark.sparkContext.setJobGroup("graft_knownnq_spec", "knownNq spec")
    try {
      def jobsSoFar(): Int = spark.sparkContext.statusTracker
        .getJobIdsForGroup("graft_knownnq_spec").length
      val before = jobsSoFar()
      val df = graft.ann.Sq8.searchMany(coded, config, model, qs, 5, knownNq = 4L)
      assert(jobsSoFar() === before, "plan construction ran a job despite knownNq")
      assert(df.collect().nonEmpty) // still executes correctly
      // without the hint, the broadcast-bound check runs a count (>= 1
      // job; AQE may split it) during PLAN CONSTRUCTION — the contrast
      // the hint exists to remove
      val before2 = jobsSoFar()
      graft.ann.Sq8.searchMany(coded, config, model, qs, 5)
      assert(jobsSoFar() > before2)
    } finally spark.sparkContext.clearJobGroup()
    coded.unpersist()
  }

  test("residual batch search plan: broadcast per-cell tables, map-side window pre-cut") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val order = col("id").cast("long")
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), order)
    val cb = graft.ann.IvfPq.trainResidual(coll, config, cents,
      graft.ann.Pq.PqConfig(m = 8, k = 16, iterations = 2, sampleSize = 128), order)
    val prepared = graft.ann.IvfPq.withResidualCodes(coll, cents, cb)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val plan = graft.ann.IvfPq.searchManyResidual(prepared, config, cents, cb,
      qs, 5, nprobe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in plan:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in plan:\n$plan")
    assert(plan.contains("Partial"), s"no partial (map-side) group limit in plan:\n$plan")
  }

  test("searchManyPartitioned: static cell pruning in the scan, results == searchMany") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
    val order = col("id").cast("long")
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 8, iterations = 2), order)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 2, sampleSize = 128), order)
    val path = java.nio.file.Files.createTempDirectory("graft_smp").toString
    graft.ann.IvfPq.writePartitioned(coll.drop("metadata"), cents, cb, path)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 3)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val pruned = graft.ann.IvfPq.searchManyPartitioned(spark, path, config,
      qs, 5, nprobe = 2, candidates = 30, knownNq = 3L)
    // the probe-union filter must land on the PARTITION column of the
    // scan — directory pruning before IO, not a post-scan filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ivf_cell".r.findFirstIn(plan).isDefined,
      s"probe union not a partition filter:\n$plan")
    val full = graft.ann.IvfPq.searchMany(spark.read.parquet(path), config,
      cents, cb, qs, 5, nprobe = 2, candidates = 30)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("qid"), r.getAs[String]("id"))).sorted.toSeq
    assert(key(pruned) === key(full))
    // bounded file layout: the pre-shuffle clusters rows by cell before
    // the partitioned write, so each cell directory holds exactly
    // filesPerCell (default 1) data files — NOT one per write task
    val cellDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("ivf_cell="))
    assert(cellDirs.nonEmpty)
    for (dir <- cellDirs) {
      val n = dir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"${dir.getName} holds $n files, want 1")
    }
    // residual layout routes through the sidecar's residual flag
    val rcb = graft.ann.IvfPq.trainResidual(coll, config, cents,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 2, sampleSize = 128), order)
    val rpath = java.nio.file.Files.createTempDirectory("graft_smp_res").toString
    graft.ann.IvfPq.writePartitionedResidual(coll.drop("metadata"), cents, rcb, rpath)
    val rp = graft.ann.IvfPq.searchManyPartitioned(spark, rpath, config,
      qs, 5, nprobe = 2, candidates = 30, knownNq = 3L)
    val rf = graft.ann.IvfPq.searchManyResidual(
      graft.ann.IvfPq.withResidualCodes(coll.drop("metadata"), cents, rcb),
      config, cents, rcb, qs, 5, nprobe = 2, candidates = 30)
    assert(key(rp) === key(rf))
    coll.unpersist()
  }

  test("appendPartitioned: incremental ingest == full rewrite (no retrain, sidecar untouched)") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
      .select("id", "value", "vector").cache()
    val order = col("id").cast("long")
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), order)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 2, sampleSize = 128), order)
    val first = coll.filter(order % 2 === 0)
    val second = coll.filter(order % 2 === 1)
    // raw-code layout: write half, append half, equal to one full write
    val path = java.nio.file.Files.createTempDirectory("graft_append").toString
    graft.ann.IvfPq.writePartitioned(first, cents, cb, path)
    val sidecarBefore = graft.ann.IvfPq.loadModel(spark, path)
    graft.ann.IvfPq.appendPartitioned(spark, path, second)
    assert(spark.read.parquet(path).count() === coll.count())
    // PARTIAL probe (nprobe < k): wrong cell assignment of appended rows
    // would change which rows the probe reads and break this equality —
    // a full probe would mask it by degenerating to exact search
    val q = Tables.queryVector(spark, sfDir, 2L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0)).toSeq
    val onDisk = key(graft.ann.IvfPq.searchPartitioned(spark, path, config,
      cents, cb, q, 5, nprobe = 2, candidates = 40))
    val inMem = key(graft.ann.IvfPq.search(coll, config, cents, cb,
      q, 5, nprobe = 2, candidates = 40))
    assert(onDisk === inMem)
    // duplicate-id appends are rejected (put_many's contract at rest)
    val dupErr = intercept[IllegalArgumentException] {
      graft.ann.IvfPq.appendPartitioned(spark, path, second.limit(1))
    }
    assert(dupErr.getMessage.contains("duplicate"))
    // sidecar untouched by the append (centroids, codebooks, flag)
    val sidecarAfter = graft.ann.IvfPq.loadModel(spark, path)
    assert(sidecarAfter._1.map(_.toSeq).toSeq === sidecarBefore._1.map(_.toSeq).toSeq)
    assert(sidecarAfter._2.map(_.map(_.toSeq).toSeq).toSeq ===
      sidecarBefore._2.map(_.map(_.toSeq).toSeq).toSeq)
    assert(sidecarAfter._3 === sidecarBefore._3)
    // plain-IVF layout: same contract, same partial probe
    val ipath = java.nio.file.Files.createTempDirectory("graft_append_ivf").toString
    graft.ann.IvfIndex.writePartitioned(first, cents, ipath)
    graft.ann.IvfIndex.appendPartitioned(spark, ipath, second)
    assert(spark.read.parquet(ipath).count() === coll.count())
    val iOnDisk = key(graft.ann.IvfIndex.searchPartitioned(spark, ipath, config,
      cents, q, 5, nprobe = 2))
    val iInMem = key(graft.ann.IvfIndex.search(coll, config, cents, q, 5, nprobe = 2))
    assert(iOnDisk === iInMem)
    // the full at-rest lifecycle: appends accumulate files per cell;
    // compaction merges them, leaves the model sidecar readable, and
    // search over the compacted layout is unchanged
    graft.store.Compaction.compact(spark, path)
    val sidecarCompacted = graft.ann.IvfPq.loadModel(spark, path)
    assert(sidecarCompacted._1.map(_.toSeq).toSeq === sidecarBefore._1.map(_.toSeq).toSeq)
    val compacted = key(graft.ann.IvfPq.searchPartitioned(spark, path, config,
      cents, cb, q, 5, nprobe = 2, candidates = 40))
    assert(compacted === onDisk)
    coll.unpersist()
  }

  test("residual IVF-PQ partitioned layout: directory pruning, identical results") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
    val order = col("id").cast("long")
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), order)
    val cb = graft.ann.IvfPq.trainResidual(coll, config, cents,
      graft.ann.Pq.PqConfig(m = 8, k = 16, iterations = 2, sampleSize = 128), order)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_res_part").toString
    graft.ann.IvfPq.writePartitionedResidual(coll.drop("metadata"), cents, cb, path)
    val q = Tables.queryVector(spark, sfDir, 1L)
    val mem = graft.ann.IvfPq.searchResidual(coll.drop("metadata"), config, cents, cb,
      q, 5, nprobe = 2).collect().map(r => (r.getString(0), r.getDouble(2)))
    val part = graft.ann.IvfPq.searchPartitionedResidual(spark, path, config,
      cents, cb, q, 5, nprobe = 2).collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(part.toSeq === mem.toSeq)
    // the probe reaches the scan as a PartitionFilter (whole-directory prune)
    val probePlan = graft.ann.IvfPq.searchPartitionedResidual(spark, path, config,
      cents, cb, q, 5, nprobe = 2).queryExecution.executedPlan.toString
    // slim-cut shape: the rerank scan carries `ivf_cell IN (probes)`
    // (was `isnotnull(ivf_cell), (ivf_cell = c)` per branch before) —
    // either way the probe must reach the scan as a PartitionFilter
    assert(probePlan.contains("PartitionFilters: [ivf_cell"),
      s"probe not pushed to partition filter:\n$probePlan")
    coll.unpersist()
  }

  test("ANN ingest encodes are fused codegen expressions, not Scala UDFs") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val model = graft.ann.Sq8.train(coll)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 8, k = 16, iterations = 2, sampleSize = 128),
      col("id").cast("long"))
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), col("id").cast("long"))
    val lshCfg = graft.ann.CosineLsh.LshConfig(bands = 4, bitsPerBand = 4)
    val encoded = graft.ann.CosineLsh.withSignatures(
      graft.ann.IvfIndex.withCells(
        graft.ann.Pq.withCodes(
          graft.ann.Sq8.withCodes(coll, model), cb), cents), lshCfg)
    // no ScalaUDF node anywhere in the ingest projection
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val hasUdf = encoded.queryExecution.analyzed.expressions
      .exists(_.exists(_.isInstanceOf[ScalaUDF]))
    assert(!hasUdf, "ingest encode should be fused expressions, not UDFs")
    // the whole encode stack runs inside one whole-stage-codegen span
    // (the "*(1)" prefix on the Project is the codegen-stage marker)
    val plan = encoded.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("sq8_encode"),
      s"encode projection not in a codegen span:\n$plan")
    // and the fused kernels produce exactly the scalar-path values
    val rows = encoded.limit(20).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](r.fieldIndex("vector")).toArray
      assert(r.getAs[Array[Byte]]("sq8_codes").toSeq ===
        graft.ann.Sq8.encodeVec(v, model).toSeq)
      assert(r.getAs[Array[Byte]]("pq_codes").toSeq ===
        graft.ann.Pq.encodeVec(v, cb).toSeq)
      assert(r.getAs[Int]("ivf_cell") ===
        graft.ann.IvfIndex.nearestCentroid(v, cents))
      assert(r.getSeq[Int](r.fieldIndex("lsh_bands")).toArray.toSeq ===
        graft.ann.CosineLsh.bandKeys(v, lshCfg).toSeq)
    }
  }

  test("salted aggregation is exact under skew") {
    val df = (Seq.fill(5000)("hot") ++ (1 to 100).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i.toDouble) }.toDF("key", "v")
      .repartition(8)
    val salted = Skew.saltedSum(df, col("key"), col("v"), parallelism = 16)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = df.groupBy("key").agg(sum("v"), count(lit(1)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted === plain)
    assert(salted("hot")._2 === 5000L)
  }

  test("event funnel plan: ONE exchange, fold stays in codegen HOFs") {
    import graft.streaming.EventStreams
    val ev = Tables.read(spark, "/root/testdata/sf0.001", "events")
    val res = EventStreams.funnelSteps(ev,
      Seq("view", "click", "purchase"), horizonSeconds = 259200L)
    val plan = res.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"funnelSteps should shuffle exactly once:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), "fold must be native expressions")
  }

  test("weighted sample plan: TakeOrderedAndProject, no global sort exchange") {
    import graft.functions.Sampling
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
    val res = Sampling.weightedSample(docs, "doc_id", col("n_chars"), n = 50)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weightedSample should plan per-partition top-n heaps:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"weightedSample must not global-sort:\n$plan")
  }

  test("funnel final plan: InSet survivor probe over the scan, zero exchanges") {
    // the r10 regression shape: stage cuts over full rows put the
    // vector payload through a keep*P-row sort-exchange. The fixed
    // design decides cuts on slim (id, rank) projections and threads
    // survivors back as one InSet literal — the returned plan must be
    // a pure scan+filter+TakeOrdered with NO exchange of any kind.
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val q = Tables.queryVector(spark, sfDir, 1L)
    val res = Search.funnelSearch(coll, config, q, 10,
      stages = Seq(d / 4, d / 2, d), candidates = 40)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"funnel result plan shuffles:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
    // and it still returns the exact funnel result
    assert(res.collect().length === 10)
  }

  test("batch funnel plan: broadcast query side, map-side window pre-cut per stage") {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 4)
      .select(col("vec_id").cast("string").as("qid"), col("embedding").as("qvector"))
    val plan = Search.funnelSearchMany(coll, config, qs, 5,
      stages = Seq(d / 4, d), candidates = 20, knownNq = 4L)
      .queryExecution.executedPlan.toString
    // queries and survivor pairs ride broadcasts; the corpus never
    // shuffles against them
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"no broadcast join in batch funnel plan:\n$plan")
    // every per-qid stage cut pre-cuts map-side before its exchange
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
    assert(plan.contains("Partial"), s"no partial group limit:\n$plan")
  }

  test("salted join equals plain join under a hot key") {
    val big = (Seq.fill(2000)(1) ++ (2 to 50)).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("k", "payload").repartition(8)
    val small = (1 to 50).map(k => (k, s"dim$k")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, "k", parallelism = 4)
      .groupBy("k").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val plain = big.join(small, "k").groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }
}
