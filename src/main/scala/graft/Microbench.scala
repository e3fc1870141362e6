package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{CollectionConfig, Metric}
import graft.search.Search

/** Dev-only micro-profiler for the flat-search path. */
object Microbench {
  def time(label: String, reps: Int)(f: => Unit): Unit = {
    f // warmup
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    println(f"$label%-40s min=${ts.min}%.4f med=${ts.sorted.apply(reps / 2)}%.4f")
  }

  /** Stage-by-stage profile of the slow driver queries at a real SF dir:
    * `runMain graft.Microbench slow /root/testdata/sf0.1`. */
  def profileSlow(spark: SparkSession, dir: String): Unit = {
    val d = Tables.dims(spark, dir)
    val config = Tables.cosineConfig(d)
    time("embeddings collect raw", 3) {
      Tables.read(spark, dir, "embeddings").collect()
    }
    time("collection prepare+collect", 3) {
      Tables.embeddingsCollection(spark, dir, config)
        .select("id", "vector").collect()
    }
    val coll = Tables.embeddingsCollection(spark, dir, config)
    var g: graft.index.Hnsw = null
    time("hnsw build (collect+insert)", 3) {
      g = graft.index.Hnsw.build(coll, config)
    }
    val q = Search.prepareQuery(config, Tables.queryVector(spark, dir, 0L))
    time("hnsw search", 3) { g.search(q, 10) }
    time("ivf train", 3) {
      graft.ann.IvfIndex.train(coll, config,
        graft.ann.IvfIndex.IvfConfig(k = 8, iterations = 5))
    }
    val cents = graft.ann.IvfIndex.train(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 8, iterations = 5))
    time("ivf search nprobe=8", 3) {
      graft.ann.IvfIndex.search(coll, config, cents,
        Tables.queryVector(spark, dir, 0L), 10, nprobe = 8).collect()
    }
    val emb = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vector"))
    time("lsh dedup signatures only", 3) {
      graft.ann.CosineLsh.withSignatures(
        emb.select(col("id"),
          graft.functions.VectorFunctions.normalizeVector(
            graft.core.Normalize.L2, col("vector")).as("nv")),
        graft.ann.CosineLsh.LshConfig(bands = 24, bitsPerBand = 6), "nv")
        .select("id", "lsh_bands").count()
    }
    time("lsh dedup full", 3) {
      graft.dedup.Dedup.embeddingPairs(emb, "id", "vector",
        graft.ann.CosineLsh.LshConfig(bands = 24, bitsPerBand = 6), 0.3).count()
    }
  }

  /** Fused codegen encode expressions vs the former Scala-UDF columns —
    * same kernels, different plan nodes: `runMain graft.Microbench encode`. */
  def profileEncode(spark: SparkSession): Unit = {
    val dims = sys.env.getOrElse("GRAFT_MB_DIMS", "384").toInt
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "100000").toInt
    val config = CollectionConfig("b", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val coll = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(n).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "vector").persist()
    coll.count()
    val model = graft.ann.Sq8.train(coll)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 32, k = 256, iterations = 3, sampleSize = 2000),
      col("id").cast("long"))
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 16, iterations = 3), col("id").cast("long"))
    val lshCfg = graft.ann.CosineLsh.LshConfig(bands = 16, bitsPerBand = 10)
    val m = model; val cbs = cb; val cts = cents; val lc = lshCfg
    val udfs = Seq[(String, org.apache.spark.sql.Column)](
      ("sq8", udf((x: Seq[Float]) => graft.ann.Sq8.encodeVec(x.toArray, m)).apply(col("vector"))),
      ("pq", udf((x: Seq[Float]) => graft.ann.Pq.encodeVec(x.toArray, cbs)).apply(col("vector"))),
      ("ivf_cell", udf((x: Seq[Float]) => graft.ann.IvfIndex.nearestCentroid(x.toArray, cts)).apply(col("vector"))),
      ("lsh", udf((x: Seq[Float]) => graft.ann.CosineLsh.bandKeys(x.toArray, lc)).apply(col("vector"))))
    val fused = Seq[(String, org.apache.spark.sql.Column)](
      ("sq8", graft.ann.Sq8.encodeColumn(model)(col("vector"))),
      ("pq", graft.ann.Pq.encodeColumn(cb)(col("vector"))),
      ("ivf_cell", org.apache.spark.sql.graft.Bridge.column(graft.expr.IvfCell(
        org.apache.spark.sql.graft.Bridge.expression(col("vector")), cents))),
      ("lsh", graft.ann.CosineLsh.bandKeysColumn(lshCfg)(col("vector"))))
    for (((name, u), (_, f)) <- udfs.zip(fused)) {
      time(s"$name encode UDF", 3) { coll.select(u.as("c")).write.format("noop").mode("overwrite").save() }
      time(s"$name encode fused", 3) { coll.select(f.as("c")).write.format("noop").mode("overwrite").save() }
    }
    coll.unpersist()
  }

  /** Plan-time vs execution split of single-query ADC search: the
    * dims*256-entry sq8 table made PLANNING the dominant cost when it
    * rode the tree as an array Literal (AdcDistanceConst keeps it as a
    * reference object instead). `runMain graft.Microbench adc`. */
  def profileAdc(spark: SparkSession): Unit = {
    val dims = 384
    val config = CollectionConfig("m", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val coll = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(100000).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector").persist()
    coll.count()
    val model = graft.ann.Sq8.train(coll)
    val coded = graft.ann.Sq8.withCodes(coll, model)
      .select("id", "value", "vector", "sq8_codes").persist()
    coded.count()
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    time("sq8 search plan+exec", 5) {
      graft.ann.Sq8.search(coded, config, model, q, 10, candidates = 200).collect()
    }
    val reused = graft.ann.Sq8.search(coded, config, model, q, 10, candidates = 200)
    time("sq8 search exec only (reused plan)", 5) { reused.collect() }
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 32, k = 256, iterations = 3, sampleSize = 4000),
      col("id").cast("long"))
    val pqColl = graft.ann.Pq.withCodes(coll, cb)
      .select("id", "value", "vector", "pq_codes").persist()
    pqColl.count()
    time("pq search plan+exec", 5) {
      graft.ann.Pq.search(pqColl, config, cb, q, 10, candidates = 200).collect()
    }
  }

  /** Plan-time vs execution split of single-query funnel search (the
    * r10 synth_funnel regression): `runMain graft.Microbench funnel`. */
  def profileFunnel(spark: SparkSession): Unit = {
    val dims = 384
    val config = CollectionConfig("m", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val coll = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(100000).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector", "binary_vector").persist()
    coll.count()
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    val stages = Seq(dims / 4, dims / 2, dims)
    Search.flatSearch(coll, config, q, 10).collect() // JIT warmup
    time("flat cosine plan+exec", 5) {
      Search.flatSearch(coll, config, q, 10).collect()
    }
    time("funnel plan+exec", 5) {
      Search.funnelSearch(coll, config, q, 10, stages, 200).collect()
    }
    val reused = Search.funnelSearch(coll, config, q, 10, stages, 200)
    time("funnel exec only (reused plan)", 5) { reused.collect() }
    time("funnel widen=1 plan+exec", 5) {
      Search.funnelSearch(coll, config, q, 10, stages, 200, widen = 1).collect()
    }
    time("quantized plan+exec", 5) {
      Search.quantizedSearch(coll, config, q, 10, candidates = 200).collect()
    }
    val reusedQ = Search.quantizedSearch(coll, config, q, 10, candidates = 200)
    time("quantized exec only (reused plan)", 5) { reusedQ.collect() }
    time("funnel 1 stage (d/4 only) plan+exec", 5) {
      Search.funnelSearch(coll, config, q, 10, Seq(dims / 4), 200).collect()
    }
    time("funnel 2 stages plan+exec", 5) {
      Search.funnelSearch(coll, config, q, 10, Seq(dims / 4, dims / 2), 200).collect()
    }
  }

  /** Stage split of the partitioned IVF-PQ BATCH path (the
    * scale5x_ivfpq_part_batch64_perq bench row): builds the same 500k
    * cell-partitioned layout as Bench (override via GRAFT_MB_RECORDS)
    * and times each stage of `searchManyPartitioned` separately —
    * sidecar load, fresh parquet read, probe-union job, candidate
    * window cut, exact rerank, full call, and the exec-only reused
    * plan. `runMain graft.Microbench ivfpq_batch`. */
  def profileIvfPqBatch(spark: SparkSession, args: Array[String]): Unit = {
    val dims = 384
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "500000").toInt
    val config = CollectionConfig("m", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val path = "/tmp/mb_ivfpq_part"
    val base = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(n).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector")
    // train like Bench: PQ on the 100k synth prefix, IVF on the full base
    val trainColl = base.limit(100000)
    val pqCb = graft.ann.Pq.trainOrdered(trainColl, config,
      graft.ann.Pq.PqConfig(m = 32, k = 256, iterations = 3, sampleSize = 4000),
      col("id").cast("long"))
    val cents = graft.ann.IvfIndex.trainOrdered(base, config,
      graft.ann.IvfIndex.IvfConfig(k = 16, iterations = 3), col("id").cast("long"))
    time("writePartitioned (cold)", 1) {
      graft.ann.IvfPq.writePartitioned(base, cents, pqCb, path)
    }
    val qs = spark.range(64).select(col("id").cast("string").as("qid"),
      genUdf(col("id") + 2000000L).as("qvector"))
    time("full searchManyPartitioned.count", 5) {
      graft.ann.IvfPq.searchManyPartitioned(spark, path, config, qs, 10,
        nprobe = 4, candidates = 100, knownNq = 64L).count()
    }
    val reused = graft.ann.IvfPq.searchManyPartitioned(spark, path, config, qs,
      10, nprobe = 4, candidates = 100, knownNq = 64L)
    time("exec only (reused plan)", 5) { reused.count() }
    time("loadModel (sidecar)", 5) { graft.ann.IvfPq.loadModel(spark, path) }
    time("parquet read + columns", 5) { spark.read.parquet(path).columns }
    val frame = spark.read.parquet(path)
    time("searchManyPruned (cached frame+model)", 5) {
      graft.ann.IvfPq.searchManyPruned(frame, config, cents, pqCb,
        residual = false, qs, 10, nprobe = 4, candidates = 100,
        knownNq = 64L).count()
    }
    // stage split: probe union job alone, then searchMany on the pruned frame
    val np = 4
    val probeUdf = udf((q: Seq[Float]) =>
      graft.ann.IvfIndex.probeCells(q.toArray,
        cents, np).toArray)
    import graft.functions.VectorFunctions.normalizeVector
    time("probe-union agg job", 5) {
      qs.select(normalizeVector(config.effectiveNormalize, col("qvector")).as("qvector"))
        .select(explode(probeUdf(col("qvector"))).as("c"))
        .agg(collect_set(col("c")), count(lit(1))).head()
    }
    val cells = qs
      .select(normalizeVector(config.effectiveNormalize, col("qvector")).as("qvector"))
      .select(explode(probeUdf(col("qvector"))).as("c"))
      .agg(collect_set(col("c"))).head().getSeq[Int](0)
    val pruned = frame.filter(col("ivf_cell").isin(cells.map(Int.box): _*))
    time("searchMany on pruned frame", 5) {
      graft.ann.IvfPq.searchMany(pruned, config, cents, pqCb, qs, 10,
        nprobe = np, candidates = 100, knownNq = 64L).count()
    }
    time("pruned codes scan count", 5) {
      pruned.select("ivf_cell", "id", "pq_codes").count()
    }
  }

  /** Stage split of the scale5x at-rest WRITE rows (ivfpq / ivfbf16 /
    * ivfrabitq part writes): prepare pass, coarse k-means sample-train,
    * encode-only (noop sink), and the cell shuffle + parquet write.
    * `runMain graft.Microbench ivfwrite`. */
  def profileIvfWrite(spark: SparkSession): Unit = {
    val dims = 384
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "500000").toInt
    val config = CollectionConfig("m", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    def base = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(n).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector")
    time("prepare pass alone (noop)", 3) {
      base.write.format("noop").mode("overwrite").save()
    }
    val trainColl = base.limit(100000)
    var pqCb: Array[Array[Array[Float]]] = null
    time("pq trainOrdered", 3) {
      pqCb = graft.ann.Pq.trainOrdered(trainColl, config,
        graft.ann.Pq.PqConfig(m = 32, k = 256, iterations = 3, sampleSize = 4000),
        col("id").cast("long"))
    }
    var cents: Array[Array[Float]] = null
    time("ivf trainOrdered", 3) {
      cents = graft.ann.IvfIndex.trainOrdered(base, config,
        graft.ann.IvfIndex.IvfConfig(k = 16, iterations = 3),
        col("id").cast("long"))
    }
    time("cells+pq encode only (noop)", 3) {
      graft.ann.Pq.withCodes(graft.ann.IvfIndex.withCells(base, cents), pqCb)
        .select("id", "value", "vector", "ivf_cell", "pq_codes")
        .write.format("noop").mode("overwrite").save()
    }
    val wDir = java.nio.file.Files.createTempDirectory("mb_ivfpq_w").toString
    time("full writePartitioned", 3) {
      graft.ann.IvfPq.writePartitioned(base, cents, pqCb, wDir)
    }
    val ckpt = base.localCheckpoint()
    time("writePartitioned over checkpointed base", 3) {
      graft.ann.IvfPq.writePartitioned(ckpt, cents, pqCb, wDir)
    }
    ckpt.unpersist(blocking = true)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wDir))
  }

  /** DSIR fit + score profile at a real SF dir (the q_data_dsir_* rows):
    * splits the two fit count-jobs from the scoring projection and the
    * Gumbel resample, and times the whole oracle-row chain end to end.
    * `runMain graft.Microbench dsir /root/testdata/sf0.1`. */
  def profileDsir(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.read(spark, dir, "documents").persist()
    println("docs " + docs.count())
    val target = docs.filter(col("lang") === "en")
    time("fit: logRatioTable (2 count jobs)", 3) {
      graft.text.Dsir.logRatioTable(docs, col("text"), target, col("text"), 512)
    }
    val table = graft.text.Dsir.logRatioTable(docs, col("text"), target,
      col("text"), 512)
    time("score: projection collect", 3) {
      docs.select(col("doc_id"),
        graft.text.Dsir.scoreColumn(col("text"), table).as("w")).collect()
    }
    time("weights row end-to-end (fit+score)", 3) {
      graft.text.Dsir.importanceWeights(docs, "doc_id", "text", target,
        "text", buckets = 512).select("doc_id", "dsir_logw").collect()
    }
    time("resample row end-to-end", 3) {
      val w = graft.text.Dsir.importanceWeights(docs, "doc_id", "text",
        target, "text", buckets = 512)
      graft.text.Dsir.resampleTop(w, "doc_id", col("dsir_logw"), n = 100,
        salt = "graft").select("doc_id", "gumbel_key").collect()
    }
    docs.unpersist()
  }

  /** FlatIndex mirror single-query modes in isolation (the
    * synth_flatindex_* bench rows) — the bisect harness for warm-path
    * drift: `runMain graft.Microbench flatindex`. */
  def profileFlatIndex(spark: SparkSession): Unit = {
    val dims = 384
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "100000").toInt
    val config = CollectionConfig("f", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val coll = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(n).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector").persist()
    coll.count()
    val idx = graft.index.FlatIndex.build(coll, config)
    println("index rows " + idx.count())
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    val stages = Seq(dims / 4, dims / 2, dims)
    time("flatindex single", 10) { idx.search(q, Metric.Cosine, 10) }
    time("flatindex funnel", 10) {
      idx.funnelSearch(q, Metric.Cosine, 10, stages, 200)
    }
    time("flatindex quantized", 10) {
      idx.quantizedSearch(q, Metric.Cosine, 10, 200)
    }
    time("flatindex hybrid", 10) {
      idx.hybridSearch(q, Metric.Cosine, 10, stages, 200)
    }
    time("flatindex hammingTop only", 10) {
      idx.hammingTop(q, 200, asymmetric = true, Metric.Cosine)
    }
    time("flatindex rerank(200) only", 10) {
      idx.rerank(q, Metric.Cosine,
        idx.hammingTop(q, 200, asymmetric = true, Metric.Cosine).toSet, 10)
    }
    idx.unpersist(); coll.unpersist()
  }

  /** Batch brute-force profile (the *_batch64_perq rows): the
    * multi-distance scan plan vs per-query singles, f32 and bf16.
    * `runMain graft.Microbench batch`. */
  def profileBatch(spark: SparkSession): Unit = {
    val dims = 384
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "100000").toInt
    val config = CollectionConfig("b", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val coll = graft.prepare.Prepare.prepareEmbeddings(
      spark.range(n).select(col("id").cast("string").as("id"),
        col("id").cast("string").as("value"), genUdf(col("id")).as("vector")),
      config).select("id", "value", "vector", "binary_vector").persist()
    coll.count()
    val qs = spark.range(64).select(col("id").cast("string").as("qid"),
      genUdf(col("id") + 1000000L).as("qvector"))
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    Search.flatSearch(coll, config, q, 10).collect() // JIT warmup
    time("flat single", 5) { Search.flatSearch(coll, config, q, 10).collect() }
    time("flat batch64 (whole batch)", 5) {
      Search.flatSearchMany(coll, config, qs, 10, knownNq = 64L).count()
    }
    val bf = graft.prepare.Prepare.withBf16Vector(coll)
      .select("id", "value", "vector_bf16").persist()
    bf.count()
    time("bf16 single", 5) { Search.flatSearchBf16(bf, config, q, 10).collect() }
    time("bf16 batch64 (whole batch)", 5) {
      Search.flatSearchManyBf16(bf, config, qs, 10, knownNq = 64L).count()
    }
    bf.unpersist(); coll.unpersist()
  }

  /** Driver-side HNSW insert-path profile (the per-shard build cost of
    * ShardedHnsw rides on this): `runMain graft.Microbench hnsw [n]`. */
  def profileHnsw(spark: SparkSession, args: Array[String]): Unit = {
    val dims = 384
    val n = args.lift(1).map(_.toInt).getOrElse(20000)
    val config = CollectionConfig("h", dims, Metric.Cosine)
    val rows = (0 until n).map { i =>
      (i.toString, Search.prepareQuery(config, Bench.synthVector(i.toLong, dims)))
    }.sortBy(_._1)
    var g: graft.index.Hnsw = null
    time(s"hnsw insertMany n=$n", 3) {
      g = new graft.index.Hnsw(config.metric, graft.index.Hnsw.Params())
      g.insertMany(rows)
    }
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    time("hnsw search k=10 x100", 5) {
      (0 until 100).foreach(_ => g.search(q, 10))
    }
    println("top3 " + g.search(q, 3).map { case (id, d) => f"$id:$d%.4f" }.mkString(" "))
  }

  /** Vamana vs hnsw driver-side build+search at one shard's shape:
    * `runMain graft.Microbench vamana [n]` (default 12500 ≈ one shard
    * of the bench's 100k corpus at 8 shards). The coded (bf16 arena)
    * variant times beside the f32 one — the memory-halved graph should
    * build and serve at near-parity. */
  def profileVamana(spark: SparkSession, args: Array[String]): Unit = {
    val dims = 384
    val n = args.lift(1).map(_.toInt).getOrElse(12500)
    val config = CollectionConfig("v", dims, Metric.Cosine)
    val rows = (0 until n).map { i =>
      (i.toString, Search.prepareQuery(config, Bench.synthVector(i.toLong, dims)))
    }.sortBy(_._1)
    var h: graft.index.Hnsw = null
    time(s"hnsw insertMany n=$n", 3) {
      h = new graft.index.Hnsw(config.metric, graft.index.Hnsw.Params())
      h.insertMany(rows)
    }
    var g: graft.index.Vamana = null
    time(s"vamana insertMany n=$n", 3) {
      g = new graft.index.Vamana(config.metric, graft.index.Vamana.Params())
      g.insertMany(rows)
    }
    var gc: graft.index.Vamana = null
    time(s"vamana coded insertMany n=$n", 3) {
      gc = new graft.index.Vamana(config.metric,
        graft.index.Vamana.Params(coded = true))
      gc.insertMany(rows)
    }
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))
    time("hnsw search k=10 x100", 5) { (0 until 100).foreach(_ => h.search(q, 10)) }
    time("vamana search k=10 x100", 5) { (0 until 100).foreach(_ => g.search(q, 10)) }
    time("vamana coded search k=10 x100", 5) { (0 until 100).foreach(_ => gc.search(q, 10)) }
    println("vamana top3 " + g.search(q, 3).map { case (id, d) => f"$id:$d%.4f" }.mkString(" "))
  }

  /** md5 spec hash vs MurmurHash3 fast hash for minhash banding over
    * 5k synthetic ~200-token docs: `runMain graft.Microbench minhash`. */
  def profileMinhash(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, udf}
    val gen = udf((id: Long) =>
      (0 until 200).map(w => s"tok${(id * 31 + w * 17) % 4093}w$w").mkString(" "))
    val docs = spark.range(5000)
      .select(col("id"), gen(col("id")).as("text")).persist()
    docs.count()
    // aggregate over the band content so column pruning cannot elide
    // the expression under a bare count()
    import org.apache.spark.sql.functions.{element_at, length, sum}
    for (nh <- Seq(8, 128)) {
      time(s"minhash bands md5 nh=$nh", 3) {
        docs.select(graft.text.TextAnalysis
          .minhashBandKeys(col("text"), 3, nh, nh / 2).as("b"))
          .agg(sum(length(element_at(col("b"), 1)))).collect()
      }
      time(s"minhash bands murmur3 nh=$nh", 3) {
        docs.select(graft.text.TextAnalysis
          .minhashBandKeysFast(col("text"), 3, nh, nh / 2).as("b"))
          .agg(sum(element_at(col("b"), 1) % 1000000L)).collect() // bounded: full-range longs overflow sum
      }
    }
    docs.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MB_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_MB_SHUFFLE", "8"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("query")) {
      // run one (or comma-several) named gate queries in isolation:
      // runMain graft.Microbench query <sfDir> <name>[,<name>...] [reps]
      val dir = args(1)
      val reps = if (args.length > 3) args(3).toInt else 3
      args(2).split(',').foreach { name =>
        time(name, reps) { SparkEntry.queries(name)(spark, dir).collect() }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("oracle")) {
      // print one oracle's rendered SQL (for standalone DuckDB debugging):
      // runMain graft.Microbench oracle <name>
      println(SparkEntry.oracleSql(args(1))); spark.stop(); return
    }
    if (args.headOption.contains("slow")) {
      profileSlow(spark, args(1)); spark.stop(); return
    }
    if (args.headOption.contains("encode")) {
      profileEncode(spark); spark.stop(); return
    }
    if (args.headOption.contains("adc")) {
      profileAdc(spark); spark.stop(); return
    }
    if (args.headOption.contains("funnel")) {
      profileFunnel(spark); spark.stop(); return
    }
    if (args.headOption.contains("minhash")) {
      profileMinhash(spark); spark.stop(); return
    }
    if (args.headOption.contains("hnsw")) {
      profileHnsw(spark, args); spark.stop(); return
    }
    if (args.headOption.contains("vamana")) {
      profileVamana(spark, args); spark.stop(); return
    }
    if (args.headOption.contains("ivfpq_batch")) {
      profileIvfPqBatch(spark, args); spark.stop(); return
    }
    if (args.headOption.contains("ivfwrite")) {
      profileIvfWrite(spark); spark.stop(); return
    }
    if (args.headOption.contains("kernel")) {
      // raw ranking-kernel throughput, single thread:
      // runMain graft.Microbench kernel [dims] [calls]
      val dims = args.lift(1).map(_.toInt).getOrElse(384)
      val calls = args.lift(2).map(_.toInt).getOrElse(500000)
      val rnd = new scala.util.Random(7)
      val a = Array.fill(dims * 64)(rnd.nextFloat() - 0.5f)
      val q = Array.fill(dims)(rnd.nextFloat() - 0.5f)
      var sink = 0.0
      time(s"rankingDistanceOff dot $dims-d x $calls", 5) {
        var i = 0
        while (i < calls) {
          sink += graft.expr.VectorKernels.rankingDistanceOff(
            2, a, (i % 64) * dims, q, 0, dims)
          i += 1
        }
      }
      time(s"rankingDistanceOff l2sq $dims-d x $calls", 5) {
        var i = 0
        while (i < calls) {
          sink += graft.expr.VectorKernels.rankingDistanceOff(
            1, a, (i % 64) * dims, q, 0, dims)
          i += 1
        }
      }
      time(s"rankingDistance(4-chain) dot $dims-d x $calls", 5) {
        var i = 0
        while (i < calls) {
          sink += graft.expr.VectorKernels.rankingDistance(2, q, q)
          i += 1
        }
      }
      println(s"sink=$sink")
      spark.stop(); return
    }
    if (args.headOption.contains("dsir")) {
      profileDsir(spark, args.lift(1).getOrElse("/root/testdata/sf0.1"))
      spark.stop(); return
    }
    if (args.headOption.contains("flatindex")) {
      profileFlatIndex(spark); spark.stop(); return
    }
    if (args.headOption.contains("batch")) {
      profileBatch(spark); spark.stop(); return
    }
    val dims = sys.env.getOrElse("GRAFT_MB_DIMS", "384").toInt
    val n = sys.env.getOrElse("GRAFT_MB_RECORDS", "100000").toInt
    val config = CollectionConfig("b", dims, Metric.Cosine)
    val genUdf = udf((id: Long) => Bench.synthVector(id, dims))
    val raw = spark.range(n).select(col("id").cast("string").as("id"),
      col("id").cast("string").as("value"), genUdf(col("id")).as("vector"))
    val coll = graft.prepare.Prepare.prepareEmbeddings(raw, config)
      .repartition(8).persist()
    println("rows " + coll.count())
    val q = Search.prepareQuery(config, Bench.synthVector(-1L, dims))

    time("count cached", 5) { coll.count() }
    time("count id only", 5) { coll.select("id").count() }
    import graft.functions.VectorFunctions._
    time("scan+distance count", 5) {
      coll.select(vecDistance(Metric.InnerProduct, col("vector"), vecLit(q)).as("raw"))
        .agg(sum("raw")).collect()
    }
    time("flat ip", 5) { Search.flatSearch(coll, config.copy(metric = Metric.InnerProduct, normalize = Some(graft.core.Normalize.None)), q, 10).collect() }
    time("flat cosine", 5) { Search.flatSearch(coll, config, q, 10).collect() }
    time("flat l2", 5) { Search.flatSearch(coll, config.copy(metric = Metric.L2, normalize = Some(graft.core.Normalize.None)), q, 10).collect() }

    // slim cache: only what search needs
    val slim = coll.select("id", "value", "vector").persist()
    println("slim rows " + slim.count())
    time("flat cosine slim", 5) { Search.flatSearch(slim, config, q, 10).collect() }

    // parquet-backed
    slim.write.mode("overwrite").parquet("/tmp/mb_coll")
    val pq = spark.read.parquet("/tmp/mb_coll")
    time("flat cosine parquet", 5) { Search.flatSearch(pq, config, q, 10).collect() }

    // packed-f32 binary layout at rest
    graft.prepare.Prepare.withPackedVector(slim)
      .select("id", "value", "vector_f32")
      .write.mode("overwrite").parquet("/tmp/mb_coll_packed")
    val pqPacked = spark.read.parquet("/tmp/mb_coll_packed")
    time("flat cosine parquet packed", 5) {
      Search.flatSearchPacked(pqPacked, config, q, 10).collect()
    }
    val packedCached = graft.prepare.Prepare.withPackedVector(slim)
      .select("id", "value", "vector_f32").persist()
    packedCached.count()
    time("flat cosine cached packed", 5) {
      Search.flatSearchPacked(packedCached, config, q, 10).collect()
    }

    // FlatIndex acceleration mirror
    val idx = graft.index.FlatIndex.build(slim, config)
    println("index rows " + idx.count())
    time("flatindex cosine single", 10) { idx.search(q, Metric.Cosine, 10) }
    val qs64 = (0 until 64).map(i => i.toString -> Search.prepareQuery(config, Bench.synthVector(1000000L + i, dims))).toArray
    time("flatindex batch64 (all)", 5) { idx.searchMany(qs64, Metric.Cosine, 10) }
    spark.stop()
  }
}
