package graft

import org.apache.spark.sql.functions._

import graft.api.GraftDb
import graft.core.{CollectionConfig, Metric, Normalize}
import graft.prepare.Prepare
import graft.search.Search

/** Degenerate-input behavior: empty collections, limits beyond the
  * corpus, single-row corpora — every search path must return cleanly,
  * never throw. */
class EdgeCaseSpec extends SparkSpec {

  private val dims = 4
  private val config = CollectionConfig("edge", dims, Metric.Cosine)

  private def corpus(n: Int) =
    Prepare.prepareEmbeddings(embeddingRows(
      (0 until n).map(i => i.toString -> Synth.synthVector(i.toLong, dims))), config)

  test("every search operator returns empty on an empty collection") {
    val empty = corpus(0)
    val q = Synth.synthVector(-1L, dims)
    assert(Search.flatSearch(empty, config, q, 5).count() === 0)
    assert(Search.funnelSearch(empty, config, q, 5,
      stages = Seq(2, 4), candidates = 10).count() === 0)
    assert(Search.quantizedSearch(empty, config, q, 5, candidates = 10).count() === 0)
    assert(Search.hybridSearch(empty, config, q, 5, candidates = 10).count() === 0)
    assert(Search.multiVectorSearch(empty, config, Seq(q), 5).count() === 0)
    val packed = Prepare.withPackedVector(empty)
    assert(Search.flatSearchPacked(packed, config, q, 5).count() === 0)
  }

  test("batch quantized, TF vectors, cluster mix on empty/tiny inputs") {
    import spark.implicits._
    val q = Synth.synthVector(-1L, dims)
    // empty collection, non-empty queries -> zero result rows
    val qdf = Seq(("q0", q.toSeq)).toDF("qid", "qvector")
    assert(Search.quantizedSearchMany(corpus(0), config, qdf, 5,
      candidates = 10, knownNq = 1L).count() === 0)
    // single-row corpus: every query finds the row
    assert(Search.quantizedSearchMany(corpus(1), config, qdf, 5,
      candidates = 10, knownNq = 1L).count() === 1)
    // hashing-TF of empty / whitespace-only text: the single empty token
    // lands in one bucket (tokenization parity with wordCount)
    val tf = Seq(("a", ""), ("b", "   ")).toDF("id", "text")
      .select(col("id"), graft.text.TextAnalysis.hashingTfVector(col("text"), 8).as("v"))
      .collect().map(r => (r.getString(0), r.getSeq[Float](1)))
    tf.foreach { case (id, v) =>
      assert(v.sum === 1.0f, s"id=$id -> $v")
    }
    // cluster mix with a single centroid: fraction 1.0 keeps all rows
    val df3 = corpus(3).select("id", "vector")
    val oneCent = Array(Synth.synthVector(0L, dims))
    assert(graft.functions.Sampling.clusterProportionalSample(
      df3, "id", "vector", oneCent, Seq(0 -> 1.0)).count() === 3)
  }

  test("limit larger than the corpus returns the whole corpus, ordered") {
    val coll = corpus(3)
    val q = Synth.synthVector(-1L, dims)
    val res = Search.flatSearch(coll, config, q, 100).collect()
    assert(res.length === 3)
    // still rank-ordered with id tie-break
    val ranks = res.map(_.getDouble(3))
    assert(ranks.sorted.toSeq === ranks.toSeq)
  }

  test("single-row corpus works through funnel/quantized/hybrid") {
    val coll = corpus(1)
    val q = Synth.synthVector(-1L, dims)
    assert(Search.funnelSearch(coll, config, q, 5,
      stages = Seq(2, 4), candidates = 10).count() === 1)
    assert(Search.quantizedSearch(coll, config, q, 5, candidates = 10).count() === 1)
    assert(Search.hybridSearch(coll, config, q, 5, candidates = 10).count() === 1)
  }

  test("batch funnel/hybrid edges: empty corpus, empty queries, single row, candidates >= corpus") {
    import spark.implicits._
    val q = Synth.synthVector(-1L, dims)
    val qdf = Seq(("q0", q.toSeq)).toDF("qid", "qvector")
    val emptyQ = Seq.empty[(String, Seq[Float])].toDF("qid", "qvector")
    // empty corpus, non-empty queries -> zero rows (the heap-cut global
    // aggregate over ZERO input rows yields one empty-buffer row whose
    // explode is empty — for flat and maxsim too)
    assert(Search.flatSearchMany(corpus(0), config, qdf, 5,
      knownNq = 1L).count() === 0)
    assert(Search.quantizedSearchMany(corpus(0), config, qdf, 5,
      candidates = 10, knownNq = 1L).count() === 0)
    assert(Search.multiVectorSearchMany(corpus(0), config,
      Seq(("q0", Seq(q.toSeq))).toDF("qid", "qvectors"), 5).count() === 0)
    assert(Search.funnelSearchMany(corpus(0), config, qdf, 5,
      stages = Seq(2, 4), candidates = 10, knownNq = 1L).count() === 0)
    assert(Search.hybridSearchMany(corpus(0), config, qdf, 5,
      candidates = 10, knownNq = 1L).count() === 0)
    // non-empty corpus, empty query frame -> zero rows
    assert(Search.funnelSearchMany(corpus(3), config, emptyQ, 5,
      stages = Seq(2, 4), candidates = 10, knownNq = 0L).count() === 0)
    assert(Search.hybridSearchMany(corpus(3), config, emptyQ, 5,
      candidates = 10, knownNq = 0L).count() === 0)
    // single-row corpus answers every query with its one row
    assert(Search.funnelSearchMany(corpus(1), config, qdf, 5,
      stages = Seq(2, 4), candidates = 10, knownNq = 1L).count() === 1)
    assert(Search.hybridSearchMany(corpus(1), config, qdf, 5,
      candidates = 10, knownNq = 1L).count() === 1)
    // candidates >= corpus degenerates to exact batch flat per query
    val coll = corpus(20)
    val exact = Search.flatSearchMany(coll, config, qdf, 5)
      .collect().map(r => (r.getString(1), r.getDouble(3))).toSet
    val fun = Search.funnelSearchMany(coll, config, qdf, 5,
      stages = Seq(2, 4), candidates = 100, knownNq = 1L)
      .collect().map(r => (r.getString(1), r.getDouble(3))).toSet
    assert(fun === exact)
  }

  test("facade on an empty collection: search empty, count 0, get None") {
    val db = new GraftDb(spark)
    db.createCollection("edge_empty", dims, metric = "cosine")
    assert(db.count("edge_empty") === 0)
    assert(db.get("edge_empty", "nope").isEmpty)
    assert(db.search("edge_empty", Synth.synthVector(-1L, dims), 5).count() === 0)
    assert(db.similaritySearch("edge_empty", Synth.synthVector(-1L, dims), 5).isEmpty)
    db.close("edge_empty")
  }

  test("hnsw graph: empty search, delete-to-empty, re-insert") {
    val g = new graft.index.Hnsw(Metric.Cosine, graft.index.Hnsw.Params())
    assert(g.search(Array(1f, 0f, 0f, 0f), 5).isEmpty)
    g.insert("a", Array(1f, 0f, 0f, 0f))
    g.insert("b", Array(0f, 1f, 0f, 0f))
    g.delete("a"); g.delete("b")
    assert(g.size === 0)
    assert(g.search(Array(1f, 0f, 0f, 0f), 5).isEmpty)
    g.insert("c", Array(0f, 0f, 1f, 0f))
    assert(g.search(Array(0f, 0f, 1f, 0f), 1).map(_._1) === Seq("c"))
  }

  test("dedup on an empty frame yields no pairs, no clusters") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("id", "text")
    assert(graft.dedup.Dedup.minhashVerifiedPairs(
      empty, "id", $"text", 3, 8, 4, 0.5).count() === 0)
    assert(graft.dedup.Dedup.clusters(empty.select($"id"), "id",
      Seq.empty[(String, String)].toDF("id_a", "id_b")).count() === 0)
  }

  test("curation edge cases: empty bench, non-binding cap, oversize bin, empty stratum") {
    import spark.implicits._
    import graft.functions.Sampling
    // contamination vs an EMPTY eval set: every doc reports 0.0
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "more words here too")).toDF("doc_id", "text")
    val emptyBench = Seq.empty[String].toDF("text")
    val rep = graft.text.TextAnalysis.contaminationReport(docs, emptyBench, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rep(1L) === ((0L, 0.0)) && rep(2L) === ((0L, 0.0)))
    // cap larger than every group: identity
    val src = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    assert(Sampling.capPerGroup(src, "g", 10, Seq(col("id"))).count() === 3)
    // bin larger than the whole stream: everything lands in bin 0
    val toks = Seq((1L, 5L), (2L, 7L)).toDF("id", "n")
    val packed = Sampling.packSequences(toks, col("id"), "n", binSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(5)))
    assert(packed.forall { case (_, bin, endBin) => bin === 0L && endBin === 0L })
    // stratum absent from the data: sample is just the listed strata's rows
    val strat = Sampling.stratifiedSampleByHash(src, "id", "g",
      Seq("zz" -> 1.0), defaultFraction = 0.0, salt = "s")
    assert(strat.count() === 0)
  }

  test("round-10 edges: bm25 empty/zero-match, range radius 0, knn k>n, nb one class, lm empty, spans tiny") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    import graft.text.{Bm25, NaiveBayes, NgramLm}
    import graft.ann.KnnGraph
    import graft.functions.Sampling

    // BM25: empty corpus -> empty result, no NaN explosion
    val empty = Seq.empty[(Int, String)].toDF("id", "text")
    assert(Bm25.topK(empty, "id", "text", Seq("x"), 5).count() === 0)
    // no doc matches -> empty (score-0 rows filtered)
    val noHit = Seq((1, "aa bb"), (2, "cc dd")).toDF("id", "text")
    assert(Bm25.topK(noHit, "id", "text", Seq("zz"), 5).count() === 0)

    // range search: epsilon radius keeps the (re-normalized) self only
    // — self-distance is ~1e-8, not exactly 0, because prepareQuery
    // re-normalizes and f32 storage drifts a ulp
    val c3 = corpus(3)
    val q0 = c3.filter(org.apache.spark.sql.functions.col("id") === "0")
      .select("vector").head.getSeq[Float](0).toArray
    val r0 = graft.search.Search.rangeSearch(c3, config, q0, radius = 1e-6)
      .collect().map(_.getString(0)).toSeq
    assert(r0 === Seq("0"))
    assert(graft.search.Search.rangeSearch(c3, config, q0, radius = 0.0)
      .count() <= 1) // 0 or the self row, never a non-match

    // knn: k larger than n-1 returns all others, no padding
    val g = KnnGraph.exact(corpus(3), config, k = 10)
    assert(g.count() === 6) // 3 rows x 2 others

    // naive bayes: single-class training predicts that class for anything
    val nb = NaiveBayes.train(Seq((1, "a b", "only")).toDF("id", "text", "label"),
      "id", "text", "label")
    val p = NaiveBayes.predict(nb, Seq((9, "zz")).toDF("id", "text"), "id", "text")
      .head
    assert(p.getString(1) === "only")
    assert(p.getDouble(2) === 0.0) // ln(1/1) prior, no in-vocab tokens

    // ngram lm: empty string scores null, not a crash
    val lm = NgramLm.train(Seq((1, "a b c")).toDF("id", "text"), "id", "text")
    val sc = NgramLm.score(lm, Seq((2, "")).toDF("id", "text"), "id", "text").head
    assert(sc.isNullAt(2))

    // shared spans: corpus where every doc is shorter than the window ->
    // nothing flagged, texts unchanged
    val tiny = Seq(("x", "a b"), ("y", "a b")).toDF("id", "text")
    val spans = graft.dedup.Dedup.dropSharedSpans(tiny, "id",
      org.apache.spark.sql.functions.col("text"), spanTokens = 5)
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(spans.forall { case (b, a) => b === a })

    // temperature sampling: one group == plain fractional sampling
    val one = (0 until 100).map(i => (i, "g")).toDF("id", "grp")
    val ts = Sampling.temperatureSample(one, "id", "grp", 3.0, 0.4, "s")
    val plain = Sampling.sampleByHash(one, "id", 0.4, "s")
    assert(ts.select("id").collect().map(_.getInt(0)).toSet ===
      plain.select("id").collect().map(_.getInt(0)).toSet)
  }

  test("round-11 edges: empty coreset, drift guards, funnel no-step-1, retention empty, pagerank no edges") {
    import spark.implicits._
    import graft.streaming.EventStreams
    // coreset on an empty frame: empty result, correct schema, no throw
    val emptyVec = Seq.empty[(String, Seq[Float])].toDF("id", "vector")
    val ks = graft.functions.Coreset.kCenterGreedy(emptyVec, "id", "vector", 3)
    assert(ks.count() === 0)
    assert(ks.columns.toSeq === Seq("id", "pick_order", "center_distance"))
    // psi: all-null or constant reference is a loud error, not NaN soup
    val refNull = Seq.empty[Double].toDF("x")
    intercept[IllegalArgumentException] {
      graft.functions.Drift.psi(refNull, Seq(1.0).toDF("x"), "x")
    }
    intercept[IllegalArgumentException] {
      graft.functions.Drift.psi(Seq(5.0, 5.0).toDF("x"), Seq(1.0).toDF("x"), "x")
    }
    // funnel: users without a step-1 event are absent; empty input -> empty
    val noView = Seq((1L, "click", 10L), (1L, "purchase", 20L))
      .toDF("user_id", "event_type", "ts")
    assert(EventStreams.funnelSteps(noView,
      Seq("view", "click", "purchase"), 100L).count() === 0)
    // retention on an empty frame: empty triangle
    val noEv = Seq.empty[(Long, Long)].toDF("user_id", "ts")
    assert(EventStreams.retentionCohorts(noEv).count() === 0)
    // pagerank with no edges: no nodes, empty frame (no division blowup)
    val noEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.graph.GraphOps.pageRank(noEdges, 3).count() === 0)
    // weighted sample on an all-degenerate-weight frame: empty
    val degen = Seq((1L, 0.0), (2L, -5.0)).toDF("id", "w")
    assert(graft.functions.Sampling.weightedSample(degen, "id", col("w"), 5)
      .count() === 0)
  }

  test("round-11b edges: empty frames through zscore/paths/bins/balance; blocklist guard") {
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.functions.Sampling
    val noEv = Seq.empty[(Long, Long, Long, Double)]
      .toDF("event_id", "user_id", "ts", "value")
    assert(EventStreams.rollingZScore(noEv, k = 4).count() === 0)
    assert(EventStreams.userActivityFeatures(noEv).count() === 0)
    val noTyped = Seq.empty[(Long, String, Long)]
      .toDF("user_id", "event_type", "ts")
    assert(EventStreams.topSessionPaths(noTyped, 60L, 5).count() === 0)
    // quantile bins on an empty frame: no rows, no division blowup
    val noDocs = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(Sampling.quantileBin(noDocs, col("v"), nBins = 4).count() === 0)
    // split balance on an empty frame still reports every expected
    // split (n = 0) instead of vanishing
    val bal = Sampling.splitBalanceCheck(
      Seq.empty[String].toDF("split"), "split", Seq("a" -> 1.0, "b" -> 1.0))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bal === Map("a" -> 0L, "b" -> 0L))
    // empty blocklist is a loud error, not a silent all-pass
    intercept[IllegalArgumentException] {
      graft.text.TextAnalysis.blocklistHits(col("text"), Nil)
    }
  }

  test("a malformed numeric spark.graft option names its key and value") {
    import spark.implicits._
    val qdf = Seq(("q0", Synth.synthVector(-1L, dims).toSeq)).toDF("qid", "qvector")
    spark.conf.set("spark.graft.batch.broadcastHandles", "lots")
    try {
      val e = intercept[IllegalArgumentException](
        Search.flatSearchMany(corpus(3), config, qdf, 2, knownNq = 1L).collect())
      assert(e.getMessage.startsWith("spark.graft.batch.broadcastHandles: cannot parse 'lots'"),
        e.getMessage)
    } finally spark.conf.unset("spark.graft.batch.broadcastHandles")
    spark.conf.set("spark.graft.ids.maxLocalRows", "1e4")
    try {
      val e = intercept[IllegalArgumentException](graft.functions.Sampling
        .withSequentialIds(Seq("b", "a").toDF("id"), col("id")).collect())
      assert(e.getMessage.startsWith("spark.graft.ids.maxLocalRows: cannot parse '1e4'"),
        e.getMessage)
    } finally spark.conf.unset("spark.graft.ids.maxLocalRows")
    // accepted values are unchanged
    spark.conf.set("spark.graft.ids.maxLocalRows", "0")
    try {
      val ids = graft.functions.Sampling.withSequentialIds(Seq("b", "a").toDF("id"), col("id"))
        .orderBy("seq_id").collect().map(_.getString(0))
      assert(ids.toSeq === Seq("a", "b"))
    } finally spark.conf.unset("spark.graft.ids.maxLocalRows")
  }

  test("batch searches validate every query like the single-query forms; flatSearchMany needs limit > 0") {
    val coll = Prepare.withBf16Vector(corpus(6))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qvector",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def batch(v: Seq[Any]) = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("ok", Synth.synthVector(1L, dims).toSeq),
      org.apache.spark.sql.Row("bad", v)), schema)
    val forms: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "flat" -> (q => Search.flatSearchMany(coll, config, q, 2)),
      "bf16" -> (q => Search.flatSearchManyBf16(coll, config, q, 2)),
      "quantized" -> (q => Search.quantizedSearchMany(coll, config, q, 2)),
      "funnel" -> (q => Search.funnelSearchMany(coll, config, q, 2, stages = Seq(2, 4))),
      "hybrid" -> (q => Search.hybridSearchMany(coll, config, q, 2, stages = Seq(2, 4))))
    val bad: Seq[(Seq[Any], String)] = Seq(
      (Seq(1f, Float.NaN, 0f, 0f), "vector contains a non-finite value"),
      (Seq(1f, Float.PositiveInfinity, 0f, 0f), "vector contains a non-finite value"),
      (null, "query bad: qvector is NULL"),
      (Seq(1f, null, 0f, 0f), "query bad: qvector contains a NULL element"),
      (Seq(1f, 0f), "dimension mismatch: query 2, collection 4"))
    for ((form, run) <- forms; (v, msg) <- bad) {
      val e = intercept[IllegalArgumentException](run(batch(v)).collect())
      assert(e.getMessage.contains(msg), s"$form: ${e.getMessage}")
    }
    // the single-query form's message for the same NaN query
    val single = intercept[IllegalArgumentException](
      Search.flatSearch(coll, config, Array(1f, Float.NaN, 0f, 0f), 2).collect())
    assert(single.getMessage.contains("vector contains a non-finite value"))
    val good = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("ok", Synth.synthVector(1L, dims).toSeq)), schema)
    for (limit <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        Search.flatSearchMany(coll, config, good, limit).collect())
      assert(e.getMessage.contains("limit must be positive"), s"limit $limit")
    }
  }

  test("a bad query batch throws the same errors read from local rows and from parquet") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val coll = corpus(6)
    val schema = StructType(Seq(StructField("qid", StringType),
      StructField("qvector", ArrayType(FloatType))))
    val bad: Seq[(Seq[Any], String)] = Seq(
      (null, "query bad: qvector is NULL"),
      (Seq(1f, null, 0f, 0f), "query bad: qvector contains a NULL element"),
      (Seq(1f, 0f), "dimension mismatch: query 2, collection 4"),
      (Seq(1f, Float.NaN, 0f, 0f), "vector contains a non-finite value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bad_queries").toString
    for (((v, msg), i) <- bad.zipWithIndex) {
      val local = spark.createDataFrame(java.util.Arrays.asList(
        Row("ok", Synth.synthVector(1L, dims).toSeq), Row("bad", v)), schema)
      assert(local.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val path = s"$dir/batch$i"
      local.write.parquet(path)
      val stored = spark.read.parquet(path)
      val errors = Seq(local, stored).map(q => intercept[IllegalArgumentException](
        Search.flatSearchMany(coll, config, q, 2).collect()).getMessage)
      assert(errors.forall(_.contains(msg)), errors.mkString(" / "))
      assert(errors.distinct.size === 1, errors.mkString(" / "))
    }
  }
}
