package graft

import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric, ScoreMode}
import graft.prepare.Prepare
import graft.search.Search

/** Search-operator semantics on the reference's own fixtures
  * (FIXTURES §1, §2, §4). */
class SearchSpec extends SparkSpec {

  private def prep(rows: Seq[(String, Array[Float])], config: CollectionConfig) =
    Prepare.prepareEmbeddings(embeddingRows(rows), config)

  test("axis fixture: cosine top hit score 1.0 distance 0.0 (FIXTURES §1)") {
    val config = CollectionConfig("axes", 2, Metric.Cosine)
    val coll = prep(Seq(
      "right" -> Array(1.0f, 0.0f),
      "up" -> Array(0.0f, 1.0f),
      "left" -> Array(-1.0f, 0.0f)), config)
    val res = Search.flatSearch(coll, config, Array(1.0f, 0.0f), 2).collect()
    assert(res.length === 2)
    assert(res(0).getString(0) === "right")
    assert(res(0).getDouble(2) === 1.0) // score
    assert(res(0).getDouble(3) === 0.0) // distance
    assert(res(1).getString(0) === "up")
  }

  test("range search: distance radius, score threshold, batch form") {
    val config = CollectionConfig("axes", 2, Metric.L2)
    val coll = prep(Seq(
      "a" -> Array(0.0f, 0.0f),
      "b" -> Array(1.0f, 0.0f),
      "c" -> Array(3.0f, 0.0f)), config)
    // radius catches a and b, not c; unordered result, no limit
    val ids = Search.rangeSearch(coll, config, Array(0.0f, 0.0f), radius = 1.5)
      .collect().map(_.getString(0)).toSet
    assert(ids === Set("a", "b"))
    // limit adds the deterministic (rank, id) cut
    val cut = Search.rangeSearch(coll, config, Array(0.0f, 0.0f), 1.5, limit = 1)
      .collect().map(_.getString(0)).toSeq
    assert(cut === Seq("a"))
    // score threshold on cosine = similarity floor
    val cc = CollectionConfig("axes", 2, Metric.Cosine)
    val ccoll = prep(Seq(
      "e" -> Array(1.0f, 0.0f),
      "f" -> Array(1.0f, 0.2f),
      "g" -> Array(-1.0f, 0.0f)), cc)
    val near = Search.rangeSearchByScore(ccoll, cc, Array(1.0f, 0.0f), 0.9)
      .collect().map(_.getString(0)).toSet
    assert(near === Set("e", "f"))
    // batch: each query sees only its own radius matches
    import spark.implicits._
    val qs = Seq(("q0", Seq(0.0f, 0.0f)), ("q1", Seq(3.0f, 0.0f)))
      .toDF("qid", "qvector")
    val many = Search.rangeSearchMany(coll, config, qs, radius = 1.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(many === Set(("q0", "a"), ("q0", "b"), ("q1", "c")))
  }

  test("compat score mode :similarity maps cosine to (raw+1)/2") {
    val config = CollectionConfig("axes", 2, Metric.Cosine, score = ScoreMode.Similarity)
    val coll = prep(Seq("right" -> Array(1f, 0f), "left" -> Array(-1f, 0f)), config)
    val res = Search.flatSearch(coll, config, Array(1f, 0f), 2).collect()
    assert(res(0).getDouble(2) === 1.0)
    assert(res(1).getDouble(2) === 0.0) // cosine -1 -> similarity 0
  }

  test("funnel discrimination: prefix survivor killed by full rerank (FIXTURES §2)") {
    val config = CollectionConfig("f", 3, Metric.L2)
    val coll = prep(Seq(
      "exact" -> Array(1.0f, 0.0f, 0.0f),
      "prefix" -> Array(1.0f, 5.0f, 0.0f),
      "opposite" -> Array(-1.0f, -1.0f, -1.0f)), config)
    val res = Search.funnelSearch(coll, config, Array(1.0f, 0.0f, 0.0f), 1,
      stages = Seq(1), candidates = 2)
    assert(res.collect().map(_.getString(0)).toSeq === Seq("exact"))
  }

  test("quantized discrimination: same-sign-bits candidate loses exact rerank (FIXTURES §2)") {
    val config = CollectionConfig("q", 2, Metric.L2)
    val coll = prep(Seq(
      "exact" -> Array(1.0f, 1.0f),
      "same_bits_far" -> Array(100.0f, 100.0f),
      "opposite" -> Array(-1.0f, -1.0f)), config)
    // binary_vector of "exact" should be [3] (both sign bits set)
    val bv = coll.filter(col("id") === "exact").select("binary_vector").head().getSeq[Long](0)
    assert(bv === Seq(3L))
    val res = Search.quantizedSearch(coll, config, Array(1.0f, 1.0f), 1, candidates = 2)
    assert(res.collect().map(_.getString(0)).toSeq === Seq("exact"))
  }

  test("quantized negative_inner_product: asymmetric candidates follow the flipped rank direction") {
    // exact neg-IP top-1 is the most-OPPOSITE vector; the asymmetric
    // candidate proxy must flip with the metric or a tight candidate
    // budget would keep only direction-similar rows and lose the winner
    val config = CollectionConfig("nip", 2, Metric.NegativeInnerProduct)
    val coll = prep(Seq(
      "aligned" -> Array(1.0f, 1.0f),
      "aligned2" -> Array(2.0f, 2.0f),
      "opposite" -> Array(-3.0f, -3.0f)), config)
    val res = Search.quantizedSearch(coll, config, Array(1.0f, 1.0f), 1, candidates = 1)
    assert(res.collect().map(_.getString(0)).toSeq === Seq("opposite"))
  }

  test("equivalence property: funnel/quantized/hybrid with full candidates == exact flat (FIXTURES §4)") {
    val config = CollectionConfig("grid", 4, Metric.L2)
    val rows = (0 until 64).map { i =>
      f"id-$i%02d" -> Array(i / 10.0f, (i * 7 % 17) / 5.0f, (i * 11 % 19) / 7.0f, (i % 3) / 1.0f)
    }
    val coll = prep(rows, config).cache()
    val q = Array(2.25f, 1.5f, 0.75f, 1.0f)
    val exact = Search.flatSearch(coll, config, q, 10).collect().map(_.getString(0)).toSeq
    val funnel = Search.funnelSearch(coll, config, q, 10, stages = Seq(2, 4), candidates = 64)
      .collect().map(_.getString(0)).toSeq
    val quant = Search.quantizedSearch(coll, config, q, 10, candidates = 64)
      .collect().map(_.getString(0)).toSeq
    val hybrid = Search.hybridSearch(coll, config, q, 10,
      generators = Seq("funnel", "quantized"), candidates = 64, stages = Seq(2, 4))
      .collect().map(_.getString(0)).toSeq
    assert(funnel === exact)
    assert(quant === exact)
    assert(hybrid === exact)
    coll.unpersist()
  }

  test("quantizedSearchMany == per-query quantizedSearch, both scorers") {
    import spark.implicits._
    val config = CollectionConfig("qb", 4, Metric.L2)
    val rows = (0 until 64).map { i =>
      f"id-$i%02d" -> Array(i / 10.0f, (i * 7 % 17) / 5.0f - 1.5f,
        (i * 11 % 19) / 7.0f, (i % 3) / 1.0f - 1.0f)
    }
    val coll = prep(rows, config).cache()
    val qvecs = (0 until 4).map(k =>
      k.toString -> Array(2.25f - k, 1.5f, 0.75f + k * 0.3f, 1.0f - k * 0.7f))
    val qdf = qvecs.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvector")
    for (asym <- Seq(true, false)) {
      val batch = Search.quantizedSearchMany(coll, config, qdf, 5,
        candidates = 12, asymmetric = asym, knownNq = 4L)
        .select("qid", "id").collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      qvecs.foreach { case (qid, v) =>
        val single = Search.quantizedSearch(coll, config, v, 5,
          candidates = 12, asymmetric = asym)
          .collect().map(_.getString(0)).toSet
        assert(batch(qid) === single, s"asym=$asym qid=$qid")
      }
    }
    coll.unpersist()
  }

  test("deterministic ties broken by ascending id across partitions (FIXTURES §8)") {
    val config = CollectionConfig("ties", 2, Metric.L2)
    // many equidistant points, inserted in scrambled order
    val rows = scala.util.Random.shuffle(
      (0 until 40).map(i => f"t$i%02d" -> Array(1.0f, 0.0f)).toList)
    val coll = prep(rows, config)
    val res = Search.flatSearch(coll, config, Array(0.0f, 0.0f), 10)
      .collect().map(_.getString(0)).toSeq
    assert(res === (0 until 10).map(i => f"t$i%02d"))
  }

  test("prepare: mean-of-vectors derivation and value defaulting (FIXTURES §3)") {
    val config = CollectionConfig("mv", 2, Metric.InnerProduct)
    val df = multiVectorRows(Seq("doc" -> Seq(Array(1.0f, 0.0f), Array(0.0f, 1.0f))))
    val out = Prepare.prepareEmbeddings(df, config).collect().head
    assert(out.getAs[String]("value") === "doc")
    assert(out.getAs[Seq[Float]]("vector") === Seq(0.5f, 0.5f))
  }

  test("put_many rejects duplicate ids; delete is copy-on-write (ets.ex:100-111)") {
    val config = CollectionConfig("crud", 2, Metric.L2)
    val coll = prep(Seq("a" -> Array(1f, 0f), "b" -> Array(0f, 1f)), config)
    intercept[IllegalArgumentException] {
      Prepare.putMany(coll, embeddingRows(Seq("a" -> Array(2f, 2f))), config)
    }
    val appended = Prepare.putMany(coll, embeddingRows(Seq("c" -> Array(1f, 1f))), config)
    assert(appended.count() === 3)
    assert(Prepare.deleteIds(appended, Seq("a", "c")).count() === 1)
    assert(Prepare.get(appended, "b").count() === 1)
  }

  test("put_many rejects missing-vector and wrong-dimension rows (collection.ex:1077-1095)") {
    import org.apache.spark.sql.types._
    val config = CollectionConfig("val", 2, Metric.L2)
    val coll = prep(Seq("a" -> Array(1f, 0f)), config)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("vector", ArrayType(FloatType))))
    def frame(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // neither vector nor vectors
    intercept[IllegalArgumentException] {
      Prepare.putMany(coll, frame(Seq(org.apache.spark.sql.Row("novec", null))), config)
    }
    // wrong dimension
    intercept[IllegalArgumentException] {
      Prepare.putMany(coll, frame(Seq(
        org.apache.spark.sql.Row("baddim", Seq(1.0f, 2.0f, 3.0f)))), config)
    }
    // non-finite
    intercept[IllegalArgumentException] {
      Prepare.putMany(coll, frame(Seq(
        org.apache.spark.sql.Row("nan", Seq(Float.NaN, 1.0f)))), config)
    }
  }

  test("topK orders NULL ranks last, never polluting the head") {
    val config = CollectionConfig("nul", 2, Metric.L2)
    val coll = prep(Seq("a" -> Array(1f, 0f), "b" -> Array(0f, 1f)), config)
    val scored = coll.withColumn("rank",
      when(col("id") === "a", lit(null).cast("double")).otherwise(lit(1.0)))
    val top = Search.topK(scored, 1).collect()
    assert(top.head.getAs[String]("id") === "b")
  }

  test("slimTopIds == candidateCut id set: same (rank, id) cut, payload-free") {
    import spark.implicits._
    // many partitions + duplicate rank values force both the tie-break
    // and the per-partition/global merge paths; rank = a deterministic
    // hash so neither ordering nor partitioning is accidentally aligned
    val df = spark.range(997).select(
      col("id").cast("string").as("id"),
      (col("id") * 2654435761L % 97L).cast("double").as("rank"),
      lit("payload").as("value")).repartition(13)
    for (k <- Seq(1, 7, 96, 200, 997, 2000)) {
      val viaCut = Search.candidateCut(df, k).select("id")
        .collect().map(_.getString(0)).toSet
      val viaSlim = Search.slimTopIds(df, col("rank"), k).toSet
      assert(viaSlim === viaCut, s"k=$k")
    }
    // above 64 partitions the fan-in pre-reduction path engages;
    // results must not change
    val wide = df.repartition(80)
    for (k <- Seq(7, 200)) {
      val viaCut = Search.candidateCut(wide, k).select("id")
        .collect().map(_.getString(0)).toSet
      assert(Search.slimTopIds(wide, col("rank"), k).toSet === viaCut, s"wide k=$k")
    }
  }

  test("hybrid search with MaxSim rerank restricts scoring to candidates") {
    val config = CollectionConfig("hmv", 2, Metric.InnerProduct)
    val df = multiVectorRows(Seq(
      "both" -> Seq(Array(1f, 0f), Array(0f, 1f)),
      "x" -> Seq(Array(1f, 0f), Array(1f, 0f)),
      "far" -> Seq(Array(-1f, 0f), Array(0f, -1f))))
    val coll = Prepare.prepareEmbeddings(df, config)
    val res = Search.hybridSearch(coll, config, Array(1f, 1f), 2,
      generators = Seq("quantized"), candidates = 3,
      rerankMultiVector = Some(Seq(Array(1f, 0f), Array(0f, 1f)))).collect()
    assert(res.head.getString(0) === "both")
    assert(res.head.getDouble(2) === 2.0)
    assert(res.forall(_.isNullAt(3))) // MaxSim results carry null distance
  }

  test("funnel widen schedule: geometric keeps, last stage = candidates; widen=1 is flat") {
    assert(Search.funnelKeeps(3, 200, 8) === Seq(12800, 1600, 200))
    assert(Search.funnelKeeps(3, 200, 1) === Seq(200, 200, 200))
    assert(Search.funnelKeeps(1, 50, 8) === Seq(50))
  }

  test("widened funnel recall dominates the fixed-candidates funnel (never worse, same final cut)") {
    val dims = 16
    val config = CollectionConfig("wf", dims, Metric.Cosine)
    val rows = (0 until 2000).map(i => f"w$i%04d" -> Synth.synthVector(i.toLong, dims))
    val coll = prep(rows, config).cache()
    val q = Synth.synthVector(-5L, dims)
    val exact = Search.flatSearch(coll, config, q, 10).collect().map(_.getString(0)).toSet
    def ov(widen: Int): Double = {
      val got = Search.funnelSearch(coll, config, q, 10,
        stages = Seq(dims / 4, dims / 2, dims), candidates = 40, widen = widen)
        .collect().map(_.getString(0)).toSet
      exact.intersect(got).size / 10.0
    }
    val (flat, widened) = (ov(1), ov(8))
    // the widened LAST stage scores full vectors, so its survivors are the
    // exact top-40 of a superset of the flat schedule's stage-1 survivors
    assert(widened >= flat, s"widened=$widened < flat=$flat")
    assert(widened === 1.0) // stage-1 keep 40*64 > corpus => exact
    coll.unpersist()
  }

  test("multi-partition batch search returns per-query top-k") {
    val config = CollectionConfig("batch", 2, Metric.Cosine)
    val coll = prep(Seq(
      "right" -> Array(1f, 0f), "up" -> Array(0f, 1f),
      "left" -> Array(-1f, 0f), "down" -> Array(0f, -1f)), config)
    val qs = embeddingRows(Seq("q1" -> Array(1f, 0f), "q2" -> Array(0f, 1f)))
      .select(col("id").as("qid"), col("vector").as("qvector"))
    val res = Search.flatSearchMany(coll, config, qs, 1).collect()
    val byQ = res.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byQ === Map("q1" -> "right", "q2" -> "up"))
  }

  test("slim-cut guard: semi-join fallback above maxIds keeps results identical") {
    val config = CollectionConfig("guard", 8, Metric.Cosine)
    val rows = (0 until 300).map(i =>
      (f"r$i%04d", Array.tabulate(8)(j => math.sin(i * 31 + j * 7).toFloat)))
    val coll = prep(rows, config).persist()
    val q = Array.tabulate(8)(j => math.cos(j * 3).toFloat)
    def run(): Seq[Seq[(String, Double)]] = Seq(
      Search.funnelSearch(coll, config, q, 5, Seq(2, 4, 8), 40, widen = 2),
      Search.quantizedSearch(coll, config, q, 5, candidates = 40),
      Search.hybridSearch(coll, config, q, 5, candidates = 40))
      .map(_.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq)
    val unguarded = run()
    // candidates=40 > maxIds=10 -> every cut takes the distributed
    // left-semi path; the result sets and ordering must not change
    spark.conf.set("spark.graft.slimcut.maxIds", "10")
    try assert(run() === unguarded)
    finally spark.conf.unset("spark.graft.slimcut.maxIds")
    coll.unpersist()
  }

  test("filterByIds handles non-string id types via the column's catalyst type") {
    val longDf = spark.range(100).select(col("id"),
      (col("id") * 2654435761L % 97L).cast("double").as("rank"))
    val ids = Search.slimTopIds(longDf, col("rank"), 7)
    assert(ids.length === 7)
    val kept = Search.filterByIds(longDf, ids).collect().map(_.getLong(0)).toSet
    assert(kept === ids.map(_.asInstanceOf[Long]).toSet)
    val intDf = spark.range(50).select(col("id").cast("int").as("id"),
      (col("id") % 13).cast("double").as("rank"))
    val intIds = Search.slimTopIds(intDf, col("rank"), 5)
    assert(Search.filterByIds(intDf, intIds).count() === 5)
  }

  test("funnelSearchMany / hybridSearchMany per-query equal the single-query forms") {
    import spark.implicits._
    val config = CollectionConfig("batchfh", 16, Metric.Cosine)
    val rows = (0 until 250).map(i =>
      (f"r$i%04d", Array.tabulate(16)(j => math.sin(i * 13 + j * 5).toFloat)))
    val coll = prep(rows, config).persist()
    val qs = (0 until 3).map(k =>
      (s"q$k", Array.tabulate(16)(j => math.cos(k * 7 + j).toFloat)))
    val qdf = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvector")
    def keyOf(r: org.apache.spark.sql.Row, offset: Int) =
      (r.getString(offset), math.rint(r.getDouble(offset + 2) * 1e9) / 1e9)
    val manyF = Search.funnelSearchMany(coll, config, qdf, 5, candidates = 30,
      knownNq = 3L).collect().groupBy(_.getString(0))
    val manyH = Search.hybridSearchMany(coll, config, qdf, 5, candidates = 30,
      knownNq = 3L).collect().groupBy(_.getString(0))
    for ((qid, v) <- qs) {
      val singleF = Search.funnelSearch(coll, config, v, 5, candidates = 30)
        .collect().map(keyOf(_, 0)).toSet
      assert(manyF(qid).map(keyOf(_, 1)).toSet === singleF, s"funnel $qid")
      val singleH = Search.hybridSearch(coll, config, v, 5, candidates = 30)
        .collect().map(keyOf(_, 0)).toSet
      assert(manyH(qid).map(keyOf(_, 1)).toSet === singleH, s"hybrid $qid")
    }
    // the flat generator too (full-precision batch candidates)
    val manyFlat = Search.hybridSearchMany(coll, config, qdf, 5,
      generators = Seq("flat"), candidates = 30, knownNq = 3L)
      .collect().groupBy(_.getString(0))
    for ((qid, v) <- qs) {
      val single = Search.hybridSearch(coll, config, v, 5,
        generators = Seq("flat"), candidates = 30)
        .collect().map(keyOf(_, 0)).toSet
      assert(manyFlat(qid).map(keyOf(_, 1)).toSet === single, s"flat $qid")
    }
    coll.unpersist()
  }
}
