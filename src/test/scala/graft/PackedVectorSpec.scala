package graft

import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.expr.VectorKernels
import graft.functions.VectorFunctions._
import graft.prepare.Prepare
import graft.search.Search

/** Packed-f32 binary layout: lossless roundtrip and search parity with
  * the array<float> path (including through a parquet roundtrip — the
  * at-rest layout the packing exists for). */
class PackedVectorSpec extends SparkSpec {

  private val dims = 48
  private val config = CollectionConfig("packed", dims, Metric.Cosine)

  private def corpus(n: Int) =
    Prepare.prepareEmbeddings(embeddingRows(
      (0 until n).map(i => i.toString -> Synth.synthVector(i.toLong, dims))), config)

  test("kernel roundtrip is bit-exact, including NaN/Inf and odd dims") {
    val vs = Seq(
      Array(1.5f, -2.25f, Float.MinPositiveValue, 0.0f, -0.0f),
      Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity),
      Array.tabulate(129)(i => (i * 0.37f) - 20f))
    vs.foreach { v =>
      val back = VectorKernels.unpackFloats(VectorKernels.packFloats(v))
      assert(back.length === v.length)
      v.indices.foreach(i =>
        assert(java.lang.Float.floatToRawIntBits(back(i)) ===
          java.lang.Float.floatToRawIntBits(v(i))))
    }
  }

  test("distanceBytes matches distance bit-for-bit for codes 0..4") {
    val a = Synth.synthVector(7L, dims)
    val q = Synth.synthVector(-3L, dims)
    val packed = VectorKernels.packFloats(a)
    (0 to 4).foreach { code =>
      assert(VectorKernels.distanceBytes(code, packed, q) ===
        VectorKernels.distance(code, a, q), s"code $code")
    }
    // fallback codes go through unpack
    assert(VectorKernels.distanceBytes(5, packed, q) ===
      VectorKernels.distance(5, a, q))
  }

  test("packF32/unpackF32 column roundtrip preserves the vector") {
    val df = corpus(32).select(col("id"), col("vector"),
      unpackF32(packF32(col("vector"))).as("back"))
    assert(df.filter(col("vector") =!= col("back")).isEmpty)
  }

  test("flatSearchPacked == flatSearch on cached frames (cosine, l2, ip)") {
    val coll = corpus(500)
    val packed = Prepare.withPackedVector(coll)
      .drop("vector", "vectors", "binary_vector")
    val q = Synth.synthVector(-1L, dims)
    Seq(
      config,
      config.copy(metric = Metric.L2, normalize = Some(graft.core.Normalize.None)),
      config.copy(metric = Metric.InnerProduct, normalize = Some(graft.core.Normalize.None))
    ).foreach { cfg =>
      val exact = Search.flatSearch(coll, cfg, q, 20).collect()
      val viaBytes = Search.flatSearchPacked(packed, cfg, q, 20).collect()
      assert(exact.map(_.getString(0)).toSeq === viaBytes.map(_.getString(0)).toSeq)
      assert(exact.map(_.getDouble(2)).toSeq === viaBytes.map(_.getDouble(2)).toSeq,
        cfg.metric.name)
    }
  }

  test("packed snapshot reloads and serves flatSearchPacked directly") {
    val path = "/tmp/graft_packed_snapshot"
    val coll = corpus(200)
    graft.store.CollectionStore.snapshot(coll, config, path, packed = true)
    val (loaded, cfg) = graft.store.CollectionStore.load(spark, path)
    assert(loaded.columns.contains("vector_f32"))
    val q = Synth.synthVector(-5L, dims)
    val exact = Search.flatSearch(coll, cfg, q, 10).collect()
    val packedRes = Search.flatSearchPacked(loaded, cfg, q, 10).collect()
    assert(exact.map(_.getString(0)).toSeq === packedRes.map(_.getString(0)).toSeq)
    assert(exact.map(_.getDouble(2)).toSeq === packedRes.map(_.getDouble(2)).toSeq)
  }

  test("parity survives a parquet roundtrip of the packed layout") {
    val path = "/tmp/graft_packed_spec"
    Prepare.withPackedVector(corpus(300))
      .select("id", "value", "vector_f32")
      .write.mode("overwrite").parquet(path)
    val onDisk = spark.read.parquet(path)
    val q = Synth.synthVector(-9L, dims)
    val exact = Search.flatSearch(corpus(300), config, q, 10).collect()
    val viaDisk = Search.flatSearchPacked(onDisk, config, q, 10).collect()
    assert(exact.map(_.getString(0)).toSeq === viaDisk.map(_.getString(0)).toSeq)
    assert(exact.map(_.getDouble(2)).toSeq === viaDisk.map(_.getDouble(2)).toSeq)
  }

  test("bf16 kernel: RNE rounding semantics, specials, distance == decoded distance") {
    // hand values: exactly-representable stay exact; RNE rounds ties to even
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(1.0f)) === 1.0f)
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(-2.5f)) === -2.5f)
    // 1 + 2^-9 sits exactly between bf16 neighbors 1.0 and 1+2^-8 -> even (1.0)
    val tie = java.lang.Float.intBitsToFloat(0x3F808000)
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(tie)) === 1.0f)
    // just above the tie rounds up
    val aboveTie = java.lang.Float.intBitsToFloat(0x3F808001)
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(aboveTie)) ===
      java.lang.Float.intBitsToFloat(0x3F810000))
    // specials survive: NaN stays NaN (never rounds to infinity), infs/zeros exact
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(Float.NaN)).isNaN)
    val nearInfNaN = java.lang.Float.intBitsToFloat(0x7F80FFFF) // NaN w/ low payload
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(nearInfNaN)).isNaN)
    assert(VectorKernels.bf16BitsToF32(VectorKernels.f32ToBf16Bits(
      Float.PositiveInfinity)) === Float.PositiveInfinity)
    assert(java.lang.Float.floatToRawIntBits(VectorKernels.bf16BitsToF32(
      VectorKernels.f32ToBf16Bits(-0.0f))) === java.lang.Float.floatToRawIntBits(-0.0f))
    // error bound: relative error <= 2^-8 per element
    val v = Array.tabulate(257)(i => (math.sin(i * 0.7) * math.pow(10, i % 7 - 3)).toFloat)
    val back = VectorKernels.unpackBf16(VectorKernels.packBf16(v))
    v.indices.foreach { i =>
      if (v(i) != 0f)
        assert(math.abs((back(i) - v(i)) / v(i)) <= math.pow(2, -8), s"i=$i")
    }
    // distanceBf16 == distance over the DECODED values, all codes
    val a = Synth.synthVector(7L, dims)
    val q = Synth.synthVector(-3L, dims)
    val packed = VectorKernels.packBf16(a)
    val decoded = VectorKernels.unpackBf16(packed)
    (0 to 9).foreach { code =>
      assert(VectorKernels.distanceBf16(code, packed, q) ===
        VectorKernels.distance(code, decoded, q), s"code $code")
    }
  }

  test("bf16 layout: column roundtrip, search parity with rounded corpus, high overlap vs f32") {
    val coll = corpus(400)
    // column roundtrip equals the kernel rounding
    val rt = Prepare.withBf16Vector(coll)
      .select(col("vector"), unpackBf16(col("vector_bf16")).as("back"))
      .collect()
    rt.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      assert(r.getSeq[Float](1).toArray.toSeq ===
        VectorKernels.unpackBf16(VectorKernels.packBf16(v)).toSeq)
    }
    // through parquet: flatSearchBf16 == flatSearch over the decoded corpus
    val path = "/tmp/graft_bf16_spec"
    Prepare.withBf16Vector(coll).select("id", "value", "vector_bf16")
      .write.mode("overwrite").parquet(path)
    val onDisk = spark.read.parquet(path)
    val q = Synth.synthVector(-9L, dims)
    val viaBf16 = Search.flatSearchBf16(onDisk, config, q, 10).collect()
    val roundedCorpus = onDisk.select(col("id"), col("value"),
      unpackBf16(col("vector_bf16")).as("vector"))
    val viaDecoded = Search.flatSearch(roundedCorpus, config, q, 10).collect()
    assert(viaBf16.map(_.getString(0)).toSeq === viaDecoded.map(_.getString(0)).toSeq)
    assert(viaBf16.map(_.getDouble(2)).toSeq === viaDecoded.map(_.getDouble(2)).toSeq)
    // ranking vs full-precision: top-10 overlap stays high (pins the
    // documented near-identical-ranking claim on this corpus shape)
    val exact = Search.flatSearch(coll, config, q, 10).collect()
      .map(_.getString(0)).toSet
    val got = viaBf16.map(_.getString(0)).toSet
    assert(exact.intersect(got).size >= 9, s"overlap ${exact.intersect(got).size}")
    // batch form: per-query results equal the single-query bf16 search
    import spark.implicits._
    val qs = Seq(("q0", Synth.synthVector(-9L, dims).toSeq),
      ("q1", Synth.synthVector(-4L, dims).toSeq)).toDF("qid", "qvector")
    val many = Search.flatSearchManyBf16(onDisk, config, qs, 5)
      .collect().groupBy(_.getString(0))
    for ((qid, v) <- Seq("q0" -> Synth.synthVector(-9L, dims),
        "q1" -> Synth.synthVector(-4L, dims))) {
      val single = Search.flatSearchBf16(onDisk, config, v, 5)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
      assert(many(qid).map(r => (r.getString(1), r.getDouble(3))).toSet === single,
        s"bf16 batch $qid")
    }
    // SQL surface round trip: raw cosine of a (normalized) vector with
    // its own bf16-decoded self is ~1
    graft.GraftExtensions.register(spark)
    coll.createOrReplaceTempView("bf16_coll")
    val sqlTop = spark.sql(
      """SELECT id, vec_bf16_distance('cosine', vec_pack_bf16(vector),
        |  vec_unpack_bf16(vec_pack_bf16(vector))) AS d FROM bf16_coll LIMIT 3""".stripMargin)
      .collect()
    assert(sqlTop.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-2))
  }

  test("bf16 prefix funnel: works f32-free off the prefixed layout, equivalence at full candidates") {
    val coll = corpus(300)
    val stages = Search.defaultFunnelStages(dims)
    val path = "/tmp/graft_bf16_funnel_spec"
    // the at-rest layout: prefix columns + full bf16, NO f32 column
    Prepare.withBf16Prefixes(coll, stages, dims).drop("vector")
      .write.mode("overwrite").parquet(path)
    val onDisk = spark.read.parquet(path)
    assert(!onDisk.columns.contains("vector"))
    val q = Synth.synthVector(-9L, dims)
    // candidates >= corpus: every cut is an identity -> exactly flatSearchBf16
    val full = Search.funnelSearchBf16(onDisk, config, q, 10, candidates = 300)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    val flat = Search.flatSearchBf16(onDisk, config, q, 10)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(full === flat, "bf16 funnel at full candidates != bf16 flat")
    // default operating point: high overlap with the exact rounded top-10
    val approx = Search.funnelSearchBf16(onDisk, config, q, 10)
      .collect().map(_.getString(0)).toSet
    assert(flat.map(_._1).toSet.intersect(approx).size >= 8,
      s"bf16 funnel overlap ${flat.map(_._1).toSet.intersect(approx).size}")
    // distributed (above-maxIds) path agrees with the collect path
    spark.conf.set("spark.graft.slimcut.maxIds", "5")
    try {
      val dist = Search.funnelSearchBf16(onDisk, config, q, 10)
        .collect().map(_.getString(0)).toSeq
      spark.conf.unset("spark.graft.slimcut.maxIds")
      val inset = Search.funnelSearchBf16(onDisk, config, q, 10)
        .collect().map(_.getString(0)).toSeq
      assert(dist === inset, "distributed bf16 funnel != InSet path")
    } finally spark.conf.unset("spark.graft.slimcut.maxIds")
    // non-cosine code path (l2 prefix kernel) + missing-column guard
    val l2cfg = CollectionConfig("packed_l2", dims, Metric.L2)
    val l2coll = Prepare.prepareEmbeddings(embeddingRows(
      (0 until 120).map(i => i.toString -> Synth.synthVector(i + 900L, dims))), l2cfg)
    val l2Layout = Prepare.withBf16Prefixes(l2coll, stages, dims)
    val l2Full = Search.funnelSearchBf16(l2Layout, l2cfg, q, 5, candidates = 120)
      .collect().map(_.getString(0)).toSeq
    val l2Flat = Search.flatSearchBf16(l2Layout, l2cfg, q, 5)
      .collect().map(_.getString(0)).toSeq
    assert(l2Full === l2Flat)
    val e = intercept[IllegalArgumentException] {
      Search.funnelSearchBf16(Prepare.withBf16Vector(coll), config, q, 10)
    }
    assert(e.getMessage.contains("prefix column"))
  }

  test("bf16 batch funnel: per-query results equal the single-query form, f32-free") {
    val coll = corpus(300)
    val stages = Search.defaultFunnelStages(dims)
    val path = "/tmp/graft_bf16_funnel_many_spec"
    Prepare.withBf16Prefixes(coll, stages, dims).drop("vector")
      .write.mode("overwrite").parquet(path)
    val onDisk = spark.read.parquet(path)
    assert(!onDisk.columns.contains("vector"))
    import spark.implicits._
    val qvecs = Seq("q0" -> Synth.synthVector(-9L, dims),
      "q1" -> Synth.synthVector(-4L, dims),
      "q2" -> Synth.synthVector(-15L, dims))
    val qs = qvecs.map { case (k, v) => (k, v.toSeq) }.toDF("qid", "qvector")
    val many = Search.funnelSearchManyBf16(onDisk, config, qs, 5,
      candidates = 40, knownNq = 3L).collect().groupBy(_.getString(0))
    for ((qid, v) <- qvecs) {
      val single = Search.funnelSearchBf16(onDisk, config, v, 5, candidates = 40)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
      assert(many(qid).map(r => (r.getString(1), r.getDouble(3))).toSet === single,
        s"bf16 batch funnel $qid")
    }
    // candidates >= corpus: the batch funnel degenerates to batch flat bf16
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3))).sortBy(t => (t._1, t._3, t._2)).toSeq
    assert(keys(Search.funnelSearchManyBf16(onDisk, config, qs, 5,
        candidates = 300, knownNq = 3L)) ===
      keys(Search.flatSearchManyBf16(onDisk, config, qs, 5, knownNq = 3L)),
      "bf16 batch funnel at full candidates != bf16 batch flat")
  }
}
