package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.GraftDb
import graft.core.{CollectionConfig, Metric, Normalize}
import graft.prepare.Prepare
import graft.search.Search

/** Contracts every search form shares: one query check, one reading of
  * a duplicated corpus id, one set of argument rules per single/batch
  * pair, and exact agreement on ties and clamped stages (real
  * embeddings: FlatIndexSpec). */
class SearchContractSpec extends SparkSpec {

  private val querySchema = StructType(Seq(StructField("qid", StringType),
    StructField("qvector", ArrayType(FloatType))))

  private def queryFrame(rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), querySchema)

  private def rootMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  test("every index kind's searchMany rejects a bad query like the single form") {
    val db = new GraftDb(spark)
    val dims = 8
    val rows = (0 until 300).map(i => db.EmbeddingInput(id = f"r$i%03d",
      vector = Array.tabulate(dims)(j => math.sin(i * 0.37 + j * 1.3).toFloat)))
    // a stored vector, so even the cosine-LSH buckets answer it
    val good = rows(17).vector.toSeq
    val bad = Seq(
      "NaN element" -> Row("qbad", good.updated(3, Float.NaN)),
      "NULL element" -> Row("qbad", good.map(Float.box).updated(2, null)),
      "NULL qvector" -> Row("qbad", null),
      "7 dims" -> Row("qbad", good.take(7)))
    val expected = Map(
      "NaN element" -> "vector contains a non-finite value",
      "NULL element" -> "query qbad: qvector contains a NULL element",
      "NULL qvector" -> "query qbad: qvector is NULL",
      "7 dims" -> s"dimension mismatch: query 7, collection $dims")
    val kinds = Seq("flat", "bf16", "hnsw", "vamana", "lsh", "ivf", "ivfbf16",
      "sq8", "pq", "rabitq", "ivfpq", "ivfrabitq")
    val failures = for (kind <- kinds; (input, badRow) <- bad) yield {
      val name = s"badq_$kind"
      if (!db.listCollections().contains(name)) {
        db.createCollection(name, dims, metric = "l2", index = kind)
        db.batch(name, rows)
        // the valid query alone is answered
        assert(db.searchMany(name, queryFrame(Row("qgood", good)), 5).count() > 0, kind)
      }
      val msg = try {
        db.searchMany(name, queryFrame(Row("qgood", good), badRow), 5).collect()
        "no error"
      } catch { case t: Throwable => rootMessage(t) }
      Option.when(msg == null || !msg.contains(expected(input)))(s"$kind / $input: $msg")
    }
    kinds.foreach(k => db.close(s"badq_$k"))
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n"))
  }

  test("duplicated corpus id: each row competes once, single and batch") {
    import spark.implicits._
    val dims = 4
    val config = CollectionConfig("dupid", dims, Metric.L2, normalize = Some(Normalize.None))
    // row i sits at distance growing with i from q; id "d" is on the two
    // nearest rows, whose values tell them apart
    def at(a: Float) = Seq(1 + a, 1 + a / 2, 1 + a / 3, 1 + a / 4)
    val raw = Seq(("d", "d-a", at(0.01f)), ("d", "d-b", at(0.02f))) ++
      (0 until 18).map(i => (f"r$i%02d", f"r$i%02d", at(0.03f + 0.01f * i)))
    val stages = Seq(2, dims)
    val coll = Prepare.withBf16Prefixes(Prepare.prepareEmbeddings(
      raw.toDF("id", "value", "vector"), config), stages, dims).cache()
    val q = Array(1f, 1f, 1f, 1f)
    val qdf = Seq(("q", q.toSeq)).toDF("qid", "qvector")
    val sq8 = graft.ann.Sq8.train(coll)
    val sq8Coded = graft.ann.Sq8.withCodes(coll, sq8).cache()
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 2, k = 8), col("id"))
    val pqCoded = graft.ann.Pq.withCodes(coll, cb).cache()
    val (limit, cand) = (4, 6)
    def values(df: DataFrame, valueAt: Int, distAt: Int): Seq[String] =
      df.collect().sortBy(r => (r.getDouble(distAt), r.getString(valueAt)))
        .map(_.getString(valueAt)).toSeq
    val forms = Seq(
      ("quantized", Search.quantizedSearch(coll, config, q, limit, candidates = cand),
        Search.quantizedSearchMany(coll, config, qdf, limit, candidates = cand)),
      ("funnel", Search.funnelSearch(coll, config, q, limit, stages, cand),
        Search.funnelSearchMany(coll, config, qdf, limit, stages, cand)),
      ("funnel bf16", Search.funnelSearchBf16(coll, config, q, limit, stages, cand),
        Search.funnelSearchManyBf16(coll, config, qdf, limit, stages, cand)),
      ("hybrid", Search.hybridSearch(coll, config, q, limit, candidates = cand),
        Search.hybridSearchMany(coll, config, qdf, limit, candidates = cand)),
      ("sq8", graft.ann.Sq8.search(sq8Coded, config, sq8, q, limit, cand),
        graft.ann.Sq8.searchMany(sq8Coded, config, sq8, qdf, limit, cand)),
      ("pq", graft.ann.Pq.search(pqCoded, config, cb, q, limit, cand),
        graft.ann.Pq.searchMany(pqCoded, config, cb, qdf, limit, cand)))
    for ((form, single, batch) <- forms) {
      val one = values(single, 1, 3)
      assert(one.count(_.startsWith("d-")) === 2, s"$form single: $one")
      assert(values(batch, 2, 4) === one, s"$form batch")
    }
    assert(values(forms.head._2, 1, 3) === Seq("d-a", "d-b", "r00", "r01"))
    Seq(coll, sq8Coded, pqCoded).foreach(_.unpersist())
  }

  test("argument rules: each single form and its batch twin reject alike") {
    import spark.implicits._
    val dims = 4
    val config = CollectionConfig("args", dims, Metric.L2)
    val coll = Prepare.withBf16Prefixes(Prepare.prepareEmbeddings(embeddingRows(
      (0 until 30).map(i => f"a$i%02d" -> Array.tabulate(dims)(j =>
        math.sin(i * 0.5 + j).toFloat))), config), Search.defaultFunnelStages(dims), dims)
    val q = Array(0.3f, -0.2f, 0.9f, 0.1f)
    val qdf = Seq(("q", q.toSeq)).toDF("qid", "qvector")
    val qsets = Seq(("q", Seq(q.toSeq))).toDF("qid", "qvectors")
    val cases: Seq[(String, String, () => DataFrame, () => DataFrame)] = Seq(
      ("quantized candidates < limit", "candidates must be >= limit",
        () => Search.quantizedSearch(coll, config, q, 5, candidates = 2),
        () => Search.quantizedSearchMany(coll, config, qdf, 5, candidates = 2)),
      ("hybrid without generators", "at least one generator",
        () => Search.hybridSearch(coll, config, q, 5, generators = Nil),
        () => Search.hybridSearchMany(coll, config, qdf, 5, generators = Nil)),
      ("funnel limit 0", "limit must be positive",
        () => Search.funnelSearch(coll, config, q, 0),
        () => Search.funnelSearchMany(coll, config, qdf, 0)),
      ("funnel bf16 limit 0", "limit must be positive",
        () => Search.funnelSearchBf16(coll, config, q, 0),
        () => Search.funnelSearchManyBf16(coll, config, qdf, 0)),
      ("quantized limit 0", "limit must be positive",
        () => Search.quantizedSearch(coll, config, q, 0),
        () => Search.quantizedSearchMany(coll, config, qdf, 0)),
      ("MaxSim limit 0", "limit must be positive",
        () => Search.multiVectorSearch(coll, config, Seq(q), 0),
        () => Search.multiVectorSearchMany(coll, config, qsets, 0)),
      ("hybrid limit 0", "limit must be positive",
        () => Search.hybridSearch(coll, config, q, 0),
        () => Search.hybridSearchMany(coll, config, qdf, 0)))
    val failures = for ((name, message, single, batch) <- cases;
        (form, run) <- Seq("single" -> single, "batch" -> batch)) yield {
      val got = try { run().collect(); "no error" } catch {
        case e: IllegalArgumentException => e.getMessage
        case t: Throwable => s"${t.getClass.getSimpleName}: ${t.getMessage}"
      }
      Option.when(!got.contains(message))(s"$name ($form): $got")
    }
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n"))
  }

  test("funnel stages above dims clamp: single and batch == exact flat") {
    import spark.implicits._
    val config = CollectionConfig("clamp", 2, Metric.L2)
    val rows = (0 until 20).map(i => f"v$i%02d" -> Array(i.toFloat, (20 - i).toFloat))
    val coll = Prepare.prepareEmbeddings(embeddingRows(rows), config)
    val q = Array(3.0f, 17.0f)
    val exact = Search.flatSearch(coll, config, q, 5).collect().map(_.getString(0)).toSeq
    val single = Search.funnelSearch(coll, config, q, 5, stages = Seq(1000), candidates = 10)
      .collect().map(_.getString(0)).toSeq
    val batch = Search.funnelSearchMany(coll, config, Seq(("q", q.toSeq)).toDF("qid", "qvector"),
      5, stages = Seq(1000), candidates = 10)
      .collect().sortBy(r => (r.getDouble(4), r.getString(1))).map(_.getString(1)).toSeq
    assert(exact.length === 5)
    assert(single === exact)
    assert(batch === exact)
  }

  test("ties break by ascending id across 7 partitions, single and batch") {
    import spark.implicits._
    val config = CollectionConfig("ties7", 2, Metric.L2)
    val rows = new scala.util.Random(7).shuffle(
      (0 until 50).map(i => f"t$i%02d" -> Array(1.0f, 0.0f)).toList)
    val coll = Prepare.prepareEmbeddings(embeddingRows(rows), config).repartition(7)
    val want = (0 until 10).map(i => f"t$i%02d")
    assert(Search.flatSearch(coll, config, Array(0.0f, 0.0f), 10)
      .collect().map(_.getString(0)).toSeq === want)
    val batch = Search.flatSearchMany(coll, config,
      Seq(("q", Seq(0.0f, 0.0f))).toDF("qid", "qvector"), 10).collect()
    assert(batch.map(_.getString(1)).sorted.toSeq === want)
  }
}
