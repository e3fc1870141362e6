package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api.GraftDb
import graft.core.{CollectionConfig, Metric}
import graft.search.Search

/** The flat index is the cached collection frame: its batch forms
  * (`Search.*SearchMany`, cut by `BatchTopKExec`) must agree exactly
  * with the single-query DataFrame operators on real embeddings — same
  * ids, same raw values, same tie order — through `Search` and through
  * a `flat` `GraftDb` collection alike. */
class FlatIndexSpec extends SparkSpec {

  private lazy val sfDir = "/root/testdata/sf0.001"

  private val querySchema = StructType(Seq(StructField("qid", StringType),
    StructField("qvector", ArrayType(FloatType))))

  private def queries(qids: Seq[Long])
      : (Seq[(String, Array[Float])], DataFrame) = {
    val raw = qids.map(i => i.toString -> Tables.queryVector(spark, sfDir, i))
    val qdf = spark.createDataFrame(java.util.Arrays.asList(
      raw.map { case (qid, v) => Row(qid, v.toSeq) }: _*), querySchema)
    (raw, qdf)
  }

  /** A batch result per qid, in rank order (distance, then id). */
  private def byQid(df: DataFrame): Map[String, Seq[(String, Double)]] =
    df.collect().groupBy(_.getString(0)).view.mapValues(_.toSeq
      .sortBy(r => (r.getDouble(4), r.getString(1)))
      .map(r => (r.getString(1), r.getDouble(3)))).toMap

  private def ranked(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(2))).toSeq

  test("FlatIndex == DataFrame flat search on real embeddings, all metrics") {
    val d = Tables.dims(spark, sfDir)
    for (metric <- Seq(Metric.Cosine, Metric.L2, Metric.InnerProduct, Metric.Manhattan)) {
      val config = CollectionConfig("e", d, metric)
      val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
      val (raw, qdf) = queries(0L until 4L)
      val flat = byQid(Search.flatSearchMany(coll, config, qdf, 10))
      raw.foreach { case (qid, v) =>
        assert(flat(qid) === ranked(Search.flatSearch(coll, config, v, 10)),
          s"flat ${metric.name} $qid")
      }
      coll.unpersist()
    }
  }

  test("FlatIndex funnel/quantized/hybrid match the DataFrame operators") {
    val d = Tables.dims(spark, sfDir)
    for (metric <- Seq(Metric.Cosine, Metric.L2)) {
      val config = CollectionConfig("e", d, metric)
      val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
      val (raw, qdf) = queries(0L until 4L)
      val forms: Seq[(String, DataFrame, Array[Float] => DataFrame)] = Seq(
        ("funnel", Search.funnelSearchMany(coll, config, qdf, 10, Seq(16, 32), 50),
          v => Search.funnelSearch(coll, config, v, 10, Seq(16, 32), 50)),
        ("quantized", Search.quantizedSearchMany(coll, config, qdf, 10, 50),
          v => Search.quantizedSearch(coll, config, v, 10, 50)),
        // reference-literal Hamming candidate mode pins both sides too
        ("quantized hamming",
          Search.quantizedSearchMany(coll, config, qdf, 10, 50, asymmetric = false),
          v => Search.quantizedSearch(coll, config, v, 10, 50, asymmetric = false)),
        ("hybrid", Search.hybridSearchMany(coll, config, qdf, 10, candidates = 50,
            stages = Seq(16, 32)),
          v => Search.hybridSearch(coll, config, v, 10, candidates = 50,
            stages = Seq(16, 32))))
      for ((form, batch, single) <- forms) {
        val got = byQid(batch)
        raw.foreach { case (qid, v) =>
          assert(got(qid) === ranked(single(v)), s"$form ${metric.name} $qid")
        }
      }
      coll.unpersist()
    }
  }

  test("FlatIndex searchMany equals per-query search") {
    val db = new GraftDb(spark)
    val d = Tables.dims(spark, sfDir)
    val rows = Tables.embeddingsRaw(spark, sfDir).select("id", "vector").collect()
      .map(r => db.EmbeddingInput(id = r.getString(0),
        vector = r.getSeq[Float](1).toArray)).toSeq
    db.createCollection("flat_sf", d, metric = "cosine", index = "flat")
    db.batch("flat_sf", rows)
    val (raw, qdf) = queries(0L until 4L)
    val batch = byQid(db.searchMany("flat_sf", qdf, 5))
    assert(batch.keySet === raw.map(_._1).toSet)
    raw.foreach { case (qid, v) =>
      assert(batch(qid).length === 5, s"query $qid")
      assert(batch(qid) === ranked(db.search("flat_sf", v, 5)), s"query $qid")
    }
    assert(db.count("flat_sf") === rows.length.toLong)
    db.close("flat_sf")
  }
}
