package graft.rerank

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CollectionConfig, Metric}
import graft.expr.VectorKernels
import graft.search.Search

/** Maximal Marginal Relevance rerank (reference:
  * lib/vettore_distance.ex:313-487).
  *
  * The greedy selection is inherently sequential over at most
  * `candidates` rows (a rerank, not a scan), so it runs on the driver —
  * the reference runs it outside its native kernels for the same reason.
  * The candidate generation that feeds it stays distributed.
  */
object Mmr {

  /** Pairwise similarity for the redundancy term
    * (vettore_distance.ex:489-519): cosine -> true cosine, IP -> dot,
    * neg-IP -> -raw, distance metrics -> 1/(1+raw). */
  def pairSimilarity(metric: Metric, a: Array[Float], b: Array[Float]): Double = {
    val code = metric match {
      case Metric.Cosine => VectorKernels.TRUE_COSINE_CODE
      case m             => m.code
    }
    val raw = VectorKernels.distance(code, a, b)
    metric match {
      case Metric.Cosine | Metric.InnerProduct => raw
      case Metric.NegativeInnerProduct         => -raw
      case _                                   => 1.0 / (1.0 + raw)
    }
  }

  /** Greedy MMR: each round scores every remaining candidate as
    * `alpha * queryScore - (1-alpha) * maxSimilarityToSelected` and takes
    * the first maximum (stable against input order, like the reference's
    * Enum.max_by). Returns at most `finalK` (id, originalScore) pairs in
    * selection order. */
  def rerank[I](initial: Seq[(I, Double)], vectors: Map[I, Array[Float]],
      metric: Metric, alpha: Double, finalK: Int): Seq[(I, Double)] = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    require(finalK > 0, "final_k must be positive")
    initial.foreach { case (id, s) =>
      require(vectors.contains(id), s"missing vector for $id")
      require(!s.isNaN && !s.isInfinite, "score must be finite")
    }
    require(initial.map(_._1).distinct.size == initial.size, "duplicate candidate id")

    val remaining = scala.collection.mutable.ArrayBuffer.from(initial)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(I, Double)]
    while (selected.size < finalK && remaining.nonEmpty) {
      var bestIdx = 0
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < remaining.size) {
        val (id, qScore) = remaining(i)
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.iterator
            .map(s => pairSimilarity(metric, vectors(id), vectors(s._1))).max
        val score = alpha * qScore - (1.0 - alpha) * redundancy
        if (score > bestScore) { bestScore = score; bestIdx = i }
        i += 1
      }
      selected += remaining.remove(bestIdx)
    }
    selected.toSeq
  }

  /** `ORDER BY id ASC`-identical comparator over EXTERNAL (collected)
    * id values — the driver-side twin of the id ordering of
    * [[graft.expr.TopKHeap]], which orders internal values. Strings compare in UTF-8 binary order (what Spark's sort
    * uses), not Java's UTF-16 `compareTo`. */
  private def externalIdCompare(dt: DataType): (Any, Any) => Int = dt match {
    case StringType => (a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    case DoubleType => (a, b) => {
      val x = a.asInstanceOf[java.lang.Double].doubleValue()
      val y = b.asInstanceOf[java.lang.Double].doubleValue()
      if (x == y) 0 else java.lang.Double.compare(x, y)
    }
    case FloatType => (a, b) => {
      val x = a.asInstanceOf[java.lang.Float].floatValue()
      val y = b.asInstanceOf[java.lang.Float].floatValue()
      if (x == y) 0 else java.lang.Float.compare(x, y)
    }
    // remaining supported id types (long/int/short/byte/boolean/
    // date/timestamp) collect as mutually-comparable Java values
    case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** DataFrame front-end: distributed flat search supplies the top
    * `candidates` (with vectors), the greedy loop runs on the driver,
    * and the selection returns as a small DataFrame. Serves any
    * heap-supported id type (string, integral, ...), like the batch
    * search paths. */
  def rerankSearch(spark: SparkSession, df: DataFrame, config: CollectionConfig,
      query: Array[Float], alpha: Double, finalK: Int, candidates: Int): DataFrame = {
    val q = Search.prepareQuery(config, query)
    val idType = df.schema("id").dataType
    import graft.functions.VectorFunctions._
    val cand = df
      .withColumn("raw", vecDistance(config.metric, col("vector"), vecLit(q)))
      .withColumn("rank", rankValue(config.metric, col("raw")))
      .orderBy(col("rank").asc_nulls_last, col("id").asc).limit(candidates)
    val rows = cand.select("id", "raw", "vector").collect()
    val initial = rows.map(r => r.get(0) -> {
      val (score, _) = graft.core.ScoreMode.resultValues(config.metric, r.getDouble(1), config.score)
      score
    }).toSeq
    val vectors = rows.map(r => r.get(0) -> r.getSeq[Float](2).toArray).toMap
    val picked = rerank(initial, vectors, config.metric, alpha, finalK)
    val schema = StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("position", IntegerType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(picked.zipWithIndex.map {
        case ((id, s), i) => Row(id, s, i)
      }: _*), schema)
  }

  /** Batch MMR: per-query results equal [[rerankSearch]] with the same
    * knobs. `queries` carries `(qid, qvector)`. Candidates for EVERY
    * query come from one distributed [[Search.flatSearchMany]] pass (one
    * corpus scan, per-query heap cuts) and their vectors rejoin in the
    * same job; the greedy loops then run per-qid on the driver over the
    * collected `nq * candidates`-bounded slim set — the single form's
    * own driver-side shape (and the reference's:
    * lib/vettore_distance.ex:313-487), N of them without N corpus
    * scans. Initial candidate order replicates Spark's `(rank, id)`
    * sort exactly (double total order, binary UTF-8 id ties), so the
    * greedy tie behavior is identical to the single form's collected
    * ordering. Serves any heap-supported id type, like
    * [[rerankSearch]] and the batch search paths. */
  def rerankMany(spark: SparkSession, df: DataFrame, config: CollectionConfig,
      queries: DataFrame, alpha: Double, finalK: Int, candidates: Int,
      knownNq: Long = -1L): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    require(finalK > 0, "final_k must be positive")
    require(candidates > 0, "candidates must be positive")
    val qidType = queries.schema("qid").dataType
    val idType = df.schema("id").dataType
    val idCmp = externalIdCompare(idType)
    // ONE batch pass cuts every query's candidate ids; vectors for the
    // nq*candidates winners rejoin before the single bounded collect
    val winners = Search.flatSearchMany(df, config, queries, candidates,
        knownNq = knownNq)
      .select(col("qid"), col("id"))
      .join(df.select(col("id"), col("vector")), Seq("id"))
      .select(col("qid"), col("id"), col("vector"))
      .collect()
    val byQid = winners.groupBy(_.get(0))
    val qRows = queries.select(col("qid"), col("qvector")).collect()
    val cmpRank = (a: Double, b: Double) =>
      if (a == b) 0 else java.lang.Double.compare(a, b)
    val out = qRows.flatMap { qr =>
      val qid = qr.get(0)
      val q = Search.prepareQuery(config, qr.getSeq[Float](1).toArray)
      val cand = byQid.getOrElse(qid, Array.empty).map { r =>
        val v = r.getSeq[Float](2).toArray
        val raw = VectorKernels.distance(config.metric.code, v, q)
        (r.get(1), v, raw)
      }.sortWith { case ((id1, _, r1), (id2, _, r2)) =>
        val c = cmpRank(VectorKernels.rankValue(config.metric.code, r1),
          VectorKernels.rankValue(config.metric.code, r2))
        c < 0 || (c == 0 && idCmp(id1, id2) < 0)
      }
      val initial = cand.map { case (id, _, raw) =>
        id -> graft.core.ScoreMode.resultValues(config.metric, raw, config.score)._1
      }.toSeq
      val vectors = cand.map { case (id, v, _) => id -> v }.toMap
      rerank(initial, vectors, config.metric, alpha, finalK).zipWithIndex.map {
        case ((id, s), i) => Row(qid, id, s, i)
      }
    }
    val schema = StructType(Seq(
      StructField("qid", qidType),
      StructField("id", idType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("position", IntegerType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), schema)
  }
}
