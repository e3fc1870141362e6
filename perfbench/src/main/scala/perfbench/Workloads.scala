package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.GraftDb

object Workloads {
  val Names: Seq[String] = Seq("exact", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "exact" => new Exact(ctx)
    case "curate" => new CurateWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }
}

/** The benchmark's own exact answer: cosine similarity in double
  * precision over the live corpus, ties broken by id. */
final class LiveCorpus {
  private val ids = mutable.ArrayBuffer.empty[String]
  private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
  private val index = mutable.HashMap.empty[String, Int]
  private val dead = mutable.BitSet.empty

  def unit(v: Array[Float]): Array[Double] = {
    val d = v.map(_.toDouble)
    val n = math.sqrt(d.map(x => x * x).sum)
    d.map(_ / n)
  }

  def add(id: String, v: Array[Float]): Unit = {
    index(id) = ids.size
    ids += id
    vecs += unit(v)
  }
  def delete(id: String): Unit = dead += index(id)
  def isDeleted(id: String): Boolean = index.get(id).exists(dead)
  def liveCount: Int = ids.size - dead.size
  def id(i: Int): String = ids(i)
  def isLive(i: Int): Boolean = !dead(i)
  def size: Int = ids.size

  def sim(q: Array[Double], id: String): Double = dot(q, vecs(index(id)))

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private val order: Ordering[(Double, String)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String)

  /** Exact top-k per query as (id, similarity), best first. */
  def topK(qs: Array[Array[Float]], k: Int): Array[Array[(String, Double)]] = {
    val out = new Array[Array[(String, Double)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel().forEach { qi =>
      val q = unit(qs(qi))
      // bounded heap holding the k best seen, worst at the head
      val heap = mutable.PriorityQueue.empty[(Double, String)](order)
      var i = 0
      while (i < ids.size) {
        if (!dead(i)) {
          val e = (dot(q, vecs(i)), ids(i))
          if (heap.size < k) heap.enqueue(e)
          else if (order.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
        }
        i += 1
      }
      out(qi) = heap.toArray.sorted(order).map(e => (e._2, e._1))
    }
    out
  }
}

/** Shared parts of the `exact` workload and the ANN probe. */
abstract class VectorWorkload(ctx: Ctx) extends Workload(ctx) {
  val Dims = 384
  val Batch = 64
  val K = 10
  val gen = new Gen.Vectors(ctx.opts.seed, Dims)
  def n: Int
  var db: GraftDb = _
  var name: String = _
  lazy val corpus: LiveCorpus = {
    val c = new LiveCorpus
    (0 until n).foreach(i => c.add(Gen.rowId(i), gen.vector(i)))
    c
  }
  private var nextQuery = 0L
  var nextRow: Long = 0L

  protected def spark = ctx.spark

  def index: String
  var source: String = _

  /** Generates the first n corpus rows in parallel, writes them under
    * `dir` in the facade's snapshot format (the workload's input
    * dataset) and returns a fresh facade that has loaded them as
    * collection `as`. */
  protected def loadSource(dir: String, as: String): GraftDb = {
    import org.apache.spark.sql.functions.{format_string, udf}
    val config = graft.core.CollectionConfig("src", Dims, graft.core.Metric.Cosine,
      None, graft.core.ScoreMode.Similarity, index)
    val g = gen
    val vec = udf((i: Long) => g.vector(i))
    val rows = spark.range(0, n, 1, ctx.cores)
      .select(format_string("v%08d", col("id")).as("id"), vec(col("id")).as("vector"))
    source = s"$dir/source"
    ctx.span("store.snapshot")(graft.store.CollectionStore.snapshot(
      graft.prepare.Prepare.prepareEmbeddings(rows, config), config, source))
    val d = new GraftDb(spark)
    ctx.timed("api.load_snapshot")(d.loadSnapshot(source, Map("name" -> as)))
    d
  }

  /** A frame of raw (id, vector) rows, as appendIndexed takes them. */
  protected def rowFrame(from: Long, count: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("vector", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(
      (from until from + count).map(i =>
        Row(Gen.rowId(i), gen.vector(i).toSeq)): _*), schema)
  }

  /** A query frame (qid, qvector) and its vectors. */
  protected def queryFrame(qids: Seq[String], vs: Seq[Array[Float]]): DataFrame = {
    val schema = StructType(Seq(StructField("qid", StringType),
      StructField("qvector", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(
      qids.zip(vs).map { case (q, v) => Row(q, v.toSeq) }: _*), schema)
  }

  /** The next batch of fresh queries from the corpus generator. */
  protected def nextBatch(): (DataFrame, Seq[String], Array[Array[Float]]) = {
    val keys = (0 until Batch).map(j => Gen.QueryBase + nextQuery + j)
    nextQuery += Batch
    val qids = keys.map(k => s"q$k")
    val vs = keys.map(gen.vector).toArray
    (queryFrame(qids, vs.toSeq), qids, vs)
  }

  /** One searchMany call over `nq` queries, collected. */
  protected def search(q: DataFrame, nq: Int): Array[Row]

  /** Results grouped per qid, best first. */
  protected def byQid(res: Array[Row]): Map[String, Seq[(String, Double)]] =
    res.groupBy(_.getAs[Any]("qid").toString).map { case (q, rs) =>
      q -> rs.toSeq.map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
        .sortBy(x => (-x._2, x._1))
    }

  /** Every qid has K distinct ids and no deleted id comes back. */
  protected def checkBatch(res: Array[Row], qids: Seq[String]): Map[String, Seq[(String, Double)]] = {
    val got = byQid(res)
    qids.foreach { q =>
      val ids = got.getOrElse(q, Nil).map(_._1)
      ctx.check(ids.size == K && ids.distinct.size == K,
        s"$name: qid $q returned ${ids.size} rows, ${ids.distinct.size} distinct")
      ctx.check(!ids.exists(corpus.isDeleted),
        s"$name: qid $q returned a deleted id ${ids.find(corpus.isDeleted)}")
    }
    got
  }

  /** Mean top-K overlap with the exact answer over the live corpus. */
  protected def recordRecall(got: Map[String, Seq[(String, Double)]],
      qids: Seq[String], vs: Array[Array[Float]]): Unit = {
    val exact = corpus.topK(vs, K)
    qids.indices.foreach { i =>
      val want = exact(i).map(_._1).toSet
      recall += got.getOrElse(qids(i), Nil).map(_._1).count(want) / K.toDouble
    }
  }

  /** Appended vectors queried as themselves come back at rank 1. */
  protected def checkSelf(from: Long, count: Int): Unit = {
    val keys = (from until from + math.min(count, 4)).toSeq
    val qids = keys.map(Gen.rowId)
    val res = search(queryFrame(qids, keys.map(gen.vector)), qids.size)
    val got = byQid(res)
    qids.foreach { q =>
      ctx.check(got.get(q).flatMap(_.headOption).map(_._1).contains(q),
        s"$name: appended $q is not its own nearest neighbour (got ${got.get(q).map(_.take(2))})")
    }
  }

  def warmCall(): Unit = search(nextBatch()._1, Batch)

  /** Span name of this workload's searchMany calls. */
  protected def searchSpan: String = "api.search_many"

  /** One timed search batch, checked; recall on every `recallEvery`-th. */
  protected def searchBatch(recallEvery: Int): Unit = {
    val (qdf, qids, vs) = nextBatch()
    val res = readCall(searchSpan, Batch)(search(qdf, Batch))
    val got = checkBatch(res, qids)
    if ((calls.size - 1) % recallEvery == 0) recordRecall(got, qids, vs)
  }

  def teardown(): Unit = {
    db.listCollections().foreach(db.close)
    spark.catalog.clearCache()
    db = null
  }

  protected def kernels(): Unit = Kernels.run(ctx, gen, n)
}

/** `exact`: a flat collection in Spark's block cache; batches of 64
  * queries through the exact batch scan. Bypass workload for every ANN,
  * index and store change: no training, layout or graph is touched. */
final class Exact(ctx: Ctx) extends VectorWorkload(ctx) {
  val n: Int = if (ctx.opts.smoke) 2000 else 10000
  val index = "flat"
  var snapshotBytes = 0.0
  /** Scaling cut the ten-run spread of `call_p50_s` from 0.35 to 0.08. */
  val hostScaled = true

  def setup(dir: String): Unit = {
    name = "exact"
    db = loadSource(dir, name)
    snapshotBytes = ctx.dirBytes(source).toDouble
    db.all(name).cache().count()
    search(nextBatch()._1, Batch)
  }

  protected def search(q: DataFrame, nq: Int): Array[Row] =
    db.searchMany(name, q, K, knownNq = nq).collect()

  def measure(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) searchBatch(recallEvery = 8)

  /** Top-10 of 8 fixed queries equals the double-precision brute force,
    * up to float rounding at near-ties (1e-6 in similarity). */
  def finalChecks(): Unit = {
    val keys = (0 until 8).map(j => Gen.QueryBase - 1000L + j)
    val qids = keys.map(k => s"f$k")
    val vs = keys.map(gen.vector).toArray
    val got = byQid(search(queryFrame(qids, vs.toSeq), qids.size))
    val want = corpus.topK(vs, K)
    qids.indices.foreach { i =>
      val g = got.getOrElse(qids(i), Nil).map(_._1)
      val q = corpus.unit(vs(i))
      val ok = g.size == K && g.distinct.size == K &&
        g.indices.forall(r => math.abs(corpus.sim(q, g(r)) - want(i)(r)._2) <= 1e-6)
      ctx.check(ok, s"exact: fixed query ${qids(i)} top-10 ${g.mkString(",")} " +
        s"differs from brute force ${want(i).map(_._1).mkString(",")}")
    }
  }

  /** The ANN probe of the traced run, for the per-layer metrics. */
  var probe: Option[AnnProbe] = None

  def traceLayers(): Unit = {
    ctx.span("search.flat_batch")(graft.search.Search.flatSearchMany(
      db.all(name), db.config(name), nextBatch()._1, K, knownNq = Batch).collect())
    kernels()
    val p = new AnnProbe(ctx)
    p.setup(ctx.dir("ann"))
    p.measure(0L)
    p.finalChecks()
    p.traceLayers()
    probe = Some(p)
  }
}

/** The ANN probe of the `exact` traced run: the facade's whole IVF-PQ
  * lifecycle on a small corpus of its own, then the same operations
  * replayed through the `ann`, `prepare` and `store` layer functions, and
  * the `index` layer (ShardedHnsw) on the same corpus. It feeds per-layer
  * metrics only: as an end-to-end workload its figures spread by 25-40%
  * between runs of one commit (a few calls of 1-10 s each per run). */
final class AnnProbe(ctx: Ctx) extends VectorWorkload(ctx) {
  val n: Int = if (ctx.opts.smoke) 1000 else 1500
  val index = "ivfpq"
  val hostScaled = false
  val AppendRows: Int = if (ctx.opts.smoke) 100 else 150
  val DeleteRows = 5
  val NProbe = 4
  val Candidates = 100
  private val rng = new scala.util.Random(ctx.opts.seed)
  private var layout: String = _
  private val deleted = mutable.ArrayBuffer.empty[String]
  var layoutBytes = 0.0
  var storeFiles = 0.0
  var evictions = 0L
  var hnswBytes = 0.0

  override protected def searchSpan: String = "api.search_many_ivfpq"

  def setup(dir: String): Unit = {
    db = loadSource(dir, "src")
    layout = s"$dir/layout"
    ctx.timed("api.persist_index")(db.persistIndex("src", layout))
    db.close("src")
    name = "ann"
    ctx.timed("api.open_indexed")(db.openIndexed(name, layout))
    search(nextBatch()._1, Batch)
    nextRow = n
  }

  protected def search(q: DataFrame, nq: Int): Array[Row] =
    db.searchMany(name, q, K, knownNq = nq, nprobe = NProbe,
      candidates = Candidates).collect()

  /** 3 search batches (nprobe=4, candidates=100), an append, a delete of
    * random live ids and a compaction, with a checked search batch after
    * each write. The deadline is ignored: this is one fixed round. */
  def measure(deadlineNs: Long): Unit = {
    (0 until 3).foreach(_ => searchBatch(recallEvery = 3))
    writeCall("api.append_indexed")(db.appendIndexed(name, rowFrame(nextRow, AppendRows)))
    (nextRow until nextRow + AppendRows).foreach(i => corpus.add(Gen.rowId(i), gen.vector(i)))
    checkSelf(nextRow, AppendRows)
    nextRow += AppendRows
    storeFiles = ctx.fileSizes(layout).size.toDouble
    searchBatch(recallEvery = 1)
    val live = (0 until corpus.size).filter(corpus.isLive).map(corpus.id)
    val ids = rng.shuffle(live).take(DeleteRows)
    val (removed, _) = writeCall("api.delete_indexed")(db.deleteIndexed(name, ids))
    ids.foreach(corpus.delete)
    deleted ++= ids
    ctx.check(removed == ids.size, s"ann: deleteIndexed removed $removed of ${ids.size}")
    searchBatch(recallEvery = 1)
    writeCall("api.compact_indexed")(db.compactIndexed(name))
    searchBatch(recallEvery = 1)
  }

  def finalChecks(): Unit =
    ctx.check(db.count(name) == corpus.liveCount,
      s"ann: ${db.count(name)} rows at rest, ${corpus.liveCount} expected")

  def traceLayers(): Unit = {
    import graft.ann._
    val config = db.config(name)
    val spark = this.spark
    val rdir = ctx.dir("replay/layout")
    val src = spark.read.parquet(source).cache()
    src.count()
    // persistIndex: IvfIndex.train -> Pq.trainOrdered -> IvfPq.writePartitioned
    val cents = ctx.span("ann.ivf_train")(IvfIndex.train(src, config, IvfIndex.IvfConfig()))
    val m = (8 to 1 by -1).find(Dims % _ == 0).get
    val cb = ctx.span("ann.pq_train")(Pq.trainOrdered(src, config, Pq.PqConfig(m = m), col("id")))
    ctx.span("ann.encode_write")(IvfPq.writePartitioned(src, cents, cb, rdir))
    graft.store.CollectionStore.writeConfig(spark, rdir, config)
    src.unpersist()
    layoutBytes = ctx.dirBytes(rdir).toDouble
    ctx.span("ann.search_batch")(IvfPq.searchManyPartitioned(spark, rdir, config,
      nextBatch()._1, K, NProbe, Candidates, knownNq = Batch).collect())
    // appendIndexed: prepare + validate -> IvfPq.appendPartitioned
    val prepared = ctx.span("prepare.prepare")(
      graft.prepare.Prepare.prepareEmbeddings(rowFrame(n.toLong, AppendRows), config).cache())
    ctx.span("prepare.prepare")(prepared.count())
    ctx.span("prepare.validate") {
      graft.prepare.Prepare.invalidRows(prepared, config).limit(1).collect()
      graft.prepare.Prepare.duplicateIds(spark.read.parquet(rdir).select("id"), prepared)
        .limit(1).collect()
    }
    ctx.span("ann.append_encode")(IvfPq.appendPartitioned(spark, rdir, prepared,
      checkIds = false, cachedModel = Some((cents, cb, false))))
    prepared.unpersist()
    ctx.span("store.delete_ids")(graft.store.Compaction.deleteIds(spark, rdir, deleted.toSeq))
    ctx.span("store.compact")(graft.store.Compaction.compact(spark, rdir))
    indexLayer(config.copy(index = "hnsw"))
  }

  /** The `index` layer (ShardedHnsw) over this corpus: the layout write,
    * a cold then a warm batch search, and an append, as the facade's
    * hnsw persistIndex / searchMany / appendIndexed call them. */
  private def indexLayer(config: graft.core.CollectionConfig): Unit = {
    import graft.index.ShardedHnsw
    val rdir = ctx.dir("replay/hnsw")
    ctx.span("index.write_layout")(ShardedHnsw.writeLayout(spark.read.parquet(source),
      config, rdir))
    graft.store.CollectionStore.writeConfig(spark, rdir, config)
    hnswBytes = ctx.dirBytes(rdir).toDouble
    // the first call reconstructs the shard graphs into the executor cache
    ctx.span("index.search_batch_cold")(ShardedHnsw.searchManyPersisted(spark, rdir,
      config, nextBatch()._1, K, cacheKey = rdir).collect())
    ctx.span("index.search_batch")(ShardedHnsw.searchManyPersisted(spark, rdir,
      config, nextBatch()._1, K, cacheKey = rdir).collect())
    val ev0 = ShardedHnsw.samePrefixEvictions
    val prepared = graft.prepare.Prepare.prepareEmbeddings(
      rowFrame(nextRow, AppendRows), config).cache()
    prepared.count()
    ctx.span("index.append_layout")(ShardedHnsw.appendLayout(spark, rdir, config, prepared))
    prepared.unpersist()
    ctx.span("index.search_batch_appended")(ShardedHnsw.searchManyPersisted(spark, rdir,
      config, nextBatch()._1, K, cacheKey = rdir).collect())
    evictions = ShardedHnsw.samePrefixEvictions - ev0
  }
}

/** `curate`: repeated `Curation.curate(df, "id", "text")` passes with the
  * default Config over seeded documents with planted duplicates,
  * near-duplicates and quality rejects. Only the text, dedup and
  * functions layers work; every vector layer idles. */
final class CurateWorkload(ctx: Ctx) extends Workload(ctx) {
  val n: Int = if (ctx.opts.smoke) 1000 else 4000
  private val docs = new Gen.Docs(ctx.opts.seed, n)
  /** A pass is dozens of small Spark jobs, bound by scheduling more than by
    * arithmetic: scaling by the probe raised the spread of `call_p50_s`
    * from 0.10 to 0.29, so curate reports its timings unscaled. */
  val hostScaled = false
  private var df: DataFrame = _
  private def spark = ctx.spark

  def setup(dir: String): Unit = {
    import org.apache.spark.sql.functions.{format_string, udf}
    val d = docs
    val text = udf((i: Long) => d.text(i.toInt))
    df = spark.range(0, n, 1, ctx.cores)
      .select(format_string("doc%08d", col("id")).as("id"), text(col("id")).as("text"))
      .cache()
    df.count()
    graft.functions.Curation.curate(df, "id", "text").count()
  }

  def teardown(): Unit = { df.unpersist(); spark.catalog.clearCache() }

  def warmCall(): Unit = graft.functions.Curation.curate(df, "id", "text").select("id").collect()

  /** Each pass collects the kept ids (a few thousand strings, negligible
    * beside the pass), so every pass is checked without another pass. */
  def measure(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      val kept = readCall("curate", n)(graft.functions.Curation.curate(df, "id", "text")
        .select("id").collect().map(_.getString(0)).toSet)
      val want = docs.survivors
      ctx.check(kept == want, s"curate: kept ${kept.size} ids, planted ${want.size}; " +
        s"extra ${(kept -- want).take(5)}, missing ${(want -- kept).take(5)}")
      recall += (kept intersect want).size.toDouble / want.size
    }

  def finalChecks(): Unit = ()

  var candidatePairs = 0.0
  var verifiedPairs = 0.0

  def traceLayers(): Unit = {
    import graft.dedup.Dedup
    import graft.text.TextAnalysis
    val text = col("text")
    val cfg = graft.functions.Curation.Config()
    var cur = ctx.span("text.gopher")(
      df.filter(TextAnalysis.gopherKeep(text, minWords = cfg.minWords)).localCheckpoint())
    cur = ctx.span("dedup.exact")(Dedup.dropExactDuplicates(cur, "id", text).localCheckpoint())
    val exact = cur
    cur = ctx.span("dedup.minhash")(Dedup.dropNearDuplicates(cur, "id", text,
      threshold = cfg.minhashThreshold, fastHash = cfg.fastHash).localCheckpoint())
    ctx.span("functions.sequential_ids")(
      graft.functions.Sampling.withSequentialIds(cur, col("id")).count())
    candidatePairs = ctx.span("dedup.candidates")(Dedup.minhashCandidatePairs(exact, "id",
      text, k = 3, numHashes = 8, bands = 4, fastHash = cfg.fastHash).count()).toDouble
    verifiedPairs = ctx.span("dedup.verified")(Dedup.minhashVerifiedPairs(exact, "id", text,
      k = 3, numHashes = 8, bands = 4, threshold = cfg.minhashThreshold,
      fastHash = cfg.fastHash).count()).toDouble
  }
}
