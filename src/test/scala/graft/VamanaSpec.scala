package graft

import org.apache.spark.sql.functions._

import graft.core.{CollectionConfig, Metric}
import graft.index.{ShardedVamana, Vamana}
import graft.search.Search

/** Vamana (DiskANN-style) flat graph: determinism, recall, state
  * round-trip, connectivity, and the sharded/persisted layers. */
class VamanaSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  private def synth(seed: Long): Array[Float] = {
    var x = seed * 0x9e3779b97f4a7c15L + 1L
    Array.tabulate(dims) { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 40) & 0x3ff).toInt / 512.0f) - 1.0f
    }
  }

  // 40 topics x 10 graded members (member 0 == the topic base)
  private def clusteredRows = for (t <- 0 until 40; j <- 0 until 10) yield {
    val base = synth(500L + t)
    val own = synth(50000L + t * 100L + j)
    (s"t${t}_m$j",
      Array.tabulate(dims)(i => (1f - 0.05f * j) * base(i) + 0.05f * j * own(i)))
  }

  // ranks with the graph's own kernel: the f32 arena order, or the bf16
  // arena order over packed bytes for a coded graph
  private def exactTop(rows: Seq[(String, Array[Float])], metric: Metric,
      q: Array[Float], k: Int, coded: Boolean = false): Seq[String] =
    rows.map { case (id, v) =>
      (id, graft.expr.VectorKernels.rankValue(metric.code,
        if (coded) graft.expr.VectorKernels.rankingDistanceBf16Off(metric.code,
          graft.expr.VectorKernels.packBf16(v), 0, q, q.length)
        else graft.expr.VectorKernels.rankingDistanceOff(metric.code,
          v, 0, q, 0, q.length)))
    }.sortBy(t => (t._2, t._1)).take(k).map(_._1)

  test("two builds over the same sorted rows are bit-identical") {
    val rows = clusteredRows.sortBy(_._1)
    def build() = {
      val g = new Vamana(Metric.L2, Vamana.Params())
      g.insertMany(rows)
      g
    }
    val (a, b) = (build(), build())
    assert(a.entryId === b.entryId)
    val sa = a.exportState()
    val sb = b.exportState()
    assert(sa.map(_.externalId) === sb.map(_.externalId))
    assert(sa.map(_.neighbors.toSeq) === sb.map(_.neighbors.toSeq))
    val q = synth(-42L)
    assert(a.search(q, 10) === b.search(q, 10))
  }

  test("all nodes reachable from the medoid (graph connectivity)") {
    val rows = clusteredRows.sortBy(_._1)
    val g = new Vamana(Metric.Cosine, Vamana.Params())
    g.insertMany(rows.map { case (id, v) =>
      (id, graft.expr.VectorKernels.normalize(1, v))
    })
    val state = g.exportState()
    val adj = state.map(ns => ns.internalId -> ns.neighbors).toMap
    val seen = scala.collection.mutable.BitSet(g.entryId)
    var frontier = List(g.entryId)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj(_)).filterNot(seen)
      next.foreach(seen += _)
      frontier = next.distinct
    }
    assert(seen.size === rows.length,
      s"only ${seen.size}/${rows.length} nodes reachable from the medoid")
  }

  test("connectivity repair: far-apart micro-clusters, all reachable, exact at beam >= n") {
    // adversarial shape for graph builds: 12 tight clusters at huge
    // mutual distances — greedy wiring strands whole clusters unless
    // the repair pass runs. The guarantee under test: reachability is
    // structural, so beam >= n stays exact even here.
    val rows = (for (c <- 0 until 12; j <- 0 until 8) yield {
      val center = Array.tabulate(dims)(i =>
        if (i == c % dims) 1000f * (c + 1) else 0f)
      val jit = synth(c * 100L + j)
      (f"c${c}%02d_$j", Array.tabulate(dims)(i => center(i) + 0.01f * jit(i)))
    }).sortBy(_._1)
    val g = new Vamana(Metric.L2, Vamana.Params())
    g.insertMany(rows)
    val adj = g.exportState().map(ns => ns.internalId -> ns.neighbors).toMap
    val seen = scala.collection.mutable.BitSet(g.entryId)
    var frontier = List(g.entryId)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj(_)).filterNot(seen)
      next.foreach(seen += _)
      frontier = next.distinct
    }
    assert(seen.size === rows.length,
      s"repair left ${rows.length - seen.size} nodes unreachable")
    for (c <- Seq(0L, 5L, 11L)) {
      val q = Array.tabulate(dims)(i =>
        if (i == (c % dims).toInt) 1000f * (c + 1) else 0f)
      val got = g.searchBeamed(q, 8, beam = rows.length).map(_._1)
      assert(got === exactTop(rows, Metric.L2, q, 8))
    }
  }

  test("recall on clustered corpus: planted top-1 found, overlap@10 high") {
    val rows = clusteredRows.sortBy(_._1)
    val g = new Vamana(Metric.L2, Vamana.Params())
    g.insertMany(rows)
    var hits = 0
    var overlap = 0.0
    for (t <- 0 until 40) {
      val base = synth(500L + t)
      val q = Array.tabulate(dims)(i => base(i) + 0.002f * synth(-900L - t)(i))
      val got = g.search(q, 10).map(_._1)
      val exact = exactTop(rows, Metric.L2, q, 10)
      if (got.headOption.contains(exact.head)) hits += 1
      overlap += exact.toSet.intersect(got.toSet).size / 10.0
    }
    assert(hits >= 38, s"top-1 found for only $hits/40 planted queries")
    assert(overlap / 40 >= 0.9, s"mean overlap@10 ${overlap / 40} < 0.9")
  }

  test("beam >= n returns the exact top-k (connected graph, full walk)") {
    val rows = clusteredRows.sortBy(_._1)
    val g = new Vamana(Metric.L2, Vamana.Params())
    g.insertMany(rows)
    for (k <- Seq(-7L, -8L, -9L)) {
      val q = synth(k)
      val got = g.searchBeamed(q, 10, beam = rows.length).map(_._1)
      assert(got === exactTop(rows, Metric.L2, q, 10))
    }
  }

  test("state round-trip: fromState(exportState) searches bit-identically") {
    val rows = clusteredRows.sortBy(_._1)
    val g = new Vamana(Metric.L2, Vamana.Params())
    g.insertMany(rows)
    val h = Vamana.fromState(Metric.L2, Vamana.Params(), g.exportState())
    for (k <- Seq(-1L, -2L, -3L)) {
      val q = synth(k)
      assert(g.search(q, 10) === h.search(q, 10))
    }
  }

  test("incremental insert after bulk build is searchable and deterministic") {
    val rows = clusteredRows.sortBy(_._1)
    val (bulk, extra) = rows.splitAt(rows.length - 20)
    def build() = {
      val g = new Vamana(Metric.L2, Vamana.Params())
      g.insertMany(bulk)
      extra.foreach { case (id, v) => g.insert(id, v) }
      g
    }
    val (a, b) = (build(), build())
    val q = synth(-5L)
    assert(a.search(q, 10) === b.search(q, 10))
    // an inserted row is findable by its own vector
    val (lastId, lastVec) = extra.last
    assert(a.search(lastVec, 1).head._1 === lastId)
  }

  test("inner_product is rejected with a clear message") {
    val e = intercept[IllegalArgumentException] {
      new Vamana(Metric.InnerProduct, Vamana.Params())
    }
    assert(e.getMessage.contains("l2/cosine"))
  }

  test("coded (bf16) arena: rounded-exact semantics, deterministic, round-trips") {
    val rows = clusteredRows.sortBy(_._1)
    val p = Vamana.Params(coded = true)
    val g = new Vamana(Metric.L2, p)
    g.insertMany(rows)
    // rounded-corpus contract: beam >= n equals exact flat over the
    // bf16-ROUNDED vectors (same as the bf16 index kind's gate)
    val rounded = rows.map { case (id, v) =>
      (id, graft.expr.VectorKernels.unpackBf16(
        graft.expr.VectorKernels.packBf16(v)))
    }
    for (k <- Seq(-11L, -12L)) {
      val q = synth(k)
      val got = g.searchBeamed(q, 10, beam = rows.length).map(_._1)
      assert(got === exactTop(rounded, Metric.L2, q, 10, coded = true))
    }
    // determinism + state round-trip (fromState re-packs the f32 state
    // vectors; rounding is idempotent, so searches are bit-identical)
    val g2 = new Vamana(Metric.L2, p)
    g2.insertMany(rows)
    val q = synth(-13L)
    assert(g.search(q, 10) === g2.search(q, 10))
    val h = Vamana.fromState(Metric.L2, p, g.exportState())
    assert(g.search(q, 10) === h.search(q, 10))
    // default ANN beams stay accurate on the rounded corpus
    val exact = exactTop(rounded, Metric.L2, synth(-14L), 10, coded = true).toSet
    val ann = g.search(synth(-14L), 10).map(_._1).toSet
    assert(exact.intersect(ann).size >= 9)
  }

  test("coded persisted layout: sidecar carries the flag, serving matches the coded build") {
    val config = CollectionConfig("vamc", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val dir = java.nio.file.Files.createTempDirectory("vamana_coded").toString
    val p = Vamana.Params(coded = true)
    ShardedVamana.writeLayout(coll, config, dir, shards = 4, params = p)
    val (_, loaded, _) = graft.ann.ModelStore.loadVamana(spark,
      graft.ann.ModelStore.sidecarOf(dir))
    assert(loaded.coded)
    val queries = (0 until 3).map(k => (s"q$k", synth(-400L - k).toSeq))
      .toDF("qid", "qvector")
    val build = ShardedVamana.searchMany(coll, config, queries, 5, shards = 4,
      params = p)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val persisted = ShardedVamana.searchManyPersisted(spark, dir, config,
      queries, 5, cacheKey = dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    assert(build.toSeq === persisted.toSeq)
    ShardedVamana.clearCache(dir)
    coll.unpersist()
  }

  test("sharded searchMany: deterministic, merges shard top-ks, cache reuse") {
    val config = CollectionConfig("vam", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val queries = (0 until 4).map { k =>
      val base = synth(500L + 3 * k)
      (s"q$k", Array.tabulate(dims)(i =>
        base(i) + 0.004f * synth(-900L - k)(i)).toSeq)
    }.toDF("qid", "qvector")
    ShardedVamana.clearCache("vam_spec")
    val r1 = ShardedVamana.searchMany(coll, config, queries, 5, shards = 4,
      cacheKey = "vam_spec").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val r2 = ShardedVamana.searchMany(coll, config, queries, 5, shards = 4,
      cacheKey = "vam_spec").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    assert(r1.toSeq === r2.toSeq)
    // planted top-1 per query
    val top1 = r1.groupBy(_._1).map { case (q, rs) =>
      q -> rs.maxBy(_._3)._2
    }
    for (k <- 0 until 4) assert(top1(s"q$k") === s"t${3 * k}_m0")
    ShardedVamana.clearCache("vam_spec")
    coll.unpersist()
  }

  test("sharded full-beam equals exact flat search (all shards walked fully)") {
    val config = CollectionConfig("vamx", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val queries = Seq(("q0", synth(-77L).toSeq)).toDF("qid", "qvector")
    val got = ShardedVamana.searchMany(coll, config, queries, 10, shards = 4,
      beam = clusteredRows.length)
      .select("id").as[String].collect().toSet
    val exact = Search.flatSearch(coll, config, synth(-77L), 10)
      .select("id").as[String].collect().toSet
    assert(got === exact)
    coll.unpersist()
  }

  test("persisted layout: write, open, bit-identical to build-path search") {
    val config = CollectionConfig("vamp", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val dir = java.nio.file.Files.createTempDirectory("vamana_layout").toString
    ShardedVamana.writeLayout(coll, config, dir, shards = 4)
    val queries = (0 until 3).map(k => (s"q$k", synth(-300L - k).toSeq))
      .toDF("qid", "qvector")
    val build = ShardedVamana.searchMany(coll, config, queries, 5, shards = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val persisted = ShardedVamana.searchManyPersisted(spark, dir, config,
      queries, 5, cacheKey = dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    assert(build.toSeq === persisted.toSeq)
    ShardedVamana.clearCache(dir)
    coll.unpersist()
  }

  test("persisted serving plan: map-side rank cut, persisted state never re-shuffles") {
    val config = CollectionConfig("vamplan", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config)
    val dir = java.nio.file.Files.createTempDirectory("graft_vamana_plan").toString
    ShardedVamana.writeLayout(coll, config, dir, shards = 4)
    val state = ShardedVamana.layoutState(spark, dir).persist()
    state.count()
    val queries = Seq(("q0", synth(-5L).toSeq)).toDF("qid", "qvector")
    val df = ShardedVamana.searchManyPersisted(spark, dir, config, queries, 5,
      cacheKey = dir, state = Some(state))
    val plan = df.queryExecution.executedPlan.toString
    // per-shard top-k lists are cut BEFORE the merge exchange
    assert(plan.contains("WindowGroupLimit"), s"no map-side rank cut:\n$plan")
    // the co-partitioned persisted state serves from cached blocks; the
    // ONLY exchange is the bounded shards*nq*limit merge
    assert(plan.contains("InMemoryTableScan"), s"state not served from cache:\n$plan")
    val executing = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert("Exchange hashpartitioning".r.findAllIn(executing).size === 1,
      s"persisted state re-shuffled:\n$plan")
    state.unpersist(blocking = true)
    ShardedVamana.clearCache(dir)
  }

  test("persisted filtered search post-filters through the layout scan") {
    val config = CollectionConfig("vamf", dims)
    val coll = graft.prepare.Prepare
      .prepareEmbeddings(embeddingRows(clusteredRows), config).persist()
    val dir = java.nio.file.Files.createTempDirectory("vamana_filter").toString
    ShardedVamana.writeLayout(coll, config, dir, shards = 4)
    val q = synth(500L + 7) // topic 7's base
    val queries = Seq(("q0", q.toSeq)).toDF("qid", "qvector")
    val got = ShardedVamana.searchManyPersisted(spark, dir, config, queries,
      5, cacheKey = dir, filter = Some(col("id").startsWith("t7_")),
      oversample = 40)
      .select("id").as[String].collect()
    assert(got.nonEmpty && got.forall(_.startsWith("t7_")))
    assert(got.contains("t7_m0"))
    ShardedVamana.clearCache(dir)
    coll.unpersist()
  }
}
