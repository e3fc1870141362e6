package graft

import graft.core.{CollectionConfig, Metric}
import graft.index.Hnsw
import graft.search.Search

/** HNSW parity shim: construction determinism, recall vs flat, CRUD,
  * entry re-election (reference hnsw.rs invariant tests). */
class HnswSpec extends SparkSpec {

  private lazy val sfDir = "/root/testdata/sf0.001"

  test("top-1 agreement and recall vs exact flat on real embeddings") {
    val d = Tables.dims(spark, sfDir)
    val config = CollectionConfig("e", d, Metric.Cosine)
    val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
    val g = Hnsw.build(coll, config)
    assert(g.size === coll.count())
    val overlaps = (0L until 10L).map { i =>
      val rawQ = Tables.queryVector(spark, sfDir, i)
      val q = Search.prepareQuery(config, rawQ)
      val ann = g.search(q, 10).map(_._1)
      val exact = Search.flatSearch(coll, config, rawQ, 10)
        .collect().map(_.getString(0)).toSeq
      assert(ann.head === exact.head, s"top-1 disagreement on query $i")
      ann.toSet.intersect(exact.toSet).size / 10.0
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.8, s"mean recall@10 $mean")
    coll.unpersist()
  }

  test("serving ef autoscales with k: recall >= 0.8 on an unclustered random corpus") {
    // uniform-random vectors are the worst case for a locality graph
    // (pairwise cosines concentrate at 0); the fixed reference default
    // efSearch=64 floors overlap@10 at ~0.6 here, the 32k autoscale
    // (ef=320 for k=10) measured 0.8+. Brute-force exact is the oracle.
    val dims = 64
    val config = CollectionConfig("r", dims, Metric.Cosine)
    val rows = (0 until 4000).map(i =>
      i.toString -> Search.prepareQuery(config, Synth.synthVector(i.toLong, dims)))
    val g = new Hnsw(config.metric, Hnsw.Params())
    g.insertMany(rows)
    val overlaps = (0 until 5).map { qi =>
      val q = Search.prepareQuery(config, Synth.synthVector(-1L - qi, dims))
      val exact = rows.map { case (id, v) =>
        (graft.expr.VectorKernels.rankValue(config.metric.code,
          graft.expr.VectorKernels.distance(config.metric.code, v, q)), id)
      }.sorted.take(10).map(_._2).toSet
      exact.intersect(g.search(q, 10).map(_._1).toSet).size / 10.0
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.8, s"mean recall@10 $mean at autoscaled ef")
  }

  test("construction is deterministic (rebuild == rebuild)") {
    val d = Tables.dims(spark, sfDir)
    val config = CollectionConfig("e", d, Metric.L2)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val q = Search.prepareQuery(config, Tables.queryVector(spark, sfDir, 7L))
    val r1 = Hnsw.build(coll, config).search(q, 10)
    val r2 = Hnsw.build(coll, config).search(q, 10)
    assert(r1 === r2)
  }

  test("insert/delete/reinsert keep the graph searchable; entry re-elected") {
    val g = new Hnsw(Metric.L2, Hnsw.Params(m = 4, m0 = 8, efConstruction = 8, efSearch = 8))
    val vecs = (0 until 30).map(i => f"n$i%02d" -> Array(i.toFloat, (i % 7).toFloat))
    g.insertMany(vecs)
    assert(g.size === 30)
    // every node reachable: search with large ef returns all
    val all = g.search(Array(0f, 0f), 30)
    assert(all.length === 30)
    // delete half (including whatever the entry is), still searchable
    (0 until 15).foreach(i => g.delete(f"n$i%02d"))
    assert(g.size === 15)
    val rest = g.search(Array(29f, 1f), 5).map(_._1)
    assert(rest.head === "n29")
    // reinsert replaces
    g.insert("n29", Array(-100f, -100f))
    assert(g.size === 15)
    assert(g.search(Array(-100f, -100f), 1).head._1 === "n29")
  }

  test("storage is bounded under insert/delete churn (slot reuse)") {
    val g = new Hnsw(Metric.L2, Hnsw.Params(m = 4, m0 = 8, efConstruction = 8, efSearch = 8))
    (0 until 50).foreach(i => g.insert(f"n$i%02d", Array(i.toFloat, 1f)))
    val base = g.storageSize
    // 500 delete+reinsert cycles must not grow physical storage
    (0 until 500).foreach { r =>
      val id = f"n${r % 50}%02d"
      g.delete(id)
      g.insert(id, Array((r % 50).toFloat, 1f))
    }
    assert(g.size === 50)
    assert(g.storageSize === base, s"storage grew: $base -> ${g.storageSize}")
    assert(g.search(Array(7f, 1f), 1).head._1 === "n07")
    // emptying the graph compacts storage completely
    (0 until 50).foreach(i => g.delete(f"n$i%02d"))
    assert(g.size === 0 && g.storageSize === 0)
    g.insert("a", Array(1f, 2f))
    assert(g.search(Array(1f, 2f), 1).head._1 === "a")
  }

  test("rejects unsupported metrics and bad params (hnsw.ex:104-109, hnsw.rs:25-49)") {
    intercept[IllegalArgumentException] { new Hnsw(Metric.Jaccard, Hnsw.Params()) }
    intercept[IllegalArgumentException] { new Hnsw(Metric.L2, Hnsw.Params(m = 0)) }
    intercept[IllegalArgumentException] { new Hnsw(Metric.L2, Hnsw.Params(m = 16, m0 = 8)) }
    intercept[IllegalArgumentException] { new Hnsw(Metric.L2, Hnsw.Params(efConstruction = 2)) }
  }
}
