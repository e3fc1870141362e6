package graft.index

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}

import graft.core.{CollectionConfig, GraftConf, Metric}
import graft.expr.VectorKernels

/** Single-node HNSW graph — the reference-parity shim (SURVEY §7.4).
  *
  * The distributed ANN paths of this engine are CosineLsh and IvfIndex;
  * this graph exists to satisfy strict `index: :hnsw` behavior where a
  * user needs it: deterministic level assignment from an FNV-1a hash of
  * the external id (reference hnsw.rs:473-481 — promotion while
  * `hash & 3 == 0`), greedy upper-layer descent, ef-bounded layer
  * search, m/m0 neighbor caps with reciprocal-edge pruning, and
  * deterministic entry re-election on delete (highest layer, then
  * smallest external id). Like the reference it is an acceleration
  * structure rebuilt from canonical rows sorted by id on load
  * (collection.ex:426-433); it holds no authoritative state.
  *
  * Metrics: l2 / cosine / inner_product only (hnsw.ex:104-109).
  * Defaults m=16, m0=32, efConstruction=100, efSearch=64, maxLevel=12
  * (hnsw.ex:13-19).
  */
final class Hnsw(val metric: Metric, val params: Hnsw.Params) {
  import Hnsw._

  require(Seq(Metric.L2, Metric.Cosine, Metric.InnerProduct).contains(metric),
    s"hnsw supports l2/cosine/inner_product, not ${metric.name}")
  params.validate()

  private final class Node(
      val externalId: String,
      val layer: Int) {
    val connections: Array[mutable.ArrayBuffer[Int]] =
      Array.fill(layer + 1)(mutable.ArrayBuffer.empty[Int])
  }

  // Internal ids are dense sequential ints, so node storage is a flat
  // array (null = deleted) — the graph walk does millions of neighbor
  // lookups per build, and boxed HashMap[Int, _] access dominated the
  // insert profile (measured ~2x whole-build win on 2k x 384).
  // Deleted slots go on a free-list and are reused by later inserts, so
  // storage (and the BitSet the walk allocates per search) scales with
  // the live size, not total historical inserts, under insert/delete churn.
  private val nodes = mutable.ArrayBuffer.empty[Node]
  private val freeIds = mutable.ArrayBuffer.empty[Int]
  private var liveCount = 0
  private val externalToInternal = mutable.HashMap.empty[String, Int]
  private var entry: Option[Int] = None
  private var nextId = 0
  private var dimension: Option[Int] = None

  // All node vectors live in ONE flat arena at offset id*dims — the
  // graph walk's distance calls are the build's dominant cost (stack
  // sampling: ~85% in the ranking kernel), and a contiguous arena
  // removes a pointer chase + per-vector object header per call. The
  // walk ranks through rankingDistanceOff (16-chain SIMD order since
  // r16 — deterministic, platform-independent, internal-only; result
  // rows still report the sequential oracle-matched kernel). Stale
  // slots of deleted nodes are never read: every access is guarded by
  // a live-Node lookup first.
  private var arena: Array[Float] = new Array[Float](0)

  private def arenaStore(id: Int, vector: Array[Float]): Unit = {
    val d = vector.length
    val needL = (id.toLong + 1L) * d // Long math: rows*dims can pass 2^31
    require(needL <= Int.MaxValue,
      s"hnsw graph exceeds ${Int.MaxValue} floats (${id + 1} rows x $d dims) " +
      "in one arena — shard the collection (more shards) or lower " +
      "spark.graft.hnsw.maxBuildRows")
    val need = needL.toInt
    if (arena.length < need) {
      val grown = math.min(Int.MaxValue.toLong,
        math.max(needL, math.max(64L * d, arena.length * 2L))).toInt
      arena = java.util.Arrays.copyOf(arena, grown)
    }
    System.arraycopy(vector, 0, arena, id * d, d)
  }

  /** Copy of a live node's vector (result reporting only — k rows). */
  private def vectorOf(id: Int): Array[Float] = {
    val d = dimension.get
    java.util.Arrays.copyOfRange(arena, id * d, id * d + d)
  }

  /** Live node or null. */
  private def nodeAt(id: Int): Node =
    if (id >= 0 && id < nodes.length) nodes(id) else null

  private def storeNode(id: Int, node: Node): Unit =
    if (id == nodes.length) nodes += node else nodes(id) = node

  def size: Int = liveCount

  /** Physical slot count (test hook: bounded under insert/delete churn). */
  private[graft] def storageSize: Int = nodes.length

  /** Internal graph-walk ranking only (unrolled arena kernel; result
    * rows still report the sequential-kernel distance in `search`). */
  private def rankToQuery(id: Int, q: Array[Float]): Double =
    VectorKernels.rankValue(metric.code,
      VectorKernels.rankingDistanceOff(metric.code,
        arena, id * q.length, q, 0, q.length))

  /** Node-to-node ranking (prune path), both sides in the arena. */
  private def rankNodes(aId: Int, bId: Int): Double = {
    val d = dimension.get
    VectorKernels.rankValue(metric.code,
      VectorKernels.rankingDistanceOff(metric.code,
        arena, aId * d, arena, bId * d, d))
  }

  /** Deterministic level from FNV-1a of the external id. */
  private def levelFor(externalId: String): Int = {
    var hash = fnv1a(externalId.getBytes("UTF-8"))
    var level = 0
    while (level < params.maxLevel && (hash & 3L) == 0L) {
      level += 1
      hash = hash >>> 2
    }
    level
  }

  def insert(externalId: String, vector: Array[Float]): Unit = {
    require(vector.nonEmpty && dimension.forall(_ == vector.length), "dimension mismatch")
    require(VectorKernels.validateFinite(vector), "non-finite value")
    if (externalToInternal.contains(externalId)) delete(externalId)

    val internalId =
      if (freeIds.nonEmpty) freeIds.remove(freeIds.length - 1)
      else { val id = nextId; nextId += 1; id }
    val nodeLevel = levelFor(externalId)
    val node = new Node(externalId, nodeLevel)
    arenaStore(internalId, vector)

    if (liveCount == 0) {
      storeNode(internalId, node)
      liveCount += 1
      externalToInternal(externalId) = internalId
      entry = Some(internalId)
      dimension = Some(vector.length)
      return
    }

    var ep = entry.get
    val topLayer = nodes(ep).layer
    var layer = topLayer
    while (layer > nodeLevel) {
      ep = greedyClosest(ep, vector, layer)._1
      layer -= 1
    }

    layer = math.min(nodeLevel, topLayer)
    while (layer >= 0) {
      val cands = searchLayer(ep, vector, layer, params.efConstruction)
        .sortBy(c => (c._2, c._1)).distinctBy(_._1)
        .take(if (layer == 0) params.m0 else params.m)
      node.connections(layer) ++= cands.map(_._1)
      cands.headOption.foreach(c => ep = c._1)
      layer -= 1
    }

    storeNode(internalId, node)
    liveCount += 1
    externalToInternal(externalId) = internalId
    dimension = Some(vector.length)

    // reciprocal edges + degree pruning (node must exist first so prune
    // can score it)
    var l = 0
    while (l <= nodeLevel) {
      node.connections(l).toArray.foreach { neighborId =>
        val nb = nodeAt(neighborId)
        if (nb != null && l < nb.connections.length &&
            !nb.connections(l).contains(internalId))
          nb.connections(l) += internalId
        prune(neighborId, l)
      }
      l += 1
    }

    entry.foreach { cur =>
      if (nodeLevel > nodes(cur).layer) entry = Some(internalId)
    }
  }

  def insertMany(rows: Seq[(String, Array[Float])]): Unit = {
    val expected = dimension.orElse(rows.headOption.map(_._2.length))
    rows.foreach { case (_, v) =>
      require(expected.contains(v.length), "dimension mismatch")
    }
    rows.foreach { case (id, v) => insert(id, v) }
  }

  /** Delete + remove incoming edges; entry re-elected deterministically
    * (highest layer, smallest external id on ties). */
  def delete(externalId: String): Unit = {
    externalToInternal.remove(externalId).foreach { internalId =>
      nodes(internalId) = null // slot freed for reuse by a later insert
      freeIds += internalId
      liveCount -= 1
      nodes.foreach(n =>
        if (n != null) n.connections.foreach(c => c --= Seq(internalId)))
      if (entry.contains(internalId)) {
        entry =
          if (liveCount == 0) None
          else {
            var best = -1
            var i = 0
            while (i < nodes.length) {
              val n = nodes(i)
              if (n != null && (best < 0 || {
                    val b = nodes(best)
                    n.layer > b.layer ||
                    (n.layer == b.layer && n.externalId < b.externalId)
                  })) best = i
              i += 1
            }
            Some(best)
          }
      }
      if (liveCount == 0) {
        // graph emptied: compact all storage back to the initial state
        nodes.clear()
        freeIds.clear()
        nextId = 0
        dimension = None
      }
    }
  }

  def contains(externalId: String): Boolean = externalToInternal.contains(externalId)

  /** Serving-time ef autoscale: `max(efSearch, 4k, min(32k, 1024))`.
    * The fixed reference default efSearch=64 under-recalls small-k
    * queries on unclustered data (measured on the bench's random synth
    * corpus: overlap@10 0.6 at ef=64, 0.8 at ef=320; planted
    * near-duplicate queries 0.6 -> 1.0), while the graph walk stays
    * microseconds-scale — in distributed serving the per-query cost is
    * batch/scan dominated, so the wider walk is almost free end-to-end.
    * The 1024 cap bounds the ef growth for large k; the 4k floor keeps
    * ef a few beams wide beyond the cap. Explicitly-set efSearch above
    * the autoscale still wins (it is a max). */
  private def effectiveEf(limit: Int): Int =
    math.max(params.efSearch,
      math.max(4 * limit, math.min(32 * limit, 1024)))

  /** ANN top-k: (external_id, raw metric value), dist-then-id order. */
  def search(query: Array[Float], limit: Int): Seq[(String, Double)] = {
    if (limit <= 0 || entry.isEmpty) return Seq.empty
    require(dimension.forall(_ == query.length), "dimension mismatch")
    var ep = entry.get
    var layer = nodes(ep).layer
    while (layer >= 1) {
      ep = greedyClosest(ep, query, layer)._1
      layer -= 1
    }
    searchLayer(ep, query, 0, effectiveEf(limit))
      .map { case (id, dist) => (nodes(id).externalId, dist, id) }
      .sortBy(t => (t._2, t._1))
      .take(limit)
      .map { case (eid, _, id) =>
        (eid, VectorKernels.distance(metric.code, query, vectorOf(id)))
      }
  }

  /** Snapshot every live node for a persisted layout: adjacency by
    * INTERNAL id (layer-major), vector copied out of the arena. The
    * pair (exportState, [[Hnsw.fromState]]) round-trips the graph
    * bit-exactly — loading replays NO inserts and computes NO
    * distances, which is what makes a persisted sharded layout cheap
    * to open compared to the reference's rebuild-from-canonical. */
  def exportState(): Seq[Hnsw.NodeState] = {
    val out = Seq.newBuilder[Hnsw.NodeState]
    var i = 0
    while (i < nodes.length) {
      val n = nodes(i)
      if (n != null)
        out += Hnsw.NodeState(i, n.externalId, n.layer, vectorOf(i),
          n.connections.map(_.toArray), entry.contains(i))
      i += 1
    }
    out.result()
  }

  /** Greedy descent on one layer until no neighbor improves. */
  private def greedyClosest(start: Int, query: Array[Float], layer: Int): (Int, Double) = {
    var current = start
    var currentDist = rankToQuery(current, query)
    var moved = true
    while (moved) {
      moved = false
      val node = nodes(current)
      if (layer < node.connections.length) {
        val conns = node.connections(layer)
        var i = 0
        while (i < conns.length) {
          val nb = nodeAt(conns(i))
          if (nb != null) {
            val d = rankToQuery(conns(i), query)
            if (d < currentDist) { current = conns(i); currentDist = d; moved = true }
          }
          i += 1
        }
      }
    }
    (current, currentDist)
  }

  /** ef-bounded best-first exploration of one layer.
    *
    * Hot path of every insert (ef_construction=100 × up-to-m0 neighbor
    * expansions per step): the frontier/result heaps are primitive
    * parallel-array heaps ([[Hnsw.PairHeap]]) whose ordering is
    * bit-identical to the boxed `Ordering.Tuple2[Double, Int]` they
    * replaced, so graph construction (and the fixture oracle pinning it)
    * is unchanged while the build avoids per-edge tuple boxing. */
  private def searchLayer(ep: Int, query: Array[Float], layer: Int,
      ef: Int): Seq[(Int, Double)] = {
    if (nodeAt(ep) == null) return Seq.empty
    val visited = new java.util.BitSet(nextId)
    visited.set(ep)
    // closest-first frontier: (dist asc, id asc); result set keeps its
    // worst entry on top: (dist desc, id desc)
    val candidates = new PairHeap(max = false)
    val results = new PairHeap(max = true)
    val d0 = rankToQuery(ep, query)
    candidates.add(d0, ep)
    results.add(d0, ep)

    var done = false
    while (!done && candidates.nonEmpty) {
      val curDist = candidates.topDist
      val curId = candidates.topId
      candidates.removeTop()
      val worst = if (results.nonEmpty) results.topDist else Double.PositiveInfinity
      if (results.size >= ef && curDist > worst) done = true
      else {
        val node = nodes(curId)
        if (layer < node.connections.length) {
          val conns = node.connections(layer)
          var i = 0
          while (i < conns.length) {
            val neighborId = conns(i)
            if (!visited.get(neighborId)) {
              visited.set(neighborId)
              val nb = nodeAt(neighborId)
              if (nb != null) {
                val d = rankToQuery(neighborId, query)
                val w = if (results.nonEmpty) results.topDist else Double.PositiveInfinity
                if (results.size < ef || d < w) {
                  candidates.add(d, neighborId)
                  results.add(d, neighborId)
                  if (results.size > ef) results.removeTop()
                }
              }
            }
            i += 1
          }
        }
      }
    }
    val out = new Array[(Int, Double)](results.size)
    var i = 0
    while (i < out.length) {
      out(i) = (results.idAt(i), results.distAt(i))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Bound a node's layer degree to m/m0 by rank distance (ties by
    * internal id). */
  private def prune(nodeId: Int, layer: Int): Unit = {
    val limit = if (layer == 0) params.m0 else params.m
    val node = nodeAt(nodeId)
    if (node != null && layer < node.connections.length &&
        node.connections(layer).length > limit) {
      val kept = node.connections(layer).toSeq
        .flatMap { id =>
          val nb = nodeAt(id)
          if (nb == null) None else Some((id, rankNodes(nodeId, id)))
        }
        .sortBy(t => (t._2, t._1)).take(limit).map(_._1)
      node.connections(layer).clear()
      node.connections(layer) ++= kept
    }
  }
}

object Hnsw {

  final case class Params(
      m: Int = 16, m0: Int = 32, efConstruction: Int = 100,
      efSearch: Int = 64, maxLevel: Int = 12) {
    def validate(): Unit = {
      require(m > 0 && m0 > 0, "m/m0 must be positive")
      require(m <= 1024 && m0 <= 2048 && m0 >= m, "invalid hnsw degree")
      require(efConstruction >= m && efConstruction <= 1000000,
        "ef_construction must be in [m, 1e6]")
      require(efSearch > 0 && efSearch <= 1000000, "ef_search must be in (0, 1e6]")
      require(maxLevel > 0 && maxLevel <= 64, "max_level must be in (0, 64]")
    }
  }

  /** Primitive (dist, id) binary heap over parallel arrays — the
    * allocation-free replacement for `PriorityQueue[(Double, Int)]` in
    * the graph walk. Ordering is exactly `Ordering.Tuple2[Double, Int]`
    * (i.e. `java.lang.Double.compare`, ties by id): `max=true` keeps the
    * LARGEST pair on top (result set, top = current worst), `max=false`
    * the smallest (closest-first frontier). Callers iterate the raw heap
    * array via `idAt`/`distAt` and sort downstream — heap-internal order
    * carries no semantics, same as `PriorityQueue.toSeq` before it. */
  private[index] final class PairHeap(max: Boolean, initial: Int = 64) {
    private var dists = new Array[Double](initial)
    private var ids = new Array[Int](initial)
    private var n = 0

    def size: Int = n
    def nonEmpty: Boolean = n > 0
    def topDist: Double = dists(0)
    def topId: Int = ids(0)
    def distAt(i: Int): Double = dists(i)
    def idAt(i: Int): Int = ids(i)

    /** True when (d1, i1) should sit above (d2, i2). */
    private def before(d1: Double, i1: Int, d2: Double, i2: Int): Boolean = {
      val c = java.lang.Double.compare(d1, d2)
      if (c != 0) { if (max) c > 0 else c < 0 }
      else { if (max) i1 > i2 else i1 < i2 }
    }

    def add(d: Double, id: Int): Unit = {
      if (n == dists.length) {
        dists = java.util.Arrays.copyOf(dists, n * 2)
        ids = java.util.Arrays.copyOf(ids, n * 2)
      }
      var i = n
      n += 1
      while (i > 0 && {
        val p = (i - 1) >> 1
        before(d, id, dists(p), ids(p))
      }) {
        val p = (i - 1) >> 1
        dists(i) = dists(p); ids(i) = ids(p)
        i = p
      }
      dists(i) = d; ids(i) = id
    }

    def removeTop(): Unit = {
      n -= 1
      val d = dists(n)
      val id = ids(n)
      var i = 0
      var sifting = n > 0
      while (sifting) {
        val l = 2 * i + 1
        if (l >= n) sifting = false
        else {
          var c = l
          val r = l + 1
          if (r < n && before(dists(r), ids(r), dists(l), ids(l))) c = r
          if (before(dists(c), ids(c), d, id)) {
            dists(i) = dists(c); ids(i) = ids(c)
            i = c
          } else sifting = false
        }
      }
      if (n > 0) { dists(i) = d; ids(i) = id }
    }
  }

  /** FNV-1a 64-bit (public constants). */
  def fnv1a(bytes: Array[Byte]): Long = {
    var hash = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      hash ^= (bytes(i) & 0xFFL)
      hash *= 0x00000100000001B3L
      i += 1
    }
    hash
  }

  /** Reverse-ordering wrapper for deterministic entry re-election. */
  private[index] final case class Reverse(s: String) extends Ordered[Reverse] {
    override def compare(that: Reverse): Int = that.s.compareTo(s)
  }

  /** One persisted graph node: adjacency is layer-major arrays of
    * INTERNAL ids (dense ints — stable across export/import). */
  final case class NodeState(
      internalId: Int, externalId: String, layer: Int,
      vector: Array[Float], connections: Array[Array[Int]], isEntry: Boolean)

  /** Reconstruct a graph from [[Hnsw#exportState]] rows (any order).
    * Structure, entry point, and internal ids restore exactly, so
    * searches are bit-identical to the instance that exported. Freed
    * slots (gaps from pre-export deletes) are reclaimed smallest-first
    * by later inserts — deterministic, though a live instance that had
    * deleted in a different order could assign future ids differently;
    * the persisted-layout flow (build → export → import → search)
    * never hits that case. */
  def fromState(metric: Metric, params: Params,
      state: Seq[NodeState]): Hnsw = {
    val g = new Hnsw(metric, params)
    if (state.isEmpty) return g
    val d = state.head.vector.length
    val maxId = state.iterator.map(_.internalId).max
    require(maxId >= 0 && state.forall(_.internalId >= 0), "negative internal id")
    var i = 0
    while (i <= maxId) { g.nodes += null; i += 1 }
    state.foreach { ns =>
      require(ns.vector.length == d, "mixed dimensions in graph state")
      require(ns.connections.length == ns.layer + 1,
        s"node ${ns.externalId}: ${ns.connections.length} layers of adjacency for layer ${ns.layer}")
      require(g.nodes(ns.internalId) == null, s"duplicate internal id ${ns.internalId}")
      val node = new g.Node(ns.externalId, ns.layer)
      var l = 0
      while (l <= ns.layer) { node.connections(l) ++= ns.connections(l); l += 1 }
      g.nodes(ns.internalId) = node
      g.arenaStore(ns.internalId, ns.vector)
      require(g.externalToInternal.put(ns.externalId, ns.internalId).isEmpty,
        s"duplicate external id ${ns.externalId}")
      if (ns.isEntry) g.entry = Some(ns.internalId)
      g.liveCount += 1
    }
    require(g.entry.nonEmpty, "graph state has no entry point")
    g.nextId = maxId + 1
    g.dimension = Some(d)
    // gaps become the free-list, smallest last (reuse pops from the
    // end, so smallest ids are reclaimed first — see scaladoc)
    i = maxId
    while (i >= 0) { if (g.nodes(i) == null) g.freeIds += i; i -= 1 }
    g
  }

  /** Hard cap on driver-side graph builds. HNSW insertion is sequential
    * by design (the reference rebuilds the graph in one process too), so
    * [[build]] collects the collection to the driver — fine up to ~1M
    * rows, an OOM past it. Configurable via
    * `spark.graft.hnsw.maxBuildRows`. */
  val DefaultMaxBuildRows = 1000000L

  /** Build from a canonical collection frame: rows collected to the
    * driver SORTED BY ID (the reference's rebuild order) — insertion
    * order is part of graph determinism.
    *
    * Guarded: refuses collections over `spark.graft.hnsw.maxBuildRows`
    * (default 1M) — at that scale use the distributed quantized family
    * (ivf / ivfpq / partitioned ivfpq) instead of a driver-resident
    * graph. The count is one cheap aggregate before the collect. */
  def build(df: DataFrame, config: CollectionConfig,
      params: Params = Params(), knownCount: Long = -1L): Hnsw = {
    val cap = GraftConf.long(df.sparkSession, "spark.graft.hnsw.maxBuildRows", DefaultMaxBuildRows)
    val n = if (knownCount >= 0) knownCount else df.count()
    require(n <= cap,
      s"hnsw build collects rows to the driver: $n rows exceeds the " +
      s"$cap cap (spark.graft.hnsw.maxBuildRows). At this scale use a " +
      "distributed index instead: index=\"ivfpq\" (cell-partitioned " +
      "ADC) or index=\"ivf\".")
    val g = new Hnsw(config.metric, params)
    val rows = df.select(df.col("id").cast(StringType),
        df.col("vector").cast(ArrayType(FloatType)))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    g.insertMany(rows.toSeq)
    g
  }
}
