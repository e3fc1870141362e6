package graft.index

import scala.collection.mutable

import graft.core.Metric
import graft.expr.VectorKernels

/** Single-shard Vamana graph — the flat-graph half of a DiskANN-style
  * index (Subramanya et al., "DiskANN: Fast Accurate Billion-point
  * Nearest Neighbor Search on a Single Node", NeurIPS 2019; public
  * algorithm). This is an ENGINE EXTENSION beyond the reference's
  * `index: :hnsw` contract (hnsw.ex:13-19 is the only graph family the
  * reference ships): one graph layer, degree bound R, greedy beam
  * search from a medoid entry point, and α-robust pruning — the layout
  * that dominates at disk-resident scale because every node is one
  * fixed-size adjacency record (no layer hierarchy to chase).
  *
  * Deterministic end to end, like [[Hnsw]]:
  *   - callers insert rows sorted by external id (ShardedVamana sorts);
  *   - the entry point is the MEDOID approximation: the stored row
  *     nearest the mean vector, ties by internal id;
  *   - every distance tie in search and prune breaks by internal id;
  *   - the two build passes (α=1.0 then α — the paper's schedule) visit
  *     nodes in insertion order.
  * Two builds over the same sorted rows are bit-identical, so sharded
  * results are pin-able by a stored-expected fixture exactly like the
  * ann_hnsw_* gate rows.
  *
  * Metrics: l2 / cosine only. α-occlusion (`α·d(p*,v) ≤ d(p,v)` drops
  * v) assumes non-negative distances; raw inner product violates that,
  * and the standard MIPS answer is the reduce-to-L2 transform on the
  * caller's side, not a different prune rule here.
  *
  * Insert-only: the facade's mutation path rebuilds shard graphs via
  * cache-key rotation (the same regime as the distributed hnsw path),
  * so graph-level delete never runs in this engine. Incremental inserts
  * AFTER a bulk build take the FreshDiskANN-style path: one greedy
  * search + robust prune per new node against the existing graph.
  */
final class Vamana(val metric: Metric, val params: Vamana.Params) {
  import Hnsw.PairHeap

  require(Seq(Metric.L2, Metric.Cosine).contains(metric),
    s"vamana supports l2/cosine, not ${metric.name} " +
    "(inner_product needs the MIPS-to-L2 transform upstream)")
  params.validate()

  private val externalIds = mutable.ArrayBuffer.empty[String]
  private val adjacency = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
  private val externalToInternal = mutable.HashMap.empty[String, Int]
  private var entry: Int = -1
  private var dimension: Int = -1
  // one flat vector arena, like Hnsw: the build is ~n·L·R distance
  // calls per pass and the contiguous layout removes a pointer chase
  // per call (ranking runs the 16-chain rankingDistanceOff order —
  // internal-only; reported distances use the sequential row kernels).
  // With params.coded the arena is bf16-PACKED (2 B/dim — half the
  // executor-cache bytes per node, so one cacheMaxNodes budget holds
  // twice the corpus): vectors round on insert and the graph ranks,
  // builds, and reports over the ROUNDED values — the same
  // serves-the-rounded-corpus contract as the bf16 index kind. This is
  // the DiskANN memory move (compressed vectors resident, graph walks
  // on them) in its Spark shape.
  private var arena: Array[Float] = new Array[Float](0)
  private var arenaB: Array[Byte] = new Array[Byte](0)
  private val coded = params.coded

  def size: Int = externalIds.length
  def contains(externalId: String): Boolean =
    externalToInternal.contains(externalId)
  private[graft] def entryId: Int = entry

  private def arenaStore(id: Int, vector: Array[Float]): Unit = {
    val d = vector.length
    val needL = (id.toLong + 1L) * d
    require(needL <= Int.MaxValue,
      s"vamana shard exceeds ${Int.MaxValue} floats (${id + 1} rows x $d " +
      "dims) in one arena — use more shards")
    if (coded) {
      val need = needL.toInt * 2 // bytes: 2 per element
      if (arenaB.length < need) {
        val grown = math.min(Int.MaxValue.toLong,
          math.max(need.toLong, math.max(128L * d, arenaB.length * 2L))).toInt
        arenaB = java.util.Arrays.copyOf(arenaB, grown)
      }
      val packed = VectorKernels.packBf16(vector)
      System.arraycopy(packed, 0, arenaB, id * d * 2, d * 2)
    } else {
      val need = needL.toInt
      if (arena.length < need) {
        val grown = math.min(Int.MaxValue.toLong,
          math.max(needL, math.max(64L * d, arena.length * 2L))).toInt
        arena = java.util.Arrays.copyOf(arena, grown)
      }
      System.arraycopy(vector, 0, arena, id * d, d)
    }
  }

  /** Stored node vector: the ROUNDED values when coded (re-rounding is
    * idempotent, so export → import re-packs bit-stably). */
  private def vectorOf(id: Int): Array[Float] =
    if (coded) VectorKernels.unpackBf16(java.util.Arrays.copyOfRange(
      arenaB, id * dimension * 2, (id + 1) * dimension * 2))
    else java.util.Arrays.copyOfRange(arena, id * dimension,
      id * dimension + dimension)

  /** Rank distance of stored node `id` to a prepared query. */
  private def rankToQuery(id: Int, q: Array[Float]): Double =
    VectorKernels.rankValue(metric.code,
      if (coded) VectorKernels.rankingDistanceBf16Off(metric.code,
        arenaB, id * q.length, q, q.length)
      else VectorKernels.rankingDistanceOff(metric.code,
        arena, id * q.length, q, 0, q.length))

  private def rankNodes(aId: Int, bId: Int): Double =
    VectorKernels.rankValue(metric.code,
      if (coded) VectorKernels.rankingDistanceBf16PairOff(metric.code,
        arenaB, aId * dimension, bId * dimension, dimension)
      else VectorKernels.rankingDistanceOff(metric.code,
        arena, aId * dimension, arena, bId * dimension, dimension))

  /** Bulk build: rows become internal ids 0..n-1 in the given order
    * (callers pass them sorted by external id — determinism contract),
    * the medoid is elected, then the paper's two passes run. Callable
    * only on an empty graph; later single rows go through [[insert]]. */
  def insertMany(rows: Seq[(String, Array[Float])]): Unit = {
    if (rows.isEmpty) return
    require(externalIds.isEmpty,
      "insertMany bulk-builds an empty graph; append via insert()")
    val d = rows.head._2.length
    rows.foreach { case (id, v) =>
      require(v.length == d, "dimension mismatch")
      require(VectorKernels.validateFinite(v), "non-finite value")
      require(externalToInternal.put(id, externalIds.length).isEmpty,
        s"duplicate id $id")
      externalIds += id
      adjacency += mutable.ArrayBuffer.empty[Int]
    }
    dimension = d
    rows.iterator.zipWithIndex.foreach { case ((_, v), i) => arenaStore(i, v) }
    entry = electMedoid()
    // pass 1 at α=1.0 wires the raw greedy structure; pass 2 at α adds
    // the long-range diversity edges that cut the walk's hop count
    runPass(1.0)
    if (params.alpha != 1.0) runPass(params.alpha)
    // settle the lazy slack back to the R contract, THEN make
    // medoid-reachability a GUARANTEE, not an empirical property — the
    // exactness contract (beam >= n == exact) and the gate rows'
    // data-derived oracles rest on it (repair edges may exceed R and
    // must not be pruned, so the order matters)
    tightenDegrees(params.alpha)
    repairConnectivity()
  }

  /** Deterministic connectivity repair (the DiskANN build ends with a
    * pass that re-links stranded nodes; this is that pass in its
    * simplest correct form): BFS from the medoid, then every
    * unreachable node p — in internal-id order — gets one forced
    * in-edge from the closest REACHABLE node (found by a beam search,
    * whose results are reachable by construction), and p's component
    * is marked reachable. Forced edges may push a node's degree to
    * R+k (k = components attached through it); the at-rest layout
    * stores variable-length adjacency, so nothing truncates them. */
  private def repairConnectivity(): Unit = {
    val n = externalIds.length
    val seen = new java.util.BitSet(n)
    def mark(start: Int): Unit = {
      var stack = List(start)
      seen.set(start)
      while (stack.nonEmpty) {
        val cur = stack.head
        stack = stack.tail
        val conns = adjacency(cur)
        var i = 0
        while (i < conns.length) {
          val nb = conns(i)
          if (!seen.get(nb)) { seen.set(nb); stack = nb :: stack }
          i += 1
        }
      }
    }
    mark(entry)
    var p = 0
    while (p < n) {
      if (!seen.get(p)) {
        val near = beamSearchInternal(vectorOf(p), params.buildBeam,
          exclude = p)
        val src =
          if (near.isEmpty) entry
          else near.minBy(t => (t._2, t._1))._1
        if (!adjacency(src).contains(p)) adjacency(src) += p
        mark(p)
      }
      p += 1
    }
  }

  /** Incremental insert against an existing graph (FreshDiskANN-style):
    * one greedy search seeds the candidate set, robust prune picks the
    * out-edges, back-edges prune on overflow. */
  def insert(externalId: String, vector: Array[Float]): Unit = {
    if (externalIds.isEmpty) {
      insertMany(Seq(externalId -> vector))
      return
    }
    require(vector.length == dimension, "dimension mismatch")
    require(VectorKernels.validateFinite(vector), "non-finite value")
    require(!externalToInternal.contains(externalId),
      s"duplicate id $externalId")
    val p = externalIds.length
    externalIds += externalId
    adjacency += mutable.ArrayBuffer.empty[Int]
    externalToInternal(externalId) = p
    arenaStore(p, vector)
    wire(p, params.alpha)
    // in-edge floor for a BRAND-NEW node (the only nodes that can point
    // at p are the back-edge targets wire just touched — so this check
    // is exact here, unlike inside bulk passes, where the final BFS
    // repair owns the guarantee): if every back-edge prune dropped p,
    // force one on the closest out-neighbor. Degree may sit at R+1 —
    // the at-rest adjacency is variable-length, nothing truncates it.
    val out = adjacency(p)
    if (out.nonEmpty && !out.exists(j => adjacency(j).contains(p)))
      adjacency(out.head) += p
  }

  /** Stored row nearest the mean vector, ties by internal id — the
    * deterministic O(n·d) medoid approximation the DiskANN build uses. */
  private def electMedoid(): Int = {
    val n = externalIds.length
    val mean = new Array[Float](dimension)
    val acc = new Array[Double](dimension)
    var i = 0
    while (i < n) {
      val v = vectorOf(i) // arena-agnostic (decodes the coded arena)
      var j = 0
      while (j < dimension) { acc(j) += v(j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < dimension) { mean(j) = (acc(j) / n).toFloat; j += 1 }
    var best = 0
    var bestD = rankToQuery(0, mean)
    i = 1
    while (i < n) {
      val d = rankToQuery(i, mean)
      if (d < bestD) { best = i; bestD = d }
      i += 1
    }
    best
  }

  private def runPass(alpha: Double): Unit = {
    var p = 0
    while (p < externalIds.length) {
      wire(p, alpha)
      p += 1
    }
  }

  /** One build step for node `p`: candidates = the closest-L nodes the
    * greedy search returns ∪ current out-edges, robust-pruned to ≤R
    * out-edges; each new out-neighbor gets the reciprocal edge, pruned
    * on degree overflow.
    *
    * The pool is the search's top-L, not the full visited set: the
    * paper's Algorithm 1 writes V, but occlusion is O(R·|pool|)
    * node-pair distances per insert and the visited set grows with
    * graph connectivity — over full V it measured ~5x the whole hnsw
    * build at 3k-node shards. A size-L prune pool is also what the
    * reference DiskANN implementation maintains, so this is the
    * deployed algorithm, not a deviation; the recall gates in VamanaSpec
    * hold. */
  private def wire(p: Int, alpha: Double): Unit = {
    val q = vectorOf(p)
    // the beam's RESULT set is exactly the closest-L visited nodes —
    // the capped pool — so no separate visited list or re-sort is needed
    val near = beamSearchInternal(q, params.buildBeam, exclude = p)
    val cands = mutable.ArrayBuffer.empty[(Int, Double)]
    val seen = new java.util.BitSet(externalIds.length)
    near.foreach { case (id, d) =>
      if (id != p && !seen.get(id)) { seen.set(id); cands += ((id, d)) }
    }
    adjacency(p).foreach { id =>
      if (id != p && !seen.get(id)) {
        seen.set(id); cands += ((id, rankNodes(p, id)))
      }
    }
    val kept = robustPrune(p, cands, alpha)
    adjacency(p).clear()
    adjacency(p) ++= kept
    kept.foreach { j =>
      if (!adjacency(j).contains(p)) {
        adjacency(j) += p
        // LAZY back-edge prune with degree slack: α-occlusion is O(R²)
        // node-pair distances, and an eager prune fires on nearly every
        // back-edge — it measured as the dominant build cost (the whole
        // build ran ~4x the hnsw build of the same rows). Triggering
        // only past ~1.3·R amortizes each prune over ~R/3 additions —
        // the slack factor the reference DiskANN implementation uses —
        // and [[insertMany]] ends with one tighten-to-R pass.
        if (adjacency(j).length > params.maxDegree * 13 / 10) {
          val jc = adjacency(j).map(id => (id, rankNodes(j, id)))
          val jKept = robustPrune(j, jc, alpha)
          adjacency(j).clear()
          adjacency(j) ++= jKept
        }
      }
    }
  }

  /** Final bulk-build pass: α-occlusion-prune every node still over R
    * (the lazy back-edge slack leaves degrees in (R, 1.3R]). Runs
    * BEFORE connectivity repair, whose forced edges must survive. */
  private def tightenDegrees(alpha: Double): Unit = {
    var j = 0
    while (j < externalIds.length) {
      if (adjacency(j).length > params.maxDegree) {
        val jc = adjacency(j).map(id => (id, rankNodes(j, id)))
        val jKept = robustPrune(j, jc, alpha)
        adjacency(j).clear()
        adjacency(j) ++= jKept
      }
      j += 1
    }
  }

  /** α-robust prune (paper, Algorithm 2): repeatedly keep the closest
    * remaining candidate p*, then OCCLUDE every candidate v with
    * `α·d(p*,v) ≤ d(p,v)` — v reaches p through p* cheaply enough that
    * the direct edge is redundant. Ties by internal id everywhere. */
  private def robustPrune(p: Int, cands: mutable.ArrayBuffer[(Int, Double)],
      alpha: Double): Seq[Int] = {
    val sorted = cands.sortInPlaceBy(t => (t._2, t._1))
    val out = mutable.ArrayBuffer.empty[Int]
    val occluded = new java.util.BitSet(externalIds.length)
    var i = 0
    while (i < sorted.length && out.length < params.maxDegree) {
      val (star, _) = sorted(i)
      if (!occluded.get(star)) {
        out += star
        var j = i + 1
        while (j < sorted.length) {
          val (v, dPV) = sorted(j)
          if (!occluded.get(v) && alpha * rankNodes(star, v) <= dPV)
            occluded.set(v)
          j += 1
        }
      }
      i += 1
    }
    out.toSeq
  }

  /** Serving-time beam autoscale, same shape as Hnsw.effectiveEf: the
    * fixed default under-recalls small-k on unclustered corpora while
    * the walk stays microseconds-scale. An explicit larger searchBeam
    * still wins (max). */
  private def effectiveBeam(limit: Int): Int =
    math.max(params.searchBeam,
      math.max(4 * limit, math.min(32 * limit, 1024)))

  /** ANN top-k: (external_id, raw metric value), dist-then-id order. */
  def search(query: Array[Float], limit: Int): Seq[(String, Double)] =
    searchBeamed(query, limit, 0)

  /** [[search]] with an explicit beam (recall knob; 0 = autoscale). */
  def searchBeamed(query: Array[Float], limit: Int, beam: Int): Seq[(String, Double)] = {
    if (limit <= 0 || externalIds.isEmpty) return Seq.empty
    require(query.length == dimension, "dimension mismatch")
    val l = math.max(math.max(beam, limit), effectiveBeam(limit))
    beamSearchInternal(query, l, exclude = -1)
      .sortBy(t => (t._2, t._1))
      .take(limit)
      .map { case (id, _) =>
        (externalIds(id),
          VectorKernels.distance(metric.code, query, vectorOf(id)))
      }
  }

  /** Greedy beam search from the medoid: best-first over the graph,
    * result set bounded at `beam` — the closest-`beam` visited nodes.
    * `exclude` drops one id from the RESULT set (a node searching for
    * itself during build still traverses through itself). */
  private def beamSearchInternal(query: Array[Float], beam: Int,
      exclude: Int): Seq[(Int, Double)] = {
    if (entry < 0) return Seq.empty
    val visited = new java.util.BitSet(externalIds.length)
    val frontier = new PairHeap(max = false)
    val results = new PairHeap(max = true)
    def admit(id: Int, d: Double): Unit =
      if (id != exclude) {
        results.add(d, id)
        if (results.size > beam) results.removeTop()
      }
    val d0 = rankToQuery(entry, query)
    visited.set(entry)
    frontier.add(d0, entry)
    admit(entry, d0)
    var done = false
    while (!done && frontier.nonEmpty) {
      val curDist = frontier.topDist
      val curId = frontier.topId
      frontier.removeTop()
      val worst =
        if (results.size >= beam) results.topDist else Double.PositiveInfinity
      if (curDist > worst) done = true
      else {
        val conns = adjacency(curId)
        var i = 0
        while (i < conns.length) {
          val nb = conns(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = rankToQuery(nb, query)
            val w =
              if (results.size >= beam) results.topDist
              else Double.PositiveInfinity
            if (d < w || results.size < beam) {
              frontier.add(d, nb)
              admit(nb, d)
            }
          }
          i += 1
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

  /** Snapshot for a persisted layout: flat adjacency by internal id;
    * (exportState, [[Vamana.fromState]]) round-trips bit-exactly, so a
    * persisted shard serves identically to the instance that built. */
  def exportState(): Seq[Vamana.NodeState] = {
    val out = Seq.newBuilder[Vamana.NodeState]
    var i = 0
    while (i < externalIds.length) {
      out += Vamana.NodeState(i, externalIds(i), vectorOf(i),
        adjacency(i).toArray, i == entry)
      i += 1
    }
    out.result()
  }
}

object Vamana {

  /** R = max out-degree; buildBeam = the paper's L (candidate pool per
    * build step); α > 1 keeps diversity edges; searchBeam = serving
    * beam floor (autoscaled up with k like the hnsw shim's efSearch);
    * coded = bf16-packed node arena (half the cache bytes per node;
    * the graph builds, ranks, and reports over the ROUNDED vectors —
    * the bf16 index kind's contract). */
  final case class Params(
      maxDegree: Int = 32, buildBeam: Int = 64, alpha: Double = 1.2,
      searchBeam: Int = 64, coded: Boolean = false) {
    def validate(): Unit = {
      require(maxDegree > 0 && maxDegree <= 2048, "maxDegree must be in (0, 2048]")
      require(buildBeam >= maxDegree && buildBeam <= 1000000,
        "buildBeam must be in [maxDegree, 1e6]")
      require(alpha >= 1.0 && alpha <= 4.0, "alpha must be in [1, 4]")
      require(searchBeam > 0 && searchBeam <= 1000000,
        "searchBeam must be in (0, 1e6]")
    }
  }

  /** One persisted node: flat adjacency of INTERNAL ids (dense ints,
    * stable across export/import), entry flag marks the medoid. */
  final case class NodeState(
      internalId: Int, externalId: String, vector: Array[Float],
      neighbors: Array[Int], isEntry: Boolean)

  /** Reconstruct from [[Vamana#exportState]] rows (any order): internal
    * ids, adjacency, and the medoid restore exactly — no distance
    * computations, no inserts, searches bit-identical to the exporter. */
  def fromState(metric: Metric, params: Params,
      state: Seq[NodeState]): Vamana = {
    val g = new Vamana(metric, params)
    if (state.isEmpty) return g
    val d = state.head.vector.length
    val n = state.length
    require(state.forall(ns => ns.internalId >= 0 && ns.internalId < n),
      "internal ids must be dense 0..n-1")
    g.dimension = d
    var i = 0
    while (i < n) {
      g.externalIds += null
      g.adjacency += null
      i += 1
    }
    state.foreach { ns =>
      require(ns.vector.length == d, "mixed dimensions in graph state")
      require(g.externalIds(ns.internalId) == null,
        s"duplicate internal id ${ns.internalId}")
      g.externalIds(ns.internalId) = ns.externalId
      g.adjacency(ns.internalId) =
        mutable.ArrayBuffer.from(ns.neighbors)
      g.arenaStore(ns.internalId, ns.vector)
      require(g.externalToInternal.put(ns.externalId, ns.internalId).isEmpty,
        s"duplicate external id ${ns.externalId}")
      if (ns.isEntry) g.entry = ns.internalId
    }
    require(g.entry >= 0, "graph state has no entry point")
    g
  }
}
