package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.CosineLsh
import graft.core.{CollectionConfig, GraftConf, Metric}
import graft.functions.VectorFunctions._
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup variant is candidate-generation by LSH
  * banding (shuffle on SMALL keys: band hashes, never documents) followed
  * by exact verification restricted to candidate pairs. Exact dedup is a
  * single hash-aggregate. Nothing ever does an all-pairs join except the
  * explicitly-named `exactJaccardPairs` verification helper.
  *
  * Scaladoc examples below share these toy frames (DocExamplesSpec runs
  * every example verbatim):
  * {{{
  * val docs = Seq(
  *   ("d1", "the quick brown fox jumps over the lazy dog"),
  *   ("d2", "the quick brown fox jumps over the lazy dog"),  // exact dup
  *   ("d3", "a quick brown fox jumps over a lazy dog today"),// near dup
  *   ("d4", "completely different text about spark pipelines")
  * ).toDF("id", "text")
  * val vecs = Seq(
  *   ("v1", Seq(1f, 0f, 0f)), ("v2", Seq(0.999f, 0.045f, 0f)), // near dups
  *   ("v3", Seq(0f, 1f, 0f))
  * ).toDF("id", "vector")
  * }}}
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** Exact dedup on a key: marks each row with the canonical (minimum)
    * id of its duplicate group and an is_dup flag. One shuffle on the
    * md5 of the key.
    * {{{
    * Dedup.exactDuplicates(docs, "id", col("text"))
    *   .filter(col("is_dup"))   // d2 only, canonical_id d1
    * }}} */
  def exactDuplicates(df: DataFrame, idCol: String, keyCol: Column): DataFrame = {
    val w = Window.partitionBy(md5(keyCol))
    df.withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  /** Keep only canonical rows (first by id within each duplicate group).
    * {{{
    * Dedup.dropExactDuplicates(docs, "id", col("text")).count()   // 3
    * }}} */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    exactDuplicates(df, idCol, keyCol).filter(!col("is_dup"))
      .drop("canonical_id", "is_dup")

  // ---------------------------------------------------- n-gram Jaccard

  /** Exact k-shingle Jaccard for all pairs of a (small) frame, by the
    * `array_intersect`/`array_union` formula over distinct shingles — the
    * test oracle the fused [[TextAnalysis.shingleJaccard]] verify must
    * equal. O(n^2): use the minhash path for anything big.
    * {{{
    * Dedup.exactJaccardPairs(docs, "id", col("text"), k = 3)
    *   .filter(col("jaccard") === 1.0)   // exactly the (d1, d2) pair
    * }}} */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: Column,
      k: Int): DataFrame = {
    val withSh = df.select(col(idCol).as("id"),
      TextAnalysis.distinctShingles(textCol, k).as("sh"))
    val a = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  // ----------------------------------------------------------- MinHash

  /** Default hot-band cap: a band with more members than this is skipped
    * by candidate generation (see [[dropHotBands]]). 10k members is
    * already 50M pairs from ONE band — past it the band is boilerplate
    * (empty text, zero vectors, template pages), not near-duplication
    * signal, and exact verification of c^2/2 pairs would stall the
    * stage. */
  val DefaultMaxBandSize = 10000

  /** Hot-band guard: a degenerate band with c members emits c^2/2
    * candidate pairs from the self-join, so one boilerplate mega-band on
    * a web corpus turns a banded O(n) plan into an all-pairs stall. Rows
    * in bands with more than `cap` members are excluded BEFORE the join;
    * the membership count rides one window over the band key — the same
    * shuffle the self-join needs anyway. `cap <= 0` disables the guard.
    * Use the `*HotBands` audits for a (band, members) side output of
    * what a cap would skip. */
  private def dropHotBands(exploded: DataFrame, cap: Int): DataFrame =
    if (cap <= 0) exploded
    else exploded
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band")))
      .filter(col("_bc") <= cap).drop("_bc")

  /** (band, members) for bands over `cap` — the skipped-bands side
    * output to pair with a capped candidate run. */
  private def hotBands(exploded: DataFrame, cap: Int): DataFrame =
    exploded.groupBy("band").agg(count(lit(1)).as("members"))
      .filter(col("members") > cap)

  private def minhashBanded(df: DataFrame, idCol: String, textCol: Column,
      k: Int, numHashes: Int, bands: Int,
      fastHash: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // Fused band-key expression: one opaque node, so no optimizer
    // re-expansion of the shingle subtree and no lineage barrier.
    // fastHash swaps the md5 spec hash for MurmurHash3 (~10x cheaper
    // per shingle) — candidates only; the exact-Jaccard verify
    // downstream is identical either way
    val keys =
      if (fastHash) TextAnalysis.minhashBandKeysFast(textCol, k, numHashes, bands)
      else TextAnalysis.minhashBandKeys(textCol, k, numHashes, bands)
    // outer + attribute null-filter: a non-outer explode makes the
    // optimizer infer a size/notNull pre-filter that RE-EVALUATES the
    // fused band-key kernel per row (InferFiltersFromGenerate); outer
    // generates are exempt, and the null row a null text emits is
    // dropped on the cheap exploded attribute
    df.select(col(idCol).as("id"), keys.as("bands"))
      .select(col("id"), explode_outer(col("bands")).as("band"))
      .filter(col("band").isNotNull)
  }

  /** MinHash+LSH candidate pairs: signature -> band keys -> self-join on
    * band key (a<b), distinct. The only shuffled payload is
    * (band_hash, id); bands over `maxBandSize` members are skipped (see
    * [[dropHotBands]], audit with [[minhashHotBands]]).
    * {{{
    * Dedup.minhashCandidatePairs(docs, "id", col("text"),
    *   k = 3, numHashes = 8, bands = 4)
    *   // contains (d1, d2): identical text collides in every band
    * }}} */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: Column,
      k: Int, numHashes: Int, bands: Int,
      maxBandSize: Int = DefaultMaxBandSize,
      fastHash: Boolean = false): DataFrame = {
    val exploded = dropHotBands(
      minhashBanded(df, idCol, textCol, k, numHashes, bands, fastHash), maxBandSize)
    val a = exploded.select(col("band"), col("id").as("id_a"))
    val b = exploded.select(col("band"), col("id").as("id_b"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Skipped-bands audit for [[minhashCandidatePairs]].
    * {{{
    * Dedup.minhashHotBands(docs, "id", col("text"), 3, 8, 4)
    *   .count()   // 0: no band exceeds the default cap on 4 docs
    * }}} */
  def minhashHotBands(df: DataFrame, idCol: String, textCol: Column,
      k: Int, numHashes: Int, bands: Int,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    hotBands(minhashBanded(df, idCol, textCol, k, numHashes, bands), maxBandSize)

  /** MinHash dedup: LSH candidates verified by exact shingle Jaccard at
    * `threshold`. Returns (id_a, id_b, jaccard) for verified pairs.
    *
    * Filter-verify: only the candidate pairs are verified. Each pair
    * joins the text of both of its ids, and one [[TextAnalysis.shingleJaccard]]
    * call shingles the two texts and counts their shared distinct
    * shingles — no shingle array is computed, shuffled or broadcast for a
    * document outside a candidate pair. `jaccard` is bit-identical to
    * `size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))`
    * over [[TextAnalysis.distinctShingles]]; a NULL text never verifies.
    * {{{
    * val pairs = Dedup.minhashVerifiedPairs(docs, "id", col("text"),
    *   k = 3, numHashes = 8, bands = 4, threshold = 0.7)
    * pairs.select("id_a", "id_b")   // (d1, d2); d3/d4 verify below 0.7
    * }}} */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: Column,
      k: Int, numHashes: Int, bands: Int, threshold: Double,
      fastHash: Boolean = false): DataFrame = {
    val cands = minhashCandidatePairs(df, idCol, textCol, k, numHashes, bands,
      fastHash = fastHash)
    val texts = df.select(col(idCol).as("_vid"), textCol.as("_vtext"))
    cands
      .join(texts.select(col("_vid").as("id_a"), col("_vtext").as("_ta")), "id_a")
      .join(texts.select(col("_vid").as("id_b"), col("_vtext").as("_tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        TextAnalysis.shingleJaccard(col("_ta"), col("_tb"), k).as("jaccard"))
      // a typed filter reads the projected `jaccard`: Catalyst would push a
      // column predicate into the join condition and score each admitted
      // pair a second time in the projection. A NULL text never verifies.
      .filter((r: Row) => !r.isNullAt(2) && r.getDouble(2) >= threshold)
  }

  /** Connected components over verified pairs. Returns (id, cluster_id)
    * for every row of `df`, with cluster_id = the component minimum (an
    * id in no pair is its own cluster).
    *
    * HYBRID: duplicate-pair sets are usually tiny relative to the corpus
    * (banded LSH + verification prunes hard), so ONE bounded collect
    * (`limit(cap + 1)`) first tries to take the whole pair set to the
    * driver, where exact union-find labels it with zero iterative jobs:
    * identical output (component minimum, Spark's UTF8String binary
    * order for strings). The cap is `maxLocalPairs`, else
    * `spark.graft.dedup.maxLocalPairs` (default [[DefaultMaxLocalPairs]];
    * 0 disables the driver path). The pairs are checkpointed lazily
    * (`localCheckpoint(eager = false)`) before that collect, so the pair
    * plan runs once whichever path follows.
    *
    * Past the cap, the materialized pairs are
    * labelled by iterative min-label propagation to a FIXPOINT: each
    * round pushes every node's minimum neighbor label one hop, then
    * POINTER-JUMPS (label := label of the label) — the doubling step
    * makes convergence O(log diameter) rounds instead of O(diameter), so
    * billion-node duplicate chains need ~30 rounds, not millions. The
    * loop stops at fixpoint; `maxIter` is only a runaway safety cap.
    * `localCheckpoint` per round truncates the otherwise
    * exponentially-growing plan lineage.
    * {{{
    * val pairs = Seq(("d1", "d2"), ("d2", "d3")).toDF("id_a", "id_b")
    * Dedup.clusters(docs, "id", pairs)
    *   .filter(col("cluster_id") === "d1").count()   // 3: one chain
    * }}} */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 100, maxLocalPairs: Int = -1): DataFrame = {
    val p = pairIds(pairs)
    localPairs(p, maxLocalPairs) match {
      case Some(sample) =>
        lastClusterRounds = 0
        clustersLocal(df, idCol, p.schema("id_a").dataType, sample)
      case None => clustersDistributed(df, idCol, p, maxIter)
    }
  }

  /** (id_a, id_b) of `pairs`, checkpointed lazily: the first action over
    * it (the driver path's collect, or the distributed loop's first join)
    * runs the pair plan once, and every later read uses that result. */
  private def pairIds(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b")).localCheckpoint(eager = false)

  /** The whole pair set of [[pairIds]] `p` on the driver, when it has at
    * most the local cap of pairs and a driver-orderable id type; None
    * otherwise (the distributed path's cue). */
  private def localPairs(p: DataFrame,
      maxLocalPairs: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val localCap =
      if (maxLocalPairs >= 0) maxLocalPairs
      else GraftConf.int(p.sparkSession, "spark.graft.dedup.maxLocalPairs",
        DefaultMaxLocalPairs)
    if (localCap <= 0 || !localIdType(p.schema("id_a").dataType)) None
    else {
      val sample = p.limit(localCap + 1).collect()
      if (sample.length <= localCap) Some(sample) else None
    }
  }

  /** [[clusters]]' iterative path over the checkpointed pair ids `p`. */
  private def clustersDistributed(df: DataFrame, idCol: String, p: DataFrame,
      maxIter: Int): DataFrame = {
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = df.select(col(idCol).as("id"))
      .withColumn("cluster_id", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // one-hop: pull the minimum neighbor label across each edge
      val viaEdge = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min("cluster_id").as("edge_min"))
      val hop = labels.join(viaEdge, labels("id") === viaEdge("id2"), "left")
        .select(col("id"), col("cluster_id").as("_prev"),
          least(col("cluster_id"), coalesce(col("edge_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: adopt my label's own label (path halving) — labels
      // only decrease, bounded below by the component minimum
      val next = hop.as("a")
        .join(hop.select(col("id").as("bid"), col("cluster_id").as("blabel")),
          col("a.cluster_id") === col("bid"), "left")
        .select(col("a.id").as("id"), col("a._prev").as("_prev"),
          least(col("a.cluster_id"), coalesce(col("blabel"), col("a.cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      converged = next.filter(col("cluster_id") =!= col("_prev")).isEmpty
      labels = next.drop("_prev")
      i += 1
    }
    lastClusterRounds = i
    labels
  }

  /** Rounds the last [[clusters]] call took to converge (spec hook for
    * the O(log diameter) bound; 0 = the driver union-find path). */
  @volatile private[graft] var lastClusterRounds: Int = 0

  /** Pair sets at most this large cluster on the driver (~2M boxed ids
    * peak). Override per call or via `spark.graft.dedup.maxLocalPairs`
    * (0 disables the local path). */
  val DefaultMaxLocalPairs = 1000000

  /** Id types whose driver-side ordering provably matches Spark's
    * `least`/`min` — anything else stays on the distributed loop (no
    * regression for exotic id types the old code handled). */
  private def localIdType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }

  /** `least`/`min` ordering Spark applies to the id column: numeric, or
    * unsigned UTF-8 byte order for strings (UTF8String.compareTo) — the
    * driver path must pick the SAME component minimum. */
  private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Short, y: Short) => x < y
    case (x: String, y: String) => java.util.Arrays.compareUnsigned(
      x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
    case _ => throw new IllegalArgumentException(
      s"unsupported cluster id type ${a.getClass.getName}")
  }

  /** Driver union-find over a collected pair sample: the component
    * minimum of every id that appears in a pair (the same minimum the
    * distributed loop converges to). */
  private def componentMinima(
      sample: Array[org.apache.spark.sql.Row]): java.util.HashMap[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      var pr = parent.get(root)
      while (pr != null && pr != root) { root = pr; pr = parent.get(root) }
      // path compression
      var cur = x
      while (cur != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
      root
    }
    sample.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
      parent.putIfAbsent(a, ra); parent.putIfAbsent(b, rb)
    }
    // component minimum per root, then per participant
    val minOf = new java.util.HashMap[Any, Any]()
    val nodes = new java.util.ArrayList[Any](parent.keySet())
    nodes.forEach { n =>
      val r = find(n)
      val cur = minOf.get(r)
      if (cur == null || idLess(n, cur)) minOf.put(r, n)
    }
    val labels = new java.util.HashMap[Any, Any](2 * nodes.size())
    nodes.forEach(n => labels.put(n, minOf.get(find(n))))
    labels
  }

  /** [[clusters]]' driver path: the union-find labels of the pair ids,
    * one broadcast join instead of O(log diameter) iterations. */
  private def clustersLocal(df: DataFrame, idCol: String,
      idType: org.apache.spark.sql.types.DataType,
      sample: Array[org.apache.spark.sql.Row]): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    componentMinima(sample).forEach((n, m) => rows.add(org.apache.spark.sql.Row(n, m)))
    val labelDf = df.sparkSession.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("_local_label", idType))))
    df.select(col(idCol).as("id"))
      .join(org.apache.spark.sql.functions.broadcast(labelDf), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_local_label"), col("id")).as("cluster_id"))
  }

  /** End-to-end near-dup removal: MinHash-LSH verified pairs ->
    * connected components -> keep only each cluster's canonical (minimum
    * id) row. The one-call shape of the full dedup pipeline.
    *
    * When [[clusters]]' driver path takes the pairs (one collect of the
    * verified pairs), the union-find already names every non-canonical
    * id, so the result is `df` filtered against that drop set: no label
    * frame, no join, and `df` is read once more by whoever consumes the
    * result. Past the local cap, `df` is semi-joined to the ids the
    * distributed labels name canonical, and that result is materialized
    * (`localCheckpoint`), since it costs the whole label loop to
    * recompute. Both paths return each row of `df` at most once (a
    * repeated id keeps or drops all of its rows together) and drop rows
    * with a NULL id.
    * {{{
    * val kept = Dedup.dropNearDuplicates(docs, "id", col("text"))
    *   .select("id")   // d2 dropped (d1 is its cluster minimum)
    * }}} */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.7, fastHash: Boolean = false): DataFrame = {
    val pairs = minhashVerifiedPairs(df, idCol, textCol, k, numHashes, bands,
      threshold, fastHash = fastHash)
    val p = pairIds(pairs)
    localPairs(p, -1) match {
      case Some(sample) =>
        lastClusterRounds = 0
        // one catalyst InSet node holding the drop set (isInCollection
        // would expand to one Literal per id; see Search.filterByIds)
        val conv = org.apache.spark.sql.graft.Bridge.toCatalyst(p.schema("id_a").dataType)
        val drop = Set.newBuilder[Any]
        componentMinima(sample).forEach((n, m) => if (n != m) drop += conv(n))
        df.filter(col(idCol).isNotNull && !org.apache.spark.sql.graft.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.InSet(
            org.apache.spark.sql.graft.Bridge.expression(col(idCol)), drop.result())))
      case None =>
        val canonical = clustersDistributed(df, idCol, p, maxIter = 100)
          .filter(col("id") === col("cluster_id"))
          .select(col("id").as("_cl_id")).distinct()
        df.join(canonical, df(idCol) === col("_cl_id"), "left_semi").localCheckpoint()
    }
  }

  /** MinHash LSH band tuning (MMDS ch.3): among the divisor splits of
    * `numHashes` into (bands b, rows-per-band r), pick the one whose
    * S-curve threshold `(1/b)^(1/r)` lands closest to the target
    * Jaccard — the principled way to choose the banding the pairs/
    * against/streaming families take as parameters. Pure driver math.
    * Returns (bands, rowsPerBand, achievedThreshold).
    * {{{
    * Dedup.tuneBands(numHashes = 16, targetThreshold = 0.5)
    *   // (8, 2, 0.354...): the divisor split whose S-curve lands closest
    * }}} */
  def tuneBands(numHashes: Int, targetThreshold: Double): (Int, Int, Double) = {
    require(numHashes > 0, "numHashes must be positive")
    require(targetThreshold > 0 && targetThreshold < 1, "threshold in (0,1)")
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map { b => val r = numHashes / b; (b, r, math.pow(1.0 / b, 1.0 / r)) }
    splits.minBy { case (_, _, t) => (math.abs(t - targetThreshold), t) }
  }

  /** Duplicate-mass histogram over [[clusters]] labels: one row per
    * cluster SIZE with how many clusters have it and how many
    * documents (and removable duplicates) they hold — the one-look
    * dedup diagnostic ("how much of the corpus is singletons vs a few
    * mega-clusters"). Two grouped counts on top of the label frame.
    * {{{
    * val pairs = Seq(("d1", "d2")).toDF("id_a", "id_b")
    * Dedup.clusterSizeHistogram(Dedup.clusters(docs, "id", pairs))
    *   // (size 1: 2 clusters) and (size 2: 1 cluster, 1 removable)
    * }}} */
  def clusterSizeHistogram(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"),
        (count(lit(1)) * (col("cluster_size") - 1)).as("n_removable"))
  }

  /** Cross-source duplication audit: for every pair of values of
    * `sourceCol` (crawl snapshots, registry mirrors, dataset vendors),
    * the number of distinct k-shingles they share and the Jaccard of
    * their shingle sets — "how much of source B did we already buy in
    * source A". Output: (source_a, source_b, shared_shingles,
    * jaccard_shingles), source_a < source_b.
    *
    * Scale shape: the corpus reduces to distinct (source, shingle)
    * pairs (map-side partial); the pair counts come from a self-join
    * keyed on the shingle, whose per-key fan-out is bounded by the
    * number of SOURCES (a handful), never the corpus — so the join
    * output is at most |distinct shingles| x sources^2/2 rows and the
    * whole audit is one aggregation pyramid, no document pairs
    * anywhere.
    * {{{
    * val sourced = docs.withColumn("source",
    *   when(col("id") < "d3", "crawl_a").otherwise("crawl_b"))
    * Dedup.sourceOverlap(sourced, "source", col("text"), k = 3)
    *   // one (crawl_a, crawl_b) row with their shared-shingle Jaccard
    * }}} */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: Column,
      k: Int = 3): DataFrame = {
    val ss = df.select(col(sourceCol).as("_src"),
        explode_outer(TextAnalysis.distinctShingles(textCol, k)).as("_sh"))
      .filter(col("_sh").isNotNull) // see minhashBanded's outer rationale
      .distinct()
    val sizes = ss.groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val shared = ss.join(ss.select(col("_src").as("_src_b"), col("_sh")), Seq("_sh"))
      .filter(col("_src") < col("_src_b"))
      .groupBy(col("_src").as("source_a"), col("_src_b").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    shared
      .join(sizes.select(col("_src").as("source_a"), col("_n").as("_na")), "source_a")
      .join(sizes.select(col("_src").as("source_b"), col("_n").as("_nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        (col("shared_shingles").cast("double") /
          (col("_na") + col("_nb") - col("shared_shingles")).cast("double"))
          .as("jaccard_shingles"))
  }

  /** Quality-aware cluster keep: like [[dropNearDuplicates]]'
    * canonical-minimum rule, but the survivor of each near-dup cluster
    * is its BEST member by `scoreCol` (ties by ascending id) — the
    * policy real pipelines want ("keep the longest / highest-quality
    * copy"), where min-id keep can discard the good copy of a
    * boilerplate-expanded pair. `pairs` is any verified dup-pair frame;
    * labels come from [[clusters]]. Returns the kept rows plus
    * (cluster_id, keep_score). One label join + one window keyed on the
    * cluster label — Spark's WindowGroupLimit pre-cuts each cluster to
    * its rank-1 row map-side, so a mega-cluster never floods the
    * exchange.
    * {{{
    * val scored = docs.withColumn("quality", length(col("text")))
    * val pairs = Seq(("d1", "d3")).toDF("id_a", "id_b")
    * Dedup.keepBestPerCluster(scored, "id", pairs, col("quality"))
    *   // d3 survives the (d1, d3) cluster: longer text wins, not min id
    * }}} */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: Column): DataFrame = {
    val labels = clusters(df.select(col(idCol)), idCol, pairs)
      .select(col("id").as("_cl_id"), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("keep_score").desc, col(idCol).asc)
    df.withColumn("keep_score", scoreCol)
      .join(labels, df(idCol) === col("_cl_id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_cl_id", "_rn")
  }

  // ------------------------------------------- batch-vs-corpus (against)
  //
  // The incremental-ingest shape: a NEW batch is deduplicated AGAINST an
  // EXISTING corpus (a new crawl against the dataset already at rest).
  // Asymmetric by contract — corpus rows are never flagged or dropped,
  // and batch-internal duplicates are NOT detected here (run the
  // symmetric pass on the batch for that). At 100 TB the corpus side
  // ships only (band_hash, id) pairs into the candidate join — never
  // documents — and the hot-band guard bounds each band's corpus-side
  // fan-out (a band over the cap on either side is skipped, audited via
  // the *HotBands helpers on each frame).

  /** Batch rows whose exact dedup key already exists in the corpus:
    * semi-join on md5(key) — the corpus reduces to its distinct key
    * hashes before any join.
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),  // in corpus
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.exactMatchesAgainst(docs, batch, col("text"))
    *   .select("id")   // b1 only
    * }}} */
  def exactMatchesAgainst(corpus: DataFrame, batch: DataFrame,
      keyCol: Column): DataFrame = {
    val keys = corpus.select(md5(keyCol).as("_dk")).distinct()
    batch.withColumn("_dk", md5(keyCol))
      .join(keys, Seq("_dk"), "left_semi").drop("_dk")
  }

  /** Batch rows with NO exact key match in the corpus.
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.dropExactAgainst(docs, batch, col("text"))
    *   .select("id")   // b2 only
    * }}} */
  def dropExactAgainst(corpus: DataFrame, batch: DataFrame,
      keyCol: Column): DataFrame = {
    val keys = corpus.select(md5(keyCol).as("_dk")).distinct()
    batch.withColumn("_dk", md5(keyCol))
      .join(keys, Seq("_dk"), "left_anti").drop("_dk")
  }

  /** [[dropExactAgainst]] with a Bloom-filter pre-cut — the incremental
    * -ingest shape where the corpus is huge and mostly-at-rest while
    * batches are small and frequent: ONE corpus pass builds a Bloom
    * filter over the corpus keys (`expectedItems` defaults to a corpus
    * count; size it once and reuse `corpusKeyBloom` across batches),
    * each batch then filters through the broadcast bloom — a definite
    * negative is provably novel with ZERO join work — and only the
    * bloom-positive survivors (true dups + fpp false positives) run
    * the exact anti-join, whose corpus side is semi-join-pruned by the
    * survivors' key set. The result is EXACT (the bloom only prunes;
    * false positives are cleared by the anti-join), so the oracle is
    * the same NOT-IN as the plain exact cut.
    *
    * Driver memory holds only the bloom (~1.2 bytes/key at fpp 0.03 —
    * 1.2 GB per 10^9 corpus keys; for a corpus beyond a few billion
    * keys, shard the corpus and intersect per-shard blooms upstream).
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.dropExactAgainstBloom(docs, batch, col("text"))
    *   .select("id")   // b2 only — provably identical to dropExactAgainst
    * }}} */
  def dropExactAgainstBloom(corpus: DataFrame, batch: DataFrame,
      keyCol: Column, fpp: Double = 0.03,
      expectedItems: Long = -1L): DataFrame = {
    val bloom = corpusKeyBloom(corpus, keyCol, fpp, expectedItems)
    val bc = graft.search.BroadcastHandles.register(corpus.sparkSession,
      corpus.sparkSession.sparkContext.broadcast(bloom))
    val mightContain = udf((k: String) => k != null && bc.value.mightContainString(k))
    val keyed = batch.withColumn("_dk", md5(keyCol))
    val negatives = keyed.filter(!mightContain(col("_dk")))
    val candidates = keyed.filter(mightContain(col("_dk")))
    val corpusKeys = corpus.select(md5(keyCol).as("_dk"))
      .join(candidates.select("_dk").distinct(), Seq("_dk"), "left_semi")
    negatives.unionByName(
        candidates.join(corpusKeys, Seq("_dk"), "left_anti"))
      .drop("_dk")
  }

  /** The corpus-side Bloom filter [[dropExactAgainstBloom]] uses, built
    * once per corpus epoch (one aggregation pass, partial-merged across
    * partitions) and reusable across every arriving batch.
    * {{{
    * val bloom = Dedup.corpusKeyBloom(docs, col("text"))
    * bloom.expectedFpp() < 0.1   // sized from the corpus count
    * }}} */
  def corpusKeyBloom(corpus: DataFrame, keyCol: Column, fpp: Double = 0.03,
      expectedItems: Long = -1L): org.apache.spark.util.sketch.BloomFilter = {
    val n = if (expectedItems > 0) expectedItems
      else math.max(corpus.count(), 1L)
    corpus.select(md5(keyCol).as("_dk")).stat.bloomFilter("_dk", n, fpp)
  }

  /** Verified near-dup matches of a NEW batch against the corpus:
    * MinHash band keys on both sides, batch x corpus join per band
    * (never corpus x corpus), exact shingle-Jaccard verification at
    * `threshold`. Returns (id, corpus_id, jaccard) — one row per
    * verified (batch, corpus) match.
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.minhashMatchesAgainst(docs, batch, "id", col("text"),
    *   k = 3, numHashes = 8, bands = 4, threshold = 0.7)
    *   // (b1, d1, 1.0) and (b1, d2, 1.0); b2 matches nothing
    * }}} */
  def minhashMatchesAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: Column, k: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBandSize: Int = DefaultMaxBandSize,
      fastHash: Boolean = false): DataFrame = {
    val cb = dropHotBands(
      minhashBanded(corpus, idCol, textCol, k, numHashes, bands, fastHash),
      maxBandSize)
    val bb = dropHotBands(
      minhashBanded(batch, idCol, textCol, k, numHashes, bands, fastHash),
      maxBandSize)
    val cands = bb
      .join(cb.withColumnRenamed("id", "corpus_id"), Seq("band"))
      .select("id", "corpus_id").distinct()
    // verify on the candidate pairs only, as minhashVerifiedPairs does:
    // no corpus row outside a match is ever shingled
    cands
      .join(batch.select(col(idCol).as("id"), textCol.as("_ta")), "id")
      .join(corpus.select(col(idCol).as("corpus_id"), textCol.as("_tc")), "corpus_id")
      .select(col("id"), col("corpus_id"),
        TextAnalysis.shingleJaccard(col("_ta"), col("_tc"), k).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The novelty cut: batch rows with no verified corpus match at
    * `threshold` (exact duplicates match at jaccard 1.0, so this
    * subsumes the exact cut when the key is the text itself).
    *
    * CAP CAVEAT (applies to every drop-against form): a band over
    * `maxBandSize` members on EITHER side is skipped by the candidate
    * join, so a batch row whose only corpus match lives in a skipped
    * band is silently classified novel. Degenerate mega-bands are
    * boilerplate, not near-dup signal, so this is usually the right
    * trade — but when a false-novel on hot boilerplate matters, run
    * [[minhashAgainstHotBands]] alongside and handle its bands
    * explicitly (e.g. an exact-key pass over their members).
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.dropNearAgainst(docs, batch, "id", col("text"))
    *   .select("id")   // b2 only
    * }}} */
  def dropNearAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: Column, k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.7, maxBandSize: Int = DefaultMaxBandSize,
      fastHash: Boolean = false): DataFrame = {
    val matched = minhashMatchesAgainst(corpus, batch, idCol, textCol, k,
      numHashes, bands, threshold, maxBandSize, fastHash)
      .select(col("id").as("_m_id")).distinct()
    batch.join(matched, batch(idCol) === col("_m_id"), "left_anti")
  }

  /** Two-sided skipped-bands audit for the minhash against family:
    * (side, band, members) for bands over the cap on the corpus or
    * batch side — exactly the bands [[minhashMatchesAgainst]] /
    * [[dropNearAgainst]] skip at the same `maxBandSize`.
    * {{{
    * val batch = Seq(("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.minhashAgainstHotBands(docs, batch, "id", col("text"),
    *   3, 8, 4).count()   // 0 at the default cap
    * }}} */
  def minhashAgainstHotBands(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: Column, k: Int, numHashes: Int, bands: Int,
      maxBandSize: Int = DefaultMaxBandSize,
      fastHash: Boolean = false): DataFrame =
    hotBands(minhashBanded(corpus, idCol, textCol, k, numHashes, bands, fastHash),
        maxBandSize).withColumn("side", lit("corpus"))
      .unionByName(
        hotBands(minhashBanded(batch, idCol, textCol, k, numHashes, bands, fastHash),
          maxBandSize).withColumn("side", lit("batch")))

  // ----------------------------------------------------------- SimHash

  private def simhashBanded(df: DataFrame, idCol: String, textCol: Column): DataFrame =
    banded64(df, idCol, TextAnalysis.simhash64(textCol))

  /** 4 x 16-bit band keys over ANY 64-bit hash column — the banding
    * simhash uses, exposed for other 64-bit perceptual hashes (image
    * dHash). Sharing a band guarantees candidate recall for hamming <= 3
    * (pigeonhole over 4 bands). */
  private def banded64(df: DataFrame, idCol: String, hash: Column): DataFrame =
    df.select(col(idCol).as("id"), hash.as("sh"))
      .withColumn("band",
        explode(array((0 until 4).map(b =>
          concat(lit(s"$b:"), shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)))): _*)))

  /** Near-dup pairs of any precomputed 64-bit hash column: banded
    * candidates (4 x 16 bits, recall-complete for hamming <= 3),
    * verified by popcount(xor) <= maxHamming — [[simhashPairs]]' shape
    * for hashes the caller derived (e.g. [[graft.multimodal.Multimodal]]
    * image dHash).
    * {{{
    * val hashes = Seq(("h1", 0xF0F0L), ("h2", 0xF0F1L), ("h3", 0x0F0FL))
    *   .toDF("id", "h")
    * Dedup.hamming64Pairs(hashes, "id", col("h"), maxHamming = 3)
    *   // one (h1, h2) pair at hamming 1
    * }}} */
  def hamming64Pairs(df: DataFrame, idCol: String, hash: Column,
      maxHamming: Int, maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val banded = dropHotBands(banded64(df, idCol, hash), maxBandSize)
    val a = banded.select(col("band"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: candidates share one of 4 16-bit bands of
    * the 64-bit simhash (guarantees recall for hamming <= 3), verified by
    * popcount(xor) <= maxHamming. Bands over `maxBandSize` members are
    * skipped (see [[dropHotBands]], audit with [[simhashHotBands]]).
    * {{{
    * Dedup.simhashPairs(docs, "id", col("text"), maxHamming = 3)
    *   // contains (d1, d2) at hamming 0 (identical fingerprints)
    * }}} */
  def simhashPairs(df: DataFrame, idCol: String, textCol: Column,
      maxHamming: Int, maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val banded = dropHotBands(simhashBanded(df, idCol, textCol), maxBandSize)
    val a = banded.select(col("band"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Skipped-bands audit for [[simhashPairs]].
    * {{{
    * Dedup.simhashHotBands(docs, "id", col("text")).count()   // 0
    * }}} */
  def simhashHotBands(df: DataFrame, idCol: String, textCol: Column,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    hotBands(simhashBanded(df, idCol, textCol).select("id", "band"), maxBandSize)

  /** SimHash batch-vs-corpus matches (the [[minhashMatchesAgainst]]
    * sibling on the 64-bit fingerprint): 16-bit bands on both sides,
    * batch x corpus join per band (recall guaranteed for hamming <= 3),
    * verified by popcount(xor) <= maxHamming. Asymmetric like the other
    * against forms. Returns (id, corpus_id, hamming).
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.simhashMatchesAgainst(docs, batch, "id", col("text"),
    *   maxHamming = 3)   // b1 matches d1 and d2 at hamming 0
    * }}} */
  def simhashMatchesAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: Column, maxHamming: Int,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val cb = dropHotBands(simhashBanded(corpus, idCol, textCol), maxBandSize)
    val bb = dropHotBands(simhashBanded(batch, idCol, textCol), maxBandSize)
    bb.join(cb.withColumnRenamed("id", "corpus_id")
        .withColumnRenamed("sh", "sh_c"), Seq("band"))
      .select(col("id"), col("corpus_id"),
        bit_count(col("sh").bitwiseXOR(col("sh_c"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Batch rows with no corpus fingerprint within `maxHamming` bits.
    * Same cap caveat as [[dropNearAgainst]]: bands over `maxBandSize` on
    * either side are skipped, so a match living only in a skipped band
    * passes as novel — audit with [[simhashAgainstHotBands]].
    * {{{
    * val batch = Seq(
    *   ("b1", "the quick brown fox jumps over the lazy dog"),
    *   ("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.dropSimhashAgainst(docs, batch, "id", col("text"),
    *   maxHamming = 3).select("id")   // b2 only
    * }}} */
  def dropSimhashAgainst(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: Column, maxHamming: Int,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val matched = simhashMatchesAgainst(corpus, batch, idCol, textCol,
      maxHamming, maxBandSize).select(col("id").as("_m_id")).distinct()
    batch.join(matched, batch(idCol) === col("_m_id"), "left_anti")
  }

  /** Two-sided skipped-bands audit for [[simhashMatchesAgainst]] /
    * [[dropSimhashAgainst]]: (side, band, members) over the cap.
    * {{{
    * val batch = Seq(("b2", "a genuinely novel document")).toDF("id", "text")
    * Dedup.simhashAgainstHotBands(docs, batch, "id", col("text"))
    *   .count()   // 0 at the default cap
    * }}} */
  def simhashAgainstHotBands(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: Column,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    hotBands(simhashBanded(corpus, idCol, textCol).select("id", "band"), maxBandSize)
      .withColumn("side", lit("corpus"))
      .unionByName(
        hotBands(simhashBanded(batch, idCol, textCol).select("id", "band"), maxBandSize)
          .withColumn("side", lit("batch")))

  // ------------------------------------------------- cross-corpus lines

  /** C4-style line-level dedup ACROSS the corpus (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2): any line occurring more than once in the
    * whole corpus keeps only its FIRST occurrence (ordered by (id,
    * line position)); every other copy is removed from its document —
    * the navigation-menu/footer/licence-line strip that per-document
    * dedup cannot see. Lines whose trimmed length is below `minChars`
    * (blank lines, separators) are never dedup-eligible and always
    * stay, preserving paragraph structure.
    *
    * Returns every input row with `text_deduped` (lines rejoined in
    * original order; a fully-duplicated document becomes the empty
    * string) and `n_lines_kept`.
    *
    * Scale shape: lines shuffle on their md5 — one grouped min
    * (combiner-friendly: a hot boilerplate line partial-aggregates
    * map-side to one (id, pos) per partition), one hash join back on
    * the line key, one per-doc regroup to reassemble. Cost scales with
    * total line mass, never document pairs.
    * {{{
    * val pages = Seq(
    *   ("p1", "home | about\nunique article one"),
    *   ("p2", "home | about\nunique article two")
    * ).toDF("id", "text")
    * Dedup.dropDuplicateLinesAcross(pages, "id", "text")
    *   .select("id", "text_deduped").collect()
    *   // p1 keeps both lines; p2 keeps only "unique article two"
    * }}} */
  def dropDuplicateLinesAcross(df: DataFrame, idCol: String,
      textCol: String, minChars: Int = 1): DataFrame = {
    require(minChars >= 0, "minChars must be >= 0")
    val lines = df.select(col(idCol).as("_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val eligible = length(trim(col("_line"))) >= minChars
    val firsts = lines.filter(eligible)
      .groupBy(md5(col("_line")).as("_h"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_first"))
    val kept = lines.join(firsts, md5(col("_line")) === col("_h"), "left")
      .filter(!eligible ||
        (col("_first._id") === col("_id") && col("_first._pos") === col("_pos")))
    val rebuilt = kept.groupBy(col("_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), "\n").as("text_deduped"),
        count(lit(1)).as("n_lines_kept"))
    df.join(rebuilt, col(idCol) === rebuilt("_id"), "left")
      .withColumn("text_deduped", coalesce(col("text_deduped"), lit("")))
      .withColumn("n_lines_kept", coalesce(col("n_lines_kept"), lit(0L)))
      .drop("_id")
  }

  // --------------------------------------------------------- streaming

  /** Streaming exact dedup: md5 fingerprint + dropDuplicatesWithinWatermark
    * — state for a fingerprint is held only within the watermark window,
    * so state size is bounded (the streaming analogue of
    * exactDuplicates). `df` must be a streaming frame with an event-time
    * column.
    * {{{
    * val input = MemoryStream[(java.sql.Timestamp, String)]
    * val deduped = Dedup.streamingExactDedup(
    *   input.toDF().toDF("ts", "text"), col("text"), "ts", "10 minutes")
    * val q = deduped.writeStream.format("memory").queryName("sdedup")
    *   .outputMode("append").start()
    * val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    * input.addData((t0, "hello"), (t0, "hello"), (t0, "world"))
    * q.processAllAvailable()
    * spark.table("sdedup").count()   // 2: the repeat was dropped
    * }}} */
  def streamingExactDedup(df: DataFrame, keyCol: Column, tsCol: String,
      watermark: String): DataFrame =
    df.withColumn("_fp", md5(keyCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming MinHash near-dup filter: a document is NOVEL iff none of
    * its LSH band keys collides with a band seen within the watermark
    * (state) or earlier in the same batch — the streaming analogue of
    * [[minhashCandidatePairs]] used as an online filter.
    *
    * Shape: explode band keys -> `dropDuplicatesWithinWatermark(band)`
    * keeps only first-seen (band, doc) rows with per-key state bounded
    * by the watermark -> windowed per-doc count; a doc whose surviving
    * band count equals `bands` collided with nothing. Emits
    * (window, id, novel) in APPEND mode when the window closes under the
    * watermark; a document ALL of whose bands collide (an outright
    * near-duplicate) emits nothing — absence means duplicate. Both
    * stateful stages key on SMALL values (band hash / doc id) — no
    * document text in state, so state scales with arrival rate x
    * watermark, not corpus size.
    * {{{
    * val input = MemoryStream[(java.sql.Timestamp, String, String)]
    * val novelty = Dedup.streamingMinhashNovelty(
    *   input.toDF().toDF("ts", "id", "text"), "id", col("text"),
    *   "ts", watermark = "5 minutes", k = 2, numHashes = 8, bands = 4)
    * val q = novelty.writeStream.format("memory").queryName("novel")
    *   .outputMode("append").start()
    * val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    * input.addData((t0, "a", "the quick brown fox jumps over the dog"))
    * q.processAllAvailable()
    * // a late sentinel advances the watermark so t0's window closes
    * input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"),
    *   "z", "late sentinel"))
    * q.processAllAvailable()
    * spark.table("novel").filter(col("id") === "a").head.getBoolean(2)
    *   // true: first-seen text, every band novel
    * }}} */
  def streamingMinhashNovelty(df: DataFrame, idCol: String, textCol: Column,
      tsCol: String, watermark: String, k: Int = 3, numHashes: Int = 8,
      bands: Int = 4, windowLength: String = "1 minute",
      fastHash: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // fastHash: per-record cost matters most online; long band keys also
    // shrink the dedup state store vs 32-char md5 strings
    val keys =
      if (fastHash) TextAnalysis.minhashBandKeysFast(textCol, k, numHashes, bands)
      else TextAnalysis.minhashBandKeys(textCol, k, numHashes, bands)
    bandNovelty(df.select(col(idCol).as("id"), col(tsCol).as("_ts"),
        explode_outer(keys).as("band"))
        .filter(col("band").isNotNull), // see minhashBanded's rationale
      watermark, bands, windowLength)
  }

  /** Streaming embedding near-dup filter: same chained-stateful shape as
    * [[streamingMinhashNovelty]], with cosine-LSH hyperplane band keys
    * over the L2-normalized vector — an online analogue of
    * [[embeddingPairs]]'s candidate generation.
    * {{{
    * val input = MemoryStream[(java.sql.Timestamp, String, Seq[Float])]
    * val novelty = Dedup.streamingEmbeddingNovelty(
    *   input.toDF().toDF("ts", "id", "vector"), "id", "vector",
    *   "ts", watermark = "5 minutes")
    * // same memory-sink + watermark-sentinel loop as
    * // streamingMinhashNovelty; novel=true for first-seen vectors
    * }}} */
  def streamingEmbeddingNovelty(df: DataFrame, idCol: String, vectorCol: String,
      tsCol: String, watermark: String,
      lsh: CosineLsh.LshConfig = CosineLsh.LshConfig(bands = 24, bitsPerBand = 6),
      windowLength: String = "1 minute"): DataFrame = {
    bandNovelty(df.select(col(idCol).as("id"), col(tsCol).as("_ts"),
        explode_outer(CosineLsh.bandKeysColumn(lsh)(
          normalizeVector(graft.core.Normalize.L2, col(vectorCol))))
          .as("band"))
        .filter(col("band").isNotNull), // see minhashBanded's rationale
      watermark, lsh.bands, windowLength)
  }

  /** Shared novelty tail: first-seen band keys within the watermark ->
    * windowed per-doc surviving count; novel iff nothing collided. */
  private def bandNovelty(exploded: DataFrame, watermark: String,
      bands: Int, windowLength: String): DataFrame =
    exploded.withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark("band")
      .groupBy(window(col("_ts"), windowLength), col("id"))
      .agg(count(lit(1)).as("_surviving"))
      .select(col("window"), col("id"),
        (col("_surviving") === bands).as("novel"))

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs via cosine LSH banding + exact cosine
    * verification. `df` needs (id, vector); vectors are L2-normalized
    * here so verification is a plain dot. Bands over `maxBandSize`
    * members (e.g. a zero-vector bucket) are skipped (see
    * [[dropHotBands]], audit with [[embeddingHotBands]]).
    * {{{
    * Dedup.embeddingPairs(vecs, "id", "vector",
    *   CosineLsh.LshConfig(bands = 8, bitsPerBand = 4), threshold = 0.9)
    *   // one (v1, v2) pair, cosine ~0.999
    * }}} */
  def embeddingPairs(df: DataFrame, idCol: String, vectorCol: String,
      lsh: CosineLsh.LshConfig, threshold: Double,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val n = df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))
      .localCheckpoint()
    // Candidate generation shuffles ONLY (band, id): vectors must not
    // ride through the band self-join — a bucket with c collisions emits
    // c^2/2 pairs, and carrying two d-dim vectors per pre-distinct pair
    // multiplies the shuffle by ~1000x at 384 dims (measured 4s -> 0.9s
    // on 2k x 384 at the gate shape). Vectors are attached AFTER the
    // distinct, by id joins against the small normalized frame.
    val banded = dropHotBands(CosineLsh.withSignatures(n, lsh, "nv")
      .select(col("id"), explode_outer(col("lsh_bands")).as("band"))
      .filter(col("band").isNotNull), maxBandSize) // outer: see minhashBanded
    val a = banded.select(col("band"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("id").as("id_b"))
    val cands = a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(n.select(col("id").as("id_a"), col("nv").as("nv_a")), "id_a")
      .join(n.select(col("id").as("id_b"), col("nv").as("nv_b")), "id_b")
      .withColumn("cosine", vecDistance(Metric.InnerProduct, col("nv_a"), col("nv_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-space batch-vs-corpus matches (the [[minhashMatchesAgainst]]
    * sibling for near-dup detection over vectors): hyperplane-LSH bands
    * on both sides, batch x corpus join per band, exact cosine verify at
    * `threshold`. Same shuffle discipline as [[embeddingPairs]] — only
    * (band, id) moves through the join; vectors attach after the
    * distinct. Returns (id, corpus_id, cosine), asymmetric like the
    * text variant.
    * {{{
    * val vbatch = Seq(("n1", Seq(0.998f, 0.05f, 0f)),
    *   ("n2", Seq(0f, 0f, 1f))).toDF("id", "vector")
    * Dedup.embeddingMatchesAgainst(vecs, vbatch, "id", "vector",
    *   CosineLsh.LshConfig(bands = 8, bitsPerBand = 4), threshold = 0.9)
    *   // n1 matches v1 and v2; n2 matches nothing
    * }}} */
  def embeddingMatchesAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, vectorCol: String, lsh: CosineLsh.LshConfig,
      threshold: Double, maxBandSize: Int = DefaultMaxBandSize,
      corpusIsNormalized: Boolean = false): DataFrame = {
    def normed(df: DataFrame) = df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))
      .localCheckpoint()
    def banded(n: DataFrame) = dropHotBands(CosineLsh.withSignatures(n, lsh, "nv")
      .select(col("id"), explode_outer(col("lsh_bands")).as("band"))
      .filter(col("band").isNotNull), maxBandSize) // outer: see minhashBanded
    // Repeated-ingest path: normalizing + localCheckpointing the FULL
    // corpus per batch re-materializes its vectors into non-reliable
    // executor storage on every call. A caller running many batches
    // against a static corpus prepares it ONCE with
    // [[normalizedCorpus]], persists/writes it, and passes
    // `corpusIsNormalized = true` — the cost is then paid per corpus
    // generation, not per batch.
    val nC = if (corpusIsNormalized) corpus.select(col("id"), col("nv"))
             else normed(corpus)
    val nB = normed(batch)
    val cands = banded(nB)
      .join(banded(nC).withColumnRenamed("id", "corpus_id"), Seq("band"))
      .select("id", "corpus_id").distinct()
    cands
      .join(nB.select(col("id"), col("nv").as("nv_a")), "id")
      .join(nC.select(col("id").as("corpus_id"), col("nv").as("nv_b")), "corpus_id")
      .withColumn("cosine", vecDistance(Metric.InnerProduct, col("nv_a"), col("nv_b")))
      .filter(col("cosine") >= threshold)
      .select("id", "corpus_id", "cosine")
  }

  /** One-time corpus preparation for repeated against-calls: the
    * (id, nv) frame with L2-normalized vectors that
    * [[embeddingMatchesAgainst]] / [[dropEmbeddingAgainst]] accept with
    * `corpusIsNormalized = true`. Persist (or write to parquet) once
    * per corpus generation.
    * {{{
    * val nc = Dedup.normalizedCorpus(vecs, "id", "vector").persist()
    * Dedup.dropEmbeddingAgainst(nc, vbatch, "id", "vector",
    *   CosineLsh.LshConfig(bands = 8, bitsPerBand = 4), 0.9,
    *   corpusIsNormalized = true)   // per-batch cost skips the corpus prep
    * }}} */
  def normalizedCorpus(df: DataFrame, idCol: String, vectorCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))

  /** Batch rows with no corpus embedding within `threshold` cosine —
    * the vector-space novelty cut. Same cap caveat as
    * [[dropNearAgainst]] (audit with [[embeddingHotBands]] per side).
    * {{{
    * val vbatch = Seq(("n1", Seq(0.998f, 0.05f, 0f)),
    *   ("n2", Seq(0f, 0f, 1f))).toDF("id", "vector")
    * Dedup.dropEmbeddingAgainst(vecs, vbatch, "id", "vector",
    *   CosineLsh.LshConfig(bands = 8, bitsPerBand = 4), threshold = 0.9)
    *   .select("id")   // n2 only
    * }}} */
  def dropEmbeddingAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, vectorCol: String, lsh: CosineLsh.LshConfig,
      threshold: Double, maxBandSize: Int = DefaultMaxBandSize,
      corpusIsNormalized: Boolean = false): DataFrame = {
    val matched = embeddingMatchesAgainst(corpus, batch, idCol, vectorCol,
      lsh, threshold, maxBandSize, corpusIsNormalized)
      .select(col("id").as("_m_id")).distinct()
    batch.join(matched, batch(idCol) === col("_m_id"), "left_anti")
  }

  /** Skipped-bands audit for [[embeddingPairs]].
    * {{{
    * Dedup.embeddingHotBands(vecs, "id", "vector",
    *   CosineLsh.LshConfig(bands = 8, bitsPerBand = 4)).count()   // 0
    * }}} */
  def embeddingHotBands(df: DataFrame, idCol: String, vectorCol: String,
      lsh: CosineLsh.LshConfig,
      maxBandSize: Int = DefaultMaxBandSize): DataFrame = {
    val n = df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))
    hotBands(CosineLsh.withSignatures(n, lsh, "nv")
      .select(col("id"), explode_outer(col("lsh_bands")).as("band"))
      .filter(col("band").isNotNull), maxBandSize) // outer: see minhashBanded
  }

  // ------------------------------------------- shared-span (substring) dedup

  /** Exact substring-span deduplication — the token-window form of
    * Lee et al. 2022's ExactSubstr (arXiv:2107.06499): any
    * `spanTokens`-long token window that appears verbatim in at least
    * `minDocs` DISTINCT documents is treated as boilerplate, and every
    * token it covers is removed from EVERY document carrying it. (The
    * paper's variant keeps one canonical occurrence; the remove-all
    * form implemented here is the standard boilerplate-strip used on
    * web corpora — headers, footers, licence blocks — and is fully
    * deterministic with no global canonical election. A document whose
    * text is entirely duplicated elsewhere is stripped to nothing — by
    * design.)
    *
    * Scale shape: windows hash to md5 and shuffle as (window, id, pos)
    * triples; the shared set is a grouped count; flagged START
    * positions come back per doc as one sorted array, and the token
    * cut is a per-row HOF (cost tokens x flagged-spans) — no
    * doc-vs-doc joins anywhere, so cost scales with total tokens plus
    * the duplicated-window mass, never corpus^2.
    *
    * Returns (id, n_tokens_before, n_tokens_after, clean_md5,
    * clean_text) with whitespace-normalized reconstruction.
    * {{{
    * val pages = Seq(
    *   ("p1", "copyright footer text plus unique alpha content"),
    *   ("p2", "copyright footer text plus unique beta content"))
    *   .toDF("id", "text")
    * Dedup.dropSharedSpans(pages, "id", col("text"),
    *   spanTokens = 3, minDocs = 2)
    *   // the shared "copyright footer text plus unique" run is cut
    *   // from BOTH pages; each keeps its unique tail
    * }}} */
  def dropSharedSpans(df: DataFrame, idCol: String, textCol: Column,
      spanTokens: Int = 20, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be at least 2")
    require(minDocs >= 2, "minDocs must be at least 2")
    val (base, wins) = spanWindows(df, idCol, textCol, spanTokens)
    val shared = wins.groupBy(col("_w"))
      .agg(countDistinct(col("id")).as("_nd"))
      .filter(col("_nd") >= minDocs).select(col("_w"))
    val flagged = wins.join(shared, "_w")
      .groupBy(col("id")).agg(sort_array(collect_list(col("pos"))).as("_starts"))
    cutSpans(base, flagged, spanTokens)
  }

  /** WITHIN-document repetition strip — the self-repetition cleaner
    * (looping model output, templated boilerplate repeated inside one
    * page): any `spanTokens`-window occurring MORE THAN ONCE in the
    * SAME document keeps its FIRST occurrence and loses the rest
    * (every token covered only by non-first occurrences is cut).
    * The diagnosis side of this is `TextAnalysis.topNgramFrac` /
    * `gopherKeep`; this is the corresponding fix operator. Same scale
    * shape as [[dropSharedSpans]], with the grouped count keyed
    * (id, window) — never cross-document.
    * {{{
    * val loops = Seq(("p1", "buy now buy now buy now unique ending"))
    *   .toDF("id", "text")
    * Dedup.dropRepeatedSpans(loops, "id", col("text"), spanTokens = 2)
    *   .head   // n_tokens_after < n_tokens_before: the loop is stripped
    * }}} */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: Column,
      spanTokens: Int = 20): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be at least 2")
    val (base, wins) = spanWindows(df, idCol, textCol, spanTokens)
    val firsts = wins.groupBy(col("id"), col("_w"))
      .agg(min(col("pos")).as("_first"), count(lit(1)).as("_c"))
    val flagged = wins.join(firsts, Seq("id", "_w"))
      .filter(col("_c") >= 2 && col("pos") > col("_first"))
      .groupBy(col("id")).agg(sort_array(collect_list(col("pos"))).as("_starts"))
    cutSpans(base, flagged, spanTokens)
  }

  private def spanWindows(df: DataFrame, idCol: String, textCol: Column,
      L: Int): (DataFrame, DataFrame) = {
    val base = df.select(col(idCol).as("id"), TextAnalysis.tokens(textCol).as("_tk"))
      .localCheckpoint()
    val wins = base.filter(size(col("_tk")) >= L)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("_tk")) - L),
        i => md5(array_join(slice(col("_tk"), i + 1, lit(L)), " ")))))
      .select(col("id"), col("pos"), col("col").as("_w"))
    (base, wins)
  }

  private def cutSpans(base: DataFrame, flagged: DataFrame, L: Int): DataFrame =
    base.join(flagged, Seq("id"), "left")
      .select(col("id"), col("_tk"),
        coalesce(col("_starts"), array().cast("array<int>")).as("_st"))
      .select(col("id"),
        size(col("_tk")).cast("int").as("n_tokens_before"),
        filter(col("_tk"), (x, i) =>
          !exists(col("_st"), s => s <= i && i < s + L)).as("_clean"))
      .select(col("id"), col("n_tokens_before"),
        size(col("_clean")).cast("int").as("n_tokens_after"),
        md5(array_join(col("_clean"), " ")).as("clean_md5"),
        array_join(col("_clean"), " ").as("clean_text"))

  // ------------------------------------------- semantic dedup (SemDeDup)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space, then emit
    * within-cluster pairs whose exact cosine clears `threshold`.
    * Candidates come from the TRAINED cluster structure instead of LSH
    * bands — the paper's operating point (their clusters play the role
    * [[embeddingPairs]]'s bands play), trading the multi-band recall
    * guarantee for model-aligned groups: a pair that straddles a
    * cluster boundary is missed by construction, and a pair inside one
    * cell is always tested. `centroids` come from the caller's trained
    * model ([[graft.ann.IvfIndex.trainOrdered]]), so index training and
    * dedup share one k-means — train once per corpus generation.
    *
    * Scale shape: each row gets ONE cell (a codegen'd IvfCell
    * projection, no shuffle), the self-join shuffles only (cell, id) —
    * vectors attach AFTER candidate generation like every pair family
    * here — and pair cost is bounded by the largest cell; degenerate
    * cells over `maxCellSize` are skipped (audit via
    * [[semanticHotCells]]). Returns (id_a, id_b, cell, cosine).
    * {{{
    * val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    * Dedup.semanticPairs(vecs, "id", "vector", cents, threshold = 0.9)
    *   // (v1, v2) share cell 0 and verify at cosine ~0.999
    * }}} */
  def semanticPairs(df: DataFrame, idCol: String, vectorCol: String,
      centroids: Array[Array[Float]], threshold: Double,
      maxCellSize: Int = DefaultMaxBandSize): DataFrame = {
    val n = df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))
      .localCheckpoint()
    val celled = dropHotBands(
      n.select(col("id"), cellOf(col("nv"), centroids).as("band")), maxCellSize)
      .select(col("band").as("cell"), col("id"))
    val a = celled.select(col("cell"), col("id").as("id_a"))
    val b = celled.select(col("cell"), col("id").as("id_b"))
    // one cell per id (functional), so the band-join can't duplicate a
    // pair — no distinct needed, unlike the multi-band LSH families
    val cands = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
    cands
      .join(n.select(col("id").as("id_a"), col("nv").as("nv_a")), "id_a")
      .join(n.select(col("id").as("id_b"), col("nv").as("nv_b")), "id_b")
      .withColumn("cosine", vecDistance(Metric.InnerProduct, col("nv_a"), col("nv_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cell", "cosine")
  }

  /** SemDeDup keep-set: connected components over [[semanticPairs]],
    * keep each component's minimum id (the canonical), drop the rest.
    * Returns `df` rows that survive. Same silent-skip caveat as the
    * other capped families: a pair lost to a `maxCellSize`-skipped cell
    * leaves both rows in the keep-set.
    * {{{
    * val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    * Dedup.dropSemanticDuplicates(vecs, "id", "vector", cents, 0.9)
    *   .select("id")   // v1 (cluster min) and v3; v2 dropped
    * }}} */
  def dropSemanticDuplicates(df: DataFrame, idCol: String, vectorCol: String,
      centroids: Array[Array[Float]], threshold: Double,
      maxCellSize: Int = DefaultMaxBandSize): DataFrame = {
    val pairs = semanticPairs(df, idCol, vectorCol, centroids, threshold,
      maxCellSize).select("id_a", "id_b")
    val labels = clusters(df.select(col(idCol)), idCol, pairs)
      .select(col("id").as("_cl_id"), col("cluster_id").as("_cl_label"))
    df.join(labels, df(idCol) === col("_cl_id"))
      .filter(col(idCol) === col("_cl_label"))
      .drop("_cl_id", "_cl_label")
  }

  /** Skipped-cells audit for [[semanticPairs]]: (cell, members) for
    * cells over the cap — exactly the cells the pair join skips.
    * {{{
    * val cents = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    * Dedup.semanticHotCells(vecs, "id", "vector", cents).count()   // 0
    * }}} */
  def semanticHotCells(df: DataFrame, idCol: String, vectorCol: String,
      centroids: Array[Array[Float]],
      maxCellSize: Int = DefaultMaxBandSize): DataFrame =
    hotBands(df.select(col(idCol).as("id"),
      cellOf(normalizeVector(graft.core.Normalize.L2, col(vectorCol)),
        centroids).as("band")), maxCellSize)
      .withColumnRenamed("band", "cell")

  private def cellOf(v: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.IvfCell(
        org.apache.spark.sql.graft.Bridge.expression(v), centroids))

  /** Exact all-pairs cosine for a small frame (verification oracle).
    * {{{
    * Dedup.exactCosinePairs(vecs, "id", "vector")
    *   .filter(col("cosine") > 0.9)   // the (v1, v2) pair
    * }}} */
  def exactCosinePairs(df: DataFrame, idCol: String, vectorCol: String): DataFrame = {
    val n = df.select(col(idCol).as("id"),
      normalizeVector(graft.core.Normalize.L2, col(vectorCol)).as("nv"))
    val a = n.select(col("id").as("id_a"), col("nv").as("nv_a"))
    val b = n.select(col("id").as("id_b"), col("nv").as("nv_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", vecDistance(Metric.InnerProduct, col("nv_a"), col("nv_b")))
      .select("id_a", "id_b", "cosine")
  }
}
