package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StructType}

import graft.core.{CollectionConfig, GraftConf, Metric, Normalize, ScoreMode}
import graft.expr.VectorKernels
import graft.functions.VectorFunctions._

/** Search operators over a collection DataFrame.
  *
  * Canonical collection schema (SURVEY §1.3): `id string, value string,
  * vector array<float>, vectors array<array<float>>, binary_vector
  * array<bigint>, metadata map<string,string>` — extra columns pass
  * through untouched.
  *
  * Execution model: every cut is a per-partition bounded heap merged
  * on the driver — the reference's top-k algorithm
  * (native/vettore/src/search.rs:50-72) distributed across executors: no
  * full sort, no shuffle of non-winners. A single-query form ends in
  * `ORDER BY (rank, id) LIMIT k`, which Catalyst compiles to
  * `TakeOrderedAndProject`; a batch form's whole-corpus cut is the
  * [[graft.expr.BatchTopK]] node (one heap per query, see
  * [[batchHeapCut]]), and its later cuts over bounded (qid, id) pairs
  * are a per-qid `row_number` window. Tie-break by ascending id keeps
  * results fully deterministic (search.rs:23-29).
  */
object Search {

  /** Validate + normalize a query vector exactly like ingest
    * (collection.ex:351-357): dimensions then finiteness then the
    * collection's normalize mode. */
  def prepareQuery(config: CollectionConfig, query: Array[Float]): Array[Float] = {
    require(query.length == config.dimensions,
      s"dimension mismatch: query ${query.length}, collection ${config.dimensions}")
    require(VectorKernels.validateFinite(query), "vector contains a non-finite value")
    val mode = config.effectiveNormalize match {
      case Normalize.None => 0; case Normalize.L2 => 1
      case Normalize.ZScore => 2; case Normalize.MinMax => 3
    }
    VectorKernels.normalize(mode, query)
  }

  /** Ascending-rank column for a raw metric column. */
  private def rankCol(metric: Metric, raw: Column): Column = rankValue(metric, raw)

  /** Deterministic top-k: ORDER BY (rank, id) LIMIT k ->
    * TakeOrderedAndProject. */
  def topK(scored: DataFrame, k: Int, rank: Column = col("rank")): DataFrame =
    // nulls LAST: a NULL rank (e.g. a malformed row that slipped past
    // ingest validation) must never outrank a real score
    scored.orderBy(rank.asc_nulls_last, col("id").asc).limit(k)

  /** Scale-safe INTERMEDIATE top-k. A mid-plan orderBy().limit(k) plans
    * as a full range-partitioned sort of the whole corpus (only a
    * terminal sort-limit becomes TakeOrderedAndProject) — a corpus-wide
    * exchange that dwarfs the candidate cut it feeds at cluster scale.
    * Here: sort each partition locally (no exchange), keep its first k
    * rows (the per-partition record index in monotonically_increasing_id's
    * low 33 bits — nondeterministic, so Catalyst cannot reorder the
    * filter below the sort), then run the terminal-style global cut over
    * the <= k * numPartitions survivors. The global (rank, id) top-k is
    * a subset of the union of per-partition (rank, id) top-k's, so
    * results are identical row-for-row. */
  def candidateCut(df: DataFrame, k: Int, rank: Column = col("rank")): DataFrame =
    topK(df.sortWithinPartitions(rank.asc_nulls_last, col("id").asc)
      .filter(monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) < k),
      k, rank)

  /** Final (score, distance) projection per SURVEY §2.8. */
  def projectResults(df: DataFrame, config: CollectionConfig): DataFrame = {
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    df.select(
      col("id"), col("value"),
      score.cast("double").as("score"),
      dist.cast("double").as("distance"),
      lit(config.metric.name).as("metric"),
      (if (df.columns.contains("metadata")) col("metadata") else lit(null)).as("metadata"))
  }

  /** Exact flat search: scan + score + bounded-heap top-k.
    * (reference: lib/vettore/index/flat.ex + flat.rs:96-124) Rows with a
    * NULL id or vector never appear — the same rule as the batch forms. */
  def flatSearch(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int): DataFrame = {
    require(limit > 0, "limit must be positive")
    flatSearchPrepared(df, config, prepareQuery(config, query), limit)
  }

  /** The scorable rows of `df`: non-NULL id and scan column. */
  private def scorable(df: DataFrame, scanCol: String): DataFrame =
    df.filter(col("id").isNotNull && col(scanCol).isNotNull)

  /** Exact cursor pagination over the flat rank contract: the page of
    * `limit` rows strictly AFTER `(afterDistance, afterId)` in the
    * (rank, id) total order — the `search_after` every serving layer
    * needs for deep result sets, without OFFSET's scan-and-discard.
    * The cursor is the LAST ROW OF THE PREVIOUS PAGE exactly as
    * returned: `distance` equals the rank value numerically for every
    * metric (cosine 1-raw, IP -raw, everything else raw — see
    * [[graft.core.Metric.rankValue]] vs ScoreMode.resultValues), so
    * (distance, id) IS the rank cursor. Deterministic because the rank
    * recomputes identically per page and (rank, id) is a strict total
    * order; pages tile the full ranking with no gaps or repeats even
    * across rank ties (id ascends within a tie). Unscorable rows
    * (NULL id/vector) never paginate — same contract as the batch
    * forms. Scale shape: identical to [[flatSearch]] — the cursor
    * predicate is one codegen comparison under the scan, then the
    * bounded-heap cut; page depth costs nothing extra. */
  def flatSearchAfter(df: DataFrame, config: CollectionConfig,
      query: Array[Float], limit: Int, afterDistance: Double,
      afterId: Any): DataFrame = {
    require(limit > 0, "limit must be positive")
    val q = prepareQuery(config, query)
    val scored = scorable(df, "vector")
      .withColumn("raw", vecDistance(config.metric, col("vector"), vecLit(q)))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    val after = scored.filter(col("rank") > lit(afterDistance) ||
      (col("rank") === lit(afterDistance) && col("id") > lit(afterId)))
    projectResults(topK(after, limit), config)
  }

  /** Exact flat search over the packed-f32 layout: like [[flatSearch]]
    * but scoring `vector_f32` (BinaryType, see Prepare.withPackedVector)
    * with in-place byte reads — bit-identical results, and the parquet
    * scan decodes one binary value per row instead of `dims`
    * repetition-leveled array elements (the scan-side win at 100 TB). */
  def flatSearchPacked(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int, packedCol: String = "vector_f32"): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(df.columns.contains(packedCol), s"missing packed column $packedCol")
    val q = prepareQuery(config, query)
    val scored = scorable(df, packedCol).withColumn("raw",
        binaryVecDistance(config.metric, col(packedCol), q))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    projectResults(topK(scored, limit), config)
  }

  /** Exact flat search over the bf16-packed layout (see
    * Prepare.withBf16Vector): the top-k over the bf16-ROUNDED corpus —
    * deterministic and near-identical to f32 ranking (bf16 keeps f32's
    * exponent range; PackedVectorSpec pins the top-10 overlap), at HALF
    * [[flatSearchPacked]]'s scan bytes. The parquet scan decodes one
    * 2*dims-byte binary per row; scoring decodes bf16 in place. */
  def flatSearchBf16(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int, packedCol: String = "vector_bf16"): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(df.columns.contains(packedCol), s"missing bf16 column $packedCol")
    flatSearchBf16Prepared(df, config, prepareQuery(config, query), limit, packedCol)
  }

  /** Range (radius) search — the FAISS `range_search` contract: every
    * row whose result DISTANCE is within `radius`, not a fixed k. A
    * pure scan + codegen'd filter: no heap, no sort, no shuffle — the
    * cheapest possible shape at 100 TB, and unlike top-k it needs no
    * result-count coordination across partitions at all. Unordered by
    * default for exactly that reason (a global sort of an unbounded
    * result set is the one thing that could make this expensive);
    * `limit > 0` adds the deterministic (rank, id) cut via
    * TakeOrderedAndProject when a bound is wanted. */
  def rangeSearch(df: DataFrame, config: CollectionConfig, query: Array[Float],
      radius: Double, limit: Int = 0): DataFrame = {
    require(radius >= 0, "radius must be non-negative")
    rangeFiltered(df, config, query, dist => dist <= radius, limit)
  }

  /** Range search thresholded on the result SCORE instead of distance
    * (`score >= minScore`) — the natural form for similarity metrics:
    * cosine `minScore = 0.95` is the "all near-duplicates of this
    * vector" query, inner_product `minScore` the recommender cutoff. */
  def rangeSearchByScore(df: DataFrame, config: CollectionConfig,
      query: Array[Float], minScore: Double, limit: Int = 0): DataFrame =
    rangeFiltered(df, config, query, _ => lit(true), limit,
      scorePred = Some(sc => sc >= minScore))

  private def rangeFiltered(df: DataFrame, config: CollectionConfig,
      query: Array[Float], distPred: Column => Column, limit: Int,
      scorePred: Option[Column => Column] = None): DataFrame = {
    val q = prepareQuery(config, query)
    val scored = df.withColumn("raw", vecDistance(config.metric, col("vector"), vecLit(q)))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    val filtered = scorePred match {
      case Some(p) => scored.filter(p(score.cast("double")))
      case None => scored.filter(distPred(dist.cast("double")))
    }
    val cut = if (limit > 0) topK(filtered, limit) else filtered
    projectResults(cut, config)
  }

  /** Batch range search: all queries against the corpus in ONE scan
    * (queries broadcast), `distance <= radius` — or `score >=
    * minScore` when `byScore` — per (qid, id). Emits only matches, so
    * the output is the join's selectivity, never |corpus| x |queries|. */
  def rangeSearchMany(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, radius: Double, byScore: Boolean = false,
      knownNq: Long = -1L): DataFrame = {
    val qNorm = normalizedQueries(config, queries)
    val nq = if (knownNq >= 0) knownNq else queries.count()
    queryBlocks(qNorm, nq, config.dimensions).map { qb =>
      val scored = df.crossJoin(broadcast(qb))
        .withColumn("raw", vecDistance(config.metric, col("vector"), col("qvector")))
      val (score, dist) = resultValues(config.metric, col("raw"), config.score)
      scored
        .filter(if (byScore) score.cast("double") >= radius
                else dist.cast("double") <= radius)
        .select(col("qid"), col("id"), col("value"),
          score.cast("double").as("score"), dist.cast("double").as("distance"),
          lit(config.metric.name).as("metric"))
    }.reduce(_ unionByName _)
  }

  /** Rank column for one funnel stage: score the `d`-prefix of the
    * stored vectors against the `d`-prefix of the query. Cosine uses the
    * true normalized cosine because prefixes of unit vectors are not unit
    * (search.rs:56-59); other metrics use their own kernel on the prefix. */
  private def funnelStageRank(config: CollectionConfig, q: Array[Float],
      d: Int): Column = {
    val qPrefix = q.slice(0, d)
    val vPrefix = if (d >= config.dimensions) col("vector") else slice(col("vector"), 1, d)
    val raw =
      if (config.metric == Metric.Cosine) trueCosine(vPrefix, vecLit(qPrefix))
      else vecDistance(config.metric, vPrefix, vecLit(qPrefix))
    rankCol(config.metric, raw)
  }

  /** Driver-collect bound for the slim candidate cuts
    * (`spark.graft.slimcut.maxIds`, default 100k ids): a cut whose keep
    * exceeds it must NOT collect — `funnelSearch(candidates = 5M)` would
    * otherwise pull 5M ids to the driver and build a 5M-element InSet.
    * Above the bound the callers switch to [[slimTopIdsFrame]] + a
    * left-semi join: same result set, everything stays distributed. */
  private[graft] def slimCutMaxIds(df: DataFrame): Int =
    GraftConf.int(df.sparkSession, "spark.graft.slimcut.maxIds", 100000)

  /** Top-`keep` ids by ascending (`rank`, id), computed EAGERLY on a SLIM
    * (id, rank) projection — the shared candidate-cut shape of the
    * funnel stages, the quantized candidate pass and the hybrid
    * generators. Running the cut over the full rows puts the corpus
    * VECTORS through the per-partition sort and a keep*P-row
    * sort-exchange (~KB/row: r10's 5.6x synth_funnel regression, and a
    * scale-killer at 100 TB where every exchange would carry the
    * embedding payload); a lazy broadcast-semi-join variant instead
    * nests each stage's sub-plan inside the next stage's broadcast
    * build, tripling planning and job count per query. Here the cut is
    * a TERMINAL slim top-k — TakeOrderedAndProject's per-partition
    * bounded heap + driver merge, the same shape as flat search's own
    * top-k — and survivors re-enter the plan as an id InSet literal
    * ([[filterByIds]]): flat plans, one job per cut, vectors never leave
    * the scan. Driver bound: <= min(64, P) * keep slim (id, rank) pairs
    * — above 64 partitions the locally-cut survivors funnel through a
    * 64-way exchange of slim pairs first, so the driver merge never
    * scales with corpus partition count. */
  private[graft] def slimTopIds(df: DataFrame, rank: Column, keep: Int,
      numPartitions: Int = -1): Array[Any] = {
    val slim = df.select(col("id"), rank.as("rank"))
    val parts = if (numPartitions >= 0) numPartitions else df.rdd.getNumPartitions
    val fanned =
      if (parts > 64)
        slim.sortWithinPartitions(col("rank").asc_nulls_last, col("id").asc)
          .filter(monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) < keep)
          .repartition(64)
      else slim
    topK(fanned, keep).select("id").collect().map(_.get(0))
  }

  /** Distributed form of the slim cut — the top-`keep` ids as a one-column
    * FRAME (per-partition local sort-cut, then the terminal slim top-k;
    * see [[candidateCut]]): the fallback shape when `keep` exceeds
    * [[slimCutMaxIds]] and a driver collect is off the table. Survivors
    * rematerialize via `probe.join(frame, "id", "left_semi")`. */
  private[graft] def slimTopIdsFrame(df: DataFrame, rank: Column, keep: Int): DataFrame =
    candidateCut(df.select(col("id"), rank.as("rank")), keep).select("id")

  /** Survivors as a flat InSet probe over the input — keeps every stage
    * plan shallow instead of chaining semi-joins. Built as a single
    * catalyst InSet node holding the id set: `isInCollection` expands
    * to one Literal PER ID (12800 tree nodes at the default funnel
    * operating point), and analyzing/serializing that tree costs more
    * than the stage's distance job. Ids convert to the id column's OWN
    * catalyst type (string ids -> UTF8String, long ids -> Long, ...), so
    * any orderable id type works. */
  private[graft] def filterByIds(df: DataFrame, ids: Array[Any]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    val conv = org.apache.spark.sql.graft.Bridge.toCatalyst(df.schema("id").dataType)
    val hset: Set[Any] = ids.iterator.map(conv).toSet
    df.filter(org.apache.spark.sql.graft.Bridge.column(
      InSet(org.apache.spark.sql.graft.Bridge.expression(col("id")), hset)))
  }

  /** The guarded shared candidate-cut: decide the top-`keep` cut on a
    * slim (id, rank) projection of `cutFrame`, rematerialize survivors
    * from `probe` — collect+InSet below [[slimCutMaxIds]] (flat plans,
    * one job per cut), a distributed left-semi join above it (no driver
    * collect, no InSet literal). The fan-in partition count is probed on
    * `probe`, NOT `cutFrame`: callers pass a long-lived collection frame
    * as the probe (its `Dataset.rdd` is a lazy val, so repeat searches
    * reuse one physical-plan build) while `cutFrame` is often a per-call
    * projection of it (`withCodes`) whose `.rdd` would re-plan every
    * query; the two always partition identically because the cut frame
    * is a narrow projection of the probe. */
  private[graft] def cutAndFilter(cutFrame: DataFrame, probe: DataFrame,
      rank: Column, keep: Int, numPartitions: Int = -1): DataFrame = {
    val parts =
      if (numPartitions >= 0) numPartitions else probe.rdd.getNumPartitions
    if (keep <= slimCutMaxIds(probe))
      filterByIds(probe, slimTopIds(cutFrame, rank, keep, parts))
    else
      probe.join(slimTopIdsFrame(cutFrame, rank, keep), Seq("id"), "left_semi")
  }

  /** Default funnel stages `[d/4, d/2, d]` — the reference's bench
    * defaults (bench/search_modes_bench.exs:262-266), deduplicated. */
  def defaultFunnelStages(dims: Int): Seq[Int] =
    Seq(math.max(dims / 4, 1), math.max(dims / 2, 1), dims).distinct

  /** Per-stage keep counts: the LAST stage keeps `candidates`, each
    * earlier stage keeps `widen`x more. With equal keeps at every stage
    * (the reference's literal semantics, widen=1) a multi-stage funnel
    * degenerates to its FIRST cut: stage 2 receives exactly `candidates`
    * rows and "cuts" them to `candidates`, a no-op — so recall is that
    * of the smallest prefix alone, and extra stages only cost time.
    * Widening makes the funnel an actual funnel: the cheap small-prefix
    * stage over-collects, later (more exact) stages narrow. */
  private[graft] def funnelKeeps(nStages: Int, candidates: Int, widen: Int): Seq[Int] =
    (0 until nStages).map(i =>
      (candidates.toLong * math.pow(widen, (nStages - 1 - i).toDouble).toLong)
        .min(Int.MaxValue).toInt)

  /** Matryoshka funnel search: successive prefix-scored candidate cuts,
    * then exact rerank on full vectors (collection.ex:233-260,674-691).
    * Default stages `[d/4, d/2, d]`, candidates `max(20*limit, limit)`
    * — the reference bench's `min(records, 20*limit)` operating point
    * (bench/search_modes_bench.exs:8-14; the cut caps at corpus size);
    * stage i keeps `candidates * widen^(stagesAfter)` rows (see
    * [[funnelKeeps]]) — `widen = 1` recovers the reference's literal
    * fixed-candidates semantics. */
  def funnelSearch(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int, stages: Seq[Int] = Nil, candidates: Int = 0,
      widen: Int = 8): DataFrame = {
    require(limit > 0, "limit must be positive")
    val q = prepareQuery(config, query)
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    require(widen >= 1, "widen must be >= 1")
    val keeps = funnelKeeps(effStages.size, effCand, widen)
    val rankFor = (d: Int) => funnelStageRank(config, q, d)
    if (keeps.max > slimCutMaxIds(df))
      flatSearchPrepared(funnelSurvivorsFrame(df, rankFor, effStages, keeps),
        config, q, limit)
    else {
      val ids = funnelSurvivorIds(df, rankFor, effStages, keeps)
      flatSearchPrepared(ids.fold(df)(filterByIds(df, _)), config, q, limit)
    }
  }

  /** Matryoshka funnel over a bf16 PREFIX layout
    * ([[graft.prepare.Prepare.withBf16Prefixes]]): stage `d` scans ONLY
    * the packed `vector_bf16_p{d}` column — parquet column pruning makes
    * stage-1 IO `d1 * 2` bytes/row instead of the f32 vector's
    * `4 * dims` (8x at the default `dims/4` first stage), and the final
    * stage + rerank read the 2 B/dim full column. Cut plumbing (slim
    * cuts, identity-skip, the distributed above-[[slimCutMaxIds]]
    * fallback) is shared with [[funnelSearch]]. Results are funnel
    * semantics over the bf16-ROUNDED corpus — `candidates >= corpus`
    * degenerates to exactly [[flatSearchBf16]] (the same equivalence
    * property the f32 funnel has vs flat search). */
  def funnelSearchBf16(df: DataFrame, config: CollectionConfig,
      query: Array[Float], limit: Int, stages: Seq[Int] = Nil,
      candidates: Int = 0, widen: Int = 8,
      packedCol: String = "vector_bf16"): DataFrame = {
    require(limit > 0, "limit must be positive")
    val q = prepareQuery(config, query)
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    require(widen >= 1, "widen must be >= 1")
    require(df.columns.contains(packedCol), s"missing bf16 column $packedCol")
    val keeps = funnelKeeps(effStages.size, effCand, widen)
    val rankFor = (d: Int) => {
      val colName =
        if (d >= config.dimensions) packedCol
        else graft.prepare.Prepare.bf16PrefixCol(d)
      require(df.columns.contains(colName),
        s"missing bf16 prefix column $colName - build the layout with Prepare.withBf16Prefixes")
      rankCol(config.metric, bf16VecDistanceCode(funnelCode(config), col(colName),
        q.slice(0, math.min(d, config.dimensions))))
    }
    if (keeps.max > slimCutMaxIds(df))
      flatSearchBf16Prepared(funnelSurvivorsFrame(df, rankFor, effStages, keeps),
        config, q, limit, packedCol)
    else {
      val ids = funnelSurvivorIds(df, rankFor, effStages, keeps)
      flatSearchBf16Prepared(ids.fold(df)(filterByIds(df, _)), config, q,
        limit, packedCol)
    }
  }

  /** bf16 rerank over an already-prepared query (the bf16 funnel's
    * terminal stage — [[flatSearchBf16]] minus the re-preparation). */
  private def flatSearchBf16Prepared(df: DataFrame, config: CollectionConfig,
      q: Array[Float], limit: Int, packedCol: String): DataFrame = {
    val scored = scorable(df, packedCol).withColumn("raw",
        bf16VecDistance(config.metric, col(packedCol), q))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    projectResults(topK(scored, limit), config)
  }

  /** Survivor ids of the staged funnel. Ids thread through as arrays:
    * each stage filters the ORIGINAL frame by the latest id set
    * (equivalent to chaining, one probe instead of a probe per ancestor
    * stage), and a stage whose keep already covers the survivor count
    * is an identity cut — skip its job entirely (candidates >= corpus
    * makes every stage a no-op and the funnel degenerates to exact flat
    * search, the equivalence property SearchSpec pins). None = no stage
    * ran (every cut was an identity) — the candidate set is the whole
    * frame. The corpus partition count is computed ONCE per search (each
    * stage frame is a filter of the same scan, so it never changes) —
    * per-stage `df.rdd` calls would rebuild a physical plan each. */
  private def funnelSurvivorIds(df: DataFrame, rankFor: Int => Column,
      stages: Seq[Int], keeps: Seq[Int]): Option[Array[Any]] = {
    var ids: Option[Array[Any]] = None
    lazy val parts = df.rdd.getNumPartitions
    for ((d, keep) <- stages.zip(keeps) if ids.forall(_.length > keep)) {
      val cur = ids.fold(df)(filterByIds(df, _))
      ids = Some(slimTopIds(cur, rankFor(d), keep, parts))
    }
    ids
  }

  /** Distributed funnel fallback for keeps above [[slimCutMaxIds]]:
    * per-stage slim id-frame cuts chained by left-semi joins — no driver
    * collect anywhere, same survivor set as the id-threading path. */
  private def funnelSurvivorsFrame(df: DataFrame, rankFor: Int => Column,
      stages: Seq[Int], keeps: Seq[Int]): DataFrame =
    stages.zip(keeps).foldLeft(df) { case (cur, (d, keep)) =>
      cur.join(slimTopIdsFrame(cur, rankFor(d), keep), Seq("id"), "left_semi")
    }

  /** Exact rerank over an already-prepared query — shared by the
    * candidate-generator searches (funnel/quantized/hybrid/SQ8/PQ). */
  private[graft] def rerankExact(df: DataFrame, config: CollectionConfig,
      q: Array[Float], limit: Int): DataFrame =
    flatSearchPrepared(df, config, q, limit)

  /** [[flatSearch]] over an already-prepared query; the exact rerank of
    * funnel/quantized/hybrid. */
  private def flatSearchPrepared(df: DataFrame, config: CollectionConfig,
      q: Array[Float], limit: Int): DataFrame = {
    val scored = scorable(df, "vector")
      .withColumn("raw", vecDistance(config.metric, col("vector"), vecLit(q)))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    projectResults(topK(scored, limit), config)
  }

  /** Binary-quantized search: sign-bit candidate pass, then exact rerank
    * (collection.ex:263-295,693-728). Stored `binary_vector` is used when
    * present, else packed on the fly. The default candidate scorer is the
    * ASYMMETRIC binary dot (full-precision query vs stored signs — see
    * VectorKernels.packedAsymmetricDot for the measured recall win);
    * `asymmetric = false` recovers the reference's literal symmetric
    * packed-Hamming pass (distances.rs:426-437). Both read the same
    * packed words; the final top-k is always an exact rerank, and with
    * candidates >= corpus size either scorer reproduces exact flat. */
  def quantizedSearch(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int, candidates: Int = 0, asymmetric: Boolean = true): DataFrame = {
    require(limit > 0, "limit must be positive")
    val q = prepareQuery(config, query)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    projectResults(topK(quantizedCandidates(df, config, q, effCand, asymmetric)
      .withColumn("raw", vecDistance(config.metric, col("vector"), vecLit(q)))
      .withColumn("rank", rankCol(config.metric, col("raw"))), limit), config)
  }

  private def quantizedCandidates(df: DataFrame, config: CollectionConfig,
      q: Array[Float], keep: Int, asymmetric: Boolean = true): DataFrame =
    cutAndFilter(df, df, quantizedRank(df, config, q, asymmetric), keep)

  /** Sign-bit proxy rank for the quantized candidate pass. The
    * asymmetric proxy follows the metric's rank direction: every metric
    * wants direction-similar candidates (high dot) EXCEPT
    * negative_inner_product, whose exact top-k is the most-opposite
    * direction — there high-asym candidates would exclude the true
    * winners (the symmetric Hamming mode keeps the reference's literal
    * sign-similarity semantics for every metric). */
  private def quantizedRank(df: DataFrame, config: CollectionConfig,
      q: Array[Float], asymmetric: Boolean): Column = {
    val stored =
      if (df.columns.contains("binary_vector"))
        coalesce(col("binary_vector"), packSignBits(col("vector")))
      else packSignBits(col("vector"))
    if (!asymmetric)
      packedHamming(stored, typedlit(VectorKernels.packSignBits(q)), config.dimensions)
    else if (config.metric == Metric.NegativeInnerProduct)
      packedAsymmetricDot(stored, vecLit(q))
    else -packedAsymmetricDot(stored, vecLit(q))
  }

  private def quantizedCandidateIds(df: DataFrame, config: CollectionConfig,
      q: Array[Float], keep: Int, asymmetric: Boolean = true): Array[Any] =
    // slim (id, proxy-rank) cut, like the funnel stages: the packed-bit
    // scan never sorts the full-precision rows it is there to avoid
    // reading
    slimTopIds(df, quantizedRank(df, config, q, asymmetric), keep)

  /** ColBERT/MaxSim multi-vector search (collection.ex:298-323). Records
    * fall back to `[vector]` when `vectors` is absent; score is the MaxSim
    * sum (descending), distance is null. Optional per-query metric
    * override (collection.ex:313-323). Rows with a NULL id, or with
    * neither `vectors` nor `vector`, never appear — the same rule as the
    * batch form. */
  def multiVectorSearch(df: DataFrame, config: CollectionConfig,
      queryVectors: Seq[Array[Float]], limit: Int,
      metricOverride: Option[Metric] = None): DataFrame = {
    require(limit > 0, "limit must be positive")
    val metric = metricOverride.getOrElse(config.metric)
    queryVectors.foreach { v =>
      require(v.length == config.dimensions, "dimension mismatch")
      require(VectorKernels.validateFinite(v), "vector contains a non-finite value")
    }
    val prepared = queryVectors.map(prepareQuery(config, _)).toArray
    val (docs, docVecs) = maxSimDocs(df)
    val scored = docs.withColumn("score", maxSim(metric, typedlit(prepared), docVecs))
    scored.orderBy(col("score").desc, col("id").asc).limit(limit)
      .select(col("id"), col("value"), col("score").cast("double").as("score"),
        lit(null).cast("double").as("distance"), lit(metric.name).as("metric"),
        (if (df.columns.contains("metadata")) col("metadata") else lit(null)).as("metadata"))
  }

  /** The MaxSim-scorable rows of `df` (non-NULL id, and `vectors` or
    * `vector` present) and their token-set column: `vectors`, falling
    * back to `[vector]`. */
  private def maxSimDocs(df: DataFrame): (DataFrame, Column) =
    if (df.columns.contains("vectors"))
      (df.filter(col("id").isNotNull &&
        (col("vectors").isNotNull || col("vector").isNotNull)),
        coalesce(col("vectors"), array(col("vector"))))
    else (scorable(df, "vector"), array(col("vector")))

  /** Batch ColBERT/MaxSim search: `queries` carries
    * `(qid, qvectors array<array<float>>)` — one vector SET per query —
    * and per-query results equal [[multiVectorSearch]] with the same
    * knobs. One corpus scan scores every query set
    * ([[graft.expr.MaxSimMulti]]: the doc's vector matrix converts once
    * per row), cut by [[batchHeapCut]] at rank `-score` (descending
    * score, id ties ascending — the single-query ordering). The same
    * scan reads `value` and `metadata`, which ride the heap as its
    * payload, so the winners come out as finished rows in one pass over
    * the corpus: no rejoin, one Spark job when collected, and the
    * partial heaps hold at most partitions × nq × limit payloads. A
    * duplicated corpus id yields each winning row with that row's own
    * payload. Query sets are validated
    * and prepared on the driver like [[multiVectorSearch]]'s; NULL rows
    * are dropped by the same rule. */
  def multiVectorSearchMany(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int,
      metricOverride: Option[Metric] = None): DataFrame = {
    require(limit > 0, "limit must be positive")
    val metric = metricOverride.getOrElse(config.metric)
    val spark = df.sparkSession
    val (docs, docVecs) = maxSimDocs(df)
    val hasMeta = df.columns.contains("metadata")
    val qsets = queries.select(col("qid"), col("qvectors")).collect().map { r =>
      r.get(0) -> r.getSeq[scala.collection.Seq[Float]](1).map { v =>
        val arr = v.toArray
        require(arr.length == config.dimensions, "dimension mismatch")
        require(VectorKernels.validateFinite(arr),
          "vector contains a non-finite value")
        prepareQuery(config, arr)
      }.toArray
    }
    // block sizing scales with the average set size: multi-vector sets
    // make each query proportionally heavier
    val avgVecs = math.max(1, qsets.map(_._2.length).sum / math.max(qsets.length, 1))
    batchHeapCut(docs, qsets, queries.schema("qid").dataType, limit,
        code = 3, cellsPerQuery = avgVecs * math.max(config.dimensions, 1),
        payload = "value" +: (if (hasMeta) Seq("metadata") else Nil),
        result = qid => Seq(qid.as("qid"), col("id"),
          col("value"), col("raw").cast("double").as("score"),
          lit(null).cast("double").as("distance"), lit(metric.name).as("metric"),
          (if (hasMeta) col("metadata") else lit(null)).as("metadata"))) { m =>
      // rankValue(3) = -raw: descending score
      org.apache.spark.sql.graft.Bridge.column(graft.expr.MaxSimMulti(
        org.apache.spark.sql.graft.Bridge.expression(docVecs), bcast(spark, m),
        metric.code))
    }
  }

  /** Hybrid search: run candidate generators, union + dedup by id, then
    * rerank exactly or by MaxSim (collection.ex:326-348,516-658).
    * Generators: "funnel", "quantized", "search" (= flat candidates). */
  def hybridSearch(df: DataFrame, config: CollectionConfig, query: Array[Float],
      limit: Int, generators: Seq[String] = Seq("funnel", "quantized"),
      candidates: Int = 0, stages: Seq[Int] = Nil,
      rerankMultiVector: Option[Seq[Array[Float]]] = None,
      widen: Int = 8, asymmetric: Boolean = true): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(generators.nonEmpty, "at least one generator")
    val q = prepareQuery(config, query)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val funKeeps = funnelKeeps(effStages.size, effCand, widen)
    val flatRank =
      rankCol(config.metric, vecDistance(config.metric, col("vector"), vecLit(q)))
    val maxKeep =
      if (generators.contains("funnel")) math.max(funKeeps.max, effCand) else effCand
    val union = if (maxKeep > slimCutMaxIds(df)) {
      // distributed fallback (keeps above the driver-collect bound):
      // each generator yields a slim id FRAME, the union dedups by id,
      // survivors rematerialize via one left-semi join
      val idFrames = generators.map {
        case "funnel" =>
          funnelSurvivorsFrame(df, d => funnelStageRank(config, q, d),
            effStages, funKeeps).select("id")
        case "quantized" =>
          slimTopIdsFrame(df, quantizedRank(df, config, q, asymmetric), effCand)
        case "search" | "flat" => slimTopIdsFrame(df, flatRank, effCand)
        case g => throw new IllegalArgumentException(s"unknown generator $g")
      }
      df.join(idFrames.reduce(_ unionByName _).distinct(), Seq("id"), "left_semi")
    } else {
      // every generator reduces to a candidate ID SET (slim cuts — see
      // funnelStageRank); the union-with-first-seen-dedup of identical
      // corpus rows IS set union, so the old frame-union + dropDuplicates
      // shuffle collapses into one InSet probe feeding a single rerank
      // scan. None = a generator whose every cut was an identity (keep >=
      // corpus): its candidate set is the whole frame, so the union is too
      val idSets: Seq[Option[Array[Any]]] = generators.map {
        case "funnel" =>
          funnelSurvivorIds(df, d => funnelStageRank(config, q, d), effStages, funKeeps)
        case "quantized" =>
          Some(quantizedCandidateIds(df, config, q, effCand, asymmetric))
        case "search" | "flat" => Some(slimTopIds(df, flatRank, effCand))
        case g => throw new IllegalArgumentException(s"unknown generator $g")
      }
      if (idSets.exists(_.isEmpty)) df
      else filterByIds(df, idSets.flatMap(_.get).distinct.toArray)
    }
    rerankMultiVector match {
      case Some(qvecs) => multiVectorSearch(union, config, qvecs, limit)
      case None        => flatSearchPrepared(union, config, q, limit)
    }
  }

  /** Broadcast-or-shuffle hint for query-side ADC tables: a broadcast
    * row carries m*k (or dims*256) doubles, so the bound is on total
    * TABLE CELLS, not rows — `spark.graft.adc.broadcastMaxCells`
    * (default 32M cells = 256 MB of f64). Above the bound the join
    * falls back to a shuffle (same rows, bounded executor/driver
    * memory) — the residual batch path multiplies rows by nprobe, which
    * is exactly where an unguarded broadcast would blow up first. */
  private[graft] def adcBroadcastHint(df: DataFrame,
      estCells: Long): DataFrame => DataFrame = {
    val maxCells = GraftConf.long(df.sparkSession, "spark.graft.adc.broadcastMaxCells", 32000000L)
    if (estCells < 0 || estCells <= maxCells) broadcast(_) else identity
  }

  /** Batch form of flat search: one pass over the corpus answers many
    * queries at once and returns finished (qid, id, value, score,
    * distance, metric) rows. Collected, it is ONE Spark job whose
    * partial heaps (at most partitions × nq × limit (id, raw, value)
    * entries) merge on the driver while they fit
    * `spark.graft.batch.mergeSingleMaxEntries`; above that, and under a
    * join, sort or write, they shuffle to one merge task instead (plan
    * per [[batchTopMulti]]). `queries` must have (qid, qvector); every query
    * is validated like [[flatSearch]]'s, and `limit` must be positive.
    * This is the shape that scales on a cluster — per-query driver jobs
    * do not. `knownNq` is kept for source compatibility: the plan counts
    * the collected query batch itself and no longer needs it. */
  def flatSearchMany(df: DataFrame, config: CollectionConfig, queries: DataFrame,
      limit: Int, knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    batchTopMulti(df, config, queries, limit,
      vectorDistanceMulti(df.sparkSession, _, config.metric.code))
  }

  /** Multi-distance scan of the f32 `vector` column (its `prefix` dims
    * when `prefix > 0`) against a broadcast query block. */
  private def vectorDistanceMulti(spark: org.apache.spark.sql.SparkSession,
      m: Array[Array[Float]], code: Int, prefix: Int = 0): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.VectorDistanceMulti(
        org.apache.spark.sql.graft.Bridge.expression(col("vector")),
        bcast(spark, m), code, prefix))

  /** Shared brute-force batch plan of [[flatSearchMany]] /
    * [[flatSearchManyBf16]]: [[batchHeapCut]] over the multi-distance
    * scan `multiCol` (each corpus row's distances to the whole query
    * block as one primitive array), with `value` read by the same scan
    * and carried in the heap as the payload. The cut's output is the
    * result: one pass over the corpus, no rejoin, and a row's `value` is
    * copied only when a heap admits the row — the per-pair payload
    * copying of a cross-join plan (vector + qvector + value, ~KB, x nq
    * before the cut) never happens. The partial heaps hold at most
    * partitions × nq × limit (id, raw, value) entries. A row with a NULL
    * vector or id yields no winners, the same rule as the single-query
    * forms; a duplicated corpus id yields each winning row with its own
    * `value`. Collected, the whole search is one Spark job: the result
    * projection runs inside the heap node ([[heapTops]]), which merges
    * on the driver only while partitions × nq × limit entries fit
    * `spark.graft.batch.mergeSingleMaxEntries`. */
  private def batchTopMulti(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int,
      multiCol: Array[Array[Float]] => Column): DataFrame = {
    val qs = collectQueries(config, queries)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    batchHeapCut(df, qs, queries.schema("qid").dataType, limit,
        config.metric.code, config.dimensions, payload = Seq("value"),
        result = qid => Seq(qid.as("qid"), col("id"), col("value"),
          score.cast("double").as("score"), dist.cast("double").as("distance"),
          lit(config.metric.name).as("metric")))(multiCol)
  }

  /** Batch form of [[flatSearchBf16]]: one bf16-scan answers every
    * query — the batch brute-force at HALF the f32 scan bytes, with the
    * same rounded-corpus top-k contract as the single-query form
    * (plan per [[batchTopMulti]]; `knownNq` as in [[flatSearchMany]]). */
  def flatSearchManyBf16(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int,
      packedCol: String = "vector_bf16", knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(df.columns.contains(packedCol), s"missing bf16 column $packedCol")
    batchTopMulti(df, config, queries, limit, m =>
      org.apache.spark.sql.graft.Bridge.column(
        graft.expr.Bf16VectorDistanceMulti(
          org.apache.spark.sql.graft.Bridge.expression(col(packedCol)),
          bcast(df.sparkSession, m), config.metric.code)))
  }

  private[graft] def col2Bf16Distance(metric: Metric, packed: Column, q: Column): Column =
    col2Bf16DistanceCode(metric.code, packed, q)

  private def col2Bf16DistanceCode(code: Int, packed: Column, q: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.Bf16VectorDistance(
        org.apache.spark.sql.graft.Bridge.expression(packed),
        org.apache.spark.sql.graft.Bridge.expression(q), code))

  /** Batch form of quantized search: the candidate pass scores the
    * stored sign words against every query in ONE scan (queries
    * broadcast with their prepared vectors; asymmetric binary dot by
    * default, metric direction per [[quantizedSearch]]), the per-query
    * candidate cut is [[batchHeapCut]], and the exact rerank is the
    * shared bounded-broadcast tail. The scan reads only (id,
    * binary_vector) — dims/8 bytes per row instead of 4*dims — so at
    * 100 TB the candidate stage moves ~32x less data than flat batch
    * search over the same corpus. `knownNq` is kept for source
    * compatibility: the collected batch is counted instead. */
  def quantizedSearchMany(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int, candidates: Int = 0,
      asymmetric: Boolean = true, knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    val qNorm = normalizedQueries(config, queries)
    val qs = collectQueries(config, queries)
    val cands = quantizedCandPairs(df, config, qs, qNorm.schema("qid").dataType,
      effCand, asymmetric)
    rerankManyExact(df, config, cands, qNorm, limit,
      perQueryBound = effCand, knownNq = qs.length.toLong)
  }

  /** (qid, id) candidate pairs of the batch quantized pass: a multi-rank
    * scan of the stored words (converted once per row for the whole
    * query block; the emitted value IS the rank, direction pre-baked —
    * rank code 0). Bits-ONLY: when the stored `binary_vector` exists
    * (canonical collections always derive it at ingest) the scan must
    * not also decode `vector` — a coalesce fallback would drag the full
    * f32 column through the widest stage and erase the 32x narrow-scan
    * advantage. A row with a NULL stored binary_vector (non-canonical
    * input) is excluded from candidates rather than silently promoted. */
  private def quantizedCandPairs(df: DataFrame, config: CollectionConfig,
      qs: Array[(Any, Array[Float])], qidType: DataType, effCand: Int,
      asymmetric: Boolean): DataFrame = {
    val spark = df.sparkSession
    val bits = org.apache.spark.sql.graft.Bridge.expression(
      if (df.columns.contains("binary_vector")) col("binary_vector")
      else packSignBits(col("vector")))
    batchHeapCut(df, qs, qidType, effCand, 0, config.dimensions,
        result = qidAndId) { m =>
      org.apache.spark.sql.graft.Bridge.column(
        if (asymmetric)
          graft.expr.PackedDotMulti(bits, bcast(spark, m),
            negate = config.metric != Metric.NegativeInnerProduct)
        else
          graft.expr.PackedHammingMulti(bits,
            bcast(spark, m.map(VectorKernels.packSignBits)), config.dimensions))
    }
  }

  /** The one lazy reader of a batch's (qid, qvector) frame, for the
    * plans that read the queries as a column: each query is checked in
    * [[collectQueries]]' order and with its messages — a NULL qvector, a
    * NULL element, a wrong dimension or a non-finite value raises an
    * error when the plan reads the row — and normalized like ingest.
    * Building it runs no Spark action. */
  private[graft] def normalizedQueries(config: CollectionConfig,
      queries: DataFrame): DataFrame = {
    val (q, qid) = (col("qvector").cast(ArrayType(FloatType)),
      coalesce(col("qid").cast("string"), lit("null")))
    def fail(msg: Column*): Column = raise_error(concat(msg: _*))
    val checked = when(q.isNull, fail(lit("query "), qid, lit(": qvector is NULL")))
      .when(exists(q, _.isNull),
        fail(lit("query "), qid, lit(": qvector contains a NULL element")))
      .when(size(q) =!= config.dimensions, fail(lit("dimension mismatch: query "),
        size(q).cast("string"), lit(s", collection ${config.dimensions}")))
      .when(exists(q, x => isnan(x) || abs(x) === lit(Float.PositiveInfinity)),
        fail(lit("vector contains a non-finite value")))
      .otherwise(q)
    queries.select(col("qid"), checked.as("qvector")).select(col("qid"),
      normalizeVector(config.effectiveNormalize, col("qvector")).as("qvector"))
  }

  /** The raw (qid, qvector) batch read on the driver (bounded by the
    * caller's batch size), each query validated and normalized by
    * [[prepareQuery]], as the single-query forms do: a NULL qvector, a
    * NULL element, a wrong dimension or a non-finite value throws. The
    * vectors equal [[normalizedQueries]]' bit for bit (`NormalizeVector`
    * runs the same kernel). A frame of local rows — an analyzed
    * `LocalRelation` (`createDataFrame`), or one renamed by a `Project`
    * of its columns and their aliases (`Seq(...).toDF("qid", "qvector")`)
    * — is read as it is, with no Spark action; any other frame collects
    * its (qid, qvector) rows through its planned query. Either way the rows stay internal until the one
    * validation below; qids convert to their external values (decimal
    * and struct qids keep theirs). */
  private[graft] def collectQueries(config: CollectionConfig,
      queries: DataFrame): Array[(Any, Array[Float])] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.graft.Bridge
    val spark = queries.sparkSession
    val plan = queries.queryExecution.analyzed
    val resolver = Bridge.resolver(spark)
    def attr(name: String) = plan.output.find(a => resolver(a.name, name)).getOrElse(
      throw new IllegalArgumentException(
        s"query frame has no $name column: ${plan.output.map(_.name).mkString(", ")}"))
    val (qidAttr, vecAttr) = (attr("qid"), attr("qvector"))
    require(vecAttr.dataType match { case ArrayType(FloatType, _) => true; case _ => false },
      s"qvector must be array<float>, got ${vecAttr.dataType.simpleString}")
    // the local relation's column an output column reads, through a
    // renaming Project
    def source(e: NamedExpression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Alias(a: Attribute, _) => Some(a)
      case _ => None
    }
    val (rows, qi, vi) = plan match {
      case local: LocalRelation =>
        (local.data, local.output.indexOf(qidAttr), local.output.indexOf(vecAttr))
      case Project(list, local: LocalRelation) if list.forall(source(_).isDefined) =>
        def index(a: Attribute) =
          local.output.indexOf(source(list.find(_.exprId == a.exprId).get).get)
        (local.data, index(qidAttr), index(vecAttr))
      case _ => (Bridge.collectInternal(spark, Project(Seq(qidAttr, vecAttr), plan)).toSeq, 0, 1)
    }
    val toQid = Bridge.toScala(qidAttr.dataType)
    rows.map { r =>
      val qid = toQid(r.get(qi, qidAttr.dataType))
      require(!r.isNullAt(vi), s"query $qid: qvector is NULL")
      val arr = r.getArray(vi)
      val v = Array.tabulate(arr.numElements()) { j =>
        require(!arr.isNullAt(j), s"query $qid: qvector contains a NULL element")
        arr.getFloat(j)
      }
      qid -> prepareQuery(config, v)
    }.toArray
  }

  /** A query-side payload as a per-call broadcast, registered with
    * [[BroadcastHandles]] so a long-lived serving session stays bounded. */
  private def bcast[T: scala.reflect.ClassTag](spark: org.apache.spark.sql.SparkSession,
      v: T): org.apache.spark.broadcast.Broadcast[T] =
    BroadcastHandles.register(spark, spark.sparkContext.broadcast(v))

  /** The one batch top-k plan, behind every whole-corpus batch cut
    * (flat, bf16, MaxSim, quantized candidates, funnel stage 1 and the
    * hybrid flat generator). `queries` are the collected (qid, query)
    * pairs, split into [[heapBlockSize]] blocks (`cellsPerQuery` floats
    * each) so both the broadcast query matrix and the per-partition heap
    * mass stay bounded. `scan(queries)` is a [[graft.expr.BatchScan]]
    * that scores corpus rows against the whole block (its query matrix
    * ships ONCE per executor as a broadcast); [[heapTops]] keeps each
    * query's `k` best by (rank, id), rank = `rankValue(code, raw)`, with
    * no (rows x queries) pair row ever materialized. The `payload`
    * columns are read by the same scan and ride the heap beside each
    * entry — the final cuts pass their result columns, the candidate
    * cuts pass none and stay slim. `result(qid)` is the block's output
    * projection over (id, raw, payload...), where `qid` looks each
    * winner's qid up in a literal array of the block's qids
    * (`element_at`, no join).
    * A block is ONE plan, analysed once, and one pass over the corpus
    * (one job when collected, per [[heapTops]]); the partial buffers
    * hold at most partitions × block × k entries. `perBlock` continues
    * one block's output (the funnel's later stages); the blocks union.
    * A row with a NULL id or NULL scan input never wins. */
  private def batchHeapCut[T: scala.reflect.ClassTag](df: DataFrame,
      queries: Array[(Any, T)], qidType: DataType, k: Int, code: Int,
      cellsPerQuery: Int, payload: Seq[String] = Nil,
      result: Column => Seq[Column])(scan: Array[T] => Column,
      perBlock: (Array[(Any, T)], DataFrame) => DataFrame =
        (_: Array[(Any, T)], winners: DataFrame) => winners): DataFrame = {
    val payloadCols = payload.map(col)
    if (queries.isEmpty)
      return df.limit(0).select((Seq(lit(null).cast(qidType).as("qid"), col("id"),
        lit(null).cast("double").as("raw")) ++ payloadCols): _*).select(result(col("qid")): _*)
    val spark = df.sparkSession
    val qidsType = ArrayType(qidType)
    val toQids = org.apache.spark.sql.graft.Bridge.toCatalyst(qidsType)
    queries.grouped(heapBlockSize(spark, cellsPerQuery, k)).toSeq.map { block =>
      val qids = org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal(
          toQids(block.map(_._1).toSeq), qidsType))
      perBlock(block, heapTops(df, scan(block.map(_._2)), block.length, k, code, payload,
        result(element_at(qids, col("_qi") + 1))))
    }.reduce(_ unionByName _)
  }

  /** (qid, id): the output of the candidate cuts. */
  private val qidAndId: Column => Seq[Column] = qid => Seq(qid.as("qid"), col("id"))

  /** Query-block size for [[batchHeapCut]]: bounds both the
    * broadcast matrix (`spark.graft.query.broadcastMaxCells` floats) and
    * the per-partition heap mass (`spark.graft.rerank.broadcastMaxRows`
    * entries at `k` kept per query). */
  private def heapBlockSize(spark: org.apache.spark.sql.SparkSession,
      dims: Int, k: Int): Int = {
    val maxCells = GraftConf.long(spark, "spark.graft.query.broadcastMaxCells", 32000000L)
    val maxEntries = GraftConf.long(spark, "spark.graft.rerank.broadcastMaxRows", 4000000L)
    math.max(1L, math.min(maxCells / math.max(dims, 1),
      maxEntries / math.max(k, 1))).min(Int.MaxValue).toInt
  }

  /** Column twin of [[VectorKernels.rankValue]] — plain double
    * arithmetic, so the value is bit-identical to what the heap
    * comparator ranked by. */
  private def rankValueCode(code: Int, raw: Column): Column = code match {
    case 2 => lit(1.0) - raw
    case 3 => -raw
    case _ => raw
  }

  /** The heap cut of one query block: `df`'s rows scored by `scan`
    * (a [[graft.expr.BatchScan]] over `nq` queries), each query's `k`
    * best kept as (_qi, id, raw, payload...) winners, the `payload`
    * columns carried through the heap uncompared, and `select` projected
    * over them. While the buffer mass `nq * k` stays within
    * `spark.graft.batch.mergeSingleMaxEntries` (default 262144 entries)
    * the cut is ONE logical tree, analysed in one pass: `select` over a
    * [[graft.expr.BatchTopK]] node over `df`'s columns (id, payload...,
    * scan input). The node scores the corpus in row blocks itself, so
    * over a cached corpus its child is the column-pruned in-memory scan
    * with no per-row distance column; its planner strategy is
    * registered on the session first. A collected batch runs ONE Spark
    * job whose per-partition heaps merge on the driver (no exchange, no
    * adaptive re-plan) while all of them together, partitions × nq × k
    * entries, fit the same bound; above it, and for consumers that do
    * not collect (rerank joins, block unions, writes), the node's
    * `doExecute` shuffles the partial buffers to one merge task, with
    * the same rows. Above the bound the FINAL MERGE — one reduce task offering
    * every partition's nq * min(k, partitionRows) partial entries — becomes
    * the plan's only serial stage (measured: 64 queries x keep 12800
    * over 5M rows spend ~18 s of a 24 s batch funnel in that task, and
    * at 1000 executors the single reducer is a hard scale ceiling), so
    * the cut goes TWO-LEVEL over the scan as a column: per-corpus-slice heaps in
    * `spark.graft.batch.mergeGroups` (default 8) parallel groups keyed
    * on `spark_partition_id() % G` — each map task belongs to exactly
    * ONE group, so per-task buffer memory and partial-row output stay
    * identical to the single-level plan (a value-hashed key would give
    * every task all G buffers: G x nq x k slots per task OOMs) — then a
    * parallel per-qi window cut over the G*nq*k survivors. Rows
    * are bit-identical either way — the global top-k is the top-k of
    * the union of ANY disjoint corpus slicing's top-k's, and the window
    * cut orders by the SAME (rank, id) the heap comparator replicates
    * ([[rankValueCode]] + native id order). */
  private def heapTops(df: DataFrame, scan: Column, nq: Int, k: Int, code: Int,
      payload: Seq[String], select: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.graft.Bridge
    val spark = df.sparkSession
    val maxSingle = GraftConf.long(spark, "spark.graft.batch.mergeSingleMaxEntries", 262144L)
    if (nq.toLong * math.max(k, 1) <= maxSingle) {
      graft.expr.BatchTopKStrategy.register(spark)
      // the child projects the scan's input as it is when it is a column
      // (so a cached corpus stays a bare column-pruned scan), else as _in
      val scanExpr = Bridge.resolvableExpression(scan)
      val (input, scanOnInput) = scanExpr.children match {
        case Seq(a: UnresolvedAttribute) => (a, scanExpr)
        case Seq(e) =>
          (Alias(e, "_in")(), scanExpr.withNewChildren(Seq(UnresolvedAttribute.quoted("_in"))))
      }
      val id = UnresolvedAttribute.quoted("id")
      val pays = payload.map(UnresolvedAttribute.quoted)
      val cut = graft.expr.BatchTopK(id, scanOnInput, pays, nq, k, code, maxSingle,
        Project(id +: pays :+ input, df.queryExecution.analyzed))
      Bridge.ofRows(spark, Project(
        select.map(Bridge.resolvableExpression(_).asInstanceOf[NamedExpression]), cut))
    } else {
      val scored = df.select((col("id") +: payload.map(col) :+ scan.as("_ds")): _*)
      twoLevelTops(scored, nq, k, code, df.schema("id").dataType, payload).select(select: _*)
    }
  }

  /** The two-level cut of [[heapTops]] above `mergeSingleMaxEntries`. */
  private def twoLevelTops(scored: DataFrame, nq: Int, k: Int, code: Int,
      idType: DataType, payload: Seq[String]): DataFrame = {
    val spark = scored.sparkSession
    val agg = org.apache.spark.sql.graft.Bridge.column(
      graft.expr.BatchTopKAgg(
        org.apache.spark.sql.graft.Bridge.expression(col("id")),
        org.apache.spark.sql.graft.Bridge.expression(col("_ds")),
        nq, k, code, idType,
        if (payload.isEmpty) None
        else Some(org.apache.spark.sql.graft.Bridge.expression(
          struct(payload.map(col): _*)))).toAggregateExpression())
    val g = GraftConf.int(spark, "spark.graft.batch.mergeGroups", 8)
    val w = Window.partitionBy(col("_qi"))
      .orderBy(col("_rk").asc_nulls_last, col("id").asc)
    scored.groupBy(pmod(spark_partition_id(), lit(math.max(g, 1))).as("_mg"))
      .agg(agg.as("_tops"))
      .select(explode(col("_tops")).as("_t"))
      .select((Seq(col("_t.qi").as("_qi"), col("_t.id").as("id"),
        col("_t.raw").as("raw")) ++
        payload.map(p => col(s"_t.payload.$p").as(p))): _*)
      .withColumn("_rk", rankValueCode(code, col("raw")))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select((Seq("_qi", "id", "raw") ++ payload).map(col): _*)
  }

  /** Query-side broadcast guard for the batch searches. One broadcast
    * block while `nq * dims` stays within
    * `spark.graft.query.broadcastMaxCells` (default 32M f32 cells ≈
    * 128 MB of query vectors); above it the query frame splits into
    * `ceil(cells / max)` disjoint `hash(qid)` blocks, each bounded and
    * broadcast independently — a 1M-query × 384-dim batch becomes ~12
    * ~128 MB broadcasts instead of one unconditional ~1.5 GB one that
    * would sink every executor (and the driver) at once. Blocks
    * partition QUERIES, never corpus rows, so callers just union the
    * per-block results (each block = one extra corpus scan — the
    * unavoidable brute-force cost, paid with bounded memory). `nq < 0`
    * (unknown) = one block: callers resolve nq first (a count of the
    * query frame is a tiny job; the corpus is untouched). */
  private def queryBlocks(qNorm: DataFrame, nq: Long, dims: Int): Seq[DataFrame] = {
    val maxCells =
      GraftConf.long(qNorm.sparkSession, "spark.graft.query.broadcastMaxCells", 32000000L)
    val cells = if (nq < 0) -1L else nq * math.max(dims, 1).toLong
    if (cells < 0 || cells <= maxCells) Seq(qNorm)
    else {
      val nBlocks = math.min((cells + maxCells - 1) / maxCells, 4096L).toInt
      (0 until nBlocks).map(i =>
        qNorm.filter(pmod(hash(col("qid")), lit(nBlocks)) === lit(i)))
    }
  }

  /** Broadcast-or-shuffle hint keyed on an estimated ROW count against
    * `spark.graft.rerank.broadcastMaxRows` (default 4M) — the shared
    * bound for bounded candidate-pair frames riding back onto a corpus
    * scan. Negative estimate = unknown = broadcast (callers only pass
    * negative when the frame is structurally tiny). */
  private def rowsBroadcastHint(df: DataFrame, estRows: Long): DataFrame => DataFrame = {
    val maxRows = GraftConf.long(df.sparkSession, "spark.graft.rerank.broadcastMaxRows", 4000000L)
    if (estRows < 0 || estRows <= maxRows) broadcast(_) else identity
  }

  /** Batch funnel rank at prefix `d` with the query as a COLUMN (the
    * broadcast batch shape) — the same math as the single-query
    * [[funnelStageRank]]: true cosine on prefixes for cosine, the
    * metric's own kernel otherwise. */
  private def funnelStageRankCols(config: CollectionConfig, d: Int): Column = {
    val vP = if (d >= config.dimensions) col("vector") else slice(col("vector"), 1, d)
    val qP = if (d >= config.dimensions) col("qvector") else slice(col("qvector"), 1, d)
    val raw =
      if (config.metric == Metric.Cosine) trueCosine(vP, qP)
      else vecDistance(config.metric, vP, qP)
    rankCol(config.metric, raw)
  }

  /** (qid, id) survivors of the staged batch funnel over the f32
    * `vector` column (plan per [[funnelCandPairsWith]]). */
  private def funnelCandPairs(df: DataFrame, config: CollectionConfig,
      qs: Array[(Any, Array[Float])], qSchema: StructType, stages: Seq[Int],
      keeps: Seq[Int]): DataFrame =
    funnelCandPairsWith(df, config, qs, qSchema, stages, keeps,
        _ => "vector", d => funnelStageRankCols(config, d)) { (m, d) =>
      vectorDistanceMulti(df.sparkSession, m, funnelCode(config),
        prefix = if (d >= config.dimensions) 0 else d)
    }

  /** Kernel code of a funnel stage: true cosine on prefixes for cosine
    * (prefixes of unit vectors are not unit), the metric's own kernel
    * otherwise. */
  private def funnelCode(config: CollectionConfig): Int =
    if (config.metric == Metric.Cosine) VectorKernels.TRUE_COSINE_CODE
    else config.metric.code

  /** Shared staged-cut plumbing of the batch funnels, parameterized on
    * the per-stage scan column and rank (f32 slices `vector`; bf16 scans
    * the packed `d`-prefix column so parquet column pruning keeps stage
    * IO at `2 * d` bytes/row). STAGE 1 — the only stage that scans the
    * whole corpus — is [[batchHeapCut]] over `stage1Multi`, a
    * multi-distance scan of the query block pre-sliced to the first
    * prefix. Each later stage joins the corpus back onto the previous
    * stage's bounded survivor pairs of the same query block (broadcast
    * while `block * keep` fits the rerank bound) and re-cuts per qid via
    * row_number's map-side WindowGroupLimit; the pairs join as a set,
    * so a duplicated corpus id's rows compete once each. No per-query driver
    * round-trips — the batch shape a million-query training run needs. */
  private def funnelCandPairsWith(df: DataFrame, config: CollectionConfig,
      qs: Array[(Any, Array[Float])], qSchema: StructType, stages: Seq[Int],
      keeps: Seq[Int], stageCol: Int => String, stageRank: Int => Column)(
      stage1Multi: (Array[Array[Float]], Int) => Column): DataFrame = {
    val spark = df.sparkSession
    val d1 = stages.head
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_fr").asc_nulls_last, col("id").asc)
    batchHeapCut(df, qs, qSchema("qid").dataType, keeps.head,
        config.metric.code, config.dimensions, result = qidAndId)(
      m => stage1Multi(
        if (d1 >= config.dimensions) m else m.map(java.util.Arrays.copyOf(_, d1)), d1),
      (block, stage1) => {
        lazy val qBlock = spark.createDataFrame(java.util.Arrays.asList(
          block.map { case (qid, v) => org.apache.spark.sql.Row(qid, v.toSeq) }: _*),
          qSchema)
        stages.tail.zip(keeps.zip(keeps.tail)).foldLeft(stage1) {
          case (pairs, (d, (prevKeep, keep))) =>
            val hint = rowsBroadcastHint(df, block.length.toLong * prevKeep)
            df.select(col("id"), col(stageCol(d)))
              .join(hint(pairs.distinct()), Seq("id"))
              .join(broadcast(qBlock), Seq("qid"))
              .withColumn("_fr", stageRank(d))
              .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= keep)
              .select("qid", "id")
        }
      })
  }

  /** Batch Matryoshka funnel search: per-query results equal
    * [[funnelSearch]] with the same stages/candidates/widen. Stage cuts
    * per [[funnelCandPairsWith]]; the exact rerank is the shared bounded
    * broadcast tail. `knownNq` is kept for source compatibility: the
    * collected batch is counted instead. */
  def funnelSearchMany(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int, stages: Seq[Int] = Nil,
      candidates: Int = 0, widen: Int = 8, knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    require(widen >= 1, "widen must be >= 1")
    val keeps = funnelKeeps(effStages.size, effCand, widen)
    val qNorm = normalizedQueries(config, queries)
    val qs = collectQueries(config, queries)
    val pairs = funnelCandPairs(df, config, qs, qNorm.schema, effStages, keeps)
    rerankManyExact(df, config, pairs, qNorm, limit, effCand, qs.length.toLong)
  }

  /** Batch funnel rank at prefix `d` over the packed bf16 layout with
    * the query as a COLUMN — the same math as the single-query
    * [[funnelSearchBf16]] stage rank (true cosine on prefixes for
    * cosine, the metric's own kernel otherwise). */
  private def bf16StageRankCols(config: CollectionConfig, d: Int,
      packedCol: String): Column = {
    val packed =
      if (d >= config.dimensions) col(packedCol)
      else col(graft.prepare.Prepare.bf16PrefixCol(d))
    val qP = if (d >= config.dimensions) col("qvector") else slice(col("qvector"), 1, d)
    rankCol(config.metric, col2Bf16DistanceCode(funnelCode(config), packed, qP))
  }

  /** Batch Matryoshka funnel over a bf16 PREFIX layout: per-query
    * results equal [[funnelSearchBf16]] with the same knobs. Stage `d`
    * scans ONLY the packed `2 * d`-byte prefix column (the batch twin of
    * the single-query form's column-pruned stages); cuts per
    * [[funnelCandPairsWith]], the exact rerank reads the full bf16
    * column — no f32 column needed anywhere, so the at-rest bf16 layout
    * serves a million-query batch without per-query driver round-trips.
    * `knownNq` as in [[funnelSearchMany]]. */
  def funnelSearchManyBf16(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int, stages: Seq[Int] = Nil,
      candidates: Int = 0, widen: Int = 8,
      packedCol: String = "vector_bf16", knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(df.columns.contains(packedCol), s"missing bf16 column $packedCol")
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    require(widen >= 1, "widen must be >= 1")
    val keeps = funnelKeeps(effStages.size, effCand, widen)
    val stageColF = (d: Int) =>
      if (d >= config.dimensions) packedCol
      else graft.prepare.Prepare.bf16PrefixCol(d)
    effStages.foreach(d => require(df.columns.contains(stageColF(d)),
      s"missing bf16 prefix column ${stageColF(d)} - build the layout with Prepare.withBf16Prefixes"))
    val qNorm = normalizedQueries(config, queries)
    val qs = collectQueries(config, queries)
    val pairs = funnelCandPairsWith(df, config, qs, qNorm.schema, effStages, keeps,
        stageColF, d => bf16StageRankCols(config, d, packedCol)) { (m, d) =>
      // the prefix COLUMN is already the d-dim payload; the query
      // block arrives pre-sliced to match
      org.apache.spark.sql.graft.Bridge.column(
        graft.expr.Bf16VectorDistanceMulti(
          org.apache.spark.sql.graft.Bridge.expression(col(stageColF(d))),
          bcast(df.sparkSession, m), funnelCode(config)))
    }
    rerankManyExactBf16(df, config, pairs, qNorm, limit, effCand,
      qs.length.toLong, packedCol)
  }

  /** Exact batch rerank over (qid, id) pairs at bf16 width — the
    * [[rerankManyExact]] shape reading the packed bf16 column instead of
    * the f32 `vector` (which a bf16-only layout does not carry). */
  private[graft] def rerankManyExactBf16(df: DataFrame, config: CollectionConfig,
      candidates: DataFrame, queries: DataFrame, limit: Int,
      perQueryBound: Int, knownNq: Long, packedCol: String): DataFrame = {
    val nq = if (knownNq >= 0) knownNq
             else if (perQueryBound > 0) queries.count() else -1L
    val bound = if (perQueryBound > 0 && nq >= 0) nq * perQueryBound else -1L
    val hint = rowsBroadcastHint(df, bound)
    val joined = df.select(col("id"), col("value"), col(packedCol))
      .join(hint(candidates.select("qid", "id").distinct()), Seq("id"))
      .join(hint(queries.select("qid", "qvector")), Seq("qid"))
      .withColumn("raw", col2Bf16Distance(config.metric, col(packedCol), col("qvector")))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    val w = Window.partitionBy(col("qid")).orderBy(col("rank").asc_nulls_last, col("id").asc)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= limit)
      .select(col("qid"), col("id"), col("value"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }

  /** Batch hybrid search: every generator emits bounded (qid, id)
    * candidate pairs in batch form (funnel = [[funnelCandPairs]],
    * quantized = the bits-only multi-rank scan, flat = one
    * full-precision multi-distance scan, each cut by [[batchHeapCut]]
    * over ONE collect of the query batch), and ONE exact rerank scores
    * the union's distinct (qid, id) pairs — per-query results
    * equal [[hybridSearch]] with the same knobs. `knownNq` is kept for
    * source compatibility: the collected batch is counted instead. */
  def hybridSearchMany(df: DataFrame, config: CollectionConfig,
      queries: DataFrame, limit: Int,
      generators: Seq[String] = Seq("funnel", "quantized"),
      candidates: Int = 0, stages: Seq[Int] = Nil, widen: Int = 8,
      asymmetric: Boolean = true, knownNq: Long = -1L): DataFrame = {
    require(limit > 0, "limit must be positive")
    require(generators.nonEmpty, "at least one generator")
    val effCand = if (candidates > 0) candidates else math.max(20 * limit, limit)
    require(effCand >= limit, "candidates must be >= limit")
    val effStages = if (stages.nonEmpty) stages else defaultFunnelStages(config.dimensions)
    val qNorm = normalizedQueries(config, queries)
    val qs = collectQueries(config, queries)
    val qidType = qNorm.schema("qid").dataType
    val pairs = generators.map {
      case "funnel" =>
        funnelCandPairs(df, config, qs, qNorm.schema, effStages,
          funnelKeeps(effStages.size, effCand, widen))
      case "quantized" =>
        quantizedCandPairs(df, config, qs, qidType, effCand, asymmetric)
      case "search" | "flat" =>
        batchHeapCut(df, qs, qidType, effCand, config.metric.code, config.dimensions,
            result = qidAndId) { m =>
          vectorDistanceMulti(df.sparkSession, m, config.metric.code)
        }
      case g => throw new IllegalArgumentException(s"unknown generator $g")
    }.reduce(_ unionByName _)
    rerankManyExact(df, config, pairs, qNorm, limit,
      perQueryBound = effCand * generators.size, knownNq = qs.length.toLong)
  }

  /** Exact batch rerank over (qid, id) candidate pairs — the shared tail
    * of the quantized batch searches. For bounded batches the survivor
    * set (<= nq * candidates rows) is BROADCAST back onto the corpus and
    * queries are broadcast for their vectors, so the corpus vector column
    * never rides a shuffle; the final per-query top-k is one row_number
    * window over the bounded survivors. A 1M-query batch at
    * candidates=100 would be a 100M-row broadcast, so when the caller's
    * `perQueryBound` (candidates per query) times the query count exceeds
    * `spark.graft.rerank.broadcastMaxRows` (default 4M) the survivor and
    * query joins fall back to shuffle hash joins instead — same rows,
    * bounded memory. The pairs join as a set: a (qid, id) pair names
    * every corpus row with that id, so each row competes once however
    * many cuts admitted it. `queries` must carry (qid, qvector) already
    * normalized. */
  private[graft] def rerankManyExact(df: DataFrame, config: CollectionConfig,
      candidates: DataFrame, queries: DataFrame, limit: Int,
      perQueryBound: Int = 0, knownNq: Long = -1L): DataFrame = {
    // a caller that knows its batch size passes it; otherwise the
    // query-side count is a tiny job (nq rows) — the corpus is untouched
    val nq = if (knownNq >= 0) knownNq
             else if (perQueryBound > 0) queries.count() else -1L
    val bound = if (perQueryBound > 0 && nq >= 0) nq * perQueryBound else -1L
    val hint = rowsBroadcastHint(df, bound)
    val joined = df.select(col("id"), col("value"), col("vector"))
      .join(hint(candidates.select("qid", "id").distinct()), Seq("id"))
      .join(hint(queries.select("qid", "qvector")), Seq("qid"))
      .withColumn("raw", vecDistance(config.metric, col("vector"), col("qvector")))
      .withColumn("rank", rankCol(config.metric, col("raw")))
    val w = Window.partitionBy(col("qid")).orderBy(col("rank").asc_nulls_last, col("id").asc)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= limit)
      .select(col("qid"), col("id"), col("value"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }
}
