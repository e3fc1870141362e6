package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CollectionConfig
import graft.functions.VectorFunctions._
import graft.search.Search

/** Random-hyperplane (SimHash) LSH candidate generator — the engine's
  * distributed stand-in for the reference's single-node HNSW graph
  * (SURVEY §7.4): same contract (approximate candidates -> exact
  * rerank), validated the same way (overlap@k / top-1 agreement vs flat),
  * but partition-parallel and rebuildable-by-construction.
  *
  * Hyperplane weights are derived from a SplitMix64-style hash of
  * (seed, plane, dimension) — no fitted model object to ship: any
  * executor (or cluster) regenerates identical planes, which is what
  * makes the index "rebuilt from canonical data" exactly like the
  * reference's rebuild-on-load (collection.ex:426-433).
  *
  * Scale path: `withSignatures` materializes band keys as a column
  * (ingest-time, narrow). Batch queries join on exploded band keys —
  * a shuffle on small keys, never on vectors. Single queries filter with
  * `arrays_overlap` — no shuffle at all, scan prunes to matching rows.
  */
object CosineLsh {

  /** `probeBits`/`probeOrder` configure query-directed multi-probe (Lv
    * et al., "Multi-Probe LSH", VLDB 2007): besides its own band keys,
    * a QUERY also probes the keys reached by flipping up to `probeOrder`
    * of its `probeBits` lowest-margin bits per band (margin = |dot| with
    * the bit's hyperplane — the bits most likely to disagree for a true
    * neighbor). Stored signatures are untouched, so multi-probe costs
    * extra query keys, not extra index space (the alternative — more
    * tables — multiplies the at-rest footprint, which is what matters at
    * 100 TB). `probeBits = 0` disables (exact-key probing only). */
  final case class LshConfig(bands: Int = 16, bitsPerBand: Int = 12, seed: Long = 42L,
      probeBits: Int = 6, probeOrder: Int = 2) {
    require(bands > 0 && bitsPerBand > 0 && bitsPerBand <= 24, "bad lsh config")
    require(probeBits >= 0 && probeOrder >= 1 && probeOrder <= 2, "bad multi-probe config")
    def planes: Int = bands * bitsPerBand
  }

  private def mix(a: Long, b: Long, c: Long): Long = {
    var x = a ^ java.lang.Long.rotateLeft(b, 17) ^ java.lang.Long.rotateLeft(c, 31)
    x += 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Hyperplane weight in [-1, 1], deterministic from (seed, plane, dim). */
  private[ann] def planeWeight(seed: Long, plane: Int, dim: Int): Double = {
    val h = mix(seed, plane.toLong, dim.toLong)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  /** Band keys of one vector: key(b) = b * 2^bits + signature(b), so keys
    * from different bands never collide. */
  def bandKeys(v: Array[Float], cfg: LshConfig): Array[Int] = {
    val out = new Array[Int](cfg.bands)
    var b = 0
    while (b < cfg.bands) {
      var sig = 0
      var i = 0
      while (i < cfg.bitsPerBand) {
        val plane = b * cfg.bitsPerBand + i
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d).toDouble * planeWeight(cfg.seed, plane, d); d += 1 }
        sig = (sig << 1) | (if (dot >= 0.0) 1 else 0)
        i += 1
      }
      out(b) = (b << cfg.bitsPerBand) | sig
      b += 1
    }
    out
  }

  /** Query-side probe keys: the band keys plus, per band, the keys
    * reached by flipping any non-empty subset (size <= probeOrder) of
    * the probeBits lowest-margin bits. Margin ties break by ascending
    * plane index, so the probe set is deterministic and replicable by
    * the SQL oracle. */
  def probeKeys(v: Array[Float], cfg: LshConfig): Array[Int] = {
    if (cfg.probeBits == 0) return bandKeys(v, cfg)
    val bits = cfg.bitsPerBand
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var b = 0
    while (b < cfg.bands) {
      var sig = 0
      val margins = new Array[Double](bits)
      var i = 0
      while (i < bits) {
        val plane = b * bits + i
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d).toDouble * planeWeight(cfg.seed, plane, d); d += 1 }
        sig = (sig << 1) | (if (dot >= 0.0) 1 else 0)
        margins(i) = math.abs(dot)
        i += 1
      }
      val base = (b << bits) | sig
      out += base
      // single-bit masks for the lowest-margin bits (bit i sits at
      // shift bits-1-i in the signature), ties by ascending plane
      val flips = (0 until bits).sortBy(i => (margins(i), i))
        .take(math.min(cfg.probeBits, bits))
        .map(i => 1 << (bits - 1 - i))
      flips.foreach(m => out += (base ^ m))
      if (cfg.probeOrder >= 2) {
        var x = 0
        while (x < flips.length) {
          var y = x + 1
          while (y < flips.length) {
            out += (base ^ flips(x) ^ flips(y))
            y += 1
          }
          x += 1
        }
      }
      b += 1
    }
    out.distinct.toArray
  }

  /** Codegen entry point ([[graft.expr.LshBandKeys]]): same kernel, one
    * primitive copy each way, no boxed Seq. */
  def bandKeysData(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cfg: LshConfig): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bandKeys(v.toFloatArray(), cfg))

  /** Band-keys column (array<int>, fused codegen expression). */
  def bandKeysColumn(cfg: LshConfig)(v: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.LshBandKeys(
        org.apache.spark.sql.graft.Bridge.expression(v), cfg))

  /** Ingest-time signature column (array<int> of band keys). */
  def withSignatures(df: DataFrame, cfg: LshConfig,
      vectorCol: String = "vector"): DataFrame =
    df.withColumn("lsh_bands", bandKeysColumn(cfg)(col(vectorCol)))

  /** ANN search: LSH-bucket candidates (any band collision with the
    * query's multi-probe key set), exact rerank to `limit`.
    * Shuffle-free: the band filter prunes the scan. */
  def search(df: DataFrame, config: CollectionConfig, cfg: LshConfig,
      query: Array[Float], limit: Int): DataFrame = {
    val q = Search.prepareQuery(config, query)
    val qKeys = probeKeys(q, cfg)
    val withSig =
      if (df.columns.contains("lsh_bands")) df
      else withSignatures(df, cfg)
    val cands = withSig.filter(arrays_overlap(col("lsh_bands"), typedlit(qKeys)))
      .drop("lsh_bands")
    Search.flatSearch(cands, config, query, limit)
  }

  /** Batch ANN: explode band keys on both sides, join on the key (shuffle
    * of (key, id) pairs only), dedup (qid, id), exact-score survivors,
    * window top-k per query. The join key space is bands * 2^bits. */
  def searchMany(df: DataFrame, config: CollectionConfig, cfg: LshConfig,
      queries: DataFrame, limit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qNorm = Search.normalizedQueries(config, queries)
    val c = cfg
    val probeUdf = udf((v: Seq[Float]) => probeKeys(v.toArray, c))
    val qSide = qNorm.withColumn("band", explode(probeUdf(col("qvector"))))
    val dSide = (if (df.columns.contains("lsh_bands")) df else withSignatures(df, cfg))
      .withColumn("band", explode_outer(col("lsh_bands")))
      // outer + null-filter: a non-outer explode's inferred pre-filter
      // would re-run the signature projection per row when bands are
      // computed in this plan (InferFiltersFromGenerate)
      .filter(col("band").isNotNull)
      .select(col("band"), col("id"), col("value"), col("vector"))
    val cands = dSide.join(qSide, "band")
      .dropDuplicates("qid", "id")
      .withColumn("raw", vecDistance(config.metric, col("vector"), col("qvector")))
      .withColumn("rank", rankValue(config.metric, col("raw")))
    val w = Window.partitionBy(col("qid")).orderBy(col("rank").asc_nulls_last, col("id").asc)
    val (score, dist) = resultValues(config.metric, col("raw"), config.score)
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= limit)
      .select(col("qid"), col("id"), col("value"),
        score.cast("double").as("score"), dist.cast("double").as("distance"),
        lit(config.metric.name).as("metric"))
  }

  /** overlap@k of ANN vs exact flat for one query — the reference's bench
    * preflight quality gate (bench/search_modes_bench.exs:193-238). */
  def overlapAtK(df: DataFrame, config: CollectionConfig, cfg: LshConfig,
      query: Array[Float], k: Int): Double = {
    val exact = Search.flatSearch(df, config, query, k).select("id")
      .collect().map(_.getString(0)).toSet
    val ann = search(df, config, cfg, query, k).select("id")
      .collect().map(_.getString(0)).toSet
    if (exact.isEmpty) 1.0 else exact.intersect(ann).size.toDouble / exact.size
  }
}
