package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftConf

/** Deterministic, engine-portable sampling and dataset splitting for
  * training pipelines. The assignment hash is the first 8 hex digits of
  * md5(salt ':' id) — identical in any engine with md5, stable across
  * runs/partitionings/cluster sizes, and independent of row order. A
  * narrow projection: no shuffle, no RNG state, reproducible joins
  * between a split and its source.
  */
object Sampling {

  /** Uniform bucket in [0, buckets) from the id column.
    * {{{
    * val docs = (0 until 100).map(i => s"d$i").toDF("id")
    * docs.select(Sampling.hashBucket(col("id"), 10).as("b"))
    *   .agg(min("b"), max("b")).head   // buckets stay inside [0, 10)
    * }}} */
  def hashBucket(id: Column, buckets: Int, salt: String = ""): Column = {
    require(buckets > 0, "buckets must be positive")
    (conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % buckets).cast("int")
  }

  /** Deterministic fractional sample: keeps id iff its per-mille bucket
    * falls below fraction*1000 (resolution 0.1%).
    * {{{
    * val docs = (0 until 100).map(i => s"d$i").toDF("id")
    * val half = Sampling.sampleByHash(docs, "id", 0.5)
    * half.count()   // ~50, and the SAME rows on every run/cluster size
    * }}} */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hashBucket(col(idCol), 1000, salt) < (fraction * 1000).round.toInt)
  }

  /** Weighted split: adds a `split` column naming the partition each row
    * lands in (e.g. train/val/test by 0.9/0.05/0.05). Weights are
    * normalized and mapped onto per-mille bucket ranges, so every row
    * lands in exactly one split and re-running (any cluster size, any
    * order) reproduces the same assignment.
    * {{{
    * val docs = (0 until 100).map(i => s"d$i").toDF("id")
    * Sampling.deterministicSplit(docs, "id",
    *   Seq("train" -> 0.9, "test" -> 0.1))
    *   .groupBy("split").count()   // every row in exactly one split
    * }}} */
  def deterministicSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights required")
    val total = weights.map(_._2).sum
    val cuts = weights.map { case (n, w) => (n, w / total) }
      .scanLeft(("", 0.0)) { case ((_, acc), (n, f)) => (n, acc + f) }.tail
    val b = hashBucket(col(idCol), 1000, salt)
    val expr = cuts.init.reverse.foldLeft(lit(cuts.last._1)) {
      case (els, (name, cum)) => when(b < (cum * 1000).round.toInt, lit(name)).otherwise(els)
    }
    // reversed fold builds: b < cut1 -> w1 else b < cut2 -> w2 ... else last
    df.withColumn("split", expr)
  }

  /** Stratified deterministic sample: each stratum keeps its own
    * fraction (per-mille resolution, like [[sampleByHash]]); strata not
    * listed keep `defaultFraction`. The assignment depends only on
    * (salt, id), so re-balancing a skewed corpus (e.g. downsample the
    * dominant language, keep the tail) is reproducible across runs,
    * cluster sizes, and engines — a narrow filter, no shuffle, no RNG
    * state, and the same row never flips strata between samples drawn
    * with the same salt.
    * {{{
    * val byLang = (0 until 90).map(i => (s"d$i", "en")) ++
    *   (90 until 100).map(i => (s"d$i", "fr"))
    * Sampling.stratifiedSampleByHash(byLang.toDF("id", "lang"), "id", "lang",
    *   Seq("en" -> 0.1, "fr" -> 1.0))
    *   .groupBy("lang").count()   // en downsampled ~9, fr kept whole (10)
    * }}} */
  def stratifiedSampleByHash(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Seq[(String, Double)], defaultFraction: Double = 0.0,
      salt: String = ""): DataFrame = {
    require(fractions.forall { case (_, f) => f >= 0 && f <= 1 },
      "fractions in [0,1]")
    require(defaultFraction >= 0 && defaultFraction <= 1, "fraction in [0,1]")
    val b = hashBucket(col(idCol), 1000, salt)
    val threshold = fractions.foldLeft(
      lit((defaultFraction * 1000).round.toInt)) {
      case (els, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit((f * 1000).round.toInt)).otherwise(els)
    }
    df.filter(b < threshold)
  }

  /** DoReMi-style data mixing over LEARNED clusters: assign each row to
    * its nearest k-means centroid over `vectorCol` (the IVF cell rule —
    * L2 argmin, codegen'd, centroids ride as a reference object), then
    * keep each cluster's own deterministic hash fraction (per-mille md5
    * buckets like [[stratifiedSampleByHash]]; clusters not listed keep
    * `defaultFraction`). Metadata strata rebalance what the corpus
    * already labels; cluster mixing rebalances by CONTENT — the domain-
    * mixture-weight step of a pretraining pipeline when no domain
    * labels exist (DoReMi, Xie et al. 2023 applies such weights to
    * learned domains). The output keeps the assignment as `mix_cell`.
    * A narrow projection + filter: no shuffle, reproducible at any
    * cluster size, and the same row never flips clusters or buckets
    * between runs with the same centroids and salt.
    * {{{
    * val emb = (0 until 40).map(i =>
    *   (s"d$i", Seq(if (i < 30) 1f else -1f, 0f))).toDF("id", "vector")
    * val cents = Array(Array(1f, 0f), Array(-1f, 0f))
    * Sampling.clusterProportionalSample(emb, "id", "vector", cents,
    *   fractions = Seq(0 -> 0.1, 1 -> 1.0))
    *   .groupBy("mix_cell").count()   // head cluster thinned, tail kept
    * }}} */
  def clusterProportionalSample(df: DataFrame, idCol: String,
      vectorCol: String, centroids: Array[Array[Float]],
      fractions: Seq[(Int, Double)], defaultFraction: Double = 0.0,
      salt: String = ""): DataFrame = {
    require(fractions.forall { case (_, f) => f >= 0 && f <= 1 },
      "fractions in [0,1]")
    require(defaultFraction >= 0 && defaultFraction <= 1, "fraction in [0,1]")
    val cell = org.apache.spark.sql.graft.Bridge.column(
      graft.expr.IvfCell(
        org.apache.spark.sql.graft.Bridge.expression(col(vectorCol)), centroids))
    val b = hashBucket(col(idCol), 1000, salt)
    val threshold = fractions.foldLeft(
      lit((defaultFraction * 1000).round.toInt)) {
      case (els, (k, f)) =>
        when(col("mix_cell") === k, lit((f * 1000).round.toInt)).otherwise(els)
    }
    df.withColumn("mix_cell", cell).filter(b < threshold)
  }

  /** Temperature-scaled group sampling — the mC4/PaLM multilingual
    * mixing rule, DATA-DERIVED where [[stratifiedSampleByHash]] takes
    * caller-fixed rates: group g keeps at rate
    * `min(1, targetFraction * N * p_g / n_g)` with `p_g ∝ n_g^(1/T)`.
    * T = 1 is proportional sampling (one uniform rate); larger T
    * flattens toward equal group shares, boosting tail groups at the
    * expense of the head (capped at keeping a group whole). Group
    * stats are ONE small agg broadcast back; membership is the same
    * deterministic md5 per-mille threshold as every sampler here, so
    * the keep-set is reproducible at any cluster size and exactly
    * replicable in SQL. Output: input rows that survive, plus
    * `mix_rate_x1000` (the group's applied threshold).
    * {{{
    * val byLang = ((0 until 90).map(i => (s"d$i", "en")) ++
    *   (90 until 100).map(i => (s"d$i", "fr"))).toDF("id", "lang")
    * Sampling.temperatureSample(byLang, "id", "lang",
    *   temperature = 2.0, targetFraction = 0.5)
    *   .groupBy("lang").count()   // T>1 boosts fr's share vs proportional
    * }}} */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      temperature: Double, targetFraction: Double,
      salt: String = ""): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    require(targetFraction >= 0 && targetFraction <= 1, "fraction in [0,1]")
    val alpha = 1.0 / temperature
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n_g"))
    val tot = counts.agg(sum(col("_n_g")).as("_n"),
      sum(pow(col("_n_g").cast("double"), lit(alpha))).as("_z"))
    val rates = counts.crossJoin(broadcast(tot)).select(col(groupCol).as("_g"),
      round(least(lit(1.0),
        lit(targetFraction) * col("_n").cast("double") *
          (pow(col("_n_g").cast("double"), lit(alpha)) / col("_z")) /
          col("_n_g").cast("double")) * 1000.0)
        .cast("int").as("mix_rate_x1000"))
    // null-safe equality: a NULL group is a real group (groupBy counted
    // it), so its rows must keep at their derived rate instead of
    // silently vanishing through a null-dropping equi-join
    df.join(broadcast(rates), col(groupCol) <=> col("_g")).drop("_g")
      .filter(hashBucket(col(idCol), 1000, salt) < col("mix_rate_x1000"))
  }

  /** Sample-ratio-mismatch (SRM) check over a split/fold column: per
    * split value, observed count vs the expected fraction and the
    * normal-approximation z-score `(n - Np) / sqrt(Np(1-p))` — the
    * "did my 90/10 split actually land 90/10" guard that catches a
    * filter silently biased by the split key. |z| > ~4 on large N
    * means the assignment is broken, not unlucky. One grouped count.
    * {{{
    * val docs = (0 until 100).map(i => s"d$i").toDF("id")
    * val split = Sampling.deterministicSplit(docs, "id",
    *   Seq("train" -> 0.9, "test" -> 0.1))
    * Sampling.splitBalanceCheck(split, "split",
    *   Seq("train" -> 0.9, "test" -> 0.1))
    *   .select("split", "z")   // |z| small: the split landed as weighted
    * }}} */
  def splitBalanceCheck(df: DataFrame, splitCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val tot = weights.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val expected = weights.map { case (s, w) => (s, w / tot) }
      .toDF("split", "expected_frac")
    val counts = df.groupBy(col(splitCol).as("split"))
      .agg(count(lit(1)).as("n"))
    val n = counts.agg(sum(col("n")).as("_tot"))
    // a full outer join never broadcasts: a hint here would be dropped
    counts.join(expected, Seq("split"), "full")
      .crossJoin(broadcast(n))
      .select(col("split"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("expected_frac"), lit(0.0)).as("expected_frac"),
        (coalesce(col("n"), lit(0L)).cast("double") /
          col("_tot").cast("double")).as("actual_frac"),
        ((coalesce(col("n"), lit(0L)).cast("double") -
          col("_tot").cast("double") * coalesce(col("expected_frac"), lit(0.0))) /
          sqrt(col("_tot").cast("double") *
            coalesce(col("expected_frac"), lit(0.0)) *
            (lit(1.0) - coalesce(col("expected_frac"), lit(0.0))))).as("z"))
  }

  /** Deterministic k-fold assignment: `fold` = md5 bucket mod k on the
    * id — cross-validation splits with the same engine-portable,
    * order-independent discipline as [[deterministicSplit]]. Pass a
    * CLUSTER label (e.g. from [[graft.dedup.Dedup.clusters]]) as
    * `idCol` for the leakage-safe form: no near-dup pair ever
    * straddles folds.
    * {{{
    * val docs = (0 until 100).map(i => s"d$i").toDF("id")
    * Sampling.kFold(docs, "id", k = 5)
    *   .groupBy("fold").count()   // 5 folds, every row in exactly one
    * }}} */
  def kFold(df: DataFrame, idCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k > 1, "need at least 2 folds")
    df.withColumn("fold", pmod(hashBucket(col(idCol), 1000, salt), lit(k)))
  }

  /** Exact quantile binning: assign each row its `nBins`-quantile bin
    * of `orderCol` (0-based; bin = rank * nBins div n over the total
    * (orderCol, tiebreak) order) — percentile features, quantile-
    * anchored drift buckets, "drop the worst decile" cuts, all exact
    * (no sketch): the same distributed zipWithIndex discipline as
    * [[withSequentialIds]], so the 100 TB cost is one sort-free
    * per-partition count pass, not a global sort of the corpus.
    * Output: the input plus (rank, bin).
    * {{{
    * val scored = (0 until 100).map(i => (s"d$i", i / 100.0)).toDF("id", "q")
    * Sampling.quantileBin(scored, col("q"), nBins = 10)
    *   .filter(col("bin") > 0)   // drop the worst decile, exactly 90 rows
    * }}} */
  def quantileBin(df: DataFrame, order: Column, nBins: Int): DataFrame = {
    require(nBins > 1, "need at least 2 bins")
    val n = df.count()
    val seqd = withSequentialIds(df, order)
    seqd.withColumn("rank", col("seq_id"))
      .withColumn("bin",
        expr(s"CAST((rank * $nBins) div $n AS INT)"))
      .drop("seq_id")
  }

  /** Token-budget source mixing plan — the paper-correct form of
    * domain mixing (Pile/DoReMi weights are over TOKENS, not document
    * counts, which [[temperatureSample]]/[[stratifiedSampleByHash]]
    * rebalance): given per-source mixture weights and a total token
    * budget, emit each source's plan row (available tokens, its
    * weight's share of the budget, the downsample keep-rate, and
    * `epochs` = target/available — > 1 means the budget wants MORE
    * than the source holds, the data-constrained-repetition signal;
    * the keep-rate caps at 1 since sampling cannot upsample).
    * Sources not listed get weight 0 (rate 0). Weights are normalized
    * ONCE on the driver and embedded, so any engine reproduces the
    * arithmetic. One grouped sum per source — nothing else.
    * {{{
    * val corpus = Seq(("d1", "web", 800L), ("d2", "web", 800L),
    *   ("d3", "code", 100L)).toDF("id", "source", "tokens")
    * Sampling.tokenBudgetMix(corpus, "source", col("tokens"),
    *   Seq("web" -> 0.5, "code" -> 0.5), budgetTokens = 400L)
    *   // web: keep-rate 125/1000; code: epochs 2.0 (budget wants 2x copies)
    * }}} */
  def tokenBudgetMix(df: DataFrame, sourceCol: String, tokenCol: Column,
      weights: Seq[(String, Double)], budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    require(budgetTokens > 0, "budget must be positive")
    val tot = weights.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val targets = weights.map { case (s, w) => (s, w / tot) }
      .toDF("_src", "_wn")
    val avail = df.groupBy(col(sourceCol).as("_src"))
      .agg(sum(tokenCol.cast("long")).as("avail_tokens"))
    avail.join(broadcast(targets), Seq("_src"), "left")
      .select(col("_src").as("source"), col("avail_tokens"),
        (coalesce(col("_wn"), lit(0.0)) * lit(budgetTokens.toDouble))
          .as("target_tokens"),
        round(least(lit(1.0),
          coalesce(col("_wn"), lit(0.0)) * lit(budgetTokens.toDouble) /
            col("avail_tokens").cast("double")) * 1000.0)
          .cast("int").as("keep_rate_x1000"),
        (coalesce(col("_wn"), lit(0.0)) * lit(budgetTokens.toDouble) /
          col("avail_tokens").cast("double")).as("epochs"))
  }

  /** Apply a [[tokenBudgetMix]] plan: deterministic md5 per-mille keep
    * at each source's rate (same assignment discipline as every
    * sampler here). Rows from unlisted sources drop.
    * {{{
    * val corpus = (0 until 100).map(i => (s"d$i", "web", 10L))
    *   .toDF("id", "source", "tokens")
    * Sampling.applyTokenBudgetMix(corpus, "id", "source", col("tokens"),
    *   Seq("web" -> 1.0), budgetTokens = 500L).count()   // ~50 of 100 docs
    * }}} */
  def applyTokenBudgetMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCol: Column, weights: Seq[(String, Double)], budgetTokens: Long,
      salt: String = ""): DataFrame = {
    val plan = tokenBudgetMix(df, sourceCol, tokenCol, weights, budgetTokens)
      .select(col("source").as("_ps"), col("keep_rate_x1000"))
    df.join(broadcast(plan), df(sourceCol) === col("_ps"))
      .filter(hashBucket(col(idCol), 1000, salt) < col("keep_rate_x1000"))
      .drop("_ps")
  }

  /** Weighted sample WITHOUT replacement of exactly `n` rows
    * (Efraimidis–Spirakis priority keys): each row draws a
    * deterministic uniform `u` from md5(salt ':' id) — 13 hex chars =
    * a 52-bit integer, `(k + 0.5) / 2^52`, every step exact dyadic
    * double arithmetic so any md5-capable engine reproduces `u` BIT
    * FOR BIT — and ranks by priority `ln(u) / w`; the top-n priorities
    * are the sample. Inclusion probability is proportional to weight
    * (heavier rows draw priorities closer to 0), the classic
    * distributed one-pass weighted reservoir. Rows with NULL or
    * non-positive weight are excluded (they have no defined priority).
    *
    * Spark shape: a narrow projection then ONE TakeOrderedAndProject —
    * per-partition top-n heaps merged on the driver, no global sort
    * exchange, no RNG state; the same (salt, weights) always draws the
    * same sample at any parallelism. Output: the sampled rows plus
    * their `priority` (the tie-break is (priority, id), total because
    * ids are unique).
    * {{{
    * val scored = (0 until 100).map(i =>
    *   (s"d$i", if (i < 5) 100.0 else 0.01)).toDF("id", "quality")
    * Sampling.weightedSample(scored, "id", col("quality"), n = 5)
    *   // the 5 heavy rows dominate the draw; same sample every run
    * }}} */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
      n: Int, salt: String = ""): DataFrame = {
    require(n > 0, "sample size must be positive")
    val k = conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (k.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val pr = log(u) / weightCol.cast("double")
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("priority", pr)
      .orderBy(col("priority").desc, col(idCol))
      .limit(n)
  }

  /** [[weightedSample]] per group: exactly `nPerGroup` rows from each
    * `groupCol` value (fewer when the group is smaller), drawn with
    * the same Efraimidis–Spirakis priorities — "15 documents per
    * language, weighted by quality" in one pass. Spark shape: the
    * priority projection plus ONE group-keyed window; the rank <=
    * nPerGroup filter plans as WindowGroupLimit, so each group is
    * pre-cut to its top rows map-side and a mega-group never floods
    * the exchange. Rows with NULL/non-positive weight are excluded.
    * {{{
    * val scored = (0 until 40).map(i =>
    *   (s"d$i", if (i % 2 == 0) "en" else "fr", 1.0 + i))
    *   .toDF("id", "lang", "quality")
    * Sampling.weightedSamplePerGroup(scored, "id", "lang",
    *   col("quality"), nPerGroup = 3)
    *   .groupBy("lang").count()   // exactly 3 per language
    * }}} */
  def weightedSamplePerGroup(df: DataFrame, idCol: String, groupCol: String,
      weightCol: Column, nPerGroup: Int, salt: String = ""): DataFrame = {
    require(nPerGroup > 0, "sample size must be positive")
    val k = conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (k.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol))
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("priority", log(u) / weightCol.cast("double"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nPerGroup)
      .drop("_rn")
  }

  /** Leakage-safe split: near-duplicate documents must never straddle
    * train/test (a test doc whose near-copy sits in train inflates
    * eval), so the split key is the row's DUPLICATE-CLUSTER label, not
    * its own id — every member of a connected component lands in the
    * same partition by construction. `pairs` is any verified dup-pair
    * frame ((id_a, id_b) — minhash, simhash, embedding, or semantic);
    * labels come from [[graft.dedup.Dedup.clusters]] (component
    * minimum), and the assignment is the same md5 per-mille bucketing
    * as [[deterministicSplit]] applied to the cluster id — singleton
    * docs split by their own label. One label join on id; the split
    * itself stays a narrow projection. Output: input rows plus
    * (cluster_id, split).
    * {{{
    * val docs = Seq("a", "b", "c", "d").toDF("id")
    * val dupPairs = Seq(("a", "b")).toDF("id_a", "id_b")  // a ~ b near-dups
    * val split = Sampling.leakageSafeSplit(docs, "id", dupPairs,
    *   Seq("train" -> 0.5, "test" -> 0.5))
    * // a and b share a cluster_id => always the same split
    * split.filter(col("id").isin("a", "b")).select("split").distinct.count  // 1
    * }}} */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      weights: Seq[(String, Double)], salt: String = ""): DataFrame = {
    // Dedup.clusters names its id output "id" regardless of idCol
    val labels = graft.dedup.Dedup.clusters(
      df.select(col(idCol)), idCol, pairs)
      .withColumnRenamed("id", idCol)
    val joined = df.join(labels, idCol)
    deterministicSplit(joined, "cluster_id", weights, salt)
  }

  /** Per-group row cap (the CC-pipeline "at most N documents per domain"
    * rule): keeps the first `cap` rows of each group in ascending
    * `order` (append a unique tiebreaker for full determinism). One
    * shuffle on the group key; Spark's WindowGroupLimit pre-cuts each
    * group to `cap` rows map-side, so a mega-domain never floods the
    * exchange.
    * {{{
    * val byDomain = (0 until 30).map(i => (s"d$i", s"dom${i % 3}"))
    *   .toDF("id", "domain")
    * Sampling.capPerGroup(byDomain, "domain", cap = 2, Seq(col("id")))
    *   .count()   // 6: at most 2 docs per domain
    * }}} */
  def capPerGroup(df: DataFrame, groupCol: String, cap: Int,
      order: Seq[Column]): DataFrame = {
    require(cap > 0, "cap must be positive")
    require(order.nonEmpty, "order columns required")
    // collision-free temp name: never silently overwrite (and then
    // drop) a caller's own "_rn" column
    val rn = Iterator.from(0)
      .map(i => if (i == 0) "_rn" else s"_rn$i")
      .find(n => !df.columns.contains(n)).get
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= cap).drop(rn)
  }

  /** GPT-style sequence-packing layout: documents laid end-to-end on one
    * token stream in ascending `order` (must be a total order), then cut
    * into fixed `binSize` training sequences. Emits each doc's global
    * `token_start`, its first/last bin, and its offset inside the first
    * bin — everything a packed-pretraining writer needs to materialize
    * sequences (or to route each doc to its bin workers when docs span
    * bins).
    *
    * Scale shape: a global running sum CANNOT ride a Spark window (no
    * partitionBy = one partition). Instead: range-repartition on the
    * key, one pass for per-partition token totals (collected — one small
    * number per partition), then a second pass over the SAME materialized
    * RDD instance streams each partition with its exclusive prefix offset
    * (the [[withSequentialIds]] determinism contract).
    * {{{
    * val toPack = Seq(("a", 600L), ("b", 600L), ("c", 600L))
    *   .toDF("id", "tokens")
    * Sampling.packSequences(toPack, col("id"), "tokens", binSize = 1024)
    *   .select("id", "pack_token_start", "pack_bin", "pack_end_bin")
    *   // a: start 0 bin 0; b: start 600 spans bins 0-1; c: start 1200 bin 1
    * }}} */
  def packSequences(df: DataFrame, order: Column, tokenCol: String,
      binSize: Int, prefix: String = "pack_"): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    val newCols = Seq("token_start", "bin", "offset", "end_bin").map(prefix + _)
    require(!newCols.exists(df.columns.contains),
      s"input already has ${newCols.filter(df.columns.contains).mkString(", ")} — " +
        "pass a different prefix")
    val spark = df.sparkSession
    val tokenIdx = df.schema.fieldIndex(tokenCol)
    val sorted = df.repartitionByRange(order).sortWithinPartitions(order)
    // ONE RDD instance: the RangePartitioner samples boundaries once at
    // construction, and the second job reuses the first's shuffle files,
    // so both passes see identical partition contents (no persist needed)
    val rdd = sorted.rdd
    val partTotals = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(tokenIdx))
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _) // exclusive prefix per partition
    val bs = binSize.toLong
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(s"${prefix}token_start",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(s"${prefix}bin",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(s"${prefix}offset",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(s"${prefix}end_bin",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val packed = rdd.mapPartitionsWithIndex { case (i, it) =>
      var running = offsets(i)
      it.map { r =>
        val n = r.getLong(tokenIdx)
        val start = running
        running += n
        val endTok = if (n > 0) start + n - 1 else start
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++
          Seq(start, start / bs, start % bs, endTok / bs))
      }
    }
    val out = spark.createDataFrame(packed, schema)
    out
  }

  /** Globally contiguous 0-based ids in `order`-sorted order, at scale.
    * `row_number() OVER (ORDER BY ...)` needs a single-partition window;
    * this instead range-repartitions on the key, sorts each partition
    * locally, and zips with a global index — the distributed
    * zipWithIndex. `order` must be a total order (unique values),
    * otherwise the assignment within ties is undefined.
    *
    * The zip happens on ONE materialized RDD instance: its
    * RangePartitioner samples boundaries exactly once at construction,
    * so the count job zipWithIndex runs internally and the final map
    * job see identical partition boundaries and (sorted) contents. Two
    * separate Dataset actions would each re-plan — new RDD ids, new
    * sampling seeds, AQE re-coalescing — and could assign duplicate or
    * non-contiguous ids.
    * {{{
    * val docs = Seq("c", "a", "b").toDF("id")
    * Sampling.withSequentialIds(docs, col("id"))
    *   .orderBy("seq_id")   // a->0, b->1, c->2: contiguous in sort order
    * }}} */
  def withSequentialIds(df: DataFrame, order: Column,
      idCol: String = "seq_id"): DataFrame = {
    val spark = df.sparkSession
    // HYBRID (mirror of Dedup.clusters' bounded driver path): the
    // distributed form costs three executions of the input — the
    // RangePartitioner boundary-sampling job, zipWithIndex's partition
    // count job, and the final map — plus a range shuffle. Gate-scale
    // frames (the pipeline_curation family, tiny curation batches) pay
    // that fixed overhead on a few thousand rows. A bounded limit-probe
    // (LocalLimit stops the scan early, so on a big frame it reads one
    // partition prefix) routes small inputs to a ONE-PARTITION sort +
    // zip: same total order, same contiguous ids — zipWithIndex on one
    // partition skips its count job entirely, so the small path is one
    // probe + one execution, no shuffle. Identical output by the total-
    // order contract (`order` has unique values); the distributed path
    // remains for anything past the bound.
    //
    // A nondeterministic `order` (say rand(seed) for random ids) is
    // evaluated ONCE per row, as a column of the input, so both paths
    // read the same values: left as an expression it would be computed
    // above the single partition on the small path, and twice (range
    // routing, then the sort) on the distributed one. coalesce(1) costs no
    // shuffle and evaluates its child in the child's own partitions, so
    // partition-sensitive input columns (rand(seed), spark_partition_id(),
    // monotonically_increasing_id()) and the order column read as they do
    // on the distributed path.
    val orderDeterministic =
      df.select(order).queryExecution.analyzed.expressions.forall(_.deterministic)
    val (input, key) =
      if (orderDeterministic) (df, order)
      else (df.select(col("*"), order.as(OrderCol)), col(OrderCol))
    val localCap = GraftConf.int(spark, "spark.graft.ids.maxLocalRows", DefaultMaxLocalRows)
    // all-columns-pruned incremental take: the probe scans as few
    // partitions as satisfy the limit, and ships 4-byte rows
    val small = localCap > 0 &&
      input.select(org.apache.spark.sql.functions.lit(1))
        .limit(localCap + 1).collect().length <= localCap
    val keyed =
      if (small) input.coalesce(1).sortWithinPartitions(key)
      else input.repartitionByRange(key).sortWithinPartitions(key)
    val sorted = if (orderDeterministic) keyed else keyed.drop(OrderCol)
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema)
  }

  /** The column a nondeterministic [[withSequentialIds]] order is
    * evaluated into (dropped from the output). */
  private val OrderCol = "_graft_seq_order"

  /** Inputs at most this large sort on one task in [[withSequentialIds]]
    * (the probe reads at most this many rows plus one). Override via
    * `spark.graft.ids.maxLocalRows`; 0 disables the single-task path.
    * 100k rows is minutes of headroom for a single sort task while every
    * gate-scale frame (hundreds to thousands of rows) stays under it. */
  val DefaultMaxLocalRows = 100000
}
