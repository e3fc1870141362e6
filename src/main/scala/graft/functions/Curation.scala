package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{NgramLm, TextAnalysis}

/** The curation pipeline as ONE callable — the composition the
  * pipeline_* gate rows verify stage-by-stage, packaged so a pipeline
  * user configures instead of re-plumbing:
  *
  *   Gopher quality gate → (optional) within-doc repetition strip →
  *   exact dedup → (optional) MinHash near-dup drop → (optional)
  *   SemDeDup semantic near-dup drop over the embedding column →
  *   (optional) benchmark decontamination → (optional) LM
  *   perplexity-median cut → (optional) stratified language mixing →
  *   stable sequential ids.
  *
  * Every stage is the same operator the gate rows replicate in SQL.
  *
  * MATERIALIZATION RULE: a stage's output is materialized
  * (`localCheckpoint`) only when the next stage reads it more than once;
  * a stage read once is planned into its reader. So the quality gate is
  * a filter that runs inside exact dedup's map stage (it is checkpointed
  * only when an optional stage — the learned probe or the repetition
  * strip — sits between it and exact dedup), the exact-dedup output is
  * checkpointed because near dedup reads it three times (band keys, the
  * verify's texts, and the survivors), and the min-id near-dup output is
  * a filter over that checkpoint: reading it again costs what reading a
  * checkpoint costs, so the stages after it read it directly. (Past the
  * local pair cap `dropNearDuplicates` returns a semi-join, which it
  * materializes itself.)
  *
  * Each job `curate` runs itself carries a Spark job description naming
  * its stage (`curate: quality gate`, `curate: exact dedup`,
  * `curate: near dedup`, `curate: sequential ids`, and a label per
  * optional stage); the caller's description is restored afterwards. */
object Curation {

  final case class Config(
      minWords: Int = 20,
      stripRepeatedSpans: Boolean = false,
      spanTokens: Int = 20,
      nearDedup: Boolean = true,
      minhashThreshold: Double = 0.7,
      fastHash: Boolean = true,
      // NFC + casefold + whitespace-collapse the exact-dedup key
      // (TextAnalysis.canonicalize), so encoding/case/spacing accidents
      // can't defeat the cut; the text column itself is untouched
      canonicalKeys: Boolean = false,
      // near-dup survivor policy: None = canonical minimum id;
      // Some(score) = the cluster's best member by that column
      // (Dedup.keepBestPerCluster — "keep the longest/highest-quality
      // copy")
      nearKeepScore: Option[Column] = None,
      // optional SemDeDup stage after the text near-dup drop: k-means
      // the embedding space (cells trained on the surviving rows),
      // drop all but each semantic cluster's canonical min-id member —
      // catches PARAPHRASES that share no shingles
      // (Dedup.dropSemanticDuplicates; the streaming gate's
      // semanticDedup flag is the online analogue)
      semanticDedup: Boolean = false,
      semanticVectorCol: String = "embedding",
      semanticThreshold: Double = 0.9,
      semanticCells: Int = 16,
      // pre-trained k-means cells (e.g. the corpus's index model): at
      // 100 TB you train ONCE per corpus generation and share the model
      // between indexing and dedup — when given, the stage skips its
      // own fit entirely and semanticCells is ignored
      semanticCentroids: Option[Array[Array[Float]]] = None,
      decontaminationNgram: Int = 5,
      lmFilter: Boolean = false,
      stratumFractions: Seq[(String, Double)] = Nil,
      defaultFraction: Double = 1.0,
      salt: String = "graft",
      // learned quality gate (FineWeb-Edu shape): keep rows whose
      // linear-probe score over `probeVectorCol` meets `probeMinScore`;
      // the probe trains offline (LinearProbe.train on a teacher-labeled
      // sample) and rides the config as a model
      probe: Option[graft.encode.LinearProbe.Model] = None,
      probeVectorCol: String = "embedding",
      probeMinScore: Double = 0.0)

  /** Run the pipeline. `df` needs (idCol, textCol[, stratumCol]);
    * `benchmark` (texts to decontaminate against) and `lmTrusted`
    * (the LM's clean reference slice) are optional side inputs.
    * Returns the kept rows with `seq_id`. */
  def curate(df: DataFrame, idCol: String, textCol: String,
      stratumCol: Option[String] = None,
      benchmark: Option[DataFrame] = None,
      lmTrusted: Option[DataFrame] = None,
      config: Config = Config()): DataFrame = {
    val text = col(textCol)
    val stage = new StageLabels(df.sparkSession)
    // 1. quality gate (heuristic), then the optional LEARNED gate — a
    // linear-probe threshold over the document's embedding column
    var cur = df.filter(TextAnalysis.gopherKeep(text, minWords = config.minWords))
    if (config.probe.isDefined || config.stripRepeatedSpans)
      cur = stage("quality gate")(cur.localCheckpoint())
    config.probe.foreach { m =>
      cur = stage("quality gate")(graft.encode.LinearProbe.thresholdCut(cur,
        config.probeVectorCol, m, config.probeMinScore).localCheckpoint())
    }
    // 2. optional self-repetition strip (replaces the text column)
    if (config.stripRepeatedSpans) {
      val cleaned = Dedup.dropRepeatedSpans(cur, idCol, text, config.spanTokens)
        .select(col("id").as(idCol), col("clean_text").as(textCol))
      cur = stage("repetition strip")(cur.drop(textCol).join(cleaned, idCol).localCheckpoint())
    }
    // 3. exact dedup (canonical per md5 of the raw — or canonicalized — key)
    val exactKey =
      if (config.canonicalKeys) TextAnalysis.canonicalize(text) else text
    cur = stage("exact dedup")(Dedup.dropExactDuplicates(cur, idCol, exactKey).localCheckpoint())
    // 4. near-dup drop (min-id keep, or best-by-score via nearKeepScore)
    if (config.nearDedup) {
      cur = stage("near dedup")(config.nearKeepScore match {
        case Some(score) =>
          val pairs = Dedup.minhashVerifiedPairs(cur, idCol, text,
            k = 3, numHashes = 8, bands = 4,
            threshold = config.minhashThreshold, fastHash = config.fastHash)
            .select("id_a", "id_b")
          Dedup.keepBestPerCluster(cur, idCol, pairs, score)
            .drop("cluster_id", "keep_score").localCheckpoint()
        case None =>
          // a filter over the exact-dedup checkpoint: nothing to materialize
          Dedup.dropNearDuplicates(cur, idCol, text,
            threshold = config.minhashThreshold, fastHash = config.fastHash)
      })
    }
    // 4b. optional semantic (embedding) near-dup drop — SemDeDup over
    // the survivors; cells train on the curated frame itself, so index
    // training and dedup share one k-means per corpus generation
    if (config.semanticDedup) {
      val cents = config.semanticCentroids.orElse(stage("semantic dedup") {
        // infer dims from the first row WITH an embedding; an empty (or
        // all-null-embedding) frame has nothing to fit OR to drop, so
        // the stage becomes a no-op instead of crashing mid-pipeline
        cur.select(size(col(config.semanticVectorCol)).as("_d"))
          .filter(col("_d").isNotNull).head(1).headOption.map { r =>
            val dims = r.getInt(0)
            // fit on L2-NORMALIZED vectors — cell assignment inside
            // dropSemanticDuplicates normalizes, so the model must live
            // in the same space (trainOrdered samples the column as-is)
            graft.ann.IvfIndex.trainOrdered(
              cur.select(col(idCol).as("id"),
                graft.functions.VectorFunctions.normalizeVector(
                  graft.core.Normalize.L2,
                  col(config.semanticVectorCol)).as("vector"))
                .filter(col("vector").isNotNull),
              graft.core.CollectionConfig("curation_sem", dims,
                graft.core.Metric.Cosine),
              graft.ann.IvfIndex.IvfConfig(
                k = config.semanticCells, iterations = 3),
              col("id"))
          }
      })
      cents.foreach { c =>
        cur = stage("semantic dedup")(Dedup.dropSemanticDuplicates(cur, idCol,
          config.semanticVectorCol, c, config.semanticThreshold)
          .localCheckpoint())
      }
    }
    // 5. benchmark decontamination (zero shared n-grams)
    benchmark.foreach { bench =>
      val report = TextAnalysis.contaminationReport(
        cur.select(col(idCol), text), bench.select(text), idCol, textCol,
        n = config.decontaminationNgram)
      cur = cur.join(
        report.filter(col("n_shared") === 0).select(col("id").as(idCol)), idCol)
    }
    // 6. LM perplexity-median cut (CCNet shape): keep the fluent half
    if (config.lmFilter) stage("lm filter") {
      val trusted = lmTrusted.getOrElse(cur)
      val model = NgramLm.train(trusted.select(col(idCol), text), idCol, textCol)
      val scored = NgramLm.score(model, cur.select(col(idCol), text),
        idCol, textCol).localCheckpoint()
      val n = scored.count()
      // n == 0: the earlier gates emptied the corpus — there is no
      // median to cut at ((n-1)/2 = -1 matches no seq_id), so pass the
      // empty frame through instead of crashing on .head
      if (n > 0) {
        val seqd = Sampling.withSequentialIds(scored,
          struct(col("logppl"), col(idCol)))
        val med = seqd.filter(col("seq_id") === (n - 1) / 2)
          .select(col("logppl")).head.getDouble(0)
        cur = cur.join(scored.filter(col("logppl") <= med)
          .select(col(idCol)), idCol)
      }
    }
    // 7. stratified mixing
    (stratumCol, config.stratumFractions) match {
      case (Some(sc), fr) if fr.nonEmpty =>
        cur = Sampling.stratifiedSampleByHash(cur, idCol, sc, fr,
          defaultFraction = config.defaultFraction, salt = config.salt)
      case _ => ()
    }
    // 8. stable ids
    stage("sequential ids")(Sampling.withSequentialIds(cur, col(idCol)))
  }

  /** Runs a block under the Spark job description `curate: <stage>`,
    * then restores the caller's description (none included). */
  private final class StageLabels(spark: org.apache.spark.sql.SparkSession) {
    private val Key = "spark.job.description"
    def apply[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val caller = sc.getLocalProperty(Key)
      sc.setJobDescription(s"curate: $name")
      try body finally sc.setLocalProperty(Key, caller)
    }
  }

  /** Streaming front door of [[curate]] for CONTINUOUS ingest: the
    * stateless gates (Gopher quality, optional blocklist screen) run
    * unchanged under Structured Streaming, then within-watermark exact
    * dedup — `dropDuplicatesWithinWatermark` on the md5 text key keeps
    * the FIRST ARRIVAL of each key and expires its state at the
    * watermark, so state stays bounded by the ingest rate × watermark,
    * never the corpus. This is the streaming analogue of
    * [[graft.dedup.Dedup.dropExactDuplicates]] (whose batch form keeps
    * the canonical MIN-id copy: on a stream where each key's first
    * arrival is its min id the two agree — the equivalence the spec
    * gates; re-arrivals beyond the watermark pass, by contract).
    *
    * `nearDup = true` chains an online MinHash near-dup stage after the
    * exact stage — [[graft.dedup.Dedup.streamingMinhashNovelty]]'s
    * first-seen-band contract inlined so the PAYLOAD ROW rides through
    * (the novelty form emits only (window, id, novel); a curation gate
    * must emit rows): band keys explode over the exact-surviving rows,
    * `dropDuplicatesWithinWatermark(band)` keeps first-seen (band, row)
    * pairs, and a row is emitted — when its event-time window closes —
    * iff ALL `nearDupBands` of its bands were first-seen (a band seen
    * within the watermark, even from a dropped row, blocks later
    * holders; absence means near-duplicate). State stays bounded: band
    * hashes + in-window rows, expired at the watermark. Output is
    * therefore DELAYED by the window close, the standard price of a
    * stateful streaming aggregate.
    *
    * `semanticDedup = true` adds the embedding near-dup family to the
    * SAME first-seen-band stage: cosine-LSH hyperplane bands of the
    * L2-normalized `semanticVectorCol`
    * ([[graft.dedup.Dedup.streamingEmbeddingNovelty]]'s keys) join the
    * MinHash bands under one band-key namespace ("m:"/"e:"-tagged when
    * both families are on), and a row is emitted iff ALL its keys —
    * text AND embedding — were first-seen. This is the streaming
    * analogue of embedding/SemDeDup near-dup curation: a PARAPHRASE
    * shares no text shingles but lands on the same hyperplane bands, so
    * it drops where MinHash alone would admit it. One fused stage
    * instead of two chained aggregates keeps the pipeline a single
    * stateful hop (no watermark re-derivation between aggregates) and
    * extends the documented contract uniformly: every first-seen band
    * of an exact-surviving row enters state, whether or not that row is
    * itself emitted. State remains ingest-rate x watermark bounded.
    *
    * Heavier stages (decontamination, mixing) remain batch jobs over
    * the landed output — the standard continuous-ingest split. `tsCol`
    * must be a timestamp column. */
  def streamingGate(stream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes", minWords: Int = 20,
      canonicalKeys: Boolean = false,
      blocklist: Seq[String] = Nil, maxBlocklistHits: Int = 0,
      nearDup: Boolean = false, nearDupK: Int = 3, nearDupHashes: Int = 8,
      nearDupBands: Int = 4, nearDupWindow: String = "1 minute",
      fastHash: Boolean = false,
      semanticDedup: Boolean = false,
      semanticVectorCol: String = "embedding",
      semanticLsh: graft.ann.CosineLsh.LshConfig =
        graft.ann.CosineLsh.LshConfig(bands = 24, bitsPerBand = 6)): DataFrame = {
    val text = col(textCol)
    var cur = stream.filter(TextAnalysis.gopherKeep(text, minWords = minWords))
    if (blocklist.nonEmpty)
      cur = cur.filter(
        TextAnalysis.blocklistHits(text, blocklist) <= maxBlocklistHits)
    val key = if (canonicalKeys) TextAnalysis.canonicalize(text) else text
    val exact = cur.withColumn("_exact_key", md5(key))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_exact_key")
      .drop("_exact_key")
    val textKeys = if (!nearDup) None else {
      require(nearDupHashes % nearDupBands == 0,
        "nearDupHashes must be divisible by nearDupBands")
      Some(
        if (fastHash)
          TextAnalysis.minhashBandKeysFast(text, nearDupK, nearDupHashes, nearDupBands)
        else TextAnalysis.minhashBandKeys(text, nearDupK, nearDupHashes, nearDupBands))
    }
    val embKeys =
      if (!semanticDedup) None
      else Some(graft.ann.CosineLsh.bandKeysColumn(semanticLsh)(
        graft.functions.VectorFunctions.normalizeVector(
          graft.core.Normalize.L2, col(semanticVectorCol))))
    (textKeys, embKeys) match {
      case (None, None) => exact
      case (Some(tk), None) =>
        bandGateStage(exact, tsCol, tk, nearDupWindow, "nd")
      case (None, Some(ek)) =>
        bandGateStage(exact, tsCol, ek, nearDupWindow, "sd")
      case (Some(tk), Some(ek)) =>
        // one namespace for both families: tag to avoid cross-family key
        // collisions (embedding keys are small band-indexed ints, fast
        // minhash keys are longs — untagged they could alias). A null
        // embedding contributes ZERO e-keys (not a null array, which
        // would null the whole concat and lose the row's TEXT bands)
        val tagged = concat(
          transform(tk, k => concat(lit("m:"), k.cast("string"))),
          coalesce(transform(ek, k => concat(lit("e:"), k.cast("string"))),
            array().cast("array<string>")))
        bandGateStage(exact, tsCol, tagged, nearDupWindow, "nd")
    }
  }

  /** Payload-riding first-seen-band stage (MinHash, embedding-LSH, or
    * the tagged union of both): explode `keys` over the rows,
    * first-seen (band, row) within the watermark, emit the row when its
    * event-time window closes iff ALL of ITS OWN keys were first-seen
    * (the expected count rides per row, so families whose keys are
    * absent on a row — e.g. a null embedding — demand nothing). Rows
    * with NO keys at all have nothing to check or contribute: they
    * bypass the stateful stage and emit immediately, matching the batch
    * stages that keep them (a null cell pairs with nothing). `df`'s
    * `tsCol` must already carry the watermark (set by the exact stage —
    * re-defining one here is disallowed by the engine). */
  private def bandGateStage(df: DataFrame, tsCol: String,
      keys: Column, windowLength: String, tag: String): DataFrame = {
    val cols = df.columns.toSeq
    val bandCol = s"_${tag}_band"
    val tsAlias = s"_${tag}_ts"
    val surv = s"_${tag}_surv"
    val nbCol = s"_${tag}_nbands"
    val nb = coalesce(size(keys), lit(0))
    val bypass = df.filter(nb <= 0).select(cols.map(col): _*)
    // group on a metadata-STRIPPED copy of the event-time column: the
    // watermarked original must feed window() and the band dedup, but
    // if it also rides the grouping keys the aggregate output carries
    // TWO event-time columns (window + ts) and the query is rejected
    val strippedTs = col(tsCol)
      .as(tsAlias, org.apache.spark.sql.types.Metadata.empty)
    // outer + null-filter: the non-outer explode's inferred pre-filter
    // would re-run the fused band-key expression per row (and `keys`
    // already rides this projection once for the nb count)
    val staged = df.filter(nb > 0)
      .select((cols.map(col) :+ explode_outer(keys).as(bandCol) :+ strippedTs :+
        nb.as(nbCol)): _*)
      .filter(col(bandCol).isNotNull)
      .dropDuplicatesWithinWatermark(bandCol)
      .groupBy((window(col(tsCol), windowLength) +:
        cols.filterNot(_ == tsCol).map(col) :+ col(tsAlias) :+ col(nbCol)): _*)
      .agg(count(lit(1)).as(surv))
      .filter(col(surv) === col(nbCol))
      .select(cols.map(c => if (c == tsCol) col(tsAlias).as(tsCol) else col(c)): _*)
    staged.unionByName(bypass)
  }

  /** Per-stage row-count report — the funnel diagnostic every real
    * curation run ships with ("quality gate dropped 40%, dedup 3%,
    * decontamination 0.1%"): pass the named frames of a pipeline's
    * stages in order, get (stage_idx, stage, n_rows). One count job
    * per stage — a bounded, explicitly-diagnostic action; a stage frame
    * that is not materialized recomputes its lineage for its count. */
  def stageReport(stages: Seq[(String, DataFrame)]): DataFrame = {
    require(stages.nonEmpty, "at least one stage")
    val spark = stages.head._2.sparkSession
    import spark.implicits._
    stages.zipWithIndex
      .map { case ((name, df), i) => (i, name, df.count()) }
      .toDF("stage_idx", "stage", "n_rows")
  }
}
