package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. Everything is a
  * composition of codegen'd built-ins (split/transform/aggregate/md5)
  * or fused codegen kernels ([[graft.expr.TextKernels]]) — no UDF in
  * any per-row path, so plans stay inside whole-stage codegen and
  * scale linearly with partitions.
  *
  * Every function has an exact DuckDB-SQL mirror (same md5, same
  * arithmetic) so results are oracle-checkable row by row.
  */
object TextAnalysis {

  /** Whitespace tokens (multiplicity preserved). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** LOWERCASED whitespace tokens as ONE codegen node
    * ([[graft.expr.LowerTokens]]) — `transform(tokens(text), lower)` is
    * a CodegenFallback HOF, interpreted per token. */
  def lowerTokens(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.LowerTokens(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string"))))

  /** BPE-ish regex token count: words + standalone punctuation. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  def wordCount(text: Column): Column = size(tokens(text))

  /** Hashing-trick term-frequency vector (the classic "hashing
    * vectorizer"): lowercased whitespace tokens hash to `dims` buckets
    * via the first 8 md5 hex digits (the same engine-portable hash the
    * sampling/split family uses), vector[b] = term count in bucket b as
    * f32. An EMBEDDING-FREE content vector: feed it to the vector tier
    * (cosine near-dup, LSH banding, k-means cluster mixing) when no
    * model is available — exactly replicable in any engine with md5, so
    * the construction itself is oracle-checkable. O(dims x tokens) per
    * row as a pure codegen'd projection (keep dims <= ~256; at corpus
    * scale the cost is embarrassingly parallel and shuffle-free).
    * Counts are raw — compose with `normalizeVector(L2, _)` for cosine
    * work. One fused expression node: O(tokens + dims) per row (see
    * [[graft.expr.TextKernels.hashingTf]]; the builtin column
    * composition below is kept as the semantic reference and pinned
    * equal by spec). */
  def hashingTfVector(text: Column, dims: Int): Column = {
    require(dims > 0, "dims must be positive")
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.HashingTf(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), dims))
  }

  /** Builtin-composition reference for [[hashingTfVector]] (O(tokens x
    * dims)) — what the fused kernel must reproduce bit-for-bit. */
  private[graft] def hashingTfVectorReference(text: Column, dims: Int): Column = {
    val buckets = transform(lowerTokens(text), t =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dims).cast("int"))
    transform(sequence(lit(0), lit(dims - 1)), i =>
      size(filter(buckets, b => b === i)).cast("float"))
  }

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]"))

  /** Tiny stopword profiles for the language-ID heuristic. Deliberately
    * small + public knowledge (top function words per language). */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Stopword-hit ratio against the English profile (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    hitCount(toks, profiles.toMap.apply("en")).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** n-gram-free language ID: argmax of profile hits, ties broken by
    * language code (profiles scanned in sorted order), zero hits -> 'und'. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = profiles.map { case (lang, words) => (lang, hitCount(toks, words)) }
    // fold keeping the strictly-greater max: first (alphabetical) wins ties
    scored.foldLeft((lit("und"), lit(0))) { case ((bestLang, bestHits), (lang, hits)) =>
      (when(hits > bestHits, lit(lang)).otherwise(bestLang),
        when(hits > bestHits, hits).otherwise(bestHits))
    }._1
  }

  /** Composite quality score in [0,1]:
    * 0.4*min(1, tokens/20) + 0.4*min(1, 4*stopword_ratio)
    * + 0.2*(1 - min(1, 5*punct_ratio)). */
  def qualityScore(text: Column): Column = {
    val nTok = greatest(wordCount(text), lit(1)).cast("double")
    val lenSig = least(lit(1.0), nTok / lit(20.0))
    val stopSig = least(lit(1.0), stopwordRatio(text) * lit(4.0))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")
    val punctSig = lit(1.0) - least(lit(1.0), punctRatio * lit(5.0))
    lit(0.4) * lenSig + lit(0.4) * stopSig + lit(0.2) * punctSig
  }

  // ---------------------------------------- Gopher-style quality rules
  //
  // Repetition/format signals from the MassiveWeb filter set (Rae et
  // al. 2021, "Scaling Language Models: Methods, Analysis & Insights
  // from Training Gopher", appendix A1.1), each an exact count ratio so
  // both engines compute the identical double.

  /** Non-blank trimmed lines. */
  private def lines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")

  private def ratio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))

  /** Mean whitespace-token length in characters. */
  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    ratio(aggregate(toks, lit(0L), (a, t) => a + length(t)), size(toks))
  }

  /** Fraction of tokens containing at least one ASCII letter. */
  def fracAlphaWords(text: Column): Column = {
    val toks = tokens(text)
    ratio(size(filter(toks, t => t.rlike("[A-Za-z]"))), size(toks))
  }

  /** Fraction of tokens containing a lone-symbol marker (# or ellipsis). */
  def fracSymbolWords(text: Column): Column = {
    val toks = tokens(text)
    ratio(size(filter(toks,
      t => t.contains("#") || t.contains("...") || t.contains("…"))), size(toks))
  }

  /** Fraction of non-blank lines starting like a bullet item. */
  def fracBulletLines(text: Column): Column = {
    val ls = lines(text)
    ratio(size(filter(ls, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))), size(ls))
  }

  /** Fraction of non-blank lines ending in an ellipsis. */
  def fracEllipsisLines(text: Column): Column = {
    val ls = lines(text)
    ratio(size(filter(ls, l => l.endsWith("...") || l.endsWith("…"))), size(ls))
  }

  /** Duplicate-line fraction: 1 - distinct/total over non-blank lines. */
  def fracDuplicateLines(text: Column): Column = {
    val ls = lines(text)
    when(size(ls) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(ls)).cast("double") / size(ls).cast("double"))
  }

  /** Max element frequency / array size, as the longest equal run of the
    * SORTED array: one O(n log n) sort + one O(n) fold, instead of the
    * O(distinct × n) nested scan that blows up on a 100k-word document
    * (maxWords allows them, and gopherKeep evaluates this on every row).
    * Fold state = (prev element, current run, best run). */
  private def maxFreqFrac(arr: Column): Column = {
    val sorted = array_sort(arr)
    val best = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    when(size(arr) === 0, lit(0.0))
      .otherwise(best.cast("double") / size(arr).cast("double"))
  }

  /** Occurrence fraction of the most frequent lowercased token. */
  def topTokenFrac(text: Column): Column =
    maxFreqFrac(lowerTokens(text))

  /** Occurrence fraction of the most frequent word n-gram (Gopher's
    * top-n-gram repetition signal, count-based) — 0 when no n-grams. */
  def topNgramFrac(text: Column, n: Int): Column =
    maxFreqFrac(shingles(text, n))

  /** Fixed-size token chunks with overlap — the LLM-ingest shape (split
    * every document into ~chunkSize-token windows advancing by
    * chunkSize-overlap). Emits one row per chunk: the input columns plus
    * (chunk_idx, chunk, n_chunk_tokens). Pure narrow projection +
    * posexplode: no shuffle, scales with partitions. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
      chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    // exact integer chunk count: ceil((n - overlap) / stride), min 1
    // (floor of a small-int double ratio is exact well below 2^53)
    val nChunks = greatest(
      floor((size(toks) - lit(overlap) + lit(stride - 1)) / lit(stride)).cast("int"),
      lit(1))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize))))
    df.withColumn("_chunks", chunks)
      .select(col("*"), posexplode(col("_chunks")).as(Seq("chunk_idx", "chunk")))
      .drop("_chunks")
      .withColumn("n_chunk_tokens",
        size(filter(split(col("chunk"), " "), t => t =!= "")))
  }

  /** The Gopher keep rule over the signals above (word-count window,
    * word-shape bounds, symbol/bullet/ellipsis caps, duplicate-line and
    * top-token repetition caps). Thresholds follow the published filter;
    * `minWords` is tunable because corpus snippets differ from full
    * pages. */
  def gopherKeep(text: Column, minWords: Int = 50, maxWords: Int = 100000): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.GopherKeep(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")),
        minWords, maxWords))

  /** Builtin-composition reference for [[gopherKeep]] (each signal
    * re-tokenizes; every HOF lambda interpreted per element) — what the
    * fused kernel must reproduce bit-for-bit (TextKernelSpec pins
    * equality on the gate corpus and the edge cases). */
  private[graft] def gopherKeepReference(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column = {
    val n = wordCount(text)
    (n >= minWords) && (n <= maxWords) &&
      meanWordLen(text).between(3.0, 10.0) &&
      (fracSymbolWords(text) <= 0.1) &&
      (fracBulletLines(text) <= 0.9) &&
      (fracEllipsisLines(text) <= 0.3) &&
      (fracAlphaWords(text) >= 0.8) &&
      (fracDuplicateLines(text) <= 0.3) &&
      (topTokenFrac(text) <= 0.2)
  }

  /** Remove every later exact repeat of a line, keeping first
    * occurrences in order — the FIX for a high [[fracDuplicateLines]]
    * (boilerplate/navigation repeats). Order-preserving distinct via an
    * index lambda: a line survives iff its position is the line's first
    * occurrence (array_position), which both engines evaluate
    * identically. */
  def dropDuplicateLines(text: Column): Column = {
    val ls = split(text, "\n")
    concat_ws("\n",
      filter(ls, (l, i) => array_position(ls, l) === i + 1))
  }

  /** Top-k terms per document by a tf-idf VARIANT with the rational
    * idf (N+1)/(df+1). The idf factor itself is monotone in the usual
    * log idf (per-term rarity order is preserved), but tf * idf
    * products can rank differently than tf * log(idf) — this variant
    * weighs rarity more heavily. Chosen because the score is an exact
    * integer ratio that any engine reproduces bit-for-bit (libm log is
    * not cross-engine stable). Two aggregations: (doc, term) counts,
    * then term document-frequency — only (id, term) pairs shuffle.
    * Deterministic order: score desc, term asc. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explode_outer + attribute null-filter: the non-outer form makes
    // the optimizer infer a size/notNull filter that RE-EVALUATES the
    // fused tokenization per row (InferFiltersFromGenerate); outer
    // generates are exempt and the null row a null text emits is
    // filtered on the cheap exploded attribute instead
    val toks = docs.select(col(idCol),
      explode_outer(lowerTokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(col(idCol)).distinct().count()
    val scored = tf.join(dfreq, "term")
      .withColumn("score", col("tf") * lit(n + 1.0) / (col("df") + lit(1.0)))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK).drop("rn")
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** EXACT token-count percentiles over the corpus (approx_percentile
    * sketches are not cross-engine reproducible). Scale path: the value
    * at sorted position floor((n-1)*p) is found with the distributed
    * zipWithIndex ([[graft.functions.Sampling.withSequentialIds]]) —
    * no single-partition window over the corpus. */
  def tokenPercentiles(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, ps: Seq[Double]): org.apache.spark.sql.DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "percentiles in [0,1]")
    val counts = docs.select(col(idCol), wordCount(col(textCol)).as("n_tokens"))
    val n = counts.count()
    val withSeq = graft.functions.Sampling.withSequentialIds(
      counts, struct(col("n_tokens"), col(idCol)))
    // one output row per requested p, even when two ps floor to the
    // same rank position (a when-chain keyed by position would collapse
    // them) — join a tiny (pct, pos) frame instead
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = ps.map(p => (p, math.floor((n - 1) * p).toLong)).toDF("pct", "_pos")
    withSeq.join(broadcast(targets), col("seq_id") === col("_pos"))
      .select(col("pct"), col("n_tokens")).orderBy(col("pct"))
  }

  // -------------------------------------------------- PII scrubbing
  //
  // Engine-portable regexes (Java regex and RE2 both support \b, {m,n},
  // character classes used here), applied in a fixed order so the
  // redacted text is deterministic and SQL-replicable.

  /** (name, pattern) in application order. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "(\\(\\d{3}\\)|\\b\\d{3})[-. ]?\\d{3}[-. ]\\d{4}\\b",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** Occurrences of one PII class. */
  def piiCount(text: Column, kind: String): Column =
    regexp_count(text, lit(piiPatterns.toMap.apply(kind)))

  /** All PII classes replaced (in [[piiPatterns]] order) by
    * `replacement` — the scrub pass before training-corpus export. */
  def redactPii(text: Column, replacement: String = "[PII]"): Column =
    piiPatterns.foldLeft(text) { case (t, (_, p)) =>
      regexp_replace(t, p, replacement)
    }

  /** Exact-dup fingerprint. */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** Word k-shingles (contiguous, space-joined); short texts collapse to
    * one whole-text shingle. One fused codegen node
    * ([[graft.expr.Shingles]]) — the equivalent
    * transform/sequence/slice/concat_ws HOF chain is CodegenFallback,
    * interpreted once per gram. */
  def shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.Shingles(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), k))

  /** Corpus-level top-`k` n-gram heavy hitters — vocabulary seeding,
    * boilerplate discovery, stop-phrase mining. EXACT two-phase count
    * (no sketch): tokens lowercase per-token, full n-grams explode into
    * a groupBy whose map-side partial aggregation means the shuffle
    * carries one row per DISTINCT gram per partition, never per token;
    * the deterministic (freq desc, gram asc) cut is the standard
    * terminal per-partition heap. Documents shorter than `n` tokens
    * contribute nothing (no padded partial grams). */
  def topNgrams(df: org.apache.spark.sql.DataFrame, text: Column, n: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be positive")
    require(k >= 1, "k must be positive")
    val grams = org.apache.spark.sql.graft.Bridge.column(
      graft.expr.LowerNgrams(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), n))
    // outer + null-filter: see tfidfTopTerms — avoids the inferred
    // filter re-running the fused gram kernel per row
    df.select(explode_outer(grams).as("ngram"))
      .filter(col("ngram").isNotNull)
      .groupBy("ngram").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram").asc).limit(k)
  }

  /** Approximate corpus top-k n-grams via a mergeable Misra–Gries
    * summary ([[graft.expr.FrequentItemsAgg]]) — the bounded-shuffle
    * form of [[topNgrams]]: the exact plan shuffles one row per
    * DISTINCT gram (vocabulary-sized at web scale), this one ships at
    * most `capacity` counters per partition into a counter-wise merge,
    * with no explode row inflation (each document updates the summary
    * once with its gram array). Same output schema and deterministic
    * (freq desc, ngram asc) cut as the exact form.
    *
    * Counts are lower bounds — EXACT (and bit-identical to
    * [[topNgrams]]) whenever capacity ≥ distinct grams; below that,
    * any gram heavier than ~2·total/capacity is guaranteed reported
    * (the Misra–Gries guarantee), which is precisely the regime a
    * boilerplate/vocabulary-seeding pass cares about. */
  def topNgramsSketched(df: org.apache.spark.sql.DataFrame, text: Column,
      n: Int, k: Int, capacity: Int = 65536): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be positive")
    require(k >= 1, "k must be positive")
    val grams = org.apache.spark.sql.graft.Bridge.column(
      graft.expr.LowerNgrams(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), n))
    df.agg(org.apache.spark.sql.graft.Bridge.column(
        graft.expr.FrequentItemsAgg(
          org.apache.spark.sql.graft.Bridge.expression(grams),
          org.apache.spark.sql.catalyst.expressions.Literal(1L), capacity, k))
        .as("_top"))
      .select(explode(col("_top")).as("_e"))
      .select(col("_e.item").as("ngram"), col("_e.freq").as("freq"))
      .orderBy(col("freq").desc, col("ngram").asc)
  }

  /** Weighted heavy hitters over an arbitrary grouping column — "heavy
    * by MASS", the data-mix audit number: which sources/domains/
    * languages hold the most TOKENS (or bytes, or any long weight), not
    * the most documents. Same bounded-state Misra–Gries plan as
    * [[topNgramsSketched]] (≤ capacity counters per partition,
    * counter-wise merge, no vocabulary-sized shuffle); weights are
    * exact whenever capacity ≥ distinct groups — the usual case for
    * source/language mixes — and lower bounds beyond it. Output
    * (item, weight), heaviest first, deterministic (weight desc, item
    * asc) cut. */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, item: Column,
      weight: Column, k: Int,
      capacity: Int = 65536): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be positive")
    df.agg(org.apache.spark.sql.graft.Bridge.column(
        graft.expr.FrequentItemsAgg(
          org.apache.spark.sql.graft.Bridge.expression(
            array(item.cast("string"))),
          org.apache.spark.sql.graft.Bridge.expression(weight.cast("long")),
          capacity, k))
        .as("_top"))
      .select(explode(col("_top")).as("_e"))
      .select(col("_e.item").as("item"), col("_e.freq").as("weight"))
      .orderBy(col("weight").desc, col("item").asc)
  }

  /** Count-Min sketch of lowercased token frequencies — the 100 TB
    * companion to [[topNgrams]]: exact heavy-hitter counting shuffles
    * the full (token, count) table, while the sketch partial-merges
    * map-side to `O(1/eps * ln(1/(1-confidence)))` counters total,
    * regardless of vocabulary size. Estimates only OVER-count
    * (`estimate >= true`, within `eps * totalTokens` at the given
    * confidence), so a threshold keep/drop on the sketch is
    * recall-complete for true heavy tokens. Deterministic for a fixed
    * seed. The exact `topNgrams` stays the oracle-gated form. */
  def tokenCountSketch(df: org.apache.spark.sql.DataFrame, text: Column,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch = {
    val toks = df.select(
      explode_outer(lowerTokens(text)).as("_tok"))
      .filter(col("_tok").isNotNull) // see tfidfTopTerms
    toks.stat.countMinSketch("_tok", eps, confidence, seed)
  }

  /** Deflate compression ratio (compressed/raw bytes, 1.0 empty) — the
    * CCNet/Gopher-family gibberish + boilerplate signal: looping or
    * templated text compresses far below natural prose. One codegen
    * node, deterministic (fixed level, fresh Deflater per value). No
    * SQL oracle exists for zlib, so the gate is ScalaTest-only (pinned
    * monotonicity: repetitive < prose < high-entropy), mirroring the
    * reference's unit-test split for path-dependent kernels. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.CompressionRatio(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), level))

  /** One-row corpus profile — the numbers a dataset card leads with:
    * document/token totals, length moments, and the Shannon entropy of
    * the `groupCol` mix (languages, sources) in nats — entropy 0 =
    * monoculture, ln(k) = perfectly balanced over k groups. One
    * grouped count + one global agg; entropy folds over the (small)
    * per-group count frame. */
  def corpusProfile(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String): org.apache.spark.sql.DataFrame = {
    val toks = size(lowerTokens(col(textCol)))
    val base = df.agg(count(lit(1)).as("n_docs"),
      sum(toks.cast("long")).as("total_tokens"),
      avg(toks.cast("double")).as("mean_tokens"),
      min(toks).as("min_tokens"), max(toks).as("max_tokens"))
    val groups = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    val ent = groups.crossJoin(broadcast(
        groups.agg(sum(col("_n")).as("_tot"))))
      .select((col("_n").cast("double") / col("_tot").cast("double")).as("_p"))
      .agg((lit(0.0) - sum(col("_p") * log(col("_p")))).as("group_entropy"),
        count(lit(1)).as("n_groups"))
    base.crossJoin(ent)
  }

  /** Blocklist screening (the LDNOOBW-style stage of CC pipelines):
    * per-document count and fraction of (lowercased) tokens that hit
    * the caller's term list — threshold on the FRACTION, not presence,
    * so a long document quoting one slur is not auto-dropped while
    * concentrated listings are. The list rides as an array literal
    * membership test (array_contains), pure projection, no shuffle;
    * for multi-thousand-term lists prefer a broadcast join on the
    * exploded tokens upstream. */
  def blocklistHits(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "empty blocklist")
    val lt = lowerTokens(text)
    val tl = typedlit(terms.map(_.toLowerCase))
    size(filter(lt, x => array_contains(tl, x)))
  }

  /** Fraction of tokens hitting the blocklist (0 for empty docs'
    * single empty token — it can't be a listed term). */
  def blocklistFraction(text: Column, terms: Seq[String]): Column = {
    val lt = lowerTokens(text)
    blocklistHits(text, terms).cast("double") / size(lt).cast("double")
  }

  /** Lexical-diversity columns: type-token ratio (distinct/total over
    * lowercased tokens) and hapax fraction (tokens occurring exactly
    * once / distinct tokens) — low TTR is the template/boilerplate
    * signal, a near-1 hapax fraction on long docs the gibberish one.
    * Pure array builtins per row (one aggregate HOF for hapax), no
    * shuffle; empty text (one empty token) scores ttr 1. */
  def typeTokenRatio(text: Column): Column = {
    val lt = lowerTokens(text)
    size(array_distinct(lt)).cast("double") / size(lt).cast("double")
  }

  /** Hapax fraction: share of DISTINCT (lowercased) tokens appearing
    * exactly once. */
  def hapaxFraction(text: Column): Column = {
    val lt = lowerTokens(text)
    val distinctToks = array_distinct(lt)
    val hapax = filter(distinctToks, d =>
      size(filter(lt, x => x === d)) === 1)
    size(hapax).cast("double") / size(distinctToks).cast("double")
  }

  /** c-TF-IDF distinctive terms per cluster (the BERTopic labeling
    * idea): for each value of `clusterCol` (a k-means/IVF cell, a
    * language, a source), the `topN` terms whose in-cluster frequency
    * is high while few OTHER clusters contain them —
    * `score = (cnt_tc / tokens_c) * ln(1 + n_clusters / clusters_with_t)`.
    * Output: (cluster, term, score, rank), ties by ascending term.
    * The human-readable answer to "what IS this cluster".
    *
    * Spark shape: grouped counts (all partial-aggregatable) + one
    * cluster-keyed window whose rank filter plans as WindowGroupLimit
    * — per-cluster top rows pre-cut map-side. The cluster count rides
    * as a broadcast 1-row frame, not a collected scalar. */
  def topTermsPerCluster(df: org.apache.spark.sql.DataFrame,
      clusterCol: String, textCol: String,
      topN: Int): org.apache.spark.sql.DataFrame = {
    require(topN > 0, "topN must be positive")
    val toks = df.select(col(clusterCol).as("_c"),
      explode_outer(lowerTokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull) // see tfidfTopTerms
    val tc = toks.groupBy(col("_c"), col("term")).agg(count(lit(1)).as("_cnt"))
    val ct = tc.groupBy(col("_c")).agg(sum(col("_cnt")).as("_tok_c"))
    val cf = tc.select(col("_c"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("_cf"))
    val nc = tc.select(col("_c")).distinct().agg(count(lit(1)).as("_nc"))
    val scored = tc.join(ct, Seq("_c")).join(cf, Seq("term"))
      .crossJoin(broadcast(nc))
      .withColumn("score",
        (col("_cnt").cast("double") / col("_tok_c").cast("double")) *
          log(lit(1.0) + col("_nc").cast("double") / col("_cf").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_c")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("_c").as(clusterCol), col("term"), col("score"), col("rank"))
  }

  /** Per-document vocabulary coverage against a REFERENCE corpus: the
    * fraction of the document's (lowercased) tokens that appear in the
    * reference vocabulary — CCNet's cheap companion gate to perplexity
    * (an OOV-heavy document is out-of-domain no matter how its LM
    * score lands, and the add-1 LM's unseen-head artifact makes this
    * gate load-bearing). Returns (idCol, n_tokens, n_covered,
    * coverage); empty docs cover 0 over 0 -> null coverage.
    *
    * Scale shape: the reference reduces ONCE to its distinct-token
    * vocabulary (broadcast when small, shuffle join otherwise); the
    * scored side explodes to (doc, token) and left-semi-counts — both
    * sides partial-aggregatable, no collect. */
  def vocabCoverage(ref: org.apache.spark.sql.DataFrame,
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val vocab = ref.select(explode_outer(lowerTokens(col(textCol)))
      .as("term")).filter(col("term").isNotNull).distinct()
    val toks = df.select(col(idCol).as("_id"),
      explode_outer(lowerTokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull) // see tfidfTopTerms
    val covered = toks.join(vocab, Seq("term"), "left_semi")
      .groupBy(col("_id")).agg(count(lit(1)).as("n_covered"))
    val totals = toks.groupBy(col("_id")).agg(count(lit(1)).as("n_tokens"))
    df.select(col(idCol).as("_id")).join(totals, Seq("_id"), "left")
      .join(covered, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          coalesce(col("n_covered"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(null)).cast("double").as("coverage"))
  }

  /** Unicode NFC (canonical composition) — one codegen node over the
    * JDK Normalizer; DuckDB's `nfc_normalize` is the oracle twin. */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.NfcNormalize(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string"))))

  /** Canonical dedup key: NFC-compose, casefold, collapse runs of
    * whitespace to one space, trim — the normalization CCNet-family
    * pipelines apply BEFORE hashing so that byte-level encoding
    * accidents (NFD vs NFC, case, spacing) don't defeat exact dedup.
    * Feed to [[fingerprintMd5]] / [[graft.dedup.Dedup.dropExactDuplicates]]
    * in place of the raw text. */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(lower(nfc(text)), "\\s+", " "))

  /** Rolling w-shingling fingerprint: the minimum md5 over k-shingles —
    * one deterministic representative per document (a 1-hash MinHash). */
  def minShingleFingerprint(text: Column, k: Int): Column =
    array_min(transform(shingles(text, k), s => md5(s)))

  /** MinHash signature: component i = min over shingles of
    * md5(i ':' shingle). Hex-string min is a valid uniform-hash min, and
    * is reproducible bit-for-bit in any engine with md5. */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column = {
    val sh = array_distinct(shingles(text, k))
    array((0 until numHashes).map(i =>
      array_min(transform(sh, s => md5(concat(lit(s"$i:"), s))))): _*)
  }

  /** LSH band keys over a minhash signature: md5 of the joined rows of
    * each band, prefixed with the band index. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      md5(concat(lit(s"$b:"), concat_ws("|",
        slice(sig, b * rowsPerBand + 1, rowsPerBand))))): _*)

  /** Distinct k-shingles as ONE expression node (same values as
    * array_distinct(shingles(text, k)), a fraction of the codegen). */
  def distinctShingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.DistinctShingles(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")), k))

  /** Jaccard of the distinct k-shingle sets of two texts as ONE
    * expression node ([[graft.expr.ShingleJaccard]]): the value of
    * `size(array_intersect(a, b)) / size(array_union(a, b))` over
    * [[distinctShingles]] of each side, bit for bit, NULL if either text
    * is NULL. */
  def shingleJaccard(a: Column, b: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.ShingleJaccard(
        org.apache.spark.sql.graft.Bridge.expression(a.cast("string")),
        org.apache.spark.sql.graft.Bridge.expression(b.cast("string")), k))

  /** Fused minhashBands(minhashSignature(...)) as ONE expression node:
    * identical values, but the optimizer cannot re-expand the shingle
    * subtree into join branches (no lineage barrier needed) and it works
    * inside streaming plans. */
  def minhashBandKeys(text: Column, k: Int, numHashes: Int, bands: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.MinhashBandKeys(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")),
        k, numHashes, bands))

  /** Fast-hash band keys (MurmurHash3, long keys) — the production
    * operating point; see [[graft.expr.TextKernels.minhashBandKeysFast]]. */
  def minhashBandKeysFast(text: Column, k: Int, numHashes: Int, bands: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.MinhashBandKeysFast(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string")),
        k, numHashes, bands))

  /** Benchmark decontamination (the GPT-3 appendix-C / Pile shape): for
    * each training document, count distinct word n-grams it shares with
    * ANY document of an evaluation set, plus the contamination fraction
    * (shared / its own distinct n-grams). Pipelines drop or flag docs
    * above a threshold before training so eval numbers stay honest.
    *
    * Scale shape: both sides explode DISTINCT n-grams and join on the
    * md5 of the gram — the shuffle carries only (32-hex-hash, id) pairs,
    * never documents; the benchmark side (typically tiny next to a
    * 100 TB corpus) is broadcast, so the corpus side never shuffles at
    * all. Short texts collapse to one whole-text shingle (see
    * [[shingles]]), so exact short-answer strings still match. */
  def contaminationReport(docs: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      n: Int = 8, broadcastBench: Boolean = true): org.apache.spark.sql.DataFrame = {
    // per-doc totals are a NARROW size() — no aggregation over the
    // exploded frame; only grams that actually hit the bench set (a tiny
    // fraction of a clean corpus) reach the shared-count shuffle
    // null text gets an explicit empty gram set, NOT a null that would
    // propagate into a null contamination (a pipeline thresholding on
    // `contamination > x` would silently keep such docs): every input
    // row comes out with n_grams = 0 and contamination = 0.0
    val withGrams = docs.select(col(idCol).as("id"),
      when(col(textCol).isNotNull, distinctShingles(col(textCol), n))
        .otherwise(array().cast("array<string>")).as("_gs"))
      .withColumn("n_grams", size(col("_gs")).cast("long"))
    // outer + null-filter on both gram explodes: the inferred non-outer
    // filter would re-run the distinct-shingle kernel once more per row
    val dGrams = withGrams.select(col("id"), explode_outer(col("_gs")).as("_g"))
      .filter(col("_g").isNotNull)
      .select(col("id"), md5(col("_g")).as("_gh"))
    val bGrams = bench.select(
        explode_outer(distinctShingles(col(textCol), n)).as("_g"))
      .filter(col("_g").isNotNull)
      .select(md5(col("_g")).as("_gh")).distinct()
    val bSide = if (broadcastBench) broadcast(bGrams) else bGrams
    val shared = dGrams.join(bSide, "_gh")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    withGrams.select(col("id"), col("n_grams"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_grams"),
        when(col("n_grams") > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("contamination"))
  }

  /** 64-bit SimHash over whitespace tokens (multiplicity-weighted): bit b
    * of each token's md5 votes +1/-1; sign of the vote sum sets result
    * bit b (MSB-first). Engine-portable: same md5, same bit order.
    * One codegen node ([[graft.expr.Simhash64]]) — bit-identical to the
    * udf-over-tokens form it replaces, null text -> null. */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.Simhash64(
        org.apache.spark.sql.graft.Bridge.expression(text.cast("string"))))

  def simhash64Scala(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    val digest = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      val hex = digest.digest(t.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
      var b = 0
      while (b < 64) {
        val digit = Character.digit(hex.charAt(b / 4), 16)
        val bit = (digit >> (3 - b % 4)) & 1
        votes(b) += (if (bit == 1) 1 else -1)
        b += 1
      }
    }
    var acc = 0L
    var b = 0
    while (b < 64) { acc = (acc << 1) | (if (votes(b) >= 0) 1L else 0L); b += 1 }
    acc
  }
}
