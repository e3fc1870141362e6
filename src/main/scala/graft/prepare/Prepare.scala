package graft.prepare

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.CollectionConfig
import graft.functions.VectorFunctions._

/** Ingest pipeline: turns raw embedding rows into canonical collection
  * rows in ONE narrow projection (no shuffle), mirroring the reference's
  * prepare_embedding (lib/vettore/collection.ex:920-1017):
  *
  *  1. id := id, else value; value := value, else id (both non-empty)
  *  2. vectors := each multi-vector normalized per collection config
  *  3. vector := given vector, else the mean of the *normalized*
  *     `vectors`; then normalized
  *  4. binary_vector := packed sign bits of the prepared vector
  *
  * Duplicate-id detection is an aggregation (exact, distributed) instead
  * of the reference's ETS insert_new compare-and-swap; job-commit
  * atomicity replaces its store/index rollback choreography (SURVEY §3.2).
  */
object Prepare {

  val canonicalSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("value", StringType),
    StructField("vector", ArrayType(FloatType)),
    StructField("vectors", ArrayType(ArrayType(FloatType)), nullable = true),
    StructField("binary_vector", ArrayType(LongType)),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  private def optCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name)
    else lit(null).cast(canonicalSchema(name).dataType)

  /** The preparation projection. Input needs at least one of (id, value)
    * and one of (vector, vectors); missing optional columns are allowed. */
  def prepareEmbeddings(df: DataFrame, config: CollectionConfig): DataFrame = {
    val norm = config.effectiveNormalize
    val rawId = nullif(optCol(df, "id").cast(StringType), lit(""))
    val rawValue = nullif(optCol(df, "value").cast(StringType), lit(""))

    val normalizedVectors = when(optCol(df, "vectors").isNotNull,
      transform(optCol(df, "vectors"),
        v => normalizeVector(norm, v)))

    // mean of normalized multi-vectors (collection.ex:1008-1017): element-
    // wise running sum via zip_with-fold, divided by count — all codegen'd.
    val meanOfVectors = {
      val vs = col("_vectors_prep")
      val zeros = array_repeat(lit(0.0d), lit(config.dimensions))
      val summed = aggregate(vs, zeros, (acc, v) => zip_with(acc, v, (a, b) => a + b))
      transform(summed, x => (x / size(vs)).cast(FloatType))
    }

    // When the input has no `vectors` column, skip the mean-derivation
    // branch entirely: its higher-order functions are CodegenFallback and
    // would knock the whole projection out of whole-stage codegen even
    // though the branch is dead (arrow_cast of a null literal).
    val vectorPrep =
      if (!df.columns.contains("vectors"))
        normalizeVector(norm, col("vector"))
      else
        when(optCol(df, "vector").isNotNull,
          normalizeVector(norm, optCol(df, "vector")))
          .otherwise(normalizeVector(norm, meanOfVectors))

    df.withColumn("_vectors_prep", normalizedVectors)
      .withColumn("_vector_prep", vectorPrep)
      .select(
        coalesce(rawId, rawValue).as("id"),
        coalesce(rawValue, rawId).as("value"),
        col("_vector_prep").as("vector"),
        col("_vectors_prep").as("vectors"),
        packSignBits(col("_vector_prep")).as("binary_vector"),
        optCol(df, "metadata").as("metadata"))
  }

  /** Add the packed-f32 binary layout of the prepared vector
    * (`vector_f32`, 4 bytes/dim): at rest this decodes from parquet as
    * one BYTE_ARRAY per row instead of `dims` repetition-leveled
    * elements — pair with [[graft.search.Search.flatSearchPacked]]. */
  def withPackedVector(df: DataFrame, vectorCol: String = "vector"): DataFrame =
    df.withColumn("vector_f32", packF32(col(vectorCol)))

  /** bf16-packed at-rest layout (2 bytes/dim, RNE rounding): HALF the
    * scan IO of [[withPackedVector]] for ~3 significant decimal digits
    * — the standard embedding-storage trade at 100 TB. Search with
    * [[graft.search.Search.flatSearchBf16]]; results are the exact
    * top-k over the ROUNDED corpus (deterministic, near-identical
    * ranking — PackedVectorSpec pins the top-10 overlap vs f32 exact). */
  def withBf16Vector(df: DataFrame, vectorCol: String = "vector"): DataFrame =
    df.withColumn("vector_bf16", packBf16(col(vectorCol)))

  /** Column name of the packed bf16 `d`-prefix in a funnel layout. */
  def bf16PrefixCol(d: Int): String = s"vector_bf16_p$d"

  /** Matryoshka funnel layout at bf16 width: `vector_bf16` plus one
    * packed 2 B/dim prefix column per non-final stage, so
    * `Search.funnelSearchBf16`'s stage `d` scan reads `d * 2` bytes/row
    * via parquet column pruning (the f32 funnel reads the whole
    * `4 * dims` vector column at every stage). Prefix columns add
    * `2 * sum(prefix dims)` bytes/row at rest — the price of the 8x
    * cheaper first-stage scan; drop `vectorCol` before writing when the
    * layout is bf16-only (the facade's at-rest contract). */
  def withBf16Prefixes(df: DataFrame, stages: Seq[Int], dims: Int,
      vectorCol: String = "vector"): DataFrame =
    stages.filter(_ < dims).distinct.foldLeft(withBf16Vector(df, vectorCol)) {
      (cur, d) => cur.withColumn(bf16PrefixCol(d),
        packBf16(slice(col(vectorCol), 1, d)))
    }

  /** Vector-dimension histogram: (dim, n_rows) over `size(vector)`
    * (null vectors as dim -1) — more than one row means a mixed-dims
    * corpus that will fail ingest validation; the companion scan to
    * [[vectorAudit]]. */
  def dimensionHistogram(df: DataFrame,
      vectorCol: String = "vector"): DataFrame =
    df.groupBy(coalesce(size(col(vectorCol)), lit(-1)).as("dim"))
      .agg(count(lit(1)).as("n_rows"))

  /** One-row embedding-quality audit of a vector column: totals of
    * null / non-finite / zero-norm vectors plus min/avg/max L2 norm
    * over the clean rows — the pre-index sanity report (a zero vector
    * breaks cosine, a NaN poisons every distance it touches, a norm
    * range spanning orders of magnitude says "these were never
    * normalized"). ONE aggregation pass, every term plain arithmetic
    * an oracle replicates. */
  def vectorAudit(df: DataFrame, vectorCol: String = "vector"): DataFrame = {
    val v = col(vectorCol)
    val bad = exists(v, x => isnan(x.cast("double")) ||
      abs(x.cast("double")) === lit(Double.PositiveInfinity))
    val norm = sqrt(aggregate(v, lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val clean = v.isNotNull && !bad
    val cleanNorm = when(clean, norm)
    df.agg(count(lit(1)).as("n_rows"),
      count(when(v.isNull, 1)).as("n_null"),
      count(when(v.isNotNull && bad, 1)).as("n_nonfinite"),
      count(when(clean && norm === 0.0, 1)).as("n_zero"),
      min(cleanNorm).as("min_norm"),
      avg(cleanNorm).as("avg_norm"),
      max(cleanNorm).as("max_norm"))
  }

  /** Rows that violate collection invariants (dimension mismatch, missing
    * id, non-finite values). Empty result == collection valid; the same
    * scan the reference runs on snapshot load (collection.ex:1184-1203). */
  def invalidRows(df: DataFrame, config: CollectionConfig): DataFrame = {
    // a prepared row must carry a vector: the reference rejects embeddings
    // with neither `vector` nor `vectors` at insert (collection.ex:994-1017)
    val noVector = col("vector").isNull
    val badDim = size(col("vector")) =!= config.dimensions
    val nonFinite = exists(col("vector"), x => isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)
    val badId = col("id").isNull || col("id") === ""
    // tolerate a frame without the optional multi-vector column — the
    // validator also runs over frames produced by third-party stores
    val multi = optCol(df, "vectors")
    val badMulti = multi.isNotNull &&
      exists(multi, v => size(v) =!= config.dimensions)
    df.filter(noVector || badDim || nonFinite || badId || badMulti)
  }

  /** Duplicate-id check for a batch append: ids of `incoming` that already
    * exist in `existing` (left-semi join — broadcastable when the batch is
    * small) plus ids duplicated inside the batch itself. */
  def duplicateIds(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val inBatch = incoming.groupBy("id").count().filter(col("count") > 1).select("id")
    val inStore = incoming.select("id").join(existing.select("id"), Seq("id"), "left_semi")
    inBatch.union(inStore).distinct()
  }

  /** Batch append with all-or-nothing semantics: fails fast when any
    * duplicate id exists (ets.ex:100-111), otherwise unions the prepared
    * batch onto the collection. */
  def putMany(existing: DataFrame, incoming: DataFrame, config: CollectionConfig): DataFrame = {
    val prepared = prepareEmbeddings(incoming, config)
    // reject the whole batch on any invalid row, like the reference's
    // prepare_embedding validation (dimension / finiteness / missing
    // vector, collection.ex:1077-1095): an accepted bad row would either
    // poison every later search (NULL rank) or throw mid-scan (dim
    // mismatch inside the distance kernel).
    val bad = invalidRows(prepared, config).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"invalid embedding in batch (id=${bad.head.getAs[Any]("id")}): " +
          "missing/wrong-dimension/non-finite vector or empty id")
    val dups = duplicateIds(existing, prepared).limit(1).collect()
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"duplicate id: ${dups.head.getString(0)}")
    existing.unionByName(prepared, allowMissingColumns = true)
  }

  /** Copy-on-write delete: the collection minus the given ids. */
  def deleteIds(existing: DataFrame, ids: Seq[String]): DataFrame =
    existing.filter(!col("id").isin(ids: _*))

  /** Point lookup. */
  def get(existing: DataFrame, id: String): DataFrame =
    existing.filter(col("id") === id)
}
