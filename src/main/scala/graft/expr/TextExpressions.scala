package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Fused hashing-trick TF vector of a text column — see
  * [[TextKernels.hashingTf]]: O(tokens + dims) single pass vs the
  * O(tokens * dims) builtin column composition, same bit-exact
  * semantics (md5 bucket = conv(substring(md5(lower(t)),1,8),16,10)
  * % dims). */
case class HashingTf(child: Expression, dims: Int) extends UnaryExpression {

  require(dims > 0, "dims must be positive")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "hashing_tf"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.hashingTfData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.hashingTfData($v, $dims);")

  override protected def withNewChildInternal(c: Expression): HashingTf =
    copy(child = c)
}

/** Fused MinHash LSH band keys of a text column — see
  * [[TextKernels.minhashBandKeys]] for semantics and why this exists as
  * one opaque node (stops optimizer re-expansion of the inlined shingle
  * pipeline; streaming-safe). */
case class MinhashBandKeys(child: Expression, k: Int, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes % bands == 0, "numHashes must be divisible by bands")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minhashBandKeysData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.minhashBandKeysData($v, $k, $numHashes, $bands);")

  override protected def withNewChildInternal(c: Expression): MinhashBandKeys =
    copy(child = c)
}

/** Fast-hash variant of [[MinhashBandKeys]] (MurmurHash3 + SplitMix
  * finalizer, long keys) — see [[TextKernels.minhashBandKeysFast]]. */
case class MinhashBandKeysFast(child: Expression, k: Int, numHashes: Int,
    bands: Int) extends UnaryExpression {

  require(numHashes % bands == 0, "numHashes must be divisible by bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys_fast"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.minhashBandKeysFastData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.minhashBandKeysFastData($v, $k, $numHashes, $bands);")

  override protected def withNewChildInternal(c: Expression): MinhashBandKeysFast =
    copy(child = c)
}

/** 64-bit SimHash of a text column as one codegen node — see
  * [[TextKernels.simhash64]]. Replaces the last udf on a hot text path
  * (the per-token bit loop), keeping the whole simhash-banded dedup
  * scan inside WholeStageCodegen. */
case class Simhash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.simhash64Data(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.simhash64Data($v);")

  override protected def withNewChildInternal(c: Expression): Simhash64 =
    copy(child = c)
}

/** Lowercased whitespace tokens as one codegen node — the fused form
  * of the interpreted transform(split(trim(text)), lower) chain. */
case class LowerTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lower_tokens"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.lowerTokensData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.lowerTokensData($v);")

  override protected def withNewChildInternal(c: Expression): LowerTokens =
    copy(child = c)
}

/** ALL word k-shingles (document order, multiplicity preserved) as one
  * codegen node — same values as the transform(sequence...,
  * slice...concat_ws) HOF chain, which is CodegenFallback and
  * interpreted per GRAM. */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.shinglesData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.shinglesData($v, $k);")

  override protected def withNewChildInternal(c: Expression): Shingles =
    copy(child = c)
}

/** Full n-grams of LOWERCASED tokens as one codegen node (SQL `lower`
  * per token); texts shorter than n tokens yield an empty array. */
case class LowerNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lower_ngrams"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.lowerNgramsData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.lowerNgramsData($v, $n);")

  override protected def withNewChildInternal(c: Expression): LowerNgrams =
    copy(child = c)
}

/** Distinct word k-shingles as one opaque node — same values as
  * array_distinct(transform(sequence..., slice...)) but a fraction of
  * the generated code, and safe to reuse across join branches. */
case class DistinctShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"

  override protected def nullSafeEval(v: Any): Any = {
    val sh = TextKernels.distinctShingles(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString, k)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sh.map(org.apache.spark.unsafe.types.UTF8String.fromString(_))
        .asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.distinctShinglesData($v, $k);")

  override protected def withNewChildInternal(c: Expression): DistinctShingles =
    copy(child = c)
}

/** Jaccard similarity of the distinct word k-shingle sets of two text
  * columns as one codegen node — see [[TextKernels.shingleJaccard]]:
  * bit-identical to `size(array_intersect(sh_a, sh_b)) /
  * size(array_union(sh_a, sh_b))` over [[DistinctShingles]], without
  * materializing either shingle array as a column. A NULL on either side
  * gives NULL. The near-dup verify applies it to candidate pairs only. */
case class ShingleJaccard(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.shingleJaccardData(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.TextKernels.shingleJaccardData($a, $b, $k);")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): ShingleJaccard = copy(left = l, right = r)
}

/** Unicode NFC normalization (java.text.Normalizer, canonical
  * composition): the canonicalization CCNet-family dedup keys apply
  * before hashing, so "café" typed as NFD (e + combining acute) and
  * NFC (precomposed) hash identically. One codegen node; the JDK's
  * Normalizer is the same table DuckDB's nfc_normalize implements, so
  * the transform is oracle-replicable. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.nfcData(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.nfcData($v);")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

/** Deflate compression ratio of the UTF-8 text: compressed bytes /
  * raw bytes (1.0 for empty). The CCNet/Gopher-family gibberish and
  * boilerplate signal — highly repetitive text compresses far below
  * natural prose, random bytes above it. java.util.zip.Deflater at a
  * fixed level with a fresh instance per value is bit-deterministic,
  * so the ratio is a stable feature, not a heuristic that drifts. */
case class CompressionRatio(child: Expression, level: Int)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "compression_ratio"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.compressionRatioData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.compressionRatioData($v, $level);")

  override protected def withNewChildInternal(c: Expression): CompressionRatio =
    copy(child = c)
}

/** Fused Gopher keep rule as one codegen node — see
  * [[TextKernels.gopherKeep]]: the 8-signal builtin-HOF conjunction
  * re-tokenizes the text per signal and every lambda is interpreted
  * per element; this evaluates the whole rule in one pass. Pinned
  * bit-identical to the builtin form by TextKernelSpec and the
  * curation-pipeline and text_gopher_quality oracle rows. */
case class GopherKeep(child: Expression, minWords: Int, maxWords: Int)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "gopher_keep"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.gopherKeepData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], minWords, maxWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.gopherKeepData($v, $minWords, $maxWords);")

  override protected def withNewChildInternal(c: Expression): GopherKeep =
    copy(child = c)
}

/** Trained-BPE encode — [[graft.text.Bpe.encodeText]] as one codegen
  * node (GPT-2-style best-ranked-pair application); the merge table
  * rides as a plan reference object, never an inlined literal. */
case class BpeEncode(child: Expression, model: graft.text.Bpe.Model)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.bpeEncodeData(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeModel", model)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expr.TextKernels.bpeEncodeData($v, $m);")
  }

  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}
