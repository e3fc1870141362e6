package graft

import graft.core.{Metric, ScoreMode}
import graft.expr.VectorKernels

/** Scalar-kernel semantics vs independent oracles (reference test layer 1:
  * distances.rs #[cfg(test)] / FIXTURES §8). */
class KernelSpec extends SparkSpec {

  private def d(code: Int, a: Array[Float], b: Array[Float]): Double =
    VectorKernels.distance(code, a, b)

  test("basic metric values on axis vectors") {
    val x = Array(1.0f, 0.0f); val y = Array(0.0f, 1.0f)
    assert(d(0, x, y) === math.sqrt(2.0)) // l2
    assert(d(1, x, y) === 2.0)            // l2_squared
    assert(d(3, x, y) === 0.0)            // inner_product
    assert(d(4, x, y) === -0.0 || d(4, x, y) === 0.0)
    assert(d(5, x, y) === 2.0)            // manhattan
    assert(d(6, x, y) === 1.0)            // chebyshev
  }

  test("truthy hamming / jaccard semantics (distances.rs:319-347)") {
    val a = Array(1.0f, 0.0f, 2.0f, 0.0f)
    val b = Array(0.0f, 0.0f, 5.0f, 1.0f)
    // truthiness differs at idx 0 and 3
    assert(d(7, a, b) === 2.0)
    // union = {0,2,3}, intersection = {2} -> 1 - 1/3
    assert(math.abs(d(8, a, b) - (1.0 - 1.0 / 3.0)) < 1e-15)
    // empty union -> 0.0
    assert(d(8, Array(0f, 0f), Array(0f, 0f)) === 0.0)
  }

  test("true cosine: zero vector -> 0, clamp to [-1,1]") {
    assert(d(9, Array(0f, 0f), Array(1f, 0f)) === 0.0)
    assert(d(9, Array(1f, 0f), Array(-1f, 0f)) === -1.0)
    val c = d(9, Array(1f, 1f), Array(1f, 1f))
    assert(c <= 1.0 && c > 1.0 - 1e-14) // clamped at 1, fp rounding below
  }

  test("f64 overflow recovery: cancelling dot of f32::MAX terms is 0") {
    val big = Float.MaxValue
    assert(d(3, Array(big, big), Array(2f, -2f)) === 0.0)
    // l2 of 1e20 difference is representable in double
    assert(d(0, Array(1e20f), Array(0f)) === 1.0000000200408773e20)
  }

  test("sign packing and bit63 (distances.rs:413-423)") {
    val v = Array.fill(64)(-1.0f); v(63) = 1.0f
    assert(VectorKernels.packSignBits(v).toSeq === Seq(Long.MinValue))
    val v2 = Array.fill(64)(1.0f)
    assert(VectorKernels.packSignBits(v2).toSeq === Seq(-1L))
    // zero counts as non-negative
    assert(VectorKernels.packSignBits(Array(0.0f)).toSeq === Seq(1L))
  }

  test("packed hamming/jaccard word-boundary masking (FIXTURES §8)") {
    for (dims <- Seq(1, 63, 64, 65, 127, 128, 129)) {
      val a = Array.fill(dims)(1.0f)
      val b = Array.fill(dims)(-1.0f)
      val pa = VectorKernels.packSignBits(a)
      val pb = VectorKernels.packSignBits(b)
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val ham = VectorKernels.packedHamming(
        new GenericArrayData(pa), new GenericArrayData(pb), dims)
      assert(ham === dims.toDouble, s"dims=$dims")
      // flip padding bits of the last word: must not change the result
      if (dims % 64 != 0) {
        val pbPadded = pb.clone()
        pbPadded(pb.length - 1) |= ~((1L << (dims % 64)) - 1)
        val ham2 = VectorKernels.packedHamming(
          new GenericArrayData(pa), new GenericArrayData(pbPadded), dims)
        assert(ham2 === dims.toDouble, s"padding leak at dims=$dims")
      }
    }
  }

  test("asymmetric binary dot: sign-weighted query sum, word boundaries, exactness") {
    // hand-checked: bits of (+,-,+) weight q as (+1,-1,+1)
    val bits = VectorKernels.packSignBits(Array(1.0f, -2.0f, 3.0f))
    assert(VectorKernels.packedAsymmetricDot(bits, Array(10f, 20f, 30f)) === 10.0 - 20.0 + 30.0)
    // equals the naive sum across word boundaries (dims 1..129),
    // including non-multiple-of-64 tails
    for (dims <- Seq(1, 63, 64, 65, 127, 128, 129)) {
      val v = Array.tabulate(dims)(i => (if (i % 3 == 0) -1 else 1) * (i + 1).toFloat)
      val q = Array.tabulate(dims)(i => math.sin(i * 0.37).toFloat)
      val expected = v.indices.foldLeft(0.0)((acc, i) =>
        acc + (if (v(i) >= 0) q(i).toDouble else -q(i).toDouble))
      val got = VectorKernels.packedAsymmetricDot(VectorKernels.packSignBits(v), q)
      assert(got === expected, s"dims=$dims")
    }
    // wrong word count fails loudly, not silently
    intercept[IllegalArgumentException] {
      VectorKernels.packedAsymmetricDot(Array(0L), new Array[Float](65))
    }
  }

  test("normalize: zero/constant vectors stay zero (distances.rs:350-410)") {
    assert(VectorKernels.normalize(1, Array(0f, 0f)).toSeq === Seq(0f, 0f))
    assert(VectorKernels.normalize(2, Array(5f, 5f, 5f)).toSeq === Seq(0f, 0f, 0f))
    assert(VectorKernels.normalize(3, Array(5f, 5f)).toSeq === Seq(0f, 0f))
    val n = VectorKernels.normalize(1, Array(3f, 4f))
    assert(n.toSeq === Seq(0.6f, 0.8f))
  }

  test("rank/similarity/result-value semantics (SURVEY §2.8)") {
    assert(Metric.rankValue(Metric.Cosine, 0.9) === 1.0 - 0.9)
    assert(Metric.rankValue(Metric.InnerProduct, 2.5) === -2.5)
    assert(Metric.rankValue(Metric.L2, 1.5) === 1.5)
    assert(Metric.similarityValue(Metric.L2, 3.0) === 0.25)
    assert(Metric.similarityValue(Metric.NegativeInnerProduct, 2.0) === -2.0)
    // negative_inner_product special case: same pair in BOTH modes
    assert(ScoreMode.resultValues(Metric.NegativeInnerProduct, 2.0, ScoreMode.Raw) === ((-2.0, Some(2.0))))
    assert(ScoreMode.resultValues(Metric.NegativeInnerProduct, 2.0, ScoreMode.Similarity) === ((-2.0, Some(2.0))))
    assert(ScoreMode.resultValues(Metric.Cosine, 0.5, ScoreMode.Similarity) === ((0.75, Some(0.5))))
    assert(ScoreMode.resultValues(Metric.L2, 3.0, ScoreMode.Raw) === ((-3.0, Some(3.0))))
    assert(ScoreMode.resultValues(Metric.L2, 3.0, ScoreMode.Similarity) === ((0.25, Some(3.0))))
  }

  test("metric aliases (collection.ex:1300-1304)") {
    assert(Metric.fromName("euclidean") === Metric.L2)
    assert(Metric.fromName("dot") === Metric.InnerProduct)
    assert(Metric.fromName("dot_product") === Metric.InnerProduct)
    assert(Metric.all.map(_.code) === (0 to 8))
  }

  test("fused hashing-TF kernel == builtin column composition, mixed case and unicode") {
    import org.apache.spark.sql.functions._
    import graft.text.TextAnalysis
    val texts = Seq(
      "The Quick BROWN fox jumps Over the lazy DOG the the",
      "  leading and trailing   spaces  ",
      "one", "", "   ",
      "MiXeD CaSe ÄÖÜ Émigré ÉMIGRÉ émigré",
      "repeat repeat repeat 12345 !?")
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }
      .toDF("id", "text")
    for (dims <- Seq(1, 7, 64, 257)) {
      val rows = df.select(col("id"),
        TextAnalysis.hashingTfVector(col("text"), dims).as("fused"),
        graft.text.TextAnalysis.hashingTfVectorReference(col("text"), dims).as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Float](1) === r.getSeq[Float](2),
          s"dims=$dims id=${r.getString(0)}")
      }
    }
  }

  test("fused gopher keep == builtin conjunction (edge cases + gate corpus)") {
    import org.apache.spark.sql.functions._
    import graft.text.TextAnalysis
    import spark.implicits._
    val edge = Seq(
      "", "   ", "\t\n", "one",
      "- bullet\n- bullet\n- bullet\nprose line here",
      "trailing ellipsis line...\nanother…\nplain",
      "dup line\ndup line\ndup line\nother",
      "the the the the the the the the the the",        // top-token heavy
      "Wort " * 30 + "### ### ###",                     // symbol tokens
      "ÄÖÜ Émigré ÉMIGRÉ émigré " * 10,                 // unicode lower
      "a b c d e f g h i j k l m n o p q r s t u v",    // short words
      "longwordlongwordlongword " * 25,                 // long words
      ("valid prose with sensible words here okay " * 5) + "\nline\nline")
    val dfE = edge.zipWithIndex.map { case (t, i) => (i.toString, t) }
      .toDF("id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
      .union(dfE)
    for (minW <- Seq(0, 5, 20)) {
      val rows = docs.select(col("id"),
        TextAnalysis.gopherKeep(col("text"), minWords = minW).as("fused"),
        TextAnalysis.gopherKeepReference(col("text"), minWords = minW).as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getBoolean(1) === r.getBoolean(2), s"id=${r.getString(0)} minW=$minW")
      }
    }
    // null text: both forms are null -> filter drops the row
    val nulls = Seq(("n1", null: String)).toDF("id", "text")
    assert(nulls.filter(TextAnalysis.gopherKeep(col("text"), 0)).count() === 0)
    assert(nulls.filter(TextAnalysis.gopherKeepReference(col("text"), 0)).count() === 0)
  }

  test("fused minhash band keys == column-composed pipeline") {
    import org.apache.spark.sql.functions._
    import graft.text.TextAnalysis
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading and trailing   spaces  ",
      "\ttabs\nand newlines inside\t",
      "one",
      "two words",
      "",
      "   ",
      "repeat repeat repeat repeat repeat")
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }
      .toDF("id", "text")
    for ((k, n, b) <- Seq((3, 8, 4), (2, 6, 3), (1, 4, 2))) {
      val cols = df.select(col("id"),
        TextAnalysis.minhashBands(
          TextAnalysis.minhashSignature(col("text"), k, n), b, n / b).as("a"),
        TextAnalysis.minhashBandKeys(col("text"), k, n, b).as("f"))
        .collect()
      cols.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"id=${r.getString(0)} k=$k n=$n b=$b")
      }
    }
  }

  // ---- one-pass text kernels vs the frozen regex forms

  /** Texts that exercise the tokenizer contract: the six Java `\s`
    * characters, U+00A0 and U+2003 (not `\s`), surrogate pairs, empty and
    * all-whitespace strings, leading and trailing runs, letters in both
    * cases (incl. non-ASCII lowercase cases) and the Gopher signal
    * characters; plus word texts with lines, so the later Gopher signals
    * are reached too. */
  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pieces = Array(" ", "  ", " ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0",
      "\u2003", "\uD83D\uDE00", "#", "...", "…", "-", "*", "•", "ÄÖÜ", "é", "\u212A",
      "İ", "the", "The", "THE", "quick", "brown", "fox", "a", "b", "x1")
    val ws = Array(" ", " ", " ", "  ", "\t", " \n", "\n", "\r\n")
    val words = Array("the", "The", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "Émigré", "émigré", "ÉMIGRÉ", "#tag", "wait...", "so…", "-", "•", "\u212Aelvin",
      "kelvin", "data", "spark", "pipeline")
    val edge = Seq("", " ", "   ", "\t", " \t ", "\n\n", "a", " a", "a ", "\ta  b\n",
      "a\t\tb  ", "\u00A0a\u2003b\u00A0", "\uD83D\uDE00 \uD83D\uDE00", " \u000B\f\r ")
    val soup = Seq.fill(n) {
      (0 until rnd.nextInt(40)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    }
    val prose = Seq.fill(n) {
      (0 until 5 + rnd.nextInt(60)).map { _ =>
        words(rnd.nextInt(words.length)) + ws(rnd.nextInt(ws.length))
      }.mkString
    }
    edge ++ soup ++ prose
  }

  private lazy val gateTexts: Seq[String] =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(r => Option(r.getString(0))).toSeq

  test("tokenizer == Pattern(\\s+).split of the space-trimmed text") {
    import graft.expr.TextKernels
    for (t <- randomTexts(11L, 3000) ++ gateTexts)
      assert(TextKernels.tokens(t).toSeq === FrozenTextKernels.tokens(t).toSeq,
        s"tokens of ${t.map(c => f"\\u${c.toInt}%04x").mkString}")
  }

  test("one-pass shingle, minhash and gopher kernels == their frozen regex forms") {
    import graft.expr.TextKernels
    val texts = randomTexts(12L, 1500) ++ gateTexts
    for (t <- texts) {
      for (k <- Seq(1, 2, 3, 5)) {
        assert(TextKernels.shingles(t, k).toSeq === FrozenTextKernels.shingles(t, k).toSeq)
        assert(TextKernels.distinctShingles(t, k).toSeq ===
          FrozenTextKernels.distinctShingles(t, k).toSeq)
      }
      for ((k, n, b) <- Seq((3, 8, 4), (2, 6, 3), (1, 4, 2), (3, 128, 16)))
        assert(TextKernels.minhashBandKeysFast(t, k, n, b).toSeq ===
          FrozenTextKernels.minhashBandKeysFast(t, k, n, b).toSeq, s"k=$k n=$n b=$b")
      for ((lo, hi) <- Seq((0, 100000), (5, 100000), (20, 100000), (0, 30)))
        assert(TextKernels.gopherKeep(t, lo, hi) === FrozenTextKernels.gopherKeep(t, lo, hi),
          s"gopher($lo, $hi) of ${t.take(80)}")
    }
    // the gopher rule must be reached past its word-count bounds, and keep
    // some texts: otherwise the equality above pins only the early exits
    val kept = texts.count(t => FrozenTextKernels.gopherKeep(t, 0, 100000))
    assert(kept > 100 && kept < texts.size, s"$kept of ${texts.size} kept")
  }

  test("ShingleJaccard == size(array_intersect) / size(array_union) of distinct shingles") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expr.TextKernels
    import graft.text.TextAnalysis
    import spark.implicits._
    def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
    // kernel level: unpaired surrogates compare as the '?' UTF-8 writes
    def reference(a: String, b: String, k: Int): Double = {
      val sa = FrozenTextKernels.distinctShingles(a, k).map(UTF8String.fromString).toSet
      val sb = FrozenTextKernels.distinctShingles(b, k).map(UTF8String.fromString).toSet
      sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
    }
    val surrogates = Seq("a\uD800 b c", "a? b c", "\uDC00 x y", "? x y", "x y \uD83D",
      "x y ?", "\uD83D\uDE00 x y", "a\uD800\uD800 b")
    val texts = randomTexts(13L, 60) ++ gateTexts.take(40) ++ surrogates
    for (a <- texts; b <- surrogates ++ texts.take(30); k <- Seq(1, 3))
      assert(bits(TextKernels.shingleJaccard(a, b, k)) === bits(reference(a, b, k)),
        s"k=$k a=${a.take(40)} b=${b.take(40)}")
    // expression level, in the plan, NULL included
    val rows = (texts.take(50) :+ null).flatMap(a => (texts.take(20) :+ null).map(b => (a, b)))
    val df = rows.toDF("a", "b")
    for (k <- Seq(1, 3)) {
      val sa = TextAnalysis.distinctShingles(col("a"), k)
      val sb = TextAnalysis.distinctShingles(col("b"), k)
      val got = df.select(
        TextAnalysis.shingleJaccard(col("a"), col("b"), k).as("fused"),
        (size(array_intersect(sa, sb)).cast("double") /
          size(array_union(sa, sb)).cast("double")).as("formula")).collect()
      assert(got.length === rows.length)
      got.foreach { r =>
        if (r.isNullAt(1)) assert(r.isNullAt(0))
        else assert(bits(r.getDouble(0)) === bits(r.getDouble(1)))
      }
      assert(got.count(_.isNullAt(0)) === 50 + 20 + 1, "a NULL side gives NULL")
    }
  }

  // ---- SIMD lane kernels vs their scalar twins (bit for bit)

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  /** Finite f32 values spanning 1e-30 .. 1e30 in magnitude, both signs,
    * with ~10% exact zeros. */
  private def wideVec(rnd: scala.util.Random, dims: Int): Array[Float] =
    Array.fill(dims) {
      if (rnd.nextInt(10) == 0) 0.0f
      else {
        val mag = math.pow(10.0, rnd.nextDouble() * 60.0 - 30.0).toFloat
        if (rnd.nextBoolean()) mag else -mag
      }
    }

  test("the SIMD probes pass in the test JVM (no silent scalar fallback)") {
    // the batch-scan probe runs the 4-row dot tiles and their one-row tails
    assert(VectorKernels.queryLanes, "query-lane batch scan (row tiles) fell back to scalar")
    assert(graft.ann.ArgminKernel.simdEnabled, "IVF/PQ argmin fell back to scalar")
    val bad = graft.simd.SimdProbe.failure(false)
    assert(bad.exists(_.contains("not bit-equal")))
    val missing = graft.simd.SimdProbe.failure(
      throw new NoClassDefFoundError("jdk/incubator/vector/DoubleVector"))
    assert(missing.exists(_.contains("--add-modules=jdk.incubator.vector")))
    assert(graft.simd.SimdProbe.failure(true).isEmpty)
  }

  test("batch distance kernels equal per-query distance bit for bit (codes 0-9)") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val rnd = new scala.util.Random(20261017L)
    for (dims <- Seq(1, 7, 384); nq <- Seq(1, 3, 16, 17, 67)) {
      val qs = Array.fill(nq)(wideVec(rnd, dims))
      val rows = Array.fill(3)(wideVec(rnd, dims)) :+ new Array[Float](dims)
      for (row <- rows; code <- 0 to 9) {
        val got = VectorKernels.distanceMulti(code, UnsafeArrayData.fromPrimitiveArray(row), qs)
        val packed = VectorKernels.packBf16(row)
        val gotBf = new Array[Double](nq)
        VectorKernels.distanceMultiRows(code, Array(VectorKernels.unpackBf16(packed)), 1,
          qs, 0, gotBf)
        assert(got.length === nq && gotBf.length === nq)
        var q = 0
        while (q < nq) {
          val want = VectorKernels.distance(code, row, qs(q))
          assert(bits(got(q)) === bits(want), s"f32 code=$code dims=$dims nq=$nq q=$q")
          val wantBf = VectorKernels.distanceBf16(code, packed, qs(q))
          assert(bits(gotBf(q)) === bits(wantBf), s"bf16 code=$code dims=$dims nq=$nq q=$q")
          q += 1
        }
      }
    }
    // funnel prefix stage: queries pre-sliced, the stored row read up to the prefix
    val full = wideVec(rnd, 384)
    val pre = Array.fill(17)(wideVec(rnd, 7))
    for (code <- 0 to 9) {
      val got = VectorKernels.distanceMultiPrefix(code,
        UnsafeArrayData.fromPrimitiveArray(full), pre, 7)
      pre.indices.foreach(q => assert(bits(got(q)) ===
        bits(VectorKernels.distance(code, full.take(7), pre(q))), s"prefix code=$code q=$q"))
    }
  }

  test("row-blocked batch kernels equal per-query distance bit for bit (codes 0-4, f32 and bf16)") {
    val rnd = new scala.util.Random(20261018L)
    def check(rows: Array[Array[Float]], qs: Array[Array[Float]], prefix: Int,
        want: (Int, Array[Float], Array[Float]) => Double, what: String): Unit =
      for (code <- 0 to 4) {
        val nq = qs.length
        val out = Array.fill(rows.length * nq)(Double.NaN)
        VectorKernels.distanceMultiRows(code, rows, rows.length, qs, prefix, out)
        for (r <- rows.indices; q <- 0 until nq)
          assert(bits(out(r * nq + q)) === bits(want(code, rows(r), qs(q))),
            s"$what code=$code rows=${rows.length} nq=$nq r=$r q=$q")
      }
    // 1-9 rows cover one tile, its row tails and two tiles; 4m + 1 rows
    // end on a one-row tail after several tiles
    for (dims <- Seq(1, 7, 384); nq <- Seq(1, 3, 16, 17, 33, 67);
         n <- (1 to 9) :+ 17 if dims < 384 || n % 4 == 1) {
      val qs = Array.fill(nq)(wideVec(rnd, dims))
      val rows = Array.tabulate(n)(r => if (r == 2) new Array[Float](dims) else wideVec(rnd, dims))
      check(rows, qs, 0, VectorKernels.distance, s"f32 dims=$dims")
      // bf16: the decoded rows against the packed single-pair kernel
      val packed = rows.map(VectorKernels.packBf16)
      check(packed.map(VectorKernels.unpackBf16), qs, 0,
        (code, row, q) => VectorKernels.distanceBf16(code, VectorKernels.packBf16(row), q),
        s"bf16 dims=$dims")
    }
    // funnel prefix: whole stored rows read up to the prefix, queries pre-sliced
    for (n <- Seq(4, 9, 13)) {
      val rows = Array.fill(n)(wideVec(rnd, 384))
      val pre = Array.fill(37)(wideVec(rnd, 7))
      check(rows, pre, 7, (code, row, q) => VectorKernels.distance(code, row.take(7), q),
        "prefix")
    }
  }

  test("batch distance kernels keep the scalar dimension-mismatch error") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val qs = Array.fill(17)(Array.fill(7)(0.5f))
    val row = Array.fill(5)(0.25f)
    for (code <- Seq(0, 1, 2, 4, 5, 9)) {
      val e = intercept[IllegalArgumentException](
        VectorKernels.distanceMulti(code, UnsafeArrayData.fromPrimitiveArray(row), qs))
      assert(e.getMessage === "dimension mismatch: 5 vs 7", s"code=$code")
      val eb = intercept[IllegalArgumentException](VectorKernels.distanceMultiRows(code,
        Array(VectorKernels.unpackBf16(VectorKernels.packBf16(row))), 1, qs, 0,
        new Array[Double](17)))
      assert(eb.getMessage === "dimension mismatch: 5 vs 7", s"bf16 code=$code")
      // a prefix longer than the row leaves the row whole
      val ep = intercept[IllegalArgumentException](VectorKernels.distanceMultiPrefix(
        code, UnsafeArrayData.fromPrimitiveArray(row), qs, 7))
      assert(ep.getMessage === "dimension mismatch: 5 vs 7", s"prefix code=$code")
      // one short row inside a block of full ones
      val block = Array.fill(9)(Array.fill(7)(0.25f)).updated(6, row)
      val er = intercept[IllegalArgumentException](VectorKernels.distanceMultiRows(
        code, block, block.length, qs, 0, new Array[Double](9 * 17)))
      assert(er.getMessage === "dimension mismatch: 5 vs 7", s"rows code=$code")
    }
  }

  test("candidate-lane argmin equals the scalar nearest-centroid and PQ encode") {
    val rnd = new scala.util.Random(7L)
    for (dims <- Seq(1, 7, 384); k <- Seq(1, 5, 16, 33)) {
      val base = Array.fill(k)(Array.fill(dims)(rnd.nextFloat() * 2 - 1))
      // a repeated centroid pins the first-minimum tie-break
      val cents = if (k > 1) base.updated(k - 1, base(0)) else base
      val prepared = graft.ann.ArgminKernel.cents(cents)
      (0 until 50).foreach { i =>
        val v = if (i == 0) cents(0).clone() else Array.fill(dims)(rnd.nextFloat() * 2 - 1)
        assert(prepared.nearest(v) ===
          graft.ann.IvfIndex.nearestCentroidScalar(v, cents), s"dims=$dims k=$k i=$i")
      }
    }
    val books = Array.fill(4)(Array.fill(16)(Array.fill(6)(rnd.nextFloat() * 2 - 1)))
    (0 until 50).foreach { i =>
      val v = Array.fill(24)(rnd.nextFloat() * 2 - 1)
      assert(graft.ann.ArgminKernel.books(books).encode(v).toSeq ===
        graft.ann.Pq.encodeVecScalar(v, books).toSeq, s"i=$i")
    }
  }
}
