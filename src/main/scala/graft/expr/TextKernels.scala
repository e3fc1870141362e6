package graft.expr

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Fused text kernels: tokenize, shingle, hash and score a text in ONE
  * call per row, behind the opaque expression nodes of
  * [[graft.expr.TextExpressions]].
  *
  * TOKENIZER CONTRACT. Every kernel here reads the same tokens, the ones
  * `Pattern.compile("\\s+").split(t, -1)` returns for `t` = the text with
  * leading and trailing SPACES removed, which the column-composed
  * pipelines in [[graft.text.TextAnalysis]] and the DuckDB oracles
  * mirror:
  *  - trim removes SPACES only (Spark `trim` / DuckDB `trim` semantics,
  *    NOT Java String.trim which also strips \t\n),
  *  - tokens are separated by runs of Java `\s`, which is exactly
  *    `[ \t\n\x0B\f\r]` (no Unicode spaces: U+00A0 and U+2003 are word
  *    characters),
  *  - a leading whitespace run yields an empty first token and a
  *    trailing run an empty last token (the -1 limit), and `""` (or an
  *    all-space text) is one empty token.
  * [[tokenBounds]] computes those tokens as (start, end) offsets with a
  * character scan, no regex and no substring; kernels that need token
  * strings cut them from the bounds, and the shingle hashers read the
  * characters in place.
  *
  * MinHash (md5 spec path, [[minhashBandKeys]]):
  *  - shingle i = tokens[i, i+k) space-joined, i in [0, max(n-k, 0)],
  *  - signature component j = min md5 hex of "j:" + shingle over the
  *    DISTINCT shingles,
  *  - band key b = md5 of "b:" + the band's components joined by '|'.
  *
  * The column pipeline inlines the shingle subtree numHashes x bands
  * times, which forced `localCheckpoint()` lineage barriers to stop the
  * optimizer re-expanding it into every join branch (minutes of planning
  * on a 90-doc corpus). Each kernel is a single opaque expression node:
  * nothing to re-expand, no barrier needed, usable in streaming plans
  * where checkpoint barriers are impossible.
  *
  * NULL-ELEMENT INVARIANT: every array-returning fused kernel here (and
  * the LSH/DSIR band kernels) returns arrays whose ELEMENTS are never
  * null — empty arrays yes, null entries no. The r15 explode_outer
  * conversions rest on it: `explode_outer(kernel(..)) ... WHERE col IS
  * NOT NULL` is row-identical to `explode(kernel(..))` only because the
  * sole null the filter removes is the one explode_outer fabricates for
  * an empty/null array, never a real element.
  */
object TextKernels {

  private val HexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(md: java.security.MessageDigest, s: String): String =
    hex(md.digest(s.getBytes("UTF-8")))

  /** Java `\s`: space, \t, \n, \x0B, \f, \r. */
  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Token bounds of `s` under the tokenizer contract (see the header):
    * token t is `s.substring(b(2t), b(2t + 1))` for t < b.length / 2,
    * the same strings, in the same order, as the regex split of the
    * space-trimmed `s`. Two character scans (count, then fill), so the
    * array is allocated once at its exact size. */
  private[graft] def tokenBounds(s: String): Array[Int] = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    var runs = 0
    var i = from
    while (i < to) {
      if (isSpace(s.charAt(i))) {
        runs += 1
        i += 1
        while (i < to && isSpace(s.charAt(i))) i += 1
      } else i += 1
    }
    val b = new Array[Int](2 * (runs + 1))
    var t = 0
    var start = from
    i = from
    while (i < to) {
      if (isSpace(s.charAt(i))) {
        b(2 * t) = start
        b(2 * t + 1) = i
        t += 1
        i += 1
        while (i < to && isSpace(s.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    b(2 * t) = start
    b(2 * t + 1) = to
    b
  }

  /** The token strings of `s` (see [[tokenBounds]]). */
  private[graft] def tokens(s: String): Array[String] = {
    val b = tokenBounds(s)
    Array.tabulate(b.length / 2)(t => s.substring(b(2 * t), b(2 * t + 1)))
  }

  /** Shingle of tokens [from, until) of `s`, space-joined, built in `sb`. */
  private def shingle(s: String, b: Array[Int], from: Int, until: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = from
    while (j < until) {
      if (j > from) sb.append(' ')
      sb.append(s, b(2 * j), b(2 * j + 1))
      j += 1
    }
    sb.toString
  }

  /** ALL word k-shingles in document order (multiplicity preserved) —
    * the fused kernel of the transform/sequence/slice/concat_ws HOF
    * chain (each of those is CodegenFallback, interpreted once PER
    * GRAM; one kernel call per row replaces the whole chain — the DSIR
    * lesson). Short texts collapse to one whole-text shingle, matching
    * `sequence(0, greatest(size - k, 0))`. */
  def shingles(text: String, k: Int): Array[String] = {
    val b = tokenBounds(text)
    val nt = b.length / 2
    val n = math.max(nt - k, 0)
    val out = new Array[String](n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n) {
      out(i) = shingle(text, b, i, math.min(i + k, nt), sb)
      i += 1
    }
    out
  }

  def shinglesData(text: UTF8String, k: Int): ArrayData = {
    val sh = shingles(text.toString, k)
    new GenericArrayData(sh.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** Full n-grams of LOWERCASED tokens (SQL `lower` semantics per
    * token via UTF8String.toLowerCase); documents shorter than `n`
    * tokens yield none — topNgrams' gram stage as one kernel call. */
  def lowerNgramsData(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text.toString)
    if (toks.length < n)
      return new GenericArrayData(Array.empty[Any])
    val low = new Array[String](toks.length)
    var i = 0
    while (i < toks.length) {
      low(i) = UTF8String.fromString(toks(i)).toLowerCase.toString
      i += 1
    }
    val out = new Array[Any](toks.length - n + 1)
    i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(low(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over whitespace tokens as one kernel call — the
    * fused form of the per-token udf loop in
    * [[graft.text.TextAnalysis.simhash64Scala]] (same tokens, same md5
    * first-8-bytes MSB-first bit votes, votes >= 0 set the bit).
    * Bit-identical to the udf it replaces, so the DuckDB simhash oracles
    * stay hash-green. */
  def simhash64(text: String): Long = {
    val toks = tokens(text)
    val votes = new Array[Int](64)
    val digest = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < toks.length) {
      val d = digest.digest(toks(t).getBytes("UTF-8"))
      var b = 0
      while (b < 64) {
        // bit b (MSB-first over the first 8 digest bytes) votes +1/-1
        if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) votes(b) += 1
        else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) { acc = (acc << 1) | (if (votes(b) >= 0) 1L else 0L); b += 1 }
    acc
  }

  def simhash64Data(text: UTF8String): Long = simhash64(text.toString)

  /** Lowercased whitespace tokens as one kernel call — the fused form
    * of `transform(tokens(text), t => lower(t))` (CodegenFallback,
    * interpreted per TOKEN). Same tokens, SQL
    * `lower` per token via UTF8String.toLowerCase. */
  def lowerTokensData(text: UTF8String): ArrayData = {
    val toks = tokens(text.toString)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = UTF8String.fromString(toks(i)).toLowerCase
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word k-shingles of a text (insertion order, like
    * array_distinct over the shingle transform). */
  def distinctShingles(text: String, k: Int): Array[String] = {
    val b = tokenBounds(text)
    val nt = b.length / 2
    val n = math.max(nt - k, 0)
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n) {
      seen.add(shingle(text, b, i, math.min(i + k, nt), sb))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Jaccard similarity of the distinct word k-shingle sets of two
    * texts: |A ∩ B| / |A ∪ B|, with |A ∪ B| = |A| + |B| - |A ∩ B| and
    * the two integers divided as doubles. Each side is the set of the
    * `UTF8String.fromString` images of [[distinctShingles]], compared by
    * UTF-8 byte equality as `array_intersect` and `array_union` compare
    * them, so the value is bit-identical to
    * `size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))`.
    * Every text has at least one shingle, so the denominator is never 0. */
  def shingleJaccard(a: String, b: String, k: Int): Double = {
    val sa = utf8Shingles(a, k)
    val sb = utf8Shingles(b, k)
    val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
    var inter = 0
    val it = small.iterator()
    while (it.hasNext) if (large.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  private def utf8Shingles(text: String, k: Int): java.util.HashSet[UTF8String] = {
    val sh = distinctShingles(text, k)
    val set = new java.util.HashSet[UTF8String](2 * sh.length)
    sh.foreach(s => set.add(UTF8String.fromString(s)))
    set
  }

  /** UTF8String adapter for codegen. */
  def shingleJaccardData(a: UTF8String, b: UTF8String, k: Int): Double =
    shingleJaccard(a.toString, b.toString, k)

  /** Hashing-trick TF vector: lowercased whitespace tokens hash to
    * `dims` buckets via the first 4 md5 bytes as an unsigned int (the
    * exact value of `conv(substring(md5(t), 1, 8), 16, 10) % dims`,
    * which the SQL oracles replicate); vector[b] = token count in
    * bucket b as f32. One pass over tokens + one output array —
    * O(tokens + dims) — where the builtin column composition
    * (transform over sequence(0, dims-1) with a filter per bucket) is
    * O(tokens * dims) and capped dims in practice. Lowercasing goes
    * through UTF8String.toLowerCase, bit-identical to the `lower()`
    * builtin on any input. */
  def hashingTf(text: UTF8String, dims: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = tokens(text.toString)
    val out = new Array[Float](dims)
    var i = 0
    while (i < toks.length) {
      val t = UTF8String.fromString(toks(i)).toLowerCase
      val d = md.digest(t.getBytes)
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      out((v % dims).toInt) += 1.0f
      md.reset()
      i += 1
    }
    out
  }

  def hashingTfData(text: UTF8String, dims: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(hashingTf(text, dims))

  /** MinHash signature over the distinct shingles: component j = min
    * md5("j:" + shingle).
    *
    * The digest STREAM is unchanged ("j:" bytes then shingle bytes =
    * UTF-8 of the concatenation), but each shingle is encoded once and
    * fed to all components, minimums compare raw 16-byte digests
    * (unsigned-lex ≡ hex-string order, both are nibble-monotonic), and
    * only the numHashes winners get hex-encoded — the md5("j:"||shingle)
    * DuckDB oracle replicates this bit-for-bit. Measured ~2.4x over the
    * string-per-(j,shingle) version on the gate's 100k-doc pipeline. */
  def minhashSignature(text: String, k: Int, numHashes: Int): Array[String] = {
    val sh = distinctShingles(text, k)
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(numHashes)(j => (j.toString + ":").getBytes("UTF-8"))
    val best = new Array[Array[Byte]](numHashes)
    val buf = new Array[Byte](16)
    var s = 0
    while (s < sh.length) {
      val body = sh(s).getBytes("UTF-8")
      var j = 0
      while (j < numHashes) {
        md.update(prefixes(j))
        md.update(body)
        md.digest(buf, 0, 16) // fills buf and resets md
        if (best(j) == null ||
            java.util.Arrays.compareUnsigned(buf, best(j)) < 0)
          best(j) = buf.clone()
        j += 1
      }
      s += 1
    }
    val sig = new Array[String](numHashes)
    var j = 0
    while (j < numHashes) {
      sig(j) = if (best(j) == null) null else hex(best(j))
      j += 1
    }
    sig
  }

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** LSH band keys of the signature: md5("b:" + rows joined by '|'). */
  def minhashBandKeys(text: String, k: Int, numHashes: Int, bands: Int): Array[String] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sig = minhashSignature(text, k, numHashes)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[String](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(b.toString).append(':')
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append('|')
        sb.append(sig(b * rows + r))
        r += 1
      }
      out(b) = md5Hex(md, sb.toString)
      b += 1
    }
    out
  }

  /** FAST MinHash band keys: MurmurHash3 (scala stdlib) + a SplitMix
    * finalizer instead of md5 — the production operating point. Candidates
    * still get EXACT-Jaccard verification downstream, so hash quality only
    * affects recall, never pair correctness. NOT oracle-replicable (DuckDB
    * has no MurmurHash3), which is why the md5 path remains the gate spec.
    *
    * Component j is the minimum over the shingles of
    * `MurmurHash3.stringHash(shingle, j * 0x9E3779B9 + 1)`, computed in
    * one pass per shingle: the shingle's characters are copied once from
    * the token bounds into a scratch buffer (no shingle `String`), and
    * each character pair feeds `MurmurHash3.mix` of all numHashes seed
    * states — the exact steps `stringHash` takes per seed (pairs
    * `(c0 << 16) + c1`, `mixLast` of an odd last character, then
    * `finalizeHash` with the length). No distinct set either: the minimum
    * over the shingle multiset equals the minimum over its set. */
  def minhashBandKeysFast(text: String, k: Int, numHashes: Int,
      bands: Int): Array[Long] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val b = tokenBounds(text)
    val nt = b.length / 2
    val n = math.max(nt - k, 0)
    val sig = Array.fill(numHashes)(Int.MaxValue)
    val h = new Array[Int](numHashes)
    var buf = new Array[Char](64)
    var i = 0
    while (i <= n) {
      // the shingle's characters: tokens [i, end) joined by single spaces
      val end = math.min(i + k, nt)
      var len = 0
      var t = i
      while (t < end) {
        val from = b(2 * t)
        val to = b(2 * t + 1)
        val need = len + (to - from) + 1
        if (need > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(need, 2 * buf.length))
        if (t > i) { buf(len) = ' '; len += 1 }
        text.getChars(from, to, buf, len)
        len += to - from
        t += 1
      }
      var j = 0
      while (j < numHashes) { h(j) = j * 0x9E3779B9 + 1; j += 1 }
      var p = 0
      while (p + 1 < len) {
        val data = (buf(p) << 16) + buf(p + 1)
        j = 0
        while (j < numHashes) { h(j) = MurmurHash3.mix(h(j), data); j += 1 }
        p += 2
      }
      j = 0
      while (j < numHashes) {
        var hj = h(j)
        if (p < len) hj = MurmurHash3.mixLast(hj, buf(p))
        hj = MurmurHash3.finalizeHash(hj, len)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var bd = 0
    while (bd < bands) {
      var acc = 1125899906842597L * (bd + 1)
      var r = 0
      while (r < rows) { acc = acc * 31L + sig(bd * rows + r); r += 1 }
      var z = acc + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      out(bd) = z ^ (z >>> 31)
      bd += 1
    }
    out
  }

  /** UTF8String/ArrayData adapter for codegen. */
  def minhashBandKeysFastData(text: UTF8String, k: Int, numHashes: Int,
      bands: Int): ArrayData =
    new GenericArrayData(minhashBandKeysFast(text.toString, k, numHashes, bands))

  /** UTF8String/ArrayData adapter for codegen. */
  def minhashBandKeysData(text: UTF8String, k: Int, numHashes: Int,
      bands: Int): ArrayData = {
    val keys = minhashBandKeys(text.toString, k, numHashes, bands)
    new GenericArrayData(keys.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** UTF8String/ArrayData adapter for codegen. */
  def distinctShinglesData(text: UTF8String, k: Int): ArrayData = {
    val sh = distinctShingles(text.toString, k)
    new GenericArrayData(sh.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** Trained-BPE tokens of a text — [[graft.text.Bpe.encodeText]]
    * bridged to the expression layer. */
  def bpeEncodeData(text: UTF8String, model: graft.text.Bpe.Model): ArrayData =
    new GenericArrayData(graft.text.Bpe.encodeText(text.toString, model)
      .map(UTF8String.fromString): Array[Any])

  /** Unicode NFC (canonical composition) of the text. */
  def nfcData(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    val n = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    if (n eq s) text
    else org.apache.spark.unsafe.types.UTF8String.fromString(n)
  }

  /** Deflate-compressed size over raw size of the UTF-8 bytes; 1.0 for
    * empty input. Fresh Deflater per call (no shared state), fixed
    * level, default strategy — deterministic across JVMs. */
  def compressionRatioData(
      text: org.apache.spark.unsafe.types.UTF8String, level: Int): Double = {
    val raw = text.getBytes
    if (raw.isEmpty) return 1.0
    val d = new java.util.zip.Deflater(level, false)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / raw.length.toDouble
    } finally d.end()
  }

  /** Fused Gopher keep rule — ONE pass over the token bounds + one over
    * lines, bit-identical to the builtin-HOF conjunction it replaces
    * ([[graft.text.TextAnalysis.gopherKeepReference]]; KernelSpec pins
    * equality on the gate corpus and the edge cases). The HOF form
    * re-tokenizes the text once per signal (8x) and every
    * filter/aggregate/array_sort lambda is CodegenFallback, interpreted
    * per ELEMENT; this kernel is O(tokens + lines) with one hash count
    * for the top-token multiplicity instead of an O(n log n)
    * interpreted sort. Signal arithmetic mirrors the builtins exactly:
    * Spark `trim` strips SPACES only, `split` keeps leading empties
    * (limit -1), `length` counts code points, ratios are
    * when(den==0, 0.0) otherwise num.toDouble/den.toDouble, every
    * bound is inclusive. */
  def gopherKeep(text: String, minWords: Int, maxWords: Int): Boolean = {
    val b = tokenBounds(text)
    val n = b.length / 2
    // (n >= minWords) && (n <= maxWords) && ... — a false word-count
    // bound makes the whole conjunction false, so later signals never
    // matter (they are pure; short-circuit is value-identical)
    if (n < minWords || n > maxWords) return false
    var sumLen = 0L
    var symbol = 0
    var alpha = 0
    var i = 0
    while (i < n) {
      val from = b(2 * i)
      val to = b(2 * i + 1)
      sumLen += text.codePointCount(from, to)
      // symbol word: contains '#', "..." or '…'; alpha word: an ASCII letter
      var hasSymbol = false
      var hasAlpha = false
      var dots = 0
      var j = from
      while (j < to) {
        val c = text.charAt(j)
        if (c == '.') { dots += 1; if (dots >= 3) hasSymbol = true }
        else {
          dots = 0
          if (c == '#' || c == '…') hasSymbol = true
          else if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
        }
        j += 1
      }
      if (hasSymbol) symbol += 1
      if (hasAlpha) alpha += 1
      i += 1
    }
    def ratio(num: Long, den: Long): Double =
      if (den == 0) 0.0 else num.toDouble / den.toDouble
    val mwl = ratio(sumLen, n)
    if (!(mwl >= 3.0 && mwl <= 10.0)) return false
    if (!(ratio(symbol, n) <= 0.1)) return false
    // non-blank lines, space-trimmed (the lines() builtin chain: split on
    // '\n' keeping empties, trim spaces only)
    var nLines = 0
    var bullet = 0
    var ellipsis = 0
    val distinct = new java.util.HashSet[String]()
    var start = 0
    while (start <= text.length) {
      var end = text.indexOf('\n', start)
      if (end < 0) end = text.length
      var from = start
      var to = end
      while (from < to && text.charAt(from) == ' ') from += 1
      while (to > from && text.charAt(to - 1) == ' ') to -= 1
      if (from < to) {
        nLines += 1
        val first = text.charAt(from)
        if (first == '-' || first == '*' || first == '•') bullet += 1
        if (text.charAt(to - 1) == '…' ||
            (to - from >= 3 && text.startsWith("...", to - 3))) ellipsis += 1
        distinct.add(text.substring(from, to))
      }
      start = end + 1
    }
    if (!(ratio(bullet, nLines) <= 0.9)) return false
    if (!(ratio(ellipsis, nLines) <= 0.3)) return false
    if (!(ratio(alpha, n) >= 0.8)) return false
    val dupFrac =
      if (nLines == 0) 0.0
      else 1.0 - distinct.size.toDouble / nLines.toDouble
    if (!(dupFrac <= 0.3)) return false
    // top-token fraction: max multiplicity of the LOWERCASED tokens
    // (UTF8String.toLowerCase = the lower() builtin) over n — the same
    // value maxFreqFrac finds as the longest equal run of the sorted
    // array
    val counts = new java.util.HashMap[String, Int](n * 2)
    var best = 0
    i = 0
    while (i < n) {
      val c = counts.merge(lowerToken(text, b(2 * i), b(2 * i + 1)), 1, Integer.sum)
      if (c > best) best = c
      i += 1
    }
    ratio(best, n) <= 0.2
  }

  /** `UTF8String.fromString(s.substring(from, to)).toLowerCase.toString`:
    * an ASCII token maps A-Z to a-z directly (what `toLowerCase` does to
    * an all-ASCII string), any other token takes the UTF8String path. */
  private def lowerToken(s: String, from: Int, to: Int): String = {
    var j = from
    while (j < to && s.charAt(j) < 0x80) j += 1
    if (j < to) return UTF8String.fromString(s.substring(from, to)).toLowerCase.toString
    val out = new Array[Char](to - from)
    j = from
    while (j < to) {
      val c = s.charAt(j)
      out(j - from) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      j += 1
    }
    new String(out)
  }

  def gopherKeepData(text: UTF8String, minWords: Int, maxWords: Int): Boolean =
    gopherKeep(text.toString, minWords, maxWords)
}
