package graft

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** Frozen copies of the regex-tokenized text kernels that
  * `graft.expr.TextKernels` replaced with its one-pass token-bounds
  * forms. KernelSpec pins the live kernels equal to these on the gate
  * corpus and on random texts; keep them as they are. */
object FrozenTextKernels {

  private val Whitespace = Pattern.compile("\\s+")
  private val Newline = Pattern.compile("\n")

  def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    s.substring(from, to)
  }

  /** The tokenizer every kernel used: regex split of the space-trimmed text. */
  def tokens(s: String): Array[String] = Whitespace.split(trimSpaces(s), -1)

  def shingles(text: String, k: Int): Array[String] = {
    val toks = Whitespace.split(trimSpaces(text), -1)
    val n = math.max(toks.length - k, 0)
    val out = new Array[String](n + 1)
    var i = 0
    while (i <= n) {
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + k, toks.length)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def distinctShingles(text: String, k: Int): Array[String] = {
    val toks = Whitespace.split(trimSpaces(text), -1)
    val n = math.max(toks.length - k, 0)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= n) {
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + k, toks.length)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  def minhashBandKeysFast(text: String, k: Int, numHashes: Int,
      bands: Int): Array[Long] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sh = distinctShingles(text, k)
    val rows = numHashes / bands
    val sig = new Array[Int](numHashes)
    var j = 0
    while (j < numHashes) {
      var best = Int.MaxValue
      var s = 0
      while (s < sh.length) {
        val h = scala.util.hashing.MurmurHash3.stringHash(sh(s), j * 0x9E3779B9 + 1)
        if (h < best) best = h
        s += 1
      }
      sig(j) = best
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 1125899906842597L * (b + 1)
      var r = 0
      while (r < rows) { acc = acc * 31L + sig(b * rows + r); r += 1 }
      var z = acc + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      out(b) = z ^ (z >>> 31)
      b += 1
    }
    out
  }

  def gopherKeep(text: String, minWords: Int, maxWords: Int): Boolean = {
    val toks = Whitespace.split(trimSpaces(text), -1)
    val n = toks.length
    if (n < minWords || n > maxWords) return false
    var sumLen = 0L
    var symbol = 0
    var alpha = 0
    var i = 0
    while (i < n) {
      val t = toks(i)
      sumLen += t.codePointCount(0, t.length)
      if (t.indexOf('#') >= 0 || t.contains("...") || t.contains("…"))
        symbol += 1
      var hasAlpha = false
      var j = 0
      while (!hasAlpha && j < t.length) {
        val c = t.charAt(j)
        if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
        j += 1
      }
      if (hasAlpha) alpha += 1
      i += 1
    }
    def ratio(num: Long, den: Long): Double =
      if (den == 0) 0.0 else num.toDouble / den.toDouble
    val mwl = ratio(sumLen, n)
    if (!(mwl >= 3.0 && mwl <= 10.0)) return false
    if (!(ratio(symbol, n) <= 0.1)) return false
    val rawLines = Newline.split(text, -1)
    var nLines = 0
    var bullet = 0
    var ellipsis = 0
    val distinct = new java.util.HashSet[String]()
    i = 0
    while (i < rawLines.length) {
      val l = trimSpaces(rawLines(i))
      if (l.nonEmpty) {
        nLines += 1
        if (l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))
          bullet += 1
        if (l.endsWith("...") || l.endsWith("…")) ellipsis += 1
        distinct.add(l)
      }
      i += 1
    }
    if (!(ratio(bullet, nLines) <= 0.9)) return false
    if (!(ratio(ellipsis, nLines) <= 0.3)) return false
    if (!(ratio(alpha, n) >= 0.8)) return false
    val dupFrac =
      if (nLines == 0) 0.0
      else 1.0 - distinct.size.toDouble / nLines.toDouble
    if (!(dupFrac <= 0.3)) return false
    val counts = new java.util.HashMap[String, Int](n * 2)
    var best = 0
    i = 0
    while (i < n) {
      val low = UTF8String.fromString(toks(i)).toLowerCase.toString
      val c = counts.merge(low, 1, Integer.sum)
      if (c > best) best = c
      i += 1
    }
    ratio(best, n) <= 0.2
  }
}
