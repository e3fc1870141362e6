package perfbench

/** Seeded input generators. Every input the program sees is made here
  * from (seed, key), so one seed always yields the same corpus, queries,
  * appends, deletes and documents, and the benchmark can recompute any
  * input without storing it. */
object Gen {

  /** splitmix64 finaliser over a pair of keys. */
  def mix(a: Long, b: Long): Long = {
    var x = a ^ java.lang.Long.rotateLeft(b, 31)
    x += 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform in [-1, 1). */
  def unit(seed: Long, key: Long, d: Long): Double =
    ((mix(mix(seed, key), d) >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0

  /** Clustered vectors: 256 seeded centres plus 0.35 of a per-id noise
    * vector. Uniform random vectors would make every ANN index look
    * degenerate (no neighbourhood structure to exploit). */
  final class Vectors(seed: Long, val dims: Int = 384, centres: Int = 256)
      extends Serializable {
    private val centreKey = 1L << 48
    private val cents: Array[Array[Float]] =
      Array.tabulate(centres)(c => raw(centreKey + c))

    private def raw(key: Long): Array[Float] =
      Array.tabulate(dims)(d => unit(seed, key, d).toFloat)

    def vector(key: Long): Array[Float] = {
      val c = cents(java.lang.Math.floorMod(mix(seed ^ 0x5EEDL, key), centres.toLong).toInt)
      val noise = raw(key)
      Array.tabulate(dims)(d => c(d) + 0.35f * noise(d))
    }
  }

  /** Corpus rows carry ids `v00000000`.. so that string order is numeric
    * order; queries use keys from `QueryBase` on, outside any corpus. */
  def rowId(key: Long): String = f"v$key%08d"
  val QueryBase: Long = 1000000000L

  /** Synthetic documents with planted outcomes for `Curation.curate`
    * under its default `Config`:
    *  - 70% base documents, 150-250 distinct-looking words: survivors;
    *  - 10% exact copies of a base document (dropped by exact dedup);
    *  - 10% near-duplicates: a base document plus one appended word, a
    *    one-token edit that keeps 3-shingle Jaccard above 0.99, so the
    *    MinHash stage (threshold 0.7) drops them;
    *  - 10% Gopher rejects: half too short (< 20 words), half with
    *    40% `#` symbol words.
    * Copies and edits always get a larger id than their base document,
    * so the canonical minimum-id survivor is the base document. */
  final class Docs(seed: Long, val n: Int) extends Serializable {
    private val vocab: Array[String] = Array.tabulate(8192) { w =>
      val len = 3 + java.lang.Math.floorMod(mix(seed ^ 0xA0CAL, w.toLong), 7L).toInt
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        sb += ('a' + java.lang.Math.floorMod(mix(seed + w, i.toLong), 26L).toInt).toChar
        i += 1
      }
      sb.toString
    }
    val base: Int = n * 7 / 10
    private val exactEnd = base + n / 10
    private val nearEnd = exactEnd + n / 10

    def id(i: Int): String = f"doc$i%08d"

    private def word(key: Long, j: Int): String =
      vocab(java.lang.Math.floorMod(mix(mix(seed, key), j.toLong), vocab.length.toLong).toInt)

    private def words(key: Long, count: Int): String =
      (0 until count).map(word(key, _)).mkString(" ")

    private def baseText(i: Int): String =
      words(i.toLong, 150 + java.lang.Math.floorMod(mix(seed ^ 0x1E4L, i.toLong), 101L).toInt)

    private def target(i: Int): Int =
      java.lang.Math.floorMod(mix(seed ^ 0x7A6L, i.toLong), base.toLong).toInt

    def text(i: Int): String =
      if (i < base) baseText(i)
      else if (i < exactEnd) baseText(target(i))
      else if (i < nearEnd) baseText(target(i)) + " " + word(i.toLong, 9999)
      else if (i % 2 == 0) words(i.toLong, 5 + i % 10)
      else (0 until 60).map(j => if (j % 5 < 2) "#" + word(i.toLong, j) else word(i.toLong, j))
        .mkString(" ")

    /** Ids a correct curation keeps. */
    lazy val survivors: Set[String] = (0 until base).map(id).toSet
  }
}
