package graft

/** Seeded test vectors shared by the vector specs. The values are
  * frozen: PipelineSpec formats them and HnswSpec's fixture literal is
  * built from them. */
object Synth {

  private def mix(a: Long, b: Long): Long = {
    var x = a ^ java.lang.Long.rotateLeft(b, 31)
    x += 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic pseudo-random vector in [-1,1]^dims (seeded like the
    * reference's bench corpus idea; exact values don't matter, scale and
    * distribution do). */
  def synthVector(id: Long, dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    var d = 0
    while (d < dims) {
      out(d) = (((mix(id, d.toLong) >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0).toFloat
      d += 1
    }
    out
  }
}
