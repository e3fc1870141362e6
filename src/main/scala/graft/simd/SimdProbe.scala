package graft.simd

import scala.util.control.NonFatal

/** Availability probe shared by the SIMD kernel families
  * ([[SimdArgmin]] candidate and query lanes, [[SimdRank]]).
  *
  * A family's SIMD path is trusted only when its probe body runs (the
  * incubator Vector API module loads) and returns true (the SIMD output
  * is bit-equal to the scalar twin on the probe data). Otherwise the
  * caller keeps its scalar kernels, which give the same results several
  * times slower, and one WARN per family per JVM names the cause.
  * Callers hold the result in a `val`, so each probe runs once per JVM.
  */
private[graft] object SimdProbe {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.simd")

  /** The reason `check` rules the SIMD path out, or None when it passes. */
  def failure(check: => Boolean): Option[String] =
    try {
      if (check) None
      else Some("SIMD output is not bit-equal to the scalar kernel on the probe data")
    } catch {
      case e: LinkageError => Some(
        "module jdk.incubator.vector is not available (start the JVM with " +
          s"--add-modules=jdk.incubator.vector): $e")
      case NonFatal(e) => Some(s"probe threw $e")
    }

  /** True when `check` passes; otherwise logs one WARN naming `kernel`
    * and the cause, and returns false. */
  def apply(kernel: String)(check: => Boolean): Boolean = {
    val why = failure(check)
    why.foreach(w => log.warn(s"$kernel: SIMD path disabled, running the scalar kernel: $w"))
    why.isEmpty
  }
}
