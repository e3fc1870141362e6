package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query's
  * wall time goes to stderr as `[verify] <name> <secs> s`, then their
  * sum as `[verify] total <secs> s`: the per-query timing layer.
  * {{{
  * sbt "runMain graft.Verify <sf_dir> <out_dir>"
  * }}} */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // comma-separated allowlist for fast local iteration on one oracle;
    // unset (the driver's mode) runs everything
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val secs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => dumpQuery(spark, sfDir, outDir, name, fn) }
    val failed = secs.count(_.isEmpty)
    System.err.println(f"[verify] total ${secs.flatten.sum}%.3f s" +
      (if (failed > 0) s" ($failed of ${secs.size} queries failed)" else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Runs one query and writes its rows to `$outDir/$name` as one
    * parquet file. An earlier dump at that path is removed first, so a
    * query that throws leaves no directory behind for the oracle compare
    * to pass. Prints `[verify] <name> <secs> s`, or the failure, to
    * stderr; returns the seconds, None if the query failed. */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
    val out = s"$outDir/$name"
    val path = new org.apache.hadoop.fs.Path(out)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[verify] $name $secs%.3f s")
      Some(secs)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      None
    }
  }
}
