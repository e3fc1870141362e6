package graft

import java.nio.file.{Files, Path}

/** The correctness dump's per-query step: a failing query must not leave
  * an earlier run's rows where the oracle compare would read them. */
class VerifySpec extends SparkSpec {

  private def stale(out: Path, name: String): Path = {
    val dir = Files.createDirectories(out.resolve(name))
    Files.writeString(dir.resolve("part-00000.parquet"), "earlier run")
    dir
  }

  test("dumpQuery removes an earlier dump before a query that throws") {
    val out = Files.createTempDirectory("verify_stale")
    val dir = stale(out, "q_throws")
    val secs = Verify.dumpQuery(spark, "unused", out.toString, "q_throws",
      (_, _) => throw new IllegalStateException("query failed before its write"))
    assert(secs.isEmpty)
    assert(!Files.exists(dir), "the earlier run's dump is still in place")
  }

  test("dumpQuery replaces an earlier dump with the query's rows and reports its seconds") {
    val out = Files.createTempDirectory("verify_ok")
    val dir = stale(out, "q_ok")
    val secs = Verify.dumpQuery(spark, "unused", out.toString, "q_ok",
      (s, _) => s.range(5).toDF("id"))
    assert(secs.exists(_ >= 0.0))
    assert(spark.read.parquet(dir.toString).count() === 5)
    assert(!Files.exists(dir.resolve("part-00000.parquet")))
  }
}
