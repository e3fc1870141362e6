package graft.core

import org.apache.spark.sql.SparkSession

/** Typed reads of the numeric and boolean `spark.graft.*` session
  * options. A value that does not parse fails with an
  * IllegalArgumentException that NAMES THE KEY and the value: a bare
  * `"1e4".toInt` would surface from deep inside a search as
  * `NumberFormatException: For input string`, with no hint of which
  * option was wrong. Parsing is the plain Scala `toInt` / `toLong` /
  * `toDouble` / `toBoolean`, so the accepted values are unchanged. */
private[graft] object GraftConf {

  private def parsed[T](spark: SparkSession, key: String)(parse: String => T): Option[T] =
    spark.conf.getOption(key).map { v =>
      try parse(v) catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"$key: cannot parse '$v' (${e.getMessage})", e)
      }
    }

  def int(spark: SparkSession, key: String, default: Int): Int =
    parsed(spark, key)(_.toInt).getOrElse(default)

  def long(spark: SparkSession, key: String, default: Long): Long =
    parsed(spark, key)(_.toLong).getOrElse(default)

  def double(spark: SparkSession, key: String, default: Double): Double =
    parsed(spark, key)(_.toDouble).getOrElse(default)

  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    parsed(spark, key)(_.toBoolean).getOrElse(default)
}
