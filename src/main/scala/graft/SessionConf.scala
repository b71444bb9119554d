package graft

import org.apache.spark.sql.SparkSession

/** Numeric graft session confs, parsed so that a malformed value fails
  * with an `IllegalArgumentException` naming the conf key and the bad
  * value instead of a bare `NumberFormatException`.
  */
private[graft] object SessionConf {
  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).fold(default)(v => parse(key, v)(_.toInt))

  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default)(v => parse(key, v)(_.toLong))

  private def parse[A](key: String, value: String)(f: String => A): A =
    try f(value)
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid value for $key: '$value' is not an integer")
    }
}
