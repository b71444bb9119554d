package graft

import org.apache.spark.sql.SparkSession

/** Session conf helpers: numeric graft confs, parsed so that a malformed
  * value fails with an `IllegalArgumentException` naming the conf key and
  * the bad value instead of a bare `NumberFormatException`; and conf
  * overrides scoped to a block.
  */
private[graft] object SessionConf {
  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).fold(default)(v => parse(key, v)(_.toInt))

  def long(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default)(v => parse(key, v)(_.toLong))

  /** Run `body` with each of `confs` set on the session, then put every
    * key back as it was: its previous value, or unset if it had none.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def parse[A](key: String, value: String)(f: String => A): A =
    try f(value)
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid value for $key: '$value' is not an integer")
    }
}
