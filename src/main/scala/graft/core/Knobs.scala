package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one reader of the engine's `graft.*` session knobs. An unset key
  * reads as its default. A set value that does not parse throws an
  * `IllegalArgumentException` naming the key and the value, so a typo
  * such as `graft.containment.maxPairs=5e8` fails the query instead of
  * silently running with the default. `tools/test_conf_keys.py` lists
  * every key library code reads. */
object Knobs {
  def get[T](spark: SparkSession, key: String, default: T)(parse: String => T): T =
    spark.conf.getOption(key) match {
      case None => default
      case Some(v) =>
        try parse(v)
        catch {
          case NonFatal(e) =>
            throw new IllegalArgumentException(s"malformed conf value $key=$v (default $default)", e)
        }
    }

  def long(spark: SparkSession, key: String, default: Long): Long = get(spark, key, default)(_.toLong)
  def int(spark: SparkSession, key: String, default: Int): Int = get(spark, key, default)(_.toInt)
  def double(spark: SparkSession, key: String, default: Double): Double = get(spark, key, default)(_.toDouble)
  def boolean(spark: SparkSession, key: String, default: Boolean): Boolean =
    get(spark, key, default)(_.toBoolean)
}
