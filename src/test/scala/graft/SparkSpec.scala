package graft

import graft.api.StreamContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Base of every Spark-backed suite: the suites share one JVM session, and
  * each suite re-applies the session recipe ([[StreamContext.sessionConf]])
  * when it first touches `spark`, so no suite depends on which one ran
  * first. A test that needs other settings scopes them with [[withConf]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = StreamContext.localSession(4)
  lazy val ctx: StreamContext = new StreamContext(spark)
  def imp: spark.implicits.type = spark.implicits

  /** Runs `body` with the given runtime conf, then restores each key to its
    * previous value (or unsets it when it had none). */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
