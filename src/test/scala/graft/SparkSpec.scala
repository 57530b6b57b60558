package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate dedupes across
  * suites in one JVM; Test/fork=true gives the add-opens flags).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the session conf `key` set to `value` (None: unset),
    * then restore what the shared session held before.
    */
  def withSessionConf[T](key: String, value: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    put(value)
    try body finally put(before)
  }
}
