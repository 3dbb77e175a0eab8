package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Set session confs for the duration of `body`, restoring previous
    * values (or unsetting) afterwards — the session is shared across
    * suites, so conf-pinning tests must not leak. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkTestBase {
  /** The production session settings ([[Session]]) at a fixed local[4]. */
  lazy val session: SparkSession = Session("graft-test", "local[4]", Session.sizing(4, 4))
}
