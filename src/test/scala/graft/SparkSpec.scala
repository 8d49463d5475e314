package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local[4] [[Harness]] session for all specs (one JVM, reused via
  * getOrCreate; the reference's analog is hyppo-test.conf's single-worker
  * profile).
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession =
    Harness.session("4", Map("spark.app.name" -> "graft-test"))
}
