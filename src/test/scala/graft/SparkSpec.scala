package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkTestSession.spark

  def approxEqual(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol
}
