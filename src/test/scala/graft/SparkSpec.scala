package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (tests fork one JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}
