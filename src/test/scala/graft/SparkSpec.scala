package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one per test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
