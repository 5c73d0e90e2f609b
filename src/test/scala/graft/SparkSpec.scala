package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (forked sbt test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Bench.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"
}
