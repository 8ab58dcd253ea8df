package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("local[4]", 4, appName = "graft-test")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
