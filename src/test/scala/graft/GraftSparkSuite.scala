package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A suite on the one test session: [[GraftSession.builder]] at 4 cores,
 * the contract the mains and the benchmark run. Forked tests share one
 * JVM and so one SparkContext; a suite that changes a runtime conf
 * restores it, or every suite after it runs under the change. */
trait GraftSparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()
}
