package graft

import graft.runtime.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM), built by the mains' own [[GraftSession.builder]]
  * with nothing added, so tests plan under the configuration the bench
  * runs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
