package graft.runtime

import graft.SparkSpec
import org.apache.spark.network.util.JavaUtils

class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries GraftSession.builder's planner conf") {
    // the settings the mains used to copy by hand; a test session without
    // them plans differently from the bench
    def conf(k: String) = spark.conf.get(k)
    assert(JavaUtils.byteStringAsBytes(
      conf("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) == 256L * 1024 * 1024)
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
  }
}
