package graft

import org.apache.spark.sql.functions._

/** The scale-up generator is itself product code (SCALING.md's evidence
  * rests on it), so its three guarantees are pinned: exact scaling with
  * referential integrity, no cross-copy collisions in the perturbed
  * near-dup inputs, and bit-for-bit determinism across runs. */
class ScaleGenSpec extends SparkSpec {

  test("factor-2 scale-up: exact counts, disjoint keys, intact references") {
    val src = "/root/testdata/sf0.001"
    val dst = java.nio.file.Files.createTempDirectory("sgspec").toString
    ScaleGen.scale(spark, src, dst, 2)
    assertScaled(src, dst)
  }

  private def assertScaled(src: String, dst: String): Unit = {
    def out(t: String) = spark.read.parquet(s"$dst/$t.parquet")
    def in(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // fact tables double; dimensions pass through
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
                  "events", "documents", "embeddings"))
      assert(out(t).count() == 2 * in(t).count(), s"$t count")
    for (t <- Seq("region", "nation"))
      assert(out(t).count() == in(t).count(), s"$t count")

    // re-keying never collides: distinct keys double too
    assert(out("orders").select("o_orderkey").distinct.count()
      == 2 * in("orders").select("o_orderkey").distinct.count())

    // referential integrity holds across the re-keying: every scaled
    // lineitem still finds its order, customer their nation
    assert(out("lineitem").join(out("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0)
    assert(out("customer").join(out("nation"),
      col("c_nationkey") === col("n_nationkey"), "left_anti").count() == 0)

    // salted text: no document text survives across copies, so the
    // distinct-text count doubles exactly (within-copy dup structure kept)
    assert(out("documents").select("text").distinct.count()
      == 2 * in("documents").select("text").distinct.count())

    // events.ts keeps a real timestamp binding on scaled dirs: a
    // legacy nanos-long source is repaired to µs TIMESTAMP, and a
    // real-timestamp source (the current driver data is µs NTZ) passes
    // through with its type preserved — either way the scaled dir must
    // carry a timestamp type (not a raw long, which would break every
    // engine's `epoch_ms(ts)`) and the epoch-ms values must survive
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val srcType = in("events").schema("ts").dataType
    val dstType = out("events").schema("ts").dataType
    assert(dstType == TimestampType || dstType == TimestampNTZType,
      s"scaled events.ts must be a timestamp type, got $dstType")
    if (srcType != LongType)
      assert(dstType == srcType, s"scaling must preserve the source's timestamp type ($srcType), got $dstType")
    def ms(df: org.apache.spark.sql.DataFrame) = df.select((df.schema("ts").dataType match {
      case LongType => expr("ts div 1000000")
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000")
    }).as("ms"))
    val inMs = ms(in("events"))
    val outMs = ms(out("events"))
    assert(inMs.exceptAll(outMs).count() == 0,
      "every source epoch-ms value must survive the timestamp conversion")

    // jittered embeddings: no identical vector crosses the copy boundary
    val stride = in("embeddings").agg(max(col("vec_id"))).head.getLong(0) + 1
    val c0 = out("embeddings").filter(col("vec_id") < stride).select(col("embedding").as("e0"))
    val c1 = out("embeddings").filter(col("vec_id") >= stride).select(col("embedding").as("e1"))
    assert(c0.join(c1, col("e0") === col("e1")).count() == 0,
      "copy-1 vectors must be decorrelated from copy-0")
  }

  test("an empty source table fails with a clear message, not an NPE") {
    // stride() needs max(key)+1; an empty (or all-NULL-key) table has no
    // max, and the failure must name the column rather than NPE deep in
    // Row.getLong
    val src = java.nio.file.Files.createTempDirectory("sgempty").toString
    val dst = java.nio.file.Files.createTempDirectory("sgemptyout").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .limit(0).write.parquet(s"$src/orders.parquet")
    val e = intercept[IllegalArgumentException] {
      ScaleGen.scale(spark, src, dst, 2)
    }
    assert(e.getMessage.contains("o_orderkey"), e.getMessage)
  }

  test("scale-up is deterministic: two runs produce identical row sets") {
    val src = "/root/testdata/sf0.001"
    val d1 = java.nio.file.Files.createTempDirectory("sgdet1").toString
    val d2 = java.nio.file.Files.createTempDirectory("sgdet2").toString
    ScaleGen.scale(spark, src, d1, 2)
    ScaleGen.scale(spark, src, d2, 2)
    for (t <- Seq("lineitem", "documents", "embeddings")) {
      val a = spark.read.parquet(s"$d1/$t.parquet")
      val b = spark.read.parquet(s"$d2/$t.parquet")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$t must be bit-for-bit deterministic")
    }
  }
}
