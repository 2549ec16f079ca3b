package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[VocabId]] — the constant-time vocab-id probe: parity with the
  * literal-map rendering it replaced (the O(V)-per-probe trap,
  * `BENCH_tokprobe_r15_sf1.json`), the OOV → −1 contract, and survival at a production-sized
  * table (where the literal-map rendering is the thing being avoided,
  * not a viable parity arm — parity there is against a driver-side
  * map). */
class VocabIdSpec extends SparkSpec {
  import spark.implicits._

  private val vocab: Seq[(String, Long)] =
    Seq("a" -> 0L, "b" -> 1L, "ab" -> 2L, "ﬀ" -> 3L, "𝕒" -> 4L, "é" -> 5L)

  test("parity with element_at on a literal map, OOV -> -1, null -> null") {
    val syms = Seq("a", "b", "ab", "ﬀ", "𝕒", "é", "zz", "", "A")
    val df = (syms :+ null).toDF("sym")
    val litMap = map(vocab.flatMap { case (s, i) => Seq(lit(s), lit(i)) }: _*)
    val got = df.select(col("sym"),
      VocabId.vocabId(col("sym"), vocab).as("fast"),
      coalesce(element_at(litMap, col("sym")), lit(-1L)).as("ref")).collect()
    got.filter(!_.isNullAt(0)).foreach { r =>
      assert(!r.isNullAt(1) && r.getLong(1) == r.getLong(2), s"value: $r")
    }
    // null INPUT propagates as null (standard unary null semantics; the
    // coalesce rendering it replaced folded null input into the OOV -1,
    // but OOV means a present, unknown symbol — and the pipeline's
    // symbol arrays are containsNull=false, so in situ the two never
    // diverge)
    assert(got.last.isNullAt(1))
  }

  test("production-sized table: every id correct against the driver map") {
    val big = (0 until 32768).map(i => (s"sym$i", i.toLong))
    val byKey = big.toMap
    val probes = Seq("sym0", "sym1", "sym32767", "sym16384", "nope", "sym")
    val rows = probes.toDF("sym")
      .select(col("sym"), VocabId.vocabId(col("sym"), big).as("id")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == byKey.getOrElse(r.getString(0), -1L),
        s"mismatch at ${r.getString(0)}")
    }
  }

  test("interpreted eval matches codegen") {
    val expr = VocabId(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("ab"),
        org.apache.spark.sql.types.StringType), vocab)
    assert(expr.eval(null) == 2L)
    val miss = VocabId(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("q"),
        org.apache.spark.sql.types.StringType), vocab)
    assert(miss.eval(null) == -1L)
  }
}
