package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row term-frequency map: one pass over the UTF-8 bytes of a
  * single-space-separated text, producing `map<term, count>` with empty
  * tokens dropped — value-identical to
  * `explode(split(text, " "))` → `filter(length > 0)` → `groupBy(id,
  * term).count` but WITHOUT the corpus-wide (term, id) exchange: the
  * per-document reduction happens inside the row pipeline, so what
  * reaches the first shuffle is one pre-aggregated row per distinct
  * (doc, term) instead of one row per token occurrence.
  *
  * Measured at sf10 (500k docs, ~114M tokens; phase profile in
  * SCALING.md's retrieval section, resulting curve in
  * `BENCH_retr_r11_sf10.json`): the (term, doc) hash-shuffle is ~2.9 s
  * of `termStats`'s ~3.0 s — the
  * split/explode itself is 0.5 s — so eliminating that exchange is the
  * whole optimisation. The map is built by a compiled static helper
  * invoked FROM generated code (the same stage-fusion contract as
  * [[CharScan]]; the helper call keeps the row pipeline inside
  * whole-stage codegen — there is no interpreted expression tree and no
  * HOF on the hot path).
  *
  * Token views are zero-copy slices (`UTF8String.fromBytes(b, start,
  * len)`) over one materialised byte array; key order is first
  * occurrence (LinkedHashMap), so downstream `explode` output is
  * deterministic row-by-row, not just as a set. */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_term_counts"
  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    TermCounts.count(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TermCounts.count($s);")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

/** Native per-row adjacent-BIGRAM frequency map: one pass producing
  * `map<"w1 w2", count>` over the non-empty single-space tokens — the
  * in-row pre-aggregation that replaces the interpreted
  * `transform(sequence(...), i -> struct(element_at...))` pairing HOF
  * (per-token lambda dispatch, and Catalyst re-plans the pairing
  * subtree once per reference). Keys are canonical single-space pairs;
  * when the two tokens are adjacent in the input (the overwhelmingly
  * common case) the key is a ZERO-COPY slice of the row's bytes —
  * only a multi-space gap allocates a canonicalised copy. Docs with
  * fewer than two tokens yield an empty map (exploding to zero rows —
  * the same absent-not-zero contract as the composable rendering). */
case class PairCounts(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_pair_counts"
  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    PairCounts.count(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PairCounts.count($s);")

  override protected def withNewChildInternal(newChild: Expression): PairCounts =
    copy(child = newChild)
}

object PairCounts {

  def count(s: UTF8String): MapData = {
    val b = s.getBytes
    val n = b.length
    val m = new java.util.LinkedHashMap[UTF8String, Integer]()
    // previous token's byte range, or pStart < 0 when none yet
    var pStart = -1
    var pEnd = -1
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        if (i > start) {
          if (pStart >= 0) {
            val key =
              if (start == pEnd + 1) UTF8String.fromBytes(b, pStart, i - pStart)
              else {
                val out = new Array[Byte](pEnd - pStart + 1 + (i - start))
                System.arraycopy(b, pStart, out, 0, pEnd - pStart)
                out(pEnd - pStart) = ' '
                System.arraycopy(b, start, out, pEnd - pStart + 1, i - start)
                UTF8String.fromBytes(out)
              }
            val prev = m.get(key)
            m.put(key, Integer.valueOf(if (prev == null) 1 else prev.intValue + 1))
          }
          pStart = start
          pEnd = i
        }
        start = i + 1
      }
      i += 1
    }
    TermCounts.toMapData(m)
  }

  /** Column form. */
  def pairCounts(c: Column): Column =
    GraftColumnBridge.column(PairCounts(GraftColumnBridge.expression(c)))
}

object TermCounts {

  /** Single pass: split on ' ' (0x20), drop empties, count into a
    * first-occurrence-ordered map. Multi-byte UTF-8 rides through
    * untouched — 0x20 never occurs as a continuation byte, so byte-level
    * splitting is code-point correct. */
  def count(s: UTF8String): MapData = {
    val b = s.getBytes
    val n = b.length
    val m = new java.util.LinkedHashMap[UTF8String, Integer]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        if (i > start) {
          val t = UTF8String.fromBytes(b, start, i - start)
          val prev = m.get(t)
          m.put(t, Integer.valueOf(if (prev == null) 1 else prev.intValue + 1))
        }
        start = i + 1
      }
      i += 1
    }
    toMapData(m)
  }

  private[functions] def toMapData(
      m: java.util.LinkedHashMap[UTF8String, Integer]): MapData = {
    val sz = m.size
    val keys = new Array[AnyRef](sz)
    val values = new Array[AnyRef](sz)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      values(j) = e.getValue
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  /** Column form. */
  def termCounts(c: Column): Column =
    GraftColumnBridge.column(TermCounts(GraftColumnBridge.expression(c)))
}
