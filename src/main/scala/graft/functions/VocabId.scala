package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Constant-time vocabulary-id lookup: symbol → 0-based token id, out
  * of vocabulary → −1 (the [[graft.operators.TextStats]] encode
  * contract). The table rides `addReferenceObj` as a hash map — the
  * same channel [[BpeSegment]] ships its merge table through — so
  * generated code stays one static call whatever the vocabulary size.
  *
  * Why this exists when `element_at(map(...), sym)` looks equivalent:
  * a `map()` over literals folds to an `ArrayBasedMapData` LITERAL,
  * and `GetMapValue` probes that by scanning the key array — O(V) per
  * probe. The r15 tokenizer probe measured the difference at the
  * production point: 26.6 s vs 0.91 s at V = 32k on the same corpus
  * (`BENCH_tokprobe_r15_sf1.json`, SCALING.md r15 ladder row; at the 42-entry toy vocab the two are indistinguishable,
  * which is how the trap shipped). The join rendering
  * ([[graft.operators.TextStats.bpeEncode]]'s broadcast vocab join) is
  * the right shape when the symbols are already EXPLODED to rows; for
  * an in-row `transform()` over a symbol array — where the consumer
  * needs a per-document result like
  * [[graft.operators.TextPipeline.e2eTokenized]]'s id fingerprint — a
  * join would force an explode plus a per-doc reassembly exchange.
  * This expression keeps the lookup inside the projection at hash-map
  * cost: zero structural plan change, O(1) per probe.
  */
case class VocabId(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression {

  override def prettyName: String = "graft_vocab_id"

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (s, i) =>
      m.put(UTF8String.fromString(s), java.lang.Long.valueOf(i))
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    VocabId.lookup(input.asInstanceOf[UTF8String], table)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tab = ctx.addReferenceObj("vocab", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.VocabId.lookup($s, $tab);")
  }

  override protected def withNewChildInternal(newChild: Expression): VocabId =
    copy(child = newChild)
}

object VocabId {

  def lookup(sym: UTF8String,
             table: java.util.HashMap[UTF8String, java.lang.Long]): Long = {
    val v = table.get(sym)
    if (v == null) -1L else v.longValue()
  }

  /** Column form. */
  def vocabId(c: Column, vocab: Seq[(String, Long)]): Column =
    GraftColumnBridge.column(
      VocabId(GraftColumnBridge.expression(c), vocab))
}
