package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression fusing the streaming LSH index's whole
  * per-document pipeline — 5-gram shingles of the space-split text,
  * 32-bit md5 hash per shingle, 16-permutation MinHash, 4 packed band
  * keys — into ONE compiled pass per row (codegen emits a single call
  * into [[LshBandsText.compute]]; no CodegenFallback, no intermediate
  * shingle/hash arrays materialized per row).
  *
  * Replaces the HOF chain `array_distinct(transform(transform(
  * sequence...), md5...))` + 16 `array_min(transform(...))` columns:
  * higher-order functions evaluate their lambdas interpreted, and the
  * md5-per-shingle pass dominated q_stream_lsh_index's addBatch. Every
  * step reproduces the SQL semantics bit-for-bit: shingles and their
  * md5-derived hashes come from [[MinhashSetsText.shingleHashes]] and
  * the 16 minima from [[MinhashSetsText.minhash]], the routines the
  * batch signature kernel `minhash_sets_text` uses, and the band
  * packing is the integer recurrence of `graft.ops.Dedup.lshBands` —
  * so the DuckDB bands CTE (Dedup.bandsCteSql) still hash-matches.
  * NULL when the text has fewer than 5 tokens (the `size(hs) > 0`
  * filter's semantics). */
case class LshBandsText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands_text expects STRING, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    LshBandsText.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val out = ctx.freshName("bands")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.LshBandsText.compute($s);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): LshBandsText = copy(child = newChild)
}

object LshBandsText {
  /** The whole fused pipeline; static so generated code can call it.
    * Returns null when fewer than 5 tokens. */
  def compute(text: UTF8String): ArrayData = {
    val hs = MinhashSetsText.shingleHashes(text)
    if (hs == null) return null
    val m = MinhashSetsText.minhash(hs)
    val bands = new Array[Long](4)
    var b = 0
    while (b < 4) {
      bands(b) = m(4 * b) + 31L * m(4 * b + 1) +
        961L * m(4 * b + 2) + 29791L * m(4 * b + 3)
      b += 1
    }
    new GenericArrayData(bands)
  }

  /** Arity-checked builder of `GraftExtensions.sqlFunctions`: a zero-arg or
    * multi-arg `lsh_bands_text(...)` call must fail analysis cleanly,
    * not throw NoSuchElementException / silently drop arguments. */
  def build(exprs: Seq[Expression]): LshBandsText = {
    if (exprs.length != 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> "lsh_bands_text",
          "expectedNum" -> "1",
          "actualNum" -> exprs.length.toString,
          "docroot" -> ""))
    LshBandsText(exprs.head)
  }
}
