package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document character histogram statistics for Shannon-entropy
  * scoring, as a native Catalyst expression: one pass over the string,
  * one output row per document — no per-character row ever exists.
  *
  * Returns `struct(n_chars_seen, distinct_chars, s_cnt)` where
  * `s_cnt = Σ cnt·round(ln(cnt)·10⁶)` over the code-point histogram —
  * exactly the quantities the explode-then-aggregate spelling fed
  * through two corpus-wide hash aggregates (13M exploded rows at
  * sf0.1), and exactly what DuckDB's histogram CTE computes, so the
  * entropy gate keeps its bit-exact oracle. The (b)-tier
  * custom-Expression path (SURVEY §7.2), same rationale as
  * [[SimHash]]: built-ins can't keep a histogram inside the row
  * without interpreted higher-order lambdas over boxed per-char
  * strings (measured SLOWER than the explode at sf0.1 — 6.9 s vs
  * 3.4 s); `doGenCode` emits a static call so the surrounding
  * whole-stage codegen span stays intact.
  */
object CharEntropy {

  /** ln(c)·10⁶ rounded half-up — the micro-nat quantization shared with
    * [[Parity.microNats]] and its DuckDB twin. Inputs
    * are ≥ 1 so `Math.round` (floor(x+0.5)) IS half-up; ln values never
    * land on exact .5 micro-nats, so Spark/DuckDB decimal rounding and
    * this agree. */
  private def lnMicro(c: Long): Long =
    Math.round(Math.log(c.toDouble) * 1e6)

  /** Static implementation shared by interpreted eval and codegen:
    * sort the code points (equal chars become adjacent), fold run
    * lengths. O(L log L) on primitive ints, zero allocation beyond the
    * code-point array. Counts CODE POINTS, matching `substring(text,
    * i, 1)` on both engines. */
  def compute(s: UTF8String): InternalRow = {
    val cps = s.toString.codePoints().toArray
    java.util.Arrays.sort(cps)
    val n = cps.length.toLong
    var distinct = 0L
    var sCnt = 0L
    var i = 0
    while (i < cps.length) {
      var j = i + 1
      while (j < cps.length && cps(j) == cps(i)) j += 1
      val cnt = (j - i).toLong
      distinct += 1
      sCnt += cnt * lnMicro(cnt)
      i = j
    }
    new GenericInternalRow(Array[Any](n, distinct, sCnt))
  }

  def charEntropyStats(text: Column): Column =
    GraftShims.column(CharEntropyExpression(GraftShims.expression(text)))
}

/** Input must be string; see [[CharEntropy]]. */
case class CharEntropyExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars_seen", LongType, nullable = false),
    StructField("distinct_chars", LongType, nullable = false),
    StructField("s_cnt", LongType, nullable = false)))
  override def prettyName: String = "char_entropy_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_entropy_stats requires string, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropy.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropyExpression =
    copy(child = newChild)
}
