package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of a token array, as a native Catalyst expression.
  *
  * SimHash (Charikar 2002; Manku et al., WWW'07 near-dup detection):
  * hash every token to 64 bits, sum +1/-1 per bit position across tokens,
  * take the sign bit-vector. Documents differing in a few tokens land at
  * small hamming distance.
  *
  * Built-in `functions._` cannot express the per-bit vote accumulation,
  * so this is the (b)-tier custom-Expression path (SURVEY §7.2). The
  * token hash is the first 64 bits of md5 — a hash BOTH engines can
  * compute, which is what lets the whole simhash pipeline (votes,
  * signature, chunk banding, hamming verify) be replayed in DuckDB and
  * hash-gated instead of spec-only. `doGenCode` emits a static call so
  * the expression stays inside whole-stage codegen spans.
  */
object SimHash {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 bytes, big-endian — the bit pattern DuckDB gets from
    * [[Parity.md5U64Sql]]. */
  def tokenHash64(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(bytes)
    var out = 0L
    var i = 0
    while (i < 8) { out = (out << 8) | (h(i) & 0xffL); i += 1 }
    out
  }

  /** Static implementation shared by interpreted eval and codegen. */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = tokenHash64(arr.getUTF8String(i).getBytes)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def simhash(tokens: Column): Column =
    GraftShims.column(SimHashExpression(GraftShims.expression(tokens)))
}

/** Input must be array<string>; evaluated natively, codegen via a static
  * call so surrounding whole-stage codegen spans stay intact. */
case class SimHashExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash requires array<string>, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpression =
    copy(child = newChild)
}
