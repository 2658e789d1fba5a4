package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** RollingChunks — content-defined chunk fingerprints via a Rabin-style
  * polynomial rolling hash, as one codegen-callable per-row pass
  * ([EXT]; scheme per the dedup literature in PAPERS.md — the reference
  * has no fingerprinting at all).
  *
  * A window of `window` bytes rolls over the document; positions where
  * the rolling hash has `maskBits` low zero bits become chunk
  * boundaries, so expected chunk length is 2^maskBits bytes and — the
  * property that matters — boundaries are decided by CONTENT, not
  * offset: inserting a sentence near the top of a document shifts every
  * byte, yet all chunks after the edit re-align and their XXH64
  * fingerprints still match the original. Fixed-offset schemes (md5 of
  * the whole doc, byte shingles at fixed positions) lose every match
  * after the insertion point. Output: array<long> of chunk fingerprints,
  * in document order.
  */
case class RollingChunks(child: Expression, window: Int, maskBits: Int)
    extends UnaryExpression {

  // SQL-reachable args (injected function) — degenerate values would
  // silently make EVERY position a boundary (maskBits<=0 → mask 0;
  // window<=0 → the rolling hash cancels itself); fail at analysis time.
  require(window > 0, s"rolling_chunks window must be > 0, got $window")
  require(maskBits > 0 && maskBits < 63,
    s"rolling_chunks maskBits must be in (0, 63), got $maskBits")

  private val mask: Long = (1L << maskBits) - 1

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_chunks requires string, got ${other.catalogString}")
  }

  /** Public: invoked from generated code. */
  def computeChunks(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    // 257^window mod 2^64 for removing the outgoing byte.
    var pow = 1L
    var w = 0
    while (w < window) { pow *= 257L; w += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Long](n >> maskBits)
    var h = 0L
    var start = 0
    var i = 0
    while (i < n) {
      h = h * 257L + (bytes(i) & 0xff)
      if (i >= window) h -= pow * (bytes(i - window) & 0xff)
      val boundary = i >= window - 1 && (h & mask) == 0
      if (boundary || i == n - 1) {
        out += XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start + 1, 42L)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    computeChunks(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, txt => {
      val ref = ctx.addReferenceObj("chunker", this,
        classOf[RollingChunks].getName)
      s"${ev.value} = $ref.computeChunks($txt);"
    })

  override protected def withNewChildInternal(newChild: Expression): RollingChunks =
    copy(child = newChild)
}

object RollingChunks {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def rollingChunks(text: Column, window: Int, maskBits: Int): Column =
    column(RollingChunks(expression(text), window, maskBits))
}
