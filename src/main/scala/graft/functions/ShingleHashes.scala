package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ShingleHashes — text → DISTINCT word-n-gram shingle hashes as ONE
  * per-row pass (SURVEY §2.10 tier (b); shingling scheme per the MinHash
  * literature in PAPERS.md — the reference has no dedup operator).
  *
  * Replaces the four-expression HOF chain
  * `split → transform(sequence, slice/concat_ws) → array_distinct →
  * transform(xxhash64)`: higher-order functions evaluate an interpreted
  * lambda per element and materialize three intermediate arrays per row;
  * this loop lowercases once, walks the words once, hashes each n-gram
  * (XXH64, seed 42, folded into [0, 2^31-1) — the domain
  * [[MinHashBands]] needs for overflow-free permutation math) and dedups
  * inline. Output order is first occurrence; all consumers (minhash,
  * set Jaccard) are order-insensitive.
  *
  * Documents with fewer than n words yield an EMPTY array — callers must
  * filter `size(...) > 0` before LSH banding, otherwise all short docs
  * share the degenerate signature and flood the candidate set.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires string, got ${other.catalogString}")
  }

  /** Public: invoked from generated code (one virtual call per row; the
    * real work is the loop inside). */
  def computeShingles(text: UTF8String): ArrayData = {
    // Shared tokenizer (TextKernels): exactly Spark's split(lower(text),
    // ' ') — empty tokens kept, so runs of spaces behave identically to
    // the HOF formulation.
    val words = TextKernels.lowerWords(text)
    if (words.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.HashSet[java.lang.Long](words.length * 2)
    val out = new Array[Long](words.length - n + 1)
    var outLen = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val h = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      val m = h % 2147483647L
      val hm = if (m < 0) m + 2147483647L else m
      if (seen.add(hm)) { out(outLen) = hm; outLen += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outLen))
  }

  override def nullSafeEval(input: Any): Any =
    computeShingles(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, txt => {
      val ref = ctx.addReferenceObj("shingler", this,
        classOf[ShingleHashes].getName)
      s"${ev.value} = $ref.computeShingles($txt);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def shingleHashes(text: Column, n: Int): Column =
    column(ShingleHashes(expression(text), n))
}
