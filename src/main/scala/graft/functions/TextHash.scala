package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash64 — the whole 64-bit simhash signature of a token array as ONE
  * codegen'd per-row expression (SURVEY §2.10 tier (b)).
  *
  * The naive dataflow formulation (explode tokens → groupBy(doc) with 64
  * conditional sums) shuffles every token of every document; at 100 TB the
  * token shuffle dwarfs the real work. This expression fuses the loop:
  * per token, xxhash64 (same XXH64/seed-42 kernel as Spark's built-in
  * `xxhash64`, so signatures are bit-identical to the dataflow form), then
  * ±1 into 64 counters; signature bit b = sign of counter b. Zero shuffle,
  * zero allocation per row (counter array is reused mutable state).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        TextKernels.foldHash(counters,
          XXH64.hashUTF8String(arr.getUTF8String(i), 42L))
      }
      i += 1
    }
    TextKernels.signOf(counters)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counters = ctx.addMutableState("int[]", "simhashCounters",
        v => s"$v = new int[64];")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |java.util.Arrays.fill($counters, 0);
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUTF8String($arr.getUTF8String($i), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $counters[$b]++; else $counters[$b]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counters[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Shared text-hashing kernels — ONE definition of tokenization and the
  * simhash sign fold, so the fused expressions cannot drift from each
  * other (PropertySpec pins their equivalence to the HOF forms). */
private[functions] object TextKernels {
  /** Lowercase + split on single spaces, trailing empties kept — exactly
    * Spark's `split(lower(text), " ")`. */
  def lowerWords(text: UTF8String): Array[String] =
    text.toLowerCase.toString.split(" ", -1)

  /** counters → signature: bit b set iff counter b is positive. */
  def signOf(counters: Array[Int]): Long = {
    var sig = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Fold one token hash into the 64 simhash counters. */
  def foldHash(counters: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
      b += 1
    }
  }
}

/** SimHashText — simhash straight from the raw text: lowercase/split,
  * dedupe tokens BY HASH, fold into the 64 counters, all inside one
  * expression. Equivalent to
  * `simhash64(array_distinct(split(lower(text), ' ')))` up to 64-bit
  * token-hash collisions (dedup-by-hash vs dedup-by-string). What it
  * saves vs the array form is the Catalyst side: no token ArrayData, no
  * array_distinct copy, no per-element null bookkeeping between three
  * expressions — JVM-side per-word String allocations remain (an
  * in-place byte scanner would shave those too; measured cost here is
  * dominated by the 64-bit fold either way). */
case class SimHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_text"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64_text requires string, got ${other.catalogString}")
    }

  /** Public: invoked from generated code. */
  def computeSimhash(text: UTF8String): Long = {
    val words = TextKernels.lowerWords(text)
    val seen = new java.util.HashSet[java.lang.Long](words.length * 2)
    val counters = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(words(i)), 42L)
      if (seen.add(h)) TextKernels.foldHash(counters, h)
      i += 1
    }
    TextKernels.signOf(counters)
  }

  override def nullSafeEval(input: Any): Any =
    computeSimhash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, txt => {
      val ref = ctx.addReferenceObj("simhasher", this,
        classOf[SimHashText].getName)
      s"${ev.value} = $ref.computeSimhash($txt);"
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

object TextHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))

  def simhash64Text(text: Column): Column =
    column(SimHashText(expression(text)))
}
