package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHashBands — banded-LSH bucket keys of a shingle-hash set as ONE
  * codegen'd per-row expression (SURVEY §2.10 tier (b); banding scheme per
  * the MinHash/LSH literature in PAPERS.md, not the reference — the
  * reference has no near-dup operator at all).
  *
  * Input: array<long> of shingle hashes in [0, 2^31-1) (the output of
  * `pmod(xxhash64(shingle), 2147483647)`). For each of `bands * rowsPerBand`
  * fixed permutations h_i(x) = (a_i*x + b_i) mod (2^31-1) it takes the min
  * over the shingle set, then folds each band of `rowsPerBand` minima into
  * one 64-bit bucket key (XXH64 chain). Output: array<long> of `bands` keys.
  *
  * Why an Expression and not `transform(perms, pr -> array_min(...))`:
  * the higher-order-function form evaluates an interpreted lambda per
  * (perm × shingle) — ~10k lambda invocations per document, which at scale
  * dominates the entire dedup pipeline. This loop is JIT'd: same numbers,
  * ~100× less per-row cost, and it stays inside whole-stage codegen.
  */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  private val k = bands * rowsPerBand
  // Deterministic permutation parameters — fixed seed, same family as
  // Dedup.perms so signatures are reproducible across sessions.
  private def permArrays: (Array[Long], Array[Long]) = {
    val p = 2147483647L
    val rnd = new scala.util.Random(7)
    val a = new Array[Long](k); val b = new Array[Long](k)
    var i = 0
    while (i < k) {
      a(i) = math.abs(rnd.nextLong()) % (p - 1) + 1
      b(i) = math.abs(rnd.nextLong()) % p
      i += 1
    }
    (a, b)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires array<bigint>, got ${other.catalogString}")
  }

  /** Shared kernel: shingle hashes -> band keys. */
  private def compute(hashes: ArrayData, a: Array[Long], b: Array[Long]): Array[Long] = {
    val n = hashes.numElements()
    val minima = new Array[Long](k)
    java.util.Arrays.fill(minima, Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!hashes.isNullAt(j)) {
        val h = hashes.getLong(j)
        var i = 0
        while (i < k) {
          val v = (a(i) * h + b(i)) % 2147483647L
          if (v < minima(i)) minima(i) = v
          i += 1
        }
      }
      j += 1
    }
    val keys = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var key = 42L
      var r = 0
      while (r < rowsPerBand) {
        key = XXH64.hashLong(minima(bnd * rowsPerBand + r), key)
        r += 1
      }
      keys(bnd) = key
      bnd += 1
    }
    keys
  }

  @transient private lazy val (permA, permB) = permArrays

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(compute(input.asInstanceOf[ArrayData], permA, permB))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aRef = ctx.addReferenceObj("minhashA", permA, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", permB, "long[]")
      val minima = ctx.addMutableState("long[]", "minhashMinima",
        v => s"$v = new long[$k];")
      val keys = ctx.freshName("keys")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val bnd = ctx.freshName("bnd")
      val r = ctx.freshName("r")
      val key = ctx.freshName("key")
      s"""
         |java.util.Arrays.fill($minima, Long.MAX_VALUE);
         |int $n = $arr.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    long $h = $arr.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $v = ($aRef[$i] * $h + $bRef[$i]) % 2147483647L;
         |      if ($v < $minima[$i]) $minima[$i] = $v;
         |    }
         |  }
         |}
         |long[] $keys = new long[$bands];
         |for (int $bnd = 0; $bnd < $bands; $bnd++) {
         |  long $key = 42L;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $key = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashLong($minima[$bnd * $rowsPerBand + $r], $key);
         |  }
         |  $keys[$bnd] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def minhashBands(hashes: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinHashBands(expression(hashes), bands, rowsPerBand))
}
