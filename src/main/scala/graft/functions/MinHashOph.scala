package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHashBandsOph — the banded-LSH bucket keys of [[MinHashBands]]
  * computed by ONE-PERMUTATION HASHING (Li, Owen, Zhang, NIPS 2012)
  * with rotation densification (Shrivastava & Li, ICML 2014): instead
  * of evaluating k = bands×rowsPerBand permutations per shingle
  * (k multiply-mods each — the classic kernel's inner loop), each
  * shingle is hashed ONCE, routed to one of k bins by its high bits,
  * and each bin keeps its minimum; empty bins borrow the next
  * non-empty bin's value rehashed by hop distance, so identical sets
  * densify to identical signatures and partially-overlapping sets degrade
  * gracefully. Per-shingle cost drops from O(k) to O(1) — the banding
  * pass over a 100 TB corpus is CPU-bound in exactly this loop.
  *
  * Trade-off (why this does NOT replace the classic kernel as the
  * default here): OPH's Jaccard estimate needs the shingle count to
  * comfortably exceed the bin count — for web-scale documents
  * (hundreds to thousands of shingles vs k = 32) that holds and OPH is
  * the right default; for the tiny synthetic test docs (~20-40
  * shingles) a third of the bins densify and recall gets noisier. The
  * two kernels emit the SAME shape (array of `bands` 64-bit band keys)
  * and plug into the same banding/join/verify pipeline.
  */
case class MinHashBandsOph(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  private val k = bands * rowsPerBand

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands_oph"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands_oph requires array<bigint>, got ${other.catalogString}")
  }

  /** Shared kernel, mirrored exactly in doGenCode. */
  private def compute(hashes: ArrayData): Array[Long] = {
    val minima = new Array[Long](k)
    java.util.Arrays.fill(minima, Long.MaxValue)
    val n = hashes.numElements()
    var any = false
    var j = 0
    while (j < n) {
      if (!hashes.isNullAt(j)) {
        any = true
        // one rehash decorrelates the bin route from the raw shingle
        // hash (which d3's pipeline already reduced mod 2^31-1)
        val u = XXH64.hashLong(hashes.getLong(j), 0x9E3779B97F4A7C15L)
        val bin = ((u >>> 33) % k).toInt
        val v = u & Long.MaxValue
        if (v < minima(bin)) minima(bin) = v
      }
      j += 1
    }
    if (any) {
      var i = 0
      while (i < k) {
        if (minima(i) == Long.MaxValue) {
          var hop = 1
          var src = (i + 1) % k
          while (minima(src) == Long.MaxValue) { src = (src + 1) % k; hop += 1 }
          // rehash by hop distance: a borrowed value must not look
          // identical to the donor bin's own value, or unrelated sets
          // sharing one hot shingle would agree on every empty bin
          minima(i) = XXH64.hashLong(minima(src), 1000003L * hop) & Long.MaxValue
        }
        i += 1
      }
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

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(compute(input.asInstanceOf[ArrayData]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val minima = ctx.addMutableState("long[]", "ophMinima",
        v => s"$v = new long[$k];")
      val keys = ctx.freshName("keys")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val u = ctx.freshName("u")
      val bin = ctx.freshName("bin")
      val v = ctx.freshName("v")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val hop = ctx.freshName("hop")
      val src = ctx.freshName("src")
      val bnd = ctx.freshName("bnd")
      val r = ctx.freshName("r")
      val key = ctx.freshName("key")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |java.util.Arrays.fill($minima, Long.MAX_VALUE);
         |int $n = $arr.numElements();
         |boolean $any = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$arr.isNullAt($j)) {
         |    $any = true;
         |    long $u = $xxh.hashLong($arr.getLong($j), 0x9E3779B97F4A7C15L);
         |    int $bin = (int) (($u >>> 33) % $k);
         |    long $v = $u & Long.MAX_VALUE;
         |    if ($v < $minima[$bin]) $minima[$bin] = $v;
         |  }
         |}
         |if ($any) {
         |  for (int $i = 0; $i < $k; $i++) {
         |    if ($minima[$i] == Long.MAX_VALUE) {
         |      int $hop = 1;
         |      int $src = ($i + 1) % $k;
         |      while ($minima[$src] == Long.MAX_VALUE) {
         |        $src = ($src + 1) % $k; $hop++;
         |      }
         |      $minima[$i] = $xxh.hashLong($minima[$src], 1000003L * $hop)
         |        & Long.MAX_VALUE;
         |    }
         |  }
         |}
         |long[] $keys = new long[$bands];
         |for (int $bnd = 0; $bnd < $bands; $bnd++) {
         |  long $key = 42L;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $key = $xxh.hashLong($minima[$bnd * $rowsPerBand + $r], $key);
         |  }
         |  $keys[$bnd] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsOph =
    copy(child = newChild)
}

object MinHashOph {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def minhashBandsOph(hashes: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinHashBandsOph(expression(hashes), bands, rowsPerBand))
}
