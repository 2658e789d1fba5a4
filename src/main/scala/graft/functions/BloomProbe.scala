package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64Function}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumn.{column, expression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Codegen Bloom-filter probing — the engine's replacement for the two
  * scalar `udf((k: String) => bc.value.mightContain(k))` closures that
  * used to sit in d35's corpus pass (ext/Curate.scala) and the unbounded
  * stream dedup (streaming/BloomDedup.scala). A per-row Scala lambda
  * breaks whole-stage codegen exactly where the row volume peaks; Spark
  * ships the right primitive already — the internal
  * [[BloomFilterMightContain]] expression that powers runtime row-level
  * join filtering — it just isn't in the public function registry. This
  * object builds it as a Column ([[graft.GraftExtensions]] gives it the
  * SQL name `might_contain`) and pins the KEYING convention that makes
  * build and probe agree.
  *
  * Keying: `BloomFilterMightContain` probes with `mightContainLong`, so
  * both sides key on `xxhash64(key)` — the exact arrangement Spark's own
  * `InjectRuntimeFilter` rule uses (it wraps both the aggregate's input
  * and the probe in `XxHash64`). The filter is BUILT over the hashed
  * column (`stat.bloomFilter` on a long column → `putLong`), serialized
  * with the sketch library's own `writeTo` — the binary image
  * `BloomFilterMightContain.deserialize` reads — and shipped into the
  * plan as a [[org.apache.spark.sql.functions.lit]] binary (foldable, as
  * the expression's type check requires; at web-scale filter sizes the
  * same bytes would ride a broadcast variable referenced from a joined
  * one-row frame, but a literal keeps the plan self-contained at any
  * filter size that fits a task closure).
  *
  * Approximation note vs the old string-keyed probe: hashing first adds
  * the 64-bit collision mass to the false-positive rate — two distinct
  * keys colliding under xxhash64 (~n²/2⁶⁵) — which is orders below any
  * practical fpp and on the SAME side of the contract (spurious
  * positive, never a false negative). d35's exact verify join strips
  * even those; the stream dedup absorbs them into its documented fpp
  * budget.
  */
object BloomProbe {

  /** xxhash64's default seed — must match the `xxhash64` SQL function so
    * the driver-side probe agrees with the distributed one. */
  private val Seed = 42L

  /** The binary image [[BloomFilterMightContain]] deserializes. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Build a filter over `xxhash64(keyCol)` — the keying the probe side
    * uses. Distributed mergeable aggregate; only fixed-size partition
    * filters ride to the driver. Null keys are excluded (the probe
    * reports null as never-seen, so inserting hash-of-null would only
    * waste bits). */
  def buildHashed(df: DataFrame, keyCol: String,
                  expectedItems: Long, fpp: Double): BloomFilter =
    df.filter(col(keyCol).isNotNull)
      .select(xxhash64(col(keyCol)).as("h"))
      .stat.bloomFilter("h", math.max(1L, expectedItems), fpp)

  /** Codegen probe column: true iff the filter might contain `key`.
    * Null keys → false (the old udf's `k != null &&` guard, kept —
    * `xxhash64(null)` folds to the seed and would otherwise probe a
    * phantom element). */
  def mightContainHashed(filterBytes: Array[Byte], key: Column): Column =
    key.isNotNull && column(BloomFilterMightContain(
      expression(lit(filterBytes)), expression(xxhash64(key))))

  /** Driver-side membership probe with the SAME keying as the
    * distributed path (specs and serving). */
  def seenHashed(bf: BloomFilter, key: String): Boolean =
    bf.mightContainLong(
      XxHash64Function.hash(UTF8String.fromString(key), StringType, Seed))
}
