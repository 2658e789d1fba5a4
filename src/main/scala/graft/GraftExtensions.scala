package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Production packaging of the engine's native expressions (SURVEY §2.10
  * tier (c) — `SparkSessionExtensions`): inject the whole function suite
  * at session build, so every session — including `newSession()` clones
  * and SQL-only clients — resolves `vec_dot`, `vec_cosine`,
  * `vec_project`, `vec_argmin_cell`, `simhash64`, `simhash64_text`,
  * `minhash_bands`, `shingle_hashes`, `rolling_chunks` and
  * `might_contain`. Activate with `.withExtensions(new GraftExtensions)`
  * ([[Sessions.builder]] does) or externally via
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * This is the only place that gives the expressions SQL names: the
  * Column helpers in `graft.functions` wrap the expressions directly
  * (`org.apache.spark.sql.graft.NativeColumn`) and touch no registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.functions._

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(getClass.getCanonicalName, name)

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Int]

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"), info("vec_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"), info("vec_cosine"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_project"), info("vec_project"),
      (es: Seq[Expression]) => VecProject(es(0), es(1), es(2))))
    ext.injectFunction((FunctionIdentifier("vec_argmin_cell"), info("vec_argmin_cell"),
      (es: Seq[Expression]) => VecArgminCell(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("simhash64_text"), info("simhash64_text"),
      (es: Seq[Expression]) => SimHashText(es.head)))
    ext.injectFunction((FunctionIdentifier("minhash_bands"), info("minhash_bands"),
      (es: Seq[Expression]) => MinHashBands(es.head, intArg(es(1)), intArg(es(2)))))
    ext.injectFunction((FunctionIdentifier("shingle_hashes"), info("shingle_hashes"),
      (es: Seq[Expression]) => ShingleHashes(es.head, intArg(es(1)))))
    ext.injectFunction((FunctionIdentifier("rolling_chunks"), info("rolling_chunks"),
      (es: Seq[Expression]) => RollingChunks(es.head, intArg(es(1)), intArg(es(2)))))
    // Spark's own runtime-filter probe expression, surfaced: codegen
    // Bloom membership over a serialized filter image (see BloomProbe
    // for the xxhash64 keying convention both sides share).
    ext.injectFunction((FunctionIdentifier("might_contain"), info("might_contain"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))
  }
}
