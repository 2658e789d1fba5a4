package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RollingChunks

/** Content-defined chunking must be deterministic and — its reason to
  * exist — shift-resistant: an insertion near the front must not destroy
  * the fingerprints of everything after it. */
class RollingChunksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val doc = (1 to 60)
    .map(i => s"sentence number $i with some filler words to chunk")
    .mkString(" ")

  private def chunks(texts: String*): Seq[Seq[Long]] =
    texts.toDF("text")
      .select(RollingChunks.rollingChunks(col("text"), 16, 5).as("c"))
      .as[Seq[Long]].collect().toSeq

  test("identical text chunks identically; chunks cover the document") {
    val Seq(a, b) = chunks(doc, doc)
    assert(a == b)
    assert(a.nonEmpty)
    // expected chunk length 2^5 = 32 bytes → roughly len/32 chunks
    assert(a.length > doc.length / 200 && a.length < doc.length / 4)
  }

  test("an insertion near the front preserves most chunk fingerprints") {
    val edited = "A BRAND NEW INSERTED HEADLINE. " + doc
    val Seq(orig, ed) = chunks(doc, edited)
    val shared = orig.toSet.intersect(ed.toSet).size.toDouble / orig.toSet.size
    assert(shared > 0.5, f"only $shared%.2f of chunks survived the insertion")
    // whole-doc fingerprints (the d2 scheme) share NOTHING after the edit —
    // that contrast is the point of content-defined chunking
    assert(orig != ed)
  }

  test("degenerate window/maskBits are rejected, not silently garbage") {
    intercept[IllegalArgumentException] {
      graft.functions.RollingChunks(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), 16, 0)
    }
    intercept[IllegalArgumentException] {
      graft.functions.RollingChunks(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), 0, 5)
    }
    intercept[IllegalArgumentException] {
      graft.functions.RollingChunks(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), 16, 63)
    }
  }

  test("empty and null inputs are safe") {
    val out = Seq(Some(""), None).toDF("text")
      .select(RollingChunks.rollingChunks(col("text"), 16, 5).as("c"))
      .collect()
    assert(out(0).getSeq[Long](0).isEmpty)
    assert(out(1).isNullAt(0))
  }
}
