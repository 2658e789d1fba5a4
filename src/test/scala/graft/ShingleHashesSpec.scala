package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ShingleHashes

/** The fused shingle-hash pass must be bit-identical to the HOF
  * formulation it replaces (split → slice/concat_ws n-grams →
  * array_distinct → pmod(xxhash64)). */
class ShingleHashesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hofHashes(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("words", split(lower(col("text")), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("shingles", expr(
        """array_distinct(transform(sequence(0, size(words) - 3),
          |  i -> concat_ws(' ', slice(words, i + 1, 3))))""".stripMargin))
      .select(expr("transform(shingles, s -> pmod(xxhash64(s), 2147483647))")
        .as("h"))

  test("matches the HOF formulation bit-for-bit, including repeated spaces") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog",
      "Mixed CASE and  double  spaces here",
      "repeat repeat repeat repeat repeat"  // collapsing duplicates
    ).toDF("text")
    val fused = df.select(
        ShingleHashes.shingleHashes(col("text"), 3).as("h"))
      .as[Seq[Long]].collect().map(_.toSet)
    val hof = hofHashes(df).as[Seq[Long]].collect().map(_.toSet)
    assert(fused.toSeq == hof.toSeq)
  }

  test("short and null docs yield empty/null, hashes stay in [0, 2^31)") {
    val df = Seq(Some("two words"), Some(""), None,
      Some("exactly three words")).toDF("text")
    val out = df.select(
        ShingleHashes.shingleHashes(col("text"), 3).as("h"))
      .collect().map(r => Option(r.getSeq[Long](0)))
    assert(out(0).get.isEmpty) // 2 words < n
    assert(out(1).get.isEmpty)
    assert(out(2).isEmpty)     // null text → null out
    assert(out(3).get.length == 1)
    assert(out(3).get.forall(h => h >= 0 && h < 2147483647L))
  }

  test("registered SQL surface rejects non-string input at analysis time") {
    val err = intercept[Exception] {
      Seq(1L).toDF("x").selectExpr("shingle_hashes(x, 3)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string") ||
      err.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
