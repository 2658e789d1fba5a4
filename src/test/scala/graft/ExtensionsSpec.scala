package graft

import org.scalatest.funsuite.AnyFunSuite

/** Functions injected through SparkSessionExtensions must resolve in a
  * FRESH session clone: a temp function is session-scoped and would NOT
  * survive newSession(), so this discriminates real injection from a
  * registration made on the parent session. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("injected expressions resolve by SQL name in a fresh session") {
    val fresh = spark.newSession()
    val dot = fresh.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(dot == 11.0)
    val cos = fresh.sql(
      "SELECT vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = fresh.sql("SELECT simhash64(array('a', 'b'))").head().getLong(0)
    assert(sh == fresh.sql("SELECT simhash64(array('b', 'a'))").head().getLong(0))
    assert(fresh.sql("SELECT size(shingle_hashes('one two three four', 3))")
      .head().getInt(0) == 2)
    assert(fresh.sql(
      "SELECT size(minhash_bands(shingle_hashes('one two three four', 3), 8, 4))")
      .head().getInt(0) == 8)
    assert(fresh.sql("SELECT vec_project(array(2.0d, 3.0d), array(0.5d, 1.0d), " +
      "array(array(1.0d, 1.0d), array(0.0d, 2.0d)))")
      .head().getSeq[Double](0) == Seq(3.5, 4.0))
    assert(fresh.sql("SELECT vec_argmin_cell(array(1.0d, 1.0d), " +
      "array(array(5.0d, 5.0d), array(1.0d, 2.0d), array(1.0d, 2.0d)))")
      .head().getInt(0) == 1)
  }

  test("SqlCatalog: a SQL-only client runs the surface — tables, joins, " +
    "native functions — with no Scala") {
    val dir = "/root/testdata/sf0.001"
    val sqlOnly = spark.newSession() // a clone: no Scala-side frames at all
    SqlCatalog.open(sqlOnly, dir)
    // the flagship aggregate shape, pure SQL, must equal the DataFrame API
    val viaSql = sqlOnly.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaDf = {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    assert(viaSql == viaDf && viaSql.nonEmpty)
    // a star join across registered views
    assert(sqlOnly.sql(
      """SELECT count(*) FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin)
      .head().getLong(0) > 0)
    // the injected native expressions compose with the views in SQL text
    val cos = sqlOnly.sql(
      """SELECT round(vec_cosine(
        |    transform(a.embedding, x -> cast(x as double)),
        |    transform(a.embedding, x -> cast(x as double))), 4) AS c
        |FROM embeddings a WHERE a.vec_id = 0 AND a.embedding IS NOT NULL""".stripMargin)
      .head().getDouble(0)
    assert(cos == 1.0)
    // events views carry the normalized timestamp type
    assert(sqlOnly.sql("SELECT count(*) FROM events WHERE ts IS NOT NULL")
      .head().getLong(0) > 0)
  }

  test("type errors from injected functions fail analysis, not execution") {
    val fresh = spark.newSession()
    val err = intercept[Exception] {
      fresh.sql("SELECT vec_dot(1, 2)").collect()
    }
    assert(err.getMessage.contains("DATATYPE_MISMATCH") ||
      err.getMessage.toLowerCase.contains("array"))
  }

  test("one function path: src/main writes no function registry and " +
    "calls no function by name outside GraftExtensions.scala") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftExtensions.scala")
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        Seq("createOrReplaceTempFunction", "udf.register", "def register(",
          "call_function(").filter(src.contains).map(what => s"$p: $what")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
