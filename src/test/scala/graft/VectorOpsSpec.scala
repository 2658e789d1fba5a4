package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity
import graft.functions.VectorOps

/** The native codegen'd vector expressions must be bit-identical to the
  * higher-order-function formulation they replace (same sequential
  * accumulation order), null-safe, and SQL-callable. */
class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0, 4.0), Array(4.0, 3.0, 2.0, 1.0)),
    (2L, Array(0.5, -0.25, 0.125, 8.0), Array(-1.0, 0.001, 2.5, 0.75)),
    (3L, Array(1e-8, 1e8, -1e-8, -1e8), Array(1e8, 1e-8, -1e8, -1e-8))
  ).toDF("id", "a", "b")

  test("vec_cosine is bit-identical to the zip_with/aggregate HOF form") {
    val hof = vecs.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    val native = vecs.select(col("id"),
      VectorOps.vecCosine(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    hof.foreach { case (id, c) => assert(c == native(id), s"id $id") }
  }

  test("vec_dot matches hand computation and handles nulls") {
    val got = vecs.filter(col("id") === 1)
      .select(VectorOps.vecDot(col("a"), col("b"))).as[Double].head()
    assert(got == 4.0 + 6.0 + 6.0 + 4.0)
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = withNull.select(VectorOps.vecDot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("expressions are SQL-callable: injected by GraftExtensions") {
    vecs.createOrReplaceTempView("vecs_test")
    val r = spark.sql(
      "SELECT vec_dot(a, b) AS d, vec_cosine(a, a) AS self FROM vecs_test WHERE id = 1")
      .head()
    assert(r.getDouble(0) == 20.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("sim1 top-k via the native expression still matches the all-pairs truth") {
    val top = Similarity.sim1CosineTopK(spark, "/root/testdata/sf0.001")
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(top.map(_._2).toSeq == top.map(_._2).toSeq.sorted.reverse)
  }


  test("vec_project is bit-identical to the scalar projection loop, " +
    "handles float input, nulls, and dim-mismatch prefixes (r20)") {
    val mu = Seq(0.5, -0.25, 0.0, 1.0)
    val basis = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.25, -0.5, 2.0, 0.125))
    def scalar(x: Seq[Double]): Seq[Double] = basis.map { b =>
      var acc = 0.0
      var i = 0
      while (i < 4) { acc += (x(i) - mu(i)) * b(i); i += 1 }
      acc
    }
    val rows = Seq(
      (1L, Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, Seq(0.5, -0.25, 0.125, 8.0)),
      (3L, Seq(1e-8, 1e8, -1e-8, -1e8)))
    val got = rows.toDF("id", "x")
      .select(col("id"), VectorOps.vecProject(col("x"),
        typedlit(mu), typedlit(basis)).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, x) =>
      assert(got(id) == scalar(x), s"id $id: ${got(id)} != ${scalar(x)}")
    }
    // float embeddings read through the specialized getter
    val gotF = Seq((1L, Seq(1f, 2f, 3f, 4f))).toDF("id", "x")
      .select(VectorOps.vecProject(col("x"),
        typedlit(mu), typedlit(basis)))
      .as[Seq[Double]].head()
    assert(gotF == scalar(Seq(1.0, 2.0, 3.0, 4.0)))
    // null embedding -> null result (BinaryExpression null semantics)
    val r = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "x")
      .select(VectorOps.vecProject(col("x"),
        typedlit(mu), typedlit(basis))).head()
    assert(r.isNullAt(0))
    // a short basis row accumulates over the shared prefix
    val short = Seq((1L, Seq(2.0, 3.0, 5.0, 7.0))).toDF("id", "x")
      .select(VectorOps.vecProject(col("x"),
        typedlit(mu), typedlit(Seq(Seq(1.0, 1.0))))).as[Seq[Double]].head()
    assert(short == Seq((2.0 - 0.5) + (3.0 - (-0.25))))
    // SQL-callable: injected by GraftExtensions
    Seq((1L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("id", "x")
      .createOrReplaceTempView("vp_probe")
    val viaSql = spark.sql(
      "SELECT vec_project(x, array(0.5D, -0.25D, 0.0D, 1.0D), " +
        "array(array(1.0D, 0.0D, 0.0D, 0.0D))) AS p FROM vp_probe")
      .as[Seq[Double]].head()
    assert(viaSql == Seq(0.5))
  }

  test("vec_argmin_cell ≡ the HOF transform/aggregate/array_min/" +
    "array_position formulation it replaced, bit for bit — and ties " +
    "keep the FIRST minimal index") {
    // real-ish vectors: the sf0.001 embeddings against sim4's trained
    // centers — the exact workload ivfAssign runs
    val dir = "/root/testdata/sf0.001"
    val idx = Similarity.ivfIndexFor(spark, dir, Similarity.Sim4K)
    val centers = idx.centers
    val cLit = array(centers.toIndexedSeq
      .map(c => array(c.toIndexedSeq.map(lit): _*)): _*)
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .filter(col("emb").isNotNull)
    val hof = emb
      .withColumn("dists", transform(cLit, c =>
        aggregate(zip_with(col("emb"), c, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
      .select(col("vec_id"),
        (array_position(col("dists"), array_min(col("dists"))) - 1)
          .cast("int").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fused = emb
      .select(col("vec_id"), VectorOps.vecArgminCell(col("emb"),
        typedLit(centers.map(_.toSeq).toSeq)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fused == hof, "fused argmin diverged from the HOF form")
    // tie rule: two identical centers — the FIRST index wins
    val tie = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "emb")
      .select(VectorOps.vecArgminCell(col("emb"),
        typedLit(Seq(Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(1.0, 0.0))))
        .as("cell"))
    assert(tie.head().getInt(0) == 1, "tie must keep the first min index")
    // null propagation: a null embedding assigns null, not a crash
    val n = Seq((0L, null: Seq[Double])).toDF("vec_id", "emb")
      .select(VectorOps.vecArgminCell(col("emb"),
        typedLit(Seq(Seq(1.0, 0.0)))).as("cell"))
    assert(n.head().isNullAt(0))
    // EMPTY centers (k=0) → NULL, mirroring the HOF form's array_min
    // over zero distances — never a silent cell 0 (advisor r15). Both
    // paths pinned: interpreted eval (typedLit folded) and codegen.
    val k0 = Seq((0L, Seq(1.0, 0.0))).toDF("vec_id", "emb")
      .select(VectorOps.vecArgminCell(col("emb"),
        typedLit(Seq.empty[Seq[Double]])).as("cell"))
    assert(k0.head().isNullAt(0), "k=0 must be NULL, not cell 0")
    val k0i = graft.functions.VecArgminCell(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 0.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq.empty[Seq[Double]],
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
    assert(k0i.eval(null) == null, "interpreted k=0 must be NULL")
  }
}
