package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{SessionMemo, Similarity}

/** The one per-session memo device: invalidation reaches every memo,
  * concurrent requests for one key build once, and no hand-rolled
  * session cache grows back beside it. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("invalidateCaches makes j11, sim21 and t18 serve a rewritten dir " +
      "exactly as a fresh session does") {
    val dir = Files.createTempDirectory("graft_memo_invalidate")
    try {
      TestDirs.copyDir(Paths.get(TestDirs.sf0001), dir)
      val queries = Seq("j11_bucketed_join", "sim21_int8_ann",
        "t18_classifier_metrics")
      def serve(s: SparkSession, q: String) =
        rows(SparkEntry.queries(q)(s, dir.toString))
      val before = queries.map(q => q -> serve(spark, q)).toMap
      TestDirs.rewrite(spark, dir, "orders")(
        _.filter(col("o_orderkey") % 2 === 0))
      TestDirs.rewrite(spark, dir, "embeddings")(_.withColumn("embedding",
        when(col("vec_id") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), x => -x))))
      TestDirs.rewrite(spark, dir, "documents")(
        _.filter(col("doc_id") % 2 === 0))
      Similarity.invalidateCaches(spark)
      val stale = queries.filter { q =>
        val after = serve(spark, q)
        val fresh = serve(spark.newSession(), q)
        assert(fresh != before(q), s"$q: the rewrite did not change it")
        after != fresh
      }
      assert(stale.isEmpty, s"stale rows after invalidation: $stale")
    } finally {
      Similarity.invalidateCaches(spark)
      TestDirs.rmDir(dir)
    }
  }

  test("two threads inside one key's build at once: exactly one build") {
    val memo = SessionMemo[String, Int]()
    val builds = new AtomicInteger()
    val bothIn = new CountDownLatch(2)
    def build(): Int = {
      builds.incrementAndGet()
      bothIn.countDown()
      // a second builder would release this latch at once; the memo's
      // per-key lock keeps it out, so the one builder waits it out
      bothIn.await(2, TimeUnit.SECONDS)
      42
    }
    val start = new CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        got.add(memo.getOrBuild(spark, "k")(build()))
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join(10000))
    assert(builds.get == 1)
    assert(got.toArray.toSeq == Seq(42, 42))
  }

  test("a failed build leaves no entry; remove drops matching keys") {
    val memo = SessionMemo[String, Int]()
    intercept[IllegalStateException] {
      memo.getOrBuild(spark, "a")(throw new IllegalStateException("boom"))
    }
    assert(memo.get(spark, "a").isEmpty)
    assert(memo.getOrBuild(spark, "a")(1) == 1)
    assert(memo.getOrBuild(spark, "b")(2) == 2)
    assert(memo.remove(spark)(_ == "a") == Seq("a"))
    assert(memo.get(spark, "a").isEmpty && memo.get(spark, "b").contains(2))
    assert(memo.get(spark.newSession(), "b").isEmpty)
  }

  test("no hand-rolled session cache or per-object invalidator in src/main") {
    import scala.jdk.CollectionConverters._
    val allowed = Set("SessionMemo.scala", "Similarity.scala")
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        Seq("WeakHashMap[" -> src.contains("WeakHashMap["),
          "def invalidateCaches" ->
            """def\s+invalidateCaches""".r.findFirstIn(src).nonEmpty)
          .collect { case (what, true) => s"$p: $what" }
      }.toSeq
    assert(new File("src/main/scala/graft/ext/SessionMemo.scala").exists)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
