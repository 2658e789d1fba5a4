package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Projections

/** [[Tables.t]] infers each table's parquet schema once per session:
  * later reads plan without a Spark job, an in-place rewrite is seen on
  * the next read without invalidation, and the served schema is exactly
  * what a fresh inference gives. */
class TableSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestDirs.sf0001

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Spark jobs started while `body` runs; the listener bus is async, so
    * wait until the count holds across two polls (bounded at ~5 s). */
  private def jobsDuring(body: => Any): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        n.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 50) {
        Thread.sleep(100)
        waited += 1
        val now = n.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  /** Run `body` on a scratch copy of sf0.001, then drop the copy and
    * its memo entries. */
  private def withCopy(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_table_schema")
    try {
      TestDirs.copyDir(Paths.get(sf), dir)
      body(dir.toString)
    } finally {
      Tables.schemaMemo.remove(spark)(_.startsWith(dir.toString))
      TestDirs.rmDir(dir)
    }
  }

  test("a second read of a table plans without a Spark job") {
    withCopy { dir =>
      val first = jobsDuring(Tables.t(spark, dir, "orders").schema)
      assert(first >= 1, "no inference job seen on the first read")
      val second = jobsDuring(Tables.t(spark, dir, "orders").schema)
      assert(second == 0,
        s"the second read ran $second jobs: the schema was inferred again")
    }
  }

  test("a table rewritten in place is re-inferred on the same session, " +
      "without invalidateCaches") {
    withCopy { dir =>
      val d = Paths.get(dir)
      val eventsBefore = rows(Tables.events(spark, dir))
      assert(!Tables.t(spark, dir, "region").columns.contains("r_extra"))
      TestDirs.rewrite(spark, d, "region")(_.withColumn("r_extra", lit(1.5)))
      // ts as plain int64 nanos: the loader's other encoding
      TestDirs.rewrite(spark, d, "events")(_.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * 1000L))
      val fresh = spark.newSession()
      val region = Tables.t(spark, dir, "region")
      assert(region.schema("r_extra").dataType == DoubleType)
      assert(rows(region) == rows(Tables.t(fresh, dir, "region")))
      assert(Tables.t(spark, dir, "events").schema("ts").dataType == LongType)
      val events = Tables.events(spark, dir)
      assert(events.schema("ts").dataType == TimestampType)
      assert(rows(events) == rows(Tables.events(fresh, dir)))
      assert(rows(events) == eventsBefore,
        "nanos truncated to micros must give back the original ts")
    }
  }

  test("three rewrites of one table leave one memo entry for its path") {
    withCopy { dir =>
      val path = s"$dir/nation.parquet"
      Tables.t(spark, dir, "nation")
      (1 to 3).foreach { i =>
        TestDirs.rewrite(spark, Paths.get(dir), "nation")(
          _.withColumn(s"n_extra$i", lit(i)))
        val served = Tables.t(spark, dir, "nation").schema
        assert(served.fieldNames.contains(s"n_extra$i"))
        assert(Tables.schemaMemo.get(spark, path).map(_._2).contains(served))
      }
      assert(Tables.schemaMemo.remove(spark)(_.startsWith(dir)) == Seq(path))
    }
  }

  test("a missing table still throws, stores nothing, and p11 names it " +
      "missing") {
    withCopy { dir =>
      val path = s"$dir/region.parquet"
      Files.delete(Paths.get(path))
      intercept[AnalysisException](Tables.t(spark, dir, "region"))
      assert(Tables.schemaMemo.get(spark, path).isEmpty)
      val audit = Projections.p11SchemaAudit(spark, dir)
      val region = audit.filter(col("table_name") === "region").collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(4))).toSet
      assert(region == Set(("r_regionkey", "missing", null),
        ("r_name", "missing", null)))
      assert(audit.filter(col("table_name") =!= "region" &&
        col("status") =!= "ok").isEmpty)
      assert(Tables.schemaMemo.remove(spark)(_ == path).isEmpty)
    }
  }

  test("every sf0.001 table's memoized schema equals a fresh inference, " +
      "nullability and events.ts under nanosAsLong included") {
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Tables.tableContract.map(_._1).distinct.foreach { t =>
      val path = s"$sf/$t.parquet"
      Tables.t(spark, sf, t)
      val served = Tables.t(spark, sf, t).schema
      assert(Tables.schemaMemo.get(spark, path).map(_._2).contains(served))
      val inferred = fresh.read.parquet(path).schema
      // StructField equality covers type, nullability and metadata
      assert(served == inferred, s"$t: served $served, inferred $inferred")
    }
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
  }
}
