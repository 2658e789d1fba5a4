package e2ebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `dashboard`: one closed-loop client running whole passes, in seeded
  * order, over the reference's dashboard and ETL aggregates (a1-a17),
  * collecting every result in full (the reference dashboard's
  * `toPandas`). */
final class QueryWorkload(ctx: Ctx) {
  private val r = ctx.report
  private val registry = graft.SparkEntry.queries

  val names: Seq[String] = (1 to 17).map(i => registry.keys.filter(_.startsWith(s"a${i}_")).head)

  /** The LLM-data serving and curation set, whose cost sits in session
    * memos, the IndexStore, the `functions` kernels and eager
    * construction; measured by the traced run's curation probe. */
  val curation: Seq[String] = Seq("sim1_cosine_topk", "sim4_ivf_ann", "sim7_pq_ann",
    "sim22_hybrid_rrf", "d3_minhash_lsh", "d5_ngram_jaccard", "d12_semantic_dedup",
    "d18_incremental_dedup", "t6_tfidf", "t12_nb_classifier", "t19_bm25_topk",
    "g9_personalized_pagerank")

  /** Whole timed passes: `seconds` at a nominal 4 s a pass, at least two,
    * so that every run times the same work whatever the host's speed. */
  private val timedPasses = math.max(2, math.round(ctx.seconds / 4).toInt)

  private val reference = mutable.Map[String, (StructType, Array[Row])]()
  private var runs = 0L
  private var resultRows = 0L

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 7919 + pass).shuffle(names)

  /** Equal results; floating values may differ in their last bits when a
    * sum is taken in another order. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Float, y: Float) => same(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.lazyZip(y).forall(same)
    case _ => a == b
  }

  /** One closed-loop request: build the query, then collect its result.
    * Returns the latency in seconds, or None when it failed. */
  private def runOne(spark: SparkSession, name: String, pass: Int, traced: Boolean,
                     timed: Boolean): Option[Double] = {
    val sc = spark.sparkContext
    if (timed) r.attempted += 1
    try {
      val t0 = System.nanoTime()
      sc.setLocalProperty("e2e.phase", "construct")
      val df = registry(name)(spark, ctx.data)
      val tc = System.nanoTime()
      sc.setLocalProperty("e2e.phase", "exec")
      val rows = df.collect()
      val t1 = System.nanoTime()
      sc.setLocalProperty("e2e.phase", null)
      if (traced) {
        val key = s"$name#${runs}"
        runs += 1
        val q = ctx.spans.add(0, key, "query", t0, t1)
        val c = ctx.spans.add(q, key, "construct", t0, tc)
        val x = ctx.spans.add(q, key, "execute", tc, t1)
        val phases = df.queryExecution.tracker.phases
        Seq("analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "plan")
          .foreach { case (ph, span) =>
            phases.get(ph).foreach { s =>
              val a = s.startTimeMs * 1000000L + ctx.wallToNano
              val b = s.endTimeMs * 1000000L + ctx.wallToNano
              ctx.spans.add(if (a < tc) c else x, key, span, a, b)
            }
          }
        resultRows += rows.length
      }
      reference.get(name) match {
        case None => reference(name) = (df.schema, rows)
        case Some((_, ref)) if ref.length == rows.length && ref.lazyZip(rows).forall(same) =>
        case Some((_, ref)) =>
          r.fail(s"$name pass $pass: result differs from the first result " +
            s"(${rows.length} rows vs ${ref.length})")
          return None
      }
      Some((t1 - t0) / 1e9)
    } catch {
      case e: Throwable =>
        sc.setLocalProperty("e2e.phase", null)
        r.fail(s"$name pass $pass: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** `n` whole passes: every latency and the wall time of every pass. */
  private def timed(spark: SparkSession, n: Int, traced: Boolean,
                    firstPass: Int): (Seq[(String, Double)], Seq[Double]) = {
    val lat = mutable.ArrayBuffer[(String, Double)]()
    val passes = (firstPass until firstPass + n).map { pass =>
      val p0 = System.nanoTime()
      order(pass).foreach(n => runOne(spark, n, pass, traced, timed = true).foreach(l => lat += n -> l))
      (System.nanoTime() - p0) / 1e9
    }
    (lat.toSeq, passes)
  }

  def run(): Unit = {
    val sess, gate, total = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to ctx.setupReps) {
      if (spark != null) spark.stop()
      val t0 = if (rep == 1) ctx.jvmStartNs else System.nanoTime()
      val (s, ts) = ctx.time(ctx.newSession(rep))
      spark = s
      sess += ts
      gate += ctx.time(graft.Gate.schemaContract(spark, ctx.data))._2
      total += (System.nanoTime() - t0) / 1e9
    }
    // The warm-up, once, on the session the timed phase uses: one untimed
    // pass of the workload's own queries. Set-up time is a session set-up
    // (the median of the repetitions) plus this warm-up.
    val (_, warm) = ctx.time(order(-1).foreach(n => runOne(spark, n, -1, traced = false, timed = false)))
    val setup = Stats.median(total.toSeq) + warm
    r.record ++= Seq("setup_runs_s" -> total.map(Json.num).mkString("[", ", ", "]"),
      "warmup_s" -> Json.num(warm))

    val h0 = HostSnap.now()
    if (!ctx.trace) {
      val (lat, passes) = timed(spark, timedPasses, traced = false, 0)
      val h1 = HostSnap.now()
      val ls = lat.map(_._2)
      r.endToEnd(setup, Stats.median(ls), Stats.quantile(ls, 0.9),
        ls.size / passes.sum, Stats.median(passes))
      r.record ++= Seq("executions" -> ls.size.toString, "passes" -> passes.size.toString,
        "timed_s" -> Json.num(passes.sum), "pass_runs_s" -> passes.map(Json.num).mkString("[", ", ", "]"))
      HostSnap.receipts(h0, h1).foreach { case (k, v) => r.record(k) = Json.num(v) }
    } else {
      // The same work untraced and traced, in the order untraced, traced,
      // untraced so that the JIT ramp falls on both sides: the throughput
      // difference is the tracing overhead.
      val (before, beforePasses) = timed(spark, 1, traced = false, 0)
      val jobs = new JobCounters
      spark.sparkContext.addSparkListener(jobs)
      val h1 = HostSnap.now()
      val (lat, passes) = timed(spark, 1, traced = true, 1000)
      val h2 = HostSnap.now()
      jobs.drain()
      spark.sparkContext.removeSparkListener(jobs)
      val (after, afterPasses) = timed(spark, 1, traced = false, 1)
      val (plain, plainPasses) = (before ++ after, beforePasses ++ afterPasses)
      layers(lat, jobs)
      r.layer ++= Seq(
        "sessions.start_s" -> (Stats.median(sess.toSeq), "s"),
        "gate.schema_s" -> (Stats.median(gate.toSeq), "s"),
        "trace.overhead_frac" -> ((plain.size / plainPasses.sum) / (lat.size / passes.sum) - 1.0, "ratio"))
      HostSnap.receipts(h1, h2).foreach { case (k, v) => r.layer(k) = (v, if (k.endsWith("_s")) "s" else "ratio") }
      r.record ++= Seq("executions" -> lat.size.toString, "passes" -> passes.size.toString)
      curationProbe(spark)
      perQuery()
    }
    oracleInputs(spark)
  }

  /** Per-layer means per query execution, from the spans and counters. */
  private def layers(lat: Seq[(String, Double)], jobs: JobCounters): Unit = {
    val self = ctx.spans.selfNs
    val spans = ctx.spans.all
    val n = math.max(1, lat.size).toDouble
    def mean(name: String): Double =
      spans.filter(_.name == name).map(s => self(s.id)).sum / 1e9 / n
    val ex = jobs.phase("exec")
    val execWall = spans.filter(_.name == "execute").map(_.durNs).sum / 1e9
    r.layer ++= Seq(
      "construct_s" -> (mean("construct"), "s"),
      "construct.jobs" -> (jobs.phase("construct").jobs.get / n, "count"),
      "catalyst.analyze_s" -> (mean("analyze"), "s"),
      "catalyst.optimize_s" -> (mean("optimize"), "s"),
      "catalyst.plan_s" -> (mean("plan"), "s"),
      "exec_s" -> (mean("execute"), "s"),
      "exec.jobs" -> (ex.jobs.get / n, "count"),
      "exec.tasks" -> (ex.tasks.get / n, "count"),
      "exec.task_busy_frac" -> (ex.runMs.get / 1e3 / math.max(1e-9, execWall * ctx.cores), "ratio"),
      "exec.scan_bytes" -> (ex.readBytes.get / n, "bytes"),
      "exec.shuffle_write_bytes" -> (ex.shuffleWriteBytes.get / n, "bytes"),
      "exec.spill_bytes" -> (ex.spillBytes.get / n, "bytes"),
      "exec.result_rows" -> (resultRows / n, "count"))
    lat.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, xs) =>
      r.layer(s"q.$q.p50_s") = (Stats.median(xs.map(_._2)), "s")
    }
  }

  /** Traced runs only, after the dashboard figures are taken: on a fresh
    * session with an empty IndexStore root, build the curation set's IVF
    * and PQ serving artifacts, then run each curation query once, building
    * its session memos. This keeps the IndexStore,
    * memo-builder and `ext` construction layers measured. */
  private def curationProbe(base: SparkSession): Unit = {
    System.setProperty("graft.index.store", ctx.dir("index_store_probe"))
    val spark = base.newSession()
    import graft.ext.Similarity
    val (_, ivf) = ctx.time(Similarity.ivfIndexFor(spark, ctx.data, Similarity.Sim4K))
    val (_, pq) = ctx.time(Similarity.pqIndexFor(spark, ctx.data))
    val lat = curation.flatMap(n => runOne(spark, n, 2000, traced = true, timed = true).map(n -> _))
    r.layer ++= Seq("index.ivf.build_s" -> (ivf, "s"), "index.pq.build_s" -> (pq, "s"),
      "storage.pinned_mb" -> (spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"))
    lat.groupBy(_._1).foreach { case (q, xs) => r.layer(s"q.$q.p50_s") = (Stats.median(xs.map(_._2)), "s") }
  }

  /** Per-query layer split for the layer table: medians over a query's
    * traced executions of its latency and of each layer's self time. */
  private def perQuery(): Unit = {
    val self = ctx.spans.selfNs
    val spans = ctx.spans.all
    val byKey = spans.groupBy(_.key)
    def part(key: String, names: String*): Double =
      byKey(key).filter(s => names.contains(s.name)).map(s => self(s.id)).sum / 1e9
    val roots = spans.filter(s => s.parent == 0 && s.name == "query")
    r.record("per_query") = Json.obj(roots.groupBy(_.key.takeWhile(_ != '#')).toSeq.sortBy(_._1)
      .map { case (q, qs) =>
        def med(f: Span => Double): String = Json.num(Stats.median(qs.map(f)))
        q -> Json.obj(Seq("n" -> qs.size.toString,
          "latency_s" -> med(_.durNs / 1e9),
          "construct_s" -> med(s => part(s.key, "construct")),
          "catalyst_s" -> med(s => part(s.key, "analyze", "optimize", "plan")),
          "exec_s" -> med(s => part(s.key, "execute"))))
      })
  }

  /** The correctness gate's inputs, written after every timed metric: the
    * first result of each query as parquet, and the DuckDB oracle SQL of
    * the queries that have one. */
  private def oracleInputs(spark: SparkSession): Unit = {
    val out = ctx.dir("results")
    reference.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => reference.contains(k) }
      .map { case (k, v) => k -> Json.str(graft.OracleLiterals.expand(spark, ctx.data, v)) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.work, "oracle_sql.json"),
      Json.obj(sql.toSeq))
    r.record("oracle_queries") = sql.size.toString
  }
}
