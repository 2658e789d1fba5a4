package e2ebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{EwmaStreamFold, Ingest, QuantileStreamFold}

/** `ingest`: the reference's write path. An open-loop generator lands
  * Kafka-shaped records one file each while `Ingest` decodes, enriches and
  * sinks them beside the EWMA and quantile folds; the same pipeline then
  * drains a pre-landed backlog on fresh checkpoints; finally
  * `etl.BatchJob.run` processes a landing zone of one-record JSON files. */
final class IngestWorkload(ctx: Ctx) {
  private val r = ctx.report
  private val scale = if (ctx.smoke) 0.1 else 1.0
  /** Open-loop rate in records/s, well under the pipeline's capacity. */
  private val rate = 15.0
  private val backlogFiles = 8
  private val backlogPerFile = (1500 * scale).toInt
  private val maxFilesPerTrigger = 4
  private val etlFiles = (100 * scale).toInt
  private val drains = if (ctx.smoke) 1 else 3
  private val etlRuns = if (ctx.smoke) 1 else 3
  private val warmRounds = if (ctx.smoke) 1 else 2
  private val grain = 10.0
  private val lateLimitS = 0.1
  private val preroll = 5

  private val kafkaSchema = StructType(Seq(
    StructField("value", StringType), StructField("offset", LongType),
    StructField("partition", IntegerType)))
  private val cities = Array("Delhi", "London", "Tokyo", "Lagos", "Lima")

  /** Deterministic wire record (producer.py's flattened shape). */
  private final case class Rec(location: String, pm25: Float, json: String)

  private def record(stream: Int, i: Long, epochS: Long): Rec = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + stream * 1000000007L + i)
    def f(max: Double): Float = (math.round(rnd.nextDouble() * max * 10) / 10.0).toFloat
    val loc = cities(rnd.nextInt(cities.length))
    val pm25 = f(300)
    val t = java.time.Instant.ofEpochSecond(epochS).atZone(java.time.ZoneOffset.UTC)
    val json = Json.obj(Seq(
      "location" -> Json.str(loc), "region" -> Json.str("Region"),
      "country" -> Json.str("Country"),
      "localtime" -> Json.str(t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm"))),
      "temp_c" -> (rnd.nextInt(45) - 5).toString, "humidity" -> rnd.nextInt(100).toString,
      "condition" -> Json.str("Clear"),
      "timestamp" -> Json.str(t.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)),
      "co" -> f(30).toString, "no2" -> f(100).toString, "o3" -> f(200).toString,
      "so2" -> f(50).toString, "pm2_5" -> pm25.toString, "pm10" -> f(400).toString))
    Rec(loc, pm25, json)
  }

  private val epoch0 = 1704067200L // 2024-01-01T00:00:00Z

  private def kafka(offset: Long, json: String): String =
    Json.obj(Seq("value" -> Json.str(json), "offset" -> offset.toString,
      "partition" -> (offset % 3).toString))

  /** Write to a hidden temp name, then rename: the file source never sees
    * a partial file. */
  private def land(dir: String, name: String, body: String): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private final case class Pipeline(tag: String, sinkPath: String, sinkCkpt: String,
                                    queries: Seq[StreamingQuery], ewma: EwmaStreamFold,
                                    quant: QuantileStreamFold) {
    def await(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
  }

  private def pipeline(spark: SparkSession, landing: String, tag: String,
                       maxFiles: Option[Int]): Pipeline = {
    val reader = spark.readStream.schema(kafkaSchema)
    maxFiles.foreach(m => reader.option("maxFilesPerTrigger", m.toLong))
    val decoded = Ingest.decodeKafkaShape(reader.json(landing))
    val sinkPath = ctx.dir(s"$tag/sink")
    val sinkCkpt = ctx.dir(s"$tag/ckpt_sink")
    // The returned writer's 10 s trigger would add a uniform 0-10 s wait
    // that no engine change can move; run it back to back instead.
    val sink = Ingest.sink(Ingest.enrich(decoded), sinkPath, sinkCkpt)
      .trigger(Trigger.ProcessingTime(0L)).queryName(s"${tag}_sink").start()
    val ewma = new EwmaStreamFold
    val eq = ewma.start(decoded.select(to_timestamp(col("timestamp")).as("ts"),
      col("location").as("event_type"), col("pm2_5").cast("double").as("value")),
      ctx.dir(s"$tag/ckpt_ewma"))
    val quant = new QuantileStreamFold(grain)
    val qq = quant.start(decoded.select(col("pm2_5").cast("double").as("pm2_5")), "pm2_5",
      ctx.dir(s"$tag/ckpt_quantile"))
    Pipeline(tag, sinkPath, sinkCkpt, Seq(sink, eq, qq), ewma, quant)
  }

  /** Open loop: one generator thread lands `n` records at `rate`. */
  private final case class OpenLoop(p: Pipeline, n: Int, dueNs: Array[Long],
                                    wroteNs: Array[Long], late: Array[Double])

  private def openLoop(spark: SparkSession, tag: String, n: Int): OpenLoop = {
    val landing = ctx.dir(s"$tag/landing")
    val p = pipeline(spark, landing, tag, None)
    // a few records before the clock starts, so that no timed record waits
    // for the queries' first batches
    for (j <- 0 until preroll) land(landing, f"pre-$j%03d.json", kafka(n + j, record(0, n + j, epoch0).json))
    p.await()
    val due = new Array[Long](n)
    val wrote = new Array[Long](n)
    val late = new Array[Double](n)
    val start = System.nanoTime() + 50000000L
    val periodNs = 1e9 / rate
    for (i <- 0 until n) {
      due(i) = start + (i * periodNs).toLong
      var wait = due(i) - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = due(i) - System.nanoTime() }
      land(landing, f"rec-$i%08d.json", kafka(i, record(0, i, epoch0 + i).json))
      wrote(i) = System.nanoTime()
      late(i) = (wrote(i) - due(i)) / 1e9
    }
    p.await()
    p.stop()
    OpenLoop(p, n, due, wrote, late)
  }

  /** Batch id of every landed file and commit time (nanoTime base) of
    * every batch, read back from the sink's checkpoint logs. */
  private def batchesOf(ckpt: String): (Map[String, Long], Map[Long, Long]) = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val files = Option(new File(ckpt, "sources/0").listFiles()).getOrElse(Array.empty[File])
    val fileBatch = files.filter(f => !f.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).toArray.map(_.toString).flatMap(entry.findFirstMatchIn).map { m =>
        new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong
      }
    }.toMap
    val commits = Option(new File(ckpt, "commits").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.forall(_.isDigit)).map { f =>
        f.getName.toLong ->
          (Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS) * 1000L + ctx.wallToNano)
      }.toMap
    (fileBatch, commits)
  }

  /** Freshness of every record: scheduled creation to its batch's commit. */
  private def freshness(o: OpenLoop): (Seq[Double], Int, Double, Double) = {
    val (fileBatch, commits) = batchesOf(o.p.sinkCkpt)
    val fresh = (0 until o.n).flatMap { i =>
      fileBatch.get(f"rec-$i%08d.json").flatMap(commits.get).map(c => (c - o.dueNs(i)) / 1e9)
    }
    if (fresh.size != o.n) r.fail(s"${o.p.tag}: ${o.n - fresh.size} records not found in a committed batch")
    // files landed but not yet committed, at each batch commit
    val perBatch = fileBatch.filter(_._1.startsWith("rec-")).groupBy(_._2).map { case (b, fs) => b -> fs.size }
    val order = commits.toSeq.filter(c => perBatch.contains(c._1)).sortBy(_._1)
    var done = 0
    val backlog = order.map { case (b, c) =>
      done += perBatch.getOrElse(b, 0)
      o.wroteNs.count(_ <= c) - done
    }
    val half = backlog.size / 2
    def mean(xs: Seq[Int]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val gaps = order.map(_._2).sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq
    r.record ++= Seq("open_batches" -> order.size.toString,
      "open_batch_gap_p50_s" -> Json.num(Stats.median(gaps)),
      "open_batch_gap_max_s" -> Json.num(if (gaps.isEmpty) 0.0 else gaps.max),
      "open_files_per_batch_p50" -> Json.num(Stats.median(perBatch.values.map(_.toDouble).toSeq)))
    (fresh, if (backlog.isEmpty) 0 else backlog.max, mean(backlog.take(half)), mean(backlog.drop(half)))
  }

  private def landBacklog(): String = {
    val dir = ctx.dir("backlog")
    for (f <- 0 until backlogFiles) {
      val body = (0 until backlogPerFile).map { j =>
        val off = f.toLong * backlogPerFile + j
        kafka(off, record(1, off, epoch0 + off).json)
      }.mkString("\n")
      land(dir, f"part-$f%05d.json", body)
    }
    dir
  }

  /** consumer.py's landing-zone layout: one enriched record per file. */
  private def landEtl(): (String, Int) = {
    val dir = ctx.dir("etl_landing")
    val keys = mutable.Set[(String, String)]()
    for (i <- 0 until etlFiles) {
      val rec = record(2, i, epoch0 + i)
      val p = rec.pm25.toDouble
      keys += rec.location -> (if (p <= 12) "Good" else if (p <= 35) "Moderate"
        else if (p <= 55) "Unhealthy for Sensitive Groups" else if (p <= 150) "Unhealthy"
        else if (p <= 250) "Very Unhealthy" else "Hazardous")
      val enriched = rec.json.dropRight(1) +
        s""", "processed_timestamp": "2024-01-01T00:00:00", "kafka_offset": $i, "kafka_partition": 0}"""
      land(dir, f"record-$i%06d.json", enriched)
    }
    (dir, keys.size)
  }

  private def drain(spark: SparkSession, backlog: String, tag: String): (Pipeline, Double) = {
    val t0 = System.nanoTime()
    val p = pipeline(spark, backlog, tag, Some(maxFilesPerTrigger))
    p.await()
    val t = (System.nanoTime() - t0) / 1e9
    p.stop()
    (p, t)
  }

  private def etl(spark: SparkSession, landing: String, tag: String): ((Long, Long), Double) = {
    spark.sparkContext.setLocalProperty("e2e.phase", "etl")
    try ctx.time(graft.etl.BatchJob.run(spark, landing, s"${ctx.work}/$tag/history",
      s"${ctx.work}/$tag/summary"))
    finally spark.sparkContext.setLocalProperty("e2e.phase", null)
  }

  def run(): Unit = {
    val openN = math.max(20, (rate * ctx.seconds * 0.5).toInt)
    val sess, total = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var backlog, etlLanding = ""
    var etlKeys = 0
    for (rep <- 1 to ctx.setupReps) {
      if (spark != null) spark.stop()
      val t0 = if (rep == 1) ctx.jvmStartNs else System.nanoTime()
      val (s, ts) = ctx.time(ctx.newSession(rep))
      spark = s
      sess += ts
      if (rep == 1) {
        backlog = landBacklog()
        val (d, k) = landEtl()
        etlLanding = d
        etlKeys = k
      }
      total += (System.nanoTime() - t0) / 1e9
    }
    // The warm-up, once, on the session the timed phase uses: untimed
    // rounds of a drain and a BatchJob.run; with one round the JIT was
    // still compiling through the timed drains and ETL runs. Set-up time
    // is a session set-up (the median of the repetitions) plus this warm-up.
    val (_, warm) = ctx.time((1 to warmRounds).foreach { k =>
      drain(spark, backlog, s"warm$k/drain")
      etl(spark, etlLanding, s"warm$k/etl")
    })
    val setup = Stats.median(total.toSeq) + warm
    r.record ++= Seq("setup_runs_s" -> total.map(Json.num).mkString("[", ", ", "]"),
      "warmup_s" -> Json.num(warm))

    val progress = new StreamProgress
    val jobs = new JobCounters
    val plainDrain = if (ctx.trace) {
      val (_, t) = drain(spark, backlog, "drain_untraced")
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(jobs)
      Some(t)
    } else None

    val h0 = HostSnap.now()
    // the drains come first, so the open loop runs on a warm pipeline
    progress.phase = "drain"
    val drained = (1 to drains).map(k => drain(spark, backlog, s"drain$k"))
    progress.phase = "open"
    val o0 = HostSnap.now()
    val open = openLoop(spark, "open", openN)
    r.record("open_steal_frac") = Json.num(HostSnap.receipts(o0, HostSnap.now()).head._2)
    progress.phase = "etl"
    val etls = (1 to etlRuns).map(k => etl(spark, etlLanding, s"etl$k"))
    val h1 = HostSnap.now()
    r.attempted += open.n + preroll + drained.size * backlogFiles.toLong * backlogPerFile + etls.size * etlFiles

    val (fresh, backlogMax, backlogFirst, backlogSecond) = freshness(open)
    val drainRate = Stats.median(drained.map(d => backlogFiles.toDouble * backlogPerFile / d._2))
    val lateP99 = Stats.quantile(open.late.toSeq, 0.99)
    r.record ++= Seq("open_loop_records" -> open.n.toString, "rate_per_s" -> Json.num(rate),
      "backlog_rows" -> (backlogFiles * backlogPerFile).toString,
      "etl_files" -> etlFiles.toString,
      "drain_s" -> drained.map(d => Json.num(d._2)).mkString("[", ", ", "]"),
      "etl_runs_s" -> etls.map(e => Json.num(e._2)).mkString("[", ", ", "]"),
      "backlog_max_files" -> backlogMax.toString,
      "backlog_mean_first_half" -> Json.num(backlogFirst),
      "backlog_mean_second_half" -> Json.num(backlogSecond),
      "gen_late_p99_s" -> Json.num(lateP99), "gen_late_limit_s" -> Json.num(lateLimitS))
    HostSnap.receipts(h0, h1).foreach { case (k, v) => r.record(k) = Json.num(v) }
    // a record's freshness is its latency, a drain's rows/s its throughput
    // and a BatchJob.run its batch
    if (!ctx.trace) r.endToEnd(setup, Stats.median(fresh),
      Stats.quantile(fresh, 0.9), drainRate, Stats.median(etls.map(_._2)))

    // Correctness gate, outside every timed metric: every pipeline's
    // replay, and the folds of the open loop.
    val serve = check(spark, open.p, open.n.toLong + preroll, folds = true)
    drained.foreach(d => check(spark, d._1, backlogFiles.toLong * backlogPerFile, folds = false))
    etls.zipWithIndex.foreach { case (((hist, summary), _), k) =>
      if (hist != etlFiles || summary != etlKeys)
        r.fail(s"etl$k: BatchJob.run returned ($hist, $summary), expected ($etlFiles, $etlKeys)")
    }

    if (ctx.trace) {
      jobs.drain()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
      traceLayers(progress, jobs, open, serve, backlogMax, lateP99,
        Stats.median(sess.toSeq), drainRate, plainDrain.get, h0, h1)
    }
  }

  /** Replay count and distinct offsets against what was generated and,
    * with `folds`, each fold's serve against its batch twin over the
    * replay. Returns the fold serve times and state size. */
  private def check(spark: SparkSession, p: Pipeline, n: Long,
                    folds: Boolean): (Double, Double, Long) = {
    val replay = Ingest.replay(spark, p.sinkPath)
    val row = replay.agg(count(lit(1)), countDistinct(col("kafka_offset"))).head()
    if (row.getLong(0) != n || row.getLong(1) != n)
      r.fail(s"${p.tag}: replay has ${row.getLong(0)} rows, ${row.getLong(1)} distinct offsets; generated $n")
    if (!folds) return (0.0, 0.0, 0L)
    val twinDir = ctx.dir(s"${p.tag}/twin")
    replay.select(to_timestamp(col("timestamp")).as("ts"), col("location").as("event_type"),
      col("pm2_5").cast("double").as("value")).write.parquet(s"$twinDir/events.parquet")
    val twin = graft.ext.WindowFns.w15EwmaBaseline(spark, twinDir).collect().map(_.toString).sorted.toSeq
    val (served, ewmaS) = ctx.time(p.ewma.serve(spark).collect().map(_.toString).sorted.toSeq)
    if (served != twin) r.fail(s"${p.tag}: EWMA fold serve differs from its batch twin")
    val hist = replay.filter(col("pm2_5").isNotNull)
      .groupBy(floor(col("pm2_5").cast("double") / grain).cast("long").as("bin")).count()
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    val rebuilt = new QuantileStreamFold(grain)
    rebuilt.rebuildFrom(replay.select(col("pm2_5").cast("double").as("pm2_5")), "pm2_5")
    val (bounds, quantS) = ctx.time((p.quant.bounds(8), p.quant.serveApproxPercentile(0.9)))
    if (p.quant.histogram != hist || bounds != (rebuilt.bounds(8), rebuilt.serveApproxPercentile(0.9)))
      r.fail(s"${p.tag}: quantile fold serve differs from its batch twin")
    (ewmaS, quantS, served.size.toLong + hist.size)
  }

  private def traceLayers(progress: StreamProgress, jobs: JobCounters, open: OpenLoop,
                          serve: (Double, Double, Long), backlogMax: Int, lateP99: Double,
                          sessionStart: Double, drainRate: Double, plainDrain: Double,
                          h0: HostSnap, h1: HostSnap): Unit = {
    val batches = progress.batches.toArray(Array.empty[progress.Batch]).toSeq.filter(_.phase == "open")
    val sinkId = open.p.queries.head.id.toString
    val sink = batches.filter(_.queryId == sinkId)
    def p50(bs: Seq[progress.Batch], k: String): Double =
      Stats.median(bs.map(_.durMs.getOrElse(k, 0L) / 1e3))
    val sinkFiles = Option(new File(open.p.sinkPath).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet"))
    val etlOut = (1 to etlRuns).flatMap { k =>
      Seq("history", "summary").flatMap(d => walk(new File(s"${ctx.work}/etl$k/$d")))
    }.filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val etlC = jobs.phase("etl")
    val plainRate = backlogFiles.toDouble * backlogPerFile / plainDrain
    r.layer ++= Seq(
      "sessions.start_s" -> (sessionStart, "s"),
      "stream.batches" -> (sink.size.toDouble, "count"),
      "stream.batch_p50_s" -> (p50(sink, "triggerExecution"), "s"),
      "stream.batch_p90_s" -> (Stats.quantile(sink.map(_.durMs.getOrElse("triggerExecution", 0L) / 1e3), 0.9), "s"),
      "stream.latest_offset_s" -> (p50(sink, "latestOffset"), "s"),
      "stream.get_batch_s" -> (p50(sink, "getBatch"), "s"),
      "stream.add_batch_s" -> (p50(sink, "addBatch"), "s"),
      "stream.wal_commit_s" -> (p50(sink, "walCommit"), "s"),
      "stream.commit_offsets_s" -> (p50(sink, "commitOffsets"), "s"),
      "stream.backlog_max_files" -> (backlogMax.toDouble, "count"),
      "fold.ewma.batch_p50_s" -> (p50(batches.filter(_.queryId == open.p.queries(1).id.toString), "triggerExecution"), "s"),
      "fold.quantile.batch_p50_s" -> (p50(batches.filter(_.queryId == open.p.queries(2).id.toString), "triggerExecution"), "s"),
      "fold.ewma.serve_s" -> (serve._1, "s"),
      "fold.quantile.serve_s" -> (serve._2, "s"),
      "fold.state_rows" -> (serve._3.toDouble, "count"),
      "sink.files" -> (sinkFiles.length.toDouble, "count"),
      "sink.bytes_per_row" -> (sinkFiles.map(_.length).sum.toDouble / open.n, "bytes"),
      "etl.jobs" -> (etlC.jobs.get.toDouble / etlRuns, "count"),
      "etl.tasks" -> (etlC.tasks.get.toDouble / etlRuns, "count"),
      "etl.files_written" -> (etlOut.size.toDouble / etlRuns, "count"),
      "etl.bytes_written" -> (etlOut.map(_.length).sum.toDouble / etlRuns, "bytes"),
      "gen.late_p99_s" -> (lateP99, "s"),
      "trace.overhead_frac" -> (plainRate / drainRate - 1.0, "ratio"))
    HostSnap.receipts(h0, h1).foreach { case (k, v) => r.layer(k) = (v, if (k.endsWith("_s")) "s" else "ratio") }
    // stream batch spans: one root per sink or fold batch, its phases as children
    batches.foreach { b =>
      val start = b.startMs * 1000000L + ctx.wallToNano
      val end = start + b.durMs.getOrElse("triggerExecution", 0L) * 1000000L
      val role = if (b.queryId == sinkId) "sink" else if (b.queryId == open.p.queries(1).id.toString) "fold.ewma" else "fold.quantile"
      val key = s"$role#${b.batchId}"
      val root = ctx.spans.add(0, key, s"$role.batch", start, end)
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        val d = b.durMs.getOrElse(k, 0L) * 1000000L
        ctx.spans.add(root, key, s"$role.$k", t, t + d)
        t += d
      }
    }
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.exists) Seq(f) else Nil
}
