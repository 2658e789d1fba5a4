package e2ebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one run reports: end-to-end metrics (untraced), per-layer metrics
  * (traced), operation counts, failures and the run's settings. */
final class Report {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val record = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  def fail(what: String): Unit = synchronized {
    failures += what
    System.err.println(s"[e2ebench] FAILED: $what")
  }

  /** The end-to-end metrics under the names every workload shares: set-up
    * time, latency of one operation at p50 and p90, operations per second
    * and the wall time of one batch of work. */
  def endToEnd(setup: Double, p50: Double, p90: Double, perS: Double, batch: Double): Unit = {
    e2e ++= Seq("setup_s" -> (setup, "s"), "latency_p50_s" -> (p50, "s"),
      "latency_p90_s" -> (p90, "s"), "throughput_per_s" -> (perS, "1/s"), "batch_s" -> (batch, "s"))
    e2e.foreach { case (k, (v, _)) => record(k) = Json.num(v) }
  }

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failures.size.toString,
    "failures" -> failures.take(50).map(Json.str).mkString("[", ", ", "]"),
    "e2e" -> metrics(e2e),
    "layer" -> metrics(layer),
    "record" -> Json.obj(record.toSeq)))
}

/** Settings shared by every workload. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     smoke: Boolean, data: String, work: String, cores: Int,
                     spans: Spans, report: Report) {
  /** Session set-up repetitions; `setup_s` is their median plus the
    * workload's warm-up, which runs once. */
  val setupReps: Int = if (smoke) 1 else 3
  val jvmStartNs: Long = System.nanoTime() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  /** Offset that turns a wall-clock millisecond into a nanoTime value. */
  val wallToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def dir(name: String): String = {
    val f = new File(work, name)
    f.mkdirs()
    f.getPath
  }

  /** A fresh session with the engine's standard configuration, an empty
    * IndexStore root of its own and every scratch location inside the
    * run's work dir. */
  def newSession(rep: Int): SparkSession = {
    System.setProperty("graft.index.store", dir(s"index_store_$rep"))
    val spark = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", dir(s"warehouse_$rep"))
      .config("spark.local.dir", dir("spark_local"))
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val out = arg(args, "--out").getOrElse(sys.error("--out is required"))
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val ctx = Ctx(workload,
      arg(args, "--seed").map(_.toLong).getOrElse(1L),
      arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      arg(args, "--trace").contains("1"),
      args.contains("--smoke"),
      arg(args, "--data").getOrElse(sys.error("--data is required")),
      arg(args, "--work").getOrElse(sys.error("--work is required")),
      cores, new Spans, new Report)
    val r = ctx.report
    r.record ++= Seq(
      "master" -> Json.str(s"local[$cores]"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "index_store" -> Json.str("empty per set-up, inside the run's work dir"),
      "setup_reps" -> ctx.setupReps.toString,
      "trace" -> ctx.trace.toString)
    try workload match {
      case "dashboard" => new QueryWorkload(ctx).run()
      case "ingest" => new IngestWorkload(ctx).run()
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
    }
    arg(args, "--spans").foreach(p => Files.writeString(Paths.get(p), ctx.spans.toJson(ctx.jvmStartNs)))
    Files.writeString(Paths.get(out), r.toJson)
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}
