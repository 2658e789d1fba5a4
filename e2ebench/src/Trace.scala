package e2ebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Spans of one query execution or
  * one stream batch share `key`; `parent` is the id of the enclosing span
  * (0 for a root). Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, key: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written once when the run ends. */
final class Spans {
  private val next = new AtomicLong(1)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def add(parent: Long, key: String, name: String, startNs: Long, endNs: Long): Long = {
    val id = next.getAndIncrement()
    buf.add(Span(id, parent, key, name, startNs, endNs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfNs: Map[Long, Long] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson(origin: Long): String = all.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "key" -> Json.str(s.key), "name" -> Json.str(s.name),
      "start_s" -> Json.num((s.startNs - origin) / 1e9),
      "dur_s" -> Json.num(s.durNs / 1e9)))
  }.mkString("[\n", ",\n", "\n]")
}

/** Task and job counters attributed to the phase named by the
  * `e2e.phase` local property of the thread that submitted the job. */
final class JobCounters extends SparkListener {
  final class C {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val readBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong; val spillBytes = new AtomicLong
  }
  private val byPhase = new ConcurrentHashMap[String, C]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def phase(p: String): C = byPhase.computeIfAbsent(p, _ => new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty("e2e.phase")))
      .getOrElse("other")
    e.stageIds.foreach(stagePhase.put(_, p))
    phase(p).jobs.incrementAndGet()
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = phase(Option(stagePhase.get(e.stageId)).getOrElse("other"))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.readBytes.addAndGet(m.inputMetrics.bytesRead)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has been seen to end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }
}

/** Per-batch durations from Structured Streaming's progress events,
  * keyed by query id and the workload phase current when they arrived. */
final class StreamProgress extends StreamingQueryListener {
  @volatile var phase = "other"
  final case class Batch(queryId: String, phase: String, batchId: Long,
                         rows: Long, durMs: Map[String, Long], startMs: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(p.id.toString, phase, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        java.time.Instant.parse(p.timestamp).toEpochMilli))
  }
}

/** Host-noise receipts: CPU steal share of the whole machine, this
  * process's CPU seconds and the JVM's GC seconds. */
final case class HostSnap(stealTicks: Long, totalTicks: Long, cpuNs: Long, gcMs: Long)

object HostSnap {
  def now(): HostSnap = {
    val cpu = scala.util.Using(scala.io.Source.fromFile("/proc/stat"))(
      _.getLines().next()).toOption
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    HostSnap(cpu(7), cpu.sum, os.getProcessCpuTime, gc)
  }

  def receipts(a: HostSnap, b: HostSnap): Seq[(String, Double)] = {
    val ticks = math.max(1L, b.totalTicks - a.totalTicks)
    Seq("host.steal_frac" -> (b.stealTicks - a.stealTicks).toDouble / ticks,
      "proc.cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "jvm.gc_s" -> (b.gcMs - a.gcMs) / 1e3)
  }
}
