package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one call into one layer, or one op (layer `op`), or one Spark
  * job (layer `spark`). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. Off (the untraced run) it only runs the body.
  * On, each `span` call records one span whose parent is the innermost
  * open span of the calling thread, and publishes its id as a Spark local
  * property so jobs the body submits join it (see [[SparkCounters]]). */
final class Tracer(@volatile var on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span, op)
  @volatile var sc: Option[SparkContext] = None

  def nextId(): Long = ids.incrementAndGet()

  /** Root span of op `op`; the op id is also the Spark job group. */
  def op[T](op: Long)(body: => T): T = {
    if (!on) return body
    sc.foreach(_.setJobGroup(s"op-$op", s"perfbench op $op", interruptOnCancel = false))
    try run("op", "op", op, body) finally sc.foreach(_.clearJobGroup())
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val opId = stack.get().headOption.map(_._2).getOrElse(0L)
    run(layer, name, opId, body)
  }

  private def run[T](layer: String, name: String, opId: Long, body: => T): T = {
    val id = nextId()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, opId) :: outer)
    sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, layer, name, t0, System.nanoTime()))
      stack.set(outer)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
        outer.headOption.map(_._1.toString).orNull))
    }
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * children cover, summed over the layer's spans. */
  def selfNanosByLayer(): Map[String, Long] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start) - covered
      }.sum
    }
  }

  private def union(iv: Vector[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark-layer counters, registered only in the traced run. Jobs are
  * attributed to ops through their job group and recorded as `spark`
  * spans under the benchmark span that submitted them. */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runNs, cpuNs, gcMs, waitMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (System.nanoTime(), parent, opOf(e.properties)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, op) =>
      tracer.spans.add(Span(tracer.nextId(), parent, op, "spark", s"job-${e.jobId}",
        t0, System.nanoTime()))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmitted.get(e.stageId)).foreach(t =>
      waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "runNs" -> runNs.get, "cpuNs" -> cpuNs.get, "gcMs" -> gcMs.get, "waitMs" -> waitMs.get,
    "shuffleWrite" -> shuffleWrite.get, "shuffleRead" -> shuffleRead.get,
    "spill" -> spill.get, "inputBytes" -> inputBytes.get, "inputRecords" -> inputRecords.get)
}

/** Host-contention reading from `/proc`, taken before and after a run:
  * CPU stolen by the hypervisor, CPU used by every other process, and
  * the 1-minute load average. A run with high readings identifies
  * itself as measured on a busy host. */
final case class HostReading(stealTicks: Long, busyTicks: Long, selfTicks: Long,
                             loadavg1: Double)

object HostReading {
  private val TicksPerS = 100.0 // USER_HZ on Linux

  def now(): HostReading = {
    def read(p: String): String =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      catch { case _: java.io.IOException => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val steal = if (cpu.length > 7) cpu(7) else 0L
    val self = read("/proc/self/stat") match {
      case "" => 0L
      case s =>
        val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
        f(11).toLong + f(12).toLong // utime stime (fields 14, 15)
    }
    val load = read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)
    HostReading(steal, busy, self, load)
  }

  /** (steal s, other processes' CPU s, load average at the end). */
  def delta(a: HostReading, b: HostReading): (Double, Double, Double) = (
    (b.stealTicks - a.stealTicks) / TicksPerS,
    math.max(0L, (b.busyTicks - a.busyTicks) - (b.selfTicks - a.selfTicks)) / TicksPerS,
    b.loadavg1)
}
