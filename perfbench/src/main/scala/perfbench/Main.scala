package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Outcome of one timed op: the latency of the engine call alone, the
  * cells it returned or committed, and its check. The loop runs the check
  * after its timed window ends, so checking never counts as op time; it
  * returns the reason the answer is wrong, if it is. */
final case class OpResult(latNs: Long, cells: Long, check: () => Option[String] = OpResult.Pass)

object OpResult {
  val Pass: () => Option[String] = () => None
  def failed(latNs: Long, error: String): OpResult = OpResult(latNs, 0L, () => Some(error))
}

/** A metric as printed: name, value and unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload gets from the harness. */
final class Ctx(val seed: Long, val work: Path, val tracer: Tracer) {
  @volatile var spark: SparkSession = _
  def dir(name: String): String = work.resolve(name).toString
}

/** One closed-loop workload. `setup` is called once per set-up repetition
  * and must regenerate identical inputs from the seed into fresh storage;
  * the last repetition's inputs are the ones measured. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def needsSpark: Boolean = true
  def clients: Int = 1
  /** Whether ops return cells, so `cells_per_s` applies. */
  def reportsCells: Boolean = false
  /** The benchmark's own ground truth, computed once before set-up and
    * outside its timing: it is checking work, not the engine's. */
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  /** Op `seq` of `client`. Warm-up ops have negative `seq` (-1 is the
    * one counted in `setup_s`); timed ops count up from `client`. */
  def op(client: Int, seq: Long): OpResult
  /** Untimed ops after the one counted in `setup_s`, so the JIT has
    * compiled the op's path before timing starts. A fixed count, so every
    * run starts its timed loop from the same state. */
  def warmOps: Int = 0
  /** Checks that only make sense after the loop (final state). */
  def finalCheck(): Seq[String] = Nil
  /** Workload-specific end-to-end metrics over the timed loop. */
  def e2eExtras(): Seq[Metric] = Nil
  /** Per-layer metrics from the traced loop and the layer calibrations. */
  def layerMetrics(traced: LoopStats): Seq[Metric] = Nil
}

final case class LoopStats(ops: Long, failed: Long, wallNs: Long, latNs: Array[Long],
                           cells: Long) {
  def opsPerS: Double = ops / (wallNs / 1e9)
  def pct(q: Double): Double = Stats.pct(latNs, q)
}

object Stats {
  /** Linear-interpolated quantile of unsorted nanosecond samples, in ms. */
  def pct(xs: Array[Long], q: Double): Double = pctRaw(xs.map(_.toDouble), q) / 1e6
  def pctRaw(xs0: Array[Double], q: Double): Double = {
    if (xs0.isEmpty) return 0.0
    val xs = xs0.sorted
    val pos = (xs.length - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, xs.length - 1)
    xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pctRaw(xs.toArray, 0.5)
}

object Main {
  val Workloads: Seq[String] = Seq("scan_merge", "lookup_serve", "ingest_compact", "dedup_ann")
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Spark threads and lookup clients. Two of the box's four cores: the
    * other two absorb JIT, GC and neighbouring load, which keeps run-to-run
    * spread low on a shared host. */
  val Cores = math.min(2, Runtime.getRuntime.availableProcessors())

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench/target/work")).toAbsolutePath
      .resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    // `train` runs every workload briefly: the launcher records the
    // classes it loads as a class-data-sharing archive for later runs
    val code = try {
      if (workload == "train") Workloads.map(w => run(w, 0L, 0.5, trace = false,
        work.resolve(w), reps = 1)).max
      else {
        require(Workloads.contains(workload),
          s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
        run(workload, seed, seconds, trace, work)
      }
    } finally deleteRecursive(work)
    sys.exit(code)
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "scan_merge" => new ScanMerge(ctx)
    case "lookup_serve" => new LookupServe(ctx)
    case "ingest_compact" => new IngestCompact(ctx)
    case "dedup_ann" => new DedupAnn(ctx)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.pb", classOf[graft.sources.sstable.spark.GraftCatalog].getName)
      .config("spark.sql.catalog.pb.warehouse", work.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
          reps: Int = SetupReps): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = HostReading.now()
    val tracer = new Tracer(false)
    val ctx = new Ctx(seed, work, tracer)
    val w = make(name, ctx)
    if (w.needsSpark || trace) {
      ctx.spark = session(work)
      tracer.sc = Some(ctx.spark.sparkContext)
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    w.prepare()
    // set-up proper (input generation and table writes) repeats `reps`
    // times into fresh storage and counts with its median; the one
    // warm-up op then runs on the last repetition's tables
    val setupTimes = (0 until (if (trace) 1 else reps)).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.op(0, -1L).check().foreach(e => throw new IllegalStateException(s"warm-up op failed: $e"))
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    val t1 = System.nanoTime()
    (0 until w.warmOps).foreach { i =>
      w.op(0, -2L - i).check().foreach(e => throw new IllegalStateException(s"warm-up op ${i + 2} failed: $e"))
    }
    println(f"setup: jvm+session $sessionS%.3f s, set-up repetitions " +
      f"${setupTimes.map(t => f"$t%.3f").mkString(" ")} s, warm-up op $warmS%.3f s " +
      f"(then ${w.warmOps} untimed warm-up ops, ${(System.nanoTime() - t1) / 1e9}%.3f s)")

    val opIds = new AtomicLong(0)
    val base = loop(w, seconds, opIds)
    val loops = ArrayBuffer(base)
    val (loopStats, layer) =
      if (!trace) (base, Nil)
      else {
        val counters = new SparkCounters(tracer)
        tracer.sc.foreach(_.addSparkListener(counters))
        tracer.on = true
        val traced = loop(w, seconds, opIds)
        tracer.on = false
        val snap = counters.snapshot()
        tracer.sc.foreach(_.removeSparkListener(counters))
        // untraced loops on both sides of the traced one, so JIT warm-up
        // does not pass for tracing overhead
        val after = loop(w, seconds, opIds)
        loops ++= Seq(traced, after)
        val untracedOpsPerS = (base.opsPerS + after.opsPerS) / 2
        (traced, layerMetricsOf(w, traced, snap, untracedOpsPerS, tracer, host0))
      }
    val finalErrors = w.finalCheck()
    finalErrors.foreach(e => println(s"CHECK FAILED (final state): $e"))
    // the final-state check counts as one more attempted op (a failed
    // warm-up op has already stopped the run)
    val failed = loops.map(_.failed).sum + (if (finalErrors.nonEmpty) 1 else 0)
    val attempted = loops.map(_.ops).sum + 1
    val rssMb = peakRssMb()

    val e2e = ArrayBuffer(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", base.opsPerS, "ops/s"),
      Metric("latency_p50_ms", base.pct(0.5), "ms"),
      Metric("failed_ops_ratio", failed.toDouble / attempted, "ratio"),
      Metric("peak_rss_mb", rssMb, "MB"))
    if (base.latNs.length >= 100) e2e += Metric("latency_p90_ms", base.pct(0.9), "ms")
    if (base.latNs.length >= 1000) e2e += Metric("latency_p99_ms", base.pct(0.99), "ms")
    if (w.reportsCells) e2e += Metric("cells_per_s", base.cells / (base.wallNs / 1e9), "cells/s")
    e2e ++= w.e2eExtras()
    val hostMs = hostMetrics(host0)

    println(s"workload $name seed $seed: ${base.ops} timed ops (${base.latNs.length} latency samples), " +
      s"${w.clients} client(s), closed loop, ${f"${base.wallNs / 1e9}%.3f"} s")
    (e2e ++ hostMs).foreach(m => println(f"  ${m.name}%-28s ${fmt(m.value)}%16s ${m.unit}"))
    if (trace) {
      println(s"per-layer (traced run, ${loopStats.ops} ops):")
      layer.foreach(m => println(f"  ${m.name}%-44s ${fmt(m.value)}%16s ${m.unit}"))
      val out = work.getParent.getParent.resolve("spans").resolve(s"$name-$seed.jsonl")
      tracer.writeJsonLines(out)
      println(s"spans: ${tracer.spans.size} written to $out")
    }
    val metrics = if (trace) layer else e2e ++ hostMs
    val correct = failed == 0
    println("{\"correct\": " + correct + ", \"attempted\": " + attempted + ", \"failed\": " + failed +
      ", \"metrics\": {" + metrics.map(m =>
        "\"" + m.name + "\": {\"value\": " + json(m.value) + ", \"unit\": \"" + m.unit + "\"}")
        .mkString(", ") + "}}")
    if (ctx.spark != null) ctx.spark.stop()
    if (correct) 0 else 1
  }

  private def hostMetrics(from: HostReading): Seq[Metric] = {
    val (steal, other, load) = HostReading.delta(from, HostReading.now())
    Seq(Metric("host.steal_s", steal, "s"), Metric("host.other_cpu_s", other, "s"),
      Metric("host.loadavg_1m", load, "load"))
  }

  private def layerMetricsOf(w: Workload, traced: LoopStats, snap: Map[String, Long],
                             untracedOpsPerS: Double, tracer: Tracer,
                             host0: HostReading): Seq[Metric] = {
    val ops = math.max(1L, traced.ops).toDouble
    val wallS = traced.wallNs / 1e9
    val selfNs = tracer.selfNanosByLayer()
    val spark = Seq(
      Metric("spark.jobs", snap("jobs") / ops, "jobs/op"),
      Metric("spark.stages", snap("stages") / ops, "stages/op"),
      Metric("spark.tasks", snap("tasks") / ops, "tasks/op"),
      Metric("spark.executor_run_s", snap("runNs") / 1e9 / ops, "s/op"),
      Metric("spark.executor_cpu_s", snap("cpuNs") / 1e9 / ops, "s/op"),
      Metric("spark.gc_s", snap("gcMs") / 1e3 / ops, "s/op"),
      Metric("spark.task_wait_s", snap("waitMs") / 1e3 / ops, "s/op"),
      Metric("spark.cpu_per_wall", snap("cpuNs") / 1e9 / wallS, "ratio"),
      Metric("spark.shuffle_write_bytes", snap("shuffleWrite") / ops, "B/op"),
      Metric("spark.shuffle_read_bytes", snap("shuffleRead") / ops, "B/op"),
      Metric("spark.spill_bytes", snap("spill") / ops, "B/op"),
      Metric("spark.input_bytes", snap("inputBytes") / ops, "B/op"),
      Metric("spark.input_records", snap("inputRecords") / ops, "records/op"))
    val self = Layers.All.map(l => Metric(s"$l.self_ms", selfNs.getOrElse(l, 0L) / 1e6 / ops, "ms/op"))
    val overhead = Seq(
      Metric("trace.overhead_pct", (untracedOpsPerS / traced.opsPerS - 1) * 100, "%"),
      Metric("trace.spans", tracer.spans.size.toDouble, "count"),
      Metric("trace.ops_per_s", traced.opsPerS, "ops/s"))
    // calibrations run after the loop, untraced, so their own calls
    // never land in the self-time table above
    val own = w.layerMetrics(traced)
    val all = spark ++ self ++ overhead ++ own ++ hostMetrics(host0)
    val byName = all.map(m => m.name -> m).toMap
    Layers.Metrics.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) } ++
      all.filterNot(m => Layers.Metrics.exists(_._1 == m.name))
  }

  /** The timed closed loop: `clients` threads each send their next op
    * when the last one returns, until `seconds` have passed. The checks
    * of the answers run after the window closes. */
  def loop(w: Workload, seconds: Double, opIds: AtomicLong): LoopStats = {
    val lat = Array.fill(w.clients)(ArrayBuffer.empty[Long])
    val checks = Array.fill(w.clients)(ArrayBuffer.empty[(Long, Long, () => Option[String])])
    val cells = new AtomicLong
    val ends = new Array[Long](w.clients)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var seq = c.toLong
        while (System.nanoTime() < deadline) {
          val id = opIds.incrementAndGet()
          val t1 = System.nanoTime()
          val r = try w.ctx.tracer.op(id)(w.op(c, seq))
            catch { case e: Throwable => OpResult.failed(System.nanoTime() - t1, e.toString) }
          lat(c) += r.latNs
          cells.addAndGet(r.cells)
          checks(c) += ((id, seq, r.check))
          seq += w.clients
        }
        ends(c) = System.nanoTime()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    var failed = 0L
    checks.zipWithIndex.foreach { case (cs, c) =>
      cs.foreach { case (id, seq, check) =>
        (try check() catch { case e: Throwable => Some(e.toString) }).foreach { e =>
          failed += 1
          println(s"CHECK FAILED op $id (client $c, seq $seq): ${e.take(500)}")
        }
      }
    }
    val all = lat.flatMap(_.toArray)
    LoopStats(all.length.toLong, failed, ends.max - t0, all, cells.get)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"${v.toLong}%d" else f"$v%.6g"

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    }
}
