package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.sources.sstable._
import Model._

/** `lookup_serve`: two closed-loop clients ([[Main.Cores]]) call
  * `SSTableReader.get(dir, key)` on a many-generation table. Keys are a
  * seeded mix of Zipf-skewed present keys, uniform present keys and
  * absent keys, drawn before the run: a timed op is the engine call alone.
  * Spark runs nothing; the untraced run starts no session. */
final class LookupServe(ctx: Ctx) extends Workload(ctx) {
  val name = "lookup_serve"
  override def needsSpark: Boolean = false
  override def clients: Int = Main.Cores
  override def reportsCells: Boolean = true
  override def warmOps: Int = 1000

  val table = WideTable(keys = 40000, generations = 8, keepShare = 0.3, names = 10,
    minCells = 2, maxCells = 5, deletedShare = 0.1, expiringShare = 0.05,
    rowTombstoneShare = 0.03, valueLen = 24)
  // The shares are arbitrary choices, not measured from any trace. The
  // Zipf exponent is YCSB's default request skew (zipfian constant 0.99).
  val zipfShare = 0.45
  val uniformShare = 0.35 // the rest are absent keys
  val zipfExponent = 0.99
  /** Probes drawn per client before the run; a client that sends more ops
    * starts its stream again from the first. */
  val probesPerClient = 1 << 16

  var dir: String = _
  private var present: Array[Int] = _ // key indices held by some generation
  private var digests: Array[Long] = _ // by key index; 0 = absent
  private var zipfCdf: Array[Double] = _
  private var zipfRank: Array[Int] = _ // rank -> index into present
  // by client, then seq modulo probesPerClient: key bytes, key index (-1 = absent)
  private var probeKeys: Array[Array[Array[Byte]]] = _
  private var probeIdx: Array[Array[Int]] = _
  // the traced run's first probe keys, for the per-generation prune counts
  private val probes = new ConcurrentLinkedQueue[String]()
  private val probesKept = new java.util.concurrent.atomic.AtomicInteger()

  /** Writes each generation with the engine's own writer, like a flush. */
  def writeTable(t: WideTable, dir: String, seed: Long): Unit = {
    new java.io.File(dir).mkdirs()
    (0 until t.generations).foreach { g =>
      val w = new SSTableWriter(f"$dir/lk-$g%02d-Data.db")
      try (0 until t.keys).foreach(i => Model.wideVersion(t, seed, g, i).foreach(v => w.append(Rows.toEngine(v))))
      finally w.close()
    }
  }

  def setup(rep: Int): Unit = {
    dir = ctx.dir(s"lookup-$rep")
    writeTable(table, dir, ctx.seed)
  }

  override def prepare(): Unit = {
    val t = table
    digests = Array.tabulate(t.keys) { i =>
      val vs = (0 until t.generations).flatMap(g => Model.wideVersion(t, ctx.seed, g, i))
      if (vs.isEmpty) 0L else digest(reconcile(vs)) | 1L
    }
    present = digests.indices.filter(digests(_) != 0L).toArray
    val w = Array.tabulate(present.length)(r => 1.0 / math.pow(r + 1, zipfExponent))
    val total = w.sum
    var acc = 0.0
    zipfCdf = w.map { x => acc += x / total; acc }
    val r = Model.rng(ctx.seed, 30)
    zipfRank = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(present.indices.toVector).toArray
    val drawn = Array.tabulate(clients, probesPerClient)((c, s) => probe(c, s.toLong))
    probeKeys = drawn.map(_.map(_._1.getBytes(UTF_8)))
    probeIdx = drawn.map(_.map(_._2))
  }

  /** The probe key of (client, seq) and the index of the key it names, or
    * -1 for an absent key (a key between two written keys). */
  def probe(client: Int, seq: Long): (String, Int) = {
    val r = Model.rng(ctx.seed, 31, client, seq)
    val u = r.nextDouble()
    if (u < zipfShare) {
      val x = r.nextDouble()
      var idx = java.util.Arrays.binarySearch(zipfCdf, x)
      if (idx < 0) idx = math.min(-idx - 1, zipfCdf.length - 1)
      val i = present(zipfRank(idx))
      (table.key(i), i)
    } else if (u < zipfShare + uniformShare) {
      val i = present(r.nextInt(present.length))
      (table.key(i), i)
    } else (table.key(r.nextInt(table.keys)) + "x", -1)
  }

  def op(client: Int, seq: Long): OpResult = {
    val s = Math.floorMod(seq, probesPerClient.toLong).toInt
    val kb = probeKeys(client)(s)
    val t0 = System.nanoTime()
    val got = ctx.tracer.span("sstable", "get")(SSTableReader.get(dir, kb))
    val lat = System.nanoTime() - t0
    val i = probeIdx(client)(s)
    def key = new String(kb, UTF_8)
    if (ctx.tracer.on && probesKept.incrementAndGet() <= 20000) probes.add(key)
    OpResult(lat, got.map(_.columns.size.toLong).getOrElse(0L),
      () => LookupServe.check(key, got, if (i < 0) 0L else digests(i)))
  }

  override def layerMetrics(traced: LoopStats): Seq[Metric] = {
    val files = SSTableReader.listDataFiles(dir)
    val getUs = traced.latNs.map(_ / 1e3)
    // per-generation prunes on the traced probe stream: statistics key
    // bounds first, then the bloom filter, as the prober applies them
    val readers = files.map(f => new SSTableReader(f))
    val gens = files.map(f => f.substring(f.lastIndexOf("lk-") + 3, f.lastIndexOf("-Data.db")).toInt)
    var probed, bloomChecks, falsePos = 0L
    val keys = probes.asScala.toVector
    keys.foreach { k =>
      val kb = k.getBytes(UTF_8)
      val idx = if (k.endsWith("x")) -1 else k.drop(1).toInt
      readers.zip(gens).foreach { case (r, g) =>
        val inBounds = r.statistics.forall(_.mightContainKey(kb))
        if (inBounds) {
          val holds = idx >= 0 && Model.wideVersion(table, ctx.seed, g, idx).isDefined
          val maybe = r.mightContainKey(kb)
          if (maybe) probed += 1
          if (!holds) { bloomChecks += 1; if (maybe) falsePos += 1 }
        }
      }
    }
    val n = math.max(1, keys.size).toDouble
    Seq(
      Metric("sstable.get_us_p50", Stats.pctRaw(getUs, 0.5), "us"),
      Metric("sstable.get_us_p99", Stats.pctRaw(getUs, 0.99), "us"),
      Metric("sstable.generations_probed_per_get", probed / n, "count"),
      Metric("sstable.bloom_false_positive_ratio", if (bloomChecks == 0) 0.0 else falsePos.toDouble / bloomChecks, "ratio")) ++
      Calibrate.codec(ctx, files, encode = false) ++
      getByGenerations()
  }

  /** `SSTableReader.get` p50 and p99 over tables of 1, 4 and 16
    * generations holding the same keys. */
  private def getByGenerations(): Seq[Metric] = Seq(1, 4, 16).flatMap { g =>
    val t = table.copy(keys = 4000, generations = g, keepShare = 1.0 / math.max(1, g / 2))
    val d = ctx.dir(s"lookup-gens-$g")
    writeTable(t, d, ctx.seed)
    val r = Model.rng(ctx.seed, 40, g)
    val lat = (0 until 4000).map { _ =>
      val kb = t.key(r.nextInt(t.keys)).getBytes(UTF_8)
      val t0 = System.nanoTime()
      SSTableReader.get(d, kb)
      (System.nanoTime() - t0) / 1e3
    }.drop(1000).toArray // the first quarter warms the code path
    Seq(Metric(s"sstable.get_us_p50_gen$g", Stats.pctRaw(lat, 0.5), "us"),
      Metric(s"sstable.get_us_p99_gen$g", Stats.pctRaw(lat, 0.99), "us"))
  }
}

object LookupServe {
  /** A point read must return exactly the model's reconciled row (by
    * digest: names, states, values, timestamps, TTLs, row tombstone), or
    * nothing for a key no generation holds (`want == 0`). */
  def check(key: String, got: Option[SSTableRow], want: Long): Option[String] = {
    val have = got.map(r => digest(Rows.fromEngine(r)) | 1L).getOrElse(0L)
    if (have == want) None
    else Some(s"get($key): got ${got.map(Rows.fromEngine)}, want digest $want")
  }
}
