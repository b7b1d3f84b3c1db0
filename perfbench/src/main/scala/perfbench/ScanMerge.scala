package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.SSTableOps
import graft.sources.sstable.{Column, RowTombstone, SSTableRow}
import graft.sources.sstable.spark.SSTableSchema
import Model._

/** Conversions between the model and the engine's scan schema. */
object Rows {
  def toRow(v: Version): Row = Row(
    v.key.getBytes(UTF_8),
    v.cells.map(c => Row(c.name.getBytes(UTF_8), c.state, c.value, c.ts, c.ttlSecs,
      c.expiresMillis)),
    if (v.mfda == Live) null else Row(v.ldt, v.mfda))

  def toEngine(v: Version): SSTableRow = SSTableRow(v.key.getBytes(UTF_8),
    v.cells.map { c =>
      val n = c.name.getBytes(UTF_8)
      c.state match {
        case Normal => Column.Normal(n, c.value, c.ts)
        case Deleted => Column.Deleted(n, c.ts)
        case Expiring => Column.Expiring(n, c.value, c.ttlSecs, c.expiresMillis, c.ts)
      }
    }, if (v.mfda == Live) None else Some(RowTombstone(v.ldt, v.mfda)))

  /** An engine row read back as the model's merged row. */
  def fromEngine(r: SSTableRow): Merged = Merged(new String(r.key, UTF_8),
    r.columns.map {
      case Column.Normal(n, v, ts) => Cell(new String(n, UTF_8), Normal, v, ts)
      case Column.Deleted(n, ts) => Cell(new String(n, UTF_8), Deleted, null, ts)
      case Column.Expiring(n, v, ttl, exp, ts) => Cell(new String(n, UTF_8), Expiring, v, ts, ttl, exp)
      case other => Cell(new String(other.name, UTF_8), other.getClass.getSimpleName, null, other.timestamp)
    }.toVector,
    r.tombstone.map(_.markedForDeleteAtMicros).getOrElse(Live),
    r.tombstone.map(_.localDeletionTimeSecs).getOrElse(Int.MaxValue))

  /** The checked aggregate of a reconciled rows relation: one row. */
  def summaryDf(df: DataFrame): DataFrame = df.agg(
    count(lit(1)),
    coalesce(sum(size(col("columns"))), lit(0L)),
    coalesce(sum(aggregate(col("columns"), lit(0L), (a, c) => a + c.getField("timestamp"))), lit(0L)),
    coalesce(sum(size(filter(col("columns"), c => c.getField("state") === Deleted))), lit(0L)),
    count(col("rowTombstone")))

  def summaryOf(r: Row): Summary =
    Summary(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
}

/** `scan_merge`: one client runs rotations of five read queries over a
  * seeded snappy wide-row table of overlapping generations plus one
  * delete-only generation, written through `df.write.format("sstable")`.
  * One op is one query. Every five consecutive ops hold each query kind
  * once, so a run's mix of kinds, and with it its median, stays put. */
final class ScanMerge(ctx: Ctx) extends Workload(ctx) {
  val name = "scan_merge"
  override def reportsCells: Boolean = true
  // after the first warm-up op, the other four kinds once each
  override def warmOps: Int = kinds.size - 1

  val table = WideTable(keys = 5000, generations = 6, keepShare = 0.6, names = 16,
    minCells = 3, maxCells = 7, deletedShare = 0.1, expiringShare = 0.1,
    rowTombstoneShare = 0.04, valueLen = 24)
  val writes = 3 // each write publishes `generations / writes` filesets
  val deleteShare = 0.03
  val targetSplitBytes = 262144L
  val kinds = Vector("reconcile", "cells_groupby", "key_range", "asof", "applydeletes")

  var dir: String = _
  private var expected: Map[(Int, Int), Any] = Map.empty
  private var variants: Vector[Vector[Any]] = Vector.empty
  val planMs, execMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val scanMetrics = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  def setup(rep: Int): Unit = {
    val spark = ctx.spark
    dir = ctx.dir(s"scan-$rep")
    val seed = ctx.seed
    val t = table
    val perWrite = t.generations / writes
    (0 until writes).foreach { w =>
      val rdd = spark.sparkContext.parallelize(0 until t.keys, Main.Cores)
        .flatMap(i => Model.wideVersion(t, seed, w, i)).map(Rows.toRow)
      spark.createDataFrame(rdd, SSTableSchema.schema).write.format("sstable")
        .option("writepartitions", perWrite.toString).mode("append").save(dir)
    }
    val share = deleteShare
    val delRdd = spark.sparkContext.parallelize(0 until t.keys, Main.Cores)
      .flatMap(i => Model.deleteVersion(t, seed, share, i)).map(Rows.toRow)
    spark.createDataFrame(delRdd, SSTableSchema.schema).write.format("sstable")
      .option("writepartitions", "1").mode("append").save(dir)
  }

  /** Ground truth for every query variant, from the model alone. */
  override def prepare(): Unit = {
    val t = table
    val data = Array.tabulate(t.keys)(i =>
      (0 until writes).flatMap(w => Model.wideVersion(t, ctx.seed, w, i)).toVector)
    val dels = Array.tabulate(t.keys)(i => Model.deleteVersion(t, ctx.seed, deleteShare, i))
    val r = Model.rng(ctx.seed, 20)
    val span = TsSpan.toLong * 16
    val cuts = Vector(span / 4, span / 2, span * 3 / 4)
    val ranges = Vector.fill(4) {
      val lo = r.nextInt(t.keys - t.keys / 10)
      (t.key(lo), t.key(lo + t.keys / 10))
    }
    variants = Vector(Vector(()), cuts, ranges, cuts, Vector(()))
    def merged(f: Int => Seq[Version], keys: Range = 0 until t.keys) =
      keys.iterator.map(f).filter(_.nonEmpty).map(reconcile).toVector
    val all = (i: Int) => data(i) ++ dels(i).toSeq
    val b = Map.newBuilder[(Int, Int), Any]
    b += (0, 0) -> summarize(merged(all))
    cuts.zipWithIndex.foreach { case (cut, vi) =>
      val cells = data.iterator.flatMap(_.iterator.flatMap(_.cells))
        .filter(c => c.state == Normal && c.ts >= cut).toVector
      b += (1, vi) -> cells.groupBy(_.name).map { case (n, cs) => n -> (cs.size.toLong, cs.map(_.ts).sum) }
      b += (3, vi) -> summarize(merged(i => all(i).flatMap(v => asOf(v, cut))))
    }
    ranges.zipWithIndex.foreach { case ((lo, hi), vi) =>
      val keys = (lo.drop(1).toInt until hi.drop(1).toInt)
      b += (2, vi) -> summarize(merged(all, keys))
    }
    b += (4, 0) -> summarize(merged { i =>
      val mark = dels(i).map(_.mfda).getOrElse(Live)
      data(i).flatMap(v => shadowed(v, mark))
    })
    expected = b.result()
  }

  private def read(opts: (String, String)*): DataFrame =
    opts.foldLeft(ctx.spark.read.format("sstable")
      .option("targetsplitbytes", targetSplitBytes.toString)) { case (r, (k, v)) => r.option(k, v) }
      .load(dir)

  /** The (kind, variant) of op `seq`. Rotation `r` runs the five kinds
    * once each, in the order of [[rotationOrder]], each with its variant
    * `r` modulo the kind's variant count; the seed draws the data and the
    * key ranges. A fixed order and variant cycle keep every seed's timed
    * window, including a partly run last rotation, to the same mix of
    * queries. Warm-up ops (`seq < 0`) run the kinds in their listed order,
    * so `setup_s` always counts a full reconcile. */
  def queryOf(seq: Long): (Int, Int) =
    if (seq < 0) (((-1 - seq) % kinds.size).toInt, 0)
    else {
      val k = ScanMerge.rotationOrder((seq % kinds.size).toInt)
      (k, ((seq / kinds.size) % variants(k).size).toInt)
    }

  /** The query of kind `k`, variant `v`, down to the small answer the
    * client collects. */
  def query(k: Int, v: Int): DataFrame = {
    val p = variants(k)(v)
    def merged(scan: DataFrame) =
      Rows.summaryDf(ctx.tracer.span("operators", "compactRows")(SSTableOps.compactRows(scan)))
    k match {
      case 0 => merged(read())
      case 1 =>
        val cut = p.asInstanceOf[Long]
        read("view" -> "cells").filter(col("state") === Normal && col("timestamp") >= cut)
          .groupBy(col("name")).agg(count(lit(1)), sum(col("timestamp")))
      case 2 =>
        val (lo, hi) = p.asInstanceOf[(String, String)]
        merged(read().filter(col("key") >= lit(lo.getBytes(UTF_8)) && col("key") < lit(hi.getBytes(UTF_8))))
      case 3 => merged(read("asofmicros" -> p.asInstanceOf[Long].toString))
      case 4 => merged(read("applydeletes" -> "true"))
    }
  }

  def op(client: Int, seq: Long): OpResult = {
    val (k, v) = queryOf(seq)
    val t0 = System.nanoTime()
    val q = query(k, v)
    val rows = if (!ctx.tracer.on) q.collect() else traced(q)
    val lat = System.nanoTime() - t0
    val got: Any =
      if (k == 1) rows.map(r => new String(r.getAs[Array[Byte]](0), UTF_8) -> (r.getLong(1), r.getLong(2))).toMap
      else Rows.summaryOf(rows.head)
    val cells = got match {
      case s: Summary => s.cells
      case m: Map[_, _] => m.values.map(_.asInstanceOf[(Long, Long)]._1).sum
    }
    OpResult(lat, cells, () => ScanMerge.check(s"${kinds(k)}[$v]", got, expected((k, v))))
  }

  private def timed[T](body: => T): (Long, T) = {
    val t0 = System.nanoTime()
    val v = body
    (System.nanoTime() - t0, v)
  }

  private def traced(q: DataFrame): Array[Row] = {
    val (pNs, _) = timed(ctx.tracer.span("sstable_spark", "plan")(q.queryExecution.executedPlan))
    val (eNs, out) = timed(ctx.tracer.span("sstable_spark", "exec")(q.collect()))
    planMs.add(pNs / 1e6); execMs.add(eNs / 1e6)
    scanMetrics.add(Calibrate.scanNodeMetrics(q))
    out
  }

  override def layerMetrics(traced: LoopStats): Seq[Metric] = {
    import scala.jdk.CollectionConverters._
    val sm = scanMetrics.asScala.toVector
    def avg(n: String) = if (sm.isEmpty) 0.0 else sm.map(_.getOrElse(n, 0L)).sum.toDouble / sm.size
    val files = graft.sources.sstable.SSTableReader.listDataFiles(dir)
    Seq(
      Metric("sstable_spark.plan_ms", Stats.median(planMs.asScala.toSeq), "ms"),
      Metric("sstable_spark.exec_ms", Stats.median(execMs.asScala.toSeq), "ms"),
      Metric("sstable_spark.generations_listed", avg("generationsListed"), "count/query"),
      Metric("sstable_spark.generations_planned", avg("generationsPlanned"), "count/query"),
      Metric("sstable_spark.splits_planned", avg("splitsPlanned"), "count/query"),
      Metric("sstable_spark.pending_delete_keys", avg("pendingDeleteKeys"), "count/query")) ++
      Calibrate.codec(ctx, files, encode = true) ++
      Calibrate.planSplits(files, targetSplitBytes) ++
      Seq(Calibrate.compactRowsMs(read()))
  }
}

object ScanMerge {
  /** Indices into `kinds`, fast and slow queries interleaved: reconcile,
    * key range, cells group-by, asof, applydeletes. */
  val rotationOrder: Vector[Int] = Vector(0, 2, 1, 3, 4)

  /** A scan answer must equal the model's exactly: the summary of the
    * reconciled rows, or the per-name (count, timestamp sum) of cells. */
  def check(query: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$query: got $got, want $want")
}
