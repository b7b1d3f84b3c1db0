package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.sources.sstable._

/** Layer calibrations of the traced run. They run after the traced loop,
  * untraced and single-threaded, on the workload's own files. */
object Calibrate {
  private val Algorithms = Seq("none", "snappy", "deflate")

  /** The scan nodes' driver metrics of an executed query, summed by name. */
  def scanNodeMetrics(q: DataFrame): Map[String, Long] = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    scans(q.queryExecution.executedPlan).flatMap(_.metrics.map { case (n, m) => n -> m.value })
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def mb(bytes: Long, ns: Long): Double = bytes / 1e6 / (ns / 1e9)

  private def readAll(f: String): Vector[SSTableRow] = {
    val it = new SSTableReader(f).rows()
    try it.toVector finally it.close()
  }

  private def encode(rows: Vector[SSTableRow], out: String, alg: String): Long = {
    val w = new SSTableWriter(out, compress = alg != "none",
      algorithm = if (alg == "none") CompressionInfo.SnappyAlgorithm else alg)
    val t0 = System.nanoTime()
    rows.foreach(w.append)
    w.close()
    System.nanoTime() - t0
  }

  /** Decode, encode and chunk-decompress throughput for each compressor
    * over re-encoded copies of `files`. `decode_*` on the files as they
    * are is reported too (`sstable.decode_cells_per_s`, `_mb_per_s`). */
  def codec(ctx: Ctx, files: Seq[String], encode: Boolean): Seq[Metric] = {
    if (files.isEmpty) return Nil
    val rows = files.map(readAll)
    val rawBytes = files.map(f => new SSTableReader(f).dataLength).sum
    val out = scala.collection.mutable.ArrayBuffer.empty[Metric]
    var cells = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val it = new SSTableReader(f).rows()
      try it.foreach(r => cells += r.columns.size) finally it.close()
    }
    val ns = System.nanoTime() - t0
    out += Metric("sstable.decode_cells_per_s", cells / (ns / 1e9), "cells/s")
    out += Metric("sstable.decode_mb_per_s", mb(rawBytes, ns), "MB/s")
    val scratch = new File(ctx.dir(s"codec-${System.nanoTime()}"))
    scratch.mkdirs()
    try Algorithms.foreach { alg =>
      val copies = rows.indices.map(i => s"$scratch/$alg-$i-Data.db")
      val encNs = rows.zip(copies).map { case (rs, p) => this.encode(rs, p, alg) }.sum
      if (encode) out += Metric(s"sstable.encode_mb_per_s_$alg", mb(rawBytes, encNs), "MB/s")
      val t0 = System.nanoTime()
      copies.foreach { f =>
        val it = new SSTableReader(f, useCache = false).rows()
        try it.foreach(_ => ()) finally it.close()
      }
      out += Metric(s"sstable.decode_mb_per_s_$alg", mb(rawBytes, System.nanoTime() - t0), "MB/s")
      if (alg != "none") {
        val (bytes, ns) = copies.map(BenchCodec.uncompressAll).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        out += Metric(s"sstable.decompress_mb_per_s_$alg", mb(bytes, ns), "MB/s")
      }
    } finally Main.deleteRecursive(scratch.toPath)
    if (encode) out += Metric("sstable.encode_mb_per_s",
      out.find(_.name == "sstable.encode_mb_per_s_snappy").map(_.value).getOrElse(0.0), "MB/s")
    out.toSeq
  }

  /** Uncached `planSplits` over `files`: time and split count. */
  def planSplits(files: Seq[String], target: Long): Seq[Metric] = {
    val t0 = System.nanoTime()
    val n = files.map(f => new SSTableReader(f, useCache = false).planSplits(target).size).sum
    Seq(Metric("sstable.plan_splits_ms", (System.nanoTime() - t0) / 1e6, "ms"),
      Metric("sstable.splits", n.toDouble, "count"))
  }

  /** `compactRows` materialized alone: its median time over three runs
    * minus the raw scan's, both forced with a `noop` write. */
  def compactRowsMs(scan: DataFrame): Metric = {
    def noopMs(df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    val raw = noopMs(scan)
    val merged = noopMs(graft.operators.SSTableOps.compactRows(scan))
    Metric("operators.compact_rows_ms", merged - raw, "ms")
  }

  /** Bytes of component files, by suffix. */
  def componentBytes(files: Seq[File]): Seq[Metric] = {
    def sum(p: File => Boolean) = files.filter(p).map(_.length).sum.toDouble
    val n = (f: File) => f.getName
    Seq(
      Metric("sstable.data_bytes_written", sum(n(_).endsWith("-Data.db")), "B"),
      Metric("sstable.index_bytes_written", sum(n(_).endsWith("-Index.db")), "B"),
      Metric("sstable.filter_bytes_written", sum(n(_).endsWith("-Filter.db")), "B"),
      Metric("sstable.sidecar_bytes_written", sum(f => n(f).endsWith(".db") &&
        !Seq("-Data.db", "-Index.db", "-Filter.db").exists(n(f).endsWith)), "B"))
  }
}
