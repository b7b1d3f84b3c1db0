package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.sstable.{Column, LocalStorage, ObjSimFileSystem, RowTombstone,
  SSTableFiles, SSTableRow, SSTableWriter}

/** A local-disk Hadoop file system (`listhook://`) that calls
  * [[ListHookFileSystem.onList]] after each directory listing: the
  * storage hook a spec uses to commit between two planning passes. */
class ListHookFileSystem extends ObjSimFileSystem {
  override def getScheme: String = "listhook"
  override def getUri: java.net.URI = java.net.URI.create("listhook:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    ListHookFileSystem.onList(f.toUri.getPath)
    out
  }
}

object ListHookFileSystem {
  @volatile var onList: String => Unit = _ => ()
}

/** The read path's shared rules: the catalog metadata views list through
  * the same [[ReadSnapshot]] as the table itself, and [[Visibility]]
  * keeps its row-level asymmetries. */
class ReadSnapshotSpec extends AnyFunSuite {

  private lazy val warehouse: String = Files.createTempDirectory("graft-rs-wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.conf.set("spark.sql.catalog.graft_rs", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rs.warehouse", warehouse)
    s
  }

  test("t.generations and t.cells refuse a DROP's finalize instant " +
    "instead of reading an empty table") {
    spark.sql("CREATE NAMESPACE graft_rs.d")
    spark.sql("CREATE TABLE graft_rs.d.t")
    spark.sql("INSERT INTO graft_rs.d.t VALUES (CAST('a' AS BINARY), " +
      "array(named_struct('name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      "'value', CAST('v' AS BINARY), 'timestamp', CAST(1 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
      "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")
    // resolved before the instant, the way a reader racing the DROP is
    val views = Seq("generations", "cells").map(v => v -> spark.table(s"graft_rs.d.t.$v"))
    // the finalize's terminal instant, crafted through the on-disk
    // contract: every generation swept AND the pointer file deleted,
    // the directory shell still present
    val dir = s"$warehouse/d/t"
    LocalStorage.listDataFiles(dir).foreach(SSTableFiles.unpublish(LocalStorage, _))
    LocalStorage.delete(s"$dir/${GraftCatalog.TablePropsFile}")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    views.foreach { case (v, df) =>
      val e = intercept[Exception](df.collect())
      assert(chain(e).exists(_.contains("no data and no _table pointer")), s"$v: ${chain(e)}")
    }
  }

  test("a runtime-filtered (DPP) read plans every Batch from one listing: a DELETE and an " +
    "INSERT committed after it stay invisible together") {
    val dir = Files.createTempDirectory("graft-rs-dpp").toString
    def gen(stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", chunkLength = 256, summaryInterval = 4)
      try rows.foreach(w.append) finally w.close()
    }
    def key(i: Int): Array[Byte] = f"k$i%02d".getBytes
    gen("g1", (0 until 10).map(i => SSTableRow(key(i), Seq(cell(10L + i)))))
    spark.sparkContext.hadoopConfiguration.set("fs.listhook.impl",
      classOf[ListHookFileSystem].getName)
    // planning listings are the ones a scan Batch makes; estimateStatistics
    // lists on its own during optimization
    val plannings = new java.util.concurrent.atomic.AtomicInteger
    ListHookFileSystem.onList = p =>
      if (p == dir && Thread.currentThread.getStackTrace.exists(_.getClassName.contains("SnapshotBatch")) &&
          plannings.incrementAndGet() == 1) {
        // a concurrent writer: DELETE k03, then INSERT k20
        gen("tombstones-del", Seq(SSTableRow(key(3), Nil, Some(RowTombstone(1700000000, 1000L)))))
        gen("g2", Seq(SSTableRow(key(20), Seq(cell(2000L)))))
      }
    val keys = Seq("spark.sql.adaptive.enabled" -> "false", SSTableLookupJoin.EnabledKey -> "false")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.format("sstable").option("applydeletes", "true")
        .option("targetsplitbytes", "128").load(s"listhook://$dir")
      val dim = spark.range(0, 100).filter(col("id").isin(3, 20))
        .select(format_string("k%02d", col("id")).cast("binary").as("k"))
      val joined = fact.join(broadcast(dim), col("key") === col("k"))
        .select(col("key").cast("string"))
      assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruningexpression(key"),
        joined.queryExecution.executedPlan)
      val got = joined.collect().map(_.getString(0)).sorted.toSeq
      // the directory as of the one listing: k03 live, k20 not yet written
      assert(got == Seq("k03"), s"the read does not match its one listing: $got")
      assert(plannings.get == 1, s"${plannings.get} planning listings for one execution")
    } finally {
      ListHookFileSystem.onList = _ => ()
      keys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private def cell(ts: Long): Column = Column.Normal("c".getBytes, "v".getBytes, ts)
  private def expiring(exp: Long, ts: Long): Column =
    Column.Expiring("e".getBytes, "x".getBytes, 60L, exp, ts)

  test("Visibility: TTL alone never drops a row; an emptied row is dropped " +
    "only under an as-of cut or a delete mark on its key") {
    val expired = SSTableRow("k".getBytes, Seq(expiring(10L, 5L)))
    val ttl = new Visibility(Some(100L), None, None)
    assert(ttl.row(expired).map(_.columns) == Some(Nil))
    val cut = new Visibility(Some(100L), Some(50L), None)
    assert(cut.row(expired).isEmpty)
    // a real tombstone before the cut anchors the row
    val tombstoned = expired.copy(tombstone = Some(RowTombstone(0, 3L)))
    assert(cut.row(tombstoned).map(_.tombstone) == Some(Some(RowTombstone(0, 3L))))
    // the cut hides later cells and later tombstones
    val later = SSTableRow("k".getBytes, Seq(cell(60L)), Some(RowTombstone(0, 70L)))
    assert(new Visibility(None, Some(50L), None).row(later).isEmpty)

    val shadow = new DeleteShadow(Array("k".getBytes), Array(20L))
    val marked = new Visibility(None, None, Some(shadow))
    assert(marked.row(SSTableRow("k".getBytes, Seq(cell(20L)))).isEmpty)
    // a re-insert after the mark survives; a key without a mark is untouched
    assert(marked.row(SSTableRow("k".getBytes, Seq(cell(20L), cell(21L))))
      .map(_.columns.map(_.timestamp)) == Some(Seq(21L)))
    val other = SSTableRow("j".getBytes, Nil)
    assert(marked.row(other).contains(other))
    assert(marked.cell(cell(20L), marked.markOf("k".getBytes)) == false)
    assert(marked.cell(cell(20L), marked.markOf("j".getBytes)))
  }

  test("Visibility with no TTL, cut or shadow returns the decoded row itself") {
    val r = SSTableRow("k".getBytes, Seq(cell(1L)), Some(RowTombstone(0, Long.MinValue)))
    assert(new Visibility(None, None, None).row(r).exists(_ eq r))
  }
}
