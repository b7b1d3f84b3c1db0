package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.sstable.{Column, LocalStorage, RowTombstone, SSTableFiles, SSTableRow}

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
