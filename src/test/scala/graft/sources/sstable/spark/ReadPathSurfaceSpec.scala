package graft.sources.sstable.spark

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps
import graft.sources.sstable._

/** Surface pin of every sstable reader: the rows, cells, key-only and
  * key-range reads, `sstable-index`, stats-only aggregates, the bucketed
  * `_bucket` read, a bucketed catalog table under storage-partitioned
  * joins, `asofmicros`, `ttlasofms`, `applydeletes`, `sincesnapshot`,
  * snapshot pins, limit and key-ascending top-N, a runtime `IN` filter,
  * the probe join (inner, left outer, semi, anti) and `graft_lookup`.
  *
  * The fixture holds plain, snappy and deflate generations and two
  * delete-only generations, written with fixed stems and timestamps, a
  * snapshot pin taken halfway, a `writeBucketed` directory and two
  * catalog tables (plain with a pending DELETE, and bucketed). Each
  * surface renders as one line and must equal the literal below:
  *
  *  - the row count and an md5 prefix of the sorted rendered rows;
  *  - per sstable batch scan in the executed plan: its `description()`,
  *    its planned partition count and its driver plan metrics;
  *  - `probe` when the plan is the index-nested-loop probe join.
  *
  * Temporary paths render as `<root>`. On a mismatch the failure message
  * prints the actual literal. */
class ReadPathSurfaceSpec extends AnyFunSuite {
  import ReadPathSurfaceSpec._

  private lazy val root: String = Files.createTempDirectory("graft-rp").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_rp", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_rp.warehouse", s"$root/wh")
    graft.GraftExtensions.register(s)
    s
  }

  /** Session settings that shape plans and written filesets, fixed for a
    * body and restored afterwards (the session is shared with the other
    * suites). */
  private def pinnedConf[T](extra: (String, String)*)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      SSTableLookupJoin.EnabledKey -> "false") ++ extra
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def gen(dir: String, stem: String, rows: Seq[SSTableRow],
                  compress: Boolean = true,
                  algorithm: String = CompressionInfo.SnappyAlgorithm): Unit = {
    val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = compress,
      chunkLength = 256, summaryInterval = 4, algorithm = algorithm)
    try rows.foreach(w.append) finally w.close()
  }
  private def key(i: Int): Array[Byte] = f"k$i%03d".getBytes
  private def cell(n: String, v: String, ts: Long): Column =
    Column.Normal(n.getBytes, v.getBytes, ts)
  private def tombstones(keys: Seq[Int], mark: Long): Seq[SSTableRow] =
    keys.map(i => SSTableRow(key(i), Nil, Some(RowTombstone(1700000000, mark))))

  /** `plain/`: g1 uncompressed (k000–k059, expiring cells every third
    * row, an older row tombstone on every tenth, and k059 a bare
    * tombstone), g2 snappy (k040–k099), then the `s1` snapshot pin,
    * then g3 deflate (k090–k119) and two delete-only generations: d1
    * marks k005/k045/k095 at 250, d2 marks k010/k050 at 150. */
  private lazy val plain: String = {
    val dir = s"$root/plain"
    new java.io.File(dir).mkdirs()
    gen(dir, "g1", (0 until 60).map { i =>
      if (i == 59) SSTableRow(key(i), Nil, Some(RowTombstone(1700000000, 159L)))
      else SSTableRow(key(i),
        Seq(cell("a", s"g1-$i", 100L + i)) ++
          (if (i % 3 == 0) Seq(Column.Expiring("e".getBytes, s"x$i".getBytes, 60L,
            1000L + i, 100L + i)) else Nil),
        if (i % 10 == 7) Some(RowTombstone(1700000000, 50L + i)) else None)
    }, compress = false)
    gen(dir, "g2", (40 until 100).map(i =>
      SSTableRow(key(i), Seq(cell("a", s"g2-$i", 200L + i)))))
    SSTableOps.snapshot(dir, "s1")
    gen(dir, "g3", (90 until 120).map(i =>
      SSTableRow(key(i), Seq(cell("a", s"g3-$i", 300L + i), cell("b", "y", 300L + i)))),
      algorithm = CompressionInfo.DeflateAlgorithm)
    gen(dir, "d1", tombstones(Seq(5, 45, 95), 250L))
    gen(dir, "d2", tombstones(Seq(10, 50), 150L))
    dir
  }

  /** `bucketed/`: 40 rows in 4 buckets via `SSTableOps.writeBucketed`. */
  private lazy val bucketed: String = {
    val dir = s"$root/bucketed"
    pinnedConf()(SSTableOps.writeBucketed(spark.range(40).select(
      format_string("b%03d", col("id")).cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        col("id").cast("string").cast("binary").as("value"),
        col("id").as("timestamp"), lit(0L).as("ttlSecs"),
        lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone")), dir, buckets = 4))
    dir
  }

  private def values(rows: Seq[(String, String, Long)]): String =
    rows.map { case (k, v, ts) =>
      s"(CAST('$k' AS BINARY), array(named_struct(" +
        s"'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        s"'value', CAST('$v' AS BINARY), 'timestamp', CAST($ts AS BIGINT), " +
        s"'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))"
    }.mkString(", ")

  /** `graft_rp.c.t`: three INSERT commits (b and c in two of them) and a
    * DELETE of d; `graft_rp.c.b`: a 4-bucket table with one INSERT. The
    * probe view `rp_probe` holds keys a, b, b, d, zz and NULL. */
  private lazy val catalog: Unit = pinnedConf() {
    spark.sql("CREATE NAMESPACE graft_rp.c")
    spark.sql("CREATE TABLE graft_rp.c.t")
    spark.sql(s"INSERT INTO graft_rp.c.t VALUES ${values(Seq(("a", "a1", 10L),
      ("b", "b1", 10L), ("c", "c1", 10L), ("d", "d1", 10L)))}")
    spark.sql(s"INSERT INTO graft_rp.c.t VALUES ${values(Seq(("b", "b2", 20L),
      ("c", "c2", 20L), ("e", "e1", 20L)))}")
    spark.sql(s"INSERT INTO graft_rp.c.t VALUES ${values(Seq(("f", "f1", 30L)))}")
    spark.sql("DELETE FROM graft_rp.c.t WHERE key = CAST('d' AS BINARY)")
    spark.sql("CREATE TABLE graft_rp.c.b TBLPROPERTIES ('buckets'='4')")
    spark.sql(s"INSERT INTO graft_rp.c.b VALUES " +
      values((0 until 24).map(i => (f"q$i%02d", s"v$i", 40L + i))))
    spark.sql("CREATE OR REPLACE TEMP VIEW rp_probe AS SELECT CAST(k AS BINARY) k, tag " +
      "FROM VALUES ('a', 'pa'), ('b', 'pb'), ('b', 'pb2'), ('d', 'pd'), " +
      "('zz', 'pzz'), (NULL, 'pnull') AS p(k, tag)")
  }

  private def read(dir: String, opts: (String, String)*): DataFrame =
    spark.read.format("sstable").option(SSTableSource.TargetSplitBytesOption, "1024")
      .options(opts.toMap).load(dir)

  /** Run `df` and render its surface line. */
  private def surface(name: String, df: => DataFrame): String = {
    val d = df
    val rows = d.collect().map(render).sorted
    val scans = batchScans(d.queryExecution.executedPlan).map { b =>
      val metrics = b.scan.reportDriverMetrics().map(m => s"${m.name()}=${m.value()}")
      s"${b.scan.description().replace(root, "<root>")} " +
        s"parts=${b.inputRDD.getNumPartitions} [${metrics.mkString(",")}]"
    }
    val probe = if (d.queryExecution.executedPlan.toString.contains("SSTableLookupJoin"))
      Seq("probe") else Nil
    (s"$name: rows=${rows.length} #${md5(rows.mkString("\n"))}" +: (scans ++ probe))
      .mkString(" | ")
  }

  private def batchScans(p: SparkPlan): Seq[BatchScanExec] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
      case q: QueryStageExec => batchScans(q.plan)
      case b: BatchScanExec => Seq(b)
      case _ => Nil
    }
    self ++ p.children.flatMap(batchScans) ++ p.subqueries.flatMap(batchScans)
  }

  private def check(got: Seq[String], want: String): Unit = {
    val expected = want.stripMargin.trim.linesIterator.map(_.trim).toSeq
    assert(got == expected, s"read surface changed; actual:\n${got.mkString("\n")}")
  }

  test("path reads: views, key paths, time travel, deletes, diffs, limits") {
    val dir = plain
    val since = SSTableSource.SinceSnapshotOption -> "s1"
    val deletes = SSTableSource.ApplyDeletesOption -> "true"
    val cells = SSTableSource.ViewOption -> "cells"
    val k = (s: String) => lit(s.getBytes)
    val got = pinnedConf() { Seq(
      surface("rows", read(dir).select(col("*"), col("_generation"), col("_change_type"))),
      surface("cells", read(dir, cells).select(col("*"), col("_generation"))),
      surface("key-only", read(dir).select("key", "_generation")),
      surface("key range", read(dir)
        .filter(col("key") >= k("k030") && col("key") < k("k050"))),
      surface("point key", read(dir).filter(col("key") === k("k095"))),
      surface("name slice", read(dir, cells).filter(col("name") >= k("b"))),
      surface("asofmicros", read(dir, SSTableSource.AsOfMicrosOption -> "205")),
      surface("ttlasofms rows", read(dir, SSTableSource.TtlAsOfMsOption -> "1030")),
      surface("ttlasofms cells", read(dir, cells, SSTableSource.TtlAsOfMsOption -> "1030")),
      surface("applydeletes rows", read(dir, deletes)
        .select(col("*"), col("_change_type"))),
      surface("applydeletes cells", read(dir, deletes, cells)),
      surface("applydeletes key-only", read(dir, deletes).select("key")),
      surface("applydeletes asof", read(dir, deletes, SSTableSource.AsOfMicrosOption -> "200")),
      surface("applydeletes limit", read(dir, deletes).limit(5)),
      surface("sincesnapshot", read(dir, since).select(col("*"), col("_change_type"))),
      surface("sincesnapshot applydeletes", read(dir, since, deletes)),
      surface("sincesnapshot key-only", read(dir, since).select("key")),
      surface("snapshot pin", read(dir, SSTableSource.SnapshotOption -> "s1")),
      surface("limit", read(dir).limit(5)),
      surface("cells limit", read(dir, cells).limit(7)),
      surface("top-n", read(dir).orderBy("key").limit(7)),
      surface("stats aggregates", read(dir).agg(count(lit(1)), min("key"), max("key"))),
      surface("cells stats aggregates", read(dir, cells)
        .agg(count(lit(1)), min("timestamp"), max("timestamp"))),
      surface("since stats aggregates", read(dir, since).agg(count(lit(1)))),
      surface("generations view", read(dir, SSTableSource.ViewOption -> "generations")),
      surface("sstable-index", spark.read.format("sstable-index").load(dir)),
      surface("sstable-index key range", spark.read.format("sstable-index").load(dir)
        .filter(col("key") > k("k100"))),
      surface("sstable-index point key", spark.read.format("sstable-index").load(dir)
        .filter(col("key") === k("k007"))),
      surface("sstable-index top-n", spark.read.format("sstable-index").load(dir)
        .orderBy("key").limit(3)),
      surface("runtime IN filter", {
        val dim = spark.range(0, 1000).filter(col("id").isin(7, 95))
          .select(format_string("k%03d", col("id")).cast("binary").as("k"))
        read(dir).join(broadcast(dim), col("key") === col("k"))
      }))
    }
    check(got, PathReads)
  }

  test("bucketed reads: the buckets option and a bucketed catalog table") {
    catalog
    val dir = bucketed
    val got = pinnedConf("spark.sql.sources.v2.bucketing.enabled" -> "true") { Seq(
      surface("buckets", read(dir, SSTableSource.BucketsOption -> "4")
        .select("_bucket", "key", "columns")),
      surface("buckets key range", read(dir, SSTableSource.BucketsOption -> "4")
        .filter(col("key") < lit("b020".getBytes))),
      surface("buckets group by", read(dir, SSTableSource.BucketsOption -> "4")
        .groupBy("_bucket").count()),
      surface("bucketed table", spark.table("graft_rp.c.b")),
      surface("bucketed table group by", spark.table("graft_rp.c.b")
        .groupBy("key").count()))
    }
    check(got, BucketedReads)
  }

  test("catalog reads, the probe join and graft_lookup") {
    catalog
    val dir = s"$root/wh/c/t"
    val keys = "array(CAST('a' AS BINARY), CAST('b' AS BINARY), " +
      "CAST('d' AS BINARY), CAST('zz' AS BINARY))"
    val probe = (jt: String, cols: String) => spark.sql(
      s"SELECT $cols FROM rp_probe p $jt JOIN graft_rp.c.t t ON p.k = t.key")
    val got = pinnedConf(SSTableLookupJoin.EnabledKey -> "true") { Seq(
      surface("catalog table", spark.table("graft_rp.c.t")),
      surface("catalog cells", spark.table("graft_rp.c.t.cells")),
      surface("catalog key-only", spark.sql("SELECT key FROM graft_rp.c.t")),
      surface("probe inner", probe("", "p.tag, t.key, t.columns")),
      surface("probe left outer", probe("LEFT OUTER", "p.tag, t.key, t.columns")),
      surface("probe semi", probe("LEFT SEMI", "p.tag")),
      surface("probe anti", probe("LEFT ANTI", "p.tag")),
      surface("graft_lookup", spark.sql(s"SELECT * FROM graft_lookup('$dir', $keys)")),
      // the DELETE's tombstone carries a wall-clock localDeletionTime
      surface("graft_lookup merged", spark.sql("SELECT key, columns, " +
        s"rowTombstone.markedForDeleteAt FROM graft_lookup('$dir', $keys, false)")))
    }
    check(got, CatalogReads)
  }
}

object ReadPathSurfaceSpec {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString.take(12)

  /** A row as text: binaries as ISO-8859-1 strings, structs and arrays
    * recursively. */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "'" + new String(b, StandardCharsets.ISO_8859_1) + "'"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  val PathReads = """
    |rows: rows=155 #0756a020900a | sstable <root>/plain parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |cells: rows=199 #b9cc58a65e6f | sstable <root>/plain view=cells parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |key-only: rows=155 #03e7f7865c0d | sstable <root>/plain indexOnly parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |key range: rows=31 #07ca73a2d5f9 | sstable <root>/plain keyRangePruned parts=5 [generationsListed=5,generationsPlanned=5,splitsPlanned=5,pendingDeleteKeys=0]
    |point key: rows=3 #fa28d906deea | sstable <root>/plain keyRangePruned parts=3 [generationsListed=5,generationsPlanned=5,splitsPlanned=3,pendingDeleteKeys=0]
    |name slice: rows=50 #3321d52fa884 | sstable <root>/plain view=cells nameSliced parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |asofmicros: rows=62 #ccb376c6d4e5 | sstable <root>/plain asOf=205 parts=3 [generationsListed=5,generationsPlanned=2,splitsPlanned=3,pendingDeleteKeys=0]
    |ttlasofms rows: rows=155 #5f00d15798a3 | sstable <root>/plain ttlAsOf=1030 parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |ttlasofms cells: rows=179 #f5b9a4f4d94e | sstable <root>/plain view=cells ttlAsOf=1030 parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |applydeletes rows: rows=145 #88fc04d8f9af | sstable <root>/plain deleteAware parts=6 [generationsListed=5,generationsPlanned=3,splitsPlanned=6,pendingDeleteKeys=5]
    |applydeletes cells: rows=193 #08782c0fbbf6 | sstable <root>/plain view=cells deleteAware parts=6 [generationsListed=5,generationsPlanned=3,splitsPlanned=6,pendingDeleteKeys=5]
    |applydeletes key-only: rows=145 #8233cf1e2a67 | sstable <root>/plain deleteAware parts=6 [generationsListed=5,generationsPlanned=3,splitsPlanned=6,pendingDeleteKeys=5]
    |applydeletes asof: rows=58 #d1d784152e43 | sstable <root>/plain asOf=200 deleteAware parts=2 [generationsListed=5,generationsPlanned=1,splitsPlanned=2,pendingDeleteKeys=2]
    |applydeletes limit: rows=5 #d5d03e8042d2 | sstable <root>/plain limit=5 deleteAware parts=6 [generationsListed=5,generationsPlanned=3,splitsPlanned=6,pendingDeleteKeys=5]
    |sincesnapshot: rows=35 #3641f4185792 | sstable <root>/plain sinceSnapshot parts=4 [generationsListed=3,generationsPlanned=3,splitsPlanned=4,pendingDeleteKeys=0]
    |sincesnapshot applydeletes: rows=30 #7f1be7a04299 | sstable <root>/plain sinceSnapshot deleteAware parts=2 [generationsListed=3,generationsPlanned=1,splitsPlanned=2,pendingDeleteKeys=5]
    |sincesnapshot key-only: rows=35 #532a6d86e2a3 | sstable <root>/plain indexOnly sinceSnapshot parts=4 [generationsListed=3,generationsPlanned=3,splitsPlanned=4,pendingDeleteKeys=0]
    |snapshot pin: rows=120 #6054b3d0549e | sstable <root>/plain/_snapshot-s1 parts=4 [generationsListed=2,generationsPlanned=2,splitsPlanned=4,pendingDeleteKeys=0]
    |limit: rows=5 #327f5ff956a7 | sstable <root>/plain limit=5 parts=2 [generationsListed=5,generationsPlanned=2,splitsPlanned=2,pendingDeleteKeys=0]
    |cells limit: rows=7 #82007ee8578f | sstable <root>/plain view=cells limit=7 parts=4 [generationsListed=5,generationsPlanned=3,splitsPlanned=4,pendingDeleteKeys=0]
    |top-n: rows=7 #cfeaf79c0748 | sstable <root>/plain topN=7(key asc) parts=8 [generationsListed=5,generationsPlanned=5,splitsPlanned=8,pendingDeleteKeys=0]
    |stats aggregates: rows=1 #40103284cf93 | sstable <root>/plain statsOnlyAggregate parts=1 []
    |cells stats aggregates: rows=1 #f596e8e6fa58 | sstable <root>/plain statsOnlyAggregate parts=1 []
    |since stats aggregates: rows=1 #ce2f92c53ff1 | sstable <root>/plain statsOnlyAggregate sinceSnapshot parts=1 []
    |generations view: rows=5 #5968a7c2c7c4 | sstable <root>/plain view=generations parts=1 []
    |sstable-index: rows=155 #0e9b6fcd64a1 | sstable-index <root>/plain parts=5 [generationsListed=5,generationsPlanned=5,splitsPlanned=5]
    |sstable-index key range: rows=19 #aafeb65309a5 | sstable-index <root>/plain keyRangePruned parts=5 [generationsListed=5,generationsPlanned=5,splitsPlanned=5]
    |sstable-index point key: rows=1 #b6fe26355f93 | sstable-index <root>/plain keyRangePruned parts=1 [generationsListed=5,generationsPlanned=1,splitsPlanned=1]
    |sstable-index top-n: rows=3 #1e2a4fb78018 | sstable-index <root>/plain topN=3(key asc) parts=5 [generationsListed=5,generationsPlanned=5,splitsPlanned=5]
    |runtime IN filter: rows=4 #e62887701e6f | sstable <root>/plain parts=5 [generationsListed=5,generationsPlanned=5,splitsPlanned=5,pendingDeleteKeys=0]
  """

  val BucketedReads = """
    |buckets: rows=40 #2c9bdc83fbc3 | sstable <root>/bucketed buckets=4 keyGrouped parts=4 [generationsListed=4,generationsPlanned=4,splitsPlanned=4,pendingDeleteKeys=0]
    |buckets key range: rows=20 #ebbb6a7b5580 | sstable <root>/bucketed keyRangePruned buckets=4 keyGrouped parts=4 [generationsListed=4,generationsPlanned=4,splitsPlanned=4,pendingDeleteKeys=0]
    |buckets group by: rows=4 #7bb7eed39305 | sstable <root>/bucketed buckets=4 keyGrouped parts=4 [generationsListed=4,generationsPlanned=4,splitsPlanned=4,pendingDeleteKeys=0]
    |bucketed table: rows=24 #d49c323bd1aa | sstable <root>/wh/c/b deleteAware spjBuckets=4 parts=4 [generationsListed=4,generationsPlanned=4,splitsPlanned=4,pendingDeleteKeys=0]
    |bucketed table group by: rows=24 #1286ddf04d4d | sstable <root>/wh/c/b deleteAware spjBuckets=4 parts=4 [generationsListed=4,generationsPlanned=4,splitsPlanned=4,pendingDeleteKeys=0]
  """

  val CatalogReads = """
    |catalog table: rows=7 #64cdaaaf30f8 | sstable <root>/wh/c/t deleteAware parts=3 [generationsListed=4,generationsPlanned=3,splitsPlanned=3,pendingDeleteKeys=1]
    |catalog cells: rows=7 #16b879081bdb | sstable <root>/wh/c/t view=cells deleteAware parts=3 [generationsListed=4,generationsPlanned=3,splitsPlanned=3,pendingDeleteKeys=1]
    |catalog key-only: rows=7 #f0b84987191f | sstable <root>/wh/c/t deleteAware parts=3 [generationsListed=4,generationsPlanned=3,splitsPlanned=3,pendingDeleteKeys=1]
    |probe inner: rows=5 #77f77d7fe240 | probe
    |probe left outer: rows=8 #5bbd9f0322f1 | probe
    |probe semi: rows=3 #b34b31e9cab7 | probe
    |probe anti: rows=3 #00ee3661ba17 | probe
    |graft_lookup: rows=2 #bde391f133e5
    |graft_lookup merged: rows=3 #cafc8c14967c
  """
}
