package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps

/** SQL front door (GraftCatalog) + row-level DELETE (tombstone appends,
  * merge-on-read shadowing): the full DDL/DML lifecycle over sstable
  * directories, and the interplay between catalog (delete-aware) reads
  * and raw path-API reads. */
class GraftCatalogSpec extends AnyFunSuite {

  private lazy val warehouse: String = {
    val d = Files.createTempDirectory("graft-warehouse").toFile
    d.deleteOnExit()
    d.getPath
  }

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // catalogs resolve lazily, so conf-set works on a shared session
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s
  }

  /** INSERT a batch of simple (key → one NORMAL cell) rows via SQL. */
  private def insertRows(table: String, rows: Seq[(String, String, Long)]): Unit = {
    val values = rows.map { case (k, v, ts) =>
      s"(CAST('$k' AS BINARY), array(named_struct(" +
        s"'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        s"'value', CAST('$v' AS BINARY), 'timestamp', CAST($ts AS BIGINT), " +
        s"'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))"
    }.mkString(", ")
    spark.sql(s"INSERT INTO $table VALUES $values")
  }

  private def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("key").cast("string")).collect().map(_.getString(0)).toSeq.sorted

  test("a catalog append racing a table swap republishes into the " +
    "replacement once; layout changes, drops and the path API stay loud") {
    import graft.sources.sstable.LocalStorage
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rt")
    spark.sql("CREATE TABLE graft.rt.t")
    val dir = s"$warehouse/rt/t"
    val row = org.apache.spark.sql.catalyst.InternalRow(
      "k-race".getBytes,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]),
      null)
    def stagedWrite(tag: String, retry: Boolean,
                    target: String = dir): (SSTableBatchWrite,
        org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val props = Map(SSTableSource.PathOption -> target,
          SSTableSource.JobTagOption -> tag) ++
        (if (retry) Map(SSTableSource.CommitRetryOption -> "true") else Map.empty)
      val batch = new SSTableBatchWrite(target, SSTableSchema.schema, props,
        truncate = false)
      val w = batch.createBatchWriterFactory(null).createWriter(0, 0L)
      w.write(row)
      (batch, w.commit())
    }
    def swap(newDirSetup: String => Unit): () => Unit = () => {
      // REPLACE/rebucket semantics: old directory (first publish
      // included) renamed to trash, a fresh directory at the same path
      LocalStorage.rename(dir,
        s"$warehouse/rt/_dropped-t-${java.util.UUID.randomUUID().toString.take(8)}")
      LocalStorage.mkdirs(dir)
      newDirSetup(dir)
    }
    // 1. catalog append (commitretry): the swap lands between publish
    //    and verify — the commit follows the table identity and lands
    //    its rows in the REPLACEMENT directory
    val (b1, m1) = stagedWrite("race1", retry = true)
    b1.testBetweenPublishAndVerify = swap(_ => ())
    b1.commit(Array(m1))
    assert(keysOf(spark.sql("SELECT * FROM graft.rt.t")) == Seq("k-race"),
      "the republished rows must be visible in the new table")
    assert(spark.sql("SELECT op FROM graft.rt.t.history").collect()
      .map(_.getString(0)).contains("insert"),
      "the commit's history event must land on the NEW table's log")
    assert(!new java.io.File(s"$warehouse/rt").list().exists(_.startsWith("_wstage-")),
      "a successful retry must leave no outside staging behind")
    // 2. the replacement changed the bucket layout: linking plain-stem
    //    generations in would corrupt it — loud, original cause chained
    val (b2, m2) = stagedWrite("race2", retry = true)
    b2.testBetweenPublishAndVerify = swap(d =>
      GraftCatalog.writeTableProps(LocalStorage, d, Map("buckets" -> "2")))
    val e2 = intercept[IllegalStateException](b2.commit(Array(m2)))
    assert(e2.getMessage.contains("bucket layout"), e2.getMessage)
    LocalStorage.delete(s"$dir/${GraftCatalog.TablePropsFile}")
    // 3. the table was DROPPED mid-commit: an append must not resurrect it
    val (b3, m3) = stagedWrite("race3", retry = true)
    b3.testBetweenPublishAndVerify = () => LocalStorage.deleteRecursive(dir)
    val e3 = intercept[IllegalStateException](b3.commit(Array(m3)))
    assert(e3.getMessage.contains("dropped"), e3.getMessage)
    LocalStorage.mkdirs(dir)
    // 4. the path API addresses a DIRECTORY, not a table identity — a
    //    swap mid-commit stays the r9 loud failure
    val (b4, m4) = stagedWrite("race4", retry = false)
    b4.testBetweenPublishAndVerify = swap(_ => ())
    val e4 = intercept[IllegalStateException](b4.commit(Array(m4)))
    assert(e4.getMessage.contains("REPLACED"), e4.getMessage)
    // 5. a retryable write into a FRESH directory creates it: outside
    //    staging creates no target as a side effect, and without it the
    //    first write into a new dir dies at the commit marker's create
    //    (NOTES.md item 72)
    val fresh = s"$warehouse/rt/freshdir"
    val (b5, m5) = stagedWrite("race5", retry = true, target = fresh)
    b5.commit(Array(m5))
    assert(LocalStorage.listDataFiles(fresh).nonEmpty)
    spark.sql("DROP TABLE graft.rt.t PURGE")
  }

  test("a catalog append racing a table swap from a SECOND PROCESS " +
    "lands its rows exactly once in the replacement (cross-process " +
    "write-path evidence)") {
    import graft.sources.sstable.LocalStorage
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.xw")
    spark.sql("CREATE TABLE graft.xw.t")
    val dir = s"$warehouse/xw/t"
    val ns = s"$warehouse/xw"
    val row = org.apache.spark.sql.catalyst.InternalRow(
      "k-xproc".getBytes,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]),
      null)
    val batch = new SSTableBatchWrite(dir, SSTableSchema.schema,
      Map(SSTableSource.PathOption -> dir,
        SSTableSource.JobTagOption -> "xproc",
        SSTableSource.CommitRetryOption -> "true"),
      truncate = false)
    val w = batch.createBatchWriterFactory(null).createWriter(0, 0L)
    w.write(row)
    val msg = w.commit()
    // the swap happens in a REAL second JVM, between this commit's
    // publish and its integrity check
    val java = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(java, "-Xmx128m",
        "-cp", System.getProperty("java.class.path"),
        "graft.sources.sstable.LeaseChild", "swapper", dir, "60000")
      .inheritIO().start()
    try {
      batch.testBetweenPublishAndVerify = () => {
        LocalStorage.create(s"$ns/parent-publishing").close()
        val deadline = System.currentTimeMillis() + 20000
        while (!LocalStorage.exists(s"$ns/child-swapped")) {
          assert(System.currentTimeMillis() < deadline, "swapper timed out")
          Thread.sleep(20)
        }
      }
      batch.commit(Array(msg))
      assert(child.waitFor() == 0, "swapper child must exit cleanly")
      // exactly once, in the replacement the OTHER PROCESS created
      assert(keysOf(spark.sql("SELECT * FROM graft.xw.t")) == Seq("k-xproc"))
      assert(LocalStorage.listDataFiles(dir).size == 1,
        "one staged fileset, one published generation — no duplicate")
      assert(spark.sql("SELECT op FROM graft.xw.t.history").collect()
        .map(_.getString(0)).contains("insert"),
        "the history event must land on the NEW table's log")
      // the pre-swap publish rode to trash with the old directory
      val trash = s"$ns/_dropped-swapchild-deadbeef"
      assert(LocalStorage.listDataFiles(trash).size == 1,
        "the first publish is in the trash copy, not lost")
    } finally {
      child.destroyForcibly()
      LocalStorage.delete(s"$ns/parent-publishing")
      LocalStorage.delete(s"$ns/child-swapped")
      spark.sql("DROP TABLE graft.xw.t PURGE")
    }
  }

  test("DDL lifecycle: namespaces, create, list, rename, drop") {
    spark.sql("CREATE NAMESPACE graft.ddl")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("ddl"))
    spark.sql("CREATE TABLE graft.ddl.t1")
    spark.sql("CREATE TABLE graft.ddl.t2")
    assert(spark.sql("SHOW TABLES IN graft.ddl").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("t1", "t2"))
    // duplicate create fails loudly; IF NOT EXISTS is quiet
    intercept[Exception](spark.sql("CREATE TABLE graft.ddl.t1"))
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ddl.t1")
    spark.sql("ALTER TABLE graft.ddl.t2 RENAME TO ddl.t3")
    assert(spark.sql("SHOW TABLES IN graft.ddl").collect()
      .map(_.getString(1)).sorted.toSeq == Seq("t1", "t3"))
    spark.sql("DROP TABLE graft.ddl.t3")
    spark.sql("DROP TABLE graft.ddl.t1")
    assert(spark.sql("SHOW TABLES IN graft.ddl").collect().isEmpty)
    // created tables are plain directories: the path API reads them too
    spark.sql("CREATE TABLE graft.ddl.t4")
    insertRows("graft.ddl.t4", Seq(("a", "1", 10L)))
    assert(spark.read.format("sstable").load(s"$warehouse/ddl/t4").count() == 1)
    spark.sql("DROP NAMESPACE graft.ddl CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("ddl"))
  }

  test("INSERT + SELECT round-trip through pure SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
    spark.sql("CREATE TABLE graft.q.events")
    insertRows("graft.q.events",
      Seq(("k1", "v1", 100L), ("k2", "v2", 200L), ("k3", "v3", 300L)))
    assert(keysOf(spark.sql("SELECT key FROM graft.q.events")) ==
      Seq("k1", "k2", "k3"))
    // key-range pushdown works through the catalog identifier
    val pruned = spark.sql(
      "SELECT key FROM graft.q.events WHERE key >= CAST('k2' AS BINARY)")
    assert(keysOf(pruned) == Seq("k2", "k3"))
    assert(pruned.queryExecution.executedPlan.toString.contains("keyRangePruned"))
    spark.sql("DROP TABLE graft.q.events")
  }

  test("DELETE WHERE key: tombstone append, merge-on-read, compaction folds it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.d")
    spark.sql("CREATE TABLE graft.d.t")
    val dir = s"$warehouse/d/t"
    insertRows("graft.d.t", Seq(("a", "1", 100L), ("b", "2", 200L)))
    insertRows("graft.d.t", Seq(("c", "3", 300L)))
    assert(spark.sql("SELECT * FROM graft.d.t").count() == 3)
    val gensBefore = graft.sources.sstable.LocalStorage.listDataFiles(dir).length

    spark.sql("DELETE FROM graft.d.t WHERE key = CAST('b' AS BINARY)")

    // O(delta): ONE generation appended, nothing rewritten
    val gens = graft.sources.sstable.LocalStorage.listDataFiles(dir)
    assert(gens.length == gensBefore + 1)
    // catalog reads shadow the key — full rows, key-only projection,
    // cells view via the path API with applydeletes
    assert(keysOf(spark.sql("SELECT * FROM graft.d.t")) == Seq("a", "c"))
    assert(keysOf(spark.sql("SELECT key FROM graft.d.t")) == Seq("a", "c"))
    assert(spark.sql("SELECT count(*) FROM graft.d.t").head().getLong(0) == 2)
    assert(spark.read.format("sstable").option("applydeletes", "true")
      .option("view", "cells").load(dir).count() == 2)
    // the raw path view keeps full fidelity: three data rows plus the
    // tombstone row, visible as rowTombstone
    val raw = spark.read.format("sstable").load(dir)
    assert(raw.count() == 4)
    assert(raw.filter(col("rowTombstone").isNotNull).count() == 1)
    // and the operator merge reconciles to the same LIVE state
    // (compactRows keeps the merged tombstone row by design — other
    // directories may still hold shadowed data; suppressTombstones is
    // the live view)
    assert(keysOf(SSTableOps.suppressTombstones(raw)) == Seq("a", "c"))

    // a re-insert AFTER the delete outdates the tombstone — the LWW way.
    // (the delete mark is max-ts+1, so the new cell must be newer still)
    insertRows("graft.d.t", Seq(("b", "reborn", 1000L)))
    assert(keysOf(spark.sql("SELECT * FROM graft.d.t")) == Seq("a", "b", "c"))

    // compaction folds the whole directory — tombstones and the delete
    // generation disappear; delete-aware and raw reads now agree
    while (SSTableOps.compactInPlace(spark, dir, minThreshold = 2) > 0) ()
    assert(keysOf(spark.sql("SELECT * FROM graft.d.t")) == Seq("a", "b", "c"))
    assert(spark.read.format("sstable").load(dir)
      .filter(col("rowTombstone").isNotNull).count() == 0)
    spark.sql("DROP TABLE graft.d.t")
  }

  test("DELETE IN-list and unconditional DELETE; unsupported predicates refuse") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.d2")
    spark.sql("CREATE TABLE graft.d2.t")
    insertRows("graft.d2.t",
      Seq(("a", "1", 1L), ("b", "2", 2L), ("c", "3", 3L), ("d", "4", 4L)))
    spark.sql("DELETE FROM graft.d2.t WHERE key IN " +
      "(CAST('a' AS BINARY), CAST('d' AS BINARY))")
    assert(keysOf(spark.sql("SELECT * FROM graft.d2.t")) == Seq("b", "c"))
    // non-key predicate: runs through the row-level (scan + tombstone
    // delta) path — r7 refused it, r8 supports it
    spark.sql("DELETE FROM graft.d2.t WHERE " +
      "cast(columns[0].value as string) = '2'")
    assert(keysOf(spark.sql("SELECT * FROM graft.d2.t")) == Seq("c"))
    // unconditional delete truncates
    spark.sql("DELETE FROM graft.d2.t")
    assert(spark.sql("SELECT * FROM graft.d2.t").count() == 0)
    assert(graft.sources.sstable.LocalStorage.listDataFiles(
      s"$warehouse/d2/t").isEmpty)
    spark.sql("DROP TABLE graft.d2.t")
  }

  test("point reads and INSERT OVERWRITE compose with catalog DELETE") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pr")
    spark.sql("CREATE TABLE graft.pr.t")
    val dir = s"$warehouse/pr/t"
    insertRows("graft.pr.t", Seq(("a", "1", 100L), ("b", "2", 200L)))
    spark.sql("DELETE FROM graft.pr.t WHERE key = CAST('b' AS BINARY)")
    // the probe path (lookupJoin) reconciles the tombstone generation
    // newest-first: the deleted key is a miss, the live key a hit
    import spark.implicits._
    val probes = Seq("a", "b").toDF("s")
      .select(col("s").cast("binary").as("key"))
    val hits = SSTableOps.lookupJoin(probes, dir)
      .select(col("key").cast("string")).as[String].collect().toSeq
    assert(hits == Seq("a"), s"lookupJoin must see the delete: $hits")
    // and the embedded single-key read path agrees
    assert(graft.sources.sstable.SSTableReader
      .get(dir, "b".getBytes, gcTombstones = true).isEmpty)

    // INSERT OVERWRITE = truncate + append through the same sink:
    // everything (including the tombstone generation) is replaced
    spark.sql("INSERT OVERWRITE graft.pr.t VALUES " +
      "(CAST('z' AS BINARY), array(named_struct('name', CAST('c' AS BINARY), " +
      "'state', 'NORMAL', 'value', CAST('9' AS BINARY), 'timestamp', CAST(999 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
      "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")
    assert(keysOf(spark.sql("SELECT * FROM graft.pr.t")) == Seq("z"))
    assert(graft.sources.sstable.LocalStorage.listDataFiles(dir).length == 1)
    spark.sql("DROP TABLE graft.pr.t")
  }

  test("partial STCS folds never swallow pending deletes (no resurrection)") {
    // the review-found hazard: a non-GC fold that includes the delete
    // generation would keep its tombstone ROWS but destroy the sidecar
    // delete-only signature the shadow map is built from — the delete
    // would silently stop applying while the (un-folded, overlapping)
    // base generation still holds the deleted data
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.res")
    spark.sql("CREATE TABLE graft.res.t")
    val dir = s"$warehouse/res/t"
    // big base generation holding the doomed key — its own STCS tier
    insertRows("graft.res.t",
      (0 until 200).map(i => (f"k$i%04d", s"v$i", 100L + i)))
    // four small flushes: same size tier as the delete generation
    insertRows("graft.res.t", Seq(("s1", "x", 500L)))
    insertRows("graft.res.t", Seq(("s2", "x", 501L)))
    insertRows("graft.res.t", Seq(("s3", "x", 502L)))
    spark.sql("DELETE FROM graft.res.t WHERE key = CAST('k0100' AS BINARY)")
    assert(!keysOf(spark.sql("SELECT * FROM graft.res.t")).contains("k0100"))

    // one STCS pass: the small tier (flushes + delete gen) buckets
    // WITHOUT the base generation -> not isolated -> carrying fold.
    // The delete generation must be withheld and keep shadowing.
    SSTableOps.compactInPlace(spark, dir, minThreshold = 2, minSize = 0L)
    val stillDeleteOnly = graft.sources.sstable.LocalStorage.listDataFiles(dir)
      .exists(f => DeleteShadow.isDeleteOnly(
        new graft.sources.sstable.SSTableReader(
          f, graft.sources.sstable.LocalStorage).statistics))
    assert(stillDeleteOnly, "the delete generation must survive a carrying fold")
    assert(!keysOf(spark.sql("SELECT * FROM graft.res.t")).contains("k0100"),
      "pending delete resurrected by a partial compaction")

    // repeat-until-zero terminates even though the withheld delete
    // generation keeps sitting in a foldable size tier
    var guard = 0
    while (SSTableOps.compactInPlace(spark, dir, minThreshold = 2, minSize = 0L) > 0) {
      guard += 1
      assert(guard < 20, "compactInPlace no longer converges")
    }
    assert(!keysOf(spark.sql("SELECT * FROM graft.res.t")).contains("k0100"))
    spark.sql("DROP TABLE graft.res.t")
  }

  test("DDL guards: namespaces survive table DDL; CREATE checks its namespace and types") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gd")
    spark.sql("CREATE TABLE graft.gd.t1")
    // DROP TABLE aimed at a NAMESPACE (a dir holding tables) must refuse
    // — this typo used to recursively delete the namespace and its tables
    intercept[Exception](spark.sql("DROP TABLE graft.gd"))
    assert(spark.sql("SHOW TABLES IN graft.gd").collect()
      .map(_.getString(1)).toSeq == Seq("t1"), "namespace must survive")
    // RENAME of a namespace refuses the same way
    intercept[Exception](spark.sql("ALTER TABLE graft.gd RENAME TO gd2"))
    // CREATE TABLE in a namespace that doesn't exist fails instead of
    // silently fabricating the namespace
    intercept[Exception](spark.sql("CREATE TABLE graft.nope.t"))
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("nope"))
    // a wrong-typed explicit column list is rejected (names alone used
    // to pass)
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.gd.bad (key INT, columns STRING, rowTombstone INT)"))
    spark.sql("DROP NAMESPACE graft.gd CASCADE")
  }

  test("catalog tables stream as a change feed (delete events, not merge-on-read)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cf")
    spark.sql("CREATE TABLE graft.cf.t")
    insertRows("graft.cf.t", Seq(("a", "1", 10L), ("b", "2", 20L)))
    val ck = Files.createTempDirectory("cf-ck").toString
    // the explicit _change_type metadata column rides the stream too —
    // consumers read a labeled change feed instead of inferring from
    // the row shape
    val q = spark.readStream.table("graft.cf.t")
      .select(col("key").cast("string").as("k"), col("_change_type").as("ct"))
      .writeStream.outputMode("append").format("memory").queryName("cf_feed")
      .option("checkpointLocation", ck).start()
    q.processAllAvailable()
    spark.sql("DELETE FROM graft.cf.t WHERE key = CAST('a' AS BINARY)")
    q.processAllAvailable()
    q.stop()
    val events = spark.table("cf_feed").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(e => (e._1, e._2))
    assert(events.toSeq == Seq(("a", "delete"), ("a", "upsert"), ("b", "upsert")),
      s"catalog stream must surface labeled change events: ${events.mkString(", ")}")
    // batch SELECT of the same table stays merge-on-read
    assert(keysOf(spark.sql("SELECT * FROM graft.cf.t")) == Seq("b"))
    spark.sql("DROP TABLE graft.cf.t")
  }

  test("writeStream.toTable lands micro-batches in a catalog table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cf")
    spark.sql("CREATE TABLE graft.cf.sink")
    val ck = Files.createTempDirectory("cf-sink-ck").toString
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long)]
    val q = source.toDF().toDF("k", "v", "ts")
      .select(col("k").cast("binary").as("key"),
        array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          col("v").cast("binary").as("value"), col("ts").as("timestamp"),
          lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
        lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
          .as("rowTombstone"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck).toTable("graft.cf.sink")
    source.addData(("a", "1", 10L), ("b", "2", 20L))
    q.processAllAvailable()
    source.addData(("b", "2b", 30L)) // LWW upsert across epochs
    q.processAllAvailable()
    q.stop()
    // each epoch committed a generation; batch SQL sees the stream's rows
    assert(keysOf(spark.sql("SELECT * FROM graft.cf.sink")) ==
      Seq("a", "b", "b"))
    assert(spark.sql("SELECT count(*) FROM graft.cf.sink.generations")
      .head().getLong(0) == 2)
    // and the LWW merge resolves the cross-epoch upsert
    assert(SSTableOps.compactRows(spark.read.format("sstable")
        .load(s"$warehouse/cf/sink"))
      .selectExpr("cast(columns[0].value as string) v").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("1", "2b"))
    spark.sql("DROP TABLE graft.cf.sink")
  }

  test("SQL time travel: VERSION AS OF = snapshot pin, TIMESTAMP AS OF = asof cut") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.t")
    val dir = s"$warehouse/tt/t"
    insertRows("graft.tt.t", Seq(("a", "v1", 100L), ("b", "v1", 200L)))
    SSTableOps.snapshot(dir, "epoch1")
    insertRows("graft.tt.t", Seq(("b", "v2", 300L), ("c", "v1", 400L)))
    spark.sql("DELETE FROM graft.tt.t WHERE key = CAST('a' AS BINARY)")
    // raw row versions, delete-shadowed: both b versions visible
    assert(keysOf(spark.sql("SELECT * FROM graft.tt.t")) == Seq("b", "b", "c"))

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr("cast(key as string) k",
          "cast(columns[0].value as string) v", "columns[0].timestamp ts")
        .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}")
        .toSeq.sorted

    // VERSION AS OF '<tag>' ≡ option("snapshot", tag) bit-for-bit —
    // pre-delete, pre-flush state
    val viaSql = rows(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'epoch1'"))
    val viaOpt = rows(spark.read.format("sstable")
      .option("snapshot", "epoch1").option("applydeletes", "true").load(dir))
    assert(viaSql == viaOpt && viaSql == Seq("a|v1|100", "b|v1|200"))

    // TIMESTAMP AS OF t ≡ option("asofmicros", t) bit-for-bit: at 250 μs
    // b=v1 still wins, c absent, and the (later-marked) delete of a does
    // not apply yet
    val atSql = rows(spark.sql(
      "SELECT * FROM graft.tt.t TIMESTAMP AS OF timestamp_micros(250)"))
    val atOpt = rows(spark.read.format("sstable")
      .option("asofmicros", "250").option("applydeletes", "true").load(dir))
    assert(atSql == atOpt && atSql == Seq("a|v1|100", "b|v1|200"))
    // at 350 μs: the second b version appears too; c still absent
    assert(rows(spark.sql(
      "SELECT * FROM graft.tt.t TIMESTAMP AS OF timestamp_micros(350)")) ==
      Seq("a|v1|100", "b|v1|200", "b|v2|300"))

    // unknown tag and pre-history timestamp fail loudly at resolution
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'nope'").collect())
    assert(e1.getMessage.contains("no snapshot"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM graft.tt.t TIMESTAMP AS OF timestamp_micros(50)")
        .collect())
    assert(e2.getMessage.contains("predates"), e2.getMessage)

    // a time-traveled table refuses writes (path API carries the same
    // properties the catalog resolves to)
    import org.apache.spark.sql.SaveMode
    intercept[Exception](
      spark.read.format("sstable").load(dir).limit(1)
        .write.format("sstable").option("snapshot", "epoch1")
        .mode(SaveMode.Append).save(dir))

    // CDC diff form: VERSION AS OF 'a..b' = pin b MINUS pin a; 'a..' =
    // live minus pin a — the SQL spelling of the incremental read loop
    SSTableOps.snapshot(dir, "epoch2")
    val diffSql = rows(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'epoch1..epoch2'"))
    val diffOpt = rows(spark.read.format("sstable")
      .option("sincesnapshot", "epoch1").option("snapshot", "epoch2")
      .option("applydeletes", "true").load(dir))
    assert(diffSql == diffOpt && diffSql.nonEmpty, s"$diffSql vs $diffOpt")
    val liveDiffSql = rows(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'epoch1..'"))
    val liveDiffOpt = rows(spark.read.format("sstable")
      .option("sincesnapshot", "epoch1")
      .option("applydeletes", "true").load(dir))
    assert(liveDiffSql == liveDiffOpt, s"$liveDiffSql vs $liveDiffOpt")
    // catalog diffs are delete-AWARE (like every catalog read): the
    // deleted key nets OUT instead of surfacing as an event — the
    // delete-event change feed is the raw path read without
    // applydeletes (pinned in SSTableSourceSpec's metadata-columns case)
    val types = spark.sql(
        "SELECT cast(key as string) k, _change_type c FROM graft.tt.t VERSION AS OF 'epoch1..'")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(types == Set(("b", "upsert"), ("c", "upsert")), types.toString)
    val rawTypes = spark.read.format("sstable")
      .option("sincesnapshot", "epoch1").load(dir)
      .selectExpr("cast(key as string) k", "_change_type c")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rawTypes.contains(("a", "delete")), rawTypes.toString)
    // unknown endpoints fail at resolution, either side
    val e3 = intercept[Exception](
      spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'nope..epoch2'").collect())
    assert(e3.getMessage.contains("no snapshot 'nope'"), e3.getMessage)
    val e4 = intercept[Exception](
      spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 'epoch1..nope'").collect())
    assert(e4.getMessage.contains("no snapshot 'nope'"), e4.getMessage)
    spark.sql("DROP TABLE graft.tt.t PURGE")
  }

  test("empty namespaces are protected from table DDL; nested CREATE needs its parent") {
    spark.sql("CREATE NAMESPACE graft.emptyns")
    // DROP TABLE / RENAME aimed at the empty NAMESPACE refuse (ADVICE
    // r7: the marker disambiguates it from an empty table)
    intercept[Exception](spark.sql("DROP TABLE graft.emptyns"))
    intercept[Exception](spark.sql("ALTER TABLE graft.emptyns RENAME TO gone"))
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("emptyns"), "namespace must survive")
    // nested CREATE NAMESPACE requires its parent, like CREATE TABLE
    intercept[Exception](spark.sql("CREATE NAMESPACE graft.noparent.child"))
    // …and the parent must BE a namespace: a namespace planted inside a
    // TABLE directory would strand the table (self-review r8)
    spark.sql("CREATE TABLE graft.emptyns.tbl")
    insertRows("graft.emptyns.tbl", Seq(("a", "1", 1L)))
    intercept[Exception](spark.sql("CREATE NAMESPACE graft.emptyns.tbl.sub"))
    // CREATE TABLE / RENAME into a table dir strand it the same way —
    // the metadata-table names invite exactly this (self-review r8)
    intercept[Exception](spark.sql(
      "CREATE TABLE IF NOT EXISTS graft.emptyns.tbl.generations"))
    spark.sql("CREATE TABLE graft.emptyns.other")
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.emptyns.other RENAME TO emptyns.tbl.sub"))
    spark.sql("DROP TABLE graft.emptyns.other")
    assert(spark.sql("SELECT * FROM graft.emptyns.tbl").count() == 1,
      "table must keep resolving after refused nested DDL")
    spark.sql("DROP TABLE graft.emptyns.tbl")
    assert(!spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("noparent"))
    spark.sql("CREATE NAMESPACE graft.emptyns.child") // parent exists: fine
    // a child namespace is not a phantom table of its parent
    assert(spark.sql("SHOW TABLES IN graft.emptyns").collect().isEmpty,
      "child namespaces must not list as tables")
    spark.sql("DROP NAMESPACE graft.emptyns.child")
    spark.sql("DROP NAMESPACE graft.emptyns")
  }

  test("SQL UPDATE: delete+insert delta, O(changed rows) appends, LWW-correct") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.up")
    spark.sql("CREATE TABLE graft.up.t")
    val dir = s"$warehouse/up/t"
    insertRows("graft.up.t", Seq(("a", "v1", 100L), ("b", "v2", 200L), ("c", "v3", 300L)))
    val gensBefore = graft.sources.sstable.LocalStorage.listDataFiles(dir).length

    // value-predicate UPDATE: rewrites the columns array; the engine
    // stamps the write timestamp (the 0 below never survives)
    spark.sql("UPDATE graft.up.t SET columns = array(named_struct(" +
      "'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      "'value', CAST('patched' AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) " +
      "WHERE cast(columns[0].value as string) = 'v2'")

    // O(delta): ONE tombstone generation + at most a few insert filesets
    val gensAfter = graft.sources.sstable.LocalStorage.listDataFiles(dir).length
    assert(gensAfter <= gensBefore + 2,
      s"UPDATE must append a delta, not rewrite: $gensBefore -> $gensAfter")
    // merged view: exactly one b, with the new value, stamped after 300
    val rows = spark.sql("SELECT * FROM graft.up.t")
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v",
        "columns[0].timestamp ts")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a", "b", "c"), rows.mkString(","))
    val b = rows(1)
    assert(b._2 == "patched" && b._3 > 300, s"stamped write ts must win: $b")
    // untouched rows keep their original timestamps
    assert(rows(0)._3 == 100L && rows(2)._3 == 300L)

    // a key-predicate UPDATE prunes its target scan: the row-level scan
    // is the table's own DSv2 scan, so pushed key bounds reach split
    // planning — at 100 TB the op reads O(affected splits), not the table
    val pruned = spark.sql("UPDATE graft.up.t SET columns = array(named_struct(" +
      "'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      "'value', CAST('again' AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) " +
      "WHERE key = CAST('a' AS BINARY)")
    val updPlan = pruned.queryExecution.executedPlan.toString
    assert(updPlan.contains("keyRangePruned"),
      s"key-predicate UPDATE must prune the target scan:\n$updPlan")
    assert(keysOf(spark.sql("SELECT * FROM graft.up.t")) == Seq("a", "b", "c"))
    spark.sql("DROP TABLE graft.up.t")
  }

  test("SQL MERGE INTO: matched update + not-matched insert, one statement timestamp") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mg")
    spark.sql("CREATE TABLE graft.mg.t")
    insertRows("graft.mg.t", Seq(("a", "old-a", 100L), ("b", "old-b", 200L)))
    // source relation: updates a, leaves b, inserts d
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW mg_src AS
      SELECT CAST(k AS BINARY) key, array(named_struct(
        'name', CAST('c' AS BINARY), 'state', 'NORMAL',
        'value', CAST(v AS BINARY), 'timestamp', CAST(0 AS BIGINT),
        'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) columns
      FROM VALUES ('a', 'new-a'), ('d', 'new-d') AS s(k, v)""")
    spark.sql("""
      MERGE INTO graft.mg.t t USING mg_src s ON t.key = s.key
      WHEN MATCHED THEN UPDATE SET columns = s.columns
      WHEN NOT MATCHED THEN INSERT (key, columns, rowTombstone)
        VALUES (s.key, s.columns, NULL)""")
    val rows = spark.sql("SELECT * FROM graft.mg.t")
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v",
        "columns[0].timestamp ts")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a", "b", "d"), rows.mkString(","))
    assert(rows(0)._2 == "new-a" && rows(1)._2 == "old-b" && rows(2)._2 == "new-d")
    // one write timestamp per statement, newer than everything prior
    assert(rows(0)._3 == rows(2)._3 && rows(0)._3 > 200,
      s"statement-level write timestamp: ${rows.mkString(",")}")
    assert(rows(1)._3 == 200L)
    // MERGE with a DELETE branch composes too
    spark.sql("""
      MERGE INTO graft.mg.t t USING mg_src s ON t.key = s.key
      WHEN MATCHED AND cast(s.v_dummy AS STRING) IS NULL THEN DELETE"""
      .replace("s.v_dummy", "NULL"))
    assert(keysOf(spark.sql("SELECT * FROM graft.mg.t")) == Seq("b"))
    spark.sql("DROP TABLE graft.mg.t")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the third branch family rides the same delta") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mg")
    spark.sql("CREATE TABLE graft.mg.nbs")
    insertRows("graft.mg.nbs",
      Seq(("a", "keep", 100L), ("b", "stale", 200L), ("c", "stale", 300L)))
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW nbs_src AS
      SELECT CAST(k AS BINARY) key, array(named_struct(
        'name', CAST('c' AS BINARY), 'state', 'NORMAL',
        'value', CAST(v AS BINARY), 'timestamp', CAST(0 AS BIGINT),
        'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) columns
      FROM VALUES ('a', 'synced') AS s(k, v)""")
    // full-sync shape: matched rows update, target rows absent from the
    // source are deleted — deletes are tombstone appends like any other
    spark.sql("""
      MERGE INTO graft.mg.nbs t USING nbs_src s ON t.key = s.key
      WHEN MATCHED THEN UPDATE SET columns = s.columns
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val rows = spark.sql("SELECT * FROM graft.mg.nbs")
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(("a", "synced")), rows.mkString(","))
    // and the UPDATE flavor of the branch
    insertRows("graft.mg.nbs", Seq(("z", "orphan", 400L)))
    spark.sql("""
      MERGE INTO graft.mg.nbs t USING nbs_src s ON t.key = s.key
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
        columns = array(named_struct(
          'name', CAST('c' AS BINARY), 'state', 'NORMAL',
          'value', CAST('flagged' AS BINARY), 'timestamp', CAST(0 AS BIGINT),
          'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT)))""")
    val rows2 = spark.sql("SELECT * FROM graft.mg.nbs")
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(rows2.toSeq == Seq(("a", "synced"), ("z", "flagged")), rows2.mkString(","))
    spark.sql("DROP TABLE graft.mg.nbs")
  }

  test("TRUNCATE TABLE and SHOW CREATE TABLE round out the DDL surface") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tr")
    spark.sql("CREATE TABLE graft.tr.t")
    val dir = s"$warehouse/tr/t"
    insertRows("graft.tr.t", Seq(("a", "1", 10L), ("b", "2", 20L)))
    insertRows("graft.tr.t", Seq(("c", "3", 30L)))
    // TRUNCATE = the O(#generations) unpublish path (SupportsDelete's
    // unconditional delete): no tombstone debt, an empty directory
    spark.sql("TRUNCATE TABLE graft.tr.t")
    assert(spark.sql("SELECT * FROM graft.tr.t").count() == 0)
    assert(graft.sources.sstable.LocalStorage.listDataFiles(dir).isEmpty,
      "TRUNCATE must unpublish, not tombstone")
    // the table stays usable
    insertRows("graft.tr.t", Seq(("z", "9", 99L)))
    assert(keysOf(spark.sql("SELECT * FROM graft.tr.t")) == Seq("z"))
    // SHOW CREATE TABLE emits the canonical fixed schema
    val ddl = spark.sql("SHOW CREATE TABLE graft.tr.t").head().getString(0)
    for (frag <- Seq("key BINARY", "columns ARRAY<STRUCT<", "state: STRING",
        "timestamp: BIGINT", "rowTombstone STRUCT<localDeletionTime: INT",
        "markedForDeleteAt: BIGINT"))
      assert(ddl.contains(frag), s"SHOW CREATE TABLE missing '$frag':\n$ddl")
    spark.sql("DROP TABLE graft.tr.t")
  }

  test("property values validate at CREATE; ALTER 'buckets' refuses while snapshots pin the old layout") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pv")
    // every writer-tuning value parses at CREATE, never at first INSERT
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE graft.pv.bad TBLPROPERTIES('chunklength'='abc')"))
    assert(e1.getMessage.contains("writer-tuning"), e1.getMessage)
    // a line-break value would corrupt the line-oriented _table file
    // and make the table permanently unloadable
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE graft.pv.bad TBLPROPERTIES('compressionalgorithm'='snappy\nx')"))
    assert(e2.getMessage.contains("line break"), e2.getMessage)
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.pv.bad TBLPROPERTIES('layout'='zigzag')"))
    assert(!spark.sql("SHOW TABLES IN graft.pv").collect()
      .exists(_.getString(1) == "bad"), "a refused CREATE must not land")
    // ALTER 'buckets': empty live data is NOT enough — a snapshot pin
    // keeps old-layout files readable via VERSION AS OF, and the new
    // buckets value would mis-key their key-grouped splits
    spark.sql("CREATE TABLE graft.pv.t TBLPROPERTIES('buckets'='4')")
    insertRows("graft.pv.t", Seq(("a", "1", 10L), ("b", "2", 20L)))
    val dir = s"$warehouse/pv/t"
    SSTableOps.snapshot(dir, "pin")
    spark.sql("TRUNCATE TABLE graft.pv.t")
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE graft.pv.t SET TBLPROPERTIES('buckets'='8')"))
    assert(e3.getMessage.contains("snapshot"), e3.getMessage)
    // dropping the pin unblocks the layout change
    SSTableOps.dropSnapshot(dir, "pin")
    spark.sql("ALTER TABLE graft.pv.t SET TBLPROPERTIES('buckets'='8')")
    assert(spark.sql("SHOW CREATE TABLE graft.pv.t").head().getString(0)
      .contains("'buckets' = '8'"))
    spark.sql("DROP TABLE graft.pv.t")
  }

  test("a layout-changing REPLACE re-checks pins under the swap's OWN " +
    "lease: a pin created after rebucket's released pre-check still " +
    "refuses instead of being destroyed with the replaced tree " +
    "(ADVICE r12); the guard is scoped to layout changes only") {
    spark.sql("CREATE NAMESPACE graft.pv2")
    spark.sql("CREATE TABLE graft.pv2.t TBLPROPERTIES('buckets'='4')")
    insertRows("graft.pv2.t", Seq(("a", "1", 10L), ("b", "2", 20L)))
    val dir = s"$warehouse/pv2/t"
    // models the ADVICE race: rebucket's short-lease pre-check passed,
    // then this pin landed before the REPLACE's lease acquired — the
    // REPLACE itself must re-run the guard inside its own lease
    SSTableOps.snapshot(dir, "gap-pin")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val e = intercept[Exception](spark.sql(
      "CREATE OR REPLACE TABLE graft.pv2.t TBLPROPERTIES('buckets'='8') " +
        "AS SELECT * FROM graft.pv2.t"))
    assert(chain(e).exists(_.contains("snapshots pin")), chain(e))
    // the refused swap left the table AND the pin intact
    assert(spark.sql("SELECT count(*) FROM graft.pv2.t").head().getLong(0) == 2)
    assert(SSTableOps.listSnapshots(dir).contains("gap-pin"))
    // dropping the pin unblocks the relayout
    SSTableOps.dropSnapshot(dir, "gap-pin")
    spark.sql("CREATE OR REPLACE TABLE graft.pv2.t TBLPROPERTIES(" +
      "'buckets'='8') AS SELECT * FROM graft.pv2.t")
    assert(spark.sql("SHOW CREATE TABLE graft.pv2.t").head().getString(0)
      .contains("'buckets' = '8'"))
    // scoped: a SAME-layout REPLACE over a pinned table is untouched by
    // the guard (pins ride into trash with the replaced state — the
    // documented REPLACE contract)
    SSTableOps.snapshot(dir, "ride-along")
    spark.sql("CREATE OR REPLACE TABLE graft.pv2.t TBLPROPERTIES(" +
      "'buckets'='8') AS SELECT * FROM graft.pv2.t")
    assert(spark.sql("SELECT count(*) FROM graft.pv2.t").head().getLong(0) == 2)
    spark.sql("DROP TABLE graft.pv2.t PURGE")
  }

  test("SQL metadata tables: t.generations, t.snapshots, t.cells") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.t")
    val dir = s"$warehouse/meta/t"
    insertRows("graft.meta.t", Seq(("a", "1", 10L), ("b", "2", 20L)))
    insertRows("graft.meta.t", Seq(("c", "3", 30L)))
    SSTableOps.snapshot(dir, "pin-1")

    // generations: one row per fileset, sidecar metadata in pure SQL
    val gens = spark.sql(
      "SELECT generation, rowCount, deleteOnly FROM graft.meta.t.generations")
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(gens.length == 2 && gens.map(_._1).sum == 3 && gens.forall(!_._2))

    // snapshots: time-travel discovery — find the tag, read it back
    val snaps = spark.sql("SELECT tag, filesets FROM graft.meta.t.snapshots")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(snaps.toSeq == Seq(("pin-1", 2)), s"got ${snaps.mkString(",")}")
    insertRows("graft.meta.t", Seq(("d", "4", 40L)))
    assert(spark.sql("SELECT * FROM graft.meta.t VERSION AS OF 'pin-1'")
      .count() == 3, "the discovered tag must be readable")

    // cells: the flattened view, delete-aware like the table
    spark.sql("DELETE FROM graft.meta.t WHERE key = CAST('a' AS BINARY)")
    val cells = spark.sql(
      "SELECT cast(key as string) k, cast(value as string) v " +
        "FROM graft.meta.t.cells ORDER BY k")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}")
    assert(cells.toSeq == Seq("b=2", "c=3", "d=4"), cells.mkString(","))

    // a bogus nested name still fails loudly
    intercept[Exception](spark.sql("SELECT * FROM graft.meta.t.nope").collect())
    spark.sql("DROP TABLE graft.meta.t PURGE")
  }

  test("delete-aware scans decline stats-only aggregates; raw scans keep them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    spark.sql("CREATE TABLE graft.agg.t")
    val dir = s"$warehouse/agg/t"
    insertRows("graft.agg.t", Seq(("a", "1", 1L), ("b", "2", 2L)))
    val viaCatalog = spark.sql("SELECT count(*) FROM graft.agg.t")
    assert(!viaCatalog.queryExecution.executedPlan.toString
      .contains("statsOnlyAggregate"),
      "delete-aware reads must not answer counts from sidecars")
    assert(viaCatalog.head().getLong(0) == 2)
    import spark.implicits._
    val viaPath = spark.read.format("sstable").load(dir).agg(count(lit(1)))
    assert(viaPath.queryExecution.executedPlan.toString
      .contains("statsOnlyAggregate"))
    assert(viaPath.as[Long].head() == 2)
    spark.sql("DROP TABLE graft.agg.t")
  }

  test("t.history: every commit, DML and maintenance action is one ordered event") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hist")
    spark.sql("CREATE TABLE graft.hist.t")
    val dir = s"$warehouse/hist/t"

    insertRows("graft.hist.t", Seq(("a", "1", 1L), ("b", "2", 2L)))
    insertRows("graft.hist.t", Seq(("c", "3", 3L), ("d", "4", 4L)))
    spark.sql("CALL graft.system.snapshot(table => 'hist.t', tag => 'pin')")
    spark.sql(
      "MERGE INTO graft.hist.t t USING (SELECT CAST('b' AS BINARY) mk) s " +
        "ON t.key = s.mk WHEN MATCHED THEN DELETE")
    spark.sql("CALL graft.system.compact(table => 'hist.t', " +
      "min_threshold => 2, min_size => 1)")
    spark.sql("CALL graft.system.rollback(table => 'hist.t', tag => 'pin')")

    def history = spark.sql(
      "SELECT op, size(added) a, size(removed) r, detail FROM graft.hist.t.history")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val ops = history.map(_._1).toSeq
    // in order: two INSERT commits, the pin, the MERGE's delta, the
    // fold, the rollback — nothing missing, nothing reordered
    assert(ops == Seq("insert", "insert", "snapshot", "merge", "compact",
      "rollback"), ops.mkString(", "))
    // fileset diffs are real names: each INSERT added >= 1 fileset, the
    // MERGE appended its tombstone generation, the fold removed inputs
    assert(history(0)._2 >= 1 && history(1)._2 >= 1)
    assert(history(3)._2 >= 1, "merge must record its appended filesets")
    assert(history(4)._3 >= 2, "compact must record its folded inputs")
    assert(history(5)._4 == "tag=pin")
    // the log rides the timestamps too, monotonically non-decreasing
    val ts = spark.sql("SELECT tsMs FROM graft.hist.t.history")
      .collect().map(_.getLong(0)).toSeq
    assert(ts == ts.sorted)
    // history SURVIVES the rollback (it is not a fileset), and the
    // rollback's own event is its last line — CDC after the fact,
    // without requiring a pre-arranged snapshot
    assert(ops.last == "rollback")

    // added/removed carry generation STEMS, resolvable against
    // t.generations (the live ones at least)
    val liveStems = spark.sql("SELECT generation FROM graft.hist.t.generations")
      .collect().map(_.getString(0)).toSet
    val lastRestored = spark.sql(
      "SELECT added FROM graft.hist.t.history WHERE op = 'rollback'")
      .collect().head.getSeq[String](0).toSet
    assert(lastRestored.subsetOf(liveStems),
      s"rollback's restored stems must be live: $lastRestored vs $liveStems")
    spark.sql("DROP TABLE graft.hist.t PURGE")
  }

  test("TBLPROPERTIES autocompact: INSERT commits hold the generation bound") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ac")
    // value validates at CREATE, like every property
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ac.bad TBLPROPERTIES ('autocompact'='1')"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ac.bad TBLPROPERTIES ('autocompact'='soon')"))

    spark.sql("CREATE TABLE graft.ac.t TBLPROPERTIES ('autocompact'='4')")
    val dir = s"$warehouse/ac/t"
    val epochs = 10
    (1 to epochs).foreach { e =>
      insertRows("graft.ac.t",
        (0 until 5).map(i => (f"k${e + i}%02d", s"v$e", e.toLong)))
      // the bound holds after EVERY commit, not just the last
      assert(graft.sources.sstable.LocalStorage.listDataFiles(dir).length <= 4,
        s"epoch $e broke the autocompact bound")
    }
    // reconciled content: LWW winner = last epoch that touched the key
    // (folds must not change what compactRows reconciles to)
    val expected = (1 to epochs).flatMap(e =>
      (0 until 5).map(i => f"k${e + i}%02d" -> s"v$e"))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val got = SSTableOps.compactRows(spark.table("graft.ac.t"))
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expected)
    // a control table without the property grows linearly
    spark.sql("CREATE TABLE graft.ac.off")
    (1 to 6).foreach(e => insertRows("graft.ac.off", Seq((f"k$e%02d", "v", e.toLong))))
    assert(graft.sources.sstable.LocalStorage
      .listDataFiles(s"$warehouse/ac/off").length == 6)
    spark.sql("DROP TABLE graft.ac.t")
    spark.sql("DROP TABLE graft.ac.off")
  }

  test("autocompact folds keep the table's writer tuning (deflate, compress=false, bucketed)") {
    import graft.sources.sstable.{LocalStorage, SSTableReader}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tun")
    def foldedGens(table: String, props: String): Seq[SSTableReader] = {
      spark.sql(s"CREATE TABLE graft.tun.$table TBLPROPERTIES ($props, 'autocompact'='2')")
      (1 to 4).foreach(e => insertRows(s"graft.tun.$table",
        (0 until 3).map(i => (s"k$e$i", s"v$e", e.toLong))))
      val files = LocalStorage.listDataFiles(s"$warehouse/tun/$table")
      assert(files.exists(_.contains("fold-")), s"$table: no fold ran: $files")
      assert(keysOf(spark.table(s"graft.tun.$table")) ==
        (1 to 4).flatMap(e => (0 until 3).map(i => s"k$e$i")).sorted)
      // readers load their sidecars now: a later commit may fold these away
      val folded = files.map(new SSTableReader(_, LocalStorage))
      // a key DELETE and a MERGE ... THEN DELETE append tombstone
      // generations, which a plain table's autocompact never folds: they
      // must carry the table's tuning too (a bucketed MERGE commit folds
      // its chains, its tombstones included, right away)
      def tombstones(marker: String): Seq[SSTableReader] =
        LocalStorage.listDataFiles(s"$warehouse/tun/$table").filter(_.contains(marker))
          .map(new SSTableReader(_, LocalStorage))
      spark.sql(s"DELETE FROM graft.tun.$table WHERE key = CAST('k10' AS BINARY)")
      val deleted = tombstones("-delete-")
      assert(deleted.nonEmpty, s"$table: DELETE appended no tombstone generation")
      spark.sql(s"MERGE INTO graft.tun.$table t USING (SELECT CAST('k20' AS BINARY) mk) s " +
        "ON t.key = s.mk WHEN MATCHED THEN DELETE")
      val merged = tombstones("-tomb-")
      assert(merged.nonEmpty || props.contains("buckets"),
        s"$table: MERGE appended no tombstone generation")
      assert(!keysOf(spark.table(s"graft.tun.$table")).exists(Set("k10", "k20")))
      folded ++ deleted ++ merged
    }
    foldedGens("deflate", "'compressionalgorithm'='deflate'").foreach(r =>
      assert(r.compressionInfo.exists(_.algorithm == "DeflateCompressor"),
        s"${r.dataPath}: ${r.compressionInfo.map(_.algorithm)}"))
    foldedGens("plain", "'compress'='false'").foreach(r =>
      assert(r.compressionInfo.isEmpty, s"${r.dataPath} is compressed"))
    foldedGens("bdeflate", "'buckets'='2', 'compressionalgorithm'='deflate'").foreach(r =>
      assert(r.compressionInfo.exists(_.algorithm == "DeflateCompressor"),
        s"${r.dataPath}: ${r.compressionInfo.map(_.algorithm)}"))
    Seq("deflate", "plain", "bdeflate").foreach(t => spark.sql(s"DROP TABLE graft.tun.$t"))
  }

  test("autocompact triggers on UPDATE/MERGE commits; delete-only gens don't starve it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.acd")
    spark.sql("CREATE TABLE graft.acd.t TBLPROPERTIES ('autocompact'='3')")
    val dir = s"$warehouse/acd/t"
    def dataGens: Int = graft.sources.sstable.LocalStorage.listDataFiles(dir)
      .count(f => !DeleteShadow.isDeleteOnly(
        new graft.sources.sstable.SSTableReader(f,
          graft.sources.sstable.LocalStorage).statistics))
    // six MERGE commits, each inserting a disjoint batch through the
    // DELTA write path — the bound must hold after every one
    (1 to 6).foreach { e =>
      spark.sql(
        s"""MERGE INTO graft.acd.t t USING (
              SELECT CAST('k$e' AS BINARY) mk, array(named_struct(
                'name', CAST('c' AS BINARY), 'state', 'NORMAL',
                'value', CAST('v$e' AS BINARY), 'timestamp', CAST($e AS BIGINT),
                'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) mc) s
            ON t.key = s.mk
            WHEN NOT MATCHED THEN INSERT (key, columns, rowTombstone)
              VALUES (s.mk, s.mc, NULL)""")
      assert(dataGens <= 3, s"merge commit $e broke the autocompact bound")
    }
    // an UPDATE appends a re-insert AND a delete-only tombstone
    // generation; the bound counts DATA generations (a delete-only
    // member cannot fold carrying and must not starve the pick)
    spark.sql("UPDATE graft.acd.t SET columns = array(named_struct(" +
      "'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      "'value', CAST('upd' AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) " +
      "WHERE key = CAST('k3' AS BINARY)")
    assert(dataGens <= 3, "the delta commit must fold data generations")
    val got = spark.sql(
      "SELECT cast(key as string) k, cast(columns[0].value as string) v " +
        "FROM graft.acd.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == (1 to 6).map(e => s"k$e" -> (if (e == 3) "upd" else s"v$e")).toMap)
    spark.sql("DROP TABLE graft.acd.t")
  }

  test("CALL expire_history prunes old events; the live tail keeps reading") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.he")
    spark.sql("CREATE TABLE graft.he.t")
    val dir = s"$warehouse/he/t"
    insertRows("graft.he.t", Seq(("a", "1", 1L)))
    insertRows("graft.he.t", Seq(("b", "2", 2L)))
    // fabricate an ANCIENT event (epoch ms ~0 in the name — retention
    // parses the name, reads nothing)
    val old = new java.io.File(s"$dir/_history/ev-0000000000001-00000000-deadbeef")
    java.nio.file.Files.write(old.toPath,
      "op=insert\nts=1\nadded=\nremoved=\ndetail=ancient".getBytes)
    // plus tmp litter from a "crashed" writer: invisible to the log,
    // but retention is its one cleanup path
    val litter = new java.io.File(s"$dir/_history/ev-0000000000002-00000000-cafe.tmp")
    java.nio.file.Files.write(litter.toPath, "op=torn".getBytes)
    // and a crashed IMPORT's scratch (no event prefix, so only its
    // MTIME can age it — ADVICE r9: it used to leak forever): an old
    // one is swept, a fresh one (a live import) survives
    val impOld = new java.io.File(s"$dir/_history/imp-deadbeef.tmp")
    java.nio.file.Files.write(impOld.toPath, "op=torn".getBytes)
    impOld.setLastModified(System.currentTimeMillis() - 365L * 24 * 3600 * 1000)
    val impFresh = new java.io.File(s"$dir/_history/imp-cafebabe.tmp")
    java.nio.file.Files.write(impFresh.toPath, "op=mid-import".getBytes)
    assert(spark.sql("SELECT count(*) FROM graft.he.t.history").head().getLong(0) == 3)
    val rep = spark.sql(
      "CALL graft.system.expire_history(table => 'he.t')").head()
    // counts cover real events (1 ancient removed, 2 kept); the tmp
    // litter is deleted silently alongside
    assert(rep.getInt(0) == 1 && rep.getInt(1) == 2, rep.toString)
    assert(!litter.exists(), "stale tmp litter must be swept by retention")
    assert(!impOld.exists(), "a crashed import's scratch must be swept")
    assert(impFresh.exists(), "a live import's scratch must survive")
    impFresh.delete()
    val ops = spark.sql("SELECT op, detail FROM graft.he.t.history").collect()
    assert(ops.length == 2 && ops.forall(_.getString(1) != "ancient"))
    spark.sql("DROP TABLE graft.he.t")
  }

  test("autocompact on a bucketed table folds per bucket, layout intact") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.acb")
    spark.sql("CREATE TABLE graft.acb.t " +
      "TBLPROPERTIES ('buckets'='4', 'autocompact'='3')")
    val dir = s"$warehouse/acb/t"
    (1 to 7).foreach { e =>
      insertRows("graft.acb.t",
        (0 until 20).map(i => (f"k$i%02d", s"v$e", e.toLong)))
      val byBucket = graft.sources.sstable.LocalStorage.listDataFiles(dir)
        .groupBy { f =>
          graft.sources.sstable.SSTableFiles.generationStem(f) match {
            case SSTableSource.BucketNameRe(b) => b.toInt
            case other => fail(s"non-bucket stem under autocompact: $other")
          }
        }
      assert(byBucket.values.forall(_.length <= 3),
        s"epoch $e: ${byBucket.view.mapValues(_.length).toMap}")
    }
    val got = SSTableOps.compactRows(spark.table("graft.acb.t"))
      .selectExpr("cast(key as string) k", "cast(columns[0].value as string) v")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == (0 until 20).map(i => f"k$i%02d" -> "v7").toMap)
    spark.sql("DROP TABLE graft.acb.t")
  }
}
