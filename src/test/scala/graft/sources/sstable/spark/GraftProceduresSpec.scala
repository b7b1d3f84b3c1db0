package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps
import graft.sources.sstable.LocalStorage

/** SQL `CALL` maintenance surface (GraftProcedures via ProcedureCatalog):
  * the operator loop — compaction, snapshot lifecycle, retention,
  * vacuum, scrub — exercised entirely through SQL statements, each
  * returning its report as a result set. */
class GraftProceduresSpec extends AnyFunSuite {

  private lazy val warehouse: String = {
    val d = Files.createTempDirectory("graft-proc-warehouse").toFile
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
    // own catalog name: CatalogManager caches instances by name, so
    // sharing "graft" with GraftCatalogSpec would pin whichever suite's
    // warehouse loads first (the q_sstable_merge per-corpus rule)
    s.conf.set("spark.sql.catalog.graft_sys", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sys.warehouse", warehouse)
    s
  }

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

  private def generations(table: String): Long =
    spark.sql(s"SELECT count(*) FROM graft_sys.$table.generations").head().getLong(0)

  test("CALL system.compact folds generations; report says how many") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.t")
    // four INSERTs = four generations: one STCS bucket at the defaults
    (1 to 4).foreach(i => insertRows("graft_sys.m.t", Seq((s"k$i", s"v$i", i.toLong))))
    assert(generations("m.t") == 4)

    val report = spark.sql("CALL graft_sys.system.compact(table => 'm.t')")
    assert(report.columns.toSeq == Seq("folds"))
    assert(report.head().getInt(0) == 1)

    assert(generations("m.t") == 1)
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.t")) ==
      Seq("k1", "k2", "k3", "k4"))
    // a converged directory folds nothing — the report is honest
    assert(spark.sql("CALL graft_sys.system.compact(table => 'm.t')")
      .head().getInt(0) == 0)
    spark.sql("DROP TABLE graft_sys.m.t")
  }

  test("CALL reaches warehouse-root tables (one-part name)") {
    // CREATE TABLE graft_sys.top works (empty namespace), so the
    // maintenance surface must accept 'top' too — not just 'ns.t'
    spark.sql("CREATE TABLE graft_sys.top")
    (1 to 2).foreach(i => insertRows("graft_sys.top", Seq((s"k$i", s"v$i", i.toLong))))
    assert(spark.sql(
      "CALL graft_sys.system.compact(table => 'top', min_threshold => 2)")
      .head().getInt(0) == 1)
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.top")) == Seq("k1", "k2"))
    spark.sql("DROP TABLE graft_sys.top")
  }

  test("CALL system.compact_tombstones drops isolated delete debt") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.td")
    insertRows("graft_sys.m.td", Seq(("a", "1", 10L), ("b", "2", 20L)))
    spark.sql("DELETE FROM graft_sys.m.td WHERE key = CAST('a' AS BINARY)")
    // fold data+tombstone together first (the tombstone generation
    // overlaps the data one, so tombstone compaction alone must skip
    // it — assert that skip, then let STCS resolve the debt)
    assert(spark.sql(
      "CALL graft_sys.system.compact_tombstones(table => 'm.td')")
      .head().getInt(0) == 0)
    assert(spark.sql(
      "CALL graft_sys.system.compact(table => 'm.td', min_threshold => 2)")
      .head().getInt(0) == 1)
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.td")) == Seq("b"))
    spark.sql("DROP TABLE graft_sys.m.td")
  }

  test("CALL system.lookup: the SQL probe path equals scan+filter, " +
    "misses are bloom-free, deletes respect the live view") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.lk")
    // three generations: k2 rewritten later (probe must reconcile LWW
    // across generations), k3 deleted (probe must apply the tombstone)
    insertRows("graft_sys.m.lk",
      Seq(("k1", "v1", 10L), ("k2", "old", 10L), ("k3", "v3", 10L)))
    insertRows("graft_sys.m.lk", Seq(("k2", "new", 20L), ("k4", "v4", 20L)))
    spark.sql("DELETE FROM graft_sys.m.lk WHERE key = CAST('k3' AS BINARY)")
    assert(generations("m.lk") == 3)
    val res = spark.sql("CALL graft_sys.system.lookup(table => 'm.lk', " +
      "keys => array(CAST('k1' AS BINARY), CAST('k2' AS BINARY), " +
      "CAST('k3' AS BINARY), CAST('no-such-key' AS BINARY)))")
    val got = res.select(col("key").cast("string"),
        col("columns")(0).getField("value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "v1", "k2" -> "new"),
      s"probe must LWW-reconcile and drop the deleted key: $got")
    // equals the scan+filter formulation of the same keys (the catalog
    // read is delete-aware, so both sides apply the tombstone)
    val scanned = spark.sql("SELECT CAST(key AS STRING) AS k, " +
        "CAST(columns[0].value AS STRING) AS v FROM graft_sys.m.lk " +
        "WHERE CAST(key AS STRING) IN ('k1','k2','k3','no-such-key')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(scanned == got, s"scan+filter disagrees: $scanned vs $got")
    // without gc the merged tombstone STATE is visible (one row, dead)
    assert(spark.sql("CALL graft_sys.system.lookup(table => 'm.lk', " +
        "keys => array(CAST('k3' AS BINARY)), gc_tombstones => false)")
      .filter(col("rowTombstone").isNotNull).count() == 1)
    // probe-not-scan, pinned with a Storage spy on the same directory:
    // an absent key is rejected by every generation's bloom/bounds, so
    // NO Data.db is ever opened; a present key opens at most one per
    // candidate generation (a scan would open all of them regardless)
    val dataOpens = new java.util.concurrent.atomic.AtomicInteger(0)
    val spy = new graft.sources.sstable.Storage {
      private def count(p: String): Unit =
        if (p.endsWith("-Data.db")) { dataOpens.incrementAndGet(); () }
      def open(p: String) = { count(p); LocalStorage.open(p) }
      def length(p: String) = LocalStorage.length(p)
      def mtime(p: String) = LocalStorage.mtime(p)
      def exists(p: String) = LocalStorage.exists(p)
      def listDataFiles(d: String) = LocalStorage.listDataFiles(d)
      def create(p: String) = LocalStorage.create(p)
      def delete(p: String) = LocalStorage.delete(p)
      def rename(s0: String, d0: String) = LocalStorage.rename(s0, d0)
      def replace(s0: String, d0: String) = LocalStorage.replace(s0, d0)
      def listSubdirs(d: String, pre: String) = LocalStorage.listSubdirs(d, pre)
      def listFiles(d: String) = LocalStorage.listFiles(d)
      def deleteRecursive(d: String) = LocalStorage.deleteRecursive(d)
      def mkdirs(d: String) = LocalStorage.mkdirs(d)
    }
    val prober = new graft.sources.sstable.SSTableReader.DirectoryProber(
      s"$warehouse/m/lk", spy)
    assert(prober.get("no-such-key".getBytes, gcTombstones = true).isEmpty)
    assert(dataOpens.get() == 0,
      "an absent-key probe must never open a Data.db (bloom/bounds skip)")
    assert(prober.get("k1".getBytes, gcTombstones = true).nonEmpty)
    assert(dataOpens.get() <= 3,
      s"a probe opens at most one Data.db per candidate generation: ${dataOpens.get()}")
    spark.sql("DROP TABLE graft_sys.m.lk")
  }

  test("CALL system.compact refuses a bucketed table; compact_bucketed folds it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.bt")
    val dir = s"$warehouse/m/bt"
    // write bucketed twice through the path API — the catalog sees the
    // same directory (table identity IS the path)
    def gen(ts: Long) = {
      import spark.implicits._
      (1 to 40).map(i => f"k$i%03d").toDF("s").select(
        col("s").cast("binary").as("key"),
        array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          lit(s"v$ts").cast("binary").as("value"), lit(ts).as("timestamp"),
          lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
        lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
          .as("rowTombstone"))
    }
    SSTableOps.writeBucketed(gen(1L), dir, buckets = 2)
    SSTableOps.writeBucketed(gen(2L), dir, buckets = 2)
    assert(LocalStorage.listDataFiles(dir).length == 4)

    val e = intercept[Exception](
      spark.sql("CALL graft_sys.system.compact(table => 'm.bt')"))
    assert(e.getMessage.contains("compact_bucketed"),
      s"CALL compact must point at the bucketed procedure: ${e.getMessage}")

    // explicit parallelism reaches the cross-bucket fold pool; the
    // result is bucket-count folds either way (disjoint buckets)
    assert(spark.sql("CALL graft_sys.system.compact_bucketed(" +
        "table => 'm.bt', parallelism => 2)")
      .head().getInt(0) == 2)
    assert(LocalStorage.listDataFiles(dir).length == 2)
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.bt")).length == 40)
    spark.sql("DROP TABLE graft_sys.m.bt")
  }

  test("CALL snapshot lifecycle: snapshot, VERSION AS OF, expire, drop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.s")
    insertRows("graft_sys.m.s", Seq(("a", "1", 10L)))

    val path = spark.sql(
      "CALL graft_sys.system.snapshot(table => 'm.s', tag => 'epoch1')")
      .head().getString(0)
    assert(path == SSTableOps.snapshotPath(s"$warehouse/m/s", "epoch1"))

    // the pin is real: VERSION AS OF sees pre-mutation state
    insertRows("graft_sys.m.s", Seq(("b", "2", 20L)))
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.s VERSION AS OF 'epoch1'")) ==
      Seq("a"))
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.s")) == Seq("a", "b"))

    // retention with a permissive horizon keeps it...
    val kept = spark.sql(
      "CALL graft_sys.system.expire_snapshots(table => 'm.s')").collect()
    assert(kept.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("epoch1", "kept")))
    // ...an exhausted horizon drops it
    val dropped = spark.sql(
      "CALL graft_sys.system.expire_snapshots(table => 'm.s', older_than_ms => -1)")
      .collect()
    assert(dropped.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("epoch1", "dropped")))
    intercept[Exception](
      spark.sql("SELECT * FROM graft_sys.m.s VERSION AS OF 'epoch1'").collect())

    // drop_snapshot reports whether the pin existed
    spark.sql("CALL graft_sys.system.snapshot(table => 'm.s', tag => 'epoch2')")
    assert(spark.sql(
      "CALL graft_sys.system.drop_snapshot(table => 'm.s', tag => 'epoch2')")
      .head().getBoolean(0))
    assert(!spark.sql(
      "CALL graft_sys.system.drop_snapshot(table => 'm.s', tag => 'epoch2')")
      .head().getBoolean(0))
    spark.sql("DROP TABLE graft_sys.m.s")
  }

  test("CALL system.rollback restores a pin: post-pin writes and deletes unwind") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.rb")
    val dir = s"$warehouse/m/rb"
    insertRows("graft_sys.m.rb", Seq(("a", "1", 100L), ("b", "1", 100L)))
    spark.sql("CALL graft_sys.system.snapshot(table => 'm.rb', tag => 'good')")
    // post-pin history to unwind: an upsert, a new key, a delete
    insertRows("graft_sys.m.rb", Seq(("a", "2", 200L), ("c", "1", 200L)))
    spark.sql("DELETE FROM graft_sys.m.rb WHERE key = CAST('b' AS BINARY)")
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.rb")) == Seq("a", "a", "c"))

    val r = spark.sql("CALL graft_sys.system.rollback(table => 'm.rb', tag => 'good')")
    assert(r.columns.toSeq == Seq("restored", "removed"))
    assert(r.head().getInt(1) == 2, "post-pin generations (insert + tombstone) must unpublish")
    // the live state IS the pin again — b resurrected (its delete was
    // post-pin), a back to v1, c gone
    val state = spark.sql(
        "SELECT cast(key as string) k, cast(columns[0].value as string) v FROM graft_sys.m.rb")
      .collect().map(rr => (rr.getString(0), rr.getString(1))).sorted.toSeq
    assert(state == Seq(("a", "1"), ("b", "1")), state.toString)
    // idempotent: a second rollback is a no-op
    assert(spark.sql("CALL graft_sys.system.rollback(table => 'm.rb', tag => 'good')")
      .head() == org.apache.spark.sql.Row(0, 0))
    // the pin survives and the table is immediately writable again
    insertRows("graft_sys.m.rb", Seq(("d", "1", 300L)))
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.rb")) == Seq("a", "b", "d"))
    // unknown tag fails loudly
    val e = intercept[Exception](spark.sql(
      "CALL graft_sys.system.rollback(table => 'm.rb', tag => 'nope')"))
    assert(e.getMessage.contains("no snapshot"), e.getMessage)
    spark.sql("DROP TABLE graft_sys.m.rb PURGE")
  }

  test("CALL system.vacuum removes only stale staging dirs") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.v")
    val dir = s"$warehouse/m/v"
    insertRows("graft_sys.m.v", Seq(("a", "1", 10L)))
    // fabricate an abandoned writer's staging dir, aged out
    val stale = new java.io.File(s"$dir/_staging-dead")
    assert(stale.mkdirs())
    assert(stale.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    val fresh = new java.io.File(s"$dir/_staging-live")
    assert(fresh.mkdirs())

    val rows = spark.sql("CALL graft_sys.system.vacuum(table => 'm.v')").collect()
      .map(r => (r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1),
        r.getString(1))).toSeq
    assert(rows == Seq(("_staging-dead", "removed"), ("_staging-live", "live")))
    assert(!stale.exists() && fresh.exists())
    assert(keysOf(spark.sql("SELECT * FROM graft_sys.m.v")) == Seq("a"))
    spark.sql("DROP TABLE graft_sys.m.v")
  }

  test("CALL system.scrub reports one clean row per generation") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.sc")
    insertRows("graft_sys.m.sc", Seq(("a", "1", 10L)))
    insertRows("graft_sys.m.sc", Seq(("b", "2", 20L)))
    val report = spark.sql("CALL graft_sys.system.scrub(table => 'm.sc')").collect()
    assert(report.length == 2)
    assert(report.forall(r => r.getBoolean(2) && r.isNullAt(4)),
      s"scrub must be clean: ${report.mkString(";")}")
    assert(report.map(_.getLong(1)).sum == 2)
    spark.sql("DROP TABLE graft_sys.m.sc")
  }

  test("unknown procedure / unknown table / missing namespace fail loudly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    val e1 = intercept[Exception](
      spark.sql("CALL graft_sys.system.frobnicate(table => 'm.t')"))
    assert(e1.getMessage.contains("unknown procedure") ||
      e1.getMessage.toLowerCase.contains("frobnicate"))
    val e2 = intercept[Exception](
      spark.sql("CALL graft_sys.system.compact(table => 'm.nope')").collect())
    assert(e2.getMessage.toLowerCase.contains("table"))
    val e3 = intercept[Exception](
      spark.sql("CALL graft_sys.other.compact(table => 'm.t')"))
    assert(e3.getMessage.toLowerCase.contains("procedure") ||
      e3.getMessage.toLowerCase.contains("other"))
  }

  test("CALL maintenance_status reads the lease without touching it") {
    import graft.sources.sstable.MaintenanceLease
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.m")
    spark.sql("CREATE TABLE graft_sys.m.ms")
    // unheld: zero rows
    assert(spark.sql(
      "CALL graft_sys.system.maintenance_status(table => 'm.ms')").count() == 0)
    val lease = MaintenanceLease.acquire(
      s"$warehouse/m/ms", LocalStorage, "status-probe")
    val r = spark.sql(
      "CALL graft_sys.system.maintenance_status(table => 'm.ms')").head()
    assert(r.getString(0).startsWith("status-probe@"), r.toString)
    assert(r.getLong(1) >= 0 && r.getBoolean(2), "a live lease reads fresh")
    // 'fresh' is judged against the CALLER's horizon (VERDICT r10 nit:
    // the default-only column lied to short-horizon maintainers): the
    // same lease reads stale under a 0ms horizon
    Thread.sleep(5) // ensure age > 0 even on coarse mtime clocks
    val short = spark.sql("CALL graft_sys.system.maintenance_status(" +
      "table => 'm.ms', horizon_ms => 0)").head()
    assert(!short.getBoolean(2), "age > 0ms horizon must read stale")
    // the read-only status call must not have disturbed the lease
    lease.checkHeld()
    lease.release()
    assert(spark.sql(
      "CALL graft_sys.system.maintenance_status(table => 'm.ms')").count() == 0)
    spark.sql("DROP TABLE graft_sys.m.ms")
  }

  test("SHOW PROCEDURES lists the maintenance family") {
    val df = spark.sql("SHOW PROCEDURES IN graft_sys.system")
    val nameIdx = df.schema.fields.indexWhere(f =>
      f.dataType == org.apache.spark.sql.types.StringType &&
        f.name.toLowerCase.contains("name"))
    assert(nameIdx >= 0, s"no name column in ${df.schema.fieldNames.mkString(",")}")
    val names = df.collect().map(_.getString(nameIdx)).toSeq
    assert(names.sorted == Seq("ann_drift", "audit_doc_freqs",
      "build_ann_index", "compact", "compact_bucketed", "compact_leveled",
      "compact_tombstones", "consolidate_doc_freqs", "cover_ann_index",
      "derived_stores", "drop_snapshot", "expire_history",
      "expire_snapshots", "health", "list_trash", "lookup",
      "maintenance_status", "readmit", "rebucket", "release_serving_caches",
      "retract_ann_vectors", "retract_doc_freqs", "retract_doc_freqs_stream",
      "retract_signatures", "rollback", "scrub", "snapshot", "takedown",
      "takedown_ledger", "takedown_status", "undrop_namespace",
      "undrop_table", "update_ann_index", "update_doc_freqs",
      "update_signatures", "vacuum", "vacuum_trash"),
      s"SHOW PROCEDURES returned: $names")
  }

  test("an explicit NULL argument means the declared default") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_sys.nl")
    spark.sql("CREATE TABLE graft_sys.nl.t")
    insertRows("graft_sys.nl.t", Seq(("k1", "v1", 1L)))
    // one isolated generation with no tombstones: the default ratio
    // threshold (0.2) folds nothing, and NULL must not read as 0.0
    def folds(args: String): Int = spark.sql("CALL graft_sys.system." +
      s"compact_tombstones(table => 'nl.t'$args)").head().getInt(0)
    assert(folds(", ratio_threshold => NULL") == folds(""))
    assert(folds("") == 0)
    assert(generations("nl.t") == 1)

    // a fresh trash entry survives the default horizon either way
    spark.sql("CREATE TABLE graft_sys.nl.gone")
    spark.sql("DROP TABLE graft_sys.nl.gone")
    def swept(args: String): Seq[String] = spark.sql("CALL graft_sys.system." +
      s"vacuum_trash(namespace => 'nl'$args)").collect().map(_.getString(0)).toSeq
    assert(swept(", older_than_ms => NULL") == swept(""))
    assert(spark.sql("CALL graft_sys.system.list_trash(namespace => 'nl')")
      .count() == 1)

    // a live lease reads fresh under the default horizon either way
    val lease = graft.sources.sstable.MaintenanceLease.acquire(
      s"$warehouse/nl/t", LocalStorage,
      "null-probe")
    def fresh(args: String): Boolean = spark.sql("CALL graft_sys.system." +
      s"maintenance_status(table => 'nl.t'$args)").head().getBoolean(2)
    assert(fresh(", horizon_ms => NULL") == fresh(""))
    assert(fresh(""))
    lease.release()

    // NULL max_rows returns every ledger entry, as omission does
    val corpus = Files.createTempDirectory("graft-proc-null-corpus").toString
    val sp = spark
    import sp.implicits._
    Seq(1L -> "a b", 2L -> "c d", 3L -> "e f").toDF("doc_id", "text")
      .write.parquet(s"$corpus/documents.parquet")
    graft.operators.TakedownLedger.record(spark,
      graft.operators.TakedownLedger.dirUnder(warehouse), corpus, "doc_id < 3")
    def ledger(args: String): Seq[Long] = spark.sql("CALL graft_sys.system." +
      s"takedown_ledger(where => 'true'$args)").collect().map(_.getLong(0)).toSeq
    assert(ledger(", max_rows => NULL") == ledger(""))
    assert(ledger("") == Seq(1L, 2L))
    spark.sql("DROP TABLE graft_sys.nl.t")
  }
}
