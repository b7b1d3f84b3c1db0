package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end demo of the SSTable DSv2 source/sink: builds a wide-row
  * DataFrame, writes a compressed 4-file SSTable set, reads it back with a
  * key-range filter (partition pruning) and a key-only projection
  * (index-only scan), and prints the physical plans.
  *
  * Run: `sbt "Test/runMain graft.SSTableDemo /tmp/sstable-demo"`.
  */
object SSTableDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sstable-demo")
    // the demo is rerunnable: it owns its output paths, so stale state
    // from a previous run (the -warehouse's namespace in particular,
    // whose CREATE NAMESPACE is deliberately not IF NOT EXISTS) is
    // cleared up front
    graft.sources.sstable.LocalStorage.deleteRecursive(dir)
    graft.sources.sstable.LocalStorage.deleteRecursive(s"$dir-warehouse")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = spark.range(10000).select(
      concat(lit("user"), lpad(col("id").cast("string"), 6, "0")).cast("binary").as("key"),
      array(
        struct(lit("email".getBytes).as("name"), lit("NORMAL").as("state"),
          concat(lit("u"), col("id")).cast("binary").as("value"),
          (col("id") * 1000).as("timestamp"), lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis")),
        struct(lit("session".getBytes).as("name"), lit("EXPIRING").as("state"),
          lit("tok".getBytes).as("value"), (col("id") * 1000 + 1).as("timestamp"),
          lit(3600L).as("ttlSecs"), lit(1700000000000L).as("expiresMillis"))
      ).as("columns"))
      .repartition(4)

    println(s"== writing ${src.count()} rows as SSTable set(s) to $dir")
    src.write.format("sstable").option("chunkLength", "4096").mode("overwrite").save(dir)
    new java.io.File(dir).listFiles().sortBy(_.getName)
      .foreach(f => println(f" ${f.length()}%9d  ${f.getName}"))

    val df = spark.read.format("sstable").option("targetSplitBytes", "65536").load(dir)
    println(s"== full read: ${df.count()} rows in ${df.rdd.getNumPartitions} partitions")

    val ranged = df.filter(col("key") >= lit("user005000".getBytes) &&
      col("key") < lit("user006000".getBytes))
    println(s"== key-range read: ${ranged.count()} rows in ${ranged.rdd.getNumPartitions} partitions (pruned)")
    ranged.explain()

    val keysOnly = df.select("key")
    println(s"== key-only scan (served from Index.db): ${keysOnly.count()} keys")
    keysOnly.explain()

    // Bloom point lookups (Filter.db): an absent key inside the key range
    // plans ZERO partitions — whole files skipped before any Summary/Index
    // IO; a present key still reads its one split.
    def point(k: String) = df.filter(col("key") === lit(k.getBytes))
    println(s"== point lookup, absent key (bloom-pruned): " +
      s"${point("user005000x").rdd.getNumPartitions} partitions, " +
      s"${point("user005000x").count()} rows")
    println(s"== point lookup, present key: ${point("user005000").count()} row " +
      s"in ${point("user005000").rdd.getNumPartitions} partition(s)")

    // P8 opt-in TTL evaluation at scan time (sessions expire at the fixed
    // epoch below; default read surfaces them raw like the reference)
    val ttlRead = spark.read.format("sstable")
      .option("ttlAsOfMs", "1700000000001").load(dir)
      .select(explode(col("columns")).as("c"))
    println(s"== ttlAsOf read: ${ttlRead.count()} live columns " +
      s"(vs ${df.select(explode(col("columns"))).count()} raw)")

    // data-level time travel: rows whose every cell is post-cut vanish
    // (cell ts here = id*1000, so the cut keeps exactly ids 0..4999)
    val asOfRead = spark.read.format("sstable")
      .option("asofmicros", "4999999").load(dir)
    println(s"== asOf read (time travel): ${asOfRead.count()} of " +
      s"${df.count()} rows existed at the cut")

    val merged = df.select(col("key"), explode(col("columns")).as("c"))
      .groupBy(col("key"), col("c.name"))
      .agg(max_by(col("c"), col("c.timestamp")).as("c"))
      .groupBy("key").agg(collect_list("c").as("columns"))
    println(s"== LWW-merged rows: ${merged.count()}")

    // lookup join: probe 5 keys (one absent) across generations — IO is
    // per-probe bloom/summary/index, never a table scan
    import spark.implicits._
    val probes = Seq("user000007", "user004999", "user005000", "user009999", "nosuchkey")
      .map(_.getBytes).toDF("key")
    val hits = operators.SSTableOps.lookupJoin(probes, dir)
    println(s"== lookup join: ${hits.count()} of ${probes.count()} probe keys found " +
      "(point reads, no scan)")

    // whole-table count(*)/min/max answered from -Statistics.db alone
    // (complete aggregate pushdown — zero data IO)
    val aggPushed = df.groupBy().count().queryExecution.executedPlan
      .toString.contains("statsOnlyAggregate")
    println(s"== count(*) via Statistics.db: ${df.count()} rows " +
      (if (aggPushed) "(stats-only plan, zero data IO)" else "(scan fallback)"))

    // cells view (source-side explode) with cell-level aggregate pushdown:
    // min/max(timestamp) over every cell answered from v2 Statistics.db
    val cellsDf = spark.read.format("sstable").option("view", "cells").load(dir)
    val tsAgg = cellsDf.agg(count(lit(1)).as("cells"),
      min(col("timestamp")).as("min_ts"), max(col("timestamp")).as("max_ts"))
    val tsPushed = tsAgg.queryExecution.executedPlan
      .toString.contains("statsOnlyAggregate")
    val tsRow = tsAgg.collect().head
    println(s"== cells view: ${tsRow.getLong(0)} cells, timestamps " +
      s"[${tsRow.getLong(1)}, ${tsRow.getLong(2)}] " +
      (if (tsPushed) "(stats-only plan, zero data IO)" else "(scan fallback)"))

    // bucketed layout: hash(key) buckets written one generation each;
    // the bucketed read reports key-grouped partitioning, so the LWW
    // merge's aggregations are satisfied from storage — zero exchange
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val bucketDir = s"$dir-bucketed"
    operators.SSTableOps.writeBucketed(df, bucketDir, buckets = 8)
    val bucketScan = spark.read.format("sstable").option("buckets", "8").load(bucketDir)
    val bucketMerged = operators.SSTableOps.compactRows(bucketScan)
    val mergedRows = bucketMerged.count()
    val exchanges = "Exchange".r
      .findAllIn(bucketMerged.queryExecution.executedPlan.toString).length
    println(s"== bucketed merge: $mergedRows rows over 8 buckets, " +
      s"$exchanges exchanges in the compaction plan (want 0)")

    // pushed top-n: ORDER BY key LIMIT n decodes at most n rows per split
    // (generations are key-sorted), and a plain LIMIT additionally plans
    // only a statistics-covered prefix of generations
    val topDf = df.orderBy("key").limit(3)
    val topPushed = topDf.queryExecution.executedPlan.toString.contains("topN=3")
    val headKeys = topDf.collect()
      .map(r => new String(r.getAs[Array[Byte]]("key"))).mkString(", ")
    val lim = spark.read.format("sstable").load(dir).limit(5)
    lim.collect()
    val limParts = lim.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.headOption.getOrElse(-1)
    println(s"== top-n pushdown: first keys [$headKeys] " +
      (if (topPushed) "(per-split head reads)" else "(NOT pushed)") +
      s"; LIMIT 5 planned $limParts partition(s) of ${df.rdd.getNumPartitions}")

    // runtime (join-driven) split pruning: a plain SQL join against a
    // small filtered dim hands the dim's keys to the scan at runtime
    // (dynamic pruning) — same Summary/bloom pruning as lookupJoin, but
    // triggered by ordinary join syntax
    val dim = spark.range(10000)
      .filter(col("id").isin(7, 5000))
      .select(concat(lit("user"), lpad(col("id").cast("string"), 6, "0"))
        .cast("binary").as("k"))
    val dpp = df.join(broadcast(dim), col("key") === col("k"))
    val dppRows = dpp.count()
    val dppPruned = dpp.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression(key")
    println(s"== runtime-filtered join: $dppRows rows, dynamic pruning " +
      (if (dppPruned) "ACTIVE" else "inactive") +
      s" (full scan would read ${df.rdd.getNumPartitions} partitions)")

    // embedded multi-generation point read (Cassandra's read path)
    val got = sources.sstable.SSTableReader.get(dir, "user001234".getBytes,
      gcTombstones = true)
    println(s"== multi-generation get: user001234 -> " +
      s"${got.map(_.columns.length).getOrElse(0)} live columns")

    // size-tiered compaction planning: append two flush-sized generations
    // next to the big one — STCS buckets the similar-sized pair and
    // leaves the giant out of the fold
    src.filter(col("key") < lit("user000100".getBytes))
      .write.format("sstable").mode("append").save(dir)
    src.filter(col("key") >= lit("user009900".getBytes))
      .write.format("sstable").mode("append").save(dir)
    val plan = operators.SSTableOps.planCompaction(dir, minThreshold = 2, minSize = 0L)
    val all = sources.sstable.SSTableReader.listDataFiles(dir)
    val biggest = all.maxBy(f => new java.io.File(f).length())
    val biggestBucketed = plan.exists(_.contains(biggest))
    println(s"== STCS planning over ${all.size} generations: ${plan.length} bucket(s) of " +
      plan.map(_.length).mkString("[", ",", "]") + " files; largest generation " +
      (if (biggestBucketed) "IN a bucket" else "excluded"))

    // generations metadata view: the format's DESCRIBE DETAIL — one row
    // per fileset from sidecars only, zero Data.db IO
    val gens = spark.read.format("sstable").option("view", "generations").load(dir)
    val debt = gens.agg(sum("rowCount"), sum("tombstoneCount")).head()
    println(s"== generations view: ${gens.count()} filesets, " +
      s"${debt.getLong(0)} rows, ${debt.getLong(1)} tombstones (sidecars only)")

    // SQL catalog + LSM DELETE: namespace/table DDL over directories,
    // DELETE as a tombstone-generation append, merge-on-read SELECT
    spark.conf.set("spark.sql.catalog.graft",
      classOf[sources.sstable.spark.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", s"$dir-warehouse")
    spark.sql("CREATE NAMESPACE graft.demo")
    spark.sql("CREATE TABLE graft.demo.t")
    spark.sql("INSERT INTO graft.demo.t VALUES " +
      "(CAST('alice' AS BINARY), array(named_struct('name', CAST('c' AS BINARY), " +
      "'state', 'NORMAL', 'value', CAST('1' AS BINARY), 'timestamp', CAST(10 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
      "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>)), " +
      "(CAST('bob' AS BINARY), array(named_struct('name', CAST('c' AS BINARY), " +
      "'state', 'NORMAL', 'value', CAST('2' AS BINARY), 'timestamp', CAST(20 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
      "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")
    spark.sql("DELETE FROM graft.demo.t WHERE key = CAST('bob' AS BINARY)")
    val live = spark.sql("SELECT key FROM graft.demo.t").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted.mkString(", ")
    val rawGens = sources.sstable.SSTableReader
      .listDataFiles(s"$dir-warehouse/demo/t").length
    println(s"== SQL catalog: DELETE appended a tombstone generation " +
      s"($rawGens filesets on disk); SELECT sees [$live] (merge-on-read)")

    // SQL UPDATE (delta row-level op: tombstone + stamped re-insert,
    // nothing rewritten) and MERGE INTO (matched update + not-matched
    // insert in one statement)
    spark.sql("UPDATE graft.demo.t SET columns = array(named_struct(" +
      "'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      "'value', CAST('promoted' AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) " +
      "WHERE key = CAST('alice' AS BINARY)")
    spark.sql("CREATE OR REPLACE TEMP VIEW demo_src AS SELECT " +
      "CAST(k AS BINARY) key, array(named_struct('name', CAST('c' AS BINARY), " +
      "'state', 'NORMAL', 'value', CAST(v AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) columns " +
      "FROM VALUES ('carol', 'new') AS s(k, v)")
    spark.sql("MERGE INTO graft.demo.t t USING demo_src s ON t.key = s.key " +
      "WHEN MATCHED THEN UPDATE SET columns = s.columns " +
      "WHEN NOT MATCHED THEN INSERT (key, columns, rowTombstone) " +
      "VALUES (s.key, s.columns, NULL)")
    val updated = spark.sql(
      "SELECT cast(key as string) k, cast(columns[0].value as string) v " +
        "FROM graft.demo.t ORDER BY k").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(", ")
    println(s"== SQL UPDATE + MERGE INTO (delta row-level ops): [$updated]")

    // SQL time travel: pin the current state, mutate, read the pin back
    operators.SSTableOps.snapshot(s"$dir-warehouse/demo/t", "demo-epoch")
    spark.sql("DELETE FROM graft.demo.t WHERE key = CAST('carol' AS BINARY)")
    val nowKeys = spark.sql("SELECT key FROM graft.demo.t").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted.mkString(", ")
    val pinKeys = spark.sql(
      "SELECT key FROM graft.demo.t VERSION AS OF 'demo-epoch'").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted.mkString(", ")
    println(s"== SQL time travel: live=[$nowKeys]; VERSION AS OF 'demo-epoch'=[$pinKeys]")

    // rollback: restore the live table to the pin (carol resurrects —
    // her delete was after the cut), then re-delete for the rest of the
    // demo's expected state
    spark.sql("CALL graft.system.rollback(table => 'demo.t', tag => 'demo-epoch')")
    val rolledBack = spark.sql("SELECT key FROM graft.demo.t").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted.mkString(", ")
    println(s"== SQL rollback: live restored to the pin=[$rolledBack] (want alice, carol)")
    spark.sql("DELETE FROM graft.demo.t WHERE key = CAST('carol' AS BINARY)")

    // the CDC diff form: everything that changed since the pin — the
    // SQL spelling of the incremental read loop (carol's delete nets
    // out of the delete-aware catalog diff, so only post-pin upserts
    // remain; the delete-EVENT feed is the path API without applydeletes)
    spark.sql("INSERT INTO graft.demo.t VALUES " +
      "(CAST('dave' AS BINARY), array(named_struct('name', CAST('c' AS BINARY), " +
      "'state', 'NORMAL', 'value', CAST('4' AS BINARY), 'timestamp', CAST(40 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
      "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")
    val diffKeys = spark.sql(
      "SELECT key FROM graft.demo.t VERSION AS OF 'demo-epoch..'").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).sorted.mkString(", ")
    println(s"== SQL CDC diff: VERSION AS OF 'demo-epoch..' = [$diffKeys] " +
      "(want dave — carol's delete nets out)")
    spark.sql("DELETE FROM graft.demo.t WHERE key = CAST('dave' AS BINARY)")

    // SQL maintenance: the operator loop as CALL statements, each
    // returning its report as a result set
    val folds = spark.sql("CALL graft.system.compact(" +
      "table => 'demo.t', min_threshold => 2)").head().getInt(0)
    val gensAfter = sources.sstable.SSTableReader
      .listDataFiles(s"$dir-warehouse/demo/t").length
    val scrubClean = spark.sql("CALL graft.system.scrub(table => 'demo.t')")
      .collect().forall(_.isNullAt(4))
    spark.sql("CALL graft.system.expire_snapshots(" +
      "table => 'demo.t', older_than_ms => -1)")
    println(s"== SQL maintenance: CALL compact folded $folds bucket(s) " +
      s"-> $gensAfter generation(s); scrub clean=$scrubClean; snapshots expired")

    // SQL bucketed table: the buckets property persists the layout, the
    // FunctionCatalog-resolved bucket(n, key) distribution keeps INSERT
    // on bucket-NNNNN stems, and with v2 bucketing enabled co-bucketed
    // joins run without a shuffle (storage-partitioned join)
    spark.sql("CREATE TABLE graft.demo.b1 TBLPROPERTIES('buckets'='4')")
    spark.sql("CREATE TABLE graft.demo.b2 TBLPROPERTIES('buckets'='4')")
    for (t <- Seq("b1", "b2"))
      spark.sql(s"INSERT INTO graft.demo.$t SELECT CAST(CAST(id AS STRING) AS BINARY) key, " +
        "array(named_struct('name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        "'value', CAST(CAST(id AS STRING) AS BINARY), 'timestamp', id, " +
        "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))) columns, " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>) " +
        "FROM range(1000)")
    val bGens = sources.sstable.SSTableReader
      .listDataFiles(s"$dir-warehouse/demo/b1").length
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val spjJoin = spark.sql(
      "SELECT count(*) FROM graft.demo.b1 a JOIN graft.demo.b2 b ON a.key = b.key")
    // a global count(*) always pays one SinglePartition gather; the SPJ
    // claim is about the JOIN's hash exchanges
    val spjShuffles = spjJoin.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    val spjRows = spjJoin.head().getLong(0)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    println(s"== SQL bucketed tables: INSERT wrote $bGens bucket generations; " +
      s"co-bucketed join matched $spjRows rows with $spjShuffles shuffles (want 0, SPJ)")

    // Atomic CTAS / RTAS: build-by-query stages into a hidden directory
    // and commits with one rename (a bucketed CTAS hash-routes the query
    // output); REPLACE swaps through a trash dir; TRUNCATE empties
    // metadata-only. No staging residue survives a committed statement.
    spark.sql("CREATE TABLE graft.demo.ct TBLPROPERTIES('buckets'='4') " +
      "AS SELECT * FROM graft.demo.b1")
    val ctRows = spark.sql("SELECT count(*) FROM graft.demo.ct").head().getLong(0)
    spark.sql("REPLACE TABLE graft.demo.ct AS SELECT * FROM graft.demo.b1 " +
      "WHERE CAST(CAST(key AS STRING) AS BIGINT) < 100")
    val ctAfter = spark.sql("SELECT count(*) FROM graft.demo.ct").head().getLong(0)
    spark.sql("TRUNCATE TABLE graft.demo.ct")
    val ctEmpty = spark.sql("SELECT count(*) FROM graft.demo.ct").head().getLong(0)
    val residue = Option(new java.io.File(s"$dir-warehouse/demo").list())
      .fold(0)(_.count(n => n.startsWith("_stage-") || n.startsWith("_dropped-")))
    println(s"== SQL atomic CTAS: bucketed CTAS copied $ctRows rows; " +
      s"REPLACE swapped to $ctAfter; TRUNCATE left $ctEmpty " +
      s"($residue staging dirs left behind, want 0)")

    // Maintenance lease: a second maintainer is a loud refusal naming
    // the holder, not a silent data race (fencing: a superseded holder
    // aborts before unpublishing)
    val demoTable = s"$dir-warehouse/demo/t"
    val lease = sources.sstable.MaintenanceLease.acquire(
      demoTable, sources.sstable.LocalStorage, "nightly-compactor")
    val refused =
      try { spark.sql("CALL graft.system.compact(table => 'demo.t')"); "NOT refused" }
      catch {
        case e: sources.sstable.MaintenanceLease.MaintenanceLeaseHeldException =>
          s"refused naming '${e.holder.takeWhile(_ != '#')}…'"
      }
    lease.release()
    println(s"== maintenance lease: concurrent CALL compact $refused; " +
      "released lease folds normally")

    // Auto-compaction: a table with autocompact=N folds itself inside
    // the committing writer — continuous ingestion with no CALL schedule
    spark.sql("CREATE TABLE graft.demo.ac TBLPROPERTIES('autocompact'='3')")
    for (e <- 1 to 8)
      spark.sql("INSERT INTO graft.demo.ac VALUES " +
        s"(CAST('k$e' AS BINARY), array(named_struct('name', CAST('c' AS BINARY), " +
        s"'state', 'NORMAL', 'value', CAST('v' AS BINARY), 'timestamp', CAST($e AS BIGINT), " +
        "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))")
    val acGens = sources.sstable.SSTableReader
      .listDataFiles(s"$dir-warehouse/demo/ac").length
    val acRows = spark.sql("SELECT count(*) FROM graft.demo.ac").head().getLong(0)
    println(s"== autocompact: 8 INSERT commits left $acGens generation(s) " +
      s"(threshold 3, want <= 3), $acRows rows intact")

    // Operation history: DESCRIBE HISTORY for the engine — every commit
    // and maintenance action as an ordered event with its fileset diff
    val histOps = spark.sql("SELECT op FROM graft.demo.t.history")
      .collect().map(_.getString(0))
    println(s"== t.history: ${histOps.length} events " +
      s"[${histOps.distinct.sorted.mkString(", ")}] — rollback survived as an event: " +
      s"${histOps.contains("rollback")}")

    // CALL rebucket: managed live re-layout (the self-referential
    // CREATE OR REPLACE escape hatch with the pin guard centralized)
    val rb = spark.sql(
      "CALL graft.system.rebucket(table => 'demo.b1', new_buckets => 8)").head()
    val rbStems = sources.sstable.SSTableReader
      .listDataFiles(s"$dir-warehouse/demo/b1")
      .forall(f => sources.sstable.SSTableFiles.generationStem(f).startsWith("bucket-"))
    println(s"== CALL rebucket: ${rb.getInt(0)} -> ${rb.getInt(1)} buckets, " +
      s"${rb.getLong(2)} rows, stems bucketed=$rbStems")

    // SQL point lookups: the index-nested-loop probe path without Scala
    // (bloom → Summary → bounded Index window → one Data.db seek per
    // candidate generation; driver-side, no scan job)
    val lkRows = spark.sql("CALL graft.system.lookup(table => 'demo.ac', " +
        "keys => array(CAST('k3' AS BINARY), CAST('k7' AS BINARY), " +
        "CAST('absent' AS BINARY)))")
      .select(col("key").cast("string")).collect().map(_.getString(0)).sorted
    println(s"== CALL lookup: probed 3 keys, found [${lkRows.mkString(", ")}] " +
      "(want k3, k7 — the absent key misses via bloom, no scan job ran)")

    // SQL probe JOIN: relation-sized probe sets take the same
    // index-nested-loop path — a broadcast-small probe relation
    // equi-joined on key plans as SSTableLookupJoinExec (zero table
    // scan, zero shuffle, IO ∝ probes × generations)
    GraftExtensions.register(spark)
    spark.sql("SELECT CAST('k3' AS BINARY) k UNION ALL " +
      "SELECT CAST('k7' AS BINARY) UNION ALL SELECT CAST('absent' AS BINARY)")
      .createOrReplaceTempView("demo_probe")
    val pj = spark.sql("SELECT CAST(t.key AS STRING) key FROM demo_probe p " +
      "JOIN graft.demo.ac t ON p.k = t.key")
    val pjPlanned = pj.queryExecution.executedPlan.toString
      .contains("SSTableLookupJoin")
    val pjKeys = pj.collect().map(_.getString(0)).sorted
    println(s"== SQL probe join: [${pjKeys.mkString(", ")}] via " +
      s"index-nested-loop plan=$pjPlanned (want k3, k7 / true — " +
      "a small probe relation never scans the table)")

    // DROP TABLE is a recoverable trash swap (lease-guarded, pin-aware);
    // undrop_table restores data + history until the sweep horizon
    spark.sql("DROP TABLE graft.demo.ac")
    val droppedGone = !spark.catalog.tableExists("graft.demo.ac")
    spark.sql("CALL graft.system.undrop_table(table => 'demo.ac')")
    val restoredRows = spark.sql("SELECT count(*) FROM graft.demo.ac").head().getLong(0)
    val restoredOps = spark.sql("SELECT op FROM graft.demo.ac.history")
      .collect().map(_.getString(0))
    println(s"== DROP + undrop: dropped=$droppedGone; undrop restored " +
      s"$restoredRows rows (want 8) with history [drop_table, undrop_table] " +
      s"recorded: ${restoredOps.containsSlice(Seq("drop_table", "undrop_table"))}")

    // autosnapshot (opt-in): a whole-table wipe pins the state first,
    // so a typo'd TRUNCATE is one rollback away from undone
    spark.sql("ALTER TABLE graft.demo.ac SET TBLPROPERTIES('autosnapshot'='true')")
    spark.sql("TRUNCATE TABLE graft.demo.ac")
    val acDir = s"$dir-warehouse/demo/ac"
    val autoPin = operators.SSTableOps.listSnapshots(acDir).head
    spark.sql(s"CALL graft.system.rollback(table => 'demo.ac', tag => '$autoPin')")
    val undone = spark.sql("SELECT count(*) FROM graft.demo.ac").head().getLong(0)
    println(s"== autosnapshot: TRUNCATE pinned '${autoPin.takeWhile(_ != '-')}-…' " +
      s"first; rollback restored $undone rows (want 8)")

    // pointer-committed lifecycle (r12): every DDL swap commits via ONE
    // atomic `_table` replace — a concurrent reader sees the old state
    // or the new state, never a partial tree (object-store safe); the
    // trash is introspectable (complete column) and a whole namespace
    // round-trips with each table restored whole-or-not-at-all
    spark.sql("CREATE NAMESPACE graft.demo2")
    spark.sql("CREATE TABLE graft.demo2.pc AS SELECT * FROM graft.demo.ac")
    spark.sql("DROP NAMESPACE graft.demo2 CASCADE")
    val nsGone = !spark.catalog.databaseExists("graft.demo2")
    val undropNs = spark.sql(
      "CALL graft.system.undrop_namespace(namespace => 'demo2')").head()
    val pcRows = spark.sql("SELECT count(*) FROM graft.demo2.pc").head().getLong(0)
    val trashComplete = spark.sql("CALL graft.system.list_trash(namespace => '')")
      .schema.fieldNames.contains("complete")
    println(s"== pointer-commit lifecycle: DROP NAMESPACE CASCADE " +
      s"(gone=$nsGone) tombstoned each table atomically; undrop_namespace " +
      s"restored ${undropNs.getAs[Int]("tablesRestored")} table(s) " +
      s"pointer-committed, $pcRows rows (want 8); list_trash reports " +
      s"completeness: $trashComplete")

    // persisted ANN index (r13): CALL build_ann_index trains the
    // deterministic quantizers ONCE and commits centroids + codebooks +
    // per-vector codes as one catalog table; serving loads them with
    // zero Lloyd training (the counter proves it)
    val annSrc = s"$dir-annsrc"
    graft.sources.sstable.LocalStorage.deleteRecursive(annSrc)
    spark.range(64).select(
      col("id").as("vec_id"),
      (col("id") % 4).cast("int").as("label"),
      transform(sequence(lit(0), lit(7)),
        i => (((col("id") * 31 + i * 7) % 97).cast("float") / lit(97.0f)))
        .as("embedding"))
      .write.mode("overwrite").parquet(s"$annSrc/embeddings.parquet")
    // the sample-train lifecycle: quantizers from HALF the corpus, the
    // rest encoded incrementally against them — no retraining
    val annReceipt = spark.sql("CALL graft.system.build_ann_index(" +
      s"table => 'demo.annix', source_dir => '$annSrc', kind => 'ivfpq', " +
      "k => 4, iters => 2, m => 4, pq_k => 4, pq_iters => 1, " +
      "where => 'vec_id < 32')").head()
    val annBefore = graft.operators.SimilarityQueries.trainingsRun.get()
    val annUpd = spark.sql("CALL graft.system.update_ann_index(" +
      s"table => 'demo.annix', source_dir => '$annSrc')").head()
    val annDir = s"$dir-warehouse/demo/annix"
    val servedCents = graft.operators.AnnIndex.loadCoarseCentroids(spark, annDir).count()
    val servedCodes = graft.operators.AnnIndex.loadVectorCodes(spark, annDir, 4).count()
    val trainFree = graft.operators.SimilarityQueries.trainingsRun.get() == annBefore
    println(s"== ANN index: CALL build_ann_index trained on " +
      s"${annReceipt.getAs[Long]("vectors")} of 64 vectors " +
      s"(${annReceipt.getAs[Long]("centroids")} centroids + " +
      s"${annReceipt.getAs[Long]("codebookEntries")} codebook entries, dim " +
      s"${annReceipt.getAs[Int]("dim")}); update_ann_index encoded the " +
      s"${annUpd.getAs[Long]("encoded")} new vectors against the persisted " +
      s"quantizers (${annUpd.getAs[Long]("alreadyIndexed")} skipped); " +
      s"serving loaded $servedCents centroids / $servedCodes code rows " +
      s"training-free: $trainFree")

    // vector retraction (r15): remove vectors from the index without
    // retraining — one row-tombstone generation, every serving surface
    // drops them; re-ingest re-adds them above the mark
    val annR = spark.sql("CALL graft.system.retract_ann_vectors(" +
      "table => 'demo.annix', where => 'vec_id >= 56')").head()
    val annLeft = graft.operators.AnnIndex.loadVectorCodes(spark, annDir, 4).count()
    val annRe = spark.sql("CALL graft.system.update_ann_index(" +
      s"table => 'demo.annix', source_dir => '$annSrc')").head()
    println(s"== ANN retraction: removed ${annR.getAs[Long]("retracted")} " +
      s"vectors (want 8) with no retrain; serving drops to $annLeft " +
      s"(want 56); re-ingest RE-ADDED ${annRe.getAs[Long]("encoded")} " +
      "(want 8) above the tombstone mark")

    // catalog-grain incremental dedup (r13): the MinHash signature store
    // as a catalog table — the second epoch signs ONLY the delta, the
    // third finds nothing novel
    val sigSrc = s"$dir-sigsrc"
    graft.sources.sstable.LocalStorage.deleteRecursive(sigSrc)
    spark.range(40).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon doc"), col("id")).as("text"))
      .write.mode("overwrite").parquet(s"$sigSrc/documents.parquet")
    def sigCall(where: String) = spark.sql(
      "CALL graft.system.update_signatures(table => 'demo.sigs', " +
        s"source_dir => '$sigSrc', where => '$where', autocompact => 3)").head()
    val sg1 = sigCall("doc_id < 25")
    val sg2 = sigCall("true")
    val sg3 = sigCall("true")
    val storeCount = graft.operators.SignatureStore
      .storedSignatures(spark, "graft.demo.sigs").count()
    println(s"== incremental signatures: epoch 1 signed " +
      s"${sg1.getAs[Long]("novel")} docs; epoch 2 signed only the " +
      s"${sg2.getAs[Long]("novel")} new (${sg2.getAs[Long]("alreadyStored")} " +
      s"skipped via the index-only key probe); re-run novel=" +
      s"${sg3.getAs[Long]("novel")}; store holds $storeCount signatures " +
      s"in ${sg3.getAs[Int]("generations")} generation(s) (autocompacted)")

    // signature retraction (r15): forget fingerprints with NO corpus
    // read (where selects over the store's own ids — the takedown case),
    // and a re-ingest re-signs exactly the forgotten docs
    val sgr = spark.sql("CALL graft.system.retract_signatures(table => " +
      "'demo.sigs', where => 'doc_id >= 35')").head()
    val sgAfter = graft.operators.SignatureStore
      .storedSignatures(spark, "graft.demo.sigs").count()
    val sgRe = sigCall("true")
    println(s"== signature retraction: forgot " +
      s"${sgr.getAs[Long]("retracted")} docs (want 5) via one " +
      s"row-tombstone generation; store serves $sgAfter (want 35); " +
      s"re-ingest RE-SIGNED ${sgRe.getAs[Long]("novel")} (want 5) — " +
      "the delete-aware probe reads them as novel again")

    // persisted corpus statistics (r14): the df store counts per-term
    // document frequency incrementally — epoch partials live in
    // df:<epoch> cells, so compaction folds losslessly and serving sums
    def dfCall(where: String) = spark.sql(
      "CALL graft.system.update_doc_freqs(table => 'demo.df', " +
        s"source_dir => '$sigSrc', where => '$where', autocompact => 3)").head()
    val df1 = dfCall("doc_id < 25")
    val df2 = dfCall("true")
    val dfN = graft.operators.DfStore.nDocs(spark, "graft.demo.df")
    val dfAlpha = graft.operators.DfStore.docFreqs(spark, "graft.demo.df")
      .filter(col("term") === "alpha").head().getLong(1)
    println(s"== df store: epoch 1 counted ${df1.getAs[Long]("novel")} docs, " +
      s"epoch 2 only the ${df2.getAs[Long]("novel")} new " +
      s"(${df2.getAs[Long]("alreadyStored")} skipped); served n_docs=$dfN " +
      s"(want 40), df('alpha')=$dfAlpha (want 40 — epoch partials sum " +
      s"exactly) in ${df2.getAs[Int]("generations")} generation(s)")

    // retraction (r15): documents LEAVE the statistics without a corpus
    // rescan — one negative epoch, tombstoned membership, and a later
    // ingest re-admits them (the membership probe is delete-aware)
    val rr = spark.sql("CALL graft.system.retract_doc_freqs(table => " +
      s"'demo.df', source_dir => '$sigSrc', where => 'doc_id >= 30')").head()
    val rN = graft.operators.DfStore.nDocs(spark, "graft.demo.df")
    val rAlpha = graft.operators.DfStore.docFreqs(spark, "graft.demo.df")
      .filter(col("term") === "alpha").head().getLong(1)
    val readmit = dfCall("true")
    println(s"== df retraction: retracted ${rr.getAs[Long]("retracted")} " +
      s"docs (want 10) as one negative epoch; served n_docs=$rN / " +
      s"df('alpha')=$rAlpha (want 30/30 — subtraction is exact, zero " +
      s"corpus rescans); re-ingest RE-ADMITTED " +
      s"${readmit.getAs[Long]("novel")} docs (want 10) — membership " +
      s"probes are delete-aware")

    // relation-valued point reads (r13): graft_lookup composes like any
    // table — here joined against a dimension, same probe tier as CALL
    graft.GraftExtensions.register(spark)
    val tvfKeys = "array(CAST('k3' AS BINARY), CAST('k7' AS BINARY), " +
      "CAST('nope' AS BINARY))"
    val tvfRows = spark.sql(
      s"SELECT CAST(key AS STRING) k FROM graft_lookup('$dir-warehouse/demo/ac', $tvfKeys) " +
        "ORDER BY k").collect().map(_.getString(0)).toSeq
    val tvfJoin = spark.sql(
      s"""SELECT count(*) FROM graft_lookup('$dir-warehouse/demo/ac', $tvfKeys) l
          JOIN (SELECT CAST('k3' AS STRING) k) d ON CAST(l.key AS STRING) = d.k""")
      .head().getLong(0)
    println(s"== graft_lookup TVF: SELECT * FROM graft_lookup(dir, keys) " +
      s"found [${tvfRows.mkString(", ")}] (want [k3, k7], absent key " +
      s"bloom-missed) and JOINS as a relation ($tvfJoin row matched)")

    // cross-store takedown orchestration (r16): one CALL retracts a doc
    // slice from the df store, the signature store, and an ANN index
    // keyed by the same ids, with one receipt per leg; the spanning
    // audit proves no store still serves the documents
    spark.range(40).select(col("id").as("vec_id"),
        (col("id") % 4).cast("int").as("label"),
        transform(sequence(lit(0), lit(7)),
          i => (((col("id") * 13 + i * 5) % 89).cast("float") / lit(89.0f)))
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$sigSrc/embeddings.parquet")
    spark.sql("CALL graft.system.build_ann_index(table => 'demo.tdix', " +
      s"source_dir => '$sigSrc', kind => 'ivf', k => 4, iters => 1)")
    val tdLegs = spark.sql("CALL graft.system.takedown(" +
      "df_table => 'demo.df', sig_table => 'demo.sigs', " +
      s"ann_table => 'demo.tdix', source_dir => '$sigSrc', " +
      "where => 'doc_id >= 36')").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    val tdLeft = spark.sql("CALL graft.system.takedown_status(" +
      "df_table => 'demo.df', sig_table => 'demo.sigs', " +
      "ann_table => 'demo.tdix', where => 'doc_id >= 36')").collect()
      .map(_.getAs[Long]("members")).sum
    println(s"== takedown: ONE CALL retracted doc_id>=36 from all three " +
      s"stores ($tdLegs — want 4 each); spanning audit reports " +
      s"$tdLeft members left (want 0)")

    // ANN health (r16): cover_ann_index upgrades the index to COVERING
    // in place (raw vectors backfilled, no retrain); ann_drift then
    // reports quantizer staleness with zero corpus IO
    val cov = spark.sql(
      "CALL graft.system.cover_ann_index(table => 'demo.tdix', " +
        s"source_dir => '$sigSrc')").head()
    val dr = spark.sql(
      "CALL graft.system.ann_drift(table => 'demo.tdix')").head()
    println(s"== ANN health: cover_ann_index backfilled " +
      s"${cov.getAs[Long]("covered")} raw vectors in place (want 36, no " +
      s"retrain); ann_drift reads them with zero corpus IO — nBuild=" +
      s"${dr.getAs[Long]("nBuild")}, nPost=${dr.getAs[Long]("nPost")}, " +
      s"driftRatio_e4=${dr.getAs[Long]("driftRatio_e4")} (want 10000 — " +
      "nothing ingested since build, nothing to drift)")

    // takedown durability (r17): the takedown above recorded its ids in
    // the persistent ledger, so a re-ingest from the uncleaned corpus
    // REFUSES (the rebuild that used to silently undo the removal);
    // CALL readmit is the explicit override, after which the maintainer
    // re-admits exactly the removed docs
    val ledgerRefusal =
      try { dfCall("true"); "NOT refused" }
      catch { case e: Exception =>
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
        if (chain(e).exists(_.contains("taken-down"))) "refused" else "wrong error"
      }
    val rmN = spark.sql("CALL graft.system.readmit(where => 'doc_id >= 36')")
      .head().getAs[Long]("readmitted")
    val backN = dfCall("true").getAs[Long]("novel")
    println(s"== takedown ledger: post-takedown re-ingest from the " +
      s"uncleaned corpus $ledgerRefusal (want refused — the ledger outlives " +
      s"rebuilds); CALL readmit cleared $rmN entries (want 4); the " +
      s"re-ingest then RE-ADMITTED $backN docs (want 4)")
    spark.stop()
  }
}
