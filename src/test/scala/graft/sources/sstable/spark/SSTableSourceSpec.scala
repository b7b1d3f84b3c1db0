package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.sstable._

/** End-to-end DSv2 tests: write via `format("sstable")`, read back, check
  * pushdown behaviours (partition pruning, index-only key scans) against
  * the physical plan. */
class SSTableSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshDir(): String = {
    val d = Files.createTempDirectory("sstable-src").toFile
    d.deleteOnExit()
    d.getPath
  }

  private def writeFixture(dir: String, n: Int = 500): Unit = {
    val w = new SSTableWriter(s"$dir/fix-Data.db", compress = true,
      chunkLength = 512, summaryInterval = 8)
    (0 until n).foreach { i =>
      w.append(SSTableRow(f"key$i%05d".getBytes, Seq(
        Column.Normal("c1".getBytes, s"v$i".getBytes, i.toLong),
        if (i % 7 == 0) Column.Deleted("c2".getBytes, i.toLong + 1)
        else Column.Expiring("c2".getBytes, s"e$i".getBytes, 60L, 1700000000000L, i.toLong + 2))))
    }
    w.close()
  }

  test("read round-trip: schema, row count, states") {
    val dir = freshDir()
    writeFixture(dir)
    val df = spark.read.format("sstable").load(dir)
    assert(df.schema == SSTableSchema.schema)
    assert(df.count() == 500)
    val states = df.select(explode(col("columns")).as("c"))
      .groupBy("c.state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(states("NORMAL") == 500)
    assert(states("DELETED") == 72) // ceil(500/7)
    assert(states("EXPIRING") == 428)
    // DELETED ⇒ value IS NULL
    assert(df.select(explode(col("columns")).as("c"))
      .filter(col("c.state") === "DELETED" && col("c.value").isNotNull)
      .count() == 0)
  }

  test("multiple partitions, every row exactly once") {
    val dir = freshDir()
    writeFixture(dir)
    val df = spark.read.format("sstable")
      .option("targetSplitBytes", "2000").load(dir)
    assert(df.rdd.getNumPartitions > 3, s"want >3 partitions, got ${df.rdd.getNumPartitions}")
    val keys = df.select(col("key").cast("string")).collect().map(_.getString(0))
    assert(keys.length == 500)
    assert(keys.distinct.length == 500)
  }

  test("key-range filter prunes partitions") {
    val dir = freshDir()
    writeFixture(dir)
    def scan(withFilter: Boolean) = {
      val base = spark.read.format("sstable")
        .option("targetSplitBytes", "2000").load(dir)
      if (withFilter)
        base.filter(col("key") >= lit("key00100".getBytes) &&
          col("key") <= lit("key00120".getBytes))
      else base
    }
    val all = scan(withFilter = false).rdd.getNumPartitions
    val pruned = scan(withFilter = true).rdd.getNumPartitions
    assert(pruned < all, s"pruned=$pruned all=$all")
    assert(scan(withFilter = true).count() == 21)
  }

  test("deflate-compressed write round-trips through the source") {
    val dir = freshDir()
    val df = spark.range(200).selectExpr(
      "CAST(concat('k', lpad(CAST(id AS STRING), 5, '0')) AS BINARY) AS key",
      "array(named_struct('name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        "'value', CAST(CAST(id AS STRING) AS BINARY), 'timestamp', id, " +
        "'ttlSecs', 0L, 'expiresMillis', 0L)) AS columns")
    df.write.format("sstable").option("compressionalgorithm", "deflate")
      .option("chunkLength", "512").mode("overwrite").save(dir)
    val back = spark.read.format("sstable").load(dir)
    assert(back.count() == 200)
    val ci = new SSTableReader(SSTableReader.listDataFiles(dir).head).compressionInfo
    assert(ci.get.algorithm == CompressionInfo.DeflateAlgorithm)
  }

  test("bloom filter skips whole files on point lookups for absent keys") {
    val dir = freshDir()
    writeFixture(dir)
    // a second file with a disjoint key range — a present-key lookup must
    // keep only the file whose bloom admits it
    val w = new SSTableWriter(s"$dir/fix2-Data.db", compress = true,
      chunkLength = 512, summaryInterval = 8)
    (0 until 100).foreach(i => w.append(SSTableRow(f"zzz$i%05d".getBytes,
      Seq(Column.Normal("c1".getBytes, "v".getBytes, i.toLong)))))
    w.close()
    assert(new java.io.File(s"$dir/fix-Filter.db").exists(), "writer must emit Filter.db")

    def point(key: String) = spark.read.format("sstable").load(dir)
      .filter(col("key") === lit(key.getBytes))
    // absent key INSIDE fix's key range: Summary bounds can't prune it,
    // only the bloom filter can — expect zero planned partitions
    assert(point("key00100x").rdd.getNumPartitions == 0)
    assert(point("key00100x").count() == 0)
    // present key: correct row comes back (bloom may keep, never drops)
    assert(point("key00100").count() == 1)
  }

  test("key-only projection uses the index, not Data.db") {
    val dir = freshDir()
    writeFixture(dir)
    val df = spark.read.format("sstable").load(dir).select("key")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("indexOnly"), s"expected indexOnly scan, plan:\n$plan")
    assert(df.count() == 500)
  }

  test("sstable-index source exposes (key, position)") {
    val dir = freshDir()
    writeFixture(dir)
    val idx = spark.read.format("sstable-index").load(dir)
    assert(idx.columns.toSeq == Seq("key", "position"))
    assert(idx.count() == 500)
    // positions strictly increasing in key order
    val pos = idx.orderBy("key").select("position").collect().map(_.getLong(0))
    assert(pos.zip(pos.tail).forall { case (a, b) => a < b })
  }

  test("sstable-index key-range pushdown prunes index windows and bloom-skips files") {
    val dir = freshDir()
    writeFixture(dir)
    def scan(withFilter: Boolean) = {
      val base = spark.read.format("sstable-index")
        .option("targetSplitBytes", "2000").load(dir)
      if (withFilter)
        base.filter(col("key") >= lit("key00100".getBytes) &&
          col("key") <= lit("key00120".getBytes))
      else base
    }
    val all = scan(withFilter = false).rdd.getNumPartitions
    val pruned = scan(withFilter = true).rdd.getNumPartitions
    assert(pruned < all, s"pruned=$pruned all=$all")
    assert(scan(withFilter = true).count() == 21)
    assert(scan(withFilter = true).queryExecution.executedPlan.toString
      .contains("keyRangePruned"))

    // point lookup for a key inside the range but absent: only the bloom
    // filter can prune it — expect zero planned partitions
    def point(key: String) = spark.read.format("sstable-index").load(dir)
      .filter(col("key") === lit(key.getBytes))
    assert(point("key00100x").rdd.getNumPartitions == 0)
    assert(point("key00100x").count() == 0)
    assert(point("key00100").count() == 1)
  }

  test("write path: spark sorts, round-trips through the 4-file set") {
    val dir = freshDir()
    import spark.implicits._
    val src = spark.range(300).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).cast("binary").as("key"),
      array(struct(
        lit("name1".getBytes).as("name"), lit("NORMAL").as("state"),
        lit("val".getBytes).as("value"), col("id").as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"))
      .repartition(3) // unsorted, multi-partition input
    src.write.format("sstable").mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith("-Data.db")))
    assert(files.exists(_.endsWith("-Index.db")))
    assert(files.exists(_.endsWith("-Summary.db")))
    assert(files.exists(_.endsWith("-CompressionInfo.db")))
    val back = spark.read.format("sstable").load(dir)
    assert(back.count() == 300)
    assert(back.select(col("key").cast("string")).distinct().count() == 300)
  }

  test("hadoop storage: file:// URI reads through the FileSystem adapter with locality hints") {
    val dir = freshDir()
    writeFixture(dir)
    val uri = s"file://$dir"
    val df = spark.read.format("sstable").option("targetSplitBytes", "2000").load(uri)
    assert(df.count() == 500)
    assert(df.select(col("key").cast("string")).distinct().count() == 500)
    // partitions carry block-location hints (local FS reports localhost)
    val scan = new SSTableScan(uri, SSTableSchema.schema, None, None, 2000L)
    val parts = scan.toBatch.planInputPartitions().map(_.asInstanceOf[SSTablePartition])
    assert(parts.length > 3)
    assert(parts.forall(_.hosts.nonEmpty), "expected preferredLocations hints from HadoopStorage")
    // index source through the same adapter
    assert(spark.read.format("sstable-index").load(uri).count() == 500)
    // write path through the adapter: staging + rename commit on file://
    val outDir = freshDir()
    spark.read.format("sstable").load(uri).write.format("sstable")
      .mode("overwrite").save(s"file://$outDir")
    assert(spark.read.format("sstable").load(outDir).count() == 500)
    assert(!new java.io.File(outDir).listFiles().exists(_.getName.startsWith("_staging")),
      "staging dir must be removed after commit")
  }

  test("distributed split planning (threshold 0) plans the same partitions as driver planning") {
    val dir = freshDir()
    writeFixture(dir)
    val driver = spark.read.format("sstable")
      .option("targetSplitBytes", "2000").load(dir)
    val shipped = spark.read.format("sstable")
      .option("targetSplitBytes", "2000")
      .option("distributedPlanningThreshold", "0").load(dir)
    assert(shipped.rdd.getNumPartitions == driver.rdd.getNumPartitions)
    assert(shipped.count() == 500)
    assert(shipped.select(col("key").cast("string")).collect().map(_.getString(0)).sorted
      sameElements driver.select(col("key").cast("string")).collect().map(_.getString(0)).sorted)
    // pushed key-range pruning rides into the shipped closure too
    val pruned = spark.read.format("sstable")
      .option("targetSplitBytes", "2000")
      .option("distributedPlanningThreshold", "0").load(dir)
      .filter(col("key") >= lit("key00100".getBytes) && col("key") <= lit("key00120".getBytes))
    assert(pruned.count() == 21)
    assert(pruned.rdd.getNumPartitions < driver.rdd.getNumPartitions)
  }

  test("aborted task attempts leave no readable output (staging commit protocol)") {
    val dir = freshDir()
    val schema = SSTableSchema.schema
    val factory = new SSTableTaskWriterFactory(s"$dir/_staging-test", schema,
      WriterTuning(compress = true, chunkLength = 512, summaryInterval = 8,
        bloomBitsPerKey = 10, algorithm = CompressionInfo.SnappyAlgorithm),
      graft.sources.sstable.StorageHandle(dir, new org.apache.hadoop.conf.Configuration()),
      jobTag = "testjob", buckets = None)
    new java.io.File(s"$dir/_staging-test").mkdirs()

    // attempt 0 writes some rows then aborts (simulated task failure)
    val w0 = factory.createWriter(0, 0L)
    val row = org.apache.spark.sql.catalyst.InternalRow(
      "k1".getBytes, new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]),
      null) // rowTombstone: LIVE
    w0.write(row)
    w0.abort()
    assert(new java.io.File(s"$dir/_staging-test").listFiles().isEmpty,
      "abort must delete the attempt's staged files")

    // attempt 1 commits; files stay in staging until job-level commit
    val w1 = factory.createWriter(0, 1L)
    w1.write(row)
    val msg = w1.commit()
    assert(msg.asInstanceOf[SSTableCommit].stagedDataPaths.forall(_.contains("_staging")))
    // nothing readable in the target dir yet
    assert(SSTableReader.listDataFiles(dir).isEmpty)
  }

  test("runtime IN-set filter prunes files and splits (scan-level)") {
    val dir = freshDir()
    writeFixture(dir) // keys key00000..key00499, several splits at 2000 B
    // second generation with a disjoint key range
    val w = new SSTableWriter(s"$dir/zzz-Data.db", compress = true,
      chunkLength = 512, summaryInterval = 8)
    (0 until 200).foreach(i => w.append(SSTableRow(f"zzz$i%05d".getBytes,
      Seq(Column.Normal("c1".getBytes, "v".getBytes, i.toLong)))))
    w.close()

    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def scan(): SSTableScan = {
      val opts = new java.util.HashMap[String, String]()
      opts.put("path", dir)
      opts.put("targetSplitBytes", "2000")
      new SSTableScanBuilder(dir, new CaseInsensitiveStringMap(opts))
        .build().asInstanceOf[SSTableScan]
    }
    val unfiltered = scan().toBatch.planInputPartitions().length
    assert(unfiltered > 4, s"fixture should plan several splits, got $unfiltered")

    // two keys from one generation: the zzz file drops wholesale (key
    // bounds), fix narrows to the split(s) holding the keys
    val s1 = scan()
    s1.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("key",
      Array[Any]("key00007".getBytes, "key00008".getBytes))))
    val pruned = s1.toBatch.planInputPartitions()
    assert(pruned.length < unfiltered && pruned.nonEmpty,
      s"pruned=${pruned.length} all=$unfiltered")
    assert(pruned.forall(_.asInstanceOf[SSTablePartition].dataPath.contains("fix")),
      "disjoint-range generation must be pruned wholesale")

    // absent key inside fix's range: Summary bounds keep it, bloom drops it
    val s2 = scan()
    s2.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("key",
      Array[Any]("key00007x".getBytes))))
    assert(s2.toBatch.planInputPartitions().isEmpty, "bloom must drop all files for an absent key")

    // unsupported value shape: no pruning, full plan (never wrong results)
    val s3 = scan()
    s3.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("key", Array[Any]("key00007", 7))))
    assert(s3.toBatch.planInputPartitions().length == unfiltered)
  }

  test("broadcast join against a small dim prunes the scan at runtime (DPP)") {
    // DPP is the FALLBACK plan's pruning: when the probe-join strategy
    // is installed (another suite registers it on the shared session) a
    // broadcast-small key join would plan as SSTableLookupJoinExec and
    // never reach the scan — pin the scan route by disabling it here
    spark.conf.set(SSTableLookupJoin.EnabledKey, "false")
    try dppBody() finally spark.conf.unset(SSTableLookupJoin.EnabledKey)
  }

  private def dppBody(): Unit = {
    val dir = freshDir()
    writeFixture(dir)
    val w = new SSTableWriter(s"$dir/zzz-Data.db", compress = true,
      chunkLength = 512, summaryInterval = 8)
    (0 until 200).foreach(i => w.append(SSTableRow(f"zzz$i%05d".getBytes,
      Seq(Column.Normal("c1".getBytes, "v".getBytes, i.toLong)))))
    w.close()

    val fact = spark.read.format("sstable").option("targetSplitBytes", "2000").load(dir)
    val allParts = fact.rdd.getNumPartitions
    // the dim must keep a SELECTIVE predicate in its optimized plan for
    // Spark to consider runtime pruning — a local Seq would be constant-
    // folded into a bare LocalTableScan, so build it over Range
    val dim = spark.range(0, 1000)
      .filter(col("id").isin(7, 8))
      .select(concat(lit("key"), lpad(col("id").cast("string"), 5, "0"))
        .cast("binary").as("k"))
    val joined = fact.join(broadcast(dim), col("key") === col("k"))
    val rows = joined.collect()
    assert(rows.length == 2, s"join correctness: got ${rows.length} rows")

    // the executed plan must carry a runtime filter on our scan…
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(key"),
      s"expected a runtime filter on the sstable scan, plan:\n$plan")
    // …and the scan's planned partitions must have dropped
    val scans = collectBatchScans(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val prunedParts = scans.map(_.inputRDD.getNumPartitions).min
    assert(prunedParts < allParts,
      s"runtime-pruned partitions $prunedParts should be < $allParts")
  }

  private def collectBatchScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
    val self = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectBatchScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectBatchScans(q.plan) // AQE stages hide their subtree from children
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case _ => Nil
    }
    self ++ p.children.flatMap(collectBatchScans) ++
      p.subqueries.flatMap(collectBatchScans)
  }

  test("scan reports statistics; a small sstable dir auto-broadcasts without a hint") {
    val dir = freshDir()
    writeFixture(dir) // 500 rows, a few tens of KB
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", dir)
    val scan = new SSTableScanBuilder(dir, new CaseInsensitiveStringMap(opts))
      .build().asInstanceOf[SSTableScan]
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 500)
    assert(st.sizeInBytes().getAsLong > 1000, "uncompressed payload bytes")

    // a fact side with a larger estimate: Range reports 8 bytes/row
    val fact = spark.range(2L * 1000 * 1000)
      .select(concat(lit("key"), lpad(col("id").cast("string"), 5, "0"))
        .cast("binary").as("fk"))
    val small = spark.read.format("sstable").load(dir)
    val joined = fact.join(small, col("fk") === col("key")) // no broadcast() hint
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"size estimate should auto-broadcast the small sstable side:\n$plan")

    // a generation without Statistics.db: size still reported, rows not
    LocalStorage.delete(s"$dir/fix-Statistics.db")
    SSTableMetadataCache.clear()
    val scan2 = new SSTableScanBuilder(dir, new CaseInsensitiveStringMap(opts))
      .build().asInstanceOf[SSTableScan]
    assert(!scan2.estimateStatistics().numRows().isPresent)
    assert(scan2.estimateStatistics().sizeInBytes().getAsLong > 1000)
  }

  test("count(*)/min(key)/max(key) are answered from Statistics.db (aggregate pushdown)") {
    val dir = freshDir()
    writeFixture(dir) // 500 rows key00000..key00499
    val w = new SSTableWriter(s"$dir/zzz-Data.db", compress = false,
      summaryInterval = 8)
    (0 until 100).foreach(i => w.append(SSTableRow(f"zzz$i%05d".getBytes,
      Seq(Column.Normal("c1".getBytes, "v".getBytes, i.toLong)))))
    w.close()

    val df = spark.read.format("sstable").load(dir)
    val aggDf = df.agg(count(lit(1)).as("n"),
      min(col("key")).cast("string").as("mn"), max(col("key")).cast("string").as("mx"))
    val plan = aggDf.queryExecution.executedPlan.toString
    assert(plan.contains("statsOnlyAggregate"),
      s"expected the pushed-down aggregate scan, plan:\n$plan")
    assert(!plan.contains("-Data.db"), "no data files in a stats-only plan")
    val row = aggDf.collect().head
    assert(row.getLong(0) == 600 && row.getString(1) == "key00000"
      && row.getString(2) == "zzz00099")
    assert(df.count() == 600, "df.count() takes the same stats path")

    // a filter blocks the pushdown (filters are residual → Spark keeps
    // the Filter node and never offers the aggregate); result correct
    val filtered = df.filter(col("key") >= lit("zzz00000".getBytes)).count()
    assert(filtered == 100)

    // grouped aggregation: not pushable, normal scan path
    assert(df.select(col("key")).groupBy(length(col("key"))).count().count() == 1)

    // a stats-less generation declines the pushdown; the scan still counts
    LocalStorage.delete(s"$dir/zzz-Statistics.db")
    SSTableMetadataCache.clear()
    val noStats = spark.read.format("sstable").load(dir)
    val plan2 = noStats.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!plan2.contains("statsOnlyAggregate"),
      "stats-less generation must fall back to the real scan")
    assert(noStats.count() == 600)
  }

  test("cells view: one row per cell, equal to the explode of the default view") {
    val dir = freshDir()
    writeFixture(dir) // 500 rows x 2 cells
    val cells = spark.read.format("sstable").option("view", "cells").load(dir)
    assert(cells.schema == SSTableSchema.cellsSchema)
    assert(cells.count() == 1000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key").cast("string"), col("name").cast("string"),
        col("state"), coalesce(col("value").cast("string"), lit("<null>")),
        col("timestamp"), col("ttlSecs"), col("expiresMillis"))
        .collect().map(_.toString).sorted.toSeq
    val exploded = spark.read.format("sstable").load(dir)
      .select(col("key"), explode(col("columns")).as("c")).select("key", "c.*")
    assert(canon(cells) == canon(exploded), "cells view must equal explode")

    // key filters prune cells-view partitions through the same machinery
    val base = spark.read.format("sstable").option("view", "cells")
      .option("targetSplitBytes", "2000").load(dir)
    val pruned = base.filter(col("key") >= lit("key00100".getBytes) &&
      col("key") <= lit("key00120".getBytes))
    assert(pruned.rdd.getNumPartitions < base.rdd.getNumPartitions,
      "key-range pruning must apply to the cells view")
    assert(pruned.count() == 42)

    // ttlAsOf drops expired EXPIRING cells during decode
    val live = spark.read.format("sstable").option("view", "cells")
      .option("ttlAsOfMs", "1800000000000").load(dir)
    assert(live.count() == 1000 - 428)

    // read-only, batch-only surface (rejection surfaces as an analysis
    // error when Spark validates the write schema against the table)
    intercept[Exception] {
      spark.range(1).selectExpr("cast(id as binary) key")
        .write.format("sstable").option("view", "cells").mode("append").save(dir)
    }
  }

  test("cells view: count(*)/min/max(timestamp) answered from v2 Statistics.db") {
    val dir = freshDir()
    writeFixture(dir) // cell timestamps 0 .. 501
    val cells = spark.read.format("sstable").option("view", "cells").load(dir)
    val aggDf = cells.agg(count(lit(1)).as("n"),
      min(col("timestamp")).as("mn"), max(col("timestamp")).as("mx"))
    // run LOGICAL optimization first: the aggregate pushdown happens here
    // (and, before the ADVICE r5 fix, so did the value computation) —
    // executedPlan is deliberately NOT touched yet, because building the
    // physical scan is what plans partitions
    aggDf.queryExecution.optimizedPlan // (the statsOnlyAggregate assert below proves it pushed)

    // ADVICE r5: values are computed at BATCH PLANNING, not pushdown — a
    // flush landing between pushdown and execution is seen
    val w = new SSTableWriter(s"$dir/later-Data.db", compress = false,
      summaryInterval = 8)
    w.append(SSTableRow("zzz".getBytes,
      Seq(Column.Normal("c9".getBytes, "v".getBytes, 9999L))))
    w.close()
    val row = aggDf.collect().head
    assert(row.getLong(0) == 1001 && row.getLong(1) == 0L && row.getLong(2) == 9999L,
      "executed aggregate must reflect the post-pushdown flush")
    val plan = aggDf.queryExecution.executedPlan.toString
    assert(plan.contains("statsOnlyAggregate"),
      s"expected the pushed-down aggregate scan, plan:\n$plan")
    assert(!plan.contains("-Data.db"), "no data files in a stats-only plan")

    // a v1 sidecar (no cell stats) declines: normal scan, same answer
    val statsPath = s"$dir/fix-Statistics.db"
    val fos = new java.io.DataOutputStream(new java.io.FileOutputStream(statsPath))
    fos.writeInt(0x47525354); fos.writeInt(1) // v1
    fos.writeLong(0L); fos.writeLong(501L)
    fos.writeShort(8); fos.write("key00000".getBytes)
    fos.writeShort(8); fos.write("key00499".getBytes)
    fos.writeLong(500L); fos.writeLong(72L)
    fos.close()
    SSTableMetadataCache.clear()
    val declined = spark.read.format("sstable").option("view", "cells").load(dir)
      .agg(count(lit(1)).as("n"), max(col("timestamp")).as("mx"))
    val plan2 = declined.queryExecution.executedPlan.toString
    assert(!plan2.contains("statsOnlyAggregate"),
      "v1 statistics must decline the cells-view aggregate pushdown")
    val r2 = declined.collect().head
    assert(r2.getLong(0) == 1001 && r2.getLong(1) == 9999L)

    // ttlAsOf changes cell multiplicity: always declined, still correct
    val ttl = spark.read.format("sstable").option("view", "cells")
      .option("ttlAsOfMs", "1800000000000").load(dir).agg(count(lit(1)).as("n"))
    assert(!ttl.queryExecution.executedPlan.toString.contains("statsOnlyAggregate"))
    assert(ttl.collect().head.getLong(0) == 1001 - 428)
  }

  test("bucketed layout: the LWW merge runs with ZERO exchange (VERDICT r5 #4)") {
    import graft.operators.SSTableOps
    import spark.implicits._
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val dir = freshDir()
    def gen(ts: Long, n: Int) = spark.range(n).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        concat(lit("v"), lit(ts)).cast("binary").as("value"),
        lit(ts).as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone"))
    // two flush rounds: every key has two versions, in the same bucket of
    // two different generations — exactly what compaction merges
    SSTableOps.writeBucketed(gen(1L, 400), dir, buckets = 4)
    SSTableOps.writeBucketed(gen(2L, 400), dir, buckets = 4)

    val scan = spark.read.format("sstable").option("buckets", "4").load(dir)
    assert(scan.schema == SSTableSchema.bucketedSchema)
    assert(scan.rdd.getNumPartitions == 4, "one task per bucket")

    val merged = SSTableOps.compactRows(scan)
    merged.collect() // force planning + execution before reading the plan
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed merge must satisfy its distribution from storage:\n$plan")

    // same answer as the unbucketed merge over the same files
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key").cast("string"),
        to_json(struct(col("columns"), col("rowTombstone"))))
        .as[(String, String)].collect().sorted.toSeq
    val plain = SSTableOps.compactRows(spark.read.format("sstable").load(dir))
    assert(canon(merged.drop("_bucket")) == canon(plain))
    assert(merged.count() == 400)

    // storage-partitioned JOIN: two directories bucketed the same way
    // join on (_bucket, key) with no exchange on either side
    val dirB = freshDir()
    SSTableOps.writeBucketed(gen(5L, 300), dirB, buckets = 4)
    val right = spark.read.format("sstable").option("buckets", "4").load(dirB)
      .select(col("_bucket"), col("key"), col("columns").as("rcols"))
    val joined = scan.select(col("_bucket"), col("key"), col("columns"))
      .join(right, Seq("_bucket", "key"))
    // broadcast would also be exchange-ish but hides the SPJ path — force
    // the shuffle-join planner to prove co-partitioning carries the join
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the storage clusters on _bucket — a coarser key than the join's
      // (_bucket, key); co-partition compatibility on a clustering SUBSET
      // is gated by this conf (same knob Spark's storage-partitioned
      // joins use for partially-clustered sources)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      joined.collect()
      val jplan = joined.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"),
        s"co-bucketed join must be storage-partitioned:\n$jplan")
      // 300 right keys x 2 unmerged left versions per key
      assert(joined.count() == 600)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)

    // a foreign (unbucketed) generation name fails the bucketed read loudly
    val w = new SSTableWriter(s"$dir/rogue-Data.db", compress = false)
    w.append(SSTableRow("zz".getBytes,
      Seq(Column.Normal("c".getBytes, "v".getBytes, 1L))))
    w.close()
    SSTableMetadataCache.clear()
    intercept[Exception] {
      spark.read.format("sstable").option("buckets", "4").load(dir).collect()
    }
  }

  test("bucketed + sincesnapshot: per-bucket epoch diff keeps the zero-exchange merge") {
    import graft.operators.SSTableOps
    import spark.implicits._
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val dir = freshDir()
    def gen(ts: Long, n: Int) = spark.range(n).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        concat(lit("v"), lit(ts)).cast("binary").as("value"),
        lit(ts).as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone"))
    SSTableOps.writeBucketed(gen(1L, 400), dir, buckets = 4)
    SSTableOps.snapshot(dir, "e1")
    SSTableOps.writeBucketed(gen(2L, 300), dir, buckets = 4)

    // the diff keeps the bucket structure: one partition per bucket…
    val diff = spark.read.format("sstable").option("buckets", "4")
      .option("sincesnapshot", "e1").load(dir)
    assert(diff.rdd.getNumPartitions == 4, "epoch diff must keep one task per bucket")
    // …and exactly the epoch-2 content, equal to the unbucketed diff
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key").cast("string"),
        to_json(struct(col("columns"), col("rowTombstone"))))
        .as[(String, String)].collect().sorted.toSeq
    val plainDiff = spark.read.format("sstable")
      .option("sincesnapshot", "e1").load(dir)
    assert(canon(diff.drop("_bucket")) == canon(plainDiff))
    assert(diff.count() == 300)

    // the incremental merge over the diff stays zero-exchange — the
    // 100 TB CDC loop on a bucketed directory processes only its delta
    // with storage-aligned clustering
    val merged = SSTableOps.compactRows(diff)
    merged.collect()
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed epoch-diff merge must stay zero-exchange:\n$plan")
    assert(merged.count() == 300)

    // a fully-pinned epoch (no new generations) diffs to empty but KEEPS
    // the declared partition count — the layout contract never flickers
    SSTableOps.dropSnapshot(dir, "e2") // defensive: tag reuse across reruns
    SSTableOps.snapshot(dir, "e2")
    val empty = spark.read.format("sstable").option("buckets", "4")
      .option("sincesnapshot", "e2").load(dir)
    assert(empty.rdd.getNumPartitions == 4 && empty.count() == 0)
  }

  test("bucketed compaction folds within buckets; generic compactors refuse") {
    import graft.operators.SSTableOps
    import spark.implicits._
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val dir = freshDir()
    def gen(ts: Long, n: Int, tombstoneEvery: Int = 0) = spark.range(n).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        concat(lit("v"), lit(ts)).cast("binary").as("value"),
        lit(ts).as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
      when(lit(tombstoneEvery) > 0 && col("id") % lit(math.max(tombstoneEvery, 1)) === 0,
        struct(lit(0).as("localDeletionTime"), lit(ts + 100).as("markedForDeleteAt")))
        .otherwise(lit(null))
        .cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone"))
    // two flush rounds = a 2-generation chain per bucket; round 2
    // tombstones every 10th key (shadowing both its own cell and round 1's)
    SSTableOps.writeBucketed(gen(1L, 200), dir, buckets = 4)
    SSTableOps.writeBucketed(gen(2L, 200, tombstoneEvery = 10), dir, buckets = 4)
    val storage = graft.sources.sstable.LocalStorage
    assert(storage.listDataFiles(dir).length == 8)

    // the SIZE-tier compactors would fold ACROSS buckets — refused loudly
    val e = intercept[IllegalArgumentException](
      SSTableOps.compactInPlace(spark, dir, minThreshold = 2))
    assert(e.getMessage.contains("compactBucketedInPlace"))
    intercept[IllegalArgumentException](
      SSTableOps.compactTombstonesInPlace(spark, dir, ratioThreshold = 0.0))

    // a CONTAMINATED bucketed directory (one plain path-API append)
    // still refuses generic compaction — ANY bucket stem present is
    // enough (review r8: requiring ALL would let the mixed case fold
    // across buckets and irreversibly destroy the layout); the bucketed
    // compactor refuses too (its layout validation), so a mixed
    // directory has NO compaction path until the foreign file is evicted
    gen(3L, 10).write.format("sstable").mode("append").save(dir)
    val mixed = intercept[IllegalArgumentException](
      SSTableOps.compactInPlace(spark, dir, minThreshold = 2))
    assert(mixed.getMessage.contains("bucket"), mixed.getMessage)
    intercept[IllegalArgumentException](
      SSTableOps.compactBucketedInPlace(spark, dir))
    // evict the foreign generation; bucketed maintenance works again
    storage.listDataFiles(dir)
      .filterNot(f => SSTableSource.BucketNameRe.matches(
        graft.sources.sstable.SSTableFiles.generationStem(f)))
      .foreach(graft.sources.sstable.SSTableFiles.unpublish(storage, _))

    val expected = SSTableOps.suppressTombstones(SSTableOps.compactRows(
      spark.read.format("sstable").load(dir))).select(col("key").cast("string"))
      .as[String].collect().sorted.toSeq

    // the layout-preserving fold: one generation per bucket afterwards,
    // every name still carrying its bucket stem
    assert(SSTableOps.compactBucketedInPlace(spark, dir) == 4)
    val after = storage.listDataFiles(dir)
    assert(after.length == 4, s"one folded generation per bucket: $after")
    assert(after.forall(f => SSTableSource.BucketNameRe.matches(
      graft.sources.sstable.SSTableFiles.generationStem(f))), s"stems kept: $after")
    // a converged directory folds nothing more
    assert(SSTableOps.compactBucketedInPlace(spark, dir) == 0)

    // the bucketed read contract survives maintenance: 4 partitions,
    // zero-exchange merge, and GC dropped the tombstoned keys (within a
    // bucket the fold takes the whole chain, so GC is structurally safe)
    SSTableMetadataCache.clear()
    val scan = spark.read.format("sstable").option("buckets", "4").load(dir)
    assert(scan.rdd.getNumPartitions == 4)
    val merged = SSTableOps.compactRows(scan)
    merged.collect()
    assert(!merged.queryExecution.executedPlan.toString.contains("Exchange"),
      "folded bucketed merge must stay zero-exchange")
    val got = scan.select(col("key").cast("string")).as[String]
      .collect().sorted.toSeq
    assert(got == expected, "fold+GC must equal the pre-fold reconciled state")
    assert(got.length == 180, "every 10th key tombstoned away")
    assert(scan.filter(col("rowTombstone").isNotNull).count() == 0,
      "GC must drop the tombstones themselves")
  }

  test("metadata columns: _generation provenance, _change_type change feed") {
    import graft.operators.SSTableOps
    import spark.implicits._
    val dir = freshDir()
    def gen(ts: Long, keys: Seq[String]) = keys.toDF("k").select(
      col("k").cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        lit("v").cast("binary").as("value"), lit(ts).as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone"))
    gen(10L, Seq("ka", "kb")).coalesce(1)
      .write.format("sstable").mode("append").save(dir)
    SSTableOps.snapshot(dir, "m-e1")
    gen(20L, Seq("kc")).coalesce(1)
      .write.format("sstable").mode("append").save(dir)
    new SSTableTable(Map(
        SSTableSource.PathOption -> dir,
        SSTableSource.DeleteMarkMicrosOption -> "30"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("key", "ka".getBytes: Any)))

    // _generation names the publishing fileset; hidden from SELECT *
    val all = spark.read.format("sstable").load(dir)
    assert(!all.schema.fieldNames.contains("_generation"))
    // DATA rows only (ka also has a tombstone row version from the
    // delete generation — its provenance is the delete gen, correctly)
    val byGen = all.filter(col("rowTombstone").isNull)
      .select(col("key").cast("string"), col("_generation"))
      .as[(String, String)].collect().toMap
    assert(byGen.keySet == Set("ka", "kb", "kc"))
    assert(byGen("ka") == byGen("kb") && byGen("ka") != byGen("kc"),
      s"provenance must follow the publishing fileset: $byGen")
    val onDisk = graft.sources.sstable.LocalStorage.listDataFiles(dir)
      .map(graft.sources.sstable.SSTableFiles.generationStem).toSet
    assert(byGen.values.toSet.subsetOf(onDisk))
    val tombGen = all.filter(col("rowTombstone").isNotNull)
      .select(col("_generation")).as[String].head()
    assert(tombGen.contains("delete"), s"tombstone row's provenance: $tombGen")
    // a key+_generation projection stays on the Index.db-only path
    val keyGen = all.select(col("key"), col("_generation"))
    assert(keyGen.queryExecution.executedPlan.toString.contains("indexOnly"))
    assert(keyGen.count() == 4) // 3 data rows + 1 tombstone row

    // _change_type: the epoch diff becomes an explicit change feed —
    // the post-e1 generations hold one upsert (kc) and one delete (ka)
    val feed = spark.read.format("sstable").option("sincesnapshot", "m-e1")
      .load(dir)
      .select(col("key").cast("string"), col("_change_type"))
      .as[(String, String)].collect().toSet
    assert(feed == Set(("kc", "upsert"), ("ka", "delete")), s"got $feed")
    // _change_type forces row decode (tombstones live in Data.db)
    val ctPlan = spark.read.format("sstable").load(dir)
      .select(col("key"), col("_change_type"))
    assert(!ctPlan.queryExecution.executedPlan.toString.contains("indexOnly"))

    // a COMPACTED delete-then-reinsert row carries both the tombstone
    // and a newer surviving cell — its reconciled state is live, so the
    // feed must say upsert, not delete (a consumer applying 'delete'
    // would drop a live key)
    val dir2 = freshDir()
    val w = new SSTableWriter(s"$dir2/folded-Data.db", compress = false)
    w.append(graft.sources.sstable.SSTableRow("kx".getBytes,
      Seq(Column.Normal("c".getBytes, "reborn".getBytes, 40L)),
      Some(graft.sources.sstable.RowTombstone(1, 30L))))
    w.append(graft.sources.sstable.SSTableRow("ky".getBytes, Nil,
      Some(graft.sources.sstable.RowTombstone(1, 30L))))
    w.close()
    val folded = spark.read.format("sstable").load(dir2)
      .select(col("key").cast("string"), col("_change_type"))
      .as[(String, String)].collect().toSet
    assert(folded == Set(("kx", "upsert"), ("ky", "delete")), s"got $folded")
  }

  test("SQL DDL surface: CREATE TABLE ... USING sstable reads and writes") {
    val dir = freshDir()
    writeFixture(dir)
    spark.sql(s"CREATE TABLE sst_ddl USING sstable OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM sst_ddl").head().getLong(0) == 500)
      val one = spark.sql(
        "SELECT cast(key AS STRING) AS k, size(columns) AS nc FROM sst_ddl " +
          "WHERE key = cast('key00007' AS BINARY)").head()
      assert(one.getString(0) == "key00007" && one.getInt(1) == 2)
      // INSERT goes through the same sorted staged-commit write path
      spark.sql(
        "INSERT INTO sst_ddl SELECT cast('zzz-extra' AS BINARY) AS key, " +
          "array(named_struct('name', cast('c' AS BINARY), 'state', 'NORMAL', " +
          "'value', cast('v' AS BINARY), 'timestamp', 1L, 'ttlSecs', 0L, " +
          "'expiresMillis', 0L)) AS columns, " +
          "cast(null AS struct<localDeletionTime:int,markedForDeleteAt:bigint>) AS rowTombstone")
      assert(spark.sql("SELECT count(*) AS n FROM sst_ddl").head().getLong(0) == 501)
    } finally spark.sql("DROP TABLE sst_ddl")
  }

  test("corrupt file fails the scan loudly") {
    val dir = freshDir()
    writeFixture(dir)
    val raf = new java.io.RandomAccessFile(s"$dir/fix-Data.db", "rw")
    raf.seek(raf.length() / 3)
    raf.writeLong(0x6465616462656566L)
    raf.close()
    val df = spark.read.format("sstable").load(dir)
    // count() alone would be served from the index (column pruning);
    // touch `columns` to force the corrupted Data.db read.
    intercept[Exception] { df.select(explode(col("columns"))).count() }
  }

  /** One plain generation of `n` rows `key$from..` under `$dir/$stem-`. */
  private def writeGen(dir: String, stem: String, from: Int, n: Int,
                       step: Int = 1): Unit = {
    val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false)
    (0 until n).foreach { j =>
      val i = from + j * step
      w.append(SSTableRow(f"key$i%05d".getBytes,
        Seq(Column.Normal("c".getBytes, s"v$i".getBytes, i.toLong))))
    }
    w.close()
  }

  private def collectSorts(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SortExec] = {
    val self = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectSorts(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectSorts(q.plan)
      case s: org.apache.spark.sql.execution.SortExec => Seq(s)
      case _ => Nil
    }
    self ++ p.children.flatMap(collectSorts) ++ p.subqueries.flatMap(collectSorts)
  }

  test("pushed LIMIT caps readers and plans only a statistics-covered file prefix") {
    val dir = freshDir()
    writeGen(dir, "aaa", 0, 500)
    writeGen(dir, "bbb", 500, 500)
    writeGen(dir, "ccc", 1000, 500)
    val all = spark.read.format("sstable").load(dir)
    assert(collectBatchScans(all.queryExecution.executedPlan)
      .head.inputRDD.getNumPartitions == 3, "three one-split generations")

    val limited = spark.read.format("sstable").load(dir).limit(5)
    assert(limited.collect().length == 5)
    val plan = limited.queryExecution.executedPlan
    assert(plan.toString.contains(" limit=5"),
      s"limit not pushed to the sstable scan:\n$plan")
    // the first generation's statistics already guarantee 5 rows — the
    // other two generations are never planned (nor opened)
    assert(collectBatchScans(plan).head.inputRDD.getNumPartitions == 1,
      "LIMIT 5 must plan only the first generation's splits")

    // larger than one generation: the prefix grows just enough
    val wide = spark.read.format("sstable").load(dir).limit(600)
    assert(wide.count() == 600)
    assert(collectBatchScans(wide.queryExecution.executedPlan)
      .head.inputRDD.getNumPartitions == 2)

    // under a filter Spark keeps the limit above the scan — nothing pushed,
    // nothing pruned, answer unchanged
    val filtered = spark.read.format("sstable").load(dir)
      .filter(col("key") >= lit("key01400".getBytes)).limit(5)
    assert(!filtered.queryExecution.executedPlan.toString.contains(" limit="))
    assert(filtered.count() == 5)
  }

  test("LIMIT file-prefix pruning declines on the cells view under TTL evaluation (ADVICE r6)") {
    val dir = freshDir()
    // first-listed generation: every cell EXPIRING and already expired at
    // the probe time — its sidecar cellCount "guarantees" the limit, but
    // the TTL filter drops every row it would produce
    val w = new SSTableWriter(s"$dir/aaa-Data.db", compress = false)
    (0 until 100).foreach { i =>
      w.append(SSTableRow(f"exp$i%05d".getBytes,
        Seq(Column.Expiring("c".getBytes, s"v$i".getBytes, 60L, 1000L, i.toLong))))
    }
    w.close()
    writeGen(dir, "bbb", 0, 100) // live NORMAL cells
    val df = spark.read.format("sstable").option("view", "cells")
      .option("ttlasofms", "2000").load(dir).limit(5)
    // a cellCount-based file prefix would plan only `aaa` and return 0
    // rows; with TTL set the pruning must decline and plan everything
    assert(collectBatchScans(df.queryExecution.executedPlan)
      .head.inputRDD.getNumPartitions == 2,
      "TTL-filtered cells view must not file-prune on sidecar cell counts")
    assert(df.collect().length == 5,
      "pushed LIMIT under TTL returned fewer rows than exist")
    // without TTL evaluation the prefix prune stays on
    val plain = spark.read.format("sstable").option("view", "cells")
      .load(dir).limit(5)
    assert(collectBatchScans(plain.queryExecution.executedPlan)
      .head.inputRDD.getNumPartitions == 1)
    assert(plain.collect().length == 5)
  }

  test("option(snapshot, tag) reads the pinned fileset with pruning intact (VERDICT r6 #8)") {
    import graft.operators.SSTableOps
    import spark.implicits._
    val dir = freshDir()
    writeGen(dir, "gen1", 0, 200)
    SSTableOps.snapshot(dir, "t1")
    writeGen(dir, "gen2", 200, 200) // lands AFTER the pin
    graft.sources.sstable.SSTableMetadataCache.clear()

    // read-via-option equals read-via-path; the live dir has moved on
    val viaOption = spark.read.format("sstable").option("snapshot", "t1").load(dir)
    val viaPath = spark.read.format("sstable")
      .load(SSTableOps.snapshotPath(dir, "t1"))
    def keys(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("key").cast("string")).as[String].collect().toSeq.sorted
    assert(keys(viaOption) == keys(viaPath))
    assert(viaOption.count() == 200)
    assert(spark.read.format("sstable").load(dir).count() == 400)

    // pruning surfaces ride along: pushed LIMIT caps the snapshot scan,
    // key bounds prune its partitions
    val limited = spark.read.format("sstable").option("snapshot", "t1")
      .load(dir).limit(5)
    assert(limited.queryExecution.executedPlan.toString.contains(" limit=5"))
    assert(limited.collect().length == 5)
    // stats-only count(*) answers from the snapshot's sidecars
    val cnt = spark.read.format("sstable").option("snapshot", "t1").load(dir)
      .agg(count(lit(1))).as[Long].head()
    assert(cnt == 200)

    // unknown tag fails loudly at planning, never an empty result
    val e = intercept[IllegalArgumentException](
      spark.read.format("sstable").option("snapshot", "nope").load(dir).collect())
    assert(e.getMessage.contains("does not exist"))

    // snapshots are read-only
    intercept[IllegalArgumentException] {
      spark.read.format("sstable").load(dir).limit(1)
        .write.format("sstable").option("snapshot", "t1").mode("append").save(dir)
    }

    // and batch-only: a snapshot never grows, so tailing it is declined
    val ck = freshDir()
    val sq = spark.readStream.format("sstable").option("snapshot", "t1")
      .load(dir).writeStream.format("noop")
      .option("checkpointLocation", ck).start()
    val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
      sq.awaitTermination()
    }
    assert(se.getMessage.contains("batch-only") ||
      Option(se.getCause).exists(_.getMessage.contains("batch-only")))
    sq.stop()
  }

  test("option(sincesnapshot, tag) plans only generations outside the floor pin") {
    import graft.operators.SSTableOps
    import spark.implicits._
    val dir = freshDir()
    writeGen(dir, "gen1", 0, 200)
    SSTableOps.snapshot(dir, "e1")
    writeGen(dir, "gen2", 200, 200) // the epoch's new data
    graft.sources.sstable.SSTableMetadataCache.clear()
    def keys(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("key").cast("string")).as[String].collect().toSeq.sorted

    // the diff is exactly the generations NOT in the pin
    val since = spark.read.format("sstable").option("sincesnapshot", "e1").load(dir)
    assert(since.count() == 200)
    val epoch2Keys = keys(since)
    assert(epoch2Keys == keys(spark.read.format("sstable").load(dir))
      .diff(keys(spark.read.format("sstable").option("snapshot", "e1").load(dir))))
    assert(since.queryExecution.executedPlan.toString.contains("sinceSnapshot"))

    // stats-only count(*) sums only the diff's sidecars
    val cnt = spark.read.format("sstable").option("sincesnapshot", "e1").load(dir)
      .agg(count(lit(1))).as[Long].head()
    assert(cnt == 200)

    // pushed LIMIT composes: the prefix is taken within the diff
    val limited = spark.read.format("sstable").option("sincesnapshot", "e1")
      .load(dir).limit(5)
    assert(limited.queryExecution.executedPlan.toString.contains(" limit=5"))
    assert(limited.collect().forall(r =>
      new String(r.getAs[Array[Byte]]("key")).drop(3).toInt >= 200))

    // snapshot + sincesnapshot = a reproducible epoch diff (pin B − pin A):
    // later writes don't change it
    SSTableOps.snapshot(dir, "e2")
    writeGen(dir, "gen3", 400, 100)
    graft.sources.sstable.SSTableMetadataCache.clear()
    val epochDiff = spark.read.format("sstable")
      .option("snapshot", "e2").option("sincesnapshot", "e1").load(dir)
    assert(epochDiff.count() == 200)
    assert(keys(epochDiff) == epoch2Keys)
    assert(spark.read.format("sstable")
      .option("sincesnapshot", "e1").load(dir).count() == 300) // live diff grew

    // unknown floor tag fails loudly at planning
    val e = intercept[IllegalArgumentException](spark.read.format("sstable")
      .option("sincesnapshot", "nope").load(dir).collect())
    assert(e.getMessage.contains("does not exist"))

    // read-side only: writes reject it
    intercept[IllegalArgumentException] {
      spark.read.format("sstable").load(dir).limit(1)
        .write.format("sstable").option("sincesnapshot", "e1").mode("append").save(dir)
    }

    // streaming: the pin is the STARTING FLOOR (Delta's startingVersion)
    // — a fresh checkpoint tails only the post-e1 generations (300 rows:
    // gen2 + gen3), never replays the pinned gen1, and new generations
    // keep arriving exactly-once
    val qn = "since_floor_" + java.util.UUID.randomUUID().toString.take(8)
    val sq = spark.readStream.format("sstable").option("sincesnapshot", "e1")
      .load(dir)
      .select(col("key").cast("string").as("k"))
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .option("checkpointLocation", freshDir()).start()
    sq.processAllAvailable()
    assert(spark.table(qn).count() == 300,
      "floor stream must start after the pin (gen2+gen3 only)")
    writeGen(dir, "gen4", 500, 50) // lands mid-stream: tails as usual
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.table(qn).select("k").collect().map(_.getString(0)).sorted
    assert(streamed.length == 350)
    assert(streamed.forall(_.drop(3).toInt >= 200),
      "nothing from the pinned generation may replay")
  }

  test("view=generations: one metadata row per fileset, zero data IO surfaces") {
    import graft.operators.SSTableOps
    val dir = freshDir()
    writeGen(dir, "aaa", 0, 100)
    writeGen(dir, "bbb", 100, 200)
    graft.sources.sstable.SSTableMetadataCache.clear()
    val g = spark.read.format("sstable").option("view", "generations").load(dir)
    assert(g.schema == SSTableSchema.generationsSchema)
    val rows = g.orderBy("generation").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).toSeq == Seq("aaa", "bbb"))
    assert(rows.map(_.getLong(rows(0).fieldIndex("rowCount"))).toSeq == Seq(100L, 200L))
    assert(rows.forall(r => !r.getBoolean(r.fieldIndex("deleteOnly"))))
    assert(rows.forall(r => r.getLong(r.fieldIndex("dataBytes")) > 0))
    // minKey/maxKey are the sidecar bounds
    assert(new String(rows(0).getAs[Array[Byte]]("minKey")) == "key00000")
    assert(new String(rows(1).getAs[Array[Byte]]("maxKey")) == "key00299")

    // SQL over the view: compaction-debt style questions are one query
    g.createOrReplaceTempView("gens")
    assert(spark.sql("SELECT sum(rowCount) FROM gens").head().getLong(0) == 300)

    // snapshot/sincesnapshot compose at the listing, like every read
    SSTableOps.snapshot(dir, "g1")
    writeGen(dir, "ccc", 300, 50)
    graft.sources.sstable.SSTableMetadataCache.clear()
    assert(spark.read.format("sstable").option("view", "generations")
      .option("snapshot", "g1").load(dir).count() == 2)
    val sinceGens = spark.read.format("sstable").option("view", "generations")
      .option("sincesnapshot", "g1").load(dir)
    assert(sinceGens.collect().map(_.getString(0)).toSeq == Seq("ccc"))

    // the view is read-only (Spark rejects at schema resolution — the
    // payload can never match the generations schema; the write builder
    // backstops with its own require for by-position writers)
    intercept[Exception] {
      spark.read.format("sstable").load(dir).limit(1)
        .write.format("sstable").option("view", "generations")
        .mode("append").save(dir)
    }
  }

  test("sincesnapshot composes with applydeletes: the diff applies only its own deletes") {
    import graft.operators.SSTableOps
    spark.sparkContext // deleteWhere below needs the active session
    val dir = freshDir()
    writeGen(dir, "gen1", 0, 100)
    SSTableOps.snapshot(dir, "floor")
    writeGen(dir, "gen2", 100, 100) // the epoch's data
    // the epoch DELETEs one pre-floor key and one of its own
    new SSTableTable(Map(
        SSTableSource.PathOption -> dir,
        SSTableSource.DeleteMarkMicrosOption -> "1000000"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("key",
          Array("key00010".getBytes: Any, "key00110".getBytes: Any))))
    graft.sources.sstable.SSTableMetadataCache.clear()
    // the delete-aware diff: epoch-2 rows minus the epoch's deletes —
    // the delete generation is part of the diff (it landed after the
    // floor), so it shadows; pre-floor data isn't in the diff at all
    val diff = spark.read.format("sstable")
      .option("sincesnapshot", "floor").option("applydeletes", "true").load(dir)
      .select(col("key").cast("string")).collect().map(_.getString(0)).sorted
    assert(diff.length == 99 && !diff.contains("key00110"),
      s"diff must drop its own deleted key: ${diff.length}")
    // the full delete-aware read drops both deleted keys
    val full = spark.read.format("sstable")
      .option("applydeletes", "true").load(dir)
      .select(col("key").cast("string")).collect().map(_.getString(0))
    assert(full.length == 198 && !full.contains("key00010") && !full.contains("key00110"))
  }

  test("plan-time custom metrics surface pruning and shadow size in the SQL UI") {
    val dir = freshDir()
    writeGen(dir, "aaa", 0, 300)
    writeGen(dir, "bbb", 300, 300)
    writeGen(dir, "ccc", 600, 300)
    graft.sources.sstable.SSTableMetadataCache.clear()
    // LIMIT prunes the file prefix: listed 3, planned 1
    val df = spark.read.format("sstable").load(dir).limit(5)
    df.collect()
    val scan = collectBatchScans(df.queryExecution.executedPlan).head
    val m = scan.metrics
    assert(m.contains("generationsListed") && m.contains("generationsPlanned") &&
      m.contains("splitsPlanned") && m.contains("pendingDeleteKeys"),
      s"missing custom metrics: ${m.keySet}")
    assert(m("generationsListed").value == 3)
    assert(m("generationsPlanned").value == 1)
    // delete-aware: the shadow size is reported
    new SSTableTable(Map(
        SSTableSource.PathOption -> dir,
        SSTableSource.DeleteMarkMicrosOption -> "1000000"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("key",
          Array("key00001".getBytes: Any, "key00002".getBytes: Any))))
    graft.sources.sstable.SSTableMetadataCache.clear()
    val dd = spark.read.format("sstable").option("applydeletes", "true").load(dir)
    assert(dd.collect().length == 898) // collect: metrics land on THIS execution
    val dm = collectBatchScans(dd.queryExecution.executedPlan).head.metrics
    assert(dm("pendingDeleteKeys").value == 2,
      s"shadow size not reported: ${dm.view.mapValues(_.value).toMap}")
    assert(dm("generationsListed").value == 4) // incl. the delete generation
    assert(dm("generationsPlanned").value == 3) // excluded from planning
  }

  test("pushed top-n on key: per-partition heads merge globally; desc declined") {
    val dir = freshDir()
    // interleaved generations: even keys in one, odd in the other — the
    // global head must mix both, so file pruning would be WRONG here
    writeGen(dir, "even", 0, 300, step = 2)
    writeGen(dir, "odd", 1, 300, step = 2)
    val df = spark.read.format("sstable").load(dir)

    val top = df.orderBy("key").limit(4)
    val keys = top.collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(keys.toSeq == Seq("key00000", "key00001", "key00002", "key00003"))
    val plan = top.queryExecution.executedPlan
    assert(plan.toString.contains(" topN=4(key asc)"),
      s"top-n not pushed to the sstable scan:\n$plan")
    assert(collectBatchScans(plan).head.inputRDD.getNumPartitions == 2,
      "top-n keeps every generation (any of them may hold the head)")

    // descending would need tail reads — declined, Spark sorts fully
    val bottom = df.orderBy(col("key").desc).limit(2)
    assert(!bottom.queryExecution.executedPlan.toString.contains(" topN="))
    assert(bottom.collect().map(r => new String(r.getAs[Array[Byte]]("key")))
      .toSeq == Seq("key00599", "key00598"))

    // key-only projection: the pushed top-n rides the Index.db-only path
    val keyTop = df.select("key").orderBy("key").limit(3)
    assert(keyTop.queryExecution.executedPlan.toString.contains(" topN=3(key asc)"))
    assert(keyTop.collect().map(r => new String(r.getAs[Array[Byte]]("key")))
      .toSeq == Seq("key00000", "key00001", "key00002"))
  }

  test("reported key ordering elides partition-local sorts; bucketed scans decline") {
    val dir = freshDir()
    writeGen(dir, "aaa", 0, 200)
    writeGen(dir, "bbb", 200, 200)
    val df = spark.read.format("sstable").load(dir)

    // partition = one split of one sorted generation ⇒ the sort is free
    val swp = df.sortWithinPartitions("key")
    swp.collect()
    assert(collectSorts(swp.queryExecution.executedPlan).isEmpty,
      s"key-asc partition sort should be satisfied by the reported ordering:\n" +
        swp.queryExecution.executedPlan)

    // an ordering the report does NOT satisfy still sorts
    val desc = df.sortWithinPartitions(col("key").desc)
    assert(collectSorts(desc.queryExecution.executedPlan).nonEmpty)

    // cells view partitions also ascend by key
    val cellsDir = freshDir()
    writeFixture(cellsDir)
    val cells = spark.read.format("sstable").option("view", "cells").load(cellsDir)
      .sortWithinPartitions("key")
    assert(collectSorts(cells.queryExecution.executedPlan).isEmpty)

    // bucketed partitions chain generations — ordering must NOT be reported
    import graft.operators.SSTableOps
    val bdir = freshDir()
    def gen(ts: Long, n: Int) = spark.range(n).select(
      concat(lit("k"), lpad(col("id").cast("string"), 5, "0")).cast("binary").as("key"),
      array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
        lit("v".getBytes).as("value"), lit(ts).as("timestamp"),
        lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
      lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
        .as("rowTombstone"))
    SSTableOps.writeBucketed(gen(1L, 100), bdir, buckets = 2)
    SSTableOps.writeBucketed(gen(2L, 100), bdir, buckets = 2)
    val bucketed = spark.read.format("sstable").option("buckets", "2").load(bdir)
      .sortWithinPartitions("key")
    assert(collectSorts(bucketed.queryExecution.executedPlan).nonEmpty,
      "a bucket partition is not key-sorted as a whole")
    // …and top-n is declined there for the same reason
    val btop = spark.read.format("sstable").option("buckets", "2").load(bdir)
      .orderBy("key").limit(3)
    assert(!btop.queryExecution.executedPlan.toString.contains(" topN="))
  }

  test("range layout: generations cover disjoint key spans and range reads prune files") {
    import graft.operators.SSTableOps
    def src(n: Int) = spark.range(n)
      .select(concat(lit("key"), lpad(col("id").cast("string"), 5, "0"))
        .cast("binary").as("key"),
        array(struct(lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          lit("v".getBytes).as("value"), col("id").as("timestamp"),
          lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"),
        lit(null).cast("struct<localDeletionTime:int,markedForDeleteAt:bigint>")
          .as("rowTombstone"))
      .repartition(4) // pre-shuffled: the write's distribution must redo it

    val rangeDir = freshDir()
    src(2000).write.format("sstable").mode("append")
      .option("layout", "range").option("writepartitions", "4").save(rangeDir)
    val hashDir = freshDir()
    src(2000).write.format("sstable").mode("append")
      .option("writepartitions", "4").save(hashDir)

    // every row survives, and the written generations' Statistics key
    // bounds are pairwise disjoint (the layout's whole point)
    assert(spark.read.format("sstable").load(rangeDir).count() == 2000)
    val bounds = LocalStorage.listDataFiles(rangeDir)
      .map(f => new SSTableReader(f, LocalStorage).statistics.get)
      .map(s => (s.minKey, s.maxKey))
      .sortWith((a, b) => SSTableFiles.compareKeys(a._1, b._1) < 0)
    assert(bounds.length > 1, "want multiple generations to prove disjointness")
    bounds.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(SSTableFiles.compareKeys(hiA, loB) < 0,
          "range-layout generations must not overlap")
      case _ =>
    }
    // …which makes the directory a single LCS sorted run from birth
    assert(SSTableOps.leveledRuns(rangeDir).length == 1)
    assert(SSTableOps.leveledRuns(hashDir).length > 1,
      "hash layout overlaps by construction at this size")

    // a key-range read prunes whole generations on the range layout only
    def planned(dir: String) = {
      val df = spark.read.format("sstable").load(dir)
        .filter(col("key") >= lit("key00100".getBytes) &&
          col("key") <= lit("key00120".getBytes))
      collectBatchScans(df.queryExecution.executedPlan).head.inputRDD.getNumPartitions
    }
    assert(planned(rangeDir) == 1,
      "a 21-key range must hit exactly one disjoint generation")
    assert(planned(hashDir) == LocalStorage.listDataFiles(hashDir).length,
      "every hash-layout generation intersects the range")
  }

  test("index source: pushed limit/top-n and reported ordering") {
    val dir = freshDir()
    writeGen(dir, "even", 0, 200, step = 2)
    writeGen(dir, "odd", 1, 200, step = 2)
    val idx = spark.read.format("sstable-index").load(dir)

    val top = idx.orderBy("key").limit(3)
    assert(top.queryExecution.executedPlan.toString.contains(" topN=3(key asc)"))
    assert(top.collect().map(r => new String(r.getAs[Array[Byte]]("key")))
      .toSeq == Seq("key00000", "key00001", "key00002"))

    val limited = idx.limit(7)
    assert(limited.queryExecution.executedPlan.toString.contains(" limit=7"))
    assert(limited.count() == 7)

    val swp = idx.sortWithinPartitions("key")
    assert(collectSorts(swp.queryExecution.executedPlan).isEmpty)
  }

  test("cells view: pushed name range slices wide rows at the decoder") {
    import spark.implicits._
    val dir = freshDir()
    val w = new SSTableWriter(s"$dir/wide-Data.db", compress = false,
      summaryInterval = 4)
    // two wide rows + one narrow, cells c000..c099
    Seq("ka", "kb").foreach { k =>
      w.append(SSTableRow(k.getBytes,
        (0 until 100).map(i => Column.Normal(f"c$i%03d".getBytes,
          s"$k-$i".getBytes, i.toLong))))
    }
    w.append(SSTableRow("kc".getBytes,
      Seq(Column.Normal("c042".getBytes, "kc-42".getBytes, 1L))))
    w.close()

    val cells = spark.read.format("sstable").option("view", "cells").load(dir)
    val sliced = cells.filter(col("name") >= lit("c010".getBytes) &&
      col("name") < lit("c013".getBytes))
    assert(sliced.queryExecution.executedPlan.toString.contains(" nameSliced"),
      "the name range must reach the scan")
    val got = sliced
      .select(col("key").cast("string"), col("name").cast("string"))
      .as[(String, String)].collect().toSet
    assert(got == Set("ka", "kb").flatMap(k =>
      (10 until 13).map(i => (k, f"c$i%03d"))), s"got $got")

    // point slice: name = X composes with the narrow row; an unpushed
    // scan + filter agrees exactly
    val eq = cells.filter(col("name") === lit("c042".getBytes))
    val eqKeys = eq.select(col("key").cast("string")).as[String].collect().toSet
    assert(eqKeys == Set("ka", "kb", "kc"))
    assert(eq.count() ==
      cells.collect().count(r => new String(
        r.getAs[Array[Byte]]("name")) == "c042"))

    // pushed cell aggregates decline under a slice (stats would over-count)
    val cnt = cells.filter(col("name") >= lit("c090".getBytes)).agg(count(lit(1)))
    assert(!cnt.queryExecution.executedPlan.toString.contains("statsOnlyAggregate"))
    assert(cnt.as[Long].collect().head == 20L)
  }

  test("asofmicros reconstructs past LWW state and prunes post-cut generations") {
    import spark.implicits._
    val dir = freshDir()
    def gen(stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.sortWith((a, b) => SSTableFiles.compareKeys(a.key, b.key) < 0)
        .foreach(w.append)
      finally w.close()
    }
    def norm(n: String, v: String, ts: Long) = Column.Normal(n.getBytes, v.getBytes, ts)
    // epoch 100s: ten keys + kdel
    gen("g1", (0 until 10).map(i =>
      SSTableRow(f"k$i%02d".getBytes, Seq(norm("c", s"old$i", 100L + i)))) :+
      SSTableRow("kdel".getBytes, Seq(norm("c", "doomed", 105L))))
    // epoch 200s: k00 overwritten, knew born, kdel deleted
    gen("g2", Seq(
      SSTableRow("k00".getBytes, Seq(norm("c", "newer", 200L))),
      SSTableRow("kdel".getBytes, Nil, Some(RowTombstone(1700000000, 205L))),
      SSTableRow("knew".getBytes, Seq(norm("c", "born", 210L)))))
    // epoch 300s: kfuture only
    gen("g3", Seq(SSTableRow("kfuture".getBytes, Seq(norm("c", "later", 300L)))))

    def read(asOf: Long) = spark.read.format("sstable")
      .option(SSTableSource.AsOfMicrosOption, asOf).load(dir)

    // t=150: only g1 visible — and only g1 PLANNED (statistics minTs
    // pruning: g2/g3 never opened)
    val at150 = read(150)
    assert(at150.rdd.getNumPartitions == 1,
      "post-cut generations must be pruned at plan time")
    assert(spark.read.format("sstable").load(dir).rdd.getNumPartitions == 3)
    val rows150 = at150
      .select(col("key").cast("string").as("k"),
        explode(col("columns")).as("c"), col("rowTombstone"))
      .select(col("k"), col("c.value").cast("string").as("v"),
        col("rowTombstone").isNotNull.as("tomb"))
      .collect()
    assert(rows150.map(_.getString(0)).toSet ==
      ((0 until 10).map(i => f"k$i%02d").toSet + "kdel"))
    assert(rows150.find(_.getString(0) == "k00").get.getString(1) == "old0",
      "the post-cut overwrite must be invisible")
    assert(!rows150.find(_.getString(0) == "kdel").get.getBoolean(2),
      "a deletion marked after the cut is hidden")

    // t=250: overwrite + deletion + knew visible, kfuture still absent
    val at250 = read(250)
    val keys250 = at250.select(col("key").cast("string")).as[String].collect().toSet
    assert(keys250 == ((0 until 10).map(i => f"k$i%02d").toSet ++ Set("kdel", "knew")))
    val merged250 = graft.operators.SSTableOps.compactRows(at250)
    val k00 = merged250.filter(col("key").cast("string") === "k00")
      .select(explode(col("columns")).as("c"))
      .select(col("c.value").cast("string")).as[String].collect()
    assert(k00.toSeq == Seq("newer"))
    val kdel = merged250.filter(col("key").cast("string") === "kdel")
      .select(size(col("columns")).as("n"), col("rowTombstone").isNotNull)
      .collect().head
    assert(kdel.getInt(0) == 0 && kdel.getBoolean(1),
      "at t=250 the merged row is wholesale-deleted")

    // key-only projection can't serve from Index.db under asof: plan
    // says asOf, not indexOnly, and future-born keys are absent
    val keyOnly = read(150).select("key")
    val plan = keyOnly.queryExecution.executedPlan.toString
    assert(plan.contains(" asOf=150") && !plan.contains("indexOnly"))
    assert(!keyOnly.select(col("key").cast("string")).as[String]
      .collect().contains("knew"))

    // pushed aggregates decline under asof (sidecar totals over-count)
    val cnt = read(150).agg(count(lit(1)))
    assert(!cnt.queryExecution.executedPlan.toString.contains("statsOnlyAggregate"))
    assert(cnt.as[Long].collect().head == 11L)
  }
}
