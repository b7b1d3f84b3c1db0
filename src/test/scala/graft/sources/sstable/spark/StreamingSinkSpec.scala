package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps

/** `writeStream.format("sstable")`: each micro-batch commits one SSTable
  * generation; the batch source reads the union of generations and the
  * LWW merge resolves cross-epoch rewrites — Cassandra's memtable-flush
  * model on Structured Streaming. */
class StreamingSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming sink commits one readable generation per epoch; LWW merges across epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("sstable-stream").toString

    val input = MemoryStream[(String, String, Long)] // (key, value, ts)
    val df = input.toDF().toDF("k", "v", "ts")
      .select(col("k").cast("binary").as("key"),
        array(struct(
          lit("c").cast("binary").as("name"),
          lit("NORMAL").as("state"),
          col("v").cast("binary").as("value"),
          col("ts").as("timestamp"),
          lit(0L).as("ttlSecs"),
          lit(0L).as("expiresMillis"))).as("columns"))

    val q = df.writeStream.format("sstable")
      .option("path", dir)
      .option("checkpointLocation", Files.createTempDirectory("sstable-ck").toString)
      .start()

    input.addData(("a", "v1", 10L), ("b", "v1", 10L))
    q.processAllAvailable()
    input.addData(("a", "v2", 20L), ("c", "v1", 15L)) // a rewritten in epoch 1
    q.processAllAvailable()
    q.stop()

    // no staged leftovers visible to readers; epoch-stamped sets committed
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.endsWith("-Data.db")) >= 2, files.mkString(", "))
    assert(files.forall(f => !f.contains("_streaming-staging") || // staging dir itself
      new java.io.File(s"$dir/$f").isDirectory))
    // published names are (partition, epoch)-deterministic: the staged
    // attempt id must be stripped at commit (replay idempotency), and
    // every visible Data.db must have its complete sibling set in place
    assert(files.filter(_.endsWith(".db")).forall(!_.contains("-attempt-")),
      files.mkString(", "))
    files.filter(_.endsWith("-Data.db")).foreach { data =>
      graft.sources.sstable.SSTableFiles.AllSuffixes.foreach { suf =>
        val sib = graft.sources.sstable.SSTableFiles.sibling(s"$dir/$data", suf)
        assert(new java.io.File(sib).exists(), s"missing sibling $sib")
      }
    }
    assert(FilesetCommit.publishedName("part-00003-epoch-7-attempt-42-Data.db")
      == "part-00003-epoch-7-Data.db")

    val all = spark.read.format("sstable").load(dir)
    assert(all.count() == 4) // a(e0), b(e0), a(e1), c(e1)

    // LWW compaction collapses the two generations of `a` to ts=20
    val merged = SSTableOps.compactRows(all)
    assert(merged.count() == 3)
    val aRow = merged.filter(col("key").cast("string") === "a")
      .select(explode(col("columns")).as("c")).select("c.value", "c.timestamp")
      .collect().map(r => (new String(r.getAs[Array[Byte]](0)), r.getLong(1)))
    assert(aRow.toSeq == Seq(("v2", 20L)))
  }

  test("epoch replay with fewer staged siblings leaves no stale sibling behind") {
    // ADVICE r3: a replayed epoch that stages FEWER siblings (e.g.
    // compression disabled across a restart, so no CompressionInfo.db)
    // must unpublish ALL of the prior copy's siblings — a stale
    // CompressionInfo.db next to an uncompressed Data.db would make the
    // reader misinterpret the bytes. Drives commit() directly: the
    // publish/unpublish protocol is pure file choreography.
    import graft.sources.sstable.SSTableFiles
    val dir = Files.createTempDirectory("replay-siblings").toString
    val staging = s"$dir/_streaming-staging"
    new java.io.File(staging).mkdirs()
    val w = new SSTableStreamingWrite(dir, SSTableSchema.schema, Map.empty)

    def stage(attempt: Int, suffixes: Seq[String]): String = {
      val data = s"$staging/part-00000-epoch-7-attempt-$attempt-Data.db"
      suffixes.foreach { suf =>
        val f = new java.io.FileOutputStream(SSTableFiles.sibling(data, suf))
        f.write(s"attempt$attempt$suf".getBytes); f.close()
      }
      data
    }
    def published(suf: String) = new java.io.File(
      SSTableFiles.sibling(s"$dir/part-00000-epoch-7-Data.db", suf))

    // first commit: full compressed fileset
    w.commit(7, Array(SSTableCommit(Seq(stage(1, Seq(
      SSTableFiles.DataSuffix, SSTableFiles.IndexSuffix, SSTableFiles.SummarySuffix,
      SSTableFiles.CompressionSuffix, SSTableFiles.FilterSuffix))))))
    assert(published(SSTableFiles.CompressionSuffix).exists())

    // replay: same (partition, epoch) staged WITHOUT CompressionInfo/Filter
    w.commit(7, Array(SSTableCommit(Seq(stage(2, Seq(
      SSTableFiles.DataSuffix, SSTableFiles.IndexSuffix, SSTableFiles.SummarySuffix))))))
    assert(!published(SSTableFiles.CompressionSuffix).exists(),
      "stale CompressionInfo.db survived the replay unpublish")
    assert(!published(SSTableFiles.FilterSuffix).exists(),
      "stale Filter.db survived the replay unpublish")
    val dataBytes = java.nio.file.Files.readAllBytes(
      published(SSTableFiles.DataSuffix).toPath)
    assert(new String(dataBytes) == s"attempt2${SSTableFiles.DataSuffix}",
      "replayed attempt's Data.db must win")
  }

  test("bucketed epoch replay renames onto the same bucket-stem name (idempotent)") {
    // the bucketed streaming sink's exactly-once rests on the published
    // name being (bucket, epoch)-deterministic: a replayed epoch renames
    // ONTO its prior output under the same bucket-NNNNN-epoch-E stem
    import graft.sources.sstable.SSTableFiles
    val dir = Files.createTempDirectory("replay-bucketed").toString
    val staging = s"$dir/_streaming-staging"
    new java.io.File(staging).mkdirs()
    val w = new SSTableStreamingWrite(dir, SSTableSchema.schema, Map.empty, Some(4))

    def stage(attempt: Int): String = {
      val data = s"$staging/bucket-00002-epoch-3-attempt-$attempt-Data.db"
      Seq(SSTableFiles.DataSuffix, SSTableFiles.IndexSuffix).foreach { suf =>
        val f = new java.io.FileOutputStream(SSTableFiles.sibling(data, suf))
        f.write(s"attempt$attempt".getBytes); f.close()
      }
      data
    }
    w.commit(3, Array(SSTableCommit(Seq(stage(1)))))
    w.commit(3, Array(SSTableCommit(Seq(stage(2))))) // driver-recovery replay
    val dataFiles = new java.io.File(dir).list()
      .filter(_.endsWith(SSTableFiles.DataSuffix)).toSeq
    assert(dataFiles == Seq("bucket-00002-epoch-3-Data.db"),
      s"replay must not duplicate the bucket generation: $dataFiles")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/bucket-00002-epoch-3-Data.db"))) == "attempt2",
      "the replayed attempt's bytes must win")
  }

  test("streaming source: newly landed generations arrive as micro-batches, exactly once") {
    val dir = Files.createTempDirectory("sstable-stream-src").toString

    def writeGen(prefix: String, keys: Seq[String]): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(s"$dir/$prefix-Data.db",
        compress = true, chunkLength = 512, summaryInterval = 8)
      keys.sorted.foreach(k => w.append(graft.sources.sstable.SSTableRow(
        k.getBytes, Seq(graft.sources.sstable.Column.Normal(
          "c".getBytes, s"$prefix-$k".getBytes, 1L)))))
      w.close()
    }
    writeGen("gen1", Seq("a", "b"))

    val q = spark.readStream.format("sstable").load(dir)
      .select(col("key").cast("string").as("k"))
      .writeStream.outputMode("append").format("memory").queryName("sst_stream")
      .option("checkpointLocation", Files.createTempDirectory("sst-src-ck").toString)
      .start()
    q.processAllAvailable()
    writeGen("gen2", Seq("c", "d")) // a new generation lands mid-stream
    q.processAllAvailable()
    q.processAllAvailable() // no new files -> no duplicate batch
    q.stop()

    val keys = spark.table("sst_stream").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c", "d"), s"got ${keys.mkString(", ")}")
  }

  test("streaming source is a change feed: a SQL DELETE's tombstones arrive as delete events") {
    val dir = Files.createTempDirectory("sstable-stream-cdc").toString
    val w = new graft.sources.sstable.SSTableWriter(s"$dir/base-Data.db",
      compress = false, summaryInterval = 8)
    Seq("a", "b").foreach(k => w.append(graft.sources.sstable.SSTableRow(
      k.getBytes, Seq(graft.sources.sstable.Column.Normal(
        "c".getBytes, k.getBytes, 10L)))))
    w.close()

    val q = spark.readStream.format("sstable").load(dir)
      .select(col("key").cast("string").as("k"),
        col("rowTombstone").isNotNull.as("deleted"))
      .writeStream.outputMode("append").format("memory").queryName("sst_cdc")
      .option("checkpointLocation", Files.createTempDirectory("sst-cdc-ck").toString)
      .start()
    q.processAllAvailable()
    // the DELETE lands mid-stream as one tombstone generation — the raw
    // change feed surfaces it as a delete EVENT (merge-on-read belongs
    // to batch readers; a stream consumer applies it to its own state)
    new graft.sources.sstable.spark.SSTableTable(Map(
        graft.sources.sstable.spark.SSTableSource.PathOption -> dir,
        graft.sources.sstable.spark.SSTableSource.DeleteMarkMicrosOption -> "99"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("key", "b".getBytes)))
    q.processAllAvailable()
    q.stop()
    val events = spark.table("sst_cdc").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).sortBy(e => (e._1, e._2))
    assert(events.toSeq == Seq(("a", false), ("b", false), ("b", true)),
      s"expected upserts then a delete event, got ${events.mkString(", ")}")
  }

  test("streaming source survives restart: offsets recover from the checkpoint, no replays") {
    val dir = Files.createTempDirectory("sstable-stream-rst").toString
    val ck = Files.createTempDirectory("sst-rst-ck").toString

    def writeGen(prefix: String, keys: Seq[String]): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(s"$dir/$prefix-Data.db",
        compress = true, chunkLength = 512, summaryInterval = 8)
      keys.sorted.foreach(k => w.append(graft.sources.sstable.SSTableRow(
        k.getBytes, Seq(graft.sources.sstable.Column.Normal(
          "c".getBytes, k.getBytes, 1L)))))
      w.close()
    }
    val outDir = Files.createTempDirectory("sst-rst-out").toString
    // memory sink can't recover from a checkpoint — use the file sink
    def start() = spark.readStream.format("sstable").load(dir)
      .select(col("key").cast("string").as("k"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ck)
      .start()

    writeGen("g1", Seq("a", "b"))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    writeGen("g2", Seq("c"))
    // restart from the same checkpoint: the committed offset (a JSON array
    // of processed files) must round-trip through the line-oriented offset
    // log — g1 must NOT replay, g2 must arrive
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val keys = spark.read.parquet(outDir).collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c"), s"got ${keys.mkString(", ")}")
  }

  test("admission control: maxFilesPerTrigger drains a backlog in bounded batches") {
    val dir = Files.createTempDirectory("sstable-stream-adm").toString

    def writeGen(prefix: String, keys: Seq[String]): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(s"$dir/$prefix-Data.db",
        compress = false, summaryInterval = 8)
      keys.sorted.foreach(k => w.append(graft.sources.sstable.SSTableRow(
        k.getBytes, Seq(graft.sources.sstable.Column.Normal(
          "c".getBytes, k.getBytes, 1L)))))
      w.close()
    }
    // a 5-generation backlog BEFORE the stream starts — the restart-after-
    // downtime shape where an uncapped batch #1 would be the whole pile
    (1 to 5).foreach(i => writeGen(s"g$i", Seq(s"k$i-a", s"k$i-b")))

    val q = spark.readStream.format("sstable")
      .option("maxFilesPerTrigger", "2").load(dir)
      .select(col("key").cast("string").as("k"))
      .writeStream.outputMode("append").format("memory").queryName("sst_adm")
      .option("checkpointLocation", Files.createTempDirectory("sst-adm-ck").toString)
      .start()
    q.processAllAvailable()
    q.stop()

    // every row exactly once…
    val keys = spark.table("sst_adm").collect().map(_.getString(0)).sorted
    assert(keys.length == 10 && keys.distinct.length == 10, s"got ${keys.mkString(", ")}")
    // …across ceil(5/2)=3 bounded batches, none above 2 files = 4 rows
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length == 3 && batches.forall(_ <= 4),
      s"want 3 bounded batches, got ${batches.mkString(", ")}")
  }

  test("admission control: maxBytesPerTrigger admits file prefixes, oversized head alone") {
    val dir = Files.createTempDirectory("sstable-stream-admb").toString

    def writeGen(prefix: String, rows: Int): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(s"$dir/$prefix-Data.db",
        compress = false, summaryInterval = 8)
      (0 until rows).foreach(i => w.append(graft.sources.sstable.SSTableRow(
        f"$prefix%s-$i%04d".getBytes, Seq(graft.sources.sstable.Column.Normal(
          "c".getBytes, ("v" * 50).getBytes, 1L)))))
      w.close()
    }
    writeGen("g1", 200) // ~15 KB — far above the byte cap: must admit alone
    writeGen("g2", 5)
    writeGen("g3", 5)

    val q = spark.readStream.format("sstable")
      .option("maxBytesPerTrigger", "4096").load(dir)
      .select(col("key").cast("string").as("k"))
      .writeStream.outputMode("append").format("memory").queryName("sst_admb")
      .option("checkpointLocation", Files.createTempDirectory("sst-admb-ck").toString)
      .start()
    q.processAllAvailable()
    q.stop()

    assert(spark.table("sst_admb").count() == 210)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    // batch 1: the oversized g1 alone (progress over starvation);
    // batch 2: g2+g3 fit the cap together
    assert(batches.toSeq == Seq(200L, 10L),
      s"want Seq(200, 10), got ${batches.mkString(", ")}")
  }

  /** Drive `epochs` micro-batches into a sink on `dir`; each epoch e
    * upserts keys (e .. e+5) at ts=e, so the reconciled LWW winner for
    * every key is the LAST epoch that touched it. */
  private def runEpochs(dir: String, epochs: Int,
                        extraOptions: Map[String, String]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val df = input.toDF().toDF("k", "ts")
      .select(col("k").cast("binary").as("key"),
        array(struct(
          lit("c").cast("binary").as("name"), lit("NORMAL").as("state"),
          concat(lit("v"), col("ts")).cast("binary").as("value"),
          col("ts").as("timestamp"),
          lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))).as("columns"))
    var w = df.writeStream.format("sstable")
      .option("path", dir)
      .option("checkpointLocation", Files.createTempDirectory("sst-ac-ck").toString)
    extraOptions.foreach { case (k, v) => w = w.option(k, v) }
    val q = w.start()
    (1 to epochs).foreach { e =>
      input.addData((0 until 6).map(i => (f"k${e + i}%04d", e.toLong)): _*)
      q.processAllAvailable()
    }
    q.stop()
  }

  private def lwwState(dir: String): Map[String, Long] =
    SSTableOps.compactRows(spark.read.format("sstable").load(dir))
      .selectExpr("cast(key as string) k", "columns[0].timestamp ts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("autocompact: 12 epochs with threshold 4 stay bounded, state unchanged") {
    // VERDICT r8 #2: without auto-maintenance every micro-batch appends
    // one generation forever; with `autocompact = 4` the committing
    // epoch folds back to the bound before returning, so a week of
    // continuous ingestion never needs a scheduled CALL compact.
    val epochs = 12
    val expected = (1 to epochs).flatMap(e =>
      (0 until 6).map(i => f"k${e + i}%04d" -> e.toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }

    // control: off by default — generation count grows linearly
    val plain = Files.createTempDirectory("sst-ac-off").toString
    runEpochs(plain, epochs, Map.empty)
    assert(graft.sources.sstable.LocalStorage.listDataFiles(plain).length == epochs)
    assert(lwwState(plain) == expected)

    // autocompact: every commit leaves at most `threshold` generations
    val bounded = Files.createTempDirectory("sst-ac-on").toString
    runEpochs(bounded, epochs, Map("autocompact" -> "4"))
    val gens = graft.sources.sstable.LocalStorage.listDataFiles(bounded)
    assert(gens.length <= 4,
      s"autocompact must hold the bound, got ${gens.length} generations")
    // the fold is pure maintenance: reconciled state identical
    assert(lwwState(bounded) == expected)
    // and the maintenance lease never leaks out of a commit
    assert(!graft.sources.sstable.LocalStorage.exists(
      s"$bounded/${graft.sources.sstable.MaintenanceLease.LeaseFile}"))
  }

}
