package graft.sources.sstable.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps
import graft.sources.sstable.{History, LocalStorage, SSTableFiles, SSTableMetadataCache, SSTableReader}

/** Surface pin of every writer that publishes into a table directory:
  * INSERT, INSERT OVERWRITE, bucketed INSERT, streaming epochs and their
  * replay, UPDATE and MERGE (plain and bucketed), key and unconditional
  * DELETE, TRUNCATE, an autocompact fold, `writeBucketed` and scrub
  * repair. Each case renders, and must equal the literal below:
  *
  *  - every `_history` event the case appended (op, added, removed,
  *    detail);
  *  - every fileset the case left published, with an md5 prefix of each
  *    component file's bytes.
  *
  * Generation stems carry random tags and Spark task ids; they render as
  * `<tag>` and `<task>`. Row tombstones carry the wall-clock
  * localDeletionTime, so a fileset holding one pins its Data.db as the
  * uncompressed stream with those four bytes zeroed (`D*`) and its
  * CompressionInfo.db as algorithm/chunk length/data length/chunk count
  * (`C*`); every other file is pinned byte for byte. After each case no
  * `_staging-`, `_wstage-`, `_scrub-` or `_commit-` entry may remain. On
  * a mismatch the failure message prints the actual literal. */
class WritePathSurfaceSpec extends AnyFunSuite {
  import WritePathSurfaceSpec._

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-wp-wh").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_wp", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_wp.warehouse", warehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_wp.w")
    s
  }

  /** The session settings that shape how many filesets a SQL write
    * emits, fixed for the run and restored afterwards (the session is
    * shared with the other suites). */
  private def pinnedConf[T](body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def values(rows: Seq[(String, String, Long)]): String =
    rows.map { case (k, v, ts) =>
      s"(CAST('$k' AS BINARY), array(named_struct(" +
        s"'name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
        s"'value', CAST('$v' AS BINARY), 'timestamp', CAST($ts AS BIGINT), " +
        s"'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT))), " +
        "CAST(NULL AS STRUCT<localDeletionTime: INT, markedForDeleteAt: BIGINT>))"
    }.mkString(", ")

  /** One NORMAL cell whose value is the SQL expression `v`. */
  private def cellsOf(v: String): String =
    "array(named_struct('name', CAST('c' AS BINARY), 'state', 'NORMAL', " +
      s"'value', CAST($v AS BINARY), 'timestamp', CAST(0 AS BIGINT), " +
      "'ttlSecs', CAST(0 AS BIGINT), 'expiresMillis', CAST(0 AS BIGINT)))"

  private def rowsOf(prefix: String, n: Int, ts: Long): Seq[(String, String, Long)] =
    (0 until n).map(i => (f"$prefix$i%02d", s"v$prefix$i", ts + i))

  private def internalRow(k: String, v: String, ts: Long): InternalRow =
    InternalRow(k.getBytes, new GenericArrayData(Array[Any](InternalRow(
      "c".getBytes, UTF8String.fromString("NORMAL"), v.getBytes, ts, 0L, 0L))),
      null)

  private val startSecs = (System.currentTimeMillis() / 1000).toInt - 1

  /** Run `body` against `dir` and render what it published. */
  private def pin(dir: String)(body: => Unit): Seq[String] = {
    SSTableMetadataCache.clear()
    val liveBefore = listed(dir).toSet
    val eventsBefore = History.events(LocalStorage, dir).length
    pinnedConf(body)
    SSTableMetadataCache.clear()
    val window = (startSecs, (System.currentTimeMillis() / 1000).toInt + 1)
    val events = History.events(LocalStorage, dir).drop(eventsBefore).map { e =>
      def names(s: Seq[String]) = s.map(norm).sorted.mkString(",")
      s"${e.op} +[${names(e.added)}] -[${names(e.removed)}] ${e.detail}".trim
    }
    val filesets = listed(dir).filterNot(liveBefore).map(d => digest(d, window)).sorted
    val litter = leftovers(dir)
    assert(litter.isEmpty, s"staging or commit entries left behind: $litter")
    events ++ filesets
  }

  private def listed(dir: String): Seq[String] =
    if (new java.io.File(dir).isDirectory) LocalStorage.listDataFiles(dir) else Nil

  private def leftovers(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: walk(c))
    val parent = new java.io.File(dir).getParentFile
    (walk(new java.io.File(dir)) ++ Option(parent.listFiles()).toSeq.flatten)
      .map(_.getName).filter(n => LitterPrefixes.exists(n.startsWith)).distinct
  }

  private def check(name: String, got: Seq[String], want: String): Unit = {
    val expected = want.stripMargin.trim.linesIterator.map(_.trim).toSeq
    assert(got == expected,
      s"$name surface changed; actual:\n${got.mkString("\n")}")
  }

  test("catalog INSERT, INSERT OVERWRITE and bucketed INSERT") {
    val ins = pin(s"$warehouse/w/ins") {
      spark.sql("CREATE TABLE graft_wp.w.ins")
      spark.sql(s"INSERT INTO graft_wp.w.ins VALUES ${values(rowsOf("a", 12, 100L))}")
    }
    check("INSERT", ins, Insert)
    val ow = pin(s"$warehouse/w/ins") {
      spark.sql(s"INSERT OVERWRITE graft_wp.w.ins VALUES ${values(rowsOf("b", 5, 200L))}")
    }
    check("INSERT OVERWRITE", ow, InsertOverwrite)
    val bk = pin(s"$warehouse/w/bins") {
      spark.sql("CREATE TABLE graft_wp.w.bins TBLPROPERTIES ('buckets'='4')")
      spark.sql(s"INSERT INTO graft_wp.w.bins VALUES ${values(rowsOf("c", 12, 300L))}")
    }
    check("bucketed INSERT", bk, BucketedInsert)
  }

  test("path-API append with a fixed jobtag") {
    val dir = s"$warehouse/path-append"
    val got = pin(dir) {
      spark.table("graft_wp.w.ins").write.format("sstable")
        .option(SSTableSource.JobTagOption, "pinned").mode("append").save(dir)
    }
    check("path append", got, PathAppend)
  }

  test("streaming epochs and their replay, plain and bucketed") {
    def epochs(dir: String, buckets: Option[Int]): Seq[String] = pin(dir) {
      val w = new SSTableStreamingWrite(dir, SSTableSchema.schema, Map.empty, buckets)
      val f = w.createStreamingWriterFactory(null)
      def run(epoch: Long, taskId: Long, keys: Seq[String]): Unit = {
        val sorted = buckets match {
          case Some(n) => keys.sortBy(k => (GraftBucketFunction.bucketOf(n, k.getBytes), k))
          case None => keys.sorted
        }
        val dw = f.createWriter(0, taskId, epoch)
        sorted.foreach(k => dw.write(internalRow(k, s"e$epoch", 10L + epoch)))
        w.commit(epoch, Array(dw.commit()))
      }
      run(0L, 11L, Seq("s1", "s2", "s3", "s4"))
      run(1L, 12L, Seq("s5", "s6"))
      run(1L, 13L, Seq("s5", "s6", "s7")) // replay of epoch 1: same names
    }
    check("streaming", epochs(s"$warehouse/stream", None), Streaming)
    check("bucketed streaming", epochs(s"$warehouse/bstream", Some(2)), BucketedStreaming)
  }

  test("UPDATE and MERGE, plain and bucketed") {
    def dml(table: String, props: String): Seq[String] = {
      spark.sql(s"CREATE TABLE graft_wp.w.$table $props")
      spark.sql(s"INSERT INTO graft_wp.w.$table VALUES ${values(rowsOf("d", 10, 400L))}")
      pin(s"$warehouse/w/$table") {
        spark.sql(s"UPDATE graft_wp.w.$table SET columns = ${cellsOf("'up'")} " +
          "WHERE key IN (CAST('d01' AS BINARY), CAST('d05' AS BINARY))")
        spark.sql(s"CREATE OR REPLACE TEMP VIEW wp_src AS SELECT CAST(k AS BINARY) key, " +
          s"${cellsOf("v")} columns " +
          "FROM VALUES ('d02', 'merged'), ('d03', 'gone'), ('e01', 'fresh') AS s(k, v)")
        spark.sql(s"MERGE INTO graft_wp.w.$table t USING wp_src s ON t.key = s.key " +
          "WHEN MATCHED AND CAST(s.columns[0].value AS STRING) = 'gone' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET columns = s.columns " +
          "WHEN NOT MATCHED THEN INSERT (key, columns, rowTombstone) " +
          "VALUES (s.key, s.columns, NULL)")
      }
    }
    check("UPDATE+MERGE", dml("dml", ""), UpdateMerge)
    check("bucketed UPDATE+MERGE", dml("bdml", "TBLPROPERTIES ('buckets'='4')"),
      BucketedUpdateMerge)
  }

  test("key DELETE, unconditional DELETE and TRUNCATE") {
    def seeded(table: String, props: String): String = {
      spark.sql(s"CREATE TABLE graft_wp.w.$table $props")
      spark.sql(s"INSERT INTO graft_wp.w.$table VALUES ${values(rowsOf("f", 8, 500L))}")
      s"$warehouse/w/$table"
    }
    val del = seeded("del", "")
    check("key DELETE", pin(del) {
      spark.sql("DELETE FROM graft_wp.w.del WHERE key IN " +
        "(CAST('f01' AS BINARY), CAST('f04' AS BINARY))")
    }, KeyDelete)
    check("unconditional DELETE", pin(del) {
      spark.sql("DELETE FROM graft_wp.w.del")
    }, UnconditionalDelete)
    val bdel = seeded("bdel", "TBLPROPERTIES ('buckets'='4')")
    check("bucketed key DELETE", pin(bdel) {
      spark.sql("DELETE FROM graft_wp.w.bdel WHERE key IN " +
        "(CAST('f01' AS BINARY), CAST('f04' AS BINARY), CAST('f06' AS BINARY))")
    }, BucketedKeyDelete)
    val tr = seeded("tr", "")
    check("TRUNCATE", pin(tr) { spark.sql("TRUNCATE TABLE graft_wp.w.tr") }, Truncate)
  }

  test("autocompact fold, plain and bucketed") {
    // distinct sizes per INSERT: the plain fold picks the smallest
    // generations, so ties would make the pick depend on random names
    check("autocompact", pin(s"$warehouse/w/ac") {
      spark.sql("CREATE TABLE graft_wp.w.ac TBLPROPERTIES ('autocompact'='2')")
      (1 to 3).foreach(e => spark.sql(s"INSERT INTO graft_wp.w.ac VALUES " +
        values(rowsOf(s"g$e", e * 3, 600L + e))))
    }, AutoCompact)
    check("bucketed autocompact", pin(s"$warehouse/w/bac") {
      spark.sql("CREATE TABLE graft_wp.w.bac " +
        "TBLPROPERTIES ('buckets'='2', 'autocompact'='2', 'compress'='false')")
      (1 to 3).foreach(e => spark.sql(s"INSERT INTO graft_wp.w.bac VALUES " +
        values(rowsOf(s"h$e", 4, 700L + e))))
    }, BucketedAutoCompact)
  }

  test("writeBucketed and scrub repair") {
    val dir = s"$warehouse/wb"
    check("writeBucketed", pin(dir) {
      SSTableOps.writeBucketed(spark.table("graft_wp.w.ins"), dir, buckets = 4)
    }, WriteBucketed)
    val sdir = s"$warehouse/scrub"
    spark.table("graft_wp.w.ins").write.format("sstable")
      .option(SSTableSource.JobTagOption, "victim").option("compress", "false")
      .option(SSTableSource.WritePartitionsOption, "1").mode("append").save(sdir)
    val victim = LocalStorage.listDataFiles(sdir).head
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try raf.setLength(raf.length() - 10) finally raf.close()
    check("scrub repair", pin(sdir) {
      SSTableOps.scrub(spark, sdir, repair = true).collect()
    }, ScrubRepair)
  }

  /** One line per fileset: its normalized stem, then each component
    * file's suffix letter and md5 prefix. */
  private def digest(data: String, window: (Int, Int)): String = {
    val r = new SSTableReader(data, LocalStorage, useCache = false)
    val ldts: Set[Int] = {
      val it = r.rows()
      try it.flatMap(_.tombstone.map(_.localDeletionTimeSecs))
        .filter(s => s >= window._1 && s <= window._2).toSet
      finally it.close()
    }
    val parts = SSTableFiles.AllSuffixes.flatMap { suf =>
      val f = SSTableFiles.sibling(data, suf)
      if (!new java.io.File(f).exists()) None
      else {
        val letter = SuffixLetter(suf)
        if (ldts.isEmpty) Some(s"$letter=${md5(Files.readAllBytes(new java.io.File(f).toPath))}")
        else suf match {
          case SSTableFiles.DataSuffix =>
            val in = r.openData()
            val bytes = try {
              val b = new Array[Byte](r.dataLength.toInt); in.readFully(b); b
            } finally in.close()
            Some(s"$letter*=${md5(zeroed(bytes, ldts))}")
          case SSTableFiles.CompressionSuffix =>
            val ci = r.compressionInfo.get
            Some(s"$letter*=${ci.algorithm}/${ci.chunkLength}/${ci.dataLength}/${ci.chunkCount}")
          case _ => Some(s"$letter=${md5(Files.readAllBytes(new java.io.File(f).toPath))}")
        }
      }
    }
    s"${norm(SSTableFiles.generationStem(data))} ${parts.mkString(" ")}"
  }
}

object WritePathSurfaceSpec {
  val LitterPrefixes: Seq[String] = Seq("_staging-", "_wstage-", "_scrub-", "_commit-")

  private val SuffixLetter: Map[String, String] = Map(
    SSTableFiles.DataSuffix -> "D", SSTableFiles.IndexSuffix -> "I",
    SSTableFiles.SummarySuffix -> "S", SSTableFiles.CompressionSuffix -> "C",
    SSTableFiles.FilterSuffix -> "F", SSTableFiles.StatisticsSuffix -> "T")

  /** Random 8-hex tags and Spark task ids out of a generation stem. */
  def norm(stem: String): String = stem
    .replaceAll("(?<=^|-)[0-9a-f]{8}(?=-|$)", "<tag>")
    .replaceAll("^part-(\\d{5})-\\d+-", "part-$1-<task>-")
    .replaceAll("<tag>-\\d+$", "<tag>-<task>")

  def md5(b: Array[Byte]): String = java.security.MessageDigest
    .getInstance("MD5").digest(b).take(4).map("%02x".format(_)).mkString

  /** `bytes` with every big-endian occurrence of the given ints zeroed. */
  def zeroed(bytes: Array[Byte], ints: Set[Int]): Array[Byte] = {
    val out = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i + 4 <= bytes.length) {
      if (ints.contains(bb.getInt(i))) java.util.Arrays.fill(out, i, i + 4, 0.toByte)
      i += 1
    }
    out
  }

  val Insert = """
    |insert +[part-00000-<task>-<tag>] -[]
    |part-00000-<task>-<tag> D=3822ada7 I=649e5d0a S=7b826142 C=6bafad62 F=9d91f83c T=997e813a"""
  val InsertOverwrite = """
    |overwrite +[part-00000-<task>-<tag>] -[part-00000-<task>-<tag>]
    |part-00000-<task>-<tag> D=ecc3b4b0 I=2efd0277 S=f87ae2da C=ee8886ff F=1be05fbe T=e57e31d7"""
  val BucketedInsert = """
    |insert +[bucket-00000-<tag>-<task>,bucket-00001-<tag>-<task>,bucket-00002-<tag>-<task>,bucket-00003-<tag>-<task>] -[]
    |bucket-00000-<tag>-<task> D=d3acec46 I=b61b096e S=cb142913 C=9a12a504 F=d267a5d7 T=cfda4565
    |bucket-00001-<tag>-<task> D=aa752258 I=208097bb S=95a890e0 C=af18ede5 F=5885f82e T=4d4d68fe
    |bucket-00002-<tag>-<task> D=f5bb9d83 I=320b6ff8 S=913eea3d C=7426799e F=7cd8aceb T=f4141b73
    |bucket-00003-<tag>-<task> D=2342416d I=556e8a53 S=9c44a28c C=c5456841 F=619fdc24 T=1c956b08"""
  val PathAppend = """
    |insert +[part-00000-<task>-pinned] -[]
    |part-00000-<task>-pinned D=ecc3b4b0 I=2efd0277 S=f87ae2da C=ee8886ff F=1be05fbe T=e57e31d7"""
  val Streaming = """
    |stream-epoch +[part-00000-epoch-0] -[] epoch=0
    |stream-epoch +[part-00000-epoch-1] -[] epoch=1
    |stream-epoch +[part-00000-epoch-1] -[] epoch=1
    |part-00000-epoch-0 D=3b91f6b1 I=80a086d4 S=30fa1782 C=e992c3fa F=3dfa82fc T=9f504c29
    |part-00000-epoch-1 D=b0bf88b9 I=8d053636 S=3b9120a0 C=114a47d2 F=2e8d2e71 T=d2d5deb9"""
  val BucketedStreaming = """
    |stream-epoch +[bucket-00000-epoch-0,bucket-00001-epoch-0] -[] epoch=0
    |stream-epoch +[bucket-00000-epoch-1] -[] epoch=1
    |stream-epoch +[bucket-00000-epoch-1] -[] epoch=1
    |bucket-00000-epoch-0 D=3e19260c I=bc0d2cbd S=30fa1782 C=114a47d2 F=dd1a5318 T=1560e631
    |bucket-00000-epoch-1 D=b0bf88b9 I=8d053636 S=3b9120a0 C=114a47d2 F=2e8d2e71 T=d2d5deb9
    |bucket-00001-epoch-0 D=a3b6d161 I=6a3574da S=cd884f00 C=cc7d4139 F=ab5ab6e8 T=d82c8166"""
  val UpdateMerge = """
    |update +[part-00000-<task>-rowdelta-<tag>,tombstones-rowdelta-<tag>-tomb] -[] deletedKeys=2
    |merge +[part-00000-<task>-rowdelta-<tag>,tombstones-rowdelta-<tag>-tomb] -[] deletedKeys=2
    |part-00000-<task>-rowdelta-<tag> D=58a70aaf I=e5df7420 S=292cc834 C=39508688 F=25a69c5f T=ecf9e448
    |part-00000-<task>-rowdelta-<tag> D=ef471e31 I=eccaa611 S=bdb22b6c C=088ffc7e F=5257cf8a T=3aa9c15d
    |tombstones-rowdelta-<tag>-tomb D*=3affc99c I=f5cfdb69 S=bdb22b6c C*=SnappyCompressor/65536/58/1 F=5257cf8a T=40af4ac7
    |tombstones-rowdelta-<tag>-tomb D*=6fdd9396 I=d47197f2 S=292cc834 C*=SnappyCompressor/65536/58/1 F=5aaa3de1 T=38b2398c"""
  val BucketedUpdateMerge = """
    |update +[bucket-00000-rowdelta-<tag>-<task>,bucket-00000-rowdelta-<tag>-tomb,bucket-00001-rowdelta-<tag>-<task>,bucket-00001-rowdelta-<tag>-tomb] -[] deletedKeys=2
    |merge +[bucket-00000-rowdelta-<tag>-tomb,bucket-00001-rowdelta-<tag>-<task>,bucket-00003-rowdelta-<tag>-<task>,bucket-00003-rowdelta-<tag>-tomb] -[] deletedKeys=2
    |bucket-00000-rowdelta-<tag>-<task> D=f949da51 I=e8823873 S=bdb22b6c C=35a10d41 F=1cad96c4 T=9e462350
    |bucket-00000-rowdelta-<tag>-tomb D*=97161cd1 I=e8823873 S=bdb22b6c C*=SnappyCompressor/65536/29/1 F=1cad96c4 T=12584f07
    |bucket-00000-rowdelta-<tag>-tomb D*=f3fd88eb I=2b7766fe S=d09efdc3 C*=SnappyCompressor/65536/29/1 F=7a22f803 T=9ce4d34e
    |bucket-00001-rowdelta-<tag>-<task> D=91f8eac6 I=b4db5200 S=ae20cfbc C=bd66e1ea F=b9928adb T=40619998
    |bucket-00001-rowdelta-<tag>-<task> D=c9a2c986 I=c6d5030a S=84c83244 C=35a10d41 F=770b18b5 T=5afa149a
    |bucket-00001-rowdelta-<tag>-tomb D*=19ef5845 I=c6d5030a S=84c83244 C*=SnappyCompressor/65536/29/1 F=770b18b5 T=7604cda0
    |bucket-00003-rowdelta-<tag>-<task> D=fe4e91ff I=11a70cbe S=292cc834 C=cdfdb1d6 F=9bfba680 T=7127a9b2
    |bucket-00003-rowdelta-<tag>-tomb D*=1a1ea2e7 I=11a70cbe S=292cc834 C*=SnappyCompressor/65536/29/1 F=9bfba680 T=3f06c8ca"""
  val KeyDelete = """
    |delete +[tombstones-delete-<tag>] -[] keys=2
    |tombstones-delete-<tag> D*=64b4e1d8 I=844955ec S=7c9d5d87 C*=SnappyCompressor/65536/58/1 F=36e219de T=e7dd6dcf"""
  val UnconditionalDelete = """
    |delete +[] -[part-00000-<task>-<tag>,tombstones-delete-<tag>] unconditional"""
  val BucketedKeyDelete = """
    |delete +[bucket-00000-delete-<tag>,bucket-00003-delete-<tag>] -[] keys=3
    |bucket-00000-delete-<tag> D*=83ab450c I=b6f3573d S=bc4ad841 C*=SnappyCompressor/65536/58/1 F=a33a27e2 T=fdc4a06f
    |bucket-00003-delete-<tag> D*=bfda2ab7 I=20761392 S=7c9d5d87 C*=SnappyCompressor/65536/29/1 F=4061683f T=6f161e2e"""
  val Truncate = """
    |truncate +[] -[part-00000-<task>-<tag>]"""
  val AutoCompact = """
    |insert +[part-00000-<task>-<tag>] -[]
    |insert +[part-00000-<task>-<tag>] -[]
    |insert +[part-00000-<task>-<tag>] -[]
    |autocompact +[fold-<tag>] -[part-00000-<task>-<tag>,part-00000-<task>-<tag>] folds=1
    |fold-<tag> D=a6008490 I=9b15798c S=40ac106d C=3a990675 F=2baa47a2 T=20552e1b
    |part-00000-<task>-<tag> D=e99ebad5 I=f90dcad5 S=56d98b34 C=3a990675 F=a84f475c T=b4cb9469"""
  val BucketedAutoCompact = """
    |insert +[bucket-00001-<tag>-<task>] -[]
    |insert +[bucket-00000-<tag>-<task>,bucket-00001-<tag>-<task>] -[]
    |insert +[bucket-00000-<tag>-<task>,bucket-00001-<tag>-<task>] -[]
    |autocompact +[bucket-00001-fold-<tag>] -[bucket-00001-<tag>-<task>,bucket-00001-<tag>-<task>,bucket-00001-<tag>-<task>] folds=1
    |bucket-00000-<tag>-<task> D=01cff68a I=4ce63ddc S=1a8503d7 F=31023cc9 T=bef0ee7b
    |bucket-00000-<tag>-<task> D=3a2b90c5 I=81f91371 S=971ce26e F=f8ecb150 T=a4782a5a
    |bucket-00001-fold-<tag> D=27abe1aa I=c68ec409 S=2e7e18ae F=ed64cf4f T=c6c685ab"""
  val WriteBucketed = """
    |insert +[bucket-00000-<tag>,bucket-00001-<tag>,bucket-00003-<tag>] -[] bucketed=4
    |bucket-00000-<tag> D=f4f1bf7b I=79f0b79f S=f87ae2da C=9a12a504 F=089a0b08 T=f9505fb8
    |bucket-00001-<tag> D=851ac247 I=f70cb90d S=ca770daa C=2fcf970a F=53c76142 T=d759120a
    |bucket-00003-<tag> D=52b2d583 I=88728895 S=e2b13fc6 C=2fcf970a F=eb2ac432 T=eab92212"""
  val ScrubRepair = """
    |scrub_repair +[part-00000-<task>-victim-scrub-<tag>] -[part-00000-<task>-victim]
    |part-00000-<task>-victim-scrub-<tag> D=4ae127dc I=2f61e374 S=f87ae2da F=bb2a4091 T=68e178e5"""
}

