package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamingAnnIngest, StreamingDfUpdate, StreamingIncrementalDedup}

/** Byte-level layout pin of every derived store. On a tiny fixture the
  * maintainers run a fixed sequence (ingest, retract, re-admit,
  * consolidate, cover, streaming epochs, ledger and registry writes),
  * and each store's RAW, unreconciled contents — every cell as (key,
  * name, state, value, timestamp, ttl, expiry) plus every row
  * tombstone, one line per row version in every generation — must
  * equal the literal below. Any change to keys, cell names, values,
  * timestamps, states or tombstones a maintainer writes fails here.
  *
  * Paths are written into some cells (`source`, registry `dir`); they
  * render as `$SRC` / `$WH`. Values longer than 48 bytes (signatures)
  * render as an md5 (taken after the path substitution); other
  * non-printable values as hex. On a
  * mismatch the failure message prints the actual literal. */
class DerivedStoreLayoutSpec extends AnyFunSuite {
  import DerivedStoreLayoutSpec._

  private lazy val warehouse: String =
    Files.createTempDirectory("graft-layout-wh").toString
  private lazy val src: String =
    Files.createTempDirectory("graft-layout-src").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.catalog.graft_lp",
      classOf[graft.sources.sstable.spark.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_lp.warehouse", warehouse)
    s.sql("CREATE NAMESPACE graft_lp.lp")
    val sp = s
    import sp.implicits._
    Docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$src/documents.parquet")
    Vecs.map { case (id, v) => (id, v.map(_.toFloat), (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$src/embeddings.parquet")
    s
  }

  private def call(proc: String, args: String): Unit =
    spark.sql(s"CALL graft_lp.system.$proc($args)").collect()

  private def render(b: Array[Byte]): String = {
    def md5(x: Array[Byte]) = "md5:" + java.security.MessageDigest
      .getInstance("MD5").digest(x).map("%02x".format(_)).mkString
    if (b == null) "null"
    else if (b.forall(c => c >= 0x20 && c < 0x7f)) {
      val t = new String(b, "UTF-8").replace(src, "$SRC")
        .replace(warehouse, "$WH")
      if (t.length > 48) md5(t.getBytes("UTF-8")) else t
    } else if (b.length > 48) md5(b)
    else "0x" + b.map("%02x".format(_)).mkString
  }

  /** The store's raw contents, one sorted line per cell / row tombstone. */
  private def rawLayout(dir: String): Seq[String] =
    spark.read.format("sstable").load(dir).collect().toSeq.flatMap { r =>
      val key = render(r.getAs[Array[Byte]]("key"))
      val cells = r.getSeq[org.apache.spark.sql.Row](1).map { c =>
        Seq(key, render(c.getAs[Array[Byte]](0)), c.getString(1),
          render(c.getAs[Array[Byte]](2)), c.getLong(3), c.getLong(4),
          c.getLong(5)).mkString("|")
      }
      val tomb = Option(r.getStruct(2)).map(t =>
        s"$key|<row-tombstone>|${t.getInt(0)}|${t.getLong(1)}")
      cells ++ tomb
    }.sorted

  private def pin(store: String, dir: String): Unit = {
    val got = rawLayout(dir)
    val want = Expected.getOrElse(store, Nil)
    if (got != want) fail(
      s"raw layout of the $store store changed.\n" +
        s"missing: ${want.diff(got).mkString("\n  ", "\n  ", "")}\n" +
        s"extra: ${got.diff(want).mkString("\n  ", "\n  ", "")}\n" +
        s"actual literal:\n\"$store\" -> Seq(\n" +
        got.map(l => "  \"" + l.replace("\\", "\\\\")
          .replace("\"", "\\\"") + "\"").mkString(",\n") + ")")
  }

  private def docsDf(ids: Long*): DataFrame = {
    val sp = spark
    import sp.implicits._
    Docs.filter(d => ids.contains(d._1)).toDF("doc_id", "text")
  }

  test("signature store: two ingests, a retraction and a re-admitting " +
    "ingest write the pinned cells and tombstones") {
    val t = "table => 'lp.sig', source_dir => '" + src + "'"
    call("update_signatures", s"$t, where => 'doc_id < 6'")
    call("update_signatures", t)
    call("retract_signatures", "table => 'lp.sig', where => 'doc_id % 4 = 1'")
    call("update_signatures", t)
    pin("signatures", s"$warehouse/lp/sig")
  }

  test("df store: two ingests, a retraction and a consolidation write " +
    "the pinned cells") {
    val t = "table => 'lp.df', source_dir => '" + src + "'"
    call("update_doc_freqs", s"$t, where => 'doc_id < 6'")
    call("update_doc_freqs", t)
    call("retract_doc_freqs", s"$t, where => 'doc_id = 2'")
    call("consolidate_doc_freqs", "table => 'lp.df'")
    pin("doc_freqs", s"$warehouse/lp/df")
  }

  test("ANN index: build, update, cover, retract and one streaming " +
    "epoch write the pinned cells and tombstones") {
    val t = "table => 'lp.ann', source_dir => '" + src + "'"
    call("build_ann_index", s"$t, kind => 'ivfpq', k => 2, iters => 1, " +
      "m => 2, pq_k => 2, pq_iters => 1, where => 'vec_id < 10'")
    call("update_ann_index", t)
    call("cover_ann_index", t)
    call("retract_ann_vectors", "table => 'lp.ann', where => 'vec_id % 5 = 0'")
    val sp = spark
    import sp.implicits._
    val batch = Seq(5L -> Seq(1.0, 0.5, 2.0, 0.5), 20L -> Seq(0.5, 0.5, 0.5, 3.0),
      21L -> Seq(2.0, 1.0, 0.5, 1.0)).toDF("vec_id", "v")
    StreamingAnnIngest.processBatch(batch, s"$warehouse/lp/ann", 0L)
    pin("ann", s"$warehouse/lp/ann")
  }

  test("streaming df store: one epoch") {
    val dfDir = Files.createTempDirectory("graft-layout-sdf").toString
    StreamingDfUpdate.processBatch(docsDf(0, 1, 2, 3), dfDir, 0L)
    pin("stream_doc_freqs", dfDir)
  }

  test("streaming dedup history: one epoch") {
    val dedupDir = Files.createTempDirectory("graft-layout-sdd").toString
    StreamingIncrementalDedup.processBatch(docsDf(0, 1, 2, 3, 8), dedupDir, 0L,
      (_, _) => ())
    pin("stream_dedup", dedupDir)
  }

  test("takedown ledger: one record and one readmission") {
    val ledger = TakedownLedger.dirUnder(warehouse)
    TakedownLedger.record(spark, ledger, src, "doc_id < 2")
    TakedownLedger.readmit(spark, ledger, "doc_id = 0")
    pin("ledger", ledger)
  }

  test("derived-store registry: every CALL above plus one stream " +
    "registration") {
    val reg = DerivedRegistry.dirUnder(warehouse)
    DerivedRegistry.register(spark, reg, DerivedRegistry.AnyCorpus,
      DerivedRegistry.DocFreqs, "stream-df", s"$warehouse/stream-df",
      mode = "stream")
    pin("registry", reg)
  }
}

object DerivedStoreLayoutSpec {

  val Docs: Seq[(Long, String)] = Seq(
    0L -> "the quick brown fox jumps over the lazy dog",
    1L -> "a quick brown cat sleeps under the warm sun",
    2L -> "the lazy dog sleeps all day long in the sun",
    3L -> "brown fox brown fox and a quick dog",
    4L -> "tiny",
    5L -> "the quick brown fox jumps over the lazy dog",
    6L -> "warm sun and lazy cat make a quiet day",
    7L -> "over the hills the fox runs quick and brown",
    8L -> "a quick brown cat sleeps under the warm sun",
    9L -> "day long the dog waits for the quick fox")

  val Vecs: Seq[(Long, Seq[Double])] = (0L until 16L).map { i =>
    i -> Seq(1.0 + (i % 4), 0.5 + (i % 3) * 0.5, 1.0 + (i % 5), 1.0 + (i / 4))
  }

  val Expected: Map[String, Seq[String]] = Map(
  "signatures" -> Seq(
    "000000000000|sig|NORMAL|md5:a3afffd3b5c258778639f2ac6b4d7ad5|2|0|0",
    "000000000001|<row-tombstone>|4|4",
    "000000000001|sig|NORMAL|md5:51e2357f9abc067c00fd3e379321c4ab|2|0|0",
    "000000000001|sig|NORMAL|md5:51e2357f9abc067c00fd3e379321c4ab|5|0|0",
    "000000000002|sig|NORMAL|md5:43fe402d5fc1d3bb7334c83b84f67b04|2|0|0",
    "000000000003|sig|NORMAL|md5:d042faf340e46343b4c4bb51e80a81d7|2|0|0",
    "000000000004|sig|NORMAL||2|0|0",
    "000000000005|<row-tombstone>|4|4",
    "000000000005|sig|NORMAL|md5:a3afffd3b5c258778639f2ac6b4d7ad5|2|0|0",
    "000000000005|sig|NORMAL|md5:a3afffd3b5c258778639f2ac6b4d7ad5|5|0|0",
    "000000000006|sig|NORMAL|md5:9295b87d52bdfccd79bce58d2258f6db|3|0|0",
    "000000000007|sig|NORMAL|md5:83631bad5033ecadc95d09b5c8ce6396|3|0|0",
    "000000000008|sig|NORMAL|md5:51e2357f9abc067c00fd3e379321c4ab|3|0|0",
    "000000000009|<row-tombstone>|4|4",
    "000000000009|sig|NORMAL|md5:052e35282459f1db8cfd52d98e3b9078|3|0|0",
    "000000000009|sig|NORMAL|md5:052e35282459f1db8cfd52d98e3b9078|5|0|0",
    "_meta|bands|NORMAL|8|1|0|0",
    "_meta|emax|NORMAL|2|2|0|0",
    "_meta|emax|NORMAL|3|3|0|0",
    "_meta|emax|NORMAL|4|4|0|0",
    "_meta|emax|NORMAL|5|5|0|0",
    "_meta|hash_p|NORMAL|4294967311|1|0|0",
    "_meta|perms|NORMAL|64|1|0|0",
    "_meta|retracted|NORMAL|4|4|0|0",
    "_meta|shingle_n|NORMAL|3|1|0|0",
    "_meta|source|NORMAL|$SRC|1|0|0"),
  "doc_freqs" -> Seq(
    "_meta|retracted|NORMAL|000003|3|0|0",
    "_meta|source|NORMAL|$SRC|1|0|0",
    "_meta|unit|NORMAL|term|1|0|0",
    "_n|n:000001|DELETED|null|1099511627777|0|0",
    "_n|n:000001|NORMAL|6|1|0|0",
    "_n|n:000002|DELETED|null|1099511627777|0|0",
    "_n|n:000002|NORMAL|4|1|0|0",
    "_n|n:000003|DELETED|null|1099511627777|0|0",
    "_n|n:000003|NORMAL|-1|3|0|0",
    "_n|n:F000003|NORMAL|9|1099511627776|0|0",
    "d:000000000000|e|NORMAL|1|1|0|0",
    "d:000000000000|h|NORMAL|77add1d5f41223d5582fca736a5cb335|1|0|0",
    "d:000000000001|e|NORMAL|1|1|0|0",
    "d:000000000001|h|NORMAL|e20df494204817790f5baea6229f7985|1|0|0",
    "d:000000000002|e|DELETED|null|3|0|0",
    "d:000000000002|e|NORMAL|1|1|0|0",
    "d:000000000002|h|DELETED|null|3|0|0",
    "d:000000000002|h|NORMAL|091dec9a28f9264bf37c07e08e8e22fe|1|0|0",
    "d:000000000003|e|NORMAL|1|1|0|0",
    "d:000000000003|h|NORMAL|b7b17d6f59c7810345bf8523323ca5ee|1|0|0",
    "d:000000000004|e|NORMAL|1|1|0|0",
    "d:000000000004|h|NORMAL|d60cadf1a41c651e1f0ade50136bad43|1|0|0",
    "d:000000000005|e|NORMAL|1|1|0|0",
    "d:000000000005|h|NORMAL|77add1d5f41223d5582fca736a5cb335|1|0|0",
    "d:000000000006|e|NORMAL|2|2|0|0",
    "d:000000000006|h|NORMAL|566f45e43be57a402561de9cd50c53de|2|0|0",
    "d:000000000007|e|NORMAL|2|2|0|0",
    "d:000000000007|h|NORMAL|4d5ec5d6e2881c5f00aa2f8b1c2db2db|2|0|0",
    "d:000000000008|e|NORMAL|2|2|0|0",
    "d:000000000008|h|NORMAL|e20df494204817790f5baea6229f7985|2|0|0",
    "d:000000000009|e|NORMAL|2|2|0|0",
    "d:000000000009|h|NORMAL|a3ca747482b86191320f3e9d92691025|2|0|0",
    "t:all|cf:000001|DELETED|null|1099511627777|0|0",
    "t:all|cf:000001|NORMAL|1|1|0|0",
    "t:all|cf:000003|DELETED|null|1099511627777|0|0",
    "t:all|cf:000003|NORMAL|-1|3|0|0",
    "t:all|cf:F000003|NORMAL|0|1099511627776|0|0",
    "t:all|df:000001|DELETED|null|1099511627777|0|0",
    "t:all|df:000001|NORMAL|1|1|0|0",
    "t:all|df:000003|DELETED|null|1099511627777|0|0",
    "t:all|df:000003|NORMAL|-1|3|0|0",
    "t:all|df:F000003|NORMAL|0|1099511627776|0|0",
    "t:and|cf:000001|DELETED|null|1099511627777|0|0",
    "t:and|cf:000001|NORMAL|1|1|0|0",
    "t:and|cf:000002|DELETED|null|1099511627777|0|0",
    "t:and|cf:000002|NORMAL|2|1|0|0",
    "t:and|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:and|df:000001|DELETED|null|1099511627777|0|0",
    "t:and|df:000001|NORMAL|1|1|0|0",
    "t:and|df:000002|DELETED|null|1099511627777|0|0",
    "t:and|df:000002|NORMAL|2|1|0|0",
    "t:and|df:F000003|NORMAL|3|1099511627776|0|0",
    "t:a|cf:000001|DELETED|null|1099511627777|0|0",
    "t:a|cf:000001|NORMAL|2|1|0|0",
    "t:a|cf:000002|DELETED|null|1099511627777|0|0",
    "t:a|cf:000002|NORMAL|2|1|0|0",
    "t:a|cf:F000003|NORMAL|4|1099511627776|0|0",
    "t:a|df:000001|DELETED|null|1099511627777|0|0",
    "t:a|df:000001|NORMAL|2|1|0|0",
    "t:a|df:000002|DELETED|null|1099511627777|0|0",
    "t:a|df:000002|NORMAL|2|1|0|0",
    "t:a|df:F000003|NORMAL|4|1099511627776|0|0",
    "t:brown|cf:000001|DELETED|null|1099511627777|0|0",
    "t:brown|cf:000001|NORMAL|5|1|0|0",
    "t:brown|cf:000002|DELETED|null|1099511627777|0|0",
    "t:brown|cf:000002|NORMAL|2|1|0|0",
    "t:brown|cf:F000003|NORMAL|7|1099511627776|0|0",
    "t:brown|df:000001|DELETED|null|1099511627777|0|0",
    "t:brown|df:000001|NORMAL|4|1|0|0",
    "t:brown|df:000002|DELETED|null|1099511627777|0|0",
    "t:brown|df:000002|NORMAL|2|1|0|0",
    "t:brown|df:F000003|NORMAL|6|1099511627776|0|0",
    "t:cat|cf:000001|DELETED|null|1099511627777|0|0",
    "t:cat|cf:000001|NORMAL|1|1|0|0",
    "t:cat|cf:000002|DELETED|null|1099511627777|0|0",
    "t:cat|cf:000002|NORMAL|2|1|0|0",
    "t:cat|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:cat|df:000001|DELETED|null|1099511627777|0|0",
    "t:cat|df:000001|NORMAL|1|1|0|0",
    "t:cat|df:000002|DELETED|null|1099511627777|0|0",
    "t:cat|df:000002|NORMAL|2|1|0|0",
    "t:cat|df:F000003|NORMAL|3|1099511627776|0|0",
    "t:day|cf:000001|DELETED|null|1099511627777|0|0",
    "t:day|cf:000001|NORMAL|1|1|0|0",
    "t:day|cf:000002|DELETED|null|1099511627777|0|0",
    "t:day|cf:000002|NORMAL|2|1|0|0",
    "t:day|cf:000003|DELETED|null|1099511627777|0|0",
    "t:day|cf:000003|NORMAL|-1|3|0|0",
    "t:day|cf:F000003|NORMAL|2|1099511627776|0|0",
    "t:day|df:000001|DELETED|null|1099511627777|0|0",
    "t:day|df:000001|NORMAL|1|1|0|0",
    "t:day|df:000002|DELETED|null|1099511627777|0|0",
    "t:day|df:000002|NORMAL|2|1|0|0",
    "t:day|df:000003|DELETED|null|1099511627777|0|0",
    "t:day|df:000003|NORMAL|-1|3|0|0",
    "t:day|df:F000003|NORMAL|2|1099511627776|0|0",
    "t:dog|cf:000001|DELETED|null|1099511627777|0|0",
    "t:dog|cf:000001|NORMAL|4|1|0|0",
    "t:dog|cf:000002|DELETED|null|1099511627777|0|0",
    "t:dog|cf:000002|NORMAL|1|1|0|0",
    "t:dog|cf:000003|DELETED|null|1099511627777|0|0",
    "t:dog|cf:000003|NORMAL|-1|3|0|0",
    "t:dog|cf:F000003|NORMAL|4|1099511627776|0|0",
    "t:dog|df:000001|DELETED|null|1099511627777|0|0",
    "t:dog|df:000001|NORMAL|4|1|0|0",
    "t:dog|df:000002|DELETED|null|1099511627777|0|0",
    "t:dog|df:000002|NORMAL|1|1|0|0",
    "t:dog|df:000003|DELETED|null|1099511627777|0|0",
    "t:dog|df:000003|NORMAL|-1|3|0|0",
    "t:dog|df:F000003|NORMAL|4|1099511627776|0|0",
    "t:for|cf:000002|NORMAL|1|1|0|0",
    "t:for|df:000002|NORMAL|1|1|0|0",
    "t:fox|cf:000001|DELETED|null|1099511627777|0|0",
    "t:fox|cf:000001|NORMAL|4|1|0|0",
    "t:fox|cf:000002|DELETED|null|1099511627777|0|0",
    "t:fox|cf:000002|NORMAL|2|1|0|0",
    "t:fox|cf:F000003|NORMAL|6|1099511627776|0|0",
    "t:fox|df:000001|DELETED|null|1099511627777|0|0",
    "t:fox|df:000001|NORMAL|3|1|0|0",
    "t:fox|df:000002|DELETED|null|1099511627777|0|0",
    "t:fox|df:000002|NORMAL|2|1|0|0",
    "t:fox|df:F000003|NORMAL|5|1099511627776|0|0",
    "t:hills|cf:000002|NORMAL|1|1|0|0",
    "t:hills|df:000002|NORMAL|1|1|0|0",
    "t:in|cf:000001|DELETED|null|1099511627777|0|0",
    "t:in|cf:000001|NORMAL|1|1|0|0",
    "t:in|cf:000003|DELETED|null|1099511627777|0|0",
    "t:in|cf:000003|NORMAL|-1|3|0|0",
    "t:in|cf:F000003|NORMAL|0|1099511627776|0|0",
    "t:in|df:000001|DELETED|null|1099511627777|0|0",
    "t:in|df:000001|NORMAL|1|1|0|0",
    "t:in|df:000003|DELETED|null|1099511627777|0|0",
    "t:in|df:000003|NORMAL|-1|3|0|0",
    "t:in|df:F000003|NORMAL|0|1099511627776|0|0",
    "t:jumps|cf:000001|NORMAL|2|1|0|0",
    "t:jumps|df:000001|NORMAL|2|1|0|0",
    "t:lazy|cf:000001|DELETED|null|1099511627777|0|0",
    "t:lazy|cf:000001|NORMAL|3|1|0|0",
    "t:lazy|cf:000002|DELETED|null|1099511627777|0|0",
    "t:lazy|cf:000002|NORMAL|1|1|0|0",
    "t:lazy|cf:000003|DELETED|null|1099511627777|0|0",
    "t:lazy|cf:000003|NORMAL|-1|3|0|0",
    "t:lazy|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:lazy|df:000001|DELETED|null|1099511627777|0|0",
    "t:lazy|df:000001|NORMAL|3|1|0|0",
    "t:lazy|df:000002|DELETED|null|1099511627777|0|0",
    "t:lazy|df:000002|NORMAL|1|1|0|0",
    "t:lazy|df:000003|DELETED|null|1099511627777|0|0",
    "t:lazy|df:000003|NORMAL|-1|3|0|0",
    "t:lazy|df:F000003|NORMAL|3|1099511627776|0|0",
    "t:long|cf:000001|DELETED|null|1099511627777|0|0",
    "t:long|cf:000001|NORMAL|1|1|0|0",
    "t:long|cf:000002|DELETED|null|1099511627777|0|0",
    "t:long|cf:000002|NORMAL|1|1|0|0",
    "t:long|cf:000003|DELETED|null|1099511627777|0|0",
    "t:long|cf:000003|NORMAL|-1|3|0|0",
    "t:long|cf:F000003|NORMAL|1|1099511627776|0|0",
    "t:long|df:000001|DELETED|null|1099511627777|0|0",
    "t:long|df:000001|NORMAL|1|1|0|0",
    "t:long|df:000002|DELETED|null|1099511627777|0|0",
    "t:long|df:000002|NORMAL|1|1|0|0",
    "t:long|df:000003|DELETED|null|1099511627777|0|0",
    "t:long|df:000003|NORMAL|-1|3|0|0",
    "t:long|df:F000003|NORMAL|1|1099511627776|0|0",
    "t:make|cf:000002|NORMAL|1|1|0|0",
    "t:make|df:000002|NORMAL|1|1|0|0",
    "t:over|cf:000001|DELETED|null|1099511627777|0|0",
    "t:over|cf:000001|NORMAL|2|1|0|0",
    "t:over|cf:000002|DELETED|null|1099511627777|0|0",
    "t:over|cf:000002|NORMAL|1|1|0|0",
    "t:over|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:over|df:000001|DELETED|null|1099511627777|0|0",
    "t:over|df:000001|NORMAL|2|1|0|0",
    "t:over|df:000002|DELETED|null|1099511627777|0|0",
    "t:over|df:000002|NORMAL|1|1|0|0",
    "t:over|df:F000003|NORMAL|3|1099511627776|0|0",
    "t:quick|cf:000001|DELETED|null|1099511627777|0|0",
    "t:quick|cf:000001|NORMAL|4|1|0|0",
    "t:quick|cf:000002|DELETED|null|1099511627777|0|0",
    "t:quick|cf:000002|NORMAL|3|1|0|0",
    "t:quick|cf:F000003|NORMAL|7|1099511627776|0|0",
    "t:quick|df:000001|DELETED|null|1099511627777|0|0",
    "t:quick|df:000001|NORMAL|4|1|0|0",
    "t:quick|df:000002|DELETED|null|1099511627777|0|0",
    "t:quick|df:000002|NORMAL|3|1|0|0",
    "t:quick|df:F000003|NORMAL|7|1099511627776|0|0",
    "t:quiet|cf:000002|NORMAL|1|1|0|0",
    "t:quiet|df:000002|NORMAL|1|1|0|0",
    "t:runs|cf:000002|NORMAL|1|1|0|0",
    "t:runs|df:000002|NORMAL|1|1|0|0",
    "t:sleeps|cf:000001|DELETED|null|1099511627777|0|0",
    "t:sleeps|cf:000001|NORMAL|2|1|0|0",
    "t:sleeps|cf:000002|DELETED|null|1099511627777|0|0",
    "t:sleeps|cf:000002|NORMAL|1|1|0|0",
    "t:sleeps|cf:000003|DELETED|null|1099511627777|0|0",
    "t:sleeps|cf:000003|NORMAL|-1|3|0|0",
    "t:sleeps|cf:F000003|NORMAL|2|1099511627776|0|0",
    "t:sleeps|df:000001|DELETED|null|1099511627777|0|0",
    "t:sleeps|df:000001|NORMAL|2|1|0|0",
    "t:sleeps|df:000002|DELETED|null|1099511627777|0|0",
    "t:sleeps|df:000002|NORMAL|1|1|0|0",
    "t:sleeps|df:000003|DELETED|null|1099511627777|0|0",
    "t:sleeps|df:000003|NORMAL|-1|3|0|0",
    "t:sleeps|df:F000003|NORMAL|2|1099511627776|0|0",
    "t:sun|cf:000001|DELETED|null|1099511627777|0|0",
    "t:sun|cf:000001|NORMAL|2|1|0|0",
    "t:sun|cf:000002|DELETED|null|1099511627777|0|0",
    "t:sun|cf:000002|NORMAL|2|1|0|0",
    "t:sun|cf:000003|DELETED|null|1099511627777|0|0",
    "t:sun|cf:000003|NORMAL|-1|3|0|0",
    "t:sun|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:sun|df:000001|DELETED|null|1099511627777|0|0",
    "t:sun|df:000001|NORMAL|2|1|0|0",
    "t:sun|df:000002|DELETED|null|1099511627777|0|0",
    "t:sun|df:000002|NORMAL|2|1|0|0",
    "t:sun|df:000003|DELETED|null|1099511627777|0|0",
    "t:sun|df:000003|NORMAL|-1|3|0|0",
    "t:sun|df:F000003|NORMAL|3|1099511627776|0|0",
    "t:the|cf:000001|DELETED|null|1099511627777|0|0",
    "t:the|cf:000001|NORMAL|7|1|0|0",
    "t:the|cf:000002|DELETED|null|1099511627777|0|0",
    "t:the|cf:000002|NORMAL|5|1|0|0",
    "t:the|cf:000003|DELETED|null|1099511627777|0|0",
    "t:the|cf:000003|NORMAL|-2|3|0|0",
    "t:the|cf:F000003|NORMAL|10|1099511627776|0|0",
    "t:the|df:000001|DELETED|null|1099511627777|0|0",
    "t:the|df:000001|NORMAL|4|1|0|0",
    "t:the|df:000002|DELETED|null|1099511627777|0|0",
    "t:the|df:000002|NORMAL|3|1|0|0",
    "t:the|df:000003|DELETED|null|1099511627777|0|0",
    "t:the|df:000003|NORMAL|-1|3|0|0",
    "t:the|df:F000003|NORMAL|6|1099511627776|0|0",
    "t:tiny|cf:000001|NORMAL|1|1|0|0",
    "t:tiny|df:000001|NORMAL|1|1|0|0",
    "t:under|cf:000001|DELETED|null|1099511627777|0|0",
    "t:under|cf:000001|NORMAL|1|1|0|0",
    "t:under|cf:000002|DELETED|null|1099511627777|0|0",
    "t:under|cf:000002|NORMAL|1|1|0|0",
    "t:under|cf:F000003|NORMAL|2|1099511627776|0|0",
    "t:under|df:000001|DELETED|null|1099511627777|0|0",
    "t:under|df:000001|NORMAL|1|1|0|0",
    "t:under|df:000002|DELETED|null|1099511627777|0|0",
    "t:under|df:000002|NORMAL|1|1|0|0",
    "t:under|df:F000003|NORMAL|2|1099511627776|0|0",
    "t:waits|cf:000002|NORMAL|1|1|0|0",
    "t:waits|df:000002|NORMAL|1|1|0|0",
    "t:warm|cf:000001|DELETED|null|1099511627777|0|0",
    "t:warm|cf:000001|NORMAL|1|1|0|0",
    "t:warm|cf:000002|DELETED|null|1099511627777|0|0",
    "t:warm|cf:000002|NORMAL|2|1|0|0",
    "t:warm|cf:F000003|NORMAL|3|1099511627776|0|0",
    "t:warm|df:000001|DELETED|null|1099511627777|0|0",
    "t:warm|df:000001|NORMAL|1|1|0|0",
    "t:warm|df:000002|DELETED|null|1099511627777|0|0",
    "t:warm|df:000002|NORMAL|2|1|0|0",
    "t:warm|df:F000003|NORMAL|3|1099511627776|0|0"),
  "ann" -> Seq(
    "_health|h:000005|NORMAL|25212,7|5|0|0",
    "_meta|dim|NORMAL|4|1|0|0",
    "_meta|emax|NORMAL|1|1|0|0",
    "_meta|emax|NORMAL|2|2|0|0",
    "_meta|emax|NORMAL|3|3|0|0",
    "_meta|emax|NORMAL|4|4|0|0",
    "_meta|emax|NORMAL|5|5|0|0",
    "_meta|health_base|NORMAL|9586|5|0|0",
    "_meta|iters|NORMAL|1|1|0|0",
    "_meta|kind|NORMAL|ivfpq|1|0|0",
    "_meta|k|NORMAL|2|1|0|0",
    "_meta|m|NORMAL|2|1|0|0",
    "_meta|nvec|NORMAL|10|1|0|0",
    "_meta|pq_iters|NORMAL|1|1|0|0",
    "_meta|pq_k|NORMAL|2|1|0|0",
    "_meta|retracted|NORMAL|4|4|0|0",
    "_meta|source|NORMAL|$SRC|1|0|0",
    "_meta|store_vectors|NORMAL|false|1|0|0",
    "_meta|store_vectors|NORMAL|true|3|0|0",
    "_meta|where|NORMAL|vec_id < 10|1|0|0",
    "c:00000|cv|NORMAL|0x3ff00000000000003ff000000000000040080000000000004000000000000000|1|0|0",
    "c:00001|cv|NORMAL|0x40000000000000003ff000000000000040080000000000004000000000000000|1|0|0",
    "p:0:00000|cv|NORMAL|0x3ff00000000000003ff0000000000000|1|0|0",
    "p:0:00001|cv|NORMAL|0x40000000000000003ff0000000000000|1|0|0",
    "p:1:00000|cv|NORMAL|0x40080000000000004000000000000000|1|0|0",
    "p:1:00001|cv|NORMAL|0x40080000000000004000000000000000|1|0|0",
    "v:000000000000|<row-tombstone>|4|4",
    "v:000000000000|<row-tombstone>|4|4",
    "v:000000000000|cell|NORMAL|1|1|0|0",
    "v:000000000000|code0|NORMAL|1|1|0|0",
    "v:000000000000|code1|NORMAL|0|1|0|0",
    "v:000000000000|vec|NORMAL|0x3ff00000000000003fe00000000000003ff00000000000003ff0000000000000|1|0|0",
    "v:000000000001|cell|NORMAL|1|1|0|0",
    "v:000000000001|code0|NORMAL|1|1|0|0",
    "v:000000000001|code1|NORMAL|0|1|0|0",
    "v:000000000001|vec|NORMAL|0x40000000000000003ff000000000000040000000000000003ff0000000000000|1|0|0",
    "v:000000000002|cell|NORMAL|1|1|0|0",
    "v:000000000002|code0|NORMAL|1|1|0|0",
    "v:000000000002|code1|NORMAL|0|1|0|0",
    "v:000000000002|vec|NORMAL|0x40080000000000003ff800000000000040080000000000003ff0000000000000|1|0|0",
    "v:000000000003|cell|NORMAL|1|1|0|0",
    "v:000000000003|code0|NORMAL|1|1|0|0",
    "v:000000000003|code1|NORMAL|0|1|0|0",
    "v:000000000003|vec|NORMAL|0x40100000000000003fe000000000000040100000000000003ff0000000000000|1|0|0",
    "v:000000000004|cell|NORMAL|0|1|0|0",
    "v:000000000004|code0|NORMAL|0|1|0|0",
    "v:000000000004|code1|NORMAL|0|1|0|0",
    "v:000000000004|vec|NORMAL|0x3ff00000000000003ff000000000000040140000000000004000000000000000|1|0|0",
    "v:000000000005|<row-tombstone>|4|4",
    "v:000000000005|<row-tombstone>|4|4",
    "v:000000000005|cell|NORMAL|1|1|0|0",
    "v:000000000005|cell|NORMAL|1|5|0|0",
    "v:000000000005|code0|NORMAL|0|1|0|0",
    "v:000000000005|code0|NORMAL|1|5|0|0",
    "v:000000000005|code1|NORMAL|0|1|0|0",
    "v:000000000005|code1|NORMAL|0|5|0|0",
    "v:000000000005|vec|NORMAL|0x3ff00000000000003fe000000000000040000000000000003fe0000000000000|5|0|0",
    "v:000000000005|vec|NORMAL|0x40000000000000003ff80000000000003ff00000000000004000000000000000|1|0|0",
    "v:000000000006|cell|NORMAL|1|1|0|0",
    "v:000000000006|code0|NORMAL|1|1|0|0",
    "v:000000000006|code1|NORMAL|0|1|0|0",
    "v:000000000006|vec|NORMAL|0x40080000000000003fe000000000000040000000000000004000000000000000|1|0|0",
    "v:000000000007|cell|NORMAL|1|1|0|0",
    "v:000000000007|code0|NORMAL|1|1|0|0",
    "v:000000000007|code1|NORMAL|0|1|0|0",
    "v:000000000007|vec|NORMAL|0x40100000000000003ff000000000000040080000000000004000000000000000|1|0|0",
    "v:000000000008|cell|NORMAL|0|1|0|0",
    "v:000000000008|code0|NORMAL|0|1|0|0",
    "v:000000000008|code1|NORMAL|0|1|0|0",
    "v:000000000008|vec|NORMAL|0x3ff00000000000003ff800000000000040100000000000004008000000000000|1|0|0",
    "v:000000000009|cell|NORMAL|0|1|0|0",
    "v:000000000009|code0|NORMAL|1|1|0|0",
    "v:000000000009|code1|NORMAL|0|1|0|0",
    "v:000000000009|vec|NORMAL|0x40000000000000003fe000000000000040140000000000004008000000000000|1|0|0",
    "v:000000000010|<row-tombstone>|4|4",
    "v:000000000010|<row-tombstone>|4|4",
    "v:000000000010|cell|NORMAL|1|2|0|0",
    "v:000000000010|code0|NORMAL|1|2|0|0",
    "v:000000000010|code1|NORMAL|0|2|0|0",
    "v:000000000010|vec|NORMAL|0x40080000000000003ff00000000000003ff00000000000004008000000000000|2|0|0",
    "v:000000000011|cell|NORMAL|1|2|0|0",
    "v:000000000011|code0|NORMAL|1|2|0|0",
    "v:000000000011|code1|NORMAL|0|2|0|0",
    "v:000000000011|vec|NORMAL|0x40100000000000003ff800000000000040000000000000004008000000000000|2|0|0",
    "v:000000000012|cell|NORMAL|0|2|0|0",
    "v:000000000012|code0|NORMAL|1|2|0|0",
    "v:000000000012|code1|NORMAL|0|2|0|0",
    "v:000000000012|vec|NORMAL|0x3ff00000000000003fe000000000000040080000000000004010000000000000|2|0|0",
    "v:000000000013|cell|NORMAL|0|2|0|0",
    "v:000000000013|code0|NORMAL|1|2|0|0",
    "v:000000000013|code1|NORMAL|0|2|0|0",
    "v:000000000013|vec|NORMAL|0x40000000000000003ff000000000000040100000000000004010000000000000|2|0|0",
    "v:000000000014|cell|NORMAL|1|2|0|0",
    "v:000000000014|code0|NORMAL|1|2|0|0",
    "v:000000000014|code1|NORMAL|0|2|0|0",
    "v:000000000014|vec|NORMAL|0x40080000000000003ff800000000000040140000000000004010000000000000|2|0|0",
    "v:000000000015|<row-tombstone>|4|4",
    "v:000000000015|<row-tombstone>|4|4",
    "v:000000000015|cell|NORMAL|1|2|0|0",
    "v:000000000015|code0|NORMAL|1|2|0|0",
    "v:000000000015|code1|NORMAL|0|2|0|0",
    "v:000000000015|vec|NORMAL|0x40100000000000003fe00000000000003ff00000000000004010000000000000|2|0|0",
    "v:000000000020|cell|NORMAL|0|5|0|0",
    "v:000000000020|code0|NORMAL|0|5|0|0",
    "v:000000000020|code1|NORMAL|0|5|0|0",
    "v:000000000020|vec|NORMAL|0x3fe00000000000003fe00000000000003fe00000000000004008000000000000|5|0|0",
    "v:000000000021|cell|NORMAL|1|5|0|0",
    "v:000000000021|code0|NORMAL|1|5|0|0",
    "v:000000000021|code1|NORMAL|0|5|0|0",
    "v:000000000021|vec|NORMAL|0x40000000000000003ff00000000000003fe00000000000003ff0000000000000|5|0|0"),
  "stream_doc_freqs" -> Seq(
    "_meta|unit|NORMAL|term|0|0|0",
    "_n|n:s000000000|NORMAL|4|0|0|0",
    "d:000000000000|e|NORMAL|s000000000|0|0|0",
    "d:000000000000|h|NORMAL|77add1d5f41223d5582fca736a5cb335|0|0|0",
    "d:000000000001|e|NORMAL|s000000000|0|0|0",
    "d:000000000001|h|NORMAL|e20df494204817790f5baea6229f7985|0|0|0",
    "d:000000000002|e|NORMAL|s000000000|0|0|0",
    "d:000000000002|h|NORMAL|091dec9a28f9264bf37c07e08e8e22fe|0|0|0",
    "d:000000000003|e|NORMAL|s000000000|0|0|0",
    "d:000000000003|h|NORMAL|b7b17d6f59c7810345bf8523323ca5ee|0|0|0",
    "t:all|cf:s000000000|NORMAL|1|0|0|0",
    "t:all|df:s000000000|NORMAL|1|0|0|0",
    "t:and|cf:s000000000|NORMAL|1|0|0|0",
    "t:and|df:s000000000|NORMAL|1|0|0|0",
    "t:a|cf:s000000000|NORMAL|2|0|0|0",
    "t:a|df:s000000000|NORMAL|2|0|0|0",
    "t:brown|cf:s000000000|NORMAL|4|0|0|0",
    "t:brown|df:s000000000|NORMAL|3|0|0|0",
    "t:cat|cf:s000000000|NORMAL|1|0|0|0",
    "t:cat|df:s000000000|NORMAL|1|0|0|0",
    "t:day|cf:s000000000|NORMAL|1|0|0|0",
    "t:day|df:s000000000|NORMAL|1|0|0|0",
    "t:dog|cf:s000000000|NORMAL|3|0|0|0",
    "t:dog|df:s000000000|NORMAL|3|0|0|0",
    "t:fox|cf:s000000000|NORMAL|3|0|0|0",
    "t:fox|df:s000000000|NORMAL|2|0|0|0",
    "t:in|cf:s000000000|NORMAL|1|0|0|0",
    "t:in|df:s000000000|NORMAL|1|0|0|0",
    "t:jumps|cf:s000000000|NORMAL|1|0|0|0",
    "t:jumps|df:s000000000|NORMAL|1|0|0|0",
    "t:lazy|cf:s000000000|NORMAL|2|0|0|0",
    "t:lazy|df:s000000000|NORMAL|2|0|0|0",
    "t:long|cf:s000000000|NORMAL|1|0|0|0",
    "t:long|df:s000000000|NORMAL|1|0|0|0",
    "t:over|cf:s000000000|NORMAL|1|0|0|0",
    "t:over|df:s000000000|NORMAL|1|0|0|0",
    "t:quick|cf:s000000000|NORMAL|3|0|0|0",
    "t:quick|df:s000000000|NORMAL|3|0|0|0",
    "t:sleeps|cf:s000000000|NORMAL|2|0|0|0",
    "t:sleeps|df:s000000000|NORMAL|2|0|0|0",
    "t:sun|cf:s000000000|NORMAL|2|0|0|0",
    "t:sun|df:s000000000|NORMAL|2|0|0|0",
    "t:the|cf:s000000000|NORMAL|5|0|0|0",
    "t:the|df:s000000000|NORMAL|3|0|0|0",
    "t:under|cf:s000000000|NORMAL|1|0|0|0",
    "t:under|df:s000000000|NORMAL|1|0|0|0",
    "t:warm|cf:s000000000|NORMAL|1|0|0|0",
    "t:warm|df:s000000000|NORMAL|1|0|0|0"),
  "stream_dedup" -> Seq(
    "091dec9a28f9264bf37c07e08e8e22fe|doc|NORMAL|2|0|0|0",
    "77add1d5f41223d5582fca736a5cb335|doc|NORMAL|0|0|0|0",
    "b7b17d6f59c7810345bf8523323ca5ee|doc|NORMAL|3|0|0|0",
    "e20df494204817790f5baea6229f7985|doc|NORMAL|1|0|0|0"),
  "ledger" -> Seq(
    "000000000000|<row-tombstone>|3|3",
    "000000000000|pred|NORMAL|doc_id < 2|2|0|0",
    "000000000001|pred|NORMAL|doc_id < 2|2|0|0",
    "_meta|emax|NORMAL|2|2|0|0",
    "_meta|emax|NORMAL|3|3|0|0",
    "_meta|readmitted|NORMAL|3|3|0|0"),
  "registry" -> Seq(
    "_meta|emax|NORMAL|2|2|0|0",
    "_meta|emax|NORMAL|3|3|0|0",
    "_meta|emax|NORMAL|4|4|0|0",
    "_meta|emax|NORMAL|5|5|0|0",
    "ann_vectors|lp.ann|corpus|NORMAL|$SRC|4|0|0",
    "ann_vectors|lp.ann|dir|NORMAL|$WH/lp/ann|4|0|0",
    "ann_vectors|lp.ann|mode|NORMAL|batch|4|0|0",
    "doc_freqs|lp.df|corpus|NORMAL|$SRC|3|0|0",
    "doc_freqs|lp.df|dir|NORMAL|$WH/lp/df|3|0|0",
    "doc_freqs|lp.df|mode|NORMAL|batch|3|0|0",
    "doc_freqs|stream-df|corpus|NORMAL|*|5|0|0",
    "doc_freqs|stream-df|dir|NORMAL|$WH/stream-df|5|0|0",
    "doc_freqs|stream-df|mode|NORMAL|stream|5|0|0",
    "signatures|lp.sig|corpus|NORMAL|$SRC|2|0|0",
    "signatures|lp.sig|dir|NORMAL|$WH/lp/sig|2|0|0",
    "signatures|lp.sig|mode|NORMAL|batch|2|0|0"))
}
