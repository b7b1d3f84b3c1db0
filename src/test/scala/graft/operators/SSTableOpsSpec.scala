package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MsgPack
import graft.functions.MsgPack.{VArr, VBin, VLong, VNil}

/** SSTable merge-semantics ops over the nested scan schema + msgpack
  * round-trip (SURVEY.md §5.2-3: LWW merge properties, tombstone
  * invariant). */
class SSTableOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def col3(name: String, state: String, value: String, ts: Long,
                   ttl: Long = 0L, exp: Long = 0L) =
    (name.getBytes, state, if (value == null) null else value.getBytes, ts, ttl, exp)

  /** Build a nested SSTable-schema DF from (key, columns) pairs. */
  private def widerows(rows: (String, Seq[(Array[Byte], String, Array[Byte], Long, Long, Long)])*) = {
    val flat = rows.flatMap { case (k, cols) => cols.map(c => (k.getBytes, c._1, c._2, c._3, c._4, c._5, c._6)) }
    flat.toDF("key", "name", "state", "value", "timestamp", "ttlSecs", "expiresMillis")
      .groupBy("key")
      .agg(collect_list(struct(col("name"), col("state"), col("value"),
        col("timestamp"), col("ttlSecs"), col("expiresMillis"))).as("columns"))
  }

  test("latestColumnPerKey keeps max-timestamp column (A1)") {
    val df = widerows(
      "r1" -> Seq(col3("a", "NORMAL", "old", 10), col3("b", "NORMAL", "new", 20)),
      "r2" -> Seq(col3("x", "NORMAL", "only", 5)))
    val got = SSTableOps.latestColumnPerKey(df)
      .select(col("key").cast("string"), col("c.name").cast("string"), col("c.timestamp"))
      .as[(String, String, Long)].collect()
      .map { case (k, n, t) => k -> ((n, t)) }.toMap
    assert(got == Map("r1" -> (("b", 20L)), "r2" -> (("x", 5L))))
  }

  test("compactRows merges LWW per column across row versions (A2)") {
    // same row key appearing twice (two "sstables"), overlapping columns
    val v1 = widerows("r" -> Seq(col3("a", "NORMAL", "a1", 10), col3("b", "NORMAL", "b1", 10)))
    val v2 = widerows("r" -> Seq(col3("a", "NORMAL", "a2", 20), col3("c", "DELETED", null, 30)))
    val merged = SSTableOps.compactRows(v1.union(v2))
    assert(merged.count() == 1)
    val cols = merged.select(explode(col("columns")).as("c"))
      .select(col("c.name").cast("string"), col("c.state"),
        col("c.value").cast("string"), col("c.timestamp"))
      .as[(String, String, String, Long)].collect().sortBy(_._1)
    assert(cols.toSeq == Seq(
      ("a", "NORMAL", "a2", 20L), // newer version wins
      ("b", "NORMAL", "b1", 10L),
      ("c", "DELETED", null, 30L))) // tombstone preserved (no GC)
  }

  test("compactRows: tombstone wins an equal-timestamp tie (Cassandra reconcile)") {
    val df = widerows(
      "r" -> Seq(col3("a", "NORMAL", "write", 10), col3("a", "DELETED", null, 10)))
    val got = SSTableOps.compactRows(df)
      .select(explode(col("columns")).as("c"))
      .select(col("c.state")).as[String].collect()
    assert(got.toSeq == Seq("DELETED"))
  }

  test("msgpack export: old-spec raw family bytes, DELETED exports ts=0") {
    // fixraw for <=31 bytes: first byte of packBin("key1") = 0xa4
    val bytes = MsgPack.encodeRow("key1".getBytes, Seq(("n".getBytes, "v".getBytes, 1L, 0L, 0L)))
    assert((bytes(1) & 0xff) == (0xa0 | 4), f"expected fixraw key, got 0x${bytes(1)}%02x")
    val df = widerows("r" -> Seq(col3("a", "DELETED", null, 999)))
    val line = SSTableOps.exportMsgpackBase64(df).as[String].collect().head
    MsgPack.decode(java.util.Base64.getDecoder.decode(line)) match {
      case VArr(Vector(VBin(_), VArr(Vector(VArr(Vector(VBin(_), VNil, VLong(ts), _, _)))))) =>
        assert(ts == 0L, "DELETED must export ts=0 like MsgPackSSTableDataReducer")
      case other => fail(s"unexpected $other")
    }
  }

  test("compactRows is order-insensitive (merge commutativity)") {
    val v1 = widerows("r" -> Seq(col3("a", "NORMAL", "a1", 10)))
    val v2 = widerows("r" -> Seq(col3("a", "NORMAL", "a2", 20)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key").cast("string"), to_json(col("columns"))).as[(String, String)].collect().toSet
    assert(canon(SSTableOps.compactRows(v1.union(v2))) ==
      canon(SSTableOps.compactRows(v2.union(v1))))
  }

  test("suppressTombstones: no NORMAL column older than same-name DELETED survives") {
    val df = widerows(
      "r" -> Seq(col3("a", "NORMAL", "old", 10), col3("a", "DELETED", null, 20),
        col3("b", "NORMAL", "keep", 5)),
      "s" -> Seq(col3("a", "DELETED", null, 10), col3("a", "NORMAL", "resurrected", 30)))
    val got = SSTableOps.suppressTombstones(df)
      .select(col("key").cast("string"), explode(col("columns")).as("c"))
      .select(col("key"), col("c.name").cast("string"), col("c.value").cast("string"))
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("r", "b", "keep"), ("s", "a", "resurrected")))
  }

  test("applyTtl drops only expired EXPIRING columns") {
    val asOf = 1000L
    val df = widerows(
      "r" -> Seq(col3("live", "EXPIRING", "v", 1, ttl = 60, exp = 2000),
        col3("dead", "EXPIRING", "v", 2, ttl = 60, exp = 500),
        col3("norm", "NORMAL", "v", 3)))
    val got = SSTableOps.applyTtl(df, asOf)
      .select(explode(col("columns")).as("c")).select(col("c.name").cast("string"))
      .as[String].collect().toSet
    assert(got == Set("live", "norm"))
  }

  test("msgpack encode/decode round-trip incl. nil value and negative ints") {
    val row = ("key1".getBytes,
      Seq(("n1".getBytes, "v1".getBytes, 123456789012L, 0L, 0L),
        ("n2".getBytes, null: Array[Byte], -5L, 1700000000000L, 3600L)))
    val bytes = MsgPack.encodeRow(row._1, row._2)
    MsgPack.decode(bytes) match {
      case VArr(Vector(VBin(k), VArr(cols))) =>
        assert(k.sameElements("key1".getBytes))
        assert(cols.length == 2)
        cols(0) match {
          case VArr(Vector(VBin(n), VBin(v), VLong(ts), VLong(e), VLong(t))) =>
            assert(n.sameElements("n1".getBytes) && v.sameElements("v1".getBytes))
            assert(ts == 123456789012L && e == 0L && t == 0L)
          case other => fail(s"unexpected $other")
        }
        cols(1) match {
          case VArr(Vector(VBin(n), VNil, VLong(ts), VLong(e), VLong(t))) =>
            assert(n.sameElements("n2".getBytes))
            assert(ts == -5L && e == 1700000000000L && t == 3600L)
          case other => fail(s"unexpected $other")
        }
      case other => fail(s"unexpected $other")
    }
  }

  test("compact: N generations in, one merged sorted generation out") {
    val dir = Files.createTempDirectory("compact-in").toString
    val out = Files.createTempDirectory("compact-out").toString
    // generation 1: two rows; generation 2: newer version of one cell,
    // a tombstone for another, and a brand-new row
    widerows(
      "apple" -> Seq(col3("c1", "NORMAL", "v1", 10), col3("c2", "NORMAL", "x", 11)),
      "banana" -> Seq(col3("c1", "NORMAL", "b1", 20)))
      .write.format("sstable").mode("append").save(dir)
    widerows(
      "apple" -> Seq(col3("c1", "NORMAL", "v2", 30), col3("c2", "DELETED", null, 40)),
      "cherry" -> Seq(col3("c9", "NORMAL", "new", 50)))
      .write.format("sstable").mode("append").save(dir)
    assert(graft.sources.sstable.SSTableReader.listDataFiles(dir).size >= 2)

    SSTableOps.compactFiles(spark, graft.sources.sstable.SSTableReader.listDataFiles(dir), out)
    val merged = spark.read.format("sstable").load(out)
      .select(col("key").cast("string").as("k"), explode(col("columns")).as("c"))
      .select(col("k"), col("c.name").cast("string"), col("c.state"),
        col("c.value").cast("string"), col("c.timestamp"))
      .as[(String, String, String, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(merged.toSeq == Seq(
      ("apple", "c1", "NORMAL", "v2", 30L), // newer generation won
      ("apple", "c2", "DELETED", null, 40L), // tombstone preserved (no GC)
      ("banana", "c1", "NORMAL", "b1", 20L),
      ("cherry", "c9", "NORMAL", "new", 50L)))

    // with GC: tombstones dropped, fully-deleted rows vanish
    val outGc = Files.createTempDirectory("compact-gc").toString
    SSTableOps.compactFiles(spark, graft.sources.sstable.SSTableReader.listDataFiles(dir), outGc,
      gc = true)
    val gc = spark.read.format("sstable").load(outGc)
      .select(explode(col("columns")).as("c")).select(col("c.state"))
      .as[String].collect()
    assert(!gc.contains("DELETED") && gc.length == 3)
  }

  import org.apache.spark.sql.Row
  import graft.sources.sstable.spark.SSTableSchema

  /** Full scan-schema DF — (key, tombstone, columns) with tombstone as
    * Option[(localDeletionTime, markedForDeleteAt)]; empty column lists
    * allowed (pure-tombstone rows). */
  private def tombrows(rows: (String, Option[(Int, Long)],
                              Seq[(Array[Byte], String, Array[Byte], Long, Long, Long)])*) = {
    val data = rows.map { case (k, tomb, cols) =>
      Row(k.getBytes,
        cols.map(c => Row(c._1, c._2, c._3, c._4, c._5, c._6)),
        tomb.map { case (ldt, mfda) => Row(ldt, mfda) }.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), SSTableSchema.schema)
  }

  private def mergedCells(df: org.apache.spark.sql.DataFrame) =
    df.select(col("key").cast("string").as("k"), explode(col("columns")).as("c"))
      .select(col("k"), col("c.name").cast("string"), col("c.state"), col("c.timestamp"))
      .as[(String, String, String, Long)].collect().toSet

  test("compactRows: row tombstone shadows ts<=mfda incl. older cell tombstones; newer survive") {
    // gen1: a@10 NORMAL, b@20 DELETED (cell tombstone), c@30 NORMAL
    // gen2: row tombstone mfda=20 + d@25 NORMAL (deleted-then-rewritten row)
    val gen1 = tombrows(("r", None, Seq(
      col3("a", "NORMAL", "va", 10), col3("b", "DELETED", null, 20),
      col3("c", "NORMAL", "vc", 30))))
    val gen2 = tombrows(("r", Some((1700000000, 20L)), Seq(col3("d", "NORMAL", "vd", 25))))
    val out = SSTableOps.compactRows(gen1.union(gen2))
    // a@10 shadowed; b@20 shadowed at EQUAL timestamp (ts == mfda); the
    // older cell tombstone b is shadowed too; c@30 and d@25 survive
    assert(mergedCells(out) == Set(
      ("r", "c", "NORMAL", 30L), ("r", "d", "NORMAL", 25L)))
    // merged tombstone carried on output so it still shadows older gens
    val t = out.select(col("rowTombstone.markedForDeleteAt"),
      col("rowTombstone.localDeletionTime")).as[(Long, Int)].collect()
    assert(t.toSeq == Seq((20L, 1700000000)))
  }

  test("compactRows: newest row tombstone wins across generations; pure-tombstone row survives") {
    val gen1 = tombrows(("r", Some((100, 10L)), Nil))
    val gen2 = tombrows(("r", Some((200, 50L)), Nil)) // newer tombstone
    val gen3 = tombrows(("r", None, Seq(col3("x", "NORMAL", "old", 40))))
    val out = SSTableOps.compactRows(gen1.union(gen2).union(gen3))
    assert(out.count() == 1) // explode_outer keeps the zero-live-column row
    assert(out.select(size(col("columns"))).as[Int].collect().toSeq == Seq(0))
    assert(out.select(col("rowTombstone.markedForDeleteAt"),
      col("rowTombstone.localDeletionTime")).as[(Long, Int)].collect()
      .toSeq == Seq((50L, 200)))
  }

  test("compactRows: mixed live + tombstoned keys; live keys get null tombstone") {
    val df = tombrows(
      ("live", None, Seq(col3("a", "NORMAL", "v", 10))),
      ("gone", Some((7, 99L)), Seq(col3("a", "NORMAL", "v", 10))))
    val out = SSTableOps.compactRows(df)
    val got = out.select(col("key").cast("string"), size(col("columns")),
      col("rowTombstone").isNull).as[(String, Int, Boolean)].collect().toSet
    assert(got == Set(("live", 1, true), ("gone", 0, false)))
  }

  test("suppressTombstones elides wholesale-deleted keys (no phantom (key,[]) rows)") {
    val df = tombrows(
      ("live", None, Seq(col3("a", "NORMAL", "v", 10))),
      ("gone", Some((7, 99L)), Seq(col3("a", "NORMAL", "v", 10))),
      ("allcelldead", None, Seq(col3("a", "DELETED", null, 10))))
    val got = SSTableOps.suppressTombstones(df)
      .select(col("key").cast("string")).as[String].collect().toSeq
    assert(got == Seq("live"))
  }

  test("DSv2 write→read round-trips a non-null row tombstone; compact output shadows an older generation") {
    val dir = Files.createTempDirectory("tomb-rt").toString
    // gen1: data for two keys
    tombrows(
      ("gone", None, Seq(col3("x", "NORMAL", "old", 10))),
      ("kept", None, Seq(col3("y", "NORMAL", "keep", 10))))
      .write.format("sstable").mode("append").save(dir)
    // gen2: pure-tombstone row for "gone" (wholesale delete at mfda=50)
    tombrows(("gone", Some((1700000001, 50L)), Nil))
      .write.format("sstable").mode("append").save(dir)

    // round-trip: the tombstone survives the DSv2 writer+reader unchanged
    val back = spark.read.format("sstable").load(dir)
      .filter(col("rowTombstone").isNotNull)
      .select(col("key").cast("string"), col("rowTombstone.localDeletionTime"),
        col("rowTombstone.markedForDeleteAt")).as[(String, Int, Long)].collect()
    assert(back.toSeq == Seq(("gone", 1700000001, 50L)))

    // compact the two generations: "gone" persists as a pure-tombstone row
    val out = Files.createTempDirectory("tomb-compact").toString
    SSTableOps.compactFiles(spark, graft.sources.sstable.SSTableReader.listDataFiles(dir), out)
    val compacted = spark.read.format("sstable").load(out)
    val gone = compacted.filter(col("key") === lit("gone".getBytes))
    assert(gone.count() == 1)
    assert(gone.select(size(col("columns"))).as[Int].collect().toSeq == Seq(0))

    // ...and the carried tombstone still shadows a yet-older generation:
    // drop an even older write of "gone" next to the compacted output
    tombrows(("gone", None, Seq(col3("x", "NORMAL", "resurrect-nope", 30))))
      .write.format("sstable").mode("append").save(out)
    val remerged = SSTableOps.suppressTombstones(spark.read.format("sstable").load(out))
    assert(remerged.select(col("key").cast("string")).as[String].collect().toSeq
      == Seq("kept"))

    // GC compaction drops the tombstone row entirely
    val outGc = Files.createTempDirectory("tomb-gc").toString
    SSTableOps.compactFiles(spark, graft.sources.sstable.SSTableReader.listDataFiles(dir), outGc,
      gc = true)
    val gcKeys = spark.read.format("sstable").load(outGc)
      .select(col("key").cast("string")).as[String].collect().toSeq
    assert(gcKeys == Seq("kept"))
  }

  test("lookupJoin probes generations instead of scanning; reconciles LWW + tombstones") {
    val dir = Files.createTempDirectory("lookup").toString
    tombrows(
      ("apple", None, Seq(col3("c1", "NORMAL", "old", 10), col3("c2", "NORMAL", "keep", 20))),
      ("banana", None, Seq(col3("c1", "NORMAL", "b", 15))),
      ("cherry", None, Seq(col3("c1", "NORMAL", "ch", 5))))
      .write.format("sstable").mode("append").save(dir)
    tombrows(
      ("apple", None, Seq(col3("c1", "NORMAL", "new", 30))),
      ("cherry", Some((1700000000, 50L)), Nil)) // wholesale delete
      .write.format("sstable").mode("append").save(dir)

    val probes = Seq("apple", "apple", "banana", "cherry", "durian")
      .map(_.getBytes).toDF("key")
    // live view: cherry (deleted) and durian (absent) don't match;
    // duplicate probe keys give duplicate outputs
    val live = SSTableOps.lookupJoin(probes, dir)
      .select(col("key").cast("string"), explode(col("columns")).as("c"))
      .select(col("key"), col("c.name").cast("string"), col("c.value").cast("string"))
      .as[(String, String, String)].collect().sorted
    assert(live.toSeq == Seq(
      ("apple", "c1", "new"), ("apple", "c1", "new"),
      ("apple", "c2", "keep"), ("apple", "c2", "keep"),
      ("banana", "c1", "b")))

    // storage view keeps the tombstoned key with its deletion info
    val storageView = SSTableOps.lookupJoin(probes, dir, gcTombstones = false)
    assert(storageView.filter(col("key") === lit("cherry".getBytes))
      .select(col("rowTombstone.markedForDeleteAt")).as[Long].collect().toSeq == Seq(50L))

    // duplicate key WITHIN one generation: both versions merge (the DSv2
    // writer lands same-key DF rows adjacently in one sorted file)
    val dupDir = Files.createTempDirectory("lookup-dup").toString
    tombrows(
      ("dup", None, Seq(col3("c1", "NORMAL", "v1", 10))),
      ("dup", None, Seq(col3("c2", "NORMAL", "v2", 20))))
      .write.format("sstable").mode("append").save(dupDir)
    val dupGot = SSTableOps.lookupJoin(Seq("dup".getBytes).toDF("key"), dupDir)
      .select(explode(col("columns")).as("c")).select(col("c.name").cast("string"))
      .as[String].collect().sorted
    assert(dupGot.toSeq == Seq("c1", "c2"))

    // NULL probe key: SQL equi-join semantics — no match, no NPE
    val withNull = Seq(Some("apple".getBytes), None).toDF("key")
    assert(SSTableOps.lookupJoin(withNull, dir).count() == 1)

    // matches the scan-everything formulation on the probed keys
    val viaScan = SSTableOps.suppressTombstones(
      spark.read.format("sstable").load(dir))
      .filter(col("key").isin(Seq("apple", "banana", "cherry", "durian")
        .map(k => lit(k.getBytes)): _*))
      .select(col("key").cast("string"), to_json(col("columns")))
      .as[(String, String)].collect().toSet
    val viaProbe = SSTableOps.lookupJoin(probes.distinct(), dir)
      .select(col("key").cast("string"), to_json(col("columns")))
      .as[(String, String)].collect().toSet
    assert(viaProbe == viaScan)
  }

  test("planCompaction buckets similar sizes (STCS); compactFiles folds one bucket") {
    val dir = Files.createTempDirectory("stcs").toString
    def gen(name: String, rows: Int, keyPrefix: String = "k", ts: Long = 1L): Unit = {
      val w = new graft.sources.sstable.SSTableWriter(s"$dir/$name-Data.db",
        compress = false, summaryInterval = 16)
      (0 until rows).foreach(i => w.append(graft.sources.sstable.SSTableRow(
        f"$keyPrefix$i%06d".getBytes,
        Seq(graft.sources.sstable.Column.Normal("c".getBytes, s"$name$i".getBytes, ts)))))
      w.close()
    }
    // four flush-sized generations (overlapping keys; flush1 carries the
    // HIGHEST timestamp so its 100 keys must win the merge) + one giant
    gen("flush1", 100, ts = 10); gen("flush2", 110, ts = 2)
    gen("flush3", 120, ts = 3); gen("flush4", 130, ts = 4)
    gen("giant", 20000, keyPrefix = "g")

    val plan = SSTableOps.planCompaction(dir, minThreshold = 4, minSize = 0L)
    assert(plan.length == 1, s"want one bucket, got $plan")
    assert(plan.head.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet ==
      Set("flush1-Data.db", "flush2-Data.db", "flush3-Data.db", "flush4-Data.db"),
      "the four flush-sized generations bucket together; the giant stays out")

    // tiny-file rule: with a large minSize everything below it shares a bucket
    val lumped = SSTableOps.planCompaction(dir, minThreshold = 4,
      minSize = 1L << 40)
    assert(lumped.length == 1 && lumped.head.length == 5)

    // fold the planned bucket: giant untouched, bucket becomes one
    // generation with LWW-correct cells
    val out = Files.createTempDirectory("stcs-out").toString
    SSTableOps.compactFiles(spark, plan.head, out)
    assert(graft.sources.sstable.SSTableReader.listDataFiles(out).size >= 1)
    val merged = spark.read.format("sstable").load(out)
      .select(col("key").cast("string"), explode(col("columns")).as("c"))
      .select(col("c.value").cast("string")).as[String].collect()
    assert(merged.length == 130) // union of k000000..k000129
    assert(merged.count(_.startsWith("flush1")) == 100,
      "highest-ts generation wins its keys")
    assert(merged.count(_.startsWith("flush4")) == 30,
      "keys only flush4 wrote keep its values")

    // in-place maintenance pass: folds the flush bucket INTO dir,
    // unpublishes the four inputs, leaves the giant generation alone
    assert(graft.sources.sstable.SSTableReader.listDataFiles(dir).size == 5)
    assert(SSTableOps.compactInPlace(spark, dir, minThreshold = 4, minSize = 0L) == 1)
    val after = graft.sources.sstable.SSTableReader.listDataFiles(dir)
    assert(after.size == 2, s"want merged + giant, got $after")
    assert(after.exists(_.endsWith("giant-Data.db")), "giant untouched")
    val inPlace = spark.read.format("sstable").load(dir)
      .select(col("key").cast("string")).as[String].collect()
    assert(inPlace.length == 130 + 20000) // folded flushes + giant
    // fixpoint: nothing left to fold at this threshold
    assert(SSTableOps.compactInPlace(spark, dir, minThreshold = 4, minSize = 0L) == 0)
  }

  test("compactRows: range tombstone shadows [min,max] cells incl. cell tombstones; carried on output") {
    // gen1: a@10, b@10, c@20(DELETED cell), d@60, e@10
    // gen2: range [b, d] @ mfda=50 — shadows b@10 and c@20; d@60 newer
    // survives; a/e outside the range survive; the range itself carries
    def rangeRow(k: String, min: String, max: String, ldt: Int, mfda: Long) =
      Row(k.getBytes, Seq(Row(min.getBytes, "RANGE_TOMBSTONE", max.getBytes,
        mfda, ldt.toLong, 0L)), null)
    val gen1 = tombrows(("r", None, Seq(
      col3("a", "NORMAL", "va", 10), col3("b", "NORMAL", "vb", 10),
      col3("c", "DELETED", null, 20), col3("d", "NORMAL", "vd", 60),
      col3("e", "NORMAL", "ve", 10))))
    val gen2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(rangeRow("r", "b", "d", 1700000000, 50L)), 1),
      SSTableSchema.schema)
    val out = SSTableOps.compactRows(gen1.union(gen2))
    val cells = out.select(explode(col("columns")).as("c"))
      .select(col("c.name").cast("string"), col("c.state"), col("c.timestamp"))
      .as[(String, String, Long)].collect().toSet
    assert(cells == Set(
      ("a", "NORMAL", 10L), ("d", "NORMAL", 60L), ("e", "NORMAL", 10L),
      ("b", "RANGE_TOMBSTONE", 50L))) // range carried, b/c shadowed
    // GC view: range dropped alongside cell tombstones
    val live = SSTableOps.suppressTombstones(gen1.union(gen2))
      .select(explode(col("columns")).as("c")).select(col("c.name").cast("string"))
      .as[String].collect().toSet
    assert(live == Set("a", "d", "e"))
    // two ranges sharing a min bound with different maxes both survive
    val twoRanges = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      rangeRow("r", "b", "c", 1, 30L), rangeRow("r", "b", "d", 2, 40L)), 1),
      SSTableSchema.schema)
    val rts = SSTableOps.compactRows(twoRanges)
      .select(explode(col("columns")).as("c"))
      .select(col("c.value").cast("string")).as[String].collect().toSet
    assert(rts == Set("c", "d"))
  }

  test("compactRows plan: one agg shuffle, no join") {
    val df = tombrows(("r", Some((1, 10L)), Seq(col3("a", "NORMAL", "v", 10))))
    val plan = SSTableOps.compactRows(df).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"want the one (key) agg shuffle only:\n$plan")
    assert(!plan.contains("Join"), s"range shadowing must not introduce a join:\n$plan")
  }

  test("compactRows matches cell fields by name; an input without rowTombstone merges as live") {
    val df = widerows(
      "r1" -> Seq(col3("a", "NORMAL", "old", 10), col3("b", "EXPIRING", "e", 20, 60L, 5000L)),
      "r1" -> Seq(col3("a", "DELETED", null, 30), col3("c", "NORMAL", "c", 5)),
      "r2" -> Seq(col3("x", "NORMAL", "only", 5)))
    val reordered = df.select(
      transform(col("columns"), c => struct(c("expiresMillis"), c("ttlSecs"), c("timestamp"),
        c("value"), c("state"), c("name"))).as("columns"), col("key"))
    // the merge emits the scan layout, name-sorted; the reference keeps
    // its input's layout and sorts by that layout's first field
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select(col("key").cast("string"), to_json(sort_array(transform(col("columns"), c =>
        struct(c("name"), c("state"), c("value"), c("timestamp"), c("ttlSecs"),
          c("expiresMillis"))))))
        .as[(String, String)].collect().sorted.toSeq
    val got = SSTableOps.compactRows(reordered)
    assert(got.schema("columns") == SSTableOps.compactRows(df).schema("columns"))
    assert(got.columns.toSeq == Seq("key", "columns", "rowTombstone"))
    assert(got.where(col("rowTombstone").isNotNull).count() == 0)
    assert(canon(got) == canon(CompactRowsReference.compactRowsAlgebra(reordered)))
    assert(canon(got) == canon(SSTableOps.compactRows(df)))
  }

  test("property: multi-generation get(dir,key) == compactRows on random generations") {
    // Every merge reconciles through SSTableReader.Reconciler; the
    // DataFrame algebra in CompactRowsReference states the same rules
    // independently, and each leg meets it: the point read, the
    // compaction fold, compactRows' aggregate over a non-routed input,
    // and the reconciled scan compactRows plans over a bare read (under
    // asofmicros, ttlasofms, applydeletes and a split target small
    // enough to force many key ranges). Timestamps are globally unique
    // so every per-cell winner is well-defined (the deterministic tie
    // rules have their own unit cases above).
    import graft.sources.sstable.{Column, RowTombstone, SSTableRow, SSTableWriter}
    val rnd = new scala.util.Random(20260812)
    var tsCounter = 1000L
    def nextTs(): Long = { tsCounter += rnd.nextInt(50) + 1; tsCounter }
    val keyUniverse = (0 until 10).map(i => f"k$i%02d")
    val names = Seq("a", "b", "c", "d")

    for (trial <- 0 until 5) {
      val dir = Files.createTempDirectory(s"prop-mg-$trial").toString
      val gens = (0 until 3).map { g =>
        keyUniverse.filter(_ => rnd.nextDouble() < 0.7).flatMap { k =>
          def mkRow() = {
            val cols = names.filter(_ => rnd.nextDouble() < 0.6).map { n =>
              val u = rnd.nextDouble()
              if (u < 0.25) Column.Deleted(n.getBytes, nextTs())
              else if (u < 0.4) Column.Expiring(n.getBytes, s"$k$n$g".getBytes, 60L,
                1000L * (1 + rnd.nextInt(3)), nextTs())
              else Column.Normal(n.getBytes, s"$k$n$g".getBytes, nextTs())
            } ++ (if (rnd.nextDouble() < 0.2) {
              // slice delete over a random name interval, mfda inside the
              // live ts range so cell shadowing actually bites
              val i = rnd.nextInt(names.length)
              val j = i + rnd.nextInt(names.length - i)
              Seq(Column.RangeTombstone(names(i).getBytes, names(j).getBytes,
                1700000100 + g, tsCounter - rnd.nextInt(150)))
            } else Nil)
            val tomb =
              if (rnd.nextDouble() < 0.2)
                // mfda inside the live ts range so shadowing actually bites
                Some(RowTombstone(1700000000 + g, tsCounter - rnd.nextInt(200)))
              else if (rnd.nextDouble() < 0.1)
                // pathological half-LIVE pair: codec-representable,
                // shadows nothing, normalized away by BOTH merge paths
                Some(RowTombstone(g, Long.MinValue))
              else None
            SSTableRow(k.getBytes, cols, tomb)
          }
          // occasional duplicate key within one generation (writer
          // permits non-decreasing keys; versions land adjacently); k05's
          // run of six crosses a Summary window (interval 4) in gen 0
          if (g == 0 && k == "k05") Seq.fill(6)(mkRow())
          else if (rnd.nextDouble() < 0.15) Seq(mkRow(), mkRow()) else Seq(mkRow())
        }
      }
      // a delete-only generation (row tombstones alone, provable from its
      // sidecar) for applydeletes, and an empty generation
      val deletes = keyUniverse.filter(_ => rnd.nextDouble() < 0.3).map(k =>
        SSTableRow(k.getBytes, Nil, Some(RowTombstone(1700000009, tsCounter - rnd.nextInt(300)))))
      (gens :+ deletes :+ Nil).zipWithIndex.foreach { case (rows, g) =>
        val w = new SSTableWriter(s"$dir/gen$g-Data.db", compress = g % 2 == 0,
          chunkLength = 256, summaryInterval = 4)
        try rows.sortBy(r => new String(r.key)).foreach(w.append) finally w.close()
      }

      def canon(df: org.apache.spark.sql.DataFrame): Map[String, String] =
        df.select(col("key").cast("string"), to_json(struct(col("columns"), col("rowTombstone"))))
          .as[(String, String)].collect().toMap
      def raw(opts: (String, String)*) =
        spark.read.format("sstable").options(opts.toMap).load(dir)
      val expected = canon(CompactRowsReference.compactRowsAlgebra(raw()))
      // compactRows' aggregate: a projection and a self-union (every
      // version twice) are not bare reads, so neither routes to the scan
      Seq(raw().select("columns", "rowTombstone", "key"), raw().union(raw())).foreach { in =>
        val merged = SSTableOps.compactRows(in)
        assert(!merged.queryExecution.executedPlan.toString.contains("view=reconciled"),
          s"trial $trial: a non-bare input planned the reconciled read")
        assert(canon(merged) == expected, s"trial $trial: compactRows aggregate != algebra")
      }
      // the reconciled scan: compactRows' route over a bare read, checked
      // to plan the reconciled view, against the algebra over the same read
      val cut = (1000L + tsCounter) / 2
      Seq(Seq(), Seq("targetsplitbytes" -> "64"), Seq("asofmicros" -> cut.toString),
        Seq("ttlasofms" -> "2000"), Seq("applydeletes" -> "true"),
        Seq("targetsplitbytes" -> "64", "applydeletes" -> "true",
          "asofmicros" -> cut.toString, "ttlasofms" -> "2000")).foreach { opts =>
        val routed = SSTableOps.compactRows(raw(opts: _*))
        assert(routed.queryExecution.executedPlan.toString.contains("view=reconciled"),
          s"trial $trial $opts: compactRows did not plan the reconciled read")
        assert(canon(routed) == canon(CompactRowsReference.compactRowsAlgebra(raw(opts: _*))),
          s"trial $trial $opts: reconciled scan != compactRows algebra")
      }
      val inRange = col("key") >= lit("k03".getBytes) && col("key") < lit("k07".getBytes)
      assert(canon(SSTableOps.compactRows(raw("targetsplitbytes" -> "64").filter(inRange))) ==
        canon(CompactRowsReference.compactRowsAlgebra(raw()).filter(inRange)),
        s"trial $trial: filtered reconciled scan != filtered algebra")
      // the compaction fold over the same generations publishes exactly
      // compactRows (gc = false) and suppressTombstones (gc = true)
      val inputs = graft.sources.sstable.SSTableReader.listDataFiles(dir)
      def folded(gc: Boolean): Map[String, String] = {
        val out = Files.createTempDirectory(s"prop-fold-$trial-$gc").toString
        val published = SSTableOps.compactFiles(spark, inputs, out, gc)
        assert(published.length <= 1 &&
          published == graft.sources.sstable.SSTableReader.listDataFiles(out))
        if (published.isEmpty) Map.empty
        else spark.read.format("sstable").load(out)
          .select(col("key").cast("string"), to_json(struct(col("columns"), col("rowTombstone"))))
          .as[(String, String)].collect().toMap
      }
      assert(folded(gc = false) == expected, s"trial $trial: fold != compactRows")
      val live = SSTableOps.suppressTombstones(spark.read.format("sstable").load(dir))
        .select(col("key").cast("string"),
          to_json(struct(col("columns"), lit(null).cast(
            "struct<localDeletionTime:int,markedForDeleteAt:bigint>").as("rowTombstone"))))
        .as[(String, String)].collect().toMap
      assert(folded(gc = true) == live, s"trial $trial: gc fold != suppressTombstones")
      keyUniverse.foreach { k =>
        val got = graft.sources.sstable.SSTableReader.get(dir, k.getBytes)
        (expected.get(k), got) match {
          case (None, None) => // key in no generation: both say absent
          case (Some(exp), Some(row)) =>
            val gotJson = tombrows((k, row.tombstone.map(t =>
                (t.localDeletionTimeSecs, t.markedForDeleteAtMicros)),
                row.columns.map {
                  case Column.Normal(n, v, ts) => (n, "NORMAL", v, ts, 0L, 0L)
                  case Column.Deleted(n, ts) => (n, "DELETED", null, ts, 0L, 0L)
                  case Column.Expiring(n, v, ttl, exp2, ts) => (n, "EXPIRING", v, ts, ttl, exp2)
                  case Column.RangeTombstone(n, mx, ldt, mfda) =>
                    (n, "RANGE_TOMBSTONE", mx, mfda, ldt.toLong, 0L)
                }))
              .select(to_json(struct(col("columns"), col("rowTombstone"))))
              .as[String].collect().head
            assert(gotJson == exp, s"trial $trial key $k: probe=$gotJson compact=$exp")
          case (e, g2) => fail(s"trial $trial key $k: presence mismatch exp=$e got=$g2")
        }
      }
    }
  }

  test("property: compactRowsSalted == compactRows on random generations (incl. ties)") {
    // The salted variant re-routes the per-key assembly through hash
    // buckets; this pin proves the rerouting is invisible — same columns,
    // same order, same merged tombstone — including on exact-timestamp
    // ties (generated below by reusing timestamps across generations),
    // which only the (value, ttl, exp) ordering tail keeps deterministic.
    val rnd = new scala.util.Random(20260813)
    val names = Seq("a", "b", "c", "d", "e")
    for (trial <- 0 until 4) {
      val rows = (0 until 3).flatMap { g =>
        (0 until 12).filter(_ => rnd.nextDouble() < 0.8).map { ki =>
          val k = f"k$ki%02d"
          val cols = names.filter(_ => rnd.nextDouble() < 0.6).map { n =>
            val ts = rnd.nextInt(40).toLong // small range: ties across gens
            rnd.nextInt(3) match {
              case 0 => col3(n, "DELETED", null, ts)
              case 1 => col3(n, "EXPIRING", s"e$g$n", ts, 60L + rnd.nextInt(3), 1000L)
              case _ => col3(n, "NORMAL", s"v$g$n${rnd.nextInt(2)}", ts)
            }
          } ++ (if (rnd.nextDouble() < 0.25) {
            val i = rnd.nextInt(names.length)
            val j = i + rnd.nextInt(names.length - i)
            Seq((names(i).getBytes, "RANGE_TOMBSTONE", names(j).getBytes,
              rnd.nextInt(40).toLong, 1700000000L + g, 0L))
          } else Nil)
          val tomb = if (rnd.nextDouble() < 0.2)
            Some((1700000000 + g, rnd.nextInt(30).toLong)) else None
          (k, tomb, cols)
        }
      }
      val df = tombrows(rows: _*)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select(col("key").cast("string"),
          to_json(struct(col("columns"), col("rowTombstone"))))
          .as[(String, String)].collect().sorted.toSeq
      val base = canon(SSTableOps.compactRows(df))
      for (buckets <- Seq(1, 3, 64))
        assert(canon(SSTableOps.compactRowsSalted(df, buckets)) == base,
          s"trial $trial buckets=$buckets diverged from compactRows")
    }
  }

  test("compactRowsSalted plan: one agg shuffle, no join") {
    val df = tombrows(("r", Some((1, 10L)), Seq(col3("a", "NORMAL", "v", 10))))
    val plan = SSTableOps.compactRowsSalted(df).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"want the one (key) agg shuffle only:\n$plan")
    assert(!plan.contains("Join"), s"salting must not introduce a join:\n$plan")
  }

  test("property: random rows round-trip the DSv2 writer+reader (InternalRow conversion layer)") {
    // The codec property (CodecSpec) covers DataFile bytes; this covers
    // the Spark layer above it — schema→Column conversion on write and
    // Column→InternalRow on read — for every state incl. ranges and
    // row tombstones, across compressed and uncompressed filesets.
    val rnd = new scala.util.Random(424242)
    var ts = 0L
    def nextTs(): Long = { ts += rnd.nextInt(40) + 1; ts }
    for (trial <- 0 until 3) {
      val dir = Files.createTempDirectory(s"dsv2-prop-$trial").toString
      val rows = (0 until 40).map { i =>
        val k = f"key$i%04d"
        val cols = (0 until rnd.nextInt(5)).map { j =>
          rnd.nextInt(4) match {
            case 0 => (s"n$j".getBytes, "NORMAL", s"v$i$j".getBytes, nextTs(), 0L, 0L)
            case 1 => (s"n$j".getBytes, "DELETED", null: Array[Byte], nextTs(), 0L, 0L)
            case 2 => (s"n$j".getBytes, "EXPIRING", s"e$i$j".getBytes, nextTs(),
              rnd.nextInt(100000).toLong, rnd.nextInt(Int.MaxValue).toLong * 1000L)
            case _ => (s"n$j".getBytes, "RANGE_TOMBSTONE", s"n${j + 2}".getBytes,
              nextTs(), rnd.nextInt(Int.MaxValue).toLong, 0L)
          }
        }
        val tomb = if (rnd.nextDouble() < 0.2)
          Some((rnd.nextInt(Int.MaxValue - 1), nextTs())) else None
        (k, tomb, cols)
      }
      val df = tombrows(rows: _*)
      df.write.format("sstable")
        .option("compress", (trial % 2 == 0).toString)
        .option("chunkLength", "512").mode("overwrite").save(dir)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select(col("key").cast("string"),
          to_json(struct(sort_array(col("columns")).as("columns"), col("rowTombstone"))))
          .as[(String, String)].collect().toMap
      assert(canon(spark.read.format("sstable").load(dir)) == canon(df),
        s"trial $trial: DSv2 round-trip diverged")
    }
  }

  test("compactInPlace GCs tombstones only when the bucket is key-isolated") {
    import graft.sources.sstable.{Column, RowTombstone, SSTableRow, SSTableWriter}
    def flush(dir: String, stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.sortWith((a, b) =>
        graft.sources.sstable.SSTableFiles.compareKeys(a.key, b.key) < 0).foreach(w.append)
      finally w.close()
    }
    def norm(n: String, v: String, ts: Long) = Column.Normal(n.getBytes, v.getBytes, ts)

    // CASE A — isolated: four flushes, nothing else in the directory.
    // The fold may GC: DELETED cells vanish, the wholesale-deleted key
    // is elided, shadowed values are gone.
    // two rows per flush so the STCS size-similarity rule buckets all four
    val dirA = Files.createTempDirectory("gc-isolated").toString
    flush(dirA, "f1", Seq(
      SSTableRow("ka".getBytes, Seq(norm("c", "old", 10L))),
      SSTableRow("kb".getBytes, Seq(norm("c", "keep", 10L)))))
    flush(dirA, "f2", Seq(
      SSTableRow("ka".getBytes, Seq(Column.Deleted("c".getBytes, 20L))), // shadows ka
      SSTableRow("kp1".getBytes, Seq(norm("c", "fill", 20L)))))
    flush(dirA, "f3", Seq(
      SSTableRow("kc".getBytes, Nil, Some(RowTombstone(1700000000, 30L))),
      SSTableRow("kp2".getBytes, Seq(norm("c", "fill", 30L)))))
    flush(dirA, "f4", Seq(
      SSTableRow("kd".getBytes, Seq(norm("c", "live", 40L))),
      SSTableRow("kp3".getBytes, Seq(norm("c", "fill", 40L)))))
    assert(SSTableOps.compactInPlace(spark, dirA, minThreshold = 4, minSize = 0L) == 1)
    val a = spark.read.format("sstable").load(dirA)
    val statesA = a.select(explode(col("columns")).as("c"))
      .select(col("c.state")).as[String].collect().toSet
    assert(statesA == Set("NORMAL"), s"isolated fold must GC tombstones: $statesA")
    assert(a.select(col("key").cast("string")).as[String].collect().toSet
      == Set("kb", "kd", "kp1", "kp2", "kp3"), "deleted keys elided after GC")

    // CASE B — the same flushes next to a giant OVERLAPPING old
    // generation (outside the size bucket): GC must be withheld, and the
    // carried tombstones must still shadow the giant on a full merge.
    val dirB = Files.createTempDirectory("gc-overlapped").toString
    flush(dirB, "agiant", (0 until 2000).map(i =>
      SSTableRow(f"k$i%04d".getBytes, Seq(norm("c", "ancient", 1L)))) ++
      Seq(SSTableRow("ka".getBytes, Seq(norm("c", "ancient", 1L)))))
    // two rows per flush so the STCS size-similarity rule buckets all four
    flush(dirB, "f1", Seq(
      SSTableRow("ka".getBytes, Seq(norm("c", "old", 10L))),
      SSTableRow("kb".getBytes, Seq(norm("c", "keep", 10L)))))
    flush(dirB, "f2", Seq(
      SSTableRow("ka".getBytes, Seq(Column.Deleted("c".getBytes, 20L))),
      SSTableRow("kzx".getBytes, Seq(norm("c", "fill", 20L)))))
    flush(dirB, "f3", Seq(
      SSTableRow("kb2".getBytes, Seq(norm("c", "x", 30L))),
      SSTableRow("kzy".getBytes, Seq(norm("c", "fill", 30L)))))
    flush(dirB, "f4", Seq(
      SSTableRow("kd".getBytes, Seq(norm("c", "live", 40L))),
      SSTableRow("kzz".getBytes, Seq(norm("c", "fill", 40L)))))
    assert(SSTableOps.compactInPlace(spark, dirB, minThreshold = 4, minSize = 0L) == 1)
    assert(graft.sources.sstable.SSTableReader.listDataFiles(dirB).size == 2)
    val b = spark.read.format("sstable").load(dirB)
    assert(b.select(explode(col("columns")).as("c"))
      .where(col("c.state") === "DELETED").count() == 1,
      "overlapped fold must carry the tombstone")
    // the carried tombstone still shadows the giant's 'ancient' ka value
    val mergedKa = SSTableOps.suppressTombstones(b)
      .where(col("key") === lit("ka".getBytes)).count()
    assert(mergedKa == 0, "ka stays dead — GC withholding prevented resurrection")
  }

  test("tombstone-debt compaction folds isolated delete-heavy generations only") {
    import graft.sources.sstable.{Column, RowTombstone, SSTableRow, SSTableWriter}
    def flush(dir: String, stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.sortWith((a, b) =>
        graft.sources.sstable.SSTableFiles.compareKeys(a.key, b.key) < 0).foreach(w.append)
      finally w.close()
    }
    def norm(n: String, v: String, ts: Long) = Column.Normal(n.getBytes, v.getBytes, ts)
    val dir = Files.createTempDirectory("tomb-debt").toString
    // clean generation over keys a*: below every threshold, never picked
    flush(dir, "clean", (0 until 50).map(i =>
      SSTableRow(f"a$i%03d".getBytes, Seq(norm("c", "v", 10L)))))
    // debt generation over keys d* (disjoint from a* and z*): half its
    // rows tombstoned INTERNALLY — newer same-generation deletions of
    // its own keys — so isolation makes the debt droppable
    flush(dir, "debt", (0 until 40).map { i =>
      if (i % 2 == 0)
        SSTableRow(f"d$i%03d".getBytes, Nil, Some(RowTombstone(1700000000, 50L)))
      else SSTableRow(f"d$i%03d".getBytes, Seq(norm("c", "live", 20L)))
    })
    // debt generation over keys z* that OVERLAPS a newer small flush —
    // not isolated, must be skipped no matter the ratio
    flush(dir, "zdebt", (0 until 40).map { i =>
      if (i % 2 == 0)
        SSTableRow(f"z$i%03d".getBytes, Nil, Some(RowTombstone(1700000000, 50L)))
      else SSTableRow(f"z$i%03d".getBytes, Seq(norm("c", "live", 20L)))
    })
    flush(dir, "zover", Seq(SSTableRow("z001".getBytes, Seq(norm("c", "newer", 60L)))))

    val picks = SSTableOps.planTombstoneCompaction(dir, ratioThreshold = 0.2)
    assert(picks.map(_.map(f => f.substring(f.lastIndexOf('/') + 1))) ==
      Seq(Seq("debt-Data.db")),
      s"only the isolated debt generation qualifies: $picks")
    assert(SSTableOps.compactTombstonesInPlace(spark, dir, 0.2) == 1)
    // the fold GC'd the internal tombstones: only live d* rows remain,
    // other generations untouched
    val d = spark.read.format("sstable").load(dir)
    assert(d.filter(col("rowTombstone").isNotNull).count() == 20,
      "zdebt keeps its tombstones (not isolated)")
    val dKeys = d.select(col("key").cast("string")).as[String].collect()
      .filter(_.startsWith("d"))
    assert(dKeys.length == 20 && dKeys.forall(k => k.drop(1).toInt % 2 == 1),
      "isolated fold dropped tombstoned d* rows and their tombstones")
    // rerun: nothing left to pick (the folded output is debt-free)
    assert(SSTableOps.compactTombstonesInPlace(spark, dir, 0.2) == 0)
  }

  test("GC'd fold re-validates isolation post-fold: a concurrent flush cannot resurrect (ADVICE r5)") {
    import graft.sources.sstable.{Column, LocalStorage, RowTombstone, SSTableRow,
      SSTableWriter, SeekableInput, Storage}
    def flush(dir: String, stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.sortWith((a, b) =>
        graft.sources.sstable.SSTableFiles.compareKeys(a.key, b.key) < 0).foreach(w.append)
      finally w.close()
    }
    val dir = Files.createTempDirectory("gc-concurrent-flush").toString
    // bucket: ka cell (old) + ka row tombstone mfda=100 — isolated at
    // check time, so the fold starts out GC-eligible
    flush(dir, "f1", Seq(
      SSTableRow("ka".getBytes, Seq(Column.Normal("c".getBytes, "old".getBytes, 10L))),
      SSTableRow("kb".getBytes, Seq(Column.Normal("c".getBytes, "keep".getBytes, 10L)))))
    flush(dir, "f2", Seq(
      SSTableRow("ka".getBytes, Nil, Some(RowTombstone(1700000000, 100L)))))
    val bucket = LocalStorage.listDataFiles(dir)
    assert(bucket.size == 2)
    // storage spy: the SECOND directory listing is foldBucketInPlace's
    // post-fold re-check — land an overlapping flush (ka cell ts=50,
    // OLDER than the tombstone) right before it, simulating a concurrent
    // writer racing the fold
    var listings = 0
    val racing: Storage = new Storage {
      def open(path: String): SeekableInput = LocalStorage.open(path)
      def length(path: String): Long = LocalStorage.length(path)
      def mtime(path: String): Long = LocalStorage.mtime(path)
      def exists(path: String): Boolean = LocalStorage.exists(path)
      def create(path: String): java.io.DataOutputStream = LocalStorage.create(path)
      def delete(path: String): Unit = LocalStorage.delete(path)
      def rename(src: String, dst: String): Unit = LocalStorage.rename(src, dst)
      def replace(src: String, dst: String): Unit = LocalStorage.replace(src, dst)
      def listFiles(dir: String): Seq[String] = LocalStorage.listFiles(dir)
      def listSubdirs(dir: String, prefix: String): Seq[String] =
        LocalStorage.listSubdirs(dir, prefix)
      def deleteRecursive(dir: String): Unit = LocalStorage.deleteRecursive(dir)
      def mkdirs(dir: String): Unit = LocalStorage.mkdirs(dir)
      def listDataFiles(d: String): Seq[String] = {
        listings += 1
        if (listings == 2)
          flush(dir, "late", Seq(SSTableRow("ka".getBytes,
            Seq(Column.Normal("c".getBytes, "shadowed".getBytes, 50L)))))
        LocalStorage.listDataFiles(d)
      }
    }
    SSTableOps.foldBucketInPlace(spark, dir, bucket, racing)
    assert(listings >= 2, "the post-fold re-check listing must have run")
    // the re-check must have withheld GC: the fold output still carries
    // the ka tombstone, so the racing ts=50 cell stays shadowed
    val merged = SSTableOps.suppressTombstones(
      spark.read.format("sstable").load(dir))
    val keys = merged.select(col("key").cast("string")).as[String].collect().toSet
    assert(!keys.contains("ka"),
      s"concurrent flush resurrected ka through a GC'd fold: $keys")
    assert(keys.contains("kb"))
  }

  test("leveled compaction: runs are overlap-free; folding planned buckets reduces run count") {
    import graft.sources.sstable.{Column, SSTableReader, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("lcs").toString
    // four generations with controlled key ranges and increasing ages:
    //   genA [a..f] ts~400 (newest, whole span)
    //   genB [a..c] ts~300, genC [d..f] ts~200 (disjoint pair: one run)
    //   genD [b..e] ts~100 (oldest, overlaps both B and C)
    def gen(stem: String, keys: Seq[String], ts: Long): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try keys.sorted.foreach(k => w.append(SSTableRow(k.getBytes,
        Seq(Column.Normal("c".getBytes, s"$stem$k".getBytes, ts)))))
      finally w.close()
    }
    gen("genA", Seq("a", "b", "c", "d", "e", "f"), 400L)
    gen("genB", Seq("a", "b", "c"), 300L)
    gen("genC", Seq("d", "e", "f"), 200L)
    gen("genD", Seq("b", "c", "d", "e"), 100L)

    def runStats(runs: Seq[Seq[String]]) = runs.map(_.map { f =>
      new SSTableReader(f).statistics.get
    })
    def assertOverlapFree(runs: Seq[Seq[String]]): Unit =
      runStats(runs).zipWithIndex.foreach { case (run, i) =>
        for (a <- run; b <- run if a ne b)
          assert(graft.sources.sstable.SSTableFiles.compareKeys(a.minKey, b.maxKey) > 0 ||
            graft.sources.sstable.SSTableFiles.compareKeys(b.minKey, a.maxKey) > 0,
            s"run $i holds overlapping files: $runs")
      }

    val runs = SSTableOps.leveledRuns(dir)
    assertOverlapFree(runs)
    assert(runs.length == 3, s"A | B+C | D expected, got $runs")
    assert(runs(0).exists(_.contains("genA")), "newest file in the shallowest run")
    assert(runs(1).map(f => f.substring(f.lastIndexOf('/') + 1)).sorted
      == Seq("genB-Data.db", "genC-Data.db"), "disjoint B+C share a run")

    // within maxRuns: nothing to do
    assert(SSTableOps.planCompactionLeveled(dir, maxRuns = 3).isEmpty)
    // tighter invariant: fold the cheapest adjacent pair's overlap
    // components (B+C vs D: D overlaps both → one 3-file component)
    val plan = SSTableOps.planCompactionLeveled(dir, maxRuns = 2)
    assert(plan.length == 1 && plan.head.length == 3, s"got $plan")
    assert(!plan.head.exists(_.contains("genA")), "newest run not in the cheapest pair")

    // drive to the invariant in place; LWW correctness preserved
    var folded = 0
    var passes = 0
    while ({ val n = SSTableOps.compactLeveledInPlace(spark, dir, maxRuns = 2)
             folded += n; passes += 1; n > 0 && passes < 5 }) ()
    val after = SSTableOps.leveledRuns(dir)
    assertOverlapFree(after)
    assert(after.length <= 2, s"fixpoint should reach maxRuns, got $after")
    val winners = spark.read.format("sstable").load(dir)
    val got = SSTableOps.compactRows(winners)
      .select(col("key").cast("string"),
        element_at(col("columns"), 1).getField("value").cast("string"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "genAa", "b" -> "genAb", "c" -> "genAc",
      "d" -> "genAd", "e" -> "genAe", "f" -> "genAf"),
      "newest generation's values must win after leveled folds")
  }

  test("counters: DSv2 scan surfaces them raw; compactRows refuses loudly; export drops them") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("counter-scan").toString
    val w = new SSTableWriter(s"$dir/cnt-Data.db", compress = false)
    w.append(SSTableRow("k1".getBytes, Seq(
      Column.Counter("hits".getBytes, Array[Byte](1, 2, 3), 100L, 5000L),
      Column.Normal("plain".getBytes, "v".getBytes, 10L))))
    w.append(SSTableRow("k2".getBytes, Seq(
      Column.CounterUpdate("hits".getBytes, Array[Byte](0, 7), 6000L))))
    w.close()

    // raw scan works — a real 1.2 counter CF is readable
    val df = spark.read.format("sstable").load(dir)
    val cells = df.select(col("key").cast("string"), explode(col("columns")).as("c"))
      .select(col("key"), col("c.state"), col("c.timestamp"), col("c.expiresMillis"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(cells == Set(
      ("k1", "COUNTER", 5000L, 100L), // expiresMillis carries timestampOfLastDelete
      ("k1", "NORMAL", 10L, 0L),
      ("k2", "COUNTER_UPDATE", 6000L, 0L)))

    // DSv2 write path round-trips the raw surface
    val dir2 = Files.createTempDirectory("counter-rt").toString
    df.write.format("sstable").mode("overwrite").save(dir2)
    assert(spark.read.format("sstable").load(dir2)
      .select(explode(col("columns")).as("c")).where(col("c.state").startsWith("COUNTER"))
      .count() == 2)

    // every merge-family entry point refuses them loudly
    val e = intercept[Exception] { SSTableOps.compactRows(df).collect() }
    assert(e.getMessage.contains("no LWW merge semantics"), e.getMessage)
    val e2 = intercept[Exception] { SSTableOps.compactRowsSalted(df).collect() }
    assert(e2.getMessage.contains("no LWW merge semantics"), e2.getMessage)
    val e3 = intercept[Exception] { SSTableOps.lookupJoin(
      Seq("k1".getBytes).toDF("key"), dir).collect() }
    assert(e3.getMessage.contains("no LWW merge semantics"), e3.getMessage)
    val e4 = intercept[Exception] {
      SSTableOps.compactFiles(spark, Seq(s"$dir/cnt-Data.db"), dir) }
    assert(e4.getMessage.contains("no LWW merge semantics"), e4.getMessage)
    assertFoldLeftNothing(dir, Seq(s"$dir/cnt-Data.db"))

    // the reference-era export pipeline never saw counters: dropped, and
    // the counter-only row k2 produces no phantom line
    val lines = SSTableOps.exportMsgpackBase64(df).as[String].collect()
    assert(lines.length == 1, "only k1's NORMAL cell is exportable")
  }

  /** A failed fold published nothing: the directory lists exactly its
    * inputs and holds no staging or commit-marker leftovers. */
  private def assertFoldLeftNothing(dir: String, inputs: Seq[String]): Unit = {
    import graft.sources.sstable.LocalStorage
    assert(LocalStorage.listDataFiles(dir).sorted == inputs.sorted)
    assert(LocalStorage.listSubdirs(dir, "_staging").isEmpty)
    assert(!LocalStorage.listFiles(dir).exists(_.contains("/_commit-")))
  }

  test("compactFiles over a Data.db with one flipped byte fails naming the file; nothing published") {
    import graft.sources.sstable.{Column, CorruptSSTableException, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("fold-corrupt").toString
    val files = (0 until 3).map { g =>
      val f = s"$dir/gen$g-Data.db"
      val w = new SSTableWriter(f, chunkLength = 1024)
      (0 until 400).foreach(i => w.append(SSTableRow(f"k$i%05d".getBytes,
        Seq(Column.Normal("c".getBytes, s"v$g-$i".getBytes, g * 1000L + i)))))
      w.close()
      f
    }
    val damaged = files(1)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(damaged))
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(damaged), bytes)
    val e = intercept[CorruptSSTableException](SSTableOps.compactFiles(spark, files, dir))
    assert(e.getMessage.contains(damaged), e.getMessage)
    assertFoldLeftNothing(dir, files)
  }

  test("compactFiles refuses an input whose keys go backwards, naming the file") {
    import graft.sources.sstable.{Column, CorruptSSTableException, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("fold-unsorted").toString
    def gen(name: String, keys: Seq[String], sorted: Boolean): String = {
      val f = s"$dir/$name-Data.db"
      val w = new SSTableWriter(f, enforceSorted = sorted)
      keys.foreach(k => w.append(SSTableRow(k.getBytes,
        Seq(Column.Normal("c".getBytes, k.getBytes, 1L)))))
      w.close()
      f
    }
    val good = gen("good", Seq("a", "c", "e"), sorted = true)
    val bad = gen("bad", Seq("b", "d", "c"), sorted = false)
    val e = intercept[CorruptSSTableException](
      SSTableOps.compactFiles(spark, Seq(good, bad), dir))
    assert(e.getMessage.contains(bad) && e.getMessage.contains("backwards"), e.getMessage)
    assertFoldLeftNothing(dir, Seq(good, bad))
  }

  test("a fold with no surviving rows publishes no generation") {
    import graft.sources.sstable.{Column, RowTombstone, SSTableReader, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("fold-empty").toString
    // four isolated generations of one key; the newest row-tombstones it
    (0 until 4).foreach { g =>
      val w = new SSTableWriter(s"$dir/gen$g-Data.db")
      w.append(if (g < 3) SSTableRow("k".getBytes,
        Seq(Column.Normal("c".getBytes, s"v$g".getBytes, 10L + g)))
      else SSTableRow("k".getBytes, Nil, Some(RowTombstone(1700000000, 100L))))
      w.close()
    }
    assert(SSTableOps.compactInPlace(spark, dir, minThreshold = 4, minSize = 1L << 40) == 1)
    assertFoldLeftNothing(dir, Nil)
    assert(SSTableReader.get(dir, "k".getBytes).isEmpty)
  }

  test("diffDirs: compaction-preserving rewrites diff empty; real drift is localized") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    def gen(dir: String, stem: String, rows: Seq[(String, String, Long)]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false)
      rows.sortBy(_._1).foreach { case (k, v, ts) =>
        w.append(SSTableRow(k.getBytes,
          Seq(Column.Normal("c".getBytes, v.getBytes, ts)))) }
      w.close()
    }
    val in = Files.createTempDirectory("diff-in").toString
    gen(in, "g1", Seq(("a", "old", 1L), ("b", "bv", 2L)))
    gen(in, "g2", Seq(("a", "new", 5L), ("c", "cv", 3L)))
    // compacting into a single generation must be diff-invisible
    val out = Files.createTempDirectory("diff-out").toString
    SSTableOps.compactFiles(spark, graft.sources.sstable.SSTableReader.listDataFiles(in), out)
    assert(SSTableOps.diffDirs(spark, in, out).count() == 0,
      "compaction changed the merged state")
    // drift: a copy missing one key, one key changed, one key extra
    val bad = Files.createTempDirectory("diff-bad").toString
    gen(bad, "g1", Seq(("a", "new", 5L), ("b", "DRIFT", 9L), ("d", "dv", 4L)))
    val diff = SSTableOps.diffDirs(spark, in, bad)
      .select(col("key").cast("string"), col("side"))
      .as[(String, String)].collect().toMap
    assert(diff == Map("b" -> "DIFFERENT", "c" -> "A_ONLY", "d" -> "B_ONLY"))
  }

  test("vacuumStaging removes only stale _staging-* trees, never published data") {
    import graft.sources.sstable.{Column, LocalStorage, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("vacuum").toString
    val w = new SSTableWriter(s"$dir/live-Data.db", compress = false)
    w.append(SSTableRow("k".getBytes,
      Seq(Column.Normal("c".getBytes, "v".getBytes, 1L))))
    w.close()
    // a crashed job's scratch tree (old) and a running job's (fresh)
    def staging(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(s"$dir/$name/nested")
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part-0-Data.db").toPath,
        "partial".getBytes)
      val top = d.getParentFile
      top.setLastModified(System.currentTimeMillis() - ageMs)
      top
    }
    val dead = staging("_staging-dead", ageMs = 48L * 3600 * 1000)
    val fresh = staging("_staging-fresh", ageMs = 0L)
    // commit-integrity markers: a crashed commit's (old) is swept, a
    // live commit's (fresh) survives — deleting it would fail that
    // commit with a false 'directory REPLACED'
    def markerFile(name: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(s"$dir/$name")
      java.nio.file.Files.write(f.toPath, Array.empty[Byte])
      f.setLastModified(System.currentTimeMillis() - ageMs)
      f
    }
    val deadMarker = markerFile("_commit-crashed", 48L * 3600 * 1000)
    val liveMarker = markerFile("_commit-inflight", 0L)

    val (removed, kept) = SSTableOps.vacuumStaging(dir)
    assert(removed.map(_.split('/').last) == Seq("_staging-dead"))
    assert(kept.map(_.split('/').last) == Seq("_staging-fresh"))
    assert(!dead.exists(), "stale tree must be fully removed")
    assert(fresh.exists(), "a possibly-live job's staging must survive")
    assert(!deadMarker.exists(), "a crashed commit's marker must be swept")
    assert(liveMarker.exists(), "an in-flight commit's marker must survive")
    assert(LocalStorage.listDataFiles(dir) == Seq(s"$dir/live-Data.db"),
      "published generations untouched; staged partials never listed")
    // the marker horizon is FLOORED (ADVICE r9): a short user-tuned
    // staging horizon (CALL vacuum older_than_ms) must not sweep the
    // marker of a commit still publishing — that commit's verifyAndEnd
    // would then report a false 'directory REPLACED'. A 5-minute-old
    // staging dir IS swept by olderThanMs=1s; a 5-minute-old marker is
    // NOT (the one-hour floor governs markers).
    val midStage = staging("_staging-mid", ageMs = 5L * 60 * 1000)
    val midMarker = markerFile("_commit-mid", 5L * 60 * 1000)
    val (removed2, _) = SSTableOps.vacuumStaging(dir, olderThanMs = 1000L)
    assert(removed2.map(_.split('/').last).contains("_staging-mid"))
    assert(!midStage.exists(), "the caller horizon still governs staging dirs")
    assert(midMarker.exists(),
      "a possibly-publishing commit's marker must survive a short horizon")
    // crashed catalog appends stage OUTSIDE the table dir (_wstage-
    // siblings in the namespace); vacuum sweeps its own table's stale
    // ones, never a possibly-live one
    val parent = new java.io.File(dir).getParent
    val tname = new java.io.File(dir).getName
    val wDead = new java.io.File(s"$parent/_wstage-$tname-deadjob")
    wDead.mkdirs()
    wDead.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    val wLive = new java.io.File(s"$parent/_wstage-$tname-livejob")
    wLive.mkdirs()
    SSTableOps.vacuumStaging(dir)
    assert(!wDead.exists(), "a crashed append's outside staging must be swept")
    assert(wLive.exists(), "a possibly-live append's staging must survive")
    // the _wstage- horizon is FLOORED at the shared 24 h stage horizon
    // (ADVICE r10): a user-tuned short CALL vacuum horizon must never
    // sweep the live outside staging of a running catalog append whose
    // tasks went idle before the driver committed
    val wIdle = new java.io.File(s"$parent/_wstage-$tname-idletasks")
    wIdle.mkdirs()
    wIdle.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
    SSTableOps.vacuumStaging(dir, olderThanMs = 1000L)
    assert(wIdle.exists(),
      "a 2h-old outside staging must survive a 1s caller horizon (floor)")
    // heartbeat-aware liveness (same rule as the catalog's staged-DDL
    // sweep): a dir whose own mtime is past the horizon but whose
    // heartbeat is fresh belongs to a LIVE long-running append
    val wBeating = new java.io.File(s"$parent/_wstage-$tname-longjob")
    wBeating.mkdirs()
    val hb = new java.io.File(wBeating,
      graft.sources.sstable.spark.GraftCatalog.StageHeartbeatFile)
    hb.createNewFile()
    wBeating.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    SSTableOps.vacuumStaging(dir)
    assert(wBeating.exists(),
      "a stale-mtime dir with a fresh heartbeat is a live append, not litter")
    // vanished-path tolerance (the Hadoop stat-race class): a concurrent
    // staged-DDL sweep can remove an entry between LIST and stat —
    // HadoopStorage.mtime THROWS there; the sweep must treat vanished as
    // already-swept, not abort CALL vacuum mid-pass
    val wGone = new java.io.File(s"$parent/_wstage-$tname-vanish")
    wGone.mkdirs()
    import graft.sources.sstable.{LocalStorage, SeekableInput, Storage}
    val hadoopShaped: Storage = new Storage {
      def open(path: String): SeekableInput = LocalStorage.open(path)
      def length(path: String): Long = LocalStorage.length(path)
      def mtime(path: String): Long = {
        if (path.endsWith("-vanish")) {
          // the racing sweep wins between our LIST and this stat
          LocalStorage.deleteRecursive(path)
          throw new java.io.FileNotFoundException(path)
        }
        LocalStorage.mtime(path)
      }
      def exists(path: String): Boolean = LocalStorage.exists(path)
      def create(path: String): java.io.DataOutputStream = LocalStorage.create(path)
      def delete(path: String): Unit = LocalStorage.delete(path)
      def rename(src: String, dst: String): Unit = LocalStorage.rename(src, dst)
      def replace(src: String, dst: String): Unit = LocalStorage.replace(src, dst)
      def listFiles(d: String): Seq[String] = LocalStorage.listFiles(d)
      def listSubdirs(d: String, prefix: String): Seq[String] =
        LocalStorage.listSubdirs(d, prefix)
      def deleteRecursive(d: String): Unit = LocalStorage.deleteRecursive(d)
      def mkdirs(d: String): Unit = LocalStorage.mkdirs(d)
      def listDataFiles(d: String): Seq[String] = LocalStorage.listDataFiles(d)
    }
    SSTableOps.vacuumStaging(dir, storage = hadoopShaped) // must not throw
    assert(!wGone.exists())
    assert(wBeating.exists() && wIdle.exists(),
      "the vanished-entry race must not change sweep decisions for others")
    Seq(hb, wBeating, wIdle, wLive).foreach(_.delete())
  }

  test("snapshot pins published state across compaction and later flushes") {
    import graft.sources.sstable.{Column, SSTableReader, SSTableRow, SSTableWriter}
    def flush(dir: String, stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.sortWith((a, b) =>
        graft.sources.sstable.SSTableFiles.compareKeys(a.key, b.key) < 0).foreach(w.append)
      finally w.close()
    }
    def norm(n: String, v: String, ts: Long) = Column.Normal(n.getBytes, v.getBytes, ts)
    val dir = Files.createTempDirectory("snap").toString
    flush(dir, "f1", Seq(
      SSTableRow("ka".getBytes, Seq(norm("c", "old", 10L))),
      SSTableRow("kb".getBytes, Seq(norm("c", "b1", 10L)))))
    flush(dir, "f2", Seq(
      SSTableRow("ka".getBytes, Seq(norm("c", "new", 20L))),
      SSTableRow("kc".getBytes, Seq(norm("c", "c1", 20L)))))
    flush(dir, "f3", Seq(
      SSTableRow("kd".getBytes, Seq(norm("c", "d1", 30L))),
      SSTableRow("ke".getBytes, Seq(norm("c", "e1", 30L)))))

    val snap = SSTableOps.snapshot(dir, "run-2026-08-13")
    assert(SSTableReader.listDataFiles(snap).size == 3,
      "snapshot captures every published generation")
    assert(SSTableOps.listSnapshots(dir) == Seq("run-2026-08-13"))
    intercept[IllegalStateException](SSTableOps.snapshot(dir, "run-2026-08-13"))

    // the snapshot subdir is invisible to the live reader
    assert(SSTableReader.listDataFiles(dir).size == 3)

    // compact the live dir to one generation; the snapshot keeps its
    // three filesets AND the identical merged state (hardlinked bytes
    // outlive the live names' unpublish)
    assert(SSTableOps.compactInPlace(spark, dir, minThreshold = 3, minSize = 0L) == 1)
    assert(SSTableReader.listDataFiles(dir).size == 1)
    assert(SSTableReader.listDataFiles(snap).size == 3)
    assert(SSTableOps.diffDirs(spark, dir, snap).count() == 0,
      "merged state must be identical pre/post compaction")

    // a flush AFTER the cut lands only in the live dir
    flush(dir, "late", Seq(SSTableRow("kf".getBytes, Seq(norm("c", "f1", 40L)))))
    assert(spark.read.format("sstable").load(dir)
      .select(col("key")).distinct().count() == 6)
    val snapKeys = spark.read.format("sstable").load(snap)
      .select(col("key").cast("string")).as[String].collect().toSet
    assert(snapKeys == Set("ka", "kb", "kc", "kd", "ke"), s"got $snapKeys")
    // LWW semantics inside the snapshot unchanged
    val kaVal = SSTableOps.compactRows(spark.read.format("sstable").load(snap))
      .filter(col("key").cast("string") === "ka")
      .select(explode(col("columns")).as("c"))
      .select(col("c.value").cast("string")).as[String].collect()
    assert(kaVal.toSeq == Seq("new"))

    // vacuumStaging never touches snapshots (different prefix)
    val (removed, _) = SSTableOps.vacuumStaging(dir, olderThanMs = -1L)
    assert(removed.isEmpty && SSTableReader.listDataFiles(snap).size == 3)

    SSTableOps.dropSnapshot(dir, "run-2026-08-13")
    assert(SSTableOps.listSnapshots(dir).isEmpty)
    assert(spark.read.format("sstable").load(dir)
      .select(col("key")).distinct().count() == 6,
      "dropping a snapshot never touches live data")
  }

  test("expireSnapshots ages pins out; bytes survive under live pins only") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter, SSTableReader}
    def flush(dir: String, stem: String, key: String, ts: Long): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false)
      try w.append(SSTableRow(key.getBytes,
        Seq(Column.Normal("c".getBytes, "v".getBytes, ts))))
      finally w.close()
    }
    val dir = Files.createTempDirectory("expire").toString
    flush(dir, "f1", "ka", 10L)
    SSTableOps.snapshot(dir, "old-epoch")
    flush(dir, "f2", "kb", 20L)
    SSTableOps.snapshot(dir, "young-epoch")

    // age the first pin only — retention reads the _pinned-at stamp
    // (authoritative over dir mtime), so aging means rewinding the stamp
    val oldStamp = new java.io.File(
      s"${SSTableOps.snapshotPath(dir, "old-epoch")}/${SSTableOps.PinnedAtFile}")
    java.nio.file.Files.write(oldStamp.toPath,
      (System.currentTimeMillis() - 10L * 24 * 3600 * 1000).toString.getBytes)

    val (dropped, kept) = SSTableOps.expireSnapshots(dir)
    assert(dropped == Seq("old-epoch") && kept == Seq("young-epoch"))
    assert(SSTableOps.listSnapshots(dir) == Seq("young-epoch"))

    // bytes referenced by the surviving pin are intact: compaction + GC
    // can unpublish live names, the young pin still reads both keys
    while (SSTableOps.compactInPlace(spark, dir, minThreshold = 2, minSize = 0L) > 0) ()
    val youngKeys = spark.read.format("sstable")
      .load(SSTableOps.snapshotPath(dir, "young-epoch"))
      .select(col("key").cast("string")).as[String].collect().toSet
    assert(youngKeys == Set("ka", "kb"), s"live pin must keep its bytes: $youngKeys")
    // live directory unaffected by expiry
    assert(SSTableReader.listDataFiles(dir).nonEmpty)
    assert(spark.read.format("sstable").load(dir)
      .select(col("key")).distinct().count() == 2)
    // a fresh horizon of 0 with nothing stale keeps the young pin
    val (dropped2, kept2) = SSTableOps.expireSnapshots(dir, olderThanMs = -1L)
    assert(dropped2 == Seq("young-epoch") && kept2.isEmpty,
      "negative horizon expires everything — the loud all-clear")
  }

  test("snapshot retention trusts the _pinned-at stamp over synthetic mtimes") {
    import graft.sources.sstable.{Column, LocalStorage, SSTableRow, SSTableWriter, SeekableInput, Storage}
    // adapter whose directory mtimes are synthetic (epoch zero — some
    // object stores stamp listing time or nothing): mtime-keyed
    // retention would expire EVERY pin, young ones included
    val frozen: Storage = new Storage {
      def open(path: String): SeekableInput = LocalStorage.open(path)
      def length(path: String): Long = LocalStorage.length(path)
      def mtime(path: String): Long = 0L
      def exists(path: String): Boolean = LocalStorage.exists(path)
      def create(path: String): java.io.DataOutputStream = LocalStorage.create(path)
      def delete(path: String): Unit = LocalStorage.delete(path)
      def rename(src: String, dst: String): Unit = LocalStorage.rename(src, dst)
      def replace(src: String, dst: String): Unit = LocalStorage.replace(src, dst)
      def listFiles(dir: String): Seq[String] = LocalStorage.listFiles(dir)
      def listSubdirs(dir: String, prefix: String): Seq[String] =
        LocalStorage.listSubdirs(dir, prefix)
      def listDataFiles(d: String): Seq[String] = LocalStorage.listDataFiles(d)
      def deleteRecursive(dir: String): Unit = LocalStorage.deleteRecursive(dir)
      def mkdirs(dir: String): Unit = LocalStorage.mkdirs(dir)
    }
    val dir = Files.createTempDirectory("expire-frozen").toString
    val w = new SSTableWriter(s"$dir/f1-Data.db", compress = false)
    try w.append(SSTableRow("ka".getBytes,
      Seq(Column.Normal("c".getBytes, "v".getBytes, 10L))))
    finally w.close()
    SSTableOps.snapshot(dir, "stamped", frozen)
    // a legacy pin from before the stamp existed: only mtime to go on
    frozen.mkdirs(SSTableOps.snapshotPath(dir, "legacy"))

    val (dropped, kept) = SSTableOps.expireSnapshots(dir, storage = frozen)
    // the stamped pin survives despite the synthetic zero mtime — the
    // capture-time stamp is the authority; the stampless legacy pin
    // falls back to mtime and ages out (the documented fallback)
    assert(kept == Seq("stamped"), s"kept=$kept dropped=$dropped")
    assert(dropped == Seq("legacy"))
    // SQL discovery reports the stamped capture time, not mtime zero
    assert(SSTableOps.snapshotCreatedMs(
      SSTableOps.snapshotPath(dir, "stamped"), frozen) > 0L)
  }

  test("snapshot retries past a fileset unpublished mid-capture") {
    import graft.sources.sstable.{Column, LocalStorage, SSTableFiles, SSTableRow,
      SSTableWriter, SeekableInput, Storage}
    def flush(dir: String, stem: String, rows: Seq[SSTableRow]): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      try rows.foreach(w.append)
      finally w.close()
    }
    def norm(n: String, v: String, ts: Long) = Column.Normal(n.getBytes, v.getBytes, ts)
    val dir = Files.createTempDirectory("snapr").toString
    flush(dir, "a", Seq(SSTableRow("k1".getBytes, Seq(norm("c", "v1", 10L)))))
    flush(dir, "b", Seq(SSTableRow("k2".getBytes, Seq(norm("c", "v2", 10L)))))
    // spy: when the capture loop reaches generation b's Data.db link, a
    // "compaction" has already published a replacement (c) and
    // unpublished b — exactly the publish-before-unpublish window
    var fired = false
    val racing: Storage = new Storage {
      def open(path: String): SeekableInput = LocalStorage.open(path)
      def length(path: String): Long = LocalStorage.length(path)
      def mtime(path: String): Long = LocalStorage.mtime(path)
      def exists(path: String): Boolean = LocalStorage.exists(path)
      def create(path: String): java.io.DataOutputStream = LocalStorage.create(path)
      def delete(path: String): Unit = LocalStorage.delete(path)
      def rename(src: String, dst: String): Unit = LocalStorage.rename(src, dst)
      def replace(src: String, dst: String): Unit = LocalStorage.replace(src, dst)
      def listFiles(dir: String): Seq[String] = LocalStorage.listFiles(dir)
      def listSubdirs(dir: String, prefix: String): Seq[String] =
        LocalStorage.listSubdirs(dir, prefix)
      def deleteRecursive(dir: String): Unit = LocalStorage.deleteRecursive(dir)
      def mkdirs(dir: String): Unit = LocalStorage.mkdirs(dir)
      def listDataFiles(d: String): Seq[String] = LocalStorage.listDataFiles(d)
      override def link(src: String, dst: String): Unit = {
        if (!fired && src.endsWith(s"b${SSTableFiles.DataSuffix}")) {
          fired = true
          flush(dir, "c", Seq(SSTableRow("k2".getBytes, Seq(norm("c", "v2", 10L)))))
          SSTableFiles.unpublish(LocalStorage, s"$dir/b${SSTableFiles.DataSuffix}")
        }
        LocalStorage.link(src, dst)
      }
    }
    val snap = SSTableOps.snapshot(dir, "cut", racing)
    assert(fired, "the race must have fired")
    val names = graft.sources.sstable.SSTableReader.listDataFiles(snap)
      .map(_.split('/').last).toSet
    assert(names == Set("a-Data.db", "c-Data.db"),
      s"replacement captured, vanished input dropped: $names")
    val keys = spark.read.format("sstable").load(snap)
      .select(col("key").cast("string")).as[String].collect().toSet
    assert(keys == Set("k1", "k2"), "full merged state captured")
  }

  test("scrub reports per-file integrity: sorted, stats-consistent, corruption localized") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("scrub").toString
    def gen(stem: String, n: Int): Unit = {
      val w = new SSTableWriter(s"$dir/$stem-Data.db", compress = false,
        summaryInterval = 4)
      (0 until n).foreach(i => w.append(SSTableRow(f"$stem-k$i%04d".getBytes,
        Seq(Column.Normal("c".getBytes, s"v$i".getBytes, i.toLong)))))
      w.close()
    }
    gen("clean", 100)
    gen("victim", 100)
    // structural corruption: truncate the tail (an in-place byte flip in
    // a VALUE region parses fine — uncompressed Data.db carries no
    // checksums, scrub verifies structure; see the scrub scaladoc)
    val raf = new java.io.RandomAccessFile(s"$dir/victim-Data.db", "rw")
    raf.setLength(raf.length() - 10)
    raf.close()
    graft.sources.sstable.SSTableMetadataCache.clear() // victim was rewritten in place
    val rep = SSTableOps.scrub(spark, dir).collect()
      .map(r => r.getString(0).split('/').last -> r).toMap
    val clean = rep("clean-Data.db")
    assert(clean.getLong(1) == 100 && clean.getBoolean(2)
      && clean.getBoolean(3) && clean.isNullAt(4))
    val victim = rep("victim-Data.db")
    assert(!victim.isNullAt(4), "corruption must be reported")
    assert(victim.getLong(1) < 100, "decoded row count stops at the damage")
    assert(!victim.getBoolean(3), "stats cannot match a truncated decode")
  }

  test("scrub repair: truncated generation salvages its good prefix (VERDICT r5 #5)") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    val dir = Files.createTempDirectory("scrub-repair").toString
    def gen(d: String, stem: String, n: Int, from: Int = 0): Unit = {
      val w = new SSTableWriter(s"$d/$stem-Data.db", compress = false,
        summaryInterval = 4)
      (from until n).foreach(i => w.append(SSTableRow(f"$stem-k$i%04d".getBytes,
        Seq(Column.Normal("c".getBytes, s"v$i".getBytes, i.toLong)))))
      w.close()
    }
    gen(dir, "clean", 100)
    gen(dir, "victim", 100)
    val raf = new java.io.RandomAccessFile(s"$dir/victim-Data.db", "rw")
    raf.setLength(raf.length() - 10)
    raf.close()
    graft.sources.sstable.SSTableMetadataCache.clear()

    val rep = SSTableOps.scrub(spark, dir, repair = true).collect()
      .map(r => r.getString(0).split('/').last -> r).toMap
    val victim = rep("victim-Data.db")
    assert(!victim.isNullAt(4), "corruption still reported")
    val salvaged = victim.getLong(1)
    assert(salvaged > 0 && salvaged < 100)
    assert(!victim.isNullAt(5), "repairedTo must name the salvage generation")
    assert(victim.isNullAt(6), s"repair must succeed: ${victim.get(6)}")
    assert(rep("clean-Data.db").isNullAt(5), "healthy generations are not rewritten")

    // the corrupt fileset left the listing — QUARANTINED under
    // `_corrupt-*/`, not destroyed (ADVICE r6: offline tooling keeps a
    // recovery path, like Cassandra's pre-scrub snapshot)
    graft.sources.sstable.SSTableMetadataCache.clear()
    val names = graft.sources.sstable.SSTableReader.listDataFiles(dir)
      .map(_.split('/').last)
    assert(!names.contains("victim-Data.db") && names.size == 2, s"$names")
    val quarantined = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_corrupt-"))
    assert(quarantined.length == 1 &&
      quarantined.head.listFiles().map(_.getName).contains("victim-Data.db"),
      "corrupt original must be preserved in quarantine")
    val keys = spark.read.format("sstable").load(dir)
      .select(col("key").cast("string")).as[String].collect()
    assert(keys.count(_.startsWith("clean")) == 100)
    assert(keys.count(_.startsWith("victim")) == salvaged)

    // diffDirs against a freshly-written expected state confirms the
    // survivors are bit-equal: clean + the victim prefix
    val expect = Files.createTempDirectory("scrub-expect").toString
    gen(expect, "clean", 100)
    gen(expect, "victim", salvaged.toInt)
    assert(SSTableOps.diffDirs(spark, dir, expect).count() == 0,
      "repaired directory must equal the expected survivor state")
  }

  test("scrub repair: an out-of-order generation is re-sorted; hopeless one just unpublishes") {
    import graft.sources.sstable.{Column, SSTableRow, SSTableWriter}
    val tmp = Files.createTempDirectory("scrub-sort-src").toString
    def gen(d: String, stem: String, keys: Seq[String]): Unit = {
      val w = new SSTableWriter(s"$d/$stem-Data.db", compress = false,
        summaryInterval = 4)
      keys.foreach(k => w.append(SSTableRow(k.getBytes,
        Seq(Column.Normal("c".getBytes, "v".getBytes, 1L)))))
      w.close()
    }
    gen(tmp, "z", (0 until 30).map(i => f"z-k$i%04d"))
    gen(tmp, "m", (0 until 30).map(i => f"m-k$i%04d"))
    // hand-build an unsorted generation: z's rows then m's rows in one
    // Data.db (rows are self-delimiting; header length is 0), under z's
    // siblings — sequential decode works, order is broken
    val dir = Files.createTempDirectory("scrub-sort").toString
    val zBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/z-Data.db"))
    val mBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/m-Data.db"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/weird-Data.db"),
      zBytes ++ mBytes)
    for (suf <- Seq("-Index.db", "-Summary.db"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$tmp/z$suf"),
        java.nio.file.Paths.get(s"$dir/weird$suf"))
    graft.sources.sstable.SSTableMetadataCache.clear()

    val rep = SSTableOps.scrub(spark, dir, repair = true).collect()
    assert(rep.length == 1 && !rep.head.getBoolean(2), "must detect unsorted")
    assert(!rep.head.isNullAt(5), "unsorted generation must be repaired")
    graft.sources.sstable.SSTableMetadataCache.clear()
    val keys = spark.read.format("sstable").load(dir)
      .select(col("key").cast("string")).as[String].collect()
    assert(keys.length == 60 && keys.count(_.startsWith("z-")) == 30
      && keys.count(_.startsWith("m-")) == 30, s"got ${keys.length}")
    // the rewritten generation satisfies a fresh scrub
    val clean = SSTableOps.scrub(spark, dir).collect()
    assert(clean.forall(r => r.getBoolean(2) && r.isNullAt(4)))

    // hopeless: a generation whose FIRST row is already undecodable has
    // nothing to salvage — repair unpublishes it and writes nothing
    val dir2 = Files.createTempDirectory("scrub-hopeless").toString
    gen(dir2, "dead", (0 until 10).map(i => f"d-k$i%04d"))
    val raf = new java.io.RandomAccessFile(s"$dir2/dead-Data.db", "rw")
    raf.setLength(3) // not even one row header
    raf.close()
    graft.sources.sstable.SSTableMetadataCache.clear()
    val rep2 = SSTableOps.scrub(spark, dir2, repair = true).collect()
    assert(rep2.head.getLong(1) == 0 && rep2.head.isNullAt(5))
    graft.sources.sstable.SSTableMetadataCache.clear()
    assert(graft.sources.sstable.SSTableReader.listDataFiles(dir2).isEmpty,
      "nothing salvageable: the corrupt fileset leaves the listing")
    // … but the only copy is NOT destroyed: it sits in quarantine
    val q2 = new java.io.File(dir2).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_corrupt-"))
    assert(q2.length == 1 &&
      q2.head.listFiles().map(_.getName).contains("dead-Data.db"),
      "a hopeless repair must quarantine, never delete, the original")
  }

  test("exportCompacted emits one base64 line per row (E1 pipeline)") {
    val df = widerows(
      "r1" -> Seq(col3("a", "NORMAL", "x", 10)),
      "r2" -> Seq(col3("b", "DELETED", null, 20)))
    val lines = SSTableOps.exportCompacted(df).as[String].collect()
    assert(lines.length == 2)
    // every line decodes back to a msgpack row
    lines.foreach { l =>
      val v = MsgPack.decode(java.util.Base64.getDecoder.decode(l))
      assert(v.isInstanceOf[VArr])
    }
  }
}
