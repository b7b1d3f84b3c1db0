package graft.sources.sstable.spark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SSTableOps
import graft.sources.sstable.{Column, CorruptSSTableException, RowTombstone, SSTableRow,
  SSTableWriter}

/** The reconciled read (`view=reconciled`): one key-range layout over
  * every generation, each task merging its slices in the reader. Pins
  * the route `compactRows` takes over a bare read, what the view
  * refuses, its task metrics and its damage handling. Row equality with
  * the DataFrame algebra is `SSTableOpsSpec`'s property. */
class ReconciledScanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.GraftExtensions.register(s)
    s
  }

  private def freshDir(name: String): String = Files.createTempDirectory(name).toString

  private def gen(dir: String, stem: String, rows: Seq[SSTableRow],
                  sorted: Boolean = true): String = {
    val f = s"$dir/$stem-Data.db"
    val w = new SSTableWriter(f, chunkLength = 256, summaryInterval = 4, enforceSorted = sorted)
    try rows.foreach(w.append) finally w.close()
    f
  }
  private def row(k: String, v: String, ts: Long): SSTableRow =
    SSTableRow(k.getBytes, Seq(Column.Normal("c".getBytes, v.getBytes, ts)))
  private def key(i: Int): String = f"k$i%02d"

  /** Three snappy generations with known counts: 19 row versions of 11
    * keys. `a` holds k00–k09; `b` k00–k04 (newer) with a row tombstone on
    * k02 that shadows both its cells; `c` a run of three k05 versions and
    * k10. */
  private lazy val fixture: String = {
    val dir = freshDir("reconciled-fx")
    gen(dir, "a", (0 until 10).map(i => row(key(i), s"a$i", 10L + i)))
    gen(dir, "b", (0 until 5).map { i =>
      val r = row(key(i), s"b$i", 100L + i)
      if (i == 2) r.copy(tombstone = Some(RowTombstone(1700000000, 103L))) else r
    })
    gen(dir, "c", Seq(row(key(5), "c5x", 200L), row(key(5), "c5y", 201L),
      row(key(5), "c5z", 199L), row(key(10), "c10", 210L)))
    dir
  }

  private def read(dir: String, opts: (String, String)*): DataFrame =
    spark.read.format("sstable").option("targetsplitbytes", "64").options(opts.toMap).load(dir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def batchScans(p: SparkPlan): Seq[BatchScanExec] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
      case q: QueryStageExec => batchScans(q.plan)
      case b: BatchScanExec => Seq(b)
      case _ => Nil
    }
    self ++ p.children.flatMap(batchScans)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("key").cast("string"), col("columns"), col("rowTombstone"))))
      .collect().map(_.getString(0)).sorted.toSeq

  private def chain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: chain(t.getCause)

  test("compactRows over a bare sstable read merges in the reader: no hash exchange") {
    val bare = SSTableOps.compactRows(read(fixture))
    assert(plan(bare).contains("view=reconciled"), plan(bare))
    assert(!plan(bare).contains("Exchange hashpartitioning"), plan(bare))
    // key filters commute with the merge: re-applied above the reconciled read
    val inRange = col("key") >= lit(key(3).getBytes) && col("key") < lit(key(6).getBytes)
    val filtered = SSTableOps.compactRows(read(fixture).filter(inRange))
    assert(plan(filtered).contains("keyRangePruned view=reconciled"), plan(filtered))
    assert(!plan(filtered).contains("Exchange hashpartitioning"), plan(filtered))
    // a projection is not a bare read: the algebra, two agg shuffles
    val projected = SSTableOps.compactRows(read(fixture).select("key", "columns", "rowTombstone"))
    assert("Exchange hashpartitioning".r.findAllIn(plan(projected)).length == 2,
      plan(projected))
    assert(canon(bare) == canon(projected))
    assert(canon(filtered) == canon(projected.filter(inRange)))
    assert(canon(bare).length == 11)
    // the scan tests the key filters itself, so they guard predicates pushed
    // down from above: outside whole-stage codegen, subexpression
    // elimination evaluates the repeated cast before the guard, and the
    // cast fails on the filtered-out key
    val guarded = freshDir("reconciled-guard")
    gen(guarded, "a", Seq(row("1", "x", 1L), row("2", "y", 2L), row("_meta", "m", 3L)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val ids = SSTableOps.compactRows(read(guarded).filter(col("key") =!= lit("_meta".getBytes)))
        .select(col("key").cast("string").cast("bigint").as("id"))
        .filter(col("id") > 1 && col("id") < 10)
      assert(ids.collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    // suppressTombstones inherits the route; k02's tombstone shadows its b2 cell
    val live = SSTableOps.suppressTombstones(read(fixture))
    assert(plan(live).contains("view=reconciled"))
    assert(live.count() == 10)
  }

  test("view=reconciled: rows schema, key order per partition; refuses what a merged row " +
    "cannot answer") {
    val rec = read(fixture, "view" -> "reconciled")
    assert(rec.schema == SSTableSchema.schema)
    // ascending key order per partition: a partition-local key sort is free
    assert(!plan(rec.sortWithinPartitions("key")).contains("Sort ["),
      plan(rec.sortWithinPartitions("key")))
    // aggregates are not answered from sidecars (they count row versions)
    val counted = rec.agg(count(lit(1)))
    assert(!plan(counted).contains("statsOnlyAggregate"), plan(counted))
    assert(counted.collect().head.getLong(0) == 11L)
    // a pushed limit caps each merged range, never prunes a generation
    assert(rec.limit(3).collect().map(_.getAs[Array[Byte]]("key").toSeq).distinct.length == 3)
    assert(read(fixture, "view" -> "reconciled").limit(20).count() == 11L)
    // a merged row has no one fileset or change type
    Seq("_generation", "_change_type").foreach { c =>
      intercept[AnalysisException](rec.select(col("key"), col(c)).collect())
    }
    intercept[IllegalArgumentException](
      read(fixture, "view" -> "reconciled", "buckets" -> "4").collect())
    val sq = spark.readStream.format("sstable").option("view", "reconciled").load(fixture)
      .writeStream.format("noop").option("checkpointLocation", freshDir("reconciled-ck")).start()
    val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
      sq.awaitTermination()
    }
    sq.stop()
    assert(chain(se).exists(t => Option(t.getMessage).exists(_.contains("batch-only"))), se)
    intercept[IllegalArgumentException](read(fixture).write.format("sstable")
      .option("view", "reconciled").mode("append").save(freshDir("reconciled-sink")))
    // the probe join emits raw row versions: a key join over the reconciled
    // view stays a scan join and sees merged rows
    val probes = spark.range(0, 3).select(format_string("k%02d", col("id")).cast("binary").as("k"))
    val joined = rec.join(broadcast(probes), col("key") === col("k"))
    assert(!plan(joined).contains("SSTableLookupJoin"), plan(joined))
    assert(joined.count() == 3L)
  }

  test("reconciled task metrics report the merge fan-in") {
    val rec = read(fixture, "view" -> "reconciled")
    rec.collect()
    val scan = batchScans(rec.queryExecution.executedPlan).head
    assert(scan.inputRDD.getNumPartitions > 1, "the fixture should plan several key ranges")
    assert(scan.metrics("rowVersionsRead").value == 19L)
    assert(scan.metrics("reconciledRows").value == 11L)
  }

  test("a damaged generation fails the reconciled read naming the file, never with a raw " +
    "array index error") {
    def generations(dir: String): Seq[String] = (0 until 3).map { g =>
      gen(dir, s"g$g", (0 until 300).map(i => row(f"k$i%04d", s"v$g-$i", g * 1000L + i)))
    }
    def failure(dir: String): Seq[Throwable] = {
      val e = intercept[Exception](SSTableOps.compactRows(read(dir)).collect())
      chain(e)
    }
    def assertNames(trail: Seq[Throwable], file: String, what: String = ""): Unit = {
      assert(trail.exists(t => t.isInstanceOf[CorruptSSTableException] &&
        t.getMessage.contains(file) && t.getMessage.contains(what)),
        trail.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n"))
      assert(!trail.exists(_.isInstanceOf[ArrayIndexOutOfBoundsException]), trail)
    }
    // a flipped byte in a snappy chunk
    val flipped = freshDir("reconciled-flip")
    val f = generations(flipped)(1)
    val bytes = Files.readAllBytes(Paths.get(f))
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(Paths.get(f), bytes)
    assertNames(failure(flipped), f)
    // a truncated snappy Data.db
    val truncated = freshDir("reconciled-trunc")
    val t = generations(truncated)(2)
    val all = Files.readAllBytes(Paths.get(t))
    Files.write(Paths.get(t), java.util.Arrays.copyOf(all, all.length * 3 / 5))
    assertNames(failure(truncated), t)
    // a generation whose keys go backwards
    val unsorted = freshDir("reconciled-unsorted")
    gen(unsorted, "good", Seq("a", "c", "e").map(k => row(k, k, 1L)))
    val bad = gen(unsorted, "bad", Seq("b", "d", "c").map(k => row(k, k, 2L)), sorted = false)
    assertNames(failure(unsorted), bad, "backwards")
  }
}
