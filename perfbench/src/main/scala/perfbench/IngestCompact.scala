package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.operators.SSTableOps
import graft.sources.sstable.spark.SSTableSchema
import Model._

/** One generated DML statement. `Insert` rows carry their write clock;
  * `Merge` cells are stamped by the engine. */
sealed trait Stmt { def rows: Vector[IngestStream.KeyCells] }
final case class Insert(rows: Vector[IngestStream.KeyCells], ts: Long) extends Stmt
final case class Delete(keys: Vector[String]) extends Stmt { def rows = Vector.empty }
final case class Merge(rows: Vector[IngestStream.KeyCells]) extends Stmt

/** The seeded statement stream of `ingest_compact` and the model it
  * replays into: rounds of ten statements, seven upsert batches, two key
  * deletes and one merge, in a fixed order. The seed draws the keys and
  * cells; a fixed order keeps every seed's timed window to the same mix
  * of statement kinds. Spark-free. */
final class IngestStream(seed: Long) {
  import IngestStream._
  val state = mutable.TreeMap.empty[String, mutable.TreeMap[String, Array[Byte]]]
  private var clock = 0L
  private var nextKey = 0
  private var stmt = 0L

  private def cells(r: java.util.SplittableRandom, n: Int): Vector[(String, Array[Byte])] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until Names).toVector).take(n).sorted
      .map(i => (f"c$i%02d", randomValue(r, ValueLen / 2, ValueLen)))

  private def newRow(r: java.util.SplittableRandom): KeyCells = {
    nextKey += 1
    (f"u${nextKey - 1}%08d", cells(r, 2 + r.nextInt(3)))
  }

  private def liveKeys(r: java.util.SplittableRandom, n: Int): Vector[String] = {
    val ks = state.keysIterator.toVector
    Vector.fill(n)(ks(r.nextInt(ks.size))).distinct
  }

  private def upsert(rows: Vector[KeyCells]): Unit = rows.foreach { case (k, cs) =>
    val m = state.getOrElseUpdate(k, mutable.TreeMap.empty)
    cs.foreach { case (n, v) => m(n) = v }
  }

  /** The initial load of `BaseKeys` new keys. */
  def base(): Insert = {
    val r = Model.rng(seed, 50)
    clock += 1
    val rows = Vector.fill(BaseKeys)(newRow(r))
    upsert(rows)
    Insert(rows, clock)
  }

  private def insert(r: java.util.SplittableRandom): Insert = {
    val over = liveKeys(r, (BatchRows * OverwriteShare).toInt).map(k => (k, cells(r, 1 + r.nextInt(3))))
    val rows = over ++ Vector.fill(BatchRows - over.size)(newRow(r))
    clock += 1
    upsert(rows)
    Insert(rows, clock)
  }

  def next(): Stmt = {
    val r = Model.rng(seed, 51, stmt)
    val kind = Round((stmt % Round.size).toInt)
    stmt += 1
    kind match {
      case "insert" => insert(r)
      case "delete" =>
        val ks = liveKeys(r, DeleteKeys)
        ks.foreach(state.remove)
        // the engine marks a delete past every timestamp present; later
        // writes must be newer than that mark
        clock += 10
        Delete(ks)
      case "merge" =>
        val rows = liveKeys(r, MergeRows / 2).map(k => (k, cells(r, 2 + r.nextInt(3)))) ++
          Vector.fill(MergeRows / 2)(newRow(r))
        rows.foreach { case (k, cs) => state(k) = mutable.TreeMap(cs: _*) }
        clock += 10
        Merge(rows)
    }
  }

  /** The live state as the final check compares it: key -> (name, state, value). */
  def expected: Map[String, Vector[(String, String, String)]] = state.map { case (k, m) =>
    k -> m.toVector.map { case (n, v) => (n, Normal, new String(v, UTF_8)) }
  }.toMap
}

object IngestStream {
  type KeyCells = (String, Vector[(String, Array[Byte])])
  val BaseKeys = 4000
  val BatchRows = 200
  val OverwriteShare = 0.3
  val DeleteKeys = 20
  val MergeRows = 40
  val Names = 8
  val ValueLen = 24
  val Round: Vector[String] =
    Vector("insert", "insert", "delete", "insert", "merge", "insert", "insert", "delete", "insert", "insert")

  def cellBytes(r: KeyCells): Long = r._2.map { case (n, v) => r._1.length + n.length + v.length + 8L }.sum
}

/** `ingest_compact`: one writer sends the seeded [[IngestStream]] as SQL
  * DML to a catalog table with an `autocompact` threshold, so folds run
  * inside the committing statements. A fresh reconciled read must equal
  * the stream's model at the end. The loop stops at the deadline, not at
  * a round boundary: the table grows round by round, so a whole-round stop
  * would make a run's statement count, and with it its latencies, jump
  * between one round and two. */
final class IngestCompact(ctx: Ctx) extends Workload(ctx) {
  val name = "ingest_compact"
  override def reportsCells: Boolean = true
  /** Data generations a commit may leave before it folds. A fold brings
    * the count back to exactly this bound, so once the table reaches it
    * every upsert folds its smallest generations, while deletes publish
    * delete-only generations that autocompact never folds. */
  val autocompact = 4
  // With the first, six statements of the stream: five of them publish
  // data generations, so the table has passed the bound and timing starts
  // in the steady state.
  override def warmOps: Int = 5

  private var table: String = _
  private var tableDir: File = _
  private var stream: IngestStream = _
  private var seen = Set.empty[String] // component files already published
  // untraced timed loop: bytes published and user cell bytes written
  private var publishedBytes, userBytes = 0L
  // traced loop
  private val commitMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private var tracedOps, folds, bytesRewritten, genSum = 0L
  private var publishedFiles = Vector.empty[File]

  def setup(rep: Int): Unit = {
    val spark = ctx.spark
    if (rep == 0) spark.sql("CREATE NAMESPACE IF NOT EXISTS pb.ns")
    table = s"pb.ns.t$rep"
    spark.sql(s"CREATE TABLE $table TBLPROPERTIES('autocompact'='$autocompact')")
    tableDir = ctx.work.resolve("catalog").resolve("ns").resolve(s"t$rep").toFile
    stream = new IngestStream(ctx.seed)
    execute(stream.base())
    seen = files().map(_.getPath).toSet
  }

  private def files(): Vector[File] =
    Option(tableDir.listFiles()).toVector.flatten.filter(f => f.isFile && f.getName.endsWith(".db"))

  private def view(rows: Vector[IngestStream.KeyCells], ts: Long): Unit =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, cs) =>
      Row(k.getBytes(UTF_8), cs.map { case (n, v) => Row(n.getBytes(UTF_8), Normal, v, ts, 0L, 0L) }, null)
    }: _*), SSTableSchema.schema).createOrReplaceTempView("pb_src")

  private def hex(k: String): String = "X'" + k.getBytes(UTF_8).map(b => f"$b%02X").mkString + "'"

  /** Runs one statement; returns its latency. */
  private def execute(s: Stmt): Long = {
    val t0 = System.nanoTime()
    val sql = s match {
      case Insert(rows, ts) =>
        view(rows, ts)
        s"INSERT INTO $table SELECT * FROM pb_src"
      case Delete(keys) => s"DELETE FROM $table WHERE key IN (${keys.map(hex).mkString(", ")})"
      case Merge(rows) =>
        view(rows, 0L)
        s"MERGE INTO $table t USING pb_src s ON t.key = s.key " +
          "WHEN MATCHED THEN UPDATE SET columns = s.columns " +
          "WHEN NOT MATCHED THEN INSERT (key, columns, rowTombstone) VALUES (s.key, s.columns, NULL)"
    }
    ctx.tracer.span("sstable_spark", "commit")(ctx.spark.sql(sql))
    System.nanoTime() - t0
  }

  def op(client: Int, seq: Long): OpResult = {
    val s = stream.next()
    val before = files()
    val ns = execute(s)
    // what the statement published, read outside its latency
    val after = files()
    val fresh = after.filterNot(f => seen.contains(f.getPath))
    seen ++= fresh.map(_.getPath)
    if (seq >= 0 && !ctx.tracer.on) {
      publishedBytes += fresh.map(_.length).sum
      userBytes += s.rows.map(IngestStream.cellBytes).sum
    }
    if (ctx.tracer.on) {
      commitMs.add(ns / 1e6)
      tracedOps += 1
      publishedFiles ++= fresh
      genSum += after.count(_.getName.endsWith("-Data.db"))
      if (before.exists(f => !f.exists())) { folds += 1; bytesRewritten += fresh.map(_.length).sum }
    }
    OpResult(ns, s.rows.map(_._2.size.toLong).sum)
  }

  override def finalCheck(): Seq[String] = {
    val got = SSTableOps.suppressTombstones(ctx.spark.table(table)).collect().map { r =>
      new String(r.getAs[Array[Byte]]("key"), UTF_8) -> r.getSeq[Row](r.fieldIndex("columns")).map(c =>
        (new String(c.getAs[Array[Byte]]("name"), UTF_8), c.getAs[String]("state"),
          new String(c.getAs[Array[Byte]]("value"), UTF_8))).sorted.toVector
    }.toMap
    IngestCompact.diff(got, stream.expected).toSeq
  }

  override def e2eExtras(): Seq[Metric] = {
    val onDisk = files().map(_.length).sum.toDouble
    val live = stream.state.iterator.map { case (k, m) => IngestStream.cellBytes((k, m.toVector)) }.sum
    Seq(Metric("write_amp", publishedBytes.toDouble / math.max(1L, userBytes), "ratio"),
      Metric("space_amp", onDisk / math.max(1L, live), "ratio"))
  }

  override def layerMetrics(traced: LoopStats): Seq[Metric] = {
    import scala.jdk.CollectionConverters._
    val ops = math.max(1L, tracedOps).toDouble
    Seq(
      Metric("sstable_spark.commit_ms", Stats.median(commitMs.asScala.toSeq), "ms"),
      Metric("sstable_spark.folds", folds / ops, "folds/op"),
      Metric("sstable_spark.generations_after_commit", genSum / ops, "count"),
      Metric("sstable_spark.bytes_rewritten", bytesRewritten / ops, "B/op")) ++
      Calibrate.componentBytes(publishedFiles).map(m => m.copy(value = m.value / ops, unit = "B/op")) ++
      Calibrate.codec(ctx, files().map(_.getPath).filter(_.endsWith("-Data.db")), encode = true)
  }
}

object IngestCompact {
  /** The reconciled table must equal the model key for key, cell for cell. */
  def diff(got: Map[String, Vector[(String, String, String)]],
           want: Map[String, Vector[(String, String, String)]]): Option[String] =
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted.find(k => got.get(k) != want.get(k)).get
      Some(s"reconciled table has ${got.size} keys, model ${want.size}; first difference at " +
        s"$bad: got ${got.get(bad)}, want ${want.get(bad)}")
    }
}
