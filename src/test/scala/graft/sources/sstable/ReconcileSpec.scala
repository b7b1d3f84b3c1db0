package graft.sources.sstable

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The merge rules' algebra: `compactRows` merges map-side partials and
  * then the partials, so [[SSTableReader.reconcile]] must give the same
  * row however its versions are grouped and ordered. */
class ReconcileSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hex(a: Array[Byte]): String =
    if (a == null) "null" else a.map(b => f"${b & 0xff}%02x").mkString

  private def show(c: Column): String = c match {
    case Column.Normal(n, v, ts) => s"N(${hex(n)},${hex(v)},$ts)"
    case Column.Deleted(n, ts) => s"D(${hex(n)},$ts)"
    case Column.Expiring(n, v, ttl, exp, ts) => s"E(${hex(n)},${hex(v)},$ttl,$exp,$ts)"
    case Column.RangeTombstone(lo, hi, ldt, ts) => s"R(${hex(lo)},${hex(hi)},$ldt,$ts)"
    case other => other.toString
  }
  private def show(r: SSTableRow): String =
    s"${hex(r.key)} [${r.columns.map(show).mkString(" ")}] ${r.tombstone}"

  private val key = "k".getBytes

  /** One random version of `key`: few names and a narrow clock, so exact
    * `(timestamp, state)` ties and full ties (the same cell twice) are
    * common; some versions carry no column at all. */
  private def version(rnd: scala.util.Random): SSTableRow = {
    val names = Seq("a", "b", "c", "d")
    def ts() = rnd.nextInt(12).toLong
    val cols = names.filter(_ => rnd.nextDouble() < 0.45).map { n =>
      rnd.nextInt(4) match {
        case 0 => Column.Deleted(n.getBytes, ts())
        case 1 => Column.Expiring(n.getBytes, s"e${rnd.nextInt(2)}".getBytes,
          60L + rnd.nextInt(2), 1000L * rnd.nextInt(2), ts())
        case _ => Column.Normal(n.getBytes, s"v${rnd.nextInt(2)}".getBytes, ts())
      }
    } ++ (if (rnd.nextDouble() < 0.25) {
      val i = rnd.nextInt(names.length)
      val j = i + rnd.nextInt(names.length - i)
      Seq(Column.RangeTombstone(names(i).getBytes, names(j).getBytes, rnd.nextInt(2), ts()))
    } else Nil)
    val tomb = rnd.nextInt(10) match {
      case 0 | 1 => Some(RowTombstone(1700000000 + rnd.nextInt(2), ts()))
      case 2 => Some(RowTombstone(rnd.nextInt(3), Long.MinValue)) // half-LIVE
      case _ => None
    }
    SSTableRow(key, cols, tomb)
  }

  test("reconcile is associative and order-free: partial merges merge to the one-pass row") {
    val rnd = new scala.util.Random(20261020)
    var tied, shadowed, empty = 0
    for (trial <- 0 until 2000) {
      val rows = Seq.fill(rnd.nextInt(9))(version(rnd))
      // a full tie: one version's cells again, in another version
      val withTies =
        if (rows.nonEmpty && rnd.nextBoolean()) rows :+ rows(rnd.nextInt(rows.length)) else rows
      val once = SSTableReader.reconcile(key, withTies)
      val cut = rnd.nextInt(withTies.length + 1)
      val (a, b) = withTies.splitAt(cut)
      val parts = SSTableReader.reconcile(key,
        Seq(SSTableReader.reconcile(key, a), SSTableReader.reconcile(key, b)))
      assert(show(parts) == show(once), s"trial $trial: split at $cut of ${withTies.map(show)}")
      val shuffled = SSTableReader.reconcile(key, rnd.shuffle(withTies))
      assert(show(shuffled) == show(once), s"trial $trial: order-dependent ${withTies.map(show)}")
      // re-adding a result is idempotent
      assert(show(SSTableReader.reconcile(key, Seq(once, once))) == show(once))
      if (withTies.length > rows.length) tied += 1
      if (withTies.map(_.columns.size).sum > once.columns.size) shadowed += 1
      if (once.columns.isEmpty) empty += 1
    }
    // the generator reaches the cases the property is about
    assert(tied > 200 && shadowed > 500 && empty > 100, s"tied=$tied shadowed=$shadowed empty=$empty")
  }

  test("reconcile: half-LIVE tombstones and zero-column rows merge to a live empty row") {
    val halfLive = SSTableRow(key, Nil, Some(RowTombstone(5, Long.MinValue)))
    val bare = SSTableRow(key, Nil)
    assert(show(SSTableReader.reconcile(key, Seq(halfLive, bare))) == show(bare))
    assert(show(SSTableReader.reconcile(key, Nil)) == show(bare))
    // the greater (markedForDeleteAt, localDeletionTime) wins
    val t = SSTableReader.reconcile(key, Seq(SSTableRow(key, Nil, Some(RowTombstone(9, 7L))),
      SSTableRow(key, Nil, Some(RowTombstone(3, 7L))), halfLive))
    assert(t.tombstone.contains(RowTombstone(9, 7L)))
  }

  test("reconcile refuses counters, naming the key; so does compactRows' aggregate") {
    val counter = SSTableRow(key, Seq(Column.CounterUpdate("hits".getBytes, Array[Byte](1), 5L)))
    val named = s"key=${java.util.Base64.getEncoder.encodeToString(key)}"
    val e = intercept[IllegalArgumentException](SSTableReader.reconcile(key, Seq(counter)))
    assert(e.getMessage.contains("no LWW merge semantics") && e.getMessage.contains(named),
      e.getMessage)
    val dir = Files.createTempDirectory("reconcile-counter").toString
    val w = new SSTableWriter(s"$dir/c-Data.db", compress = false)
    try w.append(counter) finally w.close()
    val raw = spark.read.format("sstable").load(dir).select("key", "columns", "rowTombstone")
    val e2 = intercept[Exception](graft.operators.SSTableOps.compactRows(raw).collect())
    assert(e2.getMessage.contains("no LWW merge semantics") && e2.getMessage.contains(named),
      e2.getMessage)
  }

  test("a hot key of 20k versions: compactRows' aggregate == the fold over the same generations") {
    val rnd = new scala.util.Random(7)
    val dir = Files.createTempDirectory("reconcile-hot").toString
    val names = (0 until 300).map(i => f"n$i%03d".getBytes)
    val files = (0 until 4).map { g =>
      val path = s"$dir/gen$g-Data.db"
      val w = new SSTableWriter(path, compress = g % 2 == 0)
      try {
        w.append(SSTableRow("cold".getBytes, Seq(Column.Normal("x".getBytes, "v".getBytes, g))))
        (0 until 5000).foreach { i =>
          val ni = rnd.nextInt(names.length)
          val n = names(ni)
          val ts = rnd.nextInt(100000).toLong
          val col = rnd.nextInt(20) match {
            case 0 => Column.Deleted(n, ts)
            case 1 => Column.RangeTombstone(n, names(math.min(ni + rnd.nextInt(5), 299)), 1, ts)
            case 2 => Column.Expiring(n, s"e$g".getBytes, 60L, 1000L, ts)
            case _ => Column.Normal(n, s"v$g$i".getBytes, ts)
          }
          val tomb =
            if (i == 2500) Some(RowTombstone(1700000000 + g, 20000L + g)) else None
          w.append(SSTableRow("hot".getBytes, Seq(col), tomb))
        }
      } finally w.close()
      path
    }
    val fold = new SSTableReader.Fold(files.map(SSTableReader.Fold.Slice.whole), LocalStorage,
      gc = false)
    val expected = try fold.map(show).toList finally fold.close()

    // a projection is not a bare read, so compactRows aggregates
    val raw = spark.read.format("sstable").option("targetsplitbytes", "20000").load(dir)
    val merged = graft.operators.SSTableOps.compactRows(raw.select("key", "columns", "rowTombstone"))
    assert(!merged.queryExecution.executedPlan.toString.contains("view=reconciled"))
    def cell(c: Row): Column = {
      val (n, v, ts) = (c.getAs[Array[Byte]]("name"), c.getAs[Array[Byte]]("value"),
        c.getAs[Long]("timestamp"))
      c.getAs[String]("state") match {
        case "NORMAL" => Column.Normal(n, v, ts)
        case "DELETED" => Column.Deleted(n, ts)
        case "EXPIRING" => Column.Expiring(n, v, c.getAs[Long]("ttlSecs"),
          c.getAs[Long]("expiresMillis"), ts)
        case "RANGE_TOMBSTONE" => Column.RangeTombstone(n, v, c.getAs[Long]("ttlSecs").toInt, ts)
      }
    }
    val got = merged.orderBy(col("key")).collect().map { r =>
      show(SSTableRow(r.getAs[Array[Byte]]("key"), r.getSeq[Row](1).map(cell),
        Option(r.getStruct(2)).map(t => RowTombstone(t.getInt(0), t.getLong(1)))))
    }.toList
    assert(got.length == 2 && expected.length == 2)
    assert(got == expected)
  }
}
