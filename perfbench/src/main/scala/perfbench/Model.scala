package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** The benchmark's own model of the data it generates: seeded generators
  * for every workload input, and an independent implementation of the
  * last-writer-wins reconcile rules the answers are checked against.
  * Nothing in this file calls the engine. */
object Model {

  /** One seeded random stream per (seed, purpose, index...) tuple, so an
    * input never depends on the order in which other inputs were drawn. */
  def rng(seed: Long, parts: Long*): SplittableRandom = {
    var h = mix(seed ^ 0x5DEECE66DL)
    parts.foreach(p => h = mix(h ^ (p + 0x9E3779B97F4A7C15L)))
    new SplittableRandom(h)
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  val Live: Long = Long.MinValue

  /** Cell kinds, spelled as the scan schema's `state`. */
  val Normal = "NORMAL"
  val Deleted = "DELETED"
  val Expiring = "EXPIRING"

  final case class Cell(name: String, state: String, value: Array[Byte], ts: Long,
                        ttlSecs: Long = 0L, expiresMillis: Long = 0L)

  /** One row version as one generation stores it. `mfda == Live` means
    * the version carries no row tombstone. */
  final case class Version(key: String, cells: Vector[Cell], mfda: Long = Live,
                           ldt: Int = Int.MaxValue)

  /** A key's reconciled storage view: the newest version of each cell
    * (a delete wins a timestamp tie), everything at or below the newest
    * row tombstone dropped, cells sorted by name. */
  final case class Merged(key: String, cells: Vector[Cell], mfda: Long, ldt: Int)

  private def stateRank(c: Cell): Int = if (c.state == Deleted) 1 else 0

  private def newer(a: Cell, b: Cell): Boolean =
    if (a.ts != b.ts) a.ts > b.ts
    else if (stateRank(a) != stateRank(b)) stateRank(a) > stateRank(b)
    else a.state.compareTo(b.state) > 0

  def reconcile(versions: Seq[Version]): Merged = {
    require(versions.nonEmpty)
    var mfda = Live
    var ldt = Int.MaxValue
    versions.foreach { v =>
      if (v.mfda > mfda || (v.mfda == mfda && v.ldt > ldt)) { mfda = v.mfda; ldt = v.ldt }
    }
    val best = scala.collection.mutable.HashMap.empty[String, Cell]
    versions.foreach(_.cells.foreach { c =>
      best.get(c.name) match {
        case Some(b) if !newer(c, b) =>
        case _ => best(c.name) = c
      }
    })
    val cells = best.values.filter(_.ts > mfda).toVector.sortBy(_.name)
    Merged(versions.head.key, cells, mfda, if (mfda == Live) Int.MaxValue else ldt)
  }

  /** What a time-travel read at `cut` keeps of one stored version: cells
    * and row tombstones written after the cut are invisible, and a
    * version with nothing left did not exist yet. */
  def asOf(v: Version, cut: Long): Option[Version] = {
    val cells = v.cells.filter(_.ts <= cut)
    val mfda = if (v.mfda != Live && v.mfda <= cut) v.mfda else Live
    if (cells.isEmpty && mfda == Live) None
    else Some(v.copy(cells = cells, mfda = mfda, ldt = if (mfda == Live) Int.MaxValue else v.ldt))
  }

  /** What a delete-aware read keeps of one stored version when the key
    * has a pending delete marked at `mark`. */
  def shadowed(v: Version, mark: Long): Option[Version] =
    if (mark == Live) Some(v)
    else {
      val cells = v.cells.filter(_.ts > mark)
      val mfda = if (v.mfda != Live && v.mfda > mark) v.mfda else Live
      if (cells.isEmpty && mfda == Live) None
      else Some(v.copy(cells = cells, mfda = mfda, ldt = if (mfda == Live) Int.MaxValue else v.ldt))
    }

  /** The aggregate a scan query returns and is checked on. */
  final case class Summary(rows: Long, cells: Long, tsSum: Long, deletedCells: Long,
                           tombstoneRows: Long)

  def summarize(rows: Iterable[Merged]): Summary = {
    var n, c, ts, d, t = 0L
    rows.foreach { m =>
      n += 1; c += m.cells.size
      m.cells.foreach { x => ts += x.ts; if (x.state == Deleted) d += 1 }
      if (m.mfda != Live) t += 1
    }
    Summary(n, c, ts, d, t)
  }

  /** Order-sensitive digest of a merged row: names, states, values,
    * timestamps and the row tombstone. */
  def digest(m: Merged): Long = {
    val crc = new java.util.zip.CRC32
    def long(x: Long): Unit = (0 until 8).foreach(i => crc.update((x >>> (8 * i)).toInt & 0xff))
    crc.update(m.key.getBytes(UTF_8))
    m.cells.foreach { c =>
      crc.update(c.name.getBytes(UTF_8)); crc.update(c.state.getBytes(UTF_8))
      if (c.value != null) crc.update(c.value)
      long(c.ts); long(c.ttlSecs); long(c.expiresMillis)
    }
    long(m.mfda)
    crc.getValue ^ (m.cells.size.toLong << 32)
  }

  def randomValue(r: SplittableRandom, minLen: Int, maxLen: Int): Array[Byte] = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    Array.fill(n)(('a' + r.nextInt(26)).toByte)
  }

  // ---------------------------------------------------------------- wide rows

  /** Shape of a multi-generation wide-row table. Cell timestamps are
    * `random * 16 + generation`, so two generations never write the same
    * cell at the same timestamp and the reconcile has one exact answer. */
  final case class WideTable(keys: Int, generations: Int, keepShare: Double,
                             names: Int, minCells: Int, maxCells: Int,
                             deletedShare: Double, expiringShare: Double,
                             rowTombstoneShare: Double, valueLen: Int) {
    def key(i: Int): String = f"k$i%07d"
    def name(i: Int): String = f"c$i%02d"
  }

  val TsSpan: Int = 1 << 20

  /** Generation `gen`'s version of key `i`, or None when the generation
    * does not hold the key. */
  def wideVersion(t: WideTable, seed: Long, gen: Int, i: Int): Option[Version] = {
    val r = rng(seed, 11, gen, i)
    if (r.nextDouble() >= t.keepShare) return None
    val n = t.minCells + r.nextInt(t.maxCells - t.minCells + 1)
    val picked = scala.collection.mutable.TreeSet.empty[Int]
    while (picked.size < math.min(n, t.names)) picked += r.nextInt(t.names)
    val cells = picked.toVector.map { ni =>
      val ts = (1L + r.nextInt(TsSpan)) * 16 + gen
      val u = r.nextDouble()
      if (u < t.deletedShare) Cell(t.name(ni), Deleted, null, ts)
      else if (u < t.deletedShare + t.expiringShare)
        Cell(t.name(ni), Expiring, randomValue(r, t.valueLen / 2, t.valueLen), ts,
          3600L, (1700000000L + r.nextInt(1 << 24)) * 1000) // the format keeps whole seconds
      else Cell(t.name(ni), Normal, randomValue(r, t.valueLen / 2, t.valueLen), ts)
    }
    if (r.nextDouble() < t.rowTombstoneShare)
      Some(Version(t.key(i), cells, (1L + r.nextInt(TsSpan)) * 16 + gen,
        1600000000 + r.nextInt(1 << 20)))
    else Some(Version(t.key(i), cells))
  }

  /** A delete-only generation: pure row tombstones for a share of keys,
    * marked with the low-bits tag 15 so no cell ties them. */
  def deleteVersion(t: WideTable, seed: Long, share: Double, i: Int): Option[Version] = {
    val r = rng(seed, 13, i)
    if (r.nextDouble() >= share) None
    else Some(Version(t.key(i), Vector.empty, (1L + r.nextInt(TsSpan)) * 16 + 15,
      1600000000 + r.nextInt(1 << 20)))
  }
}
