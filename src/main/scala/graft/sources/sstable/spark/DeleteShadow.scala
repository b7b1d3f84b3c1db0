package graft.sources.sstable.spark

import graft.sources.sstable._

/** Reader-side shadow map for delete-aware (`applydeletes`) scans: the
  * merged `(key → newest markedForDeleteAtMicros)` content of a
  * directory's DELETE-ONLY generations.
  *
  * The LSM delete model (Cassandra's, which the reference stores but
  * never applies across files — SSTableData.scala keeps tombstones as
  * data): a `DELETE` appends one tiny generation of row tombstones
  * (O(deleted keys) IO, nothing rewritten), and readers shadow cells
  * with `timestamp <= markedAt` at decode ([[Visibility]]). A
  * delete-only generation is PROVABLE from its v2+ `-Statistics.db`
  * alone — rows but zero cells, every row a tombstone — so detection
  * costs one cached sidecar read, no naming convention. Because the
  * whole generation is representable as this map, hoisting it
  * driver-side ([[ReadSnapshot]]) and excluding it from split planning
  * is pure optimization of the same merge semantics
  * [[graft.operators.SSTableOps.compactRows]] applies; compaction later
  * folds the tombstones into the data (and GCs them when isolated),
  * shrinking the map back to nothing.
  *
  * Scale contract: the map holds keys deleted SINCE THE LAST COMPACTION,
  * not all keys — bounded by [[SSTableSource.MaxDeleteKeysOption]]
  * (loud failure pointing at compaction, never a silent wrong answer).
  * Keys are sorted; executor-side lookups are binary searches. */
final class DeleteShadow(keys: Array[Array[Byte]], marked: Array[Long])
    extends Serializable {
  def isEmpty: Boolean = keys.length == 0
  def nonEmpty: Boolean = keys.length > 0
  def size: Int = keys.length

  /** Newest delete timestamp shadowing `key`, or `Long.MinValue` when the
    * key has no pending delete (shadows nothing: every real cell
    * timestamp exceeds it). */
  def markedAt(key: Array[Byte]): Long = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = SSTableFiles.compareKeys(keys(mid), key)
      if (c == 0) return marked(mid)
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    Long.MinValue
  }
}

object DeleteShadow {
  val Empty = new DeleteShadow(Array.empty, Array.empty)

  /** Is this generation delete-only? Provable from the v2+ sidecar:
    * rows but zero cells, every row a (non-LIVE) tombstone. Stats-less
    * or v1 generations are never classified delete-only — they plan as
    * normal data (raw fidelity; their tombstones still merge in
    * compactRows), so a wrong classification is impossible. */
  def isDeleteOnly(stats: Option[SSTableStatistics]): Boolean =
    stats.exists(s => s.rowCount > 0 && s.tombstoneCount >= s.rowCount &&
      s.cellStats.exists(_.cellCount == 0))

  /** Load + merge the delete generations' content (driver-side, at batch
    * planning — same freshness contract as the rest of the plan).
    * `asOfMicros` composes: a time-travel read only honors deletes
    * marked at or before the cut. */
  def load(deleteGens: Seq[String], storage: Storage,
           asOfMicros: Option[Long], maxKeys: Int): DeleteShadow = {
    if (deleteGens.isEmpty) return Empty
    val m = new java.util.TreeMap[Array[Byte], java.lang.Long](
      new java.util.Comparator[Array[Byte]] {
        override def compare(a: Array[Byte], b: Array[Byte]): Int =
          SSTableFiles.compareKeys(a, b)
      })
    deleteGens.foreach { f =>
      val r = new SSTableReader(f, storage)
      val it = r.rows(DataFile.HeaderLen, r.dataLength)
      try it.foreach { row =>
        row.tombstone.foreach { t =>
          val mfda = t.markedForDeleteAtMicros
          if (mfda != Long.MinValue && asOfMicros.forall(mfda <= _)) {
            val cur = m.get(row.key)
            if (cur == null || cur.longValue() < mfda) m.put(row.key, mfda)
            // per-ROW bound: the check must fire before one oversized
            // generation builds a multi-GB driver map, not after it
            if (m.size > maxKeys)
              throw new IllegalStateException(
                s"delete shadow exceeds $maxKeys keys (${deleteGens.length} delete " +
                  "generations pending) — run SSTableOps.compactInPlace to fold " +
                  s"deletes into the data, or raise ${SSTableSource.MaxDeleteKeysOption}")
          }
        }
      } finally it.close()
    }
    val ks = new Array[Array[Byte]](m.size)
    val ts = new Array[Long](m.size)
    var i = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      ks(i) = e.getKey
      ts(i) = e.getValue
      i += 1
    }
    new DeleteShadow(ks, ts)
  }
}
