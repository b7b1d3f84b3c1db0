package graft.sources.sstable

/** Data model of the SSTable wide row — the recovered ADT of the
  * reference's external codec (`com.tehasdf.sstable`, surface catalogued in
  * SURVEY.md §1.4; call sites SSTableDataRecordReader.scala:62-72):
  * `Column(name, data, ts)` / `Deleted(name, ts)` /
  * `Expiring(name, data, ttl, expiration, ts)`.
  *
  * Timestamps are µs writer clocks; `ttlSecs` seconds; `expiresMillis` ms
  * epoch (WritableColumn.java:16-21). DELETED columns carry no payload
  * (WritableColumn.java:51-58).
  */
sealed trait Column {
  def name: Array[Byte]
  def timestamp: Long
}
object Column {
  final case class Normal(name: Array[Byte], value: Array[Byte], timestamp: Long)
      extends Column
  final case class Deleted(name: Array[Byte], timestamp: Long) extends Column
  final case class Expiring(name: Array[Byte], value: Array[Byte], ttlSecs: Long,
                            expiresMillis: Long, timestamp: Long) extends Column

  /** Range tombstone (Cassandra 1.2 `RangeTombstone`, column flag 0x10):
    * shadows every same-key column with `name ∈ [name, maxName]`
    * (inclusive, unsigned byte order — BytesType comparator semantics;
    * this engine's columns are untyped bytes throughout) and
    * `timestamp <= markedForDeleteAtMicros`. `name` is the range's MIN
    * bound; `timestamp` is the µs deletion clock (`markedForDeleteAt`),
    * so the existing timestamp-ordered merge rules apply unchanged.
    * The reference never read these (its codec predates them surfacing
    * in its data); real 1.2 files carry them for slice deletes. */
  final case class RangeTombstone(name: Array[Byte], maxName: Array[Byte],
                                  localDeletionTimeSecs: Int,
                                  timestamp: Long) extends Column {
    /** Does this range shadow a column `n@ts`? */
    def shadows(n: Array[Byte], ts: Long): Boolean =
      SSTableFiles.compareKeys(n, name) >= 0 &&
        SSTableFiles.compareKeys(n, maxName) <= 0 && ts <= timestamp
  }

  /** Counter column (Cassandra 1.2 `CounterColumn`, flag 0x04) — a RAW
    * surface only (VERDICT r4 Missing #3): `value` is the serialized
    * partitioned counter context (per-replica shard clocks), which only a
    * replica set can merge; `timestampOfLastDeleteMicros` is counter
    * deletion bookkeeping. Scans surface counters verbatim so a real 1.2
    * directory with counter CFs is readable; every LWW merge path
    * (compactRows / reconcile / lookupJoin) rejects them LOUDLY — merging
    * by timestamp would silently lose increments. */
  final case class Counter(name: Array[Byte], value: Array[Byte],
                           timestampOfLastDeleteMicros: Long,
                           timestamp: Long) extends Column

  /** Uncommitted local counter increment (Cassandra 1.2
    * `CounterUpdateColumn`, flag 0x08; normal wire layout) — same
    * raw-surface / no-merge contract as [[Counter]]. */
  final case class CounterUpdate(name: Array[Byte], value: Array[Byte],
                                 timestamp: Long) extends Column
}

/** Row-level deletion info (Cassandra 1.2 `DeletionTime`):
  * `localDeletionTimeSecs` is the u32 seconds-epoch server clock when the
  * deletion was recorded (used for GC grace), `markedForDeleteAtMicros`
  * the µs writer timestamp that SHADOWS every same-key column with
  * `timestamp <= markedForDeleteAtMicros` — Cassandra's reconcile rule.
  * A live row has no [[RowTombstone]] (on disk:
  * `(Int.MaxValue, Long.MinValue)` — `DeletionTime.LIVE`). */
final case class RowTombstone(localDeletionTimeSecs: Int,
                              markedForDeleteAtMicros: Long) {
  /** Does this tombstone shadow a column written at `tsMicros`? */
  def shadows(tsMicros: Long): Boolean = tsMicros <= markedForDeleteAtMicros
}

final case class SSTableRow(key: Array[Byte], columns: Seq[Column],
                            tombstone: Option[RowTombstone] = None)

object SSTableFiles {
  /** File-naming contract (SURVEY.md §1.4): siblings derived by suffix
    * rewrite from the `-Data.db` path. */
  val DataSuffix = "-Data.db"
  val IndexSuffix = "-Index.db"
  val SummarySuffix = "-Summary.db"
  val CompressionSuffix = "-CompressionInfo.db"
  val FilterSuffix = "-Filter.db"
  val StatisticsSuffix = "-Statistics.db"
  val AllSuffixes: Seq[String] =
    Seq(DataSuffix, IndexSuffix, SummarySuffix, CompressionSuffix, FilterSuffix,
      StatisticsSuffix)

  /** Commit-ordering contract: readers discover filesets by listing
    * `*-Data.db`, so a visible Data.db must imply its siblings are in
    * place. Publish renames siblings FIRST and Data.db LAST; conversely,
    * unpublish (overwrite/truncate) deletes Data.db FIRST so the set
    * vanishes from listings before any sibling goes missing. */
  val PublishOrderSuffixes: Seq[String] =
    Seq(IndexSuffix, SummarySuffix, CompressionSuffix, FilterSuffix,
      StatisticsSuffix, DataSuffix)

  def sibling(dataPath: String, suffix: String): String = {
    require(dataPath.endsWith(DataSuffix), s"not a Data.db path: $dataPath")
    dataPath.dropRight(DataSuffix.length) + suffix
  }

  /** Fileset stem of a Data.db path — the generation's identity (file
    * name minus directory and `-Data.db`): what the `_generation`
    * metadata column surfaces and what snapshot-diff reads compare. */
  def generationStem(dataPath: String): String = {
    require(dataPath.endsWith(DataSuffix), s"not a Data.db path: $dataPath")
    val name = dataPath.substring(dataPath.lastIndexOf('/') + 1)
    name.dropRight(DataSuffix.length)
  }

  /** Remove a fileset from `storage` honoring the unpublish ordering
    * contract (Data.db FIRST — AllSuffixes leads with it): the set
    * leaves reader listings before any sibling goes missing. The single
    * home of an invariant previously restated at five call sites. */
  def unpublish(storage: Storage, dataPath: String): Unit =
    AllSuffixes.foreach { suf =>
      val f = sibling(dataPath, suf)
      if (storage.exists(f)) storage.delete(f)
    }

  /** Publish a STAGED fileset into `targetDir` under its own file names,
    * honoring the publish ordering contract (siblings first, Data.db
    * LAST — PublishOrderSuffixes ends with it): a concurrent reader that
    * lists the Data.db always finds its complete fileset. The dual of
    * [[unpublish]], and the single home of the rename loop every
    * commit shares. `name` maps each staged file name to its published
    * one (streaming epochs drop their attempt id). */
  def publish(storage: Storage, stagedDataPath: String, targetDir: String,
              name: String => String = identity): Unit =
    PublishOrderSuffixes.foreach { suf =>
      val src = sibling(stagedDataPath, suf)
      if (storage.exists(src))
        storage.rename(src, s"$targetDir/${name(src.substring(src.lastIndexOf('/') + 1))}")
    }

  /** [[publish]] via [[Storage.link]] instead of rename — the STAGED
    * copy stays alive, so a caller that later discovers its target
    * directory was swapped away (commit-integrity marker vanished) can
    * republish the same bytes into the replacement directory instead of
    * reporting them lost. Same ordering contract (siblings first,
    * Data.db LAST). On a FIRST publish (`tolerateExisting = false`) an
    * existing destination stays the r9 loud collision failure (link's
    * EEXIST), exactly like the refusing rename; on a REPUBLISH after a
    * detected swap it is tolerated — published names are job-unique, so
    * a file already under our name IS our own earlier link (the swap
    * landed after it). Only worth it where [[Storage.linkIsCheap]] — a
    * copy-backed link would double write IO. */
  def publishLinked(storage: Storage, stagedDataPath: String,
                    targetDir: String, tolerateExisting: Boolean): Unit =
    PublishOrderSuffixes.foreach { suf =>
      val src = sibling(stagedDataPath, suf)
      if (storage.exists(src)) {
        val name = src.substring(src.lastIndexOf('/') + 1)
        val dst = s"$targetDir/$name"
        if (!tolerateExisting || !storage.exists(dst)) storage.link(src, dst)
      }
    }

  /** Unsigned lexicographic byte comparison — the total order of row keys
    * (required for Summary/Index range pruning). */
  def compareKeys(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    a.length - b.length
  }
}
