package graft.sources.sstable.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualNullSafe, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.sstable._

/** The generations one read of a directory sees, listed once: the
  * `sincesnapshot` floor applied, the table pointer re-checked after the
  * listing, and — for delete-aware reads — the delete-only generations
  * split from the data. Every sstable reader of a directory (the scan,
  * the stats sweep, the index source, the probe join, the generations
  * view) plans from one snapshot, so they share one listing policy.
  * Freshness is per snapshot: take one per planning pass, and pair the
  * partitions and the delete shadow planned from it. */
final case class ReadSnapshot(listed: Seq[String], data: Seq[String],
                              deleteOnly: Seq[String], storage: Storage) {
  /** The merged shadow of the delete-only generations (only deletes
    * marked at or before `asOfMicros` when set), or None when no delete
    * is pending (always, unless the snapshot split deletes). Broadcast, so every concurrent task on an executor
    * shares one map instead of deserializing its own copy from the task
    * binary; not sliced per split, since the sorted keys serve any split
    * with one binary search per row. */
  def pendingDeletes(asOfMicros: Option[Long],
                     maxKeys: Int): Option[Broadcast[DeleteShadow]] =
    Some(DeleteShadow.load(deleteOnly, storage, asOfMicros, maxKeys)).filter(_.nonEmpty)
      .map(SparkSession.active.sparkContext.broadcast(_))
}

object ReadSnapshot {
  /** List `path` for the read named by `at` (it appears in refusals).
    * `sinceDir` drops the generations pinned in that snapshot: filesets
    * are immutable and stems unique within a directory, so the basename
    * identifies the generation. The pointer is re-checked after the
    * listing, because a DROP or REPLACE committing since resolution can
    * leave a half-destroyed residue that would read as a silent subset;
    * `catalogManaged` also refuses an empty listing whose `_table` is
    * gone (a DROP's final instant). `splitDeletes` moves the delete-only
    * generations, provable from their sidecars, out of `data`. */
  def apply(storage: Storage, path: String, at: String,
            sinceDir: Option[String] = None, catalogManaged: Boolean = false,
            splitDeletes: Boolean = false): ReadSnapshot = {
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val all = storage.listDataFiles(path)
    val listed = sinceDir match {
      case None => all
      case Some(d) =>
        val pinned = storage.listDataFiles(d).map(name).toSet
        all.filterNot(f => pinned(name(f)))
    }
    if (listed.isEmpty && !storage.exists(path))
      throw new IllegalStateException(s"$path vanished between resolution and " +
        s"$at (a completed swap or migration removed it) — rerun the query")
    GraftCatalog.requirePostListState(storage, path, listed.isEmpty, catalogManaged, at)
    val (deletes, data) =
      if (splitDeletes) listed.partition(f =>
        DeleteShadow.isDeleteOnly(new SSTableReader(f, storage).statistics))
      else (Nil, listed)
    ReadSnapshot(listed, data, deletes, storage)
  }
}

/** The one visibility rule of decoded data: the `ttlasofms` expiry, the
  * `asofmicros` cut and the pending-delete shadow. Rows, cells and the
  * probe join all apply it, so their views of one directory agree. */
final class Visibility(ttlAsOfMs: Option[Long], asOfMicros: Option[Long],
                       shadow: Option[DeleteShadow]) {
  /** The key's pending delete mark; `Long.MinValue` (shadows nothing)
    * when it has none. */
  def markOf(key: Array[Byte]): Long = shadow match {
    case Some(s) => s.markedAt(key)
    case None => Long.MinValue
  }

  private def afterCut(ts: Long): Boolean = asOfMicros match {
    case Some(t) => ts > t
    case None => false
  }

  /** Is cell `c`, of a row whose key carries delete mark `mark`,
    * visible? Expired EXPIRING cells, cells written after the cut and
    * cells at or before the mark are not. A range tombstone's timestamp
    * is its deletion clock, so the cut applies to every cell kind. */
  def cell(c: Column, mark: Long): Boolean =
    (mark == Long.MinValue || c.timestamp > mark) && !afterCut(c.timestamp) &&
      (ttlAsOfMs match {
        case Some(t) => c match {
          case Column.Expiring(_, _, _, exp, _) => exp > t
          case _ => true
        }
        case None => true
      })

  /** One decoded row as this read sees it, or None when it vanishes.
    * TTL alone never drops a row: it only empties columns. Under an
    * as-of cut or a delete mark on the key, the row tombstone is hidden
    * when marked after the cut or at/before the mark, and the row is
    * dropped when nothing anchors it: no visible cell and no real
    * visible tombstone (a half-LIVE `Long.MinValue` mark anchors
    * nothing). A re-insert after a delete survives: its cells outdate
    * the mark. */
  def row(r: SSTableRow): Option[SSTableRow] = {
    val mark = markOf(r.key)
    if (asOfMicros.isEmpty && mark == Long.MinValue)
      Some(if (ttlAsOfMs.isEmpty) r else r.copy(columns = r.columns.filter(cell(_, mark))))
    else {
      val cols = r.columns.filter(cell(_, mark))
      val tomb = r.tombstone.filter { t =>
        val m = t.markedForDeleteAtMicros
        !afterCut(m) && (mark == Long.MinValue || m > mark)
      }
      if (cols.nonEmpty || tomb.exists(_.markedForDeleteAtMicros != Long.MinValue))
        Some(r.copy(columns = cols, tombstone = tomb))
      else None
    }
  }
}

object ReadPath {
  /** Can a rows-view read of `schema` be served from Index.db alone?
    * Only a pure key projection needing nothing Data.db holds: not the
    * cells view (cell multiplicity lives in the row bodies), no as-of cut
    * (Index.db cannot know which keys existed at the cut), no pending
    * deletes (whether a key survives its shadow depends on cell
    * timestamps), and none of `columns`, `rowTombstone` or
    * `_change_type` (a delete is a row tombstone only Data.db has). */
  def indexOnly(schema: StructType, cellsView: Boolean, asOfCut: Boolean,
                deletes: Boolean): Boolean =
    !cellsView && !asOfCut && !deletes && !schema.fieldNames.exists(n =>
      n == "columns" || n == "rowTombstone" || n == SSTableSource.ChangeTypeColumn)

  /** Index.db entries of `dataPath` from offset `start` up to `end`: a
    * planned window, or `IndexFile.HeaderLen` to the index length for the
    * whole file. Shared by key-only scans, the `sstable-index` source
    * and the stats sweep's fallback for a generation without statistics. */
  def openIndex(storage: Storage, dataPath: String, start: Long, end: Long): IndexReader = {
    val in = storage.open(SSTableFiles.sibling(dataPath, SSTableFiles.IndexSuffix))
    try { in.seek(start); new IndexReader(in, end) }
    catch { case t: Throwable => in.close(); throw t }
  }

  /** `ORDER BY key [ASC]`: the one sort order a partition's first `n`
    * rows satisfy, since generations are key-sorted in exactly Spark's
    * BinaryType order. */
  def keyAscending(orders: Array[SortOrder]): Boolean =
    orders.length == 1 && orders(0).direction == SortDirection.ASCENDING &&
      (orders(0).expression match {
        case r: NamedReference => r.fieldNames.toSeq == Seq("key")
        case _ => false
      })

  /** The per-partition ordering of a partition that is one key-sorted
    * window of one generation, or one merged key range: ascending `key`,
    * when projected. */
  def keyOrdering(schema: StructType): Array[SortOrder] =
    if (schema.fieldNames.contains("key"))
      Array(Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
    else Array.empty

  /** The key-range layout of a reconciled read over `files`, shared by
    * every generation: range i holds the keys in [b(i-1), b(i)) of every
    * file, so each task merges all versions of its keys and no merge
    * shuffle is needed. The boundary keys are drawn from the union of the
    * files' Summary samples; a range closes before its estimated Data.db
    * bytes, summed across generations (each sample standing for one
    * Summary window of its file), pass `targetBytes`. Each file's slice
    * starts at its first row with key >= the boundary
    * ([[SSTableReader.ceilings]]), so a duplicate-key run never straddles
    * two tasks. Ranges that cannot meet the pushed key bounds `[lo, hi]`,
    * the point key `eq` or the sorted runtime join keys are pruned whole,
    * as are generations that cannot hold `eq` or the runtime keys. */
  def planRanges(files: Seq[String], storage: Storage, targetBytes: Long,
                 lo: Option[Array[Byte]], hi: Option[Array[Byte]],
                 eq: Option[Array[Byte]],
                 keys: Option[Array[Array[Byte]]]): Array[InputPartition] = {
    val readers = files.map(new SSTableReader(_, storage))
      .filter(SSTableScan.mayHoldKeys(_, eq, keys))
    val samples = readers.flatMap { r =>
      val sum = r.summary()._2
      val window = r.dataLength / math.max(1, sum.length)
      sum.map(e => (e.key, window))
    }.sortWith((a, b) => SSTableFiles.compareKeys(a._1, b._1) < 0)
    val bounds = Vector.newBuilder[Array[Byte]]
    var last: Array[Byte] = null
    var bytes = 0L
    samples.foreach { case (k, w) =>
      if (bytes > 0 && bytes + w > targetBytes &&
          (last == null || SSTableFiles.compareKeys(last, k) < 0)) {
        bounds += k
        last = k
        bytes = 0L
      }
      bytes += w
    }
    val bs = bounds.result()
    val seeks = readers.map(_.ceilings(bs))
    (0 to bs.length).iterator.flatMap { i =>
      val rLo = if (i == 0) None else Some(bs(i - 1))
      val rHi = if (i == bs.length) None else Some(bs(i))
      val wanted =
        hi.forall(h => rLo.forall(SSTableFiles.compareKeys(_, h) <= 0)) &&
          lo.forall(l => rHi.forall(SSTableFiles.compareKeys(l, _) < 0)) &&
          keys.forall(SSTableScan.anyKeyInRange(_, rLo.getOrElse(Array.emptyByteArray), rHi))
      val slices = if (!wanted) Nil else readers.zip(seeks).flatMap { case (r, at) =>
        val (start, idxStart) = if (i == 0) (DataFile.HeaderLen, IndexFile.HeaderLen) else at(i - 1)
        val (end, idxEnd) = if (i == bs.length) (r.dataLength, r.indexLength) else at(i)
        if (start >= end) None
        else Some(SSTablePartition(r.dataPath, start, end, idxStart, idxEnd,
          storage.blockHosts(r.dataPath, r.physicalOffset(start), r.physicalOffset(end))))
      }
      if (slices.isEmpty) None else Some(SSTableRangePartition(slices.toArray, rLo, rHi))
    }.toArray
  }

  /** An exact test of `key` for a pushed filter that references `key`
    * alone, or None for any other filter. Keys are never null. */
  def keyTest(f: Filter): Option[Array[Byte] => Boolean] = {
    def cmp(v: Any)(ok: Int => Boolean): Option[Array[Byte] => Boolean] = v match {
      case b: Array[Byte] => Some(k => ok(SSTableFiles.compareKeys(k, b)))
      case _ => None
    }
    f match {
      case EqualTo("key", v) => cmp(v)(_ == 0)
      case EqualNullSafe("key", v) => cmp(v)(_ == 0)
      case GreaterThan("key", v) => cmp(v)(_ > 0)
      case GreaterThanOrEqual("key", v) => cmp(v)(_ >= 0)
      case LessThan("key", v) => cmp(v)(_ < 0)
      case LessThanOrEqual("key", v) => cmp(v)(_ <= 0)
      case In("key", vs) if vs.forall(_.isInstanceOf[Array[Byte]]) =>
        val set = vs.map(v => scala.collection.immutable.ArraySeq.unsafeWrapArray(
          v.asInstanceOf[Array[Byte]])).toSet
        Some(k => set(scala.collection.immutable.ArraySeq.unsafeWrapArray(k)))
      case IsNotNull("key") | AlwaysTrue() => Some(_ => true)
      case IsNull("key") | AlwaysFalse() => Some(_ => false)
      case Not(c) => keyTest(c).map(t => k => !t(k))
      case And(l, r) => for (a <- keyTest(l); b <- keyTest(r)) yield (k: Array[Byte]) => a(k) && b(k)
      case Or(l, r) => for (a <- keyTest(l); b <- keyTest(r)) yield (k: Array[Byte]) => a(k) || b(k)
      case _ => None
    }
  }

  /** The reconciled reader's task metrics: the merge's fan-in. */
  def mergeMetrics: Array[CustomMetric] =
    Array(new RowVersionsReadMetric, new ReconciledRowsMetric)
}

/** One key range of a reconciled read: the slice of every generation
  * holding the keys in `[lo, hi)` (None: unbounded), merged by one task. */
final case class SSTableRangePartition(slices: Array[SSTablePartition],
                                       lo: Option[Array[Byte]], hi: Option[Array[Byte]])
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    slices.flatMap(_.preferredLocations()).distinct
}

/** The reconciled read's task: merges its key range's slices with
  * [[SSTableReader.Fold]], each row version passing the read's key
  * filters and [[Visibility]] before [[SSTableReader.Reconciler]], and
  * emits one reconciled row per key in ascending key order — the rows
  * `compactRows` computes from a raw read of the same snapshot. */
final class SSTableReconciledReader(p: SSTableRangePartition, schema: StructType,
                                    storage: Storage, vis: Visibility,
                                    keyFilters: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val keyOk = keyFilters.map(f => ReadPath.keyTest(f).get)
  private val fold = new SSTableReader.Fold(
    p.slices.toSeq.map(s => SSTableReader.Fold.Slice(s.dataPath, s.start, s.end)),
    storage, gc = false, keep = r => if (keyOk.forall(_(r.key))) vis.row(r) else None,
    lo = p.lo, hi = p.hi)
  private var current: InternalRow = _
  override def next(): Boolean = fold.hasNext && {
    current = SSTableSchema.rowToInternal(fold.next(), schema)
    true
  }
  override def get(): InternalRow = current
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    PlanMetricValue(RowVersionsReadMetric.Name, fold.versionsRead),
    PlanMetricValue(ReconciledRowsMetric.Name, fold.rowsEmitted))
  override def close(): Unit = fold.close()
}

final class RowVersionsReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = RowVersionsReadMetric.Name
  override def description(): String = "row versions read by the merge"
}
object RowVersionsReadMetric { val Name = "rowVersionsRead" }

final class ReconciledRowsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = ReconciledRowsMetric.Name
  override def description(): String = "reconciled rows emitted"
}
object ReconciledRowsMetric { val Name = "reconciledRows" }

/** The one Index.db window reader: streams one planned window's entries
  * as rows of `schema` — `key`, `position` (the entry's Data.db offset)
  * and `_generation` — without opening Data.db. Serves key-only scans
  * and the `sstable-index` source. */
final class IndexWindowReader(p: SSTablePartition, schema: StructType, storage: Storage)
    extends PartitionReader[InternalRow] {
  private val entries = ReadPath.openIndex(storage, p.dataPath, p.idxStart, p.idxEnd)
  private val stem = UTF8String.fromString(SSTableFiles.generationStem(p.dataPath))
  private var current: InternalRow = _
  override def next(): Boolean = entries.hasNext && {
    val e = entries.next()
    current = new GenericInternalRow(schema.fields.map[Any](_.name match {
      case "key" => e.key
      case "position" => e.dataOffset
      case SSTableSource.GenerationColumn => stem
      case other => throw new IllegalStateException(s"Index.db has no field $other")
    }))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = entries.close()
}

/** A scan's plan-time driver metrics (SQL UI): generations listed,
  * generations surviving file pruning, splits planned and, when `slots`
  * is 4, pending-delete keys. `reportDriverMetrics` lives on the Scan,
  * so when one Scan backs concurrent executions the numbers describe its
  * most recent planning. Telemetry only. */
final class PlanMetrics(slots: Int) {
  @volatile private var values = new Array[Long](slots)
  def record(vs: Long*): Unit = values = vs.toArray
  // top-level classes: Spark re-instantiates a CustomMetric by
  // reflection for the UI, which needs a zero-arg constructor
  def supported: Array[CustomMetric] = Array[CustomMetric](new GenerationsListedMetric,
    new GenerationsPlannedMetric, new SplitsPlannedMetric, new PendingDeleteKeysMetric)
    .take(slots)
  def report(): Array[CustomTaskMetric] = {
    val v = values
    supported.zip(v).map { case (m, n) => PlanMetricValue(m.name(), n): CustomTaskMetric }
  }
}
