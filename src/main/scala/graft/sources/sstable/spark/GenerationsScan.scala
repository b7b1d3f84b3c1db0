package graft.sources.sstable.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.sstable._

/** `view=generations` — the directory's published filesets as a
  * relation (one row per generation, fields from the planning sidecars:
  * Statistics/CompressionInfo + file lengths). The ops view: compaction
  * debt, tombstone debt, key-span overlap, format-version audits are
  * plain SQL over it, and none of it touches Data.db. Values are
  * computed at batch planning (the same freshness contract as the agg
  * pushdown scan: a retained DataFrame re-executed after a flush or
  * compaction sees the current directory). Metadata work is one cached
  * sidecar read per file, parallelized on the driver like split
  * planning; the result rides in ONE partition because it is
  * metadata-sized (a row per file, not per data row).
  *
  * Composes with `snapshot` (the pinned fileset's metadata) and
  * `sincesnapshot` (only the epoch's new generations), and lists through
  * a [[ReadSnapshot]] like every data read. Read-only, batch-only. */
final class GenerationsScanBuilder(path: String, sinceDir: Option[String],
                                   catalogManaged: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = SSTableSchema.generationsSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(SSTableSchema.generationsSchema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new GenerationsScan(path, required, sinceDir, catalogManaged)
}

final class GenerationsScan(path: String, required: StructType,
                            sinceDir: Option[String], catalogManaged: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"sstable $path view=generations" +
      (if (sinceDir.isDefined) " sinceSnapshot" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    val storage = Storage.forPath(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val files = ReadSnapshot(storage, path, "planning", sinceDir, catalogManaged).listed
    import scala.collection.parallel.CollectionConverters._
    val rows: Array[Array[Any]] = files.par.map { f =>
      val r = new SSTableReader(f, storage)
      val st = r.statistics
      val name = f.substring(f.lastIndexOf('/') + 1)
        .stripSuffix(SSTableFiles.DataSuffix)
      required.fields.map[Any] { field =>
        field.name match {
          case "generation" => UTF8String.fromString(name)
          case "dataBytes" => r.dataLength
          case "physicalBytes" => storage.length(f)
          case "compressed" => r.compressed
          case "rowCount" => st.map(_.rowCount).orNull
          case "tombstoneCount" => st.map(_.tombstoneCount).orNull
          case "cellCount" => st.flatMap(_.cellStats).map(_.cellCount).orNull
          case "minKey" => st.filter(_.rowCount > 0).map(_.minKey).orNull
          case "maxKey" => st.filter(_.rowCount > 0).map(_.maxKey).orNull
          case "minTimestamp" => st.map(_.minTimestamp).orNull
          case "maxTimestamp" => st.map(_.maxTimestamp).orNull
          case "namesSorted" => st.map(_.namesSorted).orNull
          case "deleteOnly" =>
            if (st.isEmpty) null else DeleteShadow.isDeleteOnly(st)
          case other => throw new IllegalStateException(
            s"unknown generations-view field: $other")
        }
      }
    }.toArray
    Array(GenerationsScan.GenerationsPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GenerationsScan.rowsFactory
}

object GenerationsScan {
  final case class GenerationsPartition(rows: Array[Array[Any]])
      extends InputPartition

  /** Shared reader factory of the metadata views (generations,
    * snapshots): serves a partition's precomputed rows array. */
  val rowsFactory: PartitionReaderFactory = new RowsPartitionFactory
}

/** Top-level (no outer reference — task-serialization-safe) factory over
  * [[GenerationsScan.GenerationsPartition]]'s precomputed rows. */
private[spark] final class RowsPartitionFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[GenerationsScan.GenerationsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
}

/** `graft.ns.t.snapshots` — the table's snapshot pins as a relation:
  * `(tag, createdMs, filesets)`, one row per `_snapshot-<tag>/` pin.
  * The SQL-discovery side of time travel: find a tag here, read it with
  * `VERSION AS OF`, age it out with [[graft.operators.SSTableOps
  * .expireSnapshots]]. Metadata-only (a directory listing per pin,
  * zero sidecar/data IO), computed at batch planning like the
  * generations view. Read-only, batch-only. */
final class SnapshotsTable(dir: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def name(): String = s"sstable(`$dir`).snapshots"
  override def schema(): StructType = SnapshotsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = SnapshotsTable.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(SnapshotsTable.schema.fields
          .filter(f => requiredSchema.fieldNames.contains(f.name)))
      override def build(): Scan = new SnapshotsScan(dir, required)
    }
}

object SnapshotsTable {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("createdMs", LongType, nullable = false),
    StructField("filesets", IntegerType, nullable = false)))
}

/** `t.history` — the append-only `_history` operation log as a relation
  * (one row per commit/DML/maintenance event, oldest first): Delta's
  * DESCRIBE HISTORY / Iceberg's snapshot log for this engine. Pure
  * metadata (one tiny file read per event, zero Data.db IO), computed at
  * batch planning like the other metadata views.
  *
  * `ORDER BY id` is the log's authoritative order — true within any one
  * writing process (same-ms ties break by a per-process counter), true
  * across processes down to millisecond clock grain, and
  * arbitrary-but-STABLE for cross-process events inside one millisecond
  * (see [[graft.sources.sstable.History]]'s ordering contract; pinned
  * by CrossProcessSpec). `ts` is the raw wall clock — equal values are
  * genuine ties there, so sort on `id`, not `ts`. */
final class HistoryTable(dir: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def name(): String = s"sstable(`$dir`).history"
  override def schema(): StructType = HistoryTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = HistoryTable.schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(HistoryTable.schema.fields
          .filter(f => requiredSchema.fieldNames.contains(f.name)))
      override def build(): Scan = new HistoryScan(dir, required)
    }
}

object HistoryTable {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    // the event file name — `ev-<ms>-<nanos>-<uuid>`, whose lexical
    // order IS the true event order (tsMs alone can tie: a commit and
    // the autocompact it triggered land in the same millisecond)
    StructField("id", StringType, nullable = false),
    StructField("tsMs", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("added", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("removed", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("detail", StringType, nullable = false)))
}

final class HistoryScan(dir: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"sstable $dir view=history"
  override def planInputPartitions(): Array[InputPartition] = {
    val storage = Storage.forPath(dir,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    def strings(xs: Seq[String]) =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        xs.map(UTF8String.fromString).toArray[Any])
    val rows: Array[Array[Any]] = History.events(storage, dir).map { e =>
      required.fields.map[Any] {
        _.name match {
          case "id" => UTF8String.fromString(e.id)
          case "tsMs" => e.tsMs
          case "op" => UTF8String.fromString(e.op)
          case "added" => strings(e.added)
          case "removed" => strings(e.removed)
          case "detail" => UTF8String.fromString(e.detail)
          case other => throw new IllegalStateException(
            s"unknown history-view field: $other")
        }
      }
    }.toArray
    Array(GenerationsScan.GenerationsPartition(rows))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GenerationsScan.rowsFactory
}

final class SnapshotsScan(dir: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"sstable $dir view=snapshots"
  override def planInputPartitions(): Array[InputPartition] = {
    val storage = Storage.forPath(dir,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val rows: Array[Array[Any]] =
      storage.listSubdirs(dir, SSTableSource.SnapshotDirPrefix).map { pin =>
        val tag = pin.substring(pin.lastIndexOf('/') + 1)
          .drop(SSTableSource.SnapshotDirPrefix.length)
        required.fields.map[Any] {
          _.name match {
            case "tag" => UTF8String.fromString(tag)
            case "createdMs" =>
              graft.operators.SSTableOps.snapshotCreatedMs(pin, storage)
            case "filesets" => storage.listDataFiles(pin).length
            case other => throw new IllegalStateException(
              s"unknown snapshots-view field: $other")
          }
        }
      }.toArray
    Array(GenerationsScan.GenerationsPartition(rows))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GenerationsScan.rowsFactory
}
