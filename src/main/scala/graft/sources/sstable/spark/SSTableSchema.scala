package graft.sources.sstable.spark

import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.sstable._

/** The Spark-facing schema of an SSTable scan (SURVEY.md §1.3 normative
  * mapping) and InternalRow conversion.
  *
  * `state` keeps the Pig-surface spellings NORMAL | DELETED | EXPIRING
  * (SSTableDataLoader.scala:16) for oracle comparability; DELETED columns
  * have `value IS NULL` (mirrors WritableColumn.java:51-58).
  */
object SSTableSchema {
  val StateNormal = UTF8String.fromString("NORMAL")
  val StateDeleted = UTF8String.fromString("DELETED")
  val StateExpiring = UTF8String.fromString("EXPIRING")
  /** Range tombstone surface encoding (beyond the Pig-era states): `name`
    * = MIN bound, `value` = MAX bound (inclusive), `timestamp` =
    * markedForDeleteAt µs, `ttlSecs` = localDeletionTime seconds-epoch
    * (the GC-grace clock — reusing the field keeps the scan schema
    * stable), `expiresMillis` = 0. */
  val StateRangeTombstone = UTF8String.fromString("RANGE_TOMBSTONE")
  /** Counter surface encoding (raw bytes, no merge semantics — see
    * [[graft.sources.sstable.Column.Counter]]): `value` = serialized
    * replication context, `expiresMillis` = timestampOfLastDelete µs
    * (field reuse keeps the scan schema stable), `ttlSecs` = 0. */
  val StateCounter = UTF8String.fromString("COUNTER")
  /** Local counter increment — normal field mapping, raw value bytes. */
  val StateCounterUpdate = UTF8String.fromString("COUNTER_UPDATE")

  val columnStruct: StructType = StructType(Seq(
    StructField("name", BinaryType, nullable = false),
    StructField("state", StringType, nullable = false),
    StructField("value", BinaryType, nullable = true),
    StructField("timestamp", LongType, nullable = false),
    StructField("ttlSecs", LongType, nullable = false),
    StructField("expiresMillis", LongType, nullable = false)))

  /** Row-level deletion info (Cassandra `DeletionTime`); null ⇔ LIVE.
    * `markedForDeleteAt` (µs) shadows same-key columns with
    * `timestamp <= markedForDeleteAt`; `localDeletionTime` is the
    * seconds-epoch GC-grace clock. */
  val rowTombstoneStruct: StructType = StructType(Seq(
    StructField("localDeletionTime", IntegerType, nullable = false),
    StructField("markedForDeleteAt", LongType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("columns", ArrayType(columnStruct, containsNull = false), nullable = false),
    StructField("rowTombstone", rowTombstoneStruct, nullable = true)))

  val indexSchema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("position", LongType, nullable = false)))

  /** Bucketed-directory scan surface (`buckets=N` read option): the
    * default schema plus a leading `_bucket` int — the generation's
    * bucket id parsed from its file name (`bucket-NNNNN-...`), a pure
    * function of `key` fixed at [[graft.operators.SSTableOps.writeBucketed]]
    * time. A REAL output column (not metadata) because DSv2 key-grouped
    * partitioning can only reference output columns without a function
    * catalog: the scan reports `KeyGroupedPartitioning(identity(_bucket))`,
    * so any aggregation or join that includes `_bucket` in its keys
    * (grouping by (_bucket, key) ≡ grouping by key) is satisfied from
    * storage — zero exchange. */
  val bucketedSchema: StructType = StructType(
    StructField("_bucket", IntegerType, nullable = false) +: schema.fields.toSeq)

  /** `view=cells` scan surface: one row per COLUMN CELL, the source-side
    * form of the explode operator (SURVEY §2.3-P2) — `key` plus the
    * [[columnStruct]] fields flattened to the top level. Row tombstones
    * are not cells and don't appear (exactly explode's semantics: a
    * cell-less row contributes nothing); read the default view for
    * deletion info. Flat top-level `timestamp` is what makes cell-level
    * aggregate pushdown expressible at all — MIN/MAX over a field inside
    * an array never reaches a DSv2 scan. */
  val cellsSchema: StructType = StructType(
    StructField("key", BinaryType, nullable = false) +: columnStruct.fields.toSeq)

  /** `view=generations` scan surface: one row per PUBLISHED FILESET with
    * its planning metadata — the ops/observability view (this format's
    * `DESCRIBE DETAIL`): fleet-wide questions like "how many
    * generations, how much logical data, how skewed, how much pending
    * tombstone debt, which files predate the namesSorted guarantee"
    * answer from sidecars only, zero Data.db IO. Nullable fields are
    * null on stats-less (foreign/v0) generations; `cellCount` also on
    * v1 sidecars. */
  val generationsSchema: StructType = StructType(Seq(
    StructField("generation", StringType, nullable = false),
    StructField("dataBytes", LongType, nullable = false), // uncompressed
    StructField("physicalBytes", LongType, nullable = false), // on-disk
    StructField("compressed", BooleanType, nullable = false),
    StructField("rowCount", LongType, nullable = true),
    StructField("tombstoneCount", LongType, nullable = true),
    StructField("cellCount", LongType, nullable = true),
    StructField("minKey", BinaryType, nullable = true),
    StructField("maxKey", BinaryType, nullable = true),
    StructField("minTimestamp", LongType, nullable = true),
    StructField("maxTimestamp", LongType, nullable = true),
    StructField("namesSorted", BooleanType, nullable = true),
    StructField("deleteOnly", BooleanType, nullable = true)))

  /** Project one cell onto the required cells-view fields. `genStem` is
    * the publishing fileset's identity for the `_generation` metadata
    * column (null when the read path has none, e.g. operator-side use —
    * metadata columns are only reachable through the DSv2 scan, which
    * always passes it). */
  def cellToInternal(key: Array[Byte], c: Column, required: StructType,
                     genStem: UTF8String = null): InternalRow = {
    val full = columnToInternal(c)
    val values = required.fields.map { f =>
      f.name match {
        case "key" => key
        case SSTableSource.GenerationColumn => genStem
        case other => full.get(columnStruct.fieldIndex(other),
          columnStruct(other).dataType)
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  def columnToInternal(c: Column): InternalRow = c match {
    case Column.Normal(n, v, ts) =>
      new GenericInternalRow(Array[Any](n, StateNormal, v, ts, 0L, 0L))
    case Column.Deleted(n, ts) =>
      new GenericInternalRow(Array[Any](n, StateDeleted, null, ts, 0L, 0L))
    case Column.Expiring(n, v, ttl, exp, ts) =>
      new GenericInternalRow(Array[Any](n, StateExpiring, v, ts, ttl, exp))
    case Column.RangeTombstone(min, max, ldt, mfda) =>
      new GenericInternalRow(Array[Any](min, StateRangeTombstone, max, mfda, ldt.toLong, 0L))
    case Column.Counter(n, v, tsd, ts) =>
      new GenericInternalRow(Array[Any](n, StateCounter, v, ts, 0L, tsd))
    case Column.CounterUpdate(n, v, ts) =>
      new GenericInternalRow(Array[Any](n, StateCounterUpdate, v, ts, 0L, 0L))
  }

  /** Project a row onto the required top-level fields (column pruning).
    * Metadata columns ride last when the query asked for them:
    * `_generation` = the publishing fileset stem, `_change_type` = the
    * row version's CDC meaning ("delete" when it carries a real row
    * tombstone, else "upsert"). */
  def rowToInternal(row: SSTableRow, required: StructType,
                    genStem: UTF8String = null): InternalRow = {
    val values = required.fields.map { f =>
      f.name match {
        case "key" => row.key
        case "columns" =>
          new GenericArrayData(row.columns.map(columnToInternal).toArray[Any])
        case "rowTombstone" =>
          row.tombstone.map(t => new GenericInternalRow(Array[Any](
            t.localDeletionTimeSecs, t.markedForDeleteAtMicros))).orNull
        case SSTableSource.GenerationColumn => genStem
        case SSTableSource.ChangeTypeColumn =>
          // "delete" only when the tombstone is the row version's FINAL
          // word: a compacted delete-then-reinsert row carries both the
          // tombstone and newer surviving cells (foldCarrying keeps
          // tombstone rows alongside outdating cells), and a consumer
          // applying that as a delete would drop a key whose reconciled
          // state is live (self-review r8)
          val mfda = row.tombstone.map(_.markedForDeleteAtMicros)
            .getOrElse(Long.MinValue)
          if (mfda != Long.MinValue && !row.columns.exists(_.timestamp > mfda))
            ChangeTypeDelete else ChangeTypeUpsert
        case other => throw new IllegalStateException(s"unknown field $other")
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }
  private val ChangeTypeUpsert = UTF8String.fromString("upsert")
  private val ChangeTypeDelete = UTF8String.fromString("delete")

  /** The inverse of [[rowToInternal]] over rows of `schema`: `key`, plus
    * `columns` and `rowTombstone` when present, found by name in any
    * order, and so are the fields of a cell and of a tombstone (types as
    * in [[schema]]). It reads back the surface encoding: a range tombstone's
    * `value` is its max bound and `ttlSecs` its localDeletionTime; a
    * counter's `expiresMillis` is its last-delete time. `stampMicros`
    * overrides every cell's timestamp (the server-side write timestamp
    * of row-level operations). An unknown `state` raises. */
  final class RowDecoder(schema: StructType, stampMicros: Option[Long] = None) {
    private val keyIdx = schema.fieldIndex("key")
    private val colsIdx =
      if (schema.fieldNames.contains("columns")) schema.fieldIndex("columns") else -1
    private val tombIdx =
      if (schema.fieldNames.contains("rowTombstone")) schema.fieldIndex("rowTombstone") else -1
    private val (tombLdtIdx, tombMfdaIdx) =
      if (tombIdx >= 0) {
        val st = schema(tombIdx).dataType.asInstanceOf[StructType]
        (st.fieldIndex("localDeletionTime"), st.fieldIndex("markedForDeleteAt"))
      } else (-1, -1)
    private val cell = if (colsIdx < 0) columnStruct
      else schema(colsIdx).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    private val Array(nameI, stateI, valueI, tsI, ttlI, expI) =
      columnStruct.fieldNames.map(cell.fieldIndex)

    def apply(record: InternalRow): SSTableRow = {
      val key = record.getBinary(keyIdx)
      val cols: Seq[Column] =
        if (colsIdx < 0 || record.isNullAt(colsIdx)) Nil
        else {
          val arr = record.getArray(colsIdx)
          (0 until arr.numElements()).map { i =>
            val c = arr.getStruct(i, cell.length)
            val name = c.getBinary(nameI)
            val ts = stampMicros.getOrElse(c.getLong(tsI))
            c.getUTF8String(stateI).toString match {
              case "NORMAL" => Column.Normal(name, c.getBinary(valueI), ts)
              case "DELETED" => Column.Deleted(name, ts)
              case "EXPIRING" =>
                Column.Expiring(name, c.getBinary(valueI), c.getLong(ttlI), c.getLong(expI), ts)
              case "RANGE_TOMBSTONE" =>
                val ldt = c.getLong(ttlI)
                require(ldt >= 0 && ldt <= Int.MaxValue,
                  s"range tombstone localDeletionTime out of u32-seconds range: $ldt")
                Column.RangeTombstone(name, c.getBinary(valueI), ldt.toInt, ts)
              case "COUNTER" => Column.Counter(name, c.getBinary(valueI), c.getLong(expI), ts)
              case "COUNTER_UPDATE" => Column.CounterUpdate(name, c.getBinary(valueI), ts)
              case other => throw new IllegalArgumentException(s"unknown column state $other")
            }
          }
        }
      val tombstone =
        if (tombIdx < 0 || record.isNullAt(tombIdx)) None
        else {
          val t = record.getStruct(tombIdx, 2)
          Some(RowTombstone(t.getInt(tombLdtIdx), t.getLong(tombMfdaIdx)))
        }
      SSTableRow(key, cols, tombstone)
    }
  }
}
