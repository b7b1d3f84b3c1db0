package graft.sources.sstable.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import graft.sources.sstable._

/** Streaming offset = the set of Data.db files already processed.
  * SSTable generations are immutable once committed (the staged-commit
  * write paths rename complete filesets in), so "new data" is exactly
  * "new files" — the Cassandra memtable-flush ingestion model. The
  * offset serializes as a single-line JSON array (Spark's offset log is
  * line-oriented — a newline inside an offset would corrupt checkpoint
  * recovery); growth is O(#files), acceptable at generation granularity
  * (compaction keeps it bounded). */
final case class SSTableOffset(files: Set[String]) extends Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(files.toSeq.sorted))
  }
}

object SSTableOffset {
  def fromJson(s: String): SSTableOffset = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    SSTableOffset(org.json4s.jackson.JsonMethods.parse(s)
      .extract[List[String]].toSet)
  }
}

/** Micro-batch streaming read over an SSTable directory: every batch
  * processes the generations that landed since the last offset, split-
  * planned exactly like the batch scan (row-aligned, pruned, bloom- and
  * locality-aware via [[SSTableScan.planFile]]). Exactly-once per file:
  * a file is in precisely one offset range, and ranges replay
  * deterministically from the checkpoint. */
final class SSTableMicroBatchStream(path: String, requiredSchema: StructType,
                                    targetSplitBytes: Long,
                                    ttlAsOfMs: Option[Long],
                                    handle: StorageHandle,
                                    maxFilesPerTrigger: Option[Int] = None,
                                    maxBytesPerTrigger: Option[Long] = None,
                                    sinceDir: Option[String] = None,
                                    catalogManaged: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {
  private def storage: Storage = handle.get

  /** Starting floor (`option("sincesnapshot", tag)` — the streaming twin
    * of the batch epoch-diff read, Delta's `startingVersion`): a FRESH
    * checkpoint starts with the snapshot's pinned generations already
    * marked processed, so the stream tails only what landed after the
    * pin instead of replaying a possibly-100 TB directory as batch #1.
    * Pinned basenames are mapped onto live-directory paths (basename
    * identity — filesets are immutable, names unique); pins whose
    * generation was since compacted away resolve to paths that never
    * list again, which is exactly right (their data pre-dates the
    * floor). Restarts never consult this: offsets come from the
    * checkpoint, so an existing stream's exactly-once is untouched. */
  override def initialOffset(): Offset = sinceDir match {
    case None => SSTableOffset(Set.empty)
    case Some(d) =>
      val st = storage
      require(st.exists(d), s"sincesnapshot pin does not exist: $d")
      SSTableOffset(st.listDataFiles(d)
        .map(f => s"$path/${f.substring(f.lastIndexOf('/') + 1)}").toSet)
  }
  override def deserializeOffset(json: String): Offset = SSTableOffset.fromJson(json)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called with admission control")

  /** Backpressure (`SupportsAdmissionControl`): `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` bound each micro-batch to a prefix of the new
    * generations (in sorted-name order — the deterministic replay order
    * the offset log already relies on). Without a cap, a restart after
    * long downtime — or pointing a fresh checkpoint at a year-old
    * directory — makes batch #1 the entire backlog; with it, the stream
    * drains in bounded, checkpointed steps and AvailableNow triggers
    * chunk the catch-up the same way. Bytes are uncompressed Data.db
    * lengths (matching the batch planner's split math); a single
    * generation larger than the byte cap still admits alone (progress
    * over starvation, like Spark's file source). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[SSTableOffset].files
    val fresh = (storage.listDataFiles(path).toSet -- seen).toSeq.sorted
    // pointer guard (r12): a DROP/REPLACE committing under a running
    // stream leaves residue whose listing shrinks instead of the
    // directory vanishing — without this the stream would quietly go
    // idle on a dropped table forever. Loud, like the rename-era
    // FileNotFound the vanishing directory used to throw.
    // one-read form (r13 chaos find): a catalog table's `_table` always
    // exists while live, so a MISSING pointer under a catalog-managed
    // stream is a finalized DROP — refusing here closes the window in
    // which the vanished pointer read as empty props = Live and the
    // stream idled forever on "quietly no new data". Path-API streams
    // over hand-made (pointer-less) dirs keep streaming.
    val propsOpt = GraftCatalog.readTablePropsIfExists(storage, path)
    if (catalogManaged && propsOpt.isEmpty)
      throw new IllegalStateException(
        s"$path's _table pointer is gone under this running stream — " +
          "the table was dropped and its removal finalized; restart the " +
          "stream against a live table")
    TableState.of(propsOpt.getOrElse(Map.empty)) match {
      case TableState.Live => ()
      case other => throw new IllegalStateException(
        s"$path was dropped/replaced under this running stream (pointer " +
          s"state: ${other.getClass.getSimpleName}) — restart the stream " +
          "against the current table")
    }
    SSTableOffset(seen ++ admit(fresh, limit))
  }

  override def reportLatestOffset(): Offset =
    SSTableOffset(storage.listDataFiles(path).toSet)

  override def getDefaultReadLimit: ReadLimit = {
    val lims: Seq[ReadLimit] =
      maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
        maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    lims match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def admit(fresh: Seq[String], limit: ReadLimit): Seq[String] =
    limit match {
      case _: ReadAllAvailable => fresh
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles)
      case mb: ReadMaxBytes =>
        val st = storage
        var bytes = 0L
        fresh.takeWhile { f =>
          bytes += new SSTableReader(f, st).dataLength
          bytes <= mb.maxBytes
        } match {
          case Seq() if fresh.nonEmpty => fresh.take(1) // oversized head: admit it alone
          case prefix => prefix
        }
      case c: CompositeReadLimit => // most restrictive wins: shortest prefix
        c.getReadLimits.map(admit(fresh, _)).minBy(_.length)
      case _ => fresh // an unrecognized limit must never drop data
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[SSTableOffset].files
    val now = end.asInstanceOf[SSTableOffset].files
    val fresh = (now -- seen).toSeq.sorted
    val st = storage
    fresh.flatMap(SSTableScan.planFile(st, targetSplitBytes, None, None)).toArray
  }

  /** Streaming rows always carry the declared metadata columns
    * (`_generation`, `_change_type`) appended after the data fields:
    * Spark's streaming path has no column-pruning phase, so when a
    * query references a metadata column the analyzer appends the
    * table's WHOLE metadataOutput to the relation while the scan is
    * built unpruned — the physical plan then reads ordinals past the
    * data fields (previously an ArrayIndexOutOfBounds deep in codegen).
    * Emitting them unconditionally matches that contract in both
    * directions: unreferenced trailing fields are ignored by ordinal-
    * based access and cost ~nothing (two shared UTF8String singletons
    * per row). This is what makes the labeled change feed —
    * `readStream.table(t).select($"key", $"_change_type")` — work. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val meta = Seq(SSTableSource.GenerationColumn, SSTableSource.ChangeTypeColumn)
      .filterNot(requiredSchema.fieldNames.contains)
      .map(n => org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.StringType, nullable = false))
    new SSTableReaderFactory(StructType(requiredSchema.fields ++ meta),
      ttlAsOfMs, handle)
  }

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint
  override def stop(): Unit = ()
}
