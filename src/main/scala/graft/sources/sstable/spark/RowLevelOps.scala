package graft.sources.sstable.spark

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.sstable._

/** SQL `UPDATE` / `MERGE INTO` (and non-key-predicate `DELETE`) the LSM
  * way — DSv2 delta-based row-level operations ([[SupportsDelta]]).
  *
  * The LSM model makes the DELTA representation the natural one: a
  * row-level operation never rewrites a generation, it APPENDS — the
  * same O(changed rows) contract as SQL `DELETE`'s tombstone append:
  *
  *  - every DELETE in the delta contributes its key to exactly ONE
  *    appended tombstone generation (the op's "undo" of old versions);
  *  - every INSERT in the delta lands in ordinary sorted filesets via
  *    the existing staged-commit write path;
  *  - an UPDATE is represented as DELETE + INSERT
  *    ([[SSTableRowLevelOperation.representUpdateAsDeleteAndInsert]]):
  *    the tombstone shadows the row's OLD versions everywhere in the
  *    directory, the re-insert carries the new state.
  *
  * Write-timestamp contract (Cassandra's server-side-timestamp design):
  * the operation picks ONE delete mark — max `-Statistics.db` timestamp
  * across the directory + 1, or `deletemarkmicros` — and stamps every
  * cell it WRITES at mark + 1. Rows the statement didn't touch are
  * untouched; rows it touched reconcile under LWW to exactly the new
  * state (old cells ≤ mark are shadowed, new cells at mark+1 win). The
  * stamping is what makes delete+insert a faithful UPDATE: preserving
  * user timestamps would let the op's own tombstone swallow its own
  * re-inserts.
  *
  * Like SQL DELETE, the result is merge-on-read (delete-aware catalog
  * scans shadow at decode) and compaction later folds the debt away.
  * Scale contract: deleted keys ride commit messages to the driver's
  * single tombstone write, bounded by `maxdeletekeys` with the same
  * loud overflow pointing at compaction as [[DeleteShadow]].
  *
  * Key-equality DELETEs never reach this path: Spark's metadata-delete
  * optimization keeps them on [[SSTableTable.deleteWhere]] (zero scan).
  */
final class SSTableRowLevelOperation(table: SSTableTable,
                                     path: String,
                                     properties: Map[String, String],
                                     cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The op reads the table's own (delete-aware) live view: matched
    * rows are exactly what a SELECT sees. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def rowId(): Array[NamedReference] = Array(Expressions.column("key"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new SSTableDeltaWrite(path, info, properties, cmd)
    }

  override def description(): String = s"sstable rowlevel $cmd $path"
}

/** Delta write: clustered + sorted by `key` like the ordinary sink, so
  * each task's inserts stream straight into a sorted fileset. DELETE
  * records project only the row id; their data columns are absent/null
  * and never reach the insert writer. On a BUCKETED table the
  * distribution/ordering switch to the catalog's `bucket(n, key)`
  * transform (same resolution as the bucketed INSERT), re-inserts roll
  * one `bucket-NNNNN` generation per bucket, and the driver commit
  * writes one tombstone generation per affected bucket — UPDATE/MERGE
  * preserve the layout exactly like INSERT and key DELETE do. */
final class SSTableDeltaWrite(path: String, info: LogicalWriteInfo,
                              properties: Map[String, String],
                              cmd: RowLevelOperation.Command)
    extends DeltaWrite with RequiresDistributionAndOrdering {
  private val writeBuckets: Option[Int] =
    SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption))
  private def keyAsc: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
  override def requiredDistribution(): Distribution = writeBuckets match {
    case Some(n) => Distributions.clustered(Array(Expressions.bucket(n, "key")))
    case None => Distributions.clustered(Array(Expressions.identity("key")))
  }
  override def requiredOrdering(): Array[SortOrder] = writeBuckets match {
    case Some(n) => Array(
      Expressions.sort(Expressions.bucket(n, "key"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
    case None => keyAsc
  }
  override def requiredNumPartitions(): Int = writeBuckets.getOrElse(0)
  override def toBatch: DeltaBatchWrite =
    new SSTableDeltaBatchWrite(path, info, properties, cmd)
  override def description(): String = s"sstable delta write $path" +
    writeBuckets.map(n => s" buckets=$n").getOrElse("")
}

/** One staged fileset of inserts per task (only if the task saw any
  * insert) + the task's deleted keys. */
final case class SSTableDeltaCommit(stagedDataPaths: Seq[String],
                                    deletedKeys: Seq[Array[Byte]])
    extends WriterCommitMessage

final class SSTableDeltaBatchWrite(path: String, info: LogicalWriteInfo,
                                   properties: Map[String, String],
                                   cmd: RowLevelOperation.Command)
    extends DeltaBatchWrite {
  private val storageHandle =
    StorageHandle(path, SparkSession.active.sessionState.newHadoopConf())
  private def storage: Storage = storageHandle.get

  private val jobTag = FilesetCommit.jobTag(properties, prefix = "rowdelta-")
  private val stagingDir = s"$path/_staging-$jobTag"

  /** The op's delete mark, chosen ONCE on the driver before any task
    * runs: shadows everything currently present (the same rule as
    * [[SSTableTable.deleteWhere]]). */
  private val markMicros: Long = FilesetCommit.deleteMark(properties, storage, path,
    "row-level UPDATE/MERGE/DELETE", "write timestamp")

  private val maxDeleteKeys: Int =
    properties.get(SSTableSource.MaxDeleteKeysOption).map(_.toInt)
      .getOrElse(SSTableSource.DefaultMaxDeleteKeys)

  private val writeBuckets: Option[Int] =
    SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption))
  private val tuning = WriterTuning.of(properties)

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    storage.mkdirs(stagingDir)
    // java.util.Optional is not Serializable: resolve the id projection's
    // key position on the driver and ship the bare index
    val idKeyIdx =
      if (info.rowIdSchema().isPresent) info.rowIdSchema().get().fieldIndex("key")
      else 0
    new SSTableTaskWriterFactory(stagingDir, info.schema(), tuning, storageHandle,
      jobTag, writeBuckets, stampMicros = Some(markMicros + 1), deltaKeyIdx = idKeyIdx)
  }

  /** EVERYTHING failable happens before the first publish (self-review
    * r8): the delete-key bound is checked and the tombstone fileset is
    * fully WRITTEN into staging while nothing is visible yet — a
    * failure there aborts with the directory untouched (the old order
    * published the re-inserts first, so an over-bound or failed
    * statement left them permanently applied with no tombstone: a
    * partially-applied UPDATE that reported an error). The publishes
    * themselves are then bare renames: inserts first (duplicate
    * versions are the raw view's normal state and LWW-invisible), the
    * tombstone generation last — a mid-commit reader never sees rows
    * vanish before their replacements exist. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    val stagedInserts = ArrayBuffer.empty[String]
    val deleted = ArrayBuffer.empty[Array[Byte]]
    messages.foreach {
      case SSTableDeltaCommit(staged, dels) =>
        stagedInserts ++= staged
        deleted ++= dels
      case _ =>
    }
    val keys = deleted
      .distinctBy(new String(_, java.nio.charset.StandardCharsets.ISO_8859_1))
    require(keys.length <= maxDeleteKeys,
      s"row-level operation deleted ${keys.length} keys > " +
        s"${SSTableSource.MaxDeleteKeysOption}=$maxDeleteKeys; compact the " +
        "directory (folding pending deletes away) or raise the option")
    val stagedTomb: Seq[String] =
      if (keys.isEmpty) Nil
      else {
        // [[TombstoneStaging]] — the same loop SQL DELETE's metadata
        // path runs, so the two statements' tombstone shape (per-bucket
        // stems, key sort, stage-all-then-publish) can never drift
        val ldtSecs = (System.currentTimeMillis() / 1000).toInt
        TombstoneStaging.stage(st, tuning, stagingDir, s"$jobTag-tomb",
          keys.toSeq, ldtSecs, markMicros, writeBuckets)
      }
    // marker planted AFTER all failable validation/staging (the r8
    // stage-everything-then-publish invariant: a refused statement
    // leaves the directory untouched, marker litter included) and
    // verified BEFORE the history event (no phantom entries in a
    // replacement's log).
    //
    // DELIBERATELY NOT swap-resilient (unlike catalog appends,
    // SSTableBatchWrite.republishAfterSwap): a delta is STATE-DEPENDENT
    // — its delete mark and matched/changed rows were computed against
    // the PRE-swap table, so republishing it into a REPLACED directory
    // would apply an UPDATE/MERGE derived from data the new table may
    // not hold (re-stamped rows resurrecting, tombstones shadowing the
    // wrong versions). An append's rows mean the same thing in any
    // directory; a delta's do not. The loud failure telling the user to
    // re-run the STATEMENT (which re-reads the new table) is the only
    // correct recovery. Streaming epochs likewise: the stream's restart
    // replays the epoch against current state — retry at the right
    // layer already exists.
    val published = FilesetCommit(st, path, jobTag, (stagedInserts ++ stagedTomb).toSeq,
      staging = stagingDir)
    History.record(st, path,
      cmd.toString.toLowerCase(java.util.Locale.ROOT),
      added = published.added, detail = s"deletedKeys=${keys.length}")
    // UPDATE/MERGE-heavy tables accumulate generations like any other
    // committer (data generations fold; the tombstone debt this op
    // appended is compact_tombstones' domain)
    FilesetCommit.autoCompact(properties, path, writeBuckets)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    storage.deleteRecursive(stagingDir)
}
