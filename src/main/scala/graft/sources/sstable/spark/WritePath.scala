package graft.sources.sstable.spark

import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DeltaWriter, DeltaWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.types.StructType
import graft.sources.sstable._

/** The physical-writer knobs every write path (batch, streaming, delta,
  * tombstones, folds) parses from the same options — one parser, so the
  * paths can never drift on defaults — and the one way the engine opens
  * an [[SSTableWriter]]. */
final case class WriterTuning(compress: Boolean, chunkLength: Int,
                              summaryInterval: Int, bloomBitsPerKey: Int,
                              algorithm: String) {
  def open(dataPath: String, storage: Storage): SSTableWriter =
    new SSTableWriter(dataPath, compress, chunkLength, summaryInterval,
      bloomBitsPerKey = bloomBitsPerKey, algorithm = algorithm, storage = storage)
}
object WriterTuning {
  def of(properties: Map[String, String]): WriterTuning = WriterTuning(
    compress = properties.getOrElse(SSTableSource.CompressOption, "true").toBoolean,
    chunkLength = properties.getOrElse(SSTableSource.ChunkLengthOption,
      CompressionInfo.DefaultChunkLength.toString).toInt,
    summaryInterval = properties.getOrElse(SSTableSource.SummaryIntervalOption,
      IndexFile.DefaultSummaryInterval.toString).toInt,
    bloomBitsPerKey = properties.getOrElse(SSTableSource.BloomBitsPerKeyOption,
      FilterFile.DefaultBitsPerKey.toString).toInt,
    algorithm = CompressionInfo.algorithmFor(properties.getOrElse(
      SSTableSource.CompressionAlgorithmOption, CompressionInfo.SnappyAlgorithm)))

  /** Every knob at its default. */
  val Default: WriterTuning = of(Map.empty)
}

/** The one task-writer factory of every DSv2 write into a table
  * directory: batch INSERT, streaming epochs and row-level deltas. Each
  * task stages under `stagingDir` with `tuning`:
  *  - plain: ONE fileset per task, stem `part-PPPPP-<taskId>-<jobTag>`
  *    (a streaming epoch: `part-PPPPP-epoch-E-attempt-T`);
  *  - bucketed (`buckets`): one fileset per bucket the task holds
  *    ([[SSTableBucketedRollingWriter]]), stem
  *    `bucket-NNNNN-<jobTag>-<taskId>` (a streaming epoch:
  *    `bucket-NNNNN-epoch-E-attempt-T`).
  * Streaming stems are attempt-unique, so concurrent attempts of one
  * (partition, epoch) never share a staged file; the epoch commit
  * publishes them under the attempt-less name
  * ([[FilesetCommit.publishedName]]), so a replayed epoch lands on its
  * prior output. `stampMicros` (row-level operations) overrides every
  * written cell's timestamp; `deltaKeyIdx >= 0` makes each batch task a
  * delta writer ([[SSTableTaskWriter]]). */
final class SSTableTaskWriterFactory(stagingDir: String, schema: StructType,
                                     tuning: WriterTuning, storage: StorageHandle,
                                     jobTag: String, buckets: Option[Int],
                                     stampMicros: Option[Long] = None,
                                     deltaKeyIdx: Int = -1)
    extends DeltaWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new SSTableTaskWriter(() => open(f"part-$partitionId%05d-$taskId-$jobTag",
      b => s"${SSTableSource.bucketStem(b)}$jobTag-$taskId"), deltaKeyIdx)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val attempt = s"epoch-$epochId-attempt-$taskId"
    open(f"part-$partitionId%05d-$attempt", SSTableSource.bucketStem(_) + attempt)
  }

  private def open(plainStem: String, bucketStem: Int => String): DataWriter[InternalRow] =
    buckets match {
      case Some(n) => new SSTableBucketedRollingWriter(stagingDir, schema, tuning,
        storage.get, bucketStem, n, stampMicros)
      case None => new SSTablePartitionWriter(stagingDir, schema, tuning,
        storage.get, plainStem, stampMicros)
    }
}

/** One batch or delta task. A batch task opens its staged fileset at
  * once; a delta task opens it at its first insert (a task that only
  * deletes stages nothing) and collects the keys it deletes for the
  * driver's tombstone generation. `update` never arrives: updates are
  * represented as delete + insert. */
final class SSTableTaskWriter(open: () => DataWriter[InternalRow], deltaKeyIdx: Int)
    extends DeltaWriter[InternalRow] {
  private val delta = deltaKeyIdx >= 0
  private var inserts: DataWriter[InternalRow] = if (delta) null else open()
  private val deleted = ArrayBuffer.empty[Array[Byte]]

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deleted += id.getBinary(deltaKeyIdx)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit =
    throw new IllegalStateException(
      "update must arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = {
    if (inserts == null) inserts = open()
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val staged =
      if (inserts == null) Nil
      else inserts.commit().asInstanceOf[SSTableCommit].stagedDataPaths
    if (delta) SSTableDeltaCommit(staged, deleted.toSeq) else SSTableCommit(staged)
  }

  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = ()
}

/** Detects a table directory being REPLACED (atomic CTAS swap, CALL
  * rebucket) while a commit is publishing into it — the one window
  * where a SUCCESSFUL commit's data could silently ride the old
  * directory into the trash (writers are lease-free by design, so the
  * maintenance lease cannot refuse them). A marker file is planted
  * before the first publish and checked after the last: the swap takes
  * the marker with the old directory, so a vanished marker means the
  * data landed in a replaced directory and the commit must FAIL LOUDLY
  * instead of acknowledging lost data. (Concurrent compaction never
  * explains a missing marker — maintainers touch only generation
  * filesets, never `_` files.) Crash litter is a zero-byte `_commit-`
  * file, swept by vacuumStaging's horizon. [[FilesetCommit]] is its
  * one user. */
private[graft] object CommitIntegrity {
  /** The vanished-marker failure: the directory was swapped mid-commit. */
  final class Swapped(message: String) extends IllegalStateException(message)

  def begin(storage: Storage, path: String, tag: String): String = {
    // pointer-state gate: a DROP/undrop commits by flipping `_table`
    // rather than renaming the tree away, so the directory a doomed
    // write would publish into still EXISTS — refuse at commit start
    // instead of letting the publish race the residue destroy. ORDER
    // MATTERS: the marker goes down FIRST, the state check second — a
    // check-then-create would leave an instant where the check passed
    // pre-flip but the marker landed after the swap's marker sweep,
    // making the verify succeed for files the residue destroy removes
    // (silent loss). Marker-first is airtight: a marker that exists
    // before the sweep is swept (verify fails, consults the state); a
    // check that reads the post-flip state refuses here and removes its
    // own marker. (Redirect is fine: the table is live; files land
    // beside the migration and follow the identity.)
    val marker = s"$path/_commit-$tag"
    storage.create(marker).close()
    def refuse(why: String): Nothing = {
      storage.delete(marker)
      throw new IllegalStateException(why)
    }
    TableState.of(GraftCatalog.readTableProps(storage, path)) match {
      case TableState.Dropped(_, _) => refuse(
        s"table directory $path was DROPPED while this write ran — " +
          "nothing to publish into; rerun against a live table")
      case TableState.Restoring(_, _) => refuse(
        s"table directory $path is mid-restore (undrop/publish copying " +
          "content in) — rerun the write once it settles")
      case _ => ()
    }
    marker
  }
  def verifyAndEnd(storage: Storage, path: String, marker: String): Unit = {
    if (!storage.exists(marker))
      throw new Swapped(
        s"table directory $path was REPLACED while this write was " +
          "committing (atomic CTAS / CALL rebucket swap): the commit's " +
          "data rode the old directory into the trash — rerun the write " +
          "against the new table (quiesce writers around re-layouts)")
    storage.delete(marker)
  }
}

/** The one way staged filesets become visible in a table directory.
  * Every publisher — batch and streaming commits, the row-level delta
  * commit, SQL DELETE and TRUNCATE, compaction folds,
  * `SSTableOps.writeBucketed` and scrub repair — runs the same
  * sequence, and the callers stage EVERYTHING before it starts, so a
  * failure while staging leaves the directory untouched:
  *
  *  1. plant the [[CommitIntegrity]] marker (a dropped or mid-restore
  *     directory refuses here);
  *  2. unpublish the given filesets, Data.db first;
  *  3. publish each staged fileset, siblings first and Data.db LAST, so
  *     a reader that lists a Data.db always finds its complete set;
  *  4. remove the staging directory, unless the publish linked;
  *  5. verify the marker (a vanished one throws
  *     [[CommitIntegrity.Swapped]]).
  *
  * The caller then records its `_history` event — after the verify, so
  * a detected swap never appends a phantom event to the replacement's
  * log — and volunteers the post-commit fold ([[autoCompact]]). */
private[graft] object FilesetCommit {
  private val AttemptPart = "-attempt-\\d+".r

  /** `part-P-epoch-E-attempt-T-Data.db` → `part-P-epoch-E-Data.db` (and
    * likewise for bucket stems and `writeBucketed`'s staged names): the
    * published name is (partition-or-bucket, epoch)-deterministic, so a
    * replayed epoch renames ONTO its prior output instead of
    * duplicating it, and exactly one attempt's fileset is published. */
  def publishedName(stagedName: String): String =
    AttemptPart.replaceAllIn(stagedName, "")

  /** What a commit changed: the Data.db paths it published (`added`)
    * and the ones it was asked to unpublish (`removed`). */
  final case class Committed(added: Seq[String], removed: Seq[String])

  /** Commit into `dir` under marker tag `tag`:
    *  - `staged`: the staged Data.db paths to publish;
    *  - `unpublish`: the published Data.db paths to remove first
    *    (evaluated once the marker is down, so a listing taken here
    *    belongs to the directory the marker guards);
    *  - `staging`: the staging directory, removed after the publish (and
    *    on failure) unless `linked`;
    *  - `stripAttempt`: publish under [[publishedName]];
    *  - `linked`: publish by hardlink, keeping the staged copies for a
    *    republish after a swap; `relink` (with `linked`) is that
    *    republish (a destination already holding our name is our own
    *    earlier link).
    * `beforeVerify` runs between the last publish and the verify — the
    * race window tests drive. */
  def apply(storage: Storage, dir: String, tag: String,
            staged: Seq[String] = Nil, unpublish: => Seq[String] = Nil,
            staging: String = null, stripAttempt: Boolean = false,
            linked: Boolean = false, relink: Boolean = false,
            beforeVerify: () => Unit = () => ()): Committed = {
    val name: String => String = if (stripAttempt) publishedName else identity
    val (marker, removed) =
      try {
        val m = CommitIntegrity.begin(storage, dir, tag)
        val gone = unpublish
        gone.foreach(SSTableFiles.unpublish(storage, _))
        staged.foreach { p =>
          if (linked)
            SSTableFiles.publishLinked(storage, p, dir, tolerateExisting = relink)
          else SSTableFiles.publish(storage, p, dir, name)
        }
        (m, gone)
      } finally if (staging != null && !linked) storage.deleteRecursive(staging)
    beforeVerify()
    CommitIntegrity.verifyAndEnd(storage, dir, marker)
    Committed(staged.map(p => s"$dir/${name(p.substring(p.lastIndexOf('/') + 1))}"), removed)
  }

  /** The job-unique token of a batch or delta write (`jobtag`, else
    * `prefix` + 8 random hex): part of the staging directory AND of the
    * published file names, so two applications' writes into one
    * directory never collide (Spark task ids restart at 0 per
    * application). */
  def jobTag(properties: Map[String, String], prefix: String = ""): String = {
    val t = properties.getOrElse(SSTableSource.JobTagOption,
      prefix + UUID.randomUUID().toString.take(8))
    require(t.nonEmpty && !t.contains('/') && !t.contains('\\'),
      s"illegal jobTag: '$t'")
    t
  }

  /** Write-triggered bounded maintenance after a commit: with
    * `autocompact` set, the committing job folds `dir` back under the
    * bound before the next write plans (see
    * [[graft.operators.SSTableOps.autoCompact]]). */
  def autoCompact(properties: Map[String, String], dir: String,
                  buckets: Option[Int]): Unit =
    SSTableSource.autoCompactOf(properties.get(SSTableSource.AutoCompactOption))
      .foreach { n =>
        graft.operators.SSTableOps.autoCompact(SparkSession.active, dir, n, buckets)
        ()
      }

  /** The delete mark of a SQL DELETE or row-level operation:
    * `deletemarkmicros` when set, else the max `-Statistics.db`
    * timestamp across `dir` + 1, which shadows every cell present.
    * Stats-less (foreign/v0) generations make that unprovable, so `op`
    * fails loudly rather than delete incompletely. */
  def deleteMark(properties: Map[String, String], storage: Storage, dir: String,
                 op: String, mark: String): Long =
    properties.get(SSTableSource.DeleteMarkMicrosOption) match {
      case Some(v) => v.toLong
      case None =>
        val gens = if (storage.exists(dir)) storage.listDataFiles(dir) else Nil
        val stats = gens.map(f => new SSTableReader(f, storage).statistics)
        require(stats.forall(_.isDefined),
          s"$op needs -Statistics.db on every generation to choose a " +
            s"shadowing $mark; set ${SSTableSource.DeleteMarkMicrosOption} " +
            "explicitly for stats-less directories")
        stats.flatten.map(_.maxTimestamp).foldLeft(0L)(math.max) + 1
    }
}
