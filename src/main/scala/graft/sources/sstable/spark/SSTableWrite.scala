package graft.sources.sstable.spark

import java.util.UUID
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import graft.sources.sstable._

/** DSv2 write path: each Spark partition emits one complete SSTable set.
  *
  * The reference had no writer (read-only library, SURVEY.md §2.2-K row
  * "*SSTable writer* absent"); this is the new-capability half of the
  * north star. Sorting is delegated to Spark via
  * `RequiresDistributionAndOrdering` (cluster by `key`, sort by `key`
  * asc) — the engine's sort-merge machinery does the heavy lifting and the
  * writer itself is a streaming pass (O(chunk) memory).
  *
  * Commit protocol (cluster-safe): tasks write their 4-file sets under a
  * job-unique `_staging-<uuid>/` subdirectory — invisible to readers,
  * which list only `*-Data.db` directly under the target. Spark's commit
  * coordinator admits exactly one task attempt per partition; the driver's
  * job-level `commit` renames the winning attempts' files into the target
  * and removes staging. Task/job `abort` deletes the attempt's staged
  * files, so failed or speculative attempts can never leave readable
  * output (they previously could — ADVICE r1 medium).
  */
final class SSTableWriteBuilder(path: String, info: LogicalWriteInfo,
                                properties: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new SSTableWrite(path, info.schema(), properties, doTruncate)
}

final class SSTableWrite(path: String, schema: StructType,
                         properties: Map[String, String], truncate: Boolean)
    extends Write with RequiresDistributionAndOrdering {
  require(schema.fieldNames.contains("key"),
    s"sstable write requires a `key` column, got ${schema.simpleString}")

  /** `option("layout", "range")` asks Spark for an ORDERED (range)
    * distribution instead of the default hash clustering: rows are
    * globally range-partitioned by key, so each written generation
    * covers a DISJOINT key span. The payoff is plan-time: pushed
    * key-range filters and Statistics key bounds then prune whole
    * generations (a hash layout intersects every filter with every
    * file), and the directory is born a single LCS-style sorted run —
    * the at-most-one-file-per-point-read shape without any compaction.
    * Costs one range exchange (with sampling) at write time; the
    * default stays "hash" (clustered), which avoids the sampling pass
    * and suits LWW-heavy ingest where compaction folds anyway. */
  private val rangeLayout: Boolean =
    properties.get(SSTableSource.LayoutOption) match {
      case None => false
      case Some(s) if s.equalsIgnoreCase("range") => true
      case Some(s) if s.equalsIgnoreCase("hash") => false
      case Some(other) => throw new IllegalArgumentException(
        s"sstable option '${SSTableSource.LayoutOption}' must be 'hash' or 'range', got '$other'")
    }

  /** Bucketed-table write ([[SSTableSource.WriteBucketsOption]], set by
    * [[GraftCatalog]] from the `buckets` table property): the
    * distribution is clustered on the catalog's own `bucket(n, key)` V2
    * function ([[GraftBucketFunction]] — Catalyst resolves the transform
    * through the table's `FunctionCatalog`), sorted `(bucket, key)`
    * within partitions, `n` partitions. Same bucket ⇒ same partition, so
    * buckets are task-disjoint; the rolling writer then streams ONE
    * generation per bucket it holds — an `INSERT INTO` appends at most
    * `n` generations total regardless of input size, and every name
    * keeps the `bucket-NNNNN-` layout stem. */
  private val writeBuckets: Option[Int] =
    SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption))
  require(writeBuckets.isEmpty || !rangeLayout,
    "bucketed tables hash-route by key; 'layout=range' cannot compose with 'buckets'")
  // parse at BUILD, not at commit: an invalid value must fail the job
  // before any data publishes, like every other writer-tuning option
  SSTableSource.autoCompactOf(properties.get(SSTableSource.AutoCompactOption))

  private def keyAsc: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
  override def requiredDistribution(): Distribution = writeBuckets match {
    case Some(n) =>
      Distributions.clustered(Array(Expressions.bucket(n, "key")))
    case None =>
      if (rangeLayout) Distributions.ordered(keyAsc)
      else Distributions.clustered(Array(Expressions.identity("key")))
  }
  override def requiredOrdering(): Array[SortOrder] = writeBuckets match {
    case Some(n) => Array(
      Expressions.sort(Expressions.bucket(n, "key"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("key"), SortDirection.ASCENDING))
    case None => keyAsc
  }

  /** `option("writepartitions", n)`: pin the distribution's partition
    * count — and therefore the number of generations written (one
    * fileset per partition). 0 (default) lets Spark size the exchange,
    * including AQE coalescing tiny outputs into fewer files. Bucketed
    * writes pin to the bucket count. */
  override def requiredNumPartitions(): Int = writeBuckets.getOrElse(
    properties.get(SSTableSource.WritePartitionsOption).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"sstable option '${SSTableSource.WritePartitionsOption}' must be an int, got '$v'")
      }
      require(n >= 0,
        s"sstable option '${SSTableSource.WritePartitionsOption}' must be >= 0: $n")
      n
    }.getOrElse(0))

  override def toBatch: BatchWrite = new SSTableBatchWrite(path, schema, properties, truncate)

  /** Micro-batch streaming sink: each epoch commits one SSTable
    * generation (a set of sorted filesets) into the target directory —
    * continuous ingestion that the in-place compactors
    * ([[graft.operators.SSTableOps.compactInPlace]], `autocompact`)
    * periodically fold into fewer generations. Spark honors the same
    * clustering+ordering requirement per micro-batch, so every epoch's
    * tasks stream sorted rows just like the batch path. */
  override def toStreaming: StreamingWrite =
    new SSTableStreamingWrite(path, schema, properties, writeBuckets)
}

/** Staged 4-file set of one committed task attempt. */
final case class SSTableCommit(stagedDataPaths: Seq[String]) extends WriterCommitMessage

/** Detects a table directory being REPLACED (atomic CTAS swap, CALL
  * rebucket) while a write commit is publishing into it — the one
  * window where a SUCCESSFUL commit's data could silently ride the old
  * directory into the trash (writers are lease-free by design, so the
  * maintenance lease cannot refuse them). A marker file is planted
  * before the first publish and checked after the last: the swap takes
  * the marker with the old directory, so a vanished marker means the
  * data landed in a replaced directory and the commit must FAIL LOUDLY
  * instead of acknowledging lost data. (Concurrent compaction never
  * explains a missing marker — maintainers touch only generation
  * filesets, never `_` files.) Crash litter is a zero-byte `_commit-`
  * file, swept by vacuumStaging's horizon. */
private[graft] object CommitIntegrity {
  def begin(storage: Storage, path: String, tag: String): String = {
    // pointer-state gate (VERDICT r11 #3): a DROP/undrop now commits by
    // flipping `_table` rather than renaming the tree away, so the
    // directory a doomed write would publish into still EXISTS — refuse
    // at commit start instead of letting the publish race the residue
    // destroy. ORDER MATTERS (r12 review): the marker goes down FIRST,
    // the state check second — a check-then-create would leave an
    // instant where the check passed pre-flip but the marker landed
    // after the swap's marker sweep, making the verify succeed for
    // files the residue destroy removes (silent loss). Marker-first is
    // airtight: a marker that exists before the sweep is swept (verify
    // fails, consults the state); a check that reads the post-flip
    // state refuses here and removes its own marker. (Redirect is fine:
    // the table is live; files land beside the migration and follow
    // the identity.)
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
      throw new IllegalStateException(
        s"table directory $path was REPLACED while this write was " +
          "committing (atomic CTAS / CALL rebucket swap): the commit's " +
          "data rode the old directory into the trash — rerun the write " +
          "against the new table (quiesce writers around re-layouts)")
    storage.delete(marker)
  }
}

/** The physical-writer knobs every write path (batch, streaming, delta)
  * parses from the same options — one parser, so the paths can never
  * drift on defaults. */
final case class WriterTuning(compress: Boolean, chunkLength: Int,
                              summaryInterval: Int, bloomBitsPerKey: Int,
                              algorithm: String)
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
}

final class SSTableBatchWrite(path: String, schema: StructType,
                              properties: Map[String, String], truncate: Boolean)
    extends BatchWrite {
  private val serConf: Option[SerializableHadoopConf] =
    if (Storage.hasScheme(path))
      Some(new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()))
    else None
  private def storage: Storage =
    serConf.map(c => new HadoopStorage(c.value): Storage).getOrElse(LocalStorage)

  /** Job-unique token: part of the staging dir AND the published file
    * names, so two applications' writes into one directory can never
    * collide (Spark task IDs restart at 0 per application — a bare
    * `part-P-taskId` name recurs across runs and a colliding rename
    * must never overwrite a live generation). */
  private val jobTag = {
    val t = properties.getOrElse(SSTableSource.JobTagOption,
      UUID.randomUUID().toString.take(8))
    require(t.nonEmpty && !t.contains('/') && !t.contains('\\'),
      s"illegal jobTag: '$t'")
    t
  }

  /** Swap-resilient commit (catalog tables only — see
    * [[SSTableSource.CommitRetryOption]]): stage OUTSIDE the table
    * directory (a swap replaces the table directory wholesale, staged
    * bytes included) and publish by HARDLINK so the staged copy survives
    * until the commit-integrity check passes — a vanished marker can
    * then republish into the replacement directory instead of reporting
    * the write lost. Gated on cheap links and append mode; everything
    * else keeps the in-directory staging + rename publish. */
  private val retryable: Boolean =
    properties.get(SSTableSource.CommitRetryOption).contains("true") &&
      !truncate && storage.linkIsCheap && path.contains("/")

  private val stagingDir =
    if (retryable) {
      val parent = path.substring(0, path.lastIndexOf('/'))
      val table = path.substring(path.lastIndexOf('/') + 1)
      s"$parent/_wstage-$table-$jobTag"
    } else s"$path/_staging-$jobTag"

  /** Filesets an INSERT OVERWRITE unpublished at job start — carried to
    * commit so the history event shows the full overwrite. */
  @volatile private var overwritten: Seq[String] = Nil

  /** Driver-side liveness beacon for OUTSIDE staging (retryable path
    * only, ADVICE r10): the `_wstage-` dir's own mtime goes stale the
    * moment the last task finishes writing, which can be long before
    * the driver commits (stragglers, slow downstream stages) — so the
    * namespace sweeps (staged DDL's and CALL vacuum's, both
    * heartbeat-aware) could take a live append's staging for a crashed
    * one. Same marker + cadence as the catalog's CTAS stage; a dead
    * driver stops touching and ages out under the shared 24 h horizon. */
  @volatile private var heartbeat:
    Option[java.util.concurrent.ScheduledExecutorService] = None

  private def startHeartbeat(st: Storage): Unit = {
    // synchronous first stamp: the periodic beat's first touch is a full
    // period out, and on object-store backends the staging dir's own
    // mtime is synthetic — an unstamped fresh dir would be sweepable
    try st.create(s"$stagingDir/${GraftCatalog.StageHeartbeatFile}").close()
    catch { case _: Exception => () }
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-wstage-heartbeat-$jobTag")
        t.setDaemon(true); t
      })
    val period = GraftCatalog.StageVacuumHorizonMs / 8
    exec.scheduleAtFixedRate(() =>
      try st.create(s"$stagingDir/${GraftCatalog.StageHeartbeatFile}").close()
      catch { case _: Exception => () }, // staging gone: commit/abort won
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    heartbeat = Some(exec)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val st = storage
    if (truncate && st.exists(path)) {
      overwritten = st.listDataFiles(path)
      overwritten.foreach(SSTableFiles.unpublish(st, _))
    }
    st.mkdirs(stagingDir)
    if (retryable) startHeartbeat(st)
    // outside staging does not create the target as a side effect, so
    // create it here or the FIRST write into a fresh directory fails at
    // the commit marker's create (NOTES.md item 72)
    if (retryable) st.mkdirs(path)
    val t = WriterTuning.of(properties)
    SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption)) match {
      case Some(n) =>
        new SSTableBucketedWriterFactory(stagingDir, schema, t, serConf, jobTag, n)
      case None =>
        new SSTableWriterFactory(stagingDir, schema, t.compress, t.chunkLength,
          t.summaryInterval, t.bloomBitsPerKey, t.algorithm, serConf, jobTag)
    }
  }

  /** Test seam for the one unreachable-from-outside race window: the
    * instant between the last publish and the integrity check. */
  @volatile private[spark] var testBetweenPublishAndVerify: () => Unit = () => ()

  /** Publish the winning attempts' staged files into the target dir —
    * siblings first, Data.db LAST, so a concurrent reader that lists a
    * Data.db always finds its complete fileset (ADVICE r2 medium).
    * Rename-moves for the plain path; hardlinks (staged copies kept
    * until the integrity check passes) for the swap-resilient catalog
    * path — see [[republishAfterSwap]]. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    val marker = CommitIntegrity.begin(st, path, jobTag)
    val published = Seq.newBuilder[String]
    messages.foreach {
      case SSTableCommit(staged) =>
        staged.foreach { p =>
          if (retryable) SSTableFiles.publishLinked(st, p, path, tolerateExisting = false)
          else SSTableFiles.publish(st, p, path)
        }
        published ++= staged
      case _ =>
    }
    if (!retryable) removeStaging(st)
    testBetweenPublishAndVerify()
    // verify BEFORE the history event: a detected replacement must not
    // append a phantom event (for files that never existed there) to
    // the NEW table's audit log
    try CommitIntegrity.verifyAndEnd(st, path, marker)
    catch {
      case e: IllegalStateException if retryable =>
        republishAfterSwap(st, published.result(), e)
    }
    removeStaging(st)
    History.record(st, path, if (truncate) "overwrite" else "insert",
      added = published.result(), removed = overwritten)
    // write-triggered bounded maintenance (driver-side, post-publish):
    // the committing job IS the single maintainer for the fold's
    // duration — see SSTableOps.autoCompact
    SSTableSource.autoCompactOf(properties.get(SSTableSource.AutoCompactOption))
      .foreach { n =>
        graft.operators.SSTableOps.autoCompact(SparkSession.active, path, n,
          SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption)))
        ()
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    removeStaging(storage)

  private def removeStaging(st: Storage): Unit = {
    heartbeat.foreach(_.shutdownNow())
    heartbeat = None
    st.deleteRecursive(stagingDir)
  }

  /** The retry: the integrity marker vanished, so a REPLACE/rebucket
    * swap took the old directory — first publish included — to the
    * trash while this commit ran. The staged copies are OUTSIDE the
    * table directory and still alive (link-publish), so follow the
    * table identity into the replacement directory and publish ONCE
    * more, under a fresh marker. Refused (original failure rethrown,
    * enriched) when:
    *  - the path no longer exists: that was a DROP, and an INSERT must
    *    not resurrect a dropped table;
    *  - the replacement's bucket layout differs from the one this
    *    commit's generations were routed under (rebucket to a new
    *    count): linking old-layout filesets in would corrupt the new
    *    layout — the loud rerun is the only correct outcome;
    *  - the second marker vanishes too (a second swap mid-retry):
    *    swaps are rare operator actions; twice within one commit is a
    *    fight the writer should not referee. */
  private def republishAfterSwap(st: Storage, staged: Seq[String],
                                 original: IllegalStateException): Unit = {
    def give(reason: String): Nothing =
      throw new IllegalStateException(
        s"table directory $path was REPLACED while this write was " +
          s"committing, and the automatic republish was refused: $reason — " +
          "rerun the write against the current table", original)
    if (!st.exists(path)) give("the table was dropped (nothing to publish into)")
    // pointer-state gate: the directory surviving no longer implies the
    // table does — a pointer-committed DROP leaves a refusing tombstone
    // while its residue is destroyed, and an undrop mid-copy is not a
    // publishable table yet
    val newProps = GraftCatalog.readTableProps(st, path)
    TableState.of(newProps) match {
      case TableState.Dropped(_, _) =>
        give("the table was dropped (nothing to publish into)")
      case TableState.Restoring(_, _) =>
        give("the name is mid-restore (undrop/publish copying content in)")
      case _ => () // Live or Redirect: publish; files follow the identity
    }
    val ourBuckets = SSTableSource.bucketsOf(
      properties.get(SSTableSource.WriteBucketsOption))
    val newBuckets = newProps.get(GraftCatalog.BucketsProp).map(_.toInt)
    if (ourBuckets != newBuckets)
      give(s"the replacement changed the bucket layout " +
        s"(wrote ${ourBuckets.fold("plain")(b => s"buckets=$b")}, table now " +
        s"${newBuckets.fold("plain")(b => s"buckets=$b")})")
    val marker = CommitIntegrity.begin(st, path, s"$jobTag-retry")
    staged.foreach(SSTableFiles.publishLinked(st, _, path, tolerateExisting = true))
    try CommitIntegrity.verifyAndEnd(st, path, marker)
    catch {
      case _: IllegalStateException =>
        give("the directory was replaced AGAIN during the republish")
    }
  }
}

/** Streaming (micro-batch) write: tasks stage under
  * `_streaming-staging/` with ATTEMPT-UNIQUE names (taskId in the stem,
  * so concurrent attempts of one task — speculation, zombie retries —
  * can never interleave bytes in a shared staged file; ADVICE r2
  * medium), and epoch commit renames the winning attempt onto the
  * `(partition, epoch)`-deterministic published name. A replayed epoch
  * (driver recovery re-running a committed micro-batch) therefore
  * renames onto the same names instead of duplicating rows: the sink is
  * idempotent per epoch, giving effective exactly-once on top of
  * Spark's at-least-once epoch replay. Publish order is siblings-first,
  * Data.db last (and Data.db deleted first on replay overwrite), so the
  * polling [[SSTableMicroBatchStream]] never plans a Data.db whose
  * siblings are missing. */
final class SSTableStreamingWrite(path: String, schema: StructType,
                                  properties: Map[String, String],
                                  writeBuckets: Option[Int] = None)
    extends StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val serConf: Option[SerializableHadoopConf] =
    if (Storage.hasScheme(path))
      Some(new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()))
    else None
  private def storage: Storage =
    serConf.map(c => new HadoopStorage(c.value): Storage).getOrElse(LocalStorage)

  private val stagingDir = s"$path/_streaming-staging"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    storage.mkdirs(stagingDir)
    val t = WriterTuning.of(properties)
    writeBuckets match {
      case Some(n) =>
        // bucketed streaming ingest: Spark honors the same
        // bucket-clustered + (bucket, key)-sorted requirement per
        // micro-batch, so each epoch appends at most n generations, every
        // stem `bucket-NNNNN-epoch-E` — the layout (and its zero-exchange
        // merges, SPJ joins, per-bucket maintenance) survives continuous
        // ingestion; compact_bucketed periodically folds the chains
        new SSTableBucketedStreamingWriterFactory(stagingDir, schema,
          t, serConf, n)
      case None =>
        new SSTableStreamingWriterFactory(stagingDir, schema, t.compress,
          t.chunkLength, t.summaryInterval, t.bloomBitsPerKey, t.algorithm,
          serConf)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    val marker = CommitIntegrity.begin(st, path, s"epoch-$epochId")
    val published = Seq.newBuilder[String]
    messages.foreach {
      case SSTableCommit(staged) => staged.foreach { data =>
        val stagedName = data.substring(data.lastIndexOf('/') + 1)
        val dstData = s"$path/${SSTableStreamingWrite.publishedName(stagedName)}"
        published += dstData
        // epoch replay: unpublish the prior copy (Data.db first). Every
        // existing sibling goes, whether or not this replay staged a
        // counterpart — a replay with different write options (e.g.
        // compression off, so no CompressionInfo.db staged) must not
        // leave a stale sibling next to the new Data.db (ADVICE r3).
        SSTableFiles.unpublish(st, dstData)
        SSTableFiles.PublishOrderSuffixes.foreach { suf =>
          val src = SSTableFiles.sibling(data, suf)
          if (st.exists(src)) st.rename(src, SSTableFiles.sibling(dstData, suf))
        }
      }
      case _ =>
    }
    // verify before recording: no phantom event in a replacement's log
    CommitIntegrity.verifyAndEnd(st, path, marker)
    History.record(st, path, "stream-epoch", added = published.result(),
      detail = s"epoch=$epochId")
    // every epoch appends one generation (per bucket); with autocompact
    // the committing epoch folds the chain back to the bound before the
    // next micro-batch plans — continuous ingestion stays read-efficient
    // without a scheduled CALL compact
    SSTableSource.autoCompactOf(properties.get(SSTableSource.AutoCompactOption))
      .foreach { n =>
        graft.operators.SSTableOps.autoCompact(SparkSession.active, path, n,
          writeBuckets)
        ()
      }
  }

  /** Delete the aborted epoch's staged files (matched by the epoch stem). */
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    messages.foreach {
      case SSTableCommit(staged) => staged.foreach(SSTableFiles.unpublish(st, _))
      case _ =>
    }
  }
}

final class SSTableStreamingWriterFactory(stagingDir: String, schema: StructType,
                                          compress: Boolean, chunkLength: Int,
                                          summaryInterval: Int, bloomBitsPerKey: Int,
                                          algorithm: String,
                                          serConf: Option[SerializableHadoopConf])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val storage = serConf.map(c => new HadoopStorage(c.value): Storage)
      .getOrElse(LocalStorage)
    // attempt-unique stem: concurrent attempts of the same (partition,
    // epoch) each get their own staged files; commit strips the
    // `-attempt-T` part to publish the deterministic replay-stable name
    new SSTablePartitionWriter(stagingDir, schema, partitionId, taskId, compress,
      chunkLength, summaryInterval, bloomBitsPerKey, storage,
      fileStem = f"part-$partitionId%05d-epoch-$epochId-attempt-$taskId",
      algorithm = algorithm)
  }
}

object SSTableStreamingWrite {
  private val AttemptPart = "-attempt-\\d+".r
  /** `part-P-epoch-E-attempt-T-Data.db` → `part-P-epoch-E-Data.db` (and
    * identically `bucket-NNNNN-epoch-E-attempt-T-…` for bucketed epochs):
    * the published name is (partition-or-bucket, epoch)-deterministic, so
    * a replayed epoch renames ONTO its prior output instead of
    * duplicating it. */
  def publishedName(stagedName: String): String =
    AttemptPart.replaceAllIn(stagedName, "")
}

/** Bucketed streaming writer factory: the rolling per-bucket writer with
  * `bucket-NNNNN-epoch-E-attempt-T` staged stems — canonical bucket
  * layout + epoch determinism + attempt uniqueness. The epoch id in the
  * stem is what makes replay idempotent per bucket (see
  * [[SSTableStreamingWrite.publishedName]]). */
final class SSTableBucketedStreamingWriterFactory(
    stagingDir: String, schema: StructType, tuning: WriterTuning,
    serConf: Option[SerializableHadoopConf], buckets: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val storage = serConf.map(c => new HadoopStorage(c.value): Storage)
      .getOrElse(LocalStorage)
    new SSTableBucketedRollingWriter(stagingDir, schema, tuning, storage,
      b => s"${SSTableSource.bucketStem(b)}epoch-$epochId-attempt-$taskId",
      taskId, buckets)
  }
}

/** Bucketed-table write factory: each task gets a ROLLING writer that
  * streams one staged generation per bucket it holds. */
final class SSTableBucketedWriterFactory(stagingDir: String, schema: StructType,
                                         tuning: WriterTuning,
                                         serConf: Option[SerializableHadoopConf],
                                         jobTag: String, buckets: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val storage = serConf.map(c => new HadoopStorage(c.value): Storage)
      .getOrElse(LocalStorage)
    new SSTableBucketedRollingWriter(stagingDir, schema, tuning, storage,
      b => s"${SSTableSource.bucketStem(b)}$jobTag-$taskId", taskId, buckets)
  }
}

/** Streams one task's rows — Spark-sorted by `(bucket(n, key), key)` per
  * [[SSTableWrite.requiredOrdering]] — into one staged 4-file set PER
  * BUCKET, rolling to a fresh [[SSTablePartitionWriter]] whenever the
  * computed bucket id advances. The bucket id is recomputed here with
  * [[GraftBucketFunction.bucketOf]] (the same function the shuffle
  * routed with), and a DECREASING id fails loudly: it would mean the
  * declared distribution/ordering was not honored, and silently
  * splitting a bucket across generations in one task would corrupt
  * nothing but waste names — the invariant is cheap to enforce, so it
  * is. Staged stems are `bucket-NNNNN-<jobTag>-<taskId>`: canonical
  * bucket layout plus attempt uniqueness (taskId differs per attempt;
  * the commit coordinator publishes exactly one attempt's files). */
final class SSTableBucketedRollingWriter(stagingDir: String, schema: StructType,
                                         tuning: WriterTuning, storage: Storage,
                                         stemFor: Int => String, taskId: Long,
                                         buckets: Int,
                                         stampMicros: Option[Long] = None)
    extends DataWriter[InternalRow] {
  private val keyIdx = schema.fieldIndex("key")
  private var current: SSTablePartitionWriter = null
  private var currentBucket = -1
  private val staged = Seq.newBuilder[String]

  private def roll(b: Int): Unit = {
    closeCurrent()
    current = new SSTablePartitionWriter(stagingDir, schema, b, taskId,
      tuning.compress, tuning.chunkLength, tuning.summaryInterval,
      tuning.bloomBitsPerKey, storage,
      fileStem = stemFor(b),
      algorithm = tuning.algorithm, stampMicros = stampMicros)
    currentBucket = b
  }
  private def closeCurrent(): Unit = if (current != null) {
    staged ++= current.commit().asInstanceOf[SSTableCommit].stagedDataPaths
    current = null
  }

  override def write(record: InternalRow): Unit = {
    val b = GraftBucketFunction.bucketOf(buckets, record.getBinary(keyIdx))
    if (b != currentBucket) {
      require(b > currentBucket,
        s"bucket id went backwards ($currentBucket -> $b): the write was not " +
          "clustered+sorted by bucket(n, key) — bucketed writes need the " +
          "catalog's FunctionCatalog-resolved distribution")
      roll(b)
    }
    current.write(record)
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    SSTableCommit(staged.result())
  }

  override def abort(): Unit = {
    if (current != null) current.abort()
    staged.result().foreach(SSTableFiles.unpublish(storage, _))
  }
  override def close(): Unit = ()
}

final class SSTableWriterFactory(stagingDir: String, schema: StructType,
                                 compress: Boolean, chunkLength: Int,
                                 summaryInterval: Int, bloomBitsPerKey: Int,
                                 algorithm: String,
                                 serConf: Option[SerializableHadoopConf],
                                 jobTag: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val storage = serConf.map(c => new HadoopStorage(c.value): Storage)
      .getOrElse(LocalStorage)
    // job-tagged stem: published names stay unique across applications
    new SSTablePartitionWriter(stagingDir, schema, partitionId, taskId, compress,
      chunkLength, summaryInterval, bloomBitsPerKey, storage,
      fileStem = f"part-$partitionId%05d-$taskId-$jobTag", algorithm = algorithm)
  }
}

/** Streams one partition's rows (already key-sorted by Spark) into a
  * 4-file SSTable set under the job staging dir. Accepts either the full
  * nested schema or a bare `key` plus nested `columns` in any field
  * order. `stampMicros` (row-level operations only) overrides every
  * written cell's timestamp with the operation's write timestamp —
  * the Cassandra server-side-timestamp contract of UPDATE/MERGE. */
final class SSTablePartitionWriter(stagingDir: String, schema: StructType,
                                   partitionId: Int, taskId: Long, compress: Boolean,
                                   chunkLength: Int, summaryInterval: Int,
                                   bloomBitsPerKey: Int, storage: Storage,
                                   fileStem: String = null,
                                   algorithm: String = CompressionInfo.SnappyAlgorithm,
                                   stampMicros: Option[Long] = None)
    extends DataWriter[InternalRow] {
  private val dataPath =
    if (fileStem != null) s"$stagingDir/$fileStem-Data.db"
    else f"$stagingDir/part-$partitionId%05d-$taskId-Data.db"
  private val writer = new SSTableWriter(dataPath, compress, chunkLength,
    summaryInterval, bloomBitsPerKey = bloomBitsPerKey, algorithm = algorithm,
    storage = storage)
  private val keyIdx = schema.fieldIndex("key")
  private val colsIdx = if (schema.fieldNames.contains("columns")) schema.fieldIndex("columns") else -1
  private val colStruct = SSTableSchema.columnStruct
  // optional row-level deletion info; inner field positions resolved from
  // the incoming schema so any struct field order round-trips
  private val tombIdx =
    if (schema.fieldNames.contains("rowTombstone")) schema.fieldIndex("rowTombstone") else -1
  private val (tombLdtIdx, tombMfdaIdx) =
    if (tombIdx >= 0) {
      val st = schema(tombIdx).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      (st.fieldIndex("localDeletionTime"), st.fieldIndex("markedForDeleteAt"))
    } else (-1, -1)

  override def write(record: InternalRow): Unit = {
    val key = record.getBinary(keyIdx)
    val cols: Seq[Column] =
      if (colsIdx < 0 || record.isNullAt(colsIdx)) Nil
      else {
        val arr = record.getArray(colsIdx)
        (0 until arr.numElements()).map { i =>
          val c = arr.getStruct(i, colStruct.length)
          val name = c.getBinary(0)
          val state = c.getUTF8String(1).toString
          val ts = stampMicros.getOrElse(c.getLong(3))
          state match {
            case "NORMAL" => Column.Normal(name, c.getBinary(2), ts)
            case "DELETED" => Column.Deleted(name, ts)
            case "EXPIRING" => Column.Expiring(name, c.getBinary(2), c.getLong(4), c.getLong(5), ts)
            case "RANGE_TOMBSTONE" =>
              // value = max bound, timestamp = mfda, ttlSecs = ldt (the
              // SSTableSchema surface encoding)
              val ldt = c.getLong(4)
              require(ldt >= 0 && ldt <= Int.MaxValue,
                s"range tombstone localDeletionTime out of u32-seconds range: $ldt")
              Column.RangeTombstone(name, c.getBinary(2), ldt.toInt, ts)
            case "COUNTER" => // expiresMillis = timestampOfLastDelete µs
              Column.Counter(name, c.getBinary(2), c.getLong(5), ts)
            case "COUNTER_UPDATE" => Column.CounterUpdate(name, c.getBinary(2), ts)
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
    writer.append(SSTableRow(key, cols, tombstone))
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    SSTableCommit(Seq(dataPath))
  }

  /** Delete this attempt's staged files — a failed/speculative attempt
    * must leave nothing behind (it used to close() into a readable set). */
  override def abort(): Unit = {
    writer.close()
    SSTableFiles.unpublish(storage, dataPath)
  }
  override def close(): Unit = ()
}
