package graft.sources.sstable.spark

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

final class SSTableBatchWrite(path: String, schema: StructType,
                              properties: Map[String, String], truncate: Boolean)
    extends BatchWrite {
  private val storageHandle =
    StorageHandle(path, SparkSession.active.sessionState.newHadoopConf())
  private def storage: Storage = storageHandle.get

  private val jobTag = FilesetCommit.jobTag(properties)
  private val writeBuckets =
    SSTableSource.bucketsOf(properties.get(SSTableSource.WriteBucketsOption))

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
    new SSTableTaskWriterFactory(stagingDir, schema, WriterTuning.of(properties),
      storageHandle, jobTag, writeBuckets)
  }

  /** Test seam for the one unreachable-from-outside race window: the
    * instant between the last publish and the integrity check. */
  @volatile private[spark] var testBetweenPublishAndVerify: () => Unit = () => ()

  /** Publish the winning attempts' staged filesets through
    * [[FilesetCommit]]: rename-moves for the plain path; hardlinks
    * (staged copies kept until the integrity check passes) for the
    * swap-resilient catalog path — see [[republishAfterSwap]]. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    val staged = messages.toSeq.flatMap {
      case SSTableCommit(paths) => paths
      case _ => Nil
    }
    val published =
      try FilesetCommit(st, path, jobTag, staged, staging = stagingDir,
        linked = retryable, beforeVerify = testBetweenPublishAndVerify)
      catch {
        case e: CommitIntegrity.Swapped if retryable => republishAfterSwap(st, staged, e)
      } finally removeStaging(st)
    History.record(st, path, if (truncate) "overwrite" else "insert",
      added = published.added, removed = overwritten)
    FilesetCommit.autoCompact(properties, path, writeBuckets)
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
                                 original: IllegalStateException): FilesetCommit.Committed = {
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
    val newBuckets = newProps.get(GraftCatalog.BucketsProp).map(_.toInt)
    if (writeBuckets != newBuckets)
      give(s"the replacement changed the bucket layout " +
        s"(wrote ${writeBuckets.fold("plain")(b => s"buckets=$b")}, table now " +
        s"${newBuckets.fold("plain")(b => s"buckets=$b")})")
    try FilesetCommit(st, path, s"$jobTag-retry", staged, linked = true, relink = true)
    catch {
      case _: CommitIntegrity.Swapped =>
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

  private val storageHandle =
    StorageHandle(path, SparkSession.active.sessionState.newHadoopConf())
  private def storage: Storage = storageHandle.get

  private val stagingDir = s"$path/_streaming-staging"

  /** Bucketed streaming ingest: Spark honors the same bucket-clustered +
    * (bucket, key)-sorted requirement per micro-batch, so each epoch
    * appends at most n generations, every stem `bucket-NNNNN-epoch-E` —
    * the layout (and its zero-exchange merges, SPJ joins, per-bucket
    * maintenance) survives continuous ingestion; compact_bucketed
    * periodically folds the chains. Streaming stems come from the epoch,
    * so the factory gets no job tag. */
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    storage.mkdirs(stagingDir)
    new SSTableTaskWriterFactory(stagingDir, schema, WriterTuning.of(properties),
      storageHandle, jobTag = null, writeBuckets)
  }

  /** Epoch replay unpublishes the prior copy of every published name
    * first (Data.db first). Every existing sibling goes, whether or not
    * this replay staged a counterpart — a replay with different write
    * options (e.g. compression off, so no CompressionInfo.db staged)
    * must not leave a stale sibling next to the new Data.db. With
    * autocompact, the committing epoch folds each chain back to the
    * bound before the next micro-batch plans. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val st = storage
    val staged = messages.toSeq.flatMap {
      case SSTableCommit(paths) => paths
      case _ => Nil
    }
    val published = FilesetCommit(st, path, s"epoch-$epochId", staged,
      unpublish = staged.map(p =>
        s"$path/${FilesetCommit.publishedName(p.substring(p.lastIndexOf('/') + 1))}"),
      stripAttempt = true)
    History.record(st, path, "stream-epoch", added = published.added,
      detail = s"epoch=$epochId")
    FilesetCommit.autoCompact(properties, path, writeBuckets)
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

/** Streams one task's rows — Spark-sorted by `(bucket(n, key), key)` per
  * [[SSTableWrite.requiredOrdering]] — into one staged 4-file set PER
  * BUCKET, rolling to a fresh [[SSTablePartitionWriter]] whenever the
  * computed bucket id advances. The bucket id is recomputed here with
  * [[GraftBucketFunction.bucketOf]] (the same function the shuffle
  * routed with), and a DECREASING id fails loudly: it would mean the
  * declared distribution/ordering was not honored, and silently
  * splitting a bucket across generations in one task would corrupt
  * nothing but waste names — the invariant is cheap to enforce, so it
  * is. `stemFor` names each bucket's staged fileset
  * ([[SSTableTaskWriterFactory]]: canonical bucket layout plus attempt
  * uniqueness). */
final class SSTableBucketedRollingWriter(stagingDir: String, schema: StructType,
                                         tuning: WriterTuning, storage: Storage,
                                         stemFor: Int => String, buckets: Int,
                                         stampMicros: Option[Long] = None)
    extends DataWriter[InternalRow] {
  private val keyIdx = schema.fieldIndex("key")
  private var current: SSTablePartitionWriter = null
  private var currentBucket = -1
  private val staged = Seq.newBuilder[String]

  private def roll(b: Int): Unit = {
    closeCurrent()
    current = new SSTablePartitionWriter(stagingDir, schema, tuning, storage,
      stemFor(b), stampMicros)
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

/** Streams one partition's rows (already key-sorted by Spark) into the
  * staged SSTable set `stagingDir/<fileStem>-*`. Accepts either the full
  * nested schema or a bare `key` plus nested `columns` in any field
  * order. `stampMicros` (row-level operations only) overrides every
  * written cell's timestamp with the operation's write timestamp —
  * the Cassandra server-side-timestamp contract of UPDATE/MERGE. */
final class SSTablePartitionWriter(stagingDir: String, schema: StructType,
                                   tuning: WriterTuning, storage: Storage,
                                   fileStem: String,
                                   stampMicros: Option[Long] = None)
    extends DataWriter[InternalRow] {
  private val dataPath = s"$stagingDir/$fileStem${SSTableFiles.DataSuffix}"
  private val writer = tuning.open(dataPath, storage)
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
