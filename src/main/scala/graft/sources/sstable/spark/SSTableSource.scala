package graft.sources.sstable.spark

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.sstable._

/** DataSource V2 for the SSTable 4-file set: `spark.read.format("sstable")
  * .load(dir)` / `df.write.format("sstable").save(dir)`.
  *
  * Replaces the reference's whole scan stack (S1–S4, SURVEY.md §2.1) and
  * collapses its two offline split-planning MR jobs into plan time
  * (§3-E3): `planInputPartitions` walks each file's Summary.db (tiny:
  * one entry per 128 rows) and emits row-aligned, ~`targetSplitBytes`
  * partitions in the uncompressed domain.
  *
  * Pushdown:
  *  - key-range filters (=, <, <=, >, >=, And over `key`) prune whole
  *    partitions via Summary key bounds (`SupportsPushDownFilters`); rows
  *    are still re-filtered by Spark (we report every filter as residual,
  *    so pruning can never change results — only skip IO).
  *  - column pruning (`SupportsPushDownRequiredColumns`): a scan that
  *    doesn't need `columns` switches its physical access path to
  *    Index.db — key-only queries never touch Data.db at all.
  *
  * Write: each Spark partition produces one sorted SSTable set
  * (`part-NNNNN-<task>-Data.db` + siblings); sortedness is requested from
  * Spark via `RequiresDistributionAndOrdering` (cluster + sort by `key`),
  * so no writer-side buffering is needed.
  */
class SSTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstable"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val view = SSTableSource.viewOf(Option(options.get(SSTableSource.ViewOption)))
    val cells = view == "cells"
    val buckets = SSTableSource.bucketsOf(Option(options.get(SSTableSource.BucketsOption)))
    require(!(cells && buckets.isDefined), "view=cells and buckets are exclusive")
    require(!(view == "reconciled" && buckets.isDefined), SSTableSource.ReconciledBucketsRefusal)
    if (cells) SSTableSchema.cellsSchema
    else if (buckets.isDefined) SSTableSchema.bucketedSchema
    else SSTableSchema.schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // the bucket transform a bucketed write declares only resolves
    // through a FunctionCatalog, which the path API has none of — refuse
    // HERE with the pointer instead of Spark's unresolved-function error
    require(!properties.containsKey(SSTableSource.WriteBucketsOption),
      s"option '${SSTableSource.WriteBucketsOption}' needs a FunctionCatalog " +
        "and is a GraftCatalog table property; the path API writes bucketed " +
        "layouts via SSTableOps.writeBucketed")
    // pointer-state guard for PATH-API reads of a CATALOG directory
    // caught mid-swap: a pointer-committed DROP/undrop leaves a
    // `graft.state`-carrying `_table` while content moves — reading it
    // raw would return an empty or partial table instead of the honest
    // refusal catalog readers get. (Catalog loads construct SSTableTable
    // directly with the already-resolved directory, skipping this.)
    Option(properties.get(SSTableSource.PathOption)).foreach { p =>
      // newHadoopConf() is a full-config clone — forPath only pays it
      // for scheme'd paths (getTable re-runs per relation resolution)
      SSTableSource.requireLiveRawDir(graft.sources.sstable.Storage.forPath(p,
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()), p)
    }
    new SSTableTable(properties.asScala.toMap)
  }
  override def supportsExternalMetadata(): Boolean = false
}

object SSTableSource {
  /** The pointer-state guard every RAW (path-API) entry point shares:
    * a catalog directory caught mid-swap carries a non-Live
    * `graft.state` pointer, and reading it raw would return an empty or
    * partial table instead of the honest refusal catalog readers get.
    * Used by getTable (scans) and the graft_lookup TVF (probes). */
  private[graft] def requireLiveRawDir(storage: graft.sources.sstable.Storage,
                                       dir: String): Unit =
    TableState.of(GraftCatalog.readTableProps(storage, dir)) match {
      case TableState.Live => ()
      case other => throw new IllegalStateException(
        s"$dir is a catalog table mid-lifecycle (${other.getClass.getSimpleName}" +
          s") — read it through its catalog name, which resolves the " +
          "pointer; the raw directory is not a complete table right now")
    }

  val PathOption = "path"
  val TargetSplitBytesOption = "targetsplitbytes"
  /** Optional: evaluate TTLs at read time — EXPIRING columns whose
    * expiresMillis <= the given epoch-ms are dropped by the reader. OFF by
    * default to match the reference, which surfaces TTL fields but never
    * evaluates them (WritableColumn.java:20-21, SURVEY.md §2.3-P8). */
  val TtlAsOfMsOption = "ttlasofms"
  /** Optional: DATA-level time travel — reconstruct the LWW state as of a
    * past write-timestamp (micros). The reader drops cells (incl. DELETED
    * / range-tombstone / counter entries) whose timestamp is AFTER the
    * cut, hides row tombstones marked after it, and SKIPS rows with no
    * surviving anchor (the key did not exist yet at `t`). Downstream
    * merge ops ([[graft.operators.SSTableOps.compactRows]]) then yield
    * exactly the state a reader at time `t` would have reconciled.
    * Plan-time: generations whose `-Statistics.db` minTimestamp is after
    * the cut are never opened (a 100 TB directory time-travels by
    * reading only old-enough files). Complements `_snapshot-` dirs:
    * snapshots pin a FILE set, asof pins a WRITE-time cut — asof works
    * retroactively but only while shadowed versions haven't been
    * compacted away (LWW compaction keeps winners only; time-travel
    * across a compaction needs the snapshot, same trade as Cassandra).
    * Forces Data.db decode on key-only projections (Index.db cannot
    * know timestamps) and declines pushed aggregates (sidecar totals
    * describe the full contents). */
  val AsOfMicrosOption = "asofmicros"
  val CompressOption = "compress"
  val ChunkLengthOption = "chunklength"
  val SummaryIntervalOption = "summaryinterval"
  /** Bloom filter density for written Filter.db files; 0 disables. */
  val BloomBitsPerKeyOption = "bloombitsperkey"
  /** Chunk compression algorithm for written Data.db files: "snappy"
    * (default) or "deflate" — the two compressors Cassandra 1.2 shipped. */
  val CompressionAlgorithmOption = "compressionalgorithm"
  /** 128 MB uncompressed per partition by default (the reference used
    * 256 MB of compressed chunks, GenerateSSTableDataSplits.scala:238). */
  val DefaultTargetSplitBytes: Long = 128L * 1024 * 1024
  /** Above this many Data.db files, split planning ships to executors as
    * a Spark job instead of running on driver threads. */
  val PlanningThresholdOption = "distributedplanningthreshold"
  val DefaultDistributedPlanningThreshold = 1024
  /** Optional caller-supplied job tag embedded in published file names
    * (default: a random 8-char token). Lets a maintenance job identify
    * exactly the filesets IT published (the derived stores' appends use
    * it). Must be unique per write; path separators are rejected. */
  val JobTagOption = "jobtag"
  /** Read-side view: "rows" (default — one row per SSTable row, columns
    * as an array), "cells" ([[SSTableSchema.cellsSchema]] — one row per
    * column cell, flattened; the source-side explode), or "generations"
    * ([[SSTableSchema.generationsSchema]] — one row per published
    * fileset with its sidecar metadata: the ops/observability view, the
    * `DESCRIBE DETAIL` of this format; zero Data.db IO), or
    * "reconciled" (the rows schema, one merged row per key: every
    * generation's versions of a key reconciled in the reader — see
    * [[SSTableScan]] — with no merge shuffle; what
    * [[graft.operators.SSTableOps.compactRows]] plans over a bare read).
    * Batch read only. */
  val ViewOption = "view"
  /** Read a NAMED SNAPSHOT of the directory: `option("snapshot", tag)`
    * resolves the load path to the `_snapshot-<tag>/` hardlink pin that
    * [[graft.operators.SSTableOps.snapshot]] created, without callers
    * knowing the layout. Every pruning/pushdown surface (key ranges,
    * limit/top-n, asofmicros, stats aggregates, views) operates on the
    * pinned fileset unchanged — it's the same directory shape. Batch
    * read only (a snapshot is an immutable point-in-time view; tailing
    * it for new generations is meaningless) and rejected on writes. An
    * unknown tag fails loudly at planning, never an empty result. */
  val SnapshotOption = "snapshot"
  /** Incremental (CDC-style) batch reads: `option("sincesnapshot", tag)`
    * plans ONLY the generations NOT present in the `_snapshot-<tag>/`
    * pin — the batch-epoch twin of the streaming source's tailing. The
    * intended loop: each pipeline run reads `sincesnapshot = <previous
    * epoch's tag>`, processes just the new data, then takes its own
    * snapshot as the next epoch's floor — a 100 TB directory re-processes
    * only its delta. Composes with `snapshot` (read pin B minus pin A =
    * a reproducible epoch diff) and with every pruning surface (the
    * exclusion happens at file listing, before key-range/limit/stats
    * planning). File-level contract: compaction REWRITES old rows into
    * new filesets, which a since-read would count as new — run
    * compaction/maintenance outside the snapshot→diff window (the same
    * single-maintainer contract as the rest of the maintenance family).
    * Rejected on writes. On STREAMING reads the pin is the starting
    * floor (Delta's `startingVersion`): a fresh checkpoint begins
    * tailing after the snapshot instead of replaying the whole
    * directory — see [[SSTableMicroBatchStream.initialOffset]]. */
  val SinceSnapshotOption = "sincesnapshot"
  /** Delete-aware reads: `option("applydeletes", "true")` (set
    * automatically by [[GraftCatalog]] tables) applies the directory's
    * DELETE-ONLY generations — those a SQL `DELETE` appended, provable
    * from their v2 sidecars alone ([[DeleteShadow.isDeleteOnly]]) — as
    * reader-side shadowing: cells with `timestamp <= markedAt` vanish,
    * fully-shadowed rows vanish, and the delete generations themselves
    * are excluded from split planning (their entire content IS the
    * shadow map). Merge-on-read, O(deleted keys): nothing is rewritten
    * until compaction folds the tombstones in. Batch read only; forces
    * Data.db decode for key-only projections (Index.db can't know cell
    * timestamps), declines pushed aggregates and LIMIT file-prefix
    * pruning while deletes are pending (sidecar totals over-count).
    * Composes with `asofmicros` (only deletes marked at/before the cut
    * apply). */
  val ApplyDeletesOption = "applydeletes"
  /** Upper bound on pending deleted keys a delete-aware scan will carry
    * to executors (loud failure pointing at compaction beyond it). */
  val MaxDeleteKeysOption = "maxdeletekeys"
  val DefaultMaxDeleteKeys: Int = 4 << 20
  /** Deterministic override for the delete mark written by SQL DELETE
    * (tests, replayable pipelines); default = max timestamp across the
    * directory's statistics + 1, which shadows everything present. */
  val DeleteMarkMicrosOption = "deletemarkmicros"
  /** Per-row provenance metadata column (`SupportsMetadataColumns`):
    * `SELECT *, _generation` surfaces the publishing fileset's stem.
    * Hidden from `SELECT *`; joins the scan only when asked for. */
  val GenerationColumn = "_generation"
  /** CDC change-type metadata column (rows view): "delete" when a real
    * row tombstone is the row version's FINAL word — no surviving cell
    * outdates it — and "upsert" otherwise (a compacted delete-then-
    * reinsert row carries both the tombstone and newer live cells; its
    * reconciled state is live, so labeling it a delete would make a
    * feed consumer drop a live key). The explicit change feed for
    * `sincesnapshot` epoch-diff consumers, who would otherwise have to
    * infer the change type from the row shape. Metadata column, so `q_sstable_since`-style diff schemas stay
    * stable: `SELECT *, _change_type` opts in. Forces Data.db decode on
    * key-only projections (Index.db doesn't know tombstones). */
  val ChangeTypeColumn = "_change_type"
  /** Snapshot directory naming — the layout contract with
    * [[graft.operators.SSTableOps]] (which owns creation/deletion). */
  private[graft] val SnapshotDirPrefix = "_snapshot-"
  /** Streaming backpressure: cap each micro-batch at this many new
    * generations / this many uncompressed Data.db bytes (the same names
    * and semantics as Spark's file stream source). Unset = drain all. */
  val MaxFilesPerTriggerOption = "maxfilespertrigger"
  val MaxBytesPerTriggerOption = "maxbytespertrigger"
  /** Write-side partitioning: "hash" (default — clustered by key) or
    * "range" (ordered distribution: each generation covers a disjoint
    * key span, so key-range reads prune whole files). */
  val LayoutOption = "layout"
  /** Pin the write exchange's partition count (= generations written);
    * 0/unset lets Spark (incl. AQE coalescing) size it. */
  val WritePartitionsOption = "writepartitions"
  /** Table-level bucketed layout (`CREATE TABLE … TBLPROPERTIES
    * ('buckets'='n')`, persisted by [[GraftCatalog]]): every write to the
    * table keeps the `bucket-NNNNN-` layout — `INSERT INTO` asks Spark
    * for a [[GraftBucketFunction]]-clustered distribution and streams
    * whole buckets per task ([[SSTableBucketedRollingWriter]]); SQL
    * `DELETE` appends per-bucket tombstone generations. Distinct from
    * the read-side [[BucketsOption]] (which changes the READ schema and
    * partitioning): this shapes writes only, so SQL reads keep the plain
    * schema. The transform only resolves through a `FunctionCatalog`,
    * so the PATH API refuses it — path users call
    * [[graft.operators.SSTableOps.writeBucketed]]. */
  val WriteBucketsOption = "writebuckets"

  /** Write-triggered bounded maintenance (`option("autocompact", n)` or
    * `TBLPROPERTIES ('autocompact'='n')`): after a batch or micro-batch
    * commit leaves more than n generations (per bucket for bucketed
    * layouts), the COMMITTING writer folds back to the bound under the
    * maintenance lease before returning —
    * [[graft.operators.SSTableOps.autoCompact]]. Off when absent. */
  val AutoCompactOption = "autocompact"

  /** Cassandra's `auto_snapshot`, opt-in (`TBLPROPERTIES
    * ('autosnapshot'='true')` or the write option): TRUNCATE TABLE and
    * the unconditional `DELETE FROM t` — the two statements that
    * unpublish a table's whole live state in one call — first pin it as
    * an `auto-<epochMs>-<uuid>` snapshot, so a typo'd truncate is a
    * `CALL rollback(tag)` away from undone instead of gone. OFF by
    * default on purpose: auto pins refuse `DROP` (without PURGE) and
    * bucket re-layouts until expired, which surprises workflows that
    * truncate as a routine reset — a table that opts in accepts running
    * `expire_snapshots` as part of its maintenance loop. Key-targeted
    * DELETEs never trigger it (tombstone appends destroy nothing). */
  val AutoSnapshotOption = "autosnapshot"

  /** INTERNAL (`commitretry=true`, set by [[GraftCatalog.loadTable]]):
    * an append commit that discovers its directory was REPLACED mid-
    * publish (commit-integrity marker vanished — atomic CTAS swap, CALL
    * rebucket) republishes its staged bytes into the replacement
    * directory ONCE instead of failing. Only honored where
    * [[graft.sources.sstable.Storage.linkIsCheap]] (the mechanism keeps
    * staged copies alive via hardlink-publish; a copy-backed link would
    * double write IO) and never for INSERT OVERWRITE (an overwrite
    * racing a swap is ambiguous — loud stays correct). The PATH API
    * keeps the loud behavior: a path user addresses a directory, not a
    * table identity, so silently following a swap would be wrong. */
  private[spark] val CommitRetryOption = "commitretry"

  /** Set by [[GraftCatalog]] on its tables and their metadata views:
    * every catalog-created table carries a `_table` file (even propless
    * CREATEs write one, it is the lifecycle pointer), so a catalog read
    * whose listing is EMPTY and whose `_table` is GONE is either a
    * DROP's finalize caught between its last two deletes or a hand-made
    * directory that holds nothing yet — refusing both keeps a dropped
    * table from reading as "empty" for the removal's final instant.
    * Path-API reads keep the empty-dir-reads-empty behavior (streams
    * legitimately point at sink directories before their first
    * commit). */
  private[spark] val CatalogManagedOption = "catalogmanaged"

  private[spark] def autoCompactOf(v: Option[String]): Option[Int] = v.map { s =>
    val n = try s.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"sstable option '$AutoCompactOption' must be an int, got '$s'")
    }
    require(n >= 2,
      s"sstable option '$AutoCompactOption' must be >= 2 (1 would rewrite " +
        s"the whole directory every commit): $n")
    n
  }

  /** Write-triggered epoch-range consolidation for df stores
    * (`TBLPROPERTIES ('autoconsolidate'='n')`): after a maintenance
    * CALL leaves more than n epoch partials unfolded, the COMMITTING
    * maintainer runs [[graft.operators.DfStore.consolidate]] on the
    * store's behalf before returning — row width stays bounded without
    * any operator remembering to CALL consolidate_doc_freqs. Only df
    * stores' maintainers consult it; on any other table it is inert. */
  val AutoConsolidateOption = "autoconsolidate"

  private[spark] def autoConsolidateOf(v: Option[String]): Option[Int] = v.map { s =>
    val n = try s.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"sstable option '$AutoConsolidateOption' must be an int, got '$s'")
    }
    require(n >= 2,
      s"sstable option '$AutoConsolidateOption' must be >= 2 (1 would fold " +
        s"after every epoch — pure churn): $n")
    n
  }

  private[spark] def viewOf(v: Option[String]): String = v match {
    case None => "rows"
    case Some(s) if s.equalsIgnoreCase("rows") => "rows"
    case Some(s) if s.equalsIgnoreCase("cells") => "cells"
    case Some(s) if s.equalsIgnoreCase("generations") => "generations"
    case Some(s) if s.equalsIgnoreCase("reconciled") => "reconciled"
    case Some(other) => throw new IllegalArgumentException(s"sstable option '$ViewOption' " +
      s"must be 'rows', 'cells', 'generations' or 'reconciled', got '$other'")
  }
  private[spark] val ReconciledBucketsRefusal =
    "view=reconciled merges a directory's generations per key range; a bucketed " +
      "layout ('buckets') merges per bucket with compactRows over the buckets read"

  /** Read option for directories laid out by
    * [[graft.operators.SSTableOps.writeBucketed]]: declares the bucket
    * count, adds the leading `_bucket` column, and makes the scan report
    * key-grouped partitioning (one task per bucket) so key-clustered
    * aggregations and joins skip their exchange. Read-side only. */
  val BucketsOption = "buckets"
  /** Published generation name prefix for bucket `b`: `bucket-NNNNN-`. */
  private[graft] def bucketStem(b: Int): String = f"bucket-$b%05d-"
  private[graft] val BucketNameRe = "bucket-(\\d{5})-.*".r

  /** Hard ceiling on bucket counts: [[bucketStem]] formats the bucket id
    * as exactly five digits and [[BucketNameRe]] parses exactly five, so
    * a count past 99999 would publish stems no guard or parser
    * recognizes — generic compaction would then fold across buckets and
    * destroy the layout. 99999 buckets × one task
    * each is already beyond any sane layout, so a cap beats widening
    * the name format under data written by every earlier version. */
  private[graft] val MaxBuckets = 99999

  private[spark] def bucketsOf(v: Option[String]): Option[Int] = v.map { s =>
    val n = try s.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"sstable option '$BucketsOption' must be an int, got '$s'")
    }
    require(n > 0, s"sstable option '$BucketsOption' must be positive: $n")
    require(n <= MaxBuckets,
      s"sstable option '$BucketsOption' must be <= $MaxBuckets (the " +
        s"bucket-NNNNN generation-name format is five digits): $n")
    n
  }
}

final class SSTableTable(props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  private def basePath: String = props.getOrElse(SSTableSource.PathOption,
    throw new IllegalArgumentException("sstable source requires a path"))
  private def snapshotTag: Option[String] =
    props.get(SSTableSource.SnapshotOption)
  private def sinceSnapshotTag: Option[String] =
    props.get(SSTableSource.SinceSnapshotOption)
  private def validTag(tag: String): String = {
    require(tag.nonEmpty && !tag.contains('/') && !tag.contains('\\'),
      s"bad snapshot tag: '$tag'")
    tag
  }
  /** Effective directory: the snapshot pin when one is named. */
  private def path: String = snapshotTag match {
    case Some(tag) =>
      s"$basePath/${SSTableSource.SnapshotDirPrefix}${validTag(tag)}"
    case None => basePath
  }
  private def view: String =
    SSTableSource.viewOf(props.get(SSTableSource.ViewOption))
  private def cellsView: Boolean = view == "cells"
  private def generationsView: Boolean = view == "generations"
  private def reconciledView: Boolean = view == "reconciled"
  private def buckets: Option[Int] =
    SSTableSource.bucketsOf(props.get(SSTableSource.BucketsOption))
  /** Table-level bucketed WRITE layout ([[SSTableSource
    * .WriteBucketsOption]], persisted by [[GraftCatalog]]): shapes every
    * write path; reads keep the plain schema — unlike the read-side
    * `buckets` option, which changes schema and partitioning. */
  private def writeBuckets: Option[Int] =
    SSTableSource.bucketsOf(props.get(SSTableSource.WriteBucketsOption))
  override def name(): String = s"sstable(`$path`)"
  /** `SHOW CREATE TABLE` surface: only the user-declared table properties
    * (bucketed layout + writer tuning), never internal plumbing keys
    * (path, applydeletes, snapshot pins). */
  override def properties(): util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    props.get(SSTableSource.WriteBucketsOption).foreach(m.put("buckets", _))
    Seq(SSTableSource.CompressOption, SSTableSource.ChunkLengthOption,
      SSTableSource.SummaryIntervalOption, SSTableSource.BloomBitsPerKeyOption,
      SSTableSource.CompressionAlgorithmOption, SSTableSource.LayoutOption)
      .foreach(k => props.get(k).foreach(m.put(k, _)))
    m
  }
  override def schema(): StructType =
    if (generationsView) SSTableSchema.generationsSchema
    else if (cellsView) SSTableSchema.cellsSchema
    else if (buckets.isDefined) SSTableSchema.bucketedSchema
    else SSTableSchema.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  /** `_generation` — per-row fileset provenance, available on every batch
    * view (rows, cells, bucketed); `_change_type` — the row version's CDC
    * meaning (upsert/delete), rows views only (cells never carry a row
    * tombstone). Both hidden from `SELECT *`. */
  override def metadataColumns():
      Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def metaCol(colName: String, doc: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = colName
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    val gen = metaCol(SSTableSource.GenerationColumn,
      "publishing fileset stem (file name minus -Data.db)")
    // a reconciled row merges versions of several filesets: it has no
    // one stem and no one change type
    if (generationsView || reconciledView) Array.empty
    else if (cellsView) Array(gen)
    else Array(gen, metaCol(SSTableSource.ChangeTypeColumn,
      "CDC change type of this row version: delete when a row tombstone " +
        "is its final word, upsert otherwise"))
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // loud unknown-tag failure beats an empty scan of a missing dir
    lazy val storage = Storage.forPath(basePath,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (snapshotTag.isDefined)
      require(storage.exists(path),
        s"snapshot '${snapshotTag.get}' does not exist under $basePath")
    sinceSnapshotTag.foreach { tag =>
      val d = s"$basePath/${SSTableSource.SnapshotDirPrefix}${validTag(tag)}"
      require(storage.exists(d),
        s"sincesnapshot '$tag' does not exist under $basePath")
    }
    // table-level properties (catalog tables carry applydeletes etc.
    // there) merge under the per-read options — the path API passes its
    // options through both, so this is the identity for it
    val merged = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => merged.put(k, v) }
    merged.putAll(options)
    if (generationsView) {
      require(buckets.isEmpty, "view=generations lists raw generations; drop 'buckets'")
      // data-read options that can't shape a metadata listing are
      // rejected, not ignored — a silently dropped asofmicros would
      // return post-cut generations against the caller's intent.
      // (applydeletes is tolerated: catalog tables carry it as a table
      // property, and the view ALWAYS reports raw metadata — its
      // deleteOnly column is the delete-generation fact itself.)
      Seq(SSTableSource.AsOfMicrosOption, SSTableSource.TtlAsOfMsOption)
        .foreach { o =>
          require(!merged.containsKey(o),
            s"option '$o' does not apply to view=generations (the view " +
              "reports raw fileset metadata; filter its columns instead)")
        }
      new GenerationsScanBuilder(path,
        Option(merged.get(SSTableSource.SinceSnapshotOption)).map { tag =>
          s"$basePath/${SSTableSource.SnapshotDirPrefix}${validTag(tag)}"
        }, catalogManaged = merged.containsKey(SSTableSource.CatalogManagedOption))
    } else new SSTableScanBuilder(path, new CaseInsensitiveStringMap(merged))
  }
  /** The `view=reconciled` twin of this table — same directory, pins and
    * read options — when this is a rows-view read of a non-bucketed
    * layout; None otherwise. [[graft.operators.SSTableOps.compactRows]]
    * swaps a bare read of this table for its twin. */
  private[graft] def reconciledTwin: Option[SSTableTable] =
    if (view == "rows" && buckets.isEmpty && writeBuckets.isEmpty)
      Some(new SSTableTable(props + (SSTableSource.ViewOption -> "reconciled")))
    else None

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!cellsView && !generationsView && !reconciledView,
      "this view is read-only: write the default view")
    require(buckets.isEmpty,
      "bucketed layouts are written by SSTableOps.writeBucketed, not the generic sink")
    require(snapshotTag.isEmpty,
      "snapshots are immutable point-in-time views: write the live directory")
    require(sinceSnapshotTag.isEmpty,
      "sincesnapshot is a read-side diff: write the live directory")
    require(!props.contains(SSTableSource.AsOfMicrosOption),
      "asofmicros is read-side time travel: write the live directory")
    new SSTableWriteBuilder(path, info, props)
  }

  /** SQL `DELETE FROM` (SupportsDelete) — the LSM way: matched keys get
    * ONE appended generation of row tombstones (O(deleted keys) IO, no
    * rewrite), which delete-aware reads ([[SSTableSource
    * .ApplyDeletesOption]], set by every [[GraftCatalog]] table) shadow
    * at decode and compaction later folds away. Supported predicates:
    * `key = X`, `key IN (...)`, and the unconditional delete (truncate).
    * Anything else returns false — Spark then refuses the DELETE rather
    * than run it with different semantics. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletableKeys(filters).isDefined

  /** SQL `TRUNCATE TABLE` (TruncatableTable) — unpublish every live
    * generation, Data.db first so each fileset leaves reader listings
    * atomically. Metadata-only (no data reads, no rewrite); the table's
    * `_table` properties, snapshots, and layout declaration survive —
    * a truncated bucketed table is still bucketed, just empty. Same
    * physical action as the unconditional `DELETE FROM t`. */
  override def truncateTable(): Boolean = {
    require(snapshotTag.isEmpty && sinceSnapshotTag.isEmpty && buckets.isEmpty
      && !props.contains(SSTableSource.AsOfMicrosOption)
      && view == "rows", "TRUNCATE targets the live rows-view directory")
    val storage = Storage.forPath(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (storage.exists(path))
      History.record(storage, path, "truncate", removed = wipe(storage, "truncate"))
    true
  }

  /** The whole-table wipe TRUNCATE and the unconditional DELETE share:
    * the optional auto-snapshot, then one commit that unpublishes every
    * generation listed once its marker is down. Returns what it removed. */
  private def wipe(storage: Storage, tagPrefix: String): Seq[String] = {
    autoSnapshotBeforeWipe(storage)
    FilesetCommit(storage, path, s"$tagPrefix-${java.util.UUID.randomUUID().toString.take(8)}",
      unpublish = storage.listDataFiles(path)).removed
  }

  /** Cassandra's auto_snapshot, opt-in — see
    * [[SSTableSource.AutoSnapshotOption]]: pin the live state before a
    * whole-table wipe so the statement is undoable by `CALL rollback`
    * until retention expires the pin. Hardlinks: O(files) metadata, no
    * byte copies on link-capable backends. */
  private def autoSnapshotBeforeWipe(storage: Storage): Unit = {
    val on = props.get(SSTableSource.AutoSnapshotOption).exists { v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"option '${SSTableSource.AutoSnapshotOption}' must be true or false, got '$v'")
      v.equalsIgnoreCase("true")
    }
    if (on && storage.listDataFiles(path).nonEmpty) {
      graft.operators.SSTableOps.snapshot(path,
        s"auto-${System.currentTimeMillis()}-" +
          java.util.UUID.randomUUID().toString.take(8), storage)
      ()
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapshotTag.isEmpty && sinceSnapshotTag.isEmpty && buckets.isEmpty
      && !props.contains(SSTableSource.AsOfMicrosOption)
      && view == "rows", "DELETE targets the live rows-view directory")
    val storage = Storage.forPath(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    deletableKeys(filters) match {
      case Some(None) => // unconditional: same action as TRUNCATE TABLE
        if (storage.exists(path))
          History.record(storage, path, "delete", removed = wipe(storage, "delete"),
            detail = "unconditional")
      case Some(Some(keys)) if keys.nonEmpty =>
        val mark = FilesetCommit.deleteMark(props, storage, path, "DELETE", "mark")
        val ldtSecs = (System.currentTimeMillis() / 1000).toInt
        val deduped = keys
          .distinctBy(new String(_, java.nio.charset.StandardCharsets.ISO_8859_1))
        // one tiny delete-only generation (per affected bucket when the
        // table is bucketed — the layout survives), written driver-side:
        // the key list is a SQL literal set, metadata-sized by
        // construction. Staged wholly before the first publish: a
        // mid-statement failure leaves the DELETE un-applied, not
        // half-applied. Compaction later GCs the debt; delete-aware
        // reads shadow it like any delete-only generation. The staging
        // loop itself is [[TombstoneStaging]] — shared with the delta
        // commit so DELETE and UPDATE/MERGE can never drift apart.
        val tag = "delete-" + java.util.UUID.randomUUID().toString.take(8)
        val stagingDir = s"$path/_staging-$tag"
        storage.mkdirs(stagingDir)
        val staged = TombstoneStaging.stage(storage, WriterTuning.of(props),
          stagingDir, tag, deduped, ldtSecs, mark, writeBuckets)
        // the metadata-delete path is a lease-free publisher like any
        // other commit: the integrity marker turns a racing table swap
        // into a loud failure instead of an acknowledged lost delete
        val published = FilesetCommit(storage, path, tag, staged, staging = stagingDir)
        History.record(storage, path, "delete", added = published.added,
          detail = s"keys=${deduped.length}")
      case _ => // empty IN-list: nothing to delete
    }
  }
  /** SQL `UPDATE` / `MERGE INTO` / non-key-predicate `DELETE` — the
    * delta-based row-level path ([[SSTableRowLevelOperation]]): appended
    * tombstone + re-insert generations, never a rewrite. Refused on
    * every non-live view (time travel, snapshots, diffs, cells/
    * generations views, bucketed) like the other write surfaces. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshotTag.isEmpty && sinceSnapshotTag.isEmpty && buckets.isEmpty
      && !props.contains(SSTableSource.AsOfMicrosOption)
      && view == "rows",
      "UPDATE/MERGE/DELETE target the live rows-view directory")
    // bucketed tables take this path too: the delta write clusters on
    // the bucket transform and rolls per-bucket generations, so
    // UPDATE/MERGE preserve the layout like INSERT and key DELETE do
    () => new SSTableRowLevelOperation(this, path, props, info.command())
  }

  /** None = unsupported shape; Some(None) = delete everything;
    * Some(Some(keys)) = delete exactly these keys. */
  private def deletableKeys(filters: Array[Filter])
      : Option[Option[Seq[Array[Byte]]]] = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      return Some(None)
    val keys = Seq.newBuilder[Array[Byte]]
    val ok = filters.forall {
      case EqualTo("key", v: Array[Byte]) => keys += v; true
      case In("key", vs) if vs.forall(_.isInstanceOf[Array[Byte]]) =>
        vs.foreach(v => keys += v.asInstanceOf[Array[Byte]]); true
      case _ => false
    }
    if (ok) Some(Some(keys.result())) else None
  }
}

/** Accumulates pushed `key` comparison filters into the tightest
  * [lo, hi] bounds — the shared pruning state of the data and index scan
  * builders (both prune planned splits by Summary key bounds). */
final class KeyBounds(field: String = "key") {
  var lo: Option[(Array[Byte], Boolean)] = None // (bound, inclusive)
  var hi: Option[(Array[Byte], Boolean)] = None

  private def tightenLo(b: Array[Byte], incl: Boolean): Unit = lo = lo match {
    case None => Some((b, incl))
    case Some((cur, curIncl)) =>
      val c = SSTableFiles.compareKeys(b, cur)
      if (c > 0 || (c == 0 && !incl)) Some((b, incl)) else Some((cur, curIncl))
  }
  private def tightenHi(b: Array[Byte], incl: Boolean): Unit = hi = hi match {
    case None => Some((b, incl))
    case Some((cur, curIncl)) =>
      val c = SSTableFiles.compareKeys(b, cur)
      if (c < 0 || (c == 0 && !incl)) Some((b, incl)) else Some((cur, curIncl))
  }

  def accept(f: Filter): Boolean = f match {
    case EqualTo(a, v: Array[Byte]) if a == field =>
      tightenLo(v, incl = true); tightenHi(v, incl = true); true
    case GreaterThan(a, v: Array[Byte]) if a == field => tightenLo(v, incl = false); true
    case GreaterThanOrEqual(a, v: Array[Byte]) if a == field => tightenLo(v, incl = true); true
    case LessThan(a, v: Array[Byte]) if a == field => tightenHi(v, incl = false); true
    case LessThanOrEqual(a, v: Array[Byte]) if a == field => tightenHi(v, incl = true); true
    case And(l, r) => accept(l) | accept(r)
    case _ => false
  }

  def eqKey: Option[Array[Byte]] = KeyBounds.eqKey(lo, hi)
}

object KeyBounds {
  /** Point-lookup key: both bounds present, inclusive, byte-equal. */
  def eqKey(lo: Option[(Array[Byte], Boolean)],
            hi: Option[(Array[Byte], Boolean)]): Option[Array[Byte]] = (lo, hi) match {
    case (Some((l, true)), Some((h, true))) if java.util.Arrays.equals(l, h) => Some(l)
    case _ => None
  }
}

final class SSTableScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private val view = SSTableSource.viewOf(Option(options.get(SSTableSource.ViewOption)))
  private val cellsView = view == "cells"
  private val reconciled = view == "reconciled"
  private val bucketsOpt =
    SSTableSource.bucketsOf(Option(options.get(SSTableSource.BucketsOption)))
  require(!(cellsView && bucketsOpt.isDefined), "view=cells and buckets are exclusive")
  require(!(reconciled && bucketsOpt.isDefined), SSTableSource.ReconciledBucketsRefusal)
  /** Bucketed-table layout ([[SSTableSource.WriteBucketsOption]], a
    * catalog table property): rows-view scans report storage-partitioned
    * clustering on `bucket(n, key)` — see [[SSTableScan.outputPartitioning]]. */
  private val spjBuckets =
    if (cellsView || reconciled) None
    else SSTableSource.bucketsOf(Option(options.get(SSTableSource.WriteBucketsOption)))
  private val applyDeletes = Option(options.get(SSTableSource.ApplyDeletesOption))
    .exists { v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"sstable option '${SSTableSource.ApplyDeletesOption}' must be true/false, got '$v'")
      v.toBoolean
    }
  require(!(applyDeletes && bucketsOpt.isDefined),
    "applydeletes is not supported on bucketed reads")
  private def baseSchema: StructType =
    if (cellsView) SSTableSchema.cellsSchema
    else if (bucketsOpt.isDefined) SSTableSchema.bucketedSchema
    else SSTableSchema.schema
  private var requiredSchema: StructType = baseSchema
  private var pushed: Array[Filter] = Array.empty
  private val bounds = new KeyBounds
  /** Cells-view column slice (Cassandra's SliceQueryFilter): pushed
    * `name` range predicates reach the decoder, which length-skips
    * pre-slice cells and seeks past the row at the first post-slice
    * name — names are comparator-sorted on disk. Residual like all our
    * filters (Spark re-verifies rows), so pure IO savings. */
  private val nameBounds = new KeyBounds("name")
  private var aggResult: Option[(StructType, Seq[SSTableAggScan.AggKind])] = None
  private var limit: Option[Int] = None
  private var topN = false

  /** LIMIT pushdown. Spark only pushes a limit when no post-scan filters
    * sit between it and the scan (and ours are all residual), so every
    * decoded row counts toward the limit — each partition reader stops
    * after `n` rows and, for a plain limit, planning keeps only a prefix
    * of generations whose statistics already guarantee `n` rows. Always
    * partial: Spark applies the final global limit. */
  override def pushLimit(n: Int): Boolean =
    if (aggResult.isDefined || n < 0) false
    else { limit = Some(n); true }

  /** ORDER BY key [ASC] LIMIT n. Every non-bucketed partition is one
    * split of one generation, and generations are key-sorted in exactly
    * Spark's BinaryType order (unsigned lexicographic, shorter prefix
    * first — `SSTableFiles.compareKeys`), so a partition's first `n`
    * rows ARE its top-n: the per-partition cap is the whole pushdown.
    * 100 TB effect: `ORDER BY key LIMIT 10` decodes ≤10 rows per split
    * instead of every row of every split, and Spark's TakeOrdered merges
    * the per-partition heads. Declined for DESC (would need tail reads),
    * non-key orders, and bucketed scans (a bucket partition chains
    * multiple generations — not sorted as a whole). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean =
    if (!ReadPath.keyAscending(orders) || bucketsOpt.isDefined || aggResult.isDefined ||
        n < 0) false
    else { limit = Some(n); topN = true; true }

  /** Partial on both paths: Spark keeps the global limit / final sort. */
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      bounds.accept(f) | (cellsView && nameBounds.accept(f)))
    if (!reconciled) filters // all residual: pruning only skips IO, Spark re-verifies rows
    else {
      // a reconciled read tests its key filters itself, exactly: a key
      // predicate commutes with the per-key merge, and tested in the
      // scan it guards the predicates Spark pushes down beside it (a
      // key guard and a repeated cast of `key` in one Filter: outside
      // whole-stage codegen, subexpression elimination evaluates the
      // cast first)
      keyFilters = filters.filter(ReadPath.keyTest(_).isDefined)
      pushed = (pushed ++ keyFilters).distinct
      filters.filterNot(keyFilters.contains)
    }
  }
  private var keyFilters: Array[Filter] = Array.empty
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // keep only our top-level fields, in our canonical order; metadata
    // columns (SupportsMetadataColumns: _generation, _change_type) ride
    // LAST when the query asked for them — readers fill them after the
    // data fields
    val names = required.fields.map(_.name).toSet
    val data = baseSchema.fields.filter(f => names.contains(f.name))
    val meta = Seq(SSTableSource.GenerationColumn, SSTableSource.ChangeTypeColumn)
      .filter(names.contains)
      .map(n => org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.StringType, nullable = false))
    requiredSchema = StructType(data ++ meta)
  }

  private def longOption(name: String): Option[Long] =
    Option(options.get(name)).map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"sstable option '$name' must be a long, got '$v'")
      }
    }

  /** Whole-table aggregates answered from `-Statistics.db` alone — zero
    * data IO, one tiny cache-served sidecar read per generation (on
    * 100 TB, the difference between a plan-time metadata sum and a full
    * Index.db sweep). Complete pushdown, accepted only when:
    *  - no grouping and no pushed key-range filters (our filters are
    *    residual, so Spark already withholds aggregates behind a Filter
    *    node — the bounds check is defense in depth);
    *  - default view: every aggregate is COUNT(*), MIN(key) or MAX(key);
    *  - cells view: COUNT(*), MIN(timestamp) or
    *    MAX(timestamp) — cellCount and the cell-timestamp bounds are
    *    v2 statistics; `ttlAsOfMs` must be unset (TTL filtering changes
    *    cell multiplicity in ways no static sidecar can know);
    *  - EVERY generation carries recognized statistics of the needed
    *    version (one stats-less or v1-only file on the cells view ⇒
    *    decline, the normal scan runs).
    * Row counts include duplicate-key row versions — exactly what an
    * unmerged scan would count. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggResult.isDefined || tryPushAggregation(agg, dryRun = true)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryPushAggregation(agg, dryRun = false)

  private def tryPushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      dryRun: Boolean): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField}
    def refTo(e: org.apache.spark.sql.connector.expressions.Expression,
              field: String): Boolean =
      e match {
        case r: NamedReference => r.fieldNames.toSeq == Seq(field)
        case _ => false
      }
    if (agg.groupByExpressions.nonEmpty || bounds.lo.isDefined || bounds.hi.isDefined ||
        nameBounds.lo.isDefined || nameBounds.hi.isDefined)
      return false
    if (cellsView && longOption(SSTableSource.TtlAsOfMsOption).isDefined)
      return false
    // as-of reads drop whole rows/cells; sidecar totals describe the
    // full contents, so any pushed aggregate would over-count
    if (longOption(SSTableSource.AsOfMicrosOption).isDefined) return false
    // delete-aware reads shadow rows/cells the sidecars still count —
    // and a delete generation can land between pushdown and execution,
    // so even a zero-pending check here wouldn't stay true
    if (applyDeletes) return false
    // bucketed reads never push aggregates: a stats-only answer would
    // bypass the loud bucket-layout validation the scan performs
    if (bucketsOpt.isDefined) return false
    // sidecar totals count row versions, not reconciled rows
    if (reconciled) return false
    // (schema field, value kind) per aggregate, or None = unsupported
    val mapped: Seq[Option[(StructField, SSTableAggScan.AggKind)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((StructField("count(*)", LongType, nullable = false),
          if (cellsView) SSTableAggScan.CellCountKind else SSTableAggScan.CountStarKind))
        case m: Min if !cellsView && refTo(m.column, "key") =>
          Some((StructField("min(key)", BinaryType, nullable = true),
            SSTableAggScan.MinKeyKind))
        case m: Max if !cellsView && refTo(m.column, "key") =>
          Some((StructField("max(key)", BinaryType, nullable = true),
            SSTableAggScan.MaxKeyKind))
        case m: Min if cellsView && refTo(m.column, "timestamp") =>
          Some((StructField("min(timestamp)", LongType, nullable = true),
            SSTableAggScan.MinCellTsKind))
        case m: Max if cellsView && refTo(m.column, "timestamp") =>
          Some((StructField("max(timestamp)", LongType, nullable = true),
            SSTableAggScan.MaxCellTsKind))
        case _ => None
      }
    if (mapped.isEmpty || mapped.exists(_.isEmpty)) return false
    // acceptance (not the values) is decided here: every generation must
    // carry recognized statistics RIGHT NOW or the normal scan runs. The
    // VALUES are computed later, per batch planning (a retained
    // DataFrame re-executed after a flush/compaction must see current
    // state, like the non-pushed scan re-planning partitions) —
    // a generation that arrives stats-less after this check is handled
    // there by a metadata-walk fallback, never a wrong answer.
    val storage = Storage.forPath(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val stats = storage.listDataFiles(path)
      .map(f => new SSTableReader(f, storage).statistics)
    if (stats.exists(_.isEmpty)) return false // a stats-less generation: scan instead
    if (cellsView && stats.exists(_.exists(_.cellStats.isEmpty)))
      return false // v1 sidecar: no cell stats, scan instead
    if (dryRun) return true
    aggResult = Some((StructType(mapped.map(_.get._1).toArray),
      mapped.map(_.get._2)))
    true
  }

  /** Snapshot-diff floor (`sincesnapshot`): the pin whose generations are
    * EXCLUDED from this scan. Resolved against the BASE path — when
    * `snapshot` is also set, `path` is already pin B and this is pin A:
    * the read is the B−A epoch diff. */
  private def sinceDir: Option[String] =
    Option(options.get(SSTableSource.SinceSnapshotOption)).map { tag =>
      require(tag.nonEmpty && !tag.contains('/') && !tag.contains('\\'),
        s"bad snapshot tag: '$tag'")
      val base = Option(options.get(SSTableSource.PathOption)).getOrElse(
        throw new IllegalArgumentException("sstable source requires a path"))
      s"$base/${SSTableSource.SnapshotDirPrefix}$tag"
    }

  override def build(): Scan = {
    aggResult.foreach { case (schema, kinds) =>
      return new SSTableAggScan(path, schema, kinds, sinceDir,
        catalogManaged =
          options.containsKey(SSTableSource.CatalogManagedOption))
    }
    val target = longOption(SSTableSource.TargetSplitBytesOption)
      .getOrElse(SSTableSource.DefaultTargetSplitBytes)
    val ttlAsOf = longOption(SSTableSource.TtlAsOfMsOption)
    val planThreshold = longOption(SSTableSource.PlanningThresholdOption)
      .map(_.toInt).getOrElse(SSTableSource.DefaultDistributedPlanningThreshold)
    new SSTableScan(path, requiredSchema, bounds.lo, bounds.hi, target, ttlAsOf,
      planThreshold, cellsView = cellsView, buckets = bucketsOpt,
      catalogManaged = options.containsKey(SSTableSource.CatalogManagedOption),
      limit = limit, topN = topN,
      asOfMicros = longOption(SSTableSource.AsOfMicrosOption),
      nameLo = nameBounds.lo, nameHi = nameBounds.hi,
      snapshotRead = options.containsKey(SSTableSource.SnapshotOption),
      maxFilesPerTrigger =
        longOption(SSTableSource.MaxFilesPerTriggerOption).map { v =>
          require(v > 0 && v <= Int.MaxValue,
            s"maxFilesPerTrigger must be a positive int: $v")
          v.toInt
        },
      maxBytesPerTrigger =
        longOption(SSTableSource.MaxBytesPerTriggerOption).map { v =>
          require(v > 0, s"maxBytesPerTrigger must be positive: $v")
          v
        },
      sinceDir = sinceDir,
      applyDeletes = applyDeletes,
      maxDeleteKeys = longOption(SSTableSource.MaxDeleteKeysOption).map { v =>
        require(v > 0 && v <= Int.MaxValue, s"maxdeletekeys must be a positive int: $v")
        v.toInt
      }.getOrElse(SSTableSource.DefaultMaxDeleteKeys),
      spjBuckets = spjBuckets,
      reconciled = reconciled,
      keyFilters = keyFilters)
  }
}

/** Completely-pushed-down aggregate scan: one partition, one row — the
  * COUNT(*)/MIN(key)/MAX(key) values computed from every generation's
  * `-Statistics.db` when the BATCH IS PLANNED, not when the aggregate
  * was pushed: a retained DataFrame re-executed after the
  * directory changed (new flush, compaction pass) re-reads the sidecars
  * and returns current values, matching the non-pushed scan's
  * re-planning behavior. A generation that lost/never had statistics by
  * then (pushdown-time acceptance requires them, but the directory can
  * drift) falls back to a key-only Index.db walk for that generation —
  * still zero Data.db IO, never a wrong answer. */
final class SSTableAggScan(path: String, schema: StructType,
                           aggKinds: Seq[SSTableAggScan.AggKind],
                           sinceDir: Option[String] = None,
                           catalogManaged: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"sstable $path statsOnlyAggregate" +
      (if (sinceDir.isDefined) " sinceSnapshot" else "")
  override def planInputPartitions(): Array[InputPartition] =
    Array(SSTableAggScan.AggPartition(
      SSTableAggScan.compute(path, aggKinds, sinceDir, catalogManaged)))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var served = false
          override def next(): Boolean = if (served) false else { served = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              p.asInstanceOf[SSTableAggScan.AggPartition].values.clone())
          override def close(): Unit = ()
        }
    }
}

object SSTableAggScan {
  sealed trait AggKind extends Serializable
  case object CountStarKind extends AggKind
  case object MinKeyKind extends AggKind
  case object MaxKeyKind extends AggKind
  // cells view: COUNT(*) over cells, MIN/MAX(timestamp)
  case object CellCountKind extends AggKind
  case object MinCellTsKind extends AggKind
  case object MaxCellTsKind extends AggKind

  final case class AggPartition(values: Array[Any]) extends InputPartition

  /** (rowCount, minKey, maxKey) of one generation from its Statistics.db,
    * or — stats absent — from a key-only Index.db walk (one entry per
    * row; first/last keys are min/max because entries are key-sorted). */
  private def generationBounds(dataPath: String, storage: Storage)
      : (Long, Array[Byte], Array[Byte]) = {
    val r = new SSTableReader(dataPath, storage)
    r.statistics match {
      case Some(s) =>
        (s.rowCount, if (s.rowCount > 0) s.minKey else null,
          if (s.rowCount > 0) s.maxKey else null)
      case None =>
        val ir = ReadPath.openIndex(storage, dataPath, IndexFile.HeaderLen, r.indexLength)
        try {
          var n = 0L
          var first: Array[Byte] = null
          var last: Array[Byte] = null
          ir.foreach { e =>
            if (first == null) first = e.key
            last = e.key
            n += 1
          }
          (n, first, last)
        } finally ir.close()
    }
  }

  /** Cell statistics of one generation from its v2 Statistics.db, or —
    * cell stats absent by execution time (pushdown acceptance saw them,
    * but the directory can drift) — from a full decode of that
    * generation: the honest degraded path, correct over fast. */
  private def generationCells(dataPath: String, storage: Storage): CellStatistics = {
    val r = new SSTableReader(dataPath, storage)
    r.statistics.flatMap(_.cellStats).getOrElse {
      var n = 0L
      var lo = Long.MaxValue
      var hi = Long.MinValue
      val it = r.rows(DataFile.HeaderLen, r.dataLength)
      try it.foreach(_.columns.foreach { c =>
        n += 1
        if (c.timestamp < lo) lo = c.timestamp
        if (c.timestamp > hi) hi = c.timestamp
      }) finally it.close()
      CellStatistics(n, lo, hi)
    }
  }

  private[spark] def compute(path: String, aggKinds: Seq[AggKind],
                             sinceDir: Option[String] = None,
                             catalogManaged: Boolean = false): Array[Any] = {
    val storage = Storage.forPath(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    // a COUNT(*) over a half-destroyed residue, or over a table whose
    // pointer vanished, would be silently wrong: the snapshot refuses both
    val files = ReadSnapshot(storage, path, "the stats sweep", sinceDir,
      catalogManaged).listed
    lazy val per = files.map(generationBounds(_, storage))
    lazy val nonEmpty = per.filter(_._1 > 0)
    lazy val minKey = if (nonEmpty.isEmpty) null
      else nonEmpty.map(_._2).reduce((a, b) => if (SSTableFiles.compareKeys(a, b) <= 0) a else b)
    lazy val maxKey = if (nonEmpty.isEmpty) null
      else nonEmpty.map(_._3).reduce((a, b) => if (SSTableFiles.compareKeys(a, b) >= 0) a else b)
    lazy val cells = files.map(generationCells(_, storage))
    lazy val cellCount = cells.map(_.cellCount).sum
    lazy val withCells = cells.filter(_.cellCount > 0)
    aggKinds.map[Any] {
      case CountStarKind => per.map(_._1).sum
      case MinKeyKind => minKey
      case MaxKeyKind => maxKey
      case CellCountKind => cellCount
      case MinCellTsKind =>
        if (withCells.isEmpty) null else withCells.map(_.minCellTimestamp).min
      case MaxCellTsKind =>
        if (withCells.isEmpty) null else withCells.map(_.maxCellTimestamp).max
    }.toArray
  }
}

/** Plan-time scan metrics (SQL-UI observability): how many generations
  * the listing held, how many survived file pruning, how many splits
  * were planned, and the pending-delete shadow size. Top-level classes
  * with zero-arg constructors — Spark re-instantiates CustomMetric by
  * reflection for UI aggregation. */
final class GenerationsListedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "generationsListed"
  override def description(): String = "generations in the directory listing"
}
final class GenerationsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "generationsPlanned"
  override def description(): String = "generations surviving file-level pruning"
}
final class SplitsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "splitsPlanned"
  override def description(): String = "row-aligned splits planned"
}
final class PendingDeleteKeysMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "pendingDeleteKeys"
  override def description(): String = "pending-delete keys in the shadow map"
}
/** Metric value carrier for [[SSTableScan.reportDriverMetrics]] and the
  * reconciled reader's task metrics. */
final case class PlanMetricValue(metricName: String, metricValue: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = metricValue
}

/** One planned partition: a row-aligned byte range of one SSTable's
  * uncompressed Data.db, plus the matching Index.db range for key-only
  * scans. `hosts` are the storage block locations of the split's physical
  * byte range (empty on local fs) — Spark schedules the task on one of
  * them when possible, the reference's locality feature
  * (SplitSSTableDataInputFormat.scala:66-67). */
final case class SSTablePartition(dataPath: String, start: Long, end: Long,
                                  idxStart: Long, idxEnd: Long,
                                  hosts: Array[String] = Array.empty)
    extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

final class SSTableScan(path: String, requiredSchema: StructType,
                        keyLo: Option[(Array[Byte], Boolean)],
                        keyHi: Option[(Array[Byte], Boolean)],
                        targetSplitBytes: Long,
                        ttlAsOfMs: Option[Long] = None,
                        distributedPlanningThreshold: Int =
                          SSTableSource.DefaultDistributedPlanningThreshold,
                        cellsView: Boolean = false,
                        buckets: Option[Int] = None,
                        limit: Option[Int] = None,
                        topN: Boolean = false,
                        asOfMicros: Option[Long] = None,
                        nameLo: Option[(Array[Byte], Boolean)] = None,
                        nameHi: Option[(Array[Byte], Boolean)] = None,
                        maxFilesPerTrigger: Option[Int] = None,
                        maxBytesPerTrigger: Option[Long] = None,
                        snapshotRead: Boolean = false,
                        sinceDir: Option[String] = None,
                        applyDeletes: Boolean = false,
                        maxDeleteKeys: Int = SSTableSource.DefaultMaxDeleteKeys,
                        spjBuckets: Option[Int] = None,
                        catalogManaged: Boolean = false,
                        reconciled: Boolean = false,
                        keyFilters: Array[Filter] = Array.empty)
    extends Scan with SupportsRuntimeFiltering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  /** Hadoop conf rides to executors only when the path needs the Hadoop
    * adapter (scheme present); plain local paths stay dependency-free. */
  private val handle = StorageHandle(path,
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
  private def storage: Storage = handle.get

  /** The probe-join contract ([[SSTableLookupJoinStrategy]]): Some(spec)
    * when this scan is exactly the plain row view whose per-key emission
    * `DirectoryProber.getRaw` + [[Visibility.row]] reproduce —
    * default view, no TTL/as-of/CDC/streaming admission, no bucketed
    * read layout, no pushed limit/top-n, and no metadata columns (the
    * prober loses the generation stem). Pushed KEY BOUNDS do NOT
    * disqualify: this source's filter pushdown is advisory (pruning only
    * skips IO — [[SSTableScanBuilder.pushFilters]] returns everything
    * residual), so Spark re-applies the predicate above the scan and the
    * probe path honors it through the join's residual filter instead.
    * `spjBuckets` is partitioning REPORTING only and is likewise
    * irrelevant once the join is planned as probes. The reconciled view
    * emits merged rows, which the raw probes do not reproduce. */
  private[spark] def lookupProbeSpec: Option[LookupProbeSpec] =
    if (ttlAsOfMs.isEmpty && !cellsView && !reconciled && buckets.isEmpty && limit.isEmpty &&
        !topN && asOfMicros.isEmpty && maxFilesPerTrigger.isEmpty &&
        maxBytesPerTrigger.isEmpty && sinceDir.isEmpty &&
        !requiredSchema.fieldNames.contains(SSTableSource.GenerationColumn) &&
        !requiredSchema.fieldNames.contains(SSTableSource.ChangeTypeColumn))
      Some(LookupProbeSpec(path, requiredSchema, applyDeletes, maxDeleteKeys,
        handle, catalogManaged = catalogManaged))
    else None

  /** Point-lookup key: files whose bloom filter excludes it are skipped
    * wholesale — Cassandra's negative-lookup elimination, at plan time
    * (false positives only cost IO; Spark re-filters rows). */
  private val eqKey: Option[Array[Byte]] = KeyBounds.eqKey(keyLo, keyHi)

  /** Runtime (join-driven) split pruning: a plain SQL join
    * `dim JOIN sstable ON key = …` lets Spark's dynamic-pruning machinery
    * collect the dim side's key set at runtime and hand it here as an
    * `In("key", …)` filter BEFORE partitions are planned — so small-dim
    * joins prune with the same Summary-bounds + bloom machinery as an
    * explicit `lookupJoin`, instead of scanning every split. Sorted for
    * per-split binary-search membership; None (no runtime filter, or a
    * shape we don't understand) means no extra pruning. Like the pushed
    * key-range filters, this only skips IO — Spark still applies the
    * join itself, so an over-approximation can never change results. */
  private var runtimeKeys: Option[Array[Array[Byte]]] = None

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    // bucketed scans decline runtime filtering: dropping whole buckets
    // would contradict the declared key-grouped partitioning. Likewise
    // for SPJ-reporting scans while v2 bucketing is ON (the two join
    // optimizations overlap; emptying a bucket would drop its partition
    // value from the grouped layout mid-plan). And the advertised column
    // must survive column pruning: PartitionPruning resolves it against
    // this scan's OUTPUT, so a key-pruned scan (a join on a non-key
    // expression that never selects `key`) would fail ANALYSIS, not just
    // skip the optimization (found by LookupJoinSpec's non-key-join gate)
    if (buckets.isDefined || (spjBuckets.isDefined &&
        org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled) ||
        !requiredSchema.fieldNames.contains("key"))
      Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("key"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("key", vs) =>
      val keys = vs.collect { case b: Array[Byte] => b }
      if (keys.length == vs.length) // all-binary, else not our shape
        runtimeKeys = Some(keys.sortWith(SSTableFiles.compareKeys(_, _) < 0))
    case EqualTo("key", v: Array[Byte]) => runtimeKeys = Some(Array(v))
    case _ => // unsupported runtime filter shape: plan unpruned
  }

  /** This scan's [[ReadSnapshot]]: `sincesnapshot` applies at listing,
    * before every other pruning surface (as-of, limit prefix, key
    * bounds, stats), and delete-aware reads split off their delete-only
    * generations. */
  private def snapshot(): ReadSnapshot =
    ReadSnapshot(storage, path, "planning", sinceDir, catalogManaged,
      splitDeletes = applyDeletes)

  /** Table statistics for Catalyst's cost decisions — most importantly
    * the broadcast-join threshold: a small SSTable directory joined
    * against a big fact now auto-broadcasts without a hint. Sizes are
    * UNCOMPRESSED Data.db bytes (the logical row payload Spark would
    * process — matching how file sources report pre-codec sizes);
    * row counts sum `-Statistics.db` and are omitted when any
    * generation lacks them. Metadata-cache-served: one stat + one tiny
    * sidecar read per file, no data IO. Conservative by design: no
    * discount for pushed key ranges (over-estimating never breaks a
    * plan, under-estimating can broadcast something huge). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val st = storage
    var bytes = 0L
    var rows = 0L
    var allRowsKnown = true
    snapshot().data.foreach { f =>
      val r = new SSTableReader(f, st)
      bytes += r.dataLength
      // cells view: logical rows are cells (v2 stats), not SSTable rows
      (if (cellsView) r.statistics.flatMap(_.cellStats).map(_.cellCount)
       else r.statistics.map(_.rowCount)) match {
        case Some(n) => rows += n
        case None => allRowsKnown = false
      }
    }
    val b = bytes
    val n = rows
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        if (allRowsKnown) java.util.OptionalLong.of(n) else java.util.OptionalLong.empty()
    }
  }

  override def readSchema(): StructType = requiredSchema
  /** This scan's one [[ReadSnapshot]] and the pending-delete shadow
    * loaded from it, taken when the first Batch plans. Every Batch of
    * the scan plans from it, so the partitions and the shadow describe
    * one directory state: a runtime (DPP) filter makes Spark re-plan the
    * partitions through a second Batch after `filter`, while the readers
    * keep the first Batch's factory, and partitions listed after a
    * concurrent commit read with an older shadow would mix two states. */
  private lazy val snapshotted: (ReadSnapshot,
      Option[org.apache.spark.broadcast.Broadcast[DeleteShadow]]) = {
    val snap = snapshot()
    (snap, snap.pendingDeletes(asOfMicros, maxDeleteKeys))
  }

  override def toBatch: Batch = new SnapshotBatch

  /** Every Batch of this scan reads one snapshot, so they compare equal
    * and Spark may reuse an exchange over one scan. Partitions are
    * planned per Batch: the runtime filter can narrow them. */
  private final class SnapshotBatch extends Batch {
    private lazy val planned = plan()
    private def scan: SSTableScan = SSTableScan.this
    override def planInputPartitions(): Array[InputPartition] = planned
    override def createReaderFactory(): PartitionReaderFactory =
      new SSTableReaderFactory(requiredSchema, ttlAsOfMs, handle, cellsView,
        rowLimit = limit, asOfMicros = asOfMicros,
        nameLo = nameLo, nameHi = nameHi, shadowBc = snapshotted._2, keyFilters = keyFilters)
    override def equals(o: Any): Boolean = o match {
      case b: SSTableScan#SnapshotBatch => b.scan eq scan
      case _ => false
    }
    override def hashCode(): Int = System.identityHashCode(scan)
  }

  /** Per-file planning is independent metadata work (Summary walk +
    * O(#splits) index point reads), parallelized by
    * [[SSTableScan.planPartitions]]; a reconciled read plans one key-range
    * layout over every generation ([[ReadPath.planRanges]]). Pending
    * deletes void the LIMIT prefix guarantee (sidecar counts include
    * shadowed rows), and so does merging (they count row versions). */
  private def plan(): Array[InputPartition] = {
    val (snap, shadow) = snapshotted
    val (parts, plannedGens, splits) = buckets match {
      case None =>
        val pruned = asOfFilePrune(snap.data)
        val files = if (shadow.isDefined || reconciled) pruned else limitFilePrefix(pruned)
        val parts =
          if (reconciled) ReadPath.planRanges(files, storage, targetSplitBytes,
            keyLo.map(_._1), keyHi.map(_._1), eqKey, runtimeKeys)
          else withPartitionKeys(SSTableScan.planPartitions(files, handle,
            distributedPlanningThreshold, targetSplitBytes,
            keyLo.map(_._1), keyHi.map(_._1), eqKey, runtimeKeys,
            hostsFromIndex = false))
        (parts, files.length, parts.length)
      case Some(n) => bucketPartitions(snap.data, n)
    }
    planMetrics.record(snap.listed.length, plannedGens, splits,
      shadow.map(_.value.size.toLong).getOrElse(0L))
    parts
  }

  /** Streaming read: new SSTable generations become micro-batches (the
    * Cassandra flush-ingestion model — see [[SSTableMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!cellsView, "the cells view is batch-only: stream the default view")
    require(buckets.isEmpty, "bucketed reads are batch-only")
    require(asOfMicros.isEmpty,
      "asofmicros is batch-only: a stream tails NEW generations, which an as-of cut excludes by definition")
    require(!snapshotRead,
      "snapshot reads are batch-only: a snapshot is immutable, nothing ever arrives to stream")
    require(!reconciled,
      "view=reconciled is batch-only: a stream tails new generations, which merge later")
    // sincesnapshot composes: the pin becomes the stream's STARTING
    // FLOOR (Delta's startingVersion) — a fresh checkpoint begins
    // tailing at the snapshot instead of replaying the whole directory;
    // see SSTableMicroBatchStream.initialOffset
    // applydeletes is permitted but has no batch-side meaning here: a
    // stream tails whole NEW generations, so a later DELETE arrives as
    // its own tombstone generation — raw delete EVENTS the consumer
    // applies to its own state (the change-feed/CDC contract, spec-
    // pinned). Merge-on-read is a batch concept; rejecting the option
    // would make every GraftCatalog table (which carries it as a table
    // property) unreadable via readStream for no semantic gain.
    new SSTableMicroBatchStream(path, requiredSchema, targetSplitBytes,
      ttlAsOfMs, handle, maxFilesPerTrigger, maxBytesPerTrigger,
      sinceDir = sinceDir, catalogManaged = catalogManaged)
  }
  override def description(): String = {
    val prune = if (keyLo.isDefined || keyHi.isDefined) " keyRangePruned" else ""
    // bucketed and reconciled reads always decode Data.db
    val keyOnly =
      if (buckets.isEmpty && !reconciled &&
          ReadPath.indexOnly(requiredSchema, cellsView, asOfMicros.isDefined, applyDeletes))
        " indexOnly" else ""
    val view = if (cellsView) " view=cells" else if (reconciled) " view=reconciled" else ""
    val bkt = buckets.map(n => s" buckets=$n keyGrouped").getOrElse("")
    val ttl = ttlAsOfMs.map(ms => s" ttlAsOf=$ms").getOrElse("")
    val asOf = asOfMicros.map(t => s" asOf=$t").getOrElse("")
    val slice = if (nameLo.isDefined || nameHi.isDefined) " nameSliced" else ""
    val lim = limit.map(n => if (topN) s" topN=$n(key asc)" else s" limit=$n")
      .getOrElse("")
    val since = if (sinceDir.isDefined) " sinceSnapshot" else ""
    val del = if (applyDeletes) " deleteAware" else ""
    val spj = spjBuckets.map(n => s" spjBuckets=$n").getOrElse("")
    s"sstable $path$prune$keyOnly$view$bkt$ttl$asOf$slice$lim$since$del$spj"
  }

  /** Plan-time observability, surfaced on the BatchScan node in the SQL
    * UI: how many generations the listing held, how many survived
    * file-level pruning (limit prefix, as-of, delete-only exclusion),
    * how many splits were planned, and how many pending-delete keys the
    * shadow carries — the numbers that explain a scan's IO before a
    * single task runs. */
  private val planMetrics = new PlanMetrics(4)
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    if (reconciled) planMetrics.supported ++ ReadPath.mergeMetrics else planMetrics.supported
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = planMetrics.report()

  /** As-of generation pruning: a generation whose `-Statistics.db`
    * minTimestamp is after the cut contains ONLY post-cut writes (the
    * sidecar min covers cell timestamps AND tombstone mfda) — nothing in
    * it is visible at `t`, so it is never opened. Stats-less generations
    * are kept (the reader filters row-by-row; never wrong, just
    * unpruned). */
  private def asOfFilePrune(files: Seq[String]): Seq[String] = asOfMicros match {
    case None => files
    case Some(t) =>
      val st = storage
      files.filter(f =>
        new SSTableReader(f, st).statistics.forall(_.minTimestamp <= t))
  }

  /** Plain-LIMIT file pruning: any `n` rows satisfy a pushed limit (Spark
    * pushes one only with no post-scan filters), so keep generations in
    * listing order just until their `-Statistics.db` row counts (cell
    * counts on the cells view) already guarantee `n` rows — `LIMIT 10`
    * over a 100 TB directory plans one generation's splits, not ~800k.
    * Stats-less generations count as unknown (kept, guarantee nothing),
    * so the prefix is never under-planned. TopN never file-prunes: any
    * generation can hold the globally-smallest keys; its saving is the
    * per-reader row cap. Inapplicable under key bounds or runtime join
    * keys (those rows might not survive, so counts don't transfer). */
  private def limitFilePrefix(files: Seq[String]): Seq[String] = limit match {
    // asOf drops whole rows, so sidecar counts no longer guarantee the
    // limit — keep every (asOf-surviving) generation. Likewise TTL
    // evaluation on the cells view drops expired EXPIRING cells, so
    // cellCount stops guaranteeing `n` output rows (rows view is safe:
    // TTL empties columns but never removes the row itself).
    case Some(n) if !topN && keyLo.isEmpty && keyHi.isEmpty &&
        runtimeKeys.isEmpty && asOfMicros.isEmpty &&
        !(cellsView && ttlAsOfMs.isDefined) &&
        nameLo.isEmpty && nameHi.isEmpty => // sliced cells break count guarantees
      val st = storage
      var known = 0L
      val keep = Seq.newBuilder[String]
      val it = files.iterator
      while (it.hasNext && known < n) {
        val f = it.next()
        keep += f
        val r = new SSTableReader(f, st)
        known += (if (cellsView) r.statistics.flatMap(_.cellStats).map(_.cellCount)
                  else r.statistics.map(_.rowCount)).getOrElse(0L)
      }
      keep.result()
    case _ => files
  }

  /** Per-partition output ordering (`SupportsReportOrdering`): every
    * non-bucketed partition is one split of one key-sorted generation
    * (Index.db order for key-only reads, Data.db order otherwise, cells
    * grouped under ascending keys on the cells view) or, reconciled, one
    * key range merged in ascending key order, and SSTable key
    * order is exactly Spark's BinaryType sort (unsigned lexicographic,
    * shorter prefix first) — so `sortWithinPartitions("key")` and other
    * partition-local key sorts are free. Bucketed partitions chain
    * multiple generations (key order restarts per generation) and report
    * nothing. */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (buckets.isEmpty) ReadPath.keyOrdering(requiredSchema) else Array.empty

  /** Bucketed planning: ONE partition per bucket, each holding every
    * split of that bucket's generations, carrying the bucket id as its
    * partition key ([[HasPartitionKey]]) so Spark's key-grouped
    * machinery sees storage-aligned clustering. Exactly `n` partitions,
    * as [[outputPartitioning]] declares: an empty bucket (a fully pinned
    * one under `sincesnapshot` too) still plans, and keys still hash to
    * the same bucket, so an incremental read keeps zero-exchange merges.
    * Key-range pruning still applies inside a bucket; runtime join
    * filters are deliberately NOT applied here — they could drop whole
    * buckets and break the declared partitioning. Every file must carry
    * the `bucket-NNNNN-` stem with id < the declared count. Returns the
    * partitions, the generations planned and the splits planned. */
  private def bucketPartitions(files: Seq[String], n: Int)
      : (Array[InputPartition], Int, Int) = {
    val byBucket = files.groupBy { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name match {
        case SSTableSource.BucketNameRe(b) =>
          val id = b.toInt
          require(id < n, s"bucket id $id >= declared bucket count $n: $f")
          id
        case _ => throw new IllegalArgumentException(
          s"not a bucketed generation (want bucket-NNNNN-*): $f")
      }
    }
    var plannedGens = 0
    val parts = (0 until n).map { b =>
      val gens = asOfFilePrune(byBucket.getOrElse(b, Nil))
      plannedGens += gens.length
      val splits = SSTableScan.planPartitions(
        gens, handle, distributedPlanningThreshold,
        targetSplitBytes, keyLo.map(_._1), keyHi.map(_._1), eqKey, keys = None,
        hostsFromIndex = false)
      SSTableBucketPartition(b, splits.map(_.asInstanceOf[SSTablePartition]))
    }
    (parts.toArray, plannedGens, parts.map(_.splits.length).sum)
  }

  /** Key-grouped output for bucketed directories: partitions are
    * clustered by the `_bucket` OUTPUT COLUMN (identity transform — no
    * function catalog needed), one partition per bucket. Declared only
    * when `_bucket` survives column pruning; a projection without it
    * has nothing for Catalyst to match. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    buckets match {
      case Some(n) if requiredSchema.fieldNames.contains("_bucket") =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity("_bucket")), n)
      case _ => spjBuckets match {
        // bucketed-TABLE scans (plain schema — no _bucket column) report
        // storage-partitioned clustering on the catalog's own
        // `bucket(n, key)` V2 function: with
        // spark.sql.sources.v2.bucketing.enabled, Spark groups this
        // scan's splits by bucket id (each split carries its
        // HasPartitionKey below) and co-bucketed joins / key
        // aggregations skip their exchange — Iceberg's SPJ shape, in
        // pure SQL, no helper column. With the conf off (default) the
        // report is inert and split-level parallelism is untouched.
        case Some(n) if spjReported =>
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
              n, "key")), n)
        case _ =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      }
    }

  /** The ONE condition under which this scan reports SPJ clustering —
    * shared by [[outputPartitioning]] and [[withPartitionKeys]]: a drift
    * between the declaration and the physical keys is exactly the
    * mis-grouping hazard SPJ must never have. */
  private def spjReported: Boolean =
    requiredSchema.fieldNames.contains("key") &&
      !cellsView && !topN && limit.isEmpty

  /** Attach each split's bucket id as its partition key when this scan
    * reports SPJ clustering — the physical grouping input. A generation
    * whose stem isn't bucket-formed (foreign file dropped into the
    * directory) stays keyless: Spark's grouping then declines wholesale
    * (falls back to unknown partitioning) instead of mis-grouping. */
  private def withPartitionKeys(parts: Array[InputPartition]): Array[InputPartition] =
    spjBuckets match {
      case Some(n) if spjReported =>
        parts.map {
          case p: SSTablePartition =>
            SSTableFiles.generationStem(p.dataPath) match {
              case SSTableSource.BucketNameRe(b) if b.toInt < n =>
                SSTableKeyedSplit(p, b.toInt)
              case _ => p
            }
          case other => other
        }
      case _ => parts
    }
}

/** One split of a bucketed TABLE carrying its bucket id as a partition
  * key ([[HasPartitionKey]]) — the storage-partitioned-join input: with
  * v2 bucketing enabled Spark groups same-bucket splits into one
  * partition; with it off the key is inert and the split schedules like
  * any other. Unwrapped by [[SSTableReaderFactory]]. */
final case class SSTableKeyedSplit(p: SSTablePartition, bucket: Int)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
  override def preferredLocations(): Array[String] = p.preferredLocations()
}

/** One whole bucket of a bucketed directory: every split of its
  * generations, scheduled as a single task keyed by the bucket id. */
final case class SSTableBucketPartition(bucket: Int, splits: Array[SSTablePartition])
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    splits.flatMap(_.preferredLocations()).distinct
}

object SSTableScan {
  /** Max runtime-IN-set size that still pays per-key bloom probes at plan
    * time; larger sets fall back to range/split membership pruning only
    * (a huge probe set is a scan anyway). */
  private val MaxBloomProbeKeys = 16 * 1024

  /** Is some sorted key within [lo, hi]? (hi None = unbounded tail split;
    * bounds inclusive — a duplicate-key run can equal a split's bound.) */
  private[spark] def anyKeyInRange(keys: Array[Array[Byte]], lo: Array[Byte],
                                   hi: Option[Array[Byte]]): Boolean = {
    var l = 0
    var h = keys.length
    while (l < h) { // first key >= lo
      val m = (l + h) >>> 1
      if (SSTableFiles.compareKeys(keys(m), lo) < 0) l = m + 1 else h = m
    }
    l < keys.length && hi.forall(ub => SSTableFiles.compareKeys(keys(l), ub) <= 0)
  }

  /** Can generation `r` hold the point key `eq` or one of the sorted
    * runtime join keys `keys`? The bloom filter decides first, so a
    * definitive miss skips the Summary walk and index point reads, not
    * just the data scan; runtime keys also meet the Statistics key
    * bounds. */
  private[spark] def mayHoldKeys(r: SSTableReader, eq: Option[Array[Byte]],
                                 keys: Option[Array[Array[Byte]]]): Boolean =
    !eq.exists(k => !r.mightContainKey(k)) && keys.forall { ks =>
      r.statistics.forall(s => s.rowCount > 0 && anyKeyInRange(ks, s.minKey, Some(s.maxKey))) &&
        (ks.length > MaxBloomProbeKeys || ks.exists(r.mightContainKey))
    }

  /** Plan one file's splits (Summary walk + index point reads + block
    * hosts). Standalone function so the distributed-planning closure
    * captures only serializable arguments, never the Scan. `keys` is the
    * runtime join-key set: files are dropped via Statistics key bounds +
    * bloom (every key misses ⇒ the file has none of them), splits via
    * sorted-set membership against their [firstKey, lastKeyBound].
    * `hostsFromIndex` attaches Index.db block locations instead of
    * Data.db's (the index source never opens Data.db). */
  private[spark] def planFile(st: Storage, targetSplitBytes: Long,
                              lo: Option[Array[Byte]], hi: Option[Array[Byte]],
                              eq: Option[Array[Byte]] = None,
                              keys: Option[Array[Array[Byte]]] = None,
                              hostsFromIndex: Boolean = false)
                             (f: String): Seq[SSTablePartition] = {
    val r = new SSTableReader(f, st)
    if (!mayHoldKeys(r, eq, keys)) return Nil
    val splits = r.planSplits(targetSplitBytes)
    r.pruneSplits(splits, lo, hi)
      .filter(s => keys.forall(ks => anyKeyInRange(ks, s.firstKey, s.lastKeyBound)))
      .map { s =>
        val hosts =
          if (hostsFromIndex)
            st.blockHosts(SSTableFiles.sibling(f, SSTableFiles.IndexSuffix),
              s.idxStart, s.idxEnd)
          else st.blockHosts(f, r.physicalOffset(s.start), r.physicalOffset(s.end))
        SSTablePartition(f, s.start, s.end, s.idxStart, s.idxEnd, hosts)
      }
  }

  /** Per-file planning is independent metadata work, parallelized two
    * ways by file count: below `threshold` a driver parallel collection
    * (no job overhead); above it the planning closure ships through
    * `spark.parallelize(files).flatMap` so ten-thousand-file directories
    * don't bottleneck on one machine's metadata round-trips (SURVEY
    * §3-E3; the reference ran planning as offline MR jobs for the same
    * reason). Shared by the data and index sources. */
  private[spark] def planPartitions(files: Seq[String],
                                    handle: StorageHandle,
                                    threshold: Int, targetSplitBytes: Long,
                                    lo: Option[Array[Byte]],
                                    hi: Option[Array[Byte]],
                                    eqk: Option[Array[Byte]],
                                    keys: Option[Array[Array[Byte]]],
                                    hostsFromIndex: Boolean): Array[InputPartition] = {
    if (files.length <= threshold) {
      import scala.collection.parallel.CollectionConverters._
      val st = handle.get
      files.par.flatMap(
        planFile(st, targetSplitBytes, lo, hi, eqk, keys, hostsFromIndex)).toArray
    } else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val slices = math.min(files.length, math.max(sc.defaultParallelism, 1) * 4)
      sc.parallelize(files, slices)
        .flatMap(f => planFile(handle.get, targetSplitBytes, lo, hi, eqk, keys,
          hostsFromIndex)(f))
        .collect().toArray
    }
  }
}

final class SSTableReaderFactory(requiredSchema: StructType,
                                 ttlAsOfMs: Option[Long],
                                 handle: StorageHandle,
                                 cellsView: Boolean = false,
                                 rowLimit: Option[Int] = None,
                                 asOfMicros: Option[Long] = None,
                                 nameLo: Option[(Array[Byte], Boolean)] = None,
                                 nameHi: Option[(Array[Byte], Boolean)] = None,
                                 shadowBc: Option[org.apache.spark.broadcast
                                   .Broadcast[DeleteShadow]] = None,
                                 keyFilters: Array[Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val storage = handle.get
    // executor-side resolution: all tasks on an executor share ONE map
    val shadow = shadowBc.map(_.value)
    val vis = new Visibility(ttlAsOfMs, asOfMicros, shadow)
    val inner = partition match {
      case bp: SSTableBucketPartition =>
        new SSTableBucketReader(bp, requiredSchema, storage, vis)
      case rp: SSTableRangePartition =>
        new SSTableReconciledReader(rp, requiredSchema, storage, vis, keyFilters)
      case _ =>
        val p = partition match {
          // SPJ-keyed split: the key only matters to planning; read the
          // underlying split as usual
          case k: SSTableKeyedSplit => k.p
          case other => other.asInstanceOf[SSTablePartition]
        }
        if (cellsView)
          new SSTableCellReader(p, requiredSchema, storage, vis, nameLo, nameHi)
        else if (ReadPath.indexOnly(requiredSchema, cellsView = false,
            asOfCut = asOfMicros.isDefined, deletes = shadow.isDefined))
          new IndexWindowReader(p, requiredSchema, storage)
        else new SSTableRowReader(p, requiredSchema, storage, vis)
    }
    rowLimit.map(new CappedReader(inner, _)).getOrElse(inner)
  }
}

/** Pushed-limit enforcement: stops after `cap` rows WITHOUT advancing the
  * underlying reader further — since rows stream in file order, a capped
  * task's IO is bounded by the first `cap` rows' bytes, not the split
  * size. Serves both the plain limit and the key-asc top-n (partitions
  * already emit key order, so their first `cap` rows are their top-n). */
private final class CappedReader(inner: PartitionReader[InternalRow], cap: Int)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  override def next(): Boolean =
    emitted < cap && inner.next() && { emitted += 1; true }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Bucketed-partition reader: chains the bucket's splits through the
  * plain row reader and prepends the constant `_bucket` column when the
  * projection kept it. */
final class SSTableBucketReader(bp: SSTableBucketPartition,
                                requiredSchema: StructType,
                                storage: Storage,
                                vis: Visibility)
    extends PartitionReader[InternalRow] {
  private val withBucket = requiredSchema.fieldNames.headOption.contains("_bucket")
  private val innerSchema =
    if (withBucket) StructType(requiredSchema.fields.drop(1)) else requiredSchema
  private val bucketRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bp.bucket))
  private var idx = 0
  private var current: PartitionReader[InternalRow] = _
  private def nextReader(): Boolean = {
    if (current != null) { current.close(); current = null }
    if (idx >= bp.splits.length) false
    else {
      current = new SSTableRowReader(bp.splits(idx), innerSchema, storage, vis)
      idx += 1
      true
    }
  }
  @annotation.tailrec
  override final def next(): Boolean =
    if (current != null && current.next()) true
    else if (nextReader()) next()
    else false
  override def get(): InternalRow =
    if (withBucket)
      new org.apache.spark.sql.catalyst.expressions.JoinedRow(bucketRow, current.get())
    else current.get()
  override def close(): Unit = if (current != null) current.close()
}

/** Cells-view reader: one output row per visible column cell (the
  * source-side explode — SURVEY §2.3-P2 at the scan). Row tombstones are
  * not cells and are not emitted. */
final class SSTableCellReader(p: SSTablePartition, requiredSchema: StructType,
                              storage: Storage, vis: Visibility,
                              nameLo: Option[(Array[Byte], Boolean)] = None,
                              nameHi: Option[(Array[Byte], Boolean)] = None)
    extends PartitionReader[InternalRow] {
  private val reader = new SSTableReader(p.dataPath, storage).rows(p.start, p.end, nameLo, nameHi)
  private val genStem = org.apache.spark.unsafe.types.UTF8String.fromString(
    SSTableFiles.generationStem(p.dataPath))
  private var key: Array[Byte] = _
  private var mark: Long = Long.MinValue // the current row's delete mark
  private var cells: Iterator[Column] = Iterator.empty
  private var current: InternalRow = _
  @annotation.tailrec
  override final def next(): Boolean =
    if (cells.hasNext) {
      current = SSTableSchema.cellToInternal(key, cells.next(), requiredSchema,
        genStem)
      true
    } else if (reader.hasNext) {
      val row = reader.next()
      key = row.key
      mark = vis.markOf(key)
      cells = row.columns.iterator.filter(vis.cell(_, mark))
      next()
    } else false
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** Full-row reader over the partition's Data.db byte range; each decoded
  * row passes through the read's [[Visibility]]. */
final class SSTableRowReader(p: SSTablePartition, requiredSchema: StructType,
                             storage: Storage, vis: Visibility)
    extends PartitionReader[InternalRow] {
  private val reader = new SSTableReader(p.dataPath, storage).rows(p.start, p.end)
  private val genStem = org.apache.spark.unsafe.types.UTF8String.fromString(
    SSTableFiles.generationStem(p.dataPath))
  private var current: InternalRow = _
  @annotation.tailrec
  override final def next(): Boolean =
    if (reader.hasNext) vis.row(reader.next()) match {
      case Some(row) =>
        current = SSTableSchema.rowToInternal(row, requiredSchema, genStem)
        true
      case None => next()
    } else false
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
