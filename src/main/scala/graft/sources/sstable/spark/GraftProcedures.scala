package graft.sources.sstable.spark

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.SSTableOps

/** SQL `CALL` surface for the maintenance family (Iceberg's
  * `CALL catalog.system.<proc>` convention): everything an operator of
  * a 100 TB directory runs on a schedule — compaction (STCS / LCS /
  * tombstone-debt), snapshot pins + retention, staging vacuum, scrub —
  * becomes one SQL statement against the catalog, so the maintenance
  * loop needs no Scala at all:
  *
  * {{{
  * CALL graft.system.compact(table => 'ns.events')
  * CALL graft.system.snapshot(table => 'ns.events', tag => 'epoch42')
  * CALL graft.system.expire_snapshots(table => 'ns.events', older_than_ms => 604800000)
  * CALL graft.system.vacuum(table => 'ns.events')
  * CALL graft.system.scrub(table => 'ns.events', repair => true)
  * }}}
  *
  * Each procedure returns its report as a result set (rows out of a
  * [[LocalScan]] — the values are metadata-sized by construction: fold
  * counts, snapshot tags, per-generation scrub lines). Spark invokes
  * procedures eagerly at analysis (`InvokeProcedures`), which is the
  * correct semantic for side-effecting maintenance: the CALL *is* the
  * action, the DataFrame is its receipt. All procedures share the
  * single-maintainer contract of the underlying [[SSTableOps]] ops —
  * run them from the one process that owns the directory's layout.
  *
  * The `table` argument is a catalog-relative name (`ns.t`, nested
  * namespaces allowed); resolution reuses the catalog's own directory
  * mapping, so CALL reaches exactly the tables SELECT can see. */
private[spark] object GraftProcedures {

  /** One IN parameter, optionally with a SQL-literal default (a
    * defaulted parameter is optional at the call site — Spark fills it
    * from the literal during binding). */
  private def p(name: String, dt: DataType, default: Option[String] = None,
                comment: String = ""): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt)
    default.foreach(d => b = b.defaultValue(d))
    if (comment.nonEmpty) b = b.comment(comment)
    b.build()
  }

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Optional-argument accessors. Spark fills a parameter's declared
    * default only when the argument is OMITTED — an explicit NULL
    * reaches the body, where a raw `getLong`/`getInt` silently unboxes
    * it to 0 (review r11: `vacuum_trash(older_than_ms => NULL)` would
    * have destroyed every undrop window in the namespace, and
    * `maintenance_status(horizon_ms => NULL)` reported every live
    * holder stale). Contract everywhere: explicit NULL means "the
    * default", same as the lookup procedure's gc_tombstones. Each call
    * site passes the same constant its parameter declares. */
  private def longArg(in: InternalRow, i: Int, default: Long): Long =
    if (in.isNullAt(i)) default else in.getLong(i)
  private def intArg(in: InternalRow, i: Int, default: Int): Int =
    if (in.isNullAt(i)) default else in.getInt(i)
  private def boolArg(in: InternalRow, i: Int, default: Boolean): Boolean =
    if (in.isNullAt(i)) default else in.getBoolean(i)

  /** A procedure: fixed parameters, fixed result schema, an eager body.
    * `bind` is identity — the parameter list is static, Spark coerces
    * the call-site arguments to the declared types. Side-effecting, so
    * never deterministic. */
  private final class Proc(
      procName: String,
      procDescription: String,
      params: Array[ProcedureParameter],
      resultSchema: StructType,
      body: (SparkSession, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val resultRows = body(SparkSession.active, input).toArray
      util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = resultRows
        override def readSchema(): StructType = resultSchema
      }).iterator()
    }
  }

  /** The procedure namespace (`CALL graft.system.<name>`). */
  val Namespace: Array[String] = Array("system")

  /** Pick the NEWEST trash candidate by drop time (the heartbeat stamp
    * the DROP planted — the same liveness key the sweep uses, so
    * restore and sweep agree on age). The trash RACES the staged-DDL
    * sweep: a candidate vanishing between the listing and its stat is
    * excluded rather than thrown (Hadoop-backed `mtime` throws on
    * missing paths — the acquire-race class, VERDICT r9 #1). */
  private def newestCandidate(storage: graft.sources.sstable.Storage,
                              candidates: Seq[String],
                              what: String, name: String): (String, Long) = {
    val stamped = candidates.flatMap { p =>
      try {
        val hb = s"$p/${GraftCatalog.StageHeartbeatFile}"
        Some(p -> math.max(storage.mtime(p),
          if (storage.exists(hb)) storage.mtime(hb) else 0L))
      } catch {
        case _: java.io.FileNotFoundException |
             _: java.nio.file.NoSuchFileException => None // swept mid-look
      }
    }
    require(stamped.nonEmpty,
      s"no dropped $what '$name' in the trash — either it was never " +
        "dropped here, or the sweep horizon already reclaimed it")
    stamped.maxBy(_._2)
  }

  /** Restore tail for NAMESPACES: one tree rename back. (A namespace
    * tree holds plain-named table subdirectories, so the table-grain
    * pointer-committed copy below does not apply; the namespace-grain
    * restore keeps the rename's weaker object-store visibility window —
    * the documented remaining gap.) */
  private def restoreFromTrash(storage: graft.sources.sstable.Storage,
                               live: String, candidates: Seq[String],
                               what: String, name: String): (String, Long) = {
    val (newest, at) = newestCandidate(storage, candidates, what, name)
    storage.rename(newest, live) // refuses an existing dst: loud on a create race
    storage.delete(s"$live/${GraftCatalog.StageHeartbeatFile}")
    (newest.substring(newest.lastIndexOf('/') + 1), at)
  }

  /** Restore tail for TABLES, pointer-committed (VERDICT r11 #3): the
    * live name springs into existence behind a CONDITIONALLY-created
    * `restoring:` pointer (no reader sees it; exactly one restorer per
    * name wins), the trash content is copied in while the trash entry —
    * re-stamped so the sweep can't take it mid-restore — stays the
    * authority, and ONE atomic props replace flips the table Live. A
    * crash at any step leaves a refusing residue plus intact trash:
    * re-running the undrop (or vacuum) reaches a consistent state. */
  private def restoreTableFromTrash(storage: graft.sources.sstable.Storage,
                                    live: String, candidates: Seq[String],
                                    name: String): (String, Long) = {
    val (newest, at) = newestCandidate(storage, candidates, "table", name)
    // pin the source against the sweep for the restore's duration (a
    // crashed restore then also gets a fresh full undrop window)
    storage.create(s"$newest/${GraftCatalog.StageHeartbeatFile}").close()
    val props = GraftCatalog.readTableProps(storage, newest)
    val trashName = newest.substring(newest.lastIndexOf('/') + 1)
    require(PointerCommit.createState(storage, live, props,
      TableState.Restoring(trashName, PointerCommit.newId())),
      s"a concurrent CREATE or undrop just claimed '$name' — nothing " +
        "was restored; re-run once the other operation settles")
    PointerCommit.copyTree(storage, newest, live, excludeTable = true)
    PointerCommit.writeState(storage, live, props, TableState.Live) // COMMIT
    storage.deleteRecursive(newest)
    (trashName, at)
  }

  /** Restore every `_nsdrop`-marked complete trash entry under
    * `nsPath` (nested namespaces recursed) — the tables that were LIVE
    * when the namespace drop's per-table phase tombstoned them. Entries
    * without the mark were trash BEFORE the drop and stay trash.
    * Idempotent: residue from a crashed per-table restore is cleared
    * (when its liveness rules allow), an already-live name is skipped
    * with its entry left for manual undrop_table. Returns the count. */
  private def restoreNsDropTables(storage: graft.sources.sstable.Storage,
                                  nsPath: String): Int = {
    var n = 0
    val marked = storage.listSubdirs(nsPath, "_dropped-").flatMap { p =>
      val entry = p.substring(p.lastIndexOf('/') + 1)
      val body = entry.drop("_dropped-".length)
      val suffix = body.takeRight(9)
      val shapeOk = body.length > 9 && suffix.head == '-' &&
        suffix.tail.forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
      if (shapeOk &&
          storage.exists(s"$p/${PointerCommit.NsDropMarkFile}") &&
          storage.exists(s"$p/${PointerCommit.TrashOkFile}") &&
          !storage.exists(s"$p/${GraftCatalog.NamespaceMarker}"))
        Some(body.dropRight(9) -> p)
      else None
    }
    // one restore per NAME, newest entry wins (a cascade that crashed
    // pre-flip and re-ran can leave a stale complete duplicate; so can
    // a dropper killed between copy and flip) — same rule as
    // undrop_table; older duplicates stay trash and age out
    marked.groupBy(_._1).foreach { case (tname, entries) =>
      val live = s"$nsPath/$tname"
      if (storage.exists(live) &&
          TableState.isResidue(PointerCommit.stateOf(storage, live)) &&
          PointerCommit.residueClearable(storage, live))
        PointerCommit.clearResidue(storage, live)
      if (!storage.exists(live)) {
        val (restoredFrom, _) = restoreTableFromTrash(storage, live,
          entries.map(_._2), tname)
        graft.sources.sstable.History.record(storage, live, "undrop_table",
          detail = s"from=$restoredFrom (undrop_namespace)")
        n += 1
      }
    }
    storage.listSubdirs(nsPath, "")
      .map(x => x.substring(x.lastIndexOf('/') + 1))
      .filterNot(_.startsWith("_"))
      .foreach { child =>
        if (storage.exists(s"$nsPath/$child/${GraftCatalog.NamespaceMarker}"))
          n += restoreNsDropTables(storage, s"$nsPath/$child")
      }
    n
  }

  private def hasNsDropEntries(storage: graft.sources.sstable.Storage,
                               nsPath: String): Boolean =
    storage.listSubdirs(nsPath, "_dropped-").exists(p =>
      storage.exists(s"$p/${PointerCommit.NsDropMarkFile}") &&
        storage.exists(s"$p/${PointerCommit.TrashOkFile}")) ||
      storage.listSubdirs(nsPath, "")
        .map(x => x.substring(x.lastIndexOf('/') + 1))
        .filterNot(_.startsWith("_"))
        .exists(child =>
          storage.exists(s"$nsPath/$child/${GraftCatalog.NamespaceMarker}") &&
            hasNsDropEntries(storage, s"$nsPath/$child"))

  /** Build the registry against `resolveTable` — the catalog's own
    * `table-name → directory` mapping (loud on unknown names) — and the
    * catalog's name (for procedures like `rebucket` that re-enter SQL).
    * `resolveParent` maps a table name to `(namespace dir, table name)`
    * WITHOUT requiring the table to exist — `undrop_table`'s target is
    * by definition not a live table. */
  def registry(resolveTable: String => String,
               catalogName: => String,
               resolveParent: String => (String, String),
               warehouseDir: () => String): Map[String, UnboundProcedure] = {
    def dirOf(input: InternalRow): String = {
      require(!input.isNullAt(0), "argument 'table' is required")
      resolveTable(input.getUTF8String(0).toString)
    }
    /** The catalog's takedown-ledger directory (round 17): a reserved
      * underscore-prefixed path under the warehouse root — out of reach
      * of table DDL, consulted by every ingest maintainer below. */
    def ledgerDir: String =
      graft.operators.TakedownLedger.dirUnder(warehouseDir())
    /** The catalog's derived-store registry (round 18): maintainers
      * self-register what they build/update so a list-free takedown or
      * audit can span EVERYTHING derived from a corpus with no table
      * list to forget. Same reserved-path pattern as the ledger. */
    def registryDir: String =
      graft.operators.DerivedRegistry.dirUnder(warehouseDir())
    /** Optional string-array argument: `name => array('a','b')` on the
      * CALL site; absent or explicit NULL = empty. */
    def strArrayArg(in: InternalRow, i: Int): Seq[String] =
      if (in.isNullAt(i)) Seq.empty
      else {
        val a = in.getArray(i)
        (0 until a.numElements()).map { j =>
          require(!a.isNullAt(j), "array arguments must not contain NULLs")
          a.getUTF8String(j).toString
        }
      }
    /** Back-quoted fully-qualified SQL name (validated by resolveTable
      * first — call dirOf before this). */
    def qualified(tableName: String): String =
      (catalogName +: tableName.split('.').toSeq)
        .map(part => s"`$part`").mkString(".")
    def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)
    /** Data generations of the table named by argument 0 — the store
      * CALLs' receipt column (the autocompact observable). */
    def generations(spark: SparkSession, in: InternalRow): Int = {
      val dir = dirOf(in)
      graft.operators.DerivedStore.storageOf(spark, dir).listDataFiles(dir).length
    }
    /** Register the store named by argument 0 as derived from `corpus`. */
    def registerStore(spark: SparkSession, in: InternalRow, corpus: String,
                      kind: String): Unit =
      graft.operators.DerivedRegistry.register(spark, registryDir, corpus,
        kind, in.getUTF8String(0).toString, dirOf(in))
    val tableParam =
      p("table", StringType, comment = "catalog-relative table name, e.g. 'ns.t'")

    Map(
      "compact" -> new Proc(
        "compact",
        "size-tiered (STCS) compaction: fold every planned bucket in place; " +
          "returns the number of buckets folded",
        Array(tableParam,
          p("min_threshold", IntegerType, Some("4")),
          p("max_threshold", IntegerType, Some("32")),
          p("min_size", LongType, Some((50L * 1024 * 1024).toString))),
        StructType(Seq(StructField("folds", IntegerType, nullable = false))),
        (spark, in) => Seq(row(SSTableOps.compactInPlace(
          spark, dirOf(in), intArg(in, 1, 4), intArg(in, 2, 32),
          longArg(in, 3, 50L * 1024 * 1024)): Integer))),

      "compact_leveled" -> new Proc(
        "compact_leveled",
        "leveled (LCS) compaction: fold adjacent sorted runs until at most " +
          "max_runs remain; returns the number of folds performed",
        Array(tableParam,
          p("max_runs", IntegerType, Some("4")),
          p("max_threshold", IntegerType, Some("32"))),
        StructType(Seq(StructField("folds", IntegerType, nullable = false))),
        (spark, in) => Seq(row(SSTableOps.compactLeveledInPlace(
          spark, dirOf(in), intArg(in, 1, 4), intArg(in, 2, 32)): Integer))),

      "compact_bucketed" -> new Proc(
        "compact_bucketed",
        "layout-preserving compaction for bucketed (writeBucketed) " +
          "directories: fold each hash bucket's generation chain into one " +
          "generation under the same bucket-NNNNN stem (tombstone GC is " +
          "structural within a bucket); returns the number of buckets folded",
        Array(tableParam,
          p("min_threshold", IntegerType, Some("2")),
          p("parallelism", IntegerType, Some("0"))),
        StructType(Seq(StructField("folds", IntegerType, nullable = false))),
        (spark, in) => Seq(row(SSTableOps.compactBucketedInPlace(
          spark, dirOf(in), intArg(in, 1, 2), intArg(in, 2, 0)): Integer))),

      "compact_tombstones" -> new Proc(
        "compact_tombstones",
        "single-generation tombstone compaction: fold isolated generations " +
          "whose sidecar tombstone ratio reaches the threshold (drops the " +
          "delete-shadow debt); returns the number of generations folded",
        Array(tableParam,
          p("ratio_threshold", DoubleType, Some("0.2"))),
        StructType(Seq(StructField("folds", IntegerType, nullable = false))),
        (spark, in) => Seq(row(SSTableOps.compactTombstonesInPlace(
          spark, dirOf(in), in.getDouble(1)): Integer))),

      "snapshot" -> new Proc(
        "snapshot",
        "pin the table's current published state as a named snapshot " +
          "(hardlinks; readable via VERSION AS OF / option(snapshot, tag))",
        Array(tableParam, p("tag", StringType)),
        StructType(Seq(StructField("path", StringType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(1), "argument 'tag' is required")
          val d = dirOf(in)
          Seq(row(utf8(SSTableOps.snapshot(d, in.getUTF8String(1).toString,
            graft.sources.sstable.Storage.forPath(
              d, spark.sessionState.newHadoopConf())))))
        }),

      "drop_snapshot" -> new Proc(
        "drop_snapshot",
        "drop a snapshot pin (bytes survive under live names / younger pins)",
        Array(tableParam, p("tag", StringType)),
        StructType(Seq(StructField("dropped", BooleanType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(1), "argument 'tag' is required")
          val d = dirOf(in)
          val tag = in.getUTF8String(1).toString
          val storage = graft.sources.sstable.Storage.forPath(
            d, spark.sessionState.newHadoopConf())
          val existed = storage.exists(SSTableOps.snapshotPath(d, tag))
          if (existed) SSTableOps.dropSnapshot(d, tag, storage)
          Seq(row(existed: java.lang.Boolean))
        }),

      "rollback" -> new Proc(
        "rollback",
        "restore the table's live state to a snapshot pin (the write-side " +
          "dual of VERSION AS OF): pin filesets relink, post-pin filesets " +
          "unpublish; idempotent, quiesce writers first",
        Array(tableParam, p("tag", StringType)),
        StructType(Seq(
          StructField("restored", IntegerType, nullable = false),
          StructField("removed", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(1), "argument 'tag' is required")
          val d = dirOf(in)
          val (restored, removed) = SSTableOps.rollbackToSnapshot(
            d, in.getUTF8String(1).toString,
            graft.sources.sstable.Storage.forPath(
              d, spark.sessionState.newHadoopConf()))
          Seq(row(restored: Integer, removed: Integer))
        }),

      "expire_snapshots" -> new Proc(
        "expire_snapshots",
        "retention for snapshot pins: drop every pin older than the horizon " +
          "(pin mtime = capture time); one row per pin with its outcome. " +
          "tag_prefix scopes it (e.g. 'auto-' retires only autosnapshot's " +
          "wipe-undo pins, never user pins)",
        Array(tableParam,
          p("older_than_ms", LongType, Some((7L * 24 * 3600 * 1000).toString)),
          p("tag_prefix", StringType, Some("''"))),
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("status", StringType, nullable = false))),
        (spark, in) => {
          val d = dirOf(in)
          val (dropped, kept) = SSTableOps.expireSnapshots(
            d, longArg(in, 1, 7L * 24 * 3600 * 1000),
            storage = graft.sources.sstable.Storage.forPath(
              d, spark.sessionState.newHadoopConf()),
            tagPrefix =
              if (in.isNullAt(2)) "" else in.getUTF8String(2).toString)
          dropped.sorted.map(t => row(utf8(t), utf8("dropped"))) ++
            kept.sorted.map(t => row(utf8(t), utf8("kept")))
        }),

      "vacuum" -> new Proc(
        "vacuum",
        "remove stale staging directories abandoned by dead writers " +
          "(mtime older than the horizon); one row per staging dir",
        Array(tableParam,
          p("older_than_ms", LongType, Some((24L * 3600 * 1000).toString))),
        StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("status", StringType, nullable = false))),
        (spark, in) => {
          val d = dirOf(in)
          val (stale, live) = SSTableOps.vacuumStaging(
            d, longArg(in, 1, 24L * 3600 * 1000),
            storage = graft.sources.sstable.Storage.forPath(
              d, spark.sessionState.newHadoopConf()))
          stale.sorted.map(s => row(utf8(s), utf8("removed"))) ++
            live.sorted.map(s => row(utf8(s), utf8("live")))
        }),

      "expire_history" -> new Proc(
        "expire_history",
        "retention for the _history operation log: remove events older " +
          "than the horizon (name-parse only, no file reads); the log is " +
          "an audit trail, so expiry changes nothing about the data. " +
          "Pass 'namespace' instead of 'table' to expire a NAMESPACE's " +
          "log (where create/drop/undrop_namespace events land; '' = " +
          "the warehouse root)",
        Array(p("table", StringType, Some("NULL"),
          comment = "catalog-relative table name, e.g. 'ns.t'"),
          p("older_than_ms", LongType, Some((90L * 24 * 3600 * 1000).toString)),
          p("namespace", StringType, Some("NULL"),
            comment = "namespace whose log to expire instead; '' = root")),
        StructType(Seq(
          StructField("removed", IntegerType, nullable = false),
          StructField("kept", IntegerType, nullable = false))),
        (spark, in) => {
          val nsArg =
            if (in.isNullAt(2)) None else Some(in.getUTF8String(2).toString)
          val d = nsArg match {
            case Some(ns) =>
              require(in.isNullAt(0),
                "pass either 'table' or 'namespace', not both")
              resolveParent(if (ns.isEmpty) "x" else s"$ns.x")._1
            case None => dirOf(in)
          }
          val storage = graft.sources.sstable.Storage.forPath(
            d, spark.sessionState.newHadoopConf())
          // leased: rebucket exports/imports the log around its swap,
          // and retention deleting events mid-carry would abort it
          val (removed, kept) = graft.sources.sstable.MaintenanceLease
            .withLease(d, storage, "expire_history") { _ =>
              graft.sources.sstable.History.expire(storage, d,
                longArg(in, 1, 90L * 24 * 3600 * 1000))
            }
          Seq(row(removed: Integer, kept: Integer))
        }),

      "rebucket" -> new Proc(
        "rebucket",
        "atomically re-layout a table to a new bucket count (new_buckets " +
          "=> 0 drops the bucketed layout) via the self-referential " +
          "CREATE OR REPLACE ... AS SELECT escape hatch — the stage " +
          "materializes against the OLD table, the commit is one swap. " +
          "Refuses while snapshots pin the current layout (a time-traveled " +
          "read would mis-group keys under the new count); the read is " +
          "delete-aware, so the rewrite also folds pending deletes. " +
          "Quiesce writers first: a write racing the swap lands in the " +
          "replaced directory and is dropped with it",
        Array(tableParam,
          p("new_buckets", IntegerType,
            comment = "target bucket count; 0 = plain (un-bucketed) layout")),
        StructType(Seq(
          StructField("previousBuckets", IntegerType, nullable = true),
          StructField("buckets", IntegerType, nullable = true),
          StructField("rows", LongType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(1), "argument 'new_buckets' is required")
          val tableName = in.getUTF8String(0).toString
          val d = dirOf(in)
          val n = in.getInt(1)
          require(n >= 0, s"new_buckets must be >= 0: $n")
          if (n > 0) SSTableSource.bucketsOf(Some(n.toString)) // CREATE's validation
          val storage = graft.sources.sstable.Storage.forPath(
            d, spark.sessionState.newHadoopConf())
          // guards + audit-log capture run under a SHORT lease; the swap
          // itself is left to the REPLACE's commitStaged, which takes
          // the table lease for its pointer-committed copy+flip+migrate
          // (holding ours across it would self-refuse). The gap between
          // our release and its acquire admits one racing maintainer,
          // whose fold then either finishes (riding into trash with the
          // old state — REPLACE discards it by contract) or makes the
          // REPLACE refuse loudly at its own acquire.
          val (prev, savedLog, propsClause) = graft.sources.sstable
            .MaintenanceLease.withLease(d, storage, "rebucket") { _ =>
              // the ONE audited home of the relayout×time-travel guard
              // (NOTES r8 #38-2) — shared with ALTER 'buckets'
              GraftCatalog.requireNoPinsForRelayout(storage, d)
              // the swap sends the old directory's _history to trash —
              // capture the audit trail now and restore it after the
              // swap, so the append-only contract holds across the one
              // action that replaces the directory
              val savedLog = graft.sources.sstable.History.exportLog(storage, d)
              val current = GraftCatalog.readTableProps(storage, d)
              val prev = current.get(GraftCatalog.BucketsProp).map(_.toInt)
              require(prev != Some(n) && !(prev.isEmpty && n == 0),
                s"table already has ${prev.map(b => s"buckets=$b")
                  .getOrElse("the plain layout")} — nothing to re-layout")
              val next = (
                if (n == 0) current - GraftCatalog.BucketsProp
                else current + (GraftCatalog.BucketsProp -> n.toString)
              ) - TableState.Key
              val propsClause =
                if (next.isEmpty) ""
                else " TBLPROPERTIES (" + next.toSeq.sorted
                  .map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")"
              (prev, savedLog, propsClause)
            }
          val q = qualified(tableName)
          spark.sql(s"CREATE OR REPLACE TABLE $q$propsClause AS SELECT * FROM $q")
          graft.sources.sstable.History.importLog(storage, d, savedLog)
          val rows = spark.sql(s"SELECT count(*) FROM $q").head().getLong(0)
          graft.sources.sstable.History.record(storage, d, "rebucket",
            detail = s"buckets=${prev.getOrElse(0)}->$n")
          Seq(row(prev.map(Int.box).orNull,
            if (n == 0) null else Int.box(n), rows: java.lang.Long))
        }),

      "build_ann_index" -> new Proc(
        "build_ann_index",
        "train an ANN index over an embeddings corpus (any Spark-readable " +
          "directory whose embeddings table has vec_id BIGINT + embedding " +
          "ARRAY<FLOAT>) and persist it as THIS catalog table via one " +
          "atomic CREATE OR REPLACE: coarse k-medians centroids (kind " +
          "'ivf'), PQ codebooks (kind 'pq') or both (kind 'ivfpq'), plus " +
          "the narrow per-vector cell/code assignment, with a _meta row " +
          "pinning the trained epoch (source, nvec, dim, every parameter). " +
          "Training is deterministic (exact medians), so queries serving " +
          "from the persisted index are bit-identical to training " +
          "in-query — while paying a tiny broadcast instead of Lloyd " +
          "iterations per job (the precompute-once-read-many pattern of " +
          "the reference's split planning, GenerateSSTableDataSplits)",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "corpus directory holding embeddings.parquet"),
          p("kind", StringType, Some("'ivfpq'"),
            comment = "'ivf' (coarse only), 'pq' (codebooks only), 'ivfpq'"),
          p("k", IntegerType, Some(graft.operators.Params.KMedK.toString),
            comment = "coarse cells"),
          p("iters", IntegerType, Some(graft.operators.Params.KMedIters.toString),
            comment = "coarse Lloyd iterations"),
          p("m", IntegerType, Some(graft.operators.Params.PqM.toString),
            comment = "PQ subspaces"),
          p("pq_k", IntegerType, Some(graft.operators.Params.PqK.toString),
            comment = "codes per subspace"),
          p("pq_iters", IntegerType, Some(graft.operators.Params.PqIters.toString),
            comment = "codebook Lloyd iterations"),
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate selecting the training slice — the " +
              "real pattern at scale: train quantizers on a sample, then " +
              "CALL update_ann_index to encode the rest against them"),
          p("store_vectors", BooleanType, Some("false"),
            comment = "covering-index mode: persist each raw vector in " +
              "its v: row so exact-rerank serving can point-read a PQ " +
              "shortlist's true vectors (the FAISS-IVFPQR/DiskANN " +
              "reorder step) instead of scanning the embedding table; " +
              "update_ann_index and streaming ingest follow the pinned " +
              "flag automatically"),
          p("drift_warn", LongType, Some("0"),
            comment = "drift-warning threshold in e4 units (e.g. 15000 " +
              "= ratio 1.5): a covering index's maintainers append a " +
              "_health drift sample at every ingest epoch; above this " +
              "threshold the ingest receipt carries a LOUD warning. 0 " +
              "(default) = samples only, no warning")),
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("centroids", LongType, nullable = false),
          StructField("codebookEntries", LongType, nullable = false),
          StructField("vectors", LongType, nullable = false),
          StructField("dim", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val sourceDir = in.getUTF8String(1).toString
          val kind = if (in.isNullAt(2)) "ivfpq"
            else in.getUTF8String(2).toString.toLowerCase(java.util.Locale.ROOT)
          val whereSql = if (in.isNullAt(8)) "true" else in.getUTF8String(8).toString
          val (cents, codebook, vecs, dim, _) = graft.operators.AnnIndex.build(
            spark, sourceDir, qualified(tableName), kind,
            intArg(in, 3, graft.operators.Params.KMedK),
            intArg(in, 4, graft.operators.Params.KMedIters),
            intArg(in, 5, graft.operators.Params.PqM),
            intArg(in, 6, graft.operators.Params.PqK),
            intArg(in, 7, graft.operators.Params.PqIters),
            whereSql,
            storeVectors = !in.isNullAt(9) && in.getBoolean(9),
            ledgerDir = Some(ledgerDir),
            driftWarn = longArg(in, 10, 0L))
          registerStore(spark, in, sourceDir,
            graft.operators.DerivedRegistry.AnnVectors)
          Seq(row(utf8(kind), cents, codebook, vecs, dim))
        }),

      "update_ann_index" -> new Proc(
        "update_ann_index",
        "incrementally ingest NEW corpus vectors into a persisted ANN " +
          "index: probe the index's v: keys (key-only Index.db scan) for " +
          "vec_ids already encoded, assign ONLY the absent vectors under " +
          "the PERSISTED quantizers (one broadcast pass — bit-identical " +
          "to what training's final assignment rule gives; centroids and " +
          "codebooks are never retrained here) and append them as one " +
          "generation. The lifecycle twin of update_signatures: a corpus " +
          "that grows by INSERT pays one encoding pass for the delta, " +
          "never Lloyd training again. Refuses an index built over a " +
          "different corpus or with missing _meta. Same single-maintainer " +
          "contract as every maintenance CALL (probe-then-append)",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "the SAME corpus directory the index was built over")),
        StructType(Seq(
          StructField("docsSeen", LongType, nullable = false),
          StructField("encoded", LongType, nullable = false),
          StructField("alreadyIndexed", LongType, nullable = false),
          StructField("health", StringType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          val (seen, encoded, skipped, health) =
            graft.operators.AnnIndex.update(
              spark, qualified(tableName), dirOf(in),
              in.getUTF8String(1).toString, ledgerDir = Some(ledgerDir))
          registerStore(spark, in, in.getUTF8String(1).toString,
            graft.operators.DerivedRegistry.AnnVectors)
          Seq(row(seen, encoded, skipped, utf8(health)))
        }),

      "cover_ann_index" -> new Proc(
        "cover_ann_index",
        "upgrade an EXISTING non-covering ANN index to covering: " +
          "backfill raw-vector (vec) cells for every live v: row from " +
          "the pinned corpus in ONE pass — no retraining (centroids and " +
          "codebooks are untouched) — and flip store_vectors in _meta " +
          "on the same atomic commit, so exact rerank " +
          "(AnnIndex.loadVectorsFor / q_ann_rerank's pipeline) serves " +
          "from it identically to an index built covering. Drift " +
          "refusal: the corpus rows must re-encode to EXACTLY the " +
          "stored cell/code assignments under the persisted quantizers " +
          "(the index's own content check — it stores no raw bits to " +
          "hash); ids missing from the corpus refuse (retract them " +
          "first, or rebuild). Idempotent: an already-covering index " +
          "no-ops. Runs under the maintenance lease",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "the SAME corpus directory the index was built over")),
        StructType(Seq(
          StructField("covered", LongType, nullable = false),
          StructField("alreadyCovering", BooleanType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          val (covered, already) = graft.operators.AnnIndex.cover(
            spark, qualified(tableName), dirOf(in),
            in.getUTF8String(1).toString)
          registerStore(spark, in, in.getUTF8String(1).toString,
            graft.operators.DerivedRegistry.AnnVectors)
          Seq(row(covered, already))
        }),

      "ann_drift" -> new Proc(
        "ann_drift",
        "quantizer drift statistic: compare how well POST-BUILD epochs' " +
          "vectors assign under the index's persisted quantizers vs the " +
          "BUILD epoch's (best-assignment cosine; coarse centroids for " +
          "ivf/ivfpq, per-subspace codebook mean for pq) — with ZERO " +
          "corpus IO (a covering index stores the raw vectors, each " +
          "stamped with its ingest epoch). Retraction/re-admission " +
          "churn never retrains quantizers (correct — they are trained " +
          "artifacts), so without this signal recall decays silently as " +
          "the corpus shifts. driftRatio = (1 - postMeanSim) / " +
          "(1 - buildMeanSim), 10000 = 1.0: ~10000 on same-distribution " +
          "ingest is healthy; a sustained ratio above ~15000 with a " +
          "material nPost means the quantizers no longer represent the " +
          "corpus — schedule CALL build_ann_index (serving swaps " +
          "atomically). Read-only. A COVERING index measures with zero " +
          "corpus IO; a non-covering one passes source_dir => <the " +
          "pinned corpus> for the corpus-IO fallback (epochs from the " +
          "index's assignment cells, vectors from the corpus — one " +
          "corpus scan), breaking the cover<->drift circularity (cover " +
          "refuses on drift; drift used to require cover)",
        Array(tableParam,
          p("source_dir", StringType, Some("NULL"),
            comment = "corpus-IO fallback for a NON-covering index: " +
              "must equal the index's pinned source; ignored when the " +
              "index stores raw vectors"),
          p("tolerate_missing", BooleanType, Some("false"),
            comment = "fallback mode during LIVE corpus churn (round " +
              "18): index vectors the corpus no longer holds are " +
              "dropped from the statistic and counted in the receipt's " +
              "'missing' column, instead of refusing the measurement. " +
              "Default keeps the refusal (a silent drop would bias " +
              "the means invisibly)")),
        StructType(Seq(
          StructField("nBuild", LongType, nullable = false),
          StructField("nPost", LongType, nullable = false),
          StructField("buildMeanSim_e4", LongType, nullable = false),
          StructField("postMeanSim_e4", LongType, nullable = false),
          StructField("buildP05Sim_e4", LongType, nullable = false),
          StructField("postP05Sim_e4", LongType, nullable = false),
          StructField("driftRatio_e4", LongType, nullable = false),
          StructField("missing", LongType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          val tableName = in.getUTF8String(0).toString
          val (nb, np, mb, mp, pb, pp, ratio, missing) =
            graft.operators.AnnIndex.drift(spark, qualified(tableName),
              dirOf(in),
              if (in.isNullAt(1)) None
              else Some(in.getUTF8String(1).toString),
              tolerateMissing = !in.isNullAt(2) && in.getBoolean(2))
          Seq(row(nb, np, mb, mp, pb, pp, ratio, missing))
        }),

      "retract_ann_vectors" -> new Proc(
        "retract_ann_vectors",
        "remove vectors from a persisted ANN index without retraining: " +
          "one epoch appends a row-tombstone generation marking the " +
          "chosen v: rows deleted (the catalog's merge-on-read DELETE " +
          "shape), so the vectors stop being served as neighbors by " +
          "every loader, the snapshot, and the rerank point reads " +
          "identically; a 'retracted' _meta flag (written first, " +
          "crash-conservative) switches the novelty probe to its " +
          "delete-aware form, so a later update_ann_index or streaming " +
          "ingest RE-ADDS the ids with cells above the mark — " +
          "membership can flip indefinitely in registered-epoch order. " +
          "`where` selects over the INDEX's own ids (column vec_id) — " +
          "no embedding read, so a vector with no surviving copy " +
          "anywhere (the takedown case) retracts fine. Centroids and " +
          "codebooks are untouched (quantizers are trained artifacts, " +
          "not member data; rebuild to retrain). Idempotent re-runs " +
          "match nothing. Runs under the maintenance lease; epoch 0 in " +
          "the receipt means nothing matched (no write)",
        Array(tableParam,
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate over vec_id selecting the vectors " +
              "to remove, e.g. 'vec_id % 5 = 2'")),
        StructType(Seq(
          StructField("retracted", LongType, nullable = false),
          StructField("epoch", IntegerType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val whereSql = if (in.isNullAt(1)) "true" else in.getUTF8String(1).toString
          val (retracted, epoch) = graft.operators.AnnIndex.retractVectors(
            spark, qualified(tableName), dirOf(in), whereSql)
          Seq(row(retracted, epoch,
            generations(spark, in)))
        }),

      "update_signatures" -> new Proc(
        "update_signatures",
        "incrementally maintain a MinHash signature store over a growing " +
          "corpus (the batch twin of the streaming incremental dedup): " +
          "probe THIS catalog table's keys (a key-only Index.db scan) for " +
          "doc_ids already signed, compute signatures ONLY for the absent " +
          "documents (narrow anti-join on ids; text is read once for the " +
          "delta and never shuffled), and append them as one generation — " +
          "the store self-maintains via its write-triggered autocompact. " +
          "Creates the store on first call with a _meta row pinning the " +
          "MinHash parameters; a store built under different parameters " +
          "refuses loudly. A corpus that grows by INSERT pays signature " +
          "computation for the delta, never for the whole corpus again. " +
          "Contract: the maintenance CALLs are the store's only writers, " +
          "ONE AT A TIME " +
          "(the probe-then-append is check-then-act: two concurrent calls " +
          "over the same delta would both sign it — the single-maintainer " +
          "contract every maintenance CALL shares; enforced by the " +
          "lease). The index-only probe skips delete-awareness until the " +
          "first retract_signatures epoch flips the store to the " +
          "delete-aware probe; ad-hoc DELETE FROM remains unsupported",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "corpus directory holding documents.parquet"),
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate selecting the ingest slice, e.g. " +
              "'doc_id % 3 < 2'"),
          p("autocompact", IntegerType, Some("8"),
            comment = "write-triggered fold threshold for a NEW store")),
        StructType(Seq(
          StructField("docsSeen", LongType, nullable = false),
          StructField("novel", LongType, nullable = false),
          StructField("alreadyStored", LongType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val sourceDir = in.getUTF8String(1).toString
          val whereSql = if (in.isNullAt(2)) "true" else in.getUTF8String(2).toString
          val (seen, novel, skipped) = graft.operators.SignatureStore.update(
            spark, qualified(tableName), () => dirOf(in), sourceDir, whereSql,
            intArg(in, 3, 8), ledgerDir = Some(ledgerDir))
          registerStore(spark, in, sourceDir,
            graft.operators.DerivedRegistry.Signatures)
          Seq(row(seen, novel, skipped,
            generations(spark, in)))
        }),

      "retract_signatures" -> new Proc(
        "retract_signatures",
        "forget documents' fingerprints in two appends: first the " +
          "retraction's _meta epoch registration with a 'retracted' flag, " +
          "which switches the membership probe to its delete-aware form, " +
          "then a pure row-tombstone generation marking each chosen doc " +
          "deleted at that epoch (so it shadows every earlier write and a " +
          "later re-ingest shadows IT — membership can flip indefinitely " +
          "in write order). The docs read as NOVEL again and the next " +
          "update_signatures re-signs them. `where` selects over the " +
          "STORE's own ids (column doc_id) — no corpus read, so a doc " +
          "with no surviving copy anywhere (the takedown case) retracts " +
          "fine. A re-run matches nothing (idempotent by construction). " +
          "Runs under the maintenance lease; epoch 0 in the receipt " +
          "means nothing matched (no write)",
        Array(tableParam,
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate over doc_id selecting the docs to " +
              "forget, e.g. 'doc_id % 5 = 2'")),
        StructType(Seq(
          StructField("retracted", LongType, nullable = false),
          StructField("epoch", IntegerType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val whereSql = if (in.isNullAt(1)) "true" else in.getUTF8String(1).toString
          val (retracted, epoch) = graft.operators.SignatureStore.retract(
            spark, qualified(tableName), () => dirOf(in), whereSql)
          Seq(row(retracted, epoch,
            generations(spark, in)))
        }),

      "update_doc_freqs" -> new Proc(
        "update_doc_freqs",
        "incrementally maintain a document-frequency (IDF) store over a " +
          "growing corpus: probe THIS table's d: marker keys (key-only " +
          "Index.db scan) for doc_ids already counted, compute per-term " +
          "df AND cf (total occurrences) over ONLY the absent documents, " +
          "and append the partials as " +
          "one epoch — each epoch's counts live in df:/cf:<epoch> cells, so " +
          "compaction's column-union merge folds generations without " +
          "losing a partial, and disjoint epochs SUM to the exact corpus " +
          "df. Serving (DfStore.docFreqs / nDocs) reads total df and " +
          "n_docs from this vocabulary-sized table instead of " +
          "re-aggregating the corpus — how a pipeline TF-IDF-scores new " +
          "documents against corpus statistics without rescanning the " +
          "corpus. Creates the store on first call with a _meta row " +
          "pinning the source; a retargeted store refuses loudly. Same " +
          "single-maintainer, append-only contract as update_signatures",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "corpus directory holding documents.parquet"),
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate selecting the ingest slice"),
          p("autocompact", IntegerType, Some("8"),
            comment = "write-triggered fold threshold for a NEW store"),
          p("unit", StringType, Some("'term'"),
            comment = "counted unit: 'term' (alpha tokens — the " +
              "TF-IDF/IDF statistic) or 'para' (paragraph digests — the " +
              "boilerplate-removal statistic); pinned in _meta"),
          p("autoconsolidate", IntegerType,
            Some(graft.operators.DfStore.DefaultAutoConsolidate.toString),
            comment = "write-triggered consolidation bound for a NEW " +
              "store (table property): when more than this many epoch " +
              "partials have accumulated since the last fold, the " +
              "committing CALL consolidates on the store's behalf — row " +
              "width stays bounded without CALL consolidate_doc_freqs; " +
              "0 disables")),
        StructType(Seq(
          StructField("docsSeen", LongType, nullable = false),
          StructField("novel", LongType, nullable = false),
          StructField("alreadyStored", LongType, nullable = false),
          StructField("epoch", IntegerType, nullable = false),
          StructField("terms", LongType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val sourceDir = in.getUTF8String(1).toString
          val whereSql = if (in.isNullAt(2)) "true" else in.getUTF8String(2).toString
          val unit = if (in.isNullAt(4)) "term" else in.getUTF8String(4).toString
          val (seen, novel, skipped, epoch, terms) =
            graft.operators.DfStore.update(spark, qualified(tableName),
              () => dirOf(in), sourceDir, whereSql, intArg(in, 3, 8), unit,
              intArg(in, 5, graft.operators.DfStore.DefaultAutoConsolidate),
              ledgerDir = Some(ledgerDir))
          registerStore(spark, in, sourceDir,
            graft.operators.DerivedRegistry.DocFreqs)
          Seq(row(seen, novel, skipped, epoch, terms,
            generations(spark, in)))
        }),

      "consolidate_doc_freqs" -> new Proc(
        "consolidate_doc_freqs",
        "epoch-range consolidation of a df store: rewrite each t:/_n " +
          "row's accumulated per-epoch partial cells into ONE fold cell " +
          "(their exact sum, tagged with the newest covered epoch) plus " +
          "DELETED markers for the constituents — without it every " +
          "update appends one df:/cf: cell per touched term forever, and " +
          "serving reads explode-and-sum an O(#epochs)-wide row. The " +
          "fold generation is a PURE APPEND: every reader applies the " +
          "fold rule (newest fold + only the epoch cells after it), so " +
          "raw and catalog reads alike stay exact at every instant; the " +
          "markers let the next ordinary compaction reclaim the " +
          "constituents physically. Runs under the directory's " +
          "maintenance lease; d: markers and _meta are never touched; " +
          "the additivity sentinel is re-checked before returning. " +
          "Idempotent: a re-run with no new epochs folds nothing",
        Array(tableParam),
        StructType(Seq(
          StructField("rowsFolded", LongType, nullable = false),
          StructField("partialsFolded", LongType, nullable = false),
          StructField("coveredEpochTag", StringType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          val dir = dirOf(in)
          val storage = graft.sources.sstable.Storage
            .forPath(dir, spark.sessionState.newHadoopConf())
          val (rows, cells, tag) =
            graft.operators.DfStore.consolidate(spark, dir, storage)
          Seq(row(rows, cells, utf8(tag),
            storage.listDataFiles(dir).length))
        }),

      "audit_doc_freqs" -> new Proc(
        "audit_doc_freqs",
        "run the df store's additivity sentinel ON DEMAND: verify that " +
          "the signed sum of the _n epoch partials equals the live " +
          "membership-marker count (with no duplicate marker versions " +
          "on append-only stores) — the invariant that breaks exactly " +
          "when a duplicating or double-retracting interleave corrupted " +
          "the additive statistics. The maintenance CALLs run this " +
          "after every append/retraction; this CALL exposes it for " +
          "operational checks (post-undrop, post-restore, periodic " +
          "fleet audits). Returns the verified counts; an inconsistent " +
          "store throws the same loud diagnosis the maintainers raise",
        Array(tableParam),
        StructType(Seq(
          StructField("nDocs", LongType, nullable = false),
          StructField("liveMarkers", LongType, nullable = false),
          StructField("consistent", BooleanType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val n = graft.operators.DfStore.nDocs(spark, qualified(tableName))
          val live = graft.operators.DfStore.auditAdditivity(
            spark, dirOf(in), n, "CALL audit_doc_freqs")
          Seq(row(n, live, true))
        }),

      "retract_doc_freqs" -> new Proc(
        "retract_doc_freqs",
        "retract documents from a df store WITHOUT rescanning the " +
          "corpus — the takedown/GDPR/contamination-removal operation, " +
          "priced by the retraction slice: one epoch atomically appends " +
          "NEGATIVE df:/cf: partials for the docs' units (additivity " +
          "runs both ways, through folds and compaction alike), DELETED " +
          "cells shadowing their d: markers (membership probes then see " +
          "the doc as novel again, so a later ingest RE-ADMITS it), a " +
          "negative _n partial, and a 'retracted' flag on _meta that " +
          "switches the membership probe and the additivity sentinel to " +
          "their delete-aware forms. source_dir is wherever the removed " +
          "docs' (doc_id, text) rows can be read NOW — the pinned corpus " +
          "or, for docs already deleted from it (the usual takedown), " +
          "any directory holding them (e.g. the takedown payload): the " +
          "per-doc content-hash check is strictly stronger than a " +
          "source pin. Guards, all delta-sized and all " +
          "refusing BEFORE anything lands: the store must pin this " +
          "unit; a stream-maintained store refuses (its epoch " +
          "tags would order a batch retraction epoch out of consolidated " +
          "reads); each doc's content hash (written at ingest) must " +
          "match the provided text — drift would subtract the " +
          "wrong counts silently; and the store's totals for exactly the " +
          "touched terms (point reads) must cover the subtraction. Docs " +
          "never counted (or already retracted) report as notStored — a " +
          "re-run is a receipt-visible no-op. Runs under the maintenance " +
          "lease; epoch 0 in the receipt means nothing matched (no write)",
        Array(tableParam,
          p("source_dir", StringType,
            comment = "corpus directory holding documents.parquet"),
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate selecting the docs to retract, " +
              "e.g. 'doc_id % 5 = 2'"),
          p("unit", StringType, Some("'term'"),
            comment = "must match the store's pinned unit")),
        StructType(Seq(
          StructField("docsInSlice", LongType, nullable = false),
          StructField("retracted", LongType, nullable = false),
          StructField("notStored", LongType, nullable = false),
          StructField("epoch", IntegerType, nullable = false),
          StructField("terms", LongType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val tableName = in.getUTF8String(0).toString
          resolveParent(tableName) // loud on a missing namespace
          val sourceDir = in.getUTF8String(1).toString
          val whereSql = if (in.isNullAt(2)) "true" else in.getUTF8String(2).toString
          val unit = if (in.isNullAt(3)) "term" else in.getUTF8String(3).toString
          val (seen, retracted, notStored, epoch, terms) =
            graft.operators.DfStore.retract(spark, qualified(tableName),
              () => dirOf(in), sourceDir, whereSql, unit)
          Seq(row(seen, retracted, notStored, epoch, terms,
            generations(spark, in)))
        }),

      "retract_doc_freqs_stream" -> new Proc(
        "retract_doc_freqs_stream",
        "retract documents from a STREAM-maintained df store (the " +
          "directory a StreamingDfUpdate maintainer writes — stream " +
          "stores are path-addressed, not catalog tables, hence " +
          "store_dir): the retraction epoch is allocated IN THE " +
          "STREAM'S OWN TAG DOMAIN (s<base>r<seq> sorts after the " +
          "newest stream epoch and before the next one), so the " +
          "stream's own consolidation folds the negative partials " +
          "correctly and the next micro-batch's re-admission rises " +
          "above the deletion marks. Same guards as retract_doc_freqs " +
          "(unit pin, duplicate slice, content-hash drift, " +
          "sufficiency) plus a batch-maintained-store refusal. Runs " +
          "under the maintenance lease — a live micro-batch serializes " +
          "with it; retract only from a quiesced stream whose last " +
          "epoch committed (a retraction over an uncommitted attempt " +
          "makes that epoch's replay refuse). Empty tag in the receipt " +
          "means nothing matched (no write)",
        Array(
          p("store_dir", StringType,
            comment = "the stream-maintained df store's directory"),
          p("source_dir", StringType,
            comment = "directory holding the removed docs' (doc_id, " +
              "text) rows — corpus or takedown payload"),
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate selecting the docs to retract"),
          p("unit", StringType, Some("'term'"),
            comment = "must match the store's pinned unit")),
        StructType(Seq(
          StructField("docsInSlice", LongType, nullable = false),
          StructField("retracted", LongType, nullable = false),
          StructField("notStored", LongType, nullable = false),
          StructField("retractionTag", StringType, nullable = false),
          StructField("terms", LongType, nullable = false),
          StructField("generations", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'store_dir' is required")
          require(!in.isNullAt(1), "argument 'source_dir' is required")
          val storeDir = in.getUTF8String(0).toString
          val sourceDir = in.getUTF8String(1).toString
          val whereSql = if (in.isNullAt(2)) "true" else in.getUTF8String(2).toString
          val unit = if (in.isNullAt(3)) "term" else in.getUTF8String(3).toString
          val storage = graft.sources.sstable.Storage.forPath(
            storeDir, spark.sessionState.newHadoopConf())
          val (seen, retracted, notStored, rtag, terms) =
            graft.operators.DfStore.retractStream(spark, storeDir,
              sourceDir, whereSql, unit, storage)
          Seq(row(seen, retracted, notStored, utf8(rtag), terms,
            storage.listDataFiles(storeDir).length))
        }),

      "takedown" -> new Proc(
        "takedown",
        "cross-store takedown orchestration: record the removal in the " +
          "persistent takedown ledger, then drive retract_doc_freqs + " +
          "retract_signatures + retract_ann_vectors for one id predicate " +
          "in one CALL, returning ONE receipt (a row per (store, " +
          "table)). The predicate is written over doc_id; the ANN legs " +
          "see the same ids under the doc_id alias of their vec_id " +
          "relation. Each leg runs under its own store's maintenance " +
          "lease and is IDEMPOTENT, so crash recovery is re-issuing the " +
          "same CALL: completed legs no-op (matched=0), unfinished legs " +
          "run — the orchestration converges without tracking which leg " +
          "died; CALL takedown_status names any lagging table in " +
          "between. A corpus usually backs SEVERAL stores per kind: the " +
          "plural args (df_tables/sig_tables/ann_tables) add more legs " +
          "of the same kind, merged with the scalar form. LIST-FREE " +
          "MODE (round 18): with NO store args at all, the takedown " +
          "spans EVERY store the maintainer CALLs self-registered for " +
          "this corpus in the warehouse's derived-store registry (CALL " +
          "derived_stores lists it) — the omission-proof form: no " +
          "table list to forget, a dropped store surfaces as a " +
          "'missing' receipt row. source_dir " +
          "is wherever the removed docs' (doc_id, text) rows can be " +
          "read NOW — the pinned corpus, or the takedown request's own " +
          "payload for docs already deleted from the corpus (the df " +
          "legs' content-hash guard verifies either). The corpus table " +
          "is an OPT-IN final leg (corpus_table): its matching rows are " +
          "DELETEd LAST, after the df legs have read their text. " +
          "Without it, delete corpus rows by their own mechanics before " +
          "or after — every leg tolerates the doc being already gone. " +
          "DURABILITY: the ledger makes the removal survive rebuilds — " +
          "update_doc_freqs/update_signatures/build_ann_index/" +
          "update_ann_index refuse an ingest slice still containing " +
          "ledgered ids; CALL readmit is the explicit override",
        Array(
          // required parameters lead (Spark rejects a required param
          // after an optional one); every call site binds by name
          p("source_dir", StringType,
            comment = "directory holding the removed docs' (doc_id, " +
              "text) rows — corpus or takedown payload"),
          p("where", StringType,
            comment = "SQL predicate over doc_id selecting the docs to " +
              "remove, e.g. 'doc_id % 5 = 2'"),
          p("sig_table", StringType, Some("NULL"),
            comment = "catalog-relative signature store name; at least " +
              "one of sig_table / sig_tables is required — unless NO " +
              "store args are passed at all (the list-free " +
              "registry-spanning mode)"),
          p("ann_table", StringType, Some("NULL"),
            comment = "catalog-relative ANN index name; at least one " +
              "of ann_table / ann_tables is required — unless list-free"),
          p("df_table", StringType, Some("NULL"),
            comment = "catalog-relative df store name, e.g. 'ns.df' — " +
              "at most one of df_table / df_stream_dir; at least one " +
              "df leg overall (df_tables adds more batch stores and " +
              "composes with either)"),
          p("df_stream_dir", StringType, Some("NULL"),
            comment = "a STREAM-maintained df store's directory — the " +
              "df leg then retracts in the stream's own epoch-tag " +
              "domain (retract_doc_freqs_stream), so one takedown " +
              "spans live-stream pipelines too"),
          p("unit", StringType, Some("'term'"),
            comment = "must match the df stores' pinned unit"),
          p("corpus_table", StringType, Some("NULL"),
            comment = "OPTIONAL final leg: a catalog-relative corpus " +
              "table whose matching rows are DELETEd — run LAST (the df " +
              "legs read the removed docs' text from source_dir, often " +
              "the corpus itself). Absent = corpora are deleted by " +
              "their own owners' mechanics"),
          p("corpus_where", StringType, Some("NULL"),
            comment = "DELETE predicate in the corpus table's own " +
              "column terms; defaults to `where` (works when the table " +
              "exposes doc_id)"),
          p("df_tables", ArrayType(StringType), Some("NULL"),
            comment = "MORE batch df stores, e.g. array('ns.df2', " +
              "'ns.df3') — one leg and one receipt row each"),
          p("sig_tables", ArrayType(StringType), Some("NULL"),
            comment = "more signature stores"),
          p("ann_tables", ArrayType(StringType), Some("NULL"),
            comment = "more ANN indexes (per modality / embedding " +
              "version)"),
          p("corpus", StringType, Some("NULL"),
            comment = "SCOPE the ledger entries to one corpus's id " +
              "domain (round 18, for multi-corpus warehouses): " +
              "maintainers consult with their own ingest corpus, so " +
              "an UNRELATED corpus sharing id values is not refused, " +
              "and readmit scoped to it cannot clear this record. " +
              "Absent (or '*') = warehouse-global entries that refuse " +
              "the ids under every corpus — the single-corpus default; " +
              "deliberately NOT inferred from source_dir (the payload " +
              "is often detached from the corpus)")),
        StructType(Seq(
          StructField("store", StringType, nullable = false),
          StructField("matched", LongType, nullable = false),
          StructField("epoch", StringType, nullable = false),
          StructField("status", StringType, nullable = false),
          StructField("table", StringType, nullable = false))),
        (spark, in) => {
          (0 to 1).foreach(i => require(!in.isNullAt(i),
            "arguments source_dir and where are required"))
          val sigNames = (if (in.isNullAt(2)) Seq.empty
            else Seq(in.getUTF8String(2).toString)) ++ strArrayArg(in, 10)
          val annNames = (if (in.isNullAt(3)) Seq.empty
            else Seq(in.getUTF8String(3).toString)) ++ strArrayArg(in, 11)
          val dfNames = (if (in.isNullAt(4)) Seq.empty
            else Seq(in.getUTF8String(4).toString)) ++ strArrayArg(in, 9)
          val unit = if (in.isNullAt(6)) "term" else in.getUTF8String(6).toString
          val corpusTable =
            if (in.isNullAt(7)) None else Some(in.getUTF8String(7).toString)
          val corpusWhere =
            if (in.isNullAt(8)) None else Some(in.getUTF8String(8).toString)
          val corpusArg =
            if (in.isNullAt(12)) None else Some(in.getUTF8String(12).toString)
          val listFree = sigNames.isEmpty && annNames.isEmpty &&
            dfNames.isEmpty && in.isNullAt(5)
          val (dfStores, sigTables, annTables, missingLegs) =
            if (!listFree) {
              require(sigNames.nonEmpty, "at least one of sig_table / " +
                "sig_tables is required (or pass NO store args for the " +
                "list-free registry-spanning takedown)")
              require(annNames.nonEmpty, "at least one of ann_table / " +
                "ann_tables is required (or pass NO store args for the " +
                "list-free registry-spanning takedown)")
              require(in.isNullAt(4) || in.isNullAt(5),
                "df_table and df_stream_dir are mutually exclusive (a " +
                  "catalog-managed batch store vs a stream-maintained " +
                  "store directory); df_tables adds more batch stores " +
                  "and composes with either")
              require(dfNames.nonEmpty || !in.isNullAt(5),
                "at least one df leg is required: df_table, df_tables, " +
                  "or df_stream_dir (or pass NO store args for the " +
                  "list-free registry-spanning takedown)")
              (dfNames.map(n => Left((qualified(n), resolveTable(n))):
                  Either[(String, String), String]) ++
                 (if (in.isNullAt(5)) Seq.empty
                  else Seq(Right(in.getUTF8String(5).toString):
                    Either[(String, String), String])),
               sigNames.map(n => (qualified(n), resolveTable(n))),
               annNames.map(n => (qualified(n), resolveTable(n))),
               Seq.empty[graft.operators.Takedown.Leg])
            } else {
              // LIST-FREE (round 18, VERDICT r17 missing #1): no table
              // args = span EVERY store the maintainers registered for
              // this corpus. The registry is the system's memory — a
              // forgotten ANN index is a registry row, not a silent
              // re-admission vector. corpus => narrows/overrides the
              // anchor ('*' spans every registered store); default
              // anchor is source_dir (the corpus itself in the common
              // case).
              val anchor = corpusArg.getOrElse(in.getUTF8String(0).toString)
              val scope = if (anchor ==
                graft.operators.DerivedRegistry.AnyCorpus) None
                else Some(anchor)
              val entries = graft.operators.DerivedRegistry.list(
                spark, registryDir, scope)
              require(entries.nonEmpty,
                s"list-free takedown: no derived stores are registered " +
                  s"for corpus '${scope.getOrElse("<any>")}' in this " +
                  "warehouse's registry — the maintainer CALLs " +
                  "(update_doc_freqs / update_signatures / " +
                  "build_ann_index / update_ann_index) self-register on " +
                  "every run; pass explicit table args for stores " +
                  "maintained outside this catalog, or corpus => the " +
                  "directory the stores were built from")
              // a registered store whose table has since been DROPPED
              // (or whose stream dir is gone) has nothing to retract —
              // surface it as a 'missing' receipt row instead of
              // failing the whole takedown (the ledger record still
              // refuses any rebuild of it)
              val resolved: Seq[(graft.operators.DerivedRegistry.Entry,
                  Option[(String, String)])] = entries.map { e =>
                if (e.mode == "stream") {
                  val storage = graft.sources.sstable.Storage.forPath(
                    e.dir, spark.sessionState.newHadoopConf())
                  (e, if (storage.exists(e.dir)) Some((e.dir, e.dir))
                    else None)
                } else (e,
                  try Some((qualified(e.table), resolveTable(e.table)))
                  catch { case _: Exception => None })
              }
              val missing = resolved.collect { case (e, None) =>
                graft.operators.Takedown.Leg(e.kind, 0, "", "missing",
                  e.table)
              }
              def pairs(kind: String) = resolved.collect {
                case (e, Some(p)) if e.kind == kind && e.mode != "stream" => p
              }
              val dfLegs: Seq[Either[(String, String), String]] =
                resolved.collect {
                  case (e, Some(p))
                      if e.kind == graft.operators.DerivedRegistry.DocFreqs =>
                    if (e.mode == "stream") Right(p._2) else Left(p)
                }
              (dfLegs,
                pairs(graft.operators.DerivedRegistry.Signatures),
                pairs(graft.operators.DerivedRegistry.AnnVectors),
                missing)
            }
          (graft.operators.Takedown.takedown(spark,
            dfStores, sigTables, annTables,
            in.getUTF8String(0).toString, in.getUTF8String(1).toString,
            unit, corpusTable.map(qualified), corpusWhere,
            ledgerDir = Some(ledgerDir),
            ledgerScope = corpusArg) ++ missingLegs)
            .map(l => row(utf8(l.store), l.matched, utf8(l.epochTag),
              utf8(l.status), utf8(l.table)))
        }),

      "takedown_status" -> new Proc(
        "takedown_status",
        "the spanning membership audit for a takedown: for one id " +
          "predicate, report how many LIVE members each audited store " +
          "(df, signatures, ANN, and optionally the corpus table) " +
          "still has (with a bounded id sample) — after a " +
          "completed takedown every count is 0; after a crash between " +
          "legs the lagging store names itself with a non-zero count " +
          "instead of the stores silently disagreeing. LIST-FREE MODE " +
          "(round 18): with NO store args, audits EVERY store in the " +
          "warehouse's derived-store registry — no list to forget; a " +
          "dropped store reports sample='missing'. Read-only",
        Array(
          // the required param leads (Spark's required-before-optional
          // rule); every call site binds by name
          p("where", StringType,
            comment = "the takedown's id predicate, over doc_id"),
          p("sig_table", StringType, Some("NULL"),
            comment = "at least one of sig_table / sig_tables is required"),
          p("ann_table", StringType, Some("NULL"),
            comment = "at least one of ann_table / ann_tables is required"),
          p("df_table", StringType, Some("NULL"),
            comment = "catalog-relative df store — at most one of " +
              "df_table / df_stream_dir; at least one df leg overall " +
              "(df_tables adds more)"),
          p("df_stream_dir", StringType, Some("NULL"),
            comment = "a STREAM-maintained df store's directory " +
              "(membership reads are dir-based and identical)"),
          p("corpus_table", StringType, Some("NULL"),
            comment = "OPTIONAL extra row: a catalog-relative corpus " +
              "table audited with corpus_where — mirrors takedown's " +
              "opt-in corpus leg"),
          p("corpus_where", StringType, Some("NULL"),
            comment = "audit predicate in the corpus table's own " +
              "column terms; defaults to `where`"),
          p("df_tables", ArrayType(StringType), Some("NULL"),
            comment = "more batch df stores — one audit row each"),
          p("sig_tables", ArrayType(StringType), Some("NULL"),
            comment = "more signature stores"),
          p("ann_tables", ArrayType(StringType), Some("NULL"),
            comment = "more ANN indexes")),
        StructType(Seq(
          StructField("store", StringType, nullable = false),
          StructField("members", LongType, nullable = false),
          StructField("sample", StringType, nullable = false),
          StructField("table", StringType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'where' is required")
          val sigNames = (if (in.isNullAt(1)) Seq.empty
            else Seq(in.getUTF8String(1).toString)) ++ strArrayArg(in, 8)
          val annNames = (if (in.isNullAt(2)) Seq.empty
            else Seq(in.getUTF8String(2).toString)) ++ strArrayArg(in, 9)
          val dfNames = (if (in.isNullAt(3)) Seq.empty
            else Seq(in.getUTF8String(3).toString)) ++ strArrayArg(in, 7)
          val listFree = sigNames.isEmpty && annNames.isEmpty &&
            dfNames.isEmpty && in.isNullAt(4)
          val (dfDirs, sigDirs, annDirs, missingRows) =
            if (!listFree) {
              require(sigNames.nonEmpty,
                "at least one of sig_table / sig_tables is required " +
                  "(or pass NO store args to audit every registered " +
                  "store — the list-free mode)")
              require(annNames.nonEmpty,
                "at least one of ann_table / ann_tables is required " +
                  "(or pass NO store args for the list-free mode)")
              require(in.isNullAt(3) || in.isNullAt(4),
                "df_table and df_stream_dir are mutually exclusive; " +
                  "df_tables composes with either")
              require(dfNames.nonEmpty || !in.isNullAt(4),
                "at least one df leg is required: df_table, df_tables, " +
                  "or df_stream_dir (or pass NO store args for the " +
                  "list-free mode)")
              (dfNames.map(n => (qualified(n), resolveTable(n))) ++
                 (if (in.isNullAt(4)) Seq.empty
                  else { val d = in.getUTF8String(4).toString; Seq((d, d)) }),
               sigNames.map(n => (qualified(n), resolveTable(n))),
               annNames.map(n => (qualified(n), resolveTable(n))),
               Seq.empty[InternalRow])
            } else {
              // LIST-FREE (round 18): audit every registered store —
              // the spanning audit with no list to forget. A dropped
              // store reports sample='missing' (nothing to count; its
              // ledger record still guards any rebuild).
              val entries = graft.operators.DerivedRegistry.list(
                spark, registryDir, None)
              require(entries.nonEmpty,
                "list-free takedown_status: no derived stores are " +
                  s"registered in this warehouse's registry — the " +
                  "maintainer CALLs self-register on every run; pass " +
                  "explicit table args for stores maintained outside " +
                  "this catalog")
              val resolved = entries.map { e =>
                if (e.mode == "stream") {
                  val storage = graft.sources.sstable.Storage.forPath(
                    e.dir, spark.sessionState.newHadoopConf())
                  (e, if (storage.exists(e.dir)) Some((e.dir, e.dir))
                    else None)
                } else (e,
                  try Some((qualified(e.table), resolveTable(e.table)))
                  catch { case _: Exception => None })
              }
              def pairs(kind: String) = resolved.collect {
                case (e, Some(p)) if e.kind == kind => p
              }
              (pairs(graft.operators.DerivedRegistry.DocFreqs),
                pairs(graft.operators.DerivedRegistry.Signatures),
                pairs(graft.operators.DerivedRegistry.AnnVectors),
                resolved.collect { case (e, None) =>
                  row(utf8(e.kind), 0L, utf8("missing"), utf8(e.table))
                })
            }
          val stores = graft.operators.Takedown.status(spark,
            dfDirs, sigDirs, annDirs,
            in.getUTF8String(0).toString)
            .map { case (store, label, n, sample) =>
              row(utf8(store), n, utf8(sample.mkString(",")), utf8(label))
            } ++ missingRows
          // the corpus row (round 16, mirroring takedown's opt-in leg):
          // a crash BEFORE the corpus DELETE leaves rows the audit must
          // surface; no generic id column exists, so the sample is empty
          val corpus = if (in.isNullAt(5)) Seq.empty else {
            val t = qualified(in.getUTF8String(5).toString)
            val pred = if (in.isNullAt(6)) in.getUTF8String(0).toString
              else in.getUTF8String(6).toString
            Seq(row(utf8("corpus"), spark.table(t)
              .filter(org.apache.spark.sql.functions.expr(pred)).count(),
              utf8(""), utf8(t)))
          }
          stores ++ corpus
        }),

      "readmit" -> new Proc(
        "readmit",
        "the explicit takedown override (round 17): row-tombstone the " +
          "takedown-ledger entries matching the id predicate, re-opening " +
          "those ids to the ingest maintainers (update_doc_freqs / " +
          "update_signatures / build_ann_index / update_ann_index refuse " +
          "slices containing ledgered ids). Epoch-ordered: a LATER " +
          "takedown of the same ids rises above this readmission. " +
          "Idempotent — already-readmitted ids match nothing. This " +
          "clears only the LEDGER (the refusal); it does not re-ingest " +
          "anything — run the maintainers to actually re-admit",
        Array(
          p("where", StringType,
            comment = "SQL predicate over doc_id selecting ledger " +
              "entries to clear, e.g. 'doc_id % 5 = 2'"),
          p("source_dir", StringType, Some("NULL"),
            comment = "SCOPE the readmission to one corpus's entries " +
              "(round 18): only entries recorded under this corpus " +
              "are cleared — another corpus's record of the same ids, " +
              "and global entries, stay live. Absent = the global " +
              "mode: clear every scope's matching entries")),
        StructType(Seq(
          StructField("readmitted", LongType, nullable = false),
          StructField("epoch", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'where' is required")
          val (n, epoch) = graft.operators.TakedownLedger.readmit(
            spark, ledgerDir, in.getUTF8String(0).toString,
            corpus = if (in.isNullAt(1)) None
              else Some(in.getUTF8String(1).toString))
          Seq(row(n, epoch))
        }),

      "takedown_ledger" -> new Proc(
        "takedown_ledger",
        "audit the persistent takedown ledger: the live (not-readmitted) " +
          "taken-down ids with the predicate, epoch, and corpus scope " +
          "each was recorded under ('*' = a global entry). Read-only; " +
          "an absent ledger returns no rows. The result is collected to " +
          "the driver (bounded by O(taken-down ids) by design) — " +
          "max_rows caps it for audits of very large ledgers",
        Array(
          p("where", StringType, Some("'true'"),
            comment = "SQL predicate over doc_id filtering the entries"),
          p("max_rows", IntegerType, Some("0"),
            comment = "cap the returned (id-ordered) rows; 0 = all")),
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("predicate", StringType, nullable = false),
          StructField("epoch", IntegerType, nullable = false),
          StructField("src", StringType, nullable = false))),
        (spark, in) => {
          val pred = if (in.isNullAt(0)) "true"
            else in.getUTF8String(0).toString
          val dir = ledgerDir
          val storage = graft.sources.sstable.Storage.forPath(dir,
            spark.sessionState.newHadoopConf())
          if (!storage.exists(dir) || storage.listDataFiles(dir).isEmpty)
            Seq.empty
          else {
            val filtered = graft.operators.TakedownLedger.entries(spark, dir)
              .filter(org.apache.spark.sql.functions.expr(pred))
              .orderBy("doc_id", "src")
            val capped = intArg(in, 1, 0)
            (if (capped > 0) filtered.limit(capped) else filtered)
              .collect().toSeq
          }
            .map(r => row(r.getLong(0), utf8(r.getString(1)), r.getInt(2),
              utf8(if (r.isNullAt(3))
                graft.operators.TakedownLedger.GlobalScope
              else r.getString(3))))
        }),

      "derived_stores" -> new Proc(
        "derived_stores",
        "audit the warehouse's derived-store registry (round 18): every " +
          "(kind, table, dir, corpus, mode) the maintainer CALLs " +
          "self-registered — the set a list-free CALL takedown / " +
          "takedown_status spans. 'corpus' is the source directory the " +
          "store currently derives from ('*' = a stream-maintained " +
          "store, which matches every corpus); a store REBUILT over a " +
          "different corpus re-registers (LWW). Read-only; an absent " +
          "registry returns no rows",
        Array(
          p("corpus", StringType, Some("NULL"),
            comment = "restrict to stores derived from this corpus " +
              "directory (stream stores always match); absent = all")),
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("table", StringType, nullable = false),
          StructField("dir", StringType, nullable = false),
          StructField("corpus", StringType, nullable = false),
          StructField("mode", StringType, nullable = false))),
        (spark, in) => graft.operators.DerivedRegistry.list(
            spark, registryDir,
            if (in.isNullAt(0)) None else Some(in.getUTF8String(0).toString))
          .map(e => row(utf8(e.kind), utf8(e.table), utf8(e.dir),
            utf8(e.corpus), utf8(e.mode)))),

      "health" -> new Proc(
        "health",
        "the SPANNING operational-health surface (round 18): one row " +
          "per (registered store, check), spanning the same registry a " +
          "list-free takedown does — generations vs the autocompact " +
          "contract (bound 2x the pinned threshold), unfolded epoch " +
          "partials vs autoconsolidate (df), the NEWEST _health drift " +
          "sample vs the pinned drift_warn (ANN), and lease " +
          "holder/staleness (a live holder is green, a STALE one names " +
          "the dead maintainer). bound=0 rows are informational (no " +
          "pinned threshold and no override) and always ok; a dropped " +
          "registered store reports one not-ok 'present' row. All " +
          "checks are driver-side point reads (zero Spark jobs) — " +
          "poll it from the fleet dashboard. Read-only",
        Array(
          p("max_generations", IntegerType, Some("0"),
            comment = "operator-policy override for the generations " +
              "bound (0 = use 2x each store's pinned autocompact)"),
          p("max_unfolded", IntegerType, Some("0"),
            comment = "override for the df unfolded-partials bound " +
              "(0 = use 2x each store's pinned autoconsolidate)")),
        StructType(Seq(
          StructField("kind", StringType, nullable = false),
          StructField("table", StringType, nullable = false),
          StructField("check", StringType, nullable = false),
          StructField("value", LongType, nullable = false),
          StructField("bound", LongType, nullable = false),
          StructField("ok", BooleanType, nullable = false),
          StructField("detail", StringType, nullable = false))),
        (spark, in) => graft.operators.Health.report(spark, registryDir,
            e => if (e.mode == "stream") Some(e.dir)
              else try Some(resolveTable(e.table))
                catch { case _: Exception => None },
            maxGenerations = intArg(in, 0, 0),
            maxUnfolded = intArg(in, 1, 0))
          .map(c => row(utf8(c.kind), utf8(c.table), utf8(c.check),
            c.value, c.bound, c.ok, utf8(c.detail)))),

      "lookup" -> new Proc(
        "lookup",
        "point reads in pure SQL: probe each key via bloom filter -> " +
          "Summary search -> one bounded Index.db window -> one Data.db " +
          "seek per candidate generation (IO proportional to keys x " +
          "generations, never table size) and return the reconciled " +
          "(LWW-merged) row per key that exists — the SQL route to the " +
          "engine's index-nested-loop access path (Scala: " +
          "SSTableOps.lookupJoin). Keys are the table's binary keys: " +
          "CAST string keys AS BINARY at the call site. With " +
          "gc_tombstones (default) wholesale-deleted keys return nothing " +
          "(the live view); without it the merged tombstone state is " +
          "visible. Duplicate keys yield duplicate rows; NULLs match " +
          "nothing. The probe set is CALL-literal-sized, so probes run " +
          "on the driver against the (cached) 4-file metadata — no scan, " +
          "no job",
        Array(tableParam,
          p("keys", ArrayType(BinaryType),
            comment = "probe keys, e.g. array(CAST('k1' AS BINARY), ...)"),
          p("gc_tombstones", BooleanType, Some("true"))),
        SSTableSchema.schema,
        (spark, in) => {
          require(!in.isNullAt(1), "argument 'keys' is required")
          val d = dirOf(in)
          val storage = graft.sources.sstable.Storage.forPath(
            d, spark.sessionState.newHadoopConf())
          val arr = in.getArray(1)
          // explicit NULL = the default (live view), not a silent false
          val gc = if (in.isNullAt(2)) true else in.getBoolean(2)
          val prober = new graft.sources.sstable.SSTableReader
            .DirectoryProber(d, storage)
          (0 until arr.numElements()).flatMap { i =>
            if (arr.isNullAt(i)) None
            else prober.get(arr.getBinary(i), gcTombstones = gc)
              .map(r => SSTableSchema.rowToInternal(r, SSTableSchema.schema))
          }
        }),

      "undrop_table" -> new Proc(
        "undrop_table",
        "restore the most recently dropped table of this name from the " +
          "namespace's _dropped- trash (DROP TABLE renames, never deletes; " +
          "the trash survives until the staged-DDL sweep horizon, ~24h); " +
          "refuses when the live name exists",
        Array(tableParam),
        StructType(Seq(
          StructField("restoredFrom", StringType, nullable = false),
          StructField("droppedAgoMs", LongType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'table' is required")
          val tableName = in.getUTF8String(0).toString
          val (nsD, name) = resolveParent(tableName)
          val storage = graft.sources.sstable.Storage.forPath(
            nsD, spark.sessionState.newHadoopConf())
          val live = s"$nsD/$name"
          // a lease HUSK at the live name (only `_lease*` litter — the
          // shape a contender's acquire leaves when it raced the DROP's
          // removal) is not a table: clear it rather than refusing the
          // restore over a ghost. Same for a crashed swap's residue
          // (Dropped tombstone / stale Restoring pointer) — the trash
          // holds the authority it points at.
          if (graft.sources.sstable.MaintenanceLease.isLeaseHusk(
              live, storage))
            storage.deleteRecursive(live)
          if (storage.exists(live) &&
              TableState.isResidue(PointerCommit.stateOf(storage, live)) &&
              PointerCommit.residueClearable(storage, live))
            PointerCommit.clearResidue(storage, live)
          require(!storage.exists(live),
            s"table '$tableName' exists — nothing to restore over it " +
              "(DROP or RENAME the live table first; a fresh mid-restore " +
              "pointer means another undrop is running)")
          // exact-shape match `_dropped-<name>-<8 hex>`: a prefix-only
          // filter would let table 'foo' claim 'foo-bar's trash. A
          // NAMESPACE's trash (same parent space, `_namespace` marker
          // inside) is never a table-restore candidate — that is
          // undrop_namespace's job.
          val prefix = s"_dropped-$name-"
          val candidates = storage.listSubdirs(nsD, prefix).filter { p =>
            val rest = p.substring(p.lastIndexOf('/') + 1).drop(prefix.length)
            rest.length == 8 && rest.forall(c =>
              c.isDigit || (c >= 'a' && c <= 'f')) &&
              !storage.exists(s"$p/${GraftCatalog.NamespaceMarker}") &&
              // only COMPLETE copies restore: an entry without the
              // completeness marker is a crashed half-copy whose source
              // table never left the catalog (see list_trash's column)
              storage.exists(s"$p/${PointerCommit.TrashOkFile}")
          }
          val (restoredFrom, at) = restoreTableFromTrash(storage, live,
            candidates, name = tableName)
          graft.sources.sstable.History.record(storage, live, "undrop_table",
            detail = s"from=$restoredFrom")
          Seq(row(utf8(restoredFrom),
            (System.currentTimeMillis() - at): java.lang.Long))
        }),

      "maintenance_status" -> new Proc(
        "maintenance_status",
        "who holds the table's maintenance lease right now, if anyone: " +
          "one row (holder, age, fresh) when a lease file exists, none " +
          "when the table is unheld. 'fresh' applies horizon_ms " +
          "(default: the default steal horizon - pass the horizon your " +
          "maintainers actually run with if it differs) - a stale row " +
          "means the holder is presumed dead and the next maintainer " +
          "will steal. Read-only: never acquires, never renews, never " +
          "touches the file",
        Array(tableParam,
          p("horizon_ms", LongType,
            Some(graft.sources.sstable.MaintenanceLease
              .DefaultHorizonMs.toString),
            comment = "steal horizon 'fresh' is judged against")),
        StructType(Seq(
          StructField("holder", StringType, nullable = false),
          StructField("ageMs", LongType, nullable = false),
          StructField("fresh", BooleanType, nullable = false))),
        (spark, in) => {
          val d = dirOf(in)
          val storage = graft.sources.sstable.Storage.forPath(
            d, spark.sessionState.newHadoopConf())
          val leasePath =
            s"$d/${graft.sources.sstable.MaintenanceLease.LeaseFile}"
          if (!storage.exists(leasePath)) Nil
          else try {
            val holder = storage.readString(leasePath)
            val age = System.currentTimeMillis() - storage.mtime(leasePath)
            Seq(row(utf8(holder), age: java.lang.Long,
              Boolean.box(age <= longArg(in, 1,
                graft.sources.sstable.MaintenanceLease.DefaultHorizonMs))))
          } catch {
            // released between the exists and the reads: unheld now.
            // ONLY the vanished-path pair — a transient IO failure
            // (network, permissions) on a HELD lease must propagate, not
            // report "unheld" and invite a second maintainer (ADVICE r10)
            case _: java.io.FileNotFoundException |
                 _: java.nio.file.NoSuchFileException => Nil
          }
        }),

      "list_trash" -> new Proc(
        "list_trash",
        "what undrop can restore: the namespace's _dropped- trash " +
          "entries (recoverable DROPs awaiting the sweep horizon), one " +
          "row each with the original name, its kind (table/namespace) " +
          "and how long ago it was dropped. Empty namespace = the " +
          "warehouse root",
        Array(p("namespace", StringType, Some("''"),
          comment = "catalog-relative namespace to inspect; '' = root")),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("droppedAgoMs", LongType, nullable = false),
          StructField("sweepableInMs", LongType, nullable = false),
          StructField("trashEntry", StringType, nullable = false),
          // false = a crashed swap's half-copy: not restorable (its
          // source table never left the catalog), ages out normally.
          // Namespace entries predate the marker design and are whole
          // by construction (one rename): reported true.
          StructField("complete", BooleanType, nullable = false))),
        (spark, in) => {
          val ns = if (in.isNullAt(0)) "" else in.getUTF8String(0).toString
          // resolveParent validates segments and namespace existence; the
          // synthetic leaf makes it resolve the namespace ITSELF
          val (nsD, _) = resolveParent(if (ns.isEmpty) "x" else s"$ns.x")
          val storage = graft.sources.sstable.Storage.forPath(
            nsD, spark.sessionState.newHadoopConf())
          val now = System.currentTimeMillis()
          storage.listSubdirs(nsD, "_dropped-").flatMap { p =>
            val entry = p.substring(p.lastIndexOf('/') + 1)
            val body = entry.drop("_dropped-".length)
            // entries are `_dropped-<name>-<8 hex>`; anything else is
            // foreign litter — skip. A REPLACE swap's trash uses this
            // SAME shape and is deliberately listed (and undrop-able):
            // mid-REPLACE it shadows no live undrop target only because
            // undrop refuses while the live name exists, and after a
            // CRASHED replace it is exactly the restorable prior state
            // the trash design exists for (ADVICE r10: comment used to
            // claim the shape filter excluded it — it never did, by
            // design)
            val suffix = body.takeRight(9)
            if (body.length > 9 && suffix.head == '-' && suffix.tail.forall(c =>
                c.isDigit || (c >= 'a' && c <= 'f'))) {
              val kind =
                if (storage.exists(s"$p/${GraftCatalog.NamespaceMarker}"))
                  "namespace" else "table"
              try {
                val ago = now - GraftCatalog.lastAliveMs(storage, p)
                val complete = kind == "namespace" ||
                  storage.exists(s"$p/${PointerCommit.TrashOkFile}")
                // when the DEFAULT-horizon sweeps (staged DDL, default
                // vacuum_trash) would reclaim this — the undrop window
                // remaining; <= 0 means sweepable now
                Some((body.dropRight(9), kind, ago,
                  GraftCatalog.StageVacuumHorizonMs - ago, entry, complete))
              } catch {
                case _: java.io.FileNotFoundException |
                     _: java.nio.file.NoSuchFileException => None // swept mid-list
              }
            } else None
          }
          .sortBy(_._3)
          .map { case (name, kind, ago, inMs, entry, complete) =>
            row(utf8(name), utf8(kind), ago: java.lang.Long,
              inMs: java.lang.Long, utf8(entry), Boolean.box(complete)) }
        }),

      "vacuum_trash" -> new Proc(
        "vacuum_trash",
        "reclaim the namespace's _dropped- trash older than the horizon " +
          "(default: the same 24h window staged DDL sweeps on) - the " +
          "explicit route for namespaces that never run another CTAS / " +
          "REPLACE / DROP. Crashed staging litter (_stage-/_wstage-) " +
          "goes too, but ONLY past the fixed 24h liveness floor - a " +
          "short horizon can never catch a live job's staging between " +
          "heartbeats. Also clears crashed-swap residue at plain table " +
          "names (DROP tombstones; undrop/publish pointers whose " +
          "restorer is dead past the 24h liveness floor). One row per " +
          "removed entry; sweeping an entry forfeits its undrop",
        Array(p("namespace", StringType, Some("''"),
          comment = "catalog-relative namespace to sweep; '' = root"),
          p("older_than_ms", LongType,
            Some(GraftCatalog.StageVacuumHorizonMs.toString))),
        StructType(Seq(
          StructField("removed", StringType, nullable = false))),
        (spark, in) => {
          val ns = if (in.isNullAt(0)) "" else in.getUTF8String(0).toString
          val (nsD, _) = resolveParent(if (ns.isEmpty) "x" else s"$ns.x")
          val storage = graft.sources.sstable.Storage.forPath(
            nsD, spark.sessionState.newHadoopConf())
          (GraftCatalog.sweepNamespace(storage, nsD,
            longArg(in, 1, GraftCatalog.StageVacuumHorizonMs)) ++
            // the explicit route also clears crashed-swap residue at
            // plain names (Dropped tombstones; dead Restoring pointers)
            GraftCatalog.sweepResidue(storage, nsD))
            .map(e => e.substring(e.lastIndexOf('/') + 1)).sorted
            .map(e => row(utf8(e)))
        }),

      "undrop_namespace" -> new Proc(
        "undrop_namespace",
        "restore the most recently dropped NAMESPACE of this name from " +
          "its parent's _dropped- trash (DROP NAMESPACE tombstones each " +
          "table pointer-committed, then renames the shell - CASCADE " +
          "included): the shell comes back as one rename, then every " +
          "table the drop tombstoned is restored pointer-committed (each " +
          "appears whole or not at all). Refuses when the live name " +
          "exists - unless it holds unfinished restore work from a " +
          "crashed undrop_namespace, which is resumed",
        Array(p("namespace", StringType,
          comment = "catalog-relative namespace, e.g. 'ns' or 'a.b'")),
        StructType(Seq(
          StructField("restoredFrom", StringType, nullable = false),
          StructField("droppedAgoMs", LongType, nullable = false),
          StructField("tablesRestored", IntegerType, nullable = false))),
        (spark, in) => {
          require(!in.isNullAt(0), "argument 'namespace' is required")
          val nsName = in.getUTF8String(0).toString
          // resolveParent validates segments and the PARENT's existence —
          // exactly what a namespace restore needs too
          val (parentD, name) = resolveParent(nsName)
          val storage = graft.sources.sstable.Storage.forPath(
            parentD, spark.sessionState.newHadoopConf())
          val live = s"$parentD/$name"
          // resume: a prior undrop crashed between the shell rename and
          // the per-table restores — the live shell still holds marked
          // trash entries; finish them instead of refusing over our own
          // half-done work
          if (storage.exists(live) &&
              storage.exists(s"$live/${GraftCatalog.NamespaceMarker}") &&
              hasNsDropEntries(storage, live)) {
            val restored = restoreNsDropTables(storage, live)
            graft.sources.sstable.History.record(storage, parentD,
              "undrop_namespace", detail = s"$nsName resumed tables=$restored")
            Seq(row(utf8("(resumed in place)"), 0L: java.lang.Long,
              restored: Integer))
          } else {
            require(!storage.exists(live),
              s"namespace '$nsName' exists — nothing to restore over it")
            val prefix = s"_dropped-$name-"
            val candidates = storage.listSubdirs(parentD, prefix).filter { p =>
              val rest = p.substring(p.lastIndexOf('/') + 1).drop(prefix.length)
              rest.length == 8 && rest.forall(c =>
                c.isDigit || (c >= 'a' && c <= 'f')) &&
                storage.exists(s"$p/${GraftCatalog.NamespaceMarker}")
            }
            val (restoredFrom, at) = restoreFromTrash(storage, live, candidates,
              what = "namespace", name = nsName)
            val restored = restoreNsDropTables(storage, live)
            // parent-level audit: the round-trip reads back as
            // drop_namespace → undrop_namespace in `graft.<parent>.history`
            graft.sources.sstable.History.record(storage, parentD,
              "undrop_namespace", detail = s"$nsName from=$restoredFrom " +
                s"tables=$restored")
            Seq(row(utf8(restoredFrom),
              (System.currentTimeMillis() - at): java.lang.Long,
              restored: Integer))
          }
        }),

      "scrub" -> new Proc(
        "scrub",
        "validate every generation by full decode (row order, sidecar " +
          "agreement); repair => true re-writes salvageable rows and " +
          "quarantines the corrupt originals; one row per generation",
        Array(tableParam, p("repair", BooleanType, Some("false"))),
        StructType(Seq(
          StructField("file", StringType, nullable = false),
          StructField("rows", LongType, nullable = false),
          StructField("sorted", BooleanType, nullable = false),
          StructField("statsMatch", BooleanType, nullable = true),
          StructField("error", StringType, nullable = true),
          StructField("repairedTo", StringType, nullable = true),
          StructField("repairError", StringType, nullable = true)),
        ),
        (spark, in) => {
          // the report is one row per GENERATION (metadata-sized); the
          // scan itself ran distributed inside SSTableOps.scrub
          SSTableOps.scrub(spark, dirOf(in), boolArg(in, 1, default = false))
            .collect().toSeq.sortBy(_.getString(0)).map { r =>
              def strOrNull(i: Int): AnyRef =
                if (r.isNullAt(i)) null else utf8(r.getString(i))
              def boolOrNull(i: Int): AnyRef =
                if (r.isNullAt(i)) null else Boolean.box(r.getBoolean(i))
              row(utf8(r.getString(0)), r.getLong(1): java.lang.Long,
                r.getBoolean(2): java.lang.Boolean, boolOrNull(3),
                strOrNull(4), strOrNull(5), strOrNull(6))
            }
        }),

      "release_serving_caches" -> new Proc(
        "release_serving_caches",
        "drop THIS session's serving-cache entries across the whole " +
          "query library and free the storage they pinned: persisted " +
          "serving intermediates (the TF-IDF probe batch, the ANN " +
          "rerank shortlist) leave the CacheManager, trained " +
          "quantizers' and clusterings' localCheckpoint blocks are " +
          "dropped from the block manager, and fixture memos are " +
          "forgotten (their directories stay on disk; builders " +
          "recreate-over on next use). For long-lived sessions cycling " +
          "corpora — serving calls AFTER the release simply rebuild " +
          "(correctness never depends on a cache hit), at the price of " +
          "the rebuild. Caveat: result frames returned BEFORE the " +
          "release may still reference the disposed localCheckpoint " +
          "blocks (unrecoverable once dropped) and can fail on " +
          "recompute — release when the outstanding results are done " +
          "with. Pass corpus_dir to release ONE corpus's entries and " +
          "leave every other corpus's caches live",
        Array(
          p("corpus_dir", StringType, Some("NULL"),
            comment = "scope the release to this corpus directory's " +
              "entries; absent = the whole session's")),
        StructType(Seq(
          StructField("entriesReleased", LongType, nullable = false))),
        (spark, in) =>
          Seq(row(graft.operators.ServingCaches.release(spark,
            if (in.isNullAt(0)) None
            else Some(in.getUTF8String(0).toString))))),
    )
  }
}
