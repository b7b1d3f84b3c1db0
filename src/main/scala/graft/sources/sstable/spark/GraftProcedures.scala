package graft.sources.sstable.spark

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{AnnIndex, DerivedRegistry, DerivedStore, DfStore, Params, SSTableOps, ServingCaches, SignatureStore, Takedown, TakedownLedger}
import graft.sources.sstable.{History, MaintenanceLease, Storage}

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
  * Each procedure is a parameter table plus a short body: a [[Param]]
  * declares name, type, typed default and comment once, and the body
  * reads its arguments by name through [[Args]].
  *
  * The `table` argument is a catalog-relative name (`ns.t`, nested
  * namespaces allowed); resolution reuses the catalog's own directory
  * mapping, so CALL reaches exactly the tables SELECT can see. */
private[spark] object GraftProcedures {

  /** One IN parameter, declared once. `default` None = required (Spark
    * rejects a required parameter after an optional one, so required
    * ones lead; every call site binds by name); `Some(null)` = a SQL
    * NULL default. A defaulted parameter is optional at the call site:
    * Spark binds an omitted argument from the SQL literal rendered
    * here from the typed default. */
  private final case class Param(name: String, dt: DataType,
                                 default: Option[Any], comment: String) {
    def toSpark: ProcedureParameter = {
      var b = ProcedureParameter.in(name, dt)
      default.foreach(d => b = b.defaultValue(d match {
        case null => "NULL"
        case s: String => "'" + s.replace("'", "\\'") + "'"
        case v => v.toString
      }))
      if (comment.nonEmpty) b = b.comment(comment)
      b.build()
    }
  }

  private def req(name: String, dt: DataType, comment: String = ""): Param =
    Param(name, dt, None, comment)

  /** An optional parameter; its type follows from the typed default. */
  private def opt(name: String, default: Any, comment: String = ""): Param =
    Param(name, default match {
      case _: Int => IntegerType
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _: String => StringType
    }, Some(default), comment)

  /** An optional parameter whose default is SQL NULL. */
  private def optNull(name: String, dt: DataType, comment: String = ""): Param =
    Param(name, dt, Some(null), comment)

  /** One call's arguments, read by name. Explicit NULL means the
    * declared default, enforced here and only here: Spark fills a
    * default only when the argument is OMITTED, so an explicit NULL
    * reaches the body, where a raw positional getter would silently
    * unbox it to 0 (`vacuum_trash(older_than_ms => NULL)` would destroy
    * every undrop window in the namespace). A NULL required argument,
    * or a NULL-defaulted one read through a non-optional accessor,
    * fails with `argument 'x' is required`. */
  private final class Args(params: Seq[Param], in: InternalRow,
                           resolveTable: String => String) {
    private def raw(name: String): Any = {
      val i = params.indexWhere(_.name == name)
      require(i >= 0, s"no parameter '$name'")
      if (in.isNullAt(i)) params(i).default.getOrElse(null)
      else in.get(i, params(i).dt)
    }
    private def value(name: String): Any = {
      val v = raw(name)
      require(v != null, s"argument '$name' is required")
      v
    }
    def str(name: String): String = value(name).toString
    def strOpt(name: String): Option[String] = Option(raw(name)).map(_.toString)
    def int(name: String): Int = value(name).asInstanceOf[Int]
    def long(name: String): Long = value(name).asInstanceOf[Long]
    def double(name: String): Double = value(name).asInstanceOf[Double]
    def bool(name: String): Boolean = value(name).asInstanceOf[Boolean]
    /** A string-array argument (`name => array('a','b')`); NULL = empty. */
    def strs(name: String): Seq[String] = Option(raw(name)) match {
      case Some(a: ArrayData) => (0 until a.numElements()).map { j =>
        require(!a.isNullAt(j), "array arguments must not contain NULLs")
        a.getUTF8String(j).toString
      }
      case _ => Seq.empty
    }
    /** A binary-array argument; NULL elements are skipped. */
    def binaries(name: String): Seq[Array[Byte]] = {
      val a = value(name).asInstanceOf[ArrayData]
      (0 until a.numElements()).filterNot(a.isNullAt).map(a.getBinary)
    }
    /** The directory of the table named by the `table` argument. */
    def dir: String = resolveTable(str("table"))
  }

  /** A receipt schema from `name -> type` columns. Columns are
    * non-nullable; a name ending in `?` marks a nullable one (the
    * marker is not part of the name). */
  private def receipt(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) =>
      StructField(n.stripSuffix("?"), t, nullable = n.endsWith("?"))
    })

  /** One receipt row: Scala values boxed, strings as UTF8String, an
    * Option as its value or NULL. */
  private def row(values: Any*): InternalRow = {
    def cell(v: Any): Any = v match {
      case s: String => UTF8String.fromString(s)
      case o: Option[_] => o.map(cell).getOrElse(null)
      case x => x
    }
    new GenericInternalRow(values.map(cell).toArray)
  }

  /** A procedure: fixed parameters, fixed result schema, an eager body.
    * `bind` is identity — the parameter list is static, Spark coerces
    * the call-site arguments to the declared types. Side-effecting, so
    * never deterministic. */
  private final class Proc(
      procName: String,
      procDescription: String,
      params: Seq[Param],
      resultSchema: StructType,
      resolveTable: String => String,
      body: (SparkSession, Args) => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    private val sparkParams = params.map(_.toSpark).toArray
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = sparkParams
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val resultRows =
        body(SparkSession.active, new Args(params, input, resolveTable)).toArray
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
  private def newestCandidate(storage: Storage,
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
  private def restoreFromTrash(storage: Storage,
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
  private def restoreTableFromTrash(storage: Storage,
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

  /** `(original name, path)` of each complete, `_nsdrop`-marked trash
    * entry directly under `nsPath`. */
  private def nsDropEntries(storage: Storage,
                            nsPath: String): Seq[(String, String)] =
    storage.listSubdirs(nsPath, PointerCommit.TrashPrefix).flatMap { p =>
      PointerCommit.trashedName(p.substring(p.lastIndexOf('/') + 1))
        .filter(_ => storage.exists(s"$p/${PointerCommit.NsDropMarkFile}") &&
          storage.exists(s"$p/${PointerCommit.TrashOkFile}"))
        .map(_ -> p)
    }

  /** The trash entries under `dir` left by dropping `name`. */
  private def trashOf(storage: Storage, dir: String,
                      name: String): Seq[String] =
    storage.listSubdirs(dir, s"${PointerCommit.TrashPrefix}$name-").filter(p =>
      PointerCommit.trashedName(p.substring(p.lastIndexOf('/') + 1))
        .contains(name))

  /** Restore every `_nsdrop`-marked complete trash entry under
    * `nsPath` (nested namespaces recursed) — the tables that were LIVE
    * when the namespace drop's per-table phase tombstoned them. Entries
    * without the mark were trash BEFORE the drop and stay trash.
    * Idempotent: residue from a crashed per-table restore is cleared
    * (when its liveness rules allow), an already-live name is skipped
    * with its entry left for manual undrop_table. Returns the count. */
  private def restoreNsDropTables(storage: Storage,
                                  nsPath: String): Int = {
    var n = 0
    val marked = nsDropEntries(storage, nsPath).filter { case (_, p) =>
      !storage.exists(s"$p/${GraftCatalog.NamespaceMarker}")
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
        History.record(storage, live, "undrop_table",
          detail = s"from=$restoredFrom (undrop_namespace)")
        n += 1
      }
    }
    childNamespaces(storage, nsPath).foreach(c => n += restoreNsDropTables(storage, c))
    n
  }

  private def hasNsDropEntries(storage: Storage, nsPath: String): Boolean =
    nsDropEntries(storage, nsPath).nonEmpty ||
      childNamespaces(storage, nsPath).exists(hasNsDropEntries(storage, _))

  /** Paths of the nested namespaces directly under `nsPath`. */
  private def childNamespaces(storage: Storage, nsPath: String): Seq[String] =
    storage.listSubdirs(nsPath, "")
      .map(x => s"$nsPath/${x.substring(x.lastIndexOf('/') + 1)}")
      .filter(x => !x.substring(nsPath.length + 1).startsWith("_") &&
        storage.exists(s"$x/${GraftCatalog.NamespaceMarker}"))

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
    def proc(name: String, description: String, params: Param*)(
        resultSchema: StructType)(
        body: (SparkSession, Args) => Seq[InternalRow]): Proc =
      new Proc(name, description, params, resultSchema, resolveTable, body)
    /** The catalog's takedown-ledger directory: a reserved
      * underscore-prefixed path under the warehouse root — out of reach
      * of table DDL, consulted by every ingest maintainer below. */
    def ledgerDir: String = TakedownLedger.dirUnder(warehouseDir())
    /** The catalog's derived-store registry: maintainers self-register
      * what they build/update so a list-free takedown or audit can span
      * EVERYTHING derived from a corpus with no table list to forget.
      * Same reserved-path pattern as the ledger. */
    def registryDir: String = DerivedRegistry.dirUnder(warehouseDir())
    /** Back-quoted fully-qualified SQL name (validated by resolveTable
      * first — resolve the directory before this). */
    def qualified(tableName: String): String =
      (catalogName +: tableName.split('.').toSeq)
        .map(part => s"`$part`").mkString(".")
    /** The store named by the `table` argument as a qualified SQL name;
      * loud on a missing namespace, while the table itself may not
      * exist yet (the store CALLs create it). */
    def storeName(a: Args): String = {
      val tableName = a.str("table")
      resolveParent(tableName)
      qualified(tableName)
    }
    /** The directory of a catalog-relative namespace ('' = the
      * warehouse root): resolveParent validates segments and namespace
      * existence; the synthetic leaf makes it resolve the namespace
      * ITSELF. */
    def nsDirOf(ns: String): String =
      resolveParent(if (ns.isEmpty) "x" else s"$ns.x")._1
    /** Data generations of the `table` argument — the store CALLs'
      * receipt column (the autocompact observable). */
    def generations(spark: SparkSession, a: Args): Int = {
      val dir = a.dir
      DerivedStore.storageOf(spark, dir).listDataFiles(dir).length
    }
    /** Register the `table` argument's store as derived from `corpus`. */
    def registerStore(spark: SparkSession, a: Args, corpus: String,
                      kind: String): Unit =
      DerivedRegistry.register(spark, registryDir, corpus, kind,
        a.str("table"), a.dir)

    /** Where a registered store lives now: its receipt label and
      * directory, or None once its table was DROPPED or its stream
      * directory is gone. */
    def locate(spark: SparkSession,
               e: DerivedRegistry.Entry): Option[(String, String)] =
      if (e.mode == "stream")
        Some((e.dir, e.dir)).filter(_ =>
          DerivedStore.storageOf(spark, e.dir).exists(e.dir))
      else try Some((qualified(e.table), resolveTable(e.table)))
        catch { case _: Exception => None }

    /** One store leg of a takedown or its audit: receipt label,
      * directory, and whether the store is stream-maintained
      * (path-addressed, not a catalog table). */
    final case class StoreLeg(label: String, dir: String, stream: Boolean)
    final case class StoreLegs(df: Seq[StoreLeg], sig: Seq[StoreLeg],
                               ann: Seq[StoreLeg],
                               missing: Seq[DerivedRegistry.Entry])
    def pairs(legs: Seq[StoreLeg]): Seq[(String, String)] =
      legs.map(l => (l.label, l.dir))

    /** The store arguments `takedown` and `takedown_status` share: per
      * kind the scalar `x_table` plus the `x_tables` list, at most one of
      * `df_table` / `df_stream_dir`, at least one leg per kind. With NO
      * store argument at all, the legs are every store `registered`
      * lists (LIST-FREE mode: the registry is the system's memory — a
      * forgotten store is a registry row, not a silent re-admission
      * vector), and a registered store that is gone comes back in
      * `missing` instead of failing the whole call. `hint` names the
      * list-free mode in the refusals. */
    def storeLegs(spark: SparkSession, a: Args, hint: String)(
        registered: => Seq[DerivedRegistry.Entry]): StoreLegs = {
      def named(kind: String) =
        a.strOpt(s"${kind}_table").toSeq ++ a.strs(s"${kind}_tables")
      val (sigNames, annNames, dfNames) = (named("sig"), named("ann"), named("df"))
      val streamDir = a.strOpt("df_stream_dir")
      if (sigNames.nonEmpty || annNames.nonEmpty || dfNames.nonEmpty ||
          streamDir.nonEmpty) {
        require(sigNames.nonEmpty, "at least one of sig_table / " +
          s"sig_tables is required (or pass NO store args $hint)")
        require(annNames.nonEmpty, "at least one of ann_table / " +
          s"ann_tables is required (or pass NO store args $hint)")
        require(a.strOpt("df_table").isEmpty || streamDir.isEmpty,
          "df_table and df_stream_dir are mutually exclusive (a " +
            "catalog-managed batch store vs a stream-maintained " +
            "store directory); df_tables adds more batch stores " +
            "and composes with either")
        require(dfNames.nonEmpty || streamDir.nonEmpty,
          "at least one df leg is required: df_table, df_tables, " +
            s"or df_stream_dir (or pass NO store args $hint)")
        def table(n: String) = StoreLeg(qualified(n), resolveTable(n), stream = false)
        StoreLegs(dfNames.map(table) ++ streamDir.map(d => StoreLeg(d, d, stream = true)),
          sigNames.map(table), annNames.map(table), Nil)
      } else {
        val located = registered.map(e => e -> locate(spark, e))
        def of(kind: String) = located.collect {
          case (e, Some((label, dir))) if e.kind == kind =>
            StoreLeg(label, dir, e.mode == "stream")
        }
        StoreLegs(of(DerivedRegistry.DocFreqs), of(DerivedRegistry.Signatures),
          of(DerivedRegistry.AnnVectors), located.collect { case (e, None) => e })
      }
    }

    val table =
      req("table", StringType, "catalog-relative table name, e.g. 'ns.t'")
    val folds = receipt("folds" -> IntegerType)

    Seq(
      proc("compact",
        "size-tiered (STCS) compaction: fold every planned bucket in place; " +
          "returns the number of buckets folded",
        table, opt("min_threshold", 4), opt("max_threshold", 32),
        opt("min_size", 50L * 1024 * 1024))(folds) { (spark, a) =>
        Seq(row(SSTableOps.compactInPlace(spark, a.dir, a.int("min_threshold"),
          a.int("max_threshold"), a.long("min_size"))))
      },

      proc("compact_leveled",
        "leveled (LCS) compaction: fold adjacent sorted runs until at most " +
          "max_runs remain; returns the number of folds performed",
        table, opt("max_runs", 4), opt("max_threshold", 32))(folds) { (spark, a) =>
        Seq(row(SSTableOps.compactLeveledInPlace(spark, a.dir,
          a.int("max_runs"), a.int("max_threshold"))))
      },

      proc("compact_bucketed",
        "layout-preserving compaction for bucketed (writeBucketed) " +
          "directories: fold each hash bucket's generation chain into one " +
          "generation under the same bucket-NNNNN stem (tombstone GC is " +
          "structural within a bucket); returns the number of buckets folded",
        table, opt("min_threshold", 2), opt("parallelism", 0))(folds) { (spark, a) =>
        Seq(row(SSTableOps.compactBucketedInPlace(spark, a.dir,
          a.int("min_threshold"), a.int("parallelism"))))
      },

      proc("compact_tombstones",
        "single-generation tombstone compaction: fold isolated generations " +
          "whose sidecar tombstone ratio reaches the threshold (drops the " +
          "delete-shadow debt); returns the number of generations folded",
        table, opt("ratio_threshold", 0.2))(folds) { (spark, a) =>
        Seq(row(SSTableOps.compactTombstonesInPlace(spark, a.dir,
          a.double("ratio_threshold"))))
      },

      proc("snapshot",
        "pin the table's current published state as a named snapshot " +
          "(hardlinks; readable via VERSION AS OF / option(snapshot, tag))",
        table, req("tag", StringType))(
        receipt("path" -> StringType)) { (spark, a) =>
        val tag = a.str("tag")
        val d = a.dir
        Seq(row(SSTableOps.snapshot(d, tag, DerivedStore.storageOf(spark, d))))
      },

      proc("drop_snapshot",
        "drop a snapshot pin (bytes survive under live names / younger pins)",
        table, req("tag", StringType))(
        receipt("dropped" -> BooleanType)) { (spark, a) =>
        val tag = a.str("tag")
        val d = a.dir
        val storage = DerivedStore.storageOf(spark, d)
        val existed = storage.exists(SSTableOps.snapshotPath(d, tag))
        if (existed) SSTableOps.dropSnapshot(d, tag, storage)
        Seq(row(existed))
      },

      proc("rollback",
        "restore the table's live state to a snapshot pin (the write-side " +
          "dual of VERSION AS OF): pin filesets relink, post-pin filesets " +
          "unpublish; idempotent, quiesce writers first",
        table, req("tag", StringType))(
        receipt("restored" -> IntegerType, "removed" -> IntegerType)) { (spark, a) =>
        val tag = a.str("tag")
        val d = a.dir
        val (restored, removed) = SSTableOps.rollbackToSnapshot(d, tag,
          DerivedStore.storageOf(spark, d))
        Seq(row(restored, removed))
      },

      proc("expire_snapshots",
        "retention for snapshot pins: drop every pin older than the horizon " +
          "(pin mtime = capture time); one row per pin with its outcome. " +
          "tag_prefix scopes it (e.g. 'auto-' retires only autosnapshot's " +
          "wipe-undo pins, never user pins)",
        table, opt("older_than_ms", 7L * 24 * 3600 * 1000),
        opt("tag_prefix", ""))(
        receipt("tag" -> StringType, "status" -> StringType)) { (spark, a) =>
        val d = a.dir
        val (dropped, kept) = SSTableOps.expireSnapshots(
          d, a.long("older_than_ms"), storage = DerivedStore.storageOf(spark, d),
          tagPrefix = a.str("tag_prefix"))
        dropped.sorted.map(row(_, "dropped")) ++ kept.sorted.map(row(_, "kept"))
      },

      proc("vacuum",
        "remove stale staging directories abandoned by dead writers " +
          "(mtime older than the horizon); one row per staging dir",
        table, opt("older_than_ms", 24L * 3600 * 1000))(
        receipt("path" -> StringType, "status" -> StringType)) { (spark, a) =>
        val d = a.dir
        val (stale, live) = SSTableOps.vacuumStaging(d, a.long("older_than_ms"),
          storage = DerivedStore.storageOf(spark, d))
        stale.sorted.map(row(_, "removed")) ++ live.sorted.map(row(_, "live"))
      },

      proc("expire_history",
        "retention for the _history operation log: remove events older " +
          "than the horizon (name-parse only, no file reads); the log is " +
          "an audit trail, so expiry changes nothing about the data. " +
          "Pass 'namespace' instead of 'table' to expire a NAMESPACE's " +
          "log (where create/drop/undrop_namespace events land; '' = " +
          "the warehouse root)",
        optNull("table", StringType, "catalog-relative table name, e.g. 'ns.t'"),
        opt("older_than_ms", 90L * 24 * 3600 * 1000),
        optNull("namespace", StringType,
          "namespace whose log to expire instead; '' = root"))(
        receipt("removed" -> IntegerType, "kept" -> IntegerType)) { (spark, a) =>
        val d = a.strOpt("namespace") match {
          case Some(ns) =>
            require(a.strOpt("table").isEmpty,
              "pass either 'table' or 'namespace', not both")
            nsDirOf(ns)
          case None => a.dir
        }
        val storage = DerivedStore.storageOf(spark, d)
        // leased: rebucket exports/imports the log around its swap,
        // and retention deleting events mid-carry would abort it
        val (removed, kept) = MaintenanceLease.withLease(d, storage,
          "expire_history") { _ =>
          History.expire(storage, d, a.long("older_than_ms"))
        }
        Seq(row(removed, kept))
      },

      proc("rebucket",
        "atomically re-layout a table to a new bucket count (new_buckets " +
          "=> 0 drops the bucketed layout) via the self-referential " +
          "CREATE OR REPLACE ... AS SELECT escape hatch — the stage " +
          "materializes against the OLD table, the commit is one swap. " +
          "Refuses while snapshots pin the current layout (a time-traveled " +
          "read would mis-group keys under the new count); the read is " +
          "delete-aware, so the rewrite also folds pending deletes. " +
          "Quiesce writers first: a write racing the swap lands in the " +
          "replaced directory and is dropped with it",
        table, req("new_buckets", IntegerType,
          "target bucket count; 0 = plain (un-bucketed) layout"))(
        receipt("previousBuckets?" -> IntegerType, "buckets?" -> IntegerType,
          "rows" -> LongType)) { (spark, a) =>
        val n = a.int("new_buckets")
        val tableName = a.str("table")
        val d = a.dir
        require(n >= 0, s"new_buckets must be >= 0: $n")
        if (n > 0) SSTableSource.bucketsOf(Some(n.toString)) // CREATE's validation
        val storage = DerivedStore.storageOf(spark, d)
        // guards + audit-log capture run under a SHORT lease; the swap
        // itself is left to the REPLACE's commitStaged, which takes
        // the table lease for its pointer-committed copy+flip+migrate
        // (holding ours across it would self-refuse). The gap between
        // our release and its acquire admits one racing maintainer,
        // whose fold then either finishes (riding into trash with the
        // old state — REPLACE discards it by contract) or makes the
        // REPLACE refuse loudly at its own acquire.
        val (prev, savedLog, propsClause) =
          MaintenanceLease.withLease(d, storage, "rebucket") { _ =>
            // the ONE audited home of the relayout×time-travel guard
            // (NOTES r8 #38-2) — shared with ALTER 'buckets'
            GraftCatalog.requireNoPinsForRelayout(storage, d)
            // the swap sends the old directory's _history to trash —
            // capture the audit trail now and restore it after the
            // swap, so the append-only contract holds across the one
            // action that replaces the directory
            val savedLog = History.exportLog(storage, d)
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
        History.importLog(storage, d, savedLog)
        val rows = spark.sql(s"SELECT count(*) FROM $q").head().getLong(0)
        History.record(storage, d, "rebucket",
          detail = s"buckets=${prev.getOrElse(0)}->$n")
        Seq(row(prev, Some(n).filter(_ != 0), rows))
      },

      proc("build_ann_index",
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
        table,
        req("source_dir", StringType, "corpus directory holding embeddings.parquet"),
        opt("kind", "ivfpq", "'ivf' (coarse only), 'pq' (codebooks only), 'ivfpq'"),
        opt("k", Params.KMedK, "coarse cells"),
        opt("iters", Params.KMedIters, "coarse Lloyd iterations"),
        opt("m", Params.PqM, "PQ subspaces"),
        opt("pq_k", Params.PqK, "codes per subspace"),
        opt("pq_iters", Params.PqIters, "codebook Lloyd iterations"),
        opt("where", "true",
          "SQL predicate selecting the training slice — the " +
            "real pattern at scale: train quantizers on a sample, then " +
            "CALL update_ann_index to encode the rest against them"),
        opt("store_vectors", false,
          "covering-index mode: persist each raw vector in " +
            "its v: row so exact-rerank serving can point-read a PQ " +
            "shortlist's true vectors (the FAISS-IVFPQR/DiskANN " +
            "reorder step) instead of scanning the embedding table; " +
            "update_ann_index and streaming ingest follow the pinned " +
            "flag automatically"),
        opt("drift_warn", 0L,
          "drift-warning threshold in e4 units (e.g. 15000 " +
            "= ratio 1.5): a covering index's maintainers append a " +
            "_health drift sample at every ingest epoch; above this " +
            "threshold the ingest receipt carries a LOUD warning. 0 " +
            "(default) = samples only, no warning"))(
        receipt("kind" -> StringType, "centroids" -> LongType,
          "codebookEntries" -> LongType, "vectors" -> LongType,
          "dim" -> IntegerType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val kind = a.str("kind").toLowerCase(java.util.Locale.ROOT)
        val (cents, codebook, vecs, dim, _) = AnnIndex.build(
          spark, sourceDir, storeName(a), kind, a.int("k"), a.int("iters"),
          a.int("m"), a.int("pq_k"), a.int("pq_iters"), a.str("where"),
          storeVectors = a.bool("store_vectors"), ledgerDir = Some(ledgerDir),
          driftWarn = a.long("drift_warn"))
        registerStore(spark, a, sourceDir, DerivedRegistry.AnnVectors)
        Seq(row(kind, cents, codebook, vecs, dim))
      },

      proc("update_ann_index",
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
        table,
        req("source_dir", StringType,
          "the SAME corpus directory the index was built over"))(
        receipt("docsSeen" -> LongType, "encoded" -> LongType,
          "alreadyIndexed" -> LongType, "health" -> StringType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val (seen, encoded, skipped, health) = AnnIndex.update(spark,
          qualified(a.str("table")), a.dir, sourceDir, ledgerDir = Some(ledgerDir))
        registerStore(spark, a, sourceDir, DerivedRegistry.AnnVectors)
        Seq(row(seen, encoded, skipped, health))
      },

      proc("cover_ann_index",
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
        table,
        req("source_dir", StringType,
          "the SAME corpus directory the index was built over"))(
        receipt("covered" -> LongType, "alreadyCovering" -> BooleanType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val (covered, already) = AnnIndex.cover(spark,
          qualified(a.str("table")), a.dir, sourceDir)
        registerStore(spark, a, sourceDir, DerivedRegistry.AnnVectors)
        Seq(row(covered, already))
      },

      proc("ann_drift",
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
        table,
        optNull("source_dir", StringType,
          "corpus-IO fallback for a NON-covering index: " +
            "must equal the index's pinned source; ignored when the " +
            "index stores raw vectors"),
        opt("tolerate_missing", false,
          "fallback mode during LIVE corpus churn (round " +
            "18): index vectors the corpus no longer holds are " +
            "dropped from the statistic and counted in the receipt's " +
            "'missing' column, instead of refusing the measurement. " +
            "Default keeps the refusal (a silent drop would bias " +
            "the means invisibly)"))(
        receipt("nBuild" -> LongType, "nPost" -> LongType,
          "buildMeanSim_e4" -> LongType, "postMeanSim_e4" -> LongType,
          "buildP05Sim_e4" -> LongType, "postP05Sim_e4" -> LongType,
          "driftRatio_e4" -> LongType, "missing" -> LongType)) { (spark, a) =>
        val (nb, np, mb, mp, pb, pp, ratio, missing) = AnnIndex.drift(spark,
          qualified(a.str("table")), a.dir, a.strOpt("source_dir"),
          tolerateMissing = a.bool("tolerate_missing"))
        Seq(row(nb, np, mb, mp, pb, pp, ratio, missing))
      },

      proc("retract_ann_vectors",
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
        table,
        opt("where", "true",
          "SQL predicate over vec_id selecting the vectors " +
            "to remove, e.g. 'vec_id % 5 = 2'"))(
        receipt("retracted" -> LongType, "epoch" -> IntegerType,
          "generations" -> IntegerType)) { (spark, a) =>
        val (retracted, epoch) = AnnIndex.retractVectors(spark, storeName(a),
          a.dir, a.str("where"))
        Seq(row(retracted, epoch, generations(spark, a)))
      },

      proc("update_signatures",
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
        table,
        req("source_dir", StringType,
          "corpus directory holding documents.parquet"),
        opt("where", "true",
          "SQL predicate selecting the ingest slice, e.g. " +
            "'doc_id % 3 < 2'"),
        opt("autocompact", 8,
          "write-triggered fold threshold for a NEW store"))(
        receipt("docsSeen" -> LongType, "novel" -> LongType,
          "alreadyStored" -> LongType, "generations" -> IntegerType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val (seen, novel, skipped) = SignatureStore.update(spark, storeName(a),
          () => a.dir, sourceDir, a.str("where"), a.int("autocompact"),
          ledgerDir = Some(ledgerDir))
        registerStore(spark, a, sourceDir, DerivedRegistry.Signatures)
        Seq(row(seen, novel, skipped, generations(spark, a)))
      },

      proc("retract_signatures",
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
        table,
        opt("where", "true",
          "SQL predicate over doc_id selecting the docs to " +
            "forget, e.g. 'doc_id % 5 = 2'"))(
        receipt("retracted" -> LongType, "epoch" -> IntegerType,
          "generations" -> IntegerType)) { (spark, a) =>
        val (retracted, epoch) = SignatureStore.retract(spark, storeName(a),
          () => a.dir, a.str("where"))
        Seq(row(retracted, epoch, generations(spark, a)))
      },

      proc("update_doc_freqs",
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
        table,
        req("source_dir", StringType,
          "corpus directory holding documents.parquet"),
        opt("where", "true",
          "SQL predicate selecting the ingest slice"),
        opt("autocompact", 8,
          "write-triggered fold threshold for a NEW store"),
        opt("unit", "term",
          "counted unit: 'term' (alpha tokens — the " +
            "TF-IDF/IDF statistic) or 'para' (paragraph digests — the " +
            "boilerplate-removal statistic); pinned in _meta"),
        opt("autoconsolidate", DfStore.DefaultAutoConsolidate,
          "write-triggered consolidation bound for a NEW " +
            "store (table property): when more than this many epoch " +
            "partials have accumulated since the last fold, the " +
            "committing CALL consolidates on the store's behalf — row " +
            "width stays bounded without CALL consolidate_doc_freqs; " +
            "0 disables"))(
        receipt("docsSeen" -> LongType, "novel" -> LongType,
          "alreadyStored" -> LongType, "epoch" -> IntegerType,
          "terms" -> LongType, "generations" -> IntegerType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val (seen, novel, skipped, epoch, terms) = DfStore.update(spark,
          storeName(a), () => a.dir, sourceDir, a.str("where"),
          a.int("autocompact"), a.str("unit"), a.int("autoconsolidate"),
          ledgerDir = Some(ledgerDir))
        registerStore(spark, a, sourceDir, DerivedRegistry.DocFreqs)
        Seq(row(seen, novel, skipped, epoch, terms, generations(spark, a)))
      },

      proc("consolidate_doc_freqs",
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
        table)(
        receipt("rowsFolded" -> LongType, "partialsFolded" -> LongType,
          "coveredEpochTag" -> StringType, "generations" -> IntegerType)) { (spark, a) =>
        val dir = a.dir
        val storage = DerivedStore.storageOf(spark, dir)
        val (rows, cells, tag) = DfStore.consolidate(spark, dir, storage)
        Seq(row(rows, cells, tag, storage.listDataFiles(dir).length))
      },

      proc("audit_doc_freqs",
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
        table)(
        receipt("nDocs" -> LongType, "liveMarkers" -> LongType,
          "consistent" -> BooleanType)) { (spark, a) =>
        val n = DfStore.nDocs(spark, storeName(a))
        val live = DfStore.auditAdditivity(spark, a.dir, n, "CALL audit_doc_freqs")
        Seq(row(n, live, true))
      },

      proc("retract_doc_freqs",
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
        table,
        req("source_dir", StringType,
          "corpus directory holding documents.parquet"),
        opt("where", "true",
          "SQL predicate selecting the docs to retract, " +
            "e.g. 'doc_id % 5 = 2'"),
        opt("unit", "term",
          "must match the store's pinned unit"))(
        receipt("docsInSlice" -> LongType, "retracted" -> LongType,
          "notStored" -> LongType, "epoch" -> IntegerType,
          "terms" -> LongType, "generations" -> IntegerType)) { (spark, a) =>
        val sourceDir = a.str("source_dir")
        val (seen, retracted, notStored, epoch, terms) = DfStore.retract(spark,
          storeName(a), () => a.dir, sourceDir, a.str("where"), a.str("unit"))
        Seq(row(seen, retracted, notStored, epoch, terms, generations(spark, a)))
      },

      proc("retract_doc_freqs_stream",
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
        req("store_dir", StringType,
          "the stream-maintained df store's directory"),
        req("source_dir", StringType,
          "directory holding the removed docs' (doc_id, " +
            "text) rows — corpus or takedown payload"),
        opt("where", "true",
          "SQL predicate selecting the docs to retract"),
        opt("unit", "term",
          "must match the store's pinned unit"))(
        receipt("docsInSlice" -> LongType, "retracted" -> LongType,
          "notStored" -> LongType, "retractionTag" -> StringType,
          "terms" -> LongType, "generations" -> IntegerType)) { (spark, a) =>
        val storeDir = a.str("store_dir")
        val sourceDir = a.str("source_dir")
        val storage = DerivedStore.storageOf(spark, storeDir)
        val (seen, retracted, notStored, rtag, terms) = DfStore.retractStream(
          spark, storeDir, sourceDir, a.str("where"), a.str("unit"), storage)
        Seq(row(seen, retracted, notStored, rtag, terms,
          storage.listDataFiles(storeDir).length))
      },

      proc("takedown",
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
        req("source_dir", StringType,
          "directory holding the removed docs' (doc_id, " +
            "text) rows — corpus or takedown payload"),
        req("where", StringType,
          "SQL predicate over doc_id selecting the docs to " +
            "remove, e.g. 'doc_id % 5 = 2'"),
        optNull("sig_table", StringType,
          "catalog-relative signature store name; at least " +
            "one of sig_table / sig_tables is required — unless NO " +
            "store args are passed at all (the list-free " +
            "registry-spanning mode)"),
        optNull("ann_table", StringType,
          "catalog-relative ANN index name; at least one " +
            "of ann_table / ann_tables is required — unless list-free"),
        optNull("df_table", StringType,
          "catalog-relative df store name, e.g. 'ns.df' — " +
            "at most one of df_table / df_stream_dir; at least one " +
            "df leg overall (df_tables adds more batch stores and " +
            "composes with either)"),
        optNull("df_stream_dir", StringType,
          "a STREAM-maintained df store's directory — the " +
            "df leg then retracts in the stream's own epoch-tag " +
            "domain (retract_doc_freqs_stream), so one takedown " +
            "spans live-stream pipelines too"),
        opt("unit", "term",
          "must match the df stores' pinned unit"),
        optNull("corpus_table", StringType,
          "OPTIONAL final leg: a catalog-relative corpus " +
            "table whose matching rows are DELETEd — run LAST (the df " +
            "legs read the removed docs' text from source_dir, often " +
            "the corpus itself). Absent = corpora are deleted by " +
            "their own owners' mechanics"),
        optNull("corpus_where", StringType,
          "DELETE predicate in the corpus table's own " +
            "column terms; defaults to `where` (works when the table " +
            "exposes doc_id)"),
        optNull("df_tables", ArrayType(StringType),
          "MORE batch df stores, e.g. array('ns.df2', " +
            "'ns.df3') — one leg and one receipt row each"),
        optNull("sig_tables", ArrayType(StringType),
          "more signature stores"),
        optNull("ann_tables", ArrayType(StringType),
          "more ANN indexes (per modality / embedding " +
            "version)"),
        optNull("corpus", StringType,
          "SCOPE the ledger entries to one corpus's id " +
            "domain (round 18, for multi-corpus warehouses): " +
            "maintainers consult with their own ingest corpus, so " +
            "an UNRELATED corpus sharing id values is not refused, " +
            "and readmit scoped to it cannot clear this record. " +
            "Absent (or '*') = warehouse-global entries that refuse " +
            "the ids under every corpus — the single-corpus default; " +
            "deliberately NOT inferred from source_dir (the payload " +
            "is often detached from the corpus)"))(
        receipt("store" -> StringType, "matched" -> LongType,
          "epoch" -> StringType, "status" -> StringType,
          "table" -> StringType)) { (spark, a) =>
        val (sourceDir, where) = (a.str("source_dir"), a.str("where"))
        val corpus = a.strOpt("corpus")
        val legs = storeLegs(spark, a,
          "for the list-free registry-spanning takedown") {
          // corpus => narrows/overrides the anchor ('*' spans every
          // registered store); the default anchor is source_dir (the
          // corpus itself in the common case)
          val anchor = corpus.getOrElse(sourceDir)
          val scope = if (anchor == DerivedRegistry.AnyCorpus) None
            else Some(anchor)
          val entries = DerivedRegistry.list(spark, registryDir, scope)
          require(entries.nonEmpty,
            s"list-free takedown: no derived stores are registered " +
              s"for corpus '${scope.getOrElse("<any>")}' in this " +
              "warehouse's registry — the maintainer CALLs " +
              "(update_doc_freqs / update_signatures / " +
              "build_ann_index / update_ann_index) self-register on " +
              "every run; pass explicit table args for stores " +
              "maintained outside this catalog, or corpus => the " +
              "directory the stores were built from")
          entries
        }
        // a registered store that is gone has nothing to retract: a
        // 'missing' receipt row (its ledger record still refuses any
        // rebuild of it)
        (Takedown.takedown(spark,
          legs.df.map(l => if (l.stream) Right(l.dir) else Left((l.label, l.dir))),
          pairs(legs.sig.filterNot(_.stream)), pairs(legs.ann.filterNot(_.stream)),
          sourceDir, where, a.str("unit"), a.strOpt("corpus_table").map(qualified),
          a.strOpt("corpus_where"), ledgerDir = Some(ledgerDir),
          ledgerScope = corpus) ++
          legs.missing.map(e => Takedown.Leg(e.kind, 0, "", "missing", e.table)))
          .map(l => row(l.store, l.matched, l.epochTag, l.status, l.table))
      },

      proc("takedown_status",
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
        req("where", StringType,
          "the takedown's id predicate, over doc_id"),
        optNull("sig_table", StringType,
          "at least one of sig_table / sig_tables is required"),
        optNull("ann_table", StringType,
          "at least one of ann_table / ann_tables is required"),
        optNull("df_table", StringType,
          "catalog-relative df store — at most one of " +
            "df_table / df_stream_dir; at least one df leg overall " +
            "(df_tables adds more)"),
        optNull("df_stream_dir", StringType,
          "a STREAM-maintained df store's directory " +
            "(membership reads are dir-based and identical)"),
        optNull("corpus_table", StringType,
          "OPTIONAL extra row: a catalog-relative corpus " +
            "table audited with corpus_where — mirrors takedown's " +
            "opt-in corpus leg"),
        optNull("corpus_where", StringType,
          "audit predicate in the corpus table's own " +
            "column terms; defaults to `where`"),
        optNull("df_tables", ArrayType(StringType),
          "more batch df stores — one audit row each"),
        optNull("sig_tables", ArrayType(StringType),
          "more signature stores"),
        optNull("ann_tables", ArrayType(StringType),
          "more ANN indexes"))(
        receipt("store" -> StringType, "members" -> LongType,
          "sample" -> StringType, "table" -> StringType)) { (spark, a) =>
        val where = a.str("where")
        val legs = storeLegs(spark, a, "for the list-free mode") {
          val entries = DerivedRegistry.list(spark, registryDir, None)
          require(entries.nonEmpty,
            "list-free takedown_status: no derived stores are " +
              s"registered in this warehouse's registry — the " +
              "maintainer CALLs self-register on every run; pass " +
              "explicit table args for stores maintained outside " +
              "this catalog")
          entries
        }
        val stores = Takedown.status(spark, pairs(legs.df), pairs(legs.sig),
          pairs(legs.ann), where).map { case (store, label, n, sample) =>
            row(store, n, sample.mkString(","), label)
          }
        // a dropped store reports sample='missing' (nothing to count)
        val missing = legs.missing.map(e => row(e.kind, 0L, "missing", e.table))
        // the corpus row (mirroring takedown's opt-in leg): a crash
        // BEFORE the corpus DELETE leaves rows the audit must surface;
        // no generic id column exists, so the sample is empty
        val corpus = a.strOpt("corpus_table").map(qualified).map { t =>
          row("corpus", spark.table(t).filter(org.apache.spark.sql.functions
            .expr(a.strOpt("corpus_where").getOrElse(where))).count(), "", t)
        }
        stores ++ missing ++ corpus
      },

      proc("readmit",
        "the explicit takedown override (round 17): row-tombstone the " +
          "takedown-ledger entries matching the id predicate, re-opening " +
          "those ids to the ingest maintainers (update_doc_freqs / " +
          "update_signatures / build_ann_index / update_ann_index refuse " +
          "slices containing ledgered ids). Epoch-ordered: a LATER " +
          "takedown of the same ids rises above this readmission. " +
          "Idempotent — already-readmitted ids match nothing. This " +
          "clears only the LEDGER (the refusal); it does not re-ingest " +
          "anything — run the maintainers to actually re-admit",
        req("where", StringType,
          "SQL predicate over doc_id selecting ledger " +
            "entries to clear, e.g. 'doc_id % 5 = 2'"),
        optNull("source_dir", StringType,
          "SCOPE the readmission to one corpus's entries " +
            "(round 18): only entries recorded under this corpus " +
            "are cleared — another corpus's record of the same ids, " +
            "and global entries, stay live. Absent = the global " +
            "mode: clear every scope's matching entries"))(
        receipt("readmitted" -> LongType, "epoch" -> IntegerType)) { (spark, a) =>
        val (n, epoch) = TakedownLedger.readmit(spark, ledgerDir, a.str("where"),
          corpus = a.strOpt("source_dir"))
        Seq(row(n, epoch))
      },

      proc("takedown_ledger",
        "audit the persistent takedown ledger: the live (not-readmitted) " +
          "taken-down ids with the predicate, epoch, and corpus scope " +
          "each was recorded under ('*' = a global entry). Read-only; " +
          "an absent ledger returns no rows. The result is collected to " +
          "the driver (bounded by O(taken-down ids) by design) — " +
          "max_rows caps it for audits of very large ledgers",
        opt("where", "true",
          "SQL predicate over doc_id filtering the entries"),
        opt("max_rows", 0,
          "cap the returned (id-ordered) rows; 0 = all"))(
        receipt("doc_id" -> LongType, "predicate" -> StringType,
          "epoch" -> IntegerType, "src" -> StringType)) { (spark, a) =>
        val pred = a.str("where")
        val dir = ledgerDir
        val storage = DerivedStore.storageOf(spark, dir)
        if (!storage.exists(dir) || storage.listDataFiles(dir).isEmpty) Seq.empty
        else {
          val filtered = TakedownLedger.entries(spark, dir)
            .filter(org.apache.spark.sql.functions.expr(pred))
            .orderBy("doc_id", "src")
          val capped = a.int("max_rows")
          (if (capped > 0) filtered.limit(capped) else filtered)
            .collect().toSeq
            .map(r => row(r.getLong(0), r.getString(1), r.getInt(2),
              Option(r.getString(3)).getOrElse(TakedownLedger.GlobalScope)))
        }
      },

      proc("derived_stores",
        "audit the warehouse's derived-store registry (round 18): every " +
          "(kind, table, dir, corpus, mode) the maintainer CALLs " +
          "self-registered — the set a list-free CALL takedown / " +
          "takedown_status spans. 'corpus' is the source directory the " +
          "store currently derives from ('*' = a stream-maintained " +
          "store, which matches every corpus); a store REBUILT over a " +
          "different corpus re-registers (LWW). Read-only; an absent " +
          "registry returns no rows",
        optNull("corpus", StringType,
          "restrict to stores derived from this corpus " +
            "directory (stream stores always match); absent = all"))(
        receipt("kind" -> StringType, "table" -> StringType, "dir" -> StringType,
          "corpus" -> StringType, "mode" -> StringType)) { (spark, a) =>
        DerivedRegistry.list(spark, registryDir, a.strOpt("corpus"))
          .map(e => row(e.kind, e.table, e.dir, e.corpus, e.mode))
      },

      proc("health",
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
        opt("max_generations", 0,
          "operator-policy override for the generations " +
            "bound (0 = use 2x each store's pinned autocompact)"),
        opt("max_unfolded", 0,
          "override for the df unfolded-partials bound " +
            "(0 = use 2x each store's pinned autoconsolidate)"))(
        receipt("kind" -> StringType, "table" -> StringType,
          "check" -> StringType, "value" -> LongType, "bound" -> LongType,
          "ok" -> BooleanType, "detail" -> StringType)) { (spark, a) =>
        graft.operators.Health.report(spark, registryDir,
          e => locate(spark, e).map(_._2),
          maxGenerations = a.int("max_generations"),
          maxUnfolded = a.int("max_unfolded"))
          .map(c => row(c.kind, c.table, c.check, c.value, c.bound, c.ok, c.detail))
      },

      proc("lookup",
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
        table,
        req("keys", ArrayType(BinaryType),
          "probe keys, e.g. array(CAST('k1' AS BINARY), ...)"),
        opt("gc_tombstones", true))(SSTableSchema.schema) { (spark, a) =>
        val keys = a.binaries("keys")
        val d = a.dir
        val prober = new graft.sources.sstable.SSTableReader
          .DirectoryProber(d, DerivedStore.storageOf(spark, d))
        keys.flatMap(k => prober.get(k, gcTombstones = a.bool("gc_tombstones"))
          .map(r => SSTableSchema.rowToInternal(r, SSTableSchema.schema)))
      },

      proc("undrop_table",
        "restore the most recently dropped table of this name from the " +
          "namespace's _dropped- trash (DROP TABLE renames, never deletes; " +
          "the trash survives until the staged-DDL sweep horizon, ~24h); " +
          "refuses when the live name exists",
        table)(
        receipt("restoredFrom" -> StringType, "droppedAgoMs" -> LongType)) { (spark, a) =>
        val tableName = a.str("table")
        val (nsD, name) = resolveParent(tableName)
        val storage = DerivedStore.storageOf(spark, nsD)
        val live = s"$nsD/$name"
        // a lease HUSK at the live name (only `_lease*` litter — the
        // shape a contender's acquire leaves when it raced the DROP's
        // removal) is not a table: clear it rather than refusing the
        // restore over a ghost. Same for a crashed swap's residue
        // (Dropped tombstone / stale Restoring pointer) — the trash
        // holds the authority it points at.
        if (MaintenanceLease.isLeaseHusk(live, storage))
          storage.deleteRecursive(live)
        if (storage.exists(live) &&
            TableState.isResidue(PointerCommit.stateOf(storage, live)) &&
            PointerCommit.residueClearable(storage, live))
          PointerCommit.clearResidue(storage, live)
        require(!storage.exists(live),
          s"table '$tableName' exists — nothing to restore over it " +
            "(DROP or RENAME the live table first; a fresh mid-restore " +
            "pointer means another undrop is running)")
        // exact-shape match: a NAMESPACE's trash (same parent space,
        // `_namespace` marker inside) is never a table-restore candidate
        // — that is undrop_namespace's job — and only COMPLETE copies
        // restore: an entry without the completeness marker is a crashed
        // half-copy whose source table never left the catalog (see
        // list_trash's column)
        val candidates = trashOf(storage, nsD, name).filter(p =>
          !storage.exists(s"$p/${GraftCatalog.NamespaceMarker}") &&
            storage.exists(s"$p/${PointerCommit.TrashOkFile}"))
        val (restoredFrom, at) = restoreTableFromTrash(storage, live,
          candidates, name = tableName)
        History.record(storage, live, "undrop_table", detail = s"from=$restoredFrom")
        Seq(row(restoredFrom, System.currentTimeMillis() - at))
      },

      proc("maintenance_status",
        "who holds the table's maintenance lease right now, if anyone: " +
          "one row (holder, age, fresh) when a lease file exists, none " +
          "when the table is unheld. 'fresh' applies horizon_ms " +
          "(default: the default steal horizon - pass the horizon your " +
          "maintainers actually run with if it differs) - a stale row " +
          "means the holder is presumed dead and the next maintainer " +
          "will steal. Read-only: never acquires, never renews, never " +
          "touches the file",
        table,
        opt("horizon_ms", MaintenanceLease.DefaultHorizonMs,
          "steal horizon 'fresh' is judged against"))(
        receipt("holder" -> StringType, "ageMs" -> LongType,
          "fresh" -> BooleanType)) { (spark, a) =>
        val d = a.dir
        val storage = DerivedStore.storageOf(spark, d)
        val leasePath = s"$d/${MaintenanceLease.LeaseFile}"
        if (!storage.exists(leasePath)) Nil
        else try {
          val holder = storage.readString(leasePath)
          val age = System.currentTimeMillis() - storage.mtime(leasePath)
          Seq(row(holder, age, age <= a.long("horizon_ms")))
        } catch {
          // released between the exists and the reads: unheld now.
          // ONLY the vanished-path pair — a transient IO failure
          // (network, permissions) on a HELD lease must propagate, not
          // report "unheld" and invite a second maintainer
          case _: java.io.FileNotFoundException |
               _: java.nio.file.NoSuchFileException => Nil
        }
      },

      proc("list_trash",
        "what undrop can restore: the namespace's _dropped- trash " +
          "entries (recoverable DROPs awaiting the sweep horizon), one " +
          "row each with the original name, its kind (table/namespace) " +
          "and how long ago it was dropped. Empty namespace = the " +
          "warehouse root",
        opt("namespace", "",
          "catalog-relative namespace to inspect; '' = root"))(
        receipt("name" -> StringType, "kind" -> StringType,
          "droppedAgoMs" -> LongType, "sweepableInMs" -> LongType,
          "trashEntry" -> StringType,
          // false = a crashed swap's half-copy: not restorable (its
          // source table never left the catalog), ages out normally.
          // Namespace entries predate the marker design and are whole
          // by construction (one rename): reported true.
          "complete" -> BooleanType)) { (spark, a) =>
        val nsD = nsDirOf(a.str("namespace"))
        val storage = DerivedStore.storageOf(spark, nsD)
        val now = System.currentTimeMillis()
        // anything not of the trash-entry shape is foreign litter —
        // skip. A REPLACE swap's trash uses this SAME shape and is
        // deliberately listed (and undrop-able): mid-REPLACE it shadows
        // no live undrop target only because undrop refuses while the
        // live name exists, and after a CRASHED replace it is exactly
        // the restorable prior state the trash design exists for
        storage.listSubdirs(nsD, PointerCommit.TrashPrefix).flatMap { p =>
          val entry = p.substring(p.lastIndexOf('/') + 1)
          PointerCommit.trashedName(entry).flatMap { name =>
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
              Some((name, kind, ago,
                GraftCatalog.StageVacuumHorizonMs - ago, entry, complete))
            } catch {
              case _: java.io.FileNotFoundException |
                   _: java.nio.file.NoSuchFileException => None // swept mid-list
            }
          }
        }
        .sortBy(_._3)
        .map { case (name, kind, ago, inMs, entry, complete) =>
          row(name, kind, ago, inMs, entry, complete) }
      },

      proc("vacuum_trash",
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
        opt("namespace", "",
          "catalog-relative namespace to sweep; '' = root"),
        opt("older_than_ms", GraftCatalog.StageVacuumHorizonMs))(
        receipt("removed" -> StringType)) { (spark, a) =>
        val nsD = nsDirOf(a.str("namespace"))
        val storage = DerivedStore.storageOf(spark, nsD)
        (GraftCatalog.sweepNamespace(storage, nsD, a.long("older_than_ms")) ++
          // the explicit route also clears crashed-swap residue at
          // plain names (Dropped tombstones; dead Restoring pointers)
          GraftCatalog.sweepResidue(storage, nsD))
          .map(e => e.substring(e.lastIndexOf('/') + 1)).sorted
          .map(row(_))
      },

      proc("undrop_namespace",
        "restore the most recently dropped NAMESPACE of this name from " +
          "its parent's _dropped- trash (DROP NAMESPACE tombstones each " +
          "table pointer-committed, then renames the shell - CASCADE " +
          "included): the shell comes back as one rename, then every " +
          "table the drop tombstoned is restored pointer-committed (each " +
          "appears whole or not at all). Refuses when the live name " +
          "exists - unless it holds unfinished restore work from a " +
          "crashed undrop_namespace, which is resumed",
        req("namespace", StringType,
          "catalog-relative namespace, e.g. 'ns' or 'a.b'"))(
        receipt("restoredFrom" -> StringType, "droppedAgoMs" -> LongType,
          "tablesRestored" -> IntegerType)) { (spark, a) =>
        val nsName = a.str("namespace")
        // resolveParent validates segments and the PARENT's existence —
        // exactly what a namespace restore needs too
        val (parentD, name) = resolveParent(nsName)
        val storage = DerivedStore.storageOf(spark, parentD)
        val live = s"$parentD/$name"
        // resume: a prior undrop crashed between the shell rename and
        // the per-table restores — the live shell still holds marked
        // trash entries; finish them instead of refusing over our own
        // half-done work
        if (storage.exists(live) &&
            storage.exists(s"$live/${GraftCatalog.NamespaceMarker}") &&
            hasNsDropEntries(storage, live)) {
          val restored = restoreNsDropTables(storage, live)
          History.record(storage, parentD, "undrop_namespace",
            detail = s"$nsName resumed tables=$restored")
          Seq(row("(resumed in place)", 0L, restored))
        } else {
          require(!storage.exists(live),
            s"namespace '$nsName' exists — nothing to restore over it")
          val candidates = trashOf(storage, parentD, name).filter(p =>
            storage.exists(s"$p/${GraftCatalog.NamespaceMarker}"))
          val (restoredFrom, at) = restoreFromTrash(storage, live, candidates,
            what = "namespace", name = nsName)
          val restored = restoreNsDropTables(storage, live)
          // parent-level audit: the round-trip reads back as
          // drop_namespace → undrop_namespace in `graft.<parent>.history`
          History.record(storage, parentD, "undrop_namespace",
            detail = s"$nsName from=$restoredFrom tables=$restored")
          Seq(row(restoredFrom, System.currentTimeMillis() - at, restored))
        }
      },

      proc("scrub",
        "validate every generation by full decode (row order, sidecar " +
          "agreement); repair => true re-writes salvageable rows and " +
          "quarantines the corrupt originals; one row per generation",
        table, opt("repair", false))(
        receipt("file" -> StringType, "rows" -> LongType,
          "sorted" -> BooleanType, "statsMatch?" -> BooleanType,
          "error?" -> StringType, "repairedTo?" -> StringType,
          "repairError?" -> StringType)) { (spark, a) =>
        // the report is one row per GENERATION (metadata-sized); the
        // scan itself ran distributed inside SSTableOps.scrub
        SSTableOps.scrub(spark, a.dir, a.bool("repair"))
          .collect().toSeq.sortBy(_.getString(0)).map { r =>
            row(r.getString(0), r.getLong(1), r.getBoolean(2),
              Option(r.get(3)), Option(r.getString(4)),
              Option(r.getString(5)), Option(r.getString(6)))
          }
      },

      proc("release_serving_caches",
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
        optNull("corpus_dir", StringType,
          "scope the release to this corpus directory's " +
            "entries; absent = the whole session's"))(
        receipt("entriesReleased" -> LongType)) { (spark, a) =>
        Seq(row(ServingCaches.release(spark, a.strOpt("corpus_dir"))))
      },
    ).map(p => p.name() -> p).toMap
  }
}
