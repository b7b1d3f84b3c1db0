package graft.sources.sstable.spark

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.sstable.Storage

/** SQL front door for SSTable directories — a DSv2 `TableCatalog` over a
  * warehouse root, so plain SQL reaches the whole engine:
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.sstable.spark.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  * CREATE TABLE graft.ns.events;                    -- an sstable directory
  * INSERT INTO graft.ns.events SELECT ...;          -- the DSv2 sink (LWW upsert)
  * SELECT * FROM graft.ns.events WHERE key = X'..'; -- pruned scan
  * DELETE FROM graft.ns.events WHERE key = X'..';   -- tombstone append
  * DROP TABLE graft.ns.events;
  * }}}
  *
  * Layout is the obvious one — namespaces are directories under the
  * warehouse, tables are SSTable directories inside them — so every
  * existing directory (written by this sink, by `SSTableOps`, or by
  * Cassandra 1.2 itself) is queryable by path-shaped name with zero
  * registration, and everything the catalog writes remains readable by
  * the path API. The one semantic the catalog ADDS: its tables read
  * delete-aware ([[SSTableSource.ApplyDeletesOption]]) so SQL `DELETE`
  * (tombstone appends — see [[SSTableTable.deleteWhere]]) is visible to
  * SQL `SELECT`, Cassandra's merge-on-read contract. Path-API readers
  * opt in with the same option.
  *
  * The schema is the format's fixed one, so `CREATE TABLE` takes no
  * column list (or exactly the canonical columns) — like registering an
  * external table over fixed-layout files. Buckets/views stay read
  * options; `RENAME` is a directory move (atomic where the backend's
  * rename is); `ALTER` reaches only TBLPROPERTIES (tuning knobs, plus
  * `buckets` while the table is still empty).
  *
  * CTAS / `REPLACE TABLE … AS SELECT` are ATOMIC ([[StagingTableCatalog]]):
  * the query writes into a hidden `_stage-` directory next to the table
  * and commit is one rename — readers never observe a half-written or
  * dropped-but-not-yet-refilled table. */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with FunctionCatalog {
  import GraftCatalog.{NamespaceMarker, TablePropsFile}
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option 'warehouse' (spark.sql.catalog.$name.warehouse)"))
  }
  override def name(): String = catalogName

  private def storage: Storage =
    Storage.forPath(warehouse, SparkSession.active.sessionState.newHadoopConf())
  private def segOk(s: String): Boolean =
    s.nonEmpty && !s.contains('/') && !s.contains('\\') &&
      !s.startsWith("_") && !s.startsWith(".")
  private def nsDir(ns: Array[String]): String = {
    require(ns.forall(segOk), s"bad namespace: ${ns.mkString(".")}")
    (warehouse +: ns).mkString("/")
  }
  private def tableDir(ident: Identifier): String = {
    require(segOk(ident.name), s"bad table name: ${ident.name}")
    s"${nsDir(ident.namespace)}/${ident.name}"
  }
  private def dirExists(d: String): Boolean = storage.exists(d)
  /** Tables and namespaces share the directory space, so destructive
    * table DDL must not hit a namespace: a directory with visible
    * (non-underscore) SUBDIRECTORIES is a namespace — table directories
    * only ever contain generation files and `_`-prefixed internals
    * (snapshots, staging, quarantine) — and so is any directory carrying
    * the `_namespace` marker [[createNamespace]] writes (ADVICE r7: an
    * EMPTY namespace used to be indistinguishable from an empty table,
    * so `DROP TABLE` aimed at it silently deleted the namespace).
    * Marker-less empty directories (made outside the catalog) stay
    * readable as empty tables; a namespace is also protected the moment
    * it holds its first table. */
  private def isTableDir(d: String): Boolean =
    dirExists(d) && !storage.exists(s"$d/$NamespaceMarker") &&
      storage.listSubdirs(d, "")
        .map(p => p.substring(p.lastIndexOf('/') + 1)).forall(!segOk(_))

  /** Pointer-aware resolution (VERDICT r11 #3): the PHYSICAL directory
    * a reader of this table-shaped directory should scan, or None when
    * the `graft.state` pointer says it is NOT a table right now
    * (Dropped/Restoring residue — a DROP committed here, or an
    * undrop / CTAS publish is still copying content in). A Redirect
    * (committed REPLACE awaiting its migration home) resolves to the
    * stage sibling holding the complete new state. Expects
    * `isTableDir(d)` already checked. */
  private def resolveLive(d: String): Option[String] =
    resolveLiveWithProps(d).map(_._1)

  /** [[resolveLive]] plus the props read it already paid for — loadTable
    * derives its scan options from the same single `_table` read instead
    * of a second one (one GET per resolution on object stores). */
  private def resolveLiveWithProps(d: String)
      : Option[(String, Map[String, String])] = {
    val props = GraftCatalog.readTableProps(storage, d)
    TableState.of(props) match {
      case TableState.Live => Some((d, props))
      case TableState.Redirect(target, _) =>
        Some((s"${d.substring(0, d.lastIndexOf('/'))}/$target", props))
      case _ => None
    }
  }

  /** Settle a crashed REPLACE's pending migration before an operation
    * that must own the directory in place (ALTER, DROP, a second
    * REPLACE, maintenance CALLs). Reads keep working through the
    * redirect either way; this is the write-path self-heal. No-op on
    * every other state. */
  private def completeMigrationIfRedirected(d: String): Unit =
    PointerCommit.stateOf(storage, d) match {
      case TableState.Redirect(_, _) =>
        graft.sources.sstable.MaintenanceLease.withLease(d, storage,
          "finish-replace") { lease =>
          PointerCommit.completeMigration(storage,
            d.substring(0, d.lastIndexOf('/')), d, () => lease.checkHeld())
        }
      case _ => ()
    }

  /** Live-table check: a table-shaped directory whose pointer state is
    * readable (Live or Redirect). Dropped/Restoring residue is not a
    * table — SHOW TABLES may transiently list such a name after a
    * crashed swap until the next CREATE/undrop/vacuum clears it (the
    * documented cost of keeping listTables one LIST instead of one
    * props read per table), but loadTable and every DDL refuse it. */
  private def isLiveTableDir(d: String): Boolean =
    isTableDir(d) && resolveLive(d).isDefined

  // ---- TableCatalog ----

  /** DECIDED (VERDICT r12 Next #5): `SHOW TABLES` may transiently list a
    * crashed swap's residue (a `dropped:`/`restoring:` tombstone) until
    * the next CREATE/undrop/vacuum clears it. Filtering would cost one
    * `_table` props GET per listed name on every SHOW TABLES — this
    * listing stays the honest ONE LIST, and the residue name is inert:
    * loadTable and every DDL refuse it loudly, so the worst outcome is
    * a stale name in an interactive listing. Pinned in GraftCatalogSpec. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!dirExists(d)) throw new NoSuchNamespaceException(catalogName +: namespace)
    storage.listSubdirs(d, "")
      // child NAMESPACES (marker-carrying) are not tables; SHOW TABLES
      // used to list them as phantom (empty) tables
      .filter(p => !storage.exists(s"$p/$NamespaceMarker"))
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(segOk).sorted.map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val d = tableDir(ident)
    if (!isTableDir(d))
      return metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    // pointer resolution: residue (a committed DROP's tombstone, an
    // in-flight undrop) is NOT a table; a Redirect reads the complete
    // new state from the stage sibling until the migration lands it home
    val (resolved, props) = resolveLiveWithProps(d).getOrElse(
      return metadataTable(ident).getOrElse(throw new NoSuchTableException(ident)))
    new SSTableTable(Map(
      SSTableSource.PathOption -> resolved,
      SSTableSource.ApplyDeletesOption -> "true",
      // catalog tables always carry `_table` (the lifecycle pointer), so
      // the scan can refuse the empty+pointer-less removal-instant shape
      SSTableSource.CatalogManagedOption -> "true",
      // catalog writes address a TABLE IDENTITY, not a directory, so an
      // append commit racing a REPLACE/rebucket swap may follow the
      // identity into the new directory (one automatic republish) —
      // see SSTableSource.CommitRetryOption for the gates
      SSTableSource.CommitRetryOption -> "true") ++ optionsOf(props))
  }

  /** The table's persisted `_table` properties (CREATE TABLE
    * TBLPROPERTIES), mapped to source options: `buckets` becomes the
    * write-layout option (never the read-side one — SQL reads keep the
    * plain schema), writer-tuning keys pass through under their own
    * names (they ARE option names). */
  private def tableOptions(d: String): Map[String, String] =
    optionsOf(GraftCatalog.readTableProps(storage, d))

  private def optionsOf(props: Map[String, String]): Map[String, String] =
    (props - TableState.Key).map {
      case (GraftCatalog.BucketsProp, v) => SSTableSource.WriteBucketsOption -> v
      case kv => kv
    }

  /** Iceberg-style SQL metadata tables — a table name nested one level
    * under a real table resolves to that table's ops views:
    *  - `graft.ns.t.generations`: per-fileset sidecar metadata (the
    *    format's DESCRIBE DETAIL; zero Data.db IO);
    *  - `graft.ns.t.snapshots`: the pins `VERSION AS OF` can read —
    *    time-travel discovery in pure SQL;
    *  - `graft.ns.t.cells`: the flattened one-row-per-cell view,
    *    delete-aware like the table itself;
    *  - `graft.ns.t.history`: the append-only `_history` operation log
    *    (DESCRIBE HISTORY) — every commit/DML/maintenance event with
    *    its fileset diff, oldest first.
    * Unambiguous by construction: a table directory with a visible
    * subdirectory stops being a table, so a REAL table can never sit
    * under another table's name. */
  private def metadataTable(ident: Identifier): Option[Table] = {
    // namespace-grain audit log (VERDICT r10 #3): `graft.ns.history`
    // (and root-level `graft.history`) reads the NAMESPACE's `_history/`
    // — where create/drop/undrop_namespace events land. A REAL table
    // named `history` shadows this (loadTable resolves tables first),
    // the same ambiguity contract as the table-level metadata names.
    if (ident.name.toLowerCase(java.util.Locale.ROOT) == "history") {
      val ownerNs = nsDir(ident.namespace)
      val isNs = ident.namespace.isEmpty ||
        (dirExists(ownerNs) && storage.exists(s"$ownerNs/$NamespaceMarker"))
      if (isNs) return Some(new HistoryTable(ownerNs))
    }
    if (ident.namespace.isEmpty) return None
    val owner0 = tableDir(Identifier.of(
      ident.namespace.dropRight(1), ident.namespace.last))
    if (!isTableDir(owner0)) return None
    // ops views follow the pointer like the table itself (a redirecting
    // owner's history/snapshots live with the new state; residue owns
    // nothing)
    val owner = resolveLive(owner0).getOrElse(return None)
    ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case "generations" => Some(new SSTableTable(Map(
        SSTableSource.PathOption -> owner,
        SSTableSource.ViewOption -> "generations")))
      case "snapshots" => Some(new SnapshotsTable(owner))
      case "history" => Some(new HistoryTable(owner))
      case "cells" => Some(new SSTableTable(Map(
        SSTableSource.PathOption -> owner,
        SSTableSource.ViewOption -> "cells",
        SSTableSource.ApplyDeletesOption -> "true")))
      case _ => None
    }
  }

  /** SQL time travel, pin form: `SELECT ... FROM graft.ns.t VERSION AS
    * OF '<tag>'` reads the `_snapshot-<tag>/` hardlink pin that
    * [[graft.operators.SSTableOps.snapshot]] created — byte-identical to
    * the path API's `option("snapshot", tag)`. Unknown tags fail HERE,
    * at resolution, not as an empty scan. Writes/DML to a time-traveled
    * table are refused by [[SSTableTable]] (snapshots are immutable).
    *
    * CDC/diff form: `VERSION AS OF 'a..b'` reads pin b MINUS pin a (the
    * epoch diff — `sincesnapshot` + `snapshot` composed), and
    * `VERSION AS OF 'a..'` reads the LIVE state minus pin a — the SQL
    * spelling of the incremental read loop. Catalog reads are
    * delete-aware, so deleted keys net OUT of the diff (the diff
    * applies its own deletes); the delete-EVENT change feed
    * (`_change_type = 'delete'`) is the path API's `sincesnapshot`
    * without `applydeletes`. A literal pin whose tag happens to contain
    * `..` still resolves as a pin (exact match wins). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d0 = tableDir(ident)
    if (!isTableDir(d0))
      throw new NoSuchTableException(ident)
    // pins travel with the content: resolve the pointer (redirect → the
    // stage holding the new state; residue → not a table)
    val d = resolveLive(d0).getOrElse(throw new NoSuchTableException(ident))
    require(version.nonEmpty && !version.contains('/') && !version.contains('\\'),
      s"bad snapshot tag: '$version'")
    def pinExists(tag: String): Boolean =
      dirExists(s"$d/${SSTableSource.SnapshotDirPrefix}$tag")
    def requirePin(tag: String): Unit =
      require(pinExists(tag),
        s"table ${ident.toString} has no snapshot '$tag' " +
          "(SSTableOps.snapshot creates them; SSTableOps.listSnapshots lists them)")
    val base = Map(
      SSTableSource.PathOption -> d,
      SSTableSource.ApplyDeletesOption -> "true")
    if (pinExists(version)) {
      new SSTableTable(base +
        (SSTableSource.SnapshotOption -> version) ++ tableOptions(d))
    } else version.split("\\.\\.", -1) match {
      case Array(from, to) if from.nonEmpty =>
        requirePin(from)
        val upper =
          if (to.isEmpty) Map.empty
          else { requirePin(to); Map(SSTableSource.SnapshotOption -> to) }
        new SSTableTable(base +
          (SSTableSource.SinceSnapshotOption -> from) ++ upper ++ tableOptions(d))
      case _ =>
        requirePin(version) // loud unknown-tag failure with the pointer
        throw new AssertionError("unreachable")
    }
  }

  /** SQL time travel, write-time form: `SELECT ... FROM graft.ns.t
    * TIMESTAMP AS OF <t>` reconstructs the LWW state as of write
    * timestamp `t` (Spark hands us epoch MICROS — the same unit the
    * format's cell timestamps use) — byte-identical to the path API's
    * `option("asofmicros", t)`. A cut that predates the table's earliest
    * write fails loudly when every generation carries statistics to
    * prove it (a stats-less foreign generation makes pre-history
    * unprovable — the scan then just reads through the cut). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d0 = tableDir(ident)
    if (!isTableDir(d0))
      throw new NoSuchTableException(ident)
    val d = resolveLive(d0).getOrElse(throw new NoSuchTableException(ident))
    val stats = storage.listDataFiles(d)
      .map(f => new graft.sources.sstable.SSTableReader(f, storage).statistics)
    if (stats.nonEmpty && stats.forall(_.isDefined)) {
      val earliest = stats.flatten.map(_.minTimestamp).min
      require(timestamp >= earliest,
        s"timestamp $timestamp predates the earliest write ($earliest) of " +
          s"${ident.toString}; no state existed then")
    }
    new SSTableTable(Map(
      SSTableSource.PathOption -> d,
      SSTableSource.ApplyDeletesOption -> "true",
      SSTableSource.AsOfMicrosOption -> timestamp.toString) ++ tableOptions(d))
  }

  override def tableExists(ident: Identifier): Boolean =
    isLiveTableDir(tableDir(ident))

  /** Field names + types, with nullability and metadata erased at every
    * nesting level — a CTAS query's output schema carries its own
    * nullability, which must not fail the shape check. */
  private def shapeOf(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, shapeOf(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(shapeOf(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(shapeOf(m.keyType), shapeOf(m.valueType))
    case other => other
  }

  private def requireCanonicalShape(schema: StructType,
                                    partitions: Array[Transform]): Unit = {
    require(partitions.isEmpty,
      "sstable tables are key-clustered by the format; PARTITIONED BY is not supported")
    require(schema.isEmpty || shapeOf(schema) == shapeOf(SSTableSchema.schema),
      "sstable tables have the fixed schema (key BINARY, columns ARRAY<STRUCT<...>>, " +
        s"rowTombstone STRUCT<...>); omit the column list or repeat it exactly " +
        s"(got ${schema.simpleString})")
  }

  /** Reclaim a crashed swap's residue occupying `d` so its name can be
    * re-bound, or throw the caller's collision error when the occupant
    * is genuinely alive (a live table, a redirect, or an undrop still
    * inside its liveness horizon). Returns true when the name is free
    * after the call. */
  private def reclaimResidueOrFalse(d: String): Boolean = {
    if (!dirExists(d)) return true
    if (!isTableDir(d)) return false
    if (resolveLive(d).isDefined) return false
    if (!PointerCommit.residueClearable(storage, d)) return false
    PointerCommit.clearResidue(storage, d)
    true
  }

  /** The refusal a name-claiming DDL (CREATE, CTAS, RENAME target)
    * throws when [[reclaimResidueOrFalse]] said no. A live table is the
    * plain TableAlreadyExists; NON-CLEARABLE residue — a fresh
    * `restoring:` pointer, i.e. a possibly-live undrop/CTAS mid-copy —
    * gets a self-explanatory refusal instead of a silent 24 h block
    * (VERDICT r12 #4): the state, its age, when it becomes clearable,
    * and the escape hatch. Deliberately NOT TableAlreadyExists for
    * residue: `IF NOT EXISTS` must not no-op over a name that refuses
    * every read — loud beats a phantom "already exists". */
  private def nameClaimRefusal(ident: Identifier, d: String): Throwable =
    PointerCommit.stateOf(storage, d) match {
      case TableState.Restoring(src, _) =>
        val age = try math.max(0L, System.currentTimeMillis() -
          storage.mtime(s"$d/${GraftCatalog.TablePropsFile}"))
        catch { case _: Exception => 0L }
        val leftMin = math.max(0L,
          (GraftCatalog.StageVacuumHorizonMs - age) / 60000 + 1)
        new IllegalStateException(
          s"${ident.toString} is blocked by mid-restore residue " +
            s"(state: restoring from '$src', liveness stamp ${age / 1000}s " +
            "old — an undrop or CTAS publish may still be copying content " +
            "in; a crashed one looks the same until its stamp goes stale). " +
            s"The name becomes reclaimable once the stamp passes the " +
            s"${GraftCatalog.StageVacuumHorizonMs / 3600000}h liveness " +
            s"floor (~${leftMin} min from now): retry this statement then, " +
            "or run CALL <catalog>.system.vacuum_trash(namespace => '…') " +
            "after the floor to sweep the residue explicitly. A fresher " +
            "force-clear is deliberately not offered — it would destroy a " +
            "LIVE restore's half-copied content")
      case _ => new TableAlreadyExistsException(ident)
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    requireCanonicalShape(schema, partitions)
    val d = tableDir(ident)
    if (!reclaimResidueOrFalse(d))
      throw nameClaimRefusal(ident, d)
    val declared = validatedTableProps(properties)
    requireNamespaceParent(ident)
    // the claim is the CONDITIONAL pointer create (r12 review): an
    // unconditional writeTableProps here could clobber a racing CTAS
    // commit's `restoring:` pointer (its half-copied content would go
    // visible as a live table), and two racing bare CREATEs could both
    // report success — the no-overwrite `_table` create makes exactly
    // one winner. A marker-less hand-made dir stays creatable: it has
    // no `_table` to lose the race against unless someone else is
    // claiming it right now, which is the point.
    if (!PointerCommit.createState(storage, d, declared, TableState.Live))
      throw new TableAlreadyExistsException(ident)
    loadTable(ident)
  }

  /** TBLPROPERTIES validation: the allowed set is the bucketed layout
    * (`buckets`) plus the writer-tuning knobs every write path parses
    * ([[WriterTuning]]); Spark-injected bookkeeping (owner/comment) is
    * dropped; anything else — incl. LOCATION/EXTERNAL (tables live in
    * the warehouse) and a non-sstable USING provider — is refused, not
    * silently ignored. Values are validated HERE, at CREATE, so a bad
    * bucket count can never be persisted. */
  private def validatedTableProps(properties: util.Map[String, String])
      : Map[String, String] = {
    val lowered = properties.asScala.toMap.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    lowered.get(TableCatalog.PROP_PROVIDER).foreach(p =>
      require(p.equalsIgnoreCase("sstable"),
        s"graft tables are the sstable format; USING $p is not supported"))
    require(!lowered.contains(TableCatalog.PROP_LOCATION) &&
        !lowered.contains(TableCatalog.PROP_EXTERNAL),
      "graft tables live under the catalog warehouse; LOCATION/EXTERNAL are " +
        "not supported (read external directories via the path API)")
    val declared = lowered -- GraftCatalog.IgnoredCreateProps
    declared.keys.foreach(k =>
      require(GraftCatalog.AllowedTableProps.contains(k),
        s"unsupported table property '$k'; supported: " +
          GraftCatalog.AllowedTableProps.toSeq.sorted.mkString(", ")))
    // value validation — fail at CREATE, never at first INSERT
    declared.foreach { case (k, v) =>
      require(!v.exists(c => c == '\n' || c == '\r'),
        s"table property '$k' value contains a line break — the persisted " +
          "_table file is line-oriented and the table would become unloadable")
    }
    declared.get(GraftCatalog.BucketsProp)
      .foreach(v => SSTableSource.bucketsOf(Some(v)))
    SSTableSource.autoCompactOf(declared.get(SSTableSource.AutoCompactOption))
    SSTableSource.autoConsolidateOf(
      declared.get(SSTableSource.AutoConsolidateOption))
    declared.get(SSTableSource.AutoSnapshotOption).foreach(v =>
      require(v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"table property '${SSTableSource.AutoSnapshotOption}' must be " +
          s"true or false, got '$v'"))
    // every writer-tuning value must PARSE here, not at first INSERT:
    // WriterTuning.of is exactly the parse the write path runs
    try WriterTuning.of(declared)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"bad writer-tuning table property value: ${e.getMessage}", e)
    }
    declared.get(SSTableSource.LayoutOption).foreach(v =>
      require(v.equalsIgnoreCase("hash") || v.equalsIgnoreCase("range"),
        s"table property '${SSTableSource.LayoutOption}' must be 'hash' or " +
          s"'range', got '$v'"))
    require(!(declared.contains(GraftCatalog.BucketsProp) &&
        declared.get(SSTableSource.LayoutOption).exists(_.equalsIgnoreCase("range"))),
      "bucketed tables hash-route by key; 'layout=range' cannot compose with 'buckets'")
    declared
  }

  /** The parent of a new table/rename target must exist AND be a
    * namespace (self-review r8): mkdirs-ing a visible subdirectory
    * inside an existing TABLE would make that table stop resolving with
    * its data stranded — and the metadata-table names
    * (`CREATE TABLE IF NOT EXISTS graft.ns.t.generations`) actively
    * invite the mistake. */
  private def requireNamespaceParent(ident: Identifier): Unit = {
    val parent = nsDir(ident.namespace)
    if (!dirExists(parent))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace)
    require(ident.namespace.isEmpty || !isTableDir(parent),
      s"${ident.namespace.mkString(".")} is a table, not a namespace")
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` — the ONLY alterable
    * surface (the schema is the format's, fixed). Property changes are
    * re-validated as a whole exactly like CREATE, so ALTER can never
    * persist a state CREATE would refuse. The `buckets` layout is
    * physical — data on disk is hash-routed by it — so it is only
    * changeable while the table holds zero generations; afterwards the
    * path is compact/rewrite, not ALTER. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = tableDir(ident)
    if (!isLiveTableDir(d)) throw new NoSuchTableException(ident)
    // a redirecting table (committed REPLACE whose migrator crashed
    // before copying the stage home) is settled INSIDE the lease body
    // below (ADVICE r12): an unleased pre-settle here left a gap — a
    // REPLACE committing between it and the acquire put a redirect line
    // in the props the RMW read, and validation threw a misleading
    // "unsupported property" error that retrying never healed.
    // the read-modify-write below runs under the maintenance lease (r12
    // review): an unleased ALTER racing a DROP could read the pre-flip
    // props and write them back OVER the tombstone — resurrecting a
    // half-destroyed residue as a readable "table". The lease serializes
    // ALTER against every pointer-flipping swap (and against a second
    // ALTER's lost-update for free).
    graft.sources.sstable.MaintenanceLease.withLease(d, storage,
      "alter-table") { lease =>
      lease.checkHeld()
      alterUnderLease(ident, d, changes, lease)
    }
    loadTable(ident)
  }

  private def alterUnderLease(ident: Identifier, d: String,
      changes: Seq[TableChange],
      lease: graft.sources.sstable.MaintenanceLease): Unit = {
    if (!isLiveTableDir(d)) throw new NoSuchTableException(ident)
    val read = GraftCatalog.readTableProps(storage, d)
    // a REPLACE that committed in the gap between alterTable's unleased
    // settle and THIS lease's acquire leaves `graft.state: redirect` in
    // the props we just read — validating that would throw a misleading
    // "unsupported property" error that retrying never heals (ADVICE
    // r12). We hold the lease, so settle the migration here and re-read;
    // the RMW below then runs against the migrated Live props.
    val current = TableState.of(read) match {
      case TableState.Redirect(_, _) =>
        PointerCommit.completeMigration(storage,
          d.substring(0, d.lastIndexOf('/')), d, () => lease.checkHeld())
        GraftCatalog.readTableProps(storage, d)
      case _ => read
    }
    val next = changes.foldLeft(current) { (acc, change) =>
      change match {
        case s: TableChange.SetProperty =>
          acc + (s.property.toLowerCase(java.util.Locale.ROOT) -> s.value)
        case r: TableChange.RemoveProperty =>
          acc - r.property.toLowerCase(java.util.Locale.ROOT)
        case other => throw new UnsupportedOperationException(
          "sstable tables have a fixed schema; only TBLPROPERTIES are " +
            s"alterable (got ${other.getClass.getSimpleName})")
      }
    }
    val javaProps = new util.HashMap[String, String]()
    next.foreach { case (k, v) => javaProps.put(k, v) }
    val validated = validatedTableProps(javaProps)
    val bucketsChanged = validated.get(GraftCatalog.BucketsProp) !=
      current.get(GraftCatalog.BucketsProp)
    if (bucketsChanged) {
      require(storage.listDataFiles(d).isEmpty,
        "the bucketed layout is physical (data files are hash-routed by " +
          "it); 'buckets' is only alterable on an EMPTY table — rewrite " +
          "via CREATE TABLE … TBLPROPERTIES ('buckets'=…) AS SELECT, " +
          "CALL graft.system.rebucket, or TRUNCATE first")
      // snapshot pins keep OLD-layout files readable through VERSION AS
      // OF, and a time-traveled read merges the table's CURRENT buckets
      // property onto them — mis-keying every key-grouped split (review
      // r8). Empty live data is not enough; the pins must be gone too.
      GraftCatalog.requireNoPinsForRelayout(storage, d)
    }
    GraftCatalog.writeTableProps(storage, d, validated)
    if (bucketsChanged) {
      // the emptiness guard above is check-then-write (ADVICE r8): a
      // concurrent INSERT can publish a generation under the OLD layout
      // between the check and the props replace, leaving a mixed-layout
      // directory with no compaction path. Re-check after the write and
      // REVERT on violation — the racing write then stands under the
      // layout it was written with, and the ALTER fails loudly.
      if (storage.listDataFiles(d).nonEmpty) {
        GraftCatalog.writeTableProps(storage, d, current)
        throw new IllegalStateException(
          "a concurrent write published data while ALTER 'buckets' ran; " +
            s"the property change on $d was reverted — quiesce writers " +
            "and retry (or re-layout via CREATE OR REPLACE … AS SELECT)")
      }
    }
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS ----
  //
  // `CREATE TABLE … AS SELECT` (and REPLACE / CREATE OR REPLACE … AS
  // SELECT, and plain REPLACE TABLE) write the query into a hidden
  // `_stage-<name>-<uuid>` directory beside the table — invisible to
  // SHOW TABLES and identifier rules (`_` prefix) — and commit with ONE
  // rename. Readers of the old table never see a half-written result;
  // a failed query aborts by deleting the stage. REPLACE swaps through
  // a `_dropped-` trash dir and restores the original if the swap's
  // second rename fails, so the only non-atomic window is between two
  // renames inside the same directory (the backend's rename guarantees
  // apply). Aborted-driver garbage (a stranded `_stage-`) is inert,
  // swept by the next staged DDL in the namespace once older than
  // [[GraftCatalog.StageVacuumHorizonMs]], and removed wholesale by
  // DROP NAMESPACE CASCADE.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (!reclaimResidueOrFalse(tableDir(ident)))
      throw nameClaimRefusal(ident, tableDir(ident))
    stage(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!isLiveTableDir(tableDir(ident))) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replace: Boolean): StagedTable = {
    requireCanonicalShape(schema, partitions)
    val d = tableDir(ident)
    // CTAS aimed at a namespace must die at ANALYSIS, not bury it at commit
    require(!dirExists(d) || isTableDir(d),
      s"${ident.namespace.mkString(".")}.${ident.name} is a namespace, " +
        "not a table; (CREATE OR) REPLACE TABLE cannot overwrite it")
    val declared = validatedTableProps(properties)
    requireNamespaceParent(ident)
    // self-healing garbage collection: a driver killed mid-CTAS strands
    // its invisible `_stage-` (or mid-swap `_dropped-`) directory; the
    // next staged DDL in the namespace removes any sibling older than
    // the vacuum horizon. Liveness is the HEARTBEAT file a running stage
    // touches periodically (ADVICE r8: directory mtime alone goes stale
    // the moment the query's write job starts, so a CTAS legitimately
    // outliving the horizon would have its live stage swept mid-run);
    // a dead driver stops touching and ages out as before.
    // `_wstage-` is the catalog write path's swap-resilient staging
    // (outside the table directory — see SSTableBatchWrite): a crashed
    // append's scratch ages out under the same horizon
    GraftCatalog.sweepNamespace(storage, nsDir(ident.namespace))
    val stagingDir = s"${nsDir(ident.namespace)}/_stage-${ident.name}-" +
      java.util.UUID.randomUUID().toString.take(8)
    storage.mkdirs(stagingDir)
    // stamp liveness SYNCHRONOUSLY before the periodic beat (whose first
    // touch lands a full period out): on object-store backends the
    // directory mtime is synthetic (0), so an unstamped fresh stage
    // would read as infinitely old and a concurrent sibling DDL's sweep
    // could take it instantly (found by the objsim semantics audit)
    storage.create(s"$stagingDir/${GraftCatalog.StageHeartbeatFile}").close()
    // heartbeat: touch a marker at horizon/8 so a healthy long-running
    // CTAS is never mistaken for a stranded one; daemon thread, stopped
    // (and the marker removed) at commit/abort
    val heartbeat = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-stage-heartbeat-${ident.name}")
        t.setDaemon(true); t
      })
    val period = GraftCatalog.StageVacuumHorizonMs / 8
    heartbeat.scheduleAtFixedRate(() =>
      try storage.create(s"$stagingDir/${GraftCatalog.StageHeartbeatFile}").close()
      catch { case _: Exception => () }, // stage gone: commit/abort won the race
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    def stopHeartbeat(): Unit = {
      heartbeat.shutdownNow()
      heartbeat.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    // always written (r12): `_table` is the lifecycle pointer every
    // catalog-managed directory carries, props or not — a redirect-era
    // read of this stage must find it
    GraftCatalog.writeTableProps(storage, stagingDir, declared)
    val inner = new SSTableTable(Map(
      SSTableSource.PathOption -> stagingDir,
      SSTableSource.ApplyDeletesOption -> "true") ++
      declared.map {
        case (GraftCatalog.BucketsProp, v) => SSTableSource.WriteBucketsOption -> v
        case kv => kv
      })
    new GraftStagedTable(inner, ident,
      commit = () => { stopHeartbeat(); commitStaged(ident, stagingDir, replace) },
      abort = () => {
        stopHeartbeat()
        // Spark aborts the staged table whenever commit throws — and a
        // POST-commit migration failure throws deliberately. Once the
        // table's pointer redirects HERE, this stage IS the committed
        // new state: never delete it (protect on read doubt too — a
        // stranded dead stage costs one sweep entry, a deleted live
        // redirect target costs the table).
        val isCommittedState =
          try PointerCommit.stateOf(storage, tableDir(ident)) match {
            case TableState.Redirect(t, _) =>
              s"${nsDir(ident.namespace)}/$t" == stagingDir
            case _ => false
          } catch { case _: Exception => true }
        if (!isCommittedState) storage.deleteRecursive(stagingDir)
      })
  }

  /** The atomic publish, pointer-committed (VERDICT r11 #3): re-checks
    * the world (another writer may have created the table, or turned
    * the name into a namespace, while the query ran), then commits with
    * ONE atomic `_table` replace instead of a tree rename — on object
    * stores a directory rename is a long per-object copy+delete a
    * concurrent reader could observe half-done.
    *
    * REPLACE: copy the live tree to `_dropped-` trash (readers keep the
    * complete old state), flip the pointer to `redirect:<stage>` (the
    * commit — readers now resolve the complete NEW state through the
    * stage sibling), then migrate the stage home and flip back to Live.
    * The swap runs under the table's maintenance lease, so it can no
    * longer interleave with a running compaction/rollback (those used
    * to rely on the rename yanking the lease file away mid-fold).
    *
    * CREATE: publish the stage under a `restoring:` pointer created
    * CONDITIONALLY (the no-overwrite rename — one winner per name),
    * copy in, flip to Live. Readers see nothing, then the whole table.
    *
    * Every PRE-commit failure deletes the stage; a POST-commit
    * migration failure must NOT (the redirect target holds the only
    * copy of the new state) — it reports the commit landed and the
    * next DDL/maintenance on the table completes the migration. */
  private def commitStaged(ident: Identifier, stagingDir: String,
                           replace: Boolean): Unit = {
    val d = tableDir(ident)
    val nsD = nsDir(ident.namespace)
    val stageName = stagingDir.substring(stagingDir.lastIndexOf('/') + 1)
    def fail(e: Throwable): Nothing = {
      storage.deleteRecursive(stagingDir); throw e
    }
    // the committed table must not carry the stage's liveness marker
    storage.delete(s"$stagingDir/${GraftCatalog.StageHeartbeatFile}")
    val newProps = GraftCatalog.readTableProps(storage, stagingDir)
    if (!reclaimResidueOrFalse(d)) {
      if (!replace) fail(new TableAlreadyExistsException(ident))
      if (!isTableDir(d)) fail(new IllegalStateException(
        s"${ident.namespace.mkString(".")}.${ident.name} became a " +
          "namespace while the replacing query ran; aborting the REPLACE"))
      if (resolveLive(d).isEmpty) fail(new IllegalStateException(
        s"${ident.toString} is mid-restore (an undrop or publish is " +
          "copying content in); retry the REPLACE when it settles"))
      try {
        graft.sources.sstable.MaintenanceLease.withLease(d, storage,
          "replace-table") { lease =>
          // a previous REPLACE's unfinished migration settles first: the
          // trash copy below must capture the complete current state
          PointerCommit.completeMigration(storage, nsD, d, () => lease.checkHeld())
          // relayout×pin guard, re-run under THE SWAP'S OWN lease (ADVICE
          // r12): rebucket's pre-check runs under a short lease released
          // before this REPLACE acquires — a snapshot pin created in
          // that gap would escape the guard and be destroyed with the
          // replaced tree. Any REPLACE that changes the physical bucket
          // layout while pins declare intent to keep the current layout
          // reachable refuses HERE, race-free; same single audited rule
          // as ALTER 'buckets' and rebucket's fast-fail.
          if (GraftCatalog.readTableProps(storage, d).get(GraftCatalog.BucketsProp)
              != newProps.get(GraftCatalog.BucketsProp))
            GraftCatalog.requireNoPinsForRelayout(storage, d)
          val id = PointerCommit.newId()
          val trashName = s"_dropped-${ident.name}-$id"
          val trash = s"$nsD/$trashName"
          val copied = PointerCommit.copyTree(storage, d, trash)
          // stamp: the copy's content mtimes are the table's last writes,
          // possibly already past the sweep horizon — the undrop window
          // starts at the swap. `_trash-ok` (LAST) marks the copy whole:
          // a crash before it leaves an invalid half-copy the sweep ages
          // out while the live table stands untouched.
          storage.create(s"$trash/${GraftCatalog.StageHeartbeatFile}").close()
          storage.create(s"$trash/${PointerCommit.TrashOkFile}").close()
          lease.checkHeld()
          // COMMIT POINT — one atomic props replace
          PointerCommit.writeState(storage, d, newProps,
            TableState.Redirect(stageName, id))
          // racing appends: pending commit markers are swept (their
          // verify fails and consults the new state); filesets that
          // committed between the copy and the flip reach the recovery
          // copy, so durable data is never silently missing from trash
          PointerCommit.absorbRacers(storage, d, copied, Some(trash))
          PointerCommit.completeMigration(storage, nsD, d, () => lease.checkHeld())
          // a successful REPLACE discards the old state's copy (same
          // contract as the pre-pointer trash swap)
          storage.deleteRecursive(trash)
        }
      } catch {
        case e: Throwable =>
          // committed-ness is read from the DISK, not a flag: if the
          // pointer flip landed, the stage IS the table's new state and
          // must never ride fail()'s stage cleanup (a dangling redirect
          // would vaporize the committed REPLACE). When the state can't
          // be read at all, keep the stage — a false "committed" strands
          // one dir for the sweep; a false "not committed" destroys data.
          val landed =
            try PointerCommit.stateOf(storage, d) match {
              case TableState.Redirect(t, _) => t == stageName
              case TableState.Live =>
                // migration may have completed before the failure; the
                // stage is gone either way — nothing to protect
                !storage.exists(stagingDir)
              case _ => false
            } catch { case _: Exception => true }
          if (!landed) fail(e)
          throw new IllegalStateException(
            s"REPLACE of ${ident.toString} COMMITTED (readers see the new " +
              "state through its redirect pointer) but the migration home " +
              "did not finish — the next DDL or maintenance CALL on the " +
              "table completes it", e)
      }
    } else {
      val id = PointerCommit.newId()
      // conditional pointer create: of two racing CTAS commits exactly
      // one wins; the loser maps to the DDL's own exception and cleans
      // its stage instead of stranding it until the vacuum horizon
      if (!PointerCommit.createState(storage, d, newProps,
          TableState.Restoring(stageName, id)))
        fail(new TableAlreadyExistsException(ident))
      try {
        PointerCommit.copyTree(storage, stagingDir, d, excludeTable = true)
        // COMMIT POINT — readers saw no table, now they see all of it
        PointerCommit.writeState(storage, d, newProps, TableState.Live)
        storage.deleteRecursive(stagingDir)
      } catch {
        case e: Throwable =>
          // pre-commit: the restoring pointer kept readers out; clear it
          try PointerCommit.clearResidue(storage, d)
          catch { case _: Exception => () } // tombstone refuses; swept later
          fail(e)
      }
    }
  }

  /** `DROP TABLE` — the last data-destroying call to get guards
    * (VERDICT r9): after round 9 made every destructive MAINTENANCE
    * path refuse loudly, a typo'd DROP on the production directory
    * still vaporized the data, its snapshots, and its audit log in one
    * call. Now it rides the REPLACE trash machinery instead:
    *
    *  - the directory is RENAMED to a `_dropped-<name>-<uuid>` sibling
    *    (one metadata op, never a delete), restorable via
    *    `CALL graft.system.undrop_table` until the staged-DDL sweep
    *    horizon ([[GraftCatalog.StageVacuumHorizonMs]]) ages it out;
    *  - the swap takes the maintenance lease, so DROP cannot yank the
    *    directory out from under a running compaction/rollback (it
    *    refuses naming the holder), and no maintainer can start
    *    mid-swap;
    *  - live snapshot pins REFUSE the drop — pins are the operator's
    *    declared intent to keep that state reachable; `DROP TABLE …
    *    PURGE` ([[purgeTable]]) is the explicit escape.
    *
    * A write racing the swap fails loudly via its commit-integrity
    * marker (the marker rides into the trash), same as REPLACE. */
  override def dropTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = false)

  /** `DROP TABLE … PURGE`: the explicit escape hatch — immediate and
    * permanent (no trash window), allowed even under live snapshot
    * pins. Still lease-guarded: purging a table out from under a
    * running maintainer stays a loud refusal, not a race. */
  override def purgeTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = true)

  private def dropImpl(ident: Identifier, purge: Boolean,
                       nsDropMark: Boolean = false): Boolean = {
    val d = tableDir(ident)
    // a namespace (a directory holding tables) must survive DROP TABLE —
    // dropNamespace with CASCADE is the only way to remove it; a crashed
    // swap's residue is not a table either
    if (!isLiveTableDir(d)) return false
    val id = PointerCommit.newId()
    graft.sources.sstable.MaintenanceLease.withLease(d, storage,
      if (purge) "purge-table" else "drop-table") { lease =>
      lease.checkHeld() // fence: we are still the only maintainer
      // a crashed REPLACE's migration settles first: the trash copy must
      // capture the complete CURRENT state, which still lives behind the
      // redirect pointer
      PointerCommit.completeMigration(storage, nsDir(ident.namespace), d,
        () => lease.checkHeld())
      if (!purge && !nsDropMark) {
        // pin refusal checked UNDER the lease (review r11: a pre-lease
        // check left the whole acquire window for a concurrent CALL
        // snapshot to land unseen). snapshot() itself is deliberately
        // lock-free, so a pin landing after this check still rides into
        // the trash — recoverable (undrop restores pin and all), not
        // lost; the leased check closes the window a refusal CAN close.
        val pins = graft.operators.SSTableOps.listSnapshots(d, storage)
        require(pins.isEmpty,
          s"table ${ident.toString} has live snapshot pins " +
            s"(${pins.sorted.mkString(", ")}) — they declare intent to keep " +
            "that state reachable. Drop them first (CALL " +
            s"$catalogName.system.expire_snapshots / drop_snapshot) or use " +
            "DROP TABLE ... PURGE to destroy the table, pins and all")
      }
      val props = GraftCatalog.readTableProps(storage, d)
      if (purge) {
        lease.checkHeld()
        // COMMIT POINT — readers get NoSuchTable from here on, atomically
        PointerCommit.writeState(storage, d, props, TableState.Dropped(None, id))
        PointerCommit.absorbRacers(storage, d, Set.empty, None)
      } else {
        // copy-first (pointer commit, VERDICT r11 #3): the live tree
        // stays complete and readable while the trash copy builds — no
        // reader can observe the half-moved tree the old rename-based
        // swap exposed on object stores. Lease litter and commit markers
        // never ride along, so undrop can't resurrect a stale lease.
        val trashName = s"_dropped-${ident.name}-$id"
        val trash = s"${nsDir(ident.namespace)}/$trashName"
        try {
          val copied = PointerCommit.copyTree(storage, d, trash)
          // the copy's mtimes are the table's LAST WRITES — possibly past
          // the sweep horizon already. Stamp so the restore window starts
          // at the DROP.
          storage.create(s"$trash/${GraftCatalog.StageHeartbeatFile}").close()
          // recorded into the TRASH copy of the log only (an undropped
          // table's history then shows drop + restore) — a swap that fails
          // pre-commit must not leave a phantom drop event on the
          // still-live table (the verify-before-history rule, inverted).
          graft.sources.sstable.History.record(storage, trash, "drop_table",
            detail = ident.toString)
          // a namespace-cascade drop marks its entries so undrop_namespace
          // auto-restores exactly the tables that were LIVE at drop time
          // (snapshot pins ride along recoverable — cascade kept today's
          // wholesale semantics, so the per-table pin refusal is skipped)
          if (nsDropMark)
            storage.create(s"$trash/${PointerCommit.NsDropMarkFile}").close()
          // completeness marker LAST: a crash before it leaves an invalid
          // half-copy (never an undrop candidate, swept by age) while the
          // live table stands untouched
          storage.create(s"$trash/${PointerCommit.TrashOkFile}").close()
          lease.checkHeld()
          // COMMIT POINT — one atomic props replace; readers get
          // NoSuchTable while the authoritative copy sits whole in trash
          PointerCommit.writeState(storage, d, props,
            TableState.Dropped(Some(trashName), id))
          // racing appends: sweep their pending commit markers (verify
          // fails → consults the dropped state → loud refusal, no silent
          // success for files the destroy below removes) and copy any
          // fileset that committed between copy and flip into the trash
          PointerCommit.absorbRacers(storage, d, copied, Some(trash))
        } catch {
          case e: Throwable =>
            // truth-on-disk (same rule as REPLACE): if the flip never
            // landed, the table is still live and the (possibly even
            // complete) trash copy is stale garbage a later undrop could
            // restore OVER fresher data — remove it. A landed flip keeps
            // the trash: it is the only copy.
            val landed =
              try PointerCommit.stateOf(storage, d) match {
                case TableState.Dropped(Some(t), i) =>
                  t == trashName && i == id
                case _ => false
              } catch { case _: Exception => true }
            if (!landed) storage.deleteRecursive(trash)
            throw e
        }
      }
      // the destroy happens while the pointer still refuses readers; the
      // renewal stops first — a renewal straddling the removal would
      // re-create the dir as a lease husk (create makes parents)
      lease.stopRenewal()
      PointerCommit.destroyResidue(storage, d)
    }
    // lease released: remove the tombstone (id-fenced — a CREATE that
    // already reclaimed the name must not lose its `_table`), then any
    // husk a contender's acquire left while racing the removal
    PointerCommit.finalizeTombstone(storage, d, id)
    if (graft.sources.sstable.MaintenanceLease.isLeaseHusk(d, storage))
      storage.deleteRecursive(d)
    true
  }

  /** RENAME, pointer-committed: publish a copy under the new name
    * behind a conditional `restoring:` pointer, flip it Live, then
    * tombstone + destroy the old name — each name individually commits
    * with one atomic props replace, so a reader of either name sees a
    * complete state or no table, never a partial tree. The names flip
    * independently (there is no two-name atomic primitive on an object
    * store): for one instant the table is visible under BOTH names —
    * the deliberate side of the trade, since overlap of complete states
    * beats a window of partial ones. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!isLiveTableDir(from))
      throw new NoSuchTableException(oldIdent)
    if (!reclaimResidueOrFalse(to))
      throw nameClaimRefusal(newIdent, to)
    requireNamespaceParent(newIdent)
    val id = PointerCommit.newId()
    graft.sources.sstable.MaintenanceLease.withLease(from, storage,
      "rename-table") { lease =>
      PointerCommit.completeMigration(storage,
        nsDir(oldIdent.namespace), from, () => lease.checkHeld())
      val props = GraftCatalog.readTableProps(storage, from)
      if (!PointerCommit.createState(storage, to, props,
          TableState.Restoring(from.substring(from.lastIndexOf('/') + 1), id)))
        throw new TableAlreadyExistsException(newIdent)
      val copied =
        try {
          val c = PointerCommit.copyTree(storage, from, to, excludeTable = true)
          lease.checkHeld()
          PointerCommit.writeState(storage, to, props, TableState.Live) // `to` commits
          c
        } catch {
          case e: Throwable =>
            // truth-on-disk cleanup (same rule as every publisher): if
            // `to` never committed, its fresh restoring residue would
            // block the name for the liveness horizon — clear OUR claim
            // (id-checked) and rethrow; `from` is untouched and live
            val ours =
              try PointerCommit.stateOf(storage, to) match {
                case TableState.Restoring(_, i) => i == id
                case _ => false
              } catch { case _: Exception => false }
            if (ours)
              try PointerCommit.clearResidue(storage, to)
              catch { case _: Exception => () }
            throw e
        }
      PointerCommit.writeState(storage, from, props,
        TableState.Dropped(None, id)) // `from` commits (no trash: `to` IS the data)
      // racing appends against `from`: markers swept (pending verifies
      // consult the dropped state); filesets that committed between the
      // copy and the flip follow the table to its new name
      PointerCommit.absorbRacers(storage, from, copied, Some(to))
      lease.stopRenewal()
      PointerCommit.destroyResidue(storage, from)
    }
    PointerCommit.finalizeTombstone(storage, from, id)
    if (graft.sources.sstable.MaintenanceLease.isLeaseHusk(from, storage))
      storage.deleteRecursive(from)
  }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    storage.listSubdirs(warehouse, "")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(segOk).sorted.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val d = nsDir(namespace)
      if (!dirExists(d)) throw new NoSuchNamespaceException(catalogName +: namespace)
      // tables and child namespaces share the directory space; children
      // reported here are the subdirectories (a table listed as a
      // namespace is harmless — it just has no tables inside)
      storage.listSubdirs(d, "").map(p => p.substring(p.lastIndexOf('/') + 1))
        .filter(segOk).sorted.map(namespace :+ _).toArray
    }

  override def loadNamespaceMetadata(namespace: Array[String]):
      util.Map[String, String] = {
    val d = nsDir(namespace)
    if (!dirExists(d)) throw new NoSuchNamespaceException(catalogName +: namespace)
    Map("location" -> d).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    require(!dirExists(d), s"namespace already exists: ${namespace.mkString(".")}")
    // loud like createTable (ADVICE r7): a nested CREATE NAMESPACE must
    // not silently fabricate missing ancestors via mkdirs — and the
    // parent must BE a namespace (self-review r8): planting a child dir
    // + marker inside a TABLE directory would make the table stop
    // resolving (isTableDir sees a visible subdir) with its data
    // stranded behind DROP NAMESPACE CASCADE
    if (namespace.length > 1) {
      val parent = nsDir(namespace.dropRight(1))
      if (!dirExists(parent))
        throw new NoSuchNamespaceException(catalogName +: namespace.dropRight(1))
      require(!isTableDir(parent),
        s"${namespace.dropRight(1).mkString(".")} is a table, not a namespace")
    }
    storage.mkdirs(d)
    // the marker disambiguates an EMPTY namespace from an empty table so
    // destructive table DDL can refuse it (see isTableDir)
    storage.create(s"$d/$NamespaceMarker").close()
    // namespace-grain audit (VERDICT r10 #3): recorded in the PARENT's
    // log — the grain that survives the namespace itself (a dropped
    // namespace's own log rides into the trash and dies with the sweep)
    graft.sources.sstable.History.record(storage,
      d.substring(0, d.lastIndexOf('/')), "create_namespace",
      detail = namespace.mkString("."))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces have no properties")

  /** `DROP NAMESPACE` — the BULK version of the typo'd-DROP hazard
    * (one `CASCADE` used to vaporize every table, snapshot, and audit
    * log under the name in a single recursive delete). Both forms now
    * ride the trash machinery: ONE rename to a `_dropped-<name>-<uuid>`
    * sibling (heartbeat-stamped, restorable via `CALL
    * graft.system.undrop_namespace` until the sweep horizon). `CASCADE`
    * is the user's explicit acknowledgment of recursive destruction —
    * contained snapshot pins ride into the trash rather than refusing —
    * but a table under ACTIVE maintenance (a live lease) still refuses
    * loudly: recoverable-by-rename does not excuse yanking a directory
    * out from under a running compactor (its fence would abort, but the
    * pass is lost). Namespace trash and table trash share the parent's
    * `_dropped-` space; the `_namespace` marker inside keeps the two
    * undrop procedures from restoring each other's entries. */
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    require(namespace.nonEmpty, "cannot drop the catalog root")
    val d = nsDir(namespace)
    if (!dirExists(d)) return false
    if (!cascade)
      // emptiness counts only VISIBLE children: `_`-prefixed internals
      // (`_dropped-` trash from DROP TABLE, stranded `_stage-` dirs, the
      // namespace marker) are not tables and must not wedge a DROP
      // NAMESPACE of a logically empty namespace — they go with it
      require(storage.listSubdirs(d, "")
          .map(p => p.substring(p.lastIndexOf('/') + 1)).forall(!segOk(_)) &&
          storage.listDataFiles(d).isEmpty,
        s"namespace not empty: ${namespace.mkString(".")} (use CASCADE)")
    // symmetric to DROP TABLE refusing namespaces: CASCADE aimed at a
    // data-holding TABLE directory (no namespace marker) must not
    // trash-swap it as a pseudo-namespace — its trash would restore
    // only via undrop_table under a surprising name
    require(storage.exists(s"$d/$NamespaceMarker") ||
        storage.listDataFiles(d).isEmpty,
      s"${namespace.mkString(".")} is a table, not a namespace " +
        "(DROP TABLE removes it)")
    refuseActiveMaintenance(d, namespace.mkString("."))
    val parent = d.substring(0, d.lastIndexOf('/'))
    val trash = s"$parent/_dropped-${namespace.last}-" +
      java.util.UUID.randomUUID().toString.take(8)
    // the namespace-grain visibility window, closed by COMPOSITION
    // (r12): every LIVE table in the tree first goes through the
    // pointer-committed table drop into its OWN `_dropped-` entry
    // (atomic per-table vanish, marked `_nsdrop` so undrop_namespace
    // auto-restores exactly these) — after this phase the tree holds
    // only `_`-internal entries, so the shell rename below, while still
    // a per-object move on object stores, never exposes a partial
    // TABLE to any reader: a racing reader sees each table whole or
    // not at all, then an empty(-looking) namespace, then none. A
    // cascade that crashes midway re-runs losslessly: completed tables
    // are marked complete entries, the rest are still live. (Remaining
    // races, unchanged from the rename design: an undrop_table aimed
    // INTO a namespace mid-shell-move can read a half-moved trash
    // entry; quiesce restores around namespace drops.)
    if (cascade) dropTablesForNamespaceDrop(namespace)
    storage.rename(d, trash)
    // restore window starts at the DROP, not at the tree's last write
    storage.create(s"$trash/${GraftCatalog.StageHeartbeatFile}").close()
    // parent-level audit, recorded AFTER the swap (the dropImpl trade:
    // a crash in between loses the event, never fabricates one) — the
    // record that outlives the trash sweep
    graft.sources.sstable.History.record(storage, parent, "drop_namespace",
      detail = s"${namespace.mkString(".")} " +
        s"trash=${trash.substring(trash.lastIndexOf('/') + 1)}")
    true
  }

  /** The cascade's per-table phase: pointer-committed DROP of every
    * LIVE table in the tree (nested namespaces recursed), each into its
    * own ns-local `_dropped-` entry marked for undrop_namespace's
    * auto-restore. Residue/husks are skipped — they ride the shell move
    * as litter. */
  private def dropTablesForNamespaceDrop(namespace: Array[String]): Unit = {
    val d = nsDir(namespace)
    storage.listSubdirs(d, "")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(segOk).foreach { child =>
        if (storage.exists(s"$d/$child/$NamespaceMarker"))
          dropTablesForNamespaceDrop(namespace :+ child)
        else if (isLiveTableDir(s"$d/$child"))
          dropImpl(Identifier.of(namespace, child), purge = false,
            nsDropMark = true)
      }
  }

  /** Refuse the namespace drop while any table in the tree is under
    * ACTIVE maintenance: a lease file younger than the steal horizon
    * means a compactor/rollback is (or believes itself) mid-pass, and
    * renaming the tree away would cost it the pass (fence-abort).
    * Read-only — one listing per directory plus one stat per candidate
    * lease; the check-to-rename window is the same metadata round-trip
    * every fence accepts. A stale lease (dead maintainer) does not
    * block the drop. */
  private def refuseActiveMaintenance(d: String, name: String): Unit = {
    val leasePath = s"$d/${graft.sources.sstable.MaintenanceLease.LeaseFile}"
    if (storage.exists(leasePath)) {
      val fresh =
        try System.currentTimeMillis() - storage.mtime(leasePath) <=
          graft.sources.sstable.MaintenanceLease.DefaultHorizonMs
        catch {
          case _: java.io.FileNotFoundException |
               _: java.nio.file.NoSuchFileException => false // released mid-check
        }
      if (fresh) {
        val holder =
          try storage.readString(leasePath) catch { case _: Exception => "<unknown>" }
        throw new IllegalStateException(
          s"cannot drop namespace '$name': $d is under active maintenance " +
            s"by '$holder' — wait for it to finish (its lease expires after " +
            "the steal horizon if it died)")
      }
    }
    storage.listSubdirs(d, "")
      .filter(p => segOk(p.substring(p.lastIndexOf('/') + 1)))
      .foreach(refuseActiveMaintenance(_, name))
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || dirExists(nsDir(namespace))

  // ---- ProcedureCatalog ----

  /** Maintenance procedures under the reserved `system` namespace
    * (Iceberg's `CALL cat.system.<proc>` convention — see
    * [[GraftProcedures]]). `system` is purely virtual: it never exists
    * as a warehouse directory, and table DDL can still use a real
    * namespace of that name without colliding (procedures resolve only
    * through `CALL`). */
  private lazy val procedures: Map[String, org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure] =
    GraftProcedures.registry(catalogName = catalogName, resolveTable = { tableName =>
      val parts = tableName.split('.').toSeq
      // one part = a warehouse-root table (CREATE TABLE graft.t works,
      // so CALL must reach it too — review r8); more = ns…ns.t
      require(parts.nonEmpty && parts.forall(segOk),
        s"bad table argument '$tableName' (expected 't' or 'ns.t', " +
          "catalog-relative)")
      val ident = Identifier.of(parts.dropRight(1).toArray, parts.last)
      val d = tableDir(ident)
      if (!isLiveTableDir(d)) throw new NoSuchTableException(ident)
      // maintenance must own the directory in place: settle a crashed
      // REPLACE's pending migration (under the lease) before handing the
      // proc a directory whose content lives behind a redirect
      completeMigrationIfRedirected(d)
      d
    }, resolveParent = { tableName =>
      // same name validation, but the table itself need not exist —
      // undrop_table's target is in the trash, not the catalog
      val parts = tableName.split('.').toSeq
      require(parts.nonEmpty && parts.forall(segOk),
        s"bad table argument '$tableName' (expected 't' or 'ns.t', " +
          "catalog-relative)")
      val ns = parts.dropRight(1).toArray
      val d = nsDir(ns)
      if (!dirExists(d)) throw new NoSuchNamespaceException(catalogName +: ns)
      (d, parts.last)
    }, warehouseDir = () => warehouse)

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(GraftProcedures.Namespace))
      throw new IllegalArgumentException(
        s"unknown procedure namespace '${ident.namespace.mkString(".")}' " +
          s"(procedures live under CALL $catalogName.system.<name>)")
    procedures.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name}'; available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(GraftProcedures.Namespace))
      procedures.keys.toSeq.sorted
        .map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  // ---- FunctionCatalog ----

  /** One function: `bucket` — the bucketed layout's key→bucket mapping
    * ([[GraftBucketFunction]]). Registered so Catalyst can resolve the
    * `bucket(n, key)` transform a bucketed table's write declares (and
    * any storage-partitioned read reporting that uses it). Top-level
    * (empty namespace): that is where transform resolution looks. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], GraftBucketFunction.name()))
    else Array.empty

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty &&
        ident.name.equalsIgnoreCase(GraftBucketFunction.name()))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

/** A table being built by an atomic CTAS/RTAS: all reads/writes hit the
  * hidden staging directory (via the wrapped [[SSTableTable]], so the
  * write path — bucketed layouts, tuning knobs, staged generation
  * commits — is exactly the normal one); `commitStagedChanges` renames
  * it into place ([[GraftCatalog]] owns that logic). */
private[spark] final class GraftStagedTable(
    inner: SSTableTable, ident: Identifier,
    commit: () => Unit, abort: () => Unit)
    extends StagedTable with SupportsWrite {
  override def name(): String = ident.toString
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def properties(): util.Map[String, String] = inner.properties()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = commit()
  override def abortStagedChanges(): Unit = abort()
}

object GraftCatalog {
  /** Marker file [[GraftCatalog.createNamespace]] writes so an empty
    * namespace is distinguishable from an empty table (`_`-prefixed:
    * invisible to data listings and identifier rules). */
  private[spark] val NamespaceMarker = "_namespace"
  /** Persisted table properties (`CREATE TABLE … TBLPROPERTIES`), one
    * `k=v` line each — `_`-prefixed like every non-data file. */
  private[spark] val TablePropsFile = "_table"

  /** Live table properties for maintainers OUTSIDE this package (the
    * incremental-store updaters run the table's write-triggered
    * maintenance themselves after releasing their lease — see
    * DerivedStore.runTableAutocompact). Empty when the pointer is
    * absent or propless. */
  def tableProps(storage: Storage, dir: String): Map[String, String] =
    readTablePropsIfExists(storage, dir).getOrElse(Map.empty)
  /** The `buckets` table property — the bucketed write layout. */
  private[spark] val BucketsProp = "buckets"
  /** Age past which an abandoned CTAS `_stage-`/`_dropped-` directory is
    * presumed dead and swept by the next staged DDL in its namespace.
    * Liveness is the newer of the directory mtime and
    * [[StageHeartbeatFile]] inside it. */
  private[graft] val StageVacuumHorizonMs: Long = 24L * 3600 * 1000
  /** Marker a RUNNING staged DDL touches every horizon/8 so the sweep
    * never takes a live long-running CTAS for a stranded one. */
  private[graft] val StageHeartbeatFile = "_stage-heartbeat"

  /** A namespace entry's last-alive instant — the newer of its directory
    * mtime and the heartbeat stamp inside it (the clock every sweep,
    * undrop window, and `list_trash` age share). */
  private[graft] def lastAliveMs(storage: Storage, entry: String): Long = {
    val hb = s"$entry/$StageHeartbeatFile"
    math.max(storage.mtime(entry),
      if (storage.exists(hb)) storage.mtime(hb) else 0L)
  }

  /** The namespace's self-healing garbage collection, shared by staged
    * DDL (which runs it with the defaults on every CTAS/REPLACE/DROP in
    * the namespace) and `CALL vacuum_trash` (the EXPLICIT route, VERDICT
    * r10 #2 — a 100 TB DROP in a namespace that never runs staged DDL
    * again must be reclaimable without a decoy CTAS). Removes, and
    * returns, entries presumed dead:
    *  - `_dropped-` trash (recoverable DROPs, crashed-REPLACE copies):
    *    older than `trashOlderThanMs` on the heartbeat-stamp clock —
    *    THE undrop-window knob, caller-tunable;
    *  - `_stage-` / `_wstage-` staging (crashed CTAS / catalog appends):
    *    older than the FIXED [[StageVacuumHorizonMs]] floor regardless
    *    of the caller's horizon — a LIVE long-running job's heartbeat
    *    refreshes every horizon/8, so a shorter caller horizon could
    *    catch a healthy stage between beats; trash never beats again
    *    after the drop stamp, so its horizon can shrink safely.
    * A vanished entry (a SIBLING sweep won the race between LIST and
    * stat; Hadoop-backed mtime THROWS — the acquire-race class, VERDICT
    * r9 #1) means already swept, not ours to sweep. */
  private[graft] def sweepNamespace(storage: Storage, nsDir: String,
      trashOlderThanMs: Long = StageVacuumHorizonMs): Seq[String] = {
    val now = System.currentTimeMillis()
    Seq("_stage-", "_dropped-", "_wstage-").flatMap { prefix =>
      val horizon =
        if (prefix == "_dropped-") trashOlderThanMs
        else math.max(trashOlderThanMs, StageVacuumHorizonMs)
      storage.listSubdirs(nsDir, prefix)
        .filter { sd =>
          try now - lastAliveMs(storage, sd) > horizon
          catch {
            case _: java.io.FileNotFoundException |
                 _: java.nio.file.NoSuchFileException => false
          }
        }
        // a `_stage-` dir a sibling table's `_table` pointer REDIRECTS
        // to holds the only copy of a committed REPLACE's new state (the
        // migrator crashed before copying it home): never sweepable —
        // the next DDL/maintenance on the table completes the migration
        .filterNot(sd => prefix == "_stage-" && isRedirectTarget(storage, nsDir, sd))
        .map { sd => storage.deleteRecursive(sd); sd }
    }
  }

  /** The EXPLICIT route's second duty (`CALL vacuum_trash` only — the
    * implicit staged-DDL sweep stays one LIST): clear crashed-swap
    * residue at PLAIN table names — Dropped tombstones (terminal: their
    * authority is in trash or intentionally destroyed) and Restoring
    * pointers whose liveness stamp says the restorer is dead. One props
    * read per plain entry; returns what was cleared. */
  private[graft] def sweepResidue(storage: Storage, nsDir: String): Seq[String] =
    storage.listSubdirs(nsDir, "")
      .filter(d => !d.substring(d.lastIndexOf('/') + 1).startsWith("_"))
      .filter { d =>
        try TableState.isResidue(TableState.of(readTableProps(storage, d))) &&
          PointerCommit.residueClearable(storage, d)
        catch {
          case _: java.io.FileNotFoundException |
               _: java.nio.file.NoSuchFileException => false // vanished mid-look
        }
      }
      .map { d => PointerCommit.clearResidue(storage, d); d }

  /** Is this stale `_stage-<table>-<uuid>` dir the redirect target of
    * its owning table? Checked only for sweep-eligible (stale) stages —
    * one props read each. Protect on any read doubt: sweeping a live
    * redirect target destroys committed data, keeping a dead stage one
    * more round does not. */
  private def isRedirectTarget(storage: Storage, nsDir: String,
                               stagePath: String): Boolean = {
    val n = stagePath.substring(stagePath.lastIndexOf('/') + 1)
    val core = n.stripPrefix("_stage-")
    val cut = core.lastIndexOf('-')
    if (cut <= 0) return false
    val table = core.substring(0, cut)
    try TableState.of(readTableProps(storage, s"$nsDir/$table")) match {
      case TableState.Redirect(t, _) => t == n
      case _ => false
    } catch { case _: Exception => true }
  }
  /** Properties CREATE TABLE accepts (and SHOW CREATE TABLE echoes):
    * the bucketed layout plus the writer-tuning option names every
    * write path parses. */
  private[spark] val AllowedTableProps: Set[String] = Set(
    BucketsProp, SSTableSource.CompressOption, SSTableSource.ChunkLengthOption,
    SSTableSource.SummaryIntervalOption, SSTableSource.BloomBitsPerKeyOption,
    SSTableSource.CompressionAlgorithmOption, SSTableSource.LayoutOption,
    SSTableSource.AutoCompactOption, SSTableSource.AutoSnapshotOption,
    SSTableSource.AutoConsolidateOption)
  /** Spark-injected bookkeeping dropped (not persisted, not refused). */
  private[spark] val IgnoredCreateProps: Set[String] =
    Set(TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_PROVIDER)

  /** The ONE home of the re-layout×time-travel guard (VERDICT r8 #5):
    * snapshot pins keep files written under the CURRENT `buckets` value
    * readable through `VERSION AS OF`, and a time-traveled read merges
    * the table's current property onto them — so any change to the
    * bucket layout (ALTER on an empty table, CALL rebucket on a live
    * one) must first prove no pins exist, or old-layout files would be
    * silently mis-grouped under the new count. */
  private[spark] def requireNoPinsForRelayout(storage: Storage, dir: String): Unit = {
    val pins = graft.operators.SSTableOps.listSnapshots(dir, storage)
    require(pins.isEmpty,
      "snapshots pin data written under the current bucketed layout " +
        s"(${pins.mkString(", ")}); a time-traveled read would apply the " +
        "NEW 'buckets' value to OLD-layout files and silently mis-group " +
        "keys — drop the snapshots first (CALL …system.expire_snapshots " +
        "or drop_snapshot)")
  }

  private[spark] def writeTableProps(storage: Storage, dir: String,
                                     props: Map[String, String]): Unit = {
    // Staged write + atomic replace (review r8): ALTER rewrites this
    // file while concurrent reads resolve loadTable, and a torn read
    // that drops `buckets` would route a plain write into a bucketed
    // directory — breaking the layout contract permanently. A reader
    // sees the whole old file or the whole new one, never half.
    val tmp = s"$dir/$TablePropsFile.tmp-" +
      java.util.UUID.randomUUID().toString.take(8)
    val out = storage.create(tmp)
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    storage.replace(tmp, s"$dir/$TablePropsFile")
  }

  private[spark] def readTableProps(storage: Storage,
                                    dir: String): Map[String, String] =
    readTablePropsIfExists(storage, dir).getOrElse(Map.empty)

  /** [[readTableProps]] distinguishing a MISSING `_table` (None) from a
    * present one (Some — possibly an empty map: a bare CREATE's
    * propless pointer). ONE read, no exists() pre-check: the post-list
    * guards must judge the pointer's existence and its state from the
    * SAME atomic view — the r13 chaos find was an exists()+read pair
    * whose vanish window let a finalize's just-deleted tombstone read
    * as "no props" = Live, serving a successful EMPTY result from a
    * table that was never empty. */
  private[spark] def readTablePropsIfExists(storage: Storage,
      dir: String): Option[Map[String, String]] = {
    val p = s"$dir/$TablePropsFile"
    val text =
      try storage.readString(p)
      catch {
        // vanished (or never there): Hadoop open THROWS on missing
        // paths — the stat-race class; LocalStorage throws FNF too
        case _: java.io.FileNotFoundException |
             _: java.nio.file.NoSuchFileException => return None
      }
    Some(text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed table property line in $p: '$line'")
      line.take(i) -> line.drop(i + 1)
    }.toMap)
  }

  /** The SHARED post-list pointer re-check (scan Batch snapshot,
    * stats-only aggregate, index source, probe-join exec): one atomic
    * `_table` read decides BOTH the pointer's existence and its state.
    *  - catalog-managed + empty listing + NO pointer file → refuse (a
    *    removal's final instant; a real empty catalog table always has
    *    its pointer file, propless or not);
    *  - any non-Live state → refuse (residue/redirect listings can be a
    *    silent SUBSET of the table);
    *  - hand-made (path-API) dirs keep empty-reads-empty. */
  private[spark] def requirePostListState(storage: Storage, path: String,
      listedEmpty: Boolean, catalogManaged: Boolean, at: String): Unit = {
    val propsOpt = readTablePropsIfExists(storage, path)
    if (listedEmpty && catalogManaged && propsOpt.isEmpty)
      throw new IllegalStateException(
        s"$path has no data and no _table pointer — a removal's final " +
          "instant, or a directory that is not a table yet; rerun")
    TableState.of(propsOpt.getOrElse(Map.empty)) match {
      case TableState.Live => ()
      case TableState.Redirect(_, _) => throw new IllegalStateException(
        s"$path was REPLACED between resolution and $at (its pointer " +
          "now redirects) — rerun the query against the new state")
      case _ => throw new IllegalStateException(
        s"$path was dropped between resolution and $at (pointer state " +
          "says residue) — this listing could be a partial tree; rerun " +
          "the query")
    }
  }
}
