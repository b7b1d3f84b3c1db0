package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.sstable.{History, MaintenanceLease, SSTableReader, Storage}
import graft.sources.sstable.spark.SSTableSource

/** The derived-store format, shared by every persisted structure derived
  * from a corpus: the df store ([[DfStore]]), the signature store
  * ([[SignatureStore]]), the ANN index ([[AnnIndex]]), their streaming
  * maintainers, the [[TakedownLedger]] and the [[DerivedRegistry]]. Each
  * of them is an SSTable directory (most are catalog tables) computed
  * once and read many times; this object owns what they have in common,
  * and the stores keep only their own logic (novelty, additive partials,
  * quantizer encoding, drift).
  *
  * Layout:
  *  - Rows are `(key, columns, rowTombstone)`. Cells carry UTF-8 text
  *    values ([[textCell]]) or raw bytes ([[bytesCell]], e.g. packed
  *    vectors); a DELETED cell ([[deletedCell]]) shadows one name, a row
  *    tombstone ([[rowTombstones]]) shadows a whole row.
  *  - Member rows keyed by an id use a 12-digit zero-padded decimal
  *    ([[idKey]]): `d:<doc_id>` (df markers), `v:<vec_id>` (ANN vectors),
  *    bare `<doc_id>` (signatures, ledger). Keys sort numerically and the
  *    read side parses them back by position, so an id outside [0, 1e12)
  *    would land under another id's key; writers refuse such ids first
  *    ([[requireKeyRange]]).
  *  - The `_meta` row is the epoch register. Its single LWW `emax` cell
  *    holds the newest registered write epoch ([[maxEpoch]]; a store
  *    without one reads as epoch 1), and the `retracted` / `readmitted`
  *    flags ([[hasFlag]]) record that a retraction ever landed, which
  *    switches membership probes from key-only scans to delete-aware
  *    ones. One `emax` cell, not one per epoch, so the row never grows.
  *  - Cells are stamped with their write epoch (the df store's additive
  *    partials use fixed timestamps and put the epoch in the cell name
  *    instead). A retraction's tombstones at epoch E shadow exactly the
  *    writes before it, and a re-admission at a later epoch rises above
  *    them, so membership can flip indefinitely in write order. Epochs
  *    are deterministic, so identical update sequences write identical
  *    stores.
  *
  * Maintainer order ([[maintain]]): take the store's maintenance lease,
  * consult the takedown ledger, pick the epoch, persist and count the
  * delta ([[withDelta]]), append, release, then run the table's own
  * write-triggered maintenance. The ledger consult happens under the lease because a
  * takedown's leg on this store needs the same lease: consulting before
  * the acquire is check-then-act, and a takedown landing in between
  * would be undone by the very ingest the ledger exists to refuse. The
  * post-release step runs after the lease is released because the
  * append's own write-triggered compaction yields to a held lease.
  *
  * Retraction ([[retract]]) is two appends under the lease: the `_meta`
  * epoch registration plus its flag first, then a pure row-tombstone
  * generation. A crash between them leaves a flagged store with no
  * deletions, which is only the slower probe, never a wrong answer; the
  * tombstone generation stays pure so scans can hoist it as a delete
  * shadow. */
private[graft] object DerivedStore {

  val MetaKey = "_meta"

  def storageOf(s: SparkSession, dir: String): Storage =
    Storage.forPath(dir, s.sessionState.newHadoopConf())

  // ── cells and rows ────────────────────────────────────────────────

  private def cell(name: Column, state: String, value: Column,
                   ts: Column): Column =
    struct(name.cast("binary").as("name"), lit(state).as("state"),
      value.as("value"), ts.cast("bigint").as("timestamp"),
      lit(0L).as("ttlSecs"), lit(0L).as("expiresMillis"))

  /** A NORMAL cell holding `value` as UTF-8 text (numbers as decimals). */
  def textCell(name: Column, value: Column, ts: Column): Column =
    cell(name, "NORMAL", value.cast("string").cast("binary"), ts)

  /** A NORMAL cell holding the binary `value` as is. */
  def bytesCell(name: Column, value: Column, ts: Column): Column =
    cell(name, "NORMAL", value, ts)

  def deletedCell(name: Column, ts: Column): Column =
    cell(name, "DELETED", lit(null).cast("binary"), ts)

  private val NoTombstone: Column = lit(null)
    .cast("struct<localDeletionTime: int, markedForDeleteAt: bigint>")
    .as("rowTombstone")

  /** One live row per input row of `from`. */
  def rows(from: DataFrame, key: Column, cells: Column*): DataFrame =
    from.select(key.cast("binary").as("key"), array(cells: _*).as("columns"),
      NoTombstone)

  /** A single live row under a literal key. */
  def row(s: SparkSession, key: String, cells: Column*): DataFrame =
    rows(s.range(1).toDF(), lit(key), cells: _*)

  /** Cell-less rows, one per input row, tombstoned at `epoch`. */
  def rowTombstones(ids: DataFrame, key: Column, epoch: Int): DataFrame =
    ids.select(key.cast("binary").as("key"),
      array().cast("array<struct<name: binary, state: string, " +
        "value: binary, timestamp: bigint, ttlSecs: bigint, " +
        "expiresMillis: bigint>>").as("columns"),
      struct(lit(epoch).as("localDeletionTime"),
        lit(epoch.toLong).as("markedForDeleteAt")).as("rowTombstone"))

  // ── keys ──────────────────────────────────────────────────────────

  /** `prefix` + the id zero-padded to 12 decimal digits. */
  def idKey(prefix: String, id: Column): Column =
    concat(lit(prefix), lpad(id.cast("string"), 12, "0")).cast("binary")

  /** The id back from an [[idKey]] with a two-character prefix. */
  def idOfKey(key: Column): Column =
    substring(key.cast("string"), 3, 12).cast("bigint")

  def requireKeyRange(lo: Long, hi: Long, what: String, id: String): Unit =
    require(lo >= 0L && hi < 1000000000000L,
      s"$what holds $id outside the key range [0, 1e12): min=$lo " +
        s"max=$hi — keys zero-pad $id to 12 digits (lpad truncates " +
        "longer ids silently) and the read side parses them back by " +
        "position, so an out-of-range id would be stored under a " +
        "DIFFERENT id's key. Refusing before any row is written")

  // ── the `_meta` epoch register ────────────────────────────────────

  /** The `_meta` row's live cells: one driver-side reconciled point read
    * (no job); empty when the store does not exist yet. */
  def metaCells(dir: String, storage: Storage): Map[String, String] =
    SSTableReader.liveCellMap(dir, storage, MetaKey)

  def maxEpoch(dir: String, storage: Storage): Int =
    metaCells(dir, storage).get("emax").map(_.toInt).getOrElse(1)

  def hasFlag(dir: String, storage: Storage, flag: String): Boolean =
    metaCells(dir, storage).contains(flag)

  def epochTag(epoch: Int): String = f"$epoch%06d"

  /** The `_meta` row registering `epoch`: the `emax` cell plus `flags`,
    * all stamped with the epoch so later registrations win. */
  def epochMetaRow(s: SparkSession, epoch: Int,
                   flags: (String, String)*): DataFrame =
    row(s, MetaKey, (("emax" -> epoch.toString) +: flags).map {
      case (n, v) => textCell(lit(n), lit(v), lit(epoch.toLong))
    }: _*)

  // ── appends ───────────────────────────────────────────────────────

  private def viaView(s: SparkSession, rows: DataFrame)(stmt: String => String): Unit = {
    val view = s"graft_ds_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    rows.createOrReplaceTempView(view)
    try s.sql(stmt(view)) finally s.catalog.dropTempView(view)
  }

  /** Append `rows` to a catalog table as one staged commit. */
  def append(s: SparkSession, table: String, rows: DataFrame): Unit =
    viaView(s, rows)(v => s"INSERT INTO $table SELECT * FROM $v")

  /** Create (or atomically replace) a catalog table holding `rows`. */
  def replaceTable(s: SparkSession, table: String, props: String,
                   rows: DataFrame): Unit =
    viaView(s, rows)(v =>
      s"CREATE OR REPLACE TABLE $table TBLPROPERTIES($props) AS SELECT * FROM $v")

  /** Append `rows` to a store directory as one generation named by
    * `jobTag` (a replay of the same tag can find and unpublish it). */
  def appendTagged(rows: DataFrame, dir: String, jobTag: String): Unit =
    rows.write.format("sstable")
      .option(SSTableSource.JobTagOption, jobTag)
      .mode("append").save(dir)

  /** Run `writes` and record them as one `op` event in the directory's
    * history, naming the generations they added. */
  def recorded(storage: Storage, dir: String, op: String, detail: String)(
      writes: => Unit): Unit = {
    val before = storage.listDataFiles(dir)
    writes
    History.record(storage, dir, op,
      added = storage.listDataFiles(dir).diff(before), removed = Nil,
      detail = detail)
  }

  // ── the maintainer templates ──────────────────────────────────────

  /** The epoch after the newest registered one. */
  def nextEpoch(dir: String): Storage => Int = storage => maxEpoch(dir, storage) + 1

  /** One maintainer pass in the order the object doc gives: under the
    * lease, `consult` then `epoch`, then `body`; after release, and only
    * when `wrote` says the receipt appended something, `afterRelease`. */
  def maintain[R](s: SparkSession, dir: String, op: String,
                  consult: () => Unit, epoch: Storage => Int,
                  afterRelease: () => Unit)(body: (Storage, Int) => R)(
      wrote: R => Boolean): R = {
    val storage = storageOf(s, dir)
    val receipt = MaintenanceLease.withLease(dir, storage, op) { _ =>
      consult()
      body(storage, epoch(storage))
    }
    if (wrote(receipt)) afterRelease()
    receipt
  }

  /** Persist `delta`, hand it and its row count to `body`, then unpersist
    * it and run `release` (the novelty join's cleanup). */
  def withDelta[R](delta: DataFrame, release: () => Unit)(
      body: (DataFrame, Long) => R): R = {
    val d = delta.persist()
    try body(d, d.count()) finally { d.unpersist(); release() }
  }

  /** Retract the rows `ids` selects (evaluated under the lease) as the
    * object doc describes: `flag` registers the epoch, then
    * `tombstones(ids, epoch)` is appended as a pure generation; job tags
    * are `<tagPrefix>rm<epoch>` and `<tagPrefix>r<epoch>`. `ids` is read
    * from raw row versions, so it is deduplicated first: one tombstone
    * and one count per distinct id. Returns (retracted, epoch); epoch 0
    * when nothing matched and nothing was written. */
  def retract(s: SparkSession, dir: String, op: String, flag: String,
              tagPrefix: String, ids: () => DataFrame,
              tombstones: (DataFrame, Int) => DataFrame,
              detail: (Long, Int) => String,
              afterRelease: () => Unit): (Long, Int) =
    maintain(s, dir, op, () => (), nextEpoch(dir), afterRelease) {
      (storage, epoch) =>
        withDelta(ids().distinct(), () => ()) { (victims, matched) =>
          if (matched == 0) (0L, 0)
          else {
            recorded(storage, dir, op, detail(matched, epoch)) {
              appendTagged(epochMetaRow(s, epoch, flag -> epoch.toString),
                dir, s"${tagPrefix}rm${epochTag(epoch)}")
              appendTagged(tombstones(victims, epoch), dir,
                s"${tagPrefix}r${epochTag(epoch)}")
            }
            (matched, epoch)
          }
        }
    }(_._1 > 0)

  /** The table's own write-triggered compaction, run by a maintainer
    * after its lease is released (the append's own pass yielded to the
    * held lease). */
  def runTableAutocompact(s: SparkSession, dir: String): Unit =
    graft.sources.sstable.spark.GraftCatalog.tableProps(storageOf(s, dir), dir)
      .get(SSTableSource.AutoCompactOption)
      .map(_.toInt).filter(_ >= 2)
      .foreach(t => SSTableOps.autoCompact(s, dir, t, buckets = None))
}
