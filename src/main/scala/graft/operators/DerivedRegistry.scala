package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The DERIVED-STORE REGISTRY —
  * what makes takedown OMISSION-proof.
  *
  * The takedown ledger closed RE-ADMISSION: a rebuild from an
  * uncleaned corpus refuses. The remaining compliance hole was
  * omission: `CALL takedown`'s table lists were the caller's memory,
  * so an ANN index built last month and forgotten at takedown time was
  * silently not retracted — and `takedown_status` audited only the
  * tables it was told about. Nothing in the system knew "everything
  * derived from corpus X".
  *
  * Now the system knows: every maintainer CALL that builds or updates
  * a derived store self-registers `(corpus, kind, table, dir)` in a
  * warehouse-level registry at [[DirName]] (the ledger's storage
  * pattern — an underscore-reserved SSTable directory out of reach of
  * table DDL). `CALL takedown(where, source_dir)` with NO table args
  * then spans every store registered for that corpus, `takedown_status`
  * audits the full set, and `CALL derived_stores` lists it. Explicit
  * table args keep their exact r17 behavior — the registry is the
  * default you fall back ON, not a mode you must adopt.
  *
  * One entry per (kind, table): a store REBUILT over a different corpus
  * re-registers and the newer cells shadow (LWW by registration epoch)
  * — the registry tracks what each store derives from NOW, which is
  * what a takedown must span. Stores registered with corpus
  * [[AnyCorpus]] (stream-maintained stores, whose corpus is a stream)
  * match EVERY list-free takedown — the conservative direction, priced
  * by the legs' idempotence.
  *
  * Scale: O(#stores) rows, read driver-side only on the orchestration
  * path (a takedown or an audit — never an ingest or serving path).
  * Registration is one driver-side point read per maintainer CALL
  * ([[graft.sources.sstable.SSTableReader.liveCellMap]] of the entry's
  * key) and appends a generation ONLY when the entry changed — a
  * steady-state maintainer call writes nothing. Self-compacts like the
  * ledger above 8 generations. */
object DerivedRegistry {

  /** Reserved directory name under a catalog warehouse — underscore
    * prefix keeps it out of namespace listings and table DDL's reach,
    * like [[TakedownLedger.DirName]]. */
  val DirName = "_derived"

  def dirUnder(warehouseRoot: String): String =
    s"${warehouseRoot.stripSuffix("/")}/$DirName"

  /** Store kinds — the same labels the takedown legs report. */
  val DocFreqs = "doc_freqs"
  val Signatures = "signatures"
  val AnnVectors = "ann_vectors"

  /** The corpus value of stores whose source is not a directory (a
    * stream): matches every list-free takedown. */
  val AnyCorpus = "*"

  private val MetaKey = DerivedStore.MetaKey

  private def keyOf(kind: String, table: String) = s"$kind|$table"

  private val AutoCompactAbove = 8

  /** Register (or refresh) one derived store. Idempotent and cheap on
    * the steady state: one driver-side point read of the entry's key;
    * a write happens only when the entry is new or changed (rebuilt
    * over a different corpus, moved directory). Runs under the
    * registry's own lease — maintainers of DIFFERENT stores finishing
    * together serialize here for the duration of one tiny append. */
  def register(s: SparkSession, regDir: String, corpus: String,
               kind: String, table: String, dir: String,
               mode: String = "batch"): Unit = {
    val storage = DerivedStore.storageOf(s, regDir)
    val key = keyOf(kind, table)
    val normCorpus = if (corpus == AnyCorpus) AnyCorpus
      else TakedownLedger.normScope(corpus)
    val current: Map[String, String] =
      if (storage.exists(regDir) && storage.listDataFiles(regDir).nonEmpty)
        graft.sources.sstable.SSTableReader.liveCellMap(regDir, storage, key)
      else Map.empty
    if (current.get("corpus").contains(normCorpus) &&
        current.get("dir").contains(dir) &&
        current.get("mode").contains(mode)) return
    storage.mkdirs(regDir)
    graft.sources.sstable.MaintenanceLease.withLeaseAwait(regDir, storage,
      "derived_registry") { _ =>
      val epoch = DerivedStore.maxEpoch(regDir, storage) + 1
      DerivedStore.appendTagged(
        DerivedStore.row(s, key, Seq("corpus" -> normCorpus, "dir" -> dir,
            "mode" -> mode).map { case (n, v) =>
              DerivedStore.textCell(lit(n), lit(v), lit(epoch.toLong)) }: _*)
          .unionAll(DerivedStore.epochMetaRow(s, epoch)),
        regDir, s"drg${DerivedStore.epochTag(epoch)}")
    }
    if (storage.listDataFiles(regDir).length > AutoCompactAbove)
      graft.sources.sstable.MaintenanceLease.volunteer(
        SSTableOps.compactInPlace(s, regDir, minThreshold = 4))
  }

  /** One registered store. */
  final case class Entry(kind: String, table: String, dir: String,
                         corpus: String, mode: String)

  /** Every registered store, optionally restricted to one corpus
    * (stores registered under [[AnyCorpus]] match every corpus).
    * Driver-side — the registry is O(#stores). */
  def list(s: SparkSession, regDir: String,
           corpus: Option[String] = None): Seq[Entry] = {
    val storage = DerivedStore.storageOf(s, regDir)
    if (!storage.exists(regDir) || storage.listDataFiles(regDir).isEmpty)
      return Seq.empty
    val raw = s.read.format("sstable").load(regDir)
      .filter(col("key") =!= lit(MetaKey.getBytes))
    val rows = SSTableOps.suppressTombstones(raw)
      .select(col("key").cast("string").as("k"),
        explode(col("columns")).as("c"))
      .select(col("k"), col("c.name").cast("string").as("n"),
        col("c.value").cast("string").as("v"))
      .collect()
    val want = corpus.map(TakedownLedger.normScope)
    rows.groupBy(_.getString(0)).toSeq.flatMap { case (k, cells) =>
      val m = cells.map(r => r.getString(1) -> r.getString(2)).toMap
      val sep = k.indexOf('|')
      val entry = Entry(k.substring(0, sep), k.substring(sep + 1),
        m.getOrElse("dir", ""), m.getOrElse("corpus", ""),
        m.getOrElse("mode", "batch"))
      if (want.forall(c => entry.corpus == AnyCorpus || entry.corpus == c))
        Some(entry)
      else None
    }.sortBy(e => (e.kind, e.table))
  }
}
