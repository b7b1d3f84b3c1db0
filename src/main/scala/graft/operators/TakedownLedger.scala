package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import DerivedStore.textCell

/** The persistent TAKEDOWN LEDGER —
  * what makes a takedown durable across REBUILDS.
  *
  * The per-store retraction primitives deliberately let membership flip
  * in epoch order (an incremental maintainer re-admits a doc whose cells
  * rise above the retraction tombstone — correct for statistics
  * maintenance). But a COMPLIANCE takedown must survive the one
  * operation that used to defeat it silently: a full rebuild, or an
  * incremental ingest, from a corpus that still contains the removed
  * documents — which re-admitted every taken-down id into all derived
  * stores under a success receipt, with nothing persistent recording
  * "these ids were removed on purpose".
  *
  * The ledger is that record. It lives at a WELL-KNOWN location under
  * the catalog warehouse ([[dirUnder]]) as an ordinary SSTable
  * directory — one row per taken-down doc_id, carrying the takedown's
  * predicate — and is consulted by every maintainer that could
  * re-admit: `update_doc_freqs`, `update_signatures`,
  * `build_ann_index`, `update_ann_index`, and the streaming
  * maintainers (auto-wired when the store lives under a catalog
  * warehouse — see [[Mode]]; explicit [[At]]/[[Off]] preserved). An ingest slice
  * that still contains ledgered ids REFUSES, naming a bounded sample —
  * the same loud-guard pattern as the df store's content-hash refusal,
  * one level up.
  *
  * Lifecycle:
  *  - `CALL takedown` records the slice's ids FIRST, before any leg —
  *    a write-ahead intent: a crash anywhere later leaves the intent
  *    durable and the re-issued CALL converges (the record is
  *    anti-joined, so a re-issue no-ops). A takedown that then REFUSES
  *    in a leg (e.g. the df content-hash guard) leaves its intent
  *    ledgered — deliberate: the removal was requested; either fix the
  *    payload and re-issue, or explicitly [[readmit]] to abandon it.
  *  - `CALL readmit` is the explicit override: it row-tombstones the
  *    matching ledger entries (epoch-ordered, so a LATER takedown of
  *    the same ids rises above the readmission), after which the
  *    maintainers ingest those ids again.
  *  - the PRIMITIVE retraction CALLs (`retract_doc_freqs`,
  *    `retract_signatures`, `retract_ann_vectors`) stay ledger-free on
  *    purpose: they are statistics operations whose membership-flip
  *    semantics incremental pipelines rely on. `CALL takedown` is the
  *    compliance surface; only it writes the ledger.
  *
  * CORPUS SCOPE: the id domain used
  * to be warehouse-GLOBAL — two corpora under one catalog warehouse
  * share one id space, so a takedown of id N from corpus A refused an
  * unrelated id N from corpus B (false-positive refusal) and, worse,
  * `CALL readmit` with a predicate matching B's ids row-tombstoned A's
  * compliance record. Entries are now scoped to their SOURCE CORPUS:
  * a scoped entry stores the corpus dir in an `s:<tag>` cell paired
  * with its `p:<tag>` predicate cell (tag = md5 of the normalized
  * dir), so ONE doc_id can carry independent entries for several
  * corpora; [[consult]] matches `(corpus, doc_id)` — a maintainer
  * declaring its ingest corpus is only refused by entries scoped to
  * that corpus (or global ones); [[readmit]] scoped to a corpus
  * cell-deletes ONLY that corpus's pair, leaving other corpora's
  * records (and global entries) live. Plain `pred` cells remain the
  * GLOBAL form — the DEFAULT (and the pre-scope r17 form): a global
  * entry refuses the id under EVERY corpus and only an unscoped
  * readmit clears it. Scoping is an explicit opt-in (`corpus =>` on
  * the CALL), never inferred from source_dir — the payload dir is
  * often not the corpus, and a re-issued takedown with a different
  * payload must converge on the same entries. A maintainer that
  * cannot name its corpus (a streaming source) consults unscoped and
  * is refused by every entry — the conservative direction.
  *
  * Scale: the ledger is O(taken-down ids) — tiny against the corpus.
  * [[consult]] is one existence check when no ledger exists (zero jobs,
  * the common case), and otherwise one size-gated semi-join (the ledger
  * side broadcasts below [[Params.BroadcastIdMaxRows]]) — the same
  * bounded shape as the maintainers' novelty probe. The ledger read is
  * key-only (Index.db sidecars, no Data.db IO) until a readmission or
  * a SCOPED entry exists (scope lives in cells), then switches to the
  * reconciled scan — identical gating to [[SignatureStore.storedIds]];
  * either way the scan is over the O(taken-down ids) ledger, never
  * the corpus. */
object TakedownLedger {

  /** The ledger's reserved directory name under a catalog warehouse.
    * The leading underscore keeps it out of namespace listings and out
    * of reach of table DDL (catalog name segments refuse '_' prefixes),
    * so DROP TABLE cannot remove the compliance record. */
  val DirName = "_takedown_ledger"

  def dirUnder(warehouseRoot: String): String =
    s"${warehouseRoot.stripSuffix("/")}/$DirName"

  private val MetaKey = DerivedStore.MetaKey

  /** The explicit warehouse-global scope: `corpus => '*'` records an
    * entry every consult matches regardless of its declared corpus —
    * the single-corpus-warehouse mode, and the pre-scope (round-17)
    * entry form. */
  val GlobalScope = "*"

  /** Scope identity is the normalized corpus dir string (trailing-slash
    * spellings collapse — the [[SessionCache.normKey]] rule). */
  private[operators] def normScope(p: String): String = {
    val t = p.replaceAll("/+$", "")
    if (t.isEmpty) p else t
  }

  /** Cell-name tag of one corpus scope — md5 of the normalized dir, so
    * a record and a later scoped readmit of the same corpus address the
    * same `p:`/`s:` cell pair deterministically. */
  private def tagOf(src: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(normScope(src).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  /** The signature store's key: ids sort numerically and parse back. */
  private def keyOf(docId: org.apache.spark.sql.Column) =
    DerivedStore.idKey("", docId)

  private def storageFor(s: SparkSession, dir: String) =
    DerivedStore.storageOf(s, dir)

  /** Whether any [[readmit]] epoch ever landed — switches the reads to
    * the delete-aware reconciled scan. */
  private def hasReadmissions(dir: String,
                              storage: graft.sources.sstable.Storage): Boolean =
    DerivedStore.hasFlag(dir, storage, "readmitted")

  /** Whether any SCOPED entry was ever recorded — scope lives in cells,
    * so a scoped ledger's [[consult]] relation needs the cell scan; a
    * pure-global ledger keeps the key-only read. */
  private def hasScoped(dir: String,
                        storage: graft.sources.sstable.Storage): Boolean =
    DerivedStore.hasFlag(dir, storage, "scoped")

  private def exists(s: SparkSession, dir: String): Boolean = {
    val storage = storageFor(s, dir)
    storage.exists(dir) && storage.listDataFiles(dir).nonEmpty
  }

  /** Live reconciled non-meta rows. Scoped entries (and two corpora
    * ledgering the same id in separate generations) need the
    * cell-reconciling merge even before any readmission — generations
    * holding the SAME key must union their distinct cell pairs. */
  private def liveRows(s: SparkSession, dir: String): DataFrame = {
    val storage = storageFor(s, dir)
    val raw = s.read.format("sstable").load(dir)
      .filter(col("key") =!= lit(MetaKey.getBytes))
    if (hasReadmissions(dir, storage) || hasScoped(dir, storage))
      SSTableOps.suppressTombstones(raw) else raw
  }

  /** Live ledger entries `(doc_id, predicate, epoch, src)` — one row
    * per (id, scope); `src` is NULL for global entries. */
  def entries(s: SparkSession, dir: String): DataFrame = {
    val cells = liveRows(s, dir)
      .select(col("key").cast("string").cast("bigint").as("doc_id"),
        explode(col("columns")).as("c"))
      .select(col("doc_id"), col("c.name").cast("string").as("n"),
        col("c.value").cast("string").as("v"),
        col("c.timestamp").cast("int").as("ts"))
    val global = cells.filter(col("n") === "pred")
      .select(col("doc_id"), col("v").as("predicate"), col("ts").as("epoch"),
        lit(null).cast("string").as("src"))
    val preds = cells.filter(col("n").startsWith("p:"))
      .select(col("doc_id"), substring(col("n"), 3, 32).as("tag"),
        col("v").as("predicate"), col("ts").as("epoch"))
    val srcs = cells.filter(col("n").startsWith("s:"))
      .select(col("doc_id"), substring(col("n"), 3, 32).as("tag"),
        col("v").as("src"))
    global.unionByName(
      preds.join(srcs, Seq("doc_id", "tag")).drop("tag")
        .select(col("doc_id"), col("predicate"), col("epoch"), col("src")))
  }

  /** Live ledgered doc_ids (every scope) — key-only until a readmission
    * or scoped entry exists (the same one-way switch as
    * [[SignatureStore.storedIds]]). */
  def ledgeredIds(s: SparkSession, dir: String): DataFrame = {
    val storage = storageFor(s, dir)
    if (hasReadmissions(dir, storage) || hasScoped(dir, storage))
      scopedIds(s, dir).select(col("doc_id")).distinct()
    else s.read.format("sstable").load(dir)
      .filter(col("key") =!= lit(MetaKey.getBytes))
      .select(col("key").cast("string").cast("bigint").as("doc_id"))
  }

  /** `(doc_id, src)` with NULL src for global entries — [[consult]]'s
    * and [[record]]'s idempotence relation. Key-only on a pure-global,
    * readmission-free ledger. */
  private def scopedIds(s: SparkSession, dir: String): DataFrame = {
    val storage = storageFor(s, dir)
    if (!hasScoped(dir, storage) && !hasReadmissions(dir, storage))
      s.read.format("sstable").load(dir)
        .filter(col("key") =!= lit(MetaKey.getBytes))
        .select(col("key").cast("string").cast("bigint").as("doc_id"),
          lit(null).cast("string").as("src"))
    else {
      val cells = liveRows(s, dir)
        .select(col("key").cast("string").cast("bigint").as("doc_id"),
          explode(col("columns")).as("c"))
        .select(col("doc_id"), col("c.name").cast("string").as("n"),
          col("c.value").cast("string").as("v"))
      cells.filter(col("n") === "pred")
        .select(col("doc_id"), lit(null).cast("string").as("src"))
        .unionByName(cells.filter(col("n").startsWith("s:"))
          .select(col("doc_id"), col("v").as("src")))
    }
  }

  /** Write-triggered self-maintenance (the df/signature stores'
    * shape): every [[record]]/[[readmit]] appends a generation, and
    * [[consult]]'s ledger read costs O(generations) — without a fold
    * a long takedown history would slowly tax every maintenance
    * ingest. Runs AFTER the writer's lease released (autoCompact takes
    * the lease itself; a concurrent holder makes it yield — the
    * volunteer contract). */
  private val AutoCompactAbove = 8
  private def runAutocompact(s: SparkSession, dir: String,
                             storage: graft.sources.sstable.Storage): Unit =
    if (storage.listDataFiles(dir).length > AutoCompactAbove)
      // full STCS, not the data-generation-only autoCompact shape:
      // readmissions append DELETE-ONLY generations which that path
      // deliberately withholds (and whose keys overlap live entries, so
      // the isolated-tombstone compactor never picks them either) — a
      // readmit-heavy ledger folds its whole history the way the
      // catalog's DELETE + CALL compact pair does. Volunteer semantics:
      // a held lease yields rather than failing the write that merely
      // volunteered.
      graft.sources.sstable.MaintenanceLease.volunteer(
        SSTableOps.compactInPlace(s, dir, minThreshold = 4))

  /** Record a takedown's ids (the source slice matching the predicate)
    * as ledger entries. Idempotent: already-ledgered ids are anti-joined
    * away, so a re-issued takedown records nothing. Returns
    * (newly ledgered, epoch); epoch 0 = nothing new. */
  def record(s: SparkSession, dir: String, sourceDir: String,
             whereSql: String,
             corpus: Option[String] = None): (Long, Int) = {
    // the entry's scope: the id-domain corpus the removed
    // ids belong to. Default is GLOBAL (the r17 form — refuses the ids
    // under every corpus): scoping must be an EXPLICIT declaration,
    // never inferred from source_dir, because the payload dir is often
    // NOT the corpus (a detached takedown payload) and a re-issue with
    // a different payload spelling must converge on the same entries,
    // not fork a second scope
    val scope = corpus.getOrElse(GlobalScope)
    val global = scope == GlobalScope
    val storage = storageFor(s, dir)
    // the removal set spans BOTH id-bearing relations of the source
    //: the ANN legs retract by the same predicate over
    // vec_id, and a corpus can hold vectors whose ids have no documents
    // row (a purged-text modality) — ledgering only the documents slice
    // would let a later ANN rebuild silently re-admit exactly the ids
    // only the index held. doc_id and vec_id share one id domain.
    val srcStorage = graft.sources.sstable.Storage.forPath(sourceDir,
      s.sessionState.newHadoopConf())
    val docIds = if (srcStorage.exists(s"$sourceDir/documents.parquet"))
      Some(graft.Tables.documents(s, sourceDir)
        .filter(expr(whereSql)).select(col("doc_id"))) else None
    val vecIds = if (srcStorage.exists(s"$sourceDir/embeddings.parquet")) {
      val rel = graft.Tables.embeddings(s, sourceDir)
        .select(col("vec_id").as("doc_id"))
      // the takedown contract writes the predicate over doc_id (the
      // sig/ANN legs filter id-only relations), but the df-leg
      // primitives also accept CONTENT predicates over the documents
      // relation — such a predicate cannot resolve against this id-only
      // relation (a hard throw here would abort the whole
      // takedown before any intent was recorded). Content predicates
      // can only ever select document-bearing ids, so fall back to the
      // documents slice semi-joined onto the embeddings ids; a
      // vector-only corpus (no documents relation) has nothing to fall
      // back to and the unresolved-column refusal stands.
      Some(try rel.filter(expr(whereSql)).select(col("doc_id"))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            docIds.map(d => rel.join(d, Seq("doc_id"), "left_semi"))
              .getOrElse(throw e)
        })
    } else None
    require(docIds.nonEmpty || vecIds.nonEmpty,
      s"the takedown payload at $sourceDir holds neither " +
        "documents.parquet nor embeddings.parquet — nothing identifies " +
        "the removed ids")
    val ids = (docIds.toSeq ++ vecIds.toSeq).reduce(_ unionAll _)
      .dropDuplicates("doc_id")
    val stats = ids.agg(count(lit(1)), min(col("doc_id")),
      max(col("doc_id"))).head()
    if (stats.getLong(0) == 0) return (0L, 0)
    DerivedStore.requireKeyRange(stats.getLong(1), stats.getLong(2),
      s"the takedown slice for the ledger at $dir", "doc_id")
    storage.mkdirs(dir)
    DerivedStore.maintain(s, dir, "takedown_ledger", consult = () => (),
      epoch = DerivedStore.nextEpoch(dir),
      afterRelease = () => runAutocompact(s, dir, storage)) { (_, epoch) =>
      val fresh = storage.listDataFiles(dir).isEmpty
      // idempotence is PER SCOPE: an id already ledgered
      // GLOBALLY is covered everywhere (nothing to add); one ledgered
      // under THIS scope re-records nothing; one ledgered under a
      // DIFFERENT corpus's scope is novel here — each corpus's removal
      // intent is its own compliance record
      val novelIds = if (fresh) ids
        else {
          val covered = scopedIds(s, dir)
            .filter(col("src").isNull ||
              (if (global) lit(false)
               else col("src") === lit(normScope(scope))))
            .select(col("doc_id")).distinct()
          ids.join(covered, Seq("doc_id"), "left_anti")
        }
      DerivedStore.withDelta(novelIds, () => ()) { (novel, n) =>
        if (n == 0) (0L, 0)
        else {
          def cell(name: String, value: String) =
            textCell(lit(name), lit(value), lit(epoch.toLong))
          val entryCells =
            if (global) Seq(cell("pred", whereSql))
            else {
              val tag = tagOf(scope)
              Seq(cell(s"p:$tag", whereSql), cell(s"s:$tag", normScope(scope)))
            }
          DerivedStore.recorded(storage, dir, "takedown_ledger_record",
              s"ids=$n epoch=$epoch pred=$whereSql scope=" +
                (if (global) GlobalScope else normScope(scope))) {
            DerivedStore.appendTagged(
              DerivedStore.rows(novel, keyOf(col("doc_id")), entryCells: _*)
                .unionAll(DerivedStore.epochMetaRow(s, epoch,
                  (if (global) Nil else Seq("scoped" -> "true")): _*)),
              dir, s"tdl${DerivedStore.epochTag(epoch)}")
          }
          (n, epoch)
        }
      }
    }(_._1 > 0)
  }

  /** The explicit override: clear the ledger entries matching
    * `whereSql` (over doc_id), re-opening those ids to the maintainers.
    * Unscoped (`corpus` None — the documented global mode for
    * single-corpus warehouses): row-tombstone the whole matching row,
    * clearing EVERY scope's entry for those ids. Scoped:
    * cell-delete ONLY that corpus's `p:`/`s:` pair, so corpus B's
    * readmission can never tombstone corpus A's compliance record;
    * global entries are deliberately NOT matched by a scoped readmit
    * (they were recorded as everywhere-removals — clear them
    * unscoped). Epoch-ordered like every store: a LATER takedown of
    * the same ids rises above this readmission. Returns (readmitted,
    * epoch); epoch 0 = nothing matched. */
  def readmit(s: SparkSession, dir: String, whereSql: String,
              corpus: Option[String] = None): (Long, Int) = {
    require(exists(s, dir),
      s"no takedown ledger at $dir — nothing to readmit")
    val scope = corpus.filter(_ != GlobalScope).map(normScope)
    val storage = storageFor(s, dir)
    DerivedStore.retract(s, dir, "readmit", "readmitted", "tdl",
      ids = () => (scope match {
        case None => ledgeredIds(s, dir)
        case Some(c) => scopedIds(s, dir).filter(col("src") === lit(c))
          .select(col("doc_id"))
      }).filter(expr(whereSql)),
      tombstones = (victims, epoch) => scope match {
        case None => DerivedStore.rowTombstones(victims, keyOf(col("doc_id")), epoch)
        case Some(c) =>
          // scoped: DELETED cells for exactly this corpus's pair — the
          // row (and any other scope's cells on it) stays live
          val tag = tagOf(c)
          val ts = lit(epoch.toLong)
          DerivedStore.rows(victims, keyOf(col("doc_id")),
            DerivedStore.deletedCell(lit(s"p:$tag"), ts),
            DerivedStore.deletedCell(lit(s"s:$tag"), ts))
      },
      detail = (n, epoch) => s"ids=$n epoch=$epoch pred=$whereSql scope=" +
        scope.getOrElse(GlobalScope),
      afterRelease = () => runAutocompact(s, dir, storage))
  }

  /** STREAMING LEDGER WIRING: the
    * streaming maintainers' ledger consult used to be opt-in and
    * default OFF — a compliance surface an operator could silently
    * forget, while the batch CALLs are auto-wired by the catalog. The
    * maintainers now take a [[Mode]] defaulting to [[Auto]]: when the
    * store directory lives under a catalog warehouse (recognized by
    * the warehouse's reserved `_takedown_ledger` / `_derived`
    * sidecars), the warehouse ledger is discovered and consulted with
    * NO argument; a bare-path store (no warehouse above) stays
    * unguarded exactly as before. [[Off]] is the explicit opt-out;
    * [[At]] pins a ledger directory explicitly (the old `Some(dir)`). */
  sealed trait Mode
  case object Auto extends Mode
  case object Off extends Mode
  final case class At(dir: String) extends Mode

  /** How many ancestor directories [[discoverRoot]] walks — covers
    * `warehouse/namespace(.../...)/table` layouts with margin. */
  private val DiscoverDepth = 4

  /** The nearest ancestor of `storeDir` that looks like a catalog
    * warehouse root: it holds the reserved `_takedown_ledger` or
    * `_derived` directory. A handful of driver-side stats per call. */
  private[graft] def discoverRoot(
      storeDir: String,
      storage: graft.sources.sstable.Storage): Option[String] = {
    @annotation.tailrec
    def loop(dir: String, depth: Int): Option[String] = {
      val cut = dir.lastIndexOf('/')
      if (depth == 0 || cut <= 0) None
      else {
        val parent = dir.substring(0, cut)
        if (storage.exists(s"$parent/$DirName") ||
            storage.exists(s"$parent/${DerivedRegistry.DirName}"))
          Some(parent)
        else loop(parent, depth - 1)
      }
    }
    loop(normScope(storeDir), DiscoverDepth)
  }

  /** Resolve a streaming maintainer's [[Mode]] to the ledger directory
    * to consult (None = unguarded). */
  private[graft] def resolve(mode: Mode, storeDir: String,
                             storage: graft.sources.sstable.Storage)
      : Option[String] = mode match {
    case Off => None
    case At(d) => Some(d)
    case Auto => discoverRoot(storeDir, storage).map(dirUnder)
  }

  /** The maintainers' guard: refuse when the ingest slice still
    * contains ledgered ids. `sliceIds` needs one `doc_id` column (ANN
    * maintainers alias vec_id — same id domain, vectors are keyed by
    * their document). No ledger directory, or an empty one, is ZERO
    * jobs — one driver-side existence check. `corpus` is
    * the maintainer's declared ingest corpus: entries scoped to a
    * DIFFERENT corpus don't apply (their id domain is unrelated);
    * global entries always do. A caller that cannot name its corpus
    * (a streaming source) passes None and every entry applies — the
    * conservative direction. */
  /** A read raced the ledger's own write-triggered STCS fold
    * unpublishing its inputs (consult is deliberately LEASE-FREE — a
    * guard inside every maintenance ingest must not serialize the
    * whole warehouse's maintainers through one ledger lock). The race
    * window is one fold; re-entering the body re-plans against the
    * folded fileset. Found by the 100x churn soak. */
  private def retryVanished[T](attempts: Int)(body: => T): T = {
    def vanished(t: Throwable): Boolean = t != null &&
      (t.isInstanceOf[java.io.FileNotFoundException] ||
        t.isInstanceOf[java.nio.file.NoSuchFileException] ||
        vanished(t.getCause))
    try body catch {
      case e: Throwable if attempts > 1 && vanished(e) =>
        retryVanished(attempts - 1)(body)
    }
  }

  def consult(s: SparkSession, ledgerDir: Option[String],
              sliceIds: DataFrame, operation: String,
              target: String, corpus: Option[String] = None): Unit =
    ledgerDir.filter(exists(s, _)).foreach { dir => retryVanished(4) {
      val led = (corpus match {
        case None => ledgeredIds(s, dir)
        case Some(c) => scopedIds(s, dir)
          .filter(col("src").isNull || col("src") === lit(normScope(c)))
          .select(col("doc_id")).distinct()
      }).persist()
      try {
        val ln = led.count()
        if (ln > 0) {
          val fetch = if (ln <= Params.BroadcastIdMaxRows) broadcast(led)
            else led
          val hits = sliceIds.select(col("doc_id"))
            .join(fetch, Seq("doc_id"), "left_semi").persist()
          try {
            val n = hits.count()
            if (n > 0) {
              val sample = hits.orderBy("doc_id").limit(5).collect()
                .map(_.getLong(0)).mkString(", ")
              throw new IllegalStateException(
                s"$operation on $target: the ingest slice contains $n " +
                  s"taken-down document(s) (e.g. ids $sample) recorded " +
                  s"in the takedown ledger at $dir — ingesting them " +
                  "would silently re-admit removed content under a " +
                  "success receipt. Remove them from the source (or " +
                  "narrow the where clause), or CALL readmit(...) to " +
                  "deliberately clear their ledger entries first")
            }
          } finally hits.unpersist()
        }
      } finally led.unpersist()
    } }
}
