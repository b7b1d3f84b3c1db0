package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{DerivedRegistry, DerivedStore, DfStore, SSTableOps, TakedownLedger}
import graft.sources.sstable.{LocalStorage, SSTableFiles, Storage}

/** Streaming maintenance of a document-frequency store — the streaming
  * twin of `CALL update_doc_freqs`, part of the symmetry every
  * persisted structure here has (signature store ↔ streaming
  * incremental dedup; ANN index ↔ [[StreamingAnnIngest]] for ingest and
  * [[StreamingAnnScore]] for serving; df store ↔
  * this). A corpus that arrives as a stream keeps its corpus-level term
  * statistics current per micro-batch, so downstream serving
  * (TF-IDF-scoring a delta, boilerplate-cleaning a batch) always reads
  * totals that include everything ingested so far.
  *
  * Same additive-epoch design as the batch CALL, with the micro-batch
  * epoch id as the partial's name: each batch appends `df:s<epochId>`
  * cells for its NOVEL documents' per-term counts, `d:` markers, and an
  * `_n` partial `n:s<epochId>` — all in ONE tagged generation, so
  *  - disjoint batches sum to the exact corpus statistic,
  *  - compaction (the epoch-boundary self-maintenance below) folds
  *    losslessly (distinct cell names union under LWW merge),
  *  - a RETRIED epoch first unpublishes its own tag's filesets, making
  *    replay idempotent (the store state a retry sees equals what the
  *    failed attempt saw — same novelty decisions, same partials).
  * The `s` prefix keeps streaming partials out of the batch CALL's
  * `df:<epoch%06d>` namespace; one store has ONE maintainer (batch or
  * stream, never both — the single-maintainer contract).
  *
  * Historical novelty probes are [[SSTableOps.lookupJoin]] point reads
  * against the `d:` markers — O(batch · generations) seeks at any store
  * size, never a scan. */
object StreamingDfUpdate {

  val DefaultMaintainAbove = 8

  /** Above this many epoch partials since the last fold, the pre-append
    * maintenance slot consolidates them ([[graft.operators.DfStore
    * .consolidate]]) — without it a long-running stream grows every
    * hot term's row by one cell per micro-batch, unboundedly. The gate
    * is one driver-side point read of the `_n` row (O(generations)
    * seeks, no job). */
  val DefaultConsolidateAbove = 64

  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
            unit: String = "term",
            maintainAboveGenerations: Int = DefaultMaintainAbove,
            consolidateAboveEpochs: Int = DefaultConsolidateAbove,
            ledger: TakedownLedger.Mode = TakedownLedger.Auto): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        processBatch(batch, storeDir, epochId, unit = unit,
          maintainAboveGenerations = maintainAboveGenerations,
          consolidateAboveEpochs = consolidateAboveEpochs,
          ledger = ledger)
      }
      .start()

  /** One epoch — public so tests and backfills can drive it with batch
    * DataFrames directly. `batch` needs (doc_id, text). */
  def processBatch(batch: DataFrame, storeDir: String, epochId: Long,
                   unit: String = "term",
                   storage: Storage = LocalStorage,
                   maintainAboveGenerations: Int = DefaultMaintainAbove,
                   consolidateAboveEpochs: Int = DefaultConsolidateAbove,
                   ledger: TakedownLedger.Mode = TakedownLedger.Auto): Unit = {
    val spark = batch.sparkSession
    val jobTag = f"dfs$epochId%09d"
    val tag = f"s$epochId%09d"

    // catalog-managed auto-wiring: a store
    // under a warehouse discovers the warehouse's takedown ledger with
    // no argument (the compliance surface the operator used to have to
    // remember), and REGISTERS ITSELF in the warehouse's derived-store
    // registry so a list-free CALL takedown spans this stream's store
    // too. Corpus '*' — a stream's source is not a directory, so it
    // conservatively matches every takedown; priced by the legs'
    // idempotence. A bare-path store (no warehouse above) stays
    // unguarded and unregistered exactly as before; Off opts out.
    val ledgerDir = TakedownLedger.resolve(ledger, storeDir, storage)
    if (ledger != TakedownLedger.Off)
      TakedownLedger.discoverRoot(storeDir, storage).foreach { root =>
        DerivedRegistry.register(spark, DerivedRegistry.dirUnder(root),
          DerivedRegistry.AnyCorpus, DerivedRegistry.DocFreqs,
          storeDir, storeDir, mode = "stream")
      }

    // replay cleanup: a retried epoch removes its failed attempt's
    // output before deciding novelty — reproducible decisions. GUARDED
    //: if a stream-domain retraction registered a tag whose
    // base is >= this epoch's, that retraction's marker probe COUNTED
    // this epoch's (published, uncommitted) docs and its negative
    // partials stand on them — unpublishing the positives now would
    // leave the signed sums corrupt. Refuse loudly with the batch
    // unprocessed; the operator retracted on top of an uncommitted
    // epoch (retractStream's contract is a quiesced-or-committed
    // stream) and the store needs a rebuild.
    //
    // Guard + unpublish hold the store's maintenance lease: unserialized,
    // the guard is check-then-act — a retractStream could land BETWEEN the
    // tag read and the unpublish, count the doomed attempt's docs, and the
    // unpublish would then remove the positives from under its negatives
    // (the exact corruption the guard refuses). This region stays SEPARATE
    // from the probe→append lease below: the volunteer maintenance between
    // them takes the lease itself, and the fold-safety argument needs the
    // doomed files gone BEFORE any fold can absorb them. A retraction
    // sneaking between the two regions is benign — the attempt's files are
    // already unpublished, so it cannot have counted this epoch's docs (its
    // base stays below this epoch's).
    if (storage.exists(storeDir) && storage.listDataFiles(storeDir)
        .exists(_.endsWith(s"-$jobTag${SSTableFiles.DataSuffix}")))
      graft.sources.sstable.MaintenanceLease.withLeaseAwait(storeDir,
        storage, "streaming_df_replay") { _ =>
        val doomed = storage.listDataFiles(storeDir)
          .filter(_.endsWith(s"-$jobTag${SSTableFiles.DataSuffix}"))
        val tagNow = f"$epochId%09d"
        val bad = graft.operators.DfStore
          .streamRetractionBases(storeDir, storage).filter(_ >= tagNow)
        require(bad.isEmpty,
          s"epoch $epochId is replaying its failed attempt, but a " +
            s"retraction (base s${bad.headOption.getOrElse("")}) was " +
            "applied ON TOP of the attempt's uncommitted output — its " +
            "negative partials counted this epoch's docs, so the " +
            "replay's unpublish would corrupt the signed sums. The " +
            "store's history has forked: DROP and rebuild it (retract " +
            "only from a quiesced stream whose last epoch committed)")
        doomed.foreach(SSTableFiles.unpublish(storage, _))
      }

    // self-maintenance runs BEFORE the append, never after: folding at the
    // END of the batch could absorb SOME of the current epoch's own tagged
    // filesets (STCS buckets split an epoch's partitions); a crash before
    // the checkpoint commit then replays the epoch, whose tag-unpublish
    // removes only the UNFOLDED remainder — the epoch splits, and the
    // replay's re-counted df:s<epoch> cells COLLIDE with the folded
    // survivors' under the same name with different values, which LWW
    // resolves to one of them: a silent under-count. With the fold up
    // front, a replayable epoch's tag is never inside a fold (the next
    // epoch folds it only after this epoch's checkpoint committed, which
    // ends its replayability).
    // StreamingIncrementalDedup keeps the end-of-batch fold: its cells
    // are idempotent under LWW, so the same interleave is harmless.
    // Both self-maintenance passes are VOLUNTEER slots (same semantics
    // as write-triggered autocompact): a held lease — a retraction CALL
    // mid-flight — makes them yield to the next batch rather than kill
    // the streaming query.
    if (maintainAboveGenerations > 0 && storage.exists(storeDir) &&
        storage.listDataFiles(storeDir).length > maintainAboveGenerations)
      graft.sources.sstable.MaintenanceLease.volunteer(
        SSTableOps.compactInPlace(spark, storeDir, minThreshold = 4))

    // epoch-range consolidation rides the SAME pre-append slot (and
    // inherits its safety argument): without it every hot term's row
    // grows one df:/cf: cell per micro-batch forever, and serving reads
    // explode-and-sum all of them. The fold is itself a pure append —
    // readers racing it stay exact via the fold rule — and a crash
    // anywhere around it replays into an identical, LWW-idempotent fold.
    if (consolidateAboveEpochs > 0 && storage.exists(storeDir) &&
        storage.listDataFiles(storeDir).nonEmpty &&
        DfStore.epochPartialsSinceFold(storeDir, storage) > consolidateAboveEpochs)
      graft.sources.sstable.MaintenanceLease.volunteer(
        graft.operators.DfStore.consolidate(spark, storeDir, storage))

    // in-batch dedup: one row per doc_id
    val docs = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")

    // probe → append → audit runs UNDER the store's maintenance lease
    //: [[graft.operators.DfStore.retractStream]] holds this
    // lease while it subtracts — unserialized, a racing micro-batch
    // could re-admit a doc between the retraction's marker probe and
    // its negative append (double-subtract class), or the retraction's
    // two-read sentinel could straddle the batch's append and refuse
    // spuriously AFTER its own write landed. The batch WAITS OUT a live
    // holder (a refusal would kill the streaming query); the volunteer
    // self-maintenance above stays outside the held region (it takes
    // the lease itself).
    graft.sources.sstable.MaintenanceLease.withLeaseAwait(storeDir, storage,
      "streaming_df_update") { _ =>

    // takedown-ledger consult (opt-in for
    // streams), UNDER the store's lease (a pre-acquire
    // consult is check-then-act against a takedown whose df leg needs
    // this same lease): a batch carrying taken-down ids fails the
    // micro-batch LOUDLY — silently dropping the rows would hide a
    // compliance violation in the source; the operator filters the
    // source or CALLs readmit. Zero jobs when no ledger exists.
    graft.operators.TakedownLedger.consult(spark, ledgerDir,
      batch.select(org.apache.spark.sql.functions.col("doc_id")),
      "streaming_df_update", storeDir)

    // whether this batch CREATES the store — decided after the replay
    // unpublish, so a retried first epoch re-creates identically
    val fresh = !storage.exists(storeDir) ||
      storage.listDataFiles(storeDir).isEmpty

    // historical probe: point reads of the d: markers, never a scan
    val novel = (if (!fresh) {
      val hits = SSTableOps.lookupJoin(
          docs.select(DerivedStore.idKey("d:", col("doc_id")).as("key")), storeDir)
        .select(DerivedStore.idOfKey(col("key")).as("doc_id"))
      docs.join(hits, Seq("doc_id"), "left_anti")
    } else docs).persist()

    try {
      // the count action also carries the marker-key range guard: an id
      // outside [0, 1e12) mis-probes (no hit), would write a malformed
      // marker, and then permanently fails the sentinel — refuse BEFORE
      // the write, with the batch unprocessed (the checkpoint does not
      // advance past a refused epoch)
      val novelStats = novel.agg(count(lit(1)),
        min(col("doc_id")), max(col("doc_id"))).head()
      val novelCount = novelStats.getLong(0)
      if (novelCount > 0) {
        DerivedStore.requireKeyRange(
          novelStats.getLong(1), novelStats.getLong(2),
          s"streaming epoch $epochId's novel slice", "doc_id")
        // every cell is stamped with the epoch id: fixed per cell name
        // (each name is written by exactly one epoch), deterministic on
        // replay
        val rows = DfStore.epochRows(novel, DfStore.unitTotals(novel, unit),
          novelCount, tag, marker = lit(tag), markerTs = epochId,
          partialTs = epochId)
        // a CREATING epoch pins the counted unit on _meta (rides the
        // same tagged generation, so a replayed first epoch re-pins
        // identically): retractStream refuses a wrong-unit subtraction
        // against it, exactly like the batch store's pin
        DerivedStore.appendTagged(
          if (!fresh) rows
          else rows.unionAll(DerivedStore.row(spark, DerivedStore.MetaKey,
            DerivedStore.textCell(lit("unit"), lit(unit), lit(epochId)))),
          storeDir, jobTag)
        // the additivity sentinel (see DfStore.auditAdditivity): a
        // duplicating interleave corrupts additive partials silently —
        // refuse on the epoch that caused it
        DfStore.auditAdditivity(spark, storeDir,
          nDocs(spark, storeDir), s"streaming epoch $epochId")
      }
    } finally novel.unpersist()
    }
  }

  /** Raw-path serving reads for a stream-maintained store (the catalog
    * variants live on [[graft.operators.DfStore]]): corpus-total df per
    * term and total documents counted. Both delegate to the shared
    * fold-aware sum, so raw reads stay exact across consolidation and
    * compaction at every instant (see the fold rule on
    * [[graft.operators.DfStore]]). */
  def docFreqs(s: SparkSession, storeDir: String): DataFrame =
    graft.operators.DfStore.freqsFromRows(
      s.read.format("sstable").load(storeDir), "df:")

  def collFreqs(s: SparkSession, storeDir: String): DataFrame =
    graft.operators.DfStore.freqsFromRows(
      s.read.format("sstable").load(storeDir), "cf:")

  def nDocs(s: SparkSession, storeDir: String): Long =
    graft.operators.DfStore.nDocsFromRows(
      s.read.format("sstable").load(storeDir))
}
