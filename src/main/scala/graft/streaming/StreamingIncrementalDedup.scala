package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{DerivedStore, SSTableOps}
import graft.sources.sstable.{LocalStorage, SSTableFiles, Storage}

/** Incremental corpus ingestion with HISTORICAL dedup — the production
  * shape of a continuously-growing training corpus: new documents stream
  * in, and a document is admitted only if its content fingerprint has
  * never been seen in ANY previous batch, not just within a watermark
  * horizon (the limitation of [[StreamingDedup]]'s state-store dedup:
  * state there is bounded by the horizon because unbounded in-memory
  * state cannot scale; unbounded HISTORY can — on disk).
  *
  * The history lives in an SSTable signature store, which is exactly the
  * right data structure for it:
  *  - probes are [[SSTableOps.lookupJoin]] point reads — bloom-filter →
  *    Summary → one Index window → one seek per generation, newest-first
  *    with Statistics pruning; a batch of B docs costs O(B · gens) seeks
  *    against a store of ANY size, never a scan;
  *  - each batch appends its novel fingerprints as ONE new sorted
  *    generation (the Cassandra flush model — no read-modify-write of
  *    the store, ever);
  *  - the store self-maintains with the normal machinery:
  *    [[SSTableOps.compactInPlace]] folds generations at epoch
  *    boundaries whenever the count crosses `maintainAboveGenerations`
  *    (the stream is quiesced inside `foreachBatch`, so the epoch is
  *    the single maintainer), keeping per-probe cost flat without any
  *    out-of-band maintenance job; [[compactStore]] remains for manual
  *    folds between runs.
  *
  * Per micro-batch (`foreachBatch`, so the probe join and the store
  * append are batch-plan steps):
  *  1. fingerprint every doc (md5 of content — the exact-dedup digest);
  *  2. in-batch dedup: first doc_id per fingerprint wins;
  *  3. historical probe: fingerprints that exist in the store are drops;
  *  4. novel docs go to `emit`; their fingerprints are appended to the
  *     store as one generation tagged `sigs<epoch>` — a RETRIED epoch
  *     first unpublishes its own tag's filesets, so replay is idempotent
  *     (same novelty decisions: the store state the retry sees equals
  *     the state the failed attempt saw).
  *
  * `emit` gets (novelDocs, epochId) and owns downstream exactly-once
  * (the standard foreachBatch contract).
  *
  * Retraction deliberately does NOT exist for this store: its keys are
  * CONTENT fingerprints, not document identities — removing a
  * fingerprint would not forget a document, it would forget content,
  * re-admitting every future copy of it (usually the opposite of a
  * takedown's intent, where the content should stay blocked or is
  * gone). Document-grain forgetting lives on the doc_id-keyed catalog
  * store (`CALL retract_signatures`); this history is an operational
  * dedup cache, rebuildable from the emitted corpus if policy ever
  * requires a purge. */
object StreamingIncrementalDedup {

  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
            emit: (DataFrame, Long) => Unit,
            maintainAboveGenerations: Int = DefaultMaintainAbove,
            ledger: graft.operators.TakedownLedger.Mode =
              graft.operators.TakedownLedger.Auto): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        processBatch(batch, storeDir, epochId, emit,
          maintainAboveGenerations = maintainAboveGenerations,
          ledger = ledger)
      }
      .start()

  /** Epoch-boundary self-maintenance threshold: when an
    * epoch's append leaves the store with more generations than this,
    * the epoch folds them before returning. 0 disables (manual
    * [[compactStore]] only). */
  val DefaultMaintainAbove = 8

  /** One epoch of the pipeline — public so tests (and backfills) can
    * drive it with batch DataFrames directly. */
  def processBatch(batch: DataFrame, storeDir: String, epochId: Long,
                   emit: (DataFrame, Long) => Unit,
                   storage: Storage = LocalStorage,
                   maintainAboveGenerations: Int = DefaultMaintainAbove,
                   ledger: graft.operators.TakedownLedger.Mode =
                     graft.operators.TakedownLedger.Auto): Unit = {
    val spark = batch.sparkSession
    val jobTag = f"sigs$epochId%09d"
    // catalog-managed auto-wiring: a store
    // under a warehouse discovers the warehouse's ledger with no
    // argument; bare paths stay unguarded; Off opts out. (No registry
    // registration — the fingerprint store is not a takedown leg.)
    val ledgerDir = graft.operators.TakedownLedger.resolve(
      ledger, storeDir, storage)
    // takedown-ledger consult: fail the micro-batch loudly rather than re-fingerprint
    // taken-down documents arriving from an uncleaned source. Unlike
    // the df/signature/ANN maintainers this consult is NOT under a
    // store lease: the fingerprint store is not a takedown leg (it has
    // no retraction), so there is no takedown-vs-ingest
    // interleave to serialize here; the guard is advisory on the
    // SOURCE's cleanliness only.
    graft.operators.TakedownLedger.consult(spark, ledgerDir,
      batch.select(org.apache.spark.sql.functions.col("doc_id")),
      "streaming_incremental_dedup", storeDir)

    // replay cleanup: a retried epoch removes its own failed-attempt
    // output before deciding novelty, so the decisions are reproducible
    if (storage.exists(storeDir))
      storage.listDataFiles(storeDir)
        .filter(_.endsWith(s"-$jobTag${SSTableFiles.DataSuffix}"))
        .foreach(SSTableFiles.unpublish(storage, _))

    val fps = batch.withColumn("fp", md5(col("text")).cast("binary"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val inBatch = fps.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")

    val novel = (if (storage.exists(storeDir) &&
        storage.listDataFiles(storeDir).nonEmpty) {
      val hits = SSTableOps.lookupJoin(
          inBatch.select(col("fp").as("key")), storeDir)
        .select(col("key").as("fp"))
      inBatch.join(hits, Seq("fp"), "left_anti")
    } else inBatch).persist() // feeds emit AND the signature append

    try {
      emit(novel.drop("fp"), epochId)
      DerivedStore.appendTagged(DerivedStore.rows(novel, col("fp"),
          DerivedStore.textCell(lit("doc"), col("doc_id"), lit(epochId))),
        storeDir, jobTag)
    } finally novel.unpersist()

    // epoch-boundary self-maintenance: the stream is quiesced inside
    // foreachBatch, so this epoch IS the directory's single maintainer —
    // exactly the compactInPlace contract. Folding preserves the store's
    // signature SET (LWW merge of immutable fingerprints), so novelty
    // decisions — including a replay of a LATER epoch that now probes
    // the folded store — are unchanged; only probe cost is.
    if (maintainAboveGenerations > 0 &&
        storage.listDataFiles(storeDir).length > maintainAboveGenerations)
      compactStore(spark, storeDir)
  }

  /** Store maintenance between runs: fold the signature generations so
    * point-read cost stays O(few) seeks per probe as epochs accumulate.
    * Same single-maintainer contract as [[SSTableOps.compactInPlace]] —
    * run it while the stream is stopped (between incremental runs). */
  def compactStore(spark: SparkSession, storeDir: String,
                   minThreshold: Int = 4): Int =
    // default minSize: per-epoch signature generations are far below the
    // STCS tiny-file bound, so they bucket together regardless of the
    // size skew between a quiet epoch and a busy one
    SSTableOps.compactInPlace(spark, storeDir, minThreshold = minThreshold)
}
