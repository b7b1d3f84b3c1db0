package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{AnnIndex, DerivedStore, SSTableOps}
import graft.sources.sstable.{LocalStorage, SSTableFiles, Storage}

/** Streaming ingest maintenance of a persisted ANN index — the last
  * cell of the maintainer symmetry table:
  * every persisted structure here pairs a batch CALL with a streaming
  * twin (signature store ↔ streaming incremental dedup; df store ↔
  * [[StreamingDfUpdate]]; ANN index ↔ this — [[StreamingAnnScore]] is
  * its SERVING twin, routing queries; this one follows the growing
  * corpus). Vectors arriving on a stream are encoded per micro-batch
  * under the index's PERSISTED quantizers — centroids and codebooks are
  * trained rarely (at `CALL build_ann_index`); a streamed vector pays
  * one broadcast assignment pass, bit-identical to what a batch
  * `CALL update_ann_index` over the same delta would write.
  *
  * Same maintainer discipline as [[StreamingDfUpdate]], simplified by
  * the store's shape: `v:` rows are KEYED per vector (LWW-idempotent),
  * so a contract-violating duplicating interleave collapses harmlessly
  * where the df store's additive partials would corrupt — the replay
  * hygiene here buys determinism, not correctness:
  *  - a RETRIED epoch first unpublishes its own tag's filesets, so a
  *    replay sees what the failed attempt saw (same novelty decisions);
  *  - self-maintenance (generation folding) runs BEFORE the append, in
  *    the same pre-append slot as the df maintainer's — uniformly safe
  *    even though LWW keying would tolerate an end-of-batch fold;
  *  - historical novelty probes are [[SSTableOps.lookupJoin]] point
  *    reads of the `v:` keys — O(batch × generations) seeks at any
  *    index size, never a scan;
  *  - the epoch-pin (`_meta`) refuses an absent/foreign index, a
  *    dimension drift, and out-of-range vec_ids BEFORE any row lands.
  * One index has ONE maintainer (batch CALL or this stream, never
  * both). */
object StreamingAnnIngest {

  val DefaultMaintainAbove = 8

  def start(vecs: DataFrame, idxDir: String, checkpointDir: String,
            expectEpoch: Map[String, String] = Map.empty,
            maintainAboveGenerations: Int = DefaultMaintainAbove,
            ledger: graft.operators.TakedownLedger.Mode =
              graft.operators.TakedownLedger.Auto): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        processBatch(batch, idxDir, epochId, expectEpoch = expectEpoch,
          maintainAboveGenerations = maintainAboveGenerations,
          ledger = ledger)
      }
      .start()

  /** One epoch — public so tests and backfills can drive it with batch
    * DataFrames directly. `batch` needs (vec_id, v: array<double>). */
  def processBatch(batch: DataFrame, idxDir: String, epochId: Long,
                   expectEpoch: Map[String, String] = Map.empty,
                   storage: Storage = LocalStorage,
                   maintainAboveGenerations: Int = DefaultMaintainAbove,
                   ledger: graft.operators.TakedownLedger.Mode =
                     graft.operators.TakedownLedger.Auto): Unit = {
    val spark = batch.sparkSession
    val jobTag = f"annin$epochId%09d"
    // catalog-managed auto-wiring: an index
    // under a warehouse discovers the warehouse's takedown ledger with
    // no argument; a bare-path index stays unguarded as before; Off
    // opts out. (No registry registration here — the index registered
    // itself when CALL build_ann_index created it.)
    val ledgerDir = graft.operators.TakedownLedger.resolve(
      ledger, idxDir, storage)

    // pre-unpublish identity guard: the replay
    // cleanup below UNPUBLISHES committed files whose suffix matches
    // this stream's epoch tag — destructive, so a sink misconfigured to
    // point at a missing or FOREIGN index must refuse before any file
    // is touched. These are cheap point reads; the lease-held re-read
    // further down stays the authoritative one (a cover_ann_index can
    // still complete between here and the acquire — that race only
    // affects store_vectors, which the under-lease read settles; it
    // cannot turn a foreign index into ours).
    locally {
      val g = AnnIndex.meta(spark, idxDir)
      require(g.nonEmpty && g.contains("kind"),
        s"$idxDir carries no ANN-index _meta row — build it with " +
          "CALL build_ann_index before streaming ingest")
      if (expectEpoch.nonEmpty) AnnIndex.requireEpoch(spark, idxDir, expectEpoch)
    }

    // replay cleanup: a retried epoch removes its failed attempt's
    // output before deciding novelty — reproducible decisions
    storage.listDataFiles(idxDir)
      .filter(_.endsWith(s"-$jobTag${SSTableFiles.DataSuffix}"))
      .foreach(SSTableFiles.unpublish(storage, _))

    // pre-append self-maintenance (the StreamingDfUpdate slot): every
    // epoch present at batch start has its checkpoint committed. The
    // slot is a VOLUNTEER (same semantics as write-triggered
    // autocompact): a held lease — a retraction CALL mid-flight — makes
    // it yield to the next batch rather than kill the streaming query.
    if (maintainAboveGenerations > 0 &&
        storage.listDataFiles(idxDir).length > maintainAboveGenerations)
      graft.sources.sstable.MaintenanceLease.volunteer(
        SSTableOps.compactInPlace(spark, idxDir, minThreshold = 4))

    // epoch-read → novelty probe → append runs UNDER the index's
    // maintenance lease: retract_ann_vectors holds
    // this lease while it registers ITS epoch and writes tombstones — a
    // micro-batch racing it could read emax before the retraction
    // registered, probe novelty after the tombstones landed, and append
    // re-encoded cells at ts == the retraction's markedForDeleteAt,
    // which the tombstone shadows (ties favor deletion): the batch's
    // vectors silently lost under a success receipt. Serialized, the
    // interleave is gone: the batch's epoch is strictly above any
    // completed retraction's. The batch WAITS OUT a live holder (a
    // refusal would kill the streaming query); self-maintenance above
    // stays outside the held region (compactInPlace takes the lease
    // itself).
    graft.sources.sstable.MaintenanceLease.withLeaseAwait(idxDir, storage,
      "streaming_ann_ingest") { _ =>

    // the epoch pin, read UNDER the lease:
    // encoding a stream under a missing or foreign index would serve
    // silently-wrong neighbors forever, and a pre-lease snapshot could
    // go stale against a CALL cover_ann_index completing before our
    // acquire — store_vectors (and everything else) must reflect the
    // state this batch actually appends into. One _meta point read per
    // micro-batch, not two.
    val m0 = AnnIndex.meta(spark, idxDir)
    require(m0.nonEmpty && m0.contains("kind"),
      s"$idxDir carries no ANN-index _meta row — build it with " +
        "CALL build_ann_index before streaming ingest")
    if (expectEpoch.nonEmpty) AnnIndex.requireEpoch(spark, idxDir, expectEpoch)
    val dim = m0("dim").toInt

    // takedown-ledger consult (opt-in for
    // streams), UNDER the index's lease (a pre-acquire
    // consult is check-then-act against a takedown whose ANN leg needs
    // this same lease): fail the micro-batch loudly rather than
    // re-encode taken-down vectors arriving from an uncleaned source.
    graft.operators.TakedownLedger.consult(spark, ledgerDir,
      batch.select(col("vec_id").as("doc_id")),
      "streaming_ann_ingest", idxDir)

    // the registered write epoch stamps this batch's cells so a later
    // retraction mark / re-addition orders correctly; read AFTER the
    // replay unpublish, so a retried epoch recomputes the same number
    val epoch = DerivedStore.maxEpoch(idxDir, storage) + 1

    // in-batch dedup (at-least-once sources) + derived norm, the same
    // (vec_id, v, nrm) shape the batch encoders consume
    val vecs = batch.select(col("vec_id"), col("v"))
      .dropDuplicates("vec_id")
      .withColumn("nrm", sqrt(graft.functions.VectorExpressions
        .vector_dot(col("v"), col("v"))))

    // historical probe: point reads of the v: keys, never a scan
    val hits = SSTableOps.lookupJoin(
        vecs.select(DerivedStore.idKey("v:", col("vec_id")).as("key")), idxDir)
      .select(DerivedStore.idOfKey(col("key")).as("vec_id"))
    val novel = vecs.join(hits, Seq("vec_id"), "left_anti").persist()

    try {
      val stats = novel.agg(count(lit(1)), min(col("vec_id")),
        max(col("vec_id")),
        coalesce(sum(when(size(col("v")) =!= dim, 1L)), lit(0L))).head()
      val novelCount = stats.getLong(0)
      if (novelCount > 0) {
        DerivedStore.requireKeyRange(stats.getLong(1), stats.getLong(2),
          s"streaming epoch $epochId's novel slice", "vec_id")
        require(stats.getLong(3) == 0,
          s"${stats.getLong(3)} streamed vector(s) in epoch $epochId " +
            s"have a dimension != the index's $dim — the stream changed " +
            "shape; fix the source or rebuild the index")
        // the batch CALL's encoder, so streamed rows are bit-identical;
        // m0 was read UNDER this lease, so store_vectors cannot be stale
        // against a completed cover_ann_index (which holds the same lease)
        DerivedStore.appendTagged(AnnIndex.encodeRows(novel, m0, epoch, idxDir)
            .unionAll(DerivedStore.epochMetaRow(spark, epoch)),
          idxDir, jobTag)
        // drift health sample: the streaming
        // maintainer appends the same bounded `_health` sample as the
        // batch CALL, under the same lease, with THIS epoch's job tag —
        // so a replayed epoch's unpublish removes the doomed attempt's
        // sample along with its cells. A stream has no receipt to warn
        // in; a tripped drift_warn lands a History event instead (the
        // operator's audit trail).
        if (m0.get("store_vectors").contains("true")) {
          val warn = AnnIndex.appendHealthSample(spark,
            s"streaming ingest of $idxDir", idxDir, storage, epoch, m0,
            novel.select(col("vec_id"), col("v"), col("nrm")),
            DerivedStore.appendTagged(_, idxDir, jobTag))
          if (warn.nonEmpty)
            graft.sources.sstable.History.record(storage, idxDir,
              "drift_warn", detail = warn.replace('\n', ' '))
        }
      }
    } finally novel.unpersist()
    }
  }
}
