package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Params._
import DerivedStore.{MetaKey, textCell}

/** The MinHash signature store: an SSTable catalog table keyed by doc_id
  * (the batch twin of [[graft.streaming.StreamingIncrementalDedup]]).
  * `CALL update_signatures(table, source_dir[, where])` computes
  * signatures ONLY for documents absent from the store and appends them
  * as one generation, so a growing corpus pays for ΔT, not T∪ΔT. Layout,
  * epochs and the maintainer order are [[DerivedStore]]'s; this store
  * adds the `sig` cell and the `_meta` MinHash parameter pin.
  *
  * The store probe is a KEY-ONLY catalog scan (doc_id lives in the key,
  * so it plans from Index.db sidecars), novelty is an anti-join on the
  * doc_id column alone, and text is fetched by a broadcast join of the
  * delta-sized novel ids (PlanQualitySpec pins all three).
  *
  * Short documents (fewer than [[Params.ShingleN]] tokens) persist with
  * an EMPTY signature, so they are remembered rather than re-probed as
  * novel forever, and readers filter them, matching the oracle (its
  * shingle unnest yields no rows for them).
  *
  * Signatures persist as the comma-joined decimal longs of the
  * [[graft.functions.MinHashSignature]] output. [[requireParams]] refuses
  * a store built under other MinHash parameters: probing it would
  * silently misclassify novelty. */
object SignatureStore {

  private def keyOf(docId: org.apache.spark.sql.Column) =
    DerivedStore.idKey("", docId)

  /** (doc_id, sig) — sig is the comma-joined signature (possibly empty
    * for short docs) computed from text. NOT filtered: the store
    * remembers short docs too. */
  def signatures(docs: DataFrame): DataFrame = {
    val sig = graft.functions.TextExpressions.minhash_signature(
      col("text"), ShingleN,
      (0 until MinHashPerms).map(Params.minHashA),
      (0 until MinHashPerms).map(Params.minHashB), Params.MinHashP)
    docs.select(col("doc_id"),
      concat_ws(",", transform(sig, x => x.cast("string"))).as("sig"))
  }

  /** doc_ids currently in the store: a key-only raw scan (planned
    * `indexOnly`), switched to the reconciled scan once a [[retract]]
    * flag exists so retracted docs read as novel (re-admittable). */
  def storedIds(s: SparkSession, storeDir: String): DataFrame = {
    val raw = s.read.format("sstable").load(storeDir)
      .filter(col("key") =!= lit(MetaKey.getBytes))
    (if (DerivedStore.hasFlag(storeDir, DerivedStore.storageOf(s, storeDir),
        "retracted")) SSTableOps.suppressTombstones(raw) else raw)
      .select(col("key").cast("string").cast("bigint").as("doc_id"))
  }

  /** ΔT: corpus rows whose `key` column is absent from `stored` — the
    * novelty fetch of all three incremental maintainers. The anti-join
    * sees only id columns; the fetch join broadcasts the novel ids only
    * up to `broadcastMaxRows` (a merge-scale delta falls back to a
    * shuffle join instead of broadcasting an id set as large as a second
    * corpus). The count behind that gate materializes the persisted id
    * set once; call the returned cleanup after the novel relation is
    * consumed. */
  private[graft] def gatedNovelJoin(corpus: DataFrame, stored: DataFrame,
                                    key: String,
                                    broadcastMaxRows: Long =
                                      Params.BroadcastIdMaxRows): (DataFrame, () => Unit) = {
    val novelIds = corpus.select(col(key))
      .join(stored, Seq(key), "left_anti").persist()
    val n = novelIds.count()
    val fetch = if (n <= broadcastMaxRows) broadcast(novelIds) else novelIds
    (corpus.join(fetch, Seq(key)), () => { novelIds.unpersist(); () })
  }

  /** [[gatedNovelJoin]] on doc_id. Caller owns the cleanup. */
  def novelDocs(corpus: DataFrame, stored: DataFrame): (DataFrame, () => Unit) =
    gatedNovelJoin(corpus, stored, "doc_id")

  /** The signature rows of one update, stamped with the write epoch. */
  def signatureRows(sigs: DataFrame, epoch: Int = 1): DataFrame =
    DerivedStore.rows(sigs, keyOf(col("doc_id")),
      textCell(lit("sig"), col("sig"), lit(epoch.toLong)))

  private def metaRow(s: SparkSession, sourceDir: String): DataFrame =
    DerivedStore.row(s, MetaKey, Seq(
      "bands" -> MinHashBands.toString,
      "hash_p" -> Params.MinHashP.toString,
      "perms" -> MinHashPerms.toString,
      "shingle_n" -> ShingleN.toString,
      "source" -> sourceDir).map { case (n, v) =>
        textCell(lit(n), lit(v), lit(1L)) }: _*)

  /** Loud refusal when the store was built under different MinHash
    * parameters — probing it would silently misclassify novelty. */
  def requireParams(s: SparkSession, qualifiedTable: String): Unit = {
    val meta = s.table(qualifiedTable)
      .filter(col("key") === lit(MetaKey.getBytes))
      .select(explode(col("columns")).as("c"))
      .select(col("c.name").cast("string"), col("c.value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = Map("perms" -> MinHashPerms.toString,
      "bands" -> MinHashBands.toString, "shingle_n" -> ShingleN.toString,
      "hash_p" -> Params.MinHashP.toString)
    val drift = expect.collect {
      case (k, want) if !meta.get(k).contains(want) =>
        s"$k: store has ${meta.getOrElse(k, "(absent)")}, this engine uses $want"
    }
    require(drift.isEmpty,
      s"signature store $qualifiedTable was built under different MinHash " +
        s"parameters — ${drift.mkString("; ")}. Rebuild the store (DROP + " +
        "CALL update_signatures) before probing it")
  }

  /** One incremental update: create the store if absent, probe, sign ΔT
    * only, append as one generation. Returns (docsSeen, novel,
    * alreadyStored). */
  def update(s: SparkSession, qualifiedTable: String, storeDir: () => String,
             sourceDir: String, whereSql: String,
             autocompact: Int,
             ledgerDir: Option[String] = None): (Long, Long, Long) = {
    val fresh = !s.catalog.tableExists(qualifiedTable)
    if (fresh) {
      s.sql(s"CREATE TABLE $qualifiedTable " +
        s"TBLPROPERTIES('autocompact'='$autocompact')")
      DerivedStore.append(s, qualifiedTable, metaRow(s, sourceDir))
    } else requireParams(s, qualifiedTable)
    val corpus = graft.Tables.documents(s, sourceDir)
      .filter(expr(whereSql)).select(col("doc_id"), col("text"))
    val seen = corpus.count()
    val dir = storeDir()
    DerivedStore.maintain(s, dir, "update_signatures",
      consult = () => TakedownLedger.consult(s, ledgerDir,
        corpus.select(col("doc_id")), "update_signatures", qualifiedTable,
        corpus = Some(sourceDir)),
      epoch = DerivedStore.nextEpoch(dir),
      afterRelease = () => DerivedStore.runTableAutocompact(s, dir)) {
      (_, epoch) =>
        // an empty store skips the probe and joins: everything is novel
        val hasRows = !fresh && storedIds(s, dir).limit(1).count() > 0
        val (novelSrc, releaseIds) = if (hasRows)
          novelDocs(corpus, storedIds(s, dir)) else (corpus, () => ())
        DerivedStore.withDelta(novelSrc, releaseIds) { (novel, novelCount) =>
          if (novelCount > 0)
            DerivedStore.append(s, qualifiedTable,
              signatureRows(signatures(novel), epoch)
                .unionAll(DerivedStore.epochMetaRow(s, epoch)))
          (seen, novelCount, seen - novelCount)
        }
    }(_._2 > 0)
  }

  /** Forget documents' signatures without touching the corpus, by the
    * [[DerivedStore.retract]] template (flag, then a row-tombstone
    * generation). `where` selects over the STORE's own ids (`doc_id`),
    * so a doc with no surviving copy anywhere retracts fine, and a
    * re-run matches nothing. Returns (retracted, epoch); epoch 0 =
    * nothing matched, nothing written. */
  def retract(s: SparkSession, qualifiedTable: String,
              storeDir: () => String, whereSql: String): (Long, Int) = {
    require(s.catalog.tableExists(qualifiedTable),
      s"signature store $qualifiedTable does not exist — nothing to " +
        "retract from")
    val dir = storeDir()
    DerivedStore.retract(s, dir, "retract_signatures", "retracted", "sig",
      ids = () => storedIds(s, dir).filter(expr(whereSql)),
      tombstones = (ids, epoch) =>
        DerivedStore.rowTombstones(ids, keyOf(col("doc_id")), epoch),
      detail = (n, epoch) => s"docs=$n epoch=$epoch",
      afterRelease = () => DerivedStore.runTableAutocompact(s, dir))
  }

  /** The store read back for consumers (and the hash gate): (doc_id,
    * sig), short docs' empty signatures filtered — exactly the relation
    * a full recompute over the same corpus produces. */
  def storedSignatures(s: SparkSession, qualifiedTable: String): DataFrame =
    s.table(qualifiedTable)
      .filter(col("key") =!= lit(MetaKey.getBytes))
      .select(col("key").cast("string").cast("bigint").as("doc_id"),
        explode(col("columns")).as("c"))
      .filter(col("c.name").cast("string") === "sig")
      .select(col("doc_id"), col("c.value").cast("string").as("sig"))
      .filter(length(col("sig")) > 0)
}
