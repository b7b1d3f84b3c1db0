package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{pack_doubles, unpack_doubles, vector_dot}
import DerivedStore.{bytesCell, textCell}

/** Persisted ANN index structures: the trained artifacts of
  * [[SimilarityQueries]] — coarse k-medians centroids, PQ codebooks, and
  * the per-vector cell/code assignment — written ONCE as rows of an
  * SSTable catalog table and LOADED by serving queries, instead of
  * re-paying Lloyd training in every job that touches the index (the
  * reference's split-planning shape: one expensive planning pass
  * persisted, many cheap consumers). Layout, epochs and the maintainer
  * order are [[DerivedStore]]'s; this index adds:
  *  - `_meta` — pins the trained epoch: the source corpus, its vector
  *    count and dimension, and every training parameter. Serving
  *    validates against it; a rebuilt corpus or a parameter drift fails
  *    loudly instead of serving a stale index.
  *  - `c:<cell%05d>` — coarse centroid: cell `cv` = packed vector
  *    ([[graft.functions.PackDoubles]] bits, so the persisted bits ARE
  *    the trained doubles).
  *  - `p:<sub>:<cell%05d>` — PQ codebook entry, same shape.
  *  - `v:<vec_id>` — per-vector assignment: `cell` and/or
  *    `code0..code{m-1}` cells, plus the raw vector (`vec`) on a
  *    covering index.
  *  - `_health` — the bounded per-epoch drift samples.
  *
  * Norms are NOT persisted: `cn = sqrt(cv·cv)` is recomputed on load —
  * bit-identical to how training derived it. Training is deterministic
  * end-to-end (exact medians, mod-k init, fixed tie-breaks —
  * [[SimilarityQueries.kmediansCells]]), so a served query's result is
  * bit-identical to its trained-in-query twin (the hash gate's
  * q_ann_kmeans_served / q_ann_ivfpq_served share their twins' oracle
  * SQL verbatim). */
object AnnIndex {

  private def vecKey(vecId: Column): Column = DerivedStore.idKey("v:", vecId)

  /** One-pass vec_id bounds over a slice about to be written. */
  private def checkVecIdRange(vecs: DataFrame, what: String): Unit = {
    val r = vecs.agg(count(lit(1)), min(col("vec_id")), max(col("vec_id"))).head()
    if (r.getLong(0) > 0)
      DerivedStore.requireKeyRange(r.getLong(1), r.getLong(2), what, "vec_id")
  }

  /** Train and persist: returns (centroidRows, codebookRows, vectorRows,
    * dim, nvec) as the CALL's receipt. `kind`: 'ivf' (coarse quantizer
    * only), 'pq' (codebooks only), 'ivfpq' (both — the standard
    * billion-scale serving pair). Runs the SAME deterministic trainings
    * the in-query operators run; the CTAS commit is the catalog's
    * staged atomic publish, so a concurrent reader of the index table
    * sees the old index or the new one, never a half-written mix. */
  def build(s: SparkSession, sourceDir: String, qualifiedTable: String,
            kind: String, k: Int, iters: Int,
            m: Int, pqK: Int, pqIters: Int,
            whereSql: String = "true",
            storeVectors: Boolean = false,
            ledgerDir: Option[String] = None,
            driftWarn: Long = 0L): (Long, Long, Long, Int, Long) = {
    require(driftWarn >= 0L, s"drift_warn must be >= 0, got $driftWarn")
    // health samples are gated on the covering property, so a drift_warn
    // on a non-covering build could never fire: refuse the inert alarm
    require(driftWarn == 0L || storeVectors,
      s"drift_warn=$driftWarn is set but store_vectors is false — " +
        "health samples (and so the warning) only run on a COVERING " +
        "index; pass store_vectors => true, or upgrade later with " +
        "CALL cover_ann_index and rebuild with the threshold")
    require(Set("ivf", "pq", "ivfpq").contains(kind),
      s"kind must be 'ivf', 'pq' or 'ivfpq', got '$kind'")
    val e = SimilarityQueries.embWithNorm(s, sourceDir).filter(expr(whereSql))
    // a rebuild from a corpus still holding taken-down vectors is the
    // hole the ledger closes, so it refuses before training (vec_id and
    // doc_id share one id domain); one persisted id projection serves
    // both consults
    val eIds = e.select(col("vec_id").as("doc_id")).persist()
    try {
    TakedownLedger.consult(s, ledgerDir, eIds, "build_ann_index",
      qualifiedTable, corpus = Some(sourceDir))
    val nvec = e.count()
    require(nvec > 0,
      s"build_ann_index: the corpus at $sourceDir has no vectors — an " +
        "empty index would serve nothing; ingest embeddings first")
    val dim = e.select(size(col("v"))).head().getInt(0)
    // one arbitrary row picked the dim: a mixed-dimension corpus must
    // refuse BEFORE training silently-wrong quantizers
    val badDim = e.filter(size(col("v")) =!= dim).count()
    require(badDim == 0,
      s"build_ann_index: $badDim vector(s) in the corpus have a " +
        s"dimension != $dim — a mixed-dimension corpus cannot train one " +
        "quantizer; filter with the where clause or fix the corpus")
    checkVecIdRange(e, "build_ann_index: the training slice")

    val coarse = if (kind != "pq")
      Some(SimilarityQueries.kmediansCells(e, k, iters)) else None
    val pq = if (kind != "ivf")
      Some(SimilarityQueries.pqTrain(e, m, pqK, pqIters)) else None

    val centroidRows = coarse.map { case (_, cent) =>
      DerivedStore.rows(cent,
        concat(lit("c:"), lpad(col("cell").cast("string"), 5, "0")),
        bytesCell(lit("cv"), pack_doubles(col("cv")), lit(1L)))
    }
    val codebookRows = pq.map { case (_, cents) =>
      DerivedStore.rows(cents,
        concat(lit("p:"), col("sub").cast("string"), lit(":"),
          lpad(col("cell").cast("string"), 5, "0")),
        bytesCell(lit("cv"), pack_doubles(col("cv")), lit(1L)))
    }
    val vecRows = vectorRows(
      coarse.map { case (assigned, _) => assigned.select(col("vec_id"), col("cell")) },
      pq.map { case (assigned, _) =>
        val aggs = (0 until m).map(i =>
          max(when(col("sub") === i, col("cell"))).as(s"code$i"))
        assigned.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      }, m,
      if (storeVectors) Some(e.select(col("vec_id"), col("v"))) else None,
      epoch = 1)
    // the trained-epoch pin: serving validates source/params against it,
    // and the build registers write epoch 1
    val metaRows = DerivedStore.row(s, DerivedStore.MetaKey, (Seq[(String, Any)](
        "dim" -> dim, "emax" -> 1, "iters" -> iters, "k" -> k, "kind" -> kind,
        "m" -> m, "nvec" -> nvec, "pq_iters" -> pqIters, "pq_k" -> pqK,
        "source" -> sourceDir, "store_vectors" -> storeVectors,
        "where" -> whereSql) ++
      (if (driftWarn > 0) Seq("drift_warn" -> driftWarn) else Nil)).map {
        case (n, v) => textCell(lit(n), lit(v), lit(1L))
      }: _*)

    val all = (centroidRows.toSeq ++ codebookRows.toSeq :+ vecRows :+ metaRows)
      .reduce(_ unionAll _)
    // a build has no store lease to serialize against a concurrent
    // takedown (the table is being created), so the consult above is
    // check-then-act across the whole training run; re-consulting here
    // shrinks that window to the commit itself
    TakedownLedger.consult(s, ledgerDir, eIds,
      "build_ann_index (pre-commit)", qualifiedTable,
      corpus = Some(sourceDir))
    // every update appends a generation and probe cost is O(generations),
    // so the index folds itself like the other stores
    DerivedStore.replaceTable(s, qualifiedTable, "'autocompact'='8'", all)
    // receipt counts are MEASURED, not assumed: a Lloyd cell that loses
    // all members yields no centroid row, so the real count can sit
    // below k (cheap — the trained relations are checkpoint-backed)
    (centroidRows.map(_.count()).getOrElse(0L),
      codebookRows.map(_.count()).getOrElse(0L),
      nvec, dim, nvec)
    } finally eIds.unpersist()
  }

  /** `v:` rows from a coarse assignment `(vec_id, cell)` and/or PQ codes
    * `(vec_id, code0..code{m-1})`, stamped `epoch`; with `vectors`
    * `(vec_id, v)` (covering mode) each row also carries its raw vector
    * as a `vec` cell, so exact-rerank serving can point-read shortlisted
    * candidates instead of scanning the embedding table. */
  private def vectorRows(cells: Option[DataFrame], codes: Option[DataFrame],
                         m: Int, vectors: Option[DataFrame],
                         epoch: Int): DataFrame = {
    val assigned = (cells.toSeq ++ codes).reduceOption(_.join(_, "vec_id"))
      .getOrElse(sys.error("unreachable: kind validated at build"))
    val ts = lit(epoch.toLong)
    DerivedStore.rows(vectors.fold(assigned)(v => assigned.join(v, "vec_id")),
      vecKey(col("vec_id")),
      cells.map(_ => textCell(lit("cell"), col("cell"), ts)).toSeq ++
        codes.toSeq.flatMap(_ =>
          (0 until m).map(i => textCell(lit(s"code$i"), col(s"code$i"), ts))) ++
        vectors.map(_ => bytesCell(lit("vec"), pack_doubles(col("v")), ts)): _*)
  }

  /** The `v:` rows of `novel` `(vec_id, v, nrm)` encoded under the
    * index's PERSISTED quantizers, as the `_meta` pin `m0` describes
    * them (kind, m, store_vectors) — the encoding the batch update and
    * the streaming ingest share, so both write identical rows. */
  private[graft] def encodeRows(novel: DataFrame, m0: Map[String, String],
                                epoch: Int, idxDir: String): DataFrame = {
    val s = novel.sparkSession
    val (kind, pqM) = (m0("kind"), m0("m").toInt)
    vectorRows(
      if (kind != "pq")
        Some(assignCoarse(novel, loadCoarseCentroids(s, idxDir))) else None,
      if (kind != "ivf")
        Some(assignPq(novel, loadPqCodebooks(s, idxDir), pqM)) else None,
      pqM,
      // the covering property is index-wide: new vectors persist their
      // raw bits too, or rerank would silently miss them
      if (m0.get("store_vectors").contains("true"))
        Some(novel.select(col("vec_id"), col("v"))) else None,
      epoch)
  }

  /** Concurrent-rebuild contract for the loaders below: each load is
    * individually consistent (the raw-path pointer guard refuses the
    * whole redirect window of a REPLACE, and the post-list re-check
    * refuses mid-destroy residue), but a serving plan composed of
    * SEVERAL loads could straddle a rebuild that completes between them
    * and mix two epochs — serve from an index that is not being
    * concurrently REBUILT, pin a snapshot (`CALL snapshot`) and keep
    * serving jobs on the pinned epoch while rebuilds land, or take ONE
    * [[AnnIndex.snapshot]] and derive every structure from it (this
    * closes the limit in-process: one scan, one epoch, all accessors
    * mutually consistent). Incremental `update_ann_index` appends are
    * benign across loads: a vector seen by one load and not another
    * simply drops out of the inner joins (the older consistent subset
    * serves). */

  /** Epoch-consistent composite load: ONE scan of the index
    * table, materialized, from which every structure derives — a
    * rebuild completing between accessor reads can no longer mix
    * epochs inside one serving plan, because there is only one read.
    * The slices reuse the materialized partitions (centroids/codebooks/
    * codes are the small serving assets — holding them is the point of
    * the persisted index). `localCheckpoint(eager)` rather than
    * `persist()` deliberately: a persisted partition lost to executor
    * churn would RECOMPUTE from the table's CURRENT state and silently
    * mix epochs for just that partition — the checkpoint cuts the
    * lineage, so block loss fails the job loudly instead (the same
    * loud-beats-silent call as everywhere else in this engine). Call
    * [[AnnSnapshot.release]] when the serving plan is done. */
  def snapshot(s: SparkSession, idxDir: String): AnnSnapshot = {
    // the checkpoint is taken on the RDD directly (the same copy-rows +
    // localCheckpoint sequence Dataset.localCheckpoint performs) so the
    // snapshot HOLDS the checkpointed RDD: Dataset.unpersist on a
    // checkpointed frame only clears CacheManager entries and leaves
    // the checkpoint's blocks to garbage collection — in a long-lived
    // serving session repeated snapshots would accumulate blocks
    //. With the handle, release() unpersists the blocks
    // themselves, immediately.
    val src = cellsOf(s, idxDir)
    val rdd = src.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    rdd.count() // eager: materialize NOW, against the current epoch
    new AnnSnapshot(
      org.apache.spark.sql.GraftColumnBridge.internalCreateDataFrame(
        s, rdd, src.schema), rdd)
  }

  /** The one-read view of a persisted ANN index — accessors mirror the
    * per-call loaders exactly (same shapes, same derived norms), but
    * all of them slice the SAME materialized scan. */
  final class AnnSnapshot private[AnnIndex] (
      cells: DataFrame,
      checkpointed: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]) {
    def meta: Map[String, String] =
      cells.filter(col("k") === "_meta")
        .select(col("name"), col("value").cast("string").as("v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def coarseCentroids: DataFrame =
      cells.filter(col("k").startsWith("c:") && col("name") === "cv")
        .select(substring(col("k"), 3, 5).cast("int").as("cell"),
          unpack_doubles(col("value")).as("cv"))
        .withColumn("cn", sqrt(vector_dot(col("cv"), col("cv"))))
    def vectorCells: DataFrame =
      cells.filter(col("k").startsWith("v:") && col("name") === "cell")
        .select(substring(col("k"), 3, 12).cast("long").as("vec_id"),
          col("value").cast("string").cast("int").as("cell"))
    /** Free the snapshot's checkpoint blocks NOW (not at GC): the
      * handle makes this a real unpersist of the checkpointed RDD's
      * storage, closing the snapshot-accumulation leak a long-lived
      * serving session would otherwise have. The snapshot
      * is INVALID afterwards — a released local checkpoint cannot
      * recompute (lineage is cut), so any further accessor use fails
      * loudly instead of silently re-reading the current table state. */
    def release(): Unit = checkpointed.unpersist(blocking = false)

    /** The checkpoint's RDD id — lets tests (and operators that monitor
      * serving-session storage) verify the blocks are freed on release. */
    private[graft] def checkpointRddId: Int = checkpointed.id
  }

  /** One raw read of the index table, exploded to (k, name, value) —
    * the shared decode surface of the loaders below. */
  private def cellsOf(s: SparkSession, idxDir: String): DataFrame =
    // delete-aware always: retraction appends DELETE-ONLY generations
    // whose row tombstones the scan hoists into its DeleteShadow —
    // zero cost when none exist, and every loader (and the snapshot)
    // then drops retracted vectors identically
    s.read.format("sstable")
      .option(graft.sources.sstable.spark.SSTableSource.ApplyDeletesOption,
        "true")
      .load(idxDir)
      .select(col("key").cast("string").as("k"), explode(col("columns")).as("c"))
      .select(col("k"), col("c.name").cast("string").as("name"), col("c.value").as("value"))

  /** The `_meta` epoch pin as a plain map — the RECONCILED live read
    * (driver-side point read, no job). Must not be a raw-scan
    * `.toMap`: `emax` carries one version per registered epoch, and
    * since [[cover]] the `store_vectors` flag can carry a flipped
    * newer version too — a raw collect would keep an ARBITRARY one. */
  def meta(s: SparkSession, idxDir: String): Map[String, String] =
    DerivedStore.metaCells(idxDir, DerivedStore.storageOf(s, idxDir))

  /** Serving-side epoch validation: refuse loudly when the persisted
    * index was trained on a different corpus or with different
    * parameters than the query assumes — a stale index would serve
    * silently-wrong neighbors, the worst failure mode an ANN store has. */
  def requireEpoch(s: SparkSession, idxDir: String,
                   expect: Map[String, String]): Unit = {
    val m = meta(s, idxDir)
    val drift = expect.collect {
      case (key, want) if !m.get(key).contains(want) =>
        s"$key: index has ${m.getOrElse(key, "(absent)")}, query expects $want"
    }
    require(drift.isEmpty,
      s"ANN index at $idxDir was trained under a different epoch/params — " +
        s"${drift.mkString("; ")}. Rebuild via CALL <catalog>.system." +
        "build_ann_index before serving")
  }

  /** Coarse centroids `(cell, cv, cn)` — tiny (k rows), broadcast by
    * every consumer. */
  def loadCoarseCentroids(s: SparkSession, idxDir: String): DataFrame =
    cellsOf(s, idxDir)
      .filter(col("k").startsWith("c:") && col("name") === "cv")
      .select(substring(col("k"), 3, 5).cast("int").as("cell"),
        unpack_doubles(col("value")).as("cv"))
      .withColumn("cn", sqrt(vector_dot(col("cv"), col("cv"))))

  /** PQ codebooks `(sub, cell, cv, cn)` — m×k rows. */
  def loadPqCodebooks(s: SparkSession, idxDir: String): DataFrame =
    cellsOf(s, idxDir)
      .filter(col("k").startsWith("p:") && col("name") === "cv")
      .select(element_at(split(col("k"), ":"), 2).cast("int").as("sub"),
        element_at(split(col("k"), ":"), 3).cast("int").as("cell"),
        unpack_doubles(col("value")).as("cv"))
      .withColumn("cn", sqrt(vector_dot(col("cv"), col("cv"))))

  /** Per-vector coarse assignment `(vec_id, cell)` — the narrow serving
    * relation (corpus-sized rows, two columns; shuffles on vec_id or
    * cell, never the vectors). */
  def loadVectorCells(s: SparkSession, idxDir: String): DataFrame =
    cellsOf(s, idxDir)
      .filter(col("k").startsWith("v:") && col("name") === "cell")
      .select(substring(col("k"), 3, 12).cast("long").as("vec_id"),
        col("value").cast("string").cast("int").as("cell"))

  /** Per-vector PQ codes `(vec_id, code0..code{m-1})`. */
  def loadVectorCodes(s: SparkSession, idxDir: String, m: Int): DataFrame = {
    val aggs = (0 until m).map(i =>
      max(when(col("name") === s"code$i",
        col("value").cast("string").cast("int"))).as(s"code$i"))
    cellsOf(s, idxDir)
      .filter(col("k").startsWith("v:") && col("name").startsWith("code"))
      .groupBy(substring(col("k"), 3, 12).cast("long").as("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-vector PQ codes AND coarse cell `(vec_id, code0..code{m-1},
    * cell)` from ONE index scan: the IVFPQ serving shape could
    * inner-join [[loadVectorCodes]] with
    * [[loadVectorCells]] — a second full scan of the same table plus a
    * corpus-sized shuffle join on vec_id at scale. One grouped pass
    * yields both; the trailing filter reproduces the inner-join
    * semantics exactly (keep a vector only when it has BOTH a cell
    * column and at least one code column). */
  def loadVectorCodesWithCells(s: SparkSession, idxDir: String,
                               m: Int): DataFrame = {
    val aggs = (0 until m).map(i =>
      max(when(col("name") === s"code$i",
        col("value").cast("string").cast("int"))).as(s"code$i")) ++ Seq(
      max(when(col("name") === "cell",
        col("value").cast("string").cast("int"))).as("cell"),
      count(when(col("name").startsWith("code"), lit(1))).as("_ncodes"))
    cellsOf(s, idxDir)
      .filter(col("k").startsWith("v:") &&
        (col("name").startsWith("code") || col("name") === "cell"))
      .groupBy(substring(col("k"), 3, 12).cast("long").as("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("cell").isNotNull && col("_ncodes") > 0)
      .drop("_ncodes")
  }

  /** Coarse assignment of `vecs` (vec_id, v, nrm) under PERSISTED
    * centroids — the EXACT rule of training's final pass (max cosine;
    * exact tie → lowest cell id), so encoding a vector incrementally is
    * bit-identical to what a training run that ended on these centroids
    * would have assigned. */
  def assignCoarse(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val sim = vector_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cell"), sim.as("csim"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("csim"), -col("cell"))).as("cell"))
  }

  /** PQ encoding of `vecs` under persisted codebooks — same subvector
    * slicing and assignment rule as [[SimilarityQueries.pqTrain]]'s
    * final pass. Returns (vec_id, code0..code{m-1}). */
  def assignPq(vecs: DataFrame, cents: DataFrame, m: Int): DataFrame = {
    val subLen = (size(col("v")) / m).cast("int")
    val subs = vecs.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("sub"), col("vec_id"),
        slice(col("v"), col("sub") * subLen + 1, subLen).as("v"))
      .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
    val sim = vector_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    val assigned = subs.join(broadcast(cents), "sub")
      .select(col("sub"), col("vec_id"), sim.as("csim"), col("cell"))
      .groupBy("sub", "vec_id")
      .agg(max_by(col("cell"), struct(col("csim"), -col("cell"))).as("cell"))
    val aggs = (0 until m).map(i =>
      max(when(col("sub") === i, col("cell"))).as(s"code$i"))
    assigned.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Loud refusal when exact-rerank serving asks a non-covering index
    * for raw vectors. */
  def requireStoredVectors(s: SparkSession, idxDir: String): Unit =
    require(meta(s, idxDir).get("store_vectors").contains("true"),
      s"ANN index at $idxDir does not store raw vectors — exact rerank " +
        "needs the covering-index mode. Rebuild with CALL " +
        "build_ann_index(..., store_vectors => true)")

  /** Raw vectors for EXACTLY the asked vec_ids, via [[SSTableOps
    * .lookupJoin]] point reads of their `v:` rows — the exact-rerank
    * fetch (FAISS's IVFPQR / DiskANN reorder step): a query's PQ
    * shortlist is tiny (queries × rerank depth), so re-scoring it from
    * true vectors costs O(shortlist × generations) seeks at ANY index
    * size, while recovering the recall the 4-byte codes quantized away.
    * The embedding table itself is never touched. Requires a
    * covering index ([[requireStoredVectors]]); duplicate ids are
    * dedup'd; ids the index has never seen produce no row (the callers'
    * join-drops-unknown contract). Returns (vec_id, v, nrm) — the same
    * shape every scorer consumes, norms derived exactly as at load. */
  def loadVectorsFor(s: SparkSession, idxDir: String,
                     ids: DataFrame): DataFrame = {
    requireStoredVectors(s, idxDir)
    SSTableOps.lookupJoin(
        ids.select(concat(lit("v:"),
          lpad(col("vec_id").cast("string"), 12, "0"))
          .cast("binary").as("key")).dropDuplicates("key"), idxDir)
      .select(substring(col("key").cast("string"), 3, 12)
        .cast("long").as("vec_id"), explode(col("columns")).as("c"))
      .filter(col("c.name").cast("string") === "vec")
      .select(col("vec_id"), unpack_doubles(col("c.value")).as("v"))
      .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
  }

  /** vec_ids currently indexed. Append-only indexes (the common case)
    * use a key-only raw scan of the `v:` rows (Index.db sidecars only;
    * same probe shape as the signature store's); once a
    * [[retractVectors]] epoch exists the probe switches to the
    * delete-aware scan so retracted ids read as novel (re-addable). */
  def indexedVecIds(s: SparkSession, idxDir: String): DataFrame = {
    val raw = s.read.format("sstable")
    val reader = if (DerivedStore.hasFlag(idxDir,
        DerivedStore.storageOf(s, idxDir), "retracted"))
      raw.option(graft.sources.sstable.spark.SSTableSource.ApplyDeletesOption,
        "true")
    else raw
    reader.load(idxDir).select(col("key").cast("string").as("k"))
      .filter(col("k").startsWith("v:"))
      .select(substring(col("k"), 3, 12).cast("long").as("vec_id"))
  }

  /** Incremental vector ingestion (the lifecycle twin of the signature
    * store): encode ONLY the corpus vectors absent from the index,
    * using the PERSISTED quantizers — centroids and codebooks are
    * trained rarely (at build), new vectors pay one broadcast
    * assignment pass, appended as ONE generation. Returns (seen,
    * encoded, alreadyIndexed, health warning). */
  def update(s: SparkSession, qualifiedTable: String, idxDir: String,
             sourceDir: String,
             ledgerDir: Option[String] = None): (Long, Long, Long, String) = {
    val e = SimilarityQueries.embWithNorm(s, sourceDir)
    val seen = e.count()
    DerivedStore.maintain(s, idxDir, "update_ann_index",
      consult = () => TakedownLedger.consult(s, ledgerDir,
        e.select(col("vec_id").as("doc_id")), "update_ann_index",
        qualifiedTable, corpus = Some(sourceDir)),
      epoch = DerivedStore.nextEpoch(idxDir),
      afterRelease = () => DerivedStore.runTableAutocompact(s, idxDir)) {
      (idxStorage, epoch) =>
        // the pin is read UNDER the lease, so it cannot be stale against
        // a cover_ann_index that completed before our acquire
        val m0 = meta(s, idxDir)
        require(m0.nonEmpty && m0.contains("kind"),
          s"$qualifiedTable carries no ANN-index _meta row — build it with " +
            "CALL build_ann_index first")
        require(m0.get("source").contains(sourceDir),
          s"index $qualifiedTable was built over '${m0.getOrElse("source", "?")}' " +
            s"— refusing to ingest vectors from '$sourceDir' (an index must " +
            "follow ONE corpus; rebuild to retarget)")
        val dim = m0("dim").toInt
        val (novelSrc, releaseIds) =
          SignatureStore.gatedNovelJoin(e, indexedVecIds(s, idxDir), "vec_id")
        DerivedStore.withDelta(novelSrc, releaseIds) { (novel, encoded) =>
          if (encoded > 0) {
            val badDim = novel.filter(size(col("v")) =!= dim).count()
            require(badDim == 0,
              s"$badDim new vector(s) have a dimension != the index's $dim — " +
                "the corpus changed shape; rebuild the index")
            checkVecIdRange(novel, "update_ann_index: the novel slice")
            DerivedStore.append(s, qualifiedTable,
              encodeRows(novel, m0, epoch, idxDir)
                .unionAll(DerivedStore.epochMetaRow(s, epoch)))
          }
          // a covering index's maintainer samples drift over the
          // committed batch (still under the lease); non-covering
          // indexes skip — the statistic would need corpus IO
          val health =
            if (encoded > 0 && m0.get("store_vectors").contains("true"))
              appendHealthSample(s, qualifiedTable, idxDir, idxStorage, epoch,
                m0, novel.select(col("vec_id"), col("v"), col("nrm")),
                DerivedStore.append(s, qualifiedTable, _))
            else ""
          (seen, encoded, seen - encoded, health)
        }
    }(_._2 > 0)
  }

  /** COVERING-INDEX UPGRADE: backfill raw-vector (`vec`) cells for an
    * EXISTING non-covering index from its pinned corpus, in one pass,
    * without retraining — without it, enabling exact rerank on an index
    * built without `store_vectors` would mean a full rebuild, Lloyd
    * iterations and PQ
    * codebook training included, just to add cells the quantizers
    * never read.
    *
    * Drift refusal (the content-hash pattern, adapted): the index
    * stores no raw vectors to hash against, but it DOES store every
    * vector's quantizer assignments — so the pass re-encodes the
    * corpus rows under the PERSISTED quantizers and requires the
    * result to match the stored `cell`/`code*` values exactly. A
    * corpus whose vectors changed since indexing re-assigns
    * differently and refuses naming the ids (backfilling the CURRENT
    * vectors against stale assignments would serve rerank results the
    * ADC shortlist never meant); ids the corpus no longer holds refuse
    * too (nothing to backfill from — rebuild, or retract them first).
    * The check is not a bijection — a drifted vector can land on its
    * old assignments — but it bounds the damage to vectors the index
    * would ALREADY be mis-serving via its codes, exactly the rebuild
    * case the drift statistic exists to surface.
    *
    * One ATOMIC append: every live `v:` row's `vec` cell (stamped with
    * the row's own registered write epoch, so a later retraction's
    * tombstone shadows the backfilled cell exactly like its siblings)
    * PLUS the `_meta` `store_vectors=true` flip riding the same
    * commit — a crash leaves the whole upgrade or none of it.
    * Idempotent: an already-covering index no-ops. Runs under the
    * maintenance lease. Returns (covered, alreadyCovering). */
  def cover(s: SparkSession, qualifiedTable: String, idxDir: String,
            sourceDir: String): (Long, Boolean) = {
    val m0 = meta(s, idxDir)
    require(m0.nonEmpty && m0.contains("kind"),
      s"$qualifiedTable carries no ANN-index _meta row — build it with " +
        "CALL build_ann_index first")
    require(m0.get("source").contains(sourceDir),
      s"index $qualifiedTable was built over '${m0.getOrElse("source", "?")}' " +
        s"— refusing to backfill vectors from '$sourceDir' (an index " +
        "follows ONE corpus)")
    if (m0.get("store_vectors").contains("true")) return (0L, true)
    val kind = m0("kind")
    val dim = m0("dim").toInt
    val pqM = m0("m").toInt
    DerivedStore.maintain(s, idxDir, "cover_ann_index", consult = () => (),
      epoch = DerivedStore.nextEpoch(idxDir),
      afterRelease = () => DerivedStore.runTableAutocompact(s, idxDir)) {
      (storage, epoch) =>
      // ONE delete-aware scan of the v: rows yields both the live id
      // set and each row's registered write epoch
      val epochs = s.read.format("sstable")
        .option(graft.sources.sstable.spark.SSTableSource
          .ApplyDeletesOption, "true")
        .load(idxDir)
        .select(col("key").cast("string").as("k"),
          explode(col("columns")).as("c"))
        .filter(col("k").startsWith("v:"))
        .groupBy(substring(col("k"), 3, 12).cast("long").as("vec_id"))
        .agg(max(col("c.timestamp")).as("epoch"))
      val live = epochs.select("vec_id")
      val corpus = SimilarityQueries.embWithNorm(s, sourceDir)
      val joined = live.join(corpus, Seq("vec_id"))
      try {
        // persist INSIDE the try: a construction failure between
        // persist() and try-entry would leak the registrations
        epochs.persist(); joined.persist()
        val stats = joined.agg(count(lit(1)),
          coalesce(sum(when(size(col("v")) =!= dim, 1L)), lit(0L))).head()
        val have = stats.getLong(0)
        val gone = live.join(corpus.select("vec_id"), Seq("vec_id"),
            "left_anti").limit(5).collect().map(_.getLong(0))
        require(gone.isEmpty,
          s"indexed vec_id(s) ${gone.mkString(", ")} no longer exist in " +
            s"the corpus at $sourceDir — there is nothing to backfill " +
            "their vectors from. Retract them first (CALL " +
            "retract_ann_vectors) or rebuild the index")
        require(stats.getLong(1) == 0,
          s"${stats.getLong(1)} corpus vector(s) have a dimension != " +
            s"the index's $dim — the corpus changed shape; rebuild")
        // the drift refusal: current corpus vectors must re-encode to
        // EXACTLY the stored assignments under the persisted quantizers
        if (kind != "pq") {
          val drift = assignCoarse(joined, loadCoarseCentroids(s, idxDir))
            .join(loadVectorCells(s, idxDir)
              .withColumnRenamed("cell", "stored"), "vec_id")
            .filter(col("cell") =!= col("stored"))
            .select("vec_id").limit(5).collect().map(_.getLong(0))
          require(drift.isEmpty,
            s"corpus vectors for vec_id(s) ${drift.mkString(", ")} " +
              "re-assign to different coarse cells than the index " +
              s"stores — the corpus at $sourceDir drifted since " +
              "indexing; backfilling the current vectors against stale " +
              "assignments would corrupt rerank. Rebuild the index")
        }
        if (kind != "ivf") {
          val fresh = assignPq(joined, loadPqCodebooks(s, idxDir), pqM)
          val stored = loadVectorCodes(s, idxDir, pqM)
          val cond = (0 until pqM).map(i =>
            fresh(s"code$i") =!= stored(s"code$i")).reduce(_ || _)
          val drift = fresh.join(stored, "vec_id").filter(cond)
            .select(fresh("vec_id")).limit(5).collect().map(_.getLong(0))
          require(drift.isEmpty,
            s"corpus vectors for vec_id(s) ${drift.mkString(", ")} " +
              "re-encode to different PQ codes than the index stores — " +
              s"the corpus at $sourceDir drifted since indexing. " +
              "Rebuild the index")
        }
        // each row's vec cell rides ITS OWN registered write epoch (the
        // max live cell timestamp, from the shared scan above), so
        // retraction tombstones shadow the backfilled cell exactly like
        // the cells it joins
        val vecRows = DerivedStore.rows(joined.join(epochs, "vec_id"),
          vecKey(col("vec_id")),
          bytesCell(lit("vec"), pack_doubles(col("v")), col("epoch")))
        // the flag flip rides the SAME atomic commit as the cells it
        // announces (retraction needs its tombstone generation pure;
        // nothing forces a split here, so the upgrade is all-or-nothing)
        DerivedStore.recorded(storage, idxDir, "cover_ann_index",
            s"vectors=$have epoch=$epoch") {
          DerivedStore.append(s, qualifiedTable, vecRows.unionAll(
            DerivedStore.epochMetaRow(s, epoch, "store_vectors" -> "true")))
        }
        (have, false)
      } finally { joined.unpersist(); epochs.unpersist() }
    }(_._1 > 0)
  }

  /** Vector RETRACTION — remove vectors from the index without
    * retraining or rescanning anything, by the [[DerivedStore.retract]]
    * template: the chosen `v:` rows are row-tombstoned at the
    * retraction's epoch, so every loader, the snapshot and the rerank
    * point reads stop serving them, and a later re-addition (update or
    * streaming ingest) rises above the mark. `where` selects over the
    * INDEX's own ids — `vec_id`, also exposed as `doc_id` so one
    * takedown predicate spans every store — with no embedding read, so
    * vectors with no surviving copy anywhere retract fine. Centroids and
    * codebooks are untouched (quantizers are trained artifacts, not
    * member data). Returns (retracted, epoch); epoch 0 = nothing
    * matched, nothing written. */
  def retractVectors(s: SparkSession, qualifiedTable: String, idxDir: String,
                     whereSql: String): (Long, Int) = {
    val m0 = meta(s, idxDir)
    require(m0.nonEmpty && m0.contains("kind"),
      s"$qualifiedTable carries no ANN-index _meta row — nothing to " +
        "retract from")
    DerivedStore.retract(s, idxDir, "retract_ann_vectors", "retracted", "ann",
      ids = () => indexedVecIds(s, idxDir)
        .withColumn("doc_id", col("vec_id"))
        .filter(expr(whereSql)).select("vec_id"),
      tombstones = (ids, epoch) =>
        DerivedStore.rowTombstones(ids, vecKey(col("vec_id")), epoch),
      detail = (n, epoch) => s"vectors=$n epoch=$epoch",
      afterRelease = () => DerivedStore.runTableAutocompact(s, idxDir))
  }

  /** QUANTIZER DRIFT STATISTIC.
    * Retraction + re-admission churn never retrains centroids or
    * codebooks — correct (quantizers are trained artifacts, not member
    * data) — but nothing measured how far the corpus has shifted from
    * the distribution the quantizers were trained on, so recall decays
    * SILENTLY until someone reruns a recall audit by hand. This CALL
    * computes, with ZERO corpus IO on a covering index, each live
    * vector's best-assignment cosine similarity under the PERSISTED
    * quantizers (coarse centroids for ivf/ivfpq; per-subspace codebook
    * mean for pq) and compares the BUILD epoch's vectors against every
    * POST-BUILD epoch's:
    *  - same-distribution ingest assigns about as well as the training
    *    set did → drift ratio ≈ 1;
    *  - a shifted corpus slice assigns WORSE (its vectors sit far from
    *    every centroid) → the post-build error (1 - similarity) grows,
    *    and the ratio rises with it.
    * Epoch grouping needs no bookkeeping: every `vec` cell already
    * carries its row's registered write epoch as its timestamp, and
    * the build's cells carry the smallest. Guidance (the receipt's
    * contract, spec-pinned): ratio ≈ 1 → healthy; sustained ratio
    * above ~1.5 with a material nPost → the quantizers no longer
    * represent the corpus, schedule a rebuild (`CALL build_ann_index`
    * retrains; serving swaps atomically).
    *
    * Returns (nBuild, nPost, buildMeanSim_e4, postMeanSim_e4,
    * buildP05Sim_e4, postP05Sim_e4, driftRatio_e4, missing) where
    * ratio = (1 - postMean) / (1 - buildMean), 10000 = 1.0; nPost == 0
    * reports ratio 10000 (nothing ingested since build — nothing to
    * drift); missing is always 0 unless `tolerateMissing` accepted
    * uncovered fallback vectors (see below). */
  def drift(s: SparkSession, qualifiedTable: String, idxDir: String,
            sourceDir: Option[String] = None,
            tolerateMissing: Boolean = false)
      : (Long, Long, Long, Long, Long, Long, Long, Long) = {
    val m0 = meta(s, idxDir)
    require(m0.nonEmpty && m0.contains("kind"),
      s"$qualifiedTable carries no ANN-index _meta row — build it with " +
        "CALL build_ann_index first")
    // the corpus-IO FALLBACK: a non-covering
    // index over a drifting corpus could previously neither measure its
    // drift (this refusal) nor upgrade to become measurable (cover
    // refuses on drift) — the only move was a blind rebuild. Passing
    // source_dir breaks the circle at the honest price of one corpus
    // scan: epochs come from the index's own assignment cells, vectors
    // from the pinned corpus. A covering index ignores source_dir and
    // keeps the zero-corpus-IO path.
    val covering = m0.get("store_vectors").contains("true")
    val corpus: Option[DataFrame] = if (covering) None else Some {
      val src = sourceDir.getOrElse(throw new IllegalArgumentException(
        s"ANN index at $idxDir does not store raw vectors — the " +
          "zero-IO drift statistic reads them from `vec` cells. Either " +
          "upgrade with CALL cover_ann_index, or pass source_dir => " +
          "<the pinned corpus> for the corpus-IO fallback"))
      require(m0.get("source").contains(src),
        s"index $qualifiedTable was built over " +
          s"'${m0.getOrElse("source", "?")}' — refusing a drift " +
          s"measurement against '$src' (a different corpus would " +
          "measure a different distribution)")
      SimilarityQueries.embWithNorm(s, src)
    }
    // the fallback joins the index's epoch stamps LEFT onto the corpus
    // and persists the ONE joined frame: the coverage guard and the
    // statistic read the same materialized snapshot, so a concurrent
    // ingest/retraction between two separate index reads can no longer
    // make them disagree spuriously
    val base = corpus match {
      case None => assignmentSims(s, idxDir, m0("kind"), m0("m").toInt, None)
      case Some(src) =>
        epochStamps(s, idxDir, m0("kind"))
          .join(src.select(col("vec_id"), col("v"), col("nrm")),
            Seq("vec_id"), "left")
    }
    val joined = base.persist()
    try {
      // fallback-coverage guard: every LIVE index vector must find its
      // corpus row — a silently-dropped vector would BIAS the statistic
      // (the drop is invisible in the means). Rows gone from the corpus
      // but live in the index are either pending retraction (do that
      // first) or a corpus rewrite (cover the index before it happens).
      // tolerate_missing measures over the
      // covered subset instead and reports the dropped count in the
      // receipt — unblocking measurement DURING live corpus churn at
      // the honest price of a caveat.
      val missing = if (corpus.isEmpty) 0L
        else joined.filter(col("v").isNull).count()
      if (missing > 0 && !tolerateMissing) {
        val live = joined.count()
        throw new IllegalArgumentException(
          s"the corpus no longer holds $missing of the index's " +
            s"$live live vectors — their drift cannot be measured from " +
            "corpus IO. Retract them (CALL retract_ann_vectors), " +
            "upgrade to a covering index before the corpus moves, or " +
            "pass tolerate_missing => true to measure over the covered " +
            "subset (the receipt then reports the uncovered count)")
      }
      val grouped = corpus match {
        case None => joined
        case Some(_) => scoreAssignments(s, idxDir, m0("kind"),
          m0("m").toInt, joined.filter(col("v").isNotNull))
      }
      // an index whose LIVE vector set is empty (a full takedown
      // retracted everything) has nothing to measure — a clean healthy
      // receipt, not an NPE on the null min(ts)
      val tsRow = grouped.agg(min(col("ts"))).head()
      if (tsRow.isNullAt(0))
        return (0L, 0L, 10000L, 10000L, 10000L, 10000L, 10000L, missing)
      val buildTs = tsRow.getLong(0)
      val stats = grouped
        .select(col("sim"), (col("ts") === buildTs).as("isBuild"))
        .groupBy("isBuild")
        .agg(count(lit(1)).as("n"), avg(col("sim")).as("mean"),
          expr("percentile(sim, 0.05)").as("p05"))
        .collect().map(r => r.getBoolean(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val (nB, meanB, p05B) = stats.getOrElse(true, (0L, 1.0, 1.0))
      val (nP, meanP, p05P) = stats.getOrElse(false, (0L, 1.0, 1.0))
      def e4(x: Double): Long = math.floor(x * 10000 + 0.5).toLong
      // the denominator floors at the e4 resolution: a
      // degenerate-but-valid build whose vectors assign PERFECTLY
      // (k >= nBuild — each vector its own centroid, meanB == 1.0)
      // must not mask arbitrarily bad post-build drift behind a
      // "healthy" 1.0 ratio; with the floor, perfect-build + drifting
      // post yields the huge ratio the rebuild runbook keys on. A
      // post set that itself assigns perfectly reports the neutral
      // 10000 like every other no-drift path (not a confusing 0).
      val ratio =
        if (nP == 0 || meanP >= 1.0) 10000L
        else e4((1.0 - meanP) / math.max(1.0 - meanB, 1e-4))
      (nB, nP, e4(meanB), e4(meanP), e4(p05B), e4(p05P), ratio, missing)
    } finally joined.unpersist()
  }

  /** `(vec_id, ts)` ingest-epoch stamps of every live index vector,
    * read from the assignment cells (every cell of a `v:` row carries
    * its row's registered write epoch) — the corpus-IO fallback's
    * index-side relation. */
  private def epochStamps(s: SparkSession, idxDir: String,
                          kind: String): DataFrame = {
    val epochCell = if (kind == "pq") "code0" else "cell"
    s.read.format("sstable")
      .option(graft.sources.sstable.spark.SSTableSource.ApplyDeletesOption,
        "true")
      .load(idxDir)
      .select(col("key").cast("string").as("k"),
        explode(col("columns")).as("c"))
      .filter(col("k").startsWith("v:") &&
        col("c.name").cast("string") === epochCell)
      .select(substring(col("k"), 3, 12).cast("long").as("vec_id"),
        col("c.timestamp").as("ts"))
  }

  /** Per-vector best-assignment cosine `(vec_id, ts, sim)` under the
    * index's PERSISTED quantizers, each vector stamped with its ingest
    * epoch — read entirely from the covering index's `v:` rows (zero
    * corpus IO). Best-assignment = max cosine against the coarse
    * centroids (ivf/ivfpq); pq-only indexes score the mean over
    * subspaces of the best codebook-entry cosine. Shared by [[drift]]
    * (the aggregate staleness receipt) and the hash-gated
    * `q_ann_drift` relation (per-vector rows, so the oracle compare
    * never sums floats across rows). */
  private[graft] def assignmentSims(s: SparkSession, idxDir: String,
                                    kind: String, pqM: Int,
                                    corpus: Option[DataFrame] = None)
      : DataFrame = {
    // the vector relation: covering indexes read (vec_id, ts, v) from
    // their own `vec` cells — zero corpus IO; the corpus-IO FALLBACK
    // reads the ingest-epoch stamps from the
    // index's assignment cells (every cell of a v: row carries its
    // row's registered write epoch) and fetches the raw vectors from
    // the PINNED corpus instead — one corpus scan, the honest price of
    // measuring drift on a non-covering index.
    val vecs = corpus match {
      case None => s.read.format("sstable")
        .option(graft.sources.sstable.spark.SSTableSource.ApplyDeletesOption,
          "true")
        .load(idxDir)
        .select(col("key").cast("string").as("k"),
          explode(col("columns")).as("c"))
        .filter(col("k").startsWith("v:") &&
          col("c.name").cast("string") === "vec")
        .select(substring(col("k"), 3, 12).cast("long").as("vec_id"),
          col("c.timestamp").as("ts"),
          unpack_doubles(col("c.value")).as("v"))
        .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
      case Some(src) =>
        epochStamps(s, idxDir, kind)
          .join(src.select(col("vec_id"), col("v"), col("nrm")),
            Seq("vec_id"))
    }
    scoreAssignments(s, idxDir, kind, pqM, vecs)
  }

  /** Best-assignment cosine of a `(vec_id, ts, v, nrm)` relation under
    * the index's PERSISTED quantizers — the scoring shared by the full
    * statistic above and the per-epoch health sample (which scores ONLY
    * the committed batch: O(batch × k), never O(index)). */
  private[graft] def scoreAssignments(s: SparkSession, idxDir: String,
                                      kind: String, pqM: Int,
                                      vecs: DataFrame): DataFrame = {
    if (kind != "pq") {
      val sim = vector_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
      vecs.crossJoin(broadcast(loadCoarseCentroids(s, idxDir)))
        .select(col("vec_id"), col("ts"), sim.as("sim"))
        .groupBy("vec_id", "ts").agg(max(col("sim")).as("sim"))
    } else {
      // pq-only: mean over subspaces of the best codebook-entry sim
      val subLen = (size(col("v")) / pqM).cast("int")
      val subs = vecs.select(col("vec_id"), col("ts"),
          explode(sequence(lit(0), lit(pqM - 1))).as("sub"), col("v"))
        .select(col("vec_id"), col("ts"), col("sub"),
          slice(col("v"), col("sub") * subLen + 1, subLen).as("v"))
        .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
      val sim = vector_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
      subs.join(broadcast(loadPqCodebooks(s, idxDir)), "sub")
        .select(col("vec_id"), col("ts"), col("sub"), sim.as("sim"))
        .groupBy("vec_id", "ts", "sub").agg(max(col("sim")).as("sim"))
        .groupBy("vec_id", "ts").agg(avg(col("sim")).as("sim"))
    }
  }

  /** DRIFT HEALTH LEDGER: the drift
    * statistic used to be on-demand only — recall decay between CALLs
    * was silent, the operator-memory defect class. Now every COVERING
    * index's maintainer appends a `_health` sample at each committed
    * ingest epoch (batch [[update]] and the streaming ingest alike):
    * one `h:<epoch>` cell carrying `driftRatio_e4,n`, stamped with the
    * epoch. Each sample scores ONLY that epoch's batch against the
    * pinned `health_base` baseline — O(batch × k), zero corpus AND
    * zero index IO (the first sample per index pins the base with one
    * full [[drift]] pass); a non-covering index skips silently
    * (measure on demand with the `source_dir` fallback). The series is
    * BOUNDED: each append plants DELETED markers for samples beyond
    * the newest [[HealthSamples]], so the row never becomes the
    * unbounded-width defect the df store's consolidation exists to
    * fix. A `drift_warn` threshold pinned at build (`_meta` cell, e4
    * units) additionally makes the ingest receipt carry a LOUD warning
    * when the fresh sample exceeds it — the rebuild runbook's trigger,
    * in the receipt the operator already reads. Unset = samples only,
    * no warning (no behavior change). */
  val HealthSamples = 64
  private val HealthKey = "_health"

  /** Live health samples `(epoch, driftRatio_e4, nPost)`, oldest
    * first — one driver-side point read. */
  def healthSamples(s: SparkSession, idxDir: String): Seq[(Int, Long, Long)] = {
    graft.sources.sstable.SSTableReader.liveCellMap(idxDir,
        DerivedStore.storageOf(s, idxDir), HealthKey)
      .toSeq.collect { case (n, v) if n.startsWith("h:") =>
        val parts = v.split(",")
        (n.stripPrefix("h:").toInt, parts(0).toLong, parts(1).toLong)
      }.sortBy(_._1)
  }

  /** Append the bounded per-epoch health sample after a committed
    * ingest (still under the maintainer's lease). Scale discipline
    *: scoring the WHOLE index per micro-batch would make
    * ingest cost O(index × k) — instead the sample scores ONLY this
    * epoch's committed slice (`novel`: the (vec_id, v, nrm) batch,
    * O(batch × k), zero extra index IO) against a `health_base`
    * baseline (the build slice's mean assignment sim, e4) pinned in
    * `_meta`. The base is pinned LAZILY by the first sample — ONE full
    * [[drift]] pass per index lifetime (which also serves as that
    * first sample and covers indexes built or covered before the base
    * existed); every later sample is batch-sized. Returns the receipt
    * warning ("" unless `drift_warn` is pinned and exceeded). `write`
    * is the caller's append (the batch updater INSERTs into its
    * catalog table; the streaming ingest saves with its replay-scoped
    * job tag). */
  private[graft] def appendHealthSample(s: SparkSession, qualifiedTable: String,
                                 idxDir: String,
                                 storage: graft.sources.sstable.Storage,
                                 epoch: Int, m0: Map[String, String],
                                 novel: DataFrame,
                                 write: DataFrame => Unit): String = {
    def e4(x: Double): Long = math.floor(x * 10000 + 0.5).toLong
    val (ratio, nPost, pinBase) = m0.get("health_base") match {
      case Some(b) =>
        val baseMean = b.toLong / 10000.0
        val st = scoreAssignments(s, idxDir, m0("kind"), m0("m").toInt,
            novel.select(col("vec_id"), lit(epoch.toLong).as("ts"),
              col("v"), col("nrm")))
          .agg(count(lit(1)), avg(col("sim"))).head()
        val n = st.getLong(0)
        val mean = if (n == 0) 1.0 else st.getDouble(1)
        val r = if (n == 0 || mean >= 1.0) 10000L
          else e4((1.0 - mean) / math.max(1.0 - baseMean, 1e-4))
        (r, n, None)
      case None =>
        val (_, nPost, mb, _, _, _, ratio, _) = drift(s, qualifiedTable, idxDir)
        (ratio, nPost, Some(mb))
    }
    val evict = graft.sources.sstable.SSTableReader
      .liveCellMap(idxDir, storage, HealthKey)
      .keys.filter(_.startsWith("h:")).toSeq.sorted.reverse
      .drop(HealthSamples - 1)
    val ts = lit(epoch.toLong)
    val healthRow = DerivedStore.row(s, HealthKey,
      textCell(lit(s"h:${DerivedStore.epochTag(epoch)}"), lit(s"$ratio,$nPost"),
        ts) +: evict.map(n => DerivedStore.deletedCell(lit(n), ts)): _*)
    // the lazily-pinned base rides the same append as the sample that
    // computed it (a _meta LWW cell — later samples read it and skip
    // the full pass forever)
    val rows = pinBase.map(mb => healthRow.unionAll(
      DerivedStore.row(s, DerivedStore.MetaKey,
        textCell(lit("health_base"), lit(mb), ts)))).getOrElse(healthRow)
    write(rows)
    val warn = m0.get("drift_warn").map(_.toLong).filter(_ > 0)
    warn.filter(ratio > _).map(w =>
      s"DRIFT WARNING: driftRatio_e4=$ratio exceeds drift_warn=$w " +
        s"(nPost=$nPost) — the quantizers no longer represent the " +
        "corpus; schedule CALL build_ann_index").getOrElse("")
  }
}
