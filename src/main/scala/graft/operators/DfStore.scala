package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.sstable.Storage
import Params._
import DerivedStore.{deletedCell, textCell}

/** Persisted corpus statistics — the document-frequency (IDF) store.
  * `CALL update_doc_freqs(table, source_dir[, where])` counts only the
  * documents absent from the store and appends their PARTIAL per-unit
  * document frequencies as one epoch; serving reads total df and n_docs
  * from this vocabulary-sized table instead of re-aggregating the
  * corpus. Layout, keys and the maintainer order are [[DerivedStore]]'s;
  * this store adds additive partials, the unit pin and the additivity
  * sentinel.
  *
  * Additivity is the design key. Novel-doc sets are DISJOINT across
  * epochs (the `d:` key probe guarantees it), so per-epoch partial
  * counts SUM to the exact corpus df — and each epoch's counts live in
  * cells named `df:<epoch>`, so the LWW column-union merge of
  * compaction folds generations WITHOUT losing a partial: distinct cell
  * names never reconcile against each other (a same-named counter cell
  * would be LWW'd down to one epoch's count).
  *
  * The counted UNIT is `term` (lowercase-alpha tokens, the TF-IDF/IDF
  * store) or `para` ([[Params.ParaWords]]-word paragraph md5 digests,
  * the boilerplate-removal statistic). Both reduce to the same additive
  * partial: distinct docs per unit within an epoch.
  *
  * Rows beyond the shared layout:
  *  - `_meta` — `source` + `unit` pin the corpus directory and counted
  *    unit; serving and later updates refuse a retargeted store.
  *  - `_n` — one cell `n:<tag>` per epoch holding that epoch's novel-doc
  *    count; n_docs = the sum.
  *  - `d:<doc_id>` — membership marker: `e` (epoch) and `h` (md5 of the
  *    counted text, so a retraction can verify it subtracts what was
  *    counted), stamped with the epoch.
  *  - `t:<term>` — per epoch that saw the term, `df:<tag>` (docs
  *    containing it) and `cf:<tag>` (total occurrences); the totals are
  *    the sums across cells.
  *
  * Partial cells are written once per name, with a fixed timestamp, so
  * identical update sequences produce hash-identical stores. */
object DfStore {

  private val MetaKey = DerivedStore.MetaKey
  private val NKey = "_n"

  /** Default `autoconsolidate` bound for a NEW batch-maintained store —
    * same value as the streaming maintainer's
    * [[graft.streaming.StreamingDfUpdate.DefaultConsolidateAbove]]. */
  val DefaultAutoConsolidate = 64

  private def markerKey(docId: Column) = DerivedStore.idKey("d:", docId)

  private def requireDocIdRange(lo: Long, hi: Long, what: String): Unit =
    DerivedStore.requireKeyRange(lo, hi, what, "doc_id")

  private def hasRetractions(storeDir: String, storage: Storage): Boolean =
    DerivedStore.hasFlag(storeDir, storage, "retracted")

  /** doc_ids currently counted: a key-only raw scan of the `d:` markers,
    * switched to the reconciled scan once a [[retract]] flag exists so
    * retracted docs read as novel (re-admittable). */
  def storedDocIds(s: SparkSession, storeDir: String): DataFrame = {
    val storage = DerivedStore.storageOf(s, storeDir)
    val markers = s.read.format("sstable").load(storeDir)
      .filter(col("key").cast("string").startsWith("d:"))
    // marker rows only enter the reconcile — the vocabulary (t:) rows,
    // the store's bulk, never pay the delete-aware path
    val rows = if (hasRetractions(storeDir, storage))
      SSTableOps.suppressTombstones(markers) else markers
    rows.select(DerivedStore.idOfKey(col("key")).as("doc_id"))
  }

  /** Additivity audit — the df store's corruption sentinel. Unlike the
    * signature and ANN stores (keyed per doc: a contract-violating
    * double ingest collapses harmlessly under LWW merge), this store's
    * statistics are ADDITIVE: the same doc counted by two epochs
    * corrupts every total SILENTLY. The invariant `Σ n-partials ==
    * distinct d: markers, with no duplicate marker row versions` holds
    * under correct operation (each epoch appends exactly its novel
    * docs) and breaks under any duplicating interleave — two concurrent
    * updates over the same delta, or an update whose novelty probe read
    * a mid-DROP residue before an undrop restored the full marker set.
    * One key-only scan verifies it; [[update]] runs it after every
    * append so a violation is LOUD on the very call that caused it.
    * Returns the live membership-marker count it verified (the CALL
    * audit's receipt); throws the loud diagnosis on inconsistency. */
  def auditAdditivity(s: SparkSession, storeDir: String,
                      nTotal: Long, context: String): Long = {
    if (hasRetractions(storeDir, DerivedStore.storageOf(s, storeDir))) {
      // a retracted (or re-admitted) marker legitimately carries several
      // row versions, so the raw duplicate-version check below would
      // false-alarm forever — the delete-aware invariant is `Σ n-partials
      // (ingests positive, retractions negative) == RECONCILED LIVE
      // markers`. It still catches the duplicating interleave (+2 in the
      // partials vs 1 live marker) and the double-retract (-2 vs one
      // marker gone), the two ways additive statistics corrupt silently.
      val live = SSTableOps.suppressTombstones(
          s.read.format("sstable").load(storeDir)
            .filter(col("key").cast("string").startsWith("d:")))
        .count()
      require(live == nTotal,
        s"df store at $storeDir is INCONSISTENT after $context: " +
          s"$live live membership markers vs Σ n-partials = $nTotal — " +
          "some document was counted or retracted twice (a concurrent " +
          "maintainer, or a maintainer that raced a DROP/undrop). The " +
          "affected epochs' partials are additive and now corrupt: DROP " +
          "the store and rebuild it")
      live
    } else {
      val m = s.read.format("sstable").load(storeDir)
        .select(col("key").cast("string").as("k"))
        .filter(col("k").startsWith("d:"))
        .agg(count(lit(1)).as("versions"),
          count_distinct(col("k")).as("distinctKeys"))
        .head()
      val (versions, distinctKeys) = (m.getLong(0), m.getLong(1))
      require(versions == distinctKeys && distinctKeys == nTotal,
        s"df store at $storeDir is INCONSISTENT after $context: " +
          s"$versions marker row versions over $distinctKeys distinct docs " +
          s"vs Σ n-partials = $nTotal — some document was counted twice " +
          "(a concurrent update, or an update that raced a DROP/undrop). " +
          "The affected epochs' partials are additive and now corrupt: " +
          "DROP the store and rebuild it")
      distinctKeys
    }
  }

  /** The store's epochs so far, from the `_n` row's cell names (a
    * one-row read — the row is epoch-count cells wide). A consolidated
    * store's `n:F<tag>` fold cell parses as its covered tag, so epoch
    * numbering continues seamlessly across folds. */
  private def epochsOf(s: SparkSession, qualifiedTable: String): Seq[Int] =
    s.table(qualifiedTable)
      .filter(col("key") === lit(NKey.getBytes))
      .select(explode(col("columns")).as("c"))
      .select(col("c.name").cast("string").as("n"))
      .collect().map(_.getString(0)).filter(_.startsWith("n:"))
      .map(_.stripPrefix("n:").stripPrefix("F").toInt).toSeq.sorted

  /** Corpus-total document frequency per term: the fold-aware SUM of the
    * per-epoch partial cells. Vocabulary-sized — the serving-side
    * replacement for a corpus-wide df aggregation. */
  def docFreqs(s: SparkSession, qualifiedTable: String): DataFrame =
    freqsFromRows(s.table(qualifiedTable), "df:")

  /** Corpus-total collection frequency (total occurrences) per term —
    * the statistic behind word-frequency reports: a consumer answers
    * "top-k words over the corpus" from this relation alone, ZERO
    * corpus IO at serve time. */
  def collFreqs(s: SparkSession, qualifiedTable: String): DataFrame =
    freqsFromRows(s.table(qualifiedTable), "cf:")

  /** Total documents counted by the store: the fold-aware SUM of the
    * per-epoch `n:` cells (one tiny row; driver-side). */
  def nDocs(s: SparkSession, qualifiedTable: String): Long =
    nDocsFromRows(s.table(qualifiedTable))

  // ── The fold rule — shared by EVERY reader ──────────────────────────
  //
  // [[consolidate]] rewrites accumulated per-epoch partials into one
  // `<p>F<tag>` fold cell (tag = the newest covered epoch) plus DELETED
  // markers for the constituents. Readers therefore sum: the NEWEST fold
  // cell's value, plus only the epoch cells with tag AFTER the fold's.
  // Epoch tags grow strictly, a fold covers everything at or before its
  // tag, and its value was computed from exactly the reconciled state it
  // replaces — so at EVERY instant, under raw or reconciled reads, fold
  // + uncovered epochs == the exact sum. That makes the fold generation
  // a pure append: no atomic-swap window exists in which any reader
  // double-counts, even the raw-path readers that never reconcile
  // generations (the streaming serving reads). Physical reclamation of
  // the marker-shadowed constituent cells rides the next ordinary
  // compaction; correctness never depends on when it runs.

  /** Exploded live partial cells `(k, n, v)` of one prefix — DELETED
    * markers excluded (raw scans surface them as cells). */
  private def partialCellsOf(rows: DataFrame, prefix: String): DataFrame =
    rows.select(col("key").cast("string").as("k"), explode(col("columns")).as("c"))
      .filter(col("c.state") === "NORMAL" &&
        col("c.name").cast("string").startsWith(prefix))
      .select(col("k"), col("c.name").cast("string").as("n"),
        col("c.value").cast("string").cast("bigint").as("v"))

  /** Fold-aware per-key sum of `(k, n, v)` partial cells. The first
    * aggregation also dedups row VERSIONS of the same cell name (a raw
    * read inside a compaction's publish window can see a cell in both
    * the folded output and its not-yet-unpublished input). */
  private def foldAwareSum(cells: DataFrame, prefix: String,
                           out: String): DataFrame = {
    val tagStart = prefix.length + 1
    val dedup = cells.select(col("k"),
        col("n").startsWith(prefix + "F").as("isFold"),
        when(col("n").startsWith(prefix + "F"),
          expr(s"substring(n, ${tagStart + 1})"))
          .otherwise(expr(s"substring(n, $tagStart)")).as("tag"),
        col("v"))
      .groupBy("k", "isFold", "tag").agg(max(col("v")).as("v"))
    dedup.groupBy("k")
      .agg(max(when(col("isFold"),
          struct(col("tag").as("t"), col("v").as("v")))).as("fold"),
        collect_list(when(!col("isFold"),
          struct(col("tag").as("t"), col("v").as("v")))).as("eps"))
      .select(col("k"),
        (coalesce(col("fold").getField("v"), lit(0L)) +
          coalesce(aggregate(
            filter(col("eps"), e => e.getField("t") >
              coalesce(col("fold").getField("t"), lit(""))),
            lit(0L), (acc, e) => acc + e.getField("v")), lit(0L))).as(out))
  }

  /** Fold-aware total df/cf per term over any `(key, columns)` relation
    * of the store — the catalog table, a raw directory read, or a
    * point-probe result. The one implementation every serving path
    * shares, so the fold rule can never drift between them. */
  private[graft] def freqsFromRows(rows: DataFrame, prefix: String): DataFrame = {
    val out = prefix.stripSuffix(":")
    foldAwareSum(partialCellsOf(rows, prefix).filter(col("k").startsWith("t:")),
        prefix, out)
      // a fully-retracted term's partials sum to zero — the term is no
      // longer in the corpus, so serving must not emit a df=0/cf=0 row
      // (the full-recompute twin has no such row). Retraction's own
      // sufficiency guard keeps totals from ever going NEGATIVE, so this
      // only drops exact zeros; on an append-only store it is a no-op
      // (every partial is >= 1).
      .filter(col(out) > 0)
      .select(expr("substring(k, 3)").as("term"), col(out))
  }

  /** Fold-aware n_docs over any `(key, columns)` relation of the store. */
  private[graft] def nDocsFromRows(rows: DataFrame): Long =
    foldAwareSum(partialCellsOf(rows, "n:").filter(col("k") === NKey), "n:", "n")
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)

  // ── Point-read serving ──────────────────────────────────────────────
  //
  // A batch being scored has a BOUNDED set of distinct terms; the
  // store's vocabulary at web scale is billions of rows (hapax legomena
  // dominate). A scorer that re-aggregates EVERY t: row per query — and
  // especially per micro-batch — pays the vocabulary scan as its
  // dominant serving cost. These readers fetch exactly the rows the
  // batch needs: index-nested-loop point reads, IO O(distinct terms ×
  // generations) seeks at ANY store size, never a scan.

  /** Total df for ONLY the given `term` column's values, via
    * [[SSTableOps.lookupJoin]] point reads of their `t:` rows — the
    * same access path the maintainers' novelty probes use. Probe keys
    * are dedup'd (duplicate probes would yield duplicate rows); point
    * reads reconcile per key, and the shared fold rule applies on top,
    * so a consolidated store serves identically. Terms the store has
    * never seen simply produce no row (the callers' join-drops-unknown
    * contract). */
  def docFreqsFor(terms: DataFrame, storeDir: String): DataFrame =
    freqsFromRows(SSTableOps.lookupJoin(
      terms.select(concat(lit("t:"), col("term")).cast("binary").as("key"))
        .dropDuplicates("key"), storeDir), "df:")

  /** One row's live `<prefix><tag>` partials as (tag, value) pairs —
    * the driver-side decode shared by the scalar readers below and the
    * streaming maintainer's consolidation gate. */
  private[graft] def partialsOfRow(row: graft.sources.sstable.SSTableRow,
                                   prefix: String): Seq[(String, Long)] =
    row.columns.collect {
      case c: graft.sources.sstable.Column.Normal
        if new String(c.name, java.nio.charset.StandardCharsets.UTF_8)
          .startsWith(prefix) =>
        (new String(c.name, java.nio.charset.StandardCharsets.UTF_8)
          .stripPrefix(prefix),
          new String(c.value, java.nio.charset.StandardCharsets.UTF_8).toLong)
    }

  /** The fold rule over one row's (tag, value) partials — the exact
    * scalar twin of [[foldAwareSum]] (point reads deliver single rows;
    * spinning up a job to sum one row would be absurd). */
  private[graft] def foldAwareSumScalar(partials: Seq[(String, Long)]): Long = {
    val fold = partials.filter(_._1.startsWith("F"))
      .map { case (t, v) => (t.stripPrefix("F"), v) }.maxByOption(_._1)
    fold.map(_._2).getOrElse(0L) +
      partials.collect { case (t, v)
        if !t.startsWith("F") && fold.forall(t > _._1) => v }.sum
  }

  /** n_docs via ONE driver-side reconciled point read of the `_n` row
    * (O(generations) seeks, no Spark job) — a streaming scorer
    * refreshing statistics every micro-batch must not re-scan the store
    * to learn one number. */
  def nDocsProbe(storeDir: String,
                 storage: Storage = graft.sources.sstable.LocalStorage): Long = {
    val prober = new graft.sources.sstable.SSTableReader.DirectoryProber(
      storeDir, storage)
    prober.get(NKey.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        gcTombstones = true)
      .map(row => foldAwareSumScalar(partialsOfRow(row, "n:")))
      .getOrElse(0L)
  }

  /** Loud refusal when the store was built over a different corpus or
    * counts a different unit — df totals from corpus A (or from
    * paragraphs) are silently-wrong statistics for corpus B (or for
    * terms). */
  def requireEpochMeta(s: SparkSession, qualifiedTable: String,
                       sourceDir: String, unit: String): Unit = {
    val meta = s.table(qualifiedTable)
      .filter(col("key") === lit(MetaKey.getBytes))
      .select(explode(col("columns")).as("c"))
      .select(col("c.name").cast("string"), col("c.value").cast("string"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    require(meta.get("source").contains(sourceDir),
      s"df store $qualifiedTable was built over " +
        s"'${meta.getOrElse("source", "(absent)")}' — refusing to mix " +
        s"statistics from '$sourceDir' (a store follows ONE corpus; DROP " +
        "and rebuild to retarget)")
    require(meta.get("unit").contains(unit),
      s"df store $qualifiedTable counts unit " +
        s"'${meta.getOrElse("unit", "(absent)")}' — refusing a '$unit' " +
        "update (one store, one unit; create a second store for a " +
        "second statistic)")
  }

  /** (doc_id, term, n) occurrences of one document slice — `n`
    * occurrences of the unit in the doc; the one unit extraction both
    * maintainers (batch and streaming) count with. */
  private[graft] def unitsOf(docs: DataFrame, unit: String): DataFrame = unit match {
    case "term" =>
      docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    case "para" =>
      // the EXACT paragraph unit of q_para_dedup: ParaWords-word chunks
      // of the space-split text, digested
      docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .groupBy(col("doc_id"), floor(col("pos") / ParaWords).as("chunk"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("para"))
        .select(col("doc_id"), md5(col("para")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    case other => throw new IllegalArgumentException(
      s"unit must be 'term' or 'para', got '$other'")
  }

  /** (term, df, cf) over a document slice: docs containing the unit, and
    * its total occurrences. */
  private[graft] def unitTotals(docs: DataFrame, unit: String): DataFrame =
    unitsOf(docs, unit)
      .groupBy("term").agg(count(lit(1)).as("df"), sum(col("n")).as("cf"))

  /** One ingest epoch's rows: the `cf:`/`df:` partials of `totals`
    * ([[unitTotals]] of `novel`) and the `_n` partial, all named by
    * `tag` and stamped `partialTs`, plus a `d:` marker per novel doc
    * (`e` = `marker`, `h` = md5 of its text) stamped `markerTs`. */
  private[graft] def epochRows(novel: DataFrame, totals: DataFrame,
                               novelCount: Long, tag: String,
                               marker: Column, markerTs: Long,
                               partialTs: Long): DataFrame = {
    val ts = lit(partialTs)
    DerivedStore.rows(totals, concat(lit("t:"), col("term")),
        textCell(lit(s"cf:$tag"), col("cf"), ts),
        textCell(lit(s"df:$tag"), col("df"), ts))
      .unionAll(DerivedStore.rows(novel, markerKey(col("doc_id")),
        textCell(lit("e"), marker, lit(markerTs)),
        textCell(lit("h"), md5(col("text")), lit(markerTs))))
      .unionAll(DerivedStore.row(novel.sparkSession, NKey,
        textCell(lit(s"n:$tag"), lit(novelCount), ts)))
  }

  /** (docsSeen, distinct doc_ids, min doc_id, max doc_id) of a slice in
    * one pass. */
  private def sliceStats(slice: DataFrame): (Long, Long, Long, Long) = {
    val r = slice.agg(count(lit(1)), count_distinct(col("doc_id")),
      min(col("doc_id")), max(col("doc_id"))).head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** One incremental update: create the store if absent, probe the `d:`
    * markers, count per-unit df over ONLY the novel documents, append
    * everything as one generation. The epoch's term rows, `d:` markers
    * and `_n` partial ride ONE INSERT (one staged commit): a crashed
    * update leaves the whole epoch or nothing, never markers without
    * counts. Returns (docsSeen, novel, alreadyStored, epoch,
    * termsTouched). */
  def update(s: SparkSession, qualifiedTable: String, storeDir: () => String,
             sourceDir: String, whereSql: String,
             autocompact: Int,
             unit: String = "term",
             autoconsolidate: Int = DefaultAutoConsolidate,
             ledgerDir: Option[String] = None): (Long, Long, Long, Int, Long) = {
    require(Set("term", "para").contains(unit),
      s"unit must be 'term' or 'para', got '$unit'")
    require(autoconsolidate == 0 || autoconsolidate >= 2,
      s"autoconsolidate must be 0 (off) or >= 2, got $autoconsolidate")
    val fresh = !s.catalog.tableExists(qualifiedTable)
    if (fresh) {
      val consProp = if (autoconsolidate >= 2)
        s", 'autoconsolidate'='$autoconsolidate'" else ""
      s.sql(s"CREATE TABLE $qualifiedTable " +
        s"TBLPROPERTIES('autocompact'='$autocompact'$consProp)")
      DerivedStore.append(s, qualifiedTable, DerivedStore.row(s, MetaKey,
        textCell(lit("source"), lit(sourceDir), lit(1L)),
        textCell(lit("unit"), lit(unit), lit(1L))))
    } else {
      requireEpochMeta(s, qualifiedTable, sourceDir, unit)
      // the bound is a table property pinned at creation: an explicit
      // different value here would be silently ignored, so it refuses
      // (the default is indistinguishable from "not passed")
      if (autoconsolidate != DefaultAutoConsolidate) {
        val pinned = graft.sources.sstable.spark.GraftCatalog
          .tableProps(DerivedStore.storageOf(s, storeDir()), storeDir())
          .get(graft.sources.sstable.spark.SSTableSource.AutoConsolidateOption)
          .map(_.toInt).getOrElse(0)
        require(pinned == autoconsolidate,
          s"$qualifiedTable pins autoconsolidate=$pinned at creation; " +
            s"the passed value $autoconsolidate would be ignored. The " +
            "bound is a table property — recreate the store to change " +
            "it, or omit the argument to use the pinned bound")
      }
    }
    val corpus = graft.Tables.documents(s, sourceDir)
      .filter(expr(whereSql)).select(col("doc_id"), col("text"))
    // duplicate doc_id rows would write duplicate markers and overcount
    // the _n partial, and the sentinel would then blame a race on a later
    // call; a batch slice with duplicates is malformed input, so refuse
    // it naming the cause
    val (seen, distinct, lo, hi) = sliceStats(corpus)
    require(seen == distinct,
      s"the ingest slice for $qualifiedTable contains " +
        s"${seen - distinct} duplicate doc_id row(s) — refusing: " +
        "duplicates would be counted twice and poison the store's " +
        "additive partials (this is INPUT duplication, not a concurrent " +
        "update; dedupe the slice or fix the where clause)")
    if (seen > 0)
      requireDocIdRange(lo, hi, s"the ingest slice for $qualifiedTable")
    val dir = storeDir()
    DerivedStore.maintain(s, dir, "update_doc_freqs",
      consult = () => TakedownLedger.consult(s, ledgerDir,
        corpus.select(col("doc_id")), "update_doc_freqs", qualifiedTable,
        corpus = Some(sourceDir)),
      epoch = _ => epochsOf(s, qualifiedTable).lastOption.getOrElse(0) + 1,
      afterRelease = () => {
        // consolidation first: its fold rides one appended generation,
        // which the compaction pass can then reclaim in the same call
        runTableAutoConsolidate(s, dir)
        DerivedStore.runTableAutocompact(s, dir)
      }) { (_, epoch) =>
      // an empty store skips the probe and joins: everything is novel
      val hasDocs = !fresh && storedDocIds(s, dir).limit(1).count() > 0
      val (novelSrc, releaseIds) = if (hasDocs)
        SignatureStore.gatedNovelJoin(corpus, storedDocIds(s, dir), "doc_id")
      else (corpus, () => ())
      DerivedStore.withDelta(novelSrc, releaseIds) { (novel, novelCount) =>
        val terms = if (novelCount == 0) 0L else {
          val n = DerivedStore.withDelta(unitTotals(novel, unit), () => ()) {
            (totals, n) =>
              DerivedStore.append(s, qualifiedTable,
                epochRows(novel, totals, novelCount, DerivedStore.epochTag(epoch),
                  marker = lit(epoch), markerTs = epoch, partialTs = 1L))
              n
          }
          auditAdditivity(s, dir, nDocs(s, qualifiedTable), s"epoch $epoch")
          n
        }
        (seen, novelCount, seen - novelCount, epoch, terms)
      }
    }(_._2 > 0)
  }

  /** The batch twin of the streaming maintainer's `consolidateAboveEpochs`
    * gate: when the store's `autoconsolidate`
    * table property is set and more epoch partials than it allows have
    * accumulated since the last fold, the COMMITTING maintainer runs
    * [[consolidate]] on the store's behalf — row width stays bounded by
    * the property, with zero operator memory. The gate is ONE reconciled
    * driver-side point read of the `_n` row (the row is exactly as many
    * cells wide as there are unfolded epochs — the quantity being
    * bounded), so a store under its bound pays seeks, never a job. Same
    * volunteer semantics as write-triggered autocompact: a held lease (a
    * concurrent retraction or CALL consolidate mid-flight) makes this
    * pass yield to the next update rather than fail the commit. */
  private[graft] def runTableAutoConsolidate(s: SparkSession, dir: String): Unit = {
    val storage = DerivedStore.storageOf(s, dir)
    graft.sources.sstable.spark.GraftCatalog.tableProps(storage, dir)
      .get(graft.sources.sstable.spark.SSTableSource.AutoConsolidateOption)
      .map(_.toInt).filter(_ >= 2)
      .filter(_ < epochPartialsSinceFold(dir, storage))
      .foreach { _ =>
        graft.sources.sstable.MaintenanceLease.volunteer(
          consolidate(s, dir, storage))
      }
  }

  /** Epoch partials accumulated since the last fold — the consolidation
    * gates' shared input (the batch property gate above and the
    * streaming maintainer's `consolidateAboveEpochs`), from ONE
    * reconciled driver-side point read of the `_n` row. */
  private[graft] def epochPartialsSinceFold(storeDir: String,
                                            storage: Storage): Int = {
    val prober = new graft.sources.sstable.SSTableReader.DirectoryProber(
      storeDir, storage)
    prober.get(NKey.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        gcTombstones = true).map { row =>
      val tags = partialsOfRow(row, "n:").map(_._1)
      val maxFold = tags.filter(_.startsWith("F")).map(_.stripPrefix("F"))
        .maxOption
      tags.count(t => !t.startsWith("F") && maxFold.forall(t > _))
    }.getOrElse(0)
  }

  /** Fold cells carry a fixed timestamp far above every data cell's
    * (batch epochs write ts=1, streaming epochs ts=epochId), and the
    * DELETED markers sit one above the fold cells — so a marker always
    * shadows the constituent it names (including an older fold being
    * re-folded), and a fold cell is only ever shadowed by a LATER
    * fold's marker. Both constant: identical consolidations produce
    * hash-identical generations (idempotent under LWW, replay-safe). */
  private[graft] val FoldCellTs = 1L << 40
  private[graft] val FoldMarkerTs = (1L << 40) + 1

  /** Epoch-range consolidation: every epoch
    * that sees a term appends one `df:<tag>`/`cf:<tag>` cell to its
    * `t:` row, so after 100k streaming micro-batches a stopword's row
    * carries 200k cells and every serving read explodes and sums all
    * of them. This maintenance pass rewrites each row's accumulated
    * partials into ONE `<p>F<tag>` fold cell (value = their exact sum;
    * tag = the newest epoch in the store, so later epochs never collide
    * with it) plus DELETED markers for the constituents — row width
    * returns to O(1) per prefix at the next physical compaction, and
    * every reader is exact at every instant in between via the fold
    * rule above (the fold generation is a PURE APPEND; nothing is
    * swapped, so there is no window in which a raw reader
    * double-counts).
    *
    * Runs under the directory's maintenance lease (one consolidator at
    * a time; concurrent CALLs refuse loudly), touches only `t:` rows
    * and the `_n` row — `d:` markers and `_meta` are never rewritten,
    * so novelty probes and the additivity sentinel see an unchanged
    * membership set — and re-checks the sentinel before returning.
    * Rows with fewer than two live partial cells per prefix are left
    * alone (rewriting them would be pure churn). Returns (rowsFolded,
    * partialsFolded, coveredTag). Safe in the streaming maintainer's
    * pre-append slot by the same argument as its compaction: every epoch
    * present at batch start has its checkpoint committed, so a fold can
    * never absorb a still-replayable epoch's cells — and the fold itself is
    * replay-safe anyway (same names, same values, LWW-idempotent). */
  def consolidate(s: SparkSession, storeDir: String,
                  storage: Storage =
                    graft.sources.sstable.LocalStorage): (Long, Long, String) =
    graft.sources.sstable.MaintenanceLease.withLease(storeDir, storage,
      "consolidate_doc_freqs") { _ =>
      val live = SSTableOps.suppressTombstones(
          s.read.format("sstable").load(storeDir))
        .filter(col("key").cast("string").startsWith("t:") ||
          col("key") === lit(NKey.getBytes))
        .persist()
      try {
        // the newest epoch and newest fold, from the _n row's live cells
        val nTags = live.filter(col("key") === lit(NKey.getBytes))
          .select(explode(col("columns")).as("c"))
          .select(col("c.name").cast("string").as("n"))
          .collect().map(_.getString(0)).filter(_.startsWith("n:"))
          .map(_.stripPrefix("n:"))
        val maxEpoch = nTags.filterNot(_.startsWith("F"))
          .maxOption(Ordering.String)
        val maxFold = nTags.filter(_.startsWith("F")).map(_.stripPrefix("F"))
          .maxOption(Ordering.String)
        // both nothing-to-fold exits report the newest existing fold's tag
        if (maxEpoch.isEmpty) (0L, 0L, maxFold.getOrElse(""))
        else {
          val tag = maxEpoch.get
          // per (row, prefix): total + constituent names, skipping
          // groups already down to one cell
          val grouped = live
            .select(col("key"), explode(col("columns")).as("c"))
            .select(col("key"), col("c.name").cast("string").as("n"),
              col("c.value").cast("string").cast("bigint").as("v"))
            .select(col("key"),
              regexp_extract(col("n"), "^(df:|cf:|n:)", 1).as("p"),
              col("n"), col("v"))
            .filter(col("p") =!= "")
            .groupBy("key", "p")
            .agg(sum(col("v")).as("total"), sort_array(collect_list(col("n"))).as("names"))
            .filter(size(col("names")) >= 2)
            .persist()
          try {
            val stats = grouped.agg(count_distinct(col("key")),
              coalesce(sum(size(col("names"))), lit(0L))).head()
            val (rows, cells) = (stats.getLong(0), stats.getLong(1))
            if (rows == 0) (0L, 0L, maxFold.getOrElse(""))
            else {
              val foldRows = grouped.select(col("key"), concat(
                  array(textCell(concat(col("p"), lit(s"F$tag")), col("total"),
                    lit(FoldCellTs))),
                  transform(col("names"), nm => deletedCell(nm,
                    lit(FoldMarkerTs)))).as("columns"))
                .groupBy("key")
                // cell order inside the array is free: the writer sorts
                // cells by name, so the written generation is
                // deterministic either way
                .agg(flatten(collect_list(col("columns"))).as("columns"))
              DerivedStore.recorded(storage, storeDir, "consolidate_doc_freqs",
                  s"rows=$rows partials=$cells covered<=$tag") {
                DerivedStore.appendTagged(foldRows, storeDir, s"dfold$tag")
              }
              // the sentinel, re-checked over the folded state: a fold
              // that lost or duplicated a partial must refuse HERE
              auditAdditivity(s, storeDir,
                nDocsFromRows(s.read.format("sstable").load(storeDir)),
                s"consolidation covering <=$tag")
              (rows, cells, tag)
            }
          } finally grouped.unpersist()
        }
      } finally live.unpersist()
    }

  /** Document RETRACTION — remove documents from the store's statistics
    * without rescanning the corpus (the takedown / GDPR /
    * contamination-removal operation), priced by the retraction slice.
    * One retraction epoch appends, atomically:
    *  - NEGATIVE `df:`/`cf:` partials for the retracted docs' units
    *    (additivity runs both ways, through folds and compaction alike);
    *  - DELETED cells shadowing the docs' `d:` markers, so membership
    *    probes see the doc as novel again and a later ingest re-admits it;
    *  - a negative `_n` partial;
    *  - the `retracted` flag on `_meta`, riding the SAME append.
    *
    * `sourceDir` is where the retracted docs' (doc_id, text) rows are
    * read from — usually the pinned corpus, but deliberately NOT
    * required to be: in a real takedown the document is often already
    * deleted from the corpus, so any directory holding the removed
    * docs' rows works (e.g. the takedown request's own payload). The
    * content-hash guard is strictly stronger than a source pin.
    *
    * Guards, all delta-sized and all refusing before anything lands:
    *  - the store must pin this UNIT;
    *  - a STREAM-maintained store refuses: its `s…` epoch tags sort
    *    after batch tags, so a batch-numbered retraction epoch would be
    *    silently excluded by the fold rule after the stream's next
    *    consolidation;
    *  - every retracted doc's `h` content hash must match md5 of the
    *    text NOW — subtracting changed text would corrupt silently;
    *  - the store's df/cf for every touched term must cover the
    *    subtraction, so totals never go negative.
    *
    * Docs in the slice that were never counted (or already retracted)
    * are reported `notStored` and contribute nothing — a re-run of the
    * same retraction is a receipt-visible no-op. Returns (docsInSlice,
    * retracted, notStored, epoch, termsTouched); epoch 0 when nothing
    * matched (no write). */
  def retract(s: SparkSession, qualifiedTable: String, storeDir: () => String,
              sourceDir: String, whereSql: String,
              unit: String = "term"): (Long, Long, Long, Int, Long) = {
    require(Set("term", "para").contains(unit),
      s"unit must be 'term' or 'para', got '$unit'")
    require(s.catalog.tableExists(qualifiedTable),
      s"df store $qualifiedTable does not exist — nothing to retract from")
    val dir = storeDir()
    val meta = DerivedStore.metaCells(dir, DerivedStore.storageOf(s, dir))
    require(meta.get("unit").contains(unit),
      s"df store $qualifiedTable counts unit " +
        s"'${meta.getOrElse("unit", "(absent)")}' — refusing a '$unit' " +
        "retraction (subtracting the wrong unit's counts would corrupt " +
        "the statistics)")
    val (slice, seen) = retractionSlice(s, sourceDir, whereSql, qualifiedTable)
    if (seen == 0) return (0L, 0L, 0L, 0, 0L)
    // the epoch pick parses tags tolerantly: a stream store's `s…` tags
    // must refuse with an explanation, not a number-format error
    def batchEpoch(storage: Storage): Int = {
      val plain = liveNTags(dir, storage).map(_.stripPrefix("F"))
      plain.find(t => t.isEmpty || !t.forall(_.isDigit)).foreach { bad =>
        throw new IllegalArgumentException(
          s"df store $qualifiedTable is STREAM-maintained (epoch tag " +
            s"'$bad') — a batch-numbered retraction epoch would sort " +
            "BEFORE the stream's tags and be silently excluded by the " +
            "fold rule after the next consolidation. Retract via " +
            "CALL retract_doc_freqs_stream(store_dir => ...), which " +
            "allocates the retraction epoch in the stream's own tag " +
            "domain")
      }
      plain.map(_.toInt).maxOption.getOrElse(0) + 1
    }
    DerivedStore.maintain(s, dir, "retract_doc_freqs", consult = () => (),
      epoch = batchEpoch,
      afterRelease = () => {
        // a retraction epoch widens the partial rows exactly like an
        // ingest epoch, so the same volunteer consolidation bounds it
        runTableAutoConsolidate(s, dir)
        DerivedStore.runTableAutocompact(s, dir)
      }) { (storage, epoch) =>
      val (matched, terms) = retractCore(s, dir, storage, slice, unit,
        tag = DerivedStore.epochTag(epoch), cellTs = epoch.toLong,
        opLabel = "retract_doc_freqs", what = s"df store $qualifiedTable",
        detail = s"epoch=$epoch")
      if (matched == 0) (seen, 0L, seen, 0, 0L)
      else (seen, matched, seen - matched, epoch, terms)
    }(_._2 > 0)
  }

  /** The (doc_id, text) rows a retraction subtracts and their count,
    * refusing duplicate ids and ids outside the marker-key range. */
  private def retractionSlice(s: SparkSession, sourceDir: String,
                              whereSql: String, target: String): (DataFrame, Long) = {
    val slice = graft.Tables.documents(s, sourceDir)
      .filter(expr(whereSql)).select(col("doc_id"), col("text"))
    val (seen, distinct, lo, hi) = sliceStats(slice)
    require(seen == distinct,
      s"the retraction slice for $target contains " +
        s"${seen - distinct} duplicate doc_id row(s) — refusing " +
        "(duplicates would subtract twice; dedupe the slice or fix the " +
        "where clause)")
    if (seen > 0)
      requireDocIdRange(lo, hi, s"the retraction slice for $target")
    (slice, seen)
  }

  /** The bases (`s%09d` stream-epoch parts) of stream-domain retraction
    * tags registered on this store — the replay guard's input (see
    * [[graft.streaming.StreamingDfUpdate.processBatch]]): a replay of
    * epoch E must refuse when a retraction with base >= E's tag exists,
    * because that retraction's negative partials counted E's docs and
    * the replay's tag-unpublish would remove the positives from under
    * them. One driver-side point read. */
  private[graft] def streamRetractionBases(dir: String,
                                           storage: Storage): Seq[String] = {
    val RTag = "^s(\\d{9})r\\d{6}$".r
    liveNTags(dir, storage).map(_.stripPrefix("F")).collect {
      case RTag(b) => b
    }
  }

  /** The `_n` row's live partial tags — one reconciled driver-side point
    * read (O(generations) seeks, no job). */
  private def liveNTags(dir: String, storage: Storage): Seq[String] = {
    val prober = new graft.sources.sstable.SSTableReader.DirectoryProber(
      dir, storage)
    prober.get(NKey.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        gcTombstones = true)
      .map(row => partialsOfRow(row, "n:").map(_._1)).getOrElse(Seq.empty)
  }

  /** Document RETRACTION from a STREAM-maintained store — the
    * takedown-on-a-live-stream case. The
    * batch [[retract]] refuses stream stores because a batch-numbered
    * epoch (`%06d`) sorts BEFORE every `s…` tag and the fold rule would
    * silently exclude its negative partials after the stream's next
    * consolidation. This variant allocates the retraction epoch IN THE
    * STREAM'S OWN TAG DOMAIN: tag `s<base>r<seq>` where `base` is the
    * newest stream epoch — the r-suffix sorts strictly AFTER `s<base>`
    * (and any earlier retraction's suffix) and strictly BEFORE the
    * stream's next epoch `s<base+1>`, so
    *  - a consolidation covering `s<base>` or later covers the
    *    retraction (its signed value is inside the fold's exact sum);
    *  - the negative cells' NAMES can never collide with a future
    *    micro-batch's `df:s<base+1>` cells (the collision a raw
    *    base+1-numbered epoch would hit on replay);
    *  - the deletion marks ride ts = `base` — they shadow every marker
    *    written at or before the newest stream epoch (ties favor
    *    deletion, the engine's Cassandra rule), and the next
    *    micro-batch's re-admission (ts = base+1) rises strictly above.
    *
    * Same guards as the batch path (unit pin, duplicate slice,
    * content-hash drift, sufficiency), plus: refuses a BATCH-maintained
    * store (mirror of [[retract]]'s stream refusal) and a store whose
    * markers predate the stream maintainer's `h` cells. Runs under the
    * store's maintenance lease — [[graft.streaming.StreamingDfUpdate
    * .processBatch]] takes the same lease around its probe→append, so a
    * live micro-batch serializes with this retraction instead of racing
    * it (the batch WAITS; the retraction refuses a held lease loudly).
    * Returns (docsInSlice, retracted, notStored, retractionTag,
    * termsTouched); tag "" when nothing matched (no write). */
  def retractStream(s: SparkSession, storeDir: String, sourceDir: String,
                    whereSql: String, unit: String = "term",
                    storage: Storage = graft.sources.sstable.LocalStorage)
      : (Long, Long, Long, String, Long) = {
    require(Set("term", "para").contains(unit),
      s"unit must be 'term' or 'para', got '$unit'")
    require(storage.exists(storeDir) &&
      storage.listDataFiles(storeDir).nonEmpty,
      s"no df store at $storeDir — nothing to retract from")
    val meta = DerivedStore.metaCells(storeDir, storage)
    require(meta.contains("unit"),
      s"the df store at $storeDir carries no unit pin — it predates " +
        "streaming retraction support (the stream maintainer pins the " +
        "unit at store creation). Rebuild the store to enable retraction")
    require(meta.get("unit").contains(unit),
      s"the df store at $storeDir counts unit '${meta("unit")}' — " +
        s"refusing a '$unit' retraction (subtracting the wrong unit's " +
        "counts would corrupt the statistics)")
    val (slice, seen) = retractionSlice(s, sourceDir, whereSql, storeDir)
    if (seen == 0) return (0L, 0L, 0L, "", 0L)
    graft.sources.sstable.MaintenanceLease.withLease(storeDir, storage,
      "retract_doc_freqs_stream") { _ =>
      val plain = liveNTags(storeDir, storage).map(_.stripPrefix("F"))
      plain.find(t => t.nonEmpty && t.forall(_.isDigit)).foreach { bad =>
        throw new IllegalArgumentException(
          s"the df store at $storeDir is BATCH-maintained (epoch tag " +
            s"'$bad') — retract it via CALL retract_doc_freqs, whose " +
            "epoch numbering matches the batch tag domain")
      }
      val StreamTag = "^s(\\d{9})(?:r(\\d{6}))?$".r
      val parsed = plain.map {
        case StreamTag(b, r) => (b, Option(r).map(_.toInt).getOrElse(0))
        case other => throw new IllegalArgumentException(
          s"the df store at $storeDir holds an epoch tag '$other' this " +
            "engine does not recognize — refusing to allocate a " +
            "retraction epoch against an unknown tag domain")
      }
      require(parsed.nonEmpty,
        s"the df store at $storeDir registers no epochs — nothing to " +
          "retract from")
      val base = parsed.map(_._1).max
      val seq = parsed.filter(_._1 == base).map(_._2).max + 1
      val rtag = f"s${base}r$seq%06d"
      val (matched, terms) = retractCore(s, storeDir, storage, slice, unit,
        tag = rtag, cellTs = base.toLong,
        opLabel = "retract_doc_freqs_stream",
        what = s"the df store at $storeDir", detail = s"tag=$rtag")
      if (matched == 0) (seen, 0L, seen, "", 0L)
      else (seen, matched, seen - matched, rtag, terms)
    }
  }

  /** The shared retraction core — probe the slice's `d:` markers,
    * verify (content hash, sufficiency), append ONE signed epoch
    * (negative `df:`/`cf:`/`n:` partials named by `tag`, DELETED marker
    * cells + the `retracted` flag at `cellTs`), re-check the sentinel.
    * Caller holds the lease and owns tag allocation (batch `%06d`
    * epochs vs the stream's `s…r…` domain). Returns (matched, terms);
    * (0, 0) when nothing matched (nothing written). */
  private def retractCore(s: SparkSession, dir: String,
                          storage: Storage,
                          slice: DataFrame, unit: String,
                          tag: String, cellTs: Long,
                          opLabel: String, what: String,
                          detail: String): (Long, Long) = {
    // which of the slice's docs the store actually counted (and still
    // counts): point reads of their d: markers, live view — already-
    // retracted markers reconcile to nothing and land in notStored
    val probed = SSTableOps.lookupJoin(
        slice.select(markerKey(col("doc_id")).as("key")), dir)
      .select(DerivedStore.idOfKey(col("key")).as("doc_id"), col("columns"))
      .persist()
    try {
      val markerH = probed
        .select(col("doc_id"), explode(col("columns")).as("c"))
        .filter(col("c.name").cast("string") === "h" &&
          col("c.state") === "NORMAL")
        .select(col("doc_id"), col("c.value").cast("string").as("h"))
      val noH = probed.select("doc_id")
        .join(markerH, Seq("doc_id"), "left_anti")
        .limit(5).collect().map(_.getLong(0))
      require(noH.isEmpty,
        s"markers for doc_id(s) ${noH.mkString(", ")} in $what " +
          "carry no content hash — the store predates retraction " +
          "support (h cells are written at ingest). Rebuild the store " +
          "to enable retraction")
      val drift = slice.join(markerH, Seq("doc_id"))
        .filter(!(md5(col("text")) <=> col("h")))
        .select("doc_id").limit(5).collect().map(_.getLong(0))
      require(drift.isEmpty,
        s"corpus text for doc_id(s) ${drift.mkString(", ")} changed " +
          s"since $what counted it (content-hash mismatch) — " +
          "subtracting the CURRENT text's unit counts would corrupt " +
          "the statistics silently. The store counted different " +
          "content; restore the source or DROP and rebuild")
      DerivedStore.withDelta(slice.join(probed.select("doc_id"), Seq("doc_id")),
          () => ()) { (toRetract, matched) =>
        if (matched == 0) (0L, 0L)
        else {
          DerivedStore.withDelta(unitTotals(toRetract, unit)
              .select(col("term"), col("df").as("rdf"), col("cf").as("rcf")),
              () => ()) { (units, terms) =>
            // sufficiency guard: the store's CURRENT totals for exactly
            // the touched terms (point reads — delta-vocabulary-sized)
            // must cover the subtraction; a shortfall is membership
            // corruption and must refuse BEFORE totals go negative
            val storedRows = SSTableOps.lookupJoin(
              units.select(concat(lit("t:"), col("term"))
                .cast("binary").as("key")), dir).persist()
            try {
              val short = units
                .join(freqsFromRows(storedRows, "df:"), Seq("term"), "left")
                .join(freqsFromRows(storedRows, "cf:"), Seq("term"), "left")
                .filter(col("df").isNull || col("df") < col("rdf") ||
                  col("cf").isNull || col("cf") < col("rcf"))
                .select("term").limit(5).collect().map(_.getString(0))
              require(short.isEmpty,
                s"stored df/cf for term(s) ${short.mkString(", ")} in " +
                  s"$what cannot cover this retraction's " +
                  "subtraction — the store cannot have counted these " +
                  "documents' units (membership corruption). Refusing " +
                  "to write totals below zero; DROP and rebuild")
              val ts = lit(cellTs)
              val rows = DerivedStore.rows(units, concat(lit("t:"), col("term")),
                  textCell(lit(s"cf:$tag"), -col("rcf"), ts),
                  textCell(lit(s"df:$tag"), -col("rdf"), ts))
                .unionAll(DerivedStore.rows(toRetract, markerKey(col("doc_id")),
                  deletedCell(lit("e"), ts), deletedCell(lit("h"), ts)))
                .unionAll(DerivedStore.row(s, NKey,
                  textCell(lit(s"n:$tag"), lit(-matched), ts)))
                .unionAll(DerivedStore.row(s, MetaKey,
                  textCell(lit("retracted"), lit(tag), ts)))
              DerivedStore.recorded(storage, dir, opLabel,
                  s"docs=$matched terms=$terms $detail") {
                DerivedStore.appendTagged(rows, dir, s"dfr$tag")
              }
              // the sentinel, in its delete-aware form from this very
              // append on (the flag rode it): live markers must equal
              // the signed partial sum
              auditAdditivity(s, dir,
                nDocsFromRows(s.read.format("sstable").load(dir)),
                s"retraction $detail")
              (matched, terms)
            } finally storedRows.unpersist()
          }
        }
      }
    } finally probed.unpersist()
  }
}
