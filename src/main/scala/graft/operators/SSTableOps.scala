package graft.operators

import org.apache.spark.sql.{Column => SCol, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MsgPack

/** Operator library over the SSTable scan schema
  * (`key binary, columns array<struct<name, state, value, timestamp,
  * ttlSecs, expiresMillis>>` — SURVEY.md §1.3): the reference's merge/
  * export pipelines (E1/E2, SURVEY.md §3) as composable DataFrame
  * transforms.
  *
  * A merge over a bare `sstable` read runs inside the scan: each task
  * reconciles one key range of every generation, with no shuffle (see
  * [[compactRows]]). Every other merge is one aggregation on key —
  * partial+final with map-side combine, strictly better than the
  * reference's combiner-less MR shuffles of raw columns (SURVEY.md §4
  * "Partial aggregation"). Tie-breaks are deterministic (the
  * reference's strict `>` kept first-seen — iteration-order dependent,
  * SSTableData.scala:52,93; documented divergence SURVEY.md §7 risk 2).
  */
object SSTableOps {

  /** P2 — flatten rows to one record per column
    * (`SSTableDataMapper`, mapred/SSTableData.scala:21-33). */
  def explodeColumns(df: DataFrame): DataFrame =
    df.select(col("key"), explode(col("columns")).as("c"))

  /** A1 — latest column per row key (`SSTableDataReducer`,
    * mapred/SSTableData.scala:45-62). */
  def latestColumnPerKey(df: DataFrame): DataFrame =
    explodeColumns(df)
      .groupBy("key")
      .agg(max_by(col("c"), struct(col("c.timestamp"), col("c.name"), col("c.state")))
        .as("c"))

  /** A2 — full-row compaction: latest version of each column, re-nested
    * (`MsgPackSSTableDataReducer`, mapred/SSTableData.scala:79-119), by
    * Cassandra's rules ([[graft.sources.sstable.SSTableReader.Reconciler]]):
    * the newest version of each cell wins, a tombstone wins an
    * equal-timestamp tie, and the rest of the tie order makes the winner
    * independent of input order. DELETED/EXPIRING cell states are
    * preserved (no tombstone GC), matching the reference.
    *
    * Row-level tombstones (the `rowTombstone` scan field, absent in the
    * reference's model) are honored across generations: the newest wins,
    * every same-key column with `timestamp <= markedForDeleteAt` is
    * shadowed out — including older cell tombstones — and the merged
    * tombstone is carried on the output so a written compaction result
    * still shadows yet-older generations. Range tombstones (Cassandra
    * 1.2 slice deletes) shadow same-key cells with `name ∈ [min, max]`
    * and `timestamp <= mfda`, never other ranges, and are carried too.
    * Pure-tombstone rows (zero columns) survive. Inputs without the
    * `rowTombstone` column merge as if every row were live. Counter
    * columns fail the merge: it has no LWW semantics for them.
    *
    * Route: when `df` is a bare rows-view read of a non-bucketed
    * `sstable` directory — its analyzed plan is the relation with exactly
    * `key, columns, rowTombstone`, under zero or more deterministic
    * filters on `key` alone — the merge is planned as the same read with
    * `view=reconciled`: each task merges one key range of every
    * generation through [[graft.sources.sstable.SSTableReader.Fold]]
    * (the compaction fold's loop, the read's TTL, as-of and delete-shadow
    * rule applied per version first), so the plan has no exchange. A key
    * predicate commutes with a per-key merge, so the filters are
    * re-applied above the reconciled relation.
    *
    * Every other input — bucketed reads, metadata columns, projections,
    * non-sstable relations — is one aggregation on `key` ([[ReconcileRows]]):
    * a map-side partial merges each task's versions of a key, and one
    * exchange ships one reconciled row per key and task to the final
    * merge. A bucketed read's `_bucket` rides through the grouping, so
    * its merge needs no exchange at all. Columns are matched by name, so
    * any field order works. */
  def compactRows(df: DataFrame): DataFrame =
    reconciledRead(df).getOrElse {
      import org.apache.spark.sql.GraftColumnBridge
      val tomb = if (df.columns.contains("rowTombstone")) col("rowTombstone")
        else lit(null).cast(graft.sources.sstable.spark.SSTableSchema.rowTombstoneStruct)
      val row = struct(col("key"), col("columns"), tomb.as("rowTombstone"))
      val merged = GraftColumnBridge.column(
        ReconcileRows(GraftColumnBridge.expression(row)).toAggregateExpression())
      df.groupBy(bucketCols(df) :+ col("key"): _*)
        .agg(merged.as("_r"))
        .select(bucketCols(df) ++ Seq(col("key"), col("_r.columns").as("columns"),
          col("_r.rowTombstone").as("rowTombstone")): _*)
    }

  /** The reconciled twin of a bare rows-view read ([[compactRows]]'
    * route), or None when `df` is anything else. */
  private def reconciledRead(df: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import graft.sources.sstable.spark.{SSTableSource, SSTableTable}
    @annotation.tailrec
    def bare(p: LogicalPlan, conds: List[Expression])
        : Option[(DataSourceV2Relation, List[Expression])] = p match {
      case Filter(c, child) => bare(child, c :: conds)
      case SubqueryAlias(_, child) => bare(child, conds)
      case r: DataSourceV2Relation => Some((r, conds))
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    for {
      (r, conds) <- bare(plan, Nil)
      table <- Some(r.table).collect { case t: SSTableTable => t }
      if r.output.map(_.name) == Seq("key", "columns", "rowTombstone") &&
        conds.forall(c => c.deterministic && c.references.subsetOf(AttributeSet(r.output.head)))
      twin <- table.reconciledTwin
    } yield {
      val opts = new java.util.HashMap[String, String](r.options.asCaseSensitiveMap())
      opts.put(SSTableSource.ViewOption, "reconciled")
      val swapped = r.copy(table = twin,
        options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
      org.apache.spark.sql.GraftColumnBridge.ofRows(df.sparkSession,
        plan.transform { case p if p eq r => swapped })
    }
  }

  /** A `_bucket` column (the bucketed sstable scan's partition id — a
    * pure function of `key`) rides through every merge grouping when
    * present: grouping by (_bucket, key) equals grouping by key, and
    * because the scan REPORTS key-grouped partitioning on `_bucket`,
    * Catalyst satisfies the aggregation's distribution from storage —
    * the whole merge runs exchange-free. */
  private def bucketCols(df: DataFrame): Seq[SCol] =
    if (df.columns.contains("_bucket")) Seq(col("_bucket")) else Nil

  /** [[compactRows]] under its earlier name. It once split a hot key's
    * assembly over `buckets` name-hash salts; a key's merge buffer is now
    * one reconciled row, so there is nothing left to salt. */
  def compactRowsSalted(df: DataFrame, buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    compactRows(df)
  }

  /** P7 — drop DELETED columns, any NORMAL/EXPIRING column shadowed by a
    * same-name tombstone with a newer-or-equal timestamp, and (via
    * [[compactRows]]) anything shadowed by a row-level tombstone. The
    * surviving relation is live data only: keys with nothing live left
    * (wholesale-deleted rows) are elided, not emitted as `(key, [])`. */
  def suppressTombstones(df: DataFrame): DataFrame =
    suppressTombstones2(compactRows(df))

  /** P8 — TTL expiry as an explicit opt-in reader-side filter (the
    * reference ships ttl/expiration raw and never evaluates them,
    * WritableColumn.java:20-21): keep columns that are not EXPIRING, or
    * whose expiresMillis is still in the future at `asOfMs`. */
  def applyTtl(df: DataFrame, asOfMs: Long): DataFrame =
    df.select(col("key"),
      filter(col("columns"), c =>
        c.getField("state") =!= "EXPIRING" ||
          c.getField("expiresMillis") > lit(asOfMs)).as("columns"))

  private val msgpackUdf = udf {
    (key: Array[Byte],
     cols: Seq[org.apache.spark.sql.Row]) =>
      MsgPack.encodeRow(key, cols.map { r =>
        // DELETED exports ts=0 (MsgPackSSTableDataReducer only sets ts on
        // puts, mapred/SSTableData.scala:85-95 — byte parity)
        val ts = if (r.getAs[String]("state") == "DELETED") 0L
                 else r.getAs[Long]("timestamp")
        (r.getAs[Array[Byte]]("name"), r.getAs[Array[Byte]]("value"),
          ts, r.getAs[Long]("expiresMillis"), r.getAs[Long]("ttlSecs"))
      })
  }

  /** K2 — msgpack/Base64 export: one `base64(msgpack(row))` text line per
    * (typically compacted) row — the reference's E1 sink
    * (mapred/SSTableData.scala:97-115). Range tombstones and counters are
    * dropped: the reference's export model (MsgPackCol) predates both,
    * a line carrying one could never come from the original pipeline,
    * and a counter context exported as a plain value would read as
    * garbage downstream. Scalar UDF per SURVEY.md §2.7 (upgrade to a
    * codegen Expression only if the bench says it's hot). */
  def exportMsgpackBase64(df: DataFrame): DataFrame =
    df.select(col("key"),
        filter(col("columns"), c => !c.getField("state")
          .isin("RANGE_TOMBSTONE", "COUNTER", "COUNTER_UPDATE"))
          .as("_exportable"))
      // no phantom lines for keys with nothing exportable (range-only or
      // wholesale-deleted rows — shapes the original pipeline never saw)
      .filter(size(col("_exportable")) > 0)
      .select(base64(msgpackUdf(col("key"), col("_exportable"))).as("line"))

  /** E1 end-to-end: scan → compact (LWW per column) → msgpack/Base64
    * lines (`ReadSSTableWithoutSplits`, tools/ReadSSTableWithoutSplits
    * .scala:14-33). */
  def exportCompacted(df: DataFrame): DataFrame =
    exportMsgpackBase64(compactRows(df))

  /** Size-tiered compaction planning (Cassandra's STCS): bucket the
    * directory's generations by size similarity — walking files
    * smallest-first, a file joins the current bucket while its size is
    * ≤ `bucketHigh` × the bucket's running average (and tiny files
    * below `minSize` all share one bucket) — and return the buckets
    * holding at least `minThreshold` files, smallest-first, each capped
    * at `maxThreshold` files. These are the generation sets worth
    * folding with [[compactFiles]]: merging similar sizes bounds write
    * amplification to O(log(total/flush)) rewrites per row, where
    * merging a tiny flush into a huge generation would rewrite the
    * giant for every flush.
    *
    * Buckets are returned highest-droppable-work first: stable-sorted by
    * descending per-bucket tombstone ratio (Σ tombstones / Σ rows from
    * each file's `-Statistics.db`; files without stats count 0/0), so a
    * bounded maintenance budget folds the generations whose merge
    * reclaims the most shadowed data first — Cassandra's droppable-
    * tombstone prioritization. Ties (the common all-zero case) keep
    * the smallest-first size order. Pure metadata —
    * one stat + one tiny cache-served Statistics.db read per file. */
  def planCompaction(dir: String, minThreshold: Int = 4, maxThreshold: Int = 32,
                     bucketHigh: Double = 1.5, minSize: Long = 50L * 1024 * 1024,
                     storage: graft.sources.sstable.Storage =
                       graft.sources.sstable.LocalStorage): Seq[Seq[String]] = {
    val bySize = storage.listDataFiles(dir).map(f => f -> storage.length(f))
      .sortBy(_._2)
    val buckets = scala.collection.mutable.ArrayBuffer.empty[
      (scala.collection.mutable.ArrayBuffer[String], Long)] // (files, total)
    bySize.foreach { case (f, sz) =>
      buckets.lastOption match {
        case Some((files, total))
            if sz <= bucketHigh * (total.toDouble / files.length) ||
              (sz < minSize && total.toDouble / files.length < minSize) =>
          files += f
          buckets(buckets.length - 1) = (files, total + sz)
        case _ =>
          buckets += ((scala.collection.mutable.ArrayBuffer(f), sz))
      }
    }
    buckets.collect { case (files, _) if files.length >= minThreshold =>
      files.take(maxThreshold).toSeq
    }.toSeq.sortBy { bucket =>
      val st = bucket.flatMap(f =>
        new graft.sources.sstable.SSTableReader(f, storage).statistics)
      val rows = st.map(_.rowCount).sum
      if (rows <= 0) 0.0 else -(st.map(_.tombstoneCount).sum.toDouble / rows)
    }
  }

  /** Fold ONE planned bucket of generations into a single sorted
    * generation in `outDir`: merge to the newest version of each cell
    * (LWW + delete-wins ties) over the bucket's files only — generations
    * outside the bucket are untouched, the STCS/LCS maintenance step.
    * Passing every file of a directory is a full compaction, and the
    * whole directory is key-isolated by construction, so `gc = true` is
    * then always safe.
    *
    * `gc = true` additionally drops tombstones from the fold output —
    * ONLY legal when the caller has PROVEN the bucket key-isolated: no
    * generation outside `files` overlaps any bucket file's key range
    * (Cassandra's rule — a tombstone is droppable only when no
    * overlapping older sstable could still hold shadowed data; dropping
    * it otherwise RESURRECTS that data). [[compactInPlace]] and
    * [[compactLeveledInPlace]] derive the proof from `-Statistics.db`
    * key bounds and fall back to carrying tombstones when any involved
    * file lacks statistics. Direct callers without such a proof must
    * leave the default `gc = false`.
    *
    * The fold is the codec-level streaming merge
    * ([[graft.sources.sstable.SSTableReader.Fold]]: one reader per
    * input, k-way by key, each key reconciled with compactRows' rules)
    * run on the calling thread, streamed into ONE [[graft.sources
    * .sstable.SSTableWriter]] with the directory's writer tuning (a
    * catalog table's `_table` properties; defaults for path-API
    * directories). ONE output generation per fold is the contract STCS
    * convergence depends on: outputs must number FEWER than inputs, or
    * `while (compactInPlace > 0)` never terminates. Memory is one
    * decoded row per input plus the writer's chunk at any bucket size;
    * the fold's bytes pass through this JVM, not an executor.
    *
    * The output is staged under `outDir/_staging-<tag>/` and published
    * through the write path's one commit
    * ([[graft.sources.sstable.spark.FilesetCommit]]). No history
    * event — the surrounding maintenance op records ONE event with the
    * whole before/after diff. Returns the published Data.db paths
    * (empty when no row survives — a fully deleted bucket publishes
    * nothing), so in-place callers can re-validate GC safety against a
    * fresh listing and unpublish a fold that a concurrent flush
    * invalidated. Damaged, out-of-order or counter-bearing inputs fail
    * the fold before anything is published. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, files: Seq[String],
                   outDir: String, gc: Boolean = false): Seq[String] = {
    require(files.nonEmpty, "empty compaction bucket")
    val conf = spark.sessionState.newHadoopConf()
    val storage = graft.sources.sstable.Storage.forPath(outDir, conf)
    val inputs = graft.sources.sstable.Storage.forPath(files.head, conf)
    withFoldStaging(storage, outDir) { tag =>
      stageFold(inputs, files, storage, outDir, tag, tag, gc).toSeq
        .flatMap(publishFold(storage, outDir, tag, _))
    }
  }

  /** Run `body` with a fresh fold tag; the tag's `_staging-<tag>`
    * directory under `dir` is removed afterwards whatever happened. */
  private def withFoldStaging[T](storage: graft.sources.sstable.Storage,
                                 dir: String)(body: String => T): T = {
    val tag = "fold-" + java.util.UUID.randomUUID().toString.take(8)
    try body(tag) finally storage.deleteRecursive(s"$dir/_staging-$tag")
  }

  /** Stream the fold of `files` into `dir/_staging-<tag>/<stem>-Data.db`
    * with `dir`'s writer tuning. None when no row survives (nothing is
    * written). */
  private def stageFold(inputs: graft.sources.sstable.Storage, files: Seq[String],
                        storage: graft.sources.sstable.Storage, dir: String,
                        tag: String, stem: String, gc: Boolean): Option[String] = {
    import graft.sources.sstable.{SSTableFiles, SSTableReader}
    import graft.sources.sstable.spark.{GraftCatalog, WriterTuning}
    val t = WriterTuning.of(GraftCatalog.tableProps(storage, dir))
    val fold = new SSTableReader.Fold(files.map(SSTableReader.Fold.Slice.whole), inputs, gc)
    try {
      if (!fold.hasNext) None
      else {
        val staged = s"$dir/_staging-$tag/$stem${SSTableFiles.DataSuffix}"
        storage.mkdirs(s"$dir/_staging-$tag")
        val w = t.open(staged, storage)
        try fold.foreach(w.append) finally w.close()
        Some(staged)
      }
    } finally fold.close()
  }

  /** Publish a staged fold output into `dir` through the write path's
    * one commit ([[graft.sources.sstable.spark.FilesetCommit]]) and
    * return its published Data.db path as `dir`'s listing spells it. */
  private def publishFold(storage: graft.sources.sstable.Storage, dir: String,
                          tag: String, staged: String): Seq[String] = {
    graft.sources.sstable.spark.FilesetCommit(storage, dir, tag, Seq(staged))
    val name = staged.substring(staged.lastIndexOf('/'))
    storage.listDataFiles(dir).filter(_.endsWith(name))
  }

  /** Is `bucket` key-isolated within `allFiles`? True iff every bucket
    * file has statistics and no non-bucket file (stats-less files
    * conservatively overlap everything) overlaps any of them — the
    * precondition that makes bucket-scoped tombstone GC safe. Pure
    * metadata (cache-served Statistics.db reads).
    *
    * Note: unlike Cassandra, no gc_grace delay applies — grace exists
    * for replica anti-entropy (a tombstone must outlive repair so other
    * replicas learn the delete), and this engine's directories are
    * single-copy analytical stores where the overlap proof alone decides
    * safety. */
  private[operators] def bucketIsolated(bucket: Seq[String], allFiles: Seq[String],
                                        storage: graft.sources.sstable.Storage): Boolean = {
    import graft.sources.sstable.SSTableReader
    val inBucket = bucket.toSet
    val bucketStats = bucket.map(f => new SSTableReader(f, storage).statistics)
    if (bucketStats.exists(_.isEmpty)) return false
    val outside = allFiles.filterNot(inBucket)
      .map(f => new SSTableReader(f, storage).statistics)
    outside.forall(o => bucketStats.forall(b => !overlaps(b, o)))
  }

  /** Fold one bucket in place with GC when provably safe, re-validating
    * the isolation proof AFTER the fold (ADVICE r5): [[bucketIsolated]]
    * is check-then-act, and a generation flushed concurrently during the
    * fold could overlap the bucket — its older shadowed data would be
    * resurrected once the bucket's tombstones are dropped. So a GC'd fold
    * re-checks isolation against a fresh listing (excluding the fold's
    * own output) before the inputs are unpublished; on mismatch the GC'd
    * output is unpublished (inputs still carry the tombstones, so readers
    * stay correct throughout) and the fold redoes without GC.
    *
    * This narrows the unsafe window from the whole fold duration to the
    * metadata round-trip between the re-check and the input unpublish; a
    * flush landing inside THAT window still requires the documented
    * deployment rule — in-place compaction assumes a single maintainer
    * and no concurrent writers to the directory, like Cassandra's one
    * compaction manager per node. */
  private[operators] def foldBucketInPlace(spark: org.apache.spark.sql.SparkSession,
                                           dir: String, bucket0: Seq[String],
                                           storage: graft.sources.sstable.Storage,
                                           lease: graft.sources.sstable.MaintenanceLease = null): Boolean = {
    import graft.sources.sstable.SSTableFiles
    import graft.sources.sstable.spark.DeleteShadow
    // fence: unpublishing inputs is the destructive step — a maintainer
    // whose lease was stolen (presumed dead, merely slow) must abort
    // here rather than delete files out from under its successor
    def fence(): Unit = if (lease != null) lease.checkHeld()
    val gc = bucketIsolated(bucket0, storage.listDataFiles(dir), storage)
    // A non-GC fold must leave DELETE-ONLY generations alone: folding one
    // into a mixed output would keep its tombstone ROWS (the merge
    // carries them) but destroy the sidecar delete-only signature that
    // delete-aware reads hoist into their shadow map — the pending
    // deletes would silently stop applying while overlapping generations
    // outside the bucket still hold the deleted data (resurrection in
    // the SQL-visible view). An isolated (GC) fold is the opposite: it
    // resolves the debt properly, dropping tombstones AND shadowed data.
    def nonDeleteOnly(fs: Seq[String]): Seq[String] =
      fs.filterNot(f => DeleteShadow.isDeleteOnly(
        new graft.sources.sstable.SSTableReader(f, storage).statistics))
    def foldCarrying(fs: Seq[String]): Boolean = {
      // carrying fold: delete-only members withheld (above); a singleton
      // carrying fold is a pointless rewrite. Returns whether anything
      // folded — repeat-until-zero callers need withheld buckets to
      // count as NO-OPS or they would spin on them forever.
      val keep = nonDeleteOnly(fs)
      if (keep.length < 2) return false
      compactFiles(spark, keep, dir, gc = false)
      fence()
      keep.foreach(SSTableFiles.unpublish(storage, _))
      true
    }
    if (!gc) return foldCarrying(bucket0)
    val outputs = compactFiles(spark, bucket0, dir, gc = true)
    val world = storage.listDataFiles(dir).filterNot(outputs.toSet)
    if (!bucketIsolated(bucket0, world, storage)) {
      // a racing flush invalidated the GC proof: withdraw, refold
      // carrying (delete-only members withheld here too). Its result IS
      // this fold's result (ADVICE r7): when the withheld bucket has <2
      // foldable members the recovery is a no-op, and reporting it as a
      // fold would make repeat-until-zero callers spin an extra pass.
      outputs.foreach(SSTableFiles.unpublish(storage, _))
      foldCarrying(bucket0)
    } else {
      fence()
      bucket0.foreach(SSTableFiles.unpublish(storage, _)); true
    }
  }

  /** One STCS maintenance pass IN PLACE: fold every planned bucket into
    * a new generation inside the SAME directory, then unpublish the
    * bucket's input filesets (Data.db first, so each set leaves reader
    * listings atomically). Returns the number of buckets folded.
    *
    * Tombstone GC rides along for free where it's provably safe: a
    * bucket whose key ranges no outside generation overlaps
    * ([[bucketIsolated]], from Statistics.db bounds) folds WITH GC —
    * its tombstones cannot be shadowing anything outside the fold, so
    * dropping them reclaims the space compaction exists to reclaim.
    * Overlapped (or stats-less) buckets carry tombstones as before.
    *
    * Concurrent-reader window: after the fold lands and before the
    * inputs disappear, a reader sees BOTH the merged generation and its
    * inputs — harmless, because the LWW merge is idempotent (duplicate
    * versions reconcile to the same winners; a GC'd fold plus its
    * still-listed inputs reconciles to the inputs' own merge). A reader
    * that planned a split on an input file exactly as it is deleted
    * fails loudly and re-plans — the same contract Cassandra offers
    * without reference counting. Run to fixpoint by calling repeatedly
    * until it returns 0 (each pass halves the generation count per
    * bucket).
    *
    * Concurrent WRITERS are a different story: GC'd folds re-validate
    * their isolation proof post-fold ([[foldBucketInPlace]]), but a
    * flush landing in the final metadata window can still slip through —
    * run in-place compaction as the directory's single maintainer with
    * no concurrent writers (Cassandra's per-node compaction-manager
    * model). */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession, dir: String,
                     minThreshold: Int = 4, maxThreshold: Int = 32,
                     minSize: Long = 50L * 1024 * 1024): Int =
    foldPlannedInPlace(spark, dir, "compactInPlace", "compact")(storage =>
      planCompaction(dir, minThreshold, maxThreshold, minSize = minSize,
        storage = storage))

  /** The in-place size-tier/run compactors' one skeleton: refuse a
    * bucketed layout, take the maintenance lease as `holder`, plan under
    * it, fold each planned bucket through [[foldBucketInPlace]] and
    * record ONE `op` history event. Returns the number of buckets
    * folded. */
  private def foldPlannedInPlace(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, holder: String, op: String)(
      plan: graft.sources.sstable.Storage => Seq[Seq[String]]): Int = {
    val storage = graft.sources.sstable.Storage.forPath(
      dir, spark.sessionState.newHadoopConf())
    refuseBucketedLayout(dir, storage, holder)
    graft.sources.sstable.MaintenanceLease.withLease(dir, storage, holder) { lease =>
      val buckets = plan(storage)
      // fresh listing per bucket inside the fold helper: earlier folds
      // changed the directory (their outputs must count as overlap
      // candidates, their deleted inputs must not be stat'd)
      recordingFolds(storage, dir, op) {
        buckets.count(foldBucketInPlace(spark, dir, _, storage, lease))
      }
    }
  }

  /** Run `folds` and, when it changed the directory, append the
    * before/after fileset diff to the `_history` log — the one home of
    * the maintenance-event shape every compactor shares. */
  private def recordingFolds(storage: graft.sources.sstable.Storage,
                             dir: String, op: String)(folds: => Int): Int = {
    val before = storage.listDataFiles(dir)
    val n = folds
    if (n > 0) {
      val after = storage.listDataFiles(dir)
      graft.sources.sstable.History.record(storage, dir, op,
        added = after.diff(before), removed = before.diff(after),
        detail = s"folds=$n")
    }
    n
  }

  /** The generic in-place compactors fold generations by SIZE tier /
    * run, so on a [[writeBucketed]] directory they would merge ACROSS
    * hash buckets and publish non-`bucket-NNNNN-` names — every future
    * bucketed read then fails its layout validation, and the layout
    * cannot be restored without a full rewrite. Refuse loudly instead
    * (the data-destroying kind of mistake a SQL `CALL` makes easy);
    * [[compactBucketedInPlace]] is the layout-preserving maintenance. */
  private def refuseBucketedLayout(dir: String,
                                   storage: graft.sources.sstable.Storage,
                                   what: String): Unit = {
    val files = storage.listDataFiles(dir)
    // ANY bucket-stemmed generation refuses (review r8): requiring ALL
    // would let a bucketed directory contaminated by one plain path-API
    // append slip past the guard — and a cross-bucket fold is exactly
    // the unrecoverable layout destruction this exists to prevent. A
    // mixed directory has NO compaction path on purpose: evict the
    // foreign generation first (only bucketed writers produce the stem).
    require(!files.exists(bucketOf(_).isDefined),
      s"$what on a directory holding bucket-NNNNN generations would fold " +
        s"across hash buckets and destroy the bucketed layout contract: $dir " +
        "— use compactBucketedInPlace (CALL graft.system.compact_bucketed); " +
        "if the directory is MIXED, remove the non-bucket generations first")
  }

  /** The hash bucket a generation's `bucket-NNNNN-` stem names, if any. */
  private def bucketOf(f: String): Option[Int] =
    graft.sources.sstable.SSTableFiles.generationStem(f) match {
      case graft.sources.sstable.spark.SSTableSource.BucketNameRe(b) => Some(b.toInt)
      case _ => None
    }

  /** The bucket-stemmed members of `files` as per-bucket generation
    * chains, by bucket, each chain sorted. Other files are left out. */
  private def bucketChains(files: Seq[String]): Seq[(Int, Seq[String])] =
    files.flatMap(f => bucketOf(f).map((_, f)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, members) => (b, members.map(_._2).sorted) }

  /** Layout-preserving compaction for [[writeBucketed]] directories:
    * fold each hash bucket's generation CHAIN into one generation
    * published under the same `bucket-NNNNN-` stem, so the key→bucket
    * contract (and with it every zero-exchange merge/join the layout
    * buys) survives maintenance. Tombstone GC is structural here — a
    * bucket's keys hash to that bucket in every generation, and the
    * fold takes the bucket's WHOLE chain, so its tombstones cannot be
    * shadowing data anywhere outside the fold. A bucket whose chain
    * fully reconciles away (all rows tombstoned) publishes nothing —
    * an empty bucket is a legal layout state (writeBucketed skips
    * empty buckets too).
    *
    * Concurrency: same single-maintainer contract as [[compactInPlace]].
    * As belt-and-braces, each bucket re-lists its chain after staging
    * and WITHDRAWS (staged output dropped, bucket skipped this pass) if
    * a concurrent flush changed it — the next pass picks the bucket up
    * again. WITHIN the one maintainer, folds run across buckets in
    * parallel (`parallelism` threads; 0 = this JVM's processors, capped
    * by the fold count) — each fold is one single-threaded merge on the
    * driver, so serial folds would leave its cores idle. Returns the
    * number of buckets folded. */
  def compactBucketedInPlace(spark: org.apache.spark.sql.SparkSession,
                             dir: String, minThreshold: Int = 2,
                             parallelism: Int = 0): Int = {
    require(minThreshold >= 2, s"minThreshold must be >= 2: $minThreshold")
    val storage = graft.sources.sstable.Storage.forPath(
      dir, spark.sessionState.newHadoopConf())
    def plan(): Seq[(Int, Seq[String])] = {
      val files = storage.listDataFiles(dir)
      files.find(bucketOf(_).isEmpty).foreach { f =>
        throw new IllegalArgumentException(
          s"not a bucketed generation (want bucket-NNNNN-*): $f — " +
            "compactBucketedInPlace maintains writeBucketed directories only")
      }
      bucketChains(files).filter(_._2.length >= minThreshold)
    }
    // cheap lease-free early-out for the nothing-to-do case only; the
    // AUTHORITATIVE plan is re-built under the lease (ADVICE r9: a
    // sibling maintainer folding between a lease-free plan and our
    // acquisition left the plan's chains pointing at unpublished files,
    // and the pass died with a raw FileNotFound mid-fold instead of
    // folding the post-sibling state — the compactInPlace/autoCompact
    // 're-list under the lease' pattern, applied here too)
    if (plan().isEmpty) return 0
    graft.sources.sstable.MaintenanceLease.withLease(dir, storage,
      "compactBucketedInPlace") { lease =>
      val foldable = plan()
      if (foldable.isEmpty) 0
      else recordingFolds(storage, dir, "compact_bucketed") {
        foldBucketsPooled(dir, storage, foldable, parallelism, lease)
      }
    }
  }

  /** The pooled cross-bucket fold body shared by [[compactBucketedInPlace]]
    * and [[autoCompact]] (both already hold the directory's maintenance
    * lease). Each fold runs on its pool thread (the codec-level merge of
    * [[compactFiles]] is single-threaded), so folds run ACROSS buckets in
    * parallel. Safe by construction: hash buckets are disjoint file sets,
    * tombstone GC is structural WITHIN a bucket, and each fold's
    * post-stage re-check filters the listing to its own bucket — sibling
    * folds are invisible to it. (The size-tier compactors stay serial:
    * their GC isolation proof reads the whole directory, which sibling
    * folds mutate.) Default slots: this JVM's processors, never more
    * than the folds. */
  private def foldBucketsPooled(dir: String,
                                storage: graft.sources.sstable.Storage,
                                foldable: Seq[(Int, Seq[String])],
                                parallelism: Int,
                                lease: graft.sources.sstable.MaintenanceLease): Int = {
    val slots = if (parallelism > 0) parallelism
      else math.max(1, math.min(foldable.length,
        Runtime.getRuntime.availableProcessors()))
    val folds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      foldable.foreach { case (b, chain) => pool.execute(() =>
        try { if (foldOneBucket(dir, storage, b, chain, lease)) { folds.incrementAndGet(); () } }
        catch { case t: Throwable => failures.add(t); () })
      }
      pool.shutdown()
      pool.awaitTermination(java.lang.Long.MAX_VALUE,
        java.util.concurrent.TimeUnit.NANOSECONDS)
      ()
    } finally { pool.shutdownNow(); () }
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    folds.get()
  }

  /** Write-triggered bounded maintenance (VERDICT r8 #2): called by the
    * COMMITTING writer (batch job commit, streaming epoch commit) when
    * the directory's write options carry `autocompact = N`. If the
    * commit left more than N generations (per bucket for bucketed
    * layouts), fold enough of them — under the maintenance lease, which
    * the committing writer holds for exactly the fold's duration — that
    * the count returns to the bound. Generalizes the pattern
    * [[graft.streaming.StreamingIncrementalDedup]] proved on its own
    * signature store: continuous ingestion stays read-efficient without
    * an operator ever scheduling CALL compact.
    *
    * Fold policy, chosen for bounded write amplification:
    *  - plain layout: fold the SMALLEST `count - N + 1` DATA generations
    *    into one (the size-tiered pick — fresh epoch-sized generations
    *    fold cheaply against each other; the big folded outputs are left
    *    alone until enough siblings accumulate around them). The bound
    *    counts data generations only: delete-only generations cannot
    *    fold carrying (their sidecar delete signature would be
    *    destroyed) and belong to compact_tombstones/GC. Tombstone GC
    *    rides along when the picked set is provably isolated, exactly
    *    like [[compactInPlace]] ([[foldBucketInPlace]] is the shared
    *    fold body).
    *  - bucketed layout: fold the WHOLE chain of every bucket past the
    *    bound (the [[compactBucketedInPlace]] unit — GC is structural
    *    within a bucket), across buckets in parallel, since an epoch
    *    append grows EVERY non-empty bucket's chain by one and they all
    *    cross the bound together.
    *
    * If a real maintainer holds the lease the fold is SKIPPED, not
    * failed — the maintainer is already folding, and a write commit
    * must never fail for maintenance it merely volunteers for. A plain
    * directory contaminated with bucket-stemmed generations is likewise
    * skipped (the generic fold would destroy the layout; the guards on
    * the explicit compactors make that loud instead).
    *
    * Returns the number of folds run (0 = under the bound / skipped). */
  def autoCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
                  threshold: Int, buckets: Option[Int]): Int = {
    import graft.sources.sstable.MaintenanceLease
    require(threshold >= 2,
      s"autocompact threshold must be >= 2 (1 would rewrite the whole " +
        s"directory every commit): $threshold")
    val storage = graft.sources.sstable.Storage.forPath(
      dir, spark.sessionState.newHadoopConf())
    // cheap lease-free pre-check (one LIST + name parsing; plain
    // layouts add CACHE-SERVED sidecar reads for the delete-only
    // filter): under the bound ⇒ nothing to do, no lease churn on the
    // common every-epoch path. The pre-check must apply the SAME
    // data-generation bound as the fold (review r9): counting raw
    // files would make every commit to an UPDATE-touched table acquire
    // and release the lease forever, since the delete-only generations
    // that pushed the raw count over the bound never fold here.
    // Rechecked under the lease before folding.
    def chainsOver(files: Seq[String]): Seq[(Int, Seq[String])] =
      bucketChains(files).filter(_._2.length > threshold)
    def dataGensOf(files: Seq[String]): Seq[String] =
      files.filterNot { f =>
        // a file that vanished between the LIST and its sidecar read
        // was unpublished by a concurrent maintainer — treat it as not
        // ours to fold, never as a reason to fail the committing write
        try graft.sources.sstable.spark.DeleteShadow.isDeleteOnly(
          new graft.sources.sstable.SSTableReader(f, storage).statistics)
        catch {
          case _: java.io.FileNotFoundException |
               _: java.nio.file.NoSuchFileException => true
        }
      }
    val pre = storage.listDataFiles(dir)
    val underBound = buckets match {
      case Some(_) => chainsOver(pre).isEmpty
      case None => pre.length <= threshold || dataGensOf(pre).length <= threshold
    }
    if (underBound) return 0
    try {
      MaintenanceLease.withLease(dir, storage, "autocompact") { lease =>
        // re-list under the lease: the pre-check raced other committers
        val now = storage.listDataFiles(dir)
        recordingFolds(storage, dir, "autocompact") {
          buckets match {
            case Some(_) =>
              val chains = chainsOver(now)
              if (chains.isEmpty) 0
              else foldBucketsPooled(dir, storage, chains,
                parallelism = 0, lease)
            case None =>
              if (now.exists(bucketOf(_).isDefined)) 0 // contaminated: skip, never fold across buckets
              else {
                // the bound applies to DATA generations: delete-only
                // generations are withheld from carrying folds anyway
                // (folding one into a mixed output destroys its sidecar
                // delete signature — see foldBucketInPlace), so counting
                // them would let an UPDATE/MERGE-heavy directory starve
                // the pick on unfoldable members while the count climbed.
                // Tombstone DEBT stays compact_tombstones'/GC's domain;
                // the bucketed path resolves it structurally per chain.
                val dataGens = dataGensOf(now)
                if (dataGens.length <= threshold) 0
                else {
                  val k = dataGens.length - threshold + 1
                  val smallest = dataGens.sortBy(storage.length).take(k)
                  if (foldBucketInPlace(spark, dir, smallest, storage, lease)) 1 else 0
                }
              }
          }
        }
      }
    } catch {
      // a real maintainer is on it (Held, incl. acquire churn) or took
      // over mid-fold (Lost — we stalled past the horizon and the fence
      // aborted us before touching published state): either way the
      // write must not fail for maintenance it merely volunteered for.
      // Genuine fold IO errors still propagate — a store that cannot
      // fold cannot be trusted to have committed either.
      case _: MaintenanceLease.MaintenanceLeaseHeldException => 0
      case _: MaintenanceLease.MaintenanceLeaseLostException => 0
    }
  }

  /** One bucket's layout-preserving fold (the [[compactBucketedInPlace]]
    * unit of parallelism): the [[compactFiles]] fold of the whole chain,
    * staged directly under the bucket stem, then re-check the chain and
    * publish. Returns true iff the fold went through (false = withdrawn
    * for a concurrent flush). */
  private def foldOneBucket(dir: String,
                            storage: graft.sources.sstable.Storage,
                            b: Int, chain: Seq[String],
                            lease: graft.sources.sstable.MaintenanceLease = null): Boolean = {
    import graft.sources.sstable.SSTableFiles
    import graft.sources.sstable.spark.SSTableSource
    withFoldStaging(storage, dir) { tag =>
      val staged = stageFold(storage, chain, storage, dir, tag,
        s"${SSTableSource.bucketStem(b)}$tag", gc = true)
      // post-stage re-check (the foldBucketInPlace pattern): a flush
      // that landed in this bucket mid-fold would be silently merged
      // away by our unpublish below — withdraw instead and let the
      // next pass fold the grown chain
      val nowChain = storage.listDataFiles(dir).filter(bucketOf(_).contains(b)).sorted
      if (nowChain != chain) false
      else {
        // fence before mutating the live layout (publish + input
        // unpublish): a stolen lease means a successor maintainer may
        // already be folding this bucket — abort, our staged output is
        // private and dies with the staging dir
        if (lease != null) lease.checkHeld()
        staged.foreach(publishFold(storage, dir, tag, _))
        chain.foreach(SSTableFiles.unpublish(storage, _))
        true
      }
    }
  }

  /** Single-generation tombstone compaction (Cassandra's
    * `unchecked_tombstone_compaction` family): pick generations whose
    * sidecar tombstone ratio reaches `ratioThreshold` AND whose key
    * range no other generation overlaps — the isolation proof that
    * makes their tombstones droppable — and plan each as a singleton
    * fold. STCS ([[planCompaction]]) triggers on SIZE tiers, so a
    * lone delete-heavy generation (a big `DELETE`, an expired-data
    * purge) can sit un-folded for a long time while every delete-aware
    * read carries its shadow map; this planner triggers on the DEBT
    * itself. Non-isolated generations are skipped — a singleton fold
    * would have to carry the tombstones, rewriting bytes for nothing. */
  def planTombstoneCompaction(dir: String, ratioThreshold: Double = 0.2,
                              storage: graft.sources.sstable.Storage =
                                graft.sources.sstable.LocalStorage): Seq[Seq[String]] = {
    val files = storage.listDataFiles(dir)
    files.filter { f =>
      new graft.sources.sstable.SSTableReader(f, storage).statistics.exists(s =>
        s.tombstoneRatio >= ratioThreshold) &&
        bucketIsolated(Seq(f), files, storage)
    }.map(Seq(_))
  }

  /** Fold every [[planTombstoneCompaction]] pick in place (tombstones
    * GC'd — the picks are isolated by construction, and
    * [[foldBucketInPlace]] re-proves it against a fresh listing before
    * and after each fold). Returns the number of generations folded.
    * Same single-maintainer contract as [[compactInPlace]]. */
  def compactTombstonesInPlace(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               ratioThreshold: Double = 0.2): Int =
    foldPlannedInPlace(spark, dir, "compactTombstonesInPlace",
      "compact_tombstones")(planTombstoneCompaction(dir, ratioThreshold, _))

  /** Manifest-free leveled-compaction view of a directory (LCS option,
    * VERDICT r4 #7): group the generations into sorted RUNS — sets of
    * files whose `-Statistics.db` key ranges are pairwise non-overlapping
    * (the defining LCS invariant; within a run a point read touches at
    * most one file). Files are taken newest-first (per-generation max
    * LWW timestamp) and each goes to the SHALLOWEST run it doesn't
    * overlap, so recent data sits in shallow runs like Cassandra's L0.
    * That greedy rule also guarantees progress for [[planCompactionLeveled]]:
    * every file in run i+1 overlaps some file in run i (else it would
    * have been placed there), so adjacent runs always have a foldable
    * component. A file without statistics can't prove non-overlap and
    * conservatively overlaps everything (it lands in its own run).
    * Pure metadata — one cache-served Statistics.db read per file. */
  /** Do two generations' key ranges overlap? Stats-less files cannot
    * prove disjointness and conservatively overlap everything; empty
    * generations overlap nothing. */
  private def overlaps(a: Option[graft.sources.sstable.SSTableStatistics],
                       b: Option[graft.sources.sstable.SSTableStatistics]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) =>
        if (x.rowCount == 0 || y.rowCount == 0) false
        else graft.sources.sstable.SSTableFiles.compareKeys(x.minKey, y.maxKey) <= 0 &&
          graft.sources.sstable.SSTableFiles.compareKeys(y.minKey, x.maxKey) <= 0
      case _ => true
    }

  def leveledRuns(dir: String,
                  storage: graft.sources.sstable.Storage =
                    graft.sources.sstable.LocalStorage): Seq[Seq[String]] =
    leveledRunsWithStats(dir, storage).map(_.map(_._1))

  private def leveledRunsWithStats(dir: String,
                                   storage: graft.sources.sstable.Storage)
      : Seq[Seq[(String, Option[graft.sources.sstable.SSTableStatistics])]] = {
    import graft.sources.sstable.{SSTableReader, SSTableStatistics}
    val files = storage.listDataFiles(dir)
      .map(f => (f, new SSTableReader(f, storage).statistics))
      .sortBy { case (f, st) => (st.map(_.maxTimestamp).getOrElse(Long.MaxValue), f) }(
        Ordering.Tuple2(Ordering[Long].reverse, Ordering[String]))
    val runs = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, Option[SSTableStatistics])]]
    files.foreach { case (f, st) =>
      runs.find(r => !r.exists(m => overlaps(st, m._2))) match {
        case Some(r) => r += ((f, st))
        case None => runs += scala.collection.mutable.ArrayBuffer((f, st))
      }
    }
    runs.map(_.toSeq).toSeq
  }

  /** Leveled-compaction planning: when the directory holds more than
    * `maxRuns` sorted runs, pick the ADJACENT run pair with the smallest
    * combined bytes (bounds write amplification — Cassandra's LCS
    * similarly merges a file into the next level's overlapping files)
    * and return the key-overlap connected components of their union as
    * fold buckets for [[compactFiles]]. Distinct components have
    * disjoint key spans (a connected set of intervals unions to one
    * interval), so after folding every returned bucket the two runs
    * collapse into one — run count strictly decreases per pass until
    * `maxRuns` is reached. Buckets cap at `maxThreshold` files; a capped
    * fold still converges, it just takes another pass.
    *
    * Like [[compactFiles]], folds carry tombstones (no GC — a partial
    * fold can't know what older generations outside the bucket still
    * need shadowing). Empty result ⇔ the directory is already within
    * `maxRuns` runs. */
  def planCompactionLeveled(dir: String, maxRuns: Int = 4, maxThreshold: Int = 32,
                            storage: graft.sources.sstable.Storage =
                              graft.sources.sstable.LocalStorage): Seq[Seq[String]] = {
    require(maxRuns >= 1, s"maxRuns must be >= 1: $maxRuns")
    val runs = leveledRunsWithStats(dir, storage)
    if (runs.length <= maxRuns) return Nil
    val sizes = runs.map(_.map(f => storage.length(f._1)).sum)
    val i = (0 until runs.length - 1).minBy(j => sizes(j) + sizes(j + 1))
    val pool = (runs(i) ++ runs(i + 1)).toArray
    // connected components of the overlap graph (pool is one pass's two
    // runs — small; O(n^2) metadata comparisons)
    val seen = new Array[Boolean](pool.length)
    val components = Seq.newBuilder[Seq[String]]
    for (s <- pool.indices if !seen(s)) {
      val comp = scala.collection.mutable.ArrayBuffer(s)
      seen(s) = true
      var qi = 0
      while (qi < comp.length) {
        val cur = comp(qi)
        for (t <- pool.indices if !seen(t) && overlaps(pool(cur)._2, pool(t)._2)) {
          seen(t) = true
          comp += t
        }
        qi += 1
      }
      if (comp.length >= 2)
        components += comp.toSeq.sorted.map(pool(_)._1).take(maxThreshold)
    }
    components.result()
  }

  /** One leveled maintenance pass IN PLACE (the [[compactInPlace]] twin
    * for [[planCompactionLeveled]]): fold every planned overlap
    * component into a new generation inside the same directory, then
    * unpublish the inputs. Key-isolated components fold with tombstone
    * GC, like the STCS pass. Returns the number of buckets folded; run
    * repeatedly until 0 to reach the `maxRuns` invariant (same
    * concurrent-reader window argument as [[compactInPlace]]). */
  def compactLeveledInPlace(spark: org.apache.spark.sql.SparkSession, dir: String,
                            maxRuns: Int = 4, maxThreshold: Int = 32): Int =
    foldPlannedInPlace(spark, dir, "compactLeveledInPlace",
      "compact_leveled")(planCompactionLeveled(dir, maxRuns, maxThreshold, _))

  /** Tombstone GC over an already-compacted relation: row-shadowed columns
    * are already gone ([[compactRows]]), so drop the DELETED cell markers
    * and the row tombstone itself, and elide rows with nothing live left. */
  private def suppressTombstones2(compacted: DataFrame): DataFrame =
    compacted.select(col("key"),
      filter(col("columns"), c => c.getField("state") =!= "DELETED" &&
        c.getField("state") =!= "RANGE_TOMBSTONE").as("columns"))
      .filter(size(col("columns")) > 0)

  /** Index-nested-loop point-read join: probe the SSTable directory once
    * per key in `keys` (binary `key` column) instead of scanning it —
    * the access shape for a small probe set against a huge table (IO
    * proportional to probe count × generations, never table size; a
    * scan+filter reads everything). Per executor partition the 4-file
    * metadata is opened once (and served from [[graft.sources.sstable
    * .SSTableMetadataCache]] across partitions/queries); each probe is
    * bloom → Summary search → one bounded Index.db window → one Data.db
    * seek per generation that might contain the key, merged across
    * generations by [[graft.sources.sstable.SSTableReader.reconcile]],
    * the rules every merge shares.
    *
    * Inner-join semantics: one output row per probe key that exists
    * (after reconcile — with `gcTombstones` the live view, so wholesale-
    * deleted keys don't match); duplicate probe keys yield duplicate
    * outputs. Output schema = the scan schema.
    *
    * `mapPartitions` is the honest tier here (SURVEY §2.7 ladder): the
    * probe loop is per-partition imperative access to an external index,
    * not relational algebra Catalyst could optimize. */
  def lookupJoin(keys: DataFrame, dir: String,
                 gcTombstones: Boolean = true): DataFrame = {
    import graft.sources.sstable.{SSTableReader, StorageHandle}
    import graft.sources.sstable.spark.SSTableSchema
    val spark = keys.sparkSession
    val handle = StorageHandle(dir, spark.sessionState.newHadoopConf())
    val gc = gcTombstones
    // SQL equi-join semantics: a NULL probe key matches nothing (and the
    // probe loop would NPE on it)
    val out = keys.select(col("key")).filter(col("key").isNotNull)
      .queryExecution.toRdd.mapPartitions { it =>
      val storage = handle.get
      // one listing + one (cached) metadata load per partition, not per key
      val prober = new SSTableReader.DirectoryProber(dir, storage)
      it.flatMap { row =>
        prober.get(row.getBinary(0), gc)
          .map(r => SSTableSchema.rowToInternal(r, SSTableSchema.schema))
      }
    }
    org.apache.spark.sql.GraftColumnBridge.internalCreateDataFrame(
      spark, out, SSTableSchema.schema)
  }

  /** Remove `_staging-*` scratch directories older than `olderThanMs` —
    * the leftovers of write jobs whose JVM died before commit OR abort
    * could run (the staged-commit protocol guarantees no READABLE
    * half-output, but a killed driver leaves its invisible staging tree
    * on disk forever). Age is the liveness guard: a healthy job stages
    * and commits within its own runtime, so choose a horizon comfortably
    * above the longest write job (default 24 h) and this can run beside
    * live writers. Returns (removed, kept) staging paths. Published
    * generations are never touched — only `_staging-` subdirectories. */
  def vacuumStaging(dir: String,
                    olderThanMs: Long = 24L * 3600 * 1000,
                    nowMs: Long = System.currentTimeMillis(),
                    storage: graft.sources.sstable.Storage =
                      graft.sources.sstable.LocalStorage): (Seq[String], Seq[String]) = {
    // liveness = the newest of the dir's own mtime and its direct
    // files' mtimes: on object-store backends directory mtimes are
    // SYNTHETIC (prefixes aren't objects — stat reads 0), so dir mtime
    // alone would deem every staging dir infinitely old and sweep a
    // LIVE writer's scratch mid-job; the in-progress part files carry
    // real upload times (found by the objsim semantics audit). Vanished
    // entries (a concurrent vacuum won) are simply not ours to sweep.
    def lastTouchedMs(d: String): Long =
      try (storage.mtime(d) +: storage.listFiles(d).map(storage.mtime)).max
      catch {
        case _: java.io.FileNotFoundException |
             _: java.nio.file.NoSuchFileException => Long.MaxValue
      }
    val (stale, live) = storage.listSubdirs(dir, "_staging-")
      .partition(d => nowMs - lastTouchedMs(d) > olderThanMs)
    stale.foreach(storage.deleteRecursive)
    // commit-integrity markers from crashed commits (zero-byte
    // `_commit-` files — see CommitIntegrity) age out too — but under a
    // FLOORED horizon, never the caller's raw one (ADVICE r9): the
    // staging horizon is user-tunable via CALL vacuum, and a short value
    // aimed at staging dirs would sweep the marker of a commit still
    // publishing — whose verifyAndEnd then reports a false "directory
    // was REPLACED" even though its data landed. Markers live seconds,
    // so the floor only needs to clear the longest plausible publish.
    val markerHorizon = math.max(olderThanMs, CommitMarkerSweepFloorMs)
    storage.listFiles(dir)
      .filter { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        n.startsWith("_commit-") && {
          // markers churn on EVERY commit (seconds-long lifetime), so a
          // live commit's verifyAndEnd can delete one between the LIST
          // and this stat — vanished means cleaned up, not stale
          // (HadoopStorage.mtime throws on missing paths)
          try nowMs - storage.mtime(p) > markerHorizon
          catch {
            case _: java.io.FileNotFoundException |
                 _: java.nio.file.NoSuchFileException => false
          }
        }
      }
      .foreach(storage.delete)
    // the catalog append path stages OUTSIDE the table directory
    // (`<parent>/_wstage-<table>-<jobTag>` — swap-resilient commits, see
    // SSTableBatchWrite): a crashed append's scratch lands in the
    // NAMESPACE, where only staged DDL sweeps it. A namespace that never
    // runs CTAS/REPLACE/DROP would accumulate that litter forever —
    // CALL vacuum(table) is the maintenance entry an operator actually
    // schedules, so it sweeps its own table's `_wstage-` siblings too.
    // The prefix can over-match a dash-named sibling (`_wstage-t-…`
    // matches table `t-v2`'s scratch) — benign: the liveness guard
    // protects anything LIVE, and a sibling's crashed scratch is garbage
    // whoever sweeps it. Liveness rules match the catalog's staged-DDL
    // sweep exactly (ADVICE r10): the horizon is FLOORED at the shared
    // 24 h StageVacuumHorizonMs (the caller's staging horizon tunes
    // `_staging-` dirs, not these — a short value would sweep the live
    // outside staging of a running catalog append whose tasks went idle
    // before commit), liveness is the newer of dir mtime and the
    // heartbeat the write driver touches, and a vanished path (the
    // concurrent staged-DDL sweep or another vacuum won the race;
    // Hadoop-backed mtime THROWS) means already swept, not ours.
    if (dir.contains("/")) {
      val parent = dir.substring(0, dir.lastIndexOf('/'))
      val table = dir.substring(dir.lastIndexOf('/') + 1)
      val wstageHorizon = math.max(olderThanMs,
        graft.sources.sstable.spark.GraftCatalog.StageVacuumHorizonMs)
      storage.listSubdirs(parent, s"_wstage-$table-")
        .filter { d =>
          try {
            val hb = s"$d/${graft.sources.sstable.spark.GraftCatalog.StageHeartbeatFile}"
            val lastAlive = math.max(storage.mtime(d),
              if (storage.exists(hb)) storage.mtime(hb) else 0L)
            nowMs - lastAlive > wstageHorizon
          } catch {
            case _: java.io.FileNotFoundException |
                 _: java.nio.file.NoSuchFileException => false
          }
        }
        .foreach(storage.deleteRecursive)
    }
    (stale, live)
  }

  /** Floor for the `_commit-` marker sweep inside [[vacuumStaging]]: a
    * marker younger than this is never swept regardless of the caller's
    * staging horizon — it may belong to a commit still publishing, and
    * sweeping it would fail that commit with a false replaced-directory
    * report. One hour clears any plausible publish by orders of
    * magnitude (markers live for the seconds between a commit's first
    * and last publish). */
  val CommitMarkerSweepFloorMs: Long = 3600L * 1000

  /** Snapshot subdirectory prefix (the layout contract shared with the
    * read side's `option("snapshot", tag)`). Distinct from `_staging-`
    * so [[vacuumStaging]] never touches snapshots, and invisible to live
    * readers (fileset discovery lists files, not subdirectories). */
  val SnapshotPrefix: String =
    graft.sources.sstable.spark.SSTableSource.SnapshotDirPrefix

  def snapshotPath(dir: String, tag: String): String = s"$dir/$SnapshotPrefix$tag"

  /** Capture-time stamp written inside every pin (`_`-prefixed, so data
    * listings never see it): the retention clock [[expireSnapshots]]
    * trusts over directory mtime. */
  val PinnedAtFile: String = "_pinned-at"

  /** A pin's capture time: the `_pinned-at` stamp when present (the
    * authority — directory mtimes are synthetic on some object-store
    * adapters), else the pin directory's mtime (pre-stamp pins). */
  def snapshotCreatedMs(pin: String,
                        storage: graft.sources.sstable.Storage): Long = {
    val stamp = s"$pin/$PinnedAtFile"
    if (!storage.exists(stamp)) return storage.mtime(pin)
    storage.readString(stamp).trim.toLong
  }

  /** Pin the directory's current published state as a named snapshot —
    * Cassandra's `nodetool snapshot` design: every component of every
    * published fileset is HARDLINKED (byte-copied on backends without
    * links) under `_snapshot-<tag>/`. Filesets are immutable once
    * published, so the snapshot is a true point-in-time view: later
    * flushes land after the cut, and later compaction/GC unpublishes
    * only the LIVE names — the snapshot's links keep the bytes alive.
    * This is what makes a 100 TB pipeline run REPRODUCIBLE: snapshot
    * once, read `spark.read.format("sstable").load(snapshotPath)` for
    * the whole run, compact/flush freely underneath.
    *
    * Lock-free and safe under concurrent compaction: compaction
    * publishes its merged output BEFORE unpublishing inputs, so at
    * every instant the published set covers the full merged state. If a
    * source file vanishes mid-capture (its fileset was just
    * unpublished), that fileset's partial links are removed and the
    * directory is relisted — the replacement output appears in the new
    * listing. Passes are bounded; pathological churn throws rather than
    * returning an inconsistent cut. Within a fileset, links go in
    * publish order (Data.db LAST), so the snapshot directory itself is
    * reader-consistent even mid-capture. NOTE: capturing a compaction's
    * inputs AND its output is merge-equivalent (the fold output IS the
    * inputs' reconciled state), so overlap across passes is harmless.
    *
    * Returns the snapshot path. Refuses an existing tag. */
  def snapshot(dir: String, tag: String,
               storage: graft.sources.sstable.Storage =
                 graft.sources.sstable.LocalStorage,
               maxPasses: Int = 10): String = {
    import graft.sources.sstable.SSTableFiles
    require(tag.nonEmpty && !tag.exists(c => c == '/' || c == '\\'),
      s"bad snapshot tag: '$tag'")
    val snap = snapshotPath(dir, tag)
    if (storage.exists(snap))
      throw new IllegalStateException(s"snapshot already exists: $snap")
    storage.mkdirs(snap)
    // capture time stamped IN the pin (ADVICE/VERDICT r9 list #7):
    // retention used to key off pin-dir mtime alone, and an adapter
    // whose directory mtimes are synthetic (object stores often stamp
    // listing time or zero) could expire a YOUNG pin. The stamp is the
    // authority; mtime stays as the fallback for pre-stamp pins.
    val stampOut = storage.create(s"$snap/$PinnedAtFile")
    try stampOut.write(System.currentTimeMillis().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally stampOut.close()
    val captured = scala.collection.mutable.Set.empty[String] // Data.db names
    var pass = 0
    var stable = false
    while (!stable) {
      pass += 1
      if (pass > maxPasses)
        throw new IllegalStateException(
          s"snapshot $snap not stable after $maxPasses passes (directory churn)")
      val wanted = storage.listDataFiles(dir)
        .filterNot(p => captured.contains(fileName(p)))
      var failed = false
      wanted.foreach { dataPath =>
        val name = fileName(dataPath)
        val done = scala.collection.mutable.ArrayBuffer.empty[String]
        var dataLinked = false
        try {
          SSTableFiles.PublishOrderSuffixes.foreach { suf =>
            val src = SSTableFiles.sibling(dataPath, suf)
            // optional siblings (bloom off, stats-less old gens) may be
            // absent; Data.db itself must link or the fileset failed —
            // unpublish deletes Data.db FIRST, so a vanished Data.db
            // with lingering siblings means "unpublished mid-capture"
            if (storage.exists(src)) {
              storage.link(src, s"$snap/${fileName(src)}")
              done += s"$snap/${fileName(src)}"
              if (suf == SSTableFiles.DataSuffix) dataLinked = true
            }
          }
          if (!dataLinked) throw new java.io.IOException(s"$dataPath unpublished")
          captured += name
        } catch {
          case _: java.io.IOException | _: java.nio.file.NoSuchFileException =>
            // fileset unpublished mid-capture; its merged state is in a
            // newer published generation — drop partials, relist
            done.foreach(storage.delete)
            failed = true
        }
      }
      // stable ⇔ a pass with zero link failures whose FRESH listing is
      // fully captured. A concurrent flush stream extends the cut until
      // a quiet instant (each new generation joins the snapshot);
      // maxPasses bounds that.
      stable = !failed &&
        storage.listDataFiles(dir).forall(p => captured.contains(fileName(p)))
    }
    graft.sources.sstable.History.record(storage, dir, "snapshot",
      detail = s"tag=$tag filesets=${captured.size}")
    snap
  }

  /** Tags of the snapshots under `dir`, sorted. */
  def listSnapshots(dir: String,
                    storage: graft.sources.sstable.Storage =
                      graft.sources.sstable.LocalStorage): Seq[String] =
    storage.listSubdirs(dir, SnapshotPrefix).map(p => fileName(p).drop(SnapshotPrefix.length))

  /** Drop a snapshot (the live directory is never touched; bytes shared
    * via hardlinks survive under their live names). */
  def dropSnapshot(dir: String, tag: String,
                   storage: graft.sources.sstable.Storage =
                     graft.sources.sstable.LocalStorage): Unit = {
    // pin destruction joins the lease family (r9): a rollback relinks
    // the LIVE state FROM a pin's files, so deleting that pin mid-
    // restore would fail the rollback half-way — the lease makes the
    // collision a loud refusal instead
    graft.sources.sstable.MaintenanceLease.withLease(dir, storage,
      s"drop_snapshot:$tag") { lease =>
      val existed = storage.exists(snapshotPath(dir, tag))
      lease.checkHeld() // fence: a superseded holder must not delete pins
      storage.deleteRecursive(snapshotPath(dir, tag))
      if (existed)
        graft.sources.sstable.History.record(storage, dir, "drop_snapshot",
          detail = s"tag=$tag")
    }
  }

  /** Restore the LIVE directory to the state snapshot `tag` pinned —
    * the write-side dual of `VERSION AS OF` (Iceberg's rollback, Delta's
    * RESTORE). Two phases, additive then destructive:
    *
    *  1. every pin fileset missing from the live listing is HARDLINKED
    *     back under its own name (link order = publish order, Data.db
    *     LAST — a reader never finds an incomplete fileset);
    *  2. every live fileset the pin doesn't hold is unpublished
    *     (post-pin flushes, tombstone generations, compaction outputs).
    *
    * The transient state between the phases is the UNION of pin and
    * post-pin filesets, which reconciles (LWW) to the PRE-rollback view;
    * phase 2 then removes the post-pin generations NEWEST-FIRST, so a
    * reader racing the removal sees the log minus its newest suffix — a
    * state the directory genuinely passed through — never a mixture
    * that existed at no point in history, and never a torn fileset
    * (per-fileset removal keeps the unpublish ordering contract). A
    * failure anywhere leaves a superset of the pin, and re-running
    * converges: phase 1 skips already-restored names, so rollback is
    * idempotent. Generation names travel verbatim, so a bucketed
    * layout's stems (and with them the zero-exchange contract) survive
    * restoration.
    *
    * Single-maintainer like the compactors — a flush racing phase 2 is
    * rolled back with everything else after the cut (that is what
    * rollback MEANS), so quiesce writers first. The pin itself is
    * untouched and stays readable/re-restorable until dropped.
    *
    * Streams: a running change-feed keeps its exactly-once contract —
    * restored generations carry their ORIGINAL basenames, which the
    * stream processed when they were first live, so nothing replays;
    * but events it emitted from since-removed generations describe
    * state that has now been rolled back (inherent to CDC + restore in
    * any log-structured store — downstream must tolerate rewound
    * upstreams or consume from a snapshot pin instead).
    *
    * Returns (restoredFilesets, removedFilesets); (0, 0) = already
    * there. Unknown tags fail loudly. */
  def rollbackToSnapshot(dir: String, tag: String,
                         storage: graft.sources.sstable.Storage =
                           graft.sources.sstable.LocalStorage): (Int, Int) = {
    import graft.sources.sstable.{MaintenanceLease, SSTableFiles}
    val snap = snapshotPath(dir, tag)
    // exact existence, not a listSubdirs prefix match (review r8: tag
    // 'nightly' must not pass because 'nightly-2026-08-14' exists)
    require(storage.exists(snap),
      s"no snapshot '$tag' under $dir (SSTableOps.listSnapshots lists them)")
    MaintenanceLease.withLease(dir, storage, s"rollback:$tag") { lease =>
      val pinFiles = storage.listDataFiles(snap)
      val live = storage.listDataFiles(dir)
      val liveNames = live.map(fileName).toSet
      val restored = pinFiles.filterNot(p => liveNames.contains(fileName(p)))
      restored.foreach(SSTableFiles.publishLinked(storage, _, dir, tolerateExisting = true))
      // removal set from the ONE pre-phase-1 listing: everything phase 1
      // added is in pinNames and would be filtered out anyway, and under
      // the maintenance lease nothing else changed — a second LIST over
      // a many-thousand-generation directory buys nothing
      val pinNames = pinFiles.map(fileName).toSet
      val removed = live.filterNot(p => pinNames.contains(fileName(p)))
      // fence before the destructive phase: a stolen lease means a
      // successor maintainer owns the directory now
      lease.checkHeld()
      // NEWEST first: per-fileset removal is atomic but the cross-fileset
      // cut is not, so a reader racing phase 2 sees some post-pin
      // generations gone and others still live. Rewinding in reverse
      // write order makes every such intermediate view a state the
      // directory GENUINELY passed through (the log minus its newest
      // suffix) — never a mixture that existed at no point in history.
      removed.sortBy(p => -storage.mtime(p))
        .foreach(SSTableFiles.unpublish(storage, _))
      // the rollback is itself a history event (and the log SURVIVES
      // it — rollback touches only filesets): a reader of t.history
      // sees the pre-rollback commits, then this
      graft.sources.sstable.History.record(storage, dir, "rollback",
        added = restored, removed = removed, detail = s"tag=$tag")
      (restored.length, removed.length)
    }
  }

  /** Retention policy for snapshot pins (VERDICT r7 #6): drop every
    * snapshot older than the horizon. The operational foot-gun this
    * closes: a pin holds hardlinks to every generation it captured, so
    * a FORGOTTEN snapshot keeps those bytes alive against compaction's
    * unpublish and GC forever — the classic leak of pin-based time
    * travel. Age is [[snapshotCreatedMs]]: the `_pinned-at` stamp
    * written at capture (authoritative on backends with synthetic
    * directory mtimes), falling back to pin mtime for pre-stamp pins;
    * bytes survive wherever a live name or a younger pin still links them,
    * and only then. Choose the horizon above your longest reproducible-
    * read window (default 7 days). Returns (droppedTags, keptTags);
    * like the rest of the maintenance family, run it from the single
    * maintainer. */
  /** `tagPrefix` scopes retention to pins whose TAG starts with it —
    * the autosnapshot loop's knob: `tagPrefix = "auto-"` retires the
    * wipe-undo pins ([[graft.sources.sstable.spark.SSTableSource
    * .AutoSnapshotOption]]) on a short horizon without ever touching
    * user pins, whose intent is long-lived by declaration. Empty
    * (default) = all pins, the pre-existing behavior. */
  def expireSnapshots(dir: String,
                      olderThanMs: Long = 7L * 24 * 3600 * 1000,
                      nowMs: Long = System.currentTimeMillis(),
                      storage: graft.sources.sstable.Storage =
                        graft.sources.sstable.LocalStorage,
                      tagPrefix: String = ""): (Seq[String], Seq[String]) = {
    // same lease as dropSnapshot: retention must not delete a pin a
    // concurrent rollback is restoring from
    graft.sources.sstable.MaintenanceLease.withLease(dir, storage,
      "expire_snapshots") { lease =>
      val (stale, live) = storage.listSubdirs(dir, SnapshotPrefix)
        .partition(p =>
          fileName(p).drop(SnapshotPrefix.length).startsWith(tagPrefix) &&
            nowMs - snapshotCreatedMs(p, storage) > olderThanMs)
      lease.checkHeld() // fence: a superseded holder must not delete pins
      stale.foreach(storage.deleteRecursive)
      val dropped = stale.map(p => fileName(p).drop(SnapshotPrefix.length))
      if (dropped.nonEmpty)
        graft.sources.sstable.History.record(storage, dir, "expire_snapshots",
          detail = s"tags=${dropped.mkString(",")}")
      (dropped, live.map(p => fileName(p).drop(SnapshotPrefix.length)))
    }
  }

  private def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Keys whose MERGED state differs between two SSTable directories —
    * the migration/compaction validator: `diffDirs(inputs, compacted)`
    * empty ⇔ the rewrite preserved every key's reconciled row
    * (compaction, re-compression, a copy between stores, or a port from
    * another engine). Both sides go through [[compactRows]], so
    * generation layout differences (N flushes vs 1 fold) never count as
    * differences — only the merged (columns, rowTombstone) state does.
    *
    * One full-outer hash-join on `key` over two compacted relations —
    * the honest cost of comparing everything once; output is only the
    * differing keys. `side` ∈ A_ONLY | B_ONLY | DIFFERENT. */
  def diffDirs(spark: org.apache.spark.sql.SparkSession, dirA: String,
               dirB: String): DataFrame = {
    def merged(d: String) = compactRows(spark.read.format("sstable").load(d))
    val a = merged(dirA).select(col("key").as("ka"),
      col("columns").as("ca"), col("rowTombstone").as("ta"))
    val b = merged(dirB).select(col("key").as("kb"),
      col("columns").as("cb"), col("rowTombstone").as("tb"))
    a.join(b, col("ka") === col("kb"), "full_outer")
      .withColumn("side",
        when(col("kb").isNull, "A_ONLY")
          .when(col("ka").isNull, "B_ONLY")
          .otherwise("DIFFERENT"))
      .filter(col("kb").isNull || col("ka").isNull ||
        !(col("ca") <=> col("cb")) || !(col("ta") <=> col("tb")))
      .select(coalesce(col("ka"), col("kb")).as("key"), col("side"))
  }

  /** Scrub job: decode EVERY row of every generation under `dir` and
    * verify the per-file invariants a storage layer can silently lose —
    * key sort order, and `-Statistics.db` agreement (row count, key
    * bounds) where stats exist. One Spark task per generation (a
    * fileset is the unit of corruption and of repair-by-rewrite;
    * offline admin shape). Corruption is REPORTED per file, not thrown
    * — a scrub must survey the damage, not stop at the first hit.
    *
    * Returns `(file, rows, sorted, statsMatch, error)`:
    * `statsMatch` is null when no recognized statistics sidecar exists;
    * `error` carries the decode failure message for corrupt files
    * (rows = rows decoded before the failure).
    *
    * Detection limits, honestly: scrub verifies STRUCTURE (decodable
    * rows, sort order, statistics agreement). A flipped byte inside a
    * value payload of an UNCOMPRESSED Data.db is structurally valid and
    * passes — the 1.2-era format carries no per-row checksum (real
    * Cassandra pairs the file with Digest.sha1). Compressed files fare
    * better: every chunk is Adler32-verified on read, so payload
    * corruption there fails loudly and lands in `error`.
    *
    * REPAIR mode (`repair = true`, VERDICT r5 #5 — Cassandra's
    * `sstablescrub`): a generation that fails decode or sort order is
    * salvaged instead of just reported — the decodable good prefix
    * (re-sorted if that's the damage) is rewritten as a fresh staged
    * generation in the same directory, published through the write
    * path's one commit, and only then is the corrupt fileset moved
    * Data.db-first into a `_corrupt-<tag>/` quarantine subdirectory
    * (invisible to readers, recoverable by offline tooling — the
    * original is never destroyed, even when nothing was salvageable) —
    * readers see old-then-new, never neither, and a crash mid-repair
    * leaves the corrupt original still in place plus at worst an
    * invisible `_scrub-*` staging dir. The salvage decodes
    * at most one generation per task (truncation streams row-by-row; a
    * sort repair buffers the file's rows — a rare admin action, priced
    * honestly). Healthy generations are never touched. Output gains
    * `repairedTo` (the new Data.db, or null = not repaired /
    * nothing salvageable) and `repairError`. */
  def scrub(spark: org.apache.spark.sql.SparkSession, dir: String,
            repair: Boolean = false): DataFrame = {
    import graft.sources.sstable.{SSTableFiles, SSTableReader, Storage, StorageHandle}
    import spark.implicits._
    val handle = StorageHandle(dir, spark.sessionState.newHadoopConf())
    val driverStorage = Storage.forPath(dir, spark.sessionState.newHadoopConf())
    val files = driverStorage.listDataFiles(dir)
    def audit() = spark.sparkContext.parallelize(files, math.max(1, files.length))
      .map { f =>
        val storage = handle.get
        val r = new SSTableReader(f, storage)
        var rows = 0L
        var sorted = true
        var minKey: Array[Byte] = null
        var lastKey: Array[Byte] = null
        var error: String = null
        val it = r.rows()
        try {
          while (it.hasNext) {
            val row = it.next()
            if (lastKey != null && SSTableFiles.compareKeys(lastKey, row.key) > 0)
              sorted = false
            if (minKey == null) minKey = row.key
            lastKey = row.key
            rows += 1
          }
        } catch {
          case e: Exception => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        } finally it.close()
        val statsMatch: Option[Boolean] = r.statistics.map { s =>
          s.rowCount == rows && error == null &&
            (rows == 0 || (java.util.Arrays.equals(s.minKey, minKey) &&
              java.util.Arrays.equals(s.maxKey, lastKey)))
        }
        var repairedTo: Option[String] = None
        var repairError: Option[String] = None
        if (repair && (error != null || !sorted)) {
          try repairedTo = repairGeneration(f, storage, resort = !sorted)
          catch {
            case e: Exception =>
              repairError = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        (f, rows, sorted, statsMatch, Option(error), repairedTo, repairError)
      }
      .toDF("file", "rows", "sorted", "statsMatch", "error",
        "repairedTo", "repairError")
    if (!repair) audit()
    else {
      // repair QUARANTINES broken generations (destructive) — run the
      // whole job EAGERLY under the maintenance lease, like the
      // compactors, so a concurrent maintainer refuses instead of
      // folding a generation mid-quarantine. The report is one row per
      // generation (metadata-sized), so materializing it is free.
      graft.sources.sstable.MaintenanceLease.withLease(dir, driverStorage,
        "scrub-repair") { _ =>
        val report = audit()
        val rows = report.collect()
        val repaired = rows.filter(!_.isNullAt(5)) // repairedTo set
        if (repaired.nonEmpty)
          graft.sources.sstable.History.record(driverStorage, dir,
            "scrub_repair",
            added = repaired.map(_.getString(5)).toSeq,
            removed = repaired.map(_.getString(0)).toSeq)
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), report.schema)
      }
    }
  }

  /** Write `df` (the nested scan schema) as a BUCKETED directory:
    * `buckets` generations, one per `hash(key) mod buckets`, rows
    * key-sorted inside each, names carrying the bucket id
    * (`bucket-NNNNN-<tag>-Data.db`). Read back with
    * `spark.read.format("sstable").option("buckets", n)`: the scan then
    * reports key-grouped partitioning on the `_bucket` output column,
    * and any aggregation or join whose keys include `_bucket` (grouping
    * by (_bucket, key) ≡ grouping by key — `_bucket` is a function of
    * key) runs WITHOUT an exchange; [[compactRows]] picks `_bucket` up
    * automatically. This is the DSv2-native answer to exchange-free
    * key-clustered work (VERDICT r5 #4): the API has no range-clustered
    * distribution, so clustering is declared the way Spark's own
    * bucketed tables declare it — a hash bucket per storage partition.
    *
    * Scale shape: one `repartitionAndSortWithinPartitions` (the same
    * single shuffle the generic sorted write pays), then each task
    * streams its bucket through [[graft.sources.sstable.SSTableWriter]]
    * and the job publishes through the write path's one commit
    * ([[graft.sources.sstable.spark.FilesetCommit]]): a dropped or
    * mid-restore catalog directory refuses, nothing published. The
    * bucket function is fixed at write time; only the LAYOUT contract
    * matters to readers (same key ⇒ same bucket id ⇒ same file stem),
    * never the function itself. Size `buckets` to the target
    * parallelism — bucketed reads schedule one task per bucket. */
  def writeBucketed(df: DataFrame, dir: String, buckets: Int,
                    compress: Boolean = true): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(buckets <= graft.sources.sstable.spark.SSTableSource.MaxBuckets,
      s"buckets must be <= ${graft.sources.sstable.spark.SSTableSource.MaxBuckets} " +
        s"(the bucket-NNNNN generation-name format is five digits): $buckets")
    import graft.sources.sstable.{SSTableFiles, Storage, StorageHandle}
    import graft.sources.sstable.spark.{FilesetCommit, SSTableCommit, SSTablePartitionWriter, SSTableSource, WriterTuning}
    val spark = df.sparkSession
    val handle = StorageHandle(dir, spark.sessionState.newHadoopConf())
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val stagingDir = s"$dir/_staging-bucketed-$tag"
    val driverStorage = Storage.forPath(dir, spark.sessionState.newHadoopConf())
    driverStorage.mkdirs(stagingDir)
    val tuning = WriterTuning.Default.copy(compress = compress)
    // one shuffle: route each row to its bucket and sort by key within it
    val withB = df.withColumn("_wb",
      pmod(xxhash64(col("key")), lit(buckets.toLong)).cast("int"))
    val schema = withB.schema
    val bIdx = schema.fieldIndex("_wb")
    val keyIdx = schema.fieldIndex("key")
    implicit val keyOrd: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int =
        SSTableFiles.compareKeys(a, b)
    }
    val keyed = withB.queryExecution.toRdd.mapPartitions(_.map { r =>
      val copy = r.copy() // unsafe rows are reused buffers
      ((copy.getInt(bIdx), copy.getBinary(keyIdx)), copy)
    })
    val parted = keyed.repartitionAndSortWithinPartitions(
      new org.apache.spark.Partitioner {
        override def numPartitions: Int = buckets
        override def getPartition(key: Any): Int =
          key.asInstanceOf[(Int, Array[Byte])]._1
      })
    val staged = parted.mapPartitionsWithIndex { (bucket, rows) =>
      if (!rows.hasNext) Iterator.empty // empty bucket: no generation
      else {
        val storage = handle.get
        // attempt-unique staged stem: under speculation (or a zombie
        // first attempt) two attempts of the same bucket write disjoint
        // staging files; only the attempt whose result reaches collect()
        // is published, renamed to the canonical attempt-less stem below
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val w = new SSTablePartitionWriter(stagingDir, schema, tuning, storage,
          SSTableSource.bucketStem(bucket) + tag + s"-attempt-$attempt")
        var ok = false
        try {
          rows.foreach { case (_, r) => w.write(r) }
          val msg = w.commit().asInstanceOf[SSTableCommit]
          ok = true
          msg.stagedDataPaths.iterator
        } finally if (!ok) w.abort()
      }
    }.collect() // tiny: one Data.db path per non-empty bucket
    // job commit: publish every staged fileset under the canonical
    // attempt-less name (exactly one winner per bucket — collect()
    // carries one successful attempt's paths); the staging dir goes with
    // any losing attempts' leftovers
    val published = FilesetCommit(driverStorage, dir, s"bucketed-$tag", staged.toSeq,
      staging = stagingDir, stripAttempt = true)
    graft.sources.sstable.History.record(driverStorage, dir, "insert",
      added = published.added, detail = s"bucketed=$buckets")
  }

  /** Salvage one corrupt generation: stream its decodable rows into a
    * fresh staged fileset (sorting them first when the damage is order,
    * not truncation), publish it under a scrub-unique name through
    * [[graft.sources.sstable.spark.FilesetCommit]], then quarantine the
    * corrupt original under `_corrupt-<tag>/` Data.db-first. Returns the new Data.db path, or
    * None (original quarantined, nothing written) when no row is
    * salvageable. */
  private def repairGeneration(f: String,
                               storage: graft.sources.sstable.Storage,
                               resort: Boolean): Option[String] = {
    import graft.sources.sstable.{SSTableFiles, SSTableReader, SSTableRow}
    import graft.sources.sstable.spark.{FilesetCommit, WriterTuning}
    val r = new SSTableReader(f, storage)
    val dirPath = f.substring(0, f.lastIndexOf('/'))
    val baseName = f.substring(f.lastIndexOf('/') + 1)
      .dropRight(SSTableFiles.DataSuffix.length)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val stagingDir = s"$dirPath/_scrub-$tag"
    storage.mkdirs(stagingDir)
    val stagedData = s"$stagingDir/$baseName-scrub-$tag${SSTableFiles.DataSuffix}"

    // decode the good prefix; the first structural failure ends the salvage
    def salvageable: Iterator[SSTableRow] = {
      val it = r.rows()
      new Iterator[SSTableRow] {
        private var nextRow: SSTableRow = advance()
        private def advance(): SSTableRow =
          try { if (it.hasNext) it.next() else { it.close(); null } }
          catch { case _: Exception => it.close(); null }
        def hasNext: Boolean = nextRow != null
        def next(): SSTableRow = { val row = nextRow; nextRow = advance(); row }
      }
    }
    val rows: Iterator[SSTableRow] =
      if (resort) salvageable.toVector
        .sortWith((a, b) => SSTableFiles.compareKeys(a.key, b.key) < 0).iterator
      else salvageable

    var wrote = false
    if (rows.hasNext) {
      val w = WriterTuning.Default.copy(compress = r.compressionInfo.isDefined)
        .open(stagedData, storage)
      try { rows.foreach(w.append); wrote = true } finally w.close()
    }
    val published =
      if (wrote) FilesetCommit(storage, dirPath, s"scrub-$tag", Seq(stagedData),
        staging = stagingDir).added.headOption
      else { storage.deleteRecursive(stagingDir); None }
    // the good data is visible (or nothing was salvageable): now — and
    // only now — QUARANTINE the corrupt fileset, Data.db first (it
    // leaves reader listings before any sibling moves). Cassandra's
    // sstablescrub likewise snapshots the original before scrubbing:
    // moving into `_corrupt-<tag>/` instead of deleting keeps a
    // recovery path for better offline tooling — without it, a repair
    // that salvaged nothing would destroy the only copy.
    val quarantineDir = s"$dirPath/_corrupt-$tag"
    storage.mkdirs(quarantineDir)
    val base = f.substring(f.lastIndexOf('/') + 1).dropRight(SSTableFiles.DataSuffix.length)
    SSTableFiles.AllSuffixes.foreach { suf =>
      val src = SSTableFiles.sibling(f, suf)
      if (storage.exists(src)) storage.rename(src, s"$quarantineDir/$base$suf")
    }
    published
  }
}
