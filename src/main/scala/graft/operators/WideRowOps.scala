package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cassandra read-path merge semantics (last-writer-wins, tombstones, TTL)
  * re-expressed as declarative DataFrame transforms, plus the gap-threshold
  * range bucketing that the reference runs as an offline split-planning job.
  *
  * Reference semantics re-owned here (see SURVEY.md §2.4):
  *  - `SSTableDataReducer` (mapred/SSTableData.scala:45-62): keep the
  *    max-timestamp column per row key → [[latestPerKey]].
  *  - `MsgPackSSTableDataReducer` (mapred/SSTableData.scala:79-119): keep the
  *    max-timestamp version of *each* column per row → [[latestPerCell]].
  *    The reference's strict `>` makes ties first-seen (iteration-order
  *    dependent, SSTableData.scala:52,93); we instead define the
  *    deterministic tie-break (timestamp, name) DESC — documented divergence.
  *  - Tombstone suppression (DELETED state, WritableColumn.java:12-14):
  *    [[suppressTombstoned]] — anti-filter against the newest tombstone.
  *  - TTL expiry (exposed-but-never-evaluated in the reference,
  *    WritableColumn.java:20-21): [[ttlLive]] as an explicit opt-in filter.
  *  - `GenerateSSTableIndexSplits` boundary-threshold walk
  *    (tools/GenerateSSTableIndexSplits.scala:59-96): [[gapBuckets]] as a
  *    cumulative-flag window aggregation.
  *
  * Scale notes: latestPerKey/latestPerCell are single hash-aggregations
  * (partial + final, map-side combined — strictly better than the
  * reference's combiner-less MR shuffle of raw columns).
  * [[suppressTombstoned]] aggregates tombstones first (tiny relation) and
  * broadcast-joins it back, so the big fact table is never shuffled.
  * [[gapBuckets]] over a *global* ordering is inherently sequential — the
  * reference runs it per-file (map-side, parallel across files); at scale
  * callers partition by file/day first.
  */
object WideRowOps {

  /** Latest record per `key`, ordering by `(ts, tieCols...)` descending —
    * a single `max_by(struct(payload), struct(orderCols))` hash-agg, no
    * window/sort. */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   tieCols: Seq[String]): DataFrame = {
    val ordCols = (tsCol +: tieCols).map(col)
    val payload = df.columns.filterNot(keyCols.contains).map(col)
    val ord = struct(ordCols: _*)
    val keep = max_by(struct(payload: _*), ord).as("_keep")
    df.groupBy(keyCols.map(col): _*).agg(keep)
      .select(keyCols.map(col) ++
        df.columns.filterNot(keyCols.contains).map(c => col(s"_keep.$c").as(c)): _*)
  }

  /** Latest version of each cell `(key, name)` — Cassandra compaction
    * without tombstone GC (SSTableData.scala:85-95). */
  def latestPerCell(df: DataFrame, keyCols: Seq[String], nameCol: String,
                    tsCol: String): DataFrame =
    latestPerKey(df, keyCols :+ nameCol, tsCol, Nil)

  /** Skew-resistant [[latestPerKey]]: two-phase max_by through a
    * deterministic salt. A pathological hot key (one row key with millions
    * of versions — routine in Cassandra wide rows) would put its whole
    * group on one reducer in the plain aggregation; here phase 1 reduces
    * each (key, salt) slice locally, so no task ever sees more than
    * ~group/buckets rows, and phase 2 merges the `buckets` survivors.
    * max_by composes associatively, so the result is identical. */
  def latestPerKeySalted(df: DataFrame, keyCols: Seq[String], tsCol: String,
                         tieCols: Seq[String], buckets: Int = 32): DataFrame = {
    val ordCols = (tsCol +: tieCols).map(col)
    val payload = df.columns.filterNot(keyCols.contains).map(col)
    val ord = struct(ordCols: _*)
    val salted = df.withColumn("_salt",
      pmod(hash((tsCol +: tieCols).map(col): _*), lit(buckets)))
    val phase1 = salted
      .groupBy((keyCols :+ "_salt").map(col): _*)
      .agg(max_by(struct(payload: _*), ord).as("_keep"))
    val phase2 = phase1
      .select(keyCols.map(col) :+ col("_keep"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(col("_keep"), struct((tsCol +: tieCols).map(n =>
        col(s"_keep.$n")): _*)).as("_keep"))
    phase2.select(keyCols.map(col) ++
      df.columns.filterNot(keyCols.contains).map(c => col(s"_keep.$c").as(c)): _*)
  }

  /** Drop every non-tombstone record at-or-before its key's newest
    * tombstone, and drop the tombstones themselves. `isTombstone` marks
    * delete markers. The tombstone max-ts relation is one tiny aggregate,
    * broadcast back onto the fact table. */
  def suppressTombstoned(df: DataFrame, keyCols: Seq[String], tsCol: String,
                         isTombstone: Column): DataFrame = {
    val tombs = df.filter(isTombstone)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col(tsCol)).as("_tomb_ts"))
    df.filter(!isTombstone)
      .join(broadcast(tombs), keyCols, "left")
      .filter(col("_tomb_ts").isNull || col(tsCol) > col("_tomb_ts"))
      .drop("_tomb_ts")
  }

  /** Records still live at `asOfMs` given a uniform TTL: `ts + ttl > asOf`.
    * Off-by-default in the source (matching the reference, which ships TTL
    * fields raw); exposed here as an explicit filter. */
  def ttlLive(df: DataFrame, tsMsCol: String, ttlMs: Long, asOfMs: Long): Column =
    col(tsMsCol) + lit(ttlMs) > lit(asOfMs)

  /** Bucket a stream of positions by cumulative gap threshold: a new bucket
    * starts whenever `pos - lag(pos) > gap`. Returns df + `bucket` column.
    * `partitionCols` empty = single global sequence (the reference's
    * per-file walk) — fine for bounded inputs; use [[gapBucketsStitched]]
    * for an unbounded global sequence. */
  def gapBuckets(df: DataFrame, posCol: String, gapMs: Long,
                 partitionCols: Seq[String] = Nil): DataFrame = {
    val w =
      if (partitionCols.isEmpty) Window.orderBy(col(posCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(posCol))
    val gap = col(posCol) - lag(col(posCol), 1).over(w)
    df.withColumn("_new", when(gap > lit(gapMs), 1).otherwise(0))
      .withColumn("bucket", sum(col("_new")).over(
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_new")
  }

  /** Scale-safe [[gapBuckets]] over a single global sequence: identical
    * bucket ids, no full-data single-partition window.
    *
    * Two levels, the standard stitched cumulative-sum shape:
    *  1. rows are windowed *within* coarse ranges (`pos div coarseMs`) —
    *     parallel across ranges, each window sees only its range's rows;
    *  2. per-range break counts + boundary gaps are stitched over the tiny
    *     per-range summary (one row per `coarseMs` of time span — metadata
    *     scale, O(span/coarseMs) ≪ O(rows); this is the one ordered pass,
    *     mirroring the reference's offline walk over *summaries*,
    *     GenerateSSTableIndexSplits.scala:59-96) and broadcast back.
    *
    * A row's bucket = breaks in earlier ranges (incl. its range's boundary
    * break) + running breaks within its range — exactly the global
    * cumulative count. Range-frame running sums keep tied positions in one
    * bucket, matching [[gapBuckets]] bit-for-bit. */
  def gapBucketsStitched(df: DataFrame, posCol: String, gapMs: Long,
                         coarseMs: Long): DataFrame = {
    require(coarseMs > gapMs, s"coarse range $coarseMs must exceed gap $gapMs")
    val wcb = Window.partitionBy(col("_cb")).orderBy(col(posCol))
    // NOT persisted, deliberately (r18 measured both): the flagged
    // relation feeds the per-range summary AND the final bucket join,
    // but caching it read ~1.2x SLOWER end-to-end (q_interval_join
    // 0.61 s -> 1.10 s, q_range_splits 0.41 -> 0.48 at sf0.1) — the
    // recompute is one narrow scan + lag window, cheaper than the
    // materialize/read round-trip, and at 100 TB persisting a
    // fact-table-sized relation trades a cheap second pass for spill.
    val withFlags = df
      .withColumn("_cb", expr(s"$posCol div $coarseMs"))
      .withColumn("_new",
        when(col(posCol) - lag(col(posCol), 1).over(wcb) > lit(gapMs), 1L)
          .otherwise(0L))
    val summary = withFlags.groupBy("_cb").agg(
      min(col(posCol)).as("_first"), max(col(posCol)).as("_last"),
      sum(col("_new")).as("_brks"))
    val wt = Window.orderBy(col("_cb")) // tiny: one row per coarse range
    val base = summary
      .withColumn("_cb_brk",
        when(col("_first") - lag(col("_last"), 1).over(wt) > lit(gapMs), 1L)
          .otherwise(0L))
      .withColumn("_base",
        coalesce(sum(col("_brks") + col("_cb_brk")).over(
          wt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + col("_cb_brk"))
      .select("_cb", "_base")
    withFlags.join(broadcast(base), "_cb")
      .withColumn("bucket", col("_base") + sum(col("_new")).over(
        wcb.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_cb", "_new", "_base")
  }

  /** Which full-row merge entry point a query drives
    * ([[SSTableOps.compactRows]] or its `compactRowsSalted` alias) — lets
    * the oracle harness pin both against one SQL twin. */
  sealed trait CompactVariant
  case object CompactPlain extends CompactVariant
  final case class CompactSalted(buckets: Int) extends CompactVariant
}
