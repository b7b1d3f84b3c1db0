package graft.operators

import org.apache.spark.sql.{Column => SCol, DataFrame}
import org.apache.spark.sql.functions._

/** An independent statement of Cassandra's merge rules as DataFrame
  * algebra — `explode_outer`, a per-cell `max_by`, a per-key
  * `collect_list` and array HOFs for row and range shadowing — kept as
  * the reference side of the merge properties in [[SSTableOpsSpec]].
  * [[SSTableOps.compactRows]] merges through
  * [[graft.sources.sstable.SSTableReader.Reconciler]], as the point read,
  * the fold and the reconciled scan do; without this second
  * implementation every leg of those properties would compare the
  * reconciler with itself. */
object CompactRowsReference {

  private val RowTombstoneSql = "struct<localDeletionTime:int,markedForDeleteAt:long>"
  /** Live sentinel for the merged markedForDeleteAt fold (Cassandra's
    * `DeletionTime.LIVE.markedForDeleteAt`). */
  private val LiveMfda = Long.MinValue

  /** [[SSTableOps.compactRows]] as DataFrame algebra, for any input. */
  def compactRowsAlgebra(df: DataFrame): DataFrame = {
    val perCell = latestVersionPerCell(explodeWithTombstone(df))
    val grouped = perCell
      .groupBy(bucketCols(perCell) :+ col("key"): _*)
      // collect_list drops the null `c` of pure-tombstone rows; ranges
      // are ALSO collected separately — see applyTombstoneShadowing's
      // quadratic-inlining note (the when() yields null for non-ranges,
      // which collect_list drops)
      .agg(sort_array(collect_list(col("c"))).as("_cols"),
        collect_list(when(col("c.state") === "RANGE_TOMBSTONE", col("c"))).as("_art"),
        max(col("_t")).as("_t"))
    applyTombstoneShadowing(grouped)
  }

  /** A `_bucket` column (the bucketed sstable scan's partition id — a
    * pure function of `key`) rides through every merge grouping when
    * present: grouping by (_bucket, key) equals grouping by key, and
    * because the scan REPORTS key-grouped partitioning on `_bucket`,
    * Catalyst satisfies the aggregation's distribution from storage —
    * the whole merge runs exchange-free. */
  private def bucketCols(df: DataFrame): Seq[SCol] =
    if (df.columns.contains("_bucket")) Seq(col("_bucket")) else Nil

  /** Phase 0 of the merge: one record per (key, column version), with the
    * row-level deletion clock alongside (`_mfda`/`_ldt`; LIVE sentinels
    * when absent). Inputs without a `rowTombstone` column get the LIVE
    * default. Counter states fail LOUDLY here — a timestamp merge over
    * counter replication contexts silently loses increments, so the
    * whole merge family (compactRows / compactRowsSalted /
    * suppressTombstones / compact*) refuses them; scan/export paths that
    * never merge surface them raw. */
  private def explodeWithTombstone(df: DataFrame): DataFrame = {
    val withT =
      if (df.columns.contains("rowTombstone")) df
      else df.withColumn("rowTombstone", lit(null).cast(RowTombstoneSql))
    withT.select(bucketCols(withT) ++ Seq(col("key"),
        explode_outer(col("columns")).as("_c0"),
        coalesce(col("rowTombstone.markedForDeleteAt"), lit(LiveMfda)).as("_mfda"),
        coalesce(col("rowTombstone.localDeletionTime"), lit(Int.MaxValue)).as("_ldt")): _*)
      .withColumn("c", when(
        col("_c0.state").isin("COUNTER", "COUNTER_UPDATE"),
        raise_error(concat(lit("counter columns have no LWW merge semantics " +
          "(partitioned replication contexts); key="), base64(col("key")))))
        .otherwise(col("_c0")))
      .drop("_c0")
  }

  /** Phase 1: newest version per cell — hash-agg on (key, name[, range
    * max]) with map-side partial combine. Ranges group by (min, max) so
    * distinct ranges sharing a min bound both survive; cells group by
    * name (_rmax null). The ordering's (value, ttlSecs, expiresMillis)
    * tail makes exact (timestamp, state) collisions deterministic —
    * without it max_by keeps the first-encountered on a full tie
    * (shuffle-order-dependent) while the probe-path reconcile kept file
    * order; binary comparison is unsigned, same as compareKeys. */
  private def latestVersionPerCell(exploded: DataFrame): DataFrame =
    exploded
      .groupBy(bucketCols(exploded) ++ Seq(col("key"), col("c.name").as("_n"),
        when(col("c.state") === "RANGE_TOMBSTONE", col("c.value")).as("_rmax")): _*)
      .agg(max_by(col("c"), struct(col("c.timestamp"),
        when(col("c.state") === "DELETED", 1).otherwise(0),
        col("c.state"), col("c.value"), col("c.ttlSecs"),
        col("c.expiresMillis"))).as("c"),
        max(struct(col("_mfda"), col("_ldt"))).as("_t"))

  /** Final phase: row- and range-tombstone shadowing over the assembled
    * per-key column array (`_cols` sorted, `_art` the key's range
    * tombstones only, `_t` the merged deletion clock) — per-key array
    * HOFs, no extra shuffle. Live range tombstones (not superseded by
    * the row tombstone) shadow cells in [min, max] with ts <= range
    * mfda; a row-shadowed range only covers cells the row tombstone
    * already shadows.
    *
    * Why `_rts` must derive from `_art` and NOT from `_cols`: Catalyst's
    * CollapseProject inlines a once-referenced projection into its use
    * site, so `_rts` ends up INSIDE the outer filter's per-element
    * lambda — recomputed for every element of `_cols`. Deriving it from
    * `_cols` made the merge O(width²) interpreted-HOF work per row
    * (measured: a 200k-column hot key pinned one core for >10 min in
    * the skew probe, vs seconds expected); over `_art` the recomputation
    * scans only the key's range tombstones, restoring
    * O(width × #ranges). */
  private def applyTombstoneShadowing(perKey: DataFrame): DataFrame =
    perKey
      .withColumn("_rts", filter(col("_art"), r =>
        r.getField("timestamp") > col("_t._mfda")))
      .select(bucketCols(perKey) ++ Seq(col("key"),
        filter(col("_cols"), c =>
          c.getField("timestamp") > col("_t._mfda") &&
            (c.getField("state") === "RANGE_TOMBSTONE" ||
              !exists(col("_rts"), r =>
                c.getField("name") >= r.getField("name") &&
                  c.getField("name") <= r.getField("value") &&
                  c.getField("timestamp") <= r.getField("timestamp"))))
          .as("columns"),
        when(col("_t._mfda") =!= lit(LiveMfda),
          struct(col("_t._ldt").as("localDeletionTime"),
            col("_t._mfda").as("markedForDeleteAt"))).as("rowTombstone")): _*)
}
