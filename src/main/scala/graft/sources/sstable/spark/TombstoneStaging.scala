package graft.sources.sstable.spark

import graft.sources.sstable.{RowTombstone, SSTableFiles, SSTableRow, Storage}

/** Single home of the per-statement tombstone staging choreography
  * (review r8: SQL DELETE's metadata path and the delta commit each
  * carried their own copy of this loop, and a drift between them would
  * silently break DELETE-vs-MERGE parity).
  *
  * Writes the statement's row tombstones into `stagingDir` driver-side,
  * under the table's writer `tuning`
  * (the key list is metadata-sized by the `maxdeletekeys` contract):
  * ONE key-sorted fileset per AFFECTED hash bucket under its bucket
  * stem when `writeBuckets` is set (the layout survives), else ONE
  * plain fileset. Returns the staged Data.db paths; the CALLER
  * publishes, after everything it stages is on disk — the
  * stage-all-then-publish rule that keeps a mid-statement failure from
  * half-applying the operation. */
private[spark] object TombstoneStaging {
  def stage(storage: Storage, tuning: WriterTuning, stagingDir: String, nameTag: String,
            keys: Seq[Array[Byte]], ldtSecs: Int, markMicros: Long,
            writeBuckets: Option[Int]): Seq[String] = {
    def write(p: String, ks: Seq[Array[Byte]]): String = {
      val w = tuning.open(p, storage)
      try ks.sortWith(SSTableFiles.compareKeys(_, _) < 0).foreach(k =>
        w.append(SSTableRow(k, Nil, Some(RowTombstone(ldtSecs, markMicros)))))
      finally w.close()
      p
    }
    writeBuckets match {
      case Some(n) =>
        keys.groupBy(GraftBucketFunction.bucketOf(n, _)).toSeq.sortBy(_._1)
          .map { case (b, ks) => write(
            s"$stagingDir/${SSTableSource.bucketStem(b)}$nameTag${SSTableFiles.DataSuffix}",
            ks) }
      case None =>
        Seq(write(s"$stagingDir/tombstones-$nameTag${SSTableFiles.DataSuffix}", keys))
    }
  }
}
