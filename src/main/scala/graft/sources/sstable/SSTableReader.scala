package graft.sources.sstable

/** Opens a 4-file SSTable set and provides: full scans, byte-ranged split
  * scans, plan-time split planning, and Summary/Index-driven key-range
  * pruning.
  *
  * Split planning (plan-time, collapses the reference's two offline MR
  * jobs `GenerateSSTableIndexSplits` + `GenerateSSTableDataSplits` —
  * SURVEY.md §3-E3): walk Summary.db (sampled row offsets, tiny), emit
  * splits of ~`targetBytes` of uncompressed data aligned to row
  * boundaries. Offsets stay in the uncompressed domain end-to-end (fixes
  * defect §2.9-3); a split reader seeks the chunked-decompressing stream
  * directly to its first row (the overlap-by-one chunk behaviour of the
  * reference, GenerateSSTableDataSplits.scala:136, falls out naturally:
  * a row crossing the last chunk boundary of a split just pulls the next
  * chunk).
  */
/** A planned split: rows whose start offset ∈ [start, end) of the
  * uncompressed Data.db; [idxStart, idxEnd) is the matching Index.db byte
  * range; `firstKey`/`lastKeyBound` bound the keys contained (lastKeyBound
  * is the first key of the NEXT split — or None for the tail). */
final case class PlannedSplit(start: Long, end: Long, idxStart: Long, idxEnd: Long,
                              firstKey: Array[Byte], lastKeyBound: Option[Array[Byte]])

final class SSTableReader(val dataPath: String,
                          storage: Storage = LocalStorage,
                          useCache: Boolean = true) extends AutoCloseable {
  import SSTableFiles._

  /** Memoized metadata — shared across readers of the same (path, len,
    * mtime) when caching is on (every repeated scan and every streaming
    * micro-batch re-plans the same immutable files; SSTableMetadataCache
    * scaladoc). Per-reader when off. */
  private val meta: SSTableMetadataCache.Entry =
    if (useCache) SSTableMetadataCache.entryFor(dataPath, storage)
    else SSTableMetadataCache.fresh()

  val compressionInfo: Option[CompressionInfo] = meta.compressionInfo.getOrCompute {
    if (!storage.exists(sibling(dataPath, CompressionSuffix))) None
    else {
      val in = storage.open(sibling(dataPath, CompressionSuffix))
      try Some(CompressionInfo.read(in.asDataInput)) finally in.close()
    }
  }

  val compressed: Boolean = compressionInfo.isDefined

  /** Total uncompressed Data.db length. */
  val dataLength: Long = compressionInfo match {
    case Some(ci) => ci.dataLength
    case None => storage.length(dataPath)
  }

  /** New uncompressed-domain stream over Data.db. */
  def openData(): SeekableInput = {
    val phys = storage.open(dataPath)
    compressionInfo match {
      case Some(ci) => new CompressedChunkedInput(phys, ci)
      case None => phys
    }
  }

  /** Physical byte offset backing uncompressed offset `u` (identity for
    * uncompressed files; the containing chunk's start otherwise) — used to
    * ask the store for block locations of a split's real byte range. */
  def physicalOffset(u: Long): Long = compressionInfo match {
    case None => u
    case Some(ci) =>
      if (ci.chunkCount == 0) 0L
      else ci.chunkOffsets(math.min((u / ci.chunkLength).toInt, ci.chunkCount - 1))
  }

  /** Full scan from offset 0 (real Cassandra Data.db has no file header). */
  def rows(): DataReader = new DataReader(openData())

  /** Scan rows whose start offset lies in [startOffset, endOffset). */
  def rows(startOffset: Long, endOffset: Long): DataReader = {
    val in = openData()
    in.seek(startOffset)
    new DataReader(in, endOffset)
  }

  /** Column-sliced scan (Cassandra's SliceQueryFilter): only cells with
    * `nameLo <= name <= nameHi` (per-bound inclusivity) are decoded;
    * out-of-slice bodies are length-skipped, and when the generation's
    * Statistics v3 flag guarantees comparator-sorted names the first
    * post-slice name seeks to the row end — see [[DataReader]]. */
  def rows(startOffset: Long, endOffset: Long,
           nameLo: Option[(Array[Byte], Boolean)],
           nameHi: Option[(Array[Byte], Boolean)]): DataReader = {
    val in = openData()
    in.seek(startOffset)
    new DataReader(in, endOffset, nameLo, nameHi,
      sortedNames = statistics.exists(_.namesSorted))
  }

  def indexReader(): IndexReader =
    new IndexReader(storage.open(sibling(dataPath, IndexSuffix)))

  /** Index.db byte length, memoized with the rest of the fileset metadata
    * (sound under the cache's validity key — the fileset is immutable once
    * published): [[getAll]] needs it per probe, and an uncached stat would
    * be one metadata RPC per probe per generation on object stores,
    * counter to lookupJoin's one-metadata-load-per-partition shape. */
  def indexLength: Long =
    meta.indexLength.getOrCompute(storage.length(sibling(dataPath, IndexSuffix)))

  /** Bloom filter over row keys (`-Filter.db`, Cassandra 1.2 layout) when
    * present — Cassandra's negative-lookup elimination. */
  lazy val bloom: Option[FilterFile.BloomFilter] = meta.bloom.getOrCompute {
    val p = sibling(dataPath, FilterSuffix)
    if (!storage.exists(p)) None
    else {
      val in = storage.open(p)
      try Some(FilterFile.read(in.asDataInput)) finally in.close()
    }
  }

  /** False only when Filter.db is present and definitively excludes the
    * key — the whole file can then be skipped for a point lookup. No
    * filter ⇒ true (never prunes). */
  def mightContainKey(key: Array[Byte]): Boolean = bloom.forall(_.mightContain(key))

  /** Per-generation planning metadata (`-Statistics.db`) when present and
    * recognized; None otherwise — including REAL Cassandra 1.2
    * directories, whose Statistics.db uses the histogram layout
    * ([[StatisticsFile.read]] detects via magic and declines). Purely an
    * optimization input: consumers must produce identical results
    * without it. */
  lazy val statistics: Option[SSTableStatistics] = meta.statistics.getOrCompute {
    val p = sibling(dataPath, StatisticsSuffix)
    if (!storage.exists(p)) None
    else {
      val in = storage.open(p)
      try StatisticsFile.read(in.asDataInput) finally in.close()
    }
  }

  def summary(): (Int, Vector[SummaryEntry]) = meta.summary.getOrCompute {
    val in = storage.open(sibling(dataPath, SummarySuffix))
    try {
      val rd = new SummaryReader(in)
      val interval = rd.readHeader()
      (interval, rd.entries.toVector)
    } finally in.close()
  }

  /** Cassandra's point-read path: bloom filter (definitive miss → free
    * no) → Summary binary search (in-memory, one entry per
    * `summaryInterval` rows) → scan ≤ interval Index.db entries → one
    * Data.db seek. Cost for a miss is O(1) memory probes; for a hit,
    * one bounded index window + one row decode. Duplicate keys: returns
    * the FIRST row with the key in file order ([[getAll]] returns every
    * version). */
  def get(key: Array[Byte]): Option[SSTableRow] = getAll(key).headOption

  /** Every row with `key`, in file order — the writer permits duplicate
    * keys (same-key DataFrame rows land adjacently in one sorted file),
    * so a merge-exact probe must see all of them, not just the first.
    * Same probe cost as [[get]] plus the adjacent duplicate decodes. */
  def getAll(key: Array[Byte]): Seq[SSTableRow] = {
    if (!mightContainKey(key)) return Nil
    val (_, sum) = summary()
    // a key strictly below the first sampled key is absent
    if (sum.isEmpty || compareKeys(sum(0).key, key) > 0) return Nil
    val idxIn = storage.open(sibling(dataPath, IndexSuffix))
    try {
      val ir = indexWindow(idxIn, key)
      var firstOffset = -1L
      var n = 0
      var done = false
      while (!done && ir.hasNext) {
        val e = ir.next()
        val c = compareKeys(e.key, key)
        if (c == 0) {
          if (firstOffset < 0) firstOffset = e.dataOffset
          n += 1
        } else if (c > 0) done = true // sorted: passed the key (and any run)
      }
      if (firstOffset < 0) Nil
      else {
        val in = openData()
        try {
          in.seek(firstOffset)
          val dr = new DataReader(in)
          Vector.fill(n)(dr.next()) // duplicates are adjacent in Data.db
        } finally in.close()
      }
    } finally idxIn.close()
  }

  /** The one key seek of this fileset: an Index.db reader over `idx`,
    * positioned at the Summary window whose forward scan first meets a
    * key >= `key` — the last sampled key strictly below it (Summary
    * binary search), or the file start when none is. Strictly below,
    * because a duplicate run can straddle window starts: a window that
    * starts with `key` itself may follow rows of the same run. Reads to
    * the end of Index.db, so the caller stops the scan. Shared by the
    * point read ([[getAll]]) and key-range planning ([[ceilings]]). */
  private def indexWindow(idx: SeekableInput, key: Array[Byte]): IndexReader = {
    val (_, sum) = summary()
    var lo = -1
    var hi = sum.length - 1
    while (lo < hi) { // last entry with entry.key < key (unsigned order)
      val mid = (lo + hi + 1) >>> 1
      if (compareKeys(sum(mid).key, key) < 0) lo = mid else hi = mid - 1
    }
    idx.seek(if (lo < 0) IndexFile.HeaderLen else sum(lo).indexOffset)
    new IndexReader(idx, indexLength)
  }

  /** Where the rows with key >= each of `keys` (ascending) start: the
    * (Data.db, Index.db) offsets of the first such row, or (dataLength,
    * indexLength) when every row is below the key. One Index.db open; each
    * seek is [[indexWindow]]. A file whose seeks go backwards is not
    * key-sorted, and fails naming the file. */
  def ceilings(keys: Seq[Array[Byte]]): Vector[(Long, Long)] =
    if (keys.isEmpty) Vector.empty
    else {
      val idxIn = storage.open(sibling(dataPath, IndexSuffix))
      try {
        val out = keys.iterator.map { k =>
          val ir = indexWindow(idxIn, k)
          var found = (dataLength, indexLength)
          var done = false
          while (!done && ir.hasNext) {
            val at = ir.position
            val e = ir.next()
            if (compareKeys(e.key, k) >= 0) { found = (e.dataOffset, at); done = true }
          }
          found
        }.toVector
        if (out.iterator.zip(out.iterator.drop(1)).exists { case (a, b) => a._1 > b._1 })
          throw new CorruptSSTableException(s"$dataPath: row keys go backwards " +
            "(key-range seeks land out of order); the merge needs key-sorted inputs")
        out
      } finally idxIn.close()
    }

  /** Plan row-aligned splits of ~targetBytes uncompressed data using only
    * Summary.db + O(#splits) point reads of Index.db. Covers every row
    * exactly once: split boundaries are row start offsets. `idxStart`/
    * `idxEnd` give the matching Index.db byte range (key-only scans). */
  def planSplits(targetBytes: Long): Vector[PlannedSplit] =
    meta.splitsFor(targetBytes)(planSplitsUncached(targetBytes))

  /** Boundary discovery is genuinely O(#splits · log) Index.db point
    * reads, not O(#summary entries): candidate boundaries are picked by
    * uniform-density estimate (every `stride` summary entries ≈
    * targetBytes of data), their REAL data offsets read, and any
    * candidate gap that overshoots 2×target (skewed row sizes breaking
    * the uniformity assumption) is bisected until it fits or runs out of
    * entries. The previous implementation read one index entry per
    * summary entry — fine at test scale, ~8M plan-time point reads for a
    * billion-row file. Splits stay row-aligned with exact offsets; only
    * their SIZES are estimate-shaped (∈ [target, 2×target] modulo
    * single-interval overshoot, vs [target, target+interval) before). */
  private def planSplitsUncached(targetBytes: Long): Vector[PlannedSplit] = {
    val idxLen = indexLength
    val (_, sum) = summary()
    if (sum.isEmpty)
      return Vector(PlannedSplit(DataFile.HeaderLen, dataLength,
        IndexFile.HeaderLen, idxLen, Array.emptyByteArray, None))
    val idxIn = storage.open(sibling(dataPath, IndexSuffix))
    try {
      // dataOffset of the row a summary entry points at
      def dataOffsetAt(indexOffset: Long): Long = {
        idxIn.seek(indexOffset)
        new IndexReader(idxIn).next().dataOffset
      }
      val n = sum.length
      // clamp to [1, n] BEFORE the Long→Int conversion: a huge (legal)
      // targetBytes must saturate at "one sample", not truncate to a zero
      // or negative stride that spins the sampling loop forever
      val stride = math.min(n.toLong, math.max(1L,
        math.round(n.toDouble * targetBytes / math.max(1L, dataLength)))).toInt
      // sampled (summaryIdx, dataOffset) points, in index order
      val sampled = scala.collection.mutable.TreeMap.empty[Int, Long]
      var i = 0
      while (i < n) { sampled(i) = dataOffsetAt(sum(i).indexOffset); i += stride }
      // bisect any gap whose actual span exceeds 2×target (index n is the
      // virtual end-of-file point, so the tail gets subdivided too)
      def offsetOf(idx: Int): Long = if (idx == n) dataLength else sampled(idx)
      val gaps = scala.collection.mutable.Queue.empty[(Int, Int)]
      (sampled.keys.toList :+ n).sliding(2).foreach {
        case List(a, b) => gaps.enqueue((a, b))
        case _ =>
      }
      while (gaps.nonEmpty) {
        val (i1, i2) = gaps.dequeue()
        // gap > 2×target, written overflow-safe (2 * targetBytes can wrap)
        if (offsetOf(i2) - offsetOf(i1) - targetBytes > targetBytes && i2 - i1 > 1) {
          val mid = (i1 + i2) >>> 1
          sampled(mid) = dataOffsetAt(sum(mid).indexOffset)
          gaps.enqueue((i1, mid))
          gaps.enqueue((mid, i2))
        }
      }
      // greedy boundary walk over the sampled points (same rule as the
      // previous per-entry walk, applied to the sample)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
      var lastStart = -1L
      sampled.foreach { case (si, off) =>
        if (lastStart < 0 || off - lastStart >= targetBytes) {
          bounds += ((off, sum(si).indexOffset, sum(si).key))
          lastStart = off
        }
      }
      val out = Vector.newBuilder[PlannedSplit]
      var j = 0
      while (j < bounds.length) {
        val (start, idxStart, key) = bounds(j)
        val (end, idxEnd, nextKey) =
          if (j + 1 < bounds.length)
            (bounds(j + 1)._1, bounds(j + 1)._2, Some(bounds(j + 1)._3))
          else (dataLength, idxLen, None)
        out += PlannedSplit(start, end, idxStart, idxEnd, key, nextKey)
        j += 1
      }
      out.result()
    } finally idxIn.close()
  }

  /** Drop splits that cannot contain keys in [lo, hi] (unsigned byte
    * order; None = unbounded). Sound because rows are key-sorted — and
    * duplicate-key-safe: `lastKeyBound` is the first key of the NEXT
    * split, but a run of equal keys may straddle the boundary (the writer
    * allows duplicates), so a split can still contain keys EQUAL to its
    * bound. A split is prunable for `lo` only when its bound is strictly
    * below `lo` (`compareKeys(ub, l) >= 0` keeps it). */
  def pruneSplits(splits: Vector[PlannedSplit], lo: Option[Array[Byte]],
                  hi: Option[Array[Byte]]): Vector[PlannedSplit] =
    splits.filter { s =>
      val aboveLo = lo.forall(l => s.lastKeyBound.forall(ub => compareKeys(ub, l) >= 0))
      val belowHi = hi.forall(h => compareKeys(s.firstKey, h) <= 0)
      aboveLo && belowHi
    }

  def close(): Unit = ()
}

object SSTableReader {
  import SSTableFiles.compareKeys

  /** All `*-Data.db` files under a directory (the S1 listing filter,
    * SSTableDataInputFormat.scala:15-17). */
  def listDataFiles(dir: String): Seq[String] = LocalStorage.listDataFiles(dir)

  /** Multi-generation point read — Cassandra's real read path over a
    * whole table directory (the reference's scan-everything model,
    * SSTableDataInputFormat.scala:15-17, never had one): probe every
    * generation's bloom→summary→index chain (a miss costs O(1) in-memory
    * probes per file), then merge the hits with [[reconcile]], the rules
    * every merge shares — latest version per column (delete-wins on
    * timestamp tie), newest row tombstone wins, every column with
    * `timestamp <= markedForDeleteAt` shadowed.
    *
    * `gcTombstones = false` returns the merged storage view (cell
    * tombstones and the row tombstone preserved); `true` returns the
    * live view — DELETED cells dropped, and `None` for a key with
    * nothing live left (wholesale-deleted or never written).
    *
    * Generations carrying `-Statistics.db` (every fileset this engine
    * writes) are probed newest-first with two prunes — see
    * [[DirectoryProber.get]]. Stats-less generations (pre-statistics
    * filesets, real Cassandra directories) are probed unconditionally,
    * preserving exact semantics; blooms still make those misses ~free. */
  def get(dir: String, key: Array[Byte], storage: Storage = LocalStorage,
          gcTombstones: Boolean = false): Option[SSTableRow] =
    new DirectoryProber(dir, storage).get(key, gcTombstones)

  /** One reconciled driver-side point read of `key`'s live NORMAL cells
    * decoded as UTF-8 `(name → value)` — the shared `_meta`-row reader
    * of the persisted stores' epoch/flag registries (signature store,
    * df store, ANN index). ONE implementation so the decode can never
    * drift between them (review find: three near-identical copies had
    * grown). Empty when the directory or the row does not exist. */
  def liveCellMap(dir: String, storage: Storage,
                  key: String): Map[String, String] = {
    if (!storage.exists(dir)) return Map.empty
    new DirectoryProber(dir, storage)
      .get(key.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        gcTombstones = true)
      .map(_.columns.collect {
        case c: Column.Normal =>
          (new String(c.name, java.nio.charset.StandardCharsets.UTF_8),
            new String(c.value, java.nio.charset.StandardCharsets.UTF_8))
      }.toMap).getOrElse(Map.empty)
  }

  /** Reusable multi-generation prober over a FIXED directory listing:
    * one listing + one metadata load (cache-served), many probes — the
    * shape a probe loop wants (`SSTableOps.lookupJoin` creates one per
    * partition; re-listing per key would add a storage round-trip per
    * probe on object stores). */
  final class DirectoryProber(files: Seq[String], storage: Storage) {
    /** Probe over a directory's current listing (the common route). The
      * primary constructor takes an explicit fileset so a caller that
      * snapshotted the listing once — the SQL probe-join exec, which
      * must pair every partition's probes with ONE (listing, shadow)
      * split exactly like the scan's Batch snapshot — probes the same
      * generations on every executor. */
    def this(dir: String, storage: Storage = LocalStorage) =
      this(storage.listDataFiles(dir), storage)
    // newest-first by per-generation max LWW timestamp, so a freshly
    // probed row tombstone can rule out the (older) remainder; a
    // generation without statistics sorts FIRST — "unknown" must be
    // treated as possibly-newest and is never pruned by either rule.
    // Two stats-less generations tie, and their relative probe order
    // falls to listing order: semantics-free (getRaw's output is a
    // multiset consumers re-order; get() reconciles by timestamp, not
    // probe order) — only the semi/anti short-circuit's IO, never its
    // answer, depends on which of the tied files is opened first.
    private val readers = files.map(f => new SSTableReader(f, storage))
      .sortBy(r => r.statistics.map(_.maxTimestamp).getOrElse(Long.MaxValue))(
        Ordering[Long].reverse)

    /** Per-generation probe, NO reconcile: every row version of every
      * generation whose statistics admit `key`, in probe order — exactly
      * the row multiset a raw scan of these files would emit for `key`
      * (the SQL probe-join's tier; the caller applies the directory's
      * [[graft.sources.sstable.spark.DeleteShadow]] for delete-aware
      * parity with the catalog's scan). Unlike [[get]], the cross-
      * generation tombstone early-out does NOT apply — a raw scan emits
      * older generations' row versions regardless of newer tombstones.
      * The bounds+bloom prune only skips IO (`getAll` of an absent key
      * would return Nil anyway): an absent key opens zero Data.db files. */
    def getRaw(key: Array[Byte]): Seq[SSTableRow] =
      getRawIter(key).toSeq

    /** [[getRaw]] as a LAZY iterator: generations are probed one at a
      * time as the caller advances, so an existence check (semi/anti
      * join) that finds a surviving match in the first candidate
      * generation never seeks the rest — per-probe IO drops from
      * O(candidate generations) to O(generations until first match).
      * Same order, same multiset; the bounds+bloom prune still means an
      * absent key opens zero Data.db files however far the caller
      * iterates. */
    def getRawIter(key: Array[Byte]): Iterator[SSTableRow] =
      readers.iterator.flatMap { r =>
        if (r.statistics.exists(s => !s.mightContainKey(key))) Nil
        else r.getAll(key)
      }

    /** Same semantics as the directory-level `SSTableReader.get`, with
      * two statistics-driven prunes, both sound because they only skip
      * generations that cannot change the merged result:
      *  - key bounds: `key ∉ [minKey, maxKey]` ⇒ the sorted file cannot
      *    contain it — skips even the bloom probe;
      *  - tombstone early-out: once a probed row tombstone has
      *    `mfda > gen.maxTimestamp` (strict), EVERY clock in that
      *    generation — cell timestamps, range-tombstone mfda, row-
      *    tombstone mfda — is `<= maxTimestamp < mfda`, so its cells are
      *    row-shadowed, its ranges dead, and its row tombstone strictly
      *    loses the (mfda, ldt) max; it contributes nothing. Strictness
      *    matters: at `maxTimestamp == mfda` an equal-mfda tombstone
      *    with a larger ldt could still win the merged tombstone. */
    def get(key: Array[Byte], gcTombstones: Boolean = false): Option[SSTableRow] = {
      val merged = new Reconciler(key) // its tombstone: the strongest probed so far
      var hits = 0
      readers.foreach { r =>
        if (!r.statistics.exists(s =>
            !s.mightContainKey(key) || s.maxTimestamp < merged.markedForDeleteAt)) {
          val rs = r.getAll(key)
          rs.foreach(merged.add)
          hits += rs.size
        }
      }
      if (hits == 0) None
      else if (!gcTombstones) Some(merged.result())
      else liveView(merged.result())
    }
  }

  /** The tombstone-GC view of one reconciled row (`suppressTombstones`'
    * twin): cell and range tombstones and the row tombstone dropped —
    * range-shadowed cells are already gone via [[reconcile]] — and None
    * when nothing live is left. The one filter behind both the point
    * read's `gcTombstones = true` and the `gc = true` [[Fold]]. */
  private[sstable] def liveView(merged: SSTableRow): Option[SSTableRow] = {
    val live = merged.columns.filter {
      case _: Column.Deleted | _: Column.RangeTombstone => false
      case _ => true
    }
    if (live.isEmpty) None else Some(SSTableRow(merged.key, live, None))
  }

  /** The one merge loop, for compaction and for reconciled reads: a
    * streaming k-way pass (Cassandra's compaction shape) with one
    * [[DataReader]] per input slice, merged in unsigned key order by a
    * priority queue. Every version of a key (a file's adjacent duplicates
    * included) first passes `keep`, the per-version pre-merge filter (a
    * reader's visibility rule; the identity for compaction), and the
    * survivors are merged by one [[Reconciler]] per key. With `gc` the row
    * passes through [[liveView]], so keys with nothing live left are
    * elided. Yields one row per surviving key in strictly increasing key
    * order, ready for an [[SSTableWriter]].
    *
    * Memory is one decoded row per input plus the merge state of the key
    * being merged (one winner per column). Inputs are opened eagerly and
    * closed by [[close]].
    * Damage fails loudly and names the file: a [[CorruptSSTableException]]
    * or truncation from decoding is re-raised with the input's path, and
    * so is an input whose keys go backwards or leave the slices' key
    * range `[lo, hi)` (a merge over it would emit a key twice, or out of
    * order). */
  final class Fold(slices: Seq[Fold.Slice], storage: Storage, gc: Boolean,
                   keep: SSTableRow => Option[SSTableRow] = Some(_),
                   lo: Option[Array[Byte]] = None, hi: Option[Array[Byte]] = None)
      extends Iterator[SSTableRow] with AutoCloseable {
    private final class Input(val path: String, val rows: DataReader) {
      var head: SSTableRow = _
      private var last: Array[Byte] = _
      /** Load the next kept row into `head` (null at the end). */
      def advance(): Unit = {
        head = null
        while (head == null && named(path)(rows.hasNext)) {
          val r = named(path)(rows.next())
          versionsRead += 1
          if (last != null && compareKeys(last, r.key) > 0)
            throw new CorruptSSTableException(s"$path: row keys go backwards " +
              s"(${hex(last)} then ${hex(r.key)}); the merge needs key-sorted inputs")
          if (lo.exists(compareKeys(r.key, _) < 0) || hi.exists(compareKeys(r.key, _) >= 0))
            throw new CorruptSSTableException(s"$path: row key ${hex(r.key)} lies " +
              "outside its planned key range; row keys go backwards")
          last = r.key
          head = keep(r).orNull
        }
      }
    }
    private def named[T](path: String)(body: => T): T =
      try body catch {
        case e: CorruptSSTableException =>
          throw new CorruptSSTableException(s"$path: ${e.getMessage}", e)
        case e: java.io.EOFException =>
          throw new CorruptSSTableException(s"$path: truncated: ${e.getMessage}", e)
      }
    private def hex(k: Array[Byte]): String = k.take(32).map(b => f"${b & 0xff}%02x").mkString

    /** Row versions decoded from the inputs so far, and merged rows
      * yielded so far: the merge's fan-in. */
    var versionsRead = 0L
    var rowsEmitted = 0L

    private val inputs = scala.collection.mutable.ArrayBuffer.empty[Input]
    private val queue = new java.util.PriorityQueue[Input](math.max(1, slices.length),
      (a: Input, b: Input) => compareKeys(a.head.key, b.head.key))
    try slices.foreach { s =>
      val in = new Input(s.path, named(s.path)(new SSTableReader(s.path, storage).rows(s.start, s.end)))
      inputs += in
      in.advance()
      if (in.head != null) queue.add(in)
    } catch { case t: Throwable => close(); throw t }

    private var pending: SSTableRow = _
    private def fill(): Unit = while (pending == null && !queue.isEmpty) {
      val key = queue.peek().head.key
      val versions = new Reconciler(key)
      while (!queue.isEmpty && compareKeys(queue.peek().head.key, key) == 0) {
        val in = queue.poll()
        while (in.head != null && compareKeys(in.head.key, key) == 0) {
          versions.add(in.head)
          in.advance()
        }
        if (in.head != null) queue.add(in)
      }
      val merged = versions.result()
      pending = if (gc) liveView(merged).orNull else merged
    }

    def hasNext: Boolean = { fill(); pending != null }
    def next(): SSTableRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      rowsEmitted += 1
      r
    }
    def close(): Unit = inputs.foreach(_.rows.close())
  }

  object Fold {
    /** The rows of `path` whose start offsets lie in `[start, end)` of
      * its uncompressed Data.db. */
    final case class Slice(path: String, start: Long, end: Long)
    object Slice {
      def whole(path: String): Slice = Slice(path, DataFile.HeaderLen, Long.MaxValue)
    }
  }

  /** Merge one key's row versions from N generations: the one-shot form
    * of [[Reconciler]]. */
  private[graft] def reconcile(key: Array[Byte], rows: Seq[SSTableRow]): SSTableRow =
    rows.foldLeft(new Reconciler(key))(_ add _).result()

  /** One key's running merge under Cassandra's rules, the single
    * statement of them: [[get]], [[Fold]], the reconciled scan and
    * `compactRows`' aggregate all reconcile through it.
    *
    *  - Per column the winner is the greatest version under
    *    `(timestamp, deleted, state, value, ttlSecs, expiresMillis)`:
    *    the newest version wins, a tombstone wins a timestamp tie, and
    *    the tail makes an exact `(timestamp, state)` collision pick the
    *    same version whatever the input order. A null value sorts below
    *    any bytes. Range tombstones key by `(min, max)`, so distinct
    *    ranges sharing a min bound both survive.
    *  - The row tombstone is the greatest by `(markedForDeleteAt,
    *    localDeletionTime)`. The half-LIVE pair (`markedForDeleteAt =
    *    Long.MinValue` with any other `localDeletionTime`), which the
    *    codec round-trips, shadows nothing and is dropped on merge.
    *  - [[result]] drops every column with `timestamp <=
    *    markedForDeleteAt`, then every cell a surviving range shadows
    *    (ranges never suppress ranges), and sorts the rest by `(name,
    *    state, value, timestamp)`.
    *
    * [[add]] takes versions in any order and costs O(row width); the key
    * is the first version's when not given. Adding a [[result]] equals
    * adding the versions it merged — what a partial aggregation needs.
    * Counter columns have no LWW semantics (merging replication contexts
    * by timestamp silently loses increments), so [[add]] refuses them;
    * raw scans still surface them. */
  private[graft] final class Reconciler(private var key: Array[Byte] = null) {
    private val winners =
      scala.collection.mutable.HashMap.empty[(Seq[Byte], Option[Seq[Byte]]), Column]
    private var tomb: Option[RowTombstone] = None

    def add(row: SSTableRow): this.type = {
      if (key == null) key = row.key
      row.tombstone.foreach { t =>
        if (t.markedForDeleteAtMicros != Long.MinValue && tomb.forall(tombOrder.gt(t, _)))
          tomb = Some(t)
      }
      row.columns.foreach { c =>
        val k = c match {
          case r: Column.RangeTombstone => (wrap(c.name), Some(wrap(r.maxName)))
          case _: Column.Counter | _: Column.CounterUpdate =>
            throw new IllegalArgumentException(
              "counter columns have no LWW merge semantics (partitioned " +
                s"replication contexts); key=${java.util.Base64.getEncoder.encodeToString(key)}")
          case _ => (wrap(c.name), None)
        }
        winners.updateWith(k) {
          case Some(prev) => Some(if (rankGt(c, prev)) c else prev)
          case None => Some(c)
        }
      }
      this
    }

    /** The merged row tombstone's clock; `Long.MinValue` when live. */
    def markedForDeleteAt: Long = tomb.fold(Long.MinValue)(_.markedForDeleteAtMicros)

    def result(): SSTableRow = {
      val mfda = markedForDeleteAt
      val alive = winners.values.filter(_.timestamp > mfda).toSeq
      val ranges = alive.collect { case r: Column.RangeTombstone => r }
      val cols = alive
        .filter {
          case _: Column.RangeTombstone => true
          case c => !ranges.exists(_.shadows(c.name, c.timestamp))
        }
        .sortWith { (a, b) =>
          val n = compareKeys(a.name, b.name)
          if (n != 0) n < 0
          else {
            val s = stateOf(a).compareTo(stateOf(b))
            if (s != 0) s < 0
            else {
              val v = compareValues(valueOf(a), valueOf(b))
              if (v != 0) v < 0 else a.timestamp < b.timestamp
            }
          }
        }
      SSTableRow(key, cols, tomb)
    }
  }

  private val tombOrder: Ordering[RowTombstone] =
    Ordering.by(t => (t.markedForDeleteAtMicros, t.localDeletionTimeSecs))
  private def wrap(a: Array[Byte]) = scala.collection.immutable.ArraySeq.unsafeWrapArray(a)

  /** A column's fields as the scan surface spells them
    * (`SSTableSchema.columnToInternal`); counters never reach a merge. */
  private def stateOf(c: Column): String = c match {
    case _: Column.Deleted => "DELETED"
    case _: Column.Normal => "NORMAL"
    case _: Column.Expiring => "EXPIRING"
    case _: Column.RangeTombstone => "RANGE_TOMBSTONE"
    case _ => throw new IllegalStateException("unreachable: counters rejected on entry")
  }
  private def valueOf(c: Column): Array[Byte] = c match {
    case Column.Normal(_, v, _) => v
    case Column.Expiring(_, v, _, _, _) => v
    case r: Column.RangeTombstone => r.maxName
    case _ => null
  }
  private def ttlOf(c: Column): Long = c match {
    case e: Column.Expiring => e.ttlSecs
    case r: Column.RangeTombstone => r.localDeletionTimeSecs.toLong
    case _ => 0L
  }
  private def expOf(c: Column): Long = c match {
    case e: Column.Expiring => e.expiresMillis
    case _ => 0L
  }
  /** Unsigned byte order with null below any bytes. */
  private def compareValues(a: Array[Byte], b: Array[Byte]): Int =
    if (a == null && b == null) 0
    else if (a == null) -1 else if (b == null) 1
    else compareKeys(a, b)

  /** Strictly greater under the winner order
    * `(timestamp, deleted, state, value, ttlSecs, expiresMillis)`. */
  private def rankGt(a: Column, b: Column): Boolean = {
    if (a.timestamp != b.timestamp) return a.timestamp > b.timestamp
    val d = (if (a.isInstanceOf[Column.Deleted]) 1 else 0) -
      (if (b.isInstanceOf[Column.Deleted]) 1 else 0)
    if (d != 0) return d > 0
    val s = stateOf(a).compareTo(stateOf(b))
    if (s != 0) return s > 0
    val v = compareValues(valueOf(a), valueOf(b))
    if (v != 0) return v > 0
    if (ttlOf(a) != ttlOf(b)) return ttlOf(a) > ttlOf(b)
    expOf(a) > expOf(b)
  }
}
