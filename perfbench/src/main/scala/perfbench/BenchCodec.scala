// Lives in the codec's package: `ChunkCodec` is package-private, and the
// decompress calibration times it directly, without the stream around it.
package graft.sources.sstable

object BenchCodec {
  /** Reads every chunk of a compressed Data.db into memory, then times
    * `ChunkCodec.uncompress` over all of them: (raw bytes, nanoseconds). */
  def uncompressAll(dataPath: String): (Long, Long) = {
    val r = new SSTableReader(dataPath, useCache = false)
    val info = r.compressionInfo.getOrElse(return (0L, 0L))
    val codec = ChunkCodec.forAlgorithm(info.algorithm)
    val in = LocalStorage.open(dataPath)
    val chunks = try info.chunkOffsets.indices.map { i =>
      val end = if (i + 1 < info.chunkCount) info.chunkOffsets(i + 1) else in.length
      val comp = new Array[Byte]((end - info.chunkOffsets(i) - 4).toInt) // trailing adler32
      in.seek(info.chunkOffsets(i))
      in.readFully(comp)
      comp
    } finally in.close()
    var raw = 0L
    val t0 = System.nanoTime()
    chunks.foreach(c => raw += codec.uncompress(c, info.chunkLength).length)
    (raw, System.nanoTime() - t0)
  }
}
