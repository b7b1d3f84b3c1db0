package graft.sources.sstable

import java.io.{DataInputStream, DataOutputStream}
import java.util.zip.Adler32
import org.xerial.snappy.Snappy

/** CompressionInfo.db codec + the chunk-framed Snappy layer — the real
  * Cassandra 1.x layout, re-implemented from the public format (not by
  * copying). Provides the surface the reference consumed from its external
  * codec (SURVEY.md §1.4): `CompressionInfoReader` exposing `chunkLength`
  * (uncompressed chunk size), `dataLength` (total uncompressed length) and
  * the compressed chunk offsets (GenerateSSTableDataSplits.scala:129-135,
  * 180-202).
  *
  * `*-CompressionInfo.db`, per Cassandra 1.2's `CompressionParameters` +
  * `CompressionMetadata.Writer`:
  * {{{
  * [UTF algorithm]            // DataOutput.writeUTF, e.g. "SnappyCompressor"
  * [u32 optionCount] ([UTF key][UTF value])*
  * [u32 chunkLength][u64 dataLength]
  * [u32 chunkCount] [u64 offset]*
  * }}}
  *
  * Physical `*-Data.db` layout (per `CompressedSequentialWriter`): chunks
  * back-to-back, each `[compressed bytes][u32 adler32]`. There is NO
  * length prefix — chunk i's compressed length is
  * `offset(i+1) - offset(i) - 4` (last chunk bounded by file length), and
  * the Adler32 is computed over the *uncompressed* chunk (Cassandra
  * checksummed uncompressed data throughout 1.x/2.x; the switch to CRC32
  * over compressed bytes came in 3.0).
  *
  * Unlike the reference's whole-split buffer + `decompressEntireStream`
  * (SplitSSTableDataRecordReader.scala:58-71 — memory ∝ split size), reads
  * here are chunk-at-a-time with a single-chunk cache: memory is O(64 KB)
  * per open reader regardless of split size — the 100 TB-safe trade.
  */
final case class CompressionInfo(chunkLength: Int, dataLength: Long,
                                 chunkOffsets: Array[Long],
                                 algorithm: String = CompressionInfo.SnappyAlgorithm) {
  def chunkCount: Int = chunkOffsets.length
}

object CompressionInfo {
  val SnappyAlgorithm = "SnappyCompressor"
  val DeflateAlgorithm = "DeflateCompressor"
  val Algorithms: Set[String] = Set(SnappyAlgorithm, DeflateAlgorithm)
  val DefaultChunkLength = 64 * 1024

  /** Accepts either the Cassandra compressor class name or a short
    * alias ("snappy" / "deflate"). */
  def algorithmFor(name: String): String = name match {
    case SnappyAlgorithm | "snappy" => SnappyAlgorithm
    case DeflateAlgorithm | "deflate" => DeflateAlgorithm
    case other => throw new IllegalArgumentException(
      s"unsupported compression algorithm '$other' " +
        s"(supported: snappy, deflate)")
  }

  def write(out: DataOutputStream, info: CompressionInfo): Unit = {
    out.writeUTF(info.algorithm)
    out.writeInt(0) // no extra compression options
    out.writeInt(info.chunkLength)
    out.writeLong(info.dataLength)
    out.writeInt(info.chunkOffsets.length)
    info.chunkOffsets.foreach(out.writeLong)
  }

  def read(in: DataInputStream): CompressionInfo = {
    val algorithm = in.readUTF()
    if (!Algorithms.contains(algorithm))
      throw new CorruptSSTableException(
        s"unsupported compression algorithm '$algorithm' (supported: ${Algorithms.mkString(", ")})")
    val optionCount = in.readInt()
    if (optionCount < 0 || optionCount > 64)
      throw new CorruptSSTableException(s"CompressionInfo absurd option count $optionCount")
    (0 until optionCount).foreach { _ => in.readUTF(); in.readUTF() } // ignored
    val chunkLength = in.readInt()
    val dataLength = in.readLong()
    val n = in.readInt()
    if (n < 0 || chunkLength <= 0)
      throw new CorruptSSTableException(s"CompressionInfo invalid geometry n=$n chunk=$chunkLength")
    CompressionInfo(chunkLength, dataLength, Array.fill(n)(in.readLong()), algorithm)
  }
}

/** Loud-failure exception for any structural corruption — the reference
  * swallowed mid-file errors and silently truncated the scan
  * (SSTableDataRecordReader.scala:95-97, defect SURVEY.md §2.9-5). */
final class CorruptSSTableException(msg: String, cause: Throwable = null)
    extends java.io.IOException(msg, cause)

/** Per-chunk compression codec, selected by the CompressionInfo
  * algorithm string — Cassandra 1.2 shipped `SnappyCompressor` and
  * `DeflateCompressor` (zlib-wrapped `java.util.zip.Deflater`, its
  * default level). */
private[sstable] sealed trait ChunkCodec {
  def compress(raw: Array[Byte]): Array[Byte]
  /** Uncompress `comp[0, compLen)` (the chunk's checksum trailer may
    * follow in the same array). */
  def uncompress(comp: Array[Byte], compLen: Int, maxRawLen: Int): Array[Byte]
  /** Uncompress a bare chunk (no trailer), as the benchmark's decompress
    * calibration holds them. */
  final def uncompress(comp: Array[Byte], maxRawLen: Int): Array[Byte] =
    uncompress(comp, comp.length, maxRawLen)
}

private[sstable] object ChunkCodec {
  def forAlgorithm(algorithm: String): ChunkCodec = algorithm match {
    case CompressionInfo.SnappyAlgorithm => SnappyCodec
    case CompressionInfo.DeflateAlgorithm => DeflateCodec
    case other => throw new CorruptSSTableException(s"no codec for '$other'")
  }

  object SnappyCodec extends ChunkCodec {
    def compress(raw: Array[Byte]): Array[Byte] = Snappy.compress(raw)
    /** A damaged chunk fails as a [[CorruptSSTableException]]: the
      * codec's own error, or a claimed length past the chunk length
      * (never allocated). */
    def uncompress(comp: Array[Byte], compLen: Int, maxRawLen: Int): Array[Byte] = {
      val n = try Snappy.uncompressedLength(comp, 0, compLen) catch {
        case e: java.io.IOException => throw new CorruptSSTableException("snappy chunk corrupt", e)
      }
      if (n < 0 || n > maxRawLen)
        throw new CorruptSSTableException(s"snappy chunk claims $n bytes, past the chunk length")
      val raw = new Array[Byte](n)
      try Snappy.uncompress(comp, 0, compLen, raw, 0) catch {
        case e: java.io.IOException => throw new CorruptSSTableException("snappy chunk corrupt", e)
      }
      raw
    }
  }

  object DeflateCodec extends ChunkCodec {
    def compress(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(raw); d.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    def uncompress(comp: Array[Byte], compLen: Int, maxRawLen: Int): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(comp, 0, compLen)
        val out = new Array[Byte](maxRawLen)
        var n = 0
        while (!inf.finished() && n < maxRawLen) {
          val got = inf.inflate(out, n, maxRawLen - n)
          if (got == 0 && !inf.finished())
            throw new CorruptSSTableException("deflate chunk truncated or corrupt")
          n += got
        }
        java.util.Arrays.copyOf(out, n)
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new CorruptSSTableException("deflate chunk corrupt", e)
      } finally inf.end()
    }
  }
}

/** Uncompressed-domain view over a chunk-compressed physical stream.
  * `seek`/`read` address uncompressed positions; chunks are located via
  * CompressionInfo offsets, decompressed on demand (codec from the
  * header's algorithm), one chunk cached. */
final class CompressedChunkedInput(physical: SeekableInput, info: CompressionInfo)
    extends SeekableInput {
  private val codec = ChunkCodec.forAlgorithm(info.algorithm)
  private var pos = 0L
  private var cachedChunk = -1
  private var cached: Array[Byte] = _

  def position: Long = pos
  def seek(p: Long): Unit = pos = p
  def length: Long = info.dataLength

  private def loadChunk(idx: Int): Array[Byte] = {
    if (idx == cachedChunk) return cached
    if (idx < 0 || idx >= info.chunkCount)
      throw new CorruptSSTableException(s"chunk $idx out of range 0..${info.chunkCount - 1}")
    val chunkEnd =
      if (idx + 1 < info.chunkCount) info.chunkOffsets(idx + 1) else physical.length
    val compLen = chunkEnd - info.chunkOffsets(idx) - 4 // trailing adler32
    if (compLen <= 0 || compLen > info.chunkLength.toLong * 2 + 1024)
      throw new CorruptSSTableException(s"chunk $idx absurd compressed length $compLen")
    physical.seek(info.chunkOffsets(idx))
    // one read for the chunk and its trailer
    val frame = new Array[Byte](compLen.toInt + 4)
    physical.readFully(frame)
    val expectedCrc = java.nio.ByteBuffer.wrap(frame).getInt(compLen.toInt)
    val raw = codec.uncompress(frame, compLen.toInt, info.chunkLength)
    val adler = new Adler32
    adler.update(raw)
    if (adler.getValue.toInt != expectedCrc)
      throw new CorruptSSTableException(s"chunk $idx checksum mismatch")
    cachedChunk = idx
    cached = raw
    raw
  }

  def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= info.dataLength) return -1
    val chunkIdx = (pos / info.chunkLength).toInt
    val within = (pos % info.chunkLength).toInt
    val chunk = loadChunk(chunkIdx)
    if (within >= chunk.length)
      throw new CorruptSSTableException(s"position $pos beyond chunk $chunkIdx payload")
    val n = math.min(len, chunk.length - within)
    System.arraycopy(chunk, within, buf, off, n)
    pos += n
    n
  }

  def close(): Unit = physical.close()
}

/** Chunking compressed writer: buffers up to `chunkLength` uncompressed
  * bytes, flushes each as `[compressed][u32 adler32(uncompressed)]`,
  * records offsets for CompressionInfo. */
final class CompressedChunkedOutput(sink: DataOutputStream, chunkLength: Int,
    algorithm: String = CompressionInfo.SnappyAlgorithm) {
  private val codec = ChunkCodec.forAlgorithm(algorithm)
  private val buf = new Array[Byte](chunkLength)
  private var used = 0
  private var uncompressedTotal = 0L
  private var physicalOffset = 0L
  private val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]

  def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var remaining = len
    while (remaining > 0) {
      val n = math.min(remaining, chunkLength - used)
      System.arraycopy(bytes, o, buf, used, n)
      used += n; o += n; remaining -= n
      if (used == chunkLength) flushChunk()
    }
  }

  private def flushChunk(): Unit = {
    if (used == 0) return
    val raw = java.util.Arrays.copyOf(buf, used)
    val comp = codec.compress(raw)
    val adler = new Adler32
    adler.update(raw)
    offsets += physicalOffset
    sink.write(comp)
    sink.writeInt(adler.getValue.toInt)
    physicalOffset += comp.length.toLong + 4L
    uncompressedTotal += used
    used = 0
  }

  /** Flush the tail chunk and return the CompressionInfo. */
  def finish(): CompressionInfo = {
    flushChunk()
    CompressionInfo(chunkLength, uncompressedTotal, offsets.toArray, algorithm)
  }
}
