package graft.sources.sstable

import java.io.{DataInputStream, EOFException, InputStream, RandomAccessFile}

/** Seekable input abstraction — the recovered stream surface of the
  * reference codec (SURVEY.md §1.4: `SeekableDataInputStream` with
  * position/seek/length, bounded and in-memory variants). Pure JVM, no
  * Hadoop/Spark types, so the codec unit-tests without a cluster and the
  * DSv2 layer can adapt any storage (local fs here; HDFS/object-store via
  * an adapter) behind the same trait.
  */
trait SeekableInput extends AutoCloseable {
  def position: Long
  def seek(pos: Long): Unit
  def length: Long
  /** Read up to `len` bytes; -1 at EOF. */
  def read(buf: Array[Byte], off: Int, len: Int): Int

  def readFully(buf: Array[Byte]): Unit = {
    var off = 0
    while (off < buf.length) {
      val n = read(buf, off, buf.length - off)
      if (n < 0) throw new EOFException(
        s"unexpected EOF at $position (wanted ${buf.length - off} more bytes)")
      off += n
    }
  }

  def asInputStream: InputStream = new InputStream {
    private val one = new Array[Byte](1)
    override def read(): Int =
      if (SeekableInput.this.read(one, 0, 1) < 0) -1 else one(0) & 0xff
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      SeekableInput.this.read(b, off, len)
  }

  def asDataInput: DataInputStream = new DataInputStream(asInputStream)
}

final class FileSeekableInput(path: String) extends SeekableInput {
  private val raf = new RandomAccessFile(path, "r")
  def position: Long = raf.getFilePointer
  def seek(pos: Long): Unit = raf.seek(pos)
  def length: Long = raf.length()
  def read(buf: Array[Byte], off: Int, len: Int): Int = raf.read(buf, off, len)
  def close(): Unit = raf.close()
}

/** Read-through buffer over a seekable source — what [[LocalStorage]]
  * hands every codec reader, so the byte-at-a-time `DataInput` decoders
  * (Index.db entries, uncompressed Data.db rows, sidecars) cost one
  * underlying read per [[BufferedSeekableInput.Size]] bytes instead of a
  * syscall per field. `length` is read once at open: published filesets
  * are immutable and metadata files are replaced by rename, so an open
  * stream never sees its file change length. A seek inside the buffered
  * window costs nothing; a read at least as large as the buffer bypasses
  * it (whole compressed chunks, `Storage.link` copies), so a stream that
  * only ever reads that way never allocates the buffer. */
final class BufferedSeekableInput(underlying: SeekableInput) extends SeekableInput {
  import BufferedSeekableInput.Size
  private var buf: Array[Byte] = _ // allocated by the first buffered read
  private var bufStart = 0L // file offset of buf(0)
  private var bufLen = 0 // valid bytes in buf
  private var pos = 0L
  private var underlyingPos = underlying.position
  val length: Long = underlying.length

  def position: Long = pos
  def seek(p: Long): Unit = pos = p

  def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    val inBuf = pos - bufStart
    if (inBuf >= 0 && inBuf < bufLen) {
      val n = math.min(len, bufLen - inBuf.toInt)
      System.arraycopy(buf, inBuf.toInt, b, off, n)
      pos += n
      n
    } else if (pos >= length) -1
    else if (len >= Size) {
      val n = fill(b, off, len)
      if (n > 0) pos += n
      n
    } else {
      if (buf == null) buf = new Array[Byte](Size)
      val n = fill(buf, 0, Size)
      if (n <= 0) return -1
      bufStart = pos
      bufLen = n
      read(b, off, len)
    }
  }

  /** One underlying read at `pos`, seeking only when the source is
    * elsewhere. */
  private def fill(dst: Array[Byte], off: Int, len: Int): Int = {
    if (underlyingPos != pos) underlying.seek(pos)
    val n = underlying.read(dst, off, len)
    underlyingPos = pos + math.max(n, 0)
    n
  }

  def close(): Unit = underlying.close()
}

object BufferedSeekableInput {
  /** Covers a Summary-bounded Index.db window (~128 entries of short
    * keys) in one read; the same size as `java.io.BufferedInputStream`'s. */
  val Size: Int = 8 * 1024
}

final class InMemorySeekableInput(bytes: Array[Byte]) extends SeekableInput {
  private var pos = 0L
  def position: Long = pos
  def seek(p: Long): Unit = pos = p
  def length: Long = bytes.length.toLong
  def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= bytes.length) return -1
    val n = math.min(len.toLong, bytes.length - pos).toInt
    System.arraycopy(bytes, pos.toInt, buf, off, n)
    pos += n
    n
  }
  def close(): Unit = ()
}

/** Windowed view [start, start+len) of an underlying stream — the
  * reference's `BoundedSeekableDataInputStreamProxy`
  * (SSTableIndexRecordReader.scala:29). Positions are window-relative. */
final class BoundedSeekableInput(underlying: SeekableInput, start: Long, len: Long)
    extends SeekableInput {
  underlying.seek(start)
  def position: Long = underlying.position - start
  def seek(p: Long): Unit = underlying.seek(start + p)
  def length: Long = len
  def read(buf: Array[Byte], off: Int, n: Int): Int = {
    val remaining = len - position
    if (remaining <= 0) return -1
    underlying.read(buf, off, math.min(n.toLong, remaining).toInt)
  }
  def close(): Unit = underlying.close()
}
