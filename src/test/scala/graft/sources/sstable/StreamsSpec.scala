package graft.sources.sstable

import java.io.{EOFException, File, RandomAccessFile}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The buffered local input [[LocalStorage.open]] hands every codec
  * reader: its seek/read/EOF semantics, and the number of underlying
  * reads a point read costs through it. */
class StreamsSpec extends AnyFunSuite {
  import BufferedSeekableInput.Size

  /** Counts what reaches the file: reads, seeks and length queries. */
  private final class CountingInput(path: String) extends SeekableInput {
    private val inner = new FileSeekableInput(path)
    var reads = 0
    var seeks = 0
    var lengths = 0
    def position: Long = inner.position
    def seek(pos: Long): Unit = { seeks += 1; inner.seek(pos) }
    def length: Long = { lengths += 1; inner.length }
    def read(buf: Array[Byte], off: Int, len: Int): Int = { reads += 1; inner.read(buf, off, len) }
    def close(): Unit = inner.close()
  }

  private def byteAt(i: Long): Byte = ((i * 31 + 7) & 0xff).toByte

  /** A file of `n` bytes, byte i = byteAt(i). */
  private def patternFile(n: Int): String = {
    val f = File.createTempFile("streams", ".bin")
    f.deleteOnExit()
    Files.write(f.toPath, Array.tabulate(n)(i => byteAt(i)))
    f.getPath
  }

  private def open(path: String): (BufferedSeekableInput, CountingInput) = {
    val raw = new CountingInput(path)
    (new BufferedSeekableInput(raw), raw)
  }

  private def readAt(in: SeekableInput, pos: Long, n: Int): Array[Byte] = {
    in.seek(pos)
    val b = new Array[Byte](n)
    in.readFully(b)
    assert(in.position == pos + n)
    b
  }

  private def assertPattern(b: Array[Byte], from: Long): Unit =
    b.indices.foreach(i => assert(b(i) == byteAt(from + i), s"byte ${from + i}"))

  test("seeks inside the buffer cost no read; seeks outside it refill once") {
    val (in, raw) = open(patternFile(4 * Size))
    try {
      assertPattern(readAt(in, 0, 16), 0)
      assert(raw.reads == 1)
      assertPattern(readAt(in, 100, 16), 100) // forward, inside
      assertPattern(readAt(in, 10, 16), 10) // backward, inside
      assertPattern(readAt(in, Size - 16, 16), Size - 16) // forward, inside
      assert(raw.reads == 1 && raw.seeks == 0)
      assertPattern(readAt(in, 3L * Size, 16), 3L * Size) // forward, outside
      assert(raw.reads == 2 && raw.seeks == 1)
      assertPattern(readAt(in, 5, 16), 5) // backward, outside
      assert(raw.reads == 3 && raw.seeks == 2)
    } finally in.close()
  }

  test("a read spanning the buffer's end returns the right bytes with one refill") {
    val (in, raw) = open(patternFile(3 * Size))
    try {
      readAt(in, 0, 1)
      assertPattern(readAt(in, Size - 50, 100), Size - 50)
      assert(raw.reads == 2)
      assert(raw.seeks == 0, "the refill continues where the last read ended")
    } finally in.close()
  }

  test("a read at least as large as the buffer bypasses it") {
    val (in, raw) = open(patternFile(4 * Size))
    try {
      in.seek(5)
      val big = new Array[Byte](2 * Size)
      assert(in.read(big, 0, big.length) == big.length)
      assertPattern(big, 5)
      assert(raw.reads == 1)
      // nothing was buffered: the next small read goes to the file
      assertPattern(readAt(in, 5, 16), 5)
      assert(raw.reads == 2)
    } finally in.close()
  }

  test("-1 at EOF, a short read before it, and length read once at open") {
    val n = Size + 10
    val (in, raw) = open(patternFile(n))
    try {
      assert(in.length == n)
      in.seek(n - 3)
      val b = new Array[Byte](10)
      assert(in.read(b, 0, 10) == 3)
      assertPattern(b.take(3), n - 3)
      assert(in.read(b, 0, 10) == -1)
      in.seek(n + 100)
      assert(in.read(b, 0, 10) == -1)
      assert(in.read(b, 0, 0) == 0)
      (0 until 100).foreach(_ => in.length)
      assert(raw.lengths == 1)
    } finally in.close()
  }

  test("readFully stays loud on a truncated file") {
    val p = patternFile(2 * Size)
    // truncated before open: the request runs past the real end
    val raf = new RandomAccessFile(p, "rw")
    try raf.setLength(Size + 20) finally raf.close()
    val (in, _) = open(p)
    try {
      in.seek(Size)
      intercept[EOFException](in.readFully(new Array[Byte](64)))
    } finally in.close()
    // truncated after open: the length read at open is stale, and the
    // missing bytes still surface as EOF, never as buffered garbage
    val (in2, _) = open(p)
    try {
      assert(in2.length == Size + 20)
      val raf2 = new RandomAccessFile(p, "rw")
      try raf2.setLength(100) finally raf2.close()
      in2.seek(Size)
      intercept[EOFException](in2.readFully(new Array[Byte](8)))
    } finally in2.close()
  }

  /** LocalStorage with every opened file's reads counted below the
    * production buffer. */
  private final class CountingStorage extends Storage {
    val inputs = scala.collection.mutable.ArrayBuffer.empty[CountingInput]
    def reads: Int = inputs.map(_.reads).sum
    def open(path: String): SeekableInput = {
      val raw = new CountingInput(path)
      inputs += raw
      new BufferedSeekableInput(raw)
    }
    def length(path: String): Long = LocalStorage.length(path)
    def mtime(path: String): Long = LocalStorage.mtime(path)
    def exists(path: String): Boolean = LocalStorage.exists(path)
    def listDataFiles(dir: String): Seq[String] = LocalStorage.listDataFiles(dir)
    def create(path: String): java.io.DataOutputStream = LocalStorage.create(path)
    def delete(path: String): Unit = LocalStorage.delete(path)
    def rename(src: String, dst: String): Unit = LocalStorage.rename(src, dst)
    def replace(src: String, dst: String): Unit = LocalStorage.replace(src, dst)
    def listFiles(dir: String): Seq[String] = LocalStorage.listFiles(dir)
    def listSubdirs(dir: String, prefix: String): Seq[String] =
      LocalStorage.listSubdirs(dir, prefix)
    def deleteRecursive(dir: String): Unit = LocalStorage.deleteRecursive(dir)
    def mkdirs(dir: String): Unit = LocalStorage.mkdirs(dir)
  }

  /** Underlying reads for one hit once the fileset's metadata is loaded:
    * one Index.db window, one Data.db row or chunk. */
  private val WarmGetReads = 2
  /** The same hit on a cold reader, which also loads Filter, Summary and
    * (snappy) CompressionInfo, one read each at this size. */
  private val ColdGetReads = 5

  for (compress <- Seq(false, true)) {
    val kind = if (compress) "snappy" else "uncompressed"
    test(s"a one-generation get hit costs a fixed number of reads ($kind)") {
      val dir = Files.createTempDirectory("streams-get").toFile
      dir.deleteOnExit()
      val p = new File(dir, "g-Data.db").getPath
      val w = new SSTableWriter(p, compress)
      try (0 until 4000).foreach { i =>
        w.append(SSTableRow(f"key-$i%06d".getBytes, Seq(
          Column.Normal("c".getBytes, s"value-$i".getBytes, i.toLong))))
      } finally w.close()
      val storage = new CountingStorage
      val r = new SSTableReader(p, storage, useCache = false)
      // mid-window keys: the index scan walks ~half a Summary interval
      def hit(i: Int): Unit = {
        val row = r.get(f"key-$i%06d".getBytes).get
        assert(new String(row.columns.head.asInstanceOf[Column.Normal].value) == s"value-$i")
      }
      hit(1234)
      assert(storage.reads <= ColdGetReads, s"cold get made ${storage.reads} reads")
      val before = storage.reads
      hit(2999)
      assert(storage.reads - before <= WarmGetReads,
        s"warm get made ${storage.reads - before} reads")
    }
  }
}
