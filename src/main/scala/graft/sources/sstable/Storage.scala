package graft.sources.sstable

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, OutputStream, RandomAccessFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage abstraction behind the SSTable codec: the reference ran on HDFS
  * (`FSSeekableDataInputStream.scala:7-11` wrapped `FSDataInputStream`);
  * this trait is the same seam for any `SeekableInput`-capable store.
  *
  * [[LocalStorage]] is pure-JVM (unit tests, single node). [[HadoopStorage]]
  * adapts any Hadoop `FileSystem` (`hdfs://`, `file://`, object stores with
  * the right connector on the classpath) and exposes block locations so the
  * DSv2 scan can attach `preferredLocations` to partitions — the
  * reference's locality feature (SplitSSTableDataInputFormat.scala:66-67,
  * SplitSSTableIndexInputFormat.scala:48-50).
  */
trait Storage {
  def open(path: String): SeekableInput
  def length(path: String): Long
  /** Last-modification time (epoch ms) — with `length`, the validity key
    * of [[SSTableMetadataCache]]. */
  def mtime(path: String): Long
  def exists(path: String): Boolean
  /** All `*-Data.db` files under a directory (the S1 listing filter,
    * SSTableDataInputFormat.scala:15-17); `dir` may also be a single
    * Data.db path. */
  def listDataFiles(dir: String): Seq[String]
  /** Create (overwrite) a file for writing. */
  def create(path: String): DataOutputStream
  def delete(path: String): Unit
  def rename(src: String, dst: String): Unit
  /** Atomically replace `dst` with `src` (a FILE, not a directory) —
    * unlike [[rename]], an existing `dst` is overwritten. For small
    * metadata files rewritten in place (the catalog's `_table`): a
    * concurrent reader sees the old bytes or the new bytes, never a
    * torn half-write and never a missing file. ABSTRACT on purpose
    * (ADVICE r8): a convenience delete+rename default here would let a
    * third-party adapter silently expose a missing-`_table` window in
    * which a bucketed table loads as un-bucketed and one plain write
    * breaks the layout permanently — an adapter must consciously supply
    * its backend's atomic primitive (POSIX `rename(2)`, HDFS
    * `FileContext.rename(OVERWRITE)`, an object store's atomic PUT). */
  def replace(src: String, dst: String): Unit
  /** Immediate subdirectories of `dir` whose NAME starts with `prefix`
    * (e.g. the write paths' `_staging-` scratch space). Empty when `dir`
    * is not a directory. */
  def listSubdirs(dir: String, prefix: String): Seq[String]
  /** ALL plain files directly under `dir` (no filter, no recursion),
    * sorted; empty when `dir` is absent or not a directory. The listing
    * primitive behind metadata directories like the `_history` log,
    * where entries are not `-Data.db`-suffixed. */
  def listFiles(dir: String): Seq[String]
  /** Delete a directory tree (no-op if absent). */
  def deleteRecursive(dir: String): Unit
  /** Create `dir` and any missing parents (no-op when present). */
  def mkdirs(dir: String): Unit
  /** Publish `src`'s bytes under a second name `dst`: a HARDLINK where
    * the backend supports it (O(1), shares the immutable inode —
    * Cassandra's snapshot design), a byte copy otherwise. Published
    * filesets are immutable, so either form yields an immutable pinned
    * view. Fails if `src` vanished (callers retry against a fresh
    * listing) or `dst` exists on link-capable backends. */
  def link(src: String, dst: String): Unit = {
    val in = open(src)
    try {
      val out = create(dst)
      try {
        val buf = new Array[Byte](1 << 16)
        val n = in.length
        var pos = 0L
        while (pos < n) {
          val r = in.read(buf, 0, math.min(buf.length.toLong, n - pos).toInt)
          if (r < 0) throw new java.io.EOFException(s"$src truncated at $pos/$n")
          out.write(buf, 0, r)
          pos += r
        }
      } finally out.close()
    } finally in.close()
  }
  /** Hosts holding the physical byte range [start, end) of `path`; empty
    * when locality is unknown (local fs). */
  def blockHosts(path: String, start: Long, end: Long): Array[String] = Array.empty

  /** Whether [[link]] is O(1) (a hardlink sharing the inode) rather
    * than a byte copy. Gates optimizations that would otherwise DOUBLE
    * write IO — e.g. the catalog write path's link-publish, which keeps
    * the staged copy alive until the commit-integrity check passes so a
    * commit racing a table swap can republish instead of failing.
    * Conservative default: false (the trait's [[link]] is a copy). */
  def linkIsCheap: Boolean = false

  /** Read a small metadata file fully as UTF-8 — the ONE home of the
    * read-to-end loop the `_table`/`_lease`/`_history`/`_pinned-at`
    * readers share (review r9: four hand-rolled copies had accumulated).
    * Loud on truncation; callers bound usage to metadata-sized files. */
  final def readString(path: String): String = {
    val in = open(path)
    try {
      val buf = new Array[Byte](in.length.toInt)
      var off = 0
      while (off < buf.length) {
        val r = in.read(buf, off, buf.length - off)
        if (r < 0) throw new java.io.EOFException(s"$path truncated at $off")
        off += r
      }
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}

object LocalStorage extends Storage {
  /** Buffered like [[HadoopStorage.open]]: see [[BufferedSeekableInput]]. */
  def open(path: String): SeekableInput =
    new BufferedSeekableInput(new FileSeekableInput(path))
  def length(path: String): Long = new File(path).length()
  def mtime(path: String): Long = new File(path).lastModified()
  def exists(path: String): Boolean = new File(path).exists()
  def listDataFiles(dir: String): Seq[String] = {
    val f = new File(dir)
    if (!f.isDirectory) {
      // match HadoopStorage (getFileStatus throws FNF on missing paths):
      // a dir a concurrent swap/DROP removed must read as the vanished
      // straggler class every retry loop already classifies, not as a
      // wrong-argument error (r14 storm find — the two adapters
      // disagreed on the missing-dir failure class)
      if (!f.exists())
        throw new java.io.FileNotFoundException(
          s"$dir does not exist — a concurrent swap or DROP may have " +
            "removed it; rerun")
      if (f.getName.endsWith(SSTableFiles.DataSuffix)) Seq(f.getPath)
      else throw new IllegalArgumentException(s"$dir is neither a dir nor a -Data.db file")
    } else {
      f.listFiles().toSeq
        .filter(_.getName.endsWith(SSTableFiles.DataSuffix))
        .map(_.getPath).sorted
    }
  }
  def create(path: String): DataOutputStream =
    new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
  def delete(path: String): Unit = new File(path).delete()
  def rename(src: String, dst: String): Unit = {
    // POSIX rename(2) silently replaces an existing dst; Hadoop's rename
    // refuses. Match the refusing semantics so a published-name
    // collision fails LOUDLY instead of overwriting a live generation —
    // callers that mean to replace (streaming epoch replay) delete first.
    // For FILES the refusal is ATOMIC via link(2) (EEXIST on a raced
    // dst), not check-then-act: MaintenanceLease.acquire's exclusivity
    // rides this rename, and a exists()-then-renameTo window would let
    // two simultaneous acquirers both "win" (one silently replacing the
    // other's lease — review r9). Directories keep the checked rename
    // (link(2) refuses dirs; their callers are DDL, not mutex).
    val s = new File(src)
    def checkedRename(): Unit = {
      if (new File(dst).exists())
        throw new java.io.IOException(s"rename $src -> $dst: destination exists")
      val ok = s.renameTo(new File(dst))
      if (!ok) throw new java.io.IOException(s"rename $src -> $dst failed")
    }
    if (s.isFile) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst), s.toPath)
        java.nio.file.Files.delete(s.toPath)
      } catch {
        // FileAlreadyExists FIRST — it subclasses FileSystemException,
        // and the raced-destination case must stay a loud refusal
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(s"rename $src -> $dst: destination exists", e)
        // hardlink-less filesystems signal EPERM as FileSystemException
        // (the JDK default provider never throws UnsupportedOperation
        // here). Fall back ONLY on the capability signals — a transient
        // EIO/EDQUOT on a link-capable fs must NOT silently degrade to
        // the racy checked rename (two lease acquirers could both win;
        // review r9): those rethrow for the caller to handle loudly.
        case _: UnsupportedOperationException => checkedRename()
        case e: java.nio.file.FileSystemException
            if e.getMessage != null && {
              val m = e.getMessage.toLowerCase(java.util.Locale.ROOT)
              m.contains("not permitted") || m.contains("not supported") ||
                m.contains("cross-device")
            } =>
          checkedRename()
      }
    } else checkedRename()
  }
  override def replace(src: String, dst: String): Unit = {
    java.nio.file.Files.move(new File(src).toPath, new File(dst).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  def listSubdirs(dir: String, prefix: String): Seq[String] = {
    val f = new File(dir)
    if (!f.isDirectory) Nil
    else f.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .map(_.getPath).sorted
  }
  def listFiles(dir: String): Seq[String] = {
    val f = new File(dir)
    if (!f.isDirectory) Nil
    else f.listFiles().toSeq.filter(_.isFile).map(_.getPath).sorted
  }
  def deleteRecursive(dir: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(dir))
  }
  def mkdirs(dir: String): Unit = { new File(dir).mkdirs(); () }
  /** POSIX hardlinks share the inode — O(1). A link-less filesystem
    * falls back to the copy below, making this optimistic on exotic
    * mounts; the fallback is correct either way, just not cheap. */
  override def linkIsCheap: Boolean = true
  override def link(src: String, dst: String): Unit =
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst), java.nio.file.Paths.get(src))
      ()
    } catch {
      // filesystem without hardlinks → byte copy; everything else
      // (vanished src, existing dst) propagates to the caller
      case _: UnsupportedOperationException => super.link(src, dst)
    }
}

/** Hadoop `FileSystem` adapter. Streams are positioned reads over
  * `FSDataInputStream` (thread-confined, one per reader — the reference's
  * `SeekableDataInputStreamProxy` pattern). */
final class HadoopStorage(conf: Configuration) extends Storage {
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  def open(path: String): SeekableInput = {
    val p = new Path(path)
    val f = fs(p)
    val status = f.getFileStatus(p)
    val in = f.open(p)
    new SeekableInput {
      private val len = status.getLen
      def position: Long = in.getPos
      def seek(pos: Long): Unit = in.seek(pos)
      def length: Long = len
      def read(buf: Array[Byte], off: Int, n: Int): Int = in.read(buf, off, n)
      def close(): Unit = in.close()
    }
  }

  def length(path: String): Long = {
    val p = new Path(path)
    fs(p).getFileStatus(p).getLen
  }

  def mtime(path: String): Long = {
    val p = new Path(path)
    fs(p).getFileStatus(p).getModificationTime
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }

  def listDataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    val status = f.getFileStatus(p)
    if (!status.isDirectory) {
      if (p.getName.endsWith(SSTableFiles.DataSuffix)) Seq(p.toString)
      else throw new IllegalArgumentException(s"$dir is neither a dir nor a -Data.db file")
    } else {
      f.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(SSTableFiles.DataSuffix))
        .map(_.getPath.toString).sorted
    }
  }

  def create(path: String): DataOutputStream = {
    val p = new Path(path)
    new DataOutputStream(new BufferedOutputStream(
      fs(p).create(p, true): OutputStream, 1 << 16))
  }

  def delete(path: String): Unit = {
    val p = new Path(path)
    fs(p).delete(p, false)
  }

  def rename(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    if (!fs(s).rename(s, d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  override def replace(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    // FileContext.rename(OVERWRITE) is the atomic file replace on HDFS
    // (FileSystem.rename refuses an existing dst); object-store
    // connectors emulate it, which is no worse than delete+rename.
    org.apache.hadoop.fs.FileContext.getFileContext(s.toUri, conf)
      .rename(s, d, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def deleteRecursive(dir: String): Unit = {
    val p = new Path(dir)
    fs(p).delete(p, true)
  }

  def mkdirs(dir: String): Unit = {
    val p = new Path(dir)
    fs(p).mkdirs(p)
    ()
  }

  def listSubdirs(dir: String, prefix: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p) || !f.getFileStatus(p).isDirectory) Nil
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.toString).sorted
  }

  def listFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p) || !f.getFileStatus(p).isDirectory) Nil
    else f.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath.toString).sorted
  }

  override def blockHosts(path: String, start: Long, end: Long): Array[String] = {
    val p = new Path(path)
    val f = fs(p)
    val status = f.getFileStatus(p)
    f.getFileBlockLocations(status, start, math.max(1L, end - start))
      .flatMap(_.getHosts).distinct
      // cap like the reference (GenerateSSTableDataSplits.scala:237) — a
      // split spanning many blocks would otherwise claim every host
      .take(5)
  }
}

object Storage {
  /** Local paths (no scheme) get the zero-dependency local implementation;
    * anything with a scheme (`hdfs://`, `file://`, `s3a://`, …) goes
    * through the Hadoop adapter. */
  def forPath(path: String, conf: => Configuration): Storage =
    if (hasScheme(path)) new HadoopStorage(conf) else LocalStorage

  def hasScheme(path: String): Boolean =
    (try new java.net.URI(path).getScheme catch { case _: Exception => null }) != null
}

/** The serializable form of the [[Storage]] behind a path, built on the
  * driver and shipped inside scans, writer factories and task closures:
  * [[LocalStorage]] for a scheme-less path, else a [[HadoopStorage]]
  * over the driver's Hadoop conf, which rides along only then. [[get]]
  * builds the storage where it is used (no caching). */
final class StorageHandle private (conf: Option[SerializableHadoopConf])
    extends Serializable {
  def get: Storage = conf.map(c => new HadoopStorage(c.value): Storage).getOrElse(LocalStorage)
}

object StorageHandle {
  def apply(path: String, conf: => Configuration): StorageHandle =
    new StorageHandle(
      if (Storage.hasScheme(path)) Some(new SerializableHadoopConf(conf)) else None)
}

/** Java-serializable Hadoop `Configuration` carrier (the class itself is
  * `Writable` but not `Serializable`) — lets DSv2 plan-time conf ride
  * inside partition reader factories to executors. */
private[sstable] final class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
