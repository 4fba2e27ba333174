package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayOutputStream, FileNotFoundException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** Serializable Hadoop configuration for shipping the driver's filesystem
  * config (credentials, endpoints, `spark.hadoop.*`) into executor closures.
  *
  * `Configuration` itself is not `java.io.Serializable`; it is a Hadoop
  * `Writable`, so we serialize through `write`/`readFields`. Store entry
  * points declare `implicit val fc = FioConf.of(spark)` before building
  * executor closures — the implicit is captured lexically, so every
  * `Fio.*` call inside the closure resolves paths with the DRIVER's
  * filesystem configuration, not whatever happens to be on the executor's
  * classpath.
  */
final class FioConf(@transient private var c: Configuration) extends Serializable {
  def conf: Configuration = {
    if (c == null) c = new Configuration() // driverless fallback (tests, tools)
    c
  }
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    c = new Configuration(false)
    c.readFields(in)
  }
}

object FioConf {
  /** Driver entry: the session's Hadoop conf (includes `spark.hadoop.*`). */
  def of(spark: SparkSession): FioConf = new FioConf(spark.sparkContext.hadoopConfiguration)

  /** Low-priority default for driver-side utility calls with no session in
    * scope (CLI tools, header parses in tests). Resolves `file://` and any
    * scheme configured on the JVM classpath (`core-site.xml`).
    */
  implicit lazy val default: FioConf = new FioConf(new Configuration())
}

/** Pluggable compare-and-swap primitive for the layout commit protocol
  * ([[Fio.createExclusive]]). `file://` (O_CREAT|O_EXCL) and HDFS
  * (NameNode-atomic create-no-overwrite) are genuinely atomic natively;
  * S3A's create is check-then-write, so the writer-concurrency
  * guarantees silently weaken on the storage most 100 TB deployments
  * use — UNLESS a conditional-write layer is plugged in here. Set the
  * Hadoop conf key `graft.cas.provider` (reachable as
  * `spark.hadoop.graft.cas.provider` in Spark conf) to a class name
  * implementing this trait; every lock/marker create routes through it.
  * Implementations for real object stores: an S3 `If-None-Match: *`
  * conditional PUT (supported by S3 since 2024 and exposed by recent
  * Hadoop S3A via `fs.s3a.create.conditional.enabled`), a
  * DynamoDB/ZooKeeper coordinator (the S3AFileSystem-era Delta/
  * Iceberg lock-provider pattern), or a database row with a unique
  * key. Must return true to EXACTLY ONE concurrent caller per path;
  * false to every other (never overwrite).
  */
trait CasProvider {
  def createExclusive(path: String, content: String, conf: Configuration): Boolean
}

/** Positioned-read handle over one file — the Hadoop replacement for every
  * `RandomAccessFile(path, "r")` the stores used to open. One instance per
  * task; `readFully(pos, …)` maps to `FSDataInputStream.readFully`, which
  * is a ranged GET on object stores and a pread on local/HDFS.
  */
final class FioRandom(private val in: FSDataInputStream, val size: Long, val path: String) {
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit =
    in.readFully(pos, buf, off, len)
  def readFully(pos: Long, buf: Array[Byte]): Unit = readFully(pos, buf, 0, buf.length)
  def readAt(pos: Long, len: Int): Array[Byte] = {
    val b = new Array[Byte](len); readFully(pos, b, 0, len); b
  }
  def close(): Unit = in.close()
}

/** The one positioned-read handle of a Spark task ([[Fio.taskRandom]]):
  * opened lazily on the first `apply`, reopened when the path changes,
  * and closed when the task completes — drained or not. A scan that ends
  * in `.take(1)` or `.limit` leaves its partition iterator unfinished, so
  * only the task-completion listener can close the handle in time.
  */
final class FioTaskRandom private[io] (implicit fc: FioConf) {
  private var raf: FioRandom = null
  Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

  def apply(path: String): FioRandom = {
    if (raf != null && raf.path != path) close()
    if (raf == null) raf = Fio.openRandom(path)
    raf
  }

  def close(): Unit = if (raf != null) { raf.close(); raf = null }
}

/** Positioned-WRITE handle. The Hadoop FileSystem API is append-only, so
  * parallel pwrite sinks (BigTIFF slice write, detached NRRD raw) are a
  * POSIX-filesystem capability, not a portable one. This handle unwraps
  * `file://` URIs to a `FileChannel` and FAILS LOUD on any other scheme —
  * on object storage those single-big-file sinks must target a posix
  * scratch (`file:///…`) and upload, or use the chunked sinks (zarr,
  * chunk store) whose writers are one-object-per-task.
  */
final class FioRandomWrite private[io] (private val ch: java.nio.channels.FileChannel, val path: String) {
  def writeFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    val bb = java.nio.ByteBuffer.wrap(buf, off, len)
    var p = pos
    while (bb.hasRemaining) p += ch.write(bb, p)
  }
  def writeFully(pos: Long, buf: Array[Byte]): Unit = writeFully(pos, buf, 0, buf.length)
  def force(): Unit = ch.force(false)
  def close(): Unit = ch.close()
}

/** Filesystem facade for every custom reader/writer (MHD, zarr v2/v3,
  * TIFF, NRRD, WARC, chunk store, pyramid). All paths are STRINGS resolved
  * through `org.apache.hadoop.fs.FileSystem` — bare paths hit the
  * configured default FS (local in tests), and `file://`, `hdfs://`,
  * `s3a://`, `abfs://` URIs route to their schemes, so the same store code
  * runs single-node and on a 1000-executor cluster.
  *
  * Local paths unwrap `LocalFileSystem` to its raw form: the checksummed
  * wrapper would shed `.crc` sidecars into store directories (breaking
  * foreign zarr/TIFF readers that list chunk files) and double-read every
  * byte for CRC verification on the TB-scale bench paths.
  */
object Fio {

  def resolve(path: String)(implicit fc: FioConf): (FileSystem, HPath) = {
    val p = new HPath(path)
    val fs = p.getFileSystem(fc.conf) match {
      case l: LocalFileSystem => l.getRaw
      case o => o
    }
    (fs, fs.makeQualified(p))
  }

  /** Qualified string form (scheme-anchored, normalized) of `path`. */
  def qualify(path: String)(implicit fc: FioConf): String = resolve(path)._2.toString

  /** Join a child name under a directory path, URI-safely. */
  def child(dir: String, name: String): String = new HPath(dir, name).toString

  def parent(path: String): String = {
    val p = new HPath(path).getParent
    require(p != null, s"$path has no parent directory")
    p.toString
  }

  def fileName(path: String): String = new HPath(path).getName

  def exists(path: String)(implicit fc: FioConf): Boolean = {
    val (fs, p) = resolve(path); fs.exists(p)
  }

  def isDirectory(path: String)(implicit fc: FioConf): Boolean = {
    val (fs, p) = resolve(path)
    try fs.getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  def size(path: String)(implicit fc: FioConf): Long = {
    val (fs, p) = resolve(path); fs.getFileStatus(p).getLen
  }

  /** List a directory's immediate children. */
  def list(path: String)(implicit fc: FioConf): Seq[FileStatus] = {
    val (fs, p) = resolve(path); fs.listStatus(p).toSeq
  }

  def listNames(path: String)(implicit fc: FioConf): Seq[String] =
    list(path).map(_.getPath.getName)

  def mkdirs(path: String)(implicit fc: FioConf): Unit = {
    val (fs, p) = resolve(path)
    require(fs.mkdirs(p), s"mkdirs failed for $path")
  }

  /** `true` iff the target existed. Recursive. */
  def delete(path: String)(implicit fc: FioConf): Boolean = {
    val (fs, p) = resolve(path); fs.delete(p, true)
  }

  /** Directory/file rename. Atomic on POSIX filesystems and HDFS; on
    * object stores (S3A) rename is a COPY — callers that rely on atomic
    * publish (AtomicDir) document that caveat.
    */
  def rename(src: String, dst: String)(implicit fc: FioConf): Boolean = {
    val (fs, s) = resolve(src)
    fs.rename(s, fs.makeQualified(new HPath(dst)))
  }

  /** Rename that atomically replaces an existing destination (POSIX/HDFS
    * semantics via `FileContext` + `Rename.OVERWRITE`) — no delete-then-
    * rename window where a concurrent reader sees the target missing and
    * decodes a fill value. Falls back to delete+rename only if the scheme
    * has no FileContext binding (some custom Hadoop FS impls).
    */
  def renameOverwrite(src: String, dst: String)(implicit fc: FioConf): Unit = {
    val (fs, s) = resolve(src)
    val d = fs.makeQualified(new HPath(dst))
    try {
      val ctx = org.apache.hadoop.fs.FileContext.getFileContext(s.toUri, fc.conf)
      ctx.rename(s, d, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(d, true)
        require(fs.rename(s, d), s"renameOverwrite fallback failed: $src -> $dst")
    }
  }

  /** File modification time in epoch millis. */
  def mtime(path: String)(implicit fc: FioConf): Long = {
    val (fs, p) = resolve(path); fs.getFileStatus(p).getModificationTime
  }

  /** Bump a file's modification time to now — the lock-heartbeat
    * primitive: a writer holding a lock across a long staging write
    * touches it periodically so its age never crosses the stale-takeover
    * window while the writer is alive (ZOrder lock protocol). Returns
    * false (never throws) if the file vanished — the heartbeat loop must
    * not kill a publish whose lock was released a beat early.
    */
  def touch(path: String)(implicit fc: FioConf): Boolean = {
    val (fs, p) = resolve(path)
    try { fs.setTimes(p, System.currentTimeMillis(), -1); true }
    catch { case _: java.io.IOException => false }
  }

  /** CREATE-IF-ABSENT atomic file write — the compare-and-swap primitive
    * of the layout commit protocol: exactly one concurrent caller
    * succeeds, every other returns false (never overwrites). On
    * `file://` this is `Files.createFile` (an atomic O_CREAT|O_EXCL);
    * on HDFS `create(overwrite = false)` is atomic at the NameNode.
    * Object-store caveat stated, not hidden: S3A's create is
    * check-then-write, so true CAS there needs a conditional-put layer
    * (S3 If-None-Match) or a coordination service — the same caveat
    * Delta documents for its log commits. The [[CasProvider]] hook
    * (`graft.cas.provider` Hadoop conf key) routes this primitive
    * through such a layer when configured — spec-pinned that every
    * call reaches the plugin and none the filesystem.
    */
  def createExclusive(path: String, content: String)(implicit fc: FioConf): Boolean = {
    val provider = fc.conf.get("graft.cas.provider")
    if (provider != null && provider.nonEmpty)
      return casProviders.computeIfAbsent(provider, cls =>
        Class.forName(cls).getDeclaredConstructor().newInstance()
          .asInstanceOf[CasProvider])
        .createExclusive(path, content, fc.conf)
    val (fs, p) = resolve(path)
    if ("file" == p.toUri.getScheme) {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        val parent = local.getParent
        if (parent != null) java.nio.file.Files.createDirectories(parent)
        java.nio.file.Files.createFile(local) // atomic O_CREAT|O_EXCL
        java.nio.file.Files.write(local, content.getBytes(StandardCharsets.UTF_8))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      // Two failure modes, kept distinct (r19 advice): CREATE losing the
      // race maps to false; a failed content WRITE/CLOSE after a
      // successful create means this caller DID create the file (it holds
      // the lock / the marker exists, possibly empty) — reporting false
      // there would tell a committed publisher it lost, so the created
      // file is rolled back and the error propagates instead.
      val out =
        try fs.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.io.IOException if fs.exists(p) => return false // non-FAEE "exists" impls
        }
      try {
        try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          try fs.delete(p, false) catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  def openStream(path: String)(implicit fc: FioConf): FSDataInputStream = {
    val (fs, p) = resolve(path); fs.open(p)
  }

  /** Positioned-read handle (replaces `new RandomAccessFile(path, "r")`). */
  def openRandom(path: String)(implicit fc: FioConf): FioRandom = {
    val (fs, p) = resolve(path)
    val st = fs.getFileStatus(p)
    new FioRandom(fs.open(p), st.getLen, path)
  }

  /** The task-scoped positioned-read handle (see [[FioTaskRandom]]); call
    * once per task, inside `mapPartitions`.
    */
  def taskRandom()(implicit fc: FioConf): FioTaskRandom = new FioTaskRandom

  /** Like openRandom but `None` when the file is absent — one metadata
    * round-trip, not exists()+open().
    */
  def openRandomIfExists(path: String)(implicit fc: FioConf): Option[FioRandom] = {
    val (fs, p) = resolve(path)
    try {
      val st = fs.getFileStatus(p)
      Some(new FioRandom(fs.open(p), st.getLen, path))
    } catch { case _: FileNotFoundException => None }
  }

  /** Positioned-write handle; `file://`-scheme only (see FioRandomWrite).
    * The scheme check precedes filesystem resolution so a non-posix URI
    * fails with THIS named error, not a scheme-resolution stack.
    */
  def openRandomWrite(path: String, preallocate: Long = -1L)(implicit fc: FioConf): FioRandomWrite = {
    val rawScheme = new HPath(path).toUri.getScheme
    require(
      rawScheme == null || rawScheme == "file",
      s"$path: positioned-write sinks (BigTIFF, detached NRRD raw) need a posix " +
        "filesystem — write to file:///scratch and upload, or use a chunked sink " +
        "(zarr, chunk store) whose tasks each write their own object")
    val (fs, p) = resolve(path)
    require(
      "file" == p.toUri.getScheme,
      s"$path: positioned-write sinks need a posix filesystem (default FS is not file://)")
    val parentDir = p.getParent
    if (parentDir != null && !fs.exists(parentDir)) fs.mkdirs(parentDir)
    val local = java.nio.file.Paths.get(p.toUri.getPath)
    val ch = java.nio.channels.FileChannel.open(
      local,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    if (preallocate >= 0) {
      // truncate only shrinks; to guarantee "full size up front, unwritten
      // gaps read as zeros" we must also extend when the file is shorter.
      if (ch.size > preallocate) ch.truncate(preallocate)
      else if (ch.size < preallocate && preallocate > 0)
        ch.write(java.nio.ByteBuffer.allocate(1), preallocate - 1)
    }
    new FioRandomWrite(ch, path)
  }

  /** Open an existing file for positioned writes without truncation
    * (executor side of the parallel single-file sinks).
    */
  def openRandomRewrite(path: String)(implicit fc: FioConf): FioRandomWrite = {
    val (_, p) = resolve(path)
    require("file" == p.toUri.getScheme,
      s"$path: positioned rewrite requires a posix filesystem (see openRandomWrite)")
    val local = java.nio.file.Paths.get(p.toUri.getPath)
    val ch = java.nio.channels.FileChannel.open(local, java.nio.file.StandardOpenOption.WRITE)
    new FioRandomWrite(ch, path)
  }

  /** Create-or-overwrite output stream. On `file://` this is a plain
    * java.io stream with a memoized parent-directory check — see
    * [[writeBytes]] for the measured rationale; `FileSystem.create`'s
    * per-file mkdirs walk and stream scaffolding cost ~45 s across the
    * ×15 sink's 192k chunk files. The memo is advisory: if a memoized
    * parent was deleted externally since the last write, the open fails,
    * the stale entry is evicted, the directory is recreated, and the
    * open retries once — matching the Hadoop path's always-mkdirs
    * behavior without its per-file cost. All other schemes take the
    * Hadoop stream.
    */
  def createStream(path: String)(implicit fc: FioConf): OutputStream = {
    val (fs, p) = resolve(path)
    if ("file" == p.toUri.getScheme) {
      val f = new java.io.File(p.toUri.getPath)
      val parent = f.getParentFile
      def ensureParent(): Unit =
        if (parent != null && !knownLocalDirs.containsKey(parent.getPath)) {
          if (!parent.isDirectory && !parent.mkdirs() && !parent.isDirectory)
            throw new java.io.IOException(s"mkdirs failed for ${parent.getPath}")
          if (knownLocalDirs.size > (1 << 20)) knownLocalDirs.clear()
          knownLocalDirs.put(parent.getPath, java.lang.Boolean.TRUE)
        }
      ensureParent()
      try new java.io.FileOutputStream(f)
      catch {
        case _: java.io.FileNotFoundException if parent != null =>
          knownLocalDirs.remove(parent.getPath)
          ensureParent()
          new java.io.FileOutputStream(f)
      }
    } else fs.create(p, true)
  }

  def readAllBytes(path: String)(implicit fc: FioConf): Array[Byte] = {
    val (fs, p) = resolve(path)
    val st = fs.getFileStatus(p)
    val len = st.getLen
    require(len <= Int.MaxValue, s"$path: ${len} B exceeds a single in-memory buffer")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  def readAllIfExists(path: String)(implicit fc: FioConf): Option[Array[Byte]] = {
    val (fs, p) = resolve(path)
    try {
      val st = fs.getFileStatus(p)
      val len = st.getLen
      require(len <= Int.MaxValue, s"$path: ${len} B exceeds a single in-memory buffer")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0L, buf) finally in.close()
      Some(buf)
    } catch { case _: FileNotFoundException => None }
  }

  def readString(path: String)(implicit fc: FioConf): String =
    new String(readAllBytes(path), StandardCharsets.UTF_8)

  def readStringIfExists(path: String)(implicit fc: FioConf): Option[String] =
    readAllIfExists(path).map(new String(_, StandardCharsets.UTF_8))

  def readLines(path: String)(implicit fc: FioConf): Seq[String] =
    readString(path).split("\n", -1).toSeq.map(_.stripSuffix("\r"))

  /** Instantiated-once cache of configured [[CasProvider]]s by class name. */
  private val casProviders =
    new java.util.concurrent.ConcurrentHashMap[String, CasProvider]()

  /** Memoized "this directory exists" set for the local whole-file write
    * fast path — store writers land hundreds of thousands of chunk files
    * into a few thousand directories, so the per-file parent check must
    * be a map hit, not a filesystem walk. Bounded: cleared if it ever
    * grows past ~1M entries (pathological many-directory workloads).
    */
  private val knownLocalDirs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Whole-file write — THE chunk-sink hot path (zarr v2/v3 chunks and
    * shards, chunk-store frames: ~192k files per TB at the bench shapes).
    * On `file://` the generic `FileSystem.create` pays a parent-mkdirs
    * walk plus stream/permission scaffolding PER FILE — measured ~45 s of
    * pure overhead on the 1.04 TB ×15 zarr sink (r16, sink stage 3.6 s →
    * 49.3 s after the Hadoop port; back to ≈0 with the fast path) — so
    * [[createStream]] routes local writes through plain java.io with a
    * memoized parent check. Every other scheme keeps the Hadoop stream
    * (object stores have no directory tree to walk; their per-object
    * latency dwarfs the wrapper cost anyway).
    */
  def writeBytes(path: String, bytes: Array[Byte])(implicit fc: FioConf): Unit = {
    val out = createStream(path)
    try out.write(bytes) finally out.close()
  }

  def writeString(path: String, s: String)(implicit fc: FioConf): Unit =
    writeBytes(path, s.getBytes(StandardCharsets.UTF_8))

  /** Drain an InputStream fully (helper for codec paths). */
  def drain(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 * 1024)
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}
