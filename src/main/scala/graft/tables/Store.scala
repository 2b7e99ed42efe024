package graft.tables

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Storage-seam path: an immutable, scheme-aware path string.
  *
  * The commit-log table format keeps ALL metadata (manifests, change
  * files, deletion vectors, the mirrored `_delta_log`) as small files
  * next to the data. Until round 15 that IO was `java.nio.file` —
  * correct on POSIX, undeployable on `hdfs://`/`s3a://`/`abfss://`,
  * where a 100 TB lake actually lives (the reference's Bronze tables
  * are S3 locations — `ingest_fmp_prices.py:337-383`,
  * `docs/databricks_setup.md:75-100`). [[GPath]] + [[Store]] are the
  * seam: a path is just a string, and every IO call dispatches on its
  * scheme — bare paths keep the exact `java.nio` fast path
  * ([[LocalStore]], byte-identical behavior and syscalls to the old
  * code), any URI scheme routes through the Hadoop `FileSystem` API
  * ([[HadoopStore]]), which is how Spark itself reaches every cluster
  * filesystem. `file:` URIs deliberately take the Hadoop path so the
  * bundled `LocalFileSystem` serves as the in-sandbox test double for
  * an HDFS-style store.
  *
  * A GPath never touches the filesystem: it is string algebra only
  * (join / parent / name / relativize), so it is cheap, serializable,
  * and safe to embed in Spark closures.
  */
final class GPath private (val raw: String)
    extends Serializable with Ordered[GPath] {

  /** URI scheme of this path, empty for a bare local path. */
  def scheme: String = GPath.schemeOf(raw)

  def resolve(child: String): GPath = {
    require(child.nonEmpty && !child.startsWith("/"),
      s"resolve expects a relative child, got '$child'")
    new GPath(if (raw.endsWith("/")) raw + child else raw + "/" + child)
  }

  /** Last path segment (the file or directory name). */
  def fileName: String = {
    val r = if (raw.endsWith("/")) raw.dropRight(1) else raw
    r.substring(r.lastIndexOf('/') + 1)
  }

  /** nio-shaped alias so `p.getFileName.toString` reads unchanged. */
  def getFileName: GPath = new GPath(fileName)

  def getParent: GPath = {
    val r = if (raw.endsWith("/")) raw.dropRight(1) else raw
    val i = r.lastIndexOf('/')
    require(i > 0, s"no parent for '$raw'")
    new GPath(r.substring(0, i))
  }

  /** Relative path of `p` under this path (both from the same string
    * algebra — our own list/walk results, never user input).
    */
  def relativize(p: GPath): String = {
    val base = if (raw.endsWith("/")) raw else raw + "/"
    require(p.raw.startsWith(base),
      s"'${p.raw}' is not under '$raw'")
    p.raw.substring(base.length)
  }

  def startsWith(other: GPath): Boolean =
    raw == other.raw || raw.startsWith(
      if (other.raw.endsWith("/")) other.raw else other.raw + "/")

  /** Local bare paths resolve against the process CWD and normalize;
    * scheme-ful URIs are already absolute.
    */
  def toAbsoluteNormalized: GPath =
    if (scheme.isEmpty)
      new GPath(Paths.get(raw).toAbsolutePath.normalize.toString)
    else this

  /** Hadoop-API form — also valid for bare local paths (default FS). */
  def toHadoop: HPath = new HPath(raw)

  override def toString: String = raw
  override def equals(o: Any): Boolean = o match {
    case g: GPath => g.raw == raw
    case _ => false
  }
  override def hashCode: Int = raw.hashCode
  override def compare(that: GPath): Int = raw.compareTo(that.raw)
}

object GPath {

  /** Join parts with '/'; normalizes doubled separators in the
    * non-scheme tail so string-equality on paths is reliable.
    */
  def apply(parts: String*): GPath = {
    require(parts.nonEmpty && parts.head.nonEmpty, "empty path")
    val joined = parts.mkString("/")
    new GPath(normalize(joined))
  }

  private[tables] def normalize(s: String): String = {
    val sch = schemeOf(s)
    if (sch.isEmpty) collapse(s)
    else {
      // keep "scheme://authority" intact, collapse only the path tail
      val afterScheme = s.substring(sch.length + 1)
      val (prefix, tail) =
        if (afterScheme.startsWith("//")) {
          val slash = afterScheme.indexOf('/', 2)
          if (slash < 0) (s, "") else
            (s.substring(0, sch.length + 1 + slash), afterScheme.substring(slash))
        } else (sch + ":", afterScheme)
      prefix + collapse(tail)
    }
  }

  private def collapse(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '/' || b.length() == 0 || b.charAt(b.length() - 1) != '/')
        b.append(c)
      i += 1
    }
    val out = b.toString
    if (out.length > 1 && out.endsWith("/")) out.dropRight(1) else out
  }

  /** Scheme of a path string, "" when it is a bare filesystem path. A
    * scheme must be at least two chars (rules out Windows drives) and
    * be followed by '/'.
    */
  def schemeOf(s: String): String = {
    var i = 0
    while (i < s.length && (s.charAt(i).isLetterOrDigit ||
        s.charAt(i) == '+' || s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
    if (i >= 2 && i < s.length - 1 && s.charAt(i) == ':' &&
        s.charAt(i + 1) == '/' && s.charAt(0).isLetter)
      s.substring(0, i)
    else ""
  }

  /** Is `s` absolute in either sense — a rooted local path or a URI? */
  def isAbsolute(s: String): Boolean =
    s.startsWith("/") || schemeOf(s).nonEmpty
}

/** One recursive-sweep result row: a file or directory under the
  * swept root, with the modification time the sweep observed
  * (0 when the binding inferred the directory rather than listing it).
  */
final case class WalkEntry(path: GPath, isDir: Boolean, mtimeMillis: Long)

/** One storage binding: the closed set of filesystem operations the
  * commit-log metadata plane needs. Implementations must make
  * [[Store.claim]] an atomic create-if-absent — the single primitive
  * the optimistic commit protocol rests on — or throw a descriptive
  * error so the caller can select the [[LeaseCoordinator]] instead.
  */
sealed trait Store {
  def exists(p: GPath): Boolean
  def isDirectory(p: GPath): Boolean
  def isRegularFile(p: GPath): Boolean
  def size(p: GPath): Long
  def lastModifiedMillis(p: GPath): Long
  def readAllBytes(p: GPath): Array[Byte]
  /** Ranged read of `len` bytes at `at` (deletion-vector framing). */
  def readRange(p: GPath, at: Long, len: Int): Array[Byte]
  def write(p: GPath, bytes: Array[Byte], sync: Boolean): Unit
  def createDirectories(p: GPath): Unit
  /** Immediate children (files and dirs), unordered. */
  def list(p: GPath): Seq[GPath]
  /** All regular files under `p`, recursively, unordered. */
  def walkFiles(p: GPath): Seq[GPath]
  /** One status entry per path under `p` (`p` itself EXCLUDED),
    * unordered, batched where the store allows it: on the Hadoop
    * binding this is ONE `listFiles(recursive)` sweep (a NameNode
    * iterator / flat object-store LIST) with directories INFERRED from
    * the file paths, plus one probe per file-less subtree hanging off
    * `p` — never a per-directory `listStatus` recursion (O(dirs) RPCs
    * on an object store). Two documented fidelity bounds of that
    * shape, both fine for the vacuum/sweep callers: directory
    * `mtimeMillis` may be 0 (inferred dirs), and an EMPTY directory
    * nested under a directory that holds files elsewhere in its
    * subtree may be omitted (invisible to a file sweep; such dirs are
    * crashed-writer debris a later sweep retries). The nio binding has
    * full fidelity. Returns empty for a file or missing `p`.
    */
  def walkStatuses(p: GPath): Seq[WalkEntry]
  def deleteIfExists(p: GPath): Boolean
  def deleteRecursively(p: GPath): Unit
  /** Move, replacing any existing destination (atomic where the store
    * offers it; the call sites that use this tolerate a non-atomic
    * replace — hint files, lease puts).
    */
  def moveReplace(src: GPath, dst: GPath): Unit
  /** [[moveReplace]] for DETERMINISTIC-content targets (DV files, the
    * mirror's seed emissions): when the destination already holds
    * exactly `src`'s bytes — a racer's identical publish — succeed
    * WITHOUT deleting it, so concurrent readers never observe the
    * target absent. Falls back to a plain replace when bytes differ.
    *
    * CONTRACT: callers must publish deterministic content (identical
    * bytes for identical src basename + dst). When `src` is already
    * gone and `dst` exists, the implementation declares success with NO
    * content check — sound only under that precondition; routing
    * non-deterministic output here can silently keep a racer's stale
    * destination.
    */
  def moveReplaceIdempotent(src: GPath, dst: GPath): Unit
  /** Move that fails with [[FileAlreadyExistsException]] when the
    * destination exists.
    */
  def moveNoReplace(src: GPath, dst: GPath): Unit
  def copyReplace(src: GPath, dst: GPath): Unit
  /** Atomic create-if-absent of `target` with `payload` fully durable
    * before it becomes visible. Returns true iff this caller won; for
    * any target at most one claimant across all processes sees true.
    */
  def claim(target: GPath, payload: Array[Byte]): Boolean
}

/** `java.nio` binding for bare local paths — the exact pre-seam
  * behavior: hard-link publish (atomic create-if-absent on POSIX),
  * fsync'd manifests, ATOMIC_MOVE renames.
  */
object LocalStore extends Store {
  private def nio(p: GPath) = Paths.get(p.raw)

  override def exists(p: GPath): Boolean = Files.exists(nio(p))
  override def isDirectory(p: GPath): Boolean = Files.isDirectory(nio(p))
  override def isRegularFile(p: GPath): Boolean = Files.isRegularFile(nio(p))
  override def size(p: GPath): Long = Files.size(nio(p))
  override def lastModifiedMillis(p: GPath): Long =
    Files.getLastModifiedTime(nio(p)).toMillis
  override def readAllBytes(p: GPath): Array[Byte] =
    Files.readAllBytes(nio(p))

  override def readRange(p: GPath, at: Long, len: Int): Array[Byte] = {
    val ch = Files.newByteChannel(nio(p))
    try {
      val buf = ByteBuffer.allocate(len)
      ch.position(at)
      while (buf.hasRemaining && ch.read(buf) >= 0) {}
      require(!buf.hasRemaining, s"$p truncated: wanted $len bytes at $at")
      buf.array()
    } finally ch.close()
  }

  override def write(p: GPath, bytes: Array[Byte], sync: Boolean): Unit =
    if (sync)
      Files.write(nio(p), bytes, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.SYNC)
    else Files.write(nio(p), bytes)

  override def createDirectories(p: GPath): Unit =
    Files.createDirectories(nio(p))

  override def list(p: GPath): Seq[GPath] = {
    val s = Files.list(nio(p))
    try s.iterator().asScala.map(c => GPath(c.toString)).toVector
    finally s.close()
  }

  override def walkFiles(p: GPath): Seq[GPath] = {
    val s = Files.walk(nio(p))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(c => GPath(c.toString)).toVector
    finally s.close()
  }

  override def walkStatuses(p: GPath): Seq[WalkEntry] = {
    val root = nio(p)
    if (!Files.isDirectory(root)) return Seq.empty
    // one walkFileTree pass: attributes arrive WITH each visit, no
    // second stat per path; full fidelity (empty dirs included)
    val b = Vector.newBuilder[WalkEntry]
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[
        java.nio.file.Path] {
      override def preVisitDirectory(d: java.nio.file.Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (d != root)
          b += WalkEntry(GPath(d.toString), isDir = true,
            attrs.lastModifiedTime.toMillis)
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFile(f: java.nio.file.Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (attrs.isRegularFile)
          b += WalkEntry(GPath(f.toString), isDir = false,
            attrs.lastModifiedTime.toMillis)
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: java.nio.file.Path,
          e: IOException): java.nio.file.FileVisitResult =
        // a racer deleted it mid-walk — skip, as Files.walk would throw
        // where this sweep can simply not report the vanished path
        java.nio.file.FileVisitResult.CONTINUE
      override def postVisitDirectory(d: java.nio.file.Path,
          e: IOException): java.nio.file.FileVisitResult =
        // same tolerance for a directory vanishing mid-iteration — the
        // default rethrows, which would crash a concurrent vacuum
        java.nio.file.FileVisitResult.CONTINUE
    })
    b.result()
  }

  override def deleteIfExists(p: GPath): Boolean =
    Files.deleteIfExists(nio(p))

  override def deleteRecursively(p: GPath): Unit =
    if (Files.exists(nio(p))) {
      val s = Files.walk(nio(p))
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  override def moveReplace(src: GPath, dst: GPath): Unit =
    try Files.move(nio(src), nio(dst), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(nio(src), nio(dst), StandardCopyOption.REPLACE_EXISTING)
    }

  // ATOMIC_MOVE replaces with no absence window — the idempotent
  // contract holds without a byte compare
  override def moveReplaceIdempotent(src: GPath, dst: GPath): Unit =
    moveReplace(src, dst)

  override def moveNoReplace(src: GPath, dst: GPath): Unit =
    Files.move(nio(src), nio(dst))

  override def copyReplace(src: GPath, dst: GPath): Unit =
    Files.copy(nio(src), nio(dst), StandardCopyOption.REPLACE_EXISTING)

  override def claim(target: GPath, payload: Array[Byte]): Boolean = {
    val dir = nio(target.getParent)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    // SYNC: the bytes must be durable BEFORE the link makes the name
    // visible — otherwise power loss after the link leaves a torn
    // manifest that bricks every subsequent read
    Files.write(tmp, payload, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.SYNC)
    val won =
      try { Files.createLink(nio(target), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
      finally Files.deleteIfExists(tmp)
    // best-effort directory-entry durability for the link itself
    if (won) {
      try {
        val ch = java.nio.channels.FileChannel.open(dir,
          StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } catch { case _: Exception => () }
    }
    won
  }
}

/** Hadoop `FileSystem` binding for scheme-ful roots. One class serves
  * every cluster filesystem Spark can reach — `hdfs://`, `file:`,
  * `s3a://`, `abfss://`, `gs://` — because `Path.getFileSystem`
  * resolves the scheme against the session's Hadoop configuration
  * (and `FileSystem` caches instances per scheme+authority).
  *
  * [[claim]] follows the published Delta `HDFSLogStore` design: write
  * a temp file fully, `hsync` it, then `FileContext.rename(…,
  * Options.Rename.NONE)` — atomic on HDFS (a NameNode metadata op that
  * fails if the destination exists). `file:` URIs do NOT take that
  * path: the local FileContext's rename(NONE) is exists-checked, not
  * atomic (a forced race double-wins it), and a `file:` URI is local
  * by definition — so local URIs claim through [[LocalStore]]'s POSIX
  * hard link instead, atomic across threads AND processes. Schemes
  * whose rename is a non-atomic copy (S3 and friends) REFUSE the
  * claim with a pointer to `spark.graft.commit.coordinator=lease`,
  * exactly the split Delta makes between `HDFSLogStore` and its S3
  * commit coordinators.
  */
object HadoopStore extends Store {

  /** Rename on these schemes is server-side copy + delete — never an
    * atomic create-if-absent. `wasb`/`wasbs` (classic Azure blob) and
    * `swift` belong here too: their rename is client-driven copy.
    * `abfs`/`abfss` is exempt ONLY because ADLS Gen2 with a
    * HIERARCHICAL namespace renames atomically at the service; on a
    * flat-namespace account the driver falls back to copy — deploy
    * rename-claimed tables on HNS-enabled accounts only, or set
    * `spark.graft.commit.coordinator=lease` (as for S3).
    */
  private val NonAtomicRename =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs", "swift")

  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      // executor side (no session): the executor's own Hadoop conf,
      // which carries the cluster's fs.* settings — a blank
      // Configuration would lose s3a/abfss credentials there
      .orElse(org.apache.spark.sql.graftbridge.executorHadoopConf)
      .getOrElse(new Configuration())

  private def fs(p: GPath): FileSystem = p.toHadoop.getFileSystem(conf)

  override def exists(p: GPath): Boolean = fs(p).exists(p.toHadoop)
  override def isDirectory(p: GPath): Boolean =
    try fs(p).getFileStatus(p.toHadoop).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  override def isRegularFile(p: GPath): Boolean =
    try fs(p).getFileStatus(p.toHadoop).isFile
    catch { case _: java.io.FileNotFoundException => false }
  override def size(p: GPath): Long = fs(p).getFileStatus(p.toHadoop).getLen
  override def lastModifiedMillis(p: GPath): Long =
    fs(p).getFileStatus(p.toHadoop).getModificationTime

  override def readAllBytes(p: GPath): Array[Byte] = {
    val f = fs(p)
    val len = f.getFileStatus(p.toHadoop).getLen
    require(len <= Int.MaxValue, s"$p too large to read fully ($len bytes)")
    val in = f.open(p.toHadoop)
    try {
      val out = new Array[Byte](len.toInt)
      in.readFully(0L, out)
      out
    } finally in.close()
  }

  override def readRange(p: GPath, at: Long, len: Int): Array[Byte] = {
    val in = fs(p).open(p.toHadoop)
    try {
      val out = new Array[Byte](len)
      in.readFully(at, out)
      out
    } finally in.close()
  }

  override def write(p: GPath, bytes: Array[Byte], sync: Boolean): Unit = {
    val out = fs(p).create(p.toHadoop, true)
    try {
      out.write(bytes)
      if (sync) {
        // LocalFileSystem's checksummed stream may not support hsync;
        // durability there is best-effort, as it is for nio SYNC on tmpfs
        try out.hsync()
        catch { case _: UnsupportedOperationException => out.hflush() }
      }
    } finally out.close()
  }

  override def createDirectories(p: GPath): Unit = {
    if (!fs(p).mkdirs(p.toHadoop))
      if (!isDirectory(p))
        throw new IOException(s"mkdirs failed for $p")
  }

  /** Children as `p.resolve(name)` — NOT the FileSystem's own qualified
    * URIs, whose rendering (`file:/` vs `file:///`) need not match the
    * caller's root string; deriving every result from the queried path
    * keeps relativize/startsWith string algebra exact.
    */
  override def list(p: GPath): Seq[GPath] =
    fs(p).listStatus(p.toHadoop).toSeq
      .map(st => p.resolve(st.getPath.getName))

  /** `listFiles(recursive)` is the server-batched sweep on real remote
    * filesystems (one NameNode iterator on HDFS, a flat prefix LIST on
    * object stores) — but on the bundled LOCAL filesystem every
    * `LocatedFileStatus` eagerly loads permissions by exec'ing `ls`
    * PER FILE (~8 ms each; a 6 400-file sweep measured 54 s), while
    * plain `listStatus` keeps permissions lazy and costs ~0.2 ms per
    * directory. `file:` URIs therefore walk by per-directory
    * `listStatus` — the local double's fast path, which also has full
    * empty-directory fidelity — and every genuinely remote scheme
    * takes the one batched call.
    */
  private def batchedListing(p: GPath): Boolean = p.scheme != "file"

  /** Recursive file listing: ONE `listFiles(recursive)` sweep on
    * remote schemes (see [[batchedListing]]), per-directory
    * `listStatus` on `file:`. No directory inference, no file-less
    * probe — files only, the minimum round-trips. Results re-anchor
    * under the caller's path form by the URI *path-component* suffix
    * (components are rendering-stable even when the FileSystem
    * qualifies URIs differently than the caller wrote them). A path
    * vanishing mid-iteration (concurrent vacuum/cleanup) yields the
    * entries listed so far rather than crashing the caller.
    */
  override def walkFiles(p: GPath): Seq[GPath] = {
    val f = fs(p)
    try {
      if (f.getFileStatus(p.toHadoop).isFile) return Seq(p)
    } catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val b = Vector.newBuilder[GPath]
    if (!batchedListing(p)) {
      def go(cur: GPath): Unit =
        (try f.listStatus(cur.toHadoop).toSeq
         catch { case _: java.io.FileNotFoundException => Seq.empty })
          .foreach { st =>
            val child = cur.resolve(st.getPath.getName)
            if (st.isDirectory) go(child) else b += child
          }
      go(p)
      return b.result()
    }
    val rootPath = f.makeQualified(p.toHadoop).toUri.getPath
    val prefix = if (rootPath.endsWith("/")) rootPath else rootPath + "/"
    try {
      val it = f.listFiles(p.toHadoop, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val fp = st.getPath.toUri.getPath
          require(fp.startsWith(prefix),
            s"walk result '$fp' escapes root '$prefix'")
          b += p.resolve(fp.substring(prefix.length))
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    b.result()
  }

  /** Batched recursive status sweep. Remote schemes: ONE
    * `listFiles(recursive)` round-trip with directories INFERRED from
    * the returned file paths (mtime 0, unknowable without a listing),
    * plus one `listStatus` per FILE-LESS subtree hanging off `p` so a
    * crashed writer's bare `mkdirs` debris is still discovered (the
    * root probe always issues one `listStatus`; beyond that the probe
    * costs nothing when every subtree holds files — the
    * normal case); an empty dir nested under a dir with files
    * elsewhere stays invisible, as the trait contract documents.
    * `file:` URIs: per-directory `listStatus` recursion (see
    * [[batchedListing]] — the batched call is pathological on the
    * local filesystem), statuses collected in the same pass, full
    * fidelity.
    */
  override def walkStatuses(p: GPath): Seq[WalkEntry] = {
    val f = fs(p)
    try {
      if (f.getFileStatus(p.toHadoop).isFile) return Seq.empty
    } catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val out = Vector.newBuilder[WalkEntry]
    if (!batchedListing(p)) {
      def go(cur: GPath): Unit =
        (try f.listStatus(cur.toHadoop).toSeq
         catch { case _: java.io.FileNotFoundException => Seq.empty })
          .foreach { st =>
            val child = cur.resolve(st.getPath.getName)
            out += WalkEntry(child, st.isDirectory, st.getModificationTime)
            if (st.isDirectory) go(child)
          }
      go(p)
      return out.result()
    }
    val rootPath = f.makeQualified(p.toHadoop).toUri.getPath
    val prefix = if (rootPath.endsWith("/")) rootPath else rootPath + "/"
    val dirRels = scala.collection.mutable.LinkedHashSet[String]()
    // a directory vanishing mid-iteration (concurrent vacuum/cleanup)
    // yields the entries seen so far, as the old guarded walk did
    try {
      val it = f.listFiles(p.toHadoop, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val fp = st.getPath.toUri.getPath
          require(fp.startsWith(prefix),
            s"walk result '$fp' escapes root '$prefix'")
          val rel = fp.substring(prefix.length)
          out += WalkEntry(p.resolve(rel), isDir = false,
            st.getModificationTime)
          var cut = rel.lastIndexOf('/')
          while (cut > 0 && dirRels.add(rel.substring(0, cut)))
            cut = rel.lastIndexOf('/', cut - 1)
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    // file-less subtrees: recurse ONLY into child dirs the file sweep
    // never touched — each listing visits a dir that provably holds no
    // files, so the probe's cost IS the debris being discovered
    def probe(cur: GPath, curRel: String): Unit =
      (try f.listStatus(cur.toHadoop).toSeq
       catch { case _: java.io.FileNotFoundException => Seq.empty })
        .foreach { st =>
          if (st.isDirectory) {
            val name = st.getPath.getName
            val rel = if (curRel.isEmpty) name else s"$curRel/$name"
            if (dirRels.add(rel)) probe(cur.resolve(name), rel)
          }
        }
    probe(p, "")
    out.result() ++
      dirRels.toVector.map(r => WalkEntry(p.resolve(r), isDir = true, 0L))
  }

  override def deleteIfExists(p: GPath): Boolean =
    try fs(p).delete(p.toHadoop, false)
    catch { case _: java.io.FileNotFoundException => false }

  override def deleteRecursively(p: GPath): Unit = {
    fs(p).delete(p.toHadoop, true); ()
  }

  override def moveReplace(src: GPath, dst: GPath): Unit = {
    val f = fs(dst)
    if (!f.rename(src.toHadoop, dst.toHadoop)) {
      f.delete(dst.toHadoop, false)
      if (!f.rename(src.toHadoop, dst.toHadoop))
        throw new IOException(s"rename $src -> $dst failed")
    }
  }

  override def moveReplaceIdempotent(src: GPath, dst: GPath): Unit = {
    val f = fs(dst)
    if (f.rename(src.toHadoop, dst.toHadoop)) return
    // the replace fallback is delete-then-rename, which opens a window
    // where the destination is absent. Idempotent targets replace with
    // IDENTICAL bytes (a racer's deterministic publish) — detect that
    // and succeed without ever deleting the destination, so concurrent
    // readers never see it vanish. Every probe is race-guarded: a file
    // vanishing mid-compare just falls through to the plain replace.
    val same =
      try {
        val dstSt = f.getFileStatus(dst.toHadoop)
        dstSt.isFile && dstSt.getLen <= (64L << 20) &&
          dstSt.getLen == f.getFileStatus(src.toHadoop).getLen &&
          java.util.Arrays.equals(readAllBytes(dst), readAllBytes(src))
      } catch {
        case _: java.io.FileNotFoundException =>
          // src gone + dst present = a racer already completed this
          // identical publish and cleanup removed our src — success;
          // falling through to moveReplace would DELETE dst and then
          // throw on the rename, recreating the reader-visible absence
          // window this method exists to prevent.
          // PRECONDITION (the method's contract, see the Store trait):
          // every caller publishes DETERMINISTIC content — identical
          // bytes for identical (src basename, dst). This early return
          // cannot compare contents (src is gone), so a caller routing
          // non-deterministic output here would silently "succeed" with
          // a racer's different bytes at dst.
          if (!f.exists(src.toHadoop) && f.exists(dst.toHadoop)) return
          false
      }
    if (same) { f.delete(src.toHadoop, false); return }
    moveReplace(src, dst)
  }

  override def moveNoReplace(src: GPath, dst: GPath): Unit = {
    val f = fs(dst)
    if (f.exists(dst.toHadoop))
      throw new FileAlreadyExistsException(dst.raw)
    if (!f.rename(src.toHadoop, dst.toHadoop)) {
      if (f.exists(dst.toHadoop))
        throw new FileAlreadyExistsException(dst.raw)
      if (!f.exists(src.toHadoop))
        throw new java.nio.file.NoSuchFileException(src.raw)
      throw new IOException(s"rename $src -> $dst failed")
    }
  }

  override def copyReplace(src: GPath, dst: GPath): Unit =
    write(dst, readAllBytes(src), sync = false)

  override def claim(target: GPath, payload: Array[Byte]): Boolean = {
    val scheme = target.scheme
    if (NonAtomicRename.contains(scheme))
      throw new IllegalStateException(
        s"atomic-create commits are unsupported on '$scheme://' (rename is " +
          "a non-atomic copy there); set " +
          "spark.graft.commit.coordinator=lease for this table's session")
    // `file:` URIs are local by definition, and the local FileContext's
    // rename(NONE) is exists-CHECKED, not atomic (a forced 8-way race
    // double-wins it) — so local URIs claim through the POSIX hard-link
    // primitive, which IS atomic across threads and processes. The
    // rename-based claim below is reserved for the filesystems whose
    // rename really is atomic (HDFS at the NameNode, ADLS gen2).
    if (scheme == "file") {
      val localPath = target.toHadoop.toUri.getPath
      return LocalStore.claim(GPath(localPath), payload)
    }
    val tmp = target.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    // the whole claim rides ONE FileContext (write, durability, rename):
    // mixing the checksummed FileSystem write with a raw FileContext
    // rename would strand `.crc` sidecars on `file:` and split the two
    // halves across APIs with different semantics
    val fc = FileContext.getFileContext(target.toHadoop.toUri, conf)
    val out = fc.create(tmp.toHadoop,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try {
      out.write(payload)
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
    try {
      try {
        fc.rename(tmp.toHadoop, target.toHadoop, Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: FileAlreadyExistsException => false
        case _: IOException if exists(target) =>
          // HDFS signals an existing destination as a plain
          // IOException from some code paths; the claim definitively
          // lost because the destination is materialized
          false
      }
    } finally {
      try fc.delete(tmp.toHadoop, false)
      catch { case _: IOException => () }
    }
  }
}

object Store {
  /** Scheme-dispatched binding: bare paths keep the nio fast path,
    * any URI (including `file:`) goes through Hadoop.
    */
  def of(p: GPath): Store =
    if (p.scheme.isEmpty) LocalStore else HadoopStore
}

/** Drop-in façade with `java.nio.file.Files`-shaped names, dispatching
  * each call on the path's scheme. The table format's metadata plane
  * calls ONLY this (and [[GPath]]) for file IO.
  */
object GFiles {
  def exists(p: GPath): Boolean = Store.of(p).exists(p)
  def isDirectory(p: GPath): Boolean = Store.of(p).isDirectory(p)
  def isRegularFile(p: GPath): Boolean = Store.of(p).isRegularFile(p)
  def size(p: GPath): Long = Store.of(p).size(p)
  /** [[size]], or None when `p` does not exist — one status call. */
  def sizeIfExists(p: GPath): Option[Long] =
    try Some(size(p)) catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => None
    }
  def lastModifiedMillis(p: GPath): Long = Store.of(p).lastModifiedMillis(p)
  def readAllBytes(p: GPath): Array[Byte] = Store.of(p).readAllBytes(p)
  def readString(p: GPath): String = new String(readAllBytes(p), UTF_8)
  def readRange(p: GPath, at: Long, len: Int): Array[Byte] =
    Store.of(p).readRange(p, at, len)
  def write(p: GPath, bytes: Array[Byte]): Unit =
    Store.of(p).write(p, bytes, sync = false)
  def writeSync(p: GPath, bytes: Array[Byte]): Unit =
    Store.of(p).write(p, bytes, sync = true)
  def writeString(p: GPath, s: String): Unit = write(p, s.getBytes(UTF_8))
  def createDirectories(p: GPath): Unit = Store.of(p).createDirectories(p)
  def list(p: GPath): Seq[GPath] = Store.of(p).list(p)
  def walkFiles(p: GPath): Seq[GPath] = Store.of(p).walkFiles(p)
  def walkStatuses(p: GPath): Seq[WalkEntry] = Store.of(p).walkStatuses(p)
  def deleteIfExists(p: GPath): Boolean = Store.of(p).deleteIfExists(p)
  def deleteRecursively(p: GPath): Unit = Store.of(p).deleteRecursively(p)
  def moveReplace(src: GPath, dst: GPath): Unit =
    Store.of(dst).moveReplace(src, dst)
  def moveReplaceIdempotent(src: GPath, dst: GPath): Unit =
    Store.of(dst).moveReplaceIdempotent(src, dst)
  def moveNoReplace(src: GPath, dst: GPath): Unit =
    Store.of(dst).moveNoReplace(src, dst)
  def copyReplace(src: GPath, dst: GPath): Unit =
    Store.of(dst).copyReplace(src, dst)
  def claim(target: GPath, payload: Array[Byte]): Boolean =
    Store.of(target).claim(target, payload)
}
