package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem for JVMs WITHOUT the Hadoop native library, with the
  * shell-fork hot paths replaced by `java.nio` calls.
  *
  * Why it exists (measured first, then optimized): without
  * `libhadoop.so`, [[RawLocalFileSystem]] falls back to FORKING A PROCESS
  * for file metadata — `chmod` per created file/dir (`setPermission`),
  * `readlink`/`stat`/`ls -ld` per `getFileStatus` — and the default
  * `file:` impl (`LocalFileSystem`) additionally writes `.crc` sidecars
  * per file. Stack-sampling the streaming suite showed ~75% of stateful
  * rows' executor time inside these forks: a state-store commit is a
  * handful of small files per partition per batch, each paying
  * ~1-10 ms of fork+exec. The fixes a production image applies —
  * install the native library, or point checkpoints at HDFS/S3 — are
  * unavailable in an offline sandbox; this class is their local
  * equivalent, built only on public Hadoop/JDK API.
  *
  * Semantics: identical file bytes, identical visibility of
  * files/dirs/symlinks, identical FileNotFound contracts. Differences:
  * permissions are set via `Files.setPosixFilePermissions` (no
  * sticky-bit support — Hadoop's shell chmod path has the same POSIX
  * bits), owner/group come from NIO attributes, and no `.crc` checksum
  * sidecars are written or verified (the `file:` scheme here carries
  * scratch/checkpoint/fixture data whose integrity is governed by the
  * oracle gate, not by per-file checksums; durable deployments put
  * checkpoints on a durable scheme, which this class does not touch).
  *
  * Wire-up (session conf, applied by Bench/Verify/tools):
  * {{{
  *   spark.hadoop.fs.file.impl                    graft.io.NioLocalFileSystem
  *   spark.hadoop.fs.AbstractFileSystem.file.impl graft.io.NioLocalFs
  * }}}
  * (the second covers the FileContext path Spark's checkpoint managers
  * prefer when available).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  private def posixToShort(perms: java.util.Set[PosixFilePermission]): Short = {
    import PosixFilePermission._
    var b = 0
    if (perms.contains(OWNER_READ)) b |= 0x100
    if (perms.contains(OWNER_WRITE)) b |= 0x80
    if (perms.contains(OWNER_EXECUTE)) b |= 0x40
    if (perms.contains(GROUP_READ)) b |= 0x20
    if (perms.contains(GROUP_WRITE)) b |= 0x10
    if (perms.contains(GROUP_EXECUTE)) b |= 0x8
    if (perms.contains(OTHERS_READ)) b |= 0x4
    if (perms.contains(OTHERS_WRITE)) b |= 0x2
    if (perms.contains(OTHERS_EXECUTE)) b |= 0x1
    b.toShort
  }

  private def shortToPosix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val s = new java.util.HashSet[PosixFilePermission]()
    val b = p.toShort
    if ((b & 0x100) != 0) s.add(OWNER_READ)
    if ((b & 0x80) != 0) s.add(OWNER_WRITE)
    if ((b & 0x40) != 0) s.add(OWNER_EXECUTE)
    if ((b & 0x20) != 0) s.add(GROUP_READ)
    if ((b & 0x10) != 0) s.add(GROUP_WRITE)
    if ((b & 0x8) != 0) s.add(GROUP_EXECUTE)
    if ((b & 0x4) != 0) s.add(OTHERS_READ)
    if ((b & 0x2) != 0) s.add(OTHERS_WRITE)
    if ((b & 0x1) != 0) s.add(OTHERS_EXECUTE)
    s
  }

  private def nioStatus(f: Path, follow: Boolean): FileStatus = {
    val p = pathToFile(f).toPath
    val attrs =
      try {
        if (follow) Files.readAttributes(p, classOf[PosixFileAttributes])
        else Files.readAttributes(p, classOf[PosixFileAttributes],
          LinkOption.NOFOLLOW_LINKS)
      } catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    val perm = FsPermission.createImmutable(posixToShort(attrs.permissions))
    val symlink =
      if (!follow && attrs.isSymbolicLink)
        new Path(Files.readSymbolicLink(p).toString)
      else null
    new FileStatus(attrs.size, attrs.isDirectory, 1, getDefaultBlockSize(f),
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis, perm,
      attrs.owner.getName, attrs.group.getName, symlink, makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus = nioStatus(f, follow = true)

  override def getFileLinkStatus(f: Path): FileStatus =
    nioStatus(f, follow = false)

  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = pathToFile(f).toPath
    if (!Files.exists(dir))
      throw new FileNotFoundException(s"File $f does not exist")
    if (!Files.isDirectory(dir)) return Array(getFileStatus(f))
    val out = Array.newBuilder[FileStatus]
    val ds = Files.newDirectoryStream(dir)
    try {
      ds.forEach { child =>
        // entries can vanish between list and stat (concurrent cleaners);
        // skip them, matching RawLocalFileSystem's behavior
        try out += nioStatus(new Path(makeQualified(f),
          child.getFileName.toString), follow = true)
        catch { case _: FileNotFoundException => () }
      }
    } finally ds.close()
    out.result()
  }

  override def setPermission(f: Path, permission: FsPermission): Unit = {
    val p = pathToFile(f).toPath
    try Files.setPosixFilePermissions(p, shortToPosix(permission))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
  }
}

/** The `fs.file.impl` binding: code across Hadoop/Spark calls
  * `FileSystem.getLocal(conf)` and CASTS the `file:` filesystem to
  * [[LocalFileSystem]] (e.g. RocksDB's state checkpoint upload), so the
  * registered class must BE one. This wraps [[NioRawLocalFileSystem]] in
  * the standard checksum decorator with BOTH checksum directions disabled
  * — no `.crc` sidecar writes, no read verification — which leaves every
  * call a plain delegate to the fork-free raw implementation.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** FileContext (`AbstractFileSystem`) binding of [[NioRawLocalFileSystem]]
  * — Hadoop instantiates this reflectively from
  * `fs.AbstractFileSystem.file.impl` with a (URI, Configuration)
  * constructor. Delegates to the raw (checksum-free) implementation: the
  * FileContext consumers here are Spark's checkpoint managers, which
  * never expect `.crc` sidecars.
  */
class NioLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false)
