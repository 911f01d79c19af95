package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import java.nio.file.{Files, LinkOption, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A fork-free local file system: the same files and bytes as Hadoop's
  * `file://`, with no subprocess per metadata call.
  *
  * Stock Spark ships no libhadoop native library, so Hadoop's
  * `RawLocalFileSystem` falls back to SUBPROCESSES for metadata ops:
  * `setPermission` shells out `chmod` (Shell.execCommand), which `create`
  * and `mkdirs` both call, and `getFileStatus`/`listStatus` fork `stat`
  * per path (hadoop Stat class). `tools.ForkAudit` counts 2 forks per
  * `create`, `mkdirs` and `setPermission` through the stock class and 0
  * through this one. Forking a many-GB-RSS JVM costs ~0.5–2 ms and
  * degrades further under host memory pressure. Multiplied by streaming
  * state stores that was ~6,500 fork+execs per q_stream_join run; in the
  * daily ingest it is two per file and directory a run writes (one
  * partition directory per ship date).
  *
  * This subclass keeps RawLocalFileSystem's data paths (streams, rename,
  * delete — none of which fork) and replaces the forking metadata ops
  * with java.nio calls: `Files.setPosixFilePermissions` and
  * `Files.readAttributes(PosixFileAttributes)` — plain syscalls, zero
  * subprocesses. Its URI follows the scheme it is initialised with, so
  * one class serves two schemes:
  *
  *  - `nio://` — this class alone, no checksum files. The streaming
  *    drains' checkpoints and sinks use it (state stores and sink parquet
  *    carry their own integrity checks).
  *  - `niocrc://` — [[NioChecksumFileSystem]], Hadoop's checksumming
  *    `LocalFileSystem` over this class: every file gets the `.<name>.crc`
  *    sibling `file://` writes, and reads verify it. [[forkFree]] moves a
  *    local path onto this scheme; the daily ingest and the cleanup job do
  *    all their file I/O through it.
  *
  * Scale note: on a real cluster the data lives on HDFS/S3 where none of
  * this forking exists — this class restores local-mode fidelity to that
  * shape rather than optimizing anything a 100 TB deployment would see.
  * Registered via `fs.<scheme>.impl`; Spark's CheckpointFileManager finds
  * no AbstractFileSystem for either scheme and falls back to the
  * FileSystem-based manager over this class, which is the intended path.
  */
class NioLocalFileSystem extends RawLocalFileSystem {

  // null until initialize; RawLocalFileSystem's constructor already
  // qualifies a working directory against getUri
  private var uri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    uri = URI.create(s"${Option(name.getScheme).getOrElse(NioLocalFileSystem.SCHEME)}:///")
    super.initialize(name, conf)
    // the constructor's working directory carries the default scheme
    setWorkingDirectory(getInitialWorkingDirectory)
  }

  override def getUri: URI = if (uri == null) NioLocalFileSystem.NAME else uri

  override def getScheme: String = getUri.getScheme

  private def nioPath(p: Path) = pathToFile(p).toPath

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val perms = new java.util.HashSet[PosixFilePermission]()
    val m = permission.toShort.toInt
    import PosixFilePermission._
    if ((m & 0x100) != 0) perms.add(OWNER_READ)
    if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(GROUP_READ)
    if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    try Files.setPosixFilePermissions(nioPath(p), perms)
    catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
  }

  private def modeOf(perms: java.util.Set[PosixFilePermission]): Short = {
    import PosixFilePermission._
    var m = 0
    if (perms.contains(OWNER_READ)) m |= 0x100
    if (perms.contains(OWNER_WRITE)) m |= 0x080
    if (perms.contains(OWNER_EXECUTE)) m |= 0x040
    if (perms.contains(GROUP_READ)) m |= 0x020
    if (perms.contains(GROUP_WRITE)) m |= 0x010
    if (perms.contains(GROUP_EXECUTE)) m |= 0x008
    if (perms.contains(OTHERS_READ)) m |= 0x004
    if (perms.contains(OTHERS_WRITE)) m |= 0x002
    if (perms.contains(OTHERS_EXECUTE)) m |= 0x001
    m.toShort
  }

  /** One readAttributes syscall — replaces the inherited Stat/Shell fork. */
  private def statusOf(qualified: Path): FileStatus = {
    val attrs =
      try Files.readAttributes(nioPath(qualified), classOf[PosixFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(
          s"File $qualified does not exist")
      }
    // symlinks: resolve through to the target like the dereferencing
    // stock path does (checkpoint trees contain none; completeness only)
    val resolved =
      if (attrs.isSymbolicLink)
        try Files.readAttributes(nioPath(qualified), classOf[PosixFileAttributes])
        catch {
          case _: NoSuchFileException => throw new FileNotFoundException(
            s"File $qualified does not exist")
        }
      else attrs
    new FileStatus(resolved.size(), resolved.isDirectory, 1,
      getDefaultBlockSize(qualified), resolved.lastModifiedTime().toMillis,
      resolved.lastAccessTime().toMillis,
      new FsPermission(modeOf(resolved.permissions())),
      resolved.owner().getName, resolved.group().getName, null, qualified)
  }

  override def getFileStatus(f: Path): FileStatus =
    statusOf(f.makeQualified(getUri, getWorkingDirectory))

  override def listStatus(f: Path): Array[FileStatus] = {
    val qualified = f.makeQualified(getUri, getWorkingDirectory)
    val dir = nioPath(qualified)
    if (!Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
      throw new FileNotFoundException(s"File $f does not exist")
    if (!Files.isDirectory(dir)) Array(statusOf(qualified))
    else {
      val out = Array.newBuilder[FileStatus]
      val stream = Files.newDirectoryStream(dir)
      try {
        stream.forEach { child =>
          out += statusOf(new Path(qualified, child.getFileName.toString))
        }
      } finally stream.close()
      out.result()
    }
  }
}

/** Hadoop's checksumming `LocalFileSystem` over [[NioLocalFileSystem]],
  * registered under `niocrc://`: the files, `.crc` siblings and read-side
  * verification of `file://`, without its forks.
  */
class NioChecksumFileSystem extends LocalFileSystem(new NioLocalFileSystem) {
  override def getScheme: String = NioLocalFileSystem.CRC_SCHEME
}

object NioLocalFileSystem {
  val SCHEME = "nio"
  val NAME: URI = URI.create(s"$SCHEME:///")

  /** Hadoop-conf registration pair for SparkSession builders:
    * `.config(NioLocalFileSystem.CONF_KEY, NioLocalFileSystem.CONF_VALUE)`.
    */
  val CONF_KEY = s"spark.hadoop.fs.$SCHEME.impl"
  val CONF_VALUE: String = classOf[NioLocalFileSystem].getName

  /** Scheme of [[NioChecksumFileSystem]]. */
  val CRC_SCHEME = "niocrc"

  /** `nio://`-scheme spelling of a local filesystem path. */
  def uriOf(absolutePath: String): String = s"$SCHEME://$absolutePath"

  /** `path` on the fork-free checksummed scheme when its file system is a
    * `LocalFileSystem` (a scheme-less path under a local default FS, or a
    * `file:` path): the same absolute directory as `niocrc://`, with the
    * scheme registered in `conf` unless something already is. Any other
    * path (`hdfs://`, `s3a://`, `abfs://`, ...) comes back unchanged.
    */
  def forkFree(path: String, conf: Configuration): String = {
    val p = new Path(path)
    p.getFileSystem(conf) match {
      case local: LocalFileSystem =>
        conf.setIfUnset(s"fs.$CRC_SCHEME.impl", classOf[NioChecksumFileSystem].getName)
        s"$CRC_SCHEME://${local.makeQualified(p).toUri.getPath}"
      case _ => path
    }
  }
}
