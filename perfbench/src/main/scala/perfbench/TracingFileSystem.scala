package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` as the program sees it, with a span recorded for every
  * metadata call and stream open while [[TracingFileSystem.recording]] is
  * on. Installed only in traced runs (`fs.file.impl`); when not recording
  * it is a plain `LocalFileSystem`.
  */
class TracingFileSystem extends LocalFileSystem {
  import TracingFileSystem._

  private def traced[A](kind: String, p: Path)(body: => A): A =
    if (!recording) body
    else {
      val t0 = System.currentTimeMillis()
      try body
      finally calls.add(Call(kind, p.toUri.getPath, t0, System.currentTimeMillis()))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    traced("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    traced("open", f)(super.open(f, bufferSize))

  override def rename(src: Path, dst: Path): Boolean =
    traced("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    traced("delete", f)(super.delete(f, recursive))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    traced("mkdirs", f)(super.mkdirs(f, permission))

  override def getFileStatus(f: Path): FileStatus =
    traced("stat", f)(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    traced("list", f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    traced("list", f)(super.listLocatedStatus(f))

  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    traced("list", p)(super.listStatusIterator(p))
}

object TracingFileSystem {
  final case class Call(kind: String, path: String, start: Long, end: Long)

  @volatile var recording: Boolean = false
  val calls = new ConcurrentLinkedQueue[Call]()

  /** Calls recorded since the last drain, oldest first. */
  def drain(): Vector[Call] = {
    val b = Vector.newBuilder[Call]
    var c = calls.poll()
    while (c != null) { b += c; c = calls.poll() }
    b.result()
  }
}
