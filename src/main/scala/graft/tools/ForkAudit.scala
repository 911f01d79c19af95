package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Measures which Hadoop local-FS operations fork a subprocess (Shell
  * chmod/stat/ls — the NativeIO fallback when libhadoop is absent, i.e.
  * on every stock Spark distribution). Found while isolating the r16
  * session-sensitive streaming pair: q_stream_join's 32×4 state stores
  * drove ~6,500 fork+execs per micro-batch through this path
  * (tools/StackProfile showed RawLocalFileSystem.setPermission →
  * Shell.execCommand → ProcessBuilder on the executor hot path; the
  * /proc/stat processes counter attributed ~20k forks to three runs vs
  * ~800 for a batch-query triple). Each fork of a many-GB-RSS JVM costs
  * ~0.5–2 ms and DEGRADES with host memory pressure — the mechanism
  * behind the pair's driver-session elevation.
  *
  * Prints the system-wide fork count attributable to each op class, for
  * the stock RawLocalFileSystem vs [[graft.util.NioLocalFileSystem]] and
  * its checksummed form [[graft.util.NioChecksumFileSystem]].
  */
object ForkAudit {
  private def forks(): Long =
    scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("processes")).map(_.split("\\s+")(1).toLong).getOrElse(-1)

  private def audit(label: String, fs: FileSystem, dir: java.io.File): Unit = {
    val base = new Path(dir.getAbsolutePath)
    fs.mkdirs(base)
    def op(name: String, reps: Int)(body: Int => Unit): Unit = {
      val f0 = forks()
      (0 until reps).foreach(body)
      println(f"  $label%-8s $name%-22s ${(forks() - f0)}%4d forks / $reps reps")
    }
    op("mkdirs", 10) { i => fs.mkdirs(new Path(base, s"d$i")) }
    op("create+close", 10) { i =>
      val out = fs.create(new Path(base, s"f$i"), true); out.write(42); out.close()
    }
    op("getFileStatus", 10) { i => fs.getFileStatus(new Path(base, s"f$i")) }
    op("listStatus", 10) { _ => fs.listStatus(base) }
    op("open+read", 10) { i =>
      val in = fs.open(new Path(base, s"f$i")); in.read(); in.close()
    }
    op("rename", 10) { i =>
      fs.rename(new Path(base, s"f$i"), new Path(base, s"g$i"))
    }
    op("setPermission", 10) { i =>
      fs.setPermission(new Path(base, s"g$i"), new FsPermission("644"))
    }
    op("delete", 10) { i => fs.delete(new Path(base, s"g$i"), false) }
  }

  def main(args: Array[String]): Unit = {
    val conf = new Configuration()
    val tmp = java.nio.file.Files.createTempDirectory("forkaudit").toFile

    val raw = new RawLocalFileSystem(); raw.initialize(raw.getUri, conf)
    audit("raw", raw, new java.io.File(tmp, "raw"))

    val nio = new graft.util.NioLocalFileSystem()
    nio.initialize(java.net.URI.create("nio:///"), conf)
    audit("nio", nio, new java.io.File(tmp, "nio"))

    val crc = new graft.util.NioChecksumFileSystem()
    crc.initialize(java.net.URI.create("niocrc:///"), conf)
    audit("niocrc", crc, new java.io.File(tmp, "niocrc"))
  }
}
