package graft.pipeline

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext

/** The local file system under the `faulty:` scheme, which fails every
  * file operation an armed fault names: each file created, or opened,
  * under a path containing a given fragment. A test points a job's output
  * paths at `faulty://<dir>` and arms a fault to crash the job at one
  * boundary, with no hook in the job itself.
  */
final class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FaultyFs.Scheme}:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultyFs.trip("open", f)
    super.open(f, bufferSize)
  }

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    FaultyFs.trip("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object FaultyFs {
  val Scheme = "faulty"

  @volatile private var armed: Option[(String, String)] = None

  /** Register the scheme with `sc`'s Hadoop configuration. */
  def register(sc: SparkContext): Unit =
    sc.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)

  /** Fail `op` ("create" or "open") on every file under a path containing
    * `fragment` while `body` runs. */
  def during[T](op: String, fragment: String)(body: => T): T = {
    armed = Some(op -> fragment)
    try body finally armed = None
  }

  private def trip(op: String, f: Path): Unit = armed.foreach { case (o, fragment) =>
    if (o == op && f.toString.contains(fragment))
      throw new IOException(s"injected fault: $op $f")
  }
}
