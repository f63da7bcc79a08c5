package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide counts of filesystem requests by kind. Each count is one
  * client call that an object store would bill as one request. Requests
  * are counted only while `enabled` is set (a traced phase), so the
  * untraced passes of a traced run do not pay for counting. */
object FsCounters {
  val Ops: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val counters = Ops.map(_ -> new AtomicLong).toMap
  @volatile var enabled = false

  def inc(op: String): Unit = if (enabled) counters(op).incrementAndGet()

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  /** Bytes written through any `file:` FileSystem instance, from Hadoop's
    * own per-scheme statistics. The FileContext side delegates to a
    * FileSystem, so its writes are counted here too. */
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Pass-through `file:` FileSystem that counts every client request and
  * then does exactly what LocalFileSystem does. Installed with
  * `spark.hadoop.fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters.inc

  override def listStatus(f: Path): Array[FileStatus] = { inc("list"); super.listStatus(f) }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    inc("list"); super.listStatusIterator(f)
  }

  override def getFileStatus(f: Path): FileStatus = { inc("status"); super.getFileStatus(f) }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    inc("open"); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    inc("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    inc("create")
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { inc("rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    inc("delete"); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    inc("mkdirs"); super.mkdirs(f, permission)
  }
}

/** The FileContext (`AbstractFileSystem`) side of `file:`, which streaming
  * checkpoints use: it delegates to [[CountingLocalFileSystem]], so both
  * APIs count their requests in one place. Installed with
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in traced runs only. */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new CountingLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
