package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` as the program sees it through Hadoop, with every metadata
  * and stream-opening call counted. Installed as `fs.file.impl` in the
  * traced session only; it delegates to the stock `LocalFileSystem`, so
  * the program's behaviour is unchanged.
  *
  * Not counted: anything that bypasses Hadoop `FileSystem` — CommitLog's
  * `java.nio.file.Files.createLink` publish, `Sources.deleteRecursively`'s
  * `java.nio` walk and deletes, and Structured Streaming's checkpoint
  * files, which go through Hadoop `FileContext` (`LocalFs`). */
class CountingFileSystem extends FilterFileSystem(new LocalFileSystem()) {
  import CountingFileSystem._

  override def getScheme: String = "file"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump(Open); noteRead(f); super.open(f, bufferSize)
  }
  // the builder API (`openFile(path)...build()`) that the Parquet and
  // CSV readers use; FilterFileSystem hands it to the wrapped file system
  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    bump(Open); noteRead(f); super.openFile(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump(Rename); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump(Delete); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump(Mkdirs); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    bump(Mkdirs); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    bump(List); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path)
  : RemoteIterator[LocatedFileStatus] = {
    bump(List); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    bump(List); super.listStatusIterator(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    bump(Status); super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val List = "list"; val Status = "status"; val Open = "open"
  val Create = "create"; val Rename = "rename"; val Delete = "delete"
  val Mkdirs = "mkdirs"
  val kinds: Seq[String] = Seq(List, Status, Open, Create, Rename, Delete,
    Mkdirs)

  @volatile var enabled = false
  private val counts = kinds.map(_ -> new AtomicLong).toMap
  /** Distinct parquet data files opened, per span id. */
  private val filesBySpan =
    new ConcurrentHashMap[String, java.util.Set[String]]()

  private def bump(kind: String): Unit =
    if (enabled) counts(kind).incrementAndGet()

  private def noteRead(f: Path): Unit =
    if (enabled && f.getName.endsWith(".parquet")) {
      val span = Trace.currentSpanId()
      if (span != null)
        filesBySpan.computeIfAbsent(span,
          _ => ConcurrentHashMap.newKeySet[String]()).add(f.toString)
    }

  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }

  def filesOpenedIn(spanIds: Iterable[String]): Long = {
    val all = new java.util.HashSet[String]()
    spanIds.foreach { id =>
      val s = filesBySpan.get(id)
      if (s != null) all.addAll(s)
    }
    all.size.toLong
  }

  /** Bytes through Hadoop streams on `file://` (the stock statistics of
    * the wrapped local file system, all threads). */
  def bytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
