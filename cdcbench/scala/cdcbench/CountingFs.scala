package cdcbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `benchfs://` scheme, counting the calls
  * every layer makes into it. The traced run installs it through Hadoop
  * configuration only (`spark.hadoop.fs.benchfs.impl`) and places its
  * tables under `benchfs:///...`; the engine sees an ordinary filesystem.
  *
  * Calls are split into two buckets: the long-running CDC tail (its
  * stream thread and its tasks) and everything else. The benchmark's
  * own operations run one at a time, so the difference of the "main"
  * bucket around an operation is that operation's filesystem work.
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import CountingFs._

  override def getScheme: String = Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    add(Open, 1)
    val bucket = currentBucket()
    new FSDataInputStream(new CountingInput(super.open(p, bufferSize), bucket))
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    add(List, 1)
    super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    add(Stat, 1)
    super.getFileStatus(p)
  }
  // every create overload of RawLocalFileSystem funnels through this hook
  override def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    add(Create, 1)
    super.createOutputStreamWithMode(p, append, permission)
  }
}

object CountingFs {
  val Scheme = "benchfs"

  val List = 0
  val Stat = 1
  val Open = 2
  val Create = 3
  val BytesRead = 4
  private val NKinds = 5

  val MainBucket = 0
  val TailBucket = 1
  private val counters = new AtomicLongArray(2 * NKinds)

  /** Streaming query id and name of the long-running tail; its tasks carry
    * the id as a local property, its stream thread carries the name.
    */
  @volatile var tailId: String = ""
  @volatile var tailName: String = "\u0000"

  def currentBucket(): Int = {
    val tc = org.apache.spark.TaskContext.get()
    val tail =
      if (tc != null) tailId.nonEmpty &&
        tailId == tc.getLocalProperty("sql.streaming.queryId")
      else Thread.currentThread.getName.contains(tailName)
    if (tail) TailBucket else MainBucket
  }

  private def add(kind: Int, n: Long): Unit =
    counters.addAndGet(currentBucket() * NKinds + kind, n)

  def get(bucket: Int, kind: Int): Long = counters.get(bucket * NKinds + kind)

  /** All counters of one bucket, indexed by kind. */
  def snapshot(bucket: Int): Array[Long] =
    Array.tabulate(NKinds)(k => get(bucket, k))

  private final class CountingInput(in: FSDataInputStream, bucket: Int)
      extends FSInputStream {
    private def count(n: Int): Int = {
      if (n > 0) counters.addAndGet(bucket * NKinds + BytesRead, n.toLong)
      n
    }
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) count(1)
      b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      count(in.read(buf, off, len))
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
      count(in.read(pos, buf, off, len))
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean =
      in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
