package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** How the streaming sources meet the log:
  *  - `graft-cdc` and `graft-cdf` resolve a table's schema through the
  *    session's Hadoop conf, so a filesystem configured only there (the
  *    `sessfs://` scheme below, uncached, so no earlier lookup can stand
  *    in for it) serves the stream;
  *  - a `graft-cdc` tail polling while a commit file exists but is still
  *    being written (`slowfs://` holds that file's close for 1.5 s) waits
  *    for the commit to land and delivers it exactly once.
  */
class SourceLogSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1L, 2).selectExpr("id", "CAST(id % 2 AS INT) AS p")

  test("graft-cdc and graft-cdf read a table on a filesystem configured " +
      "only in the session") {
    val local = Files.createTempDirectory("sessfs").toString + "/t"
    TableWriter.write(spark, rows(0L, 40L), local, Seq("p"), version = 0L,
      commitTs = 1000L)
    spark.conf.set("fs.sessfs.impl", classOf[SessionOnlyFs].getName)
    spark.conf.set("fs.sessfs.impl.disable.cache", "true")
    try {
      val t = s"sessfs://$local"
      val cdc = spark.readStream.format("graft-cdc").option("tablePath", t)
        .option("startingVersion", "0").option("includeHistory", "true").load()
      assert(cdc.columns.toSeq == Seq("op", "partition_value", "ts",
        "commit_version", "id", "p"))
      val cdf = spark.readStream.format("graft-cdf").option("tablePath", t)
        .option("startingVersion", "0").load()
      assert(cdf.columns.take(2).toSeq == Seq("id", "p"))
      val got = new ConcurrentLinkedQueue[Long]()
      cdf.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("sessfs_ck").toString)
        .foreachBatch { (df: DataFrame, _: Long) => got.add(df.count()); () }
        .start().awaitTermination()
      assert(got.asScala.sum == 40L)
    } finally {
      spark.conf.unset("fs.sessfs.impl")
      spark.conf.unset("fs.sessfs.impl.disable.cache")
    }
  }

  test("a graft-cdc tail waits for a commit that is still being written " +
      "and delivers it once") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.slowfs.impl", classOf[SlowCloseFs].getName)
    val p = Files.createTempDirectory("slowfs")
    Files.delete(p)
    val t = s"slowfs://$p"
    TableWriter.write(spark, rows(0L, 40L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    TableWriter.append(spark, rows(40L, 50L), t, Seq("p"), commitTs = 1500L)
    val batches = new ConcurrentLinkedQueue[Seq[(Long, Long)]]()
    val q = spark.readStream.format("graft-cdc").option("tablePath", t)
      .option("startingVersion", "1").option("includeHistory", "false").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("slowfs_ck").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.add(df.groupBy("commit_version").count().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      SlowCloseFs.held = f"$p/_txn_log/${2L}%020d.json"
      val t0 = System.nanoTime()
      TableWriter.append(spark, rows(50L, 70L), t, Seq("p"), commitTs = 2000L)
      assert((System.nanoTime() - t0) / 1e6 >= SlowCloseFs.HoldMillis,
        "the commit's close was held")
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception)
      val delivered = batches.asScala.toSeq.flatten
      assert(delivered == Seq((2L, 20L)), delivered)
    } finally {
      SlowCloseFs.held = null
      q.stop()
    }
  }
}

/** The local filesystem under a scheme of its own. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "sessfs"
  override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
}

/** The local filesystem under `slowfs://`, where the file named by
  * [[SlowCloseFs.held]] is created at once, empty, and its bytes land
  * only when its close returns, [[SlowCloseFs.HoldMillis]] later.
  */
class SlowCloseFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: java.net.URI = java.net.URI.create("slowfs:///")
  override def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    val out = super.createOutputStreamWithMode(p, append, permission)
    if (p.toUri.getPath != SlowCloseFs.held) out
    else new java.io.OutputStream {
      private val bytes = new java.io.ByteArrayOutputStream()
      override def write(b: Int): Unit = bytes.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        bytes.write(b, off, len)
      override def close(): Unit = {
        Thread.sleep(SlowCloseFs.HoldMillis)
        out.write(bytes.toByteArray)
        out.close()
      }
    }
  }
}

object SlowCloseFs {
  val HoldMillis = 1500L
  @volatile var held: String = _
}
