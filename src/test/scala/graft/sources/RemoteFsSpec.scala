package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The s3a-shaped plumbing, made testable offline: a custom-scheme
  * FileSystem (`mockfs://`, a counting RawLocalFileSystem) registered
  * ONLY through `fs.mockfs.impl` in the session Hadoop conf. Every path
  * below the table root then resolves through the non-default scheme,
  * so a green test proves the write path, the snapshot reader, the
  * batch DSv2 partition readers, and the CDC stream readers all carry
  * the session conf to the executor side (the conf each scan or stream
  * broadcasts with its file reader) instead of falling back to the
  * default filesystem — exactly what s3a needs, minus the credentials
  * this container doesn't have.
  */
class RemoteFsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val scheme: Unit = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[CountingMockFs].getName)
  }

  private def freshTable(): String = {
    scheme
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("mockfs_tbl")
    java.nio.file.Files.delete(local)
    val table = s"mockfs://${local}"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "tag")
    TableWriter.write(spark, df, table)
    table
  }

  test("write + snapshot read resolve through the custom scheme") {
    val table = freshTable()
    val before = CountingMockFs.opens.get()
    val rows = SnapshotReader.read(spark, table)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "a")))
    assert(CountingMockFs.opens.get() > before,
      "the read must go through the mockfs:// filesystem, not file://")
  }

  test("batch DSv2 partition readers carry the conf to the scheme") {
    val table = freshTable()
    val before = CountingMockFs.opens.get()
    val n = spark.read.format("graft").option("tablePath", table).load()
      .filter(col("tag") === "a").count()
    assert(n == 2)
    assert(CountingMockFs.opens.get() > before,
      "DSv2 partition readers must open files via the custom scheme")
  }

  test("row-granular CDC stream readers carry the conf to the scheme") {
    val table = freshTable()
    val before = CountingMockFs.opens.get()
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.GraftCdc")
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        counts += b.count(); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mockfs_ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(counts.sum == 3)
    assert(CountingMockFs.opens.get() > before,
      "CDC partition readers must open files via the custom scheme")
  }

  test("vacuum's orphan listing fans out as EXECUTOR tasks, not a " +
      "driver walk") {
    scheme
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("mockfs_vac")
    java.nio.file.Files.delete(local)
    val table = s"mockfs://$local"
    val df = (1 to 60).map(i => (i.toLong, s"t${i % 6}")).toDF("id", "tag")
    TableWriter.write(spark, df, table, partitionBy = Seq("tag"))
    val before = CountingMockFs.taskLists.get()
    TableWriter.vacuum(spark, table, retainMillis = 3600 * 1000L,
      nowMillis = System.currentTimeMillis())
    assert(CountingMockFs.taskLists.get() > before,
      "the per-directory listStatus calls must run inside Spark tasks")
    assert(SnapshotReader.read(spark, table).count() == 60)
  }

  test("CONVERT's discovery and footer stats run as EXECUTOR tasks") {
    scheme
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("mockfs_cnv")
    java.nio.file.Files.delete(local)
    val dir = s"mockfs://$local"
    (1 to 40).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "g")
      .write.partitionBy("g").parquet(dir)
    val before = CountingMockFs.taskLists.get()
    val r = Convert.run(spark, dir)
    assert(CountingMockFs.taskLists.get() > before,
      "per-directory discovery must run inside Spark tasks")
    assert(r.rowsRegistered == 40L)
    assert(SnapshotReader.read(spark, dir).count() == 40)
  }

  test("COPY INTO's source discovery runs as EXECUTOR tasks") {
    scheme
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("mockfs_cpy")
    java.nio.file.Files.delete(local)
    val src = s"mockfs://$local"
    (1 to 30).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .repartition(3).write.parquet(s"$src/nested")
    val table = {
      val t = java.nio.file.Files.createTempDirectory("mockfs_cpy_t")
      java.nio.file.Files.delete(t)
      val p = s"mockfs://$t"
      TableWriter.write(spark, Seq((0L, 0L)).toDF("id", "v"), p,
        version = 0L, commitTs = 1000L)
      p
    }
    val before = CountingMockFs.taskLists.get()
    val r = CopyInto.run(spark, table, src)
    assert(CountingMockFs.taskLists.get() > before,
      "source-subtree listing must run inside Spark tasks")
    assert(r.rowsCopied == 30L)
    assert(SnapshotReader.read(spark, table).count() == 31)
  }

  test("row-capped CDC admission answers from LOG STATS: zero driver " +
      "file opens") {
    val table = freshTable()
    val d0 = CountingMockFs.driverDataOpens.get()
    val q = spark.readStream.format("graft.sources.GraftCdc")
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .option("maxRowsPerTrigger", "2")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("stats_admission_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("mockfs_adm").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("stats_admission_out").count() == 3)
    assert(CountingMockFs.driverDataOpens.get() == d0,
      "admission must use FileStats.numRecords, not driver footer reads")
  }

  test("manifest export writes its parts in EXECUTOR tasks, not one " +
      "driver stream") {
    val table = freshTable()
    val before = CountingMockFs.taskCreates.get()
    Manifest.generate(spark, table)
    assert(CountingMockFs.taskCreates.get() > before,
      "manifest part files must be created inside Spark tasks")
    assert(Manifest.read(spark, table).count() == 3)
  }

  test("maintenance ops (OPTIMIZE) work against the custom scheme") {
    val table = freshTable()
    TableWriter.compact(spark,
      table, version = new TxnLog(table,
        spark.sessionState.newHadoopConf()).latestVersion().get + 1,
      commitTs = 2000L)
    val rows = SnapshotReader.read(spark, table).count()
    assert(rows == 3)
  }
}

/** RawLocalFileSystem under a non-default scheme, counting opens — the
  * stand-in for any object-store filesystem (s3a://, gs://, abfs://).
  */
class CountingMockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingMockFs.opens.incrementAndGet()
    if (CountingMockFs.recordPaths) CountingMockFs.recordedOpens.add(p.toString)
    if (org.apache.spark.TaskContext.get() == null) {
      CountingMockFs.driverOpens.incrementAndGet()
      // DATA-file driver opens, separately: log/commit reads are
      // legitimate O(commits) driver work; per-data-file driver reads
      // are the scale bug the pins watch for
      if (!p.toString.contains("_txn_log"))
        CountingMockFs.driverDataOpens.incrementAndGet()
    }
    super.open(p, bufferSize)
  }
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    // counted only when running INSIDE a Spark task: local[n] shares the
    // JVM, so TaskContext presence is what separates executor-side
    // listing (the 100 TB shape) from a driver walk
    if (org.apache.spark.TaskContext.get() != null)
      CountingMockFs.taskLists.incrementAndGet()
    else {
      CountingMockFs.driverLists.incrementAndGet()
      if (p.toString.contains("_txn_log"))
        CountingMockFs.driverLogLists.incrementAndGet()
    }
    super.listStatus(p)
  }
  // EVERY create overload of RawLocalFileSystem funnels through this
  // protected hook — the one reliable interception point for "a file was
  // created", however the writer called in
  override def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    if (org.apache.spark.TaskContext.get() != null)
      CountingMockFs.taskCreates.incrementAndGet()
    CountingMockFs.noteStaging(p)
    super.createOutputStreamWithMode(p, append, permission)
  }
  override def mkdirs(p: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    CountingMockFs.noteStaging(p)
    super.mkdirs(p, permission)
  }
  override def mkdirs(p: Path): Boolean = {
    CountingMockFs.noteStaging(p)
    super.mkdirs(p)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingMockFs.renames.incrementAndGet()
    CountingMockFs.renamed.add((src.toString, dst.toString))
    super.rename(src, dst)
  }
}

object CountingMockFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  // per-path capture for layout pins (IvfLayoutSpec): off by default,
  // scoped on around the operation under test
  @volatile var recordPaths = false
  val recordedOpens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val driverOpens = new java.util.concurrent.atomic.AtomicInteger(0)
  val driverDataOpens = new java.util.concurrent.atomic.AtomicInteger(0)
  val taskLists = new java.util.concurrent.atomic.AtomicInteger(0)
  val driverLists = new java.util.concurrent.atomic.AtomicInteger(0)
  val taskCreates = new java.util.concurrent.atomic.AtomicInteger(0)
  val driverLogLists = new java.util.concurrent.atomic.AtomicInteger(0)
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
  // every rename's (source, destination), in call order
  val renamed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  // files or directories created under a `.staging-*` directory, and
  // of those under a change-data `.staging-cdc*` one
  val stagingCreates = new java.util.concurrent.atomic.AtomicInteger(0)
  val stagingCdcCreates = new java.util.concurrent.atomic.AtomicInteger(0)
  private[sources] def noteStaging(p: Path): Unit = {
    val segments = p.toString.split('/')
    if (segments.exists(_.startsWith(".staging-")))
      stagingCreates.incrementAndGet()
    if (segments.exists(_.startsWith(".staging-cdc")))
      stagingCdcCreates.incrementAndGet()
  }
}
