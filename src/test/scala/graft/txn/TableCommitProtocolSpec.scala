package graft.txn

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Task retry and abort under [[TableCommitProtocol]]: files go straight
  * to their final, attempt-unique names, so correctness under retry rests
  * on the driver taking AddFiles only from the attempts Spark accepted and
  * on `abortTask` deleting a failed attempt's files. The protocol is
  * driven the way Spark drives it: each task attempt works on its own
  * deserialized copy, the driver on the original.
  */
class TableCommitProtocolSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def freshTable(): String = {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("commit_proto").toString
    TableWriter.write(spark, (0L until 10L).toDF("id"), t, version = 0L,
      commitTs = 1000L)
    t
  }

  /** What a task receives: the driver's protocol, serialized. */
  private def shipped(p: TableCommitProtocol): TableCommitProtocol = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(p); out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[TableCommitProtocol]
  }

  /** Attempt `attemptId` of task 0 writes `ids` through Spark's parquet
    * writer; returns the attempt's context, its protocol copy and path.
    */
  private def runAttempt(driver: TableCommitProtocol, job: Job,
      attemptId: Int, ids: Seq[Long]) = {
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("spec", 0, TaskType.MAP, 0, attemptId))
    val task = shipped(driver)
    task.setupTask(ctx)
    val path = task.newTaskTempFile(ctx, None, FileNameSpec("", ".parquet"))
    val w = new ParquetFileFormat()
      .prepareWrite(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        job, Map.empty, schema)
      .newInstance(path, schema, ctx)
    ids.foreach(i => w.write(InternalRow(i)))
    w.close()
    (ctx, task, new Path(path))
  }

  test("two attempts of one task: the aborted attempt's file is gone and " +
      "only the accepted attempt's file reaches the AddFiles and the log") {
    val table = freshTable()
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(table).getFileSystem(conf)
    val job = Job.getInstance(conf)
    val driver = new TableCommitProtocol(table, "part-00001", "retry001")
    driver.setupJob(job)
    val rows = (10L until 20L)

    // attempt 1 fails after writing its file: Spark aborts the task
    val (ctx1, task1, file1) = runAttempt(driver, job, 1, rows)
    assert(fs.exists(file1))
    task1.abortTask(ctx1)
    assert(!fs.exists(file1), "an aborted attempt's file must be deleted")

    // attempt 2 succeeds; a speculative attempt 3 also commits its task
    // but loses the race, so Spark never hands its message to the job
    val (ctx2, task2, file2) = runAttempt(driver, job, 2, rows)
    val accepted = task2.commitTask(ctx2)
    val (ctx3, task3, file3) = runAttempt(driver, job, 3, rows)
    task3.commitTask(ctx3)
    assert(Set(file1, file2, file3).size == 3, "names must be attempt-unique")
    driver.onTaskCommit(accepted)
    driver.commitJob(job, Seq(accepted))

    val adds = driver.addFiles(commitTs = 2000L, dataChange = true)
    assert(adds.map(_.path) == Seq(file2.getName))
    assert(adds.head.size == fs.getFileStatus(file2).getLen)
    assert(adds.head.stats.map(_.numRecords).contains(10L))
    assert(adds.head.stats == TableWriter.footerStats(file2, conf))
    val log = new TxnLog(table, conf)
    log.commit(1L, adds :+ CommitInfo("WRITE", 2000L))
    assert(!log.snapshotLatest().files.exists(_.path == file3.getName))

    // every row exactly once, though the losing attempt's file remains
    // on disk as an orphan
    assert(fs.exists(file3))
    val ids = SnapshotReader.read(spark, table).collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (0L until 20L))
  }

  test("a failed job deletes the files its committed tasks reported") {
    val table = freshTable()
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(table).getFileSystem(conf)
    val job = Job.getInstance(conf)
    val driver = new TableCommitProtocol(table, "part-00001", "abort001")
    driver.setupJob(job)
    val (ctx, task, file) = runAttempt(driver, job, 1, Seq(42L))
    driver.onTaskCommit(task.commitTask(ctx))
    driver.abortJob(job)
    assert(!fs.exists(file))
    intercept[IllegalStateException](driver.addFiles(2000L, dataChange = true))
    assert(SnapshotReader.read(spark, table).count() == 10L)
  }

  test("the DSv2 task writer: the aborted attempt's files are gone, only " +
      "the accepted attempt's AddFiles reach the commit, rows read once") {
    import graft.sources.{GraftStreamCommitMessage, GraftStreamingWrite}
    import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
    val table = freshTable()
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(table).getFileSystem(conf)
    val sink = new GraftStreamingWrite(table, schema, Seq.empty, "retry-q")
    val factory = sink.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    def files(m: WriterCommitMessage) = m.asInstanceOf[GraftStreamCommitMessage]
      .adds.map(a => new Path(TxnLog.dataPath(table, a.path)))
    // attempt `taskId` of partition 0, on its own copy of the factory
    def attempt(taskId: Long) = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(factory); out.close()
      val w = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[StreamingDataWriterFactory]
        .createWriter(0, taskId, 0L)
      (10L until 20L).foreach(i => w.write(InternalRow(i)))
      w
    }

    // attempt 1 fails after writing its file: Spark aborts the task
    val failed = attempt(1L)
    val failedFiles = new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(".1.parquet"))
    assert(failedFiles.nonEmpty, "the attempt writes before it commits")
    failed.abort()
    failedFiles.foreach(f =>
      assert(!f.exists(), s"an aborted attempt's file must be deleted: $f"))

    // attempt 2 is accepted; a speculative attempt 3 also commits its
    // task but loses the race, so its message never reaches the epoch
    val accepted = attempt(2L).commit()
    val losing = attempt(3L).commit()
    assert((files(accepted) ++ files(losing)).distinct.size == 2,
      "names must be attempt-unique")
    sink.commit(0L, Array(accepted))

    val live = new TxnLog(table, conf).snapshotLatest().files
      .map(a => new Path(TxnLog.dataPath(table, a.path)))
    assert(files(accepted).forall(live.contains))
    assert(!files(losing).exists(live.contains))
    assert(files(losing).forall(fs.exists), "the loser stays an orphan")
    val ids = SnapshotReader.read(spark, table).collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (0L until 20L))
  }

  test("a write through TableWriter stages nothing and names its files " +
      "part-<version>-<task>-<seq>-<writeId>.<attempt>.parquet") {
    import spark.implicits._
    val table = freshTable()
    TableWriter.append(spark, (100L until 160L).toDF("id").repartition(3),
      table)
    val snap = new TxnLog(table, spark.sessionState.newHadoopConf())
      .snapshotLatest()
    val named = """part-00001-\d{5}-\d{3}-[0-9a-f]{8}\.\d+\.parquet""".r
    val added = snap.files.filter(_.path.startsWith("part-00001-"))
    assert(added.size == 3)
    added.foreach(a => assert(named.matches(a.path), a.path))
    assert(!new java.io.File(table).list().exists(_.startsWith(".staging")))
    assert(SnapshotReader.read(spark, table).count() == 70L)
  }
}
