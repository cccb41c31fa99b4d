package graft.txn

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The commit protocol of every file a commit adds — data files, change
  * data sidecars and deletion vectors: each task writes its parquet
  * files straight to final, attempt-unique names,
  * `<dir>/<stem>-<task>-<seq>-<writeId>.<attempt>.parquet`, so the log
  * commit is the only atomic step and nothing is renamed (on an object
  * store a rename is a copy). `<dir>` is the hive partition dir, or, for
  * sidecars, the flat `sidecarDir` (the partition dir then only names the
  * file's partition values). For data files the task reads each closed
  * file's footer stats; `abortTask` deletes the attempt's files. The
  * driver builds actions only from the tasks Spark accepted. A losing
  * attempt that committed, or a write whose log commit never happens,
  * leaves orphans that no reader sees (readers list the log) and `vacuum`
  * sweeps.
  *
  * Spark's `FileFormatWriter` drives it for DataFrame writes
  * ([[TableCommitProtocol.write]]); the DSv2 task writers call the task
  * side themselves.
  */
private[graft] class TableCommitProtocol(
    val tablePath: String, stem: String, writeId: String,
    sidecarDir: Option[String] = None)
    extends FileCommitProtocol with Serializable {
  import TableCommitProtocol.Written

  @transient private var written: collection.mutable.ArrayBuffer[(String, String)] = _
  @transient private var reported = Vector.empty[Written]
  @transient @volatile private var accepted: Option[Seq[Written]] = None

  /** The accepted task attempts' files, after the job committed. */
  def committed: Seq[Written] = accepted.getOrElse(
    throw new IllegalStateException(s"write to $tablePath did not commit"))

  /** AddFiles of the accepted task attempts' files, after the job
    * committed, in (partition dir, name) order.
    */
  def addFiles(commitTs: Long, dataChange: Boolean): Seq[AddFile] =
    committed.sortBy(w => (w.partitionDir, w.relPath))
      .map(_.addFile(commitTs, dataChange))

  override def setupJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    written = collection.mutable.ArrayBuffer.empty[(String, String)]

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val id = taskContext.getTaskAttemptID
    val name = f"$stem-${id.getTaskID.getId}%05d-" +
      f"${written.size}%03d-$writeId.${id.getId}.parquet"
    val rel = sidecarDir.orElse(dir).fold(name)(d => s"$d/$name")
    written += ((rel, dir.getOrElse("")))
    new Path(tablePath, rel).toString
  }

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
      absoluteDir: String, spec: FileNameSpec): String =
    throw new UnsupportedOperationException(
      "graft tables have no custom partition locations")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val conf = taskContext.getConfiguration
    new TaskCommitMessage(written.toSeq.map { case (rel, dir) =>
      val p = new Path(tablePath, rel)
      if (sidecarDir.isDefined)
        Written(rel, dir, p.getFileSystem(conf).getFileStatus(p).getLen, None)
      else {
        val in = HadoopInputFile.fromPath(p, conf)
        Written(rel, dir, in.getLength, TableWriter.footerStats(in))
      }
    })
  }

  override def abortTask(taskContext: TaskAttemptContext): Unit =
    deleteQuietly(written.toSeq.map(_._1), taskContext.getConfiguration)

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    synchronized { reported ++= msg.obj.asInstanceOf[Seq[Written]] }

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit =
    accepted = Some(taskCommits.flatMap(_.obj.asInstanceOf[Seq[Written]]))

  // a failed job: its committed tasks' files never reach the log
  override def abortJob(jobContext: JobContext): Unit =
    deleteQuietly(synchronized(reported).map(_.relPath),
      jobContext.getConfiguration)

  private def deleteQuietly(rels: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Unit =
    rels.foreach { rel =>
      val p = new Path(tablePath, rel)
      try p.getFileSystem(conf).delete(p, false)
      catch { case _: java.io.IOException => () } // an orphan vacuum sweeps
    }
}

private[graft] object TableCommitProtocol {
  /** A file a task wrote: path relative to the table, the hive partition
    * dir it was written for, size, stats (data files only).
    */
  final case class Written(relPath: String, partitionDir: String, size: Long,
      stats: Option[FileStats]) {
    def addFile(commitTs: Long, dataChange: Boolean): AddFile =
      AddFile(path = relPath,
        partitionValues = TableWriter.partitionValuesOf(partitionDir),
        size = size, modificationTime = commitTs, dataChange = dataChange,
        stats = stats)
  }

  /** Spark's parquet format with the session's codec and INT64
    * `TIMESTAMP_MICROS` timestamps (not INT96): the parquet type every
    * reader and external engine reads without a legacy rebase. The
    * session's own setting is left alone.
    */
  private class Parquet extends ParquetFileFormat {
    override def prepareWrite(spark: SparkSession,
        job: Job, options: Map[String, String],
        dataSchema: StructType): OutputWriterFactory = {
      val factory = super.prepareWrite(spark, job, options, dataSchema)
      job.getConfiguration.set(
        org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        "TIMESTAMP_MICROS")
      factory
    }
  }

  /** The writer factory of [[Parquet]] for `dataSchema` (the columns the
    * files hold), prepared once on the driver, with the Hadoop conf its
    * task writers must run under.
    */
  def prepareParquet(spark: SparkSession, dataSchema: StructType)
      : (OutputWriterFactory, org.apache.hadoop.conf.Configuration) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new Parquet().prepareWrite(spark, job, Map.empty, dataSchema)
    (factory, job.getConfiguration)
  }

  /** Write `df` through Spark's file writer under `protocol`, hive-split
    * on `partitionBy` (those columns leave the files). The protocol is
    * passed explicitly, never through the session-wide commit protocol
    * class.
    */
  def write(spark: SparkSession, df: DataFrame, partitionBy: Seq[String],
      protocol: TableCommitProtocol): Unit = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val resolver = spark.sessionState.conf.resolver
    val partAttrs = partitionBy.map(c => plan.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(
        s"partition column '$c' is not in ${df.columns.mkString(", ")}")))
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some(s"graft write ${protocol.tablePath}")) {
      import org.apache.spark.sql.execution.datasources.FileFormatWriter
      FileFormatWriter.write(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
        new Parquet, protocol,
        FileFormatWriter.OutputSpec(protocol.tablePath, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(), partAttrs, None, Nil, Map.empty)
    }
  }
}
