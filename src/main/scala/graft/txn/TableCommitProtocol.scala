package graft.txn

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** The commit protocol of every [[TableWriter]] data write: each task
  * writes its parquet files straight to final, attempt-unique names under
  * the table, `<partition dir>/part-<version>-<task>-<seq>-<writeId>.<attempt>.parquet`,
  * so the log commit is the only atomic step and nothing is staged or
  * renamed (on an object store a rename is a copy). The task reads each
  * closed file's footer stats and returns `(relPath, size, stats)`;
  * `abortTask` deletes the attempt's files. The driver builds AddFiles
  * only from the tasks Spark accepted. A losing attempt that committed,
  * or a write whose log commit never happens, leaves orphans that no
  * reader sees (readers list the log) and `vacuum` sweeps.
  */
private[graft] class TableCommitProtocol(
    tablePath: String, version: Long, writeId: String)
    extends FileCommitProtocol with Serializable {
  import TableCommitProtocol.Written

  @transient private var written: collection.mutable.ArrayBuffer[String] = _
  @transient private var reported = Vector.empty[Written]
  @transient @volatile private var accepted: Option[Seq[Written]] = None

  /** AddFiles of the accepted task attempts' files, after the job
    * committed, in (partition dir, name) order.
    */
  def addFiles(commitTs: Long, dataChange: Boolean): Seq[AddFile] =
    accepted.getOrElse(throw new IllegalStateException(
        s"write to $tablePath did not commit"))
      .map(w => (w.relPath.take(math.max(0, w.relPath.lastIndexOf('/'))), w))
      .sortBy { case (dir, w) => (dir, w.relPath) }
      .map { case (dir, w) =>
        AddFile(path = w.relPath,
          partitionValues = TableWriter.partitionValuesOf(dir), size = w.size,
          modificationTime = commitTs, dataChange = dataChange, stats = w.stats)
      }

  override def setupJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    written = collection.mutable.ArrayBuffer.empty[String]

  override def newTaskTempFile(taskContext: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val id = taskContext.getTaskAttemptID
    val name = f"part-$version%05d-${id.getTaskID.getId}%05d-" +
      f"${written.size}%03d-$writeId.${id.getId}.parquet"
    val rel = dir.fold(name)(d => s"$d/$name")
    written += rel
    new Path(tablePath, rel).toString
  }

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
      absoluteDir: String, spec: FileNameSpec): String =
    throw new UnsupportedOperationException(
      "graft tables have no custom partition locations")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val conf = taskContext.getConfiguration
    new TaskCommitMessage(written.toSeq.map { rel =>
      val in = HadoopInputFile.fromPath(new Path(tablePath, rel), conf)
      Written(rel, in.getLength, TableWriter.footerStats(in))
    })
  }

  override def abortTask(taskContext: TaskAttemptContext): Unit =
    deleteQuietly(written.toSeq, taskContext.getConfiguration)

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
  /** A file a task wrote: path relative to the table, size, stats. */
  final case class Written(relPath: String, size: Long, stats: Option[FileStats])
}
