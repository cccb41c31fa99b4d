package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Native DSv2 streaming sink — `df.writeStream.toTable("gcat.ns.t")`.
  *
  * Tasks write parquet files straight into the table tree under
  * attempt-unique names (hive layout for partitioned tables) and report
  * AddFile actions; the driver commits ONE log version per epoch with a
  * txn marker (`STREAMV2_<queryId>_<epochId>` in CommitInfo.operation,
  * the [[graft.streaming.GraftTableSink]] idea lifted into the V2
  * protocol). A replayed epoch finds its marker, deletes the replay's
  * files, and commits nothing — exactly-once to the table across
  * restarts. The marker scan reads newest-first and stops at the first
  * older epoch of the same query, so steady-state cost is O(1) commits.
  *
  * Tasks write through Spark's parquet writer ([[GraftStreamingDataWriter]]),
  * so every type [[graft.txn.TableWriter]] writes streams too — nested
  * and decimal payloads, partition columns of any type. One restriction,
  * refused loudly at planning: column-mapped tables (the task writer
  * writes the plan's logical names; a mapped table's files must carry
  * physical names).
  */
private[graft] class GraftStreamingWrite(
    tablePath: String,
    schema: StructType,
    declaredPartitionColumns: Seq[String],
    queryId: String) extends StreamingWrite {

  // Partition columns come from the table's OWN metadata, not the caller:
  // via the TableProvider path (writeStream.format("graft")) the caller
  // passes Seq.empty, and trusting that would silently write a partitioned
  // table's files unpartitioned at the root — a mixed layout that breaks
  // hive inference and pruning. A non-empty ctor value must agree.
  // `readVersion` anchors the per-epoch metadata-commutativity scan.
  private val (partitionColumns: Seq[String], readVersion: Long) = {
    val snap = new TxnLog(tablePath, conf).snapshotLatest()
    val meta = snap.metadata.getOrElse(throw new IllegalArgumentException(
      s"no table metadata at $tablePath"))
    if (meta.columnMapping.nonEmpty)
      throw new UnsupportedOperationException(
        s"streaming write into a column-mapped table is not supported " +
          s"($tablePath)")
    require(declaredPartitionColumns.isEmpty ||
        declaredPartitionColumns == meta.partitionColumns,
      s"declared partition columns $declaredPartitionColumns do not match " +
        s"the table's ${meta.partitionColumns} at $tablePath")
    val declared = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    require(shape(declared) == shape(schema),
      s"streaming write schema ${schema.simpleString} does not match the " +
        s"table schema at $tablePath")
    (meta.partitionColumns, snap.version)
  }

  // High-water mark of the metadata-commutativity scan; epochs commit
  // serially on the driver, so advancing it across epochs keeps the scan
  // O(new versions) instead of O(stream lifetime) per epoch.
  private var checked: Long = readVersion

  private def marker(epochId: Long) = s"STREAMV2_${queryId}_$epochId"
  private val markerRe = s"STREAMV2_${java.util.regex.Pattern.quote(queryId)}_(\\d+)".r

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamingWriterFactory(
      TaskFiles.prepare(tablePath, schema, partitionColumns))

  private def conf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()

  private def dropFiles(adds: Seq[AddFile]): Unit = {
    val fs = new Path(tablePath).getFileSystem(conf)
    adds.foreach(a =>
      fs.delete(new Path(TxnLog.dataPath(tablePath, a.path)), false))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val adds = messages.flatMap {
      case m: GraftStreamCommitMessage => m.adds
      case _ => Seq.empty
    }.toSeq
    val log = new TxnLog(tablePath, conf)
    // replay detection: this epoch already committed → the replay's
    // files are orphans, delete them and commit nothing
    val alreadyCommitted = log.versions().reverse.view.map { v =>
      log.read(v).collectFirst { case c: CommitInfo => c.operation }
    }.collectFirst {
      case Some(op) if op == marker(epochId) => true
      case Some(markerRe(k)) if k.toLong < epochId => false
    }.getOrElse(false)
    if (alreadyCommitted) { dropFiles(adds); return }

    // Metadata-commutativity scan (appendRebasing's rule, TableWriter
    // .scala:760): a concurrent schema evolution / RENAME COLUMN /
    // protocol upgrade interleaved since this writer validated its schema
    // means the epoch's files carry a stale physical shape — rebasing
    // over it would commit wrong data. Drop the files and fail the epoch;
    // the restarted query re-validates against the new snapshot.
    var attempt = 0
    while (true) {
      val latest = log.latestVersion().getOrElse(readVersion)
      var v = checked + 1
      while (v <= latest) {
        val unsafe = log.read(v).exists {
          case _: graft.txn.Metadata | _: graft.txn.Protocol => true
          case _ => false
        }
        if (unsafe) {
          dropFiles(adds)
          throw new IllegalStateException(
            s"concurrent metadata change at $tablePath v$v — streaming " +
              "epoch unsafe to rebase; restart the query against the new " +
              "table snapshot")
        }
        v += 1
      }
      checked = latest
      try {
        log.commit(latest + 1,
          adds :+ CommitInfo(marker(epochId), System.currentTimeMillis()))
        return
      } catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.startsWith("concurrent commit") =>
          attempt += 1
          if (attempt > 20) { dropFiles(adds); throw e }
          Thread.sleep(1L + scala.util.Random.nextInt(8))
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropFiles(messages.flatMap {
      case m: GraftStreamCommitMessage => m.adds
      case _ => Seq.empty
    }.toSeq)
}

private[graft] case class GraftStreamCommitMessage(adds: Seq[AddFile])
  extends WriterCommitMessage

/** What every task writer of one write shares, prepared once on the
  * driver: Spark's parquet writer factory for the data columns (the
  * session's codec, INT64 `TIMESTAMP_MICROS`) with its Hadoop conf, and
  * the write id and sidecar dir [[TableCommitProtocol]] names the files
  * with.
  */
private[graft] case class TaskFiles(
    tablePath: String,
    schema: StructType,
    partitionColumns: Seq[String],
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    writeId: String,
    timeZone: String,
    sidecarDir: Option[String])

private[graft] object TaskFiles {
  def prepare(tablePath: String, schema: StructType,
      partitionColumns: Seq[String],
      sidecarDir: Option[String] = None): TaskFiles = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (factory, conf) = TableCommitProtocol.prepareParquet(spark,
      StructType(schema.filterNot(f => partitionColumns.contains(f.name))))
    TaskFiles(tablePath, schema, partitionColumns, factory,
      new SerializableConfiguration(conf),
      java.util.UUID.randomUUID().toString.take(8),
      spark.sessionState.conf.sessionLocalTimeZone, sidecarDir)
  }
}

private[graft] case class GraftStreamingWriterFactory(files: TaskFiles)
    extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamingDataWriter(files, f"part-s$epochId%05d", partitionId,
      taskId)
}

/** One task's writer, shared by the streaming sink and the row-level
  * writes: Spark's parquet writer, one file per touched hive partition,
  * written straight under the table tree with the name
  * [[TableCommitProtocol]] gives it, `<stem>-<partition>-<seq>-<writeId>.<taskId>`
  * (Spark's task attempt id keeps the attempts of one partition apart;
  * uncommitted files are invisible to readers, vacuum sweeps aborted
  * ones). Partition columns leave the files, as in every graft write.
  */
private[graft] class GraftStreamingDataWriter(
    files: TaskFiles,
    stem: String,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {
  import files._

  private val protocol =
    new TableCommitProtocol(tablePath, stem, writeId, sidecarDir)
  private val ctx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, taskId.toInt))
  protocol.setupTask(ctx)

  private val partIdx = partitionColumns.map(schema.fieldIndex)
  private val dataSchema = StructType(
    schema.filterNot(f => partitionColumns.contains(f.name)))
  private val toData: InternalRow => InternalRow =
    if (partIdx.isEmpty) identity
    else UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !partIdx.contains(i) =>
        BoundReference(i, f.dataType, f.nullable)
    })
  // partition values as the strings of their hive dir, cast the way
  // Spark's own partitioned write casts them
  private val partValues = UnsafeProjection.create(partIdx.map(i =>
    Cast(BoundReference(i, schema(i).dataType, nullable = true),
      StringType, Some(timeZone))))

  // partition values → open writer
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[InternalRow, OutputWriter]

  private def writerFor(row: InternalRow): OutputWriter = {
    val key = partValues(row)
    writers.getOrElse(key, {
      val dir = partitionColumns.zipWithIndex.map { case (c, j) =>
        ExternalCatalogUtils.getPartitionPathString(c,
          if (key.isNullAt(j)) null else key.getUTF8String(j).toString)
      }
      val path = protocol.newTaskTempFile(ctx,
        if (dir.isEmpty) None else Some(dir.mkString("/")),
        FileNameSpec("", ".parquet"))
      val w = factory.newInstance(path, dataSchema, ctx)
      writers(key.copy()) = w
      w
    })
  }

  override def write(row: InternalRow): Unit =
    writerFor(row).write(toData(row))

  /** Close the files and report them through the protocol. */
  def committed(): Seq[TableCommitProtocol.Written] = {
    writers.values.foreach(_.close())
    writers.clear()
    protocol.commitTask(ctx).obj
      .asInstanceOf[Seq[TableCommitProtocol.Written]]
  }

  override def commit(): WriterCommitMessage = {
    val now = System.currentTimeMillis()
    GraftStreamCommitMessage(committed().map(_.addFile(now, dataChange = true)))
  }

  override def abort(): Unit = {
    close()
    protocol.abortTask(ctx)
  }

  override def close(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Throwable => () })
    writers.clear()
  }
}
