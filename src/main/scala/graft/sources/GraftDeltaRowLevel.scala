package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Delta-based (merge-on-read) row-level operations — the DSv2
  * `SupportsDelta` surface behind SQL `UPDATE` / `MERGE INTO` / `DELETE`
  * when `spark.graft.update.mode=dv` (resp. `spark.graft.delete.mode=dv`
  * for the rewrite-path DELETE). Where the group-based operation
  * ([[GraftRowLevelOperation]]) rewrites every file GROUP containing a
  * match, this one never rewrites a data file at all:
  *
  *  - matched OLD rows are identified by the scan's (file, position)
  *    row id (`_graft_file`, `_graft_pos`) and marked dead in a
  *    KB-scale deletion-vector sidecar — the DELETE-dv machinery
  *    ([[graft.txn.DeletionVectors]]) applied to UPDATE and MERGE;
  *  - replacement rows (UPDATE/MERGE-update images) and MERGE inserts
  *    APPEND as new files.
  *
  * A 1k-row UPDATE on a 100 TB table therefore writes kilobytes of
  * sidecar + one small file, instead of rewriting every touched ~1 GB
  * file. `graft_reorg` folds the vectors back off the hot path.
  *
  * Spark plans `WriteDelta` for an operation implementing
  * [[SupportsDelta]]: each task's [[DeltaWriter]] receives discriminated
  * delete(id) / update(id, row) / insert(row) calls, so exact CDF images
  * come for free — dead handles stage per task (with an 'u'/'d' kind),
  * update rows and insert rows write to SEPARATE data files.
  *
  * The commit step runs as few Spark jobs as it can:
  *  - affected files come from the writers: each task reports the
  *    basenames it wrote handles for, so the commit never re-reads or
  *    shuffles the handles to learn them;
  *  - the new vector folds the handles into bitmaps per partition and
  *    copies the affected files' carried bitmap rows as they are — one
  *    write job, no shuffle ([[DeletionVectors.stageVector]]);
  *  - update_preimage/delete rows join the handles back to a PLAIN scan
  *    of the affected files (the only re-read, proportional to AFFECTED
  *    files, not the table). No vector is applied there: the handles
  *    name rows that were live at scan time, and the identity check
  *    proves the files' pointers unchanged since.
  */
private[sources] class GraftDeltaRowLevelOperation(
    cmd: RowLevelOperation.Command,
    properties: Map[String, String],
    partitionColumns: Seq[String])
  extends RowLevelOperation with SupportsDelta {

  private val tablePath = properties("tablePath")
  @volatile private var builtScan: GraftBatchScan = _
  @volatile private var builtFilters: Array[
    org.apache.spark.sql.sources.Filter] = Array.empty

  override def command(): RowLevelOperation.Command = cmd

  /** (file, raw position) — exactly the identity a DV sidecar keys. */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftBatch.FileMetadataColumn),
    Expressions.column(GraftBatch.PosMetadataColumn))

  // keep update() discriminated from delete()+insert(): the CDF needs
  // exact update_preimage/update_postimage rows, not a delete/insert pair
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = properties ++ options.asCaseSensitiveMap().asScala
    new GraftBatchScanBuilder(GraftBatch.resolve(merged), merged) {
      override def build(): Scan = super.build() match {
        case g: GraftBatchScan =>
          builtScan = g; builtFilters = pushedFilters(); g
        case other => other
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(
          tablePath, info.schema(), partitionColumns,
          () => Option(builtScan), () => builtFilters, cmd.toString)
      }
    }

  // row ids arrive via rowId(); partition values ride the data row
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
}

/** One task's delta output: new data files (update images and inserts
  * written SEPARATELY so the commit can classify CDF rows without
  * re-deriving anything), the staged dead-handle files, and the
  * basenames of the data files those handles point into.
  */
private[sources] case class GraftDeltaCommitMessage(
    updateAdds: Seq[AddFile],
    insertAdds: Seq[AddFile],
    handleFiles: Seq[String],
    affectedFiles: Seq[String]) extends WriterCommitMessage

private[sources] object GraftDeltaBatchWrite {
  /** Staged dead-handle row shape: which file, which raw position, and
    * whether the row died to an UPDATE ('u') or a DELETE ('d').
    */
  val HandleSchema: StructType = StructType(Seq(
    StructField("file_name", StringType, nullable = false),
    StructField("row_index", LongType, nullable = false),
    StructField("kind", StringType, nullable = false)))
}

/** The merge-on-read commit: one DV directory (new dead rows + carried
  * prior kills of the affected files), re-adds of the affected files
  * with updated pointers, appends of the new files, exact CDF sidecars
  * — all in ONE log version, under the same two conflict checks as the
  * copy-on-write path (AddFile IDENTITY on every file gaining a
  * pointer; no concurrently appended file may have matched the read).
  */
private[sources] class GraftDeltaBatchWrite(
    tablePath: String,
    dataSchema: StructType,
    partCols: Seq[String],
    boundScan: () => Option[GraftBatchScan],
    pushedFilters: () => Array[org.apache.spark.sql.sources.Filter],
    cmdName: String) extends DeltaBatchWrite {

  private val op = s"${cmdName}_DV"
  private val txnId = java.util.UUID.randomUUID().toString.take(8)
  private[sources] val stagingRel = s".staging-rlh-$txnId"

  require(!dataSchema.fieldNames.contains(GraftBatch.FileMetadataColumn) &&
      !dataSchema.fieldNames.contains(GraftBatch.PosMetadataColumn),
    s"unexpected metadata column in the delta write data schema: " +
      dataSchema.simpleString)

  private def conf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(
      TaskFiles.prepare(tablePath, dataSchema, partCols),
      TaskFiles.prepare(tablePath, GraftDeltaBatchWrite.HandleSchema,
        Seq.empty, sidecarDir = Some(stagingRel)))

  private def dropStaging(): Unit = {
    val p = new Path(tablePath, stagingRel)
    try p.getFileSystem(conf).delete(p, true)
    catch { case _: Throwable => () }
  }

  private def collect(messages: Array[WriterCommitMessage])
      : Seq[GraftDeltaCommitMessage] =
    messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val msgs = collect(messages)
    val updateAdds = msgs.flatMap(_.updateAdds)
    val insertAdds = msgs.flatMap(_.insertAdds)
    val newAdds = updateAdds ++ insertAdds
    // only files named by SUCCESSFUL task commits count — the staging
    // dir may hold orphans from failed attempts
    val handlePaths = msgs.flatMap(_.handleFiles)
      .map(rel => new Path(tablePath, rel).toString)
    val log = new TxnLog(tablePath, conf)
    def fail(t: Throwable): Nothing = {
      GraftRowLevelOps.dropFiles(tablePath, conf, newAdds)
      dropStaging()
      throw t
    }
    try GraftRowLevelOps.validateReplacement(tablePath, conf, newAdds, log)
    catch { case t: Throwable => dropStaging(); throw t }

    // built once: the vector and the pre-images both read the handles
    val handles =
      if (handlePaths.isEmpty) None
      else Some(spark.read.schema(GraftDeltaBatchWrite.HandleSchema)
        .parquet(handlePaths: _*))
    try {
      // the writers report the files they marked rows in (≤ |files|)
      val affectedNames = msgs.flatMap(_.affectedFiles).toSet
      val scan = boundScan().getOrElse(throw new IllegalStateException(
        s"$op at $tablePath: no bound scan — the delta write cannot " +
          "locate the rows it marks dead"))
      // handles and DV sidecars key rows by file BASENAME — sound for
      // files this table wrote (names embed version + ordinal) but a
      // shallow-clone import can collide with a local name. A silent
      // collision would mark the WRONG file's positions dead: refuse.
      val dupNames = scan.boundResolved.files
        .groupBy(f => new Path(f.path).getName)
        .collect { case (n, fs) if fs.size > 1 => n }
      if (dupNames.nonEmpty)
        fail(new UnsupportedOperationException(
          s"$op at $tablePath in dv mode: ${dupNames.size} live file " +
            s"basename(s) collide (e.g. ${dupNames.head}; clone " +
            "imports?) — deletion-vector row identity is " +
            "basename-keyed; run in copy-on-write mode or deep-clone " +
            "first"))
      val byName = scan.boundResolved.files
        .map(f => new Path(f.path).getName -> f).toMap
      val affected = affectedNames.toSeq.sorted.map(n => byName.getOrElse(n,
        fail(new IllegalStateException(
          s"$op at $tablePath: handle names unknown file $n"))))

      val ts = System.currentTimeMillis()
      var attempt = 0
      var committed = false
      while (!committed) {
        val snap = log.snapshotLatest()
        TxnLog.assertWritable(snap, tablePath)
        // identity, not path: a concurrent DV delete re-adds the same
        // path with a NEW pointer — re-pointing it from OUR carried set
        // would silently resurrect the concurrently deleted rows
        val current = snap.files.map(f => f.path -> f).toMap
        val stale = affected.filterNot(a => current.get(a.path).contains(a))
        if (stale.nonEmpty)
          fail(new IllegalStateException(
            s"$op conflict at $tablePath: ${stale.size} scanned file(s) " +
              s"changed or vanished since the scan (e.g. " +
              s"${stale.head.path}) — re-run the statement"))
        val matching = GraftRowLevelOps.matchingConcurrentAppends(
          log, scan, pushedFilters())
        if (matching.nonEmpty)
          fail(new IllegalStateException(
            s"$op conflict at $tablePath: ${matching.size} file(s) " +
              s"appended concurrently may match the operation's read " +
              s"(e.g. ${matching.head.path}) — re-run the statement"))

        val version = snap.version + 1
        // the new vector: this statement's dead rows + the affected
        // files' prior kills (pointers replace, never chain)
        val dvRel: Option[String] = handles.map(h =>
          DeletionVectors.stageVector(spark, tablePath, version,
            h.select(col("file_name"), col("row_index")),
            carryFrom = affected))
        val removes = affected.map(f =>
          RemoveFile(f.path, ts, f.partitionValues))
        val readds = affected.map(_.copy(
          modificationTime = ts, dataChange = true, dv = dvRel))
        val protocol: Seq[Action] =
          if (dvRel.isEmpty ||
              snap.protocol.exists(_.minReaderVersion >= 2)) Seq.empty
          else Seq(Protocol(2, 2))
        val cdcActions: Seq[Action] =
          if (!ChangeDataFeed.enabled(snap)) Seq.empty
          else stageCdf(spark, snap, affected, handles, updateAdds,
            insertAdds, version)
        try {
          log.commit(version,
            protocol ++ removes ++ readds ++ newAdds ++ cdcActions :+
              CommitInfo(op, ts))
          committed = true
        } catch {
          case e: IllegalStateException
              if e.getMessage != null &&
                e.getMessage.startsWith("concurrent commit") =>
            // the staged vector is version-named: drop and re-stage
            // against the new head next attempt (CDC files re-stage too;
            // uncommitted leftovers are invisible and vacuum-swept)
            dvRel.foreach(DeletionVectors.dropVector(spark, tablePath, _))
            attempt += 1
            if (attempt > 20) fail(e)
            Thread.sleep(1L + scala.util.Random.nextInt(8))
        }
      }
    } finally dropStaging()
  }

  /** Exact change rows for the feed: update/delete PREIMAGES join the
    * dead handles back to the affected files' rows (the only re-read —
    * affected files, never the table); update POSTIMAGES and inserts
    * read straight from the just-staged new files.
    *
    * The pre-image scan applies no deletion vector: the handles name
    * rows that were live at scan time, and the commit's identity check
    * proved the affected files' pointers unchanged since, so the join
    * on the handles alone yields exactly the pre-images.
    */
  private def stageCdf(
      spark: org.apache.spark.sql.SparkSession,
      snap: Snapshot,
      affected: Seq[AddFile],
      handles: Option[org.apache.spark.sql.DataFrame],
      updateAdds: Seq[AddFile],
      insertAdds: Seq[AddFile],
      version: Long): Seq[CdcFile] = {
    val declared = snap.metadata.map(m =>
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
    val partitionColumns =
      snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    val pre = handles.filter(_ => affected.nonEmpty).map { h =>
      DeletionVectors.readFiles(spark, tablePath, affected, declared,
          withRowMeta = true, applyVectors = false)
        .join(h, col("_fn") === col("file_name") &&
          col("_ri") === col("row_index"))
        .withColumn(ChangeDataFeed.TypeCol,
          when(col("kind") === "u", ChangeDataFeed.UpdatePre)
            .otherwise(ChangeDataFeed.Delete))
        .drop("_fn", "_ri", "_path", "file_name", "row_index", "kind")
    }
    def readNew(adds: Seq[AddFile], kind: String) =
      if (adds.isEmpty) None
      else Some(declared.fold(spark.read)(s => spark.read.schema(s))
        .option("basePath", tablePath)
        .parquet(adds.map(a => TxnLog.dataPath(tablePath, a.path)): _*)
        .withColumn(ChangeDataFeed.TypeCol, lit(kind)))
    val frames = pre.toSeq ++
      readNew(updateAdds, ChangeDataFeed.UpdatePost).toSeq ++
      readNew(insertAdds, ChangeDataFeed.Insert).toSeq
    if (frames.isEmpty) Seq.empty
    else ChangeDataFeed.stage(spark, frames.reduce(_ unionByName _),
      tablePath, version, partitionColumns)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = collect(messages)
    GraftRowLevelOps.dropFiles(tablePath, conf,
      msgs.flatMap(m => m.updateAdds ++ m.insertAdds))
    dropStaging()
  }
}

private[sources] case class GraftDeltaWriterFactory(
    data: TaskFiles, handles: TaskFiles) extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(data, handles, partitionId, taskId)
}

/** One task's delta writer. Update images and inserts go to SEPARATE
  * data files (distinct name stems) so the commit can classify CDF rows
  * by file provenance; dead handles go to small parquet files flat in
  * the write's staging dir, which the commit reads back for the vector
  * and the pre-images and then drops. All three are the same
  * [[GraftStreamingDataWriter]] (Spark's parquet writer, names from
  * [[TableCommitProtocol]]) and all are lazy — a task that only deletes
  * writes no data file at all.
  */
private[sources] class GraftDeltaDataWriter(
    data: TaskFiles,
    handles: TaskFiles,
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private var updWriter: GraftStreamingDataWriter = _
  private var insWriter: GraftStreamingDataWriter = _
  private var handleWriter: GraftStreamingDataWriter = _
  private val touched = scala.collection.mutable.LinkedHashSet.empty[String]

  private def writeHandle(id: InternalRow, kind: String): Unit = {
    // rowId() order: (_graft_file absolute path, _graft_pos)
    val abs = id.getUTF8String(0).toString
    val name = abs.substring(abs.lastIndexOf('/') + 1)
    touched += name
    if (handleWriter == null)
      handleWriter =
        new GraftStreamingDataWriter(handles, "handles", partitionId,
          taskId)
    handleWriter.write(InternalRow(UTF8String.fromString(name),
      id.getLong(1), UTF8String.fromString(kind)))
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    writeHandle(id, "d")

  override def update(
      meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    writeHandle(id, "u")
    if (updWriter == null)
      updWriter =
        new GraftStreamingDataWriter(data, "part-s00001", partitionId, taskId)
    updWriter.write(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (insWriter == null)
      insWriter =
        new GraftStreamingDataWriter(data, "part-s00002", partitionId, taskId)
    insWriter.write(row)
  }

  private def writers = Seq(updWriter, insWriter, handleWriter).filter(_ != null)

  private def committed(w: GraftStreamingDataWriter) =
    Option(w).toSeq.flatMap(_.committed())

  override def commit(): WriterCommitMessage = {
    val now = System.currentTimeMillis()
    GraftDeltaCommitMessage(
      updateAdds = committed(updWriter).map(_.addFile(now, dataChange = true)),
      insertAdds = committed(insWriter).map(_.addFile(now, dataChange = true)),
      handleFiles = committed(handleWriter).map(_.relPath),
      affectedFiles = touched.toSeq)
  }

  override def abort(): Unit = writers.foreach(_.abort())

  override def close(): Unit = writers.foreach(_.close())
}
