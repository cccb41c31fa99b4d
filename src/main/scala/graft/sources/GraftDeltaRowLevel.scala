package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import scala.collection.mutable
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
  * come for free — each task folds its dead row ids into per-file
  * Roaring bitmaps, one set for updates ('u') and one for deletes ('d'),
  * and writes update rows and insert rows to SEPARATE data files.
  *
  * The commit step runs as few Spark jobs as it can:
  *  - the kills arrive in the tasks' commit messages: the affected files
  *    are their keys, and the driver ORs them per file, so nothing is
  *    staged, re-read or shuffled to learn them;
  *  - the driver writes the new vector — these kills plus the affected
  *    files' carried kills from the masks the scan loaded — in place,
  *    with no Spark job ([[DeletionVectors.commitVector]]);
  *  - update_preimage/delete rows come from a PLAIN scan of the affected
  *    files (the only re-read, proportional to AFFECTED files, not the
  *    table) that keeps the positions this statement killed and tags
  *    each by its kind. No vector is applied there: the kills name rows
  *    that were live at scan time, and the identity check proves the
  *    files' pointers unchanged since.
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
  * re-deriving anything) and the rows it killed, as serialized Roaring
  * bitmaps of raw positions per data file basename: those an UPDATE
  * replaced and those a DELETE removed.
  */
private[sources] case class GraftDeltaCommitMessage(
    updateAdds: Seq[AddFile],
    insertAdds: Seq[AddFile],
    updated: Seq[(String, Array[Byte])],
    deleted: Seq[(String, Array[Byte])]) extends WriterCommitMessage

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

  require(!dataSchema.fieldNames.contains(GraftBatch.FileMetadataColumn) &&
      !dataSchema.fieldNames.contains(GraftBatch.PosMetadataColumn),
    s"unexpected metadata column in the delta write data schema: " +
      dataSchema.simpleString)

  private def conf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(TaskFiles.prepare(tablePath, dataSchema, partCols))

  private def collect(messages: Array[WriterCommitMessage])
      : Seq[GraftDeltaCommitMessage] =
    messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val msgs = collect(messages)
    val updateAdds = msgs.flatMap(_.updateAdds)
    val insertAdds = msgs.flatMap(_.insertAdds)
    val newAdds = updateAdds ++ insertAdds
    // this statement's kills per file, from the tasks Spark accepted
    val updated = DeletionVectors.orKills(msgs.flatMap(_.updated))
    val kills =
      DeletionVectors.orKills(msgs.flatMap(m => m.updated ++ m.deleted))
    val log = new TxnLog(tablePath, conf)
    def fail(t: Throwable): Nothing = {
      GraftRowLevelOps.dropFiles(tablePath, conf, newAdds)
      throw t
    }
    GraftRowLevelOps.validateReplacement(tablePath, conf, newAdds, log)

    val scan = boundScan().getOrElse(throw new IllegalStateException(
      s"$op at $tablePath: no bound scan — the delta write cannot " +
        "locate the rows it marks dead"))
    // kills and DV sidecars key rows by file BASENAME — sound for files
    // this table wrote (names embed version + ordinal) but a
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
    val affected = kills.keys.toSeq.sorted.map(n => byName.getOrElse(n,
      fail(new IllegalStateException(
        s"$op at $tablePath: a killed row names unknown file $n"))))

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
      // the new vector: this statement's kills + the affected files'
      // prior kills (pointers replace, never chain)
      val vector =
        if (kills.isEmpty) None
        else Some(DeletionVectors.commitVector(spark, tablePath, snap,
          version, ts, kills, affected, scan.masks))
      val cdcActions: Seq[Action] =
        if (!ChangeDataFeed.enabled(snap)) Seq.empty
        else stageCdf(spark, snap, affected, kills, updated, updateAdds,
          insertAdds, version)
      try {
        log.commit(version,
          vector.toSeq.flatMap(_._2) ++ newAdds ++ cdcActions :+
            CommitInfo(op, ts))
        committed = true
      } catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.startsWith("concurrent commit") =>
          // the vector is version-named: drop it and write it again
          // against the new head next attempt (CDC files re-stage too;
          // uncommitted leftovers are invisible and vacuum-swept)
          vector.foreach(v => DeletionVectors.dropVector(spark, tablePath, v._1))
          attempt += 1
          if (attempt > 20) fail(e)
          Thread.sleep(1L + scala.util.Random.nextInt(8))
      }
    }
  }

  /** Exact change rows for the feed: update/delete PREIMAGES are the
    * killed positions of a plain scan of the affected files (the only
    * re-read — affected files, never the table), an update's where
    * `updated` names it; update POSTIMAGES and inserts read straight from
    * the just-written new files.
    *
    * The pre-image scan applies no deletion vector: the kills name rows
    * that were live at scan time, and the commit's identity check proved
    * the affected files' pointers unchanged since, so the kills alone
    * pick exactly the pre-images.
    */
  private def stageCdf(
      spark: org.apache.spark.sql.SparkSession,
      snap: Snapshot,
      affected: Seq[AddFile],
      kills: Map[String, Roaring64Bitmap],
      updated: Map[String, Roaring64Bitmap],
      updateAdds: Seq[AddFile],
      insertAdds: Seq[AddFile],
      version: Long): Seq[CdcFile] = {
    val declared = snap.metadata.map(m =>
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
    val partitionColumns =
      snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    // every affected file keyed, so a file with no entry in `bms` picks none
    def picks(bms: Map[String, Roaring64Bitmap]) =
      DeletionVectors.picked(spark, col("_fn"), col("_ri"),
        kills.keys.map(n => (UTF8String.fromString(n): Any) ->
          (bms.getOrElse(n, new Roaring64Bitmap()) -> true)).toMap)
    val pre = if (affected.isEmpty) None else Some(
      DeletionVectors.readFiles(spark, tablePath, affected, declared,
          withRowMeta = true, masks = Some(DeletionVectors.Masks.empty))
        .filter(picks(kills))
        .withColumn(ChangeDataFeed.TypeCol,
          when(picks(updated), ChangeDataFeed.UpdatePre)
            .otherwise(ChangeDataFeed.Delete))
        .drop("_fn", "_ri", "_path"))
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
  }
}

private[sources] case class GraftDeltaWriterFactory(data: TaskFiles)
    extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(data, partitionId, taskId)
}

/** One task's delta writer. Update images and inserts go to SEPARATE
  * data files (distinct name stems) so the commit can classify CDF rows
  * by file provenance; both are the same [[GraftStreamingDataWriter]]
  * (Spark's parquet writer, names from [[TableCommitProtocol]]) and both
  * are lazy — a task that only deletes writes no file at all. Killed
  * row ids fold into one Roaring bitmap per data file and kind, which
  * the commit message carries to the driver.
  */
private[sources] class GraftDeltaDataWriter(
    data: TaskFiles,
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private var updWriter: GraftStreamingDataWriter = _
  private var insWriter: GraftStreamingDataWriter = _
  private val updated = mutable.HashMap.empty[String, Roaring64Bitmap]
  private val deleted = mutable.HashMap.empty[String, Roaring64Bitmap]

  private def kill(into: mutable.HashMap[String, Roaring64Bitmap],
      id: InternalRow): Unit = {
    // rowId() order: (_graft_file absolute path, _graft_pos)
    val abs = id.getUTF8String(0).toString
    into.getOrElseUpdate(abs.substring(abs.lastIndexOf('/') + 1),
      new Roaring64Bitmap()).addLong(id.getLong(1))
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    kill(deleted, id)

  override def update(
      meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    kill(updated, id)
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

  private def writers = Seq(updWriter, insWriter).filter(_ != null)

  private def committed(w: GraftStreamingDataWriter) =
    Option(w).toSeq.flatMap(_.committed())

  private def serialized(kills: mutable.HashMap[String, Roaring64Bitmap]) =
    kills.toSeq.map { case (f, bm) => f -> DeletionVectors.serializeBitmap(bm) }

  override def commit(): WriterCommitMessage = {
    val now = System.currentTimeMillis()
    GraftDeltaCommitMessage(
      updateAdds = committed(updWriter).map(_.addFile(now, dataChange = true)),
      insertAdds = committed(insWriter).map(_.addFile(now, dataChange = true)),
      updated = serialized(updated),
      deleted = serialized(deleted))
  }

  override def abort(): Unit = writers.foreach(_.abort())

  override def close(): Unit = writers.foreach(_.close())
}
