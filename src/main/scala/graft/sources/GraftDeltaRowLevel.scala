package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
  * Roaring bitmaps and writes update images and inserts as new files.
  *
  * The commit step runs no Spark job of its own:
  *  - the kills arrive in the tasks' commit messages: the affected files
  *    are their keys, and the driver ORs them per file, so nothing is
  *    staged, re-read or shuffled to learn them;
  *  - the driver writes the new vector — these kills plus the affected
  *    files' carried kills from the masks the scan loaded — in place,
  *    with no Spark job ([[DeletionVectors.commitVector]]);
  *  - with the change feed on, the tasks write the change rows as they
  *    see them ([[ChangeRows]]): the old row arrives as the preserved
  *    `_graft_preimage` metadata column (update_preimage, delete), the
  *    new one as the written row (update_postimage, insert). Nothing is
  *    re-read or read back, and no job shuffles the change rows (a
  *    MERGE's join shuffle carries the old row along with the target
  *    row); the sidecars are per (task, changed partition).
  */
private[sources] class GraftDeltaRowLevelOperation(
    cmd: RowLevelOperation.Command,
    properties: Map[String, String],
    partitionColumns: Seq[String],
    changeFeed: Boolean)
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
          () => Option(builtScan), () => builtFilters, cmd.toString,
          preimages = changeFeed)
      }
    }

  // row ids arrive via rowId(); partition values ride the data row; the
  // old row, for the change feed's pre-images (row ids must not be null,
  // so it cannot ride there)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (changeFeed) Array(Expressions.column(GraftBatch.PreimageMetadataColumn))
    else Array.empty
}

/** One task's delta output: new data files (update images and inserts),
  * the rows it killed (updated or deleted), as serialized Roaring bitmaps
  * of raw positions per data file basename, and the change-data sidecars
  * it wrote.
  */
private[sources] case class GraftDeltaCommitMessage(
    adds: Seq[AddFile],
    kills: Seq[(String, Array[Byte])],
    changes: Seq[CdcFile]) extends WriterCommitMessage

/** The merge-on-read commit: one DV directory (new dead rows + carried
  * prior kills of the affected files), re-adds of the affected files
  * with updated pointers, appends of the new files, exact CDF sidecars
  * — all in ONE log version, under the same two conflict checks as the
  * copy-on-write path (AddFile IDENTITY on every file gaining a
  * pointer; no concurrently appended file may have matched the read).
  *
  * The change feed is on for the statement iff it is on in the scan's
  * bound snapshot; `preimages` says the plan carries the old rows it
  * then needs. A statement that finds the setting changed, at the write
  * or at the commit, fails as a conflict. Sidecars are named for the
  * version after the bound one; a commit that lands later renames them
  * first, so each carries the version it commits at.
  */
private[sources] class GraftDeltaBatchWrite(
    tablePath: String,
    dataSchema: StructType,
    partCols: Seq[String],
    boundScan: () => Option[GraftBatchScan],
    pushedFilters: () => Array[org.apache.spark.sql.sources.Filter],
    cmdName: String,
    preimages: Boolean = false) extends DeltaBatchWrite {

  private val op = s"${cmdName}_DV"

  private lazy val changeFeed: Boolean = boundScan()
    .exists(s => ChangeDataFeed.enabled(s.boundResolved.tableProperties))

  private def feedConflict() = new IllegalStateException(
    s"$op conflict at $tablePath: the change data feed was switched " +
      "on or off since the statement was planned — re-run the statement")

  require(!dataSchema.fieldNames.contains(GraftBatch.FileMetadataColumn) &&
      !dataSchema.fieldNames.contains(GraftBatch.PosMetadataColumn),
    s"unexpected metadata column in the delta write data schema: " +
      dataSchema.simpleString)

  private def conf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    if (changeFeed != preimages) throw feedConflict()
    val changes = boundScan().filter(_ => changeFeed).map { scan =>
      // the pre-image struct is the bound schema's columns, in order
      require(scan.boundResolved.schema.fieldNames.sameElements(
          dataSchema.fieldNames),
        s"$op at $tablePath: write columns ${dataSchema.simpleString} " +
          s"differ from the scanned ${scan.boundResolved.schema.simpleString}")
      ChangeRows.prepare(tablePath, dataSchema,
        scan.boundResolved.partitionColumns, scan.boundVersion + 1)
    }
    GraftDeltaWriterFactory(TaskFiles.prepare(tablePath, dataSchema, partCols),
      changes)
  }

  private def collect(messages: Array[WriterCommitMessage])
      : Seq[GraftDeltaCommitMessage] =
    messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val msgs = collect(messages)
    val newAdds = msgs.flatMap(_.adds)
    var changes = msgs.flatMap(_.changes)
    // this statement's kills per file, from the tasks Spark accepted
    val kills = DeletionVectors.orKills(msgs.flatMap(_.kills))
    val log = new TxnLog(tablePath, conf)
    def fail(t: Throwable): Nothing = {
      dropFiles(newAdds, changes)
      throw t
    }

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
    var validated: Option[Option[Metadata]] = None
    var named = scan.boundVersion + 1 // the version the sidecars carry
    while (!committed) {
      val snap = log.snapshotLatest()
      TxnLog.assertWritable(snap, tablePath)
      if (ChangeDataFeed.enabled(snap) != changeFeed) fail(feedConflict())
      // the new rows obey the table's rules as of the commit
      if (!validated.contains(snap.metadata)) {
        try GraftRowLevelOps.validateReplacement(tablePath, newAdds, snap)
        catch { case t: Throwable => fail(t) }
        validated = Some(snap.metadata)
      }
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
        log, snap, scan, pushedFilters())
      if (matching.nonEmpty)
        fail(new IllegalStateException(
          s"$op conflict at $tablePath: ${matching.size} file(s) " +
            s"appended concurrently may match the operation's read " +
            s"(e.g. ${matching.head.path}) — re-run the statement"))

      val version = snap.version + 1
      if (version != named) {
        changes =
          try changes.map(ChangeRows.renamed(tablePath, conf, _, version))
          catch { case t: Throwable => fail(t) }
        named = version
      }
      // the new vector: this statement's kills + the affected files'
      // prior kills (pointers replace, never chain)
      val vector =
        if (kills.isEmpty) None
        else Some(DeletionVectors.commitVector(spark, tablePath, snap,
          version, ts, kills, affected, scan.masks))
      try {
        log.commit(version,
          vector.toSeq.flatMap(_._2) ++ newAdds ++ changes :+
            CommitInfo(op, ts))
        committed = true
      } catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.startsWith("concurrent commit") =>
          // the vector is version-named: drop it and write it again
          // against the new head next attempt (the sidecars are renamed)
          vector.foreach(v => DeletionVectors.dropVector(spark, tablePath, v._1))
          attempt += 1
          if (attempt > 20) fail(e)
          Thread.sleep(1L + scala.util.Random.nextInt(8))
      }
    }
  }

  private def dropFiles(adds: Seq[AddFile], changes: Seq[CdcFile]): Unit = {
    GraftRowLevelOps.dropFiles(tablePath, conf, adds)
    ChangeRows.drop(tablePath, conf, changes)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = collect(messages)
    dropFiles(msgs.flatMap(_.adds), msgs.flatMap(_.changes))
  }
}

private[sources] case class GraftDeltaWriterFactory(data: TaskFiles,
    changes: Option[ChangeRows]) extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(data, changes.map(_.writer(partitionId, taskId)),
      partitionId, taskId)
}

/** One task's delta writer. Update images and inserts go to new data
  * files through [[GraftStreamingDataWriter]] (Spark's parquet writer,
  * names from [[TableCommitProtocol]]), opened lazily — a task that only
  * deletes writes no data file at all. Killed row ids fold into one
  * Roaring bitmap per data file, which the commit message carries to the
  * driver. With the change feed on, every call also writes its change
  * rows: the old row from `meta` (the `_graft_preimage` struct), the new
  * one from `row`.
  */
private[sources] class GraftDeltaDataWriter(
    data: TaskFiles,
    changes: Option[ChangeRows.Writer],
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private var rows: GraftStreamingDataWriter = _
  private val kills = mutable.HashMap.empty[String, Roaring64Bitmap]
  private val width = data.schema.length

  private def kill(id: InternalRow): Unit = {
    // rowId() order: (_graft_file absolute path, _graft_pos)
    val abs = id.getUTF8String(0).toString
    kills.getOrElseUpdate(abs.substring(abs.lastIndexOf('/') + 1),
      new Roaring64Bitmap()).addLong(id.getLong(1))
  }

  private def add(row: InternalRow, kind: String): Unit = {
    if (rows == null)
      rows = new GraftStreamingDataWriter(data, "part-s00001", partitionId, taskId)
    rows.write(row)
    changes.foreach(_.write(row, kind))
  }

  private def preimage(meta: InternalRow, kind: String): Unit =
    changes.foreach(_.write(meta.getStruct(0, width), kind))

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    kill(id)
    preimage(meta, ChangeDataFeed.Delete)
  }

  override def update(
      meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    kill(id)
    preimage(meta, ChangeDataFeed.UpdatePre)
    add(row, ChangeDataFeed.UpdatePost)
  }

  override def insert(row: InternalRow): Unit = add(row, ChangeDataFeed.Insert)

  override def commit(): WriterCommitMessage = {
    val now = System.currentTimeMillis()
    GraftDeltaCommitMessage(
      adds = Option(rows).toSeq.flatMap(_.committed())
        .map(_.addFile(now, dataChange = true)),
      kills = kills.toSeq.map { case (f, bm) =>
        f -> DeletionVectors.serializeBitmap(bm) },
      changes = changes.toSeq.flatMap(_.committed()))
  }

  override def abort(): Unit = {
    if (rows != null) rows.abort()
    changes.foreach(_.abort())
  }

  override def close(): Unit = {
    if (rows != null) rows.close()
    changes.foreach(_.close())
  }
}
