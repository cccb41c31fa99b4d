package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Group-based (copy-on-write) row-level operations — the DSv2 surface
  * behind SQL `MERGE INTO`, `UPDATE`, and predicate-shaped `DELETE`
  * that `SupportsDelete` refuses.
  *
  * The contract Spark's rewrite plans rely on: the operation's SCAN
  * reads the candidate file groups (file pruning + the runtime
  * `_graft_file` group filter narrow it to files that actually contain
  * matches), the WRITE receives the complete replacement content of
  * those groups, and commit() lands removes(scanned files) + adds(new
  * files) in ONE log version. Untouched files are never rewritten; a
  * concurrent writer that removed a scanned file fails the operation
  * loudly instead of resurrecting or double-counting rows.
  */
private[sources] class GraftRowLevelOperation(
    cmd: RowLevelOperation.Command,
    properties: Map[String, String],
    partitionColumns: Seq[String]) extends RowLevelOperation {

  private val tablePath = properties("tablePath")
  // the scan instance doubles as the replaced-group record: after
  // execution its `kept` list is exactly the post-runtime-filter group
  // set the write must replace
  @volatile private var builtScan: GraftBatchScan = _
  // the scan's pushed filters — the operation's read predicate, used to
  // decide whether a concurrently appended file could have matched
  @volatile private var builtFilters: Array[
    org.apache.spark.sql.sources.Filter] = Array.empty

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = properties ++ options.asCaseSensitiveMap().asScala
    new GraftBatchScanBuilder(GraftBatch.resolve(merged), merged) {
      override def build(): Scan = super.build() match {
        case g: GraftBatchScan =>
          builtScan = g; builtFilters = pushedFilters(); g
        case other => other // agg pushdown never fires under a rewrite
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new GraftRowLevelBatchWrite(
          tablePath, info.schema(), partitionColumns,
          () => Option(builtScan), () => builtFilters,
          cmd.toString)
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftBatch.FileMetadataColumn))
}

/** Shared machinery of the two row-level writes (group-based
  * copy-on-write [[GraftRowLevelBatchWrite]] and delta-based
  * merge-on-read [[GraftDeltaBatchWrite]]): staged-file cleanup, the
  * one-pass replacement validation, and the concurrent-append conflict
  * probe — the rules are identical, only what gets committed differs.
  */
private[sources] object GraftRowLevelOps {

  def dropFiles(
      tablePath: String,
      conf: org.apache.hadoop.conf.Configuration,
      adds: Seq[AddFile]): Unit = {
    val fs = new Path(tablePath).getFileSystem(conf)
    adds.foreach(a =>
      try fs.delete(new Path(TxnLog.dataPath(tablePath, a.path)), false)
      catch { case _: Throwable => () })
  }

  /** One-pass validation of new replacement/insert rows: read them back
    * with the DECLARED schema of `snap` and enforce CHECK constraints
    * plus generated-column agreement — the same rules the append path
    * runs. The rewrite plan supplies every column, so generated columns
    * are VALIDATED (a value disagreeing with its GENERATED ALWAYS AS
    * expression fails the statement) rather than recomputed. The caller
    * drops the files when it throws.
    */
  def validateReplacement(
      tablePath: String,
      adds: Seq[AddFile],
      snap: Snapshot): Unit = {
    if (adds.isEmpty) return
    val meta = snap.metadata.getOrElse(return)
    val genChecks = meta.generatedColumns.toSeq.map { case (c, e) =>
      s"`$c` <=> ($e)"
    }
    if (meta.constraints.isEmpty && genChecks.isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    val declared = org.apache.spark.sql.types.DataType
      .fromJson(meta.schemaJson).asInstanceOf[StructType]
    val staged = spark.read.schema(declared)
      .option("basePath", tablePath)
      .parquet(adds.map(a => TxnLog.dataPath(tablePath, a.path)): _*)
    TableWriter.enforceConstraints(
      staged, meta.constraints ++ genChecks, tablePath)
  }

  /** Concurrently appended files that may have matched the operation's
    * read, among the commits after the scan's bound version up to `snap`
    * (versions are contiguous, so they are read by number): stats overlap
    * against the pushed predicate ranges; with no pushable predicate the
    * read was effectively full-table (a MERGE join), so ANY genuinely new
    * dataChange file conflicts.
    */
  def matchingConcurrentAppends(
      log: TxnLog,
      snap: Snapshot,
      scan: GraftBatchScan,
      pushed: Array[org.apache.spark.sql.sources.Filter]): Seq[AddFile] = {
    val resolved = scan.boundResolved
    val boundPaths = resolved.files.map(_.path).toSet
    val appended = (scan.boundVersion + 1 to snap.version)
      .flatMap(v => log.read(v))
      .collect {
        case a: AddFile if a.dataChange && !boundPaths.contains(a.path) => a
      }
    val ranges = pushed.flatMap(GraftBatch.rangesOf).toSeq
    if (appended.isEmpty) Seq.empty
    else if (ranges.isEmpty) appended
    else DataSkipping.pruneFilesAll(appended,
      ColumnMapping.physicalSchema(resolved.schema, resolved.mapping),
      ranges.map { case (c, lo, hi) =>
        (ColumnMapping.physicalName(c, resolved.mapping), lo, hi)
      })
  }
}

/** The replacing write: task writers are the streaming sink's
  * [[GraftStreamingDataWriter]] (Spark's parquet writer, hive layout,
  * names and footer stats from [[TableCommitProtocol]]);
  * the driver validates the replacement rows against the table's
  * write-path rules (CHECK constraints, generated columns), then
  * commits removes+adds atomically under two conflict checks:
  *
  *  - IDENTITY, not path, on every replaced file — a concurrent
  *    deletion-vector delete re-commits the SAME path with a new dv
  *    pointer, which a path-liveness check would wave through and
  *    thereby resurrect the concurrently deleted rows;
  *  - no concurrently APPENDED file may have matched the operation's
  *    read (stats overlap against the pushed predicate ranges; a read
  *    with no pushable predicate — e.g. a MERGE join — conservatively
  *    conflicts with any append), otherwise a row inserted during a
  *    MERGE on the same key would survive as a duplicate.
  */
private[sources] class GraftRowLevelBatchWrite(
    tablePath: String,
    writeSchema: StructType,
    partCols: Seq[String],
    boundScan: () => Option[GraftBatchScan],
    pushedFilters: () => Array[org.apache.spark.sql.sources.Filter],
    op: String) extends BatchWrite {

  require(!writeSchema.fieldNames.contains(GraftBatch.FileMetadataColumn),
    s"unexpected metadata column in the replace-data write schema: " +
      writeSchema.simpleString)

  private def conf = org.apache.spark.sql.SparkSession.active
    .sessionState.newHadoopConf()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftRowLevelWriterFactory(
      TaskFiles.prepare(tablePath, writeSchema, partCols))

  private def dropFiles(adds: Seq[AddFile]): Unit =
    GraftRowLevelOps.dropFiles(tablePath, conf, adds)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = messages.flatMap {
      case m: GraftStreamCommitMessage => m.adds
      case _ => Seq.empty
    }.toSeq
    val scan = boundScan()
    val removes = scan.map(_.kept).getOrElse(Seq.empty)
    val log = new TxnLog(tablePath, conf)
    val ts = System.currentTimeMillis()
    var attempt = 0
    var validated: Option[Option[Metadata]] = None
    while (true) {
      val snap = log.snapshotLatest()
      TxnLog.assertWritable(snap, tablePath)
      // the new rows obey the table's rules as of the commit
      if (!validated.contains(snap.metadata)) {
        try GraftRowLevelOps.validateReplacement(tablePath, adds, snap)
        catch { case t: Throwable => dropFiles(adds); throw t }
        validated = Some(snap.metadata)
      }
      // every replaced file must still be live AS SCANNED — identity,
      // not path: a concurrent DV delete re-adds the same path with a
      // new dv pointer, and replacing it from the pre-DV content would
      // silently resurrect the concurrently deleted rows
      val current = snap.files.map(f => f.path -> f).toMap
      val stale = removes.filterNot(r => current.get(r.path).contains(r))
      if (stale.nonEmpty) {
        dropFiles(adds)
        throw new IllegalStateException(
          s"$op conflict at $tablePath: ${stale.size} scanned file(s) " +
            s"changed or vanished since the scan (e.g. " +
            s"${stale.head.path}) — re-run the statement")
      }
      // no concurrently appended file may have matched this operation's
      // read: stats overlap vs the pushed predicate ranges; with no
      // pushable predicate the read was effectively full-table (MERGE
      // join), so ANY genuinely new file conflicts
      scan.foreach { sc =>
        val matching = GraftRowLevelOps.matchingConcurrentAppends(
          log, snap, sc, pushedFilters())
        if (matching.nonEmpty) {
          dropFiles(adds)
          throw new IllegalStateException(
            s"$op conflict at $tablePath: ${matching.size} file(s) " +
              s"appended concurrently may match the operation's read " +
              s"(e.g. ${matching.head.path}) — re-run the statement")
        }
      }
      try {
        log.commit(snap.version + 1,
          removes.map(f => RemoveFile(f.path, ts, f.partitionValues)) ++
            adds :+ CommitInfo(op, ts))
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

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    dropFiles(messages.flatMap {
      case m: GraftStreamCommitMessage => m.adds
      case _ => Seq.empty
    }.toSeq)
}

private[sources] case class GraftRowLevelWriterFactory(files: TaskFiles)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftStreamingDataWriter(files, "part-s00000", partitionId, taskId)
}
