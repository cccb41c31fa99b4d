package graft.sources

import graft.txn._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch streaming source over the graft transaction
  * log — the `spark.readStream.format("graft.sources.GraftCdc")` surface
  * (SURVEY.md §7.1 step 4). Offsets are [[CdcOffset]] JSON in Spark's own
  * streaming checkpoint; each micro-batch covers the commits between two
  * offsets, FULL_COPY snapshot first when `includeHistory=true`
  * (two-phase backfill, reference semantics T2).
  *
  * Each data-file event becomes one InputPartition — or SEVERAL, when the
  * file exceeds `spark.sql.files.maxPartitionBytes`: large files (a
  * CONVERTed foreign lake's multi-GB backfill, typically) byte-range
  * split exactly like the batch scan ([[ParquetSplits]]), so a snapshot
  * phase parallelizes across the cluster instead of serializing each file
  * through one task. Row positions stay file-absolute across splits, so
  * mid-file resume offsets and deletion-vector positions are
  * split-invariant. Partitions read through the stream's [[FileRows]] —
  * Spark's parquet reader, the one the batch [[CdcReader.cdc]] runs,
  * built once per stream instance — which applies the resume bounds and
  * deletion vectors and attaches the CDC envelope.
  */
class GraftCdc extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // fail fast on bad options at load(), not first batch
    val parsed = CdcOptions.parse(options.asCaseSensitiveMap().asScala.toMap)
    val payload = GraftCdc.declaredSchema(parsed.tablePath, new Configuration())
    GraftCdc.refuseEnvelopeClash(payload, parsed.tablePath)
    GraftCdc.envelopeSchema(payload)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCdcTable(schema, properties.asScala.toMap)
}

object GraftCdc {

  /** The change envelope every event carries ahead of the row. */
  private val Envelope: Seq[StructField] = Seq(
    StructField("op", StringType, nullable = false),
    StructField("partition_value", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("commit_version", LongType, nullable = false))

  val EnvelopeCols: Int = Envelope.size

  def declaredSchema(tablePath: String, conf: Configuration): StructType = {
    require(tablePath != null && tablePath.nonEmpty, "tablePath is required")
    val log = new TxnLog(tablePath, conf)
    log.snapshotLatest().metadata
      .map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"no Metadata action in $tablePath — cannot infer schema"))
  }

  /** Refuse a table with a column named like an envelope column: the
    * stream would carry two columns of that name, and any later
    * reference to it would fail as ambiguous. Names compare as Spark
    * resolves them, case-insensitively.
    */
  def refuseEnvelopeClash(payload: StructType, tablePath: String): Unit = {
    val names = Envelope.map(_.name)
    val clash = payload.fieldNames.filter(n =>
      names.exists(_.equalsIgnoreCase(n)))
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"graft-cdc cannot stream $tablePath: table column(s) " +
          clash.map(c => s"`$c`").mkString(", ") + " share a name with " +
          s"the change envelope (${names.mkString(", ")}); rename the " +
          "column(s), or read the table through graft-cdf or " +
          "readStream.table")
  }

  // payload is always nullable on read: under schema evolution, files
  // written before an add-column commit surface that column (or nested
  // field) as null
  def envelopeSchema(payload: StructType): StructType =
    StructType(Envelope ++ FileRows.asNullable(payload).fields)
}

private[sources] class GraftCdcTable(
    tableSchema: StructType,
    properties: Map[String, String]) extends Table with SupportsRead {

  override def name(): String = s"graftcdc(${properties.getOrElse("tablePath", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftCdcMicroBatchStream(tableSchema,
          properties ++ options.asCaseSensitiveMap().asScala)
    }
}

private[sources] class GraftCdcMicroBatchStream(
    schema: StructType,
    options: Map[String, String])
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val opts = CdcOptions.parse(options)
  private val spark = org.apache.spark.sql.SparkSession.active
  // session Hadoop conf captured at construction; the file readers carry it
  // to the executors — s3a/hdfs credentials configured on the session work
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val readers = new FileRows.PerSchema(spark, hadoopConf)
  // session SQLConf handle captured here (planInputPartitions runs on the
  // stream-execution thread, where the thread-local SQLConf.get is not
  // guaranteed to be this session's) — read live at plan time so conf
  // changes between micro-batches apply
  private val sqlConf = spark.sessionState.conf
  private def log = new TxnLog(opts.tablePath, hadoopConf)


  override def initialOffset(): Offset = {
    val start = opts.resolveStartVersion(log)
    val phase =
      if (opts.includeHistory) CdcOffset.FullCopy else CdcOffset.Incremental
    WrappedOffset(CdcOffset(phase, start, -1, -1))
  }

  // Last version this stream instance CONFIRMED committed — seeds the
  // forward probe so steady-state latest-version discovery is O(new
  // commits) exists() probes, never an O(retained log) directory
  // listing per trigger (TxnLog.latestVersionFrom has the contiguity
  // argument; FileCountRehearsalSpec pins the economics).
  @volatile private var lastSeenVersion: Long = -1L

  private def latestVersionProbed(): Option[Long] = {
    val lv = log.latestVersionFrom(lastSeenVersion)
    lv.foreach(v => if (v > lastSeenVersion) lastSeenVersion = v)
    lv
  }

  override def latestOffset(): Offset = {
    val latest = cappedV(latestVersionProbed().getOrElse(0L))
    WrappedOffset(CdcOffset(CdcOffset.Incremental, latest, -1, -1))
  }

  // ------ Trigger.AvailableNow ------
  // The "drain the backlog in bounded batches, then STOP" contract: the
  // log's latest version is pinned once at query start, every admission
  // path refuses to pass it, and when the stream reaches the pin Spark
  // sees no new data and terminates. Commits landing after the pin wait
  // for the next run — exactly Delta's availableNow semantics, and the
  // operational shape of the reference's "full copy then stop" intent
  // (DeltaCheckpoint.java:35–41) without its never-terminating loop.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestVersionProbed().getOrElse(0L))

  /** Clamp a candidate end version to the AvailableNow pin (if armed). */
  private def cappedV(v: Long): Long =
    availableNowCap.fold(v)(math.min(v, _))

  // ------ admission control (backpressure) ------
  // The Spark-native form of the reference's bounded blocking queue
  // (DeltaLakeConnectorSource.java:57, 98–100): each micro-batch admits at
  // most maxVersionsPerTrigger commits and/or maxFilesPerTrigger data-file
  // events, so a restart against a deep backlog drains in bounded batches
  // instead of swallowing the whole log at once.

  // ------ planner memo ------
  // rowCappedEnd and planInputPartitions both need the SAME event list
  // within a trigger, and a row-capped FULL_COPY backfill re-enters the
  // same snapshot version for O(rows/cap) consecutive triggers. Without
  // this memo every call replays checkpoint+tail on the driver, so a
  // 5M-file backfill drained at maxRowsPerTrigger would pay
  // O(files × triggers) total driver work. Committed versions are
  // immutable, so entries never invalidate; access-order eviction bounds
  // driver state on a long-running tail (the backfill holds one key, the
  // tail a rolling handful).
  private val eventCache =
    new java.util.LinkedHashMap[(Int, Long), IndexedSeq[CdcFileEvent]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Long), IndexedSeq[CdcFileEvent]])
          : Boolean = size() > 64
    }
  private def memoEvents(phase: Int, v: Long)(
      build: => IndexedSeq[CdcFileEvent]): IndexedSeq[CdcFileEvent] =
    eventCache.synchronized {
      val k = (phase, v)
      val hit = eventCache.get(k)
      if (hit != null) hit
      else { val b = build; eventCache.put(k, b); b }
    }

  /** Ordered file events of one commit (log order — the index space of
    * CdcOffset.fileIndex for INCREMENTAL offsets). Memoized per version:
    * admission walks a version and planning replays the same one.
    *
    * Deletion-vector transitions (Remove(p) + Add(p, dv) in one commit)
    * surface as ONE op='d' event whose reader emits only the rows that
    * died at this version — the whole-file 'r'/'c' pair is suppressed.
    * Offsets stay in RAW row-position space (the reader skips, never
    * renumbers), so mid-file resume is unchanged.
    */
  private def fileEventsOf(l: TxnLog, v: Long): IndexedSeq[CdcFileEvent] =
    memoEvents(CdcOffset.Incremental, v)(buildFileEventsOf(l, v))

  private def buildFileEventsOf(l: TxnLog, v: Long): IndexedSeq[CdcFileEvent] = {
    val actions = l.read(v)
    val dvPaths = actions.collect {
      case a: AddFile if a.dataChange && a.dv.isDefined => a.path
    }.toSet
    // Pre-commit file state (DV pointers + sizes), resolved only if this
    // commit actually removes a file outside a DV transition
    // (rewrite-style ops): a removed file that carried a vector emits
    // only its LIVE rows as 'r' — its dead rows already streamed as
    // op='d' at an earlier version. Sizes let the planner byte-range
    // split large removed files too. Retained entries are bounded by the
    // commit's own remove set — a MERGE touching 10 files on a 5M-file
    // table keeps 10 entries, not 5M (the snapshot tail still replays
    // once, but only matching paths are materialized).
    val removedPaths = actions.collect {
      case r: RemoveFile if r.dataChange && !dvPaths.contains(r.path) => r.path
    }.toSet
    lazy val preFiles: Map[String, AddFile] =
      l.snapshot(v - 1).files.iterator
        .filter(f => removedPaths.contains(f.path))
        .map(f => f.path -> f).toMap
    actions.collect {
      // dataChange=false (compaction) is invisible to the CDC stream;
      // partitionFilter prunes at the file-event level, so offsets
      // index the FILTERED list (stable across restarts: the filter is
      // part of the query's options)
      case a: AddFile if a.dataChange && opts.keepPartition(a.partitionValues) =>
        val rows = a.stats.map(_.numRecords).getOrElse(-1L)
        if (a.dv.isDefined)
          CdcFileEvent(a.path, a.partitionValues, "d", a.modificationTime,
            dv = a.dv, size = a.size, rows = rows)
        else CdcFileEvent(a.path, a.partitionValues, "c", a.modificationTime,
          size = a.size, rows = rows)
      case r: RemoveFile if r.dataChange && opts.keepPartition(r.partitionValues) &&
          !dvPaths.contains(r.path) =>
        val pre = preFiles.get(r.path)
        val rows = pre.flatMap(_.stats).map(_.numRecords).getOrElse(-1L)
        pre.flatMap(_.dv) match {
          case Some(d) => CdcFileEvent(r.path, r.partitionValues, "r",
            r.deletionTimestamp, dv = Some(d),
            size = pre.map(_.size).getOrElse(-1L), rows = rows)
          case None =>
            CdcFileEvent(r.path, r.partitionValues, "r", r.deletionTimestamp,
              size = pre.map(_.size).getOrElse(-1L), rows = rows)
        }
    }.toIndexedSeq
  }

  /** Snapshot file list at v (replay order — the FULL_COPY index space).
    * DV-carrying files emit live rows only. Memoized per
    * version: a row-capped backfill replays THIS list every trigger.
    */
  private def snapshotEventsOf(l: TxnLog, v: Long): IndexedSeq[CdcFileEvent] =
    memoEvents(CdcOffset.FullCopy, v)(buildSnapshotEventsOf(l, v))

  private def buildSnapshotEventsOf(l: TxnLog, v: Long): IndexedSeq[CdcFileEvent] =
    l.snapshot(v).files
      .filter(f => opts.keepPartition(f.partitionValues))
      .map { f =>
        val rows = f.stats.map(_.numRecords).getOrElse(-1L)
        f.dv match {
          case Some(d) => CdcFileEvent(f.path, f.partitionValues, "c",
            f.modificationTime, dv = Some(d), size = f.size,
            rows = rows)
          case None => CdcFileEvent(f.path, f.partitionValues, "c",
            f.modificationTime, size = f.size, rows = rows)
        }
      }
      .toIndexedSeq

  // RAW row counts for row-capped admission: the LOG's own
  // FileStats.numRecords answers with zero I/O (exact physical counts —
  // a DV only narrows the logical view); footer reads remain only as
  // the fallback for stats-less files (pre-stats logs), cached per
  // stream instance and bounded by what a capped trigger walks
  private val rowCountCache = scala.collection.mutable.HashMap.empty[String, Long]
  private def rowCountOf(ev: CdcFileEvent): Long =
    if (ev.rows >= 0) ev.rows
    else rowCountCache.getOrElseUpdate(ev.rel, {
      val p = new org.apache.hadoop.fs.Path(
        TxnLog.dataPath(opts.tablePath, ev.rel))
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, hadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    })

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    (opts.maxRowsPerTrigger, opts.maxFilesPerTrigger, opts.maxVersionsPerTrigger) match {
      case (Some(r), _, _) => ReadLimit.maxRows(r)
      case (_, Some(f), _) => ReadLimit.maxFiles(f.toInt)
      case (_, _, Some(_)) => ReadLimit.allAvailable() // versions: our own notion
      case _               => ReadLimit.allAvailable()
    }
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[WrappedOffset].o
    val l = log
    val limited = opts.maxVersionsPerTrigger.isDefined ||
      opts.maxFilesPerTrigger.isDefined || opts.maxRowsPerTrigger.isDefined
    if (!limited) return latestOffset()

    opts.maxRowsPerTrigger match {
      case Some(capR) => rowCappedEnd(l, s, capR)
      case None       => coarseCappedEnd(l, s)
    }
  }

  /** Row-granular admission: walk file events from the start position,
    * accumulating parquet footer row counts, and stop mid-file when the
    * row cap is hit — producing the reference's mid-file checkpoint shape.
    * A `maxFilesPerTrigger` cap composes: the walk also stops at a file
    * boundary once that many files have been touched this batch. At least
    * one row is always admitted, so the stream can never stall.
    */
  private def rowCappedEnd(l: TxnLog, s: CdcOffset, capR: Long): Offset = {
    var remaining = capR
    var fileBudget = opts.maxFilesPerTrigger.getOrElse(Long.MaxValue)
    // returns Some(midOffset) if a cap lands inside this segment
    def walk(events: IndexedSeq[CdcFileEvent],
        phase: Int, v: Long, startIdx: Int, startRow: Long): Option[CdcOffset] = {
      var i = startIdx
      var row = startRow
      while (i < events.size) {
        if (fileBudget <= 0 && row == 0)
          // file-count cap: stop at the boundary BEFORE file i (an end
          // offset of (i, 0) admits nothing from it; capF >= 1 guarantees
          // the batch admitted at least one file already)
          return Some(CdcOffset(phase, v, i, 0))
        // raw row positions, even under a DV (the reader skips dead rows
        // but never renumbers) — caps bound IO, emission may be less
        val avail = rowCountOf(events(i)) - row
        if (remaining < avail)
          return Some(CdcOffset(phase, v, i, row + remaining))
        remaining -= avail
        fileBudget -= 1
        i += 1
        row = 0
      }
      None
    }
    if (s.phase == CdcOffset.FullCopy) {
      val mid = walk(snapshotEventsOf(l, s.version), CdcOffset.FullCopy,
        s.version, math.max(s.fileIndex, 0).toInt, math.max(s.rowNum, 0))
      // snapshot completes within this batch; incremental starts next batch
      WrappedOffset(mid.getOrElse(
        CdcOffset(CdcOffset.Incremental, s.version, -1, -1)))
    } else {
      var end = CdcOffset(CdcOffset.Incremental, s.version, -1, -1)
      var versions = 0L
      val capV = opts.maxVersionsPerTrigger.getOrElse(Long.MaxValue)
      if (s.fileIndex >= 0) {
        // finish the partially-consumed version first
        walk(fileEventsOf(l, s.version), CdcOffset.Incremental, s.version,
          s.fileIndex.toInt, s.rowNum) match {
          case Some(mid) => return WrappedOffset(mid)
          case None      => versions += 1
        }
      }
      val it = l.changes(s.version + 1).iterator
        .takeWhile(v => availableNowCap.forall(v._1 <= _))
      var stop = false
      while (!stop && it.hasNext && remaining > 0 && fileBudget > 0 &&
          versions < capV) {
        val (v, _) = it.next()
        walk(fileEventsOf(l, v), CdcOffset.Incremental, v, 0, 0L) match {
          case Some(mid) => end = mid; stop = true
          case None      => end = CdcOffset(CdcOffset.Incremental, v, -1, -1); versions += 1
        }
      }
      WrappedOffset(end)
    }
  }

  /** Version/file-count admission (no footer reads needed). */
  private def coarseCappedEnd(l: TxnLog, s: CdcOffset): Offset = {
    if (s.phase == CdcOffset.FullCopy)
      // first admitted batch is the snapshot alone; incremental caps apply
      // from the next batch on
      return WrappedOffset(CdcOffset(CdcOffset.Incremental, s.version, -1, -1))
    var endV = s.version
    var files = 0L
    var versions = 0L
    val capV = opts.maxVersionsPerTrigger.getOrElse(Long.MaxValue)
    val capF = opts.maxFilesPerTrigger.getOrElse(Long.MaxValue)
    val it = l.changes(s.version + 1).iterator
      .takeWhile(v => availableNowCap.forall(v._1 <= _))
    var stop = false
    while (!stop && it.hasNext && versions < capV) {
      val (v, actions) = it.next()
      val n = actions.count(a =>
        a.isInstanceOf[AddFile] || a.isInstanceOf[RemoveFile])
      // always admit at least one version per batch, else never progress
      if (versions > 0 && files + n > capF) stop = true
      else {
        endV = v
        files += n
        versions += 1
        if (files >= capF) stop = true
      }
    }
    WrappedOffset(CdcOffset(CdcOffset.Incremental, math.max(endV, s.version), -1, -1))
  }

  override def deserializeOffset(json: String): Offset =
    WrappedOffset(CdcOffset.fromJson(json))

  // Latest-version metadata memo: planning needs the current partition
  // columns + column mapping, and metadata can only move when the version
  // does — keying by latestVersion (one forward probe, see
  // latestVersionProbed) turns the per-trigger snapshotLatest() replay
  // into O(1) per new commit.
  @volatile private var metaCache: (Long, Option[graft.txn.Metadata]) =
    (-1L, None)
  private def latestMetadata(l: TxnLog): Option[graft.txn.Metadata] = {
    val lv = latestVersionProbed().getOrElse(-1L)
    if (metaCache._1 != lv)
      metaCache = (lv, if (lv < 0) None else l.snapshot(lv).metadata)
    metaCache._2
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WrappedOffset].o
    val e = end.asInstanceOf[WrappedOffset].o
    val l = log
    val latestMeta = latestMetadata(l)
    // Column mapping (RENAME COLUMN): the file reader resolves parquet
    // fields BY NAME, so it reads the PHYSICAL spelling of the payload;
    // the stream's output schema stays logical (rows are positional —
    // names never travel with them).
    planned = readers(graft.txn.ColumnMapping.physicalSchema(
      StructType(schema.fields.drop(GraftCdc.EnvelopeCols)),
      latestMeta.map(_.columnMapping).getOrElse(Map.empty)))

    // Large files byte-range split (the batch scan's contract): each
    // range carries the SAME file-absolute skip/until resume bounds —
    // every range reader emits only rows in its row groups ∩ [skip,
    // until), so the union across ranges is exactly the unsplit read and
    // offsets never learn about splitting.
    // Deletion vectors: the batch's events are gathered first, so every
    // vector directory they name is read once for the trigger, then each
    // split ships its own file's mask.
    val maxSplit = sqlConf.filesMaxPartitionBytes
    val pending = scala.collection.mutable.ArrayBuffer
      .empty[Either[InputPartition, (CdcFileEvent, Long, Long, Long)]]
    def filePart(ev: CdcFileEvent, v: Long, skipRows: Long,
        untilRow: Long): Unit = pending += Right((ev, v, skipRows, untilRow))
    def partitions(): Array[InputPartition] = {
      val masks = masksOf(pending.collect {
        case Right((ev, _, _, _)) if ev.dv.isDefined => (ev.rel, ev.dv.get)
      }.toSet)
      pending.toArray.flatMap {
        case Left(meta) => Seq(meta)
        case Right((ev, v, skipRows, untilRow)) =>
          // a DV transition ('d') emits only the rows that died at v
          val dv = ev.dv.map(p =>
            if (ev.op == "d")
              FileRows.Dv(masks.diedAt(ev.rel, p, v), onlyDead = true)
            else FileRows.Dv(masks.dead(ev.rel, p)))
          ParquetSplits.ranges(ev.size, maxSplit).map { case (rs, re) =>
            CdcFilePartition(TxnLog.dataPath(opts.tablePath, ev.rel), ev.op,
              CdcReader.partitionValueString(ev.pv), ev.pv, ev.ts, v,
              skipRows, untilRow, dv = dv,
              rangeStart = rs, rangeEnd = re, size = ev.size)
          }
      }
    }

    // Emit the events of one indexed segment (snapshot or a commit),
    // bounded below by the start position and above by the end position.
    def emitRange(events: IndexedSeq[CdcFileEvent],
        v: Long, startIdx: Long, startRow: Long,
        endIdx: Long, endRow: Long): Unit = {
      val from = math.max(startIdx, 0L).toInt
      val to = if (endIdx >= 0) math.min(endIdx, events.size - 1L).toInt
      else events.size - 1
      var i = from
      while (i <= to) {
        val skip = if (i == startIdx) math.max(startRow, 0L) else 0L
        val until = if (endIdx >= 0 && i == endIdx) endRow else -1L
        // an event fully consumed by the start bound, or empty under the
        // end bound, still plans (the reader just yields no rows) — cheap
        // and keeps the planner logic simple
        filePart(events(i), v, skip, until)
        i += 1
      }
    }

    if (s.phase == CdcOffset.FullCopy) {
      val snapEvents = snapshotEventsOf(l, s.version)
      val (endIdx, endRow) =
        if (e.phase == CdcOffset.FullCopy) (e.fileIndex, e.rowNum) else (-1L, -1L)
      emitRange(snapEvents, s.version, s.fileIndex, s.rowNum, endIdx, endRow)
      if (e.phase == CdcOffset.FullCopy) return partitions()
    }

    // finish a partially-consumed incremental version first
    if (s.phase == CdcOffset.Incremental && s.fileIndex >= 0) {
      val events = fileEventsOf(l, s.version)
      val (endIdx, endRow) =
        if (e.version == s.version && e.fileIndex >= 0) (e.fileIndex, e.rowNum)
        else (-1L, -1L)
      emitRange(events, s.version, s.fileIndex, s.rowNum, endIdx, endRow)
      if (e.version == s.version) return partitions()
    }

    l.changes(s.version + 1).takeWhile(_._1 <= e.version).foreach { case (v, actions) =>
      // meta rows emit in the batch that FIRST enters version v (v >
      // s.version here by construction, so a version split across
      // row-capped batches emits its 'm' row exactly once)
      actions.foreach {
        case _: graft.txn.Metadata => pending += Left(CdcMetaPartition(v))
        case _ => ()
      }
      val events = fileEventsOf(l, v)
      val (endIdx, endRow) =
        if (v == e.version && e.fileIndex >= 0) (e.fileIndex, e.rowNum)
        else (-1L, -1L)
      emitRange(events, v, -1L, -1L, endIdx, endRow)
    }
    partitions()
  }

  // The masks of the last planned batch. Spark may plan one batch more
  // than once, and a row-capped backfill plans the same snapshot files
  // trigger after trigger: a batch whose vectors were all loaded reuses
  // them (a committed vector never changes).
  private var lastMasks =
    (Set.empty[(String, String)], graft.txn.DeletionVectors.Masks.empty)
  private def masksOf(files: Set[(String, String)]) = {
    if (!files.subsetOf(lastMasks._1)) lastMasks = (files,
      graft.txn.DeletionVectors.masks(hadoopConf, opts.tablePath, files))
    lastMasks._2
  }

  // the reader of the last planned batch (Spark plans a batch's
  // partitions before it asks for their reader factory)
  @volatile private var planned: FileRows = _

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(envelope = true)

  /** Reader factory of the planned batch; `envelope = false` reads bare
    * payload rows (the `readStream.table` tail).
    */
  private[sources] def readerFactory(envelope: Boolean): PartitionReaderFactory =
    new CdcPartitionReaderFactory(planned, envelope)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class WrappedOffset(o: CdcOffset) extends Offset {
  override def json(): String = o.json
}

/** One planned file event, pre-partition. `dv` is the file's vector
  * pointer: a snapshot of a DV file emits rows NOT in the vector; a DV
  * transition (op 'd') emits only the rows that died at its version.
  */
private[sources] case class CdcFileEvent(
    rel: String,
    pv: Map[String, String],
    op: String,
    ts: Long,
    dv: Option[String] = None,
    // logged file size (bytes) for byte-range split planning; -1 =
    // unknown (pre-size-retention removes) → plan the whole file
    size: Long = -1L,
    // logged RAW row count (FileStats.numRecords — physical rows, exact
    // even under a DV, which only narrows the logical view); -1 =
    // stats-less file → admission falls back to one footer read
    rows: Long = -1L)

/** One data-file CDC event; fields are all JVM-serializable.
  * `skipRows`/`untilRow` bound the rows read for mid-file resume: the
  * reader yields rows with index in [skipRows, untilRow) (untilRow = -1
  * means end-of-file).
  */
private[sources] case class CdcFilePartition(
    filePath: String,
    op: String,
    partitionValue: String,
    partitionValues: Map[String, String],
    ts: Long,
    version: Long,
    skipRows: Long = 0L,
    untilRow: Long = -1L,
    dv: Option[FileRows.Dv] = None,
    // byte range of the split ((0, MaxValue) = whole file): the reader
    // keeps row groups whose midpoint lands in [start, end) and numbers
    // rows file-absolutely, so skip/until and DV positions are
    // split-invariant
    rangeStart: Long = 0L,
    rangeEnd: Long = Long.MaxValue,
    // logged file size; -1 = unknown (looked up by the reader)
    size: Long = -1L) extends InputPartition

/** A schema-change control row (op='m'). */
private[sources] case class CdcMetaPartition(version: Long)
  extends InputPartition
