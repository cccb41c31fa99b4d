package graft.sources

import graft.txn._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch STREAMING source over the change data feed —
  * `spark.readStream.format("graft-cdf")` (Delta's
  * `readChangeFeed` streaming surface). Where [[GraftCdc]] streams the
  * file-level op envelope, this source streams ROW-LEVEL change records:
  * `_change_type` ∈ {insert, update_preimage, update_postimage, delete}
  * plus `_commit_version` / `_commit_timestamp`, appended after the table
  * columns.
  *
  * Offsets are plain commit versions (the last version fully admitted) —
  * a CDF batch is always whole commits: change sidecars are KB-to-MB
  * scale by construction (proportional to changed rows, never the
  * table), so mid-file resume buys nothing here; `maxVersionsPerTrigger`
  * bounds restart backlogs instead.
  *
  * Per admitted version the partitions are:
  *  - its [[CdcFile]] sidecars (exact change rows; `_change_type` read
  *    from the file), when the commit wrote them;
  *  - else its dataChange [[AddFile]]s as constant-`insert` partitions
  *    (append commits never write sidecars — same inference as the batch
  *    [[ChangeDataFeed.tableChanges]]).
  *
  * Commits that REMOVE files without change data refuse loudly: their
  * delete rows need the prior version's deletion-vector state, which is
  * a distributed anti-join — the batch feed serves those; the streaming
  * path demands `graft.enableChangeDataFeed` for row-level DML, exactly
  * like Delta. Add files carrying a deletion vector (a shallow-clone
  * import) refuse for the same reason.
  */
class GraftCdf extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("tablePath")
    require(path != null && path.nonEmpty, "tablePath is required")
    GraftCdf.cdfSchema(GraftCdc.declaredSchema(path,
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCdfTable(schema, properties.asScala.toMap)
}

object GraftCdf {

  /** Table columns (nullable on read — schema evolution) + the three
    * change columns, appended LAST like Delta's CDF.
    */
  def cdfSchema(payload: StructType): StructType =
    StructType(FileRows.asNullable(payload).fields.toList :::
      StructField(ChangeDataFeed.TypeCol, StringType, nullable = false) ::
      StructField(ChangeDataFeed.VersionCol, LongType, nullable = false) ::
      StructField(ChangeDataFeed.TimestampCol, LongType, nullable = false) ::
      Nil)
}

private[sources] class GraftCdfTable(
    tableSchema: StructType,
    properties: Map[String, String]) extends Table with SupportsRead {

  override def name(): String =
    s"graftcdf(${properties.getOrElse("tablePath", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftCdfMicroBatchStream(tableSchema,
          properties ++ options.asCaseSensitiveMap().asScala)
    }
}

/** Offset = last fully-admitted commit version. */
private[sources] final case class CdfOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] class GraftCdfMicroBatchStream(
    schema: StructType,
    options: Map[String, String])
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val tablePath = options.getOrElse("tablePath",
    throw new IllegalArgumentException("tablePath is required"))
  private val startingVersion = options.get("startingVersion")
    .map(_.toLong).getOrElse(0L)
  private val maxVersions = options.get("maxVersionsPerTrigger").map(_.toLong)
  maxVersions.foreach(m => require(m >= 1, "maxVersionsPerTrigger must be >= 1"))

  // "col=val[,col=val...]" — all pairs must match (the GraftCdc/
  // CdcOptions shape). Sidecars and inferred adds prune at the ACTION
  // level; legacy pv-less sidecars fall back to a reader-side row filter.
  private val partitionFilter: Map[String, String] =
    options.get("partitionFilter").filter(_.nonEmpty).map { s =>
      s.split(',').map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"partitionFilter must be col=value[,col=value...], got '$s'")
        }
      }.toMap
    }.getOrElse(Map.empty)
  private def keepPv(pv: Map[String, String]): Boolean =
    partitionFilter.forall { case (k, v) => pv.get(k).contains(v) }

  // arbitrary partition-column predicate SQL (ranges/INs/disjunctions —
  // what the equality option can't say): actions prune through
  // ChangeDataFeed.pvKeepFn before any I/O. Requires partition-valued
  // sidecars — a legacy pv-less sidecar REFUSES under a predicate (its
  // rows can't be row-filtered by SQL executor-side; use the batch feed)
  private val partitionPredicate: Option[org.apache.spark.sql.Column] =
    options.get("partitionPredicate").filter(_.nonEmpty)
      .map(org.apache.spark.sql.functions.expr)

  private val spark = org.apache.spark.sql.SparkSession.active
  // captured at construction: planInputPartitions runs on the
  // stream-execution thread where the thread-local SQLConf is not
  // guaranteed to be this session's
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val sqlConf = spark.sessionState.conf
  private def log = new TxnLog(tablePath, hadoopConf)

  // payload = declared table columns (the three change columns are
  // appended by the reader, never read from the log schema)
  private val payload = StructType(schema.fields.dropRight(3))
  private val readers = new FileRows.PerSchema(spark, hadoopConf)

  override def initialOffset(): Offset = CdfOffset(startingVersion - 1)

  // Last version this stream instance confirmed committed: seeds the
  // forward probe, so finding the latest version costs exists() probes
  // per new commit, not a log listing per trigger, and a commit still
  // being written is never admitted (see TxnLog.latestVersionFrom).
  @volatile private var lastSeenVersion: Long = -1L
  private def latestVersion(): Long = {
    val lv = log.latestVersionFrom(lastSeenVersion).getOrElse(-1L)
    if (lv > lastSeenVersion) lastSeenVersion = lv
    lv
  }

  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestVersion())

  private def capped(v: Long): Long =
    availableNowCap.fold(v)(math.min(v, _))

  override def latestOffset(): Offset =
    CdfOffset(math.max(capped(latestVersion()), startingVersion - 1))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[CdfOffset].v
    maxVersions match {
      case None => latestOffset()
      case Some(cap) =>
        // admit at most `cap` EXISTING versions past the start (version
        // numbers may have gaps after log expiry — count, don't add).
        // Clamp before toInt: a cap above Int.MaxValue would wrap
        // negative, take(negative) returns empty, and the offset would
        // silently never advance.
        val admitted = log.versions()
          .filter(v => v > s && v <= capped(latestVersion()))
          .take(math.min(cap, Int.MaxValue.toLong).toInt)
        CdfOffset(admitted.lastOption.getOrElse(s))
    }
  }

  override def deserializeOffset(json: String): Offset =
    CdfOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // The last planned batch: its offsets and partitions. Spark plans one
  // batch more than once (4 times for an AvailableNow read).
  @volatile private var planned: ((Long, Long), Array[InputPartition]) = _
  // The readers, each built when a planned batch first needs it: change
  // sidecars carry LOGICAL names plus their own `_change_type`; data files
  // the physical names of the latest planned mapping.
  @volatile private var sidecarRows: FileRows = _
  @volatile private var dataRows: FileRows = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val key = (start.asInstanceOf[CdfOffset].v, end.asInstanceOf[CdfOffset].v)
    if (planned == null || planned._1 != key) {
      val parts = plan(key._1, key._2)
      val kinds = parts.map(_.asInstanceOf[CdfFilePartition].constKind.isEmpty)
      if (kinds.contains(true))
        sidecarRows = readers(payload.add(ChangeDataFeed.TypeCol, StringType))
      // physical names never change after creation (RENAME is
      // metadata-only), so the latest mapping resolves every file in the
      // log; columns a file predates read as null
      if (kinds.contains(false))
        dataRows = readers(ColumnMapping.physicalSchema(payload,
          log.snapshotLatest().metadata.map(_.columnMapping)
            .getOrElse(Map.empty)))
      planned = (key, parts)
    }
    planned._2
  }

  private def plan(s: Long, e: Long): Array[InputPartition] = {
    val l = log
    // Versions are assigned DENSELY, so a missing version at the resume
    // boundary can only mean log retention expired commits past the
    // checkpoint — silently resuming after it would lose their changes
    // forever.
    val versioned = (s + 1 to e).map { v =>
      v -> (try l.read(v) catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"streaming change feed: version $v of $tablePath has been " +
              "expired by log retention — the checkpointed offset cannot " +
              "resume without losing changes; restart from a fresh checkpoint")
      })
    }
    lazy val snapMeta = l.snapshotLatest().metadata
    // one evaluation over the admitted range's distinct partition
    // values builds the predicate's action-level keep function
    val rangePvs = versioned.flatMap(_._2).collect {
      case c: CdcFile => c.partitionValues
      case a: AddFile if a.dataChange => a.partitionValues
    }
    lazy val predRefs: Set[String] = partitionPredicate.map { p =>
      ChangeDataFeed.predicateRefs(
        org.apache.spark.sql.SparkSession.active,
        rangePvs.flatMap(_.keySet).distinct.sorted, p)
    }.getOrElse(Set.empty)
    val keepFn: Map[String, String] => Boolean = partitionPredicate match {
      case None => _ => true
      case Some(p) =>
        val declared = snapMeta.map(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[StructType])
          .getOrElse(StructType(Seq.empty))
        ChangeDataFeed.pvKeepFn(
          org.apache.spark.sql.SparkSession.active, declared, p, rangePvs,
          knownRefs = Some(predRefs))
    }
    // Large files byte-range split, exactly like the batch scan and the
    // CDC source: change sidecars are change-volume-sized (rarely split),
    // but inferred-insert AddFiles of a CONVERTed lake can be multi-GB —
    // those must backfill as many parallel tasks, never one.
    val maxSplit = sqlConf.filesMaxPartitionBytes
    versioned.flatMap { case (v, actions) =>
      val ts = actions.collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(0L)
      val cdcFiles = actions.collect { case c: CdcFile => c }
      if (cdcFiles.nonEmpty) {
        // sidecars are written under LOGICAL names — no mapping applies.
        // Partition-valued sidecars prune HERE (action level, no I/O);
        // legacy pv-less ones read whole with a reader-side row filter.
        // STRICT in streaming: the batch feed completes a conservative
        // keep with a row-level filter, but this reader emits rows
        // directly — a sidecar that can't be proven in or out must
        // refuse, never leak out-of-range rows
        partitionPredicate.foreach { _ =>
          val refs = predRefs
          require(cdcFiles.forall(c => refs.subsetOf(
              c.partitionValues.keySet)),
            s"streaming change feed: version $v of $tablePath carries " +
              "change sidecars without values for the predicate's " +
              s"columns ${refs.mkString(", ")} — partitionPredicate " +
              "pruning needs partition-valued sidecars; use the " +
              "equality partitionFilter option or the batch " +
              "graft_table_changes")
        }
        cdcFiles
          .filter(c => (c.partitionValues.isEmpty ||
            keepPv(c.partitionValues)) && keepFn(c.partitionValues))
          .flatMap { c =>
            val path = TxnLog.dataPath(tablePath, c.path)
            val size = FileRows.sizeOf(hadoopConf, path, c.size)
            ParquetSplits.ranges(size, maxSplit).map { case (rs, re) =>
              CdfFilePartition(path, constKind = None,
                partitionValues = Map.empty, version = v, ts = ts,
                rowFilter =
                  if (c.partitionValues.isEmpty) partitionFilter else Map.empty,
                rangeStart = rs, rangeEnd = re, size = size)
            }
          }
      } else {
        val adds = actions.collect { case a: AddFile if a.dataChange => a }
        val removes = actions.collect {
          case r: RemoveFile if r.dataChange => r }
        require(removes.isEmpty,
          s"streaming change feed: version $v of $tablePath removes " +
            s"files without change data — set TBLPROPERTIES " +
            s"('${ChangeDataFeed.Prop}'='true') before row-level DML, or " +
            "read this range through the batch graft_table_changes")
        // same strictness for inferred adds: a file lacking a referenced
        // partition value (pre-evolution generation) can't be proven in
        // or out — refuse rather than leak
        partitionPredicate.foreach { _ =>
          val refs = predRefs
          require(adds.forall(a => refs.subsetOf(a.partitionValues.keySet)),
            s"streaming change feed: version $v of $tablePath adds files " +
              "without values for the predicate's columns " +
              s"${refs.mkString(", ")} — use the batch graft_table_changes")
        }
        adds.filter(a => keepPv(a.partitionValues) &&
            keepFn(a.partitionValues)).flatMap { a =>
          require(a.dv.isEmpty,
            s"streaming change feed: version $v of $tablePath adds " +
              s"${a.path} with a deletion vector (a clone import?) — " +
              "start from a later version or use the batch feed")
          val path = TxnLog.dataPath(tablePath, a.path)
          val size = FileRows.sizeOf(hadoopConf, path, a.size)
          ParquetSplits.ranges(size, maxSplit).map { case (rs, re) =>
            CdfFilePartition(path,
              constKind = Some(ChangeDataFeed.Insert),
              partitionValues = a.partitionValues, version = v, ts = ts,
              rangeStart = rs, rangeEnd = re, size = size)
          }
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(sidecarRows, dataRows)
}

private[sources] final case class CdfFilePartition(
    filePath: String,
    constKind: Option[String],
    partitionValues: Map[String, String],
    version: Long,
    ts: Long,
    // partition-column equality filter applied ROW-side — only for
    // legacy pv-less sidecars that action-level pruning can't prove out
    rowFilter: Map[String, String] = Map.empty,
    // byte range of the split ((0, MaxValue) = whole file)
    rangeStart: Long = 0L,
    rangeEnd: Long = Long.MaxValue,
    // file size, resolved by the planner when the log has none
    size: Long = -1L) extends InputPartition

/** Reads one data or change file as CDF rows: the payload columns (hive
  * partition values from the log; columns a file predates read as null),
  * then `_change_type` (constant for inferred inserts, read from the
  * sidecar otherwise), `_commit_version`, `_commit_timestamp`. A reader
  * no planned batch has needed yet is null.
  */
private[sources] class CdfReaderFactory(sidecarRows: FileRows,
    dataRows: FileRows) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val f = p.asInstanceOf[CdfFilePartition]
    val rows = if (f.constKind.isEmpty) sidecarRows else dataRows
    val columns = rows.columns(f.partitionValues)
    val n = rows.readSchema.length
    val kind = f.constKind.fold[FileRows.Out](FileRows.Read(n - 1))(k =>
      FileRows.Value(UTF8String.fromString(k)))
    val payloadLen = if (f.constKind.isEmpty) n - 1 else n
    rows.open(f.filePath, (f.rangeStart, f.rangeEnd), f.size,
      columns.take(payloadLen) ++ Array(kind, FileRows.Value(f.version),
        FileRows.Value(f.ts)),
      where = f.rowFilter.toSeq.map { case (k, v) =>
        val i = rows.readSchema.fieldIndex(k)
        i -> GroupRows.castPartitionValue(v, rows.readSchema(i).dataType)
      })
  }
}
