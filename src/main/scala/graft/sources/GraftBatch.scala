package graft.sources

import graft.txn._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** Batch DataSource V2 over the graft transaction log — the
  * `spark.read.format("graft")` surface, completing the DSv2 pair with
  * the streaming [[GraftCdc]]. The scan participates in Catalyst's
  * pushdown negotiation instead of doing its pruning out-of-band like
  * [[graft.txn.DataSkipping.readWhere]]:
  *
  *  - **Filter pushdown** → file-level skipping from AddFile footer
  *    stats + hive partition values + the per-file bloom index, BEFORE
  *    any file opens (every pushed filter is also kept as a residual, so
  *    pruning only ever has to be sound, never complete);
  *  - **Column pruning** → the parquet read schema is cut to the
  *    required columns, so unprojected columns are never decoded;
  *  - **Limit pushdown** → each partition reader stops early;
  *  - **Statistics** → sizeInBytes/rowCount of the PRUNED file list, so
  *    the broadcast-join decision sees what will actually be read;
  *  - Deletion vectors, column mapping, schema evolution, and
  *    version/timestamp time travel all apply, matching
  *    [[graft.txn.SnapshotReader.read]] semantics.
  *
  * Options: `tablePath` (required), `versionAsOf` XOR `timestampAsOf`
  * (reference semantics T4, DeltaReader.java:134–164).
  */
class GraftBatch extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftBatch.resolve(options.asCaseSensitiveMap().asScala.toMap).schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftBatchTable(schema, properties.asScala.toMap)
}

private[sources] object GraftBatch {

  /** Metadata column exposing each row's source data file (absolute
    * path) — the group key for row-level MERGE/UPDATE runtime filtering.
    */
  val FileMetadataColumn = "_graft_file"

  /** Metadata column exposing each row's STABLE id (the Delta row
    * tracking idea): `AddFile.baseRowId + position-in-file`, allocated
    * once at commit and stable under append and deletion-vector DELETE
    * (a DV skip never renumbers survivors). NULL for files written
    * before tracking. A copy-on-write rewrite that materializes a
    * physical `_graft_row_id` column preserves ids through the rewrite —
    * the reader prefers the physical column when the file carries one.
    */
  val RowIdMetadataColumn: String = TxnLog.RowIdColumn

  /** Metadata column exposing each row's RAW position in its data file
    * (0-based, DV kills NOT renumbered — the same identity the deletion-
    * vector sidecars key on). With [[FileMetadataColumn]] this pair is
    * the row id of the DELTA (merge-on-read) row-level operation: a
    * matched row's (file, pos) is exactly the handle a DV marks dead.
    */
  val PosMetadataColumn = "_graft_pos"

  /** The snapshot a scan binds to: resolved once, on the driver. */
  final case class Resolved(
      tablePath: String,
      version: Long,
      files: Seq[AddFile],
      schema: StructType,
      mapping: Map[String, String],
      partitionColumns: Seq[String],
      tableProperties: Map[String, String] = Map.empty,
      generatedColumns: Map[String, String] = Map.empty)

  def resolve(options: Map[String, String]): Resolved = {
    val tablePath = options.getOrElse("tablePath",
      throw new IllegalArgumentException("tablePath is required"))
    val vOpt = options.get("versionAsOf").map(_.toLong)
    val tOpt = options.get("timestampAsOf").map(_.toLong)
    require(vOpt.isEmpty || tOpt.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val conf = org.apache.spark.sql.SparkSession.active
      .sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val version = vOpt
      .orElse(tOpt.map(log.versionAtTimestamp))
      .getOrElse(log.latestVersion().getOrElse(
        throw new IllegalArgumentException(s"empty table at $tablePath")))
    val snap = log.snapshot(version)
    val meta = snap.metadata.getOrElse(
      throw new IllegalArgumentException(s"no Metadata action in $tablePath"))
    Resolved(tablePath, version, snap.files,
      DataType.fromJson(meta.schemaJson).asInstanceOf[StructType],
      meta.columnMapping, meta.partitionColumns, meta.properties,
      meta.generatedColumns)
  }

  /** Conjunctive IS NULL / IS NOT NULL terms of a pushed filter —
    * (logical column, isNull). Pruning uses per-file null counts:
    * IS NULL skips a file with zero recorded nulls; IS NOT NULL skips
    * an all-null file. Both stay sound under deletion vectors (deletion
    * only narrows a file, and "keep" is never wrong).
    */
  def nullTermsOf(f: Filter): Seq[(String, Boolean)] = f match {
    case sources.And(l, r) => nullTermsOf(l) ++ nullTermsOf(r)
    case sources.IsNull(c) => Seq((c, true))
    case sources.IsNotNull(c) => Seq((c, false))
    case _ => Seq.empty
  }

  /** Literal → the unit file stats use (dates as epoch days, timestamps
    * as micros); None for null (no range contribution).
    */
  private def unit(v: Any): Option[Any] = v match {
    case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d))
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    // TIMESTAMP_NTZ literals arrive as LocalDateTime — without this
    // branch an NTZ range would push but never prune (the stats compare
    // keeps on unparseable bounds, sound but useless)
    case l: java.time.LocalDateTime =>
      Some(DateTimeUtils.localDateTimeToMicros(l))
    case null => None
    case other => Some(other)
  }

  /** Conjunctive IN-list terms — (column, candidate values). A file
    * survives an IN iff ANY value may sit in its [min, max] (and, when
    * a bloom index exists, ANY value might be contained): the
    * DISJUNCTION of point probes, which a single conjunctive range
    * cannot express. A null literal in the list contributes nothing
    * (IN never matches null), and an all-null list prunes everything.
    */
  def inTermsOf(f: Filter): Seq[(String, Seq[Any])] = f match {
    case sources.And(l, r) => inTermsOf(l) ++ inTermsOf(r)
    case sources.In(c, vs) => Seq((c, vs.toSeq.flatMap(unit)))
    case _ => Seq.empty
  }

  /** GENERATED-COLUMN PARTITION PRUNING (the Delta feature): when a
    * partition column is GENERATED from a base column by a MONOTONE
    * date expression, a pushed range on the BASE column derives a
    * formatted-string range on the PARTITION column — so
    * `WHERE ts BETWEEN x AND y` prunes `month=...` directories without
    * the user ever mentioning the partition column. Recognized shapes
    * (each monotone, each formatting to a lexicographically-
    * chronological string): `date_format(b, 'yyyy-MM')`,
    * `date_format(b, 'yyyy-MM-dd')`, `CAST(b AS DATE)`. Returns
    * (generatedCol, loStr, hiStr) with ""-/"￿"-style sentinels for
    * unbounded ends; anything unrecognized derives nothing (sound).
    */
  def derivedPartitionRanges(
      generatedColumns: Map[String, String],
      partitionColumns: Seq[String],
      schema: StructType,
      baseRanges: Seq[(String, Any, Any)])
      : Seq[(String, String, String)] = {
    val MaxStr = "￿￿￿"
    // bound value → LocalDate(Time) in the units the BASE TYPE pushes:
    // DATE bounds arrive as Int epoch-DAYS, timestamps as Long MICROS —
    // interpreting days as micros would derive a ~1970 range and wrongly
    // prune everything, so the base's declared type decides
    def dateOf(v: Any, dt: DataType): Option[java.time.LocalDateTime] =
      (v, dt) match {
        case (days: Int, DateType) =>
          Some(java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay())
        case (days: Long, DateType) =>
          Some(java.time.LocalDate.ofEpochDay(days).atStartOfDay())
        case (us: Long, TimestampNTZType) =>
          // NTZ micros are zone-free wall time — format directly
          Some(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L), 0, java.time.ZoneOffset.UTC))
        case (us: Long, TimestampType) =>
          // date_format at WRITE time rendered under the writer's
          // session zone; format under the CURRENT session zone (the
          // engine pins UTC everywhere — a reader in a different zone
          // than the writer is outside this derivation's contract)
          Some(java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              Math.floorMod(us, 1000000L) * 1000L),
            java.time.ZoneId.of(org.apache.spark.sql.internal.SQLConf.get
              .sessionLocalTimeZone)))
        case _ => None
      }
    def fmt(d: java.time.LocalDateTime, pattern: String): String =
      d.format(java.time.format.DateTimeFormatter.ofPattern(pattern))
    val DateFormatRe =
      """(?i)date_format\s*\(\s*([A-Za-z0-9_]+)\s*,\s*'(yyyy-MM|yyyy-MM-dd)'\s*\)""".r
    val CastDateRe =
      """(?i)cast\s*\(\s*([A-Za-z0-9_]+)\s+as\s+date\s*\)""".r
    generatedColumns.toSeq.collect {
      case (gcol, expr) if partitionColumns.contains(gcol) =>
        val parsed: Option[(String, String)] = expr.trim match {
          case DateFormatRe(base, pat) => Some((base, pat))
          case CastDateRe(base) => Some((base, "yyyy-MM-dd"))
          case _ => None
        }
        parsed.toSeq.flatMap { case (base, pattern) =>
          val baseType = schema.fields.find(_.name == base).map(_.dataType)
          baseRanges.filter(_._1 == base).flatMap { case (_, lo, hi) =>
            baseType.map { dt =>
              // monotone f: [f(lo), f(hi)] covers f of every value in
              // [lo, hi]; an unbounded or unrecognized end goes to the
              // string sentinel (prunes nothing on that side)
              (gcol,
                dateOf(lo, dt).map(fmt(_, pattern)).getOrElse(""),
                dateOf(hi, dt).map(fmt(_, pattern)).getOrElse(MaxStr))
            }
          }
        }
    }.flatten
  }

  def rangesOf(f: Filter): Seq[(String, Any, Any)] = {
    val NegInf = Double.MinValue
    val PosInf = Double.MaxValue
    // string bounds only prune equality (lexical half-ranges are sound
    // too, but DataSkipping compares unbounded ends numerically)
    def nonStr(v: Any): Boolean = !v.isInstanceOf[String]
    f match {
      case sources.And(l, r) => rangesOf(l) ++ rangesOf(r)
      case sources.EqualTo(c, v) => unit(v).map(u => (c, u, u)).toSeq
      case sources.GreaterThan(c, v) =>
        unit(v).filter(nonStr).map(u => (c, u, PosInf)).toSeq
      case sources.GreaterThanOrEqual(c, v) =>
        unit(v).filter(nonStr).map(u => (c, u, PosInf)).toSeq
      case sources.LessThan(c, v) =>
        unit(v).filter(nonStr).map(u => (c, NegInf, u)).toSeq
      case sources.LessThanOrEqual(c, v) =>
        unit(v).filter(nonStr).map(u => (c, NegInf, u)).toSeq
      case sources.In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        // an IN prunes as the enclosing [min, max] envelope (sound; the
        // residual restores exactness)
        val us = vs.flatMap(unit)
        if (us.isEmpty || us.exists(u => u.isInstanceOf[String]) && us.length > 1)
          Seq.empty
        else {
          def d(a: Any): Double =
            try a.toString.toDouble catch { case _: NumberFormatException => Double.NaN }
          if (us.length == 1) Seq((c, us.head, us.head))
          else if (us.map(d).exists(_.isNaN)) Seq.empty
          else Seq((c, us.minBy(d), us.maxBy(d)))
        }
      case _ => Seq.empty
    }
  }
}

private[sources] class GraftBatchTable(
    tableSchema: StructType,
    properties: Map[String, String],
    partitionColumns: Seq[String] = Seq.empty,
    tableProperties: Map[String, String] = Map.empty)
  extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: the Metadata's
    * persisted properties (the read options stay out of it).
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProperties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** SQL-visible CHECK constraints (DESCRIBE, ADD CONSTRAINT name
    * checks): named ones under their names, unnamed (Scala-API-added)
    * ones under synthesized `graft_chk_<i>` names. All are genuinely
    * enforced by every write path, so they report enforced.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val snap = new TxnLog(properties("tablePath"),
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      .snapshotLatest()
    snap.metadata.map { m =>
      val named = m.constraintNames.toSeq.sortBy(_._1).map { case (n, e) =>
        Constraint.check(n).predicateSql(e).build(): Constraint
      }
      val namedExprs = m.constraintNames.values.toSeq
      val unnamed = m.constraints.diff(namedExprs).zipWithIndex.map {
        case (e, i) =>
          Constraint.check(s"graft_chk_$i").predicateSql(e).build(): Constraint
      }
      (named ++ unnamed).toArray
    }.getOrElse(Array.empty)
  }

  /** `_graft_file`: each row's source file — selectable, and the group
    * key behind row-level MERGE/UPDATE runtime filtering.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftBatch.FileMetadataColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftBatch.RowIdMetadataColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        // NULL only for files written before row tracking existed
        override def isNullable: Boolean = true
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftBatch.PosMetadataColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
      })

  /** SQL `MERGE INTO` / `UPDATE` (and predicate DELETEs SupportsDelete
    * refuses). Two physical strategies behind one statement (the same
    * toggle shape as [[deleteWhere]]):
    *  - `dv` (the UPDATE/MERGE DEFAULT since both paths baked green):
    *    delta-based merge-on-read — matched rows mark dead in a
    *    KB-scale deletion-vector sidecar and replacement/insert rows
    *    APPEND; no touched file rewrites (see
    *    [[GraftDeltaRowLevelOperation]]). On a 100 TB table this is
    *    the difference between "rewrite every touched ~1 GB file" and
    *    "kilobytes of sidecar + one small append".
    *  - `cow` (`spark.graft.update.mode=cow`, the opt-out; still the
    *    DELETE default via `spark.graft.delete.mode`): group-based
    *    copy-on-write — every file group containing a match rewrites
    *    (see [[GraftRowLevelOperation]]). The right trade when reads
    *    vastly outnumber writes and reorg windows are scarce.
    * CHECK constraints and generated columns are enforced over the
    * new rows before the commit on BOTH paths (same one-pass rules as
    * the append path). Both write through the streaming sink's task
    * writer ([[GraftStreamingDataWriter]], Spark's parquet writer with
    * names from [[graft.txn.TableCommitProtocol]]). Column-mapped tables
    * still refuse: that writer writes the plan's logical field names,
    * which a mapped table's files must not contain.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val path = properties("tablePath")
    val spark = org.apache.spark.sql.SparkSession.active
    val snap = new TxnLog(path,
      spark.sessionState.newHadoopConf()).snapshotLatest()
    snap.metadata.foreach { m =>
      if (m.columnMapping.nonEmpty)
        throw new UnsupportedOperationException(
          s"row-level ${info.command()} on a table with column mapping " +
            s"is not supported ($path)")
    }
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    // UPDATE/MERGE default to merge-on-read (cow is the opt-out); the
    // rewrite-path DELETE keeps its cow default (the dedicated dv DELETE
    // path is SupportsDelete + deleteWhere, toggled separately)
    val useDv = info.command() match {
      case Command.DELETE => spark.conf
        .getOption("spark.graft.delete.mode").exists(_.equalsIgnoreCase("dv"))
      case _ => !spark.conf
        .getOption("spark.graft.update.mode").exists(_.equalsIgnoreCase("cow"))
    }
    () =>
      if (useDv)
        new GraftDeltaRowLevelOperation(info.command(), properties,
          partitionColumns)
      else
        new GraftRowLevelOperation(info.command(), properties,
          partitionColumns)
  }

  /** `DELETE FROM` / `TRUNCATE TABLE`: the pushed filters become the
    * TableWriter.deleteWhere predicate — affected-file discovery,
    * survivor rewrite, and the versioned commit all apply; the deleted
    * state stays time-travelable. Refuses (canDeleteWhere=false) any
    * filter shape it cannot translate EXACTLY — a lossy translation
    * would delete the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftBatchTable.filterColumn(f).isDefined)

  /** SQL DELETE. Two physical strategies behind one statement (Delta's
    * deletion-vector toggle):
    *  - `cow` (default): copy-on-write — affected files rewrite without
    *    the doomed rows (plain-reader friendly, amortizes as compaction);
    *  - `dv` (`spark.graft.delete.mode=dv`): merge-on-read — affected
    *    files stay in place and a KB-scale deletion-vector sidecar marks
    *    the doomed rows, so a 1k-row DELETE on a 100 TB table writes
    *    kilobytes, not files (graft_reorg folds the vectors back later).
    * Both commit the same logical change; q253 hash-proves the DV path's
    * state equals the COW recompute with zero files rewritten.
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val path = properties("tablePath")
    val pred = filters.flatMap(GraftBatchTable.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val log = new TxnLog(path, spark.sessionState.newHadoopConf())
    val useDv = spark.conf.getOption("spark.graft.delete.mode")
      .exists(_.equalsIgnoreCase("dv"))
    OptimisticTxn.retrying(log) { v =>
      if (useDv)
        DeletionVectors.deleteWhere(spark, path, pred, version = v,
          commitTs = System.currentTimeMillis())
      else
        TableWriter.deleteWhere(spark, path, pred, version = v,
          commitTs = System.currentTimeMillis())
    }
  }

  override def name(): String =
    s"graft(${properties.getOrElse("tablePath", "?")})"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    partitionColumns.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // NOT OVERWRITE_DYNAMIC: Spark has no V1Write fallback exec for
      // OverwritePartitionsDynamic (only AppendData/OverwriteByExpression
      // bridge); declaring it would pass analysis then fail planning.
      // Dynamic partition overwrite is the programmatic
      // TableWriter.overwritePartitionsDynamic.
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = properties ++ options.asCaseSensitiveMap().asScala
    new GraftBatchScanBuilder(GraftBatch.resolve(merged), merged)
  }

  /** SQL/`writeTo` writes bridge to the TableWriter path via V1Write, so
    * INSERT gets constraints, generated columns, footer stats, schema
    * enforcement, and commit REBASE (the data job never re-runs on a
    * version race); INSERT OVERWRITE maps to the atomic remove+add
    * commit of overwriteAll; `overwrite(condition)` (replaceWhere) and
    * `overwritePartitions()` scope the replacement to the predicate's
    * rows / the incoming frame's partitions, untouched files keeping
    * their paths.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var doTruncate = false
      private var overwriteFilters: Option[Array[Filter]] = None
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        doTruncate = true; this
      }
      override def overwrite(filters: Array[Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources
              .AlwaysTrue])) doTruncate = true
        else overwriteFilters = Some(filters)
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(
                  data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val path = properties("tablePath")
                val s = data.sparkSession
                overwriteFilters match {
                  case Some(fs) =>
                    val cond = fs.map(f =>
                        GraftBatchTable.filterColumn(f).getOrElse(
                          throw new UnsupportedOperationException(
                            s"replaceWhere condition not expressible: $f")))
                      .reduceOption(_ && _)
                      .getOrElse(org.apache.spark.sql.functions.lit(true))
                    val log = new graft.txn.TxnLog(path,
                      s.sessionState.newHadoopConf())
                    TableWriter.replaceWhere(s, path, data, cond,
                      version = log.latestVersion().getOrElse(0L) + 1,
                      commitTs = System.currentTimeMillis())
                  case None if doTruncate || overwrite =>
                    TableWriter.overwriteAll(s, data, path)
                  case None =>
                    TableWriter.appendRebasing(s, data, path,
                      commitTs = System.currentTimeMillis())
                }
              }
            }
          // df.writeStream.toTable(...): epoch-per-commit exactly-once
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new GraftStreamingWrite(properties("tablePath"), info.schema(),
              partitionColumns, info.queryId())
        }
    }
}

private[sources] class GraftBatchScanBuilder(
    resolved: GraftBatch.Resolved,
    options: Map[String, String] = Map.empty)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.aggregate._

  private var required: StructType = resolved.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var agg: Option[Aggregation] = None

  /** COUNT(*)/MIN/MAX answered from the log's per-file stats — at
    * 100 TB, `SELECT count(*), max(ts) FROM t` becomes a metadata read
    * instead of a scan, and `GROUP BY <partition cols>` variants
    * (`SELECT band, count(*) FROM t GROUP BY band`) group the FILE LIST
    * by its logged partition values — hive layout makes every file
    * value-pure, so per-group stats compose exactly. Sound only when
    * every live file carries stats for the referenced columns and none
    * carries a deletion vector (a DV may have killed the extreme row,
    * and file stats cannot see that); grouped pushes additionally
    * require every group column to be a partition column of a
    * bit-comparable stored type with a value present on EVERY file
    * (partition evolution leaves older files keyless — refuse, scan).
    */
  private def groupPartitionCols(a: Aggregation): Option[Seq[String]] =
    if (a.groupByExpressions.isEmpty) Some(Nil)
    else {
      val names = a.groupByExpressions.toSeq.map {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames.length == 1 => Some(r.fieldNames.head)
        case _ => None
      }
      val ok = names.forall(_.isDefined) && names.flatten.forall { c =>
        resolved.partitionColumns.contains(c) &&
        resolved.schema.fields.find(_.name == c).map(_.dataType).exists {
          case LongType | IntegerType | StringType | BooleanType => true
          case _ => false
        } &&
        resolved.files.forall(_.partitionValues.contains(c))
      }
      if (ok) Some(names.flatten) else None
    }

  private def canPushAgg(a: Aggregation): Boolean = {
    if (pushed.nonEmpty || limit >= 0) return false
    if (groupPartitionCols(a).isEmpty) return false
    if (resolved.files.isEmpty) return false
    if (resolved.files.exists(f => f.dv.isDefined || f.stats.isEmpty))
      return false
    def statsCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 =>
        val phys = ColumnMapping.physicalName(r.fieldNames.head, resolved.mapping)
        val ok = resolved.schema(r.fieldNames.head).dataType match {
          case LongType | IntegerType | DoubleType | FloatType | StringType |
              ShortType | ByteType | DateType | TimestampType |
              TimestampNTZType => true
          case _ => false
        }
        // string min/max of NON-TIGHT stats (CONVERT-registered foreign
        // files) may be truncated bounds — sound for skipping, but a
        // stats-only MIN/MAX answer could return a value the data never
        // held; numeric stats are exact regardless (no parquet truncation)
        val exact = resolved.schema(r.fieldNames.head).dataType match {
          case StringType => resolved.files.forall(_.stats.forall(_.tight))
          case _ => true
        }
        if (ok && exact && resolved.files.forall(_.stats.exists(st =>
          st.minValues.contains(phys) && st.maxValues.contains(phys))))
          Some(phys)
        else None
      case _ => None
    }
    // COUNT(col) = Σ(numRecords − nullCount): answerable iff every
    // file's stats carry the column's null count (pre-feature logs and
    // unsupported types leave the map entry absent → refuse)
    def nullCountCol(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 =>
        val phys = ColumnMapping.physicalName(r.fieldNames.head,
          resolved.mapping)
        if (resolved.files.forall(
            _.stats.exists(_.nullCounts.contains(phys)))) Some(phys)
        else None
      case _ => None
    }
    a.aggregateExpressions.forall {
      case _: CountStar => true
      case c: Count =>
        !c.isDistinct && nullCountCol(c.column).isDefined
      case m: Min => statsCol(m.column).isDefined
      case m: Max => statsCol(m.column).isDefined
      case _ => false
    }
  }

  /** Physical column of a pushed COUNT(col) — mirrors canPushAgg. */
  private def countPhys(
      e: org.apache.spark.sql.connector.expressions.Expression): String =
    ColumnMapping.physicalName(e.asInstanceOf[
      org.apache.spark.sql.connector.expressions.NamedReference]
      .fieldNames.head, resolved.mapping)

  override def supportCompletePushDown(a: Aggregation): Boolean = canPushAgg(a)

  override def pushAggregation(a: Aggregation): Boolean =
    if (canPushAgg(a)) { agg = Some(a); true } else false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a filter is "pushed" if it contributes at least one prunable range;
    // ALL filters stay residual (file-granular pruning is never complete)
    pushed = filters.filter(f => GraftBatch.rangesOf(f).nonEmpty ||
      GraftBatch.nullTermsOf(f).nonEmpty ||
      GraftBatch.inTermsOf(f).nonEmpty)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // partitions stop early, but the global limit still applies post-scan
  override def isPartiallyPushed: Boolean = true

  /** Typed min/max of a column across every file's stats (strings are
    * stats-exact here by construction: canPushAgg admits a string column
    * only when every file's stats are tight — graft's own footerStats
    * never truncates, and CONVERT-registered foreign files carry
    * tight=false precisely so they never reach this path).
    */
  private def statsMinMax(
      e: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean,
      files: Seq[AddFile]): (DataType, Any) = {
    val name = e.asInstanceOf[
      org.apache.spark.sql.connector.expressions.NamedReference]
      .fieldNames.head
    val phys = ColumnMapping.physicalName(name, resolved.mapping)
    val dt = resolved.schema(name).dataType
    val raw = files.map { f =>
      val st = f.stats.get
      if (isMin) st.minValues(phys) else st.maxValues(phys)
    }
    val v: Any = dt match {
      case StringType =>
        // UTF-8 byte order to match UTF8String (a real scan's MIN/MAX);
        // Java String < is UTF-16 code-unit order and disagrees for
        // supplementary code points
        implicit val utf8Ord: Ordering[String] = (a: String, b: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
        if (isMin) raw.min else raw.max
      case DoubleType =>
        val ds = raw.map(_.toDouble); if (isMin) ds.min else ds.max
      case FloatType =>
        val ds = raw.map(_.toFloat); if (isMin) ds.min else ds.max
      case LongType | TimestampType | TimestampNTZType =>
        val ds = raw.map(_.toLong); if (isMin) ds.min else ds.max
      case IntegerType | DateType =>
        val ds = raw.map(_.toInt); if (isMin) ds.min else ds.max
      case ShortType =>
        val ds = raw.map(_.toShort); if (isMin) ds.min else ds.max
      case ByteType =>
        val ds = raw.map(_.toByte); if (isMin) ds.min else ds.max
      case other => throw new IllegalStateException(
        s"unreachable: canPushAgg admitted $other")
    }
    (dt, v)
  }

  override def build(): Scan = {
    agg match {
      case Some(a) =>
        val groupCols = groupPartitionCols(a).get
        val gFields = groupCols.map(c =>
          resolved.schema.fields.find(_.name == c).get)
        // hive layout makes every file partition-value-pure, so the
        // group's files ARE the group — stats compose exactly per group
        val groups: Seq[(Seq[String], Seq[AddFile])] =
          if (groupCols.isEmpty) Seq((Nil, resolved.files))
          else resolved.files
            .groupBy(f => groupCols.map(f.partitionValues(_)))
            .toSeq.sortBy(_._1.mkString("\u0000"))
        // contract: group-by columns first, then aggregate columns
        val fields = Array.newBuilder[StructField]
        gFields.foreach(f =>
          fields += StructField(f.name, f.dataType, nullable = true))
        def declaredType(
            e: org.apache.spark.sql.connector.expressions.Expression)
            : DataType =
          resolved.schema(e.asInstanceOf[
            org.apache.spark.sql.connector.expressions.NamedReference]
            .fieldNames.head).dataType
        a.aggregateExpressions.zipWithIndex.foreach {
          case (_: CountStar, i) =>
            fields += StructField(s"agg_$i", LongType, nullable = false)
          case (_: Count, i) =>
            fields += StructField(s"agg_$i", LongType, nullable = false)
          case (m: Min, i) =>
            fields += StructField(s"agg_$i", declaredType(m.column),
              nullable = false)
          case (m: Max, i) =>
            fields += StructField(s"agg_$i", declaredType(m.column),
              nullable = false)
          case (other, _) => throw new IllegalStateException(
            s"unreachable: canPushAgg admitted $other")
        }
        val rows: Seq[Array[Any]] = groups.map { case (gv, files) =>
          val vals = Array.newBuilder[Any]
          gv.zip(gFields).foreach { case (s, fld) =>
            vals += (if (s == "__HIVE_DEFAULT_PARTITION__") null
            else fld.dataType match {
              case StringType  => s
              case LongType    => s.toLong
              case IntegerType => s.toInt
              case BooleanType => s.toBoolean
              case other => throw new IllegalStateException(
                s"unreachable: groupPartitionCols admitted $other")
            })
          }
          a.aggregateExpressions.foreach {
            case _: CountStar =>
              vals += files.map(_.stats.get.numRecords).sum
            case c: Count =>
              val phys = countPhys(c.column)
              vals += files.map(f => f.stats.get.numRecords -
                f.stats.get.nullCounts(phys)).sum
            case m: Min => vals += statsMinMax(m.column, isMin = true, files)._2
            case m: Max => vals += statsMinMax(m.column, isMin = false, files)._2
            case other => throw new IllegalStateException(
              s"unreachable: canPushAgg admitted $other")
          }
          vals.result()
        }
        return new GraftBatchAggScan(resolved,
          StructType(fields.result().toSeq), rows)
      case None => ()
    }
    val ranges = pushed.flatMap(GraftBatch.rangesOf)
      .map { case (c, lo, hi) =>
        (ColumnMapping.physicalName(c, resolved.mapping), lo, hi)
      }
    val physSchema =
      ColumnMapping.physicalSchema(resolved.schema, resolved.mapping)
    val rangeKept = DataSkipping.pruneFilesAll(
      resolved.files, physSchema, ranges.toSeq)
    // null-count pruning: IS NULL drops zero-null files, IS NOT NULL
    // drops all-null files; an absent count keeps the file (sound)
    val nullTerms = pushed.flatMap(GraftBatch.nullTermsOf)
      .map { case (c, isNull) =>
        (ColumnMapping.physicalName(c, resolved.mapping), isNull) }
    val statsKept =
      if (nullTerms.isEmpty) rangeKept
      else rangeKept.filter { f =>
        nullTerms.forall { case (c, isNull) =>
          f.partitionValues.get(c) match {
            // hive layout makes files partition-value-pure: the null
            // sentinel IS the column's nullness for every row
            case Some(v) =>
              if (isNull) v == "__HIVE_DEFAULT_PARTITION__"
              else v != "__HIVE_DEFAULT_PARTITION__"
            case None =>
              f.stats.flatMap(st => st.nullCounts.get(c).map(n =>
                if (isNull) n > 0 else n < st.numRecords)).getOrElse(true)
          }
        }
      }
    // IN-list pruning: a file survives iff ANY candidate value may sit
    // in its [min, max] — per-term disjunction of point probes
    val inTerms = pushed.flatMap(GraftBatch.inTermsOf)
      .map { case (c, vs) =>
        (ColumnMapping.physicalName(c, resolved.mapping), vs) }
    val inKept =
      if (inTerms.isEmpty) statsKept
      else statsKept.filter { f =>
        inTerms.forall { case (c, vs) =>
          vs.exists(v => DataSkipping.pruneFiles(Seq(f),
            physSchema(c).dataType, c, v, v).nonEmpty)
        }
      }
    // generated-column partition pruning: a base-column range derives a
    // formatted range on the generated partition column (logical names —
    // partition columns are never mapped, and the generation expression
    // references the base by its logical spelling)
    val gpr = GraftBatch.derivedPartitionRanges(
      resolved.generatedColumns, resolved.partitionColumns,
      resolved.schema, pushed.flatMap(GraftBatch.rangesOf))
    val gprKept =
      if (gpr.isEmpty) inKept
      else inKept.filter { f =>
        gpr.forall { case (gcol, lo, hi) =>
          f.partitionValues.get(gcol) match {
            case Some(v) if v != "__HIVE_DEFAULT_PARTITION__" =>
              def cmp(a: String, b: String): Int =
                org.apache.spark.unsafe.types.UTF8String.fromString(a)
                  .compareTo(org.apache.spark.unsafe.types.UTF8String
                    .fromString(b))
              cmp(v, lo) >= 0 && cmp(v, hi) <= 0
            case _ => true
          }
        }
      }
    // point probes additionally consult the per-file bloom index (the
    // only file-level signal with power on high-cardinality keys);
    // IN lists probe the same way — ANY value might-contain keeps
    val points = ranges.filter { case (_, lo, hi) => lo == hi }
    val kept =
      if (points.isEmpty && inTerms.isEmpty) gprKept
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        // bloom evaluation runs in tasks over the sidecar; only DROPPED
        // file names reach the driver. An IN term with any UNHASHABLE
        // value cannot prune (matches the soundness rule: keep).
        val pointTerms = points.flatMap { case (c, lo, _) =>
          BloomIndex.probeHash(physSchema(c).dataType, lo)
            .map(h => (c, Seq(h)))
        }
        val listTerms = inTerms.flatMap { case (c, vs) =>
          val hs = vs.flatMap(v =>
            BloomIndex.probeHash(physSchema(c).dataType, v))
          if (hs.size == vs.size && hs.nonEmpty) Some((c, hs)) else None
        }
        val dropped = BloomIndex.prunedFiles(spark, resolved.tablePath,
          pointTerms ++ listTerms)
        if (dropped.isEmpty) gprKept
        else gprKept.filterNot(f =>
          dropped.contains(new org.apache.hadoop.fs.Path(f.path).getName))
      }
    new GraftBatchScan(resolved, kept, required, limit, options,
      pushed.toSeq)
  }
}

private[sources] class GraftBatchScan(
    resolved: GraftBatch.Resolved,
    kept0: Seq[AddFile],
    val required: StructType,
    val limit: Int,
    options: Map[String, String] = Map.empty,
    pushedV1: Seq[Filter] = Seq.empty)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with SupportsReportPartitioning {

  /** Post-pushdown (and, under a row-level rewrite, post-runtime-group-
    * filter) live file set — also the replaced-group record the
    * row-level write commits removes for.
    */
  @volatile var kept: Seq[AddFile] = kept0

  /** Conflict-detection anchors for the row-level write: the snapshot
    * version this scan bound, and the full bound file set (so a re-add
    * of a pre-existing path — a DV delete — is distinguishable from a
    * genuinely new file).
    */
  private[sources] def boundVersion: Long = resolved.version
  private[sources] def boundResolved: GraftBatch.Resolved = resolved
  // MV auto-rewrite eligibility: a scan with pushed filters answers a
  // filtered question the MV does not maintain
  private[sources] def pushedV1Filters: Seq[Filter] = pushedV1

  /** Partition columns whose stored string form is BIT-COMPARABLE with
    * `String.valueOf` of a runtime literal (integral, string, boolean):
    * for these, an IN-list membership test on strings is exact, so
    * runtime pruning can never drop a file whose rows would match.
    * Temporal/decimal columns are excluded — their literal encodings
    * (epoch days/micros, unscaled longs) differ from the hive partition
    * string, and a representation mismatch must make pruning
    * conservative, not wrong.
    */
  private def prunablePartitionCols: Seq[String] =
    resolved.partitionColumns.filter { c =>
      resolved.schema.fields.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.StringType |
            org.apache.spark.sql.types.BooleanType => true
        case _ => false
      }
    }

  /** DATA columns eligible for runtime FILE pruning (dynamic file
    * pruning, the Delta DFP idea): stats-comparable type AND every kept
    * file carries min/max stats for the column — a stats-less file
    * would have to be kept anyway, so the column still prunes soundly,
    * but advertising it when most files lack stats is pointless.
    */
  private def statsPrunableDataCols: Seq[String] =
    resolved.schema.fields.toSeq
      .filter(f => !resolved.partitionColumns.contains(f.name))
      .filter(f => f.dataType match {
        case org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.DoubleType |
            org.apache.spark.sql.types.FloatType |
            org.apache.spark.sql.types.StringType => true
        case _ => false
      })
      .map(_.name)
      .filter(c => kept.nonEmpty && kept.forall(f =>
        f.stats.exists(st =>
          st.minValues.contains(c) && st.maxValues.contains(c))))

  /** Advertise columns for runtime filtering ONLY when the scan
    * actually projects them (Spark's pruning rules resolve these refs
    * against the scan output, and an unprojected column is an
    * AnalysisException there):
    *  - `_graft_file` — the row-level MERGE/UPDATE group filter;
    *  - prunable PARTITION columns — DSv2 dynamic partition pruning: a
    *    star join on a partition key prunes the fact scan's file list
    *    at runtime from the dim side's matched keys;
    *  - stats-covered DATA columns — dynamic FILE pruning: the same
    *    runtime IN list prunes by per-file min/max, so a join on a
    *    clustered non-partition key also opens only matching files.
    */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    // Mutually exclusive on purpose: a scan that projects `_graft_file`
    // is a row-level rewrite scan, and advertising MORE attributes there
    // makes Spark build one combined struct-IN runtime filter that no
    // source can translate — losing the group filter entirely (every
    // file rewritten). One attribute -> one plain IN -> translatable.
    val cols =
      if (required.fieldNames.contains(GraftBatch.FileMetadataColumn))
        Seq(GraftBatch.FileMetadataColumn)
      else (prunablePartitionCols ++ statsPrunableDataCols)
        .filter(required.fieldNames.contains)
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  /** Runtime filtering: Spark hands back IN predicates at execution
    * start — distinct `_graft_file` values containing row-level matches,
    * or (dynamic partition pruning) the dim side's join-key values for a
    * partition column. Files outside the list never open. Unknown
    * predicate shapes are ignored — pruning is an optimization, never
    * required for correctness (the join re-applies the condition).
    */
  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        p.children().head match {
          case ref: org.apache.spark.sql.connector.expressions.NamedReference
              if ref.fieldNames().sameElements(
                Array(GraftBatch.FileMetadataColumn)) =>
            val values: Set[String] = p.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                String.valueOf(l.value)
            }.toSet
            kept = kept.filter(f => values.contains(
              TxnLog.dataPath(resolved.tablePath, f.path)))
          case ref: org.apache.spark.sql.connector.expressions.NamedReference
              if ref.fieldNames().length == 1 &&
                prunablePartitionCols.contains(ref.fieldNames().head) =>
            val column = ref.fieldNames().head
            val values: Set[String] = p.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value != null =>
                String.valueOf(l.value)
            }.toSet
            kept = kept.filter(f => f.partitionValues.get(column) match {
              case Some("__HIVE_DEFAULT_PARTITION__") =>
                // an IN list never matches NULL: null-partition files
                // prune soundly under an equi-join's runtime filter
                false
              case Some(v) => values.contains(v)
              case None =>
                // partition evolution: in files of an older generation
                // this is a DATA column — always keep them
                true
            })
          case ref: org.apache.spark.sql.connector.expressions.NamedReference
              if ref.fieldNames().length == 1 &&
                statsPrunableDataCols.contains(ref.fieldNames().head) =>
            // dynamic FILE pruning: keep a file iff ANY in-list value
            // could sit inside its [min, max] — point probes through
            // the same stats machinery batch predicates use, so
            // soundness (keep on any doubt) is inherited
            val column = ref.fieldNames().head
            val dt = resolved.schema.fields
              .find(_.name == column).map(_.dataType).get
            val values = p.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value != null => l.value
            }.toSeq
            val survivors = values
              .flatMap(v => DataSkipping.pruneFiles(kept, dt, column, v, v))
              .map(_.path).toSet
            kept = kept.filter(f => survivors.contains(f.path))
          case _ => ()
        }
      }
    }

  /** Storage-partitioned join (the Iceberg/Delta SPJ shape): when the
    * table is hive-partitioned and the partition columns survive column
    * pruning, the scan REPORTS `KeyGroupedPartitioning(identity(cols))`
    * and every input partition carries its typed partition key. Two
    * graft tables partitioned on the same key then join with ZERO
    * shuffle under `spark.sql.sources.v2.bucketing.enabled` — at 100 TB
    * the fact-fact join's exchange (the single largest network cost in
    * a star pipeline) disappears entirely; Spark aligns mismatched
    * partition-value sets via its pushPartValues machinery.
    *
    * Guard rails (all make the scan fall back to unknown partitioning,
    * never to a wrong answer):
    *  - only bit-comparable stored types (integral/string/boolean —
    *    the [[prunablePartitionCols]] argument: the hive string is the
    *    identity of the value);
    *  - every kept file must carry a value for every partition column
    *    (pre-evolution generations store it as DATA — such a file has
    *    no key and cannot be key-grouped);
    *  - the row-level rewrite scan (projects `_graft_file`) opts out:
    *    its runtime group filter mutates `kept` after planning.
    */
  private def spjColumns: Option[Seq[StructField]] = {
    val pcs = resolved.partitionColumns
    val fields = pcs.flatMap(c => resolved.schema.fields.find(_.name == c))
    val typesOk = fields.length == pcs.length && fields.forall(_.dataType match {
      case LongType | IntegerType | StringType | BooleanType => true
      case _ => false
    })
    if (pcs.nonEmpty && typesOk &&
      pcs.forall(required.fieldNames.contains) &&
      !required.fieldNames.contains(GraftBatch.FileMetadataColumn) &&
      kept.forall(f => pcs.forall(f.partitionValues.contains)))
      Some(fields)
    else None
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjColumns match {
      case Some(fields) =>
        val distinctKeys = kept
          .map(f => fields.map(fd => f.partitionValues(fd.name)))
          .distinct.size
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            fields.map(fd => org.apache.spark.sql.connector.expressions
              .Expressions.identity(fd.name)).toArray,
            math.max(1, distinctKeys))
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(kept.size)
    }

  /** `spark.readStream.table(...)`: tail the table's commit log as an
    * append-only stream of PAYLOAD rows — the current snapshot first
    * (Delta's default initial-snapshot behavior), then one micro-batch
    * per commit, with the CDC stream's admission control available
    * (maxFilesPerTrigger / maxRowsPerTrigger / maxVersionsPerTrigger).
    * Non-append changes (removes, DV deletes) REFUSE the stream unless
    * `ignoreDeletes=true` — silently dropping deletions would let an
    * append-only consumer diverge without noticing.
    */
  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftTableTailStream(required,
      options + ("tablePath" -> resolved.tablePath) +
        ("includeHistory" -> options.getOrElse("includeHistory", "true")) +
        ("startingVersion" ->
          options.getOrElse("startingVersion", resolved.version.toString)))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBatch ${resolved.tablePath}@v${resolved.version} " +
      s"files=${kept.size}/${resolved.files.size}"

  /** Post-pushdown statistics: Catalyst's broadcast decision sees the
    * pruned byte size, not the whole table's — and when an ANALYZE
    * `_stats` sidecar exists, the pushed filters' estimated SELECTIVITY
    * scales it further, so a selective filter on a large dimension can
    * flip the join to broadcast (post-filter cardinality is exactly
    * what a file-size threshold cannot see). Without a sidecar the
    * factor is 1.0 and behavior is unchanged.
    */
  private lazy val statsSelectivity: Double =
    // same snapshot-pinning rule as analyzedColumnStats below: the
    // sidecar describes the LATEST analyzed state — a time-traveled
    // scan must not scale its size estimate by it
    if (pushedV1.isEmpty || options.contains("versionAsOf") ||
        options.contains("timestampAsOf")) 1.0
    else Analyze.selectivityOfFilters(
      org.apache.spark.sql.SparkSession.active, resolved.tablePath,
      pushedV1).getOrElse(1.0)

  /** ANALYZE column stats shaped for the CBO (loaded once per scan;
    * one metadata read, only when a `_stats` sidecar exists). Min/max
    * convert from the sidecar's string form to the CATALYST-internal
    * value the estimators expect; unconvertible types surface
    * ndv/null-count only (still enough for equality selectivity).
    *
    * TIME-TRAVELED scans (VERSION/TIMESTAMP AS OF) take NO column
    * stats: the sidecar describes the latest analyzed state, and
    * feeding it to a pinned older snapshot would hand the CBO numbers
    * for a different table (plan quality, not results — but a wrong
    * broadcast decision at 100 TB is an OOM, not a detail).
    */
  private lazy val analyzedColumnStats
      : Map[String, graft.txn.Analyze.ColStats] =
    if (options.contains("versionAsOf") || options.contains("timestampAsOf"))
      Map.empty
    else graft.txn.Analyze.columnStatsFor(
      org.apache.spark.sql.SparkSession.active, resolved.tablePath)

  private def typedStat(
      dt: org.apache.spark.sql.types.DataType,
      s: String): java.util.Optional[Object] = {
    import org.apache.spark.sql.types._
    try {
      if (s == null) java.util.Optional.empty()
      else {
        val v: Object = dt match {
          case LongType => java.lang.Long.valueOf(s)
          case IntegerType => java.lang.Integer.valueOf(s)
          case ShortType => java.lang.Short.valueOf(s)
          case ByteType => java.lang.Byte.valueOf(s)
          case DoubleType => java.lang.Double.valueOf(s)
          case FloatType => java.lang.Float.valueOf(s)
          case DateType => java.lang.Integer.valueOf(
            java.time.LocalDate.parse(s).toEpochDay.toInt)
          case _: DecimalType => Decimal(s)
          case _ => null
        }
        java.util.Optional.ofNullable(v)
      }
    } catch { case _: Throwable => java.util.Optional.empty() }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L,
        (kept.map(_.size).sum * statsSelectivity).toLong))
    override def numRows(): OptionalLong = {
      val counts = kept.flatMap(_.stats.map(_.numRecords))
      if (counts.size == kept.size)
        OptionalLong.of(math.max(if (counts.sum > 0) 1L else 0L,
          (counts.sum * statsSelectivity).toLong))
      else OptionalLong.empty()
    }
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      analyzedColumnStats.foreach { case (c, st) =>
        resolved.schema.fields.find(_.name == c)
          .filter(f => required.fieldNames.contains(f.name))
          .foreach { f =>
            m.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  OptionalLong.of(st.ndv)
                override def nullCount(): OptionalLong =
                  OptionalLong.of(st.nNull)
                override def min(): java.util.Optional[Object] =
                  typedStat(f.dataType, st.minS)
                override def max(): java.util.Optional[Object] =
                  typedStat(f.dataType, st.maxS)
                // ANALYZE's equi-depth bounds become a CBO histogram:
                // range selectivity on SKEWED columns stops assuming
                // uniform [min, max] — per-bin ndv is the honest
                // equi-depth approximation ndv/B
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats
                      .Histogram] =
                  st.hist.filter(_.length >= 2).map { bounds =>
                    import org.apache.spark.sql.connector.read.colstats._
                    val b = bounds.length - 1
                    val binNdv = math.max(1L, st.ndv / b)
                    val h: Histogram = new Histogram {
                      override def height(): Double =
                        (st.n - st.nNull).toDouble / b
                      override def bins(): Array[HistogramBin] =
                        (0 until b).map { i =>
                          val bin: HistogramBin = new HistogramBin {
                            override def lo(): Double = bounds(i)
                            override def hi(): Double = bounds(i + 1)
                            override def ndv(): Long = binNdv
                          }
                          bin
                        }.toArray
                    }
                    java.util.Optional.of(h)
                  }.getOrElse(java.util.Optional.empty())
              })
          }
      }
      m
    }
  }

  /** The file reader of this scan, built once at planning: the pruned
    * PHYSICAL schema (file-spelling names) minus the metadata columns no
    * file carries — `_graft_row_id` stays, read where a rewrite
    * materialized it.
    */
  private lazy val rows: FileRows = {
    val spark = org.apache.spark.sql.SparkSession.active
    FileRows(spark, StructType(
      ColumnMapping.physicalSchema(required, resolved.mapping).fields
        .filterNot(f => f.name == GraftBatch.FileMetadataColumn ||
          f.name == GraftBatch.PosMetadataColumn)),
      spark.sessionState.newHadoopConf())
  }

  /** The dead positions of the scanned files' deletion vectors, loaded
    * once per scan where its partitions are planned: a re-plan after
    * runtime filtering (which only narrows `kept`) reuses them, and a
    * row-level write carries the affected files' kills from them.
    */
  private[sources] lazy val masks: DeletionVectors.Masks =
    DeletionVectors.masks(org.apache.spark.sql.SparkSession.active,
      resolved.tablePath, kept)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new DvDroppedRows)

  override def planInputPartitions(): Array[InputPartition] = {
    // Same predicate as outputPartitioning(): when the scan reported
    // key grouping, every partition must carry its typed key (Spark
    // groups same-key files into one task-side partition).
    val spj = spjColumns
    // Large files SPLIT into byte ranges (spark.sql.files
    // .maxPartitionBytes, Spark's own splitting contract): the reader
    // keeps the row groups whose midpoint falls in its range, so a
    // multi-GB file — a CONVERTed lake's, typically — reads as many
    // parallel tasks, never one. Planning needs NO footer read (ranges
    // are pure byte arithmetic on the logged size); limit scans stay
    // whole-file (they stop after a handful of rows anyway).
    val maxSplit = org.apache.spark.sql.internal.SQLConf.get
      .filesMaxPartitionBytes
    kept.flatMap { f =>
      val ranges: Seq[(Long, Long)] =
        if (limit >= 0) Seq(ParquetSplits.WholeFile)
        else ParquetSplits.ranges(f.size, maxSplit)
      val dv = f.dv.map(p => FileRows.Dv(masks.dead(f.path, p)))
      ranges.map { case (rs, re) =>
        GraftBatchPartition(
          TxnLog.dataPath(resolved.tablePath, f.path),
          f.partitionValues,
          dv = dv,
          limit = limit,
          baseRowId = f.baseRowId,
          keyValues = spj.map(_.map(fd => GroupRows.castPartitionValue(
            f.partitionValues(fd.name), fd.dataType)).toArray),
          rangeStart = rs,
          rangeEnd = re,
          size = f.size)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBatchReaderFactory(rows, required)
}

/** One byte range of a live data file of the bound snapshot; rows its
  * deletion-vector mask `dv` (this file's bitmap only) lists are skipped.
  */
private[sources] case class GraftBatchPartition(
    filePath: String,
    partitionValues: Map[String, String],
    dv: Option[FileRows.Dv],
    limit: Int,
    baseRowId: Option[Long] = None,
    keyValues: Option[Array[Any]] = None,
    // byte range of the split ((0, MaxValue) = whole file): the reader
    // takes row groups whose MIDPOINT lands in [start, end) — parquet's
    // own range rule, so every row group lands in exactly one split
    rangeStart: Long = 0L,
    rangeEnd: Long = Long.MaxValue,
    size: Long = -1L)
  extends InputPartition with HasPartitionKey {

  /** Typed hive partition values in declared partition-column order.
    * Only consulted by Spark when the scan reported
    * KeyGroupedPartitioning — which it does iff `keyValues` was
    * populated from the same [[GraftBatchScan.spjColumns]] predicate.
    */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyValues.getOrElse(Array.empty[Any]))
}

/** Projects each file's rows to the scan's `required` (logical) columns:
  * `_graft_file` is the absolute data path (what the runtime group filter
  * compares against), `_graft_pos` the raw position in the file (with the
  * file, the delta row-level operation's row id — exactly the handle a
  * deletion-vector sidecar marks dead), `_graft_row_id` the stable row
  * id; every other column is read or comes from the log's partition
  * values.
  */
private[sources] class GraftBatchReaderFactory(rows: FileRows,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val f = p.asInstanceOf[GraftBatchPartition]
    val columns = rows.columns(f.partitionValues)
    val names = rows.readSchema.fieldNames
    var next = 0 // required minus the two unread metadata columns = read order
    val out = required.fieldNames.map {
      case GraftBatch.FileMetadataColumn =>
        FileRows.Value(org.apache.spark.unsafe.types.UTF8String
          .fromString(f.filePath))
      case GraftBatch.PosMetadataColumn => FileRows.Pos
      case _ =>
        val i = next
        next += 1
        if (names(i) == GraftBatch.RowIdMetadataColumn)
          FileRows.RowId(i, f.baseRowId)
        else columns(i)
    }
    rows.open(f.filePath, (f.rangeStart, f.rangeEnd), f.size, out,
      dv = f.dv, limit = f.limit)
  }
}

private[sources] object GraftBatchTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** Exact V1-filter → Column translation (None = not expressible). */
  def filterColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(c, v) => Some(col(c) === lit(v))
    case sources.EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case sources.GreaterThan(c, v) => Some(col(c) > lit(v))
    case sources.GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case sources.LessThan(c, v) => Some(col(c) < lit(v))
    case sources.LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case sources.IsNull(c) => Some(col(c).isNull)
    case sources.IsNotNull(c) => Some(col(c).isNotNull)
    case sources.In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case sources.StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case sources.StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case sources.StringContains(c, v) => Some(col(c).contains(v))
    case sources.And(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a || b
    case sources.Not(x) => filterColumn(x).map(!_)
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** The readStream.table tail: wraps the CDC micro-batch stream, keeps
  * only op='c' (insert) file events, and projects the CDC envelope off
  * so the stream's rows ARE table rows. Non-append events refuse the
  * stream unless `ignoreDeletes=true`.
  */
private[sources] class GraftTableTailStream(
    payload: StructType,
    options: Map[String, String])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private val inner = new GraftCdcMicroBatchStream(
    GraftCdc.envelopeSchema(payload), options)
  private val ignoreDeletes =
    options.get("ignoreDeletes").exists(_.equalsIgnoreCase("true"))

  override def initialOffset(): Offset = inner.initialOffset()
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def deserializeOffset(json: String): Offset =
    inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val all = inner.planInputPartitions(start, end)
    all.foreach {
      case f: CdcFilePartition if (f.op == "r" || f.op == "d") && !ignoreDeletes =>
        throw new IllegalStateException(
          s"streaming table read found a non-append change (op='${f.op}' at " +
            s"version ${f.version}); an append-only consumer would silently " +
            "diverge — handle deletes downstream and set ignoreDeletes=true, " +
            "or restart the stream from a fresh snapshot")
      case _ => ()
    }
    all.filter {
      case f: CdcFilePartition => f.op == "c"
      case _ => false // schema-change control rows have no payload shape here
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner.readerFactory(envelope = false)
}

/** Completely-pushed aggregate: one partition, one row per group (one
  * total row when ungrouped), values computed on the driver from the
  * log's file statistics — no data file opens. String values travel as
  * java Strings (UTF8String conversion happens in the reader, at the
  * InternalRow boundary).
  */
private[sources] class GraftBatchAggScan(
    resolved: GraftBatch.Resolved,
    aggSchema: StructType,
    rows: Seq[Array[Any]]) extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBatchAgg ${resolved.tablePath}@v${resolved.version} " +
      s"stats-only over ${resolved.files.size} files, ${rows.size} groups"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftBatchAggPartition(aggSchema.json, rows))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val ap = p.asInstanceOf[GraftBatchAggPartition]
        val schema = DataType.fromJson(ap.schemaJson).asInstanceOf[StructType]
        new PartitionReader[InternalRow] {
          private var idx = -1
          override def next(): Boolean = { idx += 1; idx < ap.rows.length }
          override def get(): InternalRow = {
            val vals = ap.rows(idx)
            val row = new Array[Any](schema.length)
            var i = 0
            while (i < schema.length) {
              row(i) = (schema(i).dataType, vals(i)) match {
                case (StringType, s: String) =>
                  org.apache.spark.unsafe.types.UTF8String.fromString(s)
                case (_, v) => v
              }
              i += 1
            }
            new GenericInternalRow(row)
          }
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] case class GraftBatchAggPartition(
    schemaJson: String,
    rows: Seq[Array[Any]]) extends InputPartition
