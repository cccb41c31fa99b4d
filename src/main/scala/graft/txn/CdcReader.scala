package graft.txn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offset into the CDC stream — the engine's DeltaCheckpoint
  * (DeltaCheckpoint.java:28–89) with the documented total order and the
  * boxed-compare defect (#11) fixed. Positions are EXCLUSIVE consumed
  * counts (the reference's mid-file checkpoint, DeltaReader.java:263–282):
  *
  *  - `(FULL_COPY, v, -1, -1)` — snapshot at v pending, nothing consumed
  *  - `(FULL_COPY, v, f, r)` — snapshot files 0..f-1 fully consumed plus
  *    the first r rows of snapshot file f
  *  - `(INCREMENTAL, v, f, r)` — versions ≤ v-1 fully consumed, plus
  *    files 0..f-1 of version v and the first r rows of file f
  *  - `(INCREMENTAL, v, -1, -1)` — version v fully consumed
  *
  * The sentinel -1 therefore sorts FIRST within a FULL_COPY version
  * (nothing consumed) but LAST within an INCREMENTAL one (all consumed).
  */
final case class CdcOffset(
    phase: Int, // 0 = FULL_COPY, 1 = INCREMENTAL_COPY
    version: Long,
    fileIndex: Long,
    rowNum: Long) extends Ordered[CdcOffset] {
  override def compare(that: CdcOffset): Int = {
    val c1 = java.lang.Integer.compare(phase, that.phase)
    if (c1 != 0) return c1
    val c2 = java.lang.Long.compare(version, that.version)
    if (c2 != 0) return c2
    // same phase at this point; -1 is phase-dependent (see class doc)
    def norm(x: Long): Long =
      if (x >= 0) x
      else if (phase == CdcOffset.Incremental) Long.MaxValue
      else -1L
    val c3 = java.lang.Long.compare(norm(fileIndex), norm(that.fileIndex))
    if (c3 != 0) return c3
    java.lang.Long.compare(norm(rowNum), norm(that.rowNum))
  }
  def json: String =
    s"""{"phase":$phase,"version":$version,"fileIndex":$fileIndex,"rowNum":$rowNum}"""
}

object CdcOffset {
  val FullCopy = 0
  val Incremental = 1
  private val Re =
    """\{"phase":(\d+),"version":(\d+),"fileIndex":(-?\d+),"rowNum":(-?\d+)\}""".r
  def fromJson(s: String): CdcOffset = s.trim match {
    case Re(p, v, f, r) => CdcOffset(p.toInt, v.toLong, f.toLong, r.toLong)
    case other => throw new IllegalArgumentException(s"bad offset: $other")
  }
}

/** Batch CDC reader: replays a table's transaction log into a
  * change-event DataFrame with the reference's envelope (SURVEY.md §1.4):
  * op ∈ {c,r,d,m} — 'd' is this engine's extension for deletion-vector
  * row deletes — partition_value (canonical sorted k=v string), ts (event
  * time: AddFile.modificationTime / RemoveFile.deletionTimestamp), plus
  * commit_version, plus the payload columns.
  *
  * Scale shape: one distributed parquet scan per op-kind per phase (file
  * lists unioned, per-file envelope attached via a broadcast path→info
  * join on the _metadata.file_path column) — the driver only touches file
  * *names*, never rows.
  */
object CdcReader {

  /** Canonical partition-value string: TreeMap-ordered `k=v` joined with
    * ',' (reference: partitionValueToString, DeltaReader.java:290–299).
    */
  def partitionValueString(pv: Map[String, String]): String =
    pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Full envelope read: snapshot at `startingVersion` as op='c' (the
    * FULL_COPY phase, if includeHistory), then every later commit's
    * adds/removes/metadata as incremental events.
    */
  /** @param partitionPred file-level pruning on partitionValues: only
    *        events of matching partitions replay — a single-partition
    *        backfill never lists, opens, or shuffles the other
    *        partitions' files (None = all).
    */
  def cdc(
      spark: SparkSession,
      tablePath: String,
      startingVersion: Long = 0L,
      includeHistory: Boolean = true,
      partitionPred: Option[Map[String, String] => Boolean] = None,
      endingVersion: Option[Long] = None): DataFrame = {
    endingVersion.foreach(e => require(e >= startingVersion,
      s"endingVersion $e < startingVersion $startingVersion"))
    val keep: Map[String, String] => Boolean = partitionPred.getOrElse(_ => true)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, hadoopConf)
    // fully-qualified file URIs so the _metadata.file_path join matches
    val tableQ = {
      val p = new org.apache.hadoop.fs.Path(tablePath)
      p.getFileSystem(hadoopConf).makeQualified(p)
    }
    def qualify(rel: String): String =
      if (TxnLog.isExternal(rel)) {
        val p = new org.apache.hadoop.fs.Path(rel)
        p.getFileSystem(hadoopConf).makeQualified(p).toString
      } else new org.apache.hadoop.fs.Path(tableQ, rel).toString

    // (file, op, eventTs, version) for every whole-file event
    val fileEvents = scala.collection.mutable.ArrayBuffer.empty[(AddFile, String, Long, Long)]
    // snapshot-phase files whose rows need the DV filter applied
    val snapDv = scala.collection.mutable.ArrayBuffer.empty[AddFile]
    var snapVersion = startingVersion
    // DV transitions: (file, version) pairs whose newly-dead rows emit 'd'
    val dvTransitions = scala.collection.mutable.ArrayBuffer.empty[(AddFile, Long)]
    // whole-file removes of DV-carrying files: only LIVE rows emit 'r'
    // (rows already streamed as op='d' at an earlier version must not
    // resurrect when a rewrite op later removes the file)
    val removeLive = scala.collection.mutable.ArrayBuffer.empty[(AddFile, Long, Long)]

    // Running path → DV pointer state as of the version being walked,
    // seeded at startingVersion. Maintained across ALL adds/removes
    // (dataChange=false compaction clears pointers too), so a remove
    // always sees its file's pre-commit vector.
    val dvByPath = scala.collection.mutable.HashMap.empty[String, String]
    val seedSnap = log.snapshot(startingVersion)
    seedSnap.files.foreach(f => f.dv.foreach(dvByPath(f.path) = _))

    if (includeHistory) {
      snapVersion = seedSnap.version
      seedSnap.files.filter(f => keep(f.partitionValues)).foreach { f =>
        if (f.dv.isDefined) snapDv += f
        else fileEvents += ((f, "c", f.modificationTime, seedSnap.version))
      }
    }
    var metaRows = Seq.empty[(String, Long, Long)] // (op,ts,version) for 'm'
    // bounded replay (Delta's table_changes(start, end) shape): commits
    // past the bound simply don't exist for this read
    log.changes(startingVersion + 1).iterator
      .takeWhile { case (v, _) => endingVersion.forall(v <= _) }
      .foreach { case (v, actions) =>
      // FSCK removes record files whose bytes are GONE — an 'r' event
      // would read the removed file's rows, which no longer exist
      require(!actions.exists {
          case c: CommitInfo => c.operation == Fsck.Operation
          case _ => false
        },
        s"CDC read of $tablePath: version $v is an FSCK repair — its " +
          "removed files were physically lost and cannot be replayed " +
          s"as row events; start the read after version $v")
      // A DV delete commits Remove(p) + Add(p, dv) for each affected
      // file: the CDC meaning is "these ROWS died", not "this file
      // churned" — emit op='d' for the newly-dead rows and suppress the
      // whole-file 'r'/'c' pair.
      val dvPaths = actions.collect {
        case a: AddFile if a.dataChange && a.dv.isDefined => a.path
      }.toSet
      actions.foreach {
        // dataChange=false (compaction/reorganization) is not a CDC event
        case a: AddFile if a.dataChange && keep(a.partitionValues) =>
          if (a.dv.isDefined) dvTransitions += ((a, v))
          else fileEvents += ((a, "c", a.modificationTime, v))
        case r: RemoveFile if r.dataChange && keep(r.partitionValues) &&
            !dvPaths.contains(r.path) =>
          dvByPath.get(r.path) match {
            // file carried a vector: its dead rows were already op='d'
            // events — only the still-live rows are removed now.
            // (Writers never reuse paths — UUID file names — so one path
            // appears at most once in this buffer.)
            case Some(d) => removeLive += ((AddFile(r.path, r.partitionValues,
              0L, 0L, dataChange = true, dv = Some(d)), r.deletionTimestamp, v))
            case None =>
              fileEvents += ((AddFile(r.path, r.partitionValues, 0L, 0L,
                dataChange = true), "r", r.deletionTimestamp, v))
          }
        case m: Metadata if v > startingVersion =>
          metaRows ++= Seq(("m", 0L, v))
        case _ => ()
      }
      // advance the pointer state to post-commit: removes clear first so
      // a same-commit Remove(p)+Add(p,dv) transition lands on the add
      actions.foreach { case r: RemoveFile => dvByPath -= r.path; case _ => () }
      actions.foreach {
        case a: AddFile =>
          a.dv match {
            case Some(d) => dvByPath(a.path) = d
            case None    => dvByPath -= a.path
          }
        case _ => ()
      }
    }

    // Read with the LOG's declared schema (latest Metadata action), not
    // whatever file Spark samples first — after a schema-change commit,
    // older files surface the added columns as nulls (Delta semantics).
    // A read of the newest version (a backfill) replays the log once.
    val latestSnap =
      if (log.latestVersionFrom(seedSnap.version).contains(seedSnap.version)) seedSnap
      else log.snapshotLatest()
    val declaredSchema = latestSnap.metadata
      .map(m => org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val colMapping = latestSnap.metadata
      .map(_.columnMapping).getOrElse(Map.empty[String, String])

    if (fileEvents.isEmpty && metaRows.isEmpty && snapDv.isEmpty &&
        dvTransitions.isEmpty && removeLive.isEmpty) {
      // a pruned read legitimately matches nothing; a full read of an
      // empty range is a caller error
      if (partitionPred.isEmpty)
        throw new IllegalArgumentException(s"no CDC events at $tablePath")
      val payload = declaredSchema.map(_.fields.toSeq).getOrElse(Seq.empty)
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("op",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("partition_value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("commit_version",
            org.apache.spark.sql.types.LongType)) ++ payload)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

    import spark.implicits._

    val partCols = latestSnap.metadata
      .map(_.partitionColumns).getOrElse(Seq.empty)
    val pvExpr =
      if (partCols.isEmpty) lit("")
      else concat_ws(",", partCols.sorted.map(c =>
        concat_ws("=", lit(c), col(c).cast("string"))): _*)
    // Every event is one envelope row joined to ONE scan of the files by
    // path (a path with several events yields a row per event). An event
    // with a mask keeps only the rows its bitmap picks: a DV-carrying
    // file's live rows, or, for a DV transition ('d'), the rows that died
    // at exactly its version — a file deleted from twice emits each row
    // once, at the version that killed it.
    val masks = DeletionVectors.masks(hadoopConf, tablePath,
      (snapDv.toSeq ++ dvTransitions.map(_._1) ++ removeLive.map(_._1))
        .map(f => f.path -> f.dv.get))
    val picks = scala.collection.mutable.HashMap
      .empty[Any, (org.roaringbitmap.longlong.Roaring64Bitmap, Boolean)]
    def pick(f: AddFile, diedAt: Option[Long]): Int = {
      val id = picks.size
      picks(id) = diedAt.fold(masks.dead(f.path, f.dv.get) -> false)(v =>
        masks.diedAt(f.path, f.dv.get, v) -> true)
      id
    }
    val events: Seq[(AddFile, String, Long, Long, Int)] =
      fileEvents.toSeq.map { case (f, op, ts, v) => (f, op, ts, v, -1) } ++
        snapDv.map(f => (f, "c", f.modificationTime, snapVersion, pick(f, None))) ++
        dvTransitions.map { case (a, v) =>
          (a, "d", a.modificationTime, v, pick(a, Some(v))) } ++
        removeLive.map { case (f, ts, v) => (f, "r", ts, v, pick(f, None)) }
    if (events.isEmpty) {
      // Schema-change-only commit range: emit the op='m' control rows with
      // null payload columns (same shape the DSv2 source produces).
      val m = metaRows.toDF("op", "ts", "commit_version")
        .withColumn("partition_value", lit(""))
      val payloadFields = declaredSchema.map(_.fields.toSeq).getOrElse(Seq.empty)
      val withPayload = payloadFields.foldLeft(m)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      return withPayload.select(
        (Seq(col("op"), col("partition_value"), col("ts"),
          col("commit_version")) ++ payloadFields.map(f => col(f.name))): _*)
    }
    val env = events
      .map { case (f, op, ts, v, m) =>
        (qualify(f.path).replaceFirst("^file:/+", "/"), op, ts, v, m) }
      .toDF("_cdc_path", "op", "ts", "commit_version", "_mask")
    val joined = DeletionVectors.readFiles(spark, tablePath,
        events.map(_._1).groupBy(_.path).values.map(_.head).toSeq,
        declaredSchema, withRowMeta = true, mapping = colMapping,
        masks = Some(DeletionVectors.Masks.empty))
      .withColumnRenamed("_path", "_cdc_path")
      .join(broadcast(env), "_cdc_path")
    val kept =
      if (picks.isEmpty) joined
      else joined.filter(DeletionVectors.picked(spark, col("_mask"), col("_ri"),
        picks.toMap))
    val payloadCols = kept.columns.filterNot(Set("_cdc_path", "op", "ts",
      "commit_version", "_mask", "_fn", "_ri").contains)
    val result = kept.select((Seq(col("op"), pvExpr.as("partition_value"),
      col("ts"), col("commit_version")) ++ payloadCols.map(col)): _*)

    if (metaRows.isEmpty) result
    else {
      val m = metaRows.toDF("op", "ts", "commit_version")
        .withColumn("partition_value", lit(""))
      result.unionByName(m, allowMissingColumns = true)
    }
  }

  /** Incremental poll: events in (`after`, `untilVersion`] as a batch —
    * the building block the streaming runner commits offsets around.
    */
  def pollIncremental(
      spark: SparkSession,
      tablePath: String,
      after: CdcOffset): (Option[DataFrame], CdcOffset) = {
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val latest = log.latestVersion().getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath"))
    if (after.phase == CdcOffset.FullCopy) {
      // finish the snapshot phase: emit snapshot at after.version
      val df = cdc(spark, tablePath, after.version, includeHistory = true)
        .filter(col("commit_version") <= after.version)
      (Some(df), CdcOffset(CdcOffset.Incremental, after.version, -1, -1))
    } else if (after.version >= latest) {
      (None, after)
    } else {
      val df = cdc(spark, tablePath, after.version, includeHistory = false)
        .filter(col("commit_version") > after.version &&
          col("commit_version") <= latest)
      (Some(df), CdcOffset(CdcOffset.Incremental, latest, -1, -1))
    }
  }
}
