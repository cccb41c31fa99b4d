package graft.txn

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change Data Feed (the Delta CDF idea): row-level change records per
  * commit, with exact UPDATE pre/post-images.
  *
  * The reference's CDC envelope (SURVEY §1.4; DeltaRecord.java:75–99)
  * reconstructs changes from file-level add/remove events, so a
  * copy-on-write UPDATE surfaces as "whole file removed + whole file
  * added" — survivors included. CDF closes that gap: when the table
  * property [[ChangeDataFeed.Prop]] is true, every DML path (MERGE /
  * UPDATE / DELETE — copy-on-write and deletion-vector alike) writes the
  * EXACT changed rows to `_change_data/` sidecars committed atomically
  * with the data (as [[CdcFile]] actions), and [[tableChanges]] serves
  * them back with `_change_type` ∈ {insert, update_preimage,
  * update_postimage, delete} plus `_commit_version` / `_commit_timestamp`.
  *
  * Commits WITHOUT change files stay readable by inference, exactly like
  * Delta: dataChange AddFiles read as inserts, dataChange RemoveFiles read
  * as deletes (of their rows live as of the PRIOR version — earlier DV
  * kills must not resurrect as delete events here). Inference refuses a
  * commit that re-adds a path that is LIVE at the prior version — a
  * deletion-vector transition (whether or not the remove rides in the
  * same commit: RESTORE emits a bare re-add when only the DV pointer
  * changed) — because inferring there would read the file's surviving
  * rows as fresh inserts.
  *
  * Two writers produce the sidecars, in one layout. SQL merge-on-read
  * UPDATE / MERGE / DELETE and copy-on-write DELETE write the change rows
  * in the tasks that already hold them ([[graft.sources.ChangeRows]]):
  * one sidecar per (task, changed partition), no job of their own. The
  * Scala-API DML stages a change frame in a pass of its own ([[stage]]):
  * one sidecar per changed partition.
  *
  * Scale shape: change files are proportional to the CHANGED rows, never
  * the table — a 100-row MERGE into a 100 TB table writes KB-scale
  * sidecars. The reader is ONE incremental log walk (a single seed
  * snapshot before the range, then per-commit action deltas — never a
  * snapshot per version) plus one distributed parquet scan per commit
  * group; no driver-side row material ever.
  */
object ChangeDataFeed {

  /** Table property that turns on change-data capture for DML commits. */
  val Prop = "graft.enableChangeDataFeed"

  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  val Insert = "insert"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"
  val Delete = "delete"

  /** Is CDF on for this snapshot? DML paths consult this at their write
    * snapshot, so enabling the property captures every LATER commit.
    */
  def enabled(snap: Snapshot): Boolean = snap.metadata.exists(m => enabled(m.properties))

  /** Is CDF on under these table properties? */
  def enabled(properties: Map[String, String]): Boolean =
    properties.get(Prop).exists(_.equalsIgnoreCase("true"))

  /** The change rows a delete writes where it finds its doomed `rows`
    * (the table's columns plus row metadata), or None with the feed off
    * in `snap`: `delete` rows of the declared columns, to be committed
    * at `version`.
    */
  private[graft] def deleteRows(snap: Snapshot, tablePath: String,
      rows: DataFrame, version: Long): Option[graft.sources.ChangeRows] =
    if (!enabled(snap)) None
    else snap.metadata.map(m => graft.sources.ChangeRows.prepare(tablePath,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
          .map(rows.schema(_))),
      m.partitionColumns, version))

  /** The action of a written sidecar: its partition values are those of
    * the `_cdp_*` shadow dir it was split by.
    */
  private[graft] def cdcFile(w: TableCommitProtocol.Written): CdcFile =
    CdcFile(w.relPath, TableWriter.partitionValuesOf(w.partitionDir).map {
      case (k, v) => k.stripPrefix("_cdp_") -> v
    }, w.size)

  /** Cap on sidecar files per commit for SMALL change sets: a change
    * frame arriving in many near-empty partitions (a union of shuffled
    * join branches under a large shuffle-partition setting) consolidates
    * after staging, so a 3-row MERGE can never append dozens of CdcFile
    * lines. Large change sets keep their parallel layout — the rewrite
    * only fires below [[SidecarCoalesceBytes]].
    */
  private val MaxSidecarFiles = 16
  private val SidecarCoalesceBytes = 256L * 1024 * 1024

  /** Write `changes` (table columns + [[TypeCol]]) as parquet sidecars
    * in a pass of their own — the Scala-API DML's writer; SQL DML writes
    * its change rows in its own tasks ([[graft.sources.ChangeRows]]) —
    * and return the [[CdcFile]] actions the caller must fold into the
    * SAME commit as the data it describes. The files land once, at their
    * final names, flat under `_change_data/`
    * (`cd-<version>-<task>-<seq>-<writeId>.<attempt>.parquet`, through
    * [[TableCommitProtocol]]): nothing is staged or renamed, and an
    * uncommitted attempt's files are orphans no reader sees. Partition
    * columns ride INSIDE the files as regular columns — change files
    * answer "what changed", never "where does this row live", so hive
    * routing would buy nothing and cost a directory walk at read.
    *
    * With `partitionColumns` set, the write is SPLIT per changed
    * partition (duplicated `_cdp_*` shadow columns drive the split, so
    * the originals still ride inside the files) and each [[CdcFile]]
    * carries the partitionValues of its shadow dir — the feed readers
    * then prune sidecars at the ACTION level, before any parquet I/O
    * (the reference's one optimizer idea, DeltaReader.java:181–226,
    * applied to the row-level feed). Sidecar count = changed partitions,
    * bounded by the change set: the split shuffles the change rows by
    * partition first.
    */
  def stage(
      spark: SparkSession,
      changes: DataFrame,
      tablePath: String,
      version: Long,
      partitionColumns: Seq[String] = Seq.empty): Seq[CdcFile] = {
    require(changes.columns.contains(TypeCol),
      s"change frame must carry $TypeCol")
    def write(df: DataFrame, partitionBy: Seq[String]) = {
      val protocol = new TableCommitProtocol(tablePath,
        graft.sources.ChangeRows.stem(version),
        java.util.UUID.randomUUID().toString.take(8),
        sidecarDir = Some("_change_data"))
      TableCommitProtocol.write(spark, df, partitionBy, protocol)
      protocol.committed.sortBy(_.relPath)
    }
    val partCols = partitionColumns.filter(changes.columns.contains)
    val written =
      if (partCols.isEmpty) {
        val first = write(changes, Seq.empty)
        // many-tiny-files consolidation (see MaxSidecarFiles): re-write
        // the first pass's bytes coalesced and delete its files — the
        // data is small by the size guard, so the second pass is
        // metadata-cheap
        if (first.size <= MaxSidecarFiles ||
            first.map(_.size).sum >= SidecarCoalesceBytes) first
        else {
          val paths = first.map(w => new Path(tablePath, w.relPath))
          val second = write(spark.read.schema(changes.schema)
            .parquet(paths.map(_.toString): _*).coalesce(1), Seq.empty)
          val fs = new Path(tablePath)
            .getFileSystem(spark.sessionState.newHadoopConf())
          paths.foreach(fs.delete(_, false))
          second
        }
      } else {
        // shadow copies keep the REAL columns inside the files (readers
        // are unchanged); repartition on them consolidates to ~one file
        // per changed partition before the split
        val shadow = partCols.map(c => s"_cdp_$c")
        val shadowed = partCols.zip(shadow).foldLeft(changes) {
          case (df, (c, sc)) => df.withColumn(sc, col(c))
        }
        write(shadowed.repartition(shadow.map(col): _*), shadow)
      }
    written.map(cdcFile)
  }

  /** Refuse a change-feed range that reaches at or below the earliest
    * retained version after [[TxnLog.expireLog]] (the streaming source's
    * expired-gap rule, applied to the batch paths): silently narrowing
    * the range would DROP the expired versions' changes, and a range
    * starting AT the retained base has no pre-state to resolve removes
    * against (the seed snapshot must be strictly before the range), so
    * removes of files added before the range would read as empty and the
    * re-add-live refusal would be blind. Delta throws
    * VersionNotFoundException in the same spot.
    */
  private def requireRetained(
      all: Seq[Long], startingVersion: Long, tablePath: String): Unit = {
    val earliest = all.head
    require(earliest == 0L || startingVersion > earliest,
      s"change feed of $tablePath: versions below ${earliest + 1} have " +
        s"been expired by log retention (earliest retained: $earliest, " +
        s"and changes AT the retained base are not reconstructible — " +
        s"the seed snapshot must precede the range); requested " +
        s"startingVersion $startingVersion would silently lose changes")
  }

  /** Conjunctive equality filter on partitionValues — the same
    * `col=value[,col=value...]` shape as [[CdcOptions.keepPartition]].
    * An empty pv map matches nothing under a filter (filter keys must
    * be partition columns of a partitioned table).
    */
  private def keepPv(
      filter: Option[Map[String, String]],
      pv: Map[String, String]): Boolean =
    filter.forall(_.forall { case (k, v) => pv.get(k).contains(v) })

  /** The filter as a ROW predicate over the table's partition columns
    * (they ride inside sidecar files as regular columns) — the fallback
    * for LEGACY pv-less sidecars that action-level pruning can't prove
    * out. Values compare under the hive-routing encoding
    * (cast-to-string; null = the hive default sentinel).
    */
  private def pvPredicate(filter: Map[String, String])
      : org.apache.spark.sql.Column =
    filter.map { case (k, v) =>
      if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
      else col(k).cast("string") === lit(v)
    }.reduce(_ && _)

  /** Action-level keep function for an ARBITRARY partition-column
    * predicate (ranges, INs, disjunctions — the shapes the equality
    * `partitionFilter` can't express): the distinct partitionValues of
    * the range evaluate through ONE tiny local filter with their hive
    * strings cast back to the declared types (the hive null sentinel
    * becomes a real NULL), so a date-RANGE backfill prunes sidecars
    * before any parquet I/O exactly like an equality filter does.
    *
    * Soundness: a pv LACKING a referenced column keeps conservatively
    * (pre-evolution generations store the column as data; the caller's
    * row-level completion filter decides), NULL/false evaluations
    * prune. The predicate must be UNRESOLVED (`col("dt")`/`expr(...)`)
    * and reference partition columns only — anything else fails the
    * local analysis loudly rather than mis-pruning.
    */
  /** Column names a partition predicate references, resolved by
    * ANALYZING it against an empty frame of `candidateCols` (Spark 4's
    * Column wraps a lazy ColumnNode — the tree is not walkable before
    * analysis). A reference outside the candidates fails the analysis
    * loudly — exactly the "predicate must be over partition columns"
    * contract.
    */
  private[graft] def predicateRefs(
      spark: SparkSession,
      candidateCols: Seq[String],
      pred: org.apache.spark.sql.Column): Set[String] = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(candidateCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType))))
    empty.filter(pred).queryExecution.analyzed.expressions
      .flatMap(_.references.map(_.name)).toSet
  }

  private[graft] def pvKeepFn(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      pred: org.apache.spark.sql.Column,
      pvs: Seq[Map[String, String]],
      knownRefs: Option[Set[String]] = None)
      : Map[String, String] => Boolean = {
    val distinct = pvs.distinct
    if (distinct.isEmpty) return pv => true
    val allCols = distinct.flatMap(_.keySet).distinct.sorted
    val refs = knownRefs.getOrElse(predicateRefs(spark, allCols, pred))
    require(refs.nonEmpty,
      "partition predicate references no columns — pass an unresolved " +
        "Column (col(\"dt\") / expr(...)) over partition columns")
    val (evaluable, keptBlind) =
      distinct.partition(pv => refs.subsetOf(pv.keySet))
    if (evaluable.isEmpty) return pv => true
    val cols = evaluable.flatMap(_.keySet).distinct.sorted
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(evaluable.zipWithIndex.map { case (pv, i) =>
        org.apache.spark.sql.Row.fromSeq(
          i +: cols.map(c => pv.get(c).orNull))
      }: _*)
    val base = spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("_pv_idx",
          org.apache.spark.sql.types.IntegerType) +:
          cols.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
    val typed = cols.foldLeft(base) { (d, c) =>
      val dt = schema.fields.find(_.name == c)
        .map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
      d.withColumn(c,
        when(col(c) === "__HIVE_DEFAULT_PARTITION__", lit(null))
          .otherwise(col(c)).cast(dt))
    }
    val matched = typed.filter(pred).select("_pv_idx")
      .collect().map(_.getInt(0)).toSet
    val keep: Set[Map[String, String]] =
      matched.map(evaluable) ++ keptBlind
    pv => keep.contains(pv)
  }

  /** Action-level partition pruning of one commit's change inputs —
    * BEFORE any parquet I/O. Runs on the walk's OUTPUT only: the walk's
    * liveByPath state must see every action regardless of the filter.
    * pv-less sidecars (legacy format / unpartitioned tables) are kept;
    * their rows filter at read time via [[pvPredicate]] (equality) or
    * the caller's predicate completion filter.
    */
  private def pruneCommit(
      c: CommitChanges,
      filter: Option[Map[String, String]],
      keepFn: Option[Map[String, String] => Boolean] = None): CommitChanges =
    if (filter.isEmpty && keepFn.isEmpty) c
    else {
      def ok(pv: Map[String, String]): Boolean =
        keepPv(filter, pv) && keepFn.forall(_(pv))
      c.copy(
        cdcFiles = c.cdcFiles.filter(f =>
          f.partitionValues.isEmpty || ok(f.partitionValues)),
        adds = c.adds.filter(a => ok(a.partitionValues)),
        doomed = c.doomed.filter(a => ok(a.partitionValues)))
    }

  /** One commit's resolved change inputs (see [[walkRange]]). `doomed`
    * is the removed files AS THEY WERE LIVE before the commit (their
    * then-current DV pointers); `meta` the metadata in effect AT the
    * commit (a same-commit Metadata applies to its own files).
    */
  private final case class CommitChanges(
      version: Long,
      ts: Long,
      cdcFiles: Seq[CdcFile],
      adds: Seq[AddFile],
      doomed: Seq[AddFile],
      meta: Option[Metadata])

  /** ONE incremental pass over `versions`: a single seed snapshot
    * strictly before the range, then per-commit action deltas — never a
    * snapshot per version. Refuses a sidecar-less re-add of a LIVE path
    * (a deletion-vector transition, with or without a paired remove —
    * RESTORE emits bare re-adds when only the pointer changed):
    * inferring there would read survivors as fresh changes. The walk
    * invariants live HERE, shared by [[tableChanges]] and
    * [[changesSummary]].
    */
  private def walkRange(
      log: TxnLog,
      tablePath: String,
      all: Seq[Long],
      versions: Seq[Long],
      allowLostFiles: Boolean = false): Seq[CommitChanges] = {
    val seedV = all.filter(_ < versions.head).lastOption
    var liveByPath: Map[String, AddFile] = Map.empty
    var meta: Option[Metadata] = None
    seedV.foreach { sv =>
      val seed = log.snapshot(sv)
      liveByPath = seed.files.map(f => f.path -> f).toMap
      meta = seed.metadata
    }
    versions.map { v =>
      val actions = log.read(v)
      // FSCK removes record files whose BYTES are gone — their rows are
      // unrecoverable, so the row-materializing feed refuses the range
      // (Delta parity: CDF across an FSCK commit fails). The metadata-
      // only changesSummary path still audits the lost COUNTS from
      // stats (allowLostFiles) — it never opens the files.
      require(allowLostFiles || !actions.exists {
          case c: CommitInfo => c.operation == Fsck.Operation
          case _ => false
        },
        s"version $v of $tablePath is an FSCK repair: its removed " +
          "files were physically lost, so their rows cannot be " +
          "reconstructed as change data — start the feed after " +
          s"version $v (changesSummary can still audit the lost counts)")
      val ts = actions.collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(0L)
      actions.collectFirst { case m: Metadata => m }
        .foreach(m => meta = Some(m))
      val cdcFiles = actions.collect { case c: CdcFile => c }
      val adds = actions.collect { case a: AddFile if a.dataChange => a }
      val removes = actions.collect {
        case r: RemoveFile if r.dataChange => r }
      if (cdcFiles.isEmpty) {
        val reAdded = adds.map(_.path).filter(liveByPath.contains)
        require(reAdded.isEmpty,
          s"version $v of $tablePath re-adds ${reAdded.size} live " +
            s"file(s) (a deletion-vector transition) without change " +
            s"data — set TBLPROPERTIES ('$Prop'='true') before " +
            "row-level DML to read it through the change feed")
      }
      val doomed = removes.flatMap(r => liveByPath.get(r.path))
      val out = CommitChanges(v, ts, cdcFiles, adds, doomed, meta)
      // advance (all actions, dataChange or not — a compaction moves
      // files without being a change event)
      actions.foreach {
        case a: AddFile    => liveByPath += (a.path -> a)
        case r: RemoveFile => liveByPath -= r.path
        case _             => ()
      }
      out
    }
  }

  /** Row-level change AUDIT at metadata cost: per version and change
    * type, HOW MANY rows changed — without reading any data column.
    * Sidecar versions scan just their `_change_type` column (columnar
    * prune of KB-scale files); add-only versions answer from AddFile
    * footer stats; whole-file removes answer from stats minus the
    * KB-scale DV sidecar counts. The DESCRIBE HISTORY companion: history
    * says which files moved, this says how many ROWS each commit
    * touched — on a 100 TB table still a metadata-sized question.
    * Versions with no data change produce no rows. Same refusal as
    * [[tableChanges]] for sidecar-less DV transitions.
    */
  def changesSummary(
      spark: SparkSession,
      tablePath: String,
      startingVersion: Long,
      endingVersion: Option[Long] = None,
      partitionFilter: Option[Map[String, String]] = None,
      partitionPredicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val all = log.versions()
    val end = endingVersion.getOrElse(all.lastOption.getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath")))
    requireRetained(all, startingVersion, tablePath)
    val versions = all.filter(v => v >= startingVersion && v <= end)
    require(versions.nonEmpty,
      s"no versions in [$startingVersion, $end] at $tablePath")
    val metaRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long)] // (version, ts, type, n)
    val sidecarFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val anyFilter = partitionFilter.isDefined || partitionPredicate.isDefined
    // allowLostFiles: this path answers from log stats and KB sidecars,
    // never the doomed files' bytes — FSCK-lost rows still audit here
    val commits = walkRange(log, tablePath, all, versions,
      allowLostFiles = true)
    val rangePvs = commits.flatMap(c =>
      c.cdcFiles.map(_.partitionValues) ++
        c.adds.map(_.partitionValues) ++ c.doomed.map(_.partitionValues))
    // resolve the predicate's references ONCE; pvKeepFn reuses them
    val predRefsOpt = partitionPredicate.map(p => predicateRefs(spark,
      rangePvs.flatMap(_.keySet).distinct.sorted, p))
    val keepFn = partitionPredicate.map { p =>
      pvKeepFn(spark,
        log.snapshotLatest().metadata.map(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .getOrElse(org.apache.spark.sql.types.StructType(Seq.empty)),
        p, rangePvs, knownRefs = predRefsOpt)
    }
    commits.foreach { c0 =>
      // branch on the PRE-prune commit (same rule as tableChanges): a
      // fully-pruned sidecar commit contributes nothing, never stats
      val c = pruneCommit(c0, partitionFilter, keepFn)
      if (c0.cdcFiles.nonEmpty) {
        // partition-valued sidecars were pruned at the ACTION level;
        // legacy (pv-less) sidecars under a filter fall back to a
        // row-level filter on the partition columns they carry inside
        val (exact, legacy) =
          c.cdcFiles.partition(_.partitionValues.nonEmpty)
        def grouped(df: DataFrame) = df
          .groupBy(col(TypeCol).as("change_type"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("version", lit(c.version))
          .withColumn("commit_ts", lit(c.ts))
        val paths = (files: Seq[CdcFile]) =>
          files.map(f => TxnLog.dataPath(tablePath, f.path))
        // an exact sidecar matched the ACTION-level prune fully — but a
        // predicate keeping a sidecar BLIND (missing a referenced
        // partition value) must complete row-level like legacy ones
        val (proven, blind) = exact.partition(f => predRefsOpt.forall(
          _.subsetOf(f.partitionValues.keySet)))
        if (proven.nonEmpty || !anyFilter)
          sidecarFrames += grouped(spark.read.parquet(
              paths(if (!anyFilter) c.cdcFiles else proven): _*)
            .select(col(TypeCol)))
        val rowFiltered = legacy ++ (if (anyFilter) blind else Seq.empty)
        if (rowFiltered.nonEmpty && anyFilter) {
          val raw = spark.read.parquet(paths(rowFiltered): _*)
          val eqDone = partitionFilter.fold(raw)(f =>
            raw.filter(pvPredicate(f)))
          sidecarFrames += grouped(
            partitionPredicate.fold(eqDone)(p => eqDone.filter(p))
              .select(col(TypeCol)))
        }
      } else {
        // an AUDIT must refuse stat-less files loudly — counting around
        // them would report fewer rows than the feed serves (and a
        // stat-less doomed file with a DV would even undercount past
        // its own kills)
        (c.adds ++ c.doomed).filter(_.stats.isEmpty) match {
          case Seq() => ()
          case bad => throw new IllegalStateException(
            s"version ${c.version} of $tablePath touches ${bad.size} " +
              "stat-less file(s) (pre-stats log) — row counts " +
              "unavailable; use graft_table_changes to read the rows")
        }
        // a predicate keeping a file BLIND (no value for a referenced
        // partition column) cannot count from stats — the audit refuses
        // loudly rather than overcount (the row-materializing feed
        // completes those row-level; an audit has no rows)
        predRefsOpt.foreach { refs =>
          val blind = (c.adds ++ c.doomed)
            .filterNot(f => refs.subsetOf(f.partitionValues.keySet))
          require(blind.isEmpty,
            s"changesSummary of $tablePath: version ${c.version} " +
              s"touches ${blind.size} file(s) without values for the " +
              s"predicate's columns ${refs.mkString(", ")} — stats " +
              "cannot answer a partial-partition count; use " +
              "graft_table_changes for this range")
        }
        if (c.adds.nonEmpty) {
          // a DV-carrying add (shallow-clone import) reads DV-APPLIED
          // through tableChanges, so the audit must subtract its kills
          // exactly as the doomed branch does — raw numRecords would
          // overcount inserts relative to the rows the feed serves
          val total = c.adds.map(_.stats.get.numRecords).sum
          val dead = DeletionVectors.deletedCount(spark, tablePath, c.adds)
          metaRows += ((c.version, c.ts, Insert, total - dead))
        }
        if (c.doomed.nonEmpty) {
          val total = c.doomed.map(_.stats.get.numRecords).sum
          val dead = DeletionVectors.deletedCount(spark, tablePath, c.doomed)
          metaRows += ((c.version, c.ts, Delete, total - dead))
        }
      }
    }
    val metaDf = metaRows.toSeq
      .toDF("version", "commit_ts", "change_type", "n_rows")
    (metaDf +: sidecarFrames.toSeq).map(_.select(
      col("version"), col("commit_ts"), col("change_type"), col("n_rows")))
      .reduce(_ unionByName _)
  }

  /** Timestamp-bounded feed (Delta's startingTimestamp/endingTimestamp):
    * start resolves to the FIRST commit at-or-after `startMillis`, end to
    * the LAST commit at-or-before `endMillis` (both strict — an empty
    * window errors rather than silently serving a neighboring range).
    * Commit timestamps are caller-supplied wall clocks, so resolution
    * clamps each to the running max of its predecessors (the expireLog
    * rule): one skewed clock can widen the window, never lose commits.
    * The scan stops at the first commit past the end bound (the clamped
    * clock is non-decreasing) — a bounded window never reads the whole
    * log's commit files.
    */
  def tableChangesByTime(
      spark: SparkSession,
      tablePath: String,
      startMillis: Long,
      endMillis: Option[Long] = None,
      partitionFilter: Option[Map[String, String]] = None,
      partitionPredicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    var runMax = Long.MinValue
    var sv: Option[Long] = None
    var ev: Option[Long] = None
    val it = log.versions().iterator
    var halted = false
    while (it.hasNext && !halted) {
      val v = it.next()
      runMax = math.max(runMax, log.read(v)
        .collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(Long.MinValue))
      if (sv.isEmpty && runMax >= startMillis) sv = Some(v)
      endMillis match {
        case Some(t) => if (runMax <= t) ev = Some(v) else halted = true
        case None    => if (sv.isDefined) halted = true // start found; end=latest
      }
    }
    val s = sv.getOrElse(throw new IllegalArgumentException(
      s"no commit at or after timestamp $startMillis in $tablePath"))
    val e = endMillis.map(t => ev.getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $t in $tablePath")))
    tableChanges(spark, tablePath, s, e, partitionFilter = partitionFilter,
      partitionPredicate = partitionPredicate)
  }

  /** The change feed over versions [startingVersion, endingVersion]
    * (inclusive; endingVersion defaults to latest): table columns under
    * the writing commit's logical names, plus [[TypeCol]], [[VersionCol]],
    * [[TimestampCol]]. Schema evolution across the range unions by name —
    * pre-evolution change rows surface later columns as null, the q112
    * read-side contract.
    */
  /** @param emptyOk when true, an empty range (or a range with no
    *        data-changing commits) returns an EMPTY frame with the
    *        table's current CDF schema instead of refusing — the shape
    *        incremental consumers ([[graft.operators.Scd2]]) want when
    *        "changes since X" legitimately means "none".
    * @param partitionFilter conjunctive partition-value equality filter:
    *        sidecars and inferred add/remove files prune at the ACTION
    *        level, before any parquet I/O (legacy pv-less sidecars fall
    *        back to a row filter); a single-partition backfill of a
    *        100 TB table reads only that partition's KB sidecars.
    * @param partitionPredicate arbitrary UNRESOLVED Column over
    *        partition columns (ranges, INs, disjunctions — what the
    *        equality filter can't say): actions prune through
    *        [[pvKeepFn]] before any parquet I/O, then the same
    *        predicate completes the prune row-level — a date-RANGE
    *        backfill of the feed never opens out-of-range sidecars.
    */
  def tableChanges(
      spark: SparkSession,
      tablePath: String,
      startingVersion: Long,
      endingVersion: Option[Long] = None,
      emptyOk: Boolean = false,
      partitionFilter: Option[Map[String, String]] = None,
      partitionPredicate: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val all = log.versions()
    def emptyFrame(): DataFrame = {
      val payload = log.snapshotLatest().metadata.map(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(throw new IllegalStateException(
          s"no metadata at $tablePath"))
      val schema = org.apache.spark.sql.types.StructType(
        payload.fields.map(_.copy(nullable = true)).toSeq ++ Seq(
          org.apache.spark.sql.types.StructField(TypeCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(VersionCol,
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(TimestampCol,
            org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val end = endingVersion.getOrElse(all.lastOption.getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath")))
    requireRetained(all, startingVersion, tablePath)
    val versions = all.filter(v => v >= startingVersion && v <= end)
    if (versions.isEmpty && emptyOk) return emptyFrame()
    require(versions.nonEmpty,
      s"no versions in [$startingVersion, $end] at $tablePath " +
        "(expired by log retention?)")
    def schemaOf(m: Option[Metadata]) = m.map(mm =>
      org.apache.spark.sql.types.DataType.fromJson(mm.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val commits = walkRange(log, tablePath, all, versions)
    // one evaluation over the range's DISTINCT partition values builds
    // the predicate's action-level keep function
    val keepFn = partitionPredicate.map { p =>
      pvKeepFn(spark,
        schemaOf(log.snapshotLatest().metadata).getOrElse(
          org.apache.spark.sql.types.StructType(Seq.empty)),
        p,
        commits.flatMap(c => c.cdcFiles.map(_.partitionValues) ++
          c.adds.map(_.partitionValues) ++
          c.doomed.map(_.partitionValues)))
    }
    val frames = commits.flatMap { c0 =>
      // branch on the PRE-prune commit: a sidecar commit whose sidecars
      // all prune out must contribute nothing — never fall back to
      // inferring from its (survivor-rewrite) data files
      val c = pruneCommit(c0, partitionFilter, keepFn)
      def stamp(df: DataFrame, kind: Option[String]): DataFrame = {
        val typed = kind.fold(df)(k => df.withColumn(TypeCol, lit(k)))
        typed.withColumn(VersionCol, lit(c.version))
          .withColumn(TimestampCol, lit(c.ts))
      }
      if (c0.cdcFiles.nonEmpty) {
        // exact change rows, written by the commit itself
        if (c.cdcFiles.isEmpty) Seq.empty
        else Seq(stamp(spark.read.parquet(
          c.cdcFiles.map(f => TxnLog.dataPath(tablePath, f.path)): _*),
          None))
      } else {
        // inference (the Delta rule): adds are inserts; removes are
        // deletes of the file's rows LIVE before this commit (its DV
        // then applied — rows an earlier commit killed already fed that
        // commit's feed); walkRange refused DV transitions already
        val mapping = c.meta.map(_.columnMapping).getOrElse(Map.empty)
        val insertRows =
          if (c.adds.isEmpty) None
          else Some(stamp(DeletionVectors.readFiles(spark, tablePath,
            c.adds, schemaOf(c.meta), withRowMeta = false,
            mapping = mapping), Some(Insert)))
        val deleteRows =
          if (c.doomed.isEmpty) None
          else Some(stamp(DeletionVectors.readFiles(spark, tablePath,
            c.doomed, schemaOf(c.meta), withRowMeta = false,
            mapping = mapping), Some(Delete)))
        insertRows.toSeq ++ deleteRows.toSeq
      }
    }
    // a filter that selects no partition is a legitimate empty answer —
    // only the UNFILTERED no-data-change case stays a refusal
    if (frames.isEmpty && (emptyOk || partitionFilter.isDefined ||
        partitionPredicate.isDefined))
      return emptyFrame()
    require(frames.nonEmpty,
      s"no data-changing commits in [$startingVersion, $end] at $tablePath")
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // row-level completion of the prune: exact for legacy pv-less
    // sidecars and conservatively-kept pre-evolution files, a no-op for
    // action-pruned files (their rows all match)
    val eqDone =
      partitionFilter.fold(unioned)(f => unioned.filter(pvPredicate(f)))
    partitionPredicate.fold(eqDone)(p => eqDone.filter(p))
  }
}
