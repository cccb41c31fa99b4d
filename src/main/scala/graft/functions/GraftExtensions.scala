package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Pmod}

/** SQL surface for the engine's custom Catalyst expressions, via the
  * standard `SparkSessionExtensions` hook:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * registers them at session build (the cluster deployment path), and
  * [[GraftExtensions.install]] registers the same functions on an
  * already-running session (the notebook/test path). Either way,
  * `spark.sql("SELECT graft_murmur3(...)...")` plans the same codegen'd
  * expressions the DataFrame API uses — SQL users get routing parity
  * and the vector kernels without touching Scala.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftExtensions.tableFunctions.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** (name, info, builder) for every exposed function. */
  val functions: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("graft_murmur3",
      info("graft_murmur3",
        "graft_murmur3(str) - reference-parity murmur3_x86_32 of a string"),
      (children: Seq[Expression]) => Murmur3X86Expr(children.head)),
    ("graft_route",
      info("graft_route",
        "graft_route(pv, n) - murmur3 route slot in [0, n)"),
      (children: Seq[Expression]) =>
        // same & MAX_VALUE % n form as Murmur3X86.routeIndex
        Pmod(org.apache.spark.sql.catalyst.expressions.BitwiseAnd(
          Murmur3X86Expr(children.head),
          org.apache.spark.sql.catalyst.expressions.Literal(Int.MaxValue)),
          children(1))),
    ("graft_dot",
      info("graft_dot",
        "graft_dot(a, b) - sequential-order dot product of double arrays"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))),
    ("graft_simhash",
      info("graft_simhash",
        "graft_simhash(tokens) - packed 64-bit SimHash of a string array"),
      (children: Seq[Expression]) => SimHash64Expr(children.head)),
    ("graft_shingles",
      info("graft_shingles",
        "graft_shingles(tokens, k) - distinct 64-bit k-shingle hashes"),
      (children: Seq[Expression]) =>
        ShingleHashesExpr(children.head, intLit(children(1), "graft_shingles"))),
    ("graft_minhash",
      info("graft_minhash",
        "graft_minhash(shingle_hashes, n) - n-hash MinHash signature"),
      (children: Seq[Expression]) =>
        MinHashSigExpr(children.head, intLit(children(1), "graft_minhash"))))

  /** Table-valued functions — SQL access to whole-relation surfaces
    * (the Delta `table_changes` idea):
    *
    *   SELECT * FROM graft_changes('/data/t', 0)
    *
    * returns the CDC envelope (op/partition/ts/version + payload) from
    * `startingVersion`, snapshot-first (includeHistory defaults true;
    * pass false for incremental-only). Args must be literals — the
    * table's schema is resolved at PLANNING time from its log.
    */
  val tableFunctions: Seq[(String, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    Seq(
      ("graft_changes",
        info("graft_changes",
          "graft_changes(tablePath, startingVersion[, includeHistory" +
            "[, endingVersion]]) - CDC rows of a graft table between " +
            "two versions (end defaults to latest)"),
        (children: Seq[Expression]) => {
          require(children.size >= 2 && children.size <= 4,
            "graft_changes(tablePath, startingVersion[, includeHistory" +
              "[, endingVersion]])")
          val path = strLitOf(children.head, "graft_changes")
          val sv = longLitOf(children(1), "graft_changes")
          val hist = children.lift(2).forall(boolLitOf(_, "graft_changes"))
          val ev = children.lift(3).map(longLitOf(_, "graft_changes"))
          graft.txn.CdcReader.cdc(
            org.apache.spark.sql.SparkSession.active, path,
            startingVersion = sv, includeHistory = hist,
            endingVersion = ev)
            .queryExecution.logical
        }),
      // Change data feed (Delta's table_changes): row-level change
      // records with exact UPDATE pre/post-images where the commit wrote
      // change files, inferred insert/delete rows elsewhere
      ("graft_table_changes",
        info("graft_table_changes",
          "graft_table_changes(tablePath, startingVersion[, " +
            "endingVersion[, partitionFilter]]) - change-data-feed rows " +
            "(_change_type ∈ " +
            "insert/update_preimage/update_postimage/delete, " +
            "_commit_version, _commit_timestamp) between two versions " +
            "(end defaults to latest); partitionFilter " +
            "'col=val[,col=val]' prunes sidecars before I/O"),
        (children: Seq[Expression]) => {
          require(children.size >= 2 && children.size <= 5,
            "graft_table_changes(tablePath, startingVersion[, " +
              "endingVersion[, partitionFilter[, partitionPredicate]]])")
          val path = strLitOf(children.head, "graft_table_changes")
          val sv = longLitOf(children(1), "graft_table_changes")
          val ev = children.lift(2).map(longLitOf(_, "graft_table_changes"))
          val pf = children.lift(3)
            .map(strLitOf(_, "graft_table_changes"))
            .filter(_.nonEmpty) // '' = no equality filter (predicate-only)
            .map(parsePartitionFilter)
          // 5th arg: arbitrary partition-column predicate SQL ('dt >=
          // DATE''2024-01-01''') — range backfills prune sidecars at the
          // action level, which the equality shape can't express
          val pp = children.lift(4)
            .map(strLitOf(_, "graft_table_changes"))
            .filter(_.nonEmpty)
            .map(org.apache.spark.sql.functions.expr)
          graft.txn.ChangeDataFeed.tableChanges(
            org.apache.spark.sql.SparkSession.active, path,
            startingVersion = sv, endingVersion = ev,
            partitionFilter = pf, partitionPredicate = pp)
            .queryExecution.logical
        }),
      // row-level change audit at metadata cost (DESCRIBE HISTORY's
      // companion: how many ROWS each commit touched, by change type)
      ("graft_changes_summary",
        info("graft_changes_summary",
          "graft_changes_summary(tablePath, startingVersion[, " +
            "endingVersion]) - per-version row counts by change type, " +
            "answered from footer stats, DV sidecars, and change-file " +
            "_change_type columns only"),
        (children: Seq[Expression]) => {
          require(children.size >= 2 && children.size <= 5,
            "graft_changes_summary(tablePath, startingVersion[, " +
              "endingVersion[, partitionFilter[, partitionPredicate]]])")
          val path = strLitOf(children.head, "graft_changes_summary")
          val sv = longLitOf(children(1), "graft_changes_summary")
          val ev = children.lift(2)
            .map(longLitOf(_, "graft_changes_summary"))
          val pf = children.lift(3)
            .map(strLitOf(_, "graft_changes_summary"))
            .filter(_.nonEmpty)
            .map(parsePartitionFilter)
          val pp = children.lift(4)
            .map(strLitOf(_, "graft_changes_summary"))
            .filter(_.nonEmpty)
            .map(org.apache.spark.sql.functions.expr)
          graft.txn.ChangeDataFeed.changesSummary(
            org.apache.spark.sql.SparkSession.active, path,
            startingVersion = sv, endingVersion = ev,
            partitionFilter = pf, partitionPredicate = pp)
            .queryExecution.logical
        }),
      // net multiset row diff between two versions ("what changed
      // between Monday and today") — change-feed-proportional when the
      // feed covers the range, snapshot multiset compare otherwise
      ("graft_table_diff",
        info("graft_table_diff",
          "graft_table_diff(tablePath, fromVersion, toVersion) - net " +
            "multiset row diff between two versions: payload columns " +
            "plus _net_change = count(to) - count(from), never zero"),
        (children: Seq[Expression]) => {
          require(children.size == 3,
            "graft_table_diff(tablePath, fromVersion, toVersion)")
          val path = strLitOf(children.head, "graft_table_diff")
          val fv = longLitOf(children(1), "graft_table_diff")
          val tv = longLitOf(children(2), "graft_table_diff")
          graft.txn.TableDiff.diff(
            org.apache.spark.sql.SparkSession.active, path, fv, tv)
            .queryExecution.logical
        }),
      ("graft_history",
        info("graft_history",
          "graft_history(tablePath[, limit]) - commit history of a graft " +
            "table (version, operation, commit_ts, n_added, n_removed), " +
            "newest first; limit bounds the log read to the newest N"),
        (children: Seq[Expression]) => {
          require(children.nonEmpty && children.size <= 2,
            "graft_history(tablePath[, limit])")
          val path = strLitOf(children.head, "graft_history")
          val limit = children.lift(1)
            .map(longLitOf(_, "graft_history").toInt).getOrElse(Int.MaxValue)
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          new graft.txn.TxnLog(path, spark.sessionState.newHadoopConf())
            .history(limit)
            .toDF("version", "operation", "commit_ts", "n_added", "n_removed")
            .queryExecution.logical
        }),
      // Pure-read TVF: a path table (no catalog registration needed),
      // optionally time-traveled — `SELECT * FROM graft_snapshot(path)`.
      ("graft_snapshot",
        info("graft_snapshot",
          "graft_snapshot(tablePath[, versionAsOf]) - rows of a graft " +
            "table's snapshot (latest, or the given version)"),
        (children: Seq[Expression]) => {
          require(children.nonEmpty && children.size <= 2,
            "graft_snapshot(tablePath[, versionAsOf])")
          val path = strLitOf(children.head, "graft_snapshot")
          graft.txn.SnapshotReader.read(
            org.apache.spark.sql.SparkSession.active, path,
            versionAsOf = children.lift(1)
              .map(longLitOf(_, "graft_snapshot")))
            .queryExecution.logical
        }),
      // PROCEDURE-style TVFs — DEPRECATED ALIASES of the real
      // procedures (`CALL <catalog>.system.optimize(...)` via
      // graft.sources.GraftProcedures): the TVF form runs its side
      // effect when the function is PLANNED — also under EXPLAIN —
      // which CALL fixes (ExecutableDuringAnalysis stages for EXPLAIN
      // without invoking). Kept for path-only sessions with no
      // catalog registered; both surfaces delegate to the same
      // TableWriter/TxnLog entry points.
      ("graft_optimize",
        info("graft_optimize",
          "graft_optimize(tablePath[, maxFileMB[, zorderCols]]) - " +
            "compact the table's small files (bin-packed to maxFileMB " +
            "per file when given; Z-ordered by the comma-separated " +
            "columns when given); returns (version, files_before, " +
            "files_after)"),
        (children: Seq[Expression]) => {
          require(children.nonEmpty && children.size <= 3,
            "graft_optimize(tablePath[, maxFileMB[, zorderCols]])")
          val path = strLitOf(children.head, "graft_optimize")
          val maxMb = children.lift(1).map(longLitOf(_, "graft_optimize"))
          val zorder = children.lift(2)
            .map(strLitOf(_, "graft_optimize"))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          val before = log.snapshotLatest().files.size
          graft.txn.TableWriter.compact(spark, path,
            version = log.latestVersion().get + 1,
            commitTs = System.currentTimeMillis(),
            zorderBy = zorder,
            maxFileBytes = maxMb.map(_ * 1024L * 1024L)
              .getOrElse(Long.MaxValue))
          val after = log.snapshotLatest()
          import spark.implicits._
          Seq((after.version, before.toLong, after.files.size.toLong))
            .toDF("version", "files_before", "files_after")
            .queryExecution.logical
        }),
      // partition-scoped OPTIMIZE (Delta's `OPTIMIZE t WHERE part = v`):
      // at 100 TB nobody compacts the whole table in one pass — the
      // maintenance job walks partitions incrementally, and untouched
      // partitions must not churn (their files keep their paths)
      ("graft_optimize_where",
        info("graft_optimize_where",
          "graft_optimize_where(tablePath, partCol, values[, maxFileMB])" +
            " - compact ONLY the partitions whose partCol matches one " +
            "of the comma-separated values; returns (version, " +
            "files_before, files_after)"),
        (children: Seq[Expression]) => {
          require(children.size >= 3 && children.size <= 4,
            "graft_optimize_where(tablePath, partCol, values[, maxFileMB])")
          val path = strLitOf(children.head, "graft_optimize_where")
          val partCol = strLitOf(children(1), "graft_optimize_where")
          val values = strLitOf(children(2), "graft_optimize_where")
            .split(",").map(_.trim).filter(_.nonEmpty).toSet
          val maxMb = children.lift(3)
            .map(longLitOf(_, "graft_optimize_where"))
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          val before = log.snapshotLatest().files.size
          graft.txn.TableWriter.compact(spark, path,
            version = log.latestVersion().get + 1,
            commitTs = System.currentTimeMillis(),
            partitionPred =
              Some(pv => pv.get(partCol).exists(values.contains)),
            maxFileBytes = maxMb.map(_ * 1024L * 1024L)
              .getOrElse(Long.MaxValue))
          val after = log.snapshotLatest()
          import spark.implicits._
          Seq((after.version, before.toLong, after.files.size.toLong))
            .toDF("version", "files_before", "files_after")
            .queryExecution.logical
        }),
      // liquid-clustering surface: declare cluster columns once; every
      // argument-less graft_optimize maintains the layout
      ("graft_cluster_by",
        info("graft_cluster_by",
          "graft_cluster_by(tablePath, cols) - declare the table's " +
            "clustering columns (comma-separated; first may carry a " +
            "hilbert: prefix; empty string clears); returns " +
            "(version, cluster_by)"),
        (children: Seq[Expression]) => {
          require(children.size == 2, "graft_cluster_by(tablePath, cols)")
          val path = strLitOf(children.head, "graft_cluster_by")
          val cols = strLitOf(children(1), "graft_cluster_by")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          val v = log.latestVersion().get + 1
          graft.txn.TableWriter.setClusterBy(spark, path, cols,
            version = v, commitTs = System.currentTimeMillis())
          import spark.implicits._
          Seq((v, cols.mkString(","))).toDF("version", "cluster_by")
            .queryExecution.logical
        }),
      // CONVERT TO DELTA: register an existing parquet dir in place —
      // one metadata commit, zero data rewritten
      ("graft_convert",
        info("graft_convert",
          "graft_convert(dir) - register an existing plain/hive-" +
            "partitioned parquet directory as a graft table in place " +
            "(no data rewritten); returns (version, files, rows)"),
        (children: Seq[Expression]) => {
          require(children.size == 1, "graft_convert(dir)")
          val dir = strLitOf(children.head, "graft_convert")
          val spark = org.apache.spark.sql.SparkSession.active
          val r = graft.txn.Convert.run(spark, dir)
          import spark.implicits._
          Seq((r.version, r.filesRegistered, r.rowsRegistered))
            .toDF("version", "files", "rows")
            .queryExecution.logical
        }),
      // COPY INTO: idempotent bulk ingestion — per-file SetTxn markers
      // commit atomically with the data, so retries skip, never duplicate
      ("graft_copy_into",
        info("graft_copy_into",
          "graft_copy_into(tablePath, srcDir) - ingest every parquet " +
            "file under srcDir exactly once (idempotent on retry); " +
            "returns (version, files_copied, rows_copied, files_skipped)"),
        (children: Seq[Expression]) => {
          require(children.size == 2, "graft_copy_into(tablePath, srcDir)")
          val path = strLitOf(children.head, "graft_copy_into")
          val src = strLitOf(children(1), "graft_copy_into")
          val spark = org.apache.spark.sql.SparkSession.active
          val r = graft.txn.CopyInto.run(spark, path, src)
          import spark.implicits._
          Seq((r.version, r.filesCopied, r.rowsCopied, r.filesSkipped))
            .toDF("version", "files_copied", "rows_copied", "files_skipped")
            .queryExecution.logical
        }),
      // REORG TABLE ... APPLY (PURGE): fold every deletion vector back
      // into plain files as a dataChange=false rewrite — restores
      // plain-reader speed off the write hot path, logical table
      // unchanged (CDC emits nothing)
      ("graft_reorg",
        info("graft_reorg",
          "graft_reorg(tablePath) - rewrite deletion-vector-carrying " +
            "files without their dead rows (REORG ... APPLY (PURGE)); " +
            "returns (version, files_purged, dvs_remaining)"),
        (children: Seq[Expression]) => {
          require(children.size == 1, "graft_reorg(tablePath)")
          val path = strLitOf(children.head, "graft_reorg")
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          val rewritten = graft.txn.DeletionVectors.purge(spark, path,
            version = log.latestVersion().get + 1,
            commitTs = System.currentTimeMillis())
          val after = log.snapshotLatest()
          import spark.implicits._
          Seq((after.version, rewritten.size.toLong,
            after.files.count(_.dv.isDefined).toLong))
            .toDF("version", "files_purged", "dvs_remaining")
            .queryExecution.logical
        }),
      // log retention (Delta's logRetentionDuration): bound the commit
      // log itself — vacuum's sibling for metadata
      ("graft_expire_log",
        info("graft_expire_log",
          "graft_expire_log(tablePath, retainMillis) - delete commit " +
            "files and checkpoints below the newest checkpoint past the " +
            "retention horizon; returns one row per deleted log file"),
        (children: Seq[Expression]) => {
          require(children.size == 2,
            "graft_expire_log(tablePath, retainMillis)")
          val path = strLitOf(children.head, "graft_expire_log")
          val retain = longLitOf(children(1), "graft_expire_log")
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          import spark.implicits._
          log.expireLog(retain).toDF("deleted_log_file")
            .queryExecution.logical
        }),
      ("graft_vacuum",
        info("graft_vacuum",
          "graft_vacuum(tablePath, retainMillis[, dryRun[, force]]) - " +
            "delete data files unreferenced by the latest snapshot past " +
            "the retention horizon; retention under 7 days refuses " +
            "unless force (Delta's retentionDurationCheck); returns one " +
            "row per deleted path"),
        (children: Seq[Expression]) => {
          require(children.size >= 2 && children.size <= 4,
            "graft_vacuum(tablePath, retainMillis[, dryRun[, force]])")
          val path = strLitOf(children.head, "graft_vacuum")
          val retain = longLitOf(children(1), "graft_vacuum")
          val dry = children.lift(2).exists(boolLitOf(_, "graft_vacuum"))
          val force = children.lift(3).exists(boolLitOf(_, "graft_vacuum"))
          // the SQL surface gets the safety interlock the raw API
          // deliberately omits: a short retention silently breaks
          // concurrent readers, time travel, and CDC replay. Dry runs
          // are always allowed — they delete nothing.
          require(dry || force || retain >= 7L * 24 * 3600 * 1000,
            s"graft_vacuum: retention ${retain}ms is below the 7-day " +
              "safety floor — concurrent readers, time travel, and CDC " +
              "replay may still reference files inside it; pass " +
              "force=true to override")
          val spark = org.apache.spark.sql.SparkSession.active
          val deleted = graft.txn.TableWriter.vacuum(spark, path,
            retainMillis = retain,
            nowMillis = System.currentTimeMillis(), dryRun = dry)
          import spark.implicits._
          deleted.toDF("deleted_path").queryExecution.logical
        }),
      // RESTORE as a procedure-style TVF (Delta's RESTORE TABLE ...
      // VERSION AS OF): rolls the live-file state back to `toVersion`
      // as a NEW commit — history is preserved, the rolled-back states
      // stay time-travelable. Returns the new version.
      ("graft_restore",
        info("graft_restore",
          "graft_restore(tablePath, toVersion) - restore the table's " +
            "live state to a past version as a new commit; returns " +
            "(version, restored_to)"),
        (children: Seq[Expression]) => {
          require(children.size == 2, "graft_restore(tablePath, toVersion)")
          val path = strLitOf(children.head, "graft_restore")
          val to = longLitOf(children(1), "graft_restore")
          val spark = org.apache.spark.sql.SparkSession.active
          val log = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf())
          val v = log.latestVersion().get + 1
          graft.txn.TableWriter.restore(spark, path, toVersion = to,
            version = v, commitTs = System.currentTimeMillis())
          import spark.implicits._
          Seq((v, to)).toDF("version", "restored_to")
            .queryExecution.logical
        }),
      // SHOW PARTITIONS with exact sizes, answered from METADATA: one
      // row per live partition with file/byte/row counts from the log's
      // per-file stats (DV dead rows subtracted by reading only the
      // KB-scale sidecars). On a 100 TB table this touches zero data
      // files — the log replay IS the query. `n_rows` is NULL for a
      // partition holding any stats-less file (pre-stats log versions):
      // an honest "unknown" beats a silent undercount.
      ("graft_partitions",
        info("graft_partitions",
          "graft_partitions(tablePath) - per-partition file/byte/row " +
            "counts of the latest snapshot, from log metadata only"),
        (children: Seq[Expression]) => {
          require(children.size == 1, "graft_partitions(tablePath)")
          val path = strLitOf(children.head, "graft_partitions")
          val spark = org.apache.spark.sql.SparkSession.active
          partitionStats(spark, path).queryExecution.logical
        }),
      // DESCRIBE DETAIL as a TVF: one metadata-derived row describing
      // the table — version, file/byte/row totals, partition columns,
      // and the feature surface (constraints, column mapping, protocol).
      ("graft_detail",
        info("graft_detail",
          "graft_detail(tablePath) - one-row table summary (version, " +
            "n_files, n_bytes, n_rows, partition_columns, ...) from " +
            "log metadata only"),
        (children: Seq[Expression]) => {
          require(children.size == 1, "graft_detail(tablePath)")
          val path = strLitOf(children.head, "graft_detail")
          val spark = org.apache.spark.sql.SparkSession.active
          import spark.implicits._
          val snap = new graft.txn.TxnLog(path,
            spark.sessionState.newHadoopConf()).snapshotLatest()
          val allStats = snap.files.forall(_.stats.isDefined)
          val statRows =
            if (!allStats) None
            else Some(snap.files.map(_.stats.get.numRecords).sum -
              graft.txn.DeletionVectors.deletedCount(spark, path, snap.files))
          Seq((snap.version, snap.files.size.toLong,
            snap.files.map(_.size).sum, statRows,
            snap.metadata.map(_.partitionColumns.mkString(",")).getOrElse(""),
            snap.metadata.map(_.constraints.size.toLong).getOrElse(0L),
            snap.metadata.exists(_.columnMapping.nonEmpty),
            snap.protocol.map(_.minReaderVersion.toLong).getOrElse(1L)))
            .toDF("version", "n_files", "n_bytes", "n_rows",
              "partition_columns", "n_constraints", "column_mapping",
              "min_reader_version")
            .queryExecution.logical
        }))

  /** The graft_partitions frame: partition columns (string-typed, as
    * stored in the log; the hive null sentinel maps back to NULL) +
    * n_files / n_bytes / n_rows per partition.
    */
  private def partitionStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = new graft.txn.TxnLog(path,
      spark.sessionState.newHadoopConf()).snapshotLatest()
    val pcols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    val schema = org.apache.spark.sql.types.StructType(
      pcols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)) ++ Seq(
        org.apache.spark.sql.types.StructField("file_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("recs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("has_stats",
          org.apache.spark.sql.types.BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("n_deleted",
          org.apache.spark.sql.types.LongType, nullable = false)))
    // dead rows per file from the KB-scale vector sidecars
    val masks = graft.txn.DeletionVectors.masks(spark, path, snap.files)
    val rows = snap.files.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        pcols.map(c => f.partitionValues.get(c)
          .filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull) ++ Seq(
          new org.apache.hadoop.fs.Path(f.path).getName,
          f.size,
          f.stats.map(s => java.lang.Long.valueOf(s.numRecords)).orNull,
          f.stats.isDefined,
          masks.count(f)))
    }
    val withDel = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val grouped =
      if (pcols.isEmpty) withDel.groupBy()
      else withDel.groupBy(pcols.map(col): _*)
    grouped.agg(
      count(lit(1)).as("n_files"),
      sum(col("bytes")).as("n_bytes"),
      when(min(col("has_stats").cast("int")) === 1,
        sum(col("recs") - col("n_deleted"))).as("n_rows"))
  }

  /** SQL literal → Int for kernel shape parameters (k, numHashes): these
    * fix the expression's output type/semantics, so a non-literal is a
    * planning error, reported as one.
    */
  private def intLit(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer shape parameter, got $other")
  }

  private def strLitOf(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
        if v != null && e.dataType ==
          org.apache.spark.sql.types.StringType =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string table path, got $other")
  }

  private def longLitOf(e: Expression, fn: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal version number, got $other")
  }

  private def boolLitOf(e: Expression, fn: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal boolean, got $other")
  }

  /** "col=val[,col=val...]" → conjunctive partition filter (the
    * CdcOptions shape, shared by the CDF TVFs).
    */
  private def parsePartitionFilter(s: String): Map[String, String] =
    s.split(',').map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"partitionFilter must be col=value[,col=value...], got '$s'")
      }
    }.toMap

  /** Register on an already-built session (tests, notebooks). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
    tableFunctions.foreach { case (name, inf, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
    // KMV distinct sketch as a SQL AGGREGATE (k fixed at 1024 for the
    // SQL surface; the Scala API takes any k): per-group sketches that
    // estimate distinct counts and cross-group overlap without joins
    spark.udf.register("graft_kmv", org.apache.spark.sql.functions.udaf(
      new graft.operators.KmvSketch.KmvAgg(1024)))
    // Count-min point-frequency sketch as a SQL AGGREGATE (4×512 for
    // the SQL surface; the Scala API takes any d×w): never under-counts,
    // over-counts by ≤ (e/512)·N w.h.p. — q239 gates both bounds
    spark.udf.register("graft_cms", org.apache.spark.sql.functions.udaf(
      new graft.operators.CountMinSketch.CmsAgg(4, 512)))
  }
}
