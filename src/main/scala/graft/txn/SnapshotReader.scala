package graft.txn

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch snapshot reads with time travel — versionAsOf / timestampAsOf
  * (reference semantics: DeltaReader.java:148–164 / 134–146, made strict:
  * a missing version/timestamp is an error, not a silent fallback to
  * latest). The scan itself is a plain vectorized parquet read over the
  * snapshot's file list with hive partition-column inference via basePath,
  * so Catalyst pruning/pushdown applies untouched.
  */
object SnapshotReader {

  def read(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DataFrame = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive") // cfg XOR, DeltaLakeConnectorConfig.java:65–70
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val version = versionAsOf
      .orElse(timestampAsOf.map(log.versionAtTimestamp))
      .getOrElse(log.latestVersion().getOrElse(
        throw new IllegalArgumentException(s"empty table at $tablePath")))
    val snap = log.snapshot(version)
    if (snap.files.isEmpty) {
      // valid but empty snapshot: produce an empty frame with the schema
      val schema = snap.metadata.map(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(org.apache.spark.sql.types.StructType(Nil))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      // read with the DECLARED schema as of this version (not whatever
      // file Spark samples): after a schema-change commit, files written
      // earlier surface the added columns as null (Delta semantics).
      // Deletion vectors apply inside (DV-free tables take a plain scan);
      // column mapping (RENAME COLUMN) translates at the file boundary.
      DeletionVectors.readFiles(spark, tablePath, snap.files,
        snap.metadata.map(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]),
        withRowMeta = false,
        mapping = snap.metadata.map(_.columnMapping).getOrElse(Map.empty))
    }
  }

  /** Metadata-only COUNT per partition-value group: exact live row
    * counts computed from the log's per-file stats, minus each file's
    * deletion-vector dead rows (the DV sidecars are KBs; no data file is
    * opened). The `OptimizeMetadataOnlyQuery` idea as an explicit API —
    * at 100 TB, `SELECT count(*) GROUP BY partition` from statistics is
    * the difference between milliseconds and a full scan. Returns
    * (partition columns..., n) — one row per partition value set
    * (a single all-null-partition row for unpartitioned tables).
    * Throws if any file lacks stats (never true for files this engine
    * wrote; soundness over silence).
    */
  def statsCount(
      spark: SparkSession,
      tablePath: String,
      versionAsOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val version = versionAsOf.getOrElse(log.latestVersion().getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath")))
    val snap = log.snapshot(version)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    // dead rows per file from the (small) vector sidecars, each read once
    val masks = DeletionVectors.masks(spark, tablePath, snap.files)
    import spark.implicits._
    val grouped = snap.files.map { f =>
      val n = f.stats.map(_.numRecords).getOrElse(
        throw new IllegalStateException(
          s"no stats for ${f.path} at $tablePath — metadata count unsound"))
      (partCols.map(c => f.partitionValues.get(c).orNull), n - masks.count(f))
    }.toDF("_pv", "_live")
      .select((partCols.zipWithIndex.map { case (c, i) =>
        col("_pv").getItem(i).as(c) } :+ col("_live")): _*)
    if (partCols.isEmpty) grouped.agg(sum(col("_live")).as("n"))
    else grouped.groupBy(partCols.map(col): _*)
      .agg(sum(col("_live")).as("n"))
  }

  /** Metadata-only global MIN/MAX of a numeric/string column from the
    * per-file stats. SOUND only when no live file carries a deletion
    * vector (a DV might have killed the extreme row, and file stats
    * cannot see that) — DV-carrying snapshots fall back to scanning
    * JUST the DV-carrying files and combining with the stats of the
    * clean ones, so the scan cost tracks the deleted sliver, not the
    * table.
    */
  def statsMinMax(
      spark: SparkSession,
      tablePath: String,
      column: String): (Any, Any) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val snap = log.snapshotLatest()
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val phys = ColumnMapping.physicalName(column, meta.columnMapping)
    val dt = schema(column).dataType
    def parse(s: String): Any = dt match {
      case org.apache.spark.sql.types.LongType => s.toLong
      case org.apache.spark.sql.types.IntegerType => s.toInt
      case org.apache.spark.sql.types.DoubleType => s.toDouble
      case org.apache.spark.sql.types.FloatType => s.toFloat
      case org.apache.spark.sql.types.StringType => s
      case other => throw new IllegalArgumentException(
        s"stats min/max unsupported for $other")
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      // UTF-8 byte order — the footerStats combine and every skipping
      // comparison use it; Java's UTF-16 order disagrees for
      // supplementary code points
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case (x: Number, y: Number) => x.doubleValue() < y.doubleValue()
      case _ => throw new IllegalStateException("mixed stat types")
    }
    // Files whose stats cannot SERVE a min/max answer scan instead:
    // DV-carrying files (the vector may have killed the extreme row) and
    // — for string columns — non-tight files, whose bounds are TRUNCATED
    // (the writer's 64-code-point cap, or a foreign CONVERT): a
    // truncated min is a prefix that exists in no row, an incremented
    // max exists in no row — returning either would fabricate values.
    // Numeric bounds are exact regardless of tight (parquet never
    // truncates fixed-width stats), matching GraftBatch's pushdown rule.
    val (dvFiles, clean) = snap.files.partition(f => f.dv.isDefined ||
      (dt == org.apache.spark.sql.types.StringType &&
        f.stats.exists(!_.tight)))
    val cleanBounds = clean.flatMap(f => f.stats.flatMap(st =>
      st.minValues.get(phys).zip(st.maxValues.get(phys))
        .map { case (mn, mx) => (parse(mn), parse(mx)) }))
    require(cleanBounds.size == clean.size,
      s"file without '$phys' stats at $tablePath — metadata min/max unsound")
    val dvBounds =
      if (dvFiles.isEmpty) None
      else {
        val r = DeletionVectors.readFiles(spark, tablePath, dvFiles,
            Some(schema), mapping = meta.columnMapping)
          .agg(min(col(column)), max(col(column))).head()
        if (r.isNullAt(0)) None else Some((r.get(0), r.get(1)))
      }
    val all = cleanBounds ++ dvBounds
    require(all.nonEmpty, s"empty table at $tablePath")
    (all.map(_._1).reduce((a, b) => if (lt(a, b)) a else b),
      all.map(_._2).reduce((a, b) => if (lt(a, b)) b else a))
  }
}
