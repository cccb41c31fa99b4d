package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Murmur3X86
import graft.operators.MaterializedAgg
import graft.txn._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC / transaction-log operator inventory (SURVEY.md §2.1, §2.8): the
  * engine's own versioned-parquet table format exercised end-to-end. The
  * fixture derives deterministically from the lineitem table, so the CDC
  * replay counts and time-travel row counts ARE DuckDB-expressible — the
  * oracle recomputes them from lineitem directly.
  *
  * Fixture (per SURVEY §7.2, FIXTURES.md C):
  *   v0: all lineitem rows, hive-partitioned by l_returnflag   (ts=1000)
  *   v1: remove partition l_returnflag='R'; add rows l_orderkey%97=0 (ts=2000)
  *   v2: schema-change Metadata + add rows l_orderkey%89=0     (ts=3000)
  */
object Cdc {

  /** Deterministic fixture dir per scale factor. */
  def fixtureDir(sfDir: String): String =
    s"target/fixtures/cdc_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Build (or reuse — content is deterministic) the 3-version fixture,
    * with remove+add folded into single commits.
    */
  def buildFixture(spark: SparkSession, sfDir: String): String = {
    val dir = fixtureDir(sfDir)
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

    // One writer task per partition value ⇒ 3 large files at v0. A
    // repartition(8) variant (24 files) was measured and REJECTED: the
    // per-file reader overhead made every CDC query ~2× slower at sf0.1
    // (small-files problem) — fewer, larger files win here.
    val li = Tables.load(spark, sfDir, "lineitem")
    // v0: full table
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    // v1: remove the R partition AND add the %97 patch in one commit
    val doomed = new TxnLog(dir, conf).snapshotLatest().files
      .filter(_.partitionValues.get("l_returnflag").contains("R"))
      .map(f => RemoveFile(f.path, 2000L, f.partitionValues))
    TableWriter.write(spark, li.filter(col("l_orderkey") % 97 === 0),
      dir, partitionBy = Seq("l_returnflag"), version = 1L, commitTs = 2000L,
      operation = "MERGE", extraActions = doomed)
    // v2: metadata change + the %89 patch
    TableWriter.write(spark, li.filter(col("l_orderkey") % 89 === 0),
      dir, partitionBy = Seq("l_returnflag"), version = 2L, commitTs = 3000L,
      operation = "WRITE",
      extraActions = Seq(Metadata(li.schema.json, Seq("l_returnflag"))))
    dir
  }

  /** 6-version KEYED CDC fixture over events (event_id is unique):
    *   v0: event_id%3=0            (event_id, event_type, cents)  ts=1000
    *   v1: append %3=1 ∧ %5=0 (new keys)                          ts=2000
    *   v2: UPDATE cents += 1000 WHERE %6=0 (COW rewrite → r+c)    ts=3000
    *   v3: DV delete %9=0                                          ts=4000
    *   v4: append %3=2 ∧ %7=0 (insert-only)                       ts=5000
    *   v5: append %3=2 ∧ %7=1 (insert-only — consecutive with v4) ts=6000
    */
  def buildKeyedFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/cdck_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L, 3L, 4L, 5L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    TableWriter.write(spark, ev.filter(col("event_id") % 3 === 0), dir,
      version = 0L, commitTs = 1000L)
    TableWriter.write(spark,
      ev.filter(col("event_id") % 3 === 1 && col("event_id") % 5 === 0),
      dir, version = 1L, commitTs = 2000L)
    TableWriter.updateWhere(spark, dir, col("event_id") % 6 === 0,
      Map("cents" -> (col("cents") + 1000L)), version = 2L, commitTs = 3000L)
    DeletionVectors.deleteWhere(spark, dir, col("event_id") % 9 === 0,
      version = 3L, commitTs = 4000L)
    TableWriter.write(spark,
      ev.filter(col("event_id") % 3 === 2 && col("event_id") % 7 === 0),
      dir, version = 4L, commitTs = 5000L)
    TableWriter.write(spark,
      ev.filter(col("event_id") % 3 === 2 && col("event_id") % 7 === 1),
      dir, version = 5L, commitTs = 6000L)
    dir
  }

  /** 6-version CHANGE DATA FEED fixture over events (event_id unique):
    *   v0: event_id%3=0              (event_id, event_type, cents) ts=1000
    *   v1: SET TBLPROPERTIES graft.enableChangeDataFeed=true       ts=1500
    *   v2: UPDATE cents += 1000 WHERE %12=0 (COW, exact images)    ts=2000
    *   v3: DELETE WHERE %18=0 (COW, exact delete rows)             ts=3000
    *   v4: DV DELETE WHERE %30=0 (sidecar-only, exact delete rows) ts=4000
    *   v5: MERGE src = (%3=0 ∧ %24=0 → update-or-resurrect)
    *              ∪ (%3=1 ∧ %20=0 → insert), cents := id*3         ts=5000
    */
  def buildCdfFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/cdf_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L, 3L, 4L, 5L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    def ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    TableWriter.write(spark, ev.filter(col("event_id") % 3 === 0), dir,
      version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir,
      Map(ChangeDataFeed.Prop -> "true"), version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, dir, col("event_id") % 12 === 0,
      Map("cents" -> (col("cents") + 1000L)), version = 2L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("event_id") % 18 === 0,
      version = 3L, commitTs = 3000L)
    DeletionVectors.deleteWhere(spark, dir, col("event_id") % 30 === 0,
      version = 4L, commitTs = 4000L)
    val src = ev
      .filter((col("event_id") % 3 === 0 && col("event_id") % 24 === 0) ||
        (col("event_id") % 3 === 1 && col("event_id") % 20 === 0))
      .withColumn("cents", (col("event_id") * 3).cast("long"))
    TableWriter.mergeUpsert(spark, dir, src, Seq("event_id"),
      version = 5L, commitTs = 5000L)
    dir
  }

  def defs: Seq[QueryDef] = Seq(
    // CDC replay: full-copy + incremental envelope, counted by op.
    QueryDef.sqlBacked(
      "q60_cdc_replay",
      """SELECT 'c' AS op,
        |  CAST(COUNT(*)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 89 = 0) AS BIGINT) AS n
        |FROM lineitem
        |UNION ALL
        |SELECT 'm' AS op, CAST(1 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'r' AS op,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n
        |FROM lineitem
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      CdcReader.cdc(s, table, startingVersion = 0L, includeHistory = true)
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("op"))
    },

    // Time travel: row counts at each version (versionAsOf reads).
    QueryDef.sqlBacked(
      "q61_time_travel",
      """SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem
        |UNION ALL
        |SELECT 1 AS version,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
        |    + COUNT(*) FILTER (WHERE l_orderkey % 97 = 0) AS BIGINT) AS n_rows
        |FROM lineitem
        |UNION ALL
        |SELECT 2 AS version,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag <> 'R')
        |    + COUNT(*) FILTER (WHERE l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 89 = 0) AS BIGINT) AS n_rows
        |FROM lineitem
        |ORDER BY version""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      def countAt(v: Long): DataFrame =
        SnapshotReader.read(s, table, versionAsOf = Some(v))
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(v.toInt).as("version"), col("n_rows"))
      countAt(0).unionAll(countAt(1)).unionAll(countAt(2))
        .orderBy(col("version"))
    },

    // Streaming micro-batch runner over the CDC log: batch 0 = FULL_COPY
    // snapshot, batch 1 = incremental tail (v1+v2 events incl. the 'm'
    // control row) — per-batch event counts are derivable from lineitem.
    QueryDef.sqlBacked(
      "q63_cdc_stream_batches",
      """SELECT 0 AS batch_idx, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM lineitem
        |UNION ALL
        |SELECT 1 AS batch_idx,
        |  CAST(COUNT(*) FILTER (WHERE l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 89 = 0)
        |    + COUNT(*) FILTER (WHERE l_returnflag = 'R')
        |    + 1 AS BIGINT) AS n_events
        |FROM lineitem
        |ORDER BY batch_idx""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      val ck = java.nio.file.Files.createTempDirectory("cdc_stream_q63").toString
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      graft.streaming.CdcStreamRunner.run(s, table, ck)(df => counts += df.count())
      import s.implicits._
      counts.toSeq.zipWithIndex
        .map { case (n, i) => (i, n) }
        .toDF("batch_idx", "n_events")
        .orderBy(col("batch_idx"))
    },

    // The DataSource V2 streaming surface (readStream.format(...)): same
    // envelope as q60 but through Spark's MicroBatchExecution + the
    // source's partition readers; oracle identical to q60's.
    QueryDef.sqlBacked(
      "q64_cdc_stream_v2",
      """SELECT 'c' AS op,
        |  CAST(COUNT(*)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 89 = 0) AS BIGINT) AS n
        |FROM lineitem
        |UNION ALL
        |SELECT 'm' AS op, CAST(1 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'r' AS op,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n
        |FROM lineitem
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      // foreachBatch: each micro-batch is aggregated DISTRIBUTED-side
      // (op → count); only the tiny per-op totals reach the driver — a
      // memory sink would collect every row.
      val totals = scala.collection.mutable.Map.empty[String, Long]
      val q = s.readStream.format("graft.sources.GraftCdc")
        .option("tablePath", table)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.groupBy(col("op")).agg(count(lit(1)).as("n"))
            .collect()
            .foreach(r => totals.updateWith(r.getString(0)) {
              c => Some(c.getOrElse(0L) + r.getLong(1))
            })
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc_v2_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      totals.toSeq.toDF("op", "n").orderBy(col("op"))
    },

    // Partition routing: canonical partition_value string + the
    // reference's murmur3_32 & MAX_VALUE % N slot (Spark-only — DuckDB
    // has no murmur3-x86; pinned vectors are tested in Murmur3Spec).
    QueryDef.sparkOnly("q62_partition_routing") { (s, dir) =>
      val table = buildFixture(s, dir)
      CdcReader.cdc(s, table, startingVersion = 0L, includeHistory = true)
        .filter(col("op") =!= "m")
        .groupBy(col("partition_value"),
          Murmur3X86.routeIndex(col("partition_value"), 8).as("slot"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("partition_value"))
    },

    // Incremental materialized-view maintenance: create the MV from the
    // fixture's v0 full aggregate, then apply ONLY the v1+v2 CDC delta
    // (signed per-key aggregate, one outer-join merge) — the base is
    // never re-aggregated. The oracle recomputes the fixture's FINAL
    // state from lineitem, so a hash match proves delta maintenance
    // lands exactly on the from-scratch answer (removals included: the
    // whole 'R' partition dies at v1). At 100 TB, refresh cost tracks
    // changed rows, not table size.
    QueryDef.sqlBacked(
      "q106_incremental_mv",
      s"""WITH final AS (
         |  SELECT l_linestatus, l_quantity, l_extendedprice
         |  FROM lineitem WHERE l_returnflag <> 'R'
         |  UNION ALL SELECT l_linestatus, l_quantity, l_extendedprice
         |  FROM lineitem WHERE l_orderkey % 97 = 0
         |  UNION ALL SELECT l_linestatus, l_quantity, l_extendedprice
         |  FROM lineitem WHERE l_orderkey % 89 = 0)
         |SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS mv_cnt,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
         |FROM final GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      val mvPath = s"${fixtureDir(dir)}_mv_q106"
      val fs = new org.apache.hadoop.fs.Path(mvPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
      val spec = MaterializedAgg.Spec(Seq("l_linestatus"),
        Seq("l_quantity", "l_extendedprice"))
      MaterializedAgg.create(s, table, mvPath, spec, versionAsOf = Some(0L))
      MaterializedAgg.refresh(s, table, mvPath, spec)
      SnapshotReader.read(s, mvPath)
        .select(col("l_linestatus"), col("mv_cnt"),
          col("sum_l_quantity").cast("double").as("sum_qty"),
          col("sum_l_extendedprice").cast("double").as("sum_price"))
        .orderBy(col("l_linestatus"))
    },

    // MV AUTO-REWRITE (warehouse query rewrite, as a Catalyst optimizer
    // rule): the user aggregates over the BASE table; the optimizer
    // proves the registered MV fresh (watermark == scan-bound version,
    // re-checked from the logs at plan time) and serves the answer from
    // the MV scan instead. served_from_mv is the driver-hash gate: it is
    // computed from the OPTIMIZED PLAN (true iff the MV path is the scan
    // and the base path is not), so a silently-disabled rewrite fails
    // the hash compare, not just a spec. At 100 TB this replaces a full
    // fact-table aggregate with a key-cardinality-sized read.
    QueryDef.sqlBacked(
      "q260_mv_autorewrite",
      s"""WITH final AS (
         |  SELECT l_linestatus, l_extendedprice
         |  FROM lineitem WHERE l_returnflag <> 'R'
         |  UNION ALL SELECT l_linestatus, l_extendedprice
         |  FROM lineitem WHERE l_orderkey % 97 = 0
         |  UNION ALL SELECT l_linestatus, l_extendedprice
         |  FROM lineitem WHERE l_orderkey % 89 = 0)
         |SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE)
         |    AS sum_price,
         |  CAST(1 AS BIGINT) AS served_from_mv
         |FROM final GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      val mvPath = s"${fixtureDir(dir)}_mv_q260"
      val fs = new org.apache.hadoop.fs.Path(mvPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
      val spec = MaterializedAgg.Spec(Seq("l_linestatus"),
        Seq("l_extendedprice"))
      MaterializedAgg.create(s, table, mvPath, spec) // at the LATEST base
      graft.sources.MvRewrite.register(s, table, mvPath, spec.keys,
        spec.sums)
      try {
        val q = s.read.format("graft").option("tablePath", table).load()
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast("decimal(15,2)"))
              .as("sum_price"))
        val scans = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.scan.description()
        }
        // anchored "<path>@v" matches: mvPath has the base path as a
        // string PREFIX, so a bare contains(table) would always be true
        val served = scans.exists(_.contains(s"GraftBatch $mvPath@")) &&
          !scans.exists(_.contains(s"GraftBatch $table@"))
        // execute UNDER the registration so the rewritten plan is the
        // one that ran; the group-cardinality result is driver-small
        import s.implicits._
        val rows = q.select(col("l_linestatus"), col("cnt"),
            col("sum_price").cast("double").as("sum_price"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            if (served) 1L else 0L))
        rows.toSeq.toDF("l_linestatus", "cnt", "sum_price",
            "served_from_mv")
          .orderBy(col("l_linestatus"))
      } finally graft.sources.MvRewrite.unregister(table)
    },

    // Partition-pruned CDC replay: only partition l_returnflag='A' events
    // replay — the pruned partitions' files are never listed, opened, or
    // shuffled (the single-partition backfill shape). 'A' sees no removes
    // (v1 killed only 'R'), so the envelope is adds + the v2 'm' control
    // row; every count derives from lineitem.
    QueryDef.sqlBacked(
      "q114_cdc_partition_pruned",
      """SELECT 'c' AS op,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A')
        |    + COUNT(*) FILTER (WHERE l_returnflag = 'A' AND l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_returnflag = 'A' AND l_orderkey % 89 = 0)
        |    AS BIGINT) AS n
        |FROM lineitem
        |UNION ALL
        |SELECT 'm' AS op, CAST(1 AS BIGINT) AS n
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      CdcReader.cdc(s, table, startingVersion = 0L, includeHistory = true,
          partitionPred =
            Some(pv => pv.get("l_returnflag").contains("A")))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("op"))
    },

    // Streaming MATERIALIZED VIEW, final state: the fixture's own CDC
    // stream feeds an update-mode aggregation whose changed keys MERGE
    // into a graft table each micro-batch (GraftTableSink.upsertAggregate)
    // — the table always holds the current totals, and after the stream
    // drains it must hash-match a from-scratch recompute of every add
    // event ('c' ops: v0 snapshot + both patches).
    QueryDef.sqlBacked(
      "q115_streaming_mv",
      """WITH ev AS (
        |  SELECT l_linestatus, l_quantity FROM lineitem
        |  UNION ALL SELECT l_linestatus, l_quantity FROM lineitem
        |  WHERE l_orderkey % 97 = 0
        |  UNION ALL SELECT l_linestatus, l_quantity FROM lineitem
        |  WHERE l_orderkey % 89 = 0)
        |SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  SUM(l_quantity) AS qty
        |FROM ev GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      val mvPath = s"${fixtureDir(dir)}_mv_q115"
      val fs = new org.apache.hadoop.fs.Path(mvPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
      // input-sized state partitions for the streaming aggregation
      // (StreamTuning: per-trigger store commits scale with partitions)
      graft.streaming.StreamTuning.withStreamShuffle(s, Seq(table)) {
        val agg = s.readStream.format("graft.sources.GraftCdc")
          .option("tablePath", table)
          .option("startingVersion", "0")
          .option("includeHistory", "true")
          .load()
          .filter(col("op") === "c")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n_events"), sum(col("l_quantity")).as("qty"))
        val q = graft.streaming.GraftTableSink.upsertAggregate(agg, mvPath,
          keyCols = Seq("l_linestatus"),
          checkpointLocation =
            java.nio.file.Files.createTempDirectory("mv_q115_ck").toString)
        try q.processAllAvailable() finally q.stop()
      }
      SnapshotReader.read(s, mvPath)
        .select(col("l_linestatus"), col("n_events"), col("qty"))
        .orderBy(col("l_linestatus"))
    },

    // q60's envelope through the SQL table-valued function instead of
    // the Scala API: `SELECT ... FROM graft_changes(path, 0)` — the
    // Delta `table_changes` idea, registered via SparkSessionExtensions
    // so SQL-only users get CDC without touching the DataFrame API.
    QueryDef.sqlBacked(
      "q207_sql_table_changes",
      """SELECT 'c' AS op,
        |  CAST(COUNT(*)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 97 = 0)
        |    + COUNT(*) FILTER (WHERE l_orderkey % 89 = 0) AS BIGINT) AS n
        |FROM lineitem
        |UNION ALL
        |SELECT 'm' AS op, CAST(1 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'r' AS op,
        |  CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n
        |FROM lineitem
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val table = buildFixture(s, dir)
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT op, CAST(COUNT(*) AS BIGINT) AS n
           |FROM graft_changes('$table', 0)
           |GROUP BY op ORDER BY op""".stripMargin)
    },

    // APPLY CHANGES: stream the CDC envelope from table A and replay it
    // into table B — per micro-batch, removes apply FIRST as a keyed DV
    // delete (left-semi join, no driver-side key list), then inserts
    // append — so B's final state must equal A's final snapshot, which
    // the oracle recomputes from the fixture arithmetic. The Delta
    // "apply changes into" shape: deletes are DV-cheap at write time,
    // appends are plain commits, and the whole replay is one streaming
    // query.
    QueryDef.sqlBacked(
      "q210_cdc_apply",
      """WITH fin AS (
        |  SELECT * FROM lineitem WHERE l_returnflag <> 'R'
        |  UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 97 = 0
        |  UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 89 = 0)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(l_quantity) AS qty
        |FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      val src = buildFixture(s, dir)
      val dst = java.nio.file.Files.createTempDirectory("cdc_apply").toString
      new java.io.File(dst).delete()
      // this synthetic lineitem declares NO primary key (the classic
      // (l_orderkey, l_linenumber) pair repeats), so the replay uses
      // FULL-ROW identity for removes — with a declared key, pass the
      // key columns instead
      val q = s.readStream.format("graft.sources.GraftCdc")
        .option("tablePath", src)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // full-row replay (no declared key): versions apply in commit
          // order, with consecutive insert-only versions batched into
          // one commit — see ApplyChanges.applyFullRow
          graft.streaming.ApplyChanges.applyBatch(s, batch, dst)
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc_apply_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      SnapshotReader.read(s, dst)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag"))
    },

    // KEYED APPLY CHANGES: a 6-version keyed CDC fixture (inserts,
    // copy-on-write updates — r+c pairs in one version — a DV delete,
    // then two consecutive insert-only versions) replays into a fresh
    // table with event_id as the declared key. The whole stream
    // collapses to at most two commits per micro-batch (one keyed DV
    // delete, one append) whatever the batch boundaries — ApplyChangesSpec pins
    // boundary invariance — and the oracle recomputes the final keyed
    // state from the fixture arithmetic.
    QueryDef.sqlBacked(
      "q212_cdc_apply_keyed",
      """WITH fin AS (
        |  SELECT event_id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT)
        |      + CASE WHEN event_id % 6 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM events WHERE event_id % 3 = 0 AND event_id % 9 <> 0
        |  UNION ALL
        |  SELECT event_id, event_type, CAST(FLOOR(value * 100) AS BIGINT)
        |  FROM events WHERE event_id % 3 = 1 AND event_id % 5 = 0
        |  UNION ALL
        |  SELECT event_id, event_type, CAST(FLOOR(value * 100) AS BIGINT)
        |  FROM events WHERE event_id % 3 = 2 AND event_id % 7 IN (0, 1))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      val src = buildKeyedFixture(s, dir)
      val dst = java.nio.file.Files.createTempDirectory("cdc_applyk").toString
      new java.io.File(dst).delete()
      val q = s.readStream.format("graft.sources.GraftCdc")
        .option("tablePath", src)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.ApplyChanges.applyBatch(s, batch, dst,
            keyCols = Seq("event_id"))
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc_applyk_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      SnapshotReader.read(s, dst)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("cents_sum"),
          sum(col("event_id")).cast("long").as("id_sum"))
        .orderBy(col("event_type"))
    },

    // Bounded CDC replay — Delta's table_changes(start, END): versions
    // past the bound must simply not exist for the read. v1's inserts
    // and v2's DV-dead rows replay; v3's append (which an unbounded
    // read would include as 'c' rows) is PROVABLY absent because the
    // oracle arithmetic omits it — an off-by-one in the bound breaks
    // the hash.
    QueryDef.sqlBacked(
      "q230_cdc_bounded",
      """WITH t AS (
        |  SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    event_id % 4 AS grp
        |  FROM events)
        |SELECT 'c' AS op, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents_sum
        |FROM t WHERE grp = 1
        |UNION ALL
        |SELECT 'd' AS op, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents_sum
        |FROM t WHERE grp IN (0, 1) AND cents % 5 = 0
        |ORDER BY op""".stripMargin) { (s, dir) =>
      val path = s"target/fixtures/cdcb_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val log = new TxnLog(path, s.sessionState.newHadoopConf())
      if (log.versions() != Seq(0L, 1L, 2L, 3L)) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            floor(col("value") * 100).cast("long").as("cents"),
            (col("event_id") % 4).as("grp"))
        TableWriter.write(s, ev.filter(col("grp") === 0), path,
          version = 0L, commitTs = 1000L)
        TableWriter.write(s, ev.filter(col("grp") === 1), path,
          version = 1L, commitTs = 2000L)
        DeletionVectors.deleteWhere(s, path, col("cents") % 5 === 0,
          version = 2L, commitTs = 3000L)
        TableWriter.write(s, ev.filter(col("grp") === 2), path,
          version = 3L, commitTs = 4000L)
      }
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(cents) AS BIGINT) AS cents_sum
           |FROM graft_changes('$path', 0, false, 2)
           |GROUP BY op ORDER BY op""".stripMargin)
    },

    // CHANGE DATA FEED (Delta's table_changes with CDF enabled): the
    // op-envelope CDC above is file-level — a copy-on-write UPDATE
    // surfaces survivors as churn. With graft.enableChangeDataFeed set,
    // every DML commit writes its EXACT changed rows to _change_data/
    // sidecars, and the feed serves update_preimage/update_postimage/
    // delete records per commit. The oracle replays the fixture's DML
    // arithmetic from the events table — counts AND cents sums, so a
    // survivor row leaking into the feed (or a lost image) breaks the
    // hash, not just the count.
    QueryDef.sqlBacked(
      "q296_cdf_update_delete",
      """WITH b AS (
        |  SELECT event_id AS id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 3 = 0),
        |u AS (SELECT id, cents,
        |  CASE WHEN id % 12 = 0 THEN cents + 1000 ELSE cents END AS c2
        |  FROM b)
        |SELECT v, ct, n, cents FROM (
        |  SELECT CAST(2 AS BIGINT) AS v, 'update_preimage' AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM u WHERE id % 12 = 0 HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'update_postimage',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(c2) AS BIGINT)
        |  FROM u WHERE id % 12 = 0 HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'delete',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(c2) AS BIGINT)
        |  FROM u WHERE id % 18 = 0 HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), 'delete',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(c2) AS BIGINT)
        |  FROM u WHERE id % 30 = 0 AND id % 18 <> 0 HAVING COUNT(*) > 0
        |) ORDER BY v, ct""".stripMargin) { (s, dir) =>
      val t = buildCdfFixture(s, dir)
      ChangeDataFeed.tableChanges(s, t, 2L, Some(4L))
        .groupBy(col(ChangeDataFeed.VersionCol).as("v"),
          col(ChangeDataFeed.TypeCol).as("ct"))
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("cents"))
        .orderBy(col("v"), col("ct"))
    },

    // CDF through MERGE: matched alive keys yield pre/post-image pairs;
    // source keys whose target rows died earlier (COW delete at v3, DV
    // delete at v4) are NOT matched and insert — the oracle replays the
    // liveness arithmetic, so a MERGE that matched a dead row (DV
    // resurrection) or mis-classified an insert breaks the hash.
    // id%24=0 implies id%12=0, so every matched preimage carries the v2
    // update (+1000) — the feed composes across the fixture's history.
    QueryDef.sqlBacked(
      "q297_cdf_merge",
      """WITH b AS (
        |  SELECT event_id AS id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT id, cents + 1000 AS pre FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND id % 18 <> 0 AND id % 30 <> 0),
        |srcnew AS (SELECT id FROM b WHERE (id % 3 = 1 AND id % 20 = 0)
        |  OR (id % 3 = 0 AND id % 24 = 0 AND (id % 18 = 0 OR id % 30 = 0)))
        |SELECT ct, n, cents, id_sum FROM (
        |  SELECT 'update_preimage' AS ct, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pre) AS BIGINT) AS cents, CAST(SUM(id) AS BIGINT) AS id_sum
        |  FROM m HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(id * 3) AS BIGINT), CAST(SUM(id) AS BIGINT)
        |  FROM m HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'insert', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(id * 3) AS BIGINT), CAST(SUM(id) AS BIGINT)
        |  FROM srcnew HAVING COUNT(*) > 0
        |) ORDER BY ct""".stripMargin) { (s, dir) =>
      val t = buildCdfFixture(s, dir)
      ChangeDataFeed.tableChanges(s, t, 5L, Some(5L))
        .groupBy(col(ChangeDataFeed.TypeCol).as("ct"))
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("cents"),
          sum("event_id").cast("long").as("id_sum"))
        .orderBy(col("ct"))
    },

    // CDF inference (the Delta rule for commits WITHOUT change files):
    // appends read as inserts, whole-file removes as deletes of the
    // rows live at the prior version — no table property needed. The
    // feed is total over append/partition-drop history, and only DV
    // transitions demand the property (q290/q291 cover those).
    QueryDef.sqlBacked(
      "q298_cdf_inferred",
      """WITH b AS (
        |  SELECT event_id AS id, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    CAST(event_id % 4 AS VARCHAR) AS grp
        |  FROM events)
        |SELECT v, ct, n, cents FROM (
        |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM b HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'delete',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |  FROM b WHERE grp = '2' HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'insert',
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |  FROM b WHERE id % 5 = 0 HAVING COUNT(*) > 0
        |) ORDER BY v, ct""".stripMargin) { (s, dir) =>
      val path =
        s"target/fixtures/cdfi_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val log = new TxnLog(path, s.sessionState.newHadoopConf())
      if (log.versions() != Seq(0L, 1L, 2L)) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        val ev = Tables.load(s, dir, "events").select(
          col("event_id"), floor(col("value") * 100).cast("long").as("cents"),
          (col("event_id") % 4).cast("string").as("grp"))
        TableWriter.write(s, ev, path, partitionBy = Seq("grp"),
          version = 0L, commitTs = 1000L)
        TableWriter.removeWhere(s, path,
          pv => pv.get("grp").contains("2"), version = 1L, commitTs = 2000L)
        TableWriter.write(s, ev.filter(col("event_id") % 5 === 0), path,
          partitionBy = Seq("grp"), version = 2L, commitTs = 3000L)
      }
      ChangeDataFeed.tableChanges(s, path, 0L, Some(2L))
        .groupBy(col(ChangeDataFeed.VersionCol).as("v"),
          col(ChangeDataFeed.TypeCol).as("ct"))
        .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("cents"))
        .orderBy(col("v"), col("ct"))
    },

    // STREAMING change data feed (Delta's readChangeFeed stream): drain
    // the CDF fixture's whole history — inferred inserts at v0, exact
    // update/delete/merge images at v2–v5 — through the GraftCdf
    // micro-batch source into a keyed downstream replica
    // (ApplyChanges.applyCdfBatch: deletes drop keys, postimages/inserts
    // upsert). The replica's final state must equal the source's final
    // snapshot, which the oracle recomputes from the fixture arithmetic:
    // a lost preimage pairing, a resurrection, or a mis-keyed upsert all
    // break the hash. maxVersionsPerTrigger=2 forces multi-batch
    // progress, so batch-boundary invariance is exercised too.
    QueryDef.sqlBacked(
      "q299_cdf_stream_apply",
      """WITH b AS (
        |  SELECT event_id AS id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |fin AS (
        |  SELECT id, event_type,
        |    CASE WHEN id % 24 = 0 THEN id * 3
        |         WHEN id % 12 = 0 THEN cents + 1000
        |         ELSE cents END AS c
        |  FROM b WHERE id % 3 = 0 AND id % 18 <> 0 AND id % 30 <> 0
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND (id % 18 = 0 OR id % 30 = 0)
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 1 AND id % 20 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(c) AS BIGINT) AS cents_sum,
        |  CAST(SUM(id) AS BIGINT) AS id_sum
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      val src = buildCdfFixture(s, dir)
      val dst = java.nio.file.Files.createTempDirectory("cdf_apply").toString
      new java.io.File(dst).delete()
      val q = s.readStream.format("graft.sources.GraftCdf")
        .option("tablePath", src)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.ApplyChanges.applyCdfBatch(s, batch, dst,
            keyCols = Seq("event_id"))
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdf_apply_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      SnapshotReader.read(s, dst)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).cast("long").as("cents_sum"),
          sum(col("event_id")).cast("long").as("id_sum"))
        .orderBy(col("event_type"))
    },

    // Incremental MV maintained from the CHANGE FEED: the q106/q260 IVM
    // state machine with its delta read from _change_data sidecars
    // (+post/+insert, −pre/−delete) instead of the file-level envelope —
    // the delta scan is proportional to CHANGED ROWS, not churned files
    // (a 1-row UPDATE costs a KB sidecar read, not two full file scans).
    // The MV is created at v1 (pre-DML) and maintained through the
    // fixture's UPDATE / COW-delete / DV-delete / MERGE history; its
    // final state must hash-match the oracle's from-scratch recompute of
    // the final snapshot. MaterializedAggSpec pins that the DML delta
    // reads ONLY _change_data files.
    QueryDef.sqlBacked(
      "q301_cdf_incremental_mv",
      """WITH b AS (
        |  SELECT event_id AS id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |fin AS (
        |  SELECT id, event_type,
        |    CASE WHEN id % 24 = 0 THEN id * 3
        |         WHEN id % 12 = 0 THEN cents + 1000
        |         ELSE cents END AS c
        |  FROM b WHERE id % 3 = 0 AND id % 18 <> 0 AND id % 30 <> 0
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND (id % 18 = 0 OR id % 30 = 0)
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 1 AND id % 20 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS mv_cnt,
        |  CAST(SUM(c) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      val table = buildCdfFixture(s, dir)
      val mvPath = s"${table}_mv_q301"
      val fs = new org.apache.hadoop.fs.Path(mvPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
      val spec = MaterializedAgg.Spec(Seq("event_type"), Seq("cents"))
      MaterializedAgg.create(s, table, mvPath, spec, versionAsOf = Some(1L))
      MaterializedAgg.refreshFromCdf(s, table, mvPath, spec)
      SnapshotReader.read(s, mvPath)
        .select(col("event_type"), col("mv_cnt"),
          col("sum_cents").cast("long").as("sum_cents"))
        .orderBy(col("event_type"))
    },

    // CONTINUOUSLY maintained MV over the STREAMING change feed: q301's
    // state machine driven by GraftCdf micro-batches instead of a manual
    // refresh call — UPDATEs / COW deletes / DV deletes / MERGE images
    // fold into the aggregate as they stream, exactly-once via a SetTxn
    // marker committed with each state generation. Same oracle as q301:
    // the final MV must hash-match the from-scratch recompute of the
    // base's final snapshot.
    QueryDef.sqlBacked(
      "q302_cdf_streaming_mv",
      """WITH b AS (
        |  SELECT event_id AS id, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |fin AS (
        |  SELECT id, event_type,
        |    CASE WHEN id % 24 = 0 THEN id * 3
        |         WHEN id % 12 = 0 THEN cents + 1000
        |         ELSE cents END AS c
        |  FROM b WHERE id % 3 = 0 AND id % 18 <> 0 AND id % 30 <> 0
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND (id % 18 = 0 OR id % 30 = 0)
        |  UNION ALL
        |  SELECT id, event_type, id * 3 FROM b
        |  WHERE id % 3 = 1 AND id % 20 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS mv_cnt,
        |  CAST(SUM(c) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      val table = buildCdfFixture(s, dir)
      val mvPath = s"${table}_mv_q302"
      val fs = new org.apache.hadoop.fs.Path(mvPath)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
      val spec = MaterializedAgg.Spec(Seq("event_type"), Seq("cents"))
      MaterializedAgg.create(s, table, mvPath, spec, versionAsOf = Some(1L))
      val q = MaterializedAgg.maintainFromCdfStream(s, table, mvPath, spec,
        checkpointLocation =
          java.nio.file.Files.createTempDirectory("mv_q302_ck").toString)
      try q.processAllAvailable() finally q.stop()
      SnapshotReader.read(s, mvPath)
        .select(col("event_type"), col("mv_cnt"),
          col("sum_cents").cast("long").as("sum_cents"))
        .orderBy(col("event_type"))
    },

    // SCD2 validity intervals from the CHANGE FEED: where q133/q142
    // re-aggregate the whole table once per version, this build costs
    // one seed scan plus the changed rows — update images close-and-
    // reopen at their version, deletes close, inserts (including the
    // merge's dead-key resurrections) open. The oracle replays every
    // interval's (from, to, cents) from the fixture arithmetic, so a
    // mis-paired image or a lost close breaks the hash. Output is the
    // per-(from, to) interval census (counts + cents + id sums).
    QueryDef.sqlBacked(
      "q303_cdf_scd2",
      """WITH b AS (
        |  SELECT event_id AS id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |iv AS (
        |  SELECT id, cents, CAST(1 AS BIGINT) AS vf,
        |    CASE WHEN id % 12 = 0 THEN 2 WHEN id % 18 = 0 THEN 3
        |         WHEN id % 30 = 0 THEN 4 ELSE NULL END AS vt
        |  FROM b WHERE id % 3 = 0
        |  UNION ALL
        |  SELECT id, cents + 1000, 2,
        |    CASE WHEN id % 18 = 0 THEN 3 WHEN id % 30 = 0 THEN 4
        |         WHEN id % 24 = 0 THEN 5 ELSE NULL END
        |  FROM b WHERE id % 3 = 0 AND id % 12 = 0
        |  UNION ALL
        |  SELECT id, id * 3, 5, NULL FROM b
        |  WHERE (id % 3 = 0 AND id % 24 = 0) OR (id % 3 = 1 AND id % 20 = 0))
        |SELECT vf AS valid_from,
        |  CAST(COALESCE(vt, -1) AS BIGINT) AS valid_to_k,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
        |  CAST(SUM(id) AS BIGINT) AS id_sum
        |FROM iv GROUP BY vf, vt
        |ORDER BY valid_from, valid_to_k""".stripMargin) { (s, dir) =>
      val table = buildCdfFixture(s, dir)
      graft.operators.Scd2.intervalsFromCdf(s, table, Seq("event_id"),
          col("cents"), baseVersion = 1L)
        .groupBy(col("valid_from"),
          coalesce(col("valid_to"), lit(-1L)).cast("long").as("valid_to_k"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("cents")).cast("long").as("cents_sum"),
          sum(col("event_id")).cast("long").as("id_sum"))
        .orderBy(col("valid_from"), col("valid_to_k"))
    },

    // Row-level change AUDIT at metadata cost (the DESCRIBE HISTORY
    // companion): per version × change type, how many rows changed —
    // add-only commits answer from footer stats, sidecar commits scan
    // just their _change_type column. The oracle replays every count
    // from the fixture arithmetic, so a stats undercount or a sidecar
    // misclassification breaks the hash. Through the SQL TVF.
    QueryDef.sqlBacked(
      "q304_changes_summary",
      """WITH b AS (SELECT event_id AS id FROM events)
        |SELECT v, ct, n FROM (
        |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM b WHERE id % 3 = 0
        |  UNION ALL SELECT 2, 'update_preimage', COUNT(*) FROM b
        |  WHERE id % 12 = 0
        |  UNION ALL SELECT 2, 'update_postimage', COUNT(*) FROM b
        |  WHERE id % 12 = 0
        |  UNION ALL SELECT 3, 'delete', COUNT(*) FROM b WHERE id % 18 = 0
        |  UNION ALL SELECT 4, 'delete', COUNT(*) FROM b
        |  WHERE id % 30 = 0 AND id % 18 <> 0
        |  UNION ALL SELECT 5, 'update_preimage', COUNT(*) FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND id % 18 <> 0 AND id % 30 <> 0
        |  UNION ALL SELECT 5, 'update_postimage', COUNT(*) FROM b
        |  WHERE id % 3 = 0 AND id % 24 = 0 AND id % 18 <> 0 AND id % 30 <> 0
        |  UNION ALL SELECT 5, 'insert', COUNT(*) FROM b
        |  WHERE (id % 3 = 1 AND id % 20 = 0)
        |     OR (id % 3 = 0 AND id % 24 = 0 AND (id % 18 = 0 OR id % 30 = 0))
        |) WHERE n > 0 ORDER BY v, ct""".stripMargin) { (s, dir) =>
      val table = buildCdfFixture(s, dir)
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT version AS v, change_type AS ct,
           |  CAST(n_rows AS BIGINT) AS n
           |FROM graft_changes_summary('$table', 0)
           |ORDER BY v, ct""".stripMargin)
    },

    // PARTITION-PRUNED change feed (the reference's one optimizer idea —
    // action-level pruning before I/O, DeltaReader.java:181-226 — applied
    // to the row-level feed): DML sidecars on a hive-partitioned table
    // split per changed partition and carry partitionValues in their
    // CdcFile actions, so a single-partition backfill prunes every other
    // partition's sidecars from the LOG, never opening them (spec proves
    // it by corrupting the pruned files). Through the SQL TVF's filter
    // arg; the oracle replays the click-partition arithmetic.
    QueryDef.sqlBacked(
      "q308_cdf_partition_pruned",
      """WITH e AS (
        |  SELECT event_id AS id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'click'),
        |u AS (SELECT * FROM e WHERE id % 10 = 0),
        |d AS (SELECT id,
        |    cents + CASE WHEN id % 10 = 0 THEN 1000 ELSE 0 END AS c
        |  FROM e WHERE id % 15 = 0)
        |SELECT change_type, version, n_rows, sum_cents FROM (
        |  SELECT 'update_preimage' AS change_type, CAST(2 AS BIGINT) AS version,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents FROM u
        |  UNION ALL
        |  SELECT 'update_postimage', CAST(2 AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(cents + 1000) AS BIGINT)
        |  FROM u
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(c) AS BIGINT) FROM d
        |) ORDER BY version, change_type""".stripMargin) { (s, dir) =>
      val t = buildCdfPartFixture(s, dir)
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT _change_type AS change_type,
           |  _commit_version AS version,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(cents) AS BIGINT) AS sum_cents
           |FROM graft_table_changes('$t', 2, 3, 'event_type=click')
           |GROUP BY 1, 2
           |ORDER BY version, change_type""".stripMargin)
    },

    // DATE-RANGE backfill of the change feed (the shape the equality
    // filter can't express): the TVF's 5th argument takes an arbitrary
    // partition-column predicate; the feed evaluates the range's
    // distinct partitionValues ONCE against it (hive strings cast back
    // to DATE) and prunes sidecars at the ACTION level, before any
    // parquet I/O — a one-week backfill of a 100 TB table's feed reads
    // only that week's KB sidecars (spec corrupts the out-of-range
    // sidecars to prove they never open; the streaming GraftCdf option
    // plans the same way). The oracle replays the in-range arithmetic
    // from the fixture's deterministic date derivation.
    QueryDef.sqlBacked(
      "q334_cdf_range_backfill",
      """WITH e AS (
        |  SELECT event_id AS id, event_id % 8 AS d,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |u AS (SELECT * FROM e WHERE id % 10 = 0 AND d >= 5),
        |x AS (SELECT id,
        |    cents + CASE WHEN id % 10 = 0 THEN 1000 ELSE 0 END AS c
        |  FROM e WHERE id % 15 = 0 AND d >= 5)
        |SELECT change_type, version, n_rows, sum_cents FROM (
        |  SELECT 'update_preimage' AS change_type,
        |    CAST(2 AS BIGINT) AS version,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents FROM u
        |  UNION ALL
        |  SELECT 'update_postimage', CAST(2 AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), CAST(SUM(cents + 1000) AS BIGINT)
        |  FROM u
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(c) AS BIGINT) FROM x
        |) ORDER BY version, change_type""".stripMargin) { (s, dir) =>
      val t = buildCdfDateFixture(s, dir)
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT _change_type AS change_type,
           |  _commit_version AS version,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(cents) AS BIGINT) AS sum_cents
           |FROM graft_table_changes('$t', 2, 3, '',
           |  'dt >= DATE''2024-01-06''')
           |GROUP BY 1, 2
           |ORDER BY version, change_type""".stripMargin)
    },

    // REPLACE WHERE + dynamic partition overwrite through the CHANGE
    // FEED (Delta parity — both DML shapes write exact change records):
    // the whole replaced slice deletes, the incoming frame inserts. The
    // oracle replays both commits' counts and cents from the events
    // arithmetic — a survivor leak into the feed, a lost delete, or a
    // mis-scoped overwrite all break the hash.
    QueryDef.sqlBacked(
      "q310_cdf_replace_overwrite",
      """WITH e AS (
        |  SELECT event_id AS id, event_type AS et,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT change_type, version, n_rows, sum_cents FROM (
        |  SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS version,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents
        |  FROM e WHERE et = 'click'
        |  UNION ALL
        |  SELECT 'insert', CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(cents + 5) AS BIGINT)
        |  FROM e WHERE et = 'click' AND id % 7 = 0
        |  UNION ALL
        |  SELECT 'delete', CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(cents) AS BIGINT)
        |  FROM e WHERE et = 'error'
        |  UNION ALL
        |  SELECT 'insert', CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(cents * 2) AS BIGINT)
        |  FROM e WHERE et = 'error' AND id % 11 = 0
        |) ORDER BY version, change_type""".stripMargin) { (s, dir) =>
      val t = buildCdfReplaceFixture(s, dir)
      ChangeDataFeed.tableChanges(s, t, 2L, Some(3L))
        .groupBy(col(ChangeDataFeed.TypeCol).as("change_type"),
          col(ChangeDataFeed.VersionCol).as("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("version"), col("change_type"))
    },

    // SNAPSHOT DIFF as data ("what changed between v0 and today"): the
    // graft_table_diff TVF folds the change feed's signs per row VALUE
    // (cost ∝ changed rows — KB sidecars, never two table scans) into
    // net multiset deltas; updates telescope (the intermediate value's
    // +1/−1 cancels), deletes-then-resurrections net to the value move.
    // The oracle computes the v0 and v5 multisets independently and
    // FULL-OUTER subtracts them — any telescoping error, lost delete,
    // or double-counted resurrection breaks the hash.
    QueryDef.sqlBacked(
      "q317_table_diff",
      """WITH base AS (SELECT event_id AS id, event_type AS t,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
        |v0 AS (SELECT id, t, c FROM base WHERE id % 3 = 0),
        |v5 AS (
        |  SELECT id, t, CASE WHEN id % 24 = 0 THEN id * 3
        |                     WHEN id % 12 = 0 THEN c + 1000
        |                     ELSE c END AS c
        |  FROM v0 WHERE id % 24 = 0 OR (id % 18 <> 0 AND id % 30 <> 0)
        |  UNION ALL
        |  SELECT id, t, id * 3 AS c FROM base
        |  WHERE id % 3 = 1 AND id % 20 = 0),
        |b AS (SELECT id, t, c, COUNT(*) AS n FROM v0 GROUP BY 1, 2, 3),
        |a AS (SELECT id, t, c, COUNT(*) AS n FROM v5 GROUP BY 1, 2, 3),
        |d AS (SELECT COALESCE(a.id, b.id) AS id, COALESCE(a.t, b.t) AS t,
        |        COALESCE(a.c, b.c) AS c,
        |        COALESCE(a.n, 0) - COALESCE(b.n, 0) AS net
        |      FROM a FULL OUTER JOIN b
        |        ON a.id = b.id AND a.t = b.t AND a.c = b.c)
        |SELECT t AS event_type,
        |  CASE WHEN net > 0 THEN 'gained' ELSE 'lost' END AS side,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(id) AS BIGINT) AS id_sum,
        |  CAST(SUM(c) AS BIGINT) AS cents_sum
        |FROM d WHERE net <> 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val t = buildCdfFixture(s, dir)
      graft.functions.GraftExtensions.install(s)
      s.sql(
        s"""SELECT event_type,
           |  CASE WHEN _net_change > 0 THEN 'gained' ELSE 'lost' END
           |    AS side,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
           |  CAST(SUM(cents) AS BIGINT) AS cents_sum
           |FROM graft_table_diff('$t', 0, 5)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }
  )

  /** replaceWhere + dynamic-overwrite CDF fixture (q310):
    *   v0: (event_id, event_type, cents) partitioned by event_type
    *   v1: SET TBLPROPERTIES graft.enableChangeDataFeed=true
    *   v2: REPLACE WHERE event_type='click' ← clicks with id%7=0,
    *       cents+5 (whole slice deletes, incoming inserts)
    *   v3: dynamic partition overwrite of 'error' ← errors with id%11=0,
    *       cents*2
    */
  def buildCdfReplaceFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/cdfr_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L, 3L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    TableWriter.write(spark, ev, dir, partitionBy = Seq("event_type"),
      version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir,
      Map(ChangeDataFeed.Prop -> "true"), version = 1L, commitTs = 1500L)
    TableWriter.replaceWhere(spark, dir,
      ev.filter(col("event_type") === "click" && col("event_id") % 7 === 0)
        .withColumn("cents", col("cents") + 5L),
      col("event_type") === "click", version = 2L, commitTs = 2000L)
    TableWriter.overwritePartitionsDynamic(spark, dir,
      ev.filter(col("event_type") === "error" && col("event_id") % 11 === 0)
        .withColumn("cents", col("cents") * 2L),
      version = 3L, commitTs = 3000L)
    dir
  }

  /** DATE-partitioned CDF fixture (q334): events bucketed onto 8
    * deterministic dates (dt = 2024-01-01 + event_id % 8 — no ts
    * semantics to drift across engines), feed on, then the same COW
    * UPDATE/DELETE history as [[buildCdfPartFixture]]:
    *   v0: (event_id, dt, cents) partitioned by dt
    *   v1: SET TBLPROPERTIES graft.enableChangeDataFeed=true
    *   v2: UPDATE cents += 1000 WHERE id%10=0 (all dates)
    *   v3: DELETE WHERE id%15=0 (all dates)
    */
  def buildCdfDateFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/cdfd_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L, 3L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"),
      expr("date_add(DATE'2024-01-01', CAST(event_id % 8 AS INT))")
        .as("dt"),
      floor(col("value") * 100).cast("long").as("cents"))
    TableWriter.write(spark, ev, dir, partitionBy = Seq("dt"),
      version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir,
      Map(ChangeDataFeed.Prop -> "true"), version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, dir, col("event_id") % 10 === 0,
      Map("cents" -> (col("cents") + 1000L)), version = 2L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("event_id") % 15 === 0,
      version = 3L, commitTs = 3000L)
    dir
  }

  /** Hive-partitioned CDF fixture (q308): events by event_type with the
    * feed on — DML sidecars split per changed partition, carrying
    * partitionValues for action-level pruning.
    *   v0: (event_id, event_type, cents) partitioned by event_type
    *   v1: SET TBLPROPERTIES graft.enableChangeDataFeed=true
    *   v2: UPDATE cents += 1000 WHERE id%10=0 (COW, all partitions)
    *   v3: DELETE WHERE id%15=0 (COW, all partitions)
    */
  def buildCdfPartFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/cdfp_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(dir, conf)
    if (log.versions() == Seq(0L, 1L, 2L, 3L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"), col("event_type"),
      floor(col("value") * 100).cast("long").as("cents"))
    TableWriter.write(spark, ev, dir, partitionBy = Seq("event_type"),
      version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir,
      Map(ChangeDataFeed.Prop -> "true"), version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, dir, col("event_id") % 10 === 0,
      Map("cents" -> (col("cents") + 1000L)), version = 2L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("event_id") % 15 === 0,
      version = 3L, commitTs = 3000L)
    dir
  }
}
