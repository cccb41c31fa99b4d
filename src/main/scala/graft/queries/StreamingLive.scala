package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.EventStreams
import graft.txn._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming operators ORACLE-IZED via the fixture-final-state pattern
  * (q192/q115's shape): a bounded stream drains through the REAL
  * streaming operator (watermarks, streaming state and all), the emitted
  * rows land in a parquet sink, and the final aggregate of that sink is
  * hash-checked against a DuckDB recompute — so streaming exact dedup,
  * stream-static enrichment, and the FULL OUTER stream-stream join are
  * driver-hash-green, not just spec-asserted.
  *
  * Each stream reads a deterministic single-version graft table built
  * from `events` (single version ⇒ one data micro-batch, so watermark
  * mechanics are deterministic; the join fixture adds far-future
  * SENTINEL rows per side so the final watermark provably passes every
  * real row's eviction point and all unmatched rows flush).
  */
object StreamingLive {

  private def tag(sfDir: String): String =
    sfDir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Bounded-stream run: drain `build(stream)` into a parquet dir and
    * read the emitted rows back.
    */
  private def drainToParquet(
      s: SparkSession,
      table: String,
      out: String)(build: DataFrame => DataFrame): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    // input-sized state partitions (StreamTuning): the per-trigger
    // state-store commit cost scales with the partition count, so a
    // bounded fixture drain must not inherit the batch default
    graft.streaming.StreamTuning.withStreamShuffle(s, Seq(table)) {
      val stream = s.readStream.format("graft")
        .option("tablePath", table).load()
      val q = build(stream).writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sl_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(out)
  }

  /** Plain events as a 1-version graft table (narrow projection). */
  def eventsFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/sev_${tag(sfDir)}"
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    if (log.versions() == Seq(0L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark,
      Tables.load(spark, sfDir, "events").select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")),
      dir, version = 0L, commitTs = 1000L)
    dir
  }

  /** events ∪ a copy of every 10th row (same event_id — true
    * duplicates), one version so the dedup state sees all copies.
    */
  def dupEventsFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/sevd_${tag(sfDir)}"
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    if (log.versions() == Seq(0L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ev = Tables.load(spark, sfDir, "events").select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"))
    TableWriter.write(spark,
      ev.unionAll(ev.filter(col("event_id") % 10 === 0)),
      dir, version = 0L, commitTs = 1000L)
    dir
  }

  /** purchases + clicks + one far-future sentinel per side (2 hours past
    * the real max ts — beyond lateness + join gap, so the final
    * watermark passes every real row; the sentinels themselves never
    * emit: unmatched and never evicted).
    */
  def joinEventsFixture(spark: SparkSession, sfDir: String): String = {
    val dir = s"target/fixtures/sevj_${tag(sfDir)}"
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    if (log.versions() == Seq(0L)) return dir
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ev = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    import spark.implicits._
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
    val sentinels = Seq(
      (-1L, sentinelTs, 9999998L, "purchase"),
      (-2L, sentinelTs, 9999999L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    TableWriter.write(spark, ev.unionAll(sentinels),
      dir, version = 0L, commitTs = 1000L)
    dir
  }

  def defs: Seq[QueryDef] = Seq(
    // STREAMING exact dedup (dropDuplicatesWithinWatermark) as a green
    // row: the stream carries every 10th event twice; one row per
    // event_id survives, so the drained sink must aggregate exactly
    // like the duplicate-free events table.
    QueryDef.sqlBacked(
      "q215_streaming_dedup",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val table = dupEventsFixture(s, dir)
      val out = s"target/fixtures/out_sdedup_${tag(dir)}"
      drainToParquet(s, table, out)(
        EventStreams.dedupEvents(_, lateness = "10 minutes"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
        .orderBy(col("event_type"))
    },

    // Stream-static enrichment as a green row: every micro-batch joins
    // the event stream against the static customer dimension (broadcast,
    // stateless), and the drained sink rolls up per market segment.
    QueryDef.sqlBacked(
      "q216_stream_static_enrich",
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val table = eventsFixture(s, dir)
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val out = s"target/fixtures/out_senrich_${tag(dir)}"
      drainToParquet(s, table, out)(stream =>
        EventStreams.enrich(stream, dim, "user_id", "c_custkey")
          .select(col("c_mktsegment"), col("value")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
        .orderBy(col("c_mktsegment"))
    },

    // FULL OUTER stream-stream interval join as a green row: purchases
    // match clicks by the same user within the preceding 30 minutes;
    // unmatched rows of BOTH sides null-pad once the watermark closes
    // their window (the sentinel rows force that for every real row).
    // The oracle replays the identical interval-join set arithmetic.
    QueryDef.sqlBacked(
      "q217_stream_full_outer",
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, purchase_id, click_id
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |        AND c.c_ts <= p.p_ts),
        |po AS (SELECT user_id, purchase_id FROM p
        |       WHERE NOT EXISTS (SELECT 1 FROM c
        |         WHERE c.user_id = p.user_id
        |           AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |           AND c.c_ts <= p.p_ts)),
        |co AS (SELECT user_id, click_id FROM c
        |       WHERE NOT EXISTS (SELECT 1 FROM p
        |         WHERE p.user_id = c.user_id
        |           AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |           AND c.c_ts <= p.p_ts))
        |SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_matched,
        |  CAST((SELECT COUNT(*) FROM po) AS BIGINT) AS n_purchase_only,
        |  CAST((SELECT COUNT(*) FROM co) AS BIGINT) AS n_click_only,
        |  CAST((SELECT SUM(user_id) FROM m) AS BIGINT) AS matched_user_sum""".stripMargin) {
      (s, dir) =>
      val table = joinEventsFixture(s, dir)
      val out = s"target/fixtures/out_sfull_${tag(dir)}"
      val emitted = drainToParquet(s, table, out) { stream =>
        EventStreams.purchaseClickJoinFull(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "click"))
      }.filter(col("user_id") < 9999998L) // sentinels never emit; belt+braces
      emitted.agg(
        count(when(col("purchase_id").isNotNull &&
          col("click_id").isNotNull, 1)).cast("long").as("n_matched"),
        count(when(col("purchase_id").isNotNull &&
          col("click_id").isNull, 1)).cast("long").as("n_purchase_only"),
        count(when(col("purchase_id").isNull &&
          col("click_id").isNotNull, 1)).cast("long").as("n_click_only"),
        sum(when(col("purchase_id").isNotNull && col("click_id").isNotNull,
          col("user_id"))).cast("long").as("matched_user_sum"))
    },

    // LEFT OUTER stream-stream interval join as a green row (completes
    // the oracle-backed join-mode matrix: inner q34-twin, FULL q217,
    // semi q258): every purchase emits — matched per qualifying click,
    // or null-padded once the watermark proves no click can still
    // arrive; clicks-only rows must NOT emit. Oracle replays the same
    // set arithmetic.
    QueryDef.sqlBacked(
      "q309_stream_left_outer",
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, purchase_id, click_id
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |        AND c.c_ts <= p.p_ts),
        |po AS (SELECT user_id, purchase_id FROM p
        |       WHERE NOT EXISTS (SELECT 1 FROM c
        |         WHERE c.user_id = p.user_id
        |           AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |           AND c.c_ts <= p.p_ts))
        |SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_matched,
        |  CAST((SELECT COUNT(*) FROM po) AS BIGINT) AS n_unmatched,
        |  CAST((SELECT SUM(user_id) FROM m) AS BIGINT) AS matched_user_sum,
        |  CAST((SELECT SUM(purchase_id) FROM po) AS BIGINT)
        |    AS unmatched_id_sum""".stripMargin) { (s, dir) =>
      val table = joinEventsFixture(s, dir)
      val out = s"target/fixtures/out_sleft_${tag(dir)}"
      val emitted = drainToParquet(s, table, out) { stream =>
        EventStreams.purchaseClickJoinOuter(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "click"))
      }.filter(col("user_id") < 9999998L) // sentinels never emit
      emitted.agg(
        count(when(col("click_id").isNotNull, 1)).cast("long")
          .as("n_matched"),
        count(when(col("click_id").isNull, 1)).cast("long")
          .as("n_unmatched"),
        sum(when(col("click_id").isNotNull, col("user_id"))).cast("long")
          .as("matched_user_sum"),
        sum(when(col("click_id").isNull, col("purchase_id"))).cast("long")
          .as("unmatched_id_sum"))
    },

    // Stream-stream LEFT SEMI join — the conversion flag: each purchase
    // with at least one qualifying click within the 30-minute gap emits
    // EXACTLY ONCE however many clicks matched (an inner join would
    // duplicate per click). Completes the streaming join-mode matrix
    // (inner q34-twin, FULL OUTER q217, semi here); the oracle is the
    // EXISTS form over the same fixture.
    QueryDef.sqlBacked(
      "q258_stream_semi_join",
      """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS c_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  CAST(SUM(user_id) AS BIGINT) AS user_sum,
        |  CAST(SUM(purchase_id) AS BIGINT) AS id_sum
        |FROM p WHERE EXISTS (SELECT 1 FROM c
        |  WHERE c.user_id = p.user_id
        |    AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |    AND c.c_ts <= p.p_ts)""".stripMargin) { (s, dir) =>
      val table = joinEventsFixture(s, dir)
      val out = s"target/fixtures/out_ssemi_${tag(dir)}"
      val emitted = drainToParquet(s, table, out) { stream =>
        EventStreams.purchaseClickJoinSemi(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "click"))
      }.filter(col("user_id") < 9999998L) // sentinels never emit
      emitted.agg(count(lit(1)).cast("long").as("n_converted"),
        sum(col("user_id")).cast("long").as("user_sum"),
        sum(col("purchase_id")).cast("long").as("id_sum"))
    },

    // Trigger.AvailableNow backlog drain: a 3-commit CDC backlog streams
    // through the DSv2 source under maxVersionsPerTrigger=1 and
    // the AvailableNow pin — the query must terminate BY ITSELF after
    // exactly the pinned commits, in bounded batches. Per-commit counts
    // and cents land in the sink and DuckDB recomputes them from the
    // fixture arithmetic; the booleans pin self-termination and the
    // batch bound. This is the reference's "copy, then stop" intent
    // (DeltaCheckpoint.java:35-41) expressed as Spark's own trigger.
    QueryDef.sqlBacked(
      "q226_available_now_drain",
      """WITH t AS (
        |  SELECT event_id % 3 AS v,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT CAST(v AS BIGINT) AS commit_version,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents,
        |  TRUE AS self_terminated, TRUE AS bounded_batches
        |FROM t GROUP BY v ORDER BY commit_version""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val table = s"target/fixtures/avn_${tag(dir)}"
      val log = new TxnLog(table, s.sessionState.newHadoopConf())
      if (log.versions() != Seq(0L, 1L, 2L)) {
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(table), true)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            floor(col("value") * 100).cast("long").as("cents"))
        for (v <- 0L to 2L)
          TableWriter.write(s, ev.filter(col("event_id") % 3 === v),
            table, version = v, commitTs = 1000L * (v + 1))
      }
      val out = s"target/fixtures/out_avn_${tag(dir)}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val q = s.readStream.format("graft.sources.GraftCdc")
        .option("tablePath", table)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("avn_ck").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      val terminated = q.awaitTermination(180000)
      val bounded = q.recentProgress.count(_.numInputRows > 0) == 3
      s.read.parquet(out)
        .groupBy(col("commit_version"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("cents"))
        .withColumn("self_terminated", lit(terminated))
        .withColumn("bounded_batches", lit(bounded))
        .select(col("commit_version"), col("n"), col("cents"),
          col("self_terminated"), col("bounded_batches"))
        .orderBy(col("commit_version"))
    },

    // Streaming foreachBatch MERGE upsert — the bronze→silver medallion
    // hop: a keyed change stream (3 source commits: base, +11 on %3
    // keys, +22 on %5 keys) drains one micro-batch PER COMMIT into a
    // MERGE against a catalog table, so later versions overwrite
    // earlier ones exactly as commit order dictates. foreachBatch+MERGE
    // is the exactly-once pattern at scale: a replayed batch re-MERGEs
    // to the identical state (StreamingUpsertSpec proves a two-drain
    // restart applies nothing twice). The oracle recomputes the final
    // keyed state straight from customer.
    QueryDef.sqlBacked(
      "q243_streaming_upsert",
      """WITH f AS (
        |  SELECT c_custkey AS k,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT)
        |      + CASE WHEN c_custkey % 5 = 0 THEN 22
        |             WHEN c_custkey % 3 = 0 THEN 11 ELSE 0 END AS cents
        |  FROM customer)
        |SELECT CAST(k % 7 AS BIGINT) AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM f GROUP BY 1 ORDER BY grp""".stripMargin) { (s, dir) =>
      val src = s"target/fixtures/sup_${tag(dir)}"
      val log = new TxnLog(src, s.sessionState.newHadoopConf())
      if (log.versions() != Seq(0L, 1L, 2L)) {
        val fs = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(src), true)
        val base = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("k"),
            floor(col("c_acctbal") * 100).cast("long").as("cents"))
        TableWriter.write(s, base, src, version = 0L, commitTs = 1000L)
        TableWriter.write(s, base.filter(col("k") % 3 === 0)
          .withColumn("cents", col("cents") + 11),
          src, version = 1L, commitTs = 2000L)
        TableWriter.write(s, base.filter(col("k") % 5 === 0)
          .withColumn("cents", col("cents") + 22),
          src, version = 2L, commitTs = 3000L)
      }
      val wh = s"target/fixtures/wh_${tag(dir)}"
      s.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gcat.default")
      s.sql("DROP TABLE IF EXISTS gcat.default.stream_upsert")
      s.sql("CREATE TABLE gcat.default.stream_upsert (k BIGINT, cents BIGINT)")
      val q = s.readStream.format("graft")
        .option("tablePath", src)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          // one source commit per batch ⇒ keys unique within the batch,
          // the MERGE precondition for deterministic upserts
          b.createOrReplaceTempView("upsert_batch")
          b.sparkSession.sql(
            """MERGE INTO gcat.default.stream_upsert t
              |USING (SELECT k, cents FROM upsert_batch) s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET t.cents = s.cents
              |WHEN NOT MATCHED THEN INSERT (k, cents)
              |  VALUES (s.k, s.cents)""".stripMargin)
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sup_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      s.sql(
        """SELECT CAST(k % 7 AS BIGINT) AS grp,
          |  CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(cents) AS BIGINT) AS cents
          |FROM gcat.default.stream_upsert
          |GROUP BY 1 ORDER BY grp""".stripMargin)
    },

    // RATE-LIMITED BACKFILL (maxFilesPerTrigger=1): the bounded-batch
    // admission control that keeps a 100 TB backfill from materializing
    // as one giant first micro-batch. The stream must take AT LEAST as
    // many batches as there are snapshot files (each trigger admits one
    // file), and the drained total must equal the table exactly — the
    // `bounded_batches` gate fails if admission control silently stops
    // limiting, the counts fail if limiting drops or duplicates rows.
    QueryDef.sqlBacked(
      "q289_rate_limited_backfill",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS bounded_batches
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      // dedicated 4-file fixture: the gate needs >1 file to be
      // non-vacuous, and the shared single-batch fixtures must keep
      // their layout
      val table = s"target/fixtures/rate_${tag(dir)}"
      val conf = s.sessionState.newHadoopConf()
      if (new TxnLog(table, conf).versions() != Seq(0L)) {
        val tfs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
        tfs.delete(new org.apache.hadoop.fs.Path(table), true)
        TableWriter.write(s,
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("event_type")).repartition(4),
          table, version = 0L, commitTs = 1000L)
      }
      val nFiles = new TxnLog(table, s.sessionState.newHadoopConf())
        .snapshotLatest().files.size
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val out = s"target/fixtures/rate_${tag(dir)}_out"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      // the row-capped admission walker is the one that composes the
      // per-file cap ACROSS the initial full copy (the coarse path
      // deliberately admits the snapshot as one batch); a huge row cap
      // makes the file budget the binding limit
      val q = s.readStream.format("graft-cdc")
        .option("tablePath", table)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .option("maxRowsPerTrigger", "1000000000")
        .option("maxFilesPerTrigger", "1")
        .load()
        .filter(col("op") === "c")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            batches.incrementAndGet()
            b.select(col("event_type"))
              .write.mode("append").parquet(out)
          }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("rate_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      val bounded = batches.get() >= nFiles && nFiles > 1
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bounded_batches", lit(if (bounded) 1L else 0L))
        .orderBy(col("event_type"))
    },

    // WATERMARK LATE-DROP as a green row (T5's policy, previously
    // spec-only): batch 1 streams the on-time rows plus a far-future
    // clock row that pushes the watermark past every real window; the
    // rows appended as version 1 are then ALL provably late (their
    // window ends sit hours before the watermark) and must DROP from
    // the tumbling aggregate. The drained final state equals the
    // on-time rows' window arithmetic exactly — a leaked late row, a
    // lost on-time window, or a double emission all break the hash.
    // Deterministic: single-version batches, integer minute buckets,
    // integral `value` doubles (exact in the decimal-sum path).
    QueryDef.sqlBacked(
      "q336_stream_late_drop",
      """SELECT CAST((event_id % 60) // 10 AS BIGINT) AS w,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val table = s"target/fixtures/slate_${tag(dir)}"
      val out = s"target/fixtures/out_slate_${tag(dir)}"
      val conf = s.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      // ALWAYS rebuild: the stream below must bind to a v0-only table
      // (a cached two-version fixture would fold the late rows into the
      // initial snapshot and nothing would be late)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val ev = Tables.load(s, dir, "events").select(
        col("event_id"),
        expr("timestampadd(MINUTE, CAST(event_id % 60 AS INT), " +
          "TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
        col("event_type"),
        floor(col("value") * 100).cast("double").as("value"),
        col("user_id"))
      val clock = Seq((-1L,
          java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
          "zclock", 0.0d, -1L))
        .toDF("event_id", "ts", "event_type", "value", "user_id")
      TableWriter.write(s, ev.filter(col("event_id") % 3 =!= 0)
        .unionAll(clock), table, version = 0L, commitTs = 1000L)
      graft.streaming.StreamTuning.withStreamShuffle(s, Seq(table)) {
        val q = s.readStream.format("graft")
          .option("tablePath", table).load()
          .transform(EventStreams.tumblingCounts(_,
            windowLen = "10 minutes", lateness = "5 minutes"))
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("slate_ck").toString)
          .start()
        try {
          q.processAllAvailable() // batch 1: watermark → 09:55
          // version 1: every one of these is now LATE (window ends ≤
          // 01:00 ≪ 09:55) and must drop
          TableWriter.appendRebasing(s,
            ev.filter(col("event_id") % 3 === 0), table,
            commitTs = 2000L)
          q.processAllAvailable() // batch 2: drops late rows, closes wins
        } finally q.stop()
      }
      s.read.parquet(out)
        .select(((unix_timestamp(col("win_start")) -
            unix_timestamp(lit(java.sql.Timestamp.valueOf(
              "2024-01-01 00:00:00")))) / 600).cast("long").as("w"),
          col("event_type"), col("n"),
          col("total_value").cast("long").as("cents"))
        .orderBy(col("w"), col("event_type"))
    },

    // STREAMING TEMPORAL (AS-OF) JOIN — Flink's flagship operator,
    // composed Spark-first from two BUILT-IN stateful operators chained
    // in append mode (Spark 3.4+ multi-stateful support): a time-
    // bounded stream-stream INNER join (dim versions within (ets−45m,
    // ets] — the bound is also what lets Spark evict join state) feeds
    // a windowed per-event argmax (dim values are strictly increasing
    // in version time, so MAX(dval) IS the as-of value). Each event
    // enriches with the dimension's state AS OF its own event time —
    // never a later version (the lookup-table race every stream-static
    // join has). Far-future sentinel versions close both watermarks;
    // the drained per-cohort rollup must equal DuckDB's batch argmax
    // arithmetic exactly.
    QueryDef.sqlBacked(
      "q361_stream_temporal_join",
      """WITH ks AS (SELECT DISTINCT user_id % 20 AS k FROM events),
        |dims AS (SELECT k, v * 30 AS vm, k * 100 + v AS dval
        |  FROM ks CROSS JOIN (VALUES (0), (1), (2)) t(v)),
        |ev AS (SELECT event_id, user_id % 20 AS k,
        |    event_id % 90 AS em FROM events WHERE event_id % 2 = 0),
        |m AS (SELECT e.event_id, e.k, MAX(d.dval) AS chosen
        |  FROM ev e JOIN dims d ON d.k = e.k
        |    AND d.vm <= e.em AND d.vm > e.em - 45
        |  GROUP BY 1, 2)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(chosen) AS BIGINT) AS sum_chosen,
        |  CAST(COUNT(DISTINCT chosen) AS BIGINT) AS n_versions_used
        |FROM m GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val dimT = s"target/fixtures/tjdim_${tag(dir)}"
      val evT = s"target/fixtures/tjev_${tag(dir)}"
      val out = s"target/fixtures/out_tj_${tag(dir)}"
      val conf = s.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
      Seq(dimT, evT, out).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      val base = "TIMESTAMP'2024-01-01 00:00:00'"
      val events = Tables.load(s, dir, "events")
      val dims = events.select(pmod(col("user_id"), lit(20L)).as("dk"))
        .distinct()
        .crossJoin(Seq(0L, 1L, 2L).toDF("v"))
        .select(col("dk"),
          expr(s"timestampadd(MINUTE, CAST(v * 30 AS INT), $base)")
            .as("vts"),
          (col("dk") * 100 + col("v")).as("dval"))
      // half the events: the row proves temporal-join CORRECTNESS; the
      // fixed micro-batch machinery dominates its bench cost either way
      val ev = events.filter(col("event_id") % 2 === 0)
        .select(col("event_id"),
          pmod(col("user_id"), lit(20L)).as("k"),
          expr(s"timestampadd(MINUTE, CAST(event_id % 90 AS INT), $base)")
            .as("ets"))
      // far-future sentinels (key −1, matching nothing) close the
      // watermarks as a SECOND version so the final micro-batch flushes
      // every window — q336's two-batch clock discipline
      val dimClock = Seq((-1L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), -1L))
        .toDF("dk", "vts", "dval")
      val evClock = Seq((-1L, -1L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("event_id", "k", "ets")
      TableWriter.write(s, dims, dimT, version = 0L, commitTs = 1000L)
      TableWriter.write(s, ev, evT, version = 0L, commitTs = 1000L)
      // input-sized state partitions (StreamTuning): two stateful
      // operators × per-partition store commits per trigger — the
      // fixed cost this anchor row is dominated by
      graft.streaming.StreamTuning.withStreamShuffle(s, Seq(dimT, evT)) {
        val dimS = s.readStream.format("graft").option("tablePath", dimT)
          .load().withWatermark("vts", "5 minutes")
        val evS = s.readStream.format("graft").option("tablePath", evT)
          .load().withWatermark("ets", "5 minutes")
        val joined = evS.join(dimS,
          expr("""k = dk AND vts <= ets AND
                 |vts > ets - INTERVAL 45 MINUTES""".stripMargin))
        // dval strictly increases in version time per key → MAX is argmax
        val asOf = joined
          .groupBy(window(col("ets"), "15 minutes"),
            col("event_id"), col("k"))
          .agg(max(col("dval")).as("chosen"))
        val q = asOf.writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("tj_ck").toString)
          .start()
        try {
          q.processAllAvailable()
          TableWriter.appendRebasing(s, dimClock, dimT, commitTs = 2000L)
          TableWriter.appendRebasing(s, evClock, evT, commitTs = 2000L)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.read.parquet(out).filter(col("k") >= 0)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("chosen")).cast("long").as("sum_chosen"),
          countDistinct(col("chosen")).as("n_versions_used"))
        .orderBy(col("k"))
    }
  )
}
