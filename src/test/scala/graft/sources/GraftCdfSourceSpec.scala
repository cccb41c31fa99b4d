package graft.sources

import graft.SparkTestSession
import graft.txn.{ChangeDataFeed, DeletionVectors, TableWriter, TxnLog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming change-data-feed source: exact images through micro-batches,
  * version-bounded admission, and the loud refusals.
  */
class GraftCdfSourceSpec extends AnyFunSuite {
  import SparkTestSession._
  import ChangeDataFeed._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def base = {
    import spark.implicits._
    (0L until 100L).map(k => (k, k * 10L)).toDF("k", "cents")
  }

  /** Drain the CDF stream, collecting (k, cents, type, version) rows. */
  private def drain(
      dir: String,
      maxVersions: Option[Long] = None,
      collectBatches: Boolean = false)
      : (Seq[(Long, Long, String, Long)], Long) = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long)]
    var batches = 0L
    val reader = spark.readStream.format("graft-cdf")
      .option("tablePath", dir)
      .option("startingVersion", "0")
    val q = maxVersions.fold(reader)(m =>
        reader.option("maxVersionsPerTrigger", m.toString))
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select(col("k"), col("cents"), col(TypeCol),
            col(VersionCol))
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        buf.synchronized {
          if (rows.nonEmpty || collectBatches) batches += 1
          buf ++= rows
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdf_src_ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    (buf.toSeq.sorted, batches)
  }

  test("exact update images and DV deletes stream through") {
    val dir = freshDir("cdfs1")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, dir, col("k") === 5L,
      Map("cents" -> lit(777L)), version = 2L, commitTs = 2000L)
    DeletionVectors.deleteWhere(spark, dir, col("k") === 9L,
      version = 3L, commitTs = 3000L)
    val (rows, _) = drain(dir)
    // v0: 100 inferred inserts; v2: one pre + one post; v3: one delete
    assert(rows.count(_._3 == Insert) == 100)
    assert(rows.filter(_._4 == 2L).map(r => (r._2, r._3)).sorted ==
      Seq((50L, UpdatePre), (777L, UpdatePost)))
    assert(rows.filter(_._4 == 3L) == Seq((9L, 90L, Delete, 3L)))
  }

  test("maxVersionsPerTrigger bounds each batch") {
    val dir = freshDir("cdfs2")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    (2L to 4L).foreach { v =>
      TableWriter.updateWhere(spark, dir, col("k") === v,
        Map("cents" -> lit(v * 1000L)), version = v, commitTs = 1000L * v)
    }
    val (rows, batches) = drain(dir, maxVersions = Some(1L))
    // each of v2..v4 yields 2 image rows; v0 yields 100 inserts — with
    // one version per trigger the data arrives in >= 4 non-empty batches
    assert(rows.size == 106)
    assert(batches >= 4)
  }

  test("DV delete without the property refuses loudly") {
    val dir = freshDir("cdfs3")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("k") === 1L,
      version = 1L, commitTs = 2000L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(dir)
    }
    assert(e.getMessage.contains("enableChangeDataFeed") ||
      Option(e.getCause).exists(_.getMessage.contains("enableChangeDataFeed")))
  }

  test("inferred inserts resolve column mapping (RENAME COLUMN)") {
    import spark.implicits._
    val dir = freshDir("cdfs5")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    TableWriter.renameColumn(spark, dir, "cents", "pennies", version = 1L,
      commitTs = 1500L)
    // post-rename append: the file carries the PHYSICAL name ('cents');
    // the stream's logical schema says 'pennies' — resolution must go
    // through the mapping, not read null
    TableWriter.append(spark,
      Seq((500L, 777L)).toDF("k", "pennies"), dir, commitTs = 2000L)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Any)]
    val q = spark.readStream.format("graft.sources.GraftCdf")
      .option("tablePath", dir)
      .option("startingVersion", "2")
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select(col("k"), col("pennies")).collect()
            .map(r => (r.getLong(0), r.get(1)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdf_src_ck5").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(buf.toSeq == Seq((500L, 777L)))
  }

  test("an expired-log gap at the resume point refuses instead of " +
      "silently skipping") {
    import spark.implicits._
    val dir = freshDir("cdfs6")
    // 11 commits with strictly old timestamps, checkpoint lands at v10
    // (interval 10); expire everything below the checkpoint
    (0L to 10L).foreach { v =>
      TableWriter.write(spark, Seq((v, v)).toDF("k", "cents"), dir,
        version = v, commitTs = 1000L + v)
    }
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    assert(log.expireLog(retainMillis = 0L,
      nowMillis = 10_000_000L).nonEmpty)
    val stream = new GraftCdfMicroBatchStream(
      GraftCdf.cdfSchema(GraftCdc.declaredSchema(dir,
        spark.sessionState.newHadoopConf())),
      Map("tablePath" -> dir, "startingVersion" -> "3"))
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(CdfOffset(2L), CdfOffset(10L))
    }
    assert(e.getMessage.contains("expired"))
    ()
  }

  test("partitionFilter prunes sidecars at the action level and " +
      "row-filters legacy pv-less ones") {
    import spark.implicits._
    val dir = freshDir("cdfs7")
    val t = (0L until 100L).map(k => (k, (k % 4).toString, k * 10L))
      .toDF("k", "grp", "cents")
    TableWriter.write(spark, t, dir, partitionBy = Seq("grp"),
      version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, dir, col("k") % 3 === 0,
      Map("cents" -> (col("cents") + 1L)), version = 2L, commitTs = 2000L)
    def drainFiltered(startV: Long): Seq[(Long, String, String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      val q = spark.readStream.format("graft.sources.GraftCdf")
        .option("tablePath", dir)
        .option("startingVersion", startV.toString)
        .option("partitionFilter", "grp=1")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select(col("k"), col("grp"), col(TypeCol),
                col(VersionCol)).collect()
              .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                r.getLong(3)))
          }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdf_src_ck7").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      buf.toSeq.sorted
    }
    val rows = drainFiltered(0L)
    assert(rows.nonEmpty && rows.forall(_._2 == "1"),
      s"filtered stream leaked other partitions: ${rows.take(5)}")
    // v0 inferred inserts prune by AddFile pv (grp=1 only: 25 rows);
    // v2 images: k%3==0 && k%4==1 → k=9,21,...,93 → 8 keys x pre/post
    assert(rows.count(_._3 == Insert) == 25)
    assert(rows.count(r => r._4 == 2L) == 16)
  }

  test("streaming MV survives a crash between state commit and offset " +
      "commit: the replayed batch nets an empty delta (exactly once)") {
    import graft.operators.MaterializedAgg
    import spark.implicits._
    val dir = freshDir("cdfs_crash_mv")
    val mvPath = freshDir("cdfs_crash_mv_state")
    val ck = java.nio.file.Files.createTempDirectory("cdfs_crash_ck").toString
    val t = (0L until 100L).map(k => (k, (k % 3).toString, k * 10L))
      .toDF("k", "grp", "cents")
    TableWriter.write(spark, t, dir, version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    val spec = MaterializedAgg.Spec(Seq("grp"), Seq("cents"))
    MaterializedAgg.create(spark, dir, mvPath, spec)
    TableWriter.updateWhere(spark, dir, col("k") % 5 === 0,
      Map("cents" -> (col("cents") + 7L)), version = 2L, commitTs = 2000L)
    def drain(): Unit = {
      val q = MaterializedAgg.maintainFromCdfStream(spark, dir, mvPath,
        spec, checkpointLocation = ck)
      try q.processAllAvailable() finally q.stop()
    }
    def recompute() = graft.txn.SnapshotReader.read(spark, dir)
      .groupBy(col("grp")).agg(count(lit(1)).as("mv_cnt"),
        sum(col("cents").cast("decimal(15,2)")).cast("decimal(25,2)")
          .as("sum_cents"))
      .collect().map(_.toSeq).toSet
    def mvState() = graft.txn.SnapshotReader.read(spark, mvPath)
      .select("grp", "mv_cnt", "sum_cents")
      .collect().map(_.toSeq).toSet
    drain()
    assert(mvState() == recompute())
    val mvLog = new TxnLog(mvPath, spark.sessionState.newHadoopConf())
    val generationsAfterV2 = mvLog.versions().size
    // CRASH WINDOW: the MV state committed (watermark rode inside it)
    // but the sink never recorded the batch — delete the newest sink
    // commit marker so a restart REPLAYS that exact batch from offsets
    val commitsDir = new java.io.File(ck, "commits")
    val commits = commitsDir.listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    assert(commits.last.delete(), "failed to simulate the crash window")
    // the local checkpoint FS pairs each commit with a .N.crc checksum;
    // a stale one makes the replayed re-write look like a concurrent
    // query, so the crash simulation removes both
    new java.io.File(commitsDir, s".${commits.last.getName}.crc").delete()
    TableWriter.append(spark,
      Seq((500L, "1", 3L)).toDF("k", "grp", "cents"), dir,
      commitTs = 3000L) // v3: genuinely-new rows behind the replay
    drain()
    // the replayed v2 delta filtered to empty (no extra MV generation
    // for it); v3 applied exactly once
    assert(mvState() == recompute(),
      "replayed batch must not double-apply")
    assert(mvLog.versions().size == generationsAfterV2 + 1,
      "exactly one new MV generation for the genuinely-new version")
  }

  test("keyed CDF replica survives the same crash window: replaying the " +
      "batch is delete-then-reinsert by key (idempotent)") {
    import spark.implicits._
    val src = freshDir("cdfs_crash_src")
    val dst = freshDir("cdfs_crash_dst")
    val ck = java.nio.file.Files.createTempDirectory("cdfs_crash_ck2").toString
    val t = (0L until 100L).map(k => (k, (k % 3).toString, k * 10L))
      .toDF("k", "grp", "cents")
    TableWriter.write(spark, t, src, version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, src, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    TableWriter.updateWhere(spark, src, col("k") % 4 === 0,
      Map("cents" -> (col("cents") + 1L)), version = 2L, commitTs = 2000L)
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftCdf")
        .option("tablePath", src)
        .option("startingVersion", "0")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.ApplyChanges.applyCdfBatch(spark, b, dst,
            keyCols = Seq("k"))
          ()
        }
        .option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def state(path: String) = graft.txn.SnapshotReader.read(spark, path)
      .select("k", "grp", "cents").collect().map(_.toSeq).toSet
    drain()
    assert(state(dst) == state(src))
    val commitsDir = new java.io.File(ck, "commits")
    val commits = commitsDir.listFiles()
      .filter(_.getName.matches("\\d+")).sortBy(_.getName.toInt)
    assert(commits.last.delete(), "failed to simulate the crash window")
    // the local checkpoint FS pairs each commit with a .N.crc checksum;
    // a stale one makes the replayed re-write look like a concurrent
    // query, so the crash simulation removes both
    new java.io.File(commitsDir, s".${commits.last.getName}.crc").delete()
    DeletionVectors.deleteWhere(spark, src, col("k") % 7 === 0,
      version = 3L, commitTs = 3000L)
    drain() // replays the last batch, then applies v3
    assert(state(dst) == state(src),
      "keyed replay must be idempotent and v3 applied exactly once")
  }

  test("startingVersion skips earlier commits") {
    val dir = freshDir("cdfs4")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)
    TableWriter.deleteWhere(spark, dir, col("k") < 2L, version = 2L,
      commitTs = 2000L)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft.sources.GraftCdf")
      .option("tablePath", dir)
      .option("startingVersion", "2")
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select(col("k"), col(TypeCol)).collect()
            .map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdf_src_ck4").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(buf.toSeq.sorted == Seq((0L, Delete), (1L, Delete)))
  }
}
