package graft.sources

import graft.streaming.GraftTableSink
import graft.txn._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The filesystem calls of one small append, counted on `mockfs://`: the
  * data files land once, at their final names, with their stats read in
  * the write tasks (no rename, no `.staging-*` directory, no data-file
  * open on the driver), and the append reads the log once. The log
  * counts are exact: a second snapshot replay or a re-read of the
  * table's metadata shows as more `_txn_log` listings and opens.
  *
  * SQL DML on a change-feed table writes its new data files, its
  * change-data sidecars and its deletion vector the same way: nothing is
  * renamed or staged, and the vector is one part file in its new `_dv/`
  * directory. The Scala API's vector deletes write their vectors so too.
  */
class CommitFileCountSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private lazy val scheme: Unit =
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[CountingMockFs].getName)

  private def freshTable(): String = {
    scheme
    val p = java.nio.file.Files.createTempDirectory("mockfs_commit")
    java.nio.file.Files.delete(p)
    s"mockfs://$p"
  }

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1L, 2).selectExpr("id", "CAST(id % 4 AS INT) AS p")

  private case class Counts(renames: Int, driverDataOpens: Int,
      staging: Int, logLists: Int, logOpens: Int)

  private def counted(body: => Unit): Counts = {
    import CountingMockFs._
    def now = Counts(renames.get(), driverDataOpens.get(),
      stagingCreates.get(), driverLogLists.get(),
      driverOpens.get() - driverDataOpens.get())
    val before = now
    body
    val after = now
    Counts(after.renames - before.renames,
      after.driverDataOpens - before.driverDataOpens,
      after.staging - before.staging, after.logLists - before.logLists,
      after.logOpens - before.logOpens)
  }

  private def assertDirect(c: Counts): Unit = {
    assert(c.renames == 0, s"no data file may be renamed: $c")
    assert(c.driverDataOpens == 0, s"no footer may be re-read on the driver: $c")
    assert(c.staging == 0, s"no .staging-* path may be created: $c")
  }

  test("one TableWriter.append: no rename, no staging, no driver footer " +
      "read, one snapshot replay") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    TableWriter.append(spark, rows(400L, 500L), t, Seq("p"), commitTs = 2000L)
    val c = counted(TableWriter.append(spark, rows(500L, 600L), t, Seq("p"),
      commitTs = 3000L))
    info(s"append: $c")
    assertDirect(c)
    // latestVersion's listing and the snapshot's one; the commit reads
    // its row-id mark without a listing (3 when the snapshot listed the
    // log twice)
    assert(c.logLists == 2, c)
    // v1's state is cached, so nothing is replayed; the commit reads
    // v1's row-id mark and the new version is cached by reading it once
    // (3 when the append replayed v0 and v1)
    assert(c.logOpens == 2, c)
    assert(SnapshotReader.read(spark, t).count() == 600L)
  }

  test("one GraftTableSink.commitBatch: no rename, no staging, no driver " +
      "footer read, one snapshot replay") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    assert(GraftTableSink.commitBatch(rows(400L, 500L), t, 0L, Seq("p"), 2000L))
    val c = counted(assert(
      GraftTableSink.commitBatch(rows(500L, 600L), t, 1L, Seq("p"), 3000L)))
    info(s"commitBatch: $c")
    assertDirect(c)
    // the marker check's listing and the snapshot's one (3 when the
    // snapshot listed the log twice)
    assert(c.logLists == 2, c)
    // the marker check reads v1; the snapshot advances the cached state
    // by it; the commit reads v1's row-id mark (4 when the snapshot
    // replayed v0 and v1)
    assert(c.logOpens == 3, c)
    assert(SnapshotReader.read(spark, t).count() == 600L)
    assert(!GraftTableSink.commitBatch(rows(500L, 600L), t, 1L, Seq("p")),
      "a replayed batch is skipped")
  }

  private lazy val warehouse: String = {
    val wh = freshTable()
    spark.conf.set("spark.sql.catalog.gcfc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcfc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcfc.default")
    wh
  }

  /** 40 rows `(k, p = k % 4, v = 10k)`, partitioned by p, change feed on. */
  private def dmlTable(t: String): Unit = {
    warehouse
    spark.sql(
      s"""CREATE TABLE gcfc.default.$t (k BIGINT, p INT, v BIGINT)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    spark.sql(s"INSERT INTO gcfc.default.$t SELECT /*+ COALESCE(1) */ * " +
      (0 until 40).map(k => s"($k, ${k % 4}, ${10 * k})")
        .mkString("FROM VALUES ", ", ", " AS s(k, p, v)"))
  }

  /** `body`'s counts, its `.staging-cdc*` creates and its renames. */
  private def countedDml(body: => Unit)
      : (Counts, Int, Seq[(String, String)]) = {
    import scala.jdk.CollectionConverters._
    val cdc0 = CountingMockFs.stagingCdcCreates.get()
    val renamed0 = CountingMockFs.renamed.size()
    val c = counted(body)
    (c, CountingMockFs.stagingCdcCreates.get() - cdc0,
      CountingMockFs.renamed.asScala.toSeq.drop(renamed0))
  }

  /** The newest commit of `table` wrote its deletion vector in place:
    * nothing renamed, no `.staging-*` path, and exactly one part file in
    * the one new `_dv/` directory its re-added files point at.
    */
  private def assertVectorInPlace(table: String, c: Counts,
      moved: Seq[(String, String)]): Unit = {
    assert(moved.isEmpty && c.renames == 0,
      s"nothing may be renamed: ${moved.mkString("\n")}")
    assert(c.staging == 0, s"no .staging-* path may be created: $c")
    val log = new TxnLog(table, spark.sessionState.newHadoopConf())
    val dirs = log.read(log.latestVersion().get)
      .collect { case a: AddFile if a.dv.isDefined => a.dv.get }.distinct
    assert(dirs.size == 1 && dirs.head.startsWith("_dv/"), dirs)
    val dir = new org.apache.hadoop.fs.Path(TxnLog.dataPath(table, dirs.head))
    val parts = dir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
  }

  private def newCdcFiles(t: String): Seq[CdcFile] = {
    val log = new TxnLog(s"$warehouse/default/$t",
      spark.sessionState.newHadoopConf())
    log.read(log.latestVersion().get).collect { case c: CdcFile => c }
  }

  test("one SQL DV UPDATE on a change-feed table: the vector is " +
      "written in place, nothing renamed or staged") {
    dmlTable("u")
    val (c, cdc, moved) = countedDml(spark.sql(
      "UPDATE gcfc.default.u SET v = v + 1 WHERE k IN (4, 9)"))
    info(s"UPDATE: $c")
    assert(newCdcFiles("u").map(_.partitionValues("p")).sorted ==
      Seq("0", "1"), "one sidecar per changed partition")
    assertVectorInPlace(s"$warehouse/default/u", c, moved)
    assert(cdc == 0, "no .staging-cdc* path may be created")
    assert(c.driverDataOpens == DmlDriverDataOpens, c)
    assert(c.logLists == DmlLogLists, c)
    assert(spark.sql("SELECT sum(v) FROM gcfc.default.u").head().getLong(0)
      == (0 until 40).map(10L * _).sum + 2)
  }

  test("one SQL MERGE on a change-feed table: the vector is written " +
      "in place, nothing renamed or staged") {
    dmlTable("m")
    spark.sql("SELECT * FROM VALUES (4L, 0, -4L), (9L, 1, -9L), " +
      "(100L, 2, 1000L) AS s(k, p, v)").createOrReplaceTempView("cfc_src")
    val (c, cdc, moved) = countedDml(spark.sql(
      """MERGE INTO gcfc.default.m t USING cfc_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
        |""".stripMargin))
    info(s"MERGE: $c")
    assert(newCdcFiles("m").map(_.partitionValues("p")).sorted ==
      Seq("0", "1", "2"), "one sidecar per changed partition")
    assertVectorInPlace(s"$warehouse/default/m", c, moved)
    assert(cdc == 0, "no .staging-cdc* path may be created")
    assert(c.driverDataOpens == DmlDriverDataOpens, c)
    assert(c.logLists == DmlLogLists, c)
    assert(spark.sql("SELECT count(*) FROM gcfc.default.m").head().getLong(0)
      == 41L)
  }

  test("one SQL DELETE in deletion-vector mode on a change-feed table: " +
      "the vector is written in place, nothing renamed or staged") {
    dmlTable("d")
    spark.conf.set("spark.graft.delete.mode", "dv")
    val (c, cdc, moved) =
      try countedDml(spark.sql("DELETE FROM gcfc.default.d WHERE k IN (4, 9)"))
      finally spark.conf.unset("spark.graft.delete.mode")
    info(s"DELETE: $c")
    assert(newCdcFiles("d").map(_.partitionValues("p")).sorted ==
      Seq("0", "1"), "one sidecar per changed partition")
    assertVectorInPlace(s"$warehouse/default/d", c, moved)
    assert(cdc == 0, "no .staging-cdc* path may be created")
    assert(c.driverDataOpens == DmlDriverDataOpens, c)
    assert(spark.sql("SELECT count(*) FROM gcfc.default.d").head().getLong(0)
      == 38L)
  }

  test("DeletionVectors.deleteWhere then deleteMatching on the same " +
      "files: each vector is written in place, the second carrying the " +
      "first's kills") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    val (c1, _, moved1) = countedDml(DeletionVectors.deleteWhere(spark, t,
      org.apache.spark.sql.functions.col("id") % 10 === 0, version = 1L,
      commitTs = 2000L))
    assertVectorInPlace(t, c1, moved1)
    val (c2, _, moved2) = countedDml(DeletionVectors.deleteMatching(spark, t,
      spark.range(2L, 400L, 20L).toDF("id"), Seq("id"), version = 2L,
      commitTs = 3000L))
    assertVectorInPlace(t, c2, moved2)
    assert(SnapshotReader.read(spark, t).count() == 400L - 40L - 20L)
  }

  test("one format(graft) read and one graft-cdf read of the latest " +
      "version: one log listing each, no commit re-read") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    TableWriter.append(spark, rows(400L, 500L), t, Seq("p"), commitTs = 2000L)
    def sum(): Long = spark.read.format("graft").option("tablePath", t).load()
      .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
    assert(sum() == (0L until 500L).sum)
    val read = counted(assert(sum() == (0L until 500L).sum))
    info(s"format(graft): $read")
    assert(read.driverDataOpens == 0, read)
    assert(read.logLists == GraftReadLogLists, read)
    assert(read.logOpens == 0, read)
    def cdf(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      spark.readStream.format("graft-cdf").option("tablePath", t)
        .option("startingVersion", "1").load()
        .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cfc_cdf").toString)
        .foreachBatch { (df: DataFrame, _: Long) => n.addAndGet(df.count()); () }
        .start().awaitTermination()
      n.get()
    }
    val c = counted(assert(cdf() == 100L))
    info(s"graft-cdf: $c")
    assert(c.driverDataOpens == 0, c)
    assert(c.logLists == CdfReadLogLists, c)
    assert(c.logOpens == CdfReadLogOpens, c)
  }

  // the DML statements open no data file on the driver
  private val DmlDriverDataOpens = 0
  // `_txn_log` listings of one SQL DV UPDATE or MERGE, planning included:
  // each snapshot the statement resolves lists the log once and reuses
  // the table's cached state, and the commit attempt validates the new
  // rows and looks for concurrent appends against its one snapshot (the
  // versions after the scan's are read by number); 18 when each snapshot
  // listed the log twice and replayed it, 22 when both checks also
  // listed and replayed the log again
  private val DmlLogLists = 6
  // the schema inference's snapshot and the scan's (4 when each listed
  // the log twice)
  private val GraftReadLogLists = 2
  // the schema inference's snapshot, the AvailableNow pin's listing (the
  // stream has no version to probe from yet) and the planner's latest
  // metadata; the planner reads the one commit in range, whose
  // completeness the pin saw in the cached state (22 listings and 24
  // commit reads when each of Spark's four plans of the batch planned it
  // anew)
  private val CdfReadLogLists = 3
  private val CdfReadLogOpens = 1
}
