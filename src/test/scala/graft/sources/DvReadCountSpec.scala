package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Each read applies a deletion vector from ONE read of it, however many
  * files share the vector: on `mockfs://`, a table whose F files all
  * point at one vector directory is read through the DSv2 scan,
  * `SnapshotReader`, a `CdcReader.cdc` backfill and a `graft-cdc`
  * AvailableNow backfill. Each makes one listing under `_dv/` per vector
  * directory and one open per vector part file, for F = 4 and F = 32
  * alike; a per-split or per-file vector read would grow with F.
  *
  * The DSv2 scan's `dvDroppedRows` metric is checked against counts taken
  * without the engine's loader: the rows the delete removed, and the
  * cardinalities of the vector's bitmaps for the files a pruned scan
  * reads.
  */
class DvReadCountSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import graft.SparkTestSession._

  private lazy val scheme: Unit =
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[CountingMockFs].getName)

  private def conf = spark.sessionState.newHadoopConf()

  /** F files of 10 rows `(id, p = file % 2)`, then one vector delete
    * killing `id % 10 == 0` (one row per file): every file points at the
    * same vector directory.
    */
  private def table(files: Int): String = {
    scheme
    val p = java.nio.file.Files.createTempDirectory("mockfs_dv")
    java.nio.file.Files.delete(p)
    val t = s"mockfs://$p"
    TableWriter.write(spark,
      spark.range(0L, files * 10L, 1L, files)
        .selectExpr("id", "CAST(FLOOR(id / 10) % 2 AS INT) AS p"),
      t, Seq("p"), version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, t, col("id") % 10 === 0L,
      version = 1L, commitTs = 2000L)
    val snap = new TxnLog(t, conf).snapshotLatest()
    assert(snap.files.size == files)
    assert(snap.files.flatMap(_.dv).distinct.size == 1, snap.files)
    t
  }

  /** The parquet parts of the table's one vector directory. */
  private def vectorParts(t: String): Seq[Path] = {
    val dir = new Path(TxnLog.dataPath(t,
      new TxnLog(t, conf).snapshotLatest().files.head.dv.get))
    dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** (opens, listings) under `_dv/` while `body` runs. */
  private def dvReads(body: => Unit): (Int, Int) = {
    val (o, l) = (CountingMockFs.dvOpens.get(), CountingMockFs.dvLists.get())
    body
    (CountingMockFs.dvOpens.get() - o, CountingMockFs.dvLists.get() - l)
  }

  private def graftCdcBackfill(t: String): Long = {
    val out = java.nio.file.Files.createTempDirectory("dv_cdc_out").toString
    val q = spark.readStream.format("graft-cdc")
      .option("tablePath", t).option("startingVersion", "1")
      .option("includeHistory", "true").load()
      .writeStream.format("parquet").option("path", out + "/rows")
      .option("checkpointLocation", out + "/ck")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "the AvailableNow drain must stop")
    spark.read.parquet(out + "/rows").count()
  }

  for (files <- Seq(4, 32)) {
    test(s"F = $files files sharing one vector: each read lists it once " +
        "and opens each part once") {
      val t = table(files)
      val parts = vectorParts(t).size
      assert(parts >= 1)
      val live = files * 9L
      val reads: Seq[(String, () => Long)] = Seq(
        "format(graft)" -> (() =>
          spark.read.format("graft").option("tablePath", t).load().count()),
        "SnapshotReader.read" -> (() => SnapshotReader.read(spark, t).count()),
        "CdcReader.cdc backfill" -> (() =>
          CdcReader.cdc(spark, t, startingVersion = 1L).count()),
        "graft-cdc AvailableNow backfill" -> (() => graftCdcBackfill(t)))
      reads.foreach { case (name, read) =>
        var n = -1L
        val (opens, lists) = dvReads { n = read() }
        assert(n == live, s"$name read $n rows")
        assert(opens == parts,
          s"$name opened the vector $opens times for $parts part file(s)")
        assert(lists == 1, s"$name listed the vector directory $lists times")
      }
    }
  }

  /** The `dvDroppedRows` metric of the one DSv2 scan of `df`, read after
    * `df` is collected.
    */
  private def droppedMetric(df: DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    val scans = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    (n, scans.head.metrics(DvDroppedRows.Name).value)
  }

  test("the scan's dvDroppedRows metric counts exactly the rows its " +
      "vectors drop") {
    val t = table(8)
    val (all, droppedAll) = droppedMetric(
      spark.read.format("graft").option("tablePath", t).load())
    val before = SnapshotReader.read(spark, t, versionAsOf = Some(0L)).count()
    assert(droppedAll == before - all && droppedAll == 8L)

    // a pruned scan: only p = 1's files are read, so only their kills
    // count — summed from the vector's own bitmaps
    val scanned = new TxnLog(t, conf).snapshotLatest().files
      .filter(_.partitionValues("p") == "1")
      .map(f => new Path(f.path).getName).toSet
    import spark.implicits._
    val cardinality = vectorParts(t)
      .flatMap(p => spark.read.parquet(p.toString)
        .select("file_name", "bitmap").as[(String, Array[Byte])].collect())
      .collect { case (name, bm) if scanned.contains(name) =>
        DeletionVectors.deserializeBitmap(bm).getLongCardinality }
      .sum
    val (n, dropped) = droppedMetric(spark.read.format("graft")
      .option("tablePath", t).load().filter(col("p") === 1))
    assert(n == 4 * 9L)
    assert(dropped == cardinality && dropped == 4L)
  }
}
