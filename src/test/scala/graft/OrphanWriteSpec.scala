package graft

import graft.txn.{CdcReader, DeletionVectors, SnapshotReader, TableWriter,
  TxnLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Data files land straight in the table's partition directories, and a
  * deletion vector straight in its own `_dv/` directory, before the log
  * commit that makes them part of the table. A write whose files landed
  * but whose log commit never happened (the driver died, or it lost the
  * version race and gave up) leaves orphans there. No reader may see
  * them, and `vacuum` removes them only past the retention horizon, so a
  * writer still between its file writes and its log commit is safe.
  */
class OrphanWriteSpec extends AnyFunSuite {
  import SparkTestSession._

  private def drain(df: DataFrame, name: String): Long = {
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(name).toString)
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(name).count()
  }

  test("files of a write that never committed are invisible to every " +
      "reader, and vacuum keeps them inside the horizon, removes them past it") {
    val t = java.nio.file.Files.createTempDirectory("orphans").toString + "/t"
    val rows = spark.range(0L, 40L).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    TableWriter.write(spark, rows, t, Seq("p"), version = 0L, commitTs = 1000L)
    TableWriter.setTableProperties(spark, t,
      Map(graft.txn.ChangeDataFeed.Prop -> "true"), version = 1L,
      commitTs = 1500L)
    val log = new TxnLog(t, spark.sessionState.newHadoopConf())
    var drains = 0
    def readers(): Seq[Long] = {
      drains += 1
      Seq(SnapshotReader.read(spark, t).count(),
        spark.read.format("graft").option("tablePath", t).load().count(),
        spark.read.format("graft").option("tablePath", t)
          .option("versionAsOf", "0").load().count(),
        CdcReader.cdc(spark, t).count(),
        drain(spark.readStream.format("graft-cdc").option("tablePath", t)
          .option("startingVersion", "0").option("includeHistory", "true")
          .load(), s"orphan_cdc_$drains"),
        drain(spark.readStream.format("graft-cdf").option("tablePath", t)
          .load(), s"orphan_cdf_$drains"))
    }
    val seen = readers()
    assert(seen.take(3) == Seq(40L, 40L, 40L))

    // the data write of a version-2 append, whose log commit never happens
    val orphans = TableWriter.stageAndMove(spark,
      spark.range(100L, 130L).selectExpr("id", "CAST(id % 2 AS INT) AS p"),
      t, Seq("p"), version = 2L, commitTs = 2000L, dataChange = true,
      log.snapshotLatest().metadata)
    assert(orphans.size >= 2 && orphans.forall(_.path.contains("p=")))
    val onDisk = orphans.map(a => new java.io.File(t, a.path))
    assert(onDisk.forall(_.exists))
    assert(log.latestVersion().contains(1L))
    // the vector of a version-2 delete killing rows 0-4 of a committed
    // file, whose log commit never happens
    val snap = log.snapshotLatest()
    val victim = snap.files.head
    val kills = new org.roaringbitmap.longlong.Roaring64Bitmap()
    kills.addRange(0L, 5L)
    val (vectorDir, vectorActions) = DeletionVectors.commitVector(spark, t,
      snap, version = 2L, commitTs = 2000L,
      Map(new java.io.File(victim.path).getName -> kills), Seq(victim),
      DeletionVectors.Masks.empty)
    assert(vectorActions.nonEmpty)
    val vectorFiles = new java.io.File(t, vectorDir).list()
      .filter(_.endsWith(".parquet")).map(n => s"$vectorDir/$n").toSeq
    assert(vectorFiles.size == 1, vectorFiles)
    assert(log.latestVersion().contains(1L))
    assert(readers() == seen, "a reader saw uncommitted files")

    val hour = 3600 * 1000L
    val now = System.currentTimeMillis()
    // an in-flight writer's files are younger than the horizon: kept
    TableWriter.vacuum(spark, t, retainMillis = hour, nowMillis = now)
    assert(onDisk.forall(_.exists), "vacuum removed files inside the horizon")
    assert(vectorFiles.forall(new java.io.File(t, _).exists),
      "vacuum removed a vector inside the horizon")
    // past the horizon the orphans go, and only they
    val removed = TableWriter.vacuum(spark, t, retainMillis = hour,
      nowMillis = now + 2 * hour)
    assert(onDisk.forall(!_.exists), "vacuum kept orphans past the horizon")
    assert(!new java.io.File(t, vectorDir).exists,
      "vacuum kept an orphan vector past the horizon")
    val (vectorRemoved, dataRemoved) = removed.partition(_.startsWith("_dv/"))
    assert(dataRemoved.map(r => r.substring(r.indexOf("p="))).toSet ==
      orphans.map(_.path).toSet, removed)
    assert(vectorRemoved == vectorFiles, removed)
    assert(SnapshotReader.read(spark, t).count() == 40L)
  }
}
