package graft

import graft.txn.{CdcReader, DeletionVectors, SnapshotReader, TableWriter, TxnLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.roaringbitmap.longlong.Roaring64Bitmap
import org.scalatest.funsuite.AnyFunSuite

/** A bitmap vector may hold several disjoint rows for one (file_name,
  * deleted_at) pair. Every reader must see such a vector exactly as it
  * would the same positions in one row: the executor fold, the expanded
  * rows, the per-file counts, snapshot reads and both CDC readers. A
  * later delete from the same file must carry the rows forward intact.
  */
class DvDisjointRowsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def conf = spark.sessionState.newHadoopConf()

  /** 20 rows `k = 0..19` in one file: row position = k. */
  private def table(): String = {
    val dir = java.nio.file.Files.createTempDirectory("dv_split").toString + "/t"
    TableWriter.write(spark,
      spark.range(0L, 20L, 1L, 1).select(col("id").as("k"),
        (col("id") * 10).as("v")),
      dir, version = 0L, commitTs = 1000L)
    dir
  }

  private def bitmap(ks: Long*): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    ks.foreach(bm.addLong)
    bm
  }

  /** Rewrite the vector dir `rel` as one bitmap row per position group,
    * all for `fileName` at `deletedAt`.
    */
  private def splitVector(dir: String, rel: String, fileName: String,
      deletedAt: Long, groups: Seq[Seq[Long]]): Unit = {
    import spark.implicits._
    val p = new Path(dir, rel)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).foreach(st => fs.delete(st.getPath, false))
    groups.map(g => (fileName, deletedAt, g.size.toLong,
        DeletionVectors.serializeBitmap(bitmap(g: _*))))
      .toDF("file_name", "deleted_at", "n_rows", "bitmap")
      .coalesce(1).write.mode("append").parquet(p.toString)
  }

  private def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  /** (op, k, commit_version) of every change event. */
  private def events(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.select("op", "k", "commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("two disjoint rows for one (file, deleted_at) read as one") {
    val dir = table()
    val first = Seq(2L, 5L, 7L, 11L)
    DeletionVectors.deleteWhere(spark, dir, col("k").isin(first: _*),
      version = 1L, commitTs = 2000L)
    val f1 = new TxnLog(dir, conf).snapshotLatest().files.head
    val name = new Path(f1.path).getName
    splitVector(dir, f1.dv.get, name, 1L, Seq(Seq(2L, 5L), Seq(7L, 11L)))
    val rows = spark.read.parquet(new Path(dir, f1.dv.get).toString)
    assert(rows.count() == 2 &&
      rows.select("file_name", "deleted_at").distinct().count() == 1)

    // a second delete from the same file carries both rows forward
    val second = Seq(3L, 13L)
    DeletionVectors.deleteWhere(spark, dir, col("k").isin(second: _*),
      version = 2L, commitTs = 3000L)
    val f2 = new TxnLog(dir, conf).snapshotLatest().files.head
    val carried = spark.read.parquet(new Path(dir, f2.dv.get).toString)
      .filter(col("deleted_at") === 1L)
    assert(carried.count() == 2, "carried bitmap rows are copied as they are")

    val dead = (first ++ second).toSet
    val dvPath = TxnLog.dataPath(dir, f2.dv.get)
    assert(DeletionVectors.deadPositions(dvPath, conf, name)
      .toArray.toSet == dead)
    assert(DeletionVectors.deadPositions(dvPath, conf, name, _ == 1L)
      .getLongCardinality == first.size)
    val expanded = DeletionVectors.readDvDirs(spark, dir, Seq(f2.dv.get))
      .select("file_name", "row_index", "deleted_at").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(expanded == first.map(k => (name, k, 1L)).toSet ++
      second.map(k => (name, k, 2L)))
    val counts = DeletionVectors.deletedPerFile(spark, dir, Seq(f2)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(name -> dead.size.toLong))

    val live = (0L until 20L).toSet -- dead
    assert(ks(SnapshotReader.read(spark, dir)) == live)
    assert(ks(spark.read.format("graft").option("tablePath", dir).load()) ==
      live)
    assert(ks(SnapshotReader.read(spark, dir, versionAsOf = Some(1L))) ==
      (0L until 20L).toSet -- first)

    val want = events(CdcReader.cdc(spark, dir))
    assert(want.filter(_._1 == "d") ==
      first.map(k => ("d", k, 1L)).toSet ++ second.map(k => ("d", k, 2L)))
    assert(want.filter(_._1 != "d").map(_._2) == (0L until 20L).toSet)
    val out = java.nio.file.Files.createTempDirectory("dv_split_out").toString
    val q = spark.readStream.format("graft-cdc")
      .option("tablePath", dir).option("startingVersion", "0")
      .option("includeHistory", "true").load()
      .writeStream.format("parquet").option("path", out + "/rows")
      .option("checkpointLocation", out + "/ck")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "the AvailableNow drain must stop")
    assert(events(spark.read.parquet(out + "/rows")) == want)
  }
}
