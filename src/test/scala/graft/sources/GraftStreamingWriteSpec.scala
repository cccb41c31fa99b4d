package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The V2 streaming sink's exactly-once protocol driven at the unit
  * level: epoch replay detection, abort cleanup, the metadata-
  * commutativity guard, and metadata-resolved partition columns — the
  * write-side coverage GraftTableStreamSpec (read-side) doesn't touch.
  */
class GraftStreamingWriteSpec extends AnyFunSuite {
  import SparkTestSession._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("tag", StringType)))

  private def freshTable(partitionBy: Seq[String] = Seq.empty): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gsw_spec").toString
    val df = Seq((1L, "pre"), (2L, "pre")).toDF("id", "tag")
    TableWriter.write(spark, df, dir, partitionBy = partitionBy)
    dir
  }

  private def conf = spark.sessionState.newHadoopConf()

  /** Stage rows through a real task writer, return its commit message. */
  private def stage(table: String, partitionColumns: Seq[String],
      epochId: Long, rows: Seq[(Long, String)]): GraftStreamCommitMessage = {
    val w = new GraftStreamingDataWriter(
      TaskFiles.prepare(table, schema, partitionColumns),
      f"part-s$epochId%05d", partitionId = 0, taskId = 0L)
    rows.foreach { case (id, tag) =>
      w.write(InternalRow(id, UTF8String.fromString(tag)))
    }
    w.commit().asInstanceOf[GraftStreamCommitMessage]
  }

  private def rowCount(table: String): Long =
    SnapshotReader.read(spark, table).count()

  private def liveFiles(table: String): Seq[AddFile] =
    new TxnLog(table, conf).snapshotLatest().files

  test("a replayed epoch commits nothing and deletes the replay's files") {
    val table = freshTable()
    val write = new GraftStreamingWrite(table, schema, Seq.empty, "q1")
    write.commit(0L, Array(stage(table, Seq.empty, 0L, Seq((3L, "e0")))))
    assert(rowCount(table) == 3)
    val vAfter = new TxnLog(table, conf).latestVersion().get

    // restart replays epoch 0: fresh attempt files, same epoch id
    val replay = stage(table, Seq.empty, 0L, Seq((3L, "e0")))
    new GraftStreamingWrite(table, schema, Seq.empty, "q1")
      .commit(0L, Array(replay))
    assert(new TxnLog(table, conf).latestVersion().get == vAfter,
      "the replay must not commit a new version")
    assert(rowCount(table) == 3, "no duplicate rows after replay")
    val fs = new Path(table).getFileSystem(conf)
    replay.adds.foreach(a => assert(
      !fs.exists(new Path(TxnLog.dataPath(table, a.path))),
      s"replay file ${a.path} must be deleted"))
  }

  test("abort deletes the epoch's staged files") {
    val table = freshTable()
    val write = new GraftStreamingWrite(table, schema, Seq.empty, "q2")
    val msg = stage(table, Seq.empty, 0L, Seq((9L, "aborted")))
    val fs = new Path(table).getFileSystem(conf)
    msg.adds.foreach(a =>
      assert(fs.exists(new Path(TxnLog.dataPath(table, a.path)))))
    write.abort(0L, Array(msg))
    msg.adds.foreach(a => assert(
      !fs.exists(new Path(TxnLog.dataPath(table, a.path))),
      s"aborted file ${a.path} must be deleted"))
    assert(rowCount(table) == 2, "aborted rows never become visible")
  }

  test("an interleaved metadata change fails the epoch and drops its files") {
    val table = freshTable()
    val write = new GraftStreamingWrite(table, schema, Seq.empty, "q3")
    val msg = stage(table, Seq.empty, 0L, Seq((7L, "stale")))
    // schema-shape change lands AFTER the writer validated its schema
    TableWriter.addConstraint(spark, table, "id >= 0",
      version = new TxnLog(table, conf).latestVersion().get + 1,
      commitTs = 2000L)
    val e = intercept[IllegalStateException] {
      write.commit(0L, Array(msg))
    }
    assert(e.getMessage.contains("concurrent metadata change"))
    val fs = new Path(table).getFileSystem(conf)
    msg.adds.foreach(a => assert(
      !fs.exists(new Path(TxnLog.dataPath(table, a.path))),
      "the unsafe epoch's files must be dropped"))
    assert(rowCount(table) == 2)
  }

  test("partition columns resolve from table metadata, not the caller") {
    val table = freshTable(partitionBy = Seq("tag"))
    // the TableProvider path passes Seq.empty — the write must still
    // land hive-partitioned files with partitionValues from metadata,
    // so drive the writer through the FACTORY (which carries the
    // resolved columns), not a hand-built task writer
    val write = new GraftStreamingWrite(table, schema, Seq.empty, "q4")
    val factory = write.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    val w = factory.createWriter(0, 0L, 0L)
    w.write(InternalRow(5L, UTF8String.fromString("post")))
    val msg = w.commit()
    write.commit(0L, Array(msg))
    val added = liveFiles(table).filter(_.path.contains("part-s"))
    assert(added.nonEmpty)
    assert(added.forall(_.partitionValues.get("tag").contains("post")),
      s"streamed files must carry partition values: $added")
    assert(added.forall(_.path.startsWith("tag=post/")),
      s"streamed files must live in the hive layout: ${added.map(_.path)}")
    assert(rowCount(table) == 3)
  }

  test("a mismatched declared partition spec refuses loudly") {
    val table = freshTable(partitionBy = Seq("tag"))
    val e = intercept[IllegalArgumentException] {
      new GraftStreamingWrite(table, schema, Seq("id"), "q5")
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("decimal, struct, array and map payloads stream into a table and " +
      "read back equal") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val payload = Seq("id", "CAST(id AS DECIMAL(12, 2)) / 4 AS d",
      "named_struct('a', id, 'b', CAST(id AS STRING)) AS s",
      "array(id, id + 1) AS arr", "map(CAST(id AS STRING), id * 2) AS m")
    val table = java.nio.file.Files.createTempDirectory("gsw_wide").toString
    TableWriter.write(spark, spark.range(0L, 2L).selectExpr(payload: _*), table)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = mem.toDF().selectExpr("value AS id").selectExpr(payload: _*)
      .writeStream.format("graft").option("tablePath", table)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gsw_wide_ck").toString)
      .start()
    try {
      mem.addData(2L, 3L, 4L)
      q.processAllAvailable()
      mem.addData(5L)
      q.processAllAvailable()
    } finally q.stop()
    val expected = spark.range(0L, 6L).selectExpr(payload: _*)
    assert(SnapshotReader.read(spark, table).orderBy("id").collect().toSeq ==
      expected.orderBy("id").collect().toSeq)
  }
}
