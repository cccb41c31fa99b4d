package graft

import graft.txn.{SnapshotReader, TableWriter, TxnLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Type widening (ALTER COLUMN TYPE): one metadata commit re-declares a
  * column wider; old files keep their narrow physical encoding and read
  * upcast — the snapshot reader, the `graft` scan, the `graft-cdc` and
  * `graft-cdf` streams, and appends in the wide type all agree. Narrowing refuses. float→double
  * drops that column's min/max (half-ulp bound drift would make
  * skipping unsound); integer-ladder widenings keep stats.
  */
class TypeWideningSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def graftScan(dir: String) =
    spark.read.format("graft").option("tablePath", dir).load()

  /** Every change the `graft-cdf` stream delivers, drained to memory. */
  private def cdfRows(dir: String, name: String) = {
    val q = spark.readStream.format("graft-cdf").option("tablePath", dir)
      .load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(name + "_ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("int widens to long: both file generations read and append wide") {
    val dir = freshDir("tw1")
    TableWriter.write(spark,
      (1 to 10).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1),
      dir, version = 0L, commitTs = 1000L)
    TableWriter.widenColumnType(spark, dir, "v", LongType,
      version = 1L, commitTs = 2000L)
    val t = SnapshotReader.read(spark, dir)
    assert(t.schema("v").dataType == LongType)
    assert(t.agg(sum(col("v"))).head().getLong(0) == 55L)
    // appends land in the WIDE type; both generations scan together
    TableWriter.append(spark,
      Seq((11L, 5000000000L)).toDF("id", "v"), dir, commitTs = 3000L)
    assert(SnapshotReader.read(spark, dir).agg(sum(col("v")))
      .head().getLong(0) == 5000000055L)
    // the DSv2 scan and both streams read the INT32 generation too
    assert(graftScan(dir).agg(sum(col("v"))).head().getLong(0) ==
      5000000055L)
    assert(cdfRows(dir, "tw1_cdf").agg(sum(col("v"))).head().getLong(0) ==
      5000000055L)
    val events = spark.readStream.format("graft-cdc")
      .option("tablePath", dir).option("startingVersion", "0")
      .option("includeHistory", "true").load()
    val q = events.writeStream.format("memory").queryName("tw1_cdc")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("tw1_ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tw1_cdc").filter(col("op") === "c")
      .agg(sum(col("v"))).head().getLong(0)
    assert(got == 5000000055L)
  }

  test("float widens to double; that column's min/max stats drop") {
    val dir = freshDir("tw2")
    TableWriter.write(spark,
      Seq((1L, 1.5f, 10L), (2L, 3.4f, 20L)).toDF("id", "f", "k")
        .coalesce(1), dir, version = 0L, commitTs = 1000L)
    val before = new TxnLog(dir, spark.sessionState.newHadoopConf())
      .snapshotLatest().files.head.stats.get
    assert(before.minValues.contains("f") && before.minValues.contains("k"))
    TableWriter.widenColumnType(spark, dir, "f", DoubleType,
      version = 1L, commitTs = 2000L)
    val after = new TxnLog(dir, spark.sessionState.newHadoopConf())
      .snapshotLatest().files.head.stats.get
    assert(!after.minValues.contains("f") && !after.maxValues.contains("f"),
      "float-origin bounds under-state true values by half an ulp")
    assert(after.minValues.contains("k"), "other columns keep stats")
    val t = SnapshotReader.read(spark, dir)
    assert(t.schema("f").dataType == DoubleType)
    assert(t.filter(col("id") === 1L).head().getDouble(1) == 1.5d)
    assert(graftScan(dir).filter(col("id") === 1L).head().getDouble(1) ==
      1.5d)
    assert(cdfRows(dir, "tw2_cdf").filter(col("id") === 1L).head()
      .getDouble(1) == 1.5d)
  }

  test("int-ladder widening keeps stats; skipping still prunes") {
    val dir = freshDir("tw3")
    TableWriter.write(spark,
      (1 to 50).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1),
      dir, version = 0L, commitTs = 1000L)
    TableWriter.append(spark,
      (100 to 150).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1),
      dir, commitTs = 2000L)
    TableWriter.widenColumnType(spark, dir, "v", LongType,
      version = 2L, commitTs = 3000L)
    val scan = spark.read.format("graft").option("tablePath", dir).load()
      .filter(col("v") >= 120L)
    assert(scan.queryExecution.executedPlan.toString.contains("files=1/2"),
      "widened-column stats must still prune")
    assert(scan.count() == 31L)
  }

  test("narrowing and partition columns refuse") {
    val dir = freshDir("tw4")
    TableWriter.write(spark,
      Seq((1L, 2L, "x")).toDF("id", "v", "p"), dir,
      partitionBy = Seq("p"), version = 0L, commitTs = 1000L)
    intercept[IllegalArgumentException] {
      TableWriter.widenColumnType(spark, dir, "v", IntegerType,
        version = 1L, commitTs = 2000L)
    }
    intercept[IllegalArgumentException] {
      TableWriter.widenColumnType(spark, dir, "v", StringType,
        version = 1L, commitTs = 2000L)
    }
    intercept[IllegalArgumentException] {
      TableWriter.widenColumnType(spark, dir, "p", StringType,
        version = 1L, commitTs = 2000L)
    }
  }

  test("SQL ALTER TABLE ALTER COLUMN TYPE through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("tw_wh").toString
    spark.conf.set("spark.sql.catalog.twcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.twcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS twcat.default")
    spark.sql("DROP TABLE IF EXISTS twcat.default.tw")
    spark.sql("CREATE TABLE twcat.default.tw (id BIGINT, v INT)")
    spark.sql("INSERT INTO twcat.default.tw VALUES (1, 7), (2, 9)")
    spark.sql("ALTER TABLE twcat.default.tw ALTER COLUMN v TYPE BIGINT")
    val t = spark.table("twcat.default.tw")
    assert(t.schema("v").dataType == LongType)
    spark.sql("INSERT INTO twcat.default.tw VALUES (3, 6000000000)")
    assert(spark.sql(
      "SELECT CAST(SUM(v) AS BIGINT) FROM twcat.default.tw")
      .head().getLong(0) == 6000000016L)
    // Spark's analyzer itself refuses narrowing before the catalog is
    // reached (NOT_SUPPORTED_CHANGE_COLUMN); our own guard covers the
    // API path (see the narrowing test above)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE twcat.default.tw ALTER COLUMN v TYPE INT")
    }
    assert(e.getMessage.contains("widening") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
  }
}
