package graft.sources

import graft.txn.{Metadata, SnapshotReader, TableWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Column-type parity of the three DSv2 readers with the v1 reference:
  * one table holding every column type the engine stores — integral and
  * floating types, boolean, string, binary, timestamp, date, decimals
  * of every physical encoding (INT32, INT64, fixed-length binary),
  * array, map, and a struct that gains a nested field in a later
  * schema-change commit — under a date partition with a null partition
  * value. `format("graft")`, a `graft-cdc` AvailableNow backfill and the
  * `graft-cdf` stream must each return exactly what
  * [[SnapshotReader.read]] returns.
  */
class FileRowsSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Rows `ids` with `struct` as the `st` column expression. */
  private def rows(ids: Range, struct: String): DataFrame =
    spark.range(ids.start, ids.end).selectExpr(
      "id",
      "IF(id % 4 = 1, NULL, CAST(id AS INT)) AS i",
      "id * 1000000007 AS l",
      "CAST(id AS SHORT) AS s",
      "IF(id % 4 = 2, NULL, CAST(id - 60 AS BYTE)) AS b",
      "CAST(id / 3.0 AS FLOAT) AS f",
      "IF(id % 4 = 3, NULL, id / 7.0D) AS d",
      "id % 2 = 0 AS bo",
      "IF(id % 5 = 0, NULL, CONCAT('s', id)) AS str",
      "CAST(CONCAT('b', id) AS BINARY) AS bin",
      "TIMESTAMP_MICROS(1700000000000000 + id * 1000001) AS at",
      "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt",
      "CAST(id / 4 AS DECIMAL(9,2)) AS d9",
      "CAST(id * 1234567.89 AS DECIMAL(18,2)) AS d18",
      "CAST(CONCAT(id, '2345678901234567890123456.78') AS DECIMAL(38,2)) " +
        "AS d38",
      "IF(id % 5 = 0, NULL, ARRAY(CAST(id AS INT), NULL, 3)) AS arr",
      "MAP(CONCAT('k', id), id, 'z', CAST(NULL AS BIGINT)) AS m",
      s"IF(id % 6 = 0, NULL, $struct) AS st",
      "IF(id % 3 = 0, NULL, DATE_ADD(DATE'2024-02-01', CAST(id % 3 AS INT))) " +
        "AS p")

  /** Every row as one JSON string over the columns in name order (the
    * readers may order columns differently), sorted.
    */
  private def canon(df: DataFrame, columns: Seq[String]): Seq[String] =
    df.select(to_json(struct(columns.sorted.map(col): _*)))
      .collect().map(_.getString(0)).sorted.toSeq

  private def drain(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp(name + "_ck"))
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(name)
  }

  test("every column type reads through graft, graft-cdc and graft-cdf " +
      "exactly as through SnapshotReader") {
    val dir = tmp("filerows") + "/t"
    TableWriter.write(spark,
      rows(0 until 40, "NAMED_STRUCT('a', CAST(id AS INT), 'b', " +
        "CONCAT('x', id))"),
      dir, partitionBy = Seq("p"), version = 0L, commitTs = 1000L)
    // the struct gains a nested field: v0 files read it as null
    val evolved = rows(100 until 130, "NAMED_STRUCT('a', CAST(id AS INT), " +
      "'b', CONCAT('x', id), 'c', id * 10)")
    TableWriter.write(spark, evolved, dir, partitionBy = Seq("p"),
      version = 1L, commitTs = 2000L,
      extraActions = Seq(Metadata(evolved.schema.json, Seq("p"))))

    val columns = evolved.columns.toSeq
    val expected = canon(SnapshotReader.read(spark, dir), columns)
    assert(expected.size == 70)
    assert(expected.exists(_.contains("\"c\":1000")),
      "the evolved generation carries the nested field")

    assert(canon(spark.read.format("graft").option("tablePath", dir).load(),
      columns) == expected, "format(graft)")
    val cdc = drain(spark.readStream.format("graft-cdc")
      .option("tablePath", dir).option("startingVersion", "0")
      .option("includeHistory", "true").load(), "filerows_cdc")
    assert(canon(cdc.filter(col("op") === "c"), columns) == expected,
      "graft-cdc backfill")
    val cdf = drain(spark.readStream.format("graft-cdf")
      .option("tablePath", dir).load(), "filerows_cdf")
    assert(canon(cdf, columns) == expected, "graft-cdf")
  }
}
