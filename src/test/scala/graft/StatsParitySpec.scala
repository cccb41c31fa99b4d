package graft

import graft.txn.{AddFile, DataSkipping, TableWriter, TxnLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The column stats a write task collects for each file it just wrote
  * must be exactly what [[TableWriter.footerStats]] reads from that file:
  * every type the stats cover and those they skip, an all-null column,
  * ASCII, non-ASCII and longer-than-the-cap strings, under a partition
  * column with a null value. Data skipping then keeps the same files on
  * the logged stats as on stats re-read from the footers, and never
  * drops a file holding a matching row.
  */
class StatsParitySpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("stats_parity")
      .toString + "/t"
    val long = "é" * 70 // 70 code points, two UTF-8 bytes each
    val rows = spark.range(0L, 120L).selectExpr(
      "id AS l",
      "CAST(id * 7 % 50 AS INT) AS i",
      "id / 9.0D AS d",
      "CAST(id / 4.0 AS FLOAT) AS f",
      "id % 2 = 0 AS b",
      "CAST(id * 1.25 AS DECIMAL(10,2)) AS dec",
      "CAST(NULL AS BIGINT) AS nul",
      "CONCAT('k', LPAD(CAST(id AS STRING), 3, '0')) AS s",
      "CONCAT(ELT(CAST(id % 4 AS INT) + 1, 'été', '日本', " +
        "'😀', 'zü'), id) AS u",
      s"CONCAT('$long', id) AS t",
      "IF(id % 3 = 0, NULL, CONCAT('p', id % 3)) AS part")
      .repartitionByRange(3, col("l"))
    TableWriter.write(spark, rows, dir, partitionBy = Seq("part"),
      version = 0L, commitTs = 1000L)
    dir
  }

  private def files: Seq[AddFile] =
    new TxnLog(table, spark.sessionState.newHadoopConf()).snapshotLatest().files

  private def footer(f: AddFile) = TableWriter.footerStats(
    new Path(TxnLog.dataPath(table, f.path)),
    spark.sessionState.newHadoopConf())

  test("every AddFile's stats equal footerStats of the same file") {
    val fs = files
    assert(fs.size >= 6, s"expected files in every partition, got ${fs.size}")
    assert(fs.exists(_.partitionValues("part") == "__HIVE_DEFAULT_PARTITION__"))
    fs.foreach { f =>
      assert(f.stats.isDefined, f.path)
      assert(f.stats == footer(f), f.path)
    }
    val st = fs.flatMap(_.stats)
    assert(st.map(_.numRecords).sum == 120L)
    // the long strings truncate (not tight); the all-null column has a
    // null count and no bounds; boolean and decimal carry no bounds
    assert(st.forall(s => !s.tight && s.nullCounts.get("nul")
      .contains(s.numRecords) && !s.minValues.contains("nul")))
    assert(st.forall(s => !s.minValues.contains("b")))
  }

  test("data skipping keeps the same files on logged and footer stats, " +
      "and every file with a matching row") {
    val schema = spark.read.parquet(table).schema
    val restated = files.map(f => f.copy(stats = footer(f)))
    val preds: Seq[(String, Any, Any, String)] = Seq(
      ("l", 10L, 20L, "l BETWEEN 10 AND 20"),
      ("i", 3, 3, "i = 3"),
      ("d", 5.0, 6.0, "d BETWEEN 5.0 AND 6.0"),
      ("f", 25.0f, 26.0f, "f BETWEEN 25.0 AND 26.0"),
      ("s", "k050", "k059", "s BETWEEN 'k050' AND 'k059'"),
      ("u", "日", "日\uFFFF", "u BETWEEN '日' AND '日\uFFFF'"),
      ("t", "é" * 70 + "5", "é" * 70 + "5",
        s"t = '${"é" * 70}5'"))
    preds.foreach { case (c, lo, hi, sql) =>
      val kept = DataSkipping.pruneFiles(files, schema(c).dataType, c, lo, hi)
      val keptFooter =
        DataSkipping.pruneFiles(restated, schema(c).dataType, c, lo, hi)
      assert(kept.map(_.path) == keptFooter.map(_.path), sql)
      val matching = files.filter { f =>
        !spark.read.schema(StructType(schema.filterNot(_.name == "part")))
          .parquet(TxnLog.dataPath(table, f.path)).filter(sql).isEmpty
      }
      assert(matching.nonEmpty, s"no row matches $sql")
      assert(matching.map(_.path).toSet.subsetOf(kept.map(_.path).toSet), sql)
      // l, d and s rise with the range-partitioned key
      if (Set("l", "d", "s")(c))
        assert(kept.size < files.size, s"$sql pruned nothing")
    }
    val viaPredicate = DataSkipping.filesFor(spark, table,
      col("l").between(10L, 20L))._1
    assert(viaPredicate.map(_.path) ==
      DataSkipping.pruneFiles(restated, schema("l").dataType, "l", 10L, 20L)
        .map(_.path))
  }
}
