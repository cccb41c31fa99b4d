package graft.sources

import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-range split arithmetic, property-pinned: for a parquet file with
  * many small row groups and EVERY split budget in a sweep, the ranges
  * must partition the file's rows EXHAUSTIVELY and DISJOINTLY (the
  * concatenation of per-range reads is exactly the whole file), and each
  * row's position must stay FILE-ABSOLUTE within its range — the
  * invariant that keeps deletion-vector positions and base+position row
  * ids split-invariant. The positions come from Spark's row-index
  * column, so this spec is the tripwire for any future Spark or parquet
  * upgrade changing the range rule or the numbering.
  */
class ParquetSplitsSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private lazy val (file, total) = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    val dir = java.nio.file.Files.createTempDirectory("splitprop").toString
    try {
      hc.setInt("parquet.block.size", 8 * 1024)
      (0L until 20000L).map(i => (i, i * 3)).toDF("id", "v")
        .coalesce(1).sortWithinPartitions(col("id"))
        .write.mode("overwrite").parquet(dir)
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    (f, 20000L)
  }

  /** (id, position) of every row in one byte range. */
  private def readRange(rows: FileRows, range: (Long, Long),
      size: Long): Seq[(Long, Long)] = {
    val r = rows.open(file, range, size,
      Array(FileRows.Read(0), FileRows.Pos))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try while (r.next()) {
      val row = r.get()
      buf += ((row.getLong(0), row.getLong(1)))
    } finally r.close()
    buf.toSeq
  }

  test("ranges partition rows exhaustively/disjointly and positions " +
      "stay file-absolute for every budget in a sweep") {
    val size = new java.io.File(file).length()
    val rows = FileRows(spark, new StructType().add("id", LongType),
      spark.sessionState.newHadoopConf())
    val whole = readRange(rows, ParquetSplits.WholeFile, size)
    assert(whole.size.toLong == total)
    // ids were written in order: a row's id IS its position in the file
    assert(whole.forall { case (id, pos) => id == pos })
    // budgets from "many tiny splits" to "one split covers all"
    Seq(6 * 1024L, 16 * 1024L, 50 * 1024L, size - 1, size, size + 1)
      .foreach { budget =>
        val ranges = ParquetSplits.ranges(size, budget)
        if (budget >= size) assert(ranges == Seq(ParquetSplits.WholeFile))
        else assert(ranges.size > 1)
        val got = ranges.flatMap(readRange(rows, _, size))
        // exhaustive + disjoint + ORDERED, positions included:
        // concatenation IS the file
        assert(got == whole, s"budget=$budget: split union != whole file")
      }
  }
}
