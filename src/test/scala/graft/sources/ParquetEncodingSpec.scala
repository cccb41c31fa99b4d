package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One codec and one timestamp encoding for every parquet file a commit
  * adds, whichever path wrote it: appends, SQL UPDATE and MERGE in
  * both modes, SQL copy-on-write DELETE, a `writeStream` epoch, and the
  * change-data sidecars of each that has them. Each file's footer must
  * name the session's `spark.sql.parquet.compression.codec` (set to a
  * non-default codec here, so a writer that ignores the session shows)
  * and store TIMESTAMP columns as INT64 `TIMESTAMP_MICROS`. The
  * deletion vector of a DV-mode UPDATE or MERGE is checked for the codec
  * too (it holds no timestamp).
  */
class ParquetEncodingSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._

  private val CodecKey = "spark.sql.parquet.compression.codec"
  private val Codec = CompressionCodecName.ZSTD
  private var previousCodec: Option[String] = None

  override def beforeAll(): Unit = {
    previousCodec = spark.conf.getOption(CodecKey)
    spark.conf.set(CodecKey, Codec.name.toLowerCase)
  }
  override def afterAll(): Unit = {
    previousCodec.fold(spark.conf.unset(CodecKey))(spark.conf.set(CodecKey, _))
    Seq("spark.graft.update.mode", "spark.graft.delete.mode")
      .foreach(spark.conf.unset)
  }

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("pqenc_wh").toString
    spark.conf.set("spark.sql.catalog.gpe", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpe.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpe.default")
    dir
  }

  private def conf = spark.sessionState.newHadoopConf()

  /** 12 rows `(k, p = k % 3, ts, v = 10k)`, one file per partition p,
    * change feed on.
    */
  private def freshTable(t: String): String = {
    wh
    spark.sql(
      s"""CREATE TABLE gpe.default.$t (k BIGINT, p INT, ts TIMESTAMP, v BIGINT)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    spark.sql(s"INSERT INTO gpe.default.$t SELECT /*+ COALESCE(1) */ k, k % 3, " +
      "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, k), 10 * k " +
      "FROM range(12) AS r(k)")
    s"$wh/default/$t"
  }

  /** Paths of the files the newest commit adds: new data files (not the
    * re-adds of a deletion-vector commit) and change-data sidecars.
    */
  private def addedFiles(table: String): Seq[String] = {
    val log = new TxnLog(table, conf)
    val v = log.latestVersion().get
    val before = log.snapshot(v - 1).files.map(_.path).toSet
    log.read(v).collect {
      case a: AddFile if !before.contains(a.path) => a.path
      case c: CdcFile => c.path
    }
  }

  /** `rel`'s column chunks, each checked against the session codec. */
  private def chunksOf(table: String, rel: String, what: String) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(TxnLog.dataPath(table, rel)), conf))
    try {
      val footer = reader.getFooter
      val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      assert(chunks.nonEmpty, s"$what: $rel holds no rows")
      chunks.foreach(c => assert(c.getCodec == Codec,
        s"$what: $rel column ${c.getPath} is ${c.getCodec}, not $Codec"))
      footer.getFileMetaData.getSchema
    } finally reader.close()
  }

  /** The newest commit's deletion vector: one part file, in the codec. */
  private def assertVectorEncoding(table: String, what: String): Unit = {
    val log = new TxnLog(table, conf)
    val dirs = log.read(log.latestVersion().get)
      .collect { case a: AddFile if a.dv.isDefined => a.dv.get }.distinct
    assert(dirs.size == 1, s"$what: one new vector expected: $dirs")
    val dir = new Path(TxnLog.dataPath(table, dirs.head))
    val parts = dir.getFileSystem(conf).listStatus(dir)
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(parts.length == 1, s"$what: ${parts.mkString(", ")}")
    chunksOf(table, s"${dirs.head}/${parts.head}", s"$what vector")
  }

  private def assertEncoding(table: String, what: String,
      sidecars: Boolean): Unit = {
    val files = addedFiles(table)
    assert(files.exists(!_.startsWith("_change_data/")),
      s"$what added no data file: $files")
    assert(files.exists(_.startsWith("_change_data/")) == sidecars,
      s"$what: change-data sidecars expected = $sidecars: $files")
    files.foreach { rel =>
      val schema = chunksOf(table, rel, what)
      val ts = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS),
        s"$what: $rel stores ts as $ts")
    }
  }

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def mergeSql(t: String) =
    s"""MERGE INTO gpe.default.$t t
       |USING (SELECT * FROM VALUES (4L, 1, -4L), (100L, 1, 1000L)
       |  AS s(k, p, v)) s ON t.k = s.k
       |WHEN MATCHED THEN UPDATE SET t.v = s.v
       |WHEN NOT MATCHED THEN INSERT (k, p, ts, v)
       |  VALUES (s.k, s.p, TIMESTAMP'2024-02-01 00:00:00', s.v)
       |""".stripMargin

  test("TableWriter.append") {
    val t = freshTable("app")
    TableWriter.append(spark, spark.sql(
      "SELECT CAST(20 AS BIGINT) AS k, 2 AS p, " +
        "TIMESTAMP'2024-03-01 00:00:00' AS ts, CAST(200 AS BIGINT) AS v"),
      t, Seq("p"))
    assertEncoding(t, "append", sidecars = false)
  }

  test("SQL UPDATE, deletion-vector mode, and its change-data sidecars") {
    val t = freshTable("dvu")
    withConf("spark.graft.update.mode", "dv") {
      spark.sql("UPDATE gpe.default.dvu SET v = v + 1 WHERE k IN (4, 5)")
    }
    assertEncoding(t, "DV UPDATE", sidecars = true)
    assertVectorEncoding(t, "DV UPDATE")
  }

  test("SQL MERGE, deletion-vector mode, and its change-data sidecars") {
    val t = freshTable("dvm")
    withConf("spark.graft.update.mode", "dv")(spark.sql(mergeSql("dvm")))
    assertEncoding(t, "DV MERGE", sidecars = true)
    assertVectorEncoding(t, "DV MERGE")
  }

  test("SQL MERGE, copy-on-write mode") {
    val t = freshTable("cowm")
    withConf("spark.graft.update.mode", "cow")(spark.sql(mergeSql("cowm")))
    assertEncoding(t, "copy-on-write MERGE", sidecars = false)
  }

  test("SQL DELETE, copy-on-write mode, and its change-data sidecars") {
    val t = freshTable("cowd")
    withConf("spark.graft.delete.mode", "cow") {
      spark.sql("DELETE FROM gpe.default.cowd WHERE k = 4")
    }
    assertEncoding(t, "copy-on-write DELETE", sidecars = true)
  }

  test("a writeStream epoch") {
    val t = freshTable("stream")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = mem.toDF()
      .selectExpr("value AS k", "CAST(value % 3 AS INT) AS p",
        "TIMESTAMP'2024-04-01 00:00:00' AS ts", "value * 10 AS v")
      .writeStream.format("graft").option("tablePath", t)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("pqenc_ck").toString)
      .start()
    try {
      mem.addData(30L, 31L, 32L)
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotReader.read(spark, t).count() == 15L)
    assertEncoding(t, "writeStream epoch", sidecars = false)
  }
}
