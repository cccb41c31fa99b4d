package graft

import graft.queries.Cdc
import graft.txn.{CdcReader, TableWriter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The DataSource V2 streaming surface: spark.readStream.format(
  * "graft.sources.GraftCdc") over the engine's own table, checkpointed by
  * Spark's StreamingQuery machinery (offsets = CdcOffset JSON).
  */
class GraftCdcSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  private val fmt = "graft.sources.GraftCdc"

  test("streaming read reproduces the batch CDC envelope") {
    val table = Cdc.buildFixture(spark, sf)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_stream_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.sql(
      "SELECT op, COUNT(*) AS n FROM cdc_stream_out GROUP BY op")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = CdcReader.cdc(spark, table).groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("payload values and partition columns survive the row reader") {
    val table = Cdc.buildFixture(spark, sf)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_stream_vals")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()

    // spot-compare a whole column aggregate against the source table
    val got = spark.sql(
      """SELECT l_returnflag, SUM(l_quantity) AS q
        |FROM cdc_stream_vals WHERE op = 'c' AND commit_version = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    val want = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
      .orderBy("l_returnflag").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getString(0), r.getDouble(1))).toSeq)
    // timestamps decoded as timestamps
    val ship = spark.sql(
      "SELECT MIN(l_shipdate) FROM cdc_stream_vals WHERE op='c'").collect()(0)
    assert(!ship.isNullAt(0))
  }

  test("streaming read survives schema evolution (pre-add-column files)") {
    val table = Files.createTempDirectory("schema_stream").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem").limit(100)
    TableWriter.write(spark, li, table, version = 0L, commitTs = 1000L)
    // v1 adds a column: v0 files must read as null under the evolved schema
    val li2 = li.withColumn("extra_flag", lit(1)).limit(10)
    TableWriter.write(spark, li2, table, version = 1L, commitTs = 2000L,
      extraActions = Seq(graft.txn.Metadata(li2.schema.json, Seq.empty)))
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_stream_evolved")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("cdc_stream_evolved")
    assert(out.columns.contains("extra_flag"))
    assert(out.filter(col("op") === "c" && col("extra_flag").isNull).count() == 100)
    assert(out.filter(col("op") === "c" && col("extra_flag") === 1).count() == 10)
    assert(out.filter(col("op") === "m").count() == 1)
  }

  test("decimal columns round-trip through the streaming row reader") {
    val table = Files.createTempDirectory("cdc_decimal").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem").limit(50)
      .select(col("l_orderkey"),
        col("l_extendedprice").cast("decimal(9,2)").as("d32"),   // INT32
        col("l_extendedprice").cast("decimal(12,2)").as("d64"),  // INT64
        (col("l_extendedprice") * 1000000).cast("decimal(25,4)").as("dbig")) // FLBA
    TableWriter.write(spark, li, table, version = 0L, commitTs = 1000L)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_stream_decimal")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql(
      "SELECT SUM(d32), SUM(d64), SUM(dbig) FROM cdc_stream_decimal").collect()(0)
    val want = li.agg(sum("d32"), sum("d64"), sum("dbig")).collect()(0)
    assert(got.getDecimal(0) == want.getDecimal(0))
    assert(got.getDecimal(1) == want.getDecimal(1))
    assert(got.getDecimal(2) == want.getDecimal(2))
  }

  test("nested types (array/map/struct) round-trip through the streaming reader") {
    val table = Files.createTempDirectory("cdc_nested").toString + "/t"
    val src = Tables.load(spark, sf, "embeddings").limit(40)
      .select(col("vec_id"),
        col("embedding"), // array<float> — the embeddings shape
        // arrays with null elements and whole-null rows
        when(col("vec_id") % 7 === 0, lit(null))
          .otherwise(array(col("vec_id").cast("double"),
            lit(null).cast("double"))).as("darr"),
        map(lit("a"), col("vec_id"), lit("b"), col("vec_id") * 2).as("m"),
        struct(col("vec_id").as("id"), lit("x").as("tag"),
          slice(col("embedding"), 1, 3).as("head")).as("st"))
    TableWriter.write(spark, src, table, version = 0L, commitTs = 1000L)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_nested_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    // map is not comparable in except — project entries out by key
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("embedding"), col("darr"),
        element_at(col("m"), "a").as("ma"), element_at(col("m"), "b").as("mb"),
        col("st.id").as("sid"), col("st.tag").as("stag"), col("st.head").as("shead"))
    val got = flat(spark.table("cdc_nested_out").filter(col("op") === "c"))
    val want = flat(src)
    assert(got.count() == 40)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("maxVersionsPerTrigger drains a commit backlog in bounded batches") {
    val table = Files.createTempDirectory("cdc_admission").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem")
    // 3-commit backlog before the stream ever starts
    TableWriter.write(spark, li.limit(100), table, version = 0L, commitTs = 1000L)
    TableWriter.write(spark, li.limit(150).except(li.limit(100)), table,
      version = 1L, commitTs = 2000L)
    TableWriter.write(spark, li.limit(180).except(li.limit(150)), table,
      version = 2L, commitTs = 3000L)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_admission_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // snapshot batch + one batch per backlog commit = 3 non-empty batches
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.length == 3,
        s"expected 3 bounded batches, got ${nonEmpty.map(_.numInputRows).mkString(",")}")
      assert(nonEmpty.map(_.numInputRows).toSeq == Seq(100L, 50L, 30L))
      assert(spark.table("cdc_admission_out").count() == 180)
    } finally q.stop()
  }

  test("maxRowsPerTrigger composes with maxFilesPerTrigger") {
    val table = Files.createTempDirectory("cdc_rows_files").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem")
    // 3 hive partitions -> 3 files in the v0 snapshot
    TableWriter.write(spark, li.limit(300), table,
      partitionBy = Seq("l_returnflag"), version = 0L, commitTs = 1000L)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .option("maxRowsPerTrigger", "100000") // never binds
      .option("maxFilesPerTrigger", "1")     // must still bound each batch
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_rows_files_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      val perFile = li.limit(300).groupBy("l_returnflag").count()
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(nonEmpty.length == perFile.size,
        s"expected ${perFile.size} one-file batches, got " +
          nonEmpty.map(_.numInputRows).mkString(","))
      assert(nonEmpty.map(_.numInputRows).sorted.toSeq == perFile)
      assert(spark.table("cdc_rows_files_out").count() == 300)
    } finally q.stop()
  }

  test("partitionFilter prunes the stream to matching partitions only") {
    val table = Files.createTempDirectory("cdc_pfilter").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem").limit(300)
    TableWriter.write(spark, li, table,
      partitionBy = Seq("l_returnflag"), version = 0L, commitTs = 1000L)
    TableWriter.write(spark,
      Tables.load(spark, sf, "lineitem").limit(360)
        .except(li), table,
      partitionBy = Seq("l_returnflag"), version = 1L, commitTs = 2000L)
    val q = spark.readStream.format(fmt)
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .option("partitionFilter", "l_returnflag=R")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_pfilter_out")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("cdc_pfilter_out")
    val want = Tables.load(spark, sf, "lineitem").limit(360)
      .filter(col("l_returnflag") === "R").count()
    assert(out.count() == want, s"got ${out.count()}, want $want")
    assert(out.filter(col("l_returnflag") =!= "R").count() == 0)
  }

  test("table-to-table replication: CDC tail of A streams into table B") {
    val a = Files.createTempDirectory("repl_a").toString + "/t"
    val b = Files.createTempDirectory("repl_b").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem")
    TableWriter.write(spark, li.limit(100), a, version = 0L, commitTs = 1000L)
    val payloadCols = li.columns.map(col).toIndexedSeq
    val src = spark.readStream.format(fmt)
      .option("tablePath", a)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .filter(col("op") === "c")
      .select(payloadCols: _*)
    val q = graft.streaming.GraftTableSink.append(src, b,
      Files.createTempDirectory("ck").toString)
    try {
      q.processAllAvailable()
      assert(graft.txn.SnapshotReader.read(spark, b).count() == 100)
      // a new commit on A while the stream runs flows into B
      TableWriter.write(spark, li.limit(130).except(li.limit(100)), a,
        version = 1L, commitTs = 2000L)
      q.processAllAvailable()
    } finally q.stop()
    val bSnap = graft.txn.SnapshotReader.read(spark, b)
    val aSnap = graft.txn.SnapshotReader.read(spark, a)
    assert(bSnap.count() == 130)
    // replica holds exactly the source's live rows
    assert(bSnap.exceptAll(aSnap).isEmpty && aSnap.exceptAll(bSnap).isEmpty)
    // and B is itself a CDC-capable table
    assert(graft.txn.CdcReader.cdc(spark, b)
      .filter(col("op") === "c").count() == 130)
  }

  test("restart from Spark checkpoint resumes, new commits flow") {
    val src = Cdc.buildFixture(spark, sf)
    // private copy so we can append a v3 commit
    val table = Files.createTempDirectory("cdc_grow").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem")
    TableWriter.write(spark, li.limit(500), table,
      partitionBy = Seq("l_returnflag"), version = 0L, commitTs = 1000L)
    val ck = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("cdc_out").toString + "/sink"

    // memory sink can't recover from a checkpoint; a file sink can — and
    // it also proves exactly-once end-to-end (no duplicate rows on resume)
    def runOnce(): Long = {
      val q = spark.readStream.format(fmt)
        .option("tablePath", table)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .load()
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 500)
    // append a new commit, restart the stream from the same checkpoint
    TableWriter.write(spark, li.limit(600).except(li.limit(500)), table,
      partitionBy = Seq("l_returnflag"), version = 1L, commitTs = 2000L)
    val total = runOnce()
    // resumed run appends ONLY the 100 new rows — no snapshot replay
    assert(total == 600, s"expected 600 total rows after resume, got $total")
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val table = Files.createTempDirectory("cdc_availnow").toString + "/t"
    val li = Tables.load(spark, sf, "lineitem")
    TableWriter.write(spark, li.limit(100), table, version = 0L, commitTs = 1000L)
    TableWriter.write(spark, li.limit(150).except(li.limit(100)), table,
      version = 1L, commitTs = 2000L)
    TableWriter.write(spark, li.limit(180).except(li.limit(150)), table,
      version = 2L, commitTs = 3000L)
    val ck = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("cdc_an_out").toString + "/sink"

    def runOnce(name: String): (Long, Int) = {
      val q = spark.readStream.format(fmt)
        .option("tablePath", table)
        .option("startingVersion", "0")
        .option("includeHistory", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      // the query must terminate ON ITS OWN — that IS the contract
      assert(q.awaitTermination(120000), s"$name did not self-terminate")
      (spark.read.parquet(out).count(),
        q.recentProgress.count(_.numInputRows > 0))
    }

    val (rows1, batches1) = runOnce("first drain")
    assert(rows1 == 180, s"expected 180 rows after first drain, got $rows1")
    // snapshot batch + one per backlog commit — admission still bounds
    assert(batches1 == 3, s"expected 3 bounded batches, got $batches1")

    // commits landing AFTER a drain wait for the next run
    TableWriter.write(spark, li.limit(200).except(li.limit(180)), table,
      version = 3L, commitTs = 4000L)
    val (rows2, _) = runOnce("second drain")
    assert(rows2 == 200, s"expected 200 total rows after second drain, got $rows2")
  }

  test("a table column named like an envelope column is refused at " +
    "stream start, naming the column") {
    import spark.implicits._
    def refusal(cols: String*): String = {
      val table = Files.createTempDirectory("cdc_clash").toString + "/t"
      TableWriter.write(spark, Seq((1L, 2L)).toDF(cols: _*), table,
        version = 0L, commitTs = 1000L)
      intercept[IllegalArgumentException](
        spark.readStream.format(fmt).option("tablePath", table).load()
      ).getMessage
    }
    assert(refusal("k", "ts").contains("`ts`"))
    // Spark resolves names case-insensitively, so the clash does too
    val both = refusal("OP", "Commit_Version")
    assert(both.contains("`OP`") && both.contains("`Commit_Version`"), both)
  }
}
