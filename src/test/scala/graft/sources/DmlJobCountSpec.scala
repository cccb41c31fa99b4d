package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per SQL DML statement. Each statement runs on a small
  * partitioned table with the change feed on that already carries a
  * deletion vector, so every commit step is exercised: affected-file
  * discovery, carried kills, the new vector and the change rows.
  *
  * The counts are exact: a statement that gains a job (a shuffle, a
  * schema-inference pass, a re-collect) fails here with the call site
  * of every job it ran. Each test also checks the table and the
  * statement's change rows against rows computed by hand.
  */
class DmlJobCountSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._

  private val TagKey = "graft.test.jobcount"
  private val jobs =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .foreach { tag =>
          // the job's first engine frame, else its short call site, and
          // its SQL execution: the jobs of one plan share it
          val site = e.stageInfos.sortBy(_.stageId).lastOption
            .map(si => si.details.linesIterator.map(_.trim)
              .find(l => l.startsWith("graft.") && !l.contains("Spec"))
              .getOrElse(si.name))
            .getOrElse("?")
          val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          jobs.add((tag, site + exec.fold("")(id => s" [sql execution $id]")))
        }
  }

  override def beforeAll(): Unit =
    spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    Seq("spark.graft.update.mode", "spark.graft.delete.mode")
      .foreach(spark.conf.unset)
  }

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("djc_wh").toString
    spark.conf.set("spark.sql.catalog.gjc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gjc.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gjc.default")
    dir
  }

  private def path(t: String) = s"$wh/default/$t"
  private def log(t: String) =
    new TxnLog(path(t), spark.sessionState.newHadoopConf())

  type Row3 = (Long, Int, Long)

  /** 40 rows `(k, p = k % 4, v = 10k)` in 4 partition files, then a DV
    * DELETE of k = 0: the p = 0 file carries a vector from the start.
    */
  private def freshTable(t: String): Set[Row3] = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS gjc.default.$t")
    spark.sql(
      s"""CREATE TABLE gjc.default.$t (k BIGINT, p INT, v BIGINT)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    spark.sql(s"INSERT INTO gjc.default.$t SELECT /*+ COALESCE(1) */ * " +
      (0 until 40).map(k => s"($k, ${k % 4}, ${10 * k})")
        .mkString("FROM VALUES ", ", ", " AS s(k, p, v)"))
    spark.conf.set("spark.graft.delete.mode", "dv")
    spark.sql(s"DELETE FROM gjc.default.$t WHERE k = 0")
    spark.conf.unset("spark.graft.delete.mode")
    val files = log(t).snapshotLatest().files
    assert(files.size == 4 && files.count(_.dv.isDefined) == 1, files)
    (1 until 40).map(k => (k.toLong, k % 4, 10L * k)).toSet
  }

  /** Runs `body` and returns the call sites of the Spark jobs it ran. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val tag = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.setLocalProperty(TagKey, tag)
    try body
    finally sc.setLocalProperty(TagKey, null)
    org.apache.spark.graft.ListenerBus.drain(sc)
    jobs.toArray(Array.empty[(String, String)]).toSeq
      .collect { case (`tag`, site) => site }
  }

  private def table(t: String): Set[Row3] =
    spark.sql(s"SELECT k, p, v FROM gjc.default.$t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** The change rows of the table's newest version, per `_change_type`. */
  private def changes(t: String): Map[String, Set[Row3]] = {
    val v = log(t).latestVersion().get
    ChangeDataFeed.tableChanges(spark, path(t), v, Some(v))
      .select("k", "p", "v", ChangeDataFeed.TypeCol).collect()
      .map(r => (r.getString(3), (r.getLong(0), r.getInt(1), r.getLong(2))))
      .groupBy(_._1).map { case (ty, rs) => ty -> rs.map(_._2).toSet }
  }

  private def assertJobs(kind: String, sites: Seq[String], want: Int): Unit =
    assert(sites.size == want,
      s"$kind ran ${sites.size} Spark jobs, expected $want:\n  " +
        sites.mkString("\n  "))

  test("DV UPDATE: jobs, table and change rows") {
    val before = freshTable("u")
    spark.conf.set("spark.graft.update.mode", "dv")
    val sites = jobsOf(
      spark.sql("UPDATE gjc.default.u SET v = v + 1 WHERE k IN (4, 9)"))
    spark.conf.unset("spark.graft.update.mode")
    val hit = before.filter(r => r._1 == 4L || r._1 == 9L)
    val post = hit.map(r => (r._1, r._2, r._3 + 1))
    assert(table("u") == before -- hit ++ post)
    assert(changes("u") == Map(
      ChangeDataFeed.UpdatePre -> hit, ChangeDataFeed.UpdatePost -> post))
    // the WriteDelta job, whose tasks return the kills and write the
    // change rows (the driver writes the vector, no job)
    assertJobs("DV UPDATE", sites, 1)
  }

  test("MERGE: jobs, table and change rows") {
    val before = freshTable("m")
    spark.conf.set("spark.graft.update.mode", "dv")
    spark.sql("SELECT * FROM VALUES (4L, 0, -4L), (9L, 1, -9L), " +
      "(100L, 0, 1000L) AS s(k, p, v)").createOrReplaceTempView("djc_src")
    val sites = jobsOf(spark.sql(
      """MERGE INTO gjc.default.m t USING djc_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
        |""".stripMargin))
    spark.conf.unset("spark.graft.update.mode")
    val hit = before.filter(r => r._1 == 4L || r._1 == 9L)
    val post = Set((4L, 0, -4L), (9L, 1, -9L))
    val ins = Set((100L, 0, 1000L))
    assert(table("m") == before -- hit ++ post ++ ins)
    assert(changes("m") == Map(ChangeDataFeed.UpdatePre -> hit,
      ChangeDataFeed.UpdatePost -> post, ChangeDataFeed.Insert -> ins))
    // the MERGE join's two shuffle stages and its WriteDelta job, whose
    // tasks write the change rows as the UPDATE's do
    assertJobs("MERGE", sites, 3)
  }

  test("DV DELETE: jobs, table and change rows") {
    val before = freshTable("d")
    spark.conf.set("spark.graft.delete.mode", "dv")
    val sites = jobsOf(
      spark.sql("DELETE FROM gjc.default.d WHERE k IN (8, 13)"))
    spark.conf.unset("spark.graft.delete.mode")
    val hit = before.filter(r => r._1 == 8L || r._1 == 13L)
    assert(table("d") == before -- hit)
    assert(changes("d") == Map(ChangeDataFeed.Delete -> hit))
    // the marking scan, whose tasks collect the kills as per-file
    // bitmaps and write the deleted rows as change rows (the masks are
    // loaded and the vector written on the driver, no job)
    assertJobs("DV DELETE", sites, 1)
  }

  test("copy-on-write DELETE: jobs, table and change rows") {
    val before = freshTable("c")
    spark.conf.set("spark.graft.delete.mode", "cow")
    val sites = jobsOf(
      spark.sql("DELETE FROM gjc.default.c WHERE k IN (12, 13)"))
    spark.conf.unset("spark.graft.delete.mode")
    val hit = before.filter(r => r._1 == 12L || r._1 == 13L)
    assert(table("c") == before -- hit)
    assert(changes("c") == Map(ChangeDataFeed.Delete -> hit))
    // the affected-file collect, whose tasks also write the deleted rows
    // as change rows, and the survivors' write: both scans share masks
    // loaded once on the driver, so neither broadcasts the dead rows in
    // a job
    assertJobs("copy-on-write DELETE", sites, 2)
  }
}
