package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      // sf0.001 fixtures: 2 shuffle partitions, not 8 — the suite is
      // ~1,000 tests of latency-bound micro-jobs, and task-count is the
      // dominant per-job cost at this scale (results are partitioning-
      // independent; anything pinning physical layout writes its own)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_TEST_SHUFFLE", "2"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with Spark's task-failure logging off, for probes that
    * EXPECT a task to fail: the executor's and the scheduler's stack
    * traces for such a task would bury real failures in the test log.
    * The previous levels come back afterwards.
    */
  def withoutTaskFailureLogs[A](body: => A): A = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.config.Configurator
    val loggers = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    val before = loggers.map(n => n -> LogManager.getLogger(n).getLevel)
    loggers.foreach(Configurator.setLevel(_, org.apache.logging.log4j.Level.OFF))
    try body
    finally before.foreach { case (n, level) => Configurator.setLevel(n, level) }
  }
}

/** Smoke + semantic checks for every registry query at sf0.001. The full
  * value-level verification is the DuckDB oracle (tools/check_oracle.py /
  * the driver's t2 gate); here we assert shape and a few pinned facts.
  */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("registry names are unique and every oracle key exists") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs and returns rows") {
      val df = q.fn(spark, sf)
      assert(df.count() > 0, s"${q.name} returned no rows at sf0.001")
    }
  }

  test("q1 aggregates to the six flag/status groups") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6)
    val totalCount = rows.map(_.getAs[Long]("count_order")).sum
    // sf0.001 lineitem has 6000 rows, ~54% pass the shipdate cutoff
    assert(totalCount > 3000 && totalCount <= 6000)
  }

  test("q28 approx distinct within 5% of exact") {
    val rows = SparkEntry.queries("q28_approx_distinct")(spark, sf).collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"approx $approx vs exact $exact")
    }
  }

  test("q69 approx percentiles track the exact q37 values") {
    val exact = SparkEntry.queries("q37_percentile")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = SparkEntry.queries("q69_approx_percentile")(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (m, p90) = exact(r.getString(0))
      // l_quantity spans ~[1,50]; the 1000-bucket sketch should land
      // within a couple of quantity units of the exact interpolation
      assert(math.abs(r.getDouble(1) - m) <= 2.0, s"median ${r.getDouble(1)} vs $m")
      assert(math.abs(r.getDouble(2) - p90) <= 2.0, s"p90 ${r.getDouble(2)} vs $p90")
    }
  }

  test("q16 set ops satisfy |union| = |A| + |B| - |intersect|") {
    val m = SparkEntry.queries("q16_setops")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = Tables.load(spark, sf, "customer")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
      .select("c_custkey").distinct().count()
    val b = Tables.load(spark, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "O")
      .select("o_custkey").distinct().count()
    assert(m("union") == a + b - m("intersect"))
    assert(m("except") == a - m("intersect"))
  }

  test("q109 share_ppm equals exact BigInt floor division") {
    import org.apache.spark.sql.functions.{col, sum}
    val rows = SparkEntry.queries("q109_revenue_share")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Independent exact reference: per-nation cents via lossless decimal,
    // shares via arbitrary-precision BigInt floor division.
    val cents = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2))).as("rev"))
      .collect()
      .map(r => r.getString(0) -> BigInt(
        r.getDecimal(1).movePointRight(2).toBigIntegerExact))
      .toMap
    val tot = cents.values.sum
    rows.foreach { r =>
      val exact = (cents(r.getString(0)) * 1000000) / tot
      assert(BigInt(r.getAs[Long]("share_ppm")) == exact,
        s"${r.getString(0)}: ${r.getAs[Long]("share_ppm")} vs $exact")
    }
  }

  test("q121 weighted sample is deterministic and matches a local rank") {
    import org.apache.spark.sql.functions.col
    val run1 = SparkEntry.queries("q121_weighted_sample")(spark, sf).collect()
    val run2 = SparkEntry.queries("q121_weighted_sample")(spark, sf).collect()
    assert(run1.toSeq == run2.toSeq, "re-run must select the same sample")
    assert(run1.length == 20)
    assert(run1.map(_.getAs[Int]("rnk")).toSeq == (1 to 20))
    // local reference: same md5-52-bit / weight priority, ranked in plain
    // Scala over the collected corpus
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def u52(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString
        .take(13), 16)
    }
    val expect = docs.map { case (id, w) => (u52(id).toDouble / w, id) }
      .sorted.take(20).map(_._2).toSeq
    assert(run1.map(_.getAs[Long]("doc_id")).toSeq == expect)
  }

  test("q123 attribution matches a brute-force as-of join") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q123_last_touch_attribution")(spark, sf)
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("n_attributed"), r.getAs[Long]("attributed_cents")))
      .toMap
    val ev = Tables.load(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val byUser = ev.groupBy(_._1)
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
    for ((_, rows) <- byUser) {
      val sorted = rows.sortBy(r => (r._2.getTime, r._3))
      for (i <- sorted.indices if sorted(i)._4 == "purchase") {
        val prior = sorted.take(i).filter(_._4 == "click")
        if (prior.nonEmpty) {
          val click = prior.last
          if (sorted(i)._2.getTime - click._2.getTime <= 604800000L) {
            val day = new java.sql.Date(click._2.getTime).toString
            val cents = math.floor(sorted(i)._5 * 100).toLong
            val (n, c) = expect.getOrElse(day, (0L, 0L))
            expect(day) = (n + 1, c + cents)
          }
        }
      }
    }
    assert(got == expect.toMap, s"got=${got.size} expect=${expect.size}")
  }

  test("q124 sliding distinct matches per-bucket brute force") {
    val got = SparkEntry.queries("q124_sliding_distinct")(spark, sf)
      .collect()
      .map(r => r.getTimestamp(0).getTime -> r.getAs[Long]("users_24h"))
      .toMap
    val ev = Tables.load(spark, sf, "events")
      .select("ts", "user_id").collect()
      .map { r =>
        val t = r.getTimestamp(0).getTime
        (t - t % 3600000L, r.getLong(1)) // truncate to the hour (UTC)
      }
    val hours = ev.map(_._1).distinct
    val expect = hours.map { h =>
      h -> ev.filter(e => e._1 <= h && e._1 > h - 24L * 3600000L)
        .map(_._2).distinct.length.toLong
    }.toMap
    assert(got == expect)
  }

  test("q125 OHLC matches brute-force bars") {
    val got = SparkEntry.queries("q125_ohlc_downsample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getAs[Long]("n")))
      .toMap
    val ev = Tables.load(spark, sf, "events")
      .select("event_type", "ts", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
    val expect = ev.groupBy(e =>
      (e._1, new java.sql.Date(e._2.getTime).toString)).map { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._3))
      k -> (sorted.head._4, rs.map(_._4).max, rs.map(_._4).min,
        sorted.last._4, rs.length.toLong)
    }
    assert(got == expect)
  }
}
