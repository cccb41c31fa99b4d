package cdcbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row count and order-independent checksum of a set of rows, over the
  * whole set and over the rows that pass the workload's stats-prunable
  * filter (`k < filterKey`). The checksum is the sum over rows of the low
  * 32 bits of `xxhash64` of the row's five columns: exact as a BIGINT sum
  * below 2^31 rows, and cheap enough not to slow the reads it rides on.
  */
final case class Fig(n: Long, sum: Long, fn: Long, fsum: Long) {
  def +(o: Fig): Fig = Fig(n + o.n, sum + o.sum, fn + o.fn, fsum + o.fsum)
  def -(o: Fig): Fig = Fig(n - o.n, sum - o.sum, fn - o.fn, fsum - o.fsum)
  def all: (Long, Long) = (n, sum)
  def filtered: (Long, Long) = (fn, fsum)
}

object Fig {
  val Zero: Fig = Fig(0L, 0L, 0L, 0L)

  /** The checksum term of one row; `prefix` selects aliased columns. */
  def hash(prefix: String = ""): Column =
    xxhash64(Seq("k", "p", "a", "b", "c").map(c => col(prefix + c)): _*)
      .bitwiseAND(lit(0xffffffffL))

  /** A Spark aggregate as a Long; SUM over no rows is null. */
  def long(v: Any): Long = v match {
    case null => 0L
    case n: java.lang.Number => n.longValue
  }
}

/** Everything the benchmark feeds the engine, made from the seed.
  *
  * Rows are (k BIGINT key, p INT partition, a BIGINT, b DOUBLE, c STRING);
  * every non-key value is a hash of (key, salt), so a frame is fully
  * determined by its key set and salt. Keys below `w.rows` belong to the
  * starting table. Keys the timed phase adds (appends, MERGE inserts) are
  * partitioned in blocks of `appendRows` consecutive keys, so one append
  * lands in one partition (the next one in turn), as a time-ordered feed
  * would, and adds one file.
  */
final class Gen(spark: SparkSession, val w: Workload, val seed: Long) {
  import Gen._

  private val P = w.partitions
  private val Block = w.appendRows.toLong
  /** first key of the append key space (above every starting key) */
  val appendBase: Long = ((w.rows + Block * P - 1) / (Block * P)) * Block * P
  /** first key of the MERGE-insert key space (disjoint from appends) */
  val insertBase: Long = 1L << 40
  /** the stats-prunable filter is `k < filterKey` */
  val filterKey: Long = w.rows / (2L * P)

  def pOf(k: Column): Column = {
    val base = if (w.rangePartitioned) (k * P / w.rows) else pmod(k, lit(P.toLong))
    when(k < w.rows, base).otherwise(pmod(floor(k / lit(Block)), lit(P.toLong)))
      .cast("int")
  }

  def rows(keys: DataFrame, salt: Long): DataFrame = {
    val k = col("k")
    val s = seed * 1000003L + salt
    keys.select(k, pOf(k).as("p"),
      pmod(xxhash64(k, lit(s)), lit(1000000L)).as("a"),
      (pmod(xxhash64(k, lit(s + 1)), lit(100000L)) / 100.0).as("b"),
      concat(lit("v"), hex(xxhash64(k, lit(s + 2)))).as("c"))
  }

  private def keyRange(lo: Long, hi: Long, slices: Int): DataFrame =
    spark.range(lo, hi, 1, slices).select(col("id").as("k"))

  /** Rows of the i-th wide commit that builds the starting table. */
  def baseCommit(i: Int): DataFrame = {
    val lo = w.rows * i / w.commits
    val hi = w.rows * (i + 1) / w.commits
    rows(keyRange(lo, hi, w.tasksPerCommit), 0L)
  }

  /** The j-th small append batch (keys never seen before). */
  def appendBatch(j: Long): DataFrame = {
    val lo = appendBase + j * w.appendRows
    rows(keyRange(lo, lo + w.appendRows, 1), 1000L + j)
  }

  /** The j-th MERGE source: skewed updates of hot keys plus new keys.
    * Hot keys are drawn as floor(H * u^3) over the first H keys (u uniform
    * from a hash), so a few keys are hit by most MERGEs; duplicates
    * collapse, so every source key is unique.
    */
  def mergeSource(j: Long): DataFrame = {
    val nNew = (w.mergeKeys * MergeNewShare).toLong
    val u = pmod(xxhash64(col("id"), lit(seed), lit(j)), lit(1000000000L)) / 1e9
    val hot = spark.range(0, w.mergeKeys - nNew, 1, 1)
      .select(floor(pow(u, 3.0) * hotKeys).cast("long").as("k"))
      .distinct()
    val lo = insertBase + j * w.mergeKeys
    rows(keyRange(lo, lo + nNew, 1).union(hot), 2000000L + j)
  }

  /** size of the MERGE hot region, in keys */
  def hotKeys: Long = w.mergeKeys * 4L

  /** Key predicate of the j-th UPDATE/DELETE range: disjoint ranges of
    * `w.dmlKeys` starting keys after the hot region, cycling through them.
    */
  def dmlPredicate(j: Long): String = {
    val slots = (w.rows - hotKeys) / w.dmlKeys
    val lo = hotKeys + (j % slots) * w.dmlKeys
    s"k >= $lo AND k < ${lo + w.dmlKeys}"
  }
}

object Gen {
  val MergeNewShare = 0.25

  /** Aggregates of one Fig over the rows where `present` holds, on the
    * columns named with `prefix`.
    */
  def figCols(filterKey: Long, prefix: String = "", present: Column = lit(true)): Seq[Column] = {
    val h = Fig.hash(prefix)
    val f = present && col(prefix + "k") < filterKey
    Seq(sum(when(present, 1L).otherwise(0L)), sum(when(present, h)),
      sum(when(f, 1L).otherwise(0L)), sum(when(f, h)))
  }

  def figsOf(df: DataFrame, cols: Seq[Seq[Column]]): Seq[Fig] = {
    val all = cols.flatten
    val r = df.agg(all.head, all.tail: _*).head()
    cols.indices.map(i => Fig(Fig.long(r.get(4 * i)), Fig.long(r.get(4 * i + 1)),
      Fig.long(r.get(4 * i + 2)), Fig.long(r.get(4 * i + 3))))
  }

  def figOf(df: DataFrame, filterKey: Long): Fig = figsOf(df, Seq(figCols(filterKey))).head
}

/** The table's expected content, kept as plain Spark data outside the
  * engine. Each engine write is applied to it with ordinary joins and
  * filters; the figures of what changed come from the same frames.
  */
final class Model(spark: SparkSession, gen: Gen) {
  private val fk = gen.filterKey
  private var state: DataFrame = _
  var fig: Fig = Fig.Zero

  def init(base: DataFrame): Unit = {
    state = base.localCheckpoint(eager = true)
    fig = Gen.figOf(state, fk)
  }

  private def fix(df: DataFrame): Unit = {
    val old = state
    state = df.localCheckpoint(eager = true)
    Model.free(old)
  }

  def release(): Unit = { Model.free(state); state = null }

  /** Rows appended as-is. Returns their figure. */
  def append(batch: DataFrame): Fig = {
    val f = Gen.figOf(batch, fk)
    state = state.unionByName(batch) // the next DML checkpoints the union
    fig = fig + f
    f
  }

  /** MERGE (update matched keys, insert the rest): (pre, post, insert),
    * from one full outer join of the state with the source.
    */
  def merge(src: DataFrame): (Fig, Fig, Fig) = {
    val s = src.localCheckpoint(eager = true)
    def side(df: DataFrame, pre: String) =
      df.select(df.columns.map(c => col(c).as(pre + c)): _*)
    val j = side(state, "o_").join(side(s, "n_"), col("o_k") === col("n_k"), "full_outer")
    val matched = col("o_k").isNotNull && col("n_k").isNotNull
    val Seq(pre, post, ins) = Gen.figsOf(j, Seq(Gen.figCols(fk, "o_", matched),
      Gen.figCols(fk, "n_", matched), Gen.figCols(fk, "n_", col("o_k").isNull)))
    fix(state.join(s.select("k"), Seq("k"), "left_anti").unionByName(s))
    Model.free(s)
    fig = fig - pre + post + ins
    (pre, post, ins)
  }

  /** UPDATE ... SET a = a + 1 WHERE pred: (pre, post). */
  def update(pred: String): (Fig, Fig) = {
    val hit = state.where(pred).select(col("*"), (col("a") + 1L).as("n_a"))
      .select(col("k"), col("p"), col("a"), col("b"), col("c"),
        col("k").as("n_k"), col("p").as("n_p"), col("n_a"), col("b").as("n_b"),
        col("c").as("n_c"))
    val Seq(pre, post) = Gen.figsOf(hit, Seq(Gen.figCols(fk), Gen.figCols(fk, "n_")))
    fix(state.withColumn("a", when(expr(pred), col("a") + 1L).otherwise(col("a"))))
    fig = fig - pre + post
    (pre, post)
  }

  /** DELETE WHERE pred: the deleted rows. */
  def delete(pred: String): Fig = {
    val del = Gen.figOf(state.where(pred), fk)
    fix(state.where(s"NOT ($pred)"))
    fig = fig - del
    del
  }
}

object Model {
  /** Drop the blocks behind locally checkpointed frames in `df`'s plan,
    * so retained heap at the end of a run does not depend on when Spark's
    * cleaner gets to them.
    */
  def free(df: DataFrame): Unit = if (df != null)
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
