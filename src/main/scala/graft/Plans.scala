package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan dumper for the optimization rounds: writes
  * `explain("formatted")` of each named query to <outDir>/<name>_<tag>.txt
  * so before/after plan claims are checkable without running Spark.
  *
  * args: <sfDir> <outDir> <tag> <queryName...>
  * Same session shape as Bench (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the captured plans match what the bench runs.
  * Exits non-zero, naming them, when any named query wrote no plan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.Plans <sfDir> <outDir> <tag> <queryName...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = names.filterNot { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        System.err.println(s"[plans] wrote $name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
        false
      }
      finally spark.catalog.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] no plan written for: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}
