package graft.txn

import org.apache.spark.sql.SparkSession

/** The reference's connector config surface (SURVEY.md Appendix A;
  * DeltaLakeConnectorConfig.java:60–99) re-expressed as source options:
  *
  *  - `tablePath` (required, non-empty)
  *  - `startingVersion`: number | "latest" (default "latest" when neither
  *    start option is set)
  *  - `startingTimestamp`: ISO-8601 instant, resolved through commit
  *    timestamps (strict: errors if before the first commit)
  *  - both start options set → error (the reference's XOR validation,
  *    :68–70 — which its empty validate() never actually enforced)
  *  - `includeHistory`: "true" → FULL_COPY snapshot first, else
  *    INCREMENTAL only (reference `includeHistoryData`)
  */
final case class CdcOptions(
    tablePath: String,
    startingVersion: Option[Long],
    startingTimestamp: Option[Long], // epoch millis
    includeHistory: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    partitionFilter: Option[Map[String, String]] = None) {

  /** Does a file's partitionValues pass the (conjunctive) filter? */
  def keepPartition(pv: Map[String, String]): Boolean =
    partitionFilter.forall(_.forall { case (k, v) => pv.get(k).contains(v) })

  /** Resolve the concrete start version against a table's log. */
  def resolveStartVersion(log: TxnLog): Long = {
    val versions = log.versions()
    val last = versions.lastOption.getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath"))
    startingVersion.map { v =>
      if (!versions.contains(v))
        throw new IllegalArgumentException(
          s"startingVersion $v does not exist in $tablePath " +
            s"(have ${versions.head}..$last)")
      v
    }.orElse(startingTimestamp.map(log.versionAtTimestamp))
      .getOrElse(last)
  }
}

object CdcOptions {

  def parse(opts: Map[String, String]): CdcOptions = {
    val tablePath = opts.getOrElse("tablePath",
      throw new IllegalArgumentException("tablePath is required"))
    if (tablePath.trim.isEmpty)
      throw new IllegalArgumentException("tablePath must be non-empty")

    val sv = opts.get("startingVersion").filter(_.nonEmpty)
    val st = opts.get("startingTimestamp").filter(_.nonEmpty)
    if (sv.isDefined && st.isDefined)
      throw new IllegalArgumentException(
        "startingVersion and startingTimestamp are mutually exclusive")

    // "latest" (or no start option at all) leaves startingVersion and
    // startingTimestamp both empty; resolveStartVersion then falls
    // through to the log's latest version
    val version = sv.filterNot(_ == "latest").map { s =>
      try s.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"startingVersion must be a number or 'latest', got '$s'")
      }
    }
    val ts = st.map { s =>
      try java.time.Instant.parse(s).toEpochMilli catch {
        case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"startingTimestamp must be ISO-8601 (e.g. 2021-09-29T20:17:46.384Z), got '$s'")
      }
    }
    def positiveLong(key: String): Option[Long] =
      opts.get(key).filter(_.nonEmpty).map { s =>
        val n =
          try s.toLong catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(s"$key must be a positive number, got '$s'")
          }
        if (n <= 0)
          throw new IllegalArgumentException(s"$key must be positive, got $n")
        n
      }

    CdcOptions(
      tablePath = tablePath,
      startingVersion = version,
      startingTimestamp = ts,
      includeHistory =
        opts.get("includeHistory").orElse(opts.get("includeHistoryData"))
          .exists(_.equalsIgnoreCase("true")),
      maxVersionsPerTrigger = positiveLong("maxVersionsPerTrigger"),
      maxFilesPerTrigger = positiveLong("maxFilesPerTrigger"),
      maxRowsPerTrigger = positiveLong("maxRowsPerTrigger"),
      // "col=val,col2=val2" — all pairs must match (file-level pruning)
      partitionFilter = opts.get("partitionFilter").filter(_.nonEmpty).map {
        s => s.split(',').map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => k -> v
            case _ => throw new IllegalArgumentException(
              s"partitionFilter must be col=value[,col=value...], got '$s'")
          }
        }.toMap
      })
  }

  /** Option-driven CDC read — the engine's `open(config)` equivalent. */
  def cdc(spark: SparkSession, opts: Map[String, String]) = {
    val o = parse(opts)
    val log = new TxnLog(o.tablePath, spark.sessionState.newHadoopConf())
    CdcReader.cdc(spark, o.tablePath, o.resolveStartVersion(log), o.includeHistory)
  }
}
