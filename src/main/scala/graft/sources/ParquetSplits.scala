package graft.sources

/** Byte-range splitting arithmetic shared by the batch DSv2 scan and the
  * streaming CDC/CDF sources: a file larger than
  * `spark.sql.files.maxPartitionBytes` plans as several range partitions
  * (pure byte arithmetic — no footer read at plan time), and each range
  * reader keeps the row groups whose MIDPOINT falls inside its range —
  * parquet-mr's own `filterFileMetaDataByMidpoint` contract, which
  * Spark's parquet reader applies, so every row group lands in exactly
  * one split however the footer lays them out. Row positions stay
  * file-absolute across splits: [[FileRows]] numbers rows by Spark's
  * row-index column, which counts from the start of the file.
  *
  * Without this, a multi-GB data file — a CONVERTed foreign lake's,
  * typically — reads as ONE task; with it, the same file reads as
  * size/maxPartitionBytes parallel tasks on a cluster.
  */
private[graft] object ParquetSplits {

  /** Whole-file sentinel range. */
  val WholeFile: (Long, Long) = (0L, Long.MaxValue)

  /** Byte ranges covering a file of `size` bytes under a `maxSplit`
    * budget. `size <= 0` (unknown — e.g. a RemoveFile action predating
    * size retention) or `maxSplit <= 0` plans the whole file as one
    * range: correctness never depends on splitting.
    */
  def ranges(size: Long, maxSplit: Long): Seq[(Long, Long)] =
    if (maxSplit <= 0 || size <= 0 || size <= maxSplit) Seq(WholeFile)
    else (0L until size by maxSplit)
      .map(s => (s, math.min(s + maxSplit, size)))
}
