package graft.sources

import graft.txn.{CdcFile, ChangeDataFeed}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  Literal, UnsafeProjection}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** What the change-row writers of one statement share, prepared once on
  * the driver: the sidecar layout of [[ChangeDataFeed.stage]] — the
  * table's `columns`, then [[ChangeDataFeed.TypeCol]], then one
  * `_cdp_<p>` shadow column per partition column, which splits the
  * files per changed partition and leaves them (the real partition
  * columns stay inside the files) — written flat under `_change_data/`
  * with `version`'s name stem, through the session codec and INT64
  * `TIMESTAMP_MICROS` of every task writer.
  */
private[graft] case class ChangeRows(files: TaskFiles, columns: StructType,
    stem: String) {

  /** A task's writer over input rows whose `columns` sit at `ordinals`. */
  def writer(partitionId: Int, taskId: Long,
      ordinals: Seq[Int] = columns.indices): ChangeRows.Writer =
    new ChangeRows.Writer(this, ordinals, partitionId, taskId)
}

private[graft] object ChangeRows {
  private val Shadow = "_cdp_"

  def prepare(tablePath: String, columns: StructType,
      partitionColumns: Seq[String], version: Long): ChangeRows = {
    val parts = partitionColumns.filter(columns.fieldNames.contains)
    val schema = StructType(columns.fields ++
      (StructField(ChangeDataFeed.TypeCol, StringType, nullable = false) +:
        parts.map(c => columns(c).copy(name = Shadow + c))))
    ChangeRows(TaskFiles.prepare(tablePath, schema, parts.map(Shadow + _),
      sidecarDir = Some("_change_data")), columns, stem(version))
  }

  /** Delete sidecars of a statement that does not commit (they are
    * invisible: no log commit names them).
    */
  def drop(tablePath: String, conf: org.apache.hadoop.conf.Configuration,
      written: Seq[CdcFile]): Unit =
    written.foreach { c =>
      val p = new Path(tablePath, c.path)
      try p.getFileSystem(conf).delete(p, false)
      catch { case _: java.io.IOException => () } // an orphan vacuum sweeps
    }

  /** Sidecar names carry the version they commit at (vacuum keeps a
    * sidecar while that version is in the log).
    */
  def stem(version: Long): String = f"cd-$version%020d"

  /** `c` renamed to commit at `version`: the file moves and the action
    * follows it.
    */
  def renamed(tablePath: String, conf: org.apache.hadoop.conf.Configuration,
      c: CdcFile, version: Long): CdcFile = {
    val name = new Path(c.path).getName
    val to = s"${new Path(c.path).getParent}/${stem(version)}" +
      name.substring(stem(0L).length)
    val fs = new Path(tablePath).getFileSystem(conf)
    if (!fs.rename(new Path(tablePath, c.path), new Path(tablePath, to)))
      throw new java.io.IOException(
        s"could not rename change-data sidecar ${c.path} to $to at $tablePath")
    c.copy(path = to)
  }

  /** One task's change rows. The file of a changed partition opens on its
    * first row, so a task with no change row writes nothing.
    */
  final class Writer private[ChangeRows] (rows: ChangeRows, ordinals: Seq[Int],
      partitionId: Int, taskId: Long) {
    import rows.{columns, files}
    private var out: GraftStreamingDataWriter = _
    private val projections =
      scala.collection.mutable.HashMap.empty[String, UnsafeProjection]
    private val read: Seq[Expression] = columns.fields.toSeq.zip(ordinals).map {
      case (f, i) => BoundReference(i, f.dataType, nullable = true)
    }
    private val shadows: Seq[Expression] = files.partitionColumns.map(s =>
      read(columns.fieldIndex(s.stripPrefix(Shadow))))

    /** Write `row` as a change row of type `kind`. */
    def write(row: InternalRow, kind: String): Unit = {
      if (out == null)
        out = new GraftStreamingDataWriter(files, rows.stem, partitionId, taskId)
      out.write(projections.getOrElseUpdate(kind, UnsafeProjection.create(
        (read :+ Literal(UTF8String.fromString(kind), StringType)) ++ shadows))(
        row))
    }

    /** Close the files and return their actions, each carrying the
      * partition values of its shadow dir.
      */
    def committed(): Seq[CdcFile] =
      if (out == null) Nil else out.committed().map(ChangeDataFeed.cdcFile)

    def abort(): Unit = if (out != null) out.abort()

    def close(): Unit = if (out != null) out.close()
  }
}
