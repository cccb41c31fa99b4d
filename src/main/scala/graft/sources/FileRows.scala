package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.{CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.longlong.Roaring64Bitmap

/** The one parquet partition reader behind `graft`, `graft-cdc` and
  * `graft-cdf`: Spark's own parquet reader — vectorized where the schema
  * allows, the reader [[graft.txn.SnapshotReader]] and
  * [[graft.txn.CdcReader]] run — built ONCE per scan or stream instance,
  * where the query is planned, and applied per file on the executors. Type
  * widening, columns a file predates, decimals of every precision,
  * nested types and column-mapped (physical) names all resolve inside
  * Spark's reader. This class adds what the log knows and the file
  * does not:
  *
  *  - every row carries its FILE-ABSOLUTE position (Spark's row-index
  *    column), also across byte-range splits, so deletion vectors,
  *    resume offsets and base+position row ids never depend on how a
  *    file was split;
  *  - a deletion-vector bitmap, shipped with the split, drops dead rows
  *    (counted in the scan's `dvDroppedRows` metric), or keeps only the
  *    rows that died at one version;
  *  - mid-file resume bounds `[skipRows, untilRow)` and a pushed limit;
  *  - each output column is a column as read, a per-file constant (hive
  *    partition value, CDC envelope, CDF trailer, file path), the row's
  *    position, or its row id.
  *
  * `readSchema` spells columns as the files do (physical names).
  */
private[sources] final class FileRows private (
    val readSchema: StructType,
    read: PartitionedFile => Iterator[InternalRow],
    conf: Broadcast[SerializableConfiguration]) extends Serializable {
  import FileRows._

  private val types: Array[DataType] = readSchema.fields.map(_.dataType)
  private val posIdx = readSchema.length

  /** Output slots of the read columns for a file whose log entry records
    * hive partition values `pv`: partition columns live in the log, not
    * the file (a column the log records no value for — an older
    * partition spec — reads from the file).
    */
  def columns(pv: Map[String, String]): Array[Out] =
    readSchema.fields.zipWithIndex.map { case (f, i) =>
      pv.get(f.name) match {
        case Some(v) => Value(GroupRows.castPartitionValue(v, f.dataType))
        case None => Read(i)
      }
    }

  /** Rows of one file's byte `range` (the whole-file sentinel or a
    * [[ParquetSplits.ranges]] split), projected to `out`. `size` is the
    * logged file size; an unknown one (a pre-size-retention remove logs
    * none) is looked up where the reader runs. `where` keeps rows whose
    * read column equals the given internal value.
    */
  def open(
      path: String,
      range: (Long, Long),
      size: Long,
      out: Array[Out],
      dv: Option[Dv] = None,
      skipRows: Long = 0L,
      untilRow: Long = -1L,
      limit: Int = -1,
      where: Seq[(Int, Any)] = Nil): PartitionReader[InternalRow] = {
    val file = new Path(path)
    val fileSize =
      if (size > 0) size
      else file.getFileSystem(conf.value.value).getFileStatus(file).getLen
    val (start, end) = range
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file),
      start, math.min(end, fileSize) - start, Array.empty, 0L, fileSize))
    val mask = dv.map(_.rows).orNull
    val onlyDead = dv.exists(_.onlyDead)

    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      private var pos = -1L
      private var emitted = 0L
      private var dropped = 0L

      override def next(): Boolean = {
        if (limit >= 0 && emitted >= limit) return false
        while (rows.hasNext) {
          row = rows.next()
          pos = row.getLong(posIdx)
          // positions ascend within a range: past the bound, nothing follows
          if (untilRow >= 0 && pos >= untilRow) return false
          if (pos >= skipRows) {
            if (mask != null && mask.contains(pos) != onlyDead) {
              if (!onlyDead) dropped += 1
            } else if (where.forall { case (i, want) => want == valueAt(i) }) {
              emitted += 1
              return true
            }
          }
        }
        false
      }

      // a task reading several splits (key-grouped partitions) carries
      // the count from reader to reader
      override def initMetricsValues(metrics: Array[CustomTaskMetric]): Unit =
        metrics.find(_.name == DvDroppedRows.Name).foreach(m => dropped = m.value)

      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(new CustomTaskMetric {
          override def name(): String = DvDroppedRows.Name
          override def value(): Long = dropped
        })

      private def valueAt(i: Int): Any =
        if (row.isNullAt(i)) null else row.get(i, types(i))

      override def get(): InternalRow = {
        val values = new Array[Any](out.length)
        var i = 0
        while (i < out.length) {
          values(i) = out(i) match {
            case Read(j) => valueAt(j)
            case Value(v) => v
            case Pos => pos
            case RowId(j, base) =>
              // a physical id column (an id-preserving rewrite) wins
              if (!row.isNullAt(j)) row.getLong(j)
              else base match {
                case Some(b) => b + pos
                case None => null
              }
          }
          i += 1
        }
        new GenericInternalRow(values)
      }

      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}

private[sources] object FileRows {

  /** Where one output column's value comes from. */
  sealed trait Out extends Serializable
  /** The `i`-th column of the read schema. */
  final case class Read(i: Int) extends Out
  /** A per-file constant (internal representation). */
  final case class Value(v: Any) extends Out
  /** The row's raw position in its file (deletion-vector skips never
    * renumber — the identity the sidecars key on).
    */
  case object Pos extends Out
  /** The stable row id: read column `i` when the file carries it, else
    * `base` + position, else null.
    */
  final case class RowId(i: Int, base: Option[Long]) extends Out

  /** A file's deletion-vector mask, loaded where the partitions are
    * planned ([[graft.txn.DeletionVectors.masks]]): by default the
    * positions in `rows` are dropped; with `onlyDead` only they are kept
    * (the rows that died at one version).
    */
  final case class Dv(rows: Roaring64Bitmap, onlyDead: Boolean = false)

  def apply(spark: SparkSession, readSchema: StructType,
      hadoopConf: Configuration): FileRows = {
    // read nullable, as Spark reads any file source: a column the file
    // lacks (a partition column, a later-added field) reads as null.
    // Spark's parquet reader fills the last column with row positions.
    val withPos = asNullable(readSchema).add(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, withPos, new StructType(), withPos, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(hadoopConf))
    new FileRows(readSchema, read, spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf)))
  }

  /** `schema` with every field nullable, nested ones too: what a file
    * reader can promise once files predate columns or nested fields.
    */
  def asNullable(schema: StructType): StructType =
    nullable(schema).asInstanceOf[StructType]

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), true)
    case other => other
  }

  /** The readers of one stream instance, one per distinct read schema (a
    * column-mapping change between triggers moves physical names):
    * built on first use, not once per trigger.
    */
  final class PerSchema(spark: SparkSession, hadoopConf: Configuration) {
    private val built = scala.collection.mutable.HashMap.empty[StructType, FileRows]
    def apply(readSchema: StructType): FileRows = synchronized {
      built.getOrElseUpdate(readSchema, FileRows(spark, readSchema, hadoopConf))
    }
  }
}

/** Rows a scan's deletion vectors dropped, summed over its readers. */
final class DvDroppedRows extends CustomSumMetric {
  override def name(): String = DvDroppedRows.Name
  override def description(): String = "rows dropped by deletion vectors"
}

object DvDroppedRows {
  val Name = "dvDroppedRows"
}
