package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reads one CDC file event through the stream's [[FileRows]]: the rows
  * in the event's resume bounds, deletion-vector filtered (dead rows stay
  * dead; a DV transition emits only its own kills), behind the CDC
  * envelope — or, for the `readStream.table` tail (`envelope = false`),
  * bare payload rows. Partition-column values come from the log's
  * partitionValues (hive-dir style), cast to the declared type.
  */
private[sources] class CdcPartitionReaderFactory(rows: FileRows,
    envelope: Boolean) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case f: CdcFilePartition =>
        val payload = rows.columns(f.partitionValues)
        val out =
          if (!envelope) payload
          else Array[FileRows.Out](
            FileRows.Value(UTF8String.fromString(f.op)),
            FileRows.Value(UTF8String.fromString(f.partitionValue)),
            FileRows.Value(f.ts), FileRows.Value(f.version)) ++ payload
        rows.open(f.filePath, (f.rangeStart, f.rangeEnd), f.size, out,
          dv = f.dv, skipRows = f.skipRows, untilRow = f.untilRow)
      case m: CdcMetaPartition =>
        new CdcMetaReader(m, GraftCdc.EnvelopeCols + rows.readSchema.length)
    }
}

private[sources] class CdcMetaReader(p: CdcMetaPartition, width: Int)
    extends PartitionReader[InternalRow] {
  private var emitted = false
  override def next(): Boolean = if (emitted) false else { emitted = true; true }
  override def get(): InternalRow = {
    val row = new Array[Any](width)
    row(0) = UTF8String.fromString("m")
    row(1) = UTF8String.fromString("")
    row(2) = 0L
    row(3) = p.version
    new GenericInternalRow(row)
  }
  override def close(): Unit = ()
}

/** Hive partition values (the log's strings) as Spark internal values. */
private[sources] object GroupRows {

  def castPartitionValue(s: String, dt: DataType): Any = dt match {
    // TableWriter encodes a null partition value as the hive sentinel
    // (TableWriter.scala:44); reading it back must yield null — matching
    // Spark's hive partition inference — not the literal string (or a
    // NumberFormatException for numeric partition columns).
    case _ if s == "__HIVE_DEFAULT_PARTITION__" => null
    case StringType => UTF8String.fromString(s)
    case IntegerType => s.toInt
    case LongType => s.toLong
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case d: DecimalType =>
      Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
    // Spark's partition inference types `dt=2024-01-01` directories as
    // DateType (CONVERT surfaces those); internally a date is days since
    // epoch — LocalDate.parse is zone-free, exactly the inference parse
    case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case other => throw new UnsupportedOperationException(
      s"partition column type $other not supported")
  }
}
