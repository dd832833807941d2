package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, Dictionary, OnHeapColumnVector}
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.ysb.Model

/** Deterministic replay source as a full DataSourceV2 MicroBatchStream —
  * the reference's in-memory replay source (S3, [sbx/Unbounded.h:1042-1188])
  * rebuilt as a first-class Spark streaming source:
  *
  * {{{
  * spark.readStream.format("graft.sources.ReplaySourceProvider")
  *   .option("totalRows", "100000").option("rowsPerBatch", "10000")
  *   .option("numPartitions", "8").load()
  * }}}
  *
  * Emits the YSB Event schema with the same arithmetic as
  * [[graft.ysb.Gen.boundedEvents]] (row i is a pure function of i), so runs
  * are exactly reproducible: offsets are row counts, each micro-batch is a
  * half-open row range, and each range splits into `numPartitions` stripes
  * generated independently on executors — no driver data, no replay buffer,
  * scales to any rate by construction.
  *
  * Stripes are read as columnar batches of up to 4096 rows
  * ([[ReplayBatchReader]]): no row object per event, and Spark's scan
  * metrics update once per batch instead of once per row. The plan reads
  * them through `ColumnarToRow`.
  */
class ReplaySourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Model.eventSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReplayTable(new CaseInsensitiveStringMap(properties))
}

final class ReplayTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_replay"
  override def schema(): StructType = Model.eventSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = Model.eventSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ReplayMicroBatchStream(
          totalRows = o.getLong("totalRows", 100000L),
          rowsPerBatch = o.getLong("rowsPerBatch", 10000L),
          numPartitions = o.getInt("numPartitions", 4))
    }
}

/** Offset = number of rows emitted so far. */
final case class ReplayOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

final case class ReplayRange(start: Long, end: Long) extends InputPartition

final class ReplayMicroBatchStream(totalRows: Long, rowsPerBatch: Long,
    numPartitions: Int) extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = ReplayOffset(0L)
  // advance one rowsPerBatch-sized range per trigger until exhausted, from
  // the batch's start offset, which after a restart is the checkpoint's
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    ReplayOffset(math.min(totalRows, start.asInstanceOf[ReplayOffset].rows + rowsPerBatch))
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): Offset = ReplayOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ReplayOffset].rows
    val hi = end.asInstanceOf[ReplayOffset].rows
    val n = hi - lo
    if (n <= 0) Array.empty
    else {
      val per = math.max(1L, (n + numPartitions - 1) / numPartitions)
      (lo until hi by per).map(s => ReplayRange(s, math.min(hi, s + per))).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = ReplayReaderFactory
}

/** Columnar-only reader factory: each stripe fills one reused batch. */
object ReplayReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("the replay source reads columnar batches only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new ReplayBatchReader(partition.asInstanceOf[ReplayRange])
}

/** Rows [lo, hi) of one stripe as reused batches of up to `BatchRows`
  * rows. Row i has the same values as row i of Gen.boundedEvents: the
  * three constant columns are constant vectors, the other string columns
  * are dictionary ids into precomputed byte tables, and event_time is
  * base + i ms. */
final class ReplayBatchReader(range: ReplayRange) extends PartitionReader[ColumnarBatch] {
  import ReplayBatchReader._

  private def constant(v: String) = {
    val c = new ConstantColumnVector(BatchRows, StringType)
    c.setUtf8String(UTF8String.fromString(v))
    c
  }
  private def encoded(values: Seq[String]) = {
    val c = new OnHeapColumnVector(BatchRows, StringType)
    c.setDictionary(new BytesDictionary(values))
    c.reserveDictionaryIds(BatchRows)
    c
  }
  private val adId = encoded((0 until NAds).map(a => s"ad$a"))
  private val adType = encoded(Model.adTypes)
  private val eventType = encoded(Model.eventTypes)
  private val eventTime = new OnHeapColumnVector(BatchRows, TimestampType)
  private val batch = new ColumnarBatch(Array[ColumnVector](constant("user0"),
    constant("page0"), adId, adType, eventType, eventTime, constant("255.255.255.255")))
  private val adIds = adId.getDictionaryIds
  private val adTypeIds = adType.getDictionaryIds
  private val eventTypeIds = eventType.getDictionaryIds
  private var pos = range.start

  override def next(): Boolean = {
    if (pos >= range.end) return false
    val n = math.min(BatchRows.toLong, range.end - pos).toInt
    // cyclic indexes instead of a modulo per row
    var ad = (pos % NAds).toInt
    var at = (pos % NAdTypes).toInt
    var et = (pos % NEventTypes).toInt
    var r = 0
    while (r < n) {
      adIds.putInt(r, ad)
      adTypeIds.putInt(r, at)
      eventTypeIds.putInt(r, et)
      eventTime.putLong(r, BaseUs + (pos + r) * 1000L)
      ad += 1; if (ad == NAds) ad = 0
      at += 1; if (at == NAdTypes) at = 0
      et += 1; if (et == NEventTypes) et = 0
      r += 1
    }
    batch.setNumRows(n)
    pos += n
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}

/** The formulas of Gen.boundedEvents as constants and tables. */
object ReplayBatchReader {
  val BatchRows = 4096
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val NAds = 1000
  private val NAdTypes = Model.adTypes.size
  private val NEventTypes = Model.eventTypes.size

  /** A string column's values by dictionary id. */
  private final class BytesDictionary(values: Seq[String]) extends Dictionary {
    private val bytes = values.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    override def decodeToBinary(id: Int): Array[Byte] = bytes(id)
    override def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    override def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    override def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    override def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
  }
}
