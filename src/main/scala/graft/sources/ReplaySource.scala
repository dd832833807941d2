package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val ReplayRange(lo, hi) = partition.asInstanceOf[ReplayRange]
      new PartitionReader[InternalRow] {
        private var i = lo - 1
        override def next(): Boolean = { i += 1; i < hi }
        override def get(): InternalRow = ReplayGen.row(i)
        override def close(): Unit = ()
      }
    }
}

/** Row i as a pure function of i — the same formulas as Gen.boundedEvents. */
object ReplayGen {
  private val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val nAds = 1000L
  private val user = UTF8String.fromString("user0")
  private val page = UTF8String.fromString("page0")
  private val ip = UTF8String.fromString("255.255.255.255")
  private val adTypes = Model.adTypes.map(UTF8String.fromString).toArray
  private val eventTypes = Model.eventTypes.map(UTF8String.fromString).toArray

  def row(i: Long): InternalRow = new GenericInternalRow(Array[Any](
    user, page,
    UTF8String.fromString("ad" + (i % nAds)),
    adTypes((i % adTypes.length).toInt),
    eventTypes((i % eventTypes.length).toInt),
    baseUs + i * 1000L,
    ip))
}
