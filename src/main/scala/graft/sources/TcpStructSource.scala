package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S6: CAN-over-TCP packed binary struct source. The reference declares
  * (but never wires) this packet on `/root/reference/src/tcpstream.h:7-14`:
  *
  * {{{
  * #pragma pack(push, 1)
  * struct CanTcpPacket {          // 32 bytes, little-endian x86 layout:
  *     can_frame frame;           //   0: u32 can_id, 4: u8 dlc,
  *                                //   5-7 pad, 8-15: u8 data[8]
  *     double epoch;              //  16: IEEE-754 LE epoch seconds
  *     long int packetID;         //  24: LE i64 sequence number
  * };
  * }}}
  *
  * This source completes the dormant surface: a DataSource V2 micro-batch
  * stream that connects to `host:port`, reads fixed 32-byte records, and
  * emits each as ONE `packet: binary` row. The driver ingests the
  * (inherently single-point) capture stream and stays THIN — all struct
  * decoding happens executor-side in whole-stage codegen
  * ([[graft.streaming.CanStream.framesFromTcpStruct]] unpacks id/dlc/
  * data/epoch with column expressions and the
  * [[graft.plans.LongBitsToDouble]] reinterpret), the same split as
  * [[ProcessSource]]. Same offset/commit/admission contract as
  * [[ProcessSource]] too: offsets are packet counts of this connection's
  * lifetime, `maxPacketsPerTrigger` bounds micro-batch admission, and
  * checkpoints from a previous connection fail fast rather than silently
  * replaying packets this connection never saw.
  */
class TcpStructSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "can-tcp-struct"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpStructSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new TcpStructTable(opts.get("host"), opts.getInt("port", -1),
      opts.getLong("maxPacketsPerTrigger", Long.MaxValue))
  }
}

object TcpStructSource {
  /** One 32-byte CanTcpPacket per row; decode is the reader's plan. */
  val Schema: StructType = StructType(Seq(StructField("packet", BinaryType)))
  val PacketBytes = 32
}

private[sources] class TcpStructTable(host: String, port: Int,
    maxPacketsPerTrigger: Long) extends Table with SupportsRead {
  require(host != null && host.nonEmpty, "option 'host' is required")
  require(port > 0 && port <= 65535, s"option 'port' invalid: $port")
  require(maxPacketsPerTrigger > 0, "maxPacketsPerTrigger must be positive")
  override def name(): String = s"can-tcp-struct($host:$port)"
  override def schema(): StructType = TcpStructSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = TcpStructSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new TcpStructMicroBatchStream(host, port, maxPacketsPerTrigger)
    }
}

/** Ingest loop + socket lifecycle only; offsets/admission/commit live
  * in [[CountOffsetMicroBatchStream]] (shared with the process bridge).
  */
private[sources] class TcpStructMicroBatchStream(host: String, port: Int,
    maxPacketsPerTrigger: Long)
    extends CountOffsetMicroBatchStream[Array[Byte]](
      maxPacketsPerTrigger, "connection") {

  private var socket: java.net.Socket = _

  override protected def open(): Unit = {
    socket = new java.net.Socket(host, port)
    val readerThread = new Thread(() => {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(socket.getInputStream))
      try {
        var eof = false
        while (!eof) {
          val pkt = new Array[Byte](TcpStructSource.PacketBytes)
          try {
            in.readFully(pkt) // blocks until 32 bytes or EOF
            ingest(pkt)
          } catch {
            // EOFException: a trailing partial record (or clean close)
            // — drop it, exactly like the candump parser's 5-bad-line
            // EOF tolerance drops a torn tail line
            case _: java.io.EOFException => eof = true
          }
        }
      } catch { case _: java.io.IOException => () /* socket closed */ }
    }, s"graft-tcp-struct-source($host:$port)")
    readerThread.setDaemon(true)
    readerThread.start()
  }

  override protected def close(): Unit = socket.close()

  override protected def partition(slice: Array[Array[Byte]]): InputPartition =
    PacketsPartition(slice)

  override def createReaderFactory(): PartitionReaderFactory = PacketsReaderFactory
}

private[sources] case class PacketsPartition(packets: Array[Array[Byte]])
    extends InputPartition

private[sources] object PacketsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val packets = partition.asInstanceOf[PacketsPartition].packets
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < packets.length }
      override def get(): InternalRow = InternalRow(packets(i))
      override def close(): Unit = ()
    }
  }
}
