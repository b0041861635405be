package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S2 bridge source: a DataSource V2 micro-batch stream that spawns a
  * bridge process and streams its stdout lines.
  *
  * The reference's live mode binds a PF_CAN raw socket
  * (`/root/reference/src/inputs/socketInput.cpp:16-62`); a JVM cannot open
  * `AF_CAN` portably, and the reference itself documents remote capture as
  * `candump | nc` (`/root/reference/README.md:52-55`). This source runs that
  * bridge as a child process — `candump -L can0` on a machine with the
  * interface, or any command emitting candump-format lines — and feeds its
  * stdout into Structured Streaming micro-batches:
  *
  * {{{
  * spark.readStream
  *   .format("graft.sources.ProcessSource")   // or short name "candump-process"
  *   .option("command", "candump -L can0")
  *   .load()                                   // → (value: string)
  * }}}
  *
  * then [[graft.can.CandumpParser.parseLines]] → [[graft.can.SignalDecoder]]
  * exactly like the socket/file paths.
  *
  * Same delivery contract as Spark's own socket source: the driver ingests
  * the (inherently single-point) capture stream, buffers rows per offset
  * range, and prunes committed batches; executors parse/decode in parallel
  * downstream. A capture point is one interface — the 100 TB design is many
  * such sources (one per interface/vehicle) unioned, each a thin driver
  * thread, with ALL heavy work (regex parse, decode, bucketing) in the
  * distributed plan.
  */
class ProcessSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "candump-process"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProcessSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ProcessTable(opts.get("command"),
      opts.getLong("maxLinesPerTrigger", Long.MaxValue))
  }
}

object ProcessSource {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))
}

private[sources] class ProcessTable(command: String, maxLinesPerTrigger: Long)
    extends Table with SupportsRead {
  require(command != null && command.nonEmpty, "option 'command' is required")
  require(maxLinesPerTrigger > 0, "maxLinesPerTrigger must be positive")
  override def name(): String = s"process($command)"
  override def schema(): StructType = ProcessSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = ProcessSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ProcessMicroBatchStream(command, maxLinesPerTrigger)
    }
}

/** Ingest loop + process lifecycle only; offsets/admission/commit live
  * in [[CountOffsetMicroBatchStream]] (shared with the TCP struct
  * source).
  */
private[sources] class ProcessMicroBatchStream(command: String,
    maxLinesPerTrigger: Long = Long.MaxValue)
    extends CountOffsetMicroBatchStream[String](maxLinesPerTrigger, "run") {

  private var process: Process = _

  override protected def open(): Unit = {
    val pb = new ProcessBuilder(command.split("\\s+"): _*)
    // stderr goes straight to the driver's stderr: diagnostics stay
    // visible and the child can never block on a full stderr pipe
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    process = pb.start()
    val readerThread = new Thread(() => {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        process.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      try {
        var line = r.readLine()
        while (line != null) {
          ingest(line)
          line = r.readLine()
        }
      } catch { case _: java.io.IOException => () /* process killed */ }
    }, s"graft-process-source(${command.take(32)})")
    readerThread.setDaemon(true)
    readerThread.start()
  }

  override protected def close(): Unit = process.destroy()

  override protected def partition(slice: Array[String]): InputPartition =
    LinesPartition(slice)

  override def createReaderFactory(): PartitionReaderFactory = LinesReaderFactory
}

private[sources] case class LinesPartition(lines: Array[String]) extends InputPartition

private[sources] object LinesReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition.asInstanceOf[LinesPartition].lines
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < lines.length }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(lines(i)))
      override def close(): Unit = ()
    }
  }
}
