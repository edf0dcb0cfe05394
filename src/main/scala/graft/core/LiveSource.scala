package graft.core

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The registered provider of a live `readStream` source: one
  * micro-batch-only table with the envelope schema, named
  * `format:<nameKeys' values>`, whose scan hands the table's options merged
  * with the read's own to `stream`.
  */
abstract class LiveSource(format: String, nameKeys: Seq[String],
    stream: CaseInsensitiveStringMap => MicroBatchStream)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new Table with SupportsRead {
      override def name(): String =
        (format +: nameKeys.map(k => options.get(k))).mkString(":")
      override def schema(): StructType = Envelope.schema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
        val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
        merged.putAll(opts.asCaseSensitiveMap())
        val all = new CaseInsensitiveStringMap(merged)
        () => new Scan {
          override def readSchema(): StructType = Envelope.schema
          override def toMicroBatchStream(loc: String): MicroBatchStream =
            stream(all)
        }
      }
    }
  }
}

/** The executor half of a live source: each input partition opens as an
  * iterator of messages plus the resource to close after it, read out as
  * envelope rows. Implemented by one serializable object per source.
  */
abstract class MessageReaders[P <: InputPartition] extends PartitionReaderFactory {
  def open(p: P): (Iterator[SeaMessage], AutoCloseable)

  final override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val (it, resource) = open(p.asInstanceOf[P])
    new PartitionReader[InternalRow] {
      private var current: SeaMessage = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = Envelope.toInternalRow(current)
      override def close(): Unit = resource.close()
    }
  }
}
