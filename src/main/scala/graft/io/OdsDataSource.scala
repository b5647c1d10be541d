package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one read path from an .ods file to a DataFrame, a DataSource V2
  * source over [[OdsReader]]'s parse (SURVEY.md §7.4 #3):
  * `spark.read.format("ods").load(path)` — schema inference (positional
  * all-string _c0.._cN, ragged rows null-padded), one input partition
  * per file (spreadsheets are small; the DSv2 value is catalog/format
  * integration, with many files parallelizing across tasks, not
  * splitting within one zip).
  */
class OdsDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "ods"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("ods source requires a path"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val rows = OdsReader.readRowsCached(path(options))
    val width = if (rows.isEmpty) 0 else rows.map(_.size).max
    StructType((0 until width).map(i => StructField(s"_c$i", StringType)))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OdsTable(schema, properties.get("path"))
}

private class OdsTable(schema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"ods:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(OdsInputPartition(path))
      override def createReaderFactory(): PartitionReaderFactory =
        new OdsReaderFactory(schema.size)
    }
}

private case class OdsInputPartition(path: String) extends InputPartition

private class OdsReaderFactory(width: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[OdsInputPartition]
    new PartitionReader[InternalRow] {
      // cached: in local mode this reuses the driver's inferSchema parse;
      // on a cluster it memoizes re-reads of the same file within an
      // executor (spreadsheets are small reference data, re-read often)
      private val rows = OdsReader.readRowsCached(p.path).iterator
      private var current: Seq[String] = _
      override def next(): Boolean = { val has = rows.hasNext; if (has) current = rows.next(); has }
      override def get(): InternalRow =
        InternalRow.fromSeq(current.padTo(width, null).take(width)
          .map(v => if (v == null) null else UTF8String.fromString(v)))
      override def close(): Unit = ()
    }
  }
}
