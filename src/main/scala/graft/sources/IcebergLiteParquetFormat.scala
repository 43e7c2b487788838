package graft.sources

import java.io.DataOutput

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's Parquet format, for Iceberg-lite scans, with a cheaper conf
  * broadcast. `buildReaderWithPartitionValues` broadcasts the scan's
  * Hadoop conf, about 1,100 entries, and Hadoop's `Configuration.write`
  * gzips each entry's source array (the resources that set it) in a
  * `GZIPOutputStream` of its own: about 8 ms of every scan on four cores.
  * Here the reader gets a [[CompactConf]] copy, which writes the same
  * entries without their sources. Spark's own reader, pushed filters and
  * broadcast are unchanged; a task that deserializes the conf sees every
  * key and value, only `getPropertySources` comes back empty.
  */
class IcebergLiteParquetFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, filters, options, new CompactConf(hadoopConf))
}

/** A copy of `conf` that serializes without source arrays: Hadoop 3.4's
  * `Configuration.write` entry for entry (the entry count as a vint, then
  * each key, value and source array), with a null source array in place
  * of the gzipped one. `readFields` reads a null array as no sources.
  */
final class CompactConf(conf: Configuration) extends Configuration(conf) {
  override def write(out: DataOutput): Unit = {
    val props = getProps
    WritableUtils.writeVInt(out, props.size)
    props.forEach { (k, v) =>
      Text.writeString(out, k.asInstanceOf[String])
      Text.writeString(out, v.asInstanceOf[String])
      WritableUtils.writeCompressedStringArray(out, null)
    }
  }
}
