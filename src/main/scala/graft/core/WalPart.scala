package graft.core

import java.nio.file.Path
import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Writes one parquet part from driver-resident rows, with no Spark job —
  * the request-sized WAL append (the reference appends a WAL entry per
  * request, rs/index/src/wal/wal.rs:36-120). It runs Spark's own
  * `ParquetWriteSupport` under parquet-hadoop's `ParquetWriter`, with the
  * keys `ParquetUtils.prepareWrite` sets from the session (legacy format,
  * timestamp type, field ids, nanos, variant annotation) and the
  * session's compression codec, so the part reads back exactly like one
  * written by `DataFrame.write.parquet`: same schema footer key, same
  * values. The Hadoop conf is built once per schema (the session's SQL
  * settings as of that first write) and only read afterwards, so
  * concurrent writers share it. */
private[core] final class WalPart(spark: SparkSession) {
  private val sql = spark.sessionState.conf
  private val codec = CompressionCodecName.fromConf(
    new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName)
  private val confs = TrieMap.empty[StructType, Configuration]

  private def confFor(schema: StructType): Configuration =
    confs.getOrElseUpdate(schema, {
      val c = spark.sessionState.newHadoopConf()
      ParquetWriteSupport.setSchema(schema, c)
      c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sql.writeLegacyParquetFormat.toString)
      c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, sql.parquetOutputTimestampType.toString)
      c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sql.parquetFieldIdWriteEnabled.toString)
      c.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong.toString)
      c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        sql.parquetAnnotateVariantLogicalType.toString)
      c
    })

  /** Write `rows` (of `schema`) as one new part file in `dir`, named the
    * way Spark names its parts; returns the file. */
  def write(schema: StructType, rows: Iterable[InternalRow], dir: Path): Path = {
    val file = dir.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000${codec.getExtension}.parquet")
    val w = new WalPart.Builder(new LocalOutputFile(file))
      .withConf(confFor(schema)).withCompressionCodec(codec).build()
    try rows.foreach(w.write) finally w.close()
    file
  }
}

private[core] object WalPart {
  private final class Builder(f: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](f) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** The schema a `spark.read.parquet` of this part infers, read on the
    * driver: the Spark schema its footer records under
    * `org.apache.spark.sql.parquet.row.metadata`, with every field
    * nullable, as a file source reads it. None when the key is absent or
    * the file cannot be read. */
  def footerSchema(file: Path): Option[StructType] =
    Try {
      val r = ParquetFileReader.open(new LocalInputFile(file))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally r.close()
    }.toOption.flatten.flatMap(s => Try(DataType.fromJson(s)).toOption).collect {
      case st: StructType => nullable(st).asInstanceOf[StructType]
    }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case o => o
  }
}
