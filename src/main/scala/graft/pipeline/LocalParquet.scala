package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.reflect.runtime.universe.TypeTag

/** Driver-side parquet writer for driver-resident tables of flat rows
  * (Long, Int, Double and String columns): one snappy file per table
  * directory, no Spark job. A round-sized checkpoint table is a few hundred
  * rows, where a Spark write is almost all job-launch and output-committer
  * latency; at millions of rows a Spark write of a local Seq still pays for
  * the copy into a LocalRelation, which this writer streams past.
  * The files carry the schema Spark's own writer gives the same rows
  * (nullable columns optional, the rest required; strings as UTF-8
  * binary), so `spark.read.parquet` sees the same column names and types.
  * Like `SaveMode.Overwrite`, a write replaces whatever the directory held;
  * atomicity comes from the caller's commit marker, not from the write. */
object LocalParquet {

  private val conf = new Configuration(false)

  /** The schema `rows.toDF(cols: _*)` would have. */
  def schemaOf[T <: Product : TypeTag](cols: String*): StructType = {
    val s = Encoders.product[T].schema
    if (cols.isEmpty) s
    else {
      require(cols.size == s.size, s"${cols.size} column names for ${s.size} fields")
      StructType(s.fields.zip(cols).map { case (f, c) => f.copy(name = c) })
    }
  }

  /** Writes `rows` as `rows.toDF(cols: _*)` would read back. */
  def writeRows[T <: Product : TypeTag](dir: String, rows: Seq[T], cols: String*): Unit =
    write(dir, schemaOf[T](cols: _*), rows.iterator)

  /** Writes `rows` (one product per row, fields in schema order) as the
    * single part file of directory `dir`. */
  def write(dir: String, schema: StructType, rows: Iterator[Product]): Unit = {
    val d = Paths.get(dir)
    deleteTree(d)
    Files.createDirectories(d)
    val w = new Builder(new LocalOutputFile(d.resolve("part-00000.snappy.parquet")), schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach(w.write) finally w.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    for (f <- schema.fields) {
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      b.addField(f.dataType match {
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(f.name)
        case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(f.name)
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case t => throw new IllegalArgumentException(
          s"LocalParquet writes Long, Int, Double and String columns, not $t (${f.name})")
      })
    }
    b.named("spark_schema")
  }

  private final class Builder(file: LocalOutputFile, schema: StructType)
      extends ParquetWriter.Builder[Product, Builder](file) {
    protected def self(): Builder = this
    protected def getWriteSupport(c: Configuration): WriteSupport[Product] =
      new RowWriteSupport(schema)
  }

  private final class RowWriteSupport(schema: StructType) extends WriteSupport[Product] {
    private val names = schema.fieldNames
    private var out: RecordConsumer = _
    def init(c: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(messageType(schema), java.util.Collections.emptyMap())
    def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    def write(row: Product): Unit = {
      out.startMessage()
      var i = 0
      while (i < names.length) {
        row.productElement(i) match {
          case null => // an absent optional value
          case v =>
            out.startField(names(i), i)
            v match {
              case x: Long => out.addLong(x)
              case x: Int => out.addInteger(x)
              case x: Double => out.addDouble(x)
              case x: String => out.addBinary(Binary.fromString(x))
              case x => throw new IllegalArgumentException(
                s"unsupported value ${x.getClass.getName} in column ${names(i)}")
            }
            out.endField(names(i), i)
        }
        i += 1
      }
      out.endMessage()
    }
  }
}
