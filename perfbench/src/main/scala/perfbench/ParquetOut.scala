package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Spark-free parquet writer for the generated inputs. One file per table,
  * one writer thread, no timestamps or random names in the output, so the
  * same records always give the same bytes. */
object ParquetOut {
  sealed trait Col { def name: String }
  case class LongCol(name: String) extends Col
  case class IntCol(name: String) extends Col
  case class StrCol(name: String) extends Col
  /** `array<float>` in the standard three-level LIST layout. */
  case class FloatsCol(name: String) extends Col
  /** `array<double>` in the standard three-level LIST layout. */
  case class DoublesCol(name: String) extends Col

  private def schemaOf(cols: Seq[Col]): MessageType = {
    val fields = cols.map {
      case LongCol(n) => s"required int64 $n;"
      case IntCol(n) => s"required int32 $n;"
      case StrCol(n) => s"required binary $n (STRING);"
      case FloatsCol(n) => s"required group $n (LIST) { repeated group list { required float element; } }"
      case DoublesCol(n) => s"required group $n (LIST) { repeated group list { required double element; } }"
    }
    MessageTypeParser.parseMessageType(fields.mkString("message row {\n", "\n", "\n}"))
  }

  private class RowSupport(cols: Seq[Col]) extends WriteSupport[Array[Any]] {
    private val schema = schemaOf(cols)
    private var rc: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(schema, new java.util.HashMap[String, String]())
    override def prepareForWrite(c: RecordConsumer): Unit = rc = c
    override def write(row: Array[Any]): Unit = {
      rc.startMessage()
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        rc.startField(c.name, i)
        (c, row(i)) match {
          case (_: LongCol, v: Long) => rc.addLong(v)
          case (_: IntCol, v: Int) => rc.addInteger(v)
          case (_: StrCol, v: String) => rc.addBinary(Binary.fromString(v))
          case (_: FloatsCol, v: Array[Float]) => list(v.length)(j => rc.addFloat(v(j)))
          case (_: DoublesCol, v: Array[Double]) => list(v.length)(j => rc.addDouble(v(j)))
          case (col, v) => sys.error(s"column ${col.name}: unexpected value $v")
        }
        rc.endField(c.name, i)
        i += 1
      }
      rc.endMessage()
    }
    private def list(n: Int)(add: Int => Unit): Unit = {
      rc.startGroup()
      if (n > 0) {
        rc.startField("list", 0)
        var j = 0
        while (j < n) {
          rc.startGroup(); rc.startField("element", 0); add(j)
          rc.endField("element", 0); rc.endGroup()
          j += 1
        }
        rc.endField("list", 0)
      }
      rc.endGroup()
    }
  }

  private class Builder(file: OutputFile, cols: Seq[Col])
      extends ParquetWriter.Builder[Array[Any], Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Array[Any]] =
      new RowSupport(cols)
  }

  /** Write rows `0 until n` (`row(i)` gives record i, in `cols` order) as
    * `parts` files `part-NNNNN.parquet` of contiguous rows under `dir`, as
    * a dataset split across files is stored. */
  def write(dir: java.nio.file.Path, cols: Seq[Col], n: Int, parts: Int)(row: Int => Array[Any]): Unit = {
    java.nio.file.Files.createDirectories(dir)
    for (p <- 0 until parts) {
      val path = dir.resolve(f"part-$p%05d.parquet")
      java.nio.file.Files.deleteIfExists(path)
      val w = new Builder(new LocalOutputFile(path), cols)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withConf(new Configuration(false))
        .build()
      try (n * p / parts until n * (p + 1) / parts).foreach(i => w.write(row(i)))
      finally w.close()
    }
  }
}
