package graft.sink

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, SeekableInputStream}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** In-process Parquet encoding for the parity sink's flushes — the
  * driver-side analog of the reference's single `pq.ParquetWriter`
  * (`writer.py:192-196`).
  *
  * The rows of a parity-mode flush are already ON the driver (the
  * reference semantic under test is single-process buffering), so
  * encoding them through a Spark job would cost one full job cycle per
  * flush, pure overhead that scales O(flushes), not O(data). This
  * encoder produces the identical bytes with zero jobs: Spark's own
  * [[ParquetWriteSupport]] (same Catalyst→Parquet encoder the
  * executors run) driven directly through parquet-mr's
  * [[ParquetOutputFormat]]. `parquet.*` Hadoop options and the
  * `compression` option behave exactly as they do on the Spark write
  * path because both paths read them from the same Hadoop conf, and
  * `ParquetOutputFormat` stays the only reader of that conf.
  *
  * Row groups: a flush is one in-memory Parquet file whose row groups
  * are cut at exactly `rowGroupSize` rows (`parquet.block.row.count.limit`,
  * checked by parquet-mr after every record), so each group is the
  * byte-for-byte twin of a separately written file of those rows. Past
  * the cap, parquet-mr rolls extra groups only at its 128 MiB default
  * block size — flushes are bounded by the sink's buffer size, far
  * below it.
  */
object DriverParquet {

  /** Write `rows` (possibly empty ⇒ schema+footer-only file) to `dest`
    * as one Parquet file with one row group.
    */
  def write(
      spark: SparkSession,
      dest: Path,
      schema: StructType,
      rows: Iterable[Row],
      options: Map[String, String]): Unit =
    new Encoder(spark, schema, None, options).encode(rows).writeTo(dest)

  /** The write settings of one sink, resolved once: Hadoop conf, codec,
    * Catalyst converter and row-group row cap. Construction fails on an
    * unknown codec or a non-positive cap, before the caller has touched
    * any file.
    */
  final class Encoder(
      spark: SparkSession,
      schema: StructType,
      rowGroupSize: Option[Int],
      options: Map[String, String]) {

    require(rowGroupSize.forall(_ > 0), "row_group_size must be positive")

    private val conf = {
      val sqlConf = spark.sessionState.conf
      val c = spark.sessionState.newHadoopConfWithOptions(options)
      // The conf keys ParquetFileFormat.prepareWrite pins before handing
      // executors a write task; ParquetWriteSupport.init asserts on them.
      c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
        sqlConf.writeLegacyParquetFormat.toString)
      c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
        sqlConf.parquetOutputTimestampType.toString)
      c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
        sqlConf.parquetFieldIdWriteEnabled.toString)
      c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
        sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
      c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
        sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
      c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
      ParquetWriteSupport.setSchema(schema, c)
      // the sink's cap wins over a raw `parquet.block.row.count.limit`
      rowGroupSize.foreach(n => c.setInt(ParquetOutputFormat.BLOCK_ROW_COUNT_LIMIT, n))
      c.setClass(s"fs.${MemoryFileSystem.Scheme}.impl", classOf[MemoryFileSystem], classOf[FileSystem])
      c
    }

    // Same precedence and case-insensitivity as Spark's ParquetOptions:
    // `compression` option → `parquet.compression` option → session
    // default. The explicit codec handed to getRecordWriter overrides
    // whatever the Hadoop conf carries, so the resolution must consult
    // parquet.compression itself — newHadoopConfWithOptions alone
    // would silently lose it.
    private val codec = codecName(
      option(options, "compression")
        .orElse(option(options, ParquetOutputFormat.COMPRESSION))
        .getOrElse(spark.sessionState.conf.parquetCompressionCodec))

    private val format = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
    private val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)

    /** `rows` (possibly none) as one Parquet file held in memory. */
    def encode(rows: IterableOnce[Row]): Encoded = {
      val file = MemoryFileSystem.newPath()
      try {
        val writer = format.getRecordWriter(conf, file, codec, ParquetFileWriter.Mode.OVERWRITE)
        try rows.iterator.foreach(r => writer.write(null, toInternal(r).asInstanceOf[InternalRow]))
        finally writer.close(null)
        MemoryFileSystem.get(file)
      } finally MemoryFileSystem.remove(file)
    }
  }

  /** One encoded Parquet file: the first `length` bytes of `bytes`. */
  final class Encoded private[sink] (bytes: Array[Byte], val length: Int) {

    def writeTo(dest: Path): Unit = {
      val out = Files.newOutputStream(dest)
      try out.write(bytes, 0, length) finally out.close()
    }

    def inputFile: InputFile = new InputFile {
      override def getLength: Long = length
      override def newStream(): SeekableInputStream = {
        val in = new Cursor
        new DelegatingSeekableInputStream(in) {
          override def getPos: Long = in.position
          override def seek(p: Long): Unit = in.seek(p)
        }
      }
    }

    private final class Cursor extends ByteArrayInputStream(bytes, 0, length) {
      def position: Long = pos.toLong
      def seek(p: Long): Unit = pos = p.toInt
    }
  }

  /** DataFrameWriter options are a CaseInsensitiveMap; mirror that. */
  private def option(options: Map[String, String], key: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Spark's `compression` option short names → parquet-mr codecs
    * (the mapping `ParquetOptions` applies on the executor path;
    * `lz4` and `lz4_raw` are distinct codecs there and must stay
    * distinct here or files change format under the same option).
    */
  private def codecName(name: String): CompressionCodecName =
    name.toLowerCase match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "snappy"                => CompressionCodecName.SNAPPY
      case "gzip"                  => CompressionCodecName.GZIP
      case "lzo"                   => CompressionCodecName.LZO
      case "lz4"                   => CompressionCodecName.LZ4
      case "lz4_raw"               => CompressionCodecName.LZ4_RAW
      case "brotli"                => CompressionCodecName.BROTLI
      case "zstd"                  => CompressionCodecName.ZSTD
      case other => throw new IllegalArgumentException(
        s"unknown parquet compression codec '$other'")
    }
}

/** The Hadoop file system [[DriverParquet.Encoder]] hands to
  * `ParquetOutputFormat`: write-once heap buffers under `graftmem:`,
  * registered only on the encoder's own conf. A file exists from the
  * close of its output stream until the encoder takes it.
  */
final class MemoryFileSystem extends FileSystem {
  import MemoryFileSystem._

  override def getUri: URI = Root
  override def getWorkingDirectory: HPath = new HPath(Root)
  override def setWorkingDirectory(dir: HPath): Unit = ()
  override def mkdirs(f: HPath, permission: FsPermission): Boolean = true

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val key = f.toUri.getPath
    val out = new ByteArrayOutputStream(64 * 1024) {
      override def close(): Unit = files.put(key, new DriverParquet.Encoded(buf, count))
    }
    new FSDataOutputStream(out, statistics)
  }

  override def delete(f: HPath, recursive: Boolean): Boolean = files.remove(f.toUri.getPath) != null
  override def getFileStatus(f: HPath): FileStatus = throw new FileNotFoundException(f.toString)
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = unsupported
  override def append(f: HPath, bufferSize: Int, progress: Progressable): FSDataOutputStream = unsupported
  override def rename(src: HPath, dst: HPath): Boolean = unsupported
  override def listStatus(f: HPath): Array[FileStatus] = unsupported
}

object MemoryFileSystem {
  val Scheme = "graftmem"
  private val Root = URI.create(s"$Scheme:///")
  private val files = new ConcurrentHashMap[String, DriverParquet.Encoded]
  private val ids = new AtomicLong

  private def unsupported = throw new UnsupportedOperationException(s"$Scheme: write-once buffers")

  private[sink] def newPath(): HPath = new HPath(s"$Scheme:/flush-${ids.incrementAndGet()}.parquet")
  private[sink] def get(f: HPath): DriverParquet.Encoded = files.get(f.toUri.getPath)
  private[sink] def remove(f: HPath): Unit = files.remove(f.toUri.getPath)
}
