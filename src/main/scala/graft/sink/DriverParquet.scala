package graft.sink

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path, Paths}
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
import org.apache.spark.util.SerializableConfiguration

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
  * The distributed [[graft.streaming.StreamingShardSink]] ships the same
  * [[Encoder]] to its write tasks once per sink, as a broadcast: its
  * Hadoop conf serializes to ~117 KB, which a per-job closure would
  * pay to serialize twice on the driver and to deserialize in every
  * task. A broadcast value is one object shared by concurrent tasks,
  * so the encoder holds no writer state: each encode makes its own
  * `ParquetOutputFormat` and `ParquetWriteSupport`. Tasks stream their
  * `InternalRow`s to local shard files through java.nio
  * ([[NioFileSystem]]), not Hadoop's local file system: without the
  * native Hadoop library, `RawLocalFileSystem` sets each new file's
  * permission by forking `chmod`, once for the file and once for its
  * `.crc` sidecar, which cost more than encoding a shard.
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
    * any file. Serializable, so the streaming sink's write tasks encode
    * with the settings its driver resolved; safe to share between
    * threads, since every encode makes its own writer.
    */
  final class Encoder(
      spark: SparkSession,
      schema: StructType,
      rowGroupSize: Option[Int],
      options: Map[String, String]) extends Serializable {

    require(rowGroupSize.forall(_ > 0), "row_group_size must be positive")

    private val conf = new SerializableConfiguration({
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
      c.setClass(s"fs.${NioFileSystem.Scheme}.impl", classOf[NioFileSystem], classOf[FileSystem])
      c
    })

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

    @transient private lazy val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)

    /** `rows` (possibly none) as one Parquet file at `file`, replacing it. */
    def encodeTo(file: Path, rows: Iterator[InternalRow]): Unit = write(NioFileSystem.path(file), rows)

    /** `rows` (possibly none) as one Parquet file held in memory. */
    def encode(rows: IterableOnce[Row]): Encoded = {
      val file = MemoryFileSystem.newPath()
      try {
        write(file, rows.iterator.map(toInternal(_).asInstanceOf[InternalRow]))
        MemoryFileSystem.get(file)
      } finally MemoryFileSystem.remove(file)
    }

    private def write(file: HPath, rows: Iterator[InternalRow]): Unit = {
      val writer = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
        .getRecordWriter(conf.value, file, codec, ParquetFileWriter.Mode.OVERWRITE)
      try rows.foreach(writer.write(null, _)) finally writer.close(null)
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
    * (the mapping `ParquetOptions` applies on the executor path): each
    * short name is its codec's enum name, lower-cased, plus `none` for
    * `uncompressed`. `lz4` and `lz4_raw` are distinct codecs there and
    * stay distinct here, or files would change format under the same
    * option.
    */
  private def codecName(name: String): CompressionCodecName =
    if (name.equalsIgnoreCase("none")) CompressionCodecName.UNCOMPRESSED
    else try CompressionCodecName.valueOf(name.toUpperCase(java.util.Locale.ROOT))
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(s"unknown parquet compression codec '$name'") }
}

/** A Hadoop file system `ParquetOutputFormat` can create files in and
  * delete them from, and nothing else: all [[DriverParquet.Encoder]]
  * asks of one. Registered only on the encoder's own conf.
  */
sealed abstract class CreateOnlyFileSystem(scheme: String) extends FileSystem {
  private val root = URI.create(s"$scheme:///")

  override def getUri: URI = root
  override def getWorkingDirectory: HPath = new HPath(root)
  override def setWorkingDirectory(dir: HPath): Unit = ()
  override def mkdirs(f: HPath, permission: FsPermission): Boolean = true
  override def getFileStatus(f: HPath): FileStatus = throw new FileNotFoundException(f.toString)
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = unsupported
  override def append(f: HPath, bufferSize: Int, progress: Progressable): FSDataOutputStream = unsupported
  override def rename(src: HPath, dst: HPath): Boolean = unsupported
  override def listStatus(f: HPath): Array[FileStatus] = unsupported

  private def unsupported = throw new UnsupportedOperationException(s"$scheme: create-only")
}

/** Write-once heap buffers under `graftmem:`. A file exists from the
  * close of its output stream until the encoder takes it.
  */
final class MemoryFileSystem extends CreateOnlyFileSystem(MemoryFileSystem.Scheme) {
  import MemoryFileSystem.files

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val key = f.toUri.getPath
    val out = new ByteArrayOutputStream(64 * 1024) {
      override def close(): Unit = files.put(key, new DriverParquet.Encoded(buf, count))
    }
    new FSDataOutputStream(out, statistics)
  }

  override def delete(f: HPath, recursive: Boolean): Boolean = files.remove(f.toUri.getPath) != null
}

object MemoryFileSystem {
  val Scheme = "graftmem"
  private val files = new ConcurrentHashMap[String, DriverParquet.Encoded]
  private val ids = new AtomicLong

  private[sink] def newPath(): HPath = new HPath(s"$Scheme:/flush-${ids.incrementAndGet()}.parquet")
  private[sink] def get(f: HPath): DriverParquet.Encoded = files.get(f.toUri.getPath)
  private[sink] def remove(f: HPath): Unit = files.remove(f.toUri.getPath)
}

/** Local files under `graftnio:`, written with java.nio through a
  * 64 KiB buffer: no permission call (which forks `chmod` when the
  * native Hadoop library is missing) and no `.crc` sidecar. Memory
  * stays bounded by parquet-mr's row group, as on `file:`.
  */
final class NioFileSystem extends CreateOnlyFileSystem(NioFileSystem.Scheme) {

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    new FSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(NioFileSystem.local(f)), 64 * 1024), statistics)

  override def delete(f: HPath, recursive: Boolean): Boolean = Files.deleteIfExists(NioFileSystem.local(f))
}

object NioFileSystem {
  val Scheme = "graftnio"

  private[sink] def path(file: Path): HPath = new HPath(Scheme, null, file.toAbsolutePath.toString)
  private def local(f: HPath): Path = Paths.get(f.toUri.getPath)
}
