package graft.sink

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming Parquet sink with schema-enforced ingest, byte-bounded
  * buffering, and byte-based shard rollover — the full capability of
  * the reference library's `ParquetStreamWriter`
  * (`/root/reference/src/parquet_stream_writer/writer.py:44-303`),
  * re-expressed on Spark.
  *
  * Observable contract (each item mirrors reference code cited):
  *  - schema is fixed at construction; every batch is cast to it, with
  *    widening casts succeeding and invalid values raising (ANSI cast ≙
  *    `pa.ArrowInvalid`; `writer.py:206-225`, `tests.py:89-108`),
  *  - batches buffer in memory until the estimated uncompressed
  *    columnar size reaches `bufferSizeBytes` (inclusive), then flush
  *    as one consolidated write (`writer.py:11-41,266-293`),
  *  - no file is touched until the first flush with data; zero writes
  *    ⇒ zero files (`writer.py:284-286`, `tests.py:147-151`),
  *  - with `shardSizeBytes` set, `path` is a directory created at
  *    construction (exactly one level, `writer.py:167-169`) and shards
  *    are named `{filePrefix}-{index}.parquet` with monotonically
  *    increasing index (`writer.py:184-188`); a shard rolls over when
  *    the bytes already flushed to it strictly exceed the limit, and
  *    only if it has data — one oversized batch still lands in one
  *    file (`writer.py:201-204,257-264`, `tests.py:135-144`),
  *  - `rowGroupSize` caps rows per Parquet row group (`writer.py:289`),
  *  - `options` pass through to the Parquet writer (compression,
  *    `parquet.*` Hadoop knobs; `writer.py:192-196`),
  *  - `overwrite=true` deletes a pre-existing file or directory tree at
  *    construction; otherwise constructing over an existing path throws
  *    (`writer.py:151-161`); a missing parent directory throws and is
  *    never created (`writer.py:163-165`),
  *  - `writtenFiles` lists the absolute path of every shard in creation
  *    order, appended at open time (`writer.py:143,198`),
  *  - per-shard insertion order is preserved end-to-end
  *    (`tests.py:272-275`).
  *
  * Execution model: this is the driver-coordinated parity mode — the
  * buffer lives on the driver (bounded by `bufferSizeBytes`, exactly
  * like the reference's single-process buffer), and so does the encode:
  * no Spark job runs unless a batch needs the cast. Rows whose JVM
  * values already match the schema ([[RowConformance]]) are buffered as
  * they are. A flush encodes the buffer once, into memory
  * ([[DriverParquet.Encoder]], settings resolved once per sink), and
  * appends those row groups to the shard's open writer
  * ([[ParquetFiles.Appender]]), like the reference's `write_table` on
  * its open `pq.ParquetWriter`; rotation and close only write the
  * footer. A shard that receives one flush of at most `rowGroupSize`
  * rows is that encoded file verbatim, page indexes included. The
  * distributed [[graft.streaming.StreamingShardSink]] runs the same
  * [[SinkState]] rollover and [[DriverParquet.Encoder]] inside each
  * write task; it shares this sink's byte estimate ([[ColumnarSize]]),
  * schema cast ([[RowConformance.cast]]), shard-name rule and
  * output-path check ([[ParquetFiles.claimOutput]]).
  */
final class ParquetStreamSink(
    spark: SparkSession,
    rawPath: Path,
    val schema: StructType,
    val shardSizeBytes: Option[Long] = None,
    val bufferSizeBytes: Long = ParquetStreamSink.DefaultBufferSizeBytes,
    filePrefix: Option[String] = None,
    val rowGroupSize: Option[Int] = None,
    overwrite: Boolean = false,
    val options: Map[String, String] = Map.empty)
  extends AutoCloseable {

  // O15: info-level lifecycle logs, mirroring the reference's module
  // logger (writer.py:8,156,159,190,301; NullHandler ≙ slf4j's
  // caller-owned configuration, __init__.py:1-3).
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ParquetStreamSink])

  // Validates the size parameters before any filesystem effect
  // (writer.py:127-131).
  private val state = new SinkState(shardSizeBytes, bufferSizeBytes)
  // Resolves the codec and the other write settings, so a bad option
  // fails here, before the overwrite delete.
  private val encoder = new DriverParquet.Encoder(spark, schema, rowGroupSize, options)

  val path: Path = rawPath.toAbsolutePath.normalize
  val prefix: String = filePrefix.getOrElse(path.getFileName.toString)

  private val buffer = ArrayBuffer.empty[Array[Row]]
  private val manifest = ArrayBuffer.empty[Path]
  private var shard: Option[ParquetStreamSink.OpenShard] = None
  private var closed = false
  // counters, reported by close()
  private var flushCount = 0
  private var rowCount = 0L
  private var encodedBytes = 0L
  private var encodeNanos = 0L
  private var appendNanos = 0L

  // --- construction-time path semantics (writer.py:151-169) ---
  ParquetFiles.claimOutput(path, overwrite, log)
  if (shardSizeBytes.isDefined)
    Files.createDirectory(path) // exactly one level, fails if parent missing

  /** Absolute paths of every shard file, in creation order. */
  def writtenFiles: Seq[Path] = manifest.toSeq

  /** Ingest one batch: cast to the declared schema and buffer; flush /
    * rotate per the state machine (`writer.py:227-264`). Invalid values
    * raise here (ANSI cast), like `pa.ArrowInvalid` at `write_batch`.
    */
  def writeBatch(df: DataFrame): Unit = {
    ensureOpen()
    addRows(RowConformance.cast(df, schema).collect())
  }

  /** Ingest local rows (the reference's dict-of-lists path,
    * `writer.py:210-212`): rows whose runtime types already match the
    * schema are buffered directly (the cast would be the identity);
    * anything else goes through the full cast machinery, where
    * widening succeeds and invalid values raise. The fast path
    * matters because a caller streaming many small batches would
    * otherwise pay a Catalyst analysis per call.
    */
  def writeRows(rows: Seq[Row]): Unit = {
    ensureOpen()
    if (rows.forall(RowConformance.conforms(_, schema))) addRows(rows.toArray)
    else {
      // the frame must be built under the values' RUNTIME types —
      // createDataFrame with the target schema would CCE on any
      // narrower JVM value before the cast could widen it
      // (RowConformance.runtimeSchema) — and then the writeBatch ANSI
      // cast owns widening and invalid-value errors, as documented
      val src = RowConformance.runtimeSchema(rows, schema)
      val aligned = rows.map(RowConformance.alignTo(_, src))
      writeBatch(spark.createDataFrame(aligned.asJava, src))
    }
  }

  /** Stream a whole DataFrame through the sink in bounded batches —
    * the caller-loop idiom from the reference README (`README.md:36-43`)
    * without materializing the input: rows arrive via
    * `toLocalIterator` (one partition in memory at a time) and each
    * `batchRows`-sized chunk goes through the normal threshold check,
    * so peak driver memory is ~(buffer + one chunk + one partition).
    */
  def writeAll(df: DataFrame, batchRows: Int = 65536): Unit = {
    ensureOpen()
    RowConformance.cast(df, schema).toLocalIterator().asScala.grouped(batchRows)
      .foreach(chunk => addRows(chunk.toArray))
  }

  private def addRows(rows: Array[Row]): Unit = {
    buffer += rows
    state.addBatch(ColumnarSize.ofRows(rows, schema))
    state.afterWrite() match {
      case SinkState.NoOp            => ()
      case SinkState.FlushOnly       => flush()
      case SinkState.RotateThenFlush => openNewShard(); flush()
    }
  }

  /** Flush buffered batches as one consolidated write into the open
    * shard (`writer.py:266-293`): many tiny input batches become few
    * row groups (`tests.py:234-249`). No-op when nothing was buffered.
    */
  def flush(): Unit = {
    if (!state.bufferNonEmpty) return
    if (shard.isEmpty) openNewShard() // lazy creation
    val n = buffer.iterator.map(_.length).sum
    appending(shard.get.add(encode(buffer.iterator.flatten), onePart = rowGroupSize.forall(n <= _)))
    flushCount += 1
    rowCount += n
    state.onFlush()
    buffer.clear()
  }

  /** Close the current shard (if any) and open `{prefix}-{index}`
    * (`writer.py:177-199`). Public like the reference's use in
    * `tests.py:80`.
    */
  def openNewShard(): Unit = {
    ensureOpen()
    finalizeCurrentShard()
    val idx = state.onRotate()
    val p = if (shardSizeBytes.isEmpty) path else path.resolve(SinkState.shardName(prefix, idx))
    Files.deleteIfExists(p)
    Files.createFile(p) // file exists from open time, like pq.ParquetWriter
    log.info(s"Opened new Parquet shard: $p") // writer.py:190
    manifest += p
    shard = Some(new ParquetStreamSink.OpenShard(p))
  }

  /** Final flush + finalize (`writer.py:295-303`). Idempotent. */
  override def close(): Unit = {
    if (closed) return
    flush()
    finalizeCurrentShard()
    closed = true
    def ms(nanos: Long) = "%.1f".formatLocal(java.util.Locale.ROOT, nanos / 1e6)
    log.info(s"Closed Parquet writer for: $path (flushes=$flushCount, " + // writer.py:301
      s"shards=${manifest.size}, rows=$rowCount, encoded_bytes=$encodedBytes, " +
      s"encode_ms=${ms(encodeNanos)}, append_ms=${ms(appendNanos)})")
  }

  // ------------------------------------------------------------------

  private def finalizeCurrentShard(): Unit = {
    // Opened but never flushed: the reference's ParquetWriter.close()
    // still writes a valid 0-row file (schema + footer only).
    shard.foreach(s => appending(s.close(encode(Iterator.empty))))
    shard = None
  }

  private def encode(rows: Iterator[Row]): DriverParquet.Encoded = {
    val t0 = System.nanoTime
    val e = encoder.encode(rows)
    encodeNanos += System.nanoTime - t0
    encodedBytes += e.length
    e
  }

  /** Runs `f`, an add to or a close of the open shard, and counts its
    * time less the encodes inside it: the close line's `append_ms`.
    */
  private def appending(f: => Unit): Unit = {
    val t0 = System.nanoTime - encodeNanos
    f
    appendNanos += System.nanoTime - encodeNanos - t0
  }

  private def ensureOpen(): Unit =
    if (closed) throw new IllegalStateException("sink is closed")
}

object ParquetStreamSink {
  /** 16 MiB, the reference default (`writer.py:121`). */
  val DefaultBufferSizeBytes: Long = 16L * 1024 * 1024

  /** Loan pattern ≙ the reference's context manager
    * (`writer.py:171-175`).
    */
  def withSink[A](sink: ParquetStreamSink)(f: ParquetStreamSink => A): A =
    try f(sink)
    finally sink.close()

  /** The byte estimator used for all thresholds — exposed so callers
    * and tests can derive thresholds from data, as the reference tests
    * do with `table.nbytes` (`tests.py:53-54`).
    */
  def estimateBytes(rows: Seq[Row], schema: StructType): Long =
    ColumnarSize.ofRows(rows, schema)

  /** The shard being written. A shard's first flush is held, encoded,
    * while it may still be the shard's only part: a shard of one flush
    * of at most `rowGroupSize` rows is written as that file, verbatim.
    * Any other flush starts the writer over the shard file, which then
    * takes every flush's row groups as they come.
    */
  private final class OpenShard(path: Path) {
    private var held: Option[DriverParquet.Encoded] = None
    private var writer: Option[ParquetFiles.Appender] = None

    def add(flush: DriverParquet.Encoded, onePart: Boolean): Unit = writer match {
      case Some(w) => w.append(flush.inputFile)
      case None if held.isEmpty && onePart => held = Some(flush)
      case None =>
        val w = new ParquetFiles.Appender(new LocalOutputFile(path), held.getOrElse(flush).inputFile)
        held.foreach(h => w.append(h.inputFile))
        held = None
        w.append(flush.inputFile)
        writer = Some(w)
    }

    /** Write the footer, or the held flush, or else `empty`. */
    def close(empty: => DriverParquet.Encoded): Unit = writer match {
      case Some(w) => w.close()
      case None    => held.getOrElse(empty).writeTo(path)
    }
  }
}
