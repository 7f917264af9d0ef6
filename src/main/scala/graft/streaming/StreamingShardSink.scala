package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

import graft.sink.{ColumnarSize, DriverParquet, ParquetFiles, RowConformance, SinkState}

/** The DISTRIBUTED execution mode of the streaming Parquet sink — the
  * shape the same semantics take on a 1000-executor cluster, where the
  * driver-buffered parity sink ([[graft.sink.ParquetStreamSink]])
  * would bottleneck on its single in-order writer.
  *
  * Mapping of the reference's concepts (`writer.py:44-303`) onto
  * Spark's streaming execution model:
  *  - "batch arrival" = one micro-batch (`foreachBatch` delivers it;
  *    Spark already serializes calls per query, matching the
  *    reference's single-threaded lifecycle, `writer.py:132-149`),
  *  - "buffer" = none: each write task streams its partition's rows
  *    straight into the open shard, so memory is bounded by the
  *    Parquet writer's row group, not by a driver-side byte counter,
  *  - "shard" = an output file, rolled over by the parity sink's own
  *    rule inside each write task: a [[SinkState]] with a zero-byte
  *    buffer, [[graft.sink.ColumnarSize.ofRow]] per row and the same
  *    [[graft.sink.DriverParquet.Encoder]]. A shard rotates before the
  *    first row that finds the bytes already in it strictly over
  *    `shardSizeBytes` (`writer.py:201-204,257-264`), so every file
  *    holds at most the threshold plus one row, and one oversized row
  *    still lands in one file. Tasks drive the batch's physical plan
  *    (`queryExecution.toRdd`) and encode its `InternalRow`s as they
  *    come; only the byte estimate sees each row as a `Row`, through a
  *    Catalyst-to-Scala converter, so the per-type size table stays
  *    the one in [[graft.sink.ColumnarSize]],
  *  - "{prefix}-{index}.parquet" naming + `writtenFiles` manifest:
  *    tasks write to a staging dir and return the shards they wrote;
  *    the driver then renames those files to sequential shard indices,
  *    in (partition, shard) order — a metadata-only operation, data
  *    never moves through the driver,
  *  - validation (missing parent / existing path / negative sizes) and
  *    lazy directory semantics match the reference
  *    (`writer.py:127-169`).
  *
  * Settings are resolved once per sink, as in the parity sink: the
  * first batch resolves the codec and the other write settings from
  * its session and `options` into one encoder, which reaches the write
  * tasks as a broadcast. A later change to the session's Parquet
  * settings does not reach a sink already writing; a new sink picks
  * it up. Only a batch from another `SparkContext` (a restarted one)
  * resolves and broadcasts them again.
  *
  * Each committed batch logs one INFO line: its rows, files, write-job
  * and rename milliseconds and the commit log's size.
  *
  * The rollover runs per input partition: global insertion order
  * across shards holds when each micro-batch has a deterministic
  * partition order (shards are renamed in batch order, then partition
  * order, then shard order), and each partition's last shard may be
  * under the threshold; rows of one input partition never interleave
  * with another's.
  *
  * RESTART SAFETY (beyond the single-process reference, which has no
  * such obligation — a "100 TB" sink does): every committed batch is
  * recorded in a sidecar commit log `_graft_commits.tsv` under the
  * output dir — one `batchId \t startIndex \t fileCount` line APPENDED
  * per batch (a single write syscall; O(1) per batch where a full
  * rewrite would make a long-running query's cumulative log I/O
  * quadratic). Completeness is the trailing newline: a torn final
  * append leaves none, restore drops the fragment, and the batch —
  * never acknowledged as committed — replays cleanly. `addBatch(df,
  * batchId)` skips batchIds the log already holds, so Structured
  * Streaming's replay of the last uncommitted micro-batch after a
  * checkpoint restart lands exactly-once. The shard counter, the
  * committed set and `writtenFiles` move only once the batch's log
  * line is on disk, so a batch that fails anywhere, the log append
  * included, leaves them as they were and its replay on the same sink
  * re-runs it. A partially-renamed batch (failure or crash between
  * the moves and the log append) is rewritten in place — orphan shard
  * files at or beyond the counter are deleted before the batch's
  * renames, so a replay that produces fewer task files can't leave a
  * stale duplicate shard behind.
  * Construct with `resume = true` to re-attach to an existing output
  * directory: the shard counter and manifest are restored from the
  * log. A resume dir holding shard files but NO log fails fast — with
  * the counter at zero the orphan cleanup would otherwise delete the
  * entire existing dataset on the first batch.
  */
final class StreamingShardSink(
    rawPath: Path,
    val schema: StructType,
    val shardSizeBytes: Long,
    filePrefix: Option[String] = None,
    overwrite: Boolean = false,
    val options: Map[String, String] = Map.empty,
    resume: Boolean = false) {

  require(shardSizeBytes > 0, "shard_size_bytes must be positive")

  val path: Path = rawPath.toAbsolutePath.normalize
  val prefix: String = filePrefix.getOrElse(path.getFileName.toString)

  private var shardIndex = 0
  // batchId → (startIndex, fileCount), insertion-ordered for the log
  private val committed = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Int)]
  private val commitLog: Path = path.resolve("_graft_commits.tsv")
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[StreamingShardSink])
  // the write settings, resolved by the first batch on a SparkContext
  private var shipped: Option[(SparkContext, Broadcast[DriverParquet.Encoder])] = None

  if (resume && Files.exists(path)) restoreFromCommitLog()
  else {
    ParquetFiles.claimOutput(path, overwrite, log)
    Files.createDirectory(path)
  }

  /** Run `f` over a lazily-populated NIO stream and CLOSE it: each of
    * Files.list/walk holds an open directory fd until closed, and the
    * per-micro-batch call sites would otherwise leak one per batch
    * until GC finalization — a long low-allocation query runs into the
    * process fd limit.
    */
  private def withStream[A](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => A): A =
    try f(s.iterator.asScala) finally s.close()

  private def restoreFromCommitLog(): Unit = {
    if (Files.exists(commitLog)) {
      val bytes = Files.readAllBytes(commitLog)
      // a record is complete iff its newline landed (appendCommit
      // writes line+\n in one syscall): drop a torn final fragment —
      // that batch was never acknowledged and will replay. Bytes, not
      // decoded text, so the truncation offset is the file's own
      val complete = bytes.lastIndexOf('\n'.toByte) + 1
      // truncate the fragment ON DISK too: appendCommit O_APPENDs, so a
      // surviving fragment would merge with the next record into one
      // line and poison the restart after this one. SHRINK IN PLACE
      // (FileChannel.truncate) — a truncate-to-zero-then-rewrite
      // (Files.write TRUNCATE_EXISTING) has a crash window in which
      // every committed record is gone while the file still exists, so
      // the next resume would restore a zero shard counter and the
      // orphan cleanup would delete all committed shards; an in-place
      // shrink never touches committed bytes, keeping the worst crash
      // outcome at "torn tail again"
      if (complete != bytes.length) {
        val ch = java.nio.channels.FileChannel.open(commitLog,
          java.nio.file.StandardOpenOption.WRITE)
        try ch.truncate(complete.toLong) finally ch.close()
      }
      new String(bytes, 0, complete, java.nio.charset.StandardCharsets.UTF_8)
        .split('\n').iterator.filter(_.nonEmpty).foreach { line =>
          val Array(b, start, n) = line.split('\t')
          committed += b.toLong -> (start.toInt, n.toInt)
        }
      shardIndex = committed.valuesIterator
        .map { case (start, n) => start + n }.maxOption.getOrElse(0)
    } else {
      // no log, but shard-patterned files present: resuming would
      // restore index 0 and the orphan cleanup would delete the whole
      // dataset on the first batch — refuse instead of losing data
      val orphaned = withStream(Files.list(path))(
        _.exists(p => SinkState.shardIndex(prefix, p.getFileName.toString).isDefined))
      if (orphaned) throw new IllegalStateException(
        s"resume=true but '$commitLog' is missing while '$path' holds " +
          s"'$prefix-N.parquet' files — refusing to resume with a zero " +
          "shard counter, which would delete the existing shards as " +
          "orphans on the first batch")
    }
    // leftover staging dirs from a crashed batch attempt
    withStream(Files.list(path))(
      _.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(".batch-"))
        .toSeq).foreach(ParquetFiles.deleteTree)
  }

  private def appendCommit(batchId: Long, n: Int): Unit = {
    Files.write(commitLog,
      s"$batchId\t$shardIndex\t$n\n".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    committed += batchId -> (shardIndex, n)
    shardIndex += n
  }

  /** Absolute shard paths in creation order. */
  def writtenFiles: Seq[Path] = synchronized((0 until shardIndex).map(shardPath))

  /** The next unused batchId (max committed + 1) — a resumed daily
    * append must CONTINUE the id sequence: re-using yesterday's ids
    * would make every append a silent exactly-once no-op.
    */
  def nextBatchId: Long = synchronized {
    committed.keysIterator.maxOption.map(_ + 1L).getOrElse(0L)
  }

  /** Whether `batchId` is already committed — callers doing per-batch
    * derivation work (packing offsets) can skip it entirely on a
    * replay instead of computing a frame [[addBatch]] will discard.
    */
  def isCommitted(batchId: Long): Boolean = synchronized {
    committed.contains(batchId)
  }

  /** Shard files committed by batches with id strictly below
    * `batchId`, in creation order — the packing-offset derivation for
    * the streaming export: committed files are immutable, so a
    * restart replay of `batchId` recomputes the SAME offset its first
    * attempt used, keeping the packed layout deterministic across
    * crashes.
    */
  def filesCommittedBefore(batchId: Long): Seq[Path] = synchronized {
    committed.iterator.collect { case (b, (start, n)) if b < batchId =>
      (start until start + n).map(shardPath)
    }.flatten.toSeq
  }

  /** `foreachBatch`-compatible entry point: exactly-once under
    * micro-batch replay — an already-committed batchId is a no-op.
    */
  def addBatch(df: DataFrame, batchId: Long): Unit = synchronized {
    if (committed.contains(batchId)) return
    // a partial earlier attempt of this batch may have renamed some
    // files before crashing; clear anything at/beyond the next index
    // so a replay with a different task-file count can't strand one
    withStream(Files.list(path))(_.toSeq).foreach { p =>
      if (SinkState.shardIndex(prefix, p.getFileName.toString).exists(_ >= shardIndex))
        Files.delete(p)
    }
    val w = write(df)
    appendCommit(batchId, w.files)
    log.info(s"Committed batch $batchId to: $path (rows=${w.rows}, files=${w.files}, " +
      s"write_job_ms=${ms(w.jobNanos)}, rename_ms=${ms(w.renameNanos)}, " +
      s"commit_log_bytes=${Files.size(commitLog)})")
  }

  /** Cast one micro-batch to the schema and write its shards: one job,
    * whose tasks each roll their own shards over by the parity sink's
    * rule ([[StreamingShardSink.encodeShards]]), then a driver-side
    * rename of the listed shards, in (partition, shard) order, to the
    * indices from `shardIndex` on, leaving the counter to the caller.
    */
  private def write(df: DataFrame): StreamingShardSink.Written = {
    val casted = RowConformance.cast(df, schema)
    // a bad option fails here, before any job runs or any file exists
    val encoder = ship(df.sparkSession)
    val staging = Files.createTempDirectory(path, ".batch-")
    try {
      val t0 = System.nanoTime
      val shards = StreamingShardSink.encodeShards(casted, encoder, schema, shardSizeBytes, staging)
      val t1 = System.nanoTime
      shards.sortBy { case (partition, k, _, _) => (partition, k) }.zipWithIndex
        .foreach { case ((_, _, name, _), i) =>
          Files.move(staging.resolve(name), shardPath(shardIndex + i), StandardCopyOption.ATOMIC_MOVE)
        }
      StreamingShardSink.Written(shards.map(_._4).sum, shards.length, t1 - t0, System.nanoTime - t1)
    } finally ParquetFiles.deleteTree(staging)
  }

  /** The sink's encoder as a broadcast on `spark`'s context: resolved
    * by the first batch, and again only by a batch from another context.
    */
  private def ship(spark: SparkSession): Broadcast[DriverParquet.Encoder] = {
    val sc = spark.sparkContext
    shipped.collect { case (c, b) if c eq sc => b }.getOrElse {
      val b = sc.broadcast(new DriverParquet.Encoder(spark, schema, None, options))
      shipped = Some(sc -> b)
      b
    }
  }

  private def ms(nanos: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, nanos / 1e6)

  private def shardPath(index: Int): Path = path.resolve(SinkState.shardName(prefix, index))
}

object StreamingShardSink {

  /** What one batch's write did: rows, files, write-job and rename nanos. */
  private final case class Written(rows: Long, files: Int, jobNanos: Long, renameNanos: Long)

  /** The write job: each task streams its partition's rows through a
    * [[SinkState]] with a zero-byte buffer, so every row flushes at
    * once and a shard rotates before the first row that finds it
    * strictly over `shardSizeBytes` (`writer.py:201-204,257-264`). A
    * shard opens only with its first row, so an empty partition writes
    * nothing. Shard `k` of partition `p` is `p{p}-a{attempt}-{k}.parquet`
    * under `staging`; the returned `(p, k, name, rows)`, one per shard,
    * name the only files the driver moves, so a failed or retried
    * attempt's files stay behind in `staging`.
    */
  private def encodeShards(casted: DataFrame, encoder: Broadcast[DriverParquet.Encoder],
      schema: StructType, shardSizeBytes: Long, staging: Path): Array[(Int, Int, String, Long)] = {
    val dir = staging.toString // a java.nio Path does not serialize
    casted.queryExecution.toRdd.mapPartitionsWithIndex { (partition, rows) =>
      val prefix = s"p$partition-a${TaskContext.get().attemptNumber()}"
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val state = new SinkState(Some(shardSizeBytes), 0L)
      val sharded = rows.map { r =>
        state.addBatch(ColumnarSize.ofRow(toRow(r).asInstanceOf[Row], schema))
        if (state.afterWrite() == SinkState.RotateThenFlush || !state.shardOpen) state.onRotate()
        state.onFlush()
        (state.shardIndex - 1, r)
      }.buffered
      Iterator.continually(sharded.headOption).takeWhile(_.nonEmpty).map { first =>
        val k = first.get._1
        val name = SinkState.shardName(prefix, k)
        var n = 0L
        encoder.value.encodeTo(Paths.get(dir, name), new Iterator[InternalRow] {
          def hasNext: Boolean = sharded.headOption.exists(_._1 == k)
          def next(): InternalRow = { n += 1; sharded.next()._2 }
        })
        (partition, k, name, n)
      }
    }.collect()
  }
}
