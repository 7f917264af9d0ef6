package graft.sink

/** Pure flush/rollover state machine of the streaming Parquet sink —
  * the semantics core of the reference library
  * (`/root/reference/src/parquet_stream_writer/writer.py:11-41,201-204,
  * 257-264`), factored out of any I/O so it can be property-tested
  * exhaustively (ScalaCheck). Both sinks run it: the parity sink once
  * per sink on the driver, the distributed
  * [[graft.streaming.StreamingShardSink]] once per write task with a
  * zero-byte buffer, so each row flushes as it arrives.
  *
  * Semantics replicated from the reference CODE (its docstring claims
  * `bufferSizeBytes <= shardSizeBytes` is required but never enforces
  * it, and its own `test_sharding` assumes rollover on *buffered* bytes
  * while the code only counts *flushed* bytes — we follow the code):
  *
  *  - buffer is full at `bufferedBytes >= bufferSizeBytes`
  *    (`writer.py:22-25`, inclusive),
  *  - shard is full at `shardBytes > shardSizeBytes`
  *    (`writer.py:201-204`, strict, and only counting bytes already
  *    flushed to the shard — pending buffered bytes don't count),
  *  - on batch arrival, flush if buffer-full OR shard-full; rotate
  *    first only if shard-full AND the shard has data
  *    (`writer.py:257-264`), so a single batch larger than the shard
  *    limit still lands in one file,
  *  - byte accounting is estimated *uncompressed in-memory columnar*
  *    size, never on-disk compressed size (`writer.py:20`,
  *    `README.md:135-137`).
  */
final class SinkState(
    val shardSizeBytes: Option[Long],
    val bufferSizeBytes: Long) {

  require(shardSizeBytes.forall(_ >= 0), "shard_size_bytes must be non-negative")
  require(bufferSizeBytes >= 0, "buffer_size_bytes must be non-negative")

  private var _bufferedBytes: Long = 0L
  private var _bufferedBatches: Int = 0
  private var _shardBytes: Long = 0L
  private var _shardOpen: Boolean = false
  private var _shardIndex: Int = 0

  def bufferedBytes: Long = _bufferedBytes
  def shardBytes: Long = _shardBytes
  def shardOpen: Boolean = _shardOpen
  def shardIndex: Int = _shardIndex

  /** Buffer holds *any* batch — a 0-row batch still makes it truthy
    * (`writer.py:36-37` checks list non-emptiness, not row count), so
    * close() after only-empty writes still creates a 0-row file.
    */
  def bufferNonEmpty: Boolean = _bufferedBatches > 0

  def bufferFull: Boolean = _bufferedBytes >= bufferSizeBytes

  def shardFull: Boolean = shardSizeBytes.exists(_shardBytes > _)

  def addBatch(estBytes: Long): Unit = {
    _bufferedBatches += 1
    _bufferedBytes += estBytes
  }

  /** Decision after `write_batch` buffered its input
    * (`writer.py:257-264`). Exactly one of the three shapes:
    * nothing / flush only / rotate-then-flush.
    */
  def afterWrite(): SinkState.Action =
    if (bufferFull || shardFull) {
      if (shardFull && _shardBytes > 0) SinkState.RotateThenFlush
      else SinkState.FlushOnly
    } else SinkState.NoOp

  /** Caller performed a rotation (closed old shard, opened
    * `{prefix}-{index}.parquet`); mirrors `writer.py:177-199`.
    * Returns the index the new shard file must carry.
    */
  def onRotate(): Int = {
    val idx = _shardIndex
    _shardIndex += 1
    _shardBytes = 0L
    _shardOpen = true
    idx
  }

  /** Caller flushed the buffer into the current shard
    * (`writer.py:266-293`): shard bytes grow by the *buffered estimate*
    * (not on-disk size), buffer resets. No-op if buffer empty.
    */
  def onFlush(): Unit =
    if (bufferNonEmpty) {
      _shardBytes += _bufferedBytes
      _bufferedBytes = 0L
      _bufferedBatches = 0
    }
}

object SinkState {

  /** File name of shard `index` (`writer.py:184-188`). */
  def shardName(prefix: String, index: Int): String = s"$prefix-$index.parquet"

  /** The index of a [[shardName]] file, or None for any other name. A
    * `BigInt`, so an all-digit index past `Int` range still parses.
    */
  def shardIndex(prefix: String, fileName: String): Option[BigInt] =
    Some(fileName).filter(n => n.startsWith(s"$prefix-") && n.endsWith(".parquet"))
      .map(_.stripPrefix(s"$prefix-").stripSuffix(".parquet"))
      .filter(idx => idx.nonEmpty && idx.forall(_.isDigit))
      .map(BigInt(_))

  sealed trait Action
  case object NoOp extends Action
  case object FlushOnly extends Action
  case object RotateThenFlush extends Action
}
