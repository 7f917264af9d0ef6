package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Sessions
import graft.sink.{ColumnarSize, ColumnarSizeExpr, DriverParquet, ParquetFiles, ParquetStreamSink, RowConformance, SinkState}
import graft.streaming.StreamingShardSink

object Ingest {
  /** Rows per `writeRows` call. */
  val CallRows = 1000
  /** Parity-sink thresholds: for 120 k rows of about 86 estimated
    * bytes, some 24 flushes of two or three row groups each and 5 shards.
    */
  val BufferBytes: Long = 384L * 1024
  val ShardBytes: Long = 1536L * 1024
  val RowGroupCap = 2500
  /** Streaming sink: micro-batches per pass (10 k rows each) and a
    * per-file threshold below one task's share of a batch, so it binds.
    */
  val Batches = 12
  val StreamShardBytes: Long = 128L * 1024
  /** The selective read: about 1% of the order keys. */
  val RangeLo = 15000L
  val RangeHi = 15374L

  final case class Expected(
      full: (Long, java.math.BigDecimal), range: (Long, java.math.BigDecimal), estBytes: Long)

  /** The sink's flush and rotation decisions, replayed from the same
    * per-call size estimates the sink feeds its own [[SinkState]].
    */
  final class Shadow(estimates: IndexedSeq[Long]) {
    private val state = new SinkState(Some(ShardBytes), BufferBytes)
    private var pending = ArrayBuffer.empty[Int]
    /** (shard index, call indices) of every flush, in order. */
    val flushes = ArrayBuffer.empty[(Int, Seq[Int])]
    val actions = new Array[SinkState.Action](estimates.length)
    var rotations = 0

    private def rotate(): Unit = { state.onRotate(); rotations += 1 }
    private def flush(): Unit = if (state.bufferNonEmpty) {
      if (rotations == 0) rotate()
      flushes += ((rotations - 1, pending.toSeq))
      pending = ArrayBuffer.empty[Int]
      state.onFlush()
    }

    estimates.indices.foreach { i =>
      pending += i
      state.addBatch(estimates(i))
      actions(i) = state.afterWrite()
      actions(i) match {
        case SinkState.NoOp            => ()
        case SinkState.FlushOnly       => flush()
        case SinkState.RotateThenFlush => rotate(); flush()
      }
    }
    flush() // close()

    def rowGroups(callRows: Int => Int): Int = flushes.map { case (_, calls) =>
      val n = calls.map(callRows).sum
      (n + RowGroupCap - 1) / RowGroupCap
    }.sum
  }

  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9
  private def ms(t0: Long): Double = (System.nanoTime - t0) / 1e6
}

/** The two sink workloads over the same `lineitem` rows. */
final class Ingest(run: Run) {
  import Ingest._

  private val spark = run.spark
  private val input = s"${run.data}/lineitem.parquet"

  /** A row's hash over all columns; summed, it is order-independent. */
  private def rowHash(df: DataFrame) =
    xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")

  /** (rows, content hash) of a frame. */
  private def content(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df)), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def selective(df: DataFrame): DataFrame =
    df.filter(col("l_orderkey").between(RangeLo, RangeHi))

  /** Check values of the input, in one job: content hashes of all
    * rows and of the selective range, and the sink's size estimate.
    */
  private def expected(): Expected = {
    val df = spark.read.parquet(input)
    val h = rowHash(df)
    val inRange = col("l_orderkey").between(RangeLo, RangeHi)
    val r = df.agg(count(lit(1)), sum(h), count(when(inRange, 1)), sum(when(inRange, h)),
      sum(ColumnarSizeExpr.rowBytes(df.schema))).head()
    Expected((r.getLong(0), r.getDecimal(1)), (r.getLong(2), r.getDecimal(3)), r.getLong(4))
  }

  /** Per-pass readings shared by both sinks. */
  private final class Pass(val wall: Double, val calls: Array[Double], val steal: Double) {
    var readback = 0.0
    var storedRatio = 0.0
    var heapMb = 0.0
    var traced = false
  }

  /** The fixed reader pass over one pass's output: a full-scan content
    * hash and the selective range predicate. Returns (seconds, full,
    * range).
    */
  private def readBack(span: String, dir: Path) = {
    run.tag(span)
    val t0 = System.nanoTime
    val df = spark.read.parquet(dir.toString)
    val full = content(df)
    val range = content(selective(df))
    (secs(t0), full, range)
  }

  /** Two reader passes, the first checked; their mean is the pass's
    * reading.
    */
  private def checkedReadBack(tag: String, dir: Path, exp: Expected): Double = {
    val (s, full, range) = readBack(s"$tag/readback", dir)
    val s2 = readBack(s"$tag/readback-2", dir)._1
    run.check(s"$tag read-back rows", full._1 == exp.full._1, s"${full._1} != ${exp.full._1}")
    run.check(s"$tag read-back content hash", full._2 == exp.full._2, s"${full._2} != ${exp.full._2}")
    run.check(s"$tag range predicate", range == exp.range, s"$range != ${exp.range}")
    (s + s2) / 2
  }

  /** Footer facts of the output: (row groups, row groups a min/max
    * filter on the selective range skips, largest row group).
    */
  private def footers(files: Seq[Path]): (Int, Int, Long) = {
    val conf = new Configuration()
    var groups = 0
    var skipped = 0
    var largest = 0L
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getFooter.getBlocks.asScala.foreach { b =>
        groups += 1
        largest = math.max(largest, b.getRowCount)
        val st = b.getColumns.get(0).getStatistics
        if (st != null && st.hasNonNullValue) {
          val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
          val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
          if (hi < RangeLo || lo > RangeHi) skipped += 1
        }
      } finally r.close()
    }
    (groups, skipped, largest)
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def treeBytes(files: Seq[Path]): Long = files.map(Files.size).sum

  /** End-to-end metrics over the untraced passes (all passes in an
    * untraced run): call percentiles over their calls pooled, the
    * other readings as medians across them.
    */
  private def report(passes: Seq[Pass], rows: Long): Unit = {
    val plain = passes.filterNot(_.traced)
    val calls = plain.flatMap(_.calls.toSeq)
    val tailPct = Stats.tailPercentile(calls.length)
    val m = run.metrics
    m("pass_s") = Stats.median(plain.map(_.wall))
    m("op_p50_ms") = Stats.percentile(calls, 50)
    m("op_tail_ms") = Stats.percentile(calls, tailPct)
    m("readback_s") = Stats.median(plain.map(_.readback))
    m("stored_bytes_ratio") = Stats.median(plain.map(_.storedRatio))
    m("heap_peak_mb") = Stats.median(plain.map(_.heapMb))
    run.info("op_tail_percentile") = tailPct.toString
    run.info("ingest_rows_per_s") = f"${rows / m("pass_s")}%.1f"
    run.info("pass_steal") = passes.map(p => f"${p.steal}%.3f").mkString(",")
    run.info("pass_heap_mb") = passes.map(p => f"${p.heapMb}%.1f").mkString(",")
    val traced = passes.filter(_.traced)
    if (traced.nonEmpty)
      m("trace.overhead_ms") = (Stats.median(traced.map(_.wall)) - Stats.median(plain.map(_.wall))) * 1e3
  }

  /** Run the closed loop with heap and steal watching. */
  private def timedPass(p: Int)(body: => Array[Double]): Pass = {
    run.heap.arm()
    val steal = Steal.ticks()
    val t0 = System.nanoTime
    val calls = body
    val wall = secs(t0)
    val pass = new Pass(wall, calls, Steal.since(steal))
    pass.heapMb = run.heap.disarm() / 1048576.0
    pass.traced = run.isTracing
    run.trace.record(s"pass-$p", t0, t0 + (wall * 1e9).toLong, "run")
    pass
  }

  private def readLayer(tag: String, files: Seq[Path]): Unit = {
    run.drain()
    val (groups, skipped, _) = footers(files)
    run.metrics("read.files") = files.size.toDouble
    run.metrics("read.row_groups") = groups.toDouble
    run.metrics("read.row_groups_skipped") = skipped.toDouble
    run.metrics("read.tasks") = run.listener.jobsOf(s"$tag/readback").map(_.tasks).sum.toDouble
  }

  // ------------------------------------------------------------------
  // parity_ingest

  def parity(): Unit = {
    var schema: StructType = null
    var chunks: IndexedSeq[Seq[Row]] = IndexedSeq.empty
    run.setup { _ =>
      chunks = IndexedSeq.empty // let the previous set-up's rows go first
      val df = spark.read.parquet(input)
      schema = df.schema
      chunks = df.collect().grouped(CallRows).map(_.toSeq).toIndexedSeq
    }
    val rows = chunks.map(_.size)
    val estimates = chunks.map(ParquetStreamSink.estimateBytes(_, schema))
    val shadow = new Shadow(estimates)
    val keys = chunks.iterator.flatten.map(r => r.getLong(0) * 8 + r.getInt(3)).toArray
    val exp = run.phase("expected")(expected())
    run.check("input estimate", estimates.sum == exp.estBytes, s"${estimates.sum} != ${exp.estBytes}")
    run.info("input_rows") = keys.length.toString
    run.info("flushes") = shadow.flushes.size.toString
    run.info("shards") = shadow.rotations.toString

    def newSink(dir: Path) = new ParquetStreamSink(spark, dir, schema, Some(ShardBytes),
      BufferBytes, Some("part"), Some(RowGroupCap))

    // JIT warm-up on the same path, outside every timed region
    val warm = run.out.resolve("warmup")
    run.phase("warmup") {
      ParquetStreamSink.withSink(newSink(warm))(s => chunks.take(50).foreach(s.writeRows))
      readBack("warmup", warm)
    }
    Fs.deleteTree(warm)

    val done = ArrayBuffer.empty[Pass]
    var closeMs = 0.0
    run.passes(run.minPasses) { p =>
      val tag = s"parity-$p"
      val dir = run.out.resolve(tag)
      val sink = newSink(dir)
      val pass = timedPass(p) {
        val calls = new Array[Double](chunks.length)
        var i = 0
        while (i < chunks.length) {
          run.tag(s"$tag/call")
          val c0 = System.nanoTime
          sink.writeRows(chunks(i))
          calls(i) = ms(c0)
          if (run.isTracing) run.trace.record("writeRows", c0, System.nanoTime, tag)
          i += 1
        }
        run.tag(s"$tag/close")
        val c0 = System.nanoTime
        sink.close()
        closeMs = ms(c0)
        calls
      }
      run.attempted(chunks.length + 1)
      val files = sink.writtenFiles
      pass.readback = checkedReadBack(tag, dir, exp)
      pass.storedRatio = treeBytes(files).toDouble / exp.estBytes
      checkParity(tag, files, keys, shadow, rows)
      if (pass.traced) {
        parityLayers(tag, pass, closeMs, files, chunks, shadow, schema)
        readLayer(tag, files)
      }
      done += pass
      Fs.deleteTree(dir)
      pass.wall
    }
    report(done.toSeq, keys.length)
  }

  private def checkParity(tag: String, files: Seq[Path], keys: Array[Long],
      shadow: Shadow, rows: IndexedSeq[Int]): Unit = {
    // insertion order: shards in manifest order, rows in file order
    val seen = spark.read.parquet(files.map(_.toString): _*)
      .select(col("_metadata.file_name"), col("_metadata.row_index"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("k"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val inOrder = files.iterator.flatMap(f => seen.getOrElse(f.getFileName.toString, Array.empty[Long]))
    run.check(s"$tag insertion order", inOrder.sameElements(keys.iterator), "rows out of order")
    val (groups, _, largest) = footers(files)
    run.check(s"$tag row groups within cap", largest <= RowGroupCap, s"largest $largest")
    run.check(s"$tag shards match shadow rotations", files.size == shadow.rotations,
      s"${files.size} != ${shadow.rotations}")
    val expGroups = shadow.rowGroups(rows)
    run.check(s"$tag row groups match shadow flushes", groups == expGroups, s"$groups != $expGroups")
  }

  /** Per-layer readings of one traced parity pass: the call split by
    * the shadow's decision, and timed replays of the public sink
    * components on the same calls and flush-sized chunks.
    */
  private def parityLayers(tag: String, pass: Pass, closeMs: Double, files: Seq[Path],
      chunks: IndexedSeq[Seq[Row]], shadow: Shadow, schema: StructType): Unit = {
    run.drain()
    val m = run.metrics
    def splitMs(a: SinkState.Action) =
      pass.calls.indices.filter(shadow.actions(_) == a).map(pass.calls(_)).sum
    m("sink.ParquetStreamSink.buffered_ms") = splitMs(SinkState.NoOp)
    m("sink.ParquetStreamSink.flush_ms") = splitMs(SinkState.FlushOnly)
    m("sink.ParquetStreamSink.rotate_ms") = splitMs(SinkState.RotateThenFlush)
    m("sink.ParquetStreamSink.close_ms") = closeMs
    m("sink.SinkState.flushes") = shadow.flushes.size.toDouble
    m("sink.SinkState.rotations") = shadow.rotations.toDouble
    m("spark.jobs") = run.listener.jobs.count(j => j.span.startsWith(s"$tag/c")).toDouble

    var fallback = 0
    var t0 = System.nanoTime
    chunks.foreach(c => if (!c.forall(RowConformance.conforms(_, schema))) fallback += 1)
    m("sink.RowConformance.conforms_ms") = ms(t0)
    m("sink.RowConformance.fallback_batches") = fallback.toDouble
    t0 = System.nanoTime
    chunks.foreach(ColumnarSize.ofRows(_, schema))
    m("sink.ColumnarSize.ofRows_ms") = ms(t0)

    val replay = run.out.resolve(s"$tag-replay")
    Files.createDirectories(replay)
    var writeMs = 0.0
    val staged = shadow.flushes.zipWithIndex.map { case ((shard, calls), f) =>
      val flushRows = calls.flatMap(chunks(_))
      shard -> flushRows.grouped(RowGroupCap).zipWithIndex.map { case (g, i) =>
        val dest = replay.resolve(f"staged-$f%05d-$i%04d.parquet")
        val w0 = System.nanoTime
        DriverParquet.write(spark, dest, schema, g, Map.empty)
        writeMs += ms(w0)
        dest
      }.toSeq
    }
    m("sink.DriverParquet.write_ms") = writeMs
    var concatMs = 0.0
    val shards = staged.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, parts) =>
      val dest = replay.resolve(s"shard-$s.parquet")
      val c0 = System.nanoTime
      ParquetFiles.concat(parts.flatMap(_._2).toSeq, dest)
      concatMs += ms(c0)
      dest
    }
    m("sink.ParquetFiles.concat_ms") = concatMs
    m("sink.ParquetFiles.concat_bytes") = treeBytes(shards).toDouble
    Fs.deleteTree(replay)
  }

  // ------------------------------------------------------------------
  // stream_ingest

  def stream(): Unit = {
    var schema: StructType = null
    var batches: IndexedSeq[DataFrame] = IndexedSeq.empty
    run.setup { _ =>
      Sessions.isolateQueries(spark) // drop the previous set-up's checkpoint
      val df = spark.read.parquet(input)
      schema = df.schema
      val sliced = df
        .withColumn("_slice", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(Batches)))
        .repartition(run.cpus)
        .localCheckpoint(eager = true)
      batches = (0 until Batches).map(i => sliced.filter(col("_slice") === i).drop("_slice"))
    }
    val exp = run.phase("expected")(expected())
    run.info("input_rows") = exp.full._1.toString

    def newSink(dir: Path) = new StreamingShardSink(dir, schema, StreamShardBytes, Some("part"))

    val warm = newSink(run.out.resolve("warmup"))
    run.phase("warmup") {
      batches.take(3).zipWithIndex.foreach { case (b, i) => warm.addBatch(b, i.toLong) }
      readBack("warmup", warm.path)
    }
    Fs.deleteTree(warm.path)

    val done = ArrayBuffer.empty[Pass]
    run.passes(run.minPasses) { p =>
      val tag = s"stream-$p"
      val dir = run.out.resolve(tag)
      val sink = newSink(dir)
      val files = new Array[Int](Batches)
      val pass = timedPass(p) {
        val calls = new Array[Double](Batches)
        var i = 0
        while (i < Batches) {
          run.tag(s"$tag/batch-$i")
          val before = sink.writtenFiles.size
          val c0 = System.nanoTime
          sink.addBatch(batches(i), i.toLong)
          calls(i) = ms(c0)
          if (run.isTracing) run.trace.record("addBatch", c0, System.nanoTime, tag)
          files(i) = sink.writtenFiles.size - before
          i += 1
        }
        calls
      }
      run.attempted(Batches)
      val written = sink.writtenFiles
      pass.readback = checkedReadBack(tag, dir, exp)
      pass.storedRatio = treeBytes(written).toDouble / exp.estBytes
      checkStream(tag, sink, batches.last)
      if (pass.traced) {
        streamLayers(tag, pass, files.toSeq, dir)
        readLayer(tag, written)
      }
      done += pass
      Fs.deleteTree(dir)
      pass.wall
    }
    report(done.toSeq, exp.full._1)
  }

  private def checkStream(tag: String, sink: StreamingShardSink, last: DataFrame): Unit = {
    val log = sink.path.resolve("_graft_commits.tsv")
    val lines = Files.readAllLines(log).asScala.count(_.nonEmpty)
    run.check(s"$tag commit log has one line per batch", lines == Batches, s"$lines lines")
    val before = (parquetFiles(sink.path), Files.size(log), sink.writtenFiles)
    run.tag(s"$tag/replay")
    sink.addBatch(last, (Batches - 1).toLong)
    run.attempted(1)
    val after = (parquetFiles(sink.path), Files.size(log), sink.writtenFiles)
    run.check(s"$tag replayed batch writes nothing", before == after, "output changed on replay")
  }

  private def streamLayers(tag: String, pass: Pass, files: Seq[Int], dir: Path): Unit = {
    run.drain()
    val m = run.metrics
    val perBatch = (0 until Batches).map(i => run.listener.jobsOf(s"$tag/batch-$i"))
    val jobs = perBatch.flatten
    def isWrite(j: JobRecord) = j.callSite.startsWith("save at")
    run.info("batch_job_sites") = jobs.map(_.callSite).distinct.mkString("; ")
    m("streaming.StreamingShardSink.addBatch_ms") = Stats.median(pass.calls.toSeq)
    m("spark.jobs") = jobs.size.toDouble
    m("spark.jobs_per_batch") = jobs.size.toDouble / Batches
    m("spark.tasks_per_batch") = jobs.map(_.tasks).sum.toDouble / Batches
    m("spark.size_sample_job_ms") = Stats.median(perBatch.map(_.filterNot(isWrite).map(_.wallMs).sum.toDouble))
    m("spark.write_job_ms") = Stats.median(perBatch.map(_.filter(isWrite).map(_.wallMs).sum.toDouble))
    m("streaming.driver_gap_ms") = Stats.median(perBatch.indices.map(i =>
      pass.calls(i) - perBatch(i).map(_.wallMs).sum))
    m("streaming.files_per_batch") = files.sum.toDouble / Batches
    m("streaming.commit_log_bytes") = Files.size(dir.resolve("_graft_commits.tsv")).toDouble
    m("spark.executor_busy_share") = jobs.map(_.taskRunMs).sum / (pass.calls.sum * run.cpus)
  }
}
