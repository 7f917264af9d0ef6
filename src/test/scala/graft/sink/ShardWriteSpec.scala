package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The parity sink's shard write path: each flush is encoded once in
  * memory and appended to its open shard. Its bytes are pinned to the
  * staged-file composition it replaced — [[DriverParquet.write]] per
  * chunk of at most `rowGroupSize` rows, then [[ParquetFiles.concat]]
  * per shard — and it must leave nothing in the output but the shards.
  */
class ShardWriteSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = TestSpark.spark

  private var tmp: Path = _
  override def beforeEach(): Unit = { tmp = Files.createTempDirectory("graft-shard-spec") }
  override def afterEach(): Unit = {
    import java.util.Comparator
    if (Files.exists(tmp)) {
      val s = Files.walk(tmp)
      val paths = try s.sorted(Comparator.reverseOrder[Path]())
        .iterator.asScala.toSeq finally s.close()
      paths.foreach(Files.deleteIfExists(_))
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("x", DoubleType), StructField("ts", TimestampNTZType)))

  private val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** `n` calls of `size` rows; ids run on across calls. */
  private def calls(n: Int, size: Int): Seq[Seq[Row]] =
    (0 until n).map(c => (0 until size).map { i =>
      val id = c.toLong * size + i
      Row(id, if (id % 7 == 0) null else s"v${id % 13}", id * 0.5, t0.plusMinutes(id))
    })

  private def entries(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** The staged-file composition on the same calls: the sink's own
    * [[SinkState]] decides flushes and rotations, each flush is written
    * as `rowGroupSize`-row chunk files, and each shard's chunks are
    * concatenated. Returns the shard files in order.
    */
  private def oracle(dir: Path, in: Seq[Seq[Row]], shardBytes: Option[Long], bufferBytes: Long,
      rowGroupSize: Option[Int], options: Map[String, String]): Seq[Path] = {
    Files.createDirectories(dir)
    val state = new SinkState(shardBytes, bufferBytes)
    val shards = ArrayBuffer.empty[ArrayBuffer[Seq[Row]]]
    val pending = ArrayBuffer.empty[Row]
    def rotate(): Unit = { state.onRotate(); shards += ArrayBuffer.empty[Seq[Row]] }
    def flush(): Unit = if (state.bufferNonEmpty) {
      if (shards.isEmpty) rotate()
      shards.last += pending.toSeq
      pending.clear()
      state.onFlush()
    }
    in.foreach { c =>
      pending ++= c
      state.addBatch(ColumnarSize.ofRows(c, schema))
      state.afterWrite() match {
        case SinkState.NoOp            => ()
        case SinkState.FlushOnly       => flush()
        case SinkState.RotateThenFlush => rotate(); flush()
      }
    }
    flush()
    shards.toSeq.zipWithIndex.map { case (flushes, s) =>
      val parts = flushes.toSeq.flatMap { rows =>
        rowGroupSize match {
          case Some(n) if rows.nonEmpty => rows.grouped(n).toSeq
          case _                        => Seq(rows)
        }
      }.zipWithIndex.map { case (chunk, i) =>
        val p = dir.resolve(s"part-$s-$i.parquet")
        DriverParquet.write(spark, p, schema, chunk, options)
        p
      }
      val dest = dir.resolve(s"shard-$s.parquet")
      ParquetFiles.concat(parts, dest)
      dest
    }
  }

  /** Run the sink and the oracle on the same calls, under `tmp/name`;
    * every shard must match byte for byte. Returns the sink's shards.
    */
  private def assertSameBytes(name: String, in: Seq[Seq[Row]], shardBytes: Option[Long],
      bufferBytes: Long, rowGroupSize: Option[Int],
      options: Map[String, String] = Map.empty): Seq[Path] = {
    val base = Files.createDirectory(tmp.resolve(name))
    val out = base.resolve(if (shardBytes.isDefined) "out" else "out.parquet")
    val sink = new ParquetStreamSink(spark, out, schema, shardBytes, bufferBytes,
      rowGroupSize = rowGroupSize, options = options)
    in.foreach(sink.writeRows)
    sink.close()
    val want = oracle(base.resolve("oracle"), in, shardBytes, bufferBytes, rowGroupSize, options)
    val got = sink.writtenFiles
    assert(got.size == want.size, s"shard count: ${got.size} != ${want.size}")
    got.zip(want).foreach { case (g, w) =>
      assert(Files.readAllBytes(g).sameElements(Files.readAllBytes(w)), s"$g differs from $w")
    }
    got
  }

  test("one flush, no cap: the shard is the encoded flush verbatim") {
    val Seq(f) = assertSameBytes("one", calls(3, 400), None, Long.MaxValue, None)
    assert(ParquetFiles.rowGroupStats(f) == ((1, 1200L, 1200L)))
  }

  test("one flush within the cap, and one flush over it") {
    assertSameBytes("within", calls(2, 300), None, Long.MaxValue, Some(1000))
    val Seq(f) = assertSameBytes("over", calls(5, 300), None, Long.MaxValue, Some(400))
    assert(ParquetFiles.rowGroupStats(f) == ((4, 1500L, 400L)))
  }

  test("several flushes per shard under a row-group cap") {
    val est = ColumnarSize.ofRows(calls(1, 250).head, schema)
    // every call flushes; a shard takes three calls before it rolls
    val shards = assertSameBytes("several", calls(11, 250), Some(est * 5 / 2), 0L, Some(100))
    assert(shards.size == 4)
    assert(shards.map(ParquetFiles.rowGroupStats(_)._2).sum == 11 * 250L)
  }

  test("compression=zstd and statistics disabled keep the composition's bytes") {
    val est = ColumnarSize.ofRows(calls(1, 200).head, schema)
    val zstd = assertSameBytes("zstd", calls(6, 200), Some(est * 2), est * 2, Some(150),
      Map("compression" -> "zstd"))
    assert(ParquetFiles.firstColumnCodec(zstd.head) == "ZSTD")
    val plain = assertSameBytes("nostats", calls(6, 200), Some(est * 2), est * 2, Some(150),
      Map("parquet.column.statistics.enabled" -> "false"))
    assert(!ParquetFiles.firstColumnHasStatistics(plain.head))
  }

  test("a shard with no flush, and an empty flush, write 0-row files") {
    val out = tmp.resolve("out")
    val sink = new ParquetStreamSink(spark, out, schema, Some(1L), 1L)
    sink.openNewShard()
    sink.openNewShard() // the first shard closes unflushed
    sink.writeRows(Seq.empty) // a buffered 0-row batch, flushed by close
    sink.close()
    val empty = tmp.resolve("empty.parquet")
    DriverParquet.write(spark, empty, schema, Seq.empty, Map.empty)
    assert(sink.writtenFiles.size == 2)
    sink.writtenFiles.foreach { f =>
      assert(Files.readAllBytes(f).sameElements(Files.readAllBytes(empty)), s"$f")
    }
  }

  test("after close the output holds exactly the written files") {
    val est = ColumnarSize.ofRows(calls(1, 100).head, schema)
    val out = tmp.resolve("shards")
    val sink = new ParquetStreamSink(spark, out, schema, Some(est * 2), est, rowGroupSize = Some(60))
    calls(9, 100).foreach(sink.writeRows)
    sink.close()
    assert(sink.writtenFiles.size > 1)
    assert(entries(out) == sink.writtenFiles.map(_.getFileName.toString).toSet)
    assert(entries(tmp) == Set("shards"))

    val single = tmp.resolve("single.parquet")
    val one = new ParquetStreamSink(spark, single, schema, bufferSizeBytes = est, rowGroupSize = Some(60))
    calls(4, 100).foreach(one.writeRows) // several flushes into one file
    one.close()
    assert(entries(tmp) == Set("shards", "single.parquet"))
  }

  test("an unknown codec fails in the constructor, before the overwrite delete") {
    val out = tmp.resolve("existing.parquet")
    DriverParquet.write(spark, out, schema, calls(1, 10).head, Map.empty)
    val before = Files.readAllBytes(out)
    val e = intercept[IllegalArgumentException] {
      new ParquetStreamSink(spark, out, schema, overwrite = true, options = Map("compression" -> "snapy"))
    }
    assert(e.getMessage.contains("snapy"))
    assert(Files.readAllBytes(out).sameElements(before))
    assert(entries(tmp) == Set("existing.parquet"))
    // the same holds for a shard directory
    val dir = tmp.resolve("dir")
    Files.createDirectory(dir)
    intercept[IllegalArgumentException] {
      new ParquetStreamSink(spark, dir, schema, Some(1L), overwrite = true,
        options = Map("compression" -> "snapy"))
    }
    assert(Files.isDirectory(dir))
    intercept[FileAlreadyExistsException](new ParquetStreamSink(spark, dir, schema))
  }
}
