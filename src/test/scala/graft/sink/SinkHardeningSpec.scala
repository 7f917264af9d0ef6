package graft.sink

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingShardSink

/** Regressions from the sink/streaming review pass: writeRows' slow
  * path must actually widen (the doc's promise), the distributed size
  * estimate must match the driver's on every type, nulls included, and
  * the streaming sink's resume path must refuse the configuration
  * that would silently delete an existing dataset.
  */
class SinkHardeningSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = TestSpark.spark

  private var tmp: Path = _
  override def beforeEach(): Unit = { tmp = Files.createTempDirectory("graft-hard-spec") }
  override def afterEach(): Unit = ParquetFiles.deleteTree(tmp)

  private val idVal = StructType(Seq(
    StructField("id", LongType), StructField("value", StringType)))

  test("writeRows widens narrower JVM numerics through the cast path") {
    val out = tmp.resolve("widen.parquet")
    val sink = new ParquetStreamSink(spark, out, idVal)
    // Integer where LongType is declared — conformance fails, and the
    // old slow path (createDataFrame with the TARGET schema) died with
    // a ClassCastException instead of widening as documented
    sink.writeRows(Seq(Row(java.lang.Integer.valueOf(1), "a"),
      Row(java.lang.Long.valueOf(2L), "b"), // mixed widths in one column
      Row(null, "c")))
    sink.close()
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (-1L, "c")))
  }

  test("writeRows casts parseable strings and raises on invalid ones") {
    val out = tmp.resolve("cast.parquet")
    val sink = new ParquetStreamSink(spark, out, idVal)
    sink.writeRows(Seq(Row("123", "a"))) // StringType source → ANSI cast to long
    sink.close()
    assert(spark.read.parquet(out.toString).collect().map(_.getLong(0)).toSeq == Seq(123L))
    val sink2 = new ParquetStreamSink(spark, tmp.resolve("bad.parquet"), idVal)
    intercept[Exception] { sink2.writeRows(Seq(Row("not-a-number", "x"))); sink2.close() }
  }

  /** The distributed estimate prices a row from the `Row` Spark hands
    * its UDF, so it matches the driver's only if that conversion keeps
    * every value [[ColumnarSize]] measures: one column per branch of its
    * size rule, with null elements inside arrays (a single null once
    * sized a whole array at 4 bytes → oversized shards), null map
    * values, a null struct and a struct with a null field.
    */
  test("ColumnarSizeExpr matches ColumnarSize on containers with nulls") {
    val pt = StructType(Seq(StructField("x", IntegerType), StructField("label", StringType)))
    val schema = StructType(Seq(
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("nums", ArrayType(LongType, containsNull = true)),
      StructField("blobs", ArrayType(BinaryType, containsNull = true)),
      StructField("attrs", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("ts", TimestampType),
      StructField("ts_ntz", TimestampNTZType),
      StructField("day", DateType),
      StructField("price", DecimalType(12, 2)),
      StructField("small", ShortType),
      StructField("flag", BooleanType),
      StructField("bin", BinaryType),
      StructField("text", StringType),
      StructField("gone", pt),
      StructField("half", pt),
      StructField("pts", ArrayType(pt, containsNull = true))))
    val row = Row(
      Seq("hello", null, "world"),
      Seq(1L, null, 3L),
      Seq(Array[Byte](1, 2, 3), null),
      Map("k1" -> "v1", "k2" -> null),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
      java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5),
      java.sql.Date.valueOf("2024-01-02"),
      new java.math.BigDecimal("1234.56"),
      7.toShort,
      true,
      Array[Byte](9, 8, 7, 6, 5),
      "naïve café — 日本語 ✓",
      null,
      Row(null, "only label"),
      Seq(Row(1, "a"), null, Row(null, null)))
    val expected = ColumnarSize.ofRow(row, schema)
    val df = spark.createDataFrame(
      java.util.List.of(row), schema)
    val got = df.select(ColumnarSizeExpr.rowBytes(schema).as("b"))
      .head().getLong(0)
    assert(got == expected,
      s"expression estimate $got != driver estimate $expected")
    assert(got > 4 * 4, "container bytes must reflect element data, not stubs")
  }

  test("streaming resume refuses a shard-bearing dir with no commit log") {
    val out = tmp.resolve("lost-log")
    Files.createDirectory(out)
    Files.write(out.resolve("lost-log-0.parquet"), Array[Byte](1))
    val e = intercept[IllegalStateException] {
      new StreamingShardSink(out, idVal, shardSizeBytes = 1024, resume = true)
    }
    assert(e.getMessage.contains("refusing to resume"))
  }

  test("streaming orphan cleanup skips non-numeric suffixes, deletes out-of-Int indexes") {
    import spark.implicits._
    val out = tmp.resolve("odd")
    val sink = new StreamingShardSink(out, idVal, shardSizeBytes = 1024)
    // an empty suffix and an all-digit index past Int range each threw
    // NumberFormatException out of addBatch's orphan cleanup
    val foreign = Seq("odd-.parquet", "odd-x1.parquet").map(out.resolve)
    val orphan = out.resolve("odd-99999999999.parquet")
    (foreign :+ orphan).foreach(Files.write(_, Array[Byte](1)))
    sink.addBatch(Seq((1L, "a")).toDF("id", "value"), batchId = 0L)
    assert(foreign.forall(Files.exists(_)), "a non-numeric suffix is not a shard")
    assert(!Files.exists(orphan), "an index at or past the next shard is an orphan")
    assert(sink.writtenFiles.nonEmpty)
  }

  test("streaming restore drops a torn trailing commit-log line") {
    import spark.implicits._
    val out = tmp.resolve("torn")
    Files.createDirectory(out)
    // batch 0 committed (2 files); batch 1's append was torn mid-line
    Files.write(out.resolve("_graft_commits.tsv"),
      "0\t0\t2\n1\t2\t".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(out.resolve("torn-0.parquet"), Array[Byte](1))
    Files.write(out.resolve("torn-1.parquet"), Array[Byte](1))
    val sink = new StreamingShardSink(out, idVal, shardSizeBytes = 1024, resume = true)
    // the torn batch was never acknowledged: its replay must WRITE
    val df = Seq((10L, "x")).toDF("id", "value")
    sink.addBatch(df.withColumn("value", lit("x")), batchId = 1L)
    assert(sink.writtenFiles.size > 2, "torn batch must replay, not be skipped")
    // and batch 0 stays committed: replaying it is a no-op
    val before = sink.writtenFiles.size
    sink.addBatch(df, batchId = 0L)
    assert(sink.writtenFiles.size == before)
  }

  /** The committed set and the shard counter move only after a
    * batch's log line is on disk: a batch whose log append throws must
    * replay on the same sink, not be skipped as committed while its
    * shards, which have no log line, wait for the next resumed sink's
    * orphan cleanup to delete them.
    */
  test("a batch whose commit-log append fails replays, and every batch lands exactly once") {
    import spark.implicits._
    val out = tmp.resolve("order")
    def batch(b: Long) = (0L until 30L).map(i => (b * 100 + i, s"row $b-$i")).toDF("id", "value")
    val sink = new StreamingShardSink(out, idVal, shardSizeBytes = 256)
    sink.addBatch(batch(0), batchId = 0L)
    val logFile = out.resolve("_graft_commits.tsv")
    val logBytes = Files.readAllBytes(logFile)
    Files.delete(logFile)
    Files.createDirectory(logFile) // batch 1's renames succeed, its log append throws
    intercept[java.io.IOException] { sink.addBatch(batch(1), batchId = 1L) }
    Files.delete(logFile)
    Files.write(logFile, logBytes)
    sink.addBatch(batch(1), batchId = 1L)
    new StreamingShardSink(out, idVal, shardSizeBytes = 256, resume = true)
      .addBatch(batch(2), batchId = 2L)
    val ids = spark.read.schema(idVal).parquet(out.toString).select("id").as[Long].collect()
    assert(ids.sorted.toSeq == (0L to 2L).flatMap(b => (0L until 30L).map(b * 100 + _)))
    assert(Files.readAllLines(logFile).size == 3)
  }

  /** Restore must TRUNCATE a torn fragment on disk, not just skip it
    * in memory: appendCommit O_APPENDs, so a surviving fragment merges
    * with the next record into one line — and the restart AFTER that
    * either throws on the malformed line or silently restores a bogus
    * (batchId, startIndex) pair, skipping an uncommitted batch.
    */
  test("second restart after a torn-line replay restores cleanly") {
    import spark.implicits._
    val out = tmp.resolve("torn2")
    Files.createDirectory(out)
    Files.write(out.resolve("_graft_commits.tsv"),
      "0\t0\t2\n1\t2\t".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(out.resolve("torn2-0.parquet"), Array[Byte](1))
    Files.write(out.resolve("torn2-1.parquet"), Array[Byte](1))
    val sink = new StreamingShardSink(out, idVal, shardSizeBytes = 1024, resume = true)
    val df = Seq((10L, "x")).toDF("id", "value")
    sink.addBatch(df, batchId = 1L) // appends onto wherever the log ends
    val filesAfterReplay = sink.writtenFiles.size
    // the crash-restart after the replay: every committed record must
    // parse, batch 1 must now be committed, and the counter must match
    val sink2 = new StreamingShardSink(out, idVal, shardSizeBytes = 1024, resume = true)
    assert(sink2.writtenFiles.size == filesAfterReplay,
      s"restored ${sink2.writtenFiles.size} shards, wrote $filesAfterReplay")
    val before = sink2.writtenFiles.size
    sink2.addBatch(df, batchId = 1L) // committed → no-op
    assert(sink2.writtenFiles.size == before, "batch 1 must stay committed")
  }
}
