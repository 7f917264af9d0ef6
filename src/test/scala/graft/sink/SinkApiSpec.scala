package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingShardSink

/** API-surface checks beyond the reference-port suite: the streaming
  * sink's path validation, the bounded `writeAll` ingestion loop, and
  * SQL-level function registration.
  */
class SinkApiSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("value", StringType)))

  private var tmp: Path = _
  override def beforeEach(): Unit = { tmp = Files.createTempDirectory("graft-api-spec") }
  override def afterEach(): Unit = {
    import java.util.Comparator
    if (Files.exists(tmp))
      Files.walk(tmp).sorted(Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
  }

  test("StreamingShardSink validates paths like the reference ctor") {
    intercept[NoSuchFileException] {
      new StreamingShardSink(tmp.resolve("missing/out"), schema, 1024L)
    }
    Files.createDirectory(tmp.resolve("occupied"))
    intercept[FileAlreadyExistsException] {
      new StreamingShardSink(tmp.resolve("occupied"), schema, 1024L)
    }
    intercept[IllegalArgumentException] {
      new StreamingShardSink(tmp.resolve("x"), schema, -5L)
    }
  }

  test("StreamingShardSink batch-mode addBatch: empty batch writes nothing") {
    val out = tmp.resolve("stream")
    val sink = new StreamingShardSink(out, schema, 1024L)
    sink.addBatch(spark.createDataFrame(Seq.empty[Row].asJava, schema), 0L)
    // the commit log is the one file: batch 0 from shard 0, zero shards
    val log = out.resolve("_graft_commits.tsv")
    assert(Files.list(out).iterator.asScala.toSeq == Seq(log))
    assert(Files.readString(log) == "0\t0\t0\n")
    assert(sink.writtenFiles.isEmpty)
  }

  test("writeAll streams a DataFrame through the sink in bounded chunks") {
    val out = tmp.resolve("all.parquet")
    val df = spark.range(0, 1000).selectExpr("id", "repeat('v', 20) AS value")
    val sink = new ParquetStreamSink(spark, out, schema, bufferSizeBytes = 4096L)
    sink.writeAll(df, batchRows = 100)
    sink.close()
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 1000L)
    // several flushes happened (buffer 4 KiB << 1000 × 32 B), one file
    val (groups, total, _) = ParquetFiles.rowGroupStats(out)
    assert(total == 1000L)
    assert(groups > 1)
  }

  test("writes after close are rejected") {
    val out = tmp.resolve("closed.parquet")
    val sink = new ParquetStreamSink(spark, out, schema)
    sink.writeRows(Seq(Row(1L, "a")))
    sink.close()
    intercept[IllegalStateException] { sink.writeRows(Seq(Row(2L, "b"))) }
    intercept[IllegalStateException] { sink.openNewShard() }
    sink.close() // idempotent, like the reference's close (writer.py:295-303)
    assert(readIdsFile(out) == Seq(1L))
  }

  private def readIdsFile(p: Path): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(p.toString).select($"id").as[Long].collect().toSeq
  }

  test("StreamingShardSink: a repartitioned batch lands sequential shards") {
    val out = tmp.resolve("par")
    val sink = new StreamingShardSink(out, schema, shardSizeBytes = 1024L * 1024)
    val df = spark.range(0, 500).selectExpr("id", "repeat('w', 20) AS value")
    sink.addBatch(df.repartition(4), 0L)
    val names = sink.writtenFiles.map(_.getFileName.toString)
    assert(names == names.indices.map(i => s"par-$i.parquet"))
    val back = spark.read.schema(schema).parquet(out.toString)
    assert(back.count() == 500L)
    import spark.implicits._
    assert(back.select($"id").as[Long].collect().sorted.toSeq == (0L until 500L))
  }

  /** Rows per shard that [[SinkState]] gives over `sizes` with a
    * zero-byte buffer: every row flushes at once, rotating first when
    * the shard is strictly over `limit`.
    */
  private def parityShardRows(sizes: Seq[Long], limit: Long): Seq[Long] = {
    val state = new SinkState(Some(limit), 0L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    sizes.foreach { b =>
      state.addBatch(b)
      if (state.afterWrite() == SinkState.RotateThenFlush || !state.shardOpen) {
        state.onRotate()
        rows += 0L
      }
      state.onFlush()
      rows(rows.size - 1) += 1L
    }
    rows.toSeq
  }

  test("StreamingShardSink: a skewed partition rolls over by bytes, as SinkState does") {
    val out = tmp.resolve("skew")
    val limit = 65536L
    val sink = new StreamingShardSink(out, schema, limit)
    // one partition: 2,000 one-character rows, then 2,000 rows of 1 KiB
    val df = spark.range(0, 4000, 1, 1)
      .selectExpr("id", "IF(id < 2000, 'x', repeat('y', 1024)) AS value")
    sink.addBatch(df, 0L)
    val sizes = df.collect().toSeq.map(ColumnarSize.ofRow(_, schema))
    val want = parityShardRows(sizes, limit)
    assert(want == (2039L +: Seq.fill(30)(64L)) :+ 41L) // by hand: 13 B and 1,036 B rows
    val files = sink.writtenFiles
    assert(files.map(ParquetFiles.rowGroupStats(_)._2) == want)
    val bigRow = 8L + 1024L + 4L
    files.foreach { f =>
      val est = ColumnarSize.ofRows(spark.read.schema(schema).parquet(f.toString).collect(), schema)
      assert(est <= limit + bigRow, s"$f holds $est estimated bytes")
    }
    import spark.implicits._
    val ids = files.flatMap(f => spark.read.schema(schema).parquet(f.toString)
      .select($"id").as[Long].collect().toSeq)
    assert(ids == (0L until 4000L), "shards keep the partition's row order")
  }

  test("StreamingShardSink passes its options to every shard's writer") {
    val out = tmp.resolve("opts")
    val sink = new StreamingShardSink(out, schema, 1024L, options = Map(
      "compression" -> "zstd", "parquet.column.statistics.enabled" -> "false"))
    sink.addBatch(spark.range(0, 200, 1, 2).selectExpr("id", "repeat('z', 20) AS value"), 0L)
    assert(sink.writtenFiles.size > 2)
    sink.writtenFiles.foreach { f =>
      assert(ParquetFiles.firstColumnCodec(f) == "ZSTD")
      assert(!ParquetFiles.firstColumnHasStatistics(f))
    }
  }

  test("StreamingShardSink rejects an unknown codec before any shard or staging dir exists") {
    val out = tmp.resolve("badcodec")
    val sink = new StreamingShardSink(out, schema, 1024L, options = Map("compression" -> "snapy"))
    intercept[IllegalArgumentException] {
      sink.addBatch(spark.range(0, 10).selectExpr("id", "'v' AS value"), 0L)
    }
    assert(Files.list(out).iterator.asScala.isEmpty)
    assert(sink.writtenFiles.isEmpty)
  }

  test("StreamingShardSink: empty partitions write no file") {
    val out = tmp.resolve("sparse")
    val sink = new StreamingShardSink(out, schema, 1024L)
    sink.addBatch(spark.range(0, 3).selectExpr("id", "'v' AS value").repartition(8), 0L)
    val rows = sink.writtenFiles.map(ParquetFiles.rowGroupStats(_)._2)
    assert(rows.nonEmpty && rows.size <= 3, s"files: $rows")
    assert(rows.forall(_ > 0) && rows.sum == 3L, s"rows per file: $rows")
  }

  test("StreamingShardSink: concurrent tasks write each shard as DriverParquet.write would") {
    val out = tmp.resolve("pin")
    val sink = new StreamingShardSink(out, schema, 1024L)
    // 8 partitions on 4 cores, ~4.5 KiB each: several shards per partition
    sink.addBatch(spark.range(0, 1200)
      .selectExpr("id", "IF(id % 7 = 0, NULL, repeat('p', CAST(id % 40 AS INT))) AS value")
      .repartition(8), 0L)
    val files = sink.writtenFiles
    assert(files.size >= 24, s"${files.size} shards")
    val rows = spark.read.schema(schema).parquet(out.toString)
      .selectExpr("id", "value", "_metadata.file_name AS f", "_metadata.row_index AS i")
      .collect().groupBy(_.getString(2))
    files.foreach { f =>
      val back = rows(f.getFileName.toString).sortBy(_.getLong(3)).map(r => Row(r.get(0), r.get(1)))
      val again = tmp.resolve("again.parquet")
      DriverParquet.write(spark, again, schema, back.toSeq, Map.empty)
      assert(java.util.Arrays.equals(Files.readAllBytes(f), Files.readAllBytes(again)), s"$f differs")
    }
    assert(rows.valuesIterator.map(_.length).sum == 1200)
    val crc = Files.walk(out).iterator.asScala.filter(_.getFileName.toString.endsWith(".crc")).toSeq
    assert(crc.isEmpty, s"checksum files: $crc")
  }

  test("StreamingShardSink resolves its settings once per sink") {
    val key = "spark.sql.parquet.compression.codec"
    val saved = spark.conf.getOption(key)
    val df = spark.range(0, 100).selectExpr("id", "'c' AS value")
    def codecs(files: Seq[Path]) = files.map(ParquetFiles.firstColumnCodec).distinct
    try {
      spark.conf.set(key, "snappy")
      val sink = new StreamingShardSink(tmp.resolve("once"), schema, 1024L)
      sink.addBatch(df, 0L)
      spark.conf.set(key, "zstd")
      val before = sink.writtenFiles.size
      sink.addBatch(df, 1L)
      assert(codecs(sink.writtenFiles.drop(before)) == Seq("SNAPPY"))
      val fresh = new StreamingShardSink(tmp.resolve("fresh"), schema, 1024L)
      fresh.addBatch(df, 0L)
      assert(codecs(fresh.writtenFiles) == Seq("ZSTD"))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a field name with a dot or a backtick is one column on every cast path") {
    import spark.implicits._
    val odd = StructType(Seq(StructField("a.b", LongType), StructField("c`d", StringType)))
    val src = Seq((1L, "x"), (2L, "y")).toDF("a.b", "c`d")
    val want = Set((1L, "x"), (2L, "y"))
    def read(p: Path) = spark.read.parquet(p.toString).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val batch = tmp.resolve("batch.parquet")
    ParquetStreamSink.withSink(new ParquetStreamSink(spark, batch, odd))(_.writeBatch(src))
    assert(read(batch) == want)
    val widened = tmp.resolve("widened.parquet")
    ParquetStreamSink.withSink(new ParquetStreamSink(spark, widened, odd))(
      _.writeRows(Seq(Row(java.lang.Integer.valueOf(1), "x"), Row(2L, "y"))))
    assert(read(widened) == want)
    val all = tmp.resolve("all.parquet")
    ParquetStreamSink.withSink(new ParquetStreamSink(spark, all, odd))(_.writeAll(src))
    assert(read(all) == want)
    val stream = tmp.resolve("stream")
    new StreamingShardSink(stream, odd, 1024L).addBatch(src, 0L)
    assert(read(stream) == want)
    val est = src.select(ColumnarSizeExpr.rowBytes(odd)).collect().map(_.getLong(0)).sum
    assert(est == ColumnarSize.ofRows(src.collect(), odd))
  }

  test("StreamingShardSink rejects batches missing schema columns") {
    val out = tmp.resolve("badcols")
    val sink = new StreamingShardSink(out, schema, 1024L)
    val wrong = spark.range(5).selectExpr("id AS something_else")
    intercept[org.apache.spark.sql.AnalysisException] { sink.addBatch(wrong, 0L) }
  }

  test("GraftExtensions injects graft functions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // must register cleanly
    assert(graft.functions.VectorFunctions.injections.map(_._1.funcName) ==
      Seq("graft_dot", "graft_micro_vec", "graft_l2_micro2", "graft_simhash64",
        "graft_bloom_novelty_ppm"))
  }

  test("BloomNoveltyPpm: membership matches stat.bloomFilter; empty array is null") {
    import spark.implicits._
    val corpus = Seq("aa bb", "bb cc", "cc dd").toDF("s")
    val bf = corpus.stat.bloomFilter("s", 3, 0.000001)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val bytes = bos.toByteArray
    val rows = Seq(
      (1L, Seq("aa bb", "bb cc")), // all seen → 0 ppm
      (2L, Seq("aa bb", "zz zz")), // half novel → 500000
      (3L, Seq("xx", "yy", "zz", "qq")), // all novel → 1000000
      (4L, Seq.empty[String])) // no signal → null
      .toDF("id", "sh")
    val got = rows.select($"id",
      graft.functions.VectorFunctions.bloomNoveltyPpm(spark, $"sh", bytes))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got === Map(1L -> 0L, 2L -> 500000L, 3L -> 1000000L, 4L -> -1L))
  }

  test("graft_dot evaluates from plain SQL after registration") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").head()
    assert(r.getDouble(0) == 11.0)
  }

  test("graft_dot declares nullable and nulls on a null element") {
    graft.functions.VectorFunctions.register(spark)
    // NON-nullable array inputs: without the nullable=true override
    // the schema claimed non-null output while the generated loop
    // assigned an isNull variable codegen never declared (its three
    // sibling expressions all carry the override for this reason)
    val df = spark.sql(
      "SELECT graft_dot(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
    assert(df.schema.head.nullable, "output must be declared nullable")
    assert(df.head().isNullAt(0), "a null element must null the product")
  }

  test("graft_micro_vec / graft_l2_micro2 match their HOF definitions") {
    graft.functions.VectorFunctions.register(spark)
    // micro_vec: floor((double)f * 1e6) per element, incl. negatives
    val mv = spark.sql(
      "SELECT graft_micro_vec(array(cast(1.5 as float), cast(-0.0000015 as float))) AS v")
      .head().getSeq[Long](0)
    assert(mv == Seq(1500000L, -2L)) // floor(-1.5) = -2: floor, not truncate
    // l2_micro2: exact integer Σ(a-b)²; null on length mismatch (the
    // zip_with-pad semantics the HOF had)
    val d = spark.sql(
      "SELECT graft_l2_micro2(array(3L, 5L), array(1L, 2L)) AS d").head().getLong(0)
    assert(d == 4L + 9L)
    val mism = spark.sql(
      "SELECT graft_l2_micro2(array(3L, 5L), array(1L)) AS d").head()
    assert(mism.isNullAt(0))
    // the swap must be bit-identical to the HOFs it replaced — the
    // CORRECTNESS hashes of every micro-unit query depend on it
    val both = spark.sql(
      """SELECT graft_micro_vec(v) AS fast,
        |  transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0d) AS BIGINT)) AS slow,
        |  graft_l2_micro2(graft_micro_vec(v), graft_micro_vec(w)) AS dfast,
        |  aggregate(zip_with(graft_micro_vec(v), graft_micro_vec(w),
        |    (x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e) AS dslow
        |FROM VALUES (array(cast(0.25 as float), cast(-1.75 as float), cast(3.1 as float)),
        |             array(cast(1.0 as float), cast(2.0 as float), cast(-0.5 as float))) AS t(v, w)
        |""".stripMargin).head()
    assert(both.getSeq[Long](0) == both.getSeq[Long](1))
    assert(both.getLong(2) == both.getLong(3))
  }
}
