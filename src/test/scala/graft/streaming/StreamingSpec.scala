package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structured Streaming coverage: the distributed shard sink driven by
  * `foreachBatch`, watermarked event-time windows, and stateful
  * sessionization (`flatMapGroupsWithState`) checked against the batch
  * gaps-and-islands logic on identical data.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = TestSpark.spark

  private var tmp: Path = _
  override def beforeEach(): Unit = { tmp = Files.createTempDirectory("graft-streaming") }
  override def afterEach(): Unit = {
    import java.util.Comparator
    if (Files.exists(tmp))
      Files.walk(tmp).sorted(Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("qualityGate: stream keeps exactly the docs the batch formula keeps") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog and then the fox naps under a tree for a while today",
      2L -> "x", // one token, no stopwords → far below the threshold
      3L -> ("the a " * 30).trim, // stopword-saturated → high score
      4L -> "zz yy xx ww vv uu tt ss") // no stopwords, short tokens
    // ground truth from the SAME shared column expression, batch-side
    val batchKept = docs.toDF("doc_id", "text")
      .withColumn("q", graft.queries.Pipeline.qualityCol(col("text"), split(col("text"), " ")))
      .filter(col("q") >= graft.queries.Pipeline.QUALITY_MIN)
      .select($"doc_id").as[Long].collect().toSet
    assert(batchKept.nonEmpty && batchKept != docs.map(_._1).toSet,
      "fixture must exercise both sides of the gate")

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("quality-kept").toString
    val q = Streams.qualityGate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-q").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept === batchKept)
  }

  test("heuristicGate: stream keeps exactly the docs the batch rule screen keeps") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // one doc per rule boundary (the MaintenanceOpsSpec corpus): only
    // doc 1 passes all four rules batch-side
    def toks(n: Int, len: Int, tag: String): Seq[String] =
      (0 until n).map(i => (tag + i.toString + "x" * len).take(len))
    val docs = Seq(
      1L -> ("the a " + toks(22, 4, "p").mkString(" ")),
      2L -> ("the a " + toks(21, 4, "s").mkString(" ")),
      3L -> ("the a " + toks(22, 6, "l").mkString(" ")),
      4L -> toks(24, 4, "n").mkString(" "),
      5L -> ("the a " + Seq.fill(6)("zzzz").mkString(" ") + " " +
        toks(16, 4, "r").mkString(" ")))
    // ground truth from the batch screen over the same corpus
    val batchDir = tmp.resolve("hf-batch").toString
    docs.map { case (id, t) => (id, t, "xx") }.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    val batchKept = graft.queries.Pipeline.heuristicFilters(spark, batchDir)
      .filter($"keep").select($"doc_id").as[Long].collect().toSet
    assert(batchKept == Set(1L),
      s"planted corpus must fail one rule per doc: $batchKept")

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("hf-kept").toString
    val q = Streams.heuristicGate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-hf").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept === batchKept,
      "the gate and the batch screen share one rule definition")
  }

  test("fluencyGate: stale-table scores match hand values; zero-evidence docs pass, low-evidence docs drop") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // base corpus (ids ∉ batch slice): bigram stats
    //   cab: (a,b)=4, (b,a)=2, (b,c)=1, (q,r)=1, (x,yi)=1 ×40, (yi,x)=1 ×39
    //   ca: a=4, b=3, q=1, x=40, yi=1
    //   ppm: P(b|a)=1000000, P(a|b)=666666, P(c|b)=333333, P(r|q)=1000000,
    //        P(yi|x)=25000 (1e6 div 40 — under FLUENCY_MIN=30000)
    val xy = (1 to 40).map(i => s"x y$i").mkString(" ")
    val base = Seq(
      1L -> "a b a b a b",
      2L -> "a b c",
      3L -> "q r",
      4L -> xy)
    // the arriving batch (ids % 10 = 7), scored under YESTERDAY's
    // stats only
    val batch = Seq(
      7L -> "a b c",        // (1000000 + 333333) / 2 = 666666 → kept
      17L -> "zz ww vv",    // all bigrams base-unseen → NULL (no evidence) → passes
      27L -> "solo",        // sub-bigram → NULL → passes
      37L -> "q r",         // 1000000 → kept
      47L -> "a b zz ww",   // fresh tail earns nothing: 1000000/3 = 333333 → kept
      57L -> "x y1")        // matched and RARE: 25000 < floor → dropped
    val dir = tmp.resolve("fluency-corpus").toString
    (base ++ batch).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stats = graft.queries.Pipeline.corpusBigramStats(spark, dir)

    // the expression itself, batch-side, against the hand values — the
    // stale-stats semantics pinned number-for-number
    val scored = batch.toDF("doc_id", "text")
      .withColumn("ppm", graft.functions.VectorFunctions.bigramFluencyPpm(
        spark, graft.queries.Pipeline.words(col("text")), stats))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(scored == Map(7L -> Some(666666L), 17L -> None,
      27L -> None, 37L -> Some(1000000L), 47L -> Some(333333L),
      57L -> Some(25000L)),
      s"stale-table scores must match hand-computed ppm: $scored")

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("fluency-kept").toString
    val q = Streams.fluencyGate(mem.toDF().toDF("doc_id", "text"), stats)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-fl").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept == Set(7L, 17L, 27L, 37L, 47L),
      s"gate must drop only the base-evidenced rare doc: $streamKept")
  }

  test("fluencyGate: bounded stats — min-count floor + top-K cap pin blob size, capped scores exact") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // same corpus shape as the uncapped test; the budget BINDS here:
    // minCount=2 floors every hapax bigram (b,c), (q,r), all (x,yi) /
    // (yi,x) — survivors (a,b) cab=4 and (b,a) cab=2, within the K=2
    // cap. Kept ppms stay exact (full prefix mass): P(b|a)=1000000,
    // P(a|b)=666666.
    val xy = (1 to 40).map(i => s"x y$i").mkString(" ")
    val base = Seq(
      1L -> "a b a b a b",
      2L -> "a b c",
      3L -> "q r",
      4L -> xy)
    val batch = Seq(
      7L -> "a b c",   // (1000000 + 0) / 2 = 500000 — (b,c) evicted, matched=1
      37L -> "q r",    // (q,r) evicted → zero matched → NULL → passes
      57L -> "x y1")   // (x,y1) evicted → zero matched → NULL → passes
    val dir = tmp.resolve("fluency-capped-corpus").toString
    (base ++ batch).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stats = graft.queries.Pipeline.corpusBigramStats(
      spark, dir, minCount = 2L, maxEntries = 2)

    // the serialized budget is the contract: exactly 4 + 16·K bytes
    assert(stats.length == 4 + 16 * 2,
      s"capped blob must be 4 + 16·K bytes, got ${stats.length}")
    assert(graft.functions.BigramFluencyPpm.MaxTableEntries ==
      (Int.MaxValue - 4) / 16)

    val scored = batch.toDF("doc_id", "text")
      .withColumn("ppm", graft.functions.VectorFunctions.bigramFluencyPpm(
        spark, graft.queries.Pipeline.words(col("text")), stats))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(scored == Map(7L -> Some(500000L), 37L -> None, 57L -> None),
      s"capped-table scores must match hand values: $scored")

    // gate ≡ the capped-table rule: eviction only lowers matched
    // scores or removes evidence entirely — nothing new gets dropped
    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("fluency-capped-kept").toString
    val q = Streams.fluencyGate(mem.toDF().toDF("doc_id", "text"), stats)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-flc").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept == Set(7L, 37L, 57L),
      s"under the capped table every batch doc clears the gate: $streamKept")
  }

  test("qualityDirGate: stale-centroid cosine floor drops opposed docs, zero-norm passes") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // base corpus (ids ∉ batch slice): one seed-quality doc (all
    // stopwords → qm 625000 ≥ 400000) with embedding (1, 0) — the
    // stale centroid is exactly (1e6, 0)
    val dir = tmp.resolve("qdir-corpus").toString
    Seq((1L, "the the the the"), (2L, "zz yy"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cent = graft.queries.Pipeline.corpusQualityCentroid(
      spark, dir, !graft.queries.Pipeline.defaultBatchPred)
    assert(cent.toSeq == Seq(1000000L, 0L),
      s"stale centroid must be the seed embedding in micro: ${cent.toSeq}")

    // arriving batch: aligned (+1e6 ppm, kept), orthogonal (0, kept —
    // above the −200000 floor), opposed (−1e6, dropped), zero-norm
    // (no direction → NULL → passes)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = tmp.resolve("qdir-kept").toString
    val q = Streams.qualityDirGate(
        mem.toDF().toDF("doc_id", "embedding"), cent)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-qd").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(
        (7L, Seq(1.0f, 0.0f)),
        (17L, Seq(0.0f, 1.0f)),
        (27L, Seq(-1.0f, 0.0f)),
        (37L, Seq(0.0f, 0.0f)))
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept == Set(7L, 17L, 37L),
      s"gate must drop only the opposed doc: $streamKept")
  }

  test("nearDupGate: fingerprint replays dropped, short docs and novel docs pass") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val longA = "the quick brown fox jumps over the lazy dog today and naps"
    val longB = "completely different words make up this other document here now"
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = tmp.resolve("neardup-kept").toString
    val q = Streams.nearDupGate(
        mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-nd").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(
        (ts(1), 1L, longA),
        (ts(2), 2L, longA), // same shingle set → same fingerprint → dropped
        (ts(3), 3L, longB), // novel fingerprint → kept
        (ts(4), 4L, "x"), // under 3 tokens: no shingles, per-doc key → kept
        (ts(5), 5L, "x")) // ALSO kept — short docs must not collide on fp 0
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
  }

  test("StreamingShardSink: foreachBatch micro-batches become sized, indexed shards") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("value", StringType)))
    val rowBytes = 8 + (100 + 4) // ColumnarSize of one (Long, 100-char) row
    val out = tmp.resolve("stream-shards")
    val sink = new StreamingShardSink(out, schema,
      shardSizeBytes = rowBytes * 10L, filePrefix = Some("ev"))

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => sink.addBatch(df, id))
      .start()
    try {
      mem.addData((0L until 25L).map(i => (i, "x" * 100)): _*)
      q.processAllAvailable()
      mem.addData((25L until 40L).map(i => (i, "x" * 100)): _*)
      q.processAllAvailable()
    } finally q.stop()

    val files = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    // manifest == directory contents, names are the contiguous sequence
    assert(sink.writtenFiles.map(_.getFileName.toString).sorted ==
      files.map(_.getFileName.toString))
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"ev-$i.parquet"))
    // every row arrived exactly once
    val back = spark.read.schema(schema).parquet(out.toString)
    assert(back.count() == 40L)
    assert(back.select($"id").as[Long].collect().sorted.toSeq == (0L until 40L))
    // the reference rollover, per micro-batch (one partition each): a
    // shard takes rows until the bytes in it are strictly over the
    // threshold, so exactly 10 rows (1,120 B) is not over and the 11th
    // row still joins; then it rotates
    assert(files.map(f => spark.read.parquet(f.toString).count()) == Seq(11L, 11L, 3L, 11L, 4L))
  }

  test("kill/restart: resumed sink stays exactly-once across a replayed batch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("value", StringType)))
    val rowBytes = 8 + (100 + 4)
    val out = tmp.resolve("resume-shards")
    val ckpt = tmp.resolve("ckpt-resume")

    val sink1 = new StreamingShardSink(out, schema,
      shardSizeBytes = rowBytes * 10L, filePrefix = Some("ev"))
    val mem = MemoryStream[(Long, String)]
    def startQuery(sink: StreamingShardSink) = mem.toDF().toDF("id", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => sink.addBatch(df, id))
      .start()

    val q1 = startQuery(sink1)
    try {
      mem.addData((0L until 25L).map(i => (i, "x" * 100)): _*)
      q1.processAllAvailable()
      mem.addData((25L until 40L).map(i => (i, "x" * 100)): _*)
      q1.processAllAvailable()
    } finally q1.stop() // the "kill"

    // crash simulation: drop the newest engine-side commit marker, so
    // the restarted query REPLAYS the last micro-batch — the replay
    // must hit the resumed sink's commit log and be a no-op
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    // also the Hadoop LocalFileSystem checksum sidecar — left stale it
    // makes the replayed commit's rename fail as "already exists"
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, schema,
      shardSizeBytes = rowBytes * 10L, filePrefix = Some("ev"), resume = true)
    // manifest + shard counter restored from the sidecar commit log
    assert(sink2.writtenFiles == sink1.writtenFiles)

    val q2 = startQuery(sink2)
    try {
      mem.addData((40L until 50L).map(i => (i, "x" * 100)): _*)
      q2.processAllAvailable()
    } finally q2.stop()

    // exactly once: the replayed batch added nothing, the new batch
    // landed, and the shard sequence is contiguous from both lifetimes
    val back = spark.read.schema(schema).parquet(out.toString)
    assert(back.count() == 50L)
    assert(back.select($"id").as[Long].collect().sorted.toSeq == (0L until 50L))
    val files = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"ev-$i.parquet"))
    assert(sink2.writtenFiles.map(_.getFileName.toString).sorted ==
      files.map(_.getFileName.toString))
  }

  test("dedupedStream: replays dropped within the watermark, state evicted beyond it") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Timestamp, Long, String)]
    val dd = Streams.dedupedStream(
      mem.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes", Seq("doc_id"))
    val q = dd.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .option("checkpointLocation", tmp.resolve("ckpt-dedup").toString)
      .start()
    try {
      // same-batch and cross-batch replays of keys 1 and 2 are dropped
      mem.addData((ts(1), 1L, "a"), (ts(2), 2L, "b"), (ts(3), 1L, "a-replay"))
      q.processAllAvailable()
      mem.addData((ts(5), 2L, "b-replay"), (ts(6), 3L, "c"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").select($"doc_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))

      // advance the event-time frontier past every key's expiry
      // (first-seen + 10 min) so their dedup state is evicted...
      mem.addData((ts(40), 9L, "advance"))
      q.processAllAvailable()
      // ...then a key-1 replay from the NEW window is a fresh first
      // occurrence: bounded state means dedup is exact only within the
      // watermark, by design
      mem.addData((ts(41), 1L, "a-much-later"))
      q.processAllAvailable()
      assert(spark.table("dedup_stream").select($"doc_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 1L, 2L, 3L, 9L))
    } finally q.stop()
  }

  test("streaming ingestion pipeline: quality gate → dedup → shard sink end-to-end") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = tmp.resolve("ingest-shards")
    val sink = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("doc"))

    val mem = MemoryStream[(Timestamp, Long, String)]
    val cleaned = mem.toDF().toDF("ts", "doc_id", "text")
      .filter(length($"text") >= 10) // stateless quality gate, streaming-safe
    val q = Streams.toShardSink(
      Streams.dedupedStream(cleaned, "ts", "10 minutes", Seq("doc_id")),
      sink, tmp.resolve("ckpt-ingest"))
    try {
      mem.addData(
        (ts(1), 1L, "a perfectly fine document"),
        (ts(1), 2L, "short"), // fails the quality gate
        (ts(2), 3L, "another acceptable document"),
        (ts(3), 1L, "a perfectly fine document")) // replay → deduped
      q.processAllAvailable()
      mem.addData((ts(5), 3L, "another acceptable document")) // cross-batch replay
      q.processAllAvailable()
    } finally q.stop()

    val back = spark.read.schema(schema).parquet(out.toString)
    assert(back.count() == 2L)
    assert(back.select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("dedup → shard sink kill/restart: state restored, replay exactly-once, equals batch dedup") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = tmp.resolve("dedup-restart-shards")
    val ckpt = tmp.resolve("ckpt-dedup-restart")

    val mem = MemoryStream[(Timestamp, Long, String)]
    def startQuery(sink: StreamingShardSink) = Streams.toShardSink(
      Streams.dedupedStream(mem.toDF().toDF("ts", "doc_id", "text"),
        "ts", "10 minutes", Seq("text")),
      sink, ckpt)

    val sink1 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("doc"))
    val q1 = startQuery(sink1)
    try {
      mem.addData((ts(1), 1L, "aaa"), (ts(2), 2L, "bbb"))
      q1.processAllAvailable()
      mem.addData((ts(3), 3L, "aaa"), (ts(4), 4L, "ccc")) // 3 replays "aaa"
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    // crash simulation (same as the sink-only kill/restart test): drop
    // the newest engine commit so the restarted query REPLAYS the last
    // micro-batch — through the dedup operator AND into the sink
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("doc"), resume = true)
    // in a real crash the state store commits its version BEFORE the
    // engine writes the batch's commit marker, so the replayed batch
    // legitimately finds its state version already committed; the
    // in-process crash simulation trips 4.1's strict commit validation
    // for exactly that reason — disable it for the restarted query only
    spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    val q2 = startQuery(sink2)
    try {
      // key "bbb" was first seen BEFORE the kill: dropping its replay
      // now proves the dedup state store came back from the
      // checkpoint, not rebuilt empty — and the replayed micro-batch
      // must no-op against the resumed sink's commit log
      mem.addData((ts(5), 5L, "bbb"), (ts(6), 6L, "ddd"))
      q2.processAllAvailable()
    } finally {
      q2.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.commitValidation.enabled")
    }

    val back = spark.read.schema(schema).parquet(out.toString)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the re-read corpus equals the batch keep-first dedup of the same
    // six rows (arrival order = doc_id order, so first-seen = min id)
    val batchTwin = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"),
      (5L, "bbb"), (6L, "ddd"))
      .toDF("doc_id", "text")
      .groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back === batchTwin)
    assert(back === Set((1L, "aaa"), (2L, "bbb"), (4L, "ccc"), (6L, "ddd")))
    // the shard sequence stayed contiguous across both sink lifetimes
    val files = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"doc-$i.parquet"))
  }

  test("full ingestion path: quality → near-dup → id-dedup → shards across a kill/restart, equals the batch pipeline") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // cyclic-rotation texts: rotations of one token cycle have the
    // SAME distinct 3-gram shingle set, hence the same SimHash64 —
    // true near-dups with different bytes AND different doc_ids, which
    // only the fingerprint gate can catch. All pass the shared quality
    // formula (stopword-heavy); "zz yy" fails it.
    val catA = "the a cat the a cat"
    val catB = "a cat the a cat the" // rotation of catA
    val catC = "cat the a cat the a" // rotation of catA
    val bad = "zz yy"
    val dogA = "the a dog the a dog"
    val birdA = "the a bird the a bird"
    val elkA = "the a elk the a elk"
    val fishA = "the a fish the a fish"

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = tmp.resolve("full-ingest-shards")
    val ckpt = tmp.resolve("ckpt-full-ingest")

    val mem = MemoryStream[(Timestamp, Long, String)]
    def startQuery(sink: StreamingShardSink) = Streams.toShardSink(
      Streams.dedupedStream(
        Streams.nearDupGate(
          Streams.qualityGate(mem.toDF().toDF("ts", "doc_id", "text"))
            .drop("quality"),
          "ts", "10 minutes"),
        "ts", "10 minutes", Seq("doc_id")),
      sink, ckpt)

    val sink1 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("doc"))
    val q1 = startQuery(sink1)
    try {
      mem.addData(
        (ts(1), 1L, catA), // novel → kept
        (ts(1), 2L, bad), // quality gate drops it
        (ts(2), 3L, catB)) // same fingerprint as catA → near-dup drop
      q1.processAllAvailable()
      mem.addData(
        (ts(3), 4L, dogA), // novel → kept
        (ts(4), 1L, birdA)) // new fingerprint but doc_id 1 replay → id-dedup drop
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    // crash simulation (the established commit-drop): the restarted
    // query replays the last micro-batch through ALL THREE stateful
    // gates and into the resumed sink
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("doc"), resume = true)
    spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    val q2 = startQuery(sink2)
    try {
      mem.addData(
        (ts(5), 5L, catC), // pre-kill fingerprint → near-dup state RESTORED
        (ts(6), 4L, elkA), // new fingerprint, pre-kill doc_id → id state RESTORED
        (ts(7), 6L, fishA)) // novel → kept
      q2.processAllAvailable()
    } finally {
      q2.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.commitValidation.enabled")
    }

    val streamed = spark.read.schema(schema).parquet(out.toString)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // the batch pipeline on the same eight rows, built from the SAME
    // shared expressions (qualityCol, shingleCol, SimHash64): quality
    // filter, keep-first per fingerprint, keep-first per doc_id —
    // arrival order k is the stream's order
    import org.apache.spark.sql.expressions.Window
    val rows = Seq(
      (0L, 1L, catA), (1L, 2L, bad), (2L, 3L, catB), (3L, 4L, dogA),
      (4L, 1L, birdA), (5L, 5L, catC), (6L, 4L, elkA), (7L, 6L, fishA))
      .toDF("k", "doc_id", "text")
    val batchTwin = rows
      .withColumn("quality",
        graft.queries.Pipeline.qualityCol($"text", graft.queries.Pipeline.words($"text")))
      .filter($"quality" >= graft.queries.Pipeline.QUALITY_MIN)
      .withColumn("fp", graft.functions.VectorFunctions.simhash64(
        spark, graft.queries.Pipeline.shingleCol(graft.queries.Pipeline.words($"text"))))
      .withColumn("rn_fp", row_number().over(Window.partitionBy($"fp").orderBy($"k")))
      .filter($"rn_fp" === 1)
      .withColumn("rn_id", row_number().over(Window.partitionBy($"doc_id").orderBy($"k")))
      .filter($"rn_id" === 1)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    assert(streamed === batchTwin)
    assert(streamed === Set((1L, catA), (4L, dogA), (6L, fishA)))
  }

  test("composed ingestion capstone: full gate roster → id-dedup → shards across a kill/restart ≡ the battery∩band∩cdc audit keep-set") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.Pipeline

    // ---- the corpus: the real sf0.001 tables plus four planted
    // adversarial arrivals (ids ≡ 7 mod 10, so they land in the batch
    // slice the battery audits): a low-quality doc, an exact replay of
    // a base doc (novelty 0), a doc STITCHED from ten stored docs plus
    // a novel tail (novel enough to clear the novelty floor, too
    // diluted for any single-source band match — only the CDC chunk
    // probes can see it), and a rate-8 token mutation of a base doc
    // (the mid-rate lexical case the band gate exists for)
    val srcDir = "/root/testdata/sf0.001"
    val dir = tmp.resolve("composed-corpus").toString
    val docs0 = spark.read.parquet(s"$srcDir/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val baseTexts = docs0.filter(!Pipeline.defaultBatchPred)
      .orderBy($"doc_id").limit(10)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // The stitch must clear the whole battery so the CDC probes are
    // its ONLY catch — delicate on this corpus, where natural fluency
    // sits just above the floor (31-word vocabulary: every real-word
    // sequence is already a known bigram AND a known shingle, while
    // any gibberish zero-scores its bigrams). Construction: body =
    // the ten HIGHEST-fluency base docs (headroom for dilution,
    // measured with the audit's own integral cab/ca math), tail = 40
    // (novel-word, hi₁, hi₂) groups where (hi₁, hi₂) is the base
    // corpus's top-ppm bigram — each group adds three novel distinct
    // shingles (novelty) but only two zero-scoring bigrams against
    // one top-scoring one (fluency), and the body stays > 3/4 of the
    // chars (CDC probes land on stored chunks).
    val baseDocsArr = docs0.filter(!Pipeline.defaultBatchPred)
      .orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val cab = scala.collection.mutable.Map[(String, String), Long]()
    for ((_, t) <- baseDocsArr; Array(a, b) <- t.split(" ").sliding(2))
      cab((a, b)) = cab.getOrElse((a, b), 0L) + 1L
    val ca = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    def bppm(a: String, b: String): Option[Long] =
      cab.get((a, b)).map(c => c * 1000000L / ca(a))
    def fluencyOf(t: String): Long = {
      val w = t.split(" ")
      val scs = w.sliding(2).collect {
        case Array(a, b) => bppm(a, b).getOrElse(0L) }.toSeq
      if (scs.isEmpty) Long.MaxValue else scs.sum / scs.length
    }
    val top10 = baseDocsArr.sortBy { case (id, t) => (-fluencyOf(t), id) }
      .take(10).map(_._2)
    val hi = cab.keys.toSeq
      .maxBy { case (a, b) => (bppm(a, b).get, a, b) }
    val lowQ = "zz yy"
    val replayTxt = baseTexts(0)._2
    val body = top10.mkString(" ")
    val stitch = body + " " +
      (0 until 40).map(n => s"qq$n ${hi._1} ${hi._2}").mkString(" ")
    // the mid-rate mutation: every 8th token swapped for another real
    // corpus word — in-vocabulary text whose shingles are ~99% known,
    // the "not novel enough" arrival the novelty floor exists for
    val varToks = baseTexts(1)._2.split(" ")
    val variant = varToks.zipWithIndex
      .map { case (t, i) =>
        if (i % 8 == 7) varToks((i + 5) % varToks.length) else t }
      .mkString(" ")
    val planted = Seq(
      (100007L, lowQ), (100017L, replayTxt), (100027L, stitch),
      (100037L, variant))
    docs0.union(planted.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("planted").as("source"), length($"text").cast("long").as("n_chars")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$srcDir/embeddings.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // ---- yesterday's artifacts: the same ensure* builds the
    // x_band_gate / x_cdc_gate audits read, plus the three bounded
    // plan constants (Bloom fpp tightened so the approximate filter
    // is exact on this universe — the member test's discipline)
    val bloom = Pipeline.corpusShingleFilter(spark, dir, fpp = 1e-6)
    val stats = Pipeline.corpusBigramStats(spark, dir)
    val cent = Pipeline.corpusQualityCentroid(
      spark, dir, !Pipeline.defaultBatchPred)
    val bandRoot = Pipeline.ensureBandIndex(spark, dir)
    val idx = spark.read.parquet(bandRoot.resolve("bands").toString)
    val stop = spark.read.parquet(bandRoot.resolve("stop").toString)
      .as[Long].collect().sorted
    val storeRoot = Pipeline.ensureCdcStore(spark, dir)
    val store = spark.read.parquet(storeRoot.resolve("chunks").toString)
    val arts = Streams.IngestArtifacts(bloom, stats, cent, idx, stop, store)

    // ---- the audit twin: the battery's own per-doc keep-set ∧ the
    // band audit keep ∧ the CDC audit keep, each from the SHARED
    // scorer the deployed gate uses
    val verdicts = Pipeline.gateBatteryVerdicts(spark, dir)
    verdicts.filter($"doc_id" >= 100000L).orderBy($"doc_id").collect()
      .foreach(r => info(s"planted verdicts: $r"))
    val batteryKeep = verdicts
      .filter($"p_quality" && $"p_novelty" && $"p_fluency" && $"p_qdir")
      .select($"doc_id").as[Long].collect().toSet
    val arrivalsDf = graft.Tables(spark, dir, "documents")
      .filter(Pipeline.defaultBatchPred).select($"doc_id", $"text")
    val bandKeep = Pipeline.bandGateScored(spark, arrivalsDf, idx, stop)
      .filter($"gate_ppm".isNull ||
        $"gate_ppm" < Pipeline.JACCARD_DUP_MIN_PPM)
      .select($"doc_id").as[Long].collect().toSet
    val cdcKeep = Pipeline.cdcGateScored(spark, arrivalsDf, store)
      .filter($"gate_known" * 2 < $"gate_np")
      .select($"doc_id").as[Long].collect().toSet
    val twin = batteryKeep & bandKeep & cdcKeep

    // ---- the arriving stream: the batch slice with embeddings, fed
    // in two waves around a kill
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id".as("doc_id"), $"embedding")
    val arrivals = graft.Tables(spark, dir, "documents")
      .filter(Pipeline.defaultBatchPred)
      .join(emb, Seq("doc_id"), "left")
      .orderBy($"doc_id")
      .select($"doc_id", $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect()
    val naturals = arrivals.filter(_._1 < 100000L)
    val plantedArr = arrivals.filter(_._1 >= 100000L).sortBy(_._1)
    assert(plantedArr.map(_._1).toSeq ==
      Seq(100007L, 100017L, 100027L, 100037L))
    val half = naturals.length / 2
    val wave1 = (naturals.take(half) ++ plantedArr.take(2))
      .map(a => (ts(1), a._1, a._2, a._3))
    // wave 2 replays a wave-1 KEPT doc_id — across the restart, so a
    // surviving duplicate row proves dedup state was lost
    val keptW1 = naturals.take(half).map(_._1).find(twin.contains).get
    val replayRow = wave1.find(_._2 == keptW1).get.copy(_1 = ts(6))
    val wave2 = (naturals.drop(half) ++ plantedArr.drop(2))
      .map(a => (ts(5), a._1, a._2, a._3)) :+ replayRow

    val sinkSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = tmp.resolve("composed-shards")
    val ckpt = tmp.resolve("ckpt-composed")
    val mem = MemoryStream[(Timestamp, Long, String, Seq[Float])]
    def startQuery(sink: StreamingShardSink) = Streams.toShardSink(
      Streams.dedupedStream(
        Streams.ingestGateChain(
          mem.toDF().toDF("ts", "doc_id", "text", "embedding"), arts),
        "ts", "10 minutes", Seq("doc_id"))
        .select($"ts", $"doc_id", $"text"),
      sink, ckpt)

    val sink1 = new StreamingShardSink(out, sinkSchema,
      shardSizeBytes = 8192L, filePrefix = Some("doc"))
    val q1 = startQuery(sink1)
    try {
      mem.addData(wave1.toSeq: _*)
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    // crash simulation: drop the newest commit so the restarted query
    // replays the last micro-batch through the whole chain
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, sinkSchema,
      shardSizeBytes = 8192L, filePrefix = Some("doc"), resume = true)
    spark.conf.set(
      "spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    val q2 = startQuery(sink2)
    try {
      mem.addData(wave2.toSeq: _*)
      q2.processAllAvailable()
    } finally {
      q2.stop()
      spark.conf.unset(
        "spark.sql.streaming.stateStore.commitValidation.enabled")
    }

    val streamedRows = spark.read.schema(sinkSchema).parquet(out.toString)
      .select($"doc_id").as[Long].collect()
    val streamed = streamedRows.toSet

    // THE capstone: the deployed composition's surviving set is the
    // audits' composed keep-set — gate ≡ audit for the whole chain,
    // across a kill/restart
    assert(streamed == twin,
      s"composed gate ≡ audit broke: stream-only ${streamed -- twin}, " +
        s"audit-only ${twin -- streamed}")
    // the replayed doc_id survived exactly once (dedup state restored)
    assert(streamedRows.length == twin.size,
      s"duplicate rows written: ${streamedRows.length} rows, ${twin.size} ids")
    // composition is non-trivial and the planted adversaries died
    assert(twin.nonEmpty && twin.size < arrivals.length)
    assert(Seq(100007L, 100017L, 100027L).forall(!streamed.contains(_)),
      s"planted low-quality/replay/stitch must all drop: $streamed")
    info(s"arrivals=${arrivals.length} battery=${batteryKeep.size} " +
      s"band=${bandKeep.size} cdc=${cdcKeep.size} kept=${twin.size} " +
      s"variant_dropped=${!streamed.contains(100037L)}")
    // the stitched doc is the CDC member's unique catch: it cleared
    // the whole battery and the band gate
    assert(batteryKeep.contains(100027L) && bandKeep.contains(100027L) &&
        !cdcKeep.contains(100027L),
      "stitch must be caught by the CDC gate alone: battery=" +
        batteryKeep.contains(100027L) + " band=" + bandKeep.contains(100027L) +
        " cdc=" + cdcKeep.contains(100027L))
    // shard sequence contiguous across both sink lifetimes
    val files = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"doc-$i.parquet"))

    // and the oracle-checked funnel (x_gate_chain) tells the same
    // story: its final keep count IS the streamed survivor count
    val funnel = Pipeline.gateChainFunnel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(funnel.map(_._2).toSeq ==
      Seq("quality", "novelty", "fluency", "qdir", "band", "cdc"),
      s"funnel stage order: ${funnel.toSeq}")
    assert(funnel.last._4 == twin.size,
      s"funnel final keep ${funnel.last._4} vs streamed ${twin.size}")
  }

  test("mediaDedupGate → id-dedup kill/restart: checksum state restores, stream equals batch media dedup on the fixture") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // real fixture payloads: the first five distinct media assets of
    // the sf0.001 corpus (magic header ++ text bytes, exactly what
    // the batch x_media_dedup hashes)
    val fixture = graft.multimodal.Multimodal
      .assets(spark, "/root/testdata/sf0.001")
      .orderBy($"asset_id").limit(5).collect()
      .map(r => r.getAs[Array[Byte]]("payload"))
    val Array(payA, payB, payC, payD, payE) = fixture

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("asset_id", LongType),
      StructField("payload", BinaryType)))
    val out = tmp.resolve("media-gate-shards")
    val ckpt = tmp.resolve("ckpt-media-gate")

    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    def startQuery(sink: StreamingShardSink) = Streams.toShardSink(
      Streams.dedupedStream(
        Streams.mediaDedupGate(mem.toDF().toDF("ts", "asset_id", "payload"),
          "ts", "10 minutes"),
        "ts", "10 minutes", Seq("asset_id")),
      sink, ckpt)

    val sink1 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("asset"))
    val q1 = startQuery(sink1)
    try {
      mem.addData((ts(1), 1L, payA), (ts(2), 2L, payB))
      q1.processAllAvailable()
      mem.addData(
        (ts(3), 3L, payA), // same bytes, new id — checksum gate drops it
        (ts(4), 4L, payC)) // novel → kept
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    // crash simulation (the established commit-drop): the restarted
    // query replays the last micro-batch through the checksum gate,
    // the id-dedup, and into the resumed sink
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("asset"), resume = true)
    spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    val q2 = startQuery(sink2)
    try {
      mem.addData(
        (ts(5), 5L, payB), // pre-kill checksum → media state RESTORED, dropped
        (ts(6), 2L, payD), // new bytes, pre-kill asset_id → id state RESTORED, dropped
        (ts(7), 6L, payE)) // novel → kept
      q2.processAllAvailable()
    } finally {
      q2.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.commitValidation.enabled")
    }

    val streamed = spark.read.schema(schema).parquet(out.toString)
      .select($"asset_id", md5($"payload")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // batch twin on the same seven rows: keep-first per md5(payload)
    // then keep-first per asset_id, arrival order k — the same
    // groupBy-min shape as Multimodal.mediaDedup (there min id = first
    // seen because the fixture arrives in id order)
    import org.apache.spark.sql.expressions.Window
    val rows = Seq(
      (0L, 1L, payA), (1L, 2L, payB), (2L, 3L, payA), (3L, 4L, payC),
      (4L, 5L, payB), (5L, 2L, payD), (6L, 6L, payE))
      .toDF("k", "asset_id", "payload")
    val batchTwin = rows
      .withColumn("h", md5($"payload"))
      .withColumn("rn_h", row_number().over(Window.partitionBy($"h").orderBy($"k")))
      .filter($"rn_h" === 1)
      .withColumn("rn_id", row_number().over(Window.partitionBy($"asset_id").orderBy($"k")))
      .filter($"rn_id" === 1)
      .select($"asset_id", $"h").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    assert(streamed === batchTwin)
    assert(streamed.map(_._1) === Set(1L, 2L, 4L, 6L))
  }

  test("mediaDedupGate: null payloads get per-asset keys, never collapse on the null key") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val gated = Streams.mediaDedupGate(
      mem.toDF().toDF("ts", "asset_id", "payload"), "ts", "10 minutes")
    val q = gated.writeStream.format("memory")
      .queryName("media_null_gate").outputMode("append").start()
    try {
      // two NULL-payload assets and one real duplicate pair
      mem.addData(
        (ts(1), 1L, null), (ts(2), 2L, null),
        (ts(3), 3L, Array[Byte](1, 2, 3)), (ts(4), 4L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("media_null_gate")
      .select($"asset_id").as[Long].collect().toSet
    // both null-payload rows pass (no content to collapse on); the
    // byte-identical pair collapses to its first arrival
    assert(kept === Set(1L, 2L, 3L))
  }

  test("noveltyGate: Bloom-filter gate matches the batch novelty stage on the fixture") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // the batch authority: measured novelty per batch doc (anti-join
    // against the exact corpus shingle universe)
    val batchNovelty = graft.queries.Pipeline.shingleNovelty(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 10 === 7)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    // expected keeps: measured novelty at/above the floor, or no
    // measurement at all (sub-shingle docs carry no signal)
    val expectedKept = batchDocs.map(_._1).filter(id =>
      batchNovelty.get(id).forall(_ >= graft.queries.Pipeline.NOVELTY_MIN)).toSet
    val expectedDropped = batchDocs.map(_._1).toSet -- expectedKept
    assert(expectedDropped.nonEmpty,
      "fixture must exercise the drop side or the test is vacuous")

    // tight fpp: on the fixture's ~50-shingle docs one false positive
    // shifts ppm by ~20000, so keep the expected FP count ≈ 0 for the
    // exact-parity assertion (the filter build is deterministic)
    val bloom = graft.queries.Pipeline.corpusShingleFilter(spark, dir, fpp = 1e-6)

    // batch-mode parity (the gate is stateless, so it runs on any DF)
    val keptBatchMode = Streams.noveltyGate(
      batchDocs.toDF("doc_id", "text"), bloom)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptBatchMode === expectedKept)

    // and through an actual stream into the shard sink
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val out = tmp.resolve("novelty-shards")
    val sink = new StreamingShardSink(out, schema,
      shardSizeBytes = 1 << 20, filePrefix = Some("doc"))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.toShardSink(
      Streams.noveltyGate(mem.toDF().toDF("ts", "doc_id", "text"), bloom),
      sink, tmp.resolve("ckpt-novelty"))
    try {
      mem.addData(batchDocs.zipWithIndex.map { case ((id, text), i) =>
        (ts(1 + (i % 50)), id, text)
      }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamedKept = spark.read.schema(schema).parquet(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamedKept === expectedKept)
  }

  test("nearDupGate on the planted corpus: hamming-0 catch agrees with the batch family's measured 0 ppm") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // x_dedup_recall measures batch simhash recall at 0 ppm for every
    // planted edit rate on this corpus (each mutation kills ~3 of ~52
    // shingles — far past the hamming ≤ 3 band gate). The streaming
    // gate is the strictly TIGHTER hamming-0 slice, so it must agree:
    // every planted variant passes. What it does catch — and the
    // batch id-keyed dedup cannot — is a byte-identical replay under
    // a fresh doc_id. Both claims pinned here on the same corpus the
    // batch eval scores.
    val adir = graft.queries.Pipeline.ensurePlantedCorpus(spark, dir).toString
    val docs = spark.read.parquet(s"$adir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val variants = docs.filter(_._1 >= 1000000L)
    val sources = variants.map { case (vid, _) => vid - 1000000L }.toSet
    val originals = docs.filter(d => sources.contains(d._1))
    assert(variants.nonEmpty && originals.length == variants.length)

    val out = tmp.resolve("planted-gate")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    val sink = new StreamingShardSink(out, schema,
      shardSizeBytes = 1 << 20, filePrefix = Some("doc"))
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.toShardSink(
      Streams.nearDupGate(mem.toDF().toDF("ts", "doc_id", "text"),
        "ts", "10 minutes"),
      sink, tmp.resolve("ckpt-planted-gate"))
    try {
      mem.addData(originals.map { case (id, t) => (ts(1), id, t) }.toSeq: _*)
      q.processAllAvailable()
      mem.addData(variants.map { case (id, t) => (ts(2), id, t) }.toSeq: _*)
      q.processAllAvailable()
      mem.addData((ts(3), 5000000L, originals.head._2)) // exact replay
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.schema(schema).parquet(out.toString)
      .select($"doc_id").as[Long].collect().toSet
    // every original and every variant survives (mutations move the
    // fingerprint; hamming-0 cannot link them — the measured batch
    // result, mirrored); the byte-identical replay is the one catch
    assert(originals.map(_._1).toSet.subsetOf(kept))
    assert(variants.map(_._1).toSet.subsetOf(kept))
    assert(!kept.contains(5000000L))
  }

  test("noveltyGate per-rate catch curve on the planted corpus (streaming near-dup recall)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // The streaming twin of x_dedup_recall, closing the gate family's
    // eval gap: the hamming-0 nearDupGate measurably cannot catch
    // mutated variants (pinned above), so the lexical catch falls to
    // the NOVELTY gate — arriving docs whose shingles are mostly
    // already in the stored-corpus Bloom filter drop below the
    // NOVELTY_MIN floor. Catch rate must RISE as mutation rate falls
    // (rate 16 = 6.25% edits ≈ 19% novel shingles < the 20% floor;
    // rate 2 = 50% edits ≈ 94% novel → passes).
    val adir = graft.queries.Pipeline.ensurePlantedCorpus(spark, dir).toString
    val filter = graft.queries.Pipeline.corpusShingleFilter(
      spark, adir, batchPred = col("doc_id") >= 1000000L)
    val variants = spark.read.parquet(s"$adir/documents.parquet")
      .filter($"doc_id" >= 1000000L)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(variants.nonEmpty)

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("novelty-recall").toString
    val q = Streams.noveltyGate(
        mem.toDF().toDF("doc_id", "text"), filter)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-nr").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(variants.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet

    // rate class by source id, the plantRate convention (src % 4:
    // 0→2, 1→4, 2→8, 3→16 — every rate-th token replaced)
    def rateOf(vid: Long): Long = ((vid - 1000000L) % 4) match {
      case 0 => 2L; case 1 => 4L; case 2 => 8L; case _ => 16L
    }
    val byRate = variants.groupBy(v => rateOf(v._1)).map { case (r, vs) =>
      val caught = vs.count(v => !kept.contains(v._1))
      r -> ((vs.length, caught, caught.toLong * 1000000L / vs.length))
    }
    byRate.toSeq.sortBy(_._1).foreach { case (r, (n, c, ppm)) =>
      info(s"rate $r: planted $n, caught $c, catch_ppm $ppm")
    }
    val ppm = byRate.view.mapValues(_._3).toMap
    // recorded curve (deterministic corpus, fixed-seed Bloom): the
    // gate catches 14/24 rate-16 variants and rightly passes every
    // heavier mutation class — the measured streaming complement to
    // the batch family's x_dedup_recall row
    assert(ppm == Map(2L -> 0L, 4L -> 0L, 8L -> 0L, 16L -> 583333L),
      s"recorded catch curve moved: $ppm")
    // the curve's shape: monotone non-decreasing catch as edits shrink
    assert(ppm(2L) <= ppm(4L) && ppm(4L) <= ppm(8L) && ppm(8L) <= ppm(16L),
      s"catch must rise as mutation rate falls: $ppm")
    // heavily-mutated variants are genuinely novel and must pass
    assert(ppm(2L) == 0L, s"rate-2 variants are designed novelty: $ppm")
    // lightly-mutated variants sit under the 20% novelty floor
    assert(ppm(16L) > 500000L,
      s"the novelty gate must catch most rate-16 near-dups: $ppm")
  }

  test("bandNearDupGate: per-rate catch curve + stream ≡ batch-audit parity on the planted corpus") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // The banded-MinHash streaming gate closes the mid-rate lexical
    // gap the two tests above measure: hamming-0 catches only
    // byte-identical replays, the novelty Bloom only rate-16, while
    // the batch minhash family holds 120000/800000/750000 ppm at
    // rates 4/8/16 (the x_dedup_recall row on this corpus). The gate
    // is that family's base-restricted slice, so its curve must land
    // in the same band.
    val adir = graft.queries.Pipeline.ensurePlantedCorpus(spark, dir).toString
    val docs = spark.read.parquet(s"$adir/documents.parquet")
    val baseDocs = docs.filter($"doc_id" < 1000000L).select($"doc_id", $"text")
    // yesterday's artifacts, materialized the way a deployment stores
    // them: the stream-static join re-reads the STATIC side per
    // micro-batch, so it rides a parquet table, not a recomputed plan
    val idxPath = tmp.resolve("band-index").toString
    graft.queries.Pipeline.corpusBandIndex(spark, baseDocs)
      .write.mode("overwrite").parquet(idxPath)
    val idx = spark.read.parquet(idxPath)
    val stop = graft.queries.Pipeline.corpusStopShingles(spark, baseDocs)

    val variants = docs.filter($"doc_id" >= 1000000L)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(variants.nonEmpty)

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("band-gate").toString
    val q = Streams.bandNearDupGate(
        mem.toDF().toDF("doc_id", "text"), idx, stop)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-bg").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(variants.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet

    // parity: the stream's keep set IS the batch audit's keep verdict
    // over the same arrivals and the same stale artifacts — shared
    // scorer, independent execution paths (per-micro-batch
    // stream-static joins vs one batch plan)
    val batchKept = graft.queries.Pipeline.bandGateScored(
        spark, docs.filter($"doc_id" >= 1000000L).select($"doc_id", $"text"),
        idx, stop)
      .filter($"gate_ppm".isNull ||
        $"gate_ppm" < graft.queries.Pipeline.JACCARD_DUP_MIN_PPM)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == batchKept, "stream and batch-audit keep sets must agree")

    // rate class by source id, the plantRate convention (src % 4:
    // 0→2, 1→4, 2→8, 3→16 — every rate-th token replaced)
    def rateOf(vid: Long): Long = ((vid - 1000000L) % 4) match {
      case 0 => 2L; case 1 => 4L; case 2 => 8L; case _ => 16L
    }
    val byRate = variants.groupBy(v => rateOf(v._1)).map { case (r, vs) =>
      val caught = vs.count(v => !kept.contains(v._1))
      r -> ((vs.length, caught, caught.toLong * 1000000L / vs.length))
    }
    byRate.toSeq.sortBy(_._1).foreach { case (r, (n, c, p)) =>
      info(s"rate $r: planted $n, caught $c, catch_ppm $p")
    }
    val ppm = byRate.view.mapValues(_._3).toMap
    // recorded curve (deterministic corpus, md5 banding): pinned so a
    // semantics drift in the shared scorer shows up as a moved curve
    assert(ppm == Map(2L -> 0L, 4L -> 120000L, 8L -> 800000L, 16L -> 750000L),
      s"recorded catch curve moved: $ppm")
    // the round-12 done-condition: the ingest loop's lexical net now
    // catches MID-RATE near-dups (> 0 at rate 4), where the pinned
    // hamming-0 and novelty curves both read 0
    assert(ppm(4L) > 0L, s"rate-4 catch must be non-zero: $ppm")
    assert(ppm(8L) > 500000L, s"rate-8 catch must be majority: $ppm")
    // heavily-mutated rate-2 variants are genuinely novel and pass
    assert(ppm(2L) == 0L, s"rate-2 variants are designed novelty: $ppm")
  }

  test("cdcChunkGate: stitched-from-stored arrivals dropped, novel kept; stream ≡ batch-audit parity") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // deterministic pseudo-random text (LCG): distinct seeds share no
    // 16-char window, so cross-doc chunk-hash collisions cannot occur
    def ptext(n: Int, seed: Int): String = {
      var x = seed.toLong * 2654435761L + 1013904223L
      val sb = new StringBuilder
      for (_ <- 0 until n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb += ('a' + ((x >>> 33) % 26).toInt).toChar
      }
      sb.toString
    }
    val baseTexts = (1 to 8).map(i => i.toLong -> ptext(400 + 13 * i, i))
    val base = baseTexts.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'synthetic' AS source")

    // yesterday's chunk store, materialized as a stored TABLE (the
    // stream-static join re-reads the static side per micro-batch)
    val storePath = tmp.resolve("cdc-store").toString
    graft.queries.Pipeline.corpusCdcStore(spark, base)
      .write.mode("overwrite").parquet(storePath)
    val store = spark.read.parquet(storePath)

    // arrivals: an exact replay, a doc STITCHED from two stored docs
    // (fresh at whole-doc granularity — the document-level keys all
    // miss it; only the junction chunk is novel, so ≥ half its probed
    // chunks are known), and two genuinely novel docs
    val arrivals = Seq(
      101L -> baseTexts(0)._2,
      102L -> (baseTexts(1)._2 + baseTexts(2)._2),
      103L -> ptext(450, 99),
      104L -> "tiny novel doc")

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("cdc-gate").toString
    val q = Streams.cdcChunkGate(mem.toDF().toDF("doc_id", "text"), store)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-cdc").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(103L, 104L),
      s"replay + stitched must drop, novel must pass: kept $kept")

    // parity: the stream's keep set IS the batch audit's keep verdict
    // over the same arrivals and the same stale store (shared scorer,
    // independent execution paths)
    val batchKept = graft.queries.Pipeline.cdcGateScored(
        spark, arrivals.toDF("doc_id", "text"), store)
      .filter($"gate_known" * 2 < $"gate_np")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == batchKept, "stream and batch-audit keep sets must agree")
  }

  test("framePrefixGate: planted-truncation catch with zero state; every drop is a batch-linked pair") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    val dir = "/root/testdata/sf0.001"

    // The media twin of the band-gate test above: mediaDedupGate's
    // whole-payload key cannot catch a truncated download (pinned
    // contract in its doc), so until now a truncation re-arriving
    // under a fresh id sailed through ingest. The prefix-ladder gate
    // must catch exactly the variants whose ladder probe (largest
    // 2^k ≥ 64 that fits) lands inside their shared prefix — and
    // NEVER drop an asset the batch near-dup family would not link.
    val mdir = Multimodal.ensureMediaPlanted(spark, dir).toString
    val docs = spark.read.parquet(s"$mdir/documents.parquet")
    val ladderPath = tmp.resolve("prefix-ladder").toString
    Multimodal.prefixLadderIndex(
        spark, docs.filter($"doc_id" < Multimodal.MEDIA_OFF))
      .write.mode("overwrite").parquet(ladderPath)
    val ladder = spark.read.parquet(ladderPath)

    val variants = Multimodal.assetsOf(
        docs.filter($"doc_id" >= Multimodal.MEDIA_OFF))
      .as[(Long, String, Array[Byte])].collect()
    assert(variants.nonEmpty)

    val mem = MemoryStream[(Long, String, Array[Byte])]
    val out = tmp.resolve("frame-prefix-gate").toString
    val q = Streams.framePrefixGate(
        mem.toDF().toDF("asset_id", "kind", "payload"), ladder)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-fpg").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(variants.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).select($"asset_id").as[Long].collect().toSet
    val dropped = variants.map(_._1).filterNot(kept).toSet

    // the catch: planted truncations whose ladder probe fits their
    // shared prefix are dropped
    assert(dropped.nonEmpty, "the gate must catch planted truncations")
    // the granularity floor, mirrored from the batch family: an
    // arrival under WIN_BYTES carries no ladder and always passes
    val short = variants.filter(_._3.length < 64).map(_._1).toSet
    assert(short.forall(kept), "sub-64-byte arrivals carry no evidence and pass")
    // pinned on the deterministic plant: the gate catches EVERY
    // variant above the floor — 131 of 166, the other 35 being
    // exactly the sub-64-byte class (a ladder probe at l* > len/2
    // always lands inside a ≥ 50%-truncation's shared prefix, and the
    // plant truncates at quarters)
    assert(dropped.size == 131 && short.size == 35 &&
      dropped == variants.map(_._1).toSet.diff(short),
      s"recorded catch moved: dropped ${dropped.size}, floor ${short.size}")
    // conservative direction: every drop is a pair the batch family
    // itself links on the planted corpus (variant ids are the b side)
    val linked = Multimodal.mediaNearDup(spark, mdir)
      .filter($"b_id" >= Multimodal.MEDIA_OFF)
      .select($"b_id").as[Long].collect().toSet
    assert(dropped.subsetOf(linked),
      s"gate drops must be batch-linked: extra = ${dropped.diff(linked)}")
    info(s"planted ${variants.length}, dropped ${dropped.size}, " +
      s"short-floor ${short.size}, batch-linked ${linked.size}")
  }

  test("sourceCapGate: stale rates enforced at ingest, unseen source passes, stream ≡ shared-scorer keep-set") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    // third-engine coin (java MD5), the SourceCapSpec derivation —
    // arrival ids are CHOSEN by it so every decision class exists by
    // construction, never by fixture luck
    def coin(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"srccap|$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    // skewed base corpus: 'fat' carries 96 of 100 tokens → stale keep
    // rate floor(50000·100/96) = 52083; 'thin' is under-cap → 1e6
    // ids avoid ≡ 7 (mod 10): corpusCapRates derives rates from the
    // BASE (non-batch) slice, and a batch-marked id would silently
    // fall out of the hand arithmetic
    val base =
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L)
        .map(i => (i, "fat", (1 to 12).map(j => s"f$j").mkString(" "))) ++
        Seq((11L, "thin", "t1 t2"), (12L, "thin", "t1 t2"))
    val dir = tmp.resolve("cap-corpus").toString
    base.toDF("doc_id", "source", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rates = graft.queries.Pipeline.corpusCapRates(spark, dir)
    assert(rates == Map("fat" -> 52083L, "thin" -> 1000000L), rates)

    val keptFat = (100L to 3000L).find(coin(_) < 52083L).get
    val dropFat = (100L to 3000L).find(coin(_) >= 52083L).get
    val thinArr = 200L // thin's rate is 1e6: any coin keeps
    // an UNSEEN source with a losing coin: no stale rate = no evidence
    // = passes even though the same coin would drop a fat doc
    val newArr = (100L to 3000L).find(coin(_) >= 900000L).get
    val arrivals = Seq((keptFat, "fat"), (dropFat, "fat"),
      (thinArr, "thin"), (newArr, "brand_new_source"))

    // ground truth from the SHARED scorer columns, batch-side
    val batchKept = graft.queries.Pipeline
      .capGateScored(arrivals.toDF("doc_id", "source"), rates)
      .filter($"cap_keep").select($"doc_id").as[Long].collect().toSet
    assert(batchKept == Set(keptFat, thinArr, newArr),
      s"fixture must drop exactly the losing-coin fat arrival: $batchKept")

    val mem = MemoryStream[(Long, String)]
    val out = tmp.resolve("cap-kept").toString
    val q = Streams.sourceCapGate(mem.toDF().toDF("doc_id", "source"), rates)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp.resolve("ckpt-cap").toString)
      .format("parquet").option("path", out)
      .start()
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamKept = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamKept === batchKept)
  }

  test("Streams facade: readStream → shard sink + watermarked agg wiring") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("value", StringType)))
    val out = tmp.resolve("facade-shards")
    val sink = new StreamingShardSink(out, schema,
      shardSizeBytes = 4096L, filePrefix = Some("f"))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.toShardSink(
      mem.toDF().toDF("id", "value"), sink, tmp.resolve("ckpt-facade"))
    try {
      mem.addData((0L until 20L).map(i => (i, "y" * 50)): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.schema(schema).parquet(out.toString).count() == 20L)
    assert(sink.writtenFiles.nonEmpty)

    // tumblingAgg is the same aggregation the inline watermark test
    // verifies end-to-end; here check its batch-mode shape directly
    val batch = Seq((ts(1), "a", 1.0), (ts(7), "a", 2.0), (ts(20), "b", 4.0))
      .toDF("ts", "k", "value")
    val agg = Streams.tumblingAgg(batch, "ts", "k", "15 minutes", "10 minutes")
      .orderBy("window_start", "k").collect()
    assert(agg.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((ts(0), "a", 2L, 3.0), (ts(15), "b", 1L, 4.0)))
  }

  test("watermarked tumbling window finalizes once the watermark passes") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes"))
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("start"), $"n", $"total")

    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_agg")
      .option("checkpointLocation", tmp.resolve("ckpt2").toString)
      .start()
    try {
      mem.addData((ts(1), 1.0), (ts(7), 2.0), (ts(14), 4.0)) // all in [10:00, 10:15)
      q.processAllAvailable()
      // nothing final yet: watermark = 10:14 - 10min = 10:04 < 10:15
      assert(spark.table("win_agg").count() == 0L)

      mem.addData((ts(40), 8.0)) // watermark → 10:30, closes [10:00, 10:15)
      q.processAllAvailable()
      val fin = spark.table("win_agg").collect()
      assert(fin.length == 1)
      assert(fin(0).getAs[Timestamp]("start") == ts(0))
      assert(fin(0).getAs[Long]("n") == 3L)
      assert(fin(0).getAs[Double]("total") == 7.0)

      // a late event behind the watermark is dropped, not re-opened
      mem.addData((ts(5), 100.0))
      q.processAllAvailable()
      assert(spark.table("win_agg").count() == 1L)
    } finally q.stop()
  }

  test("sessionization handles out-of-order arrivals within the watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(
      mem.toDS().withWatermark("ts", "2 hours").as[Sessionize.Event],
      gapSeconds = 30 * 60)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("ooo_sessions")
      .option("checkpointLocation", tmp.resolve("ckpt-ooo").toString)
      .start()
    try {
      // batch 1: later event first; batch 2 back-fills an earlier one
      // that EXTENDS the same session (10:20 bridges 10:00..10:40)
      mem.addData(Sessionize.Event(1L, ts(40), 4.0), Sessionize.Event(1L, ts(0), 1.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(1L, ts(20), 2.0))
      q.processAllAvailable()
      // close everything via a far-future watermark push
      mem.addData(Sessionize.Event(99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(99L, Timestamp.valueOf("2024-01-03 00:00:00"), 0.0))
      q.processAllAvailable()

      val got = spark.table("ooo_sessions").as[Sessionize.Session].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      // one merged session 10:00-10:40 with all three events
      assert(got.map(s => (s.session_start, s.session_end, s.n_events, s.sum_value)).toSeq ==
        Seq((ts(0), ts(40), 3L, 7.0)))
    } finally q.stop()
  }

  test("stateful sessionization matches batch gaps-and-islands semantics") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(
      mem.toDS().withWatermark("ts", "0 seconds").as[Sessionize.Event],
      gapSeconds = 30 * 60)

    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .option("checkpointLocation", tmp.resolve("ckpt3").toString)
      .start()
    try {
      // user 1: two sessions (gap 45 min); user 2: one session
      mem.addData(
        Sessionize.Event(1L, ts(0), 1.0),
        Sessionize.Event(1L, ts(10), 2.0),
        Sessionize.Event(2L, ts(5), 5.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(1L, ts(55), 4.0)) // 45-min gap → new session
      q.processAllAvailable()
      // push the watermark far ahead so every open session times out
      mem.addData(Sessionize.Event(99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(Sessionize.Event(99L, Timestamp.valueOf("2024-01-03 00:00:00"), 0.0))
      q.processAllAvailable()

      val got = spark.table("sessions").as[Sessionize.Session].collect()
        .filter(_.user_id != 99L)
        .sortBy(s => (s.user_id, s.session_start.getTime))
      assert(got.map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value)).toSeq == Seq(
        (1L, ts(0), ts(10), 2L, 3.0),
        (1L, ts(55), ts(55), 1L, 4.0),
        (2L, ts(5), ts(5), 1L, 5.0)))

      // same answer as the batch gaps-and-islands pipeline on the same rows
      val batchRows = Seq(
        (1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(5), 5.0), (1L, ts(55), 4.0))
      val batch = batchRows.toDF("user_id", "ts", "value")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val sess = batch
        .withColumn("prev", lag($"ts", 1).over(w))
        .withColumn("new_sess", when($"prev".isNull ||
          unix_micros($"ts") - unix_micros($"prev") > 30L * 60 * 1000000, 1L).otherwise(0L))
        .withColumn("sess", sum($"new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
        .drop("sess")
        .orderBy($"user_id", $"session_start")
        .collect()
      assert(sess.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSeq ==
        got.map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.sum_value)).toSeq)
    } finally q.stop()
  }
}
