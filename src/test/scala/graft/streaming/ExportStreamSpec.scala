package graft.streaming

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** The STREAMING export capstone — the production shape `x_stream_export`
  * is the batch twin of: the composed admission chain
  * ([[Streams.ingestGateChain]]) feeding per-micro-batch token packing
  * and the distributed shard sink inside ONE `foreachBatch`
  * ([[Streams.toPackedExportSink]]), killed and restarted mid-stream
  * across a shard boundary. Pins: gate ≡ audit for the surviving set,
  * exactly-once across the engine's batch replay (wave-1 shard files
  * byte-identical after the restart), packing continuity (each batch
  * packs among itself in permutation order, offset by the committed
  * token total — rebuilt here first-principles from the read-back),
  * and doc/token equivalence with the batch twin's own rows.
  */
class ExportStreamSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private var tmp: Path = _
  override def beforeEach(): Unit = {
    tmp = Files.createTempDirectory("graft-export-stream")
  }
  override def afterEach(): Unit = ParquetFiles.deleteTree(tmp)

  private def md5(p: Path): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  private def shardFiles(out: Path): Seq[Path] = {
    val st = Files.list(out)
    try st.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("corpus-") && n.endsWith(".parquet")
    }.toSeq.sortBy(
      _.getFileName.toString.stripPrefix("corpus-")
        .stripSuffix(".parquet").toInt)
    finally st.close()
  }

  test("gate chain → per-batch packing → sink across a kill/restart ≡ the batch twin") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Export, Pipeline}

    // yesterday's artifacts — the audits' own ensure* builds; the
    // Bloom fpp is tightened so the approximate novelty filter is
    // exact on this universe (the composed-capstone discipline: the
    // stream's keep-set must equal the audit's EXACT derivation)
    val bloom = Pipeline.corpusShingleFilter(spark, dir, fpp = 1e-6)
    val stats = Pipeline.corpusBigramStats(spark, dir)
    val cent = Pipeline.corpusQualityCentroid(
      spark, dir, !Pipeline.defaultBatchPred)
    val bandRoot = Pipeline.ensureBandIndex(spark, dir)
    val idx = spark.read.parquet(bandRoot.resolve("bands").toString)
    val stop = spark.read.parquet(bandRoot.resolve("stop").toString)
      .as[Long].collect().sorted
    val store = spark.read.parquet(
      Pipeline.ensureCdcStore(spark, dir).resolve("chunks").toString)
    val arts = Streams.IngestArtifacts(bloom, stats, cent, idx, stop, store)

    // the audit twin's keep-set — the same flags x_gate_chain reports
    // and x_stream_export exports
    val keeps = Pipeline.gateChainFlags(spark, dir)
      .filter($"pq" && $"pn" && $"pf" && $"pd" && $"pb" && $"pc")
      .select($"doc_id").as[Long].collect().toSet
    assert(keeps.nonEmpty)

    // the arriving batch slice with embeddings, in two waves around
    // the kill
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id".as("doc_id"), $"embedding")
    val arrivals = graft.Tables(spark, dir, "documents")
      .filter(Pipeline.defaultBatchPred)
      .join(emb, Seq("doc_id"), "left")
      .orderBy($"doc_id")
      .select($"doc_id", $"text", $"embedding")
      .as[(Long, String, Seq[Float])].collect()
    val half = arrivals.length / 2
    val wave1 = arrivals.take(half)
    val wave2 = arrivals.drop(half)

    val out = tmp.resolve("export-shards")
    val ckpt = tmp.resolve("ckpt-export")
    val mem = MemoryStream[(Long, String, Seq[Float])]
    def startQuery(sink: StreamingShardSink) = Streams.toPackedExportSink(
      Streams.ingestGateChain(
        mem.toDF().toDF("doc_id", "text", "embedding"), arts),
      sink, ckpt)

    val sink1 = new StreamingShardSink(out, Export.exportSchema,
      shardSizeBytes = 4096L, filePrefix = Some("corpus"))
    val q1 = startQuery(sink1)
    try {
      mem.addData(wave1.toSeq: _*)
      q1.processAllAvailable()
    } finally q1.stop() // the kill

    val w1Hashes = shardFiles(out)
      .map(p => p.getFileName.toString -> md5(p)).toMap
    assert(w1Hashes.size >= 2,
      s"wave 1 must cross a shard boundary: ${w1Hashes.keys}")

    // crash simulation (the established commit-drop): the restarted
    // query replays wave 1's micro-batch through the whole chain —
    // the sink must skip it without touching disk
    val commitDir = ckpt.resolve("commits")
    val newest = Files.list(commitDir).iterator.asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commitDir.resolve("." + newest.getFileName + ".crc"))

    val sink2 = new StreamingShardSink(out, Export.exportSchema,
      shardSizeBytes = 4096L, filePrefix = Some("corpus"), resume = true)
    val q2 = startQuery(sink2)
    try {
      mem.addData(wave2.toSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()

    // exactly-once across the replay: yesterday's shard files are
    // byte-identical — the replayed batch was skipped, the append
    // rewrote nothing
    val after = shardFiles(out)
      .map(p => p.getFileName.toString -> md5(p)).toMap
    w1Hashes.foreach { case (n, h) =>
      assert(after.get(n).contains(h),
        s"restart must not rewrite wave-1 shard $n")
    }
    assert(after.size > w1Hashes.size, "wave 2 must append shards")
    // contiguous naming across both sink lifetimes
    assert(after.keys.toSeq.sorted ==
      (0 until after.size).map(i => s"corpus-$i.parquet").sorted)

    // gate ≡ audit for the whole composition, exactly-once row-wise
    val back = spark.read.schema(Export.exportSchema)
      .parquet(out.toString).collect()
    assert(back.map(_.getLong(0)).toSet == keeps,
      "streamed survivors must equal the audit keep-set")
    assert(back.length == keeps.size, "every survivor written exactly once")

    // ≡ the batch twin: same docs, same token counts, same text
    // (cum_before legitimately differs — the stream packs per batch,
    // the twin packs the keep-set globally; doc identity and token
    // mass are the invariants)
    val twin = Export.streamExport(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(5))).sortBy(_._1)
    val mine = back.map(r => (r.getLong(0), r.getLong(2), r.getString(5)))
      .sortBy(_._1)
    assert(mine.toSeq == twin.toSeq,
      "stream read-back must carry the batch twin's docs/tokens/text")

    // packing continuity, rebuilt first-principles: each wave's rows
    // ascend by (shuffle_key, doc_id) with an exclusive running sum,
    // wave 2's offset is exactly wave 1's committed token total
    val w1Ids = wave1.map(_._1).toSet
    def checkPack(rows: Array[org.apache.spark.sql.Row],
        offset: Long): Long = {
      var cum = offset
      rows.foreach { r =>
        assert(r.getLong(3) == cum,
          s"cum_before broke at doc ${r.getLong(0)}: ${r.getLong(3)} vs $cum")
        assert(r.getLong(4) == cum / Pipeline.SHARD_TOKEN_BUDGET)
        cum += r.getLong(2)
      }
      cum
    }
    val b0 = back.filter(r => w1Ids(r.getLong(0)))
      .sortBy(r => (r.getLong(1), r.getLong(0)))
    val b1 = back.filterNot(r => w1Ids(r.getLong(0)))
      .sortBy(r => (r.getLong(1), r.getLong(0)))
    assert(b0.nonEmpty && b1.nonEmpty)
    val w1Total = checkPack(b0, 0L)
    val end = checkPack(b1, w1Total)
    assert(end == back.map(_.getLong(2)).sum,
      "the packed stream must foot to the union's token mass")

    // manifest order carries each batch's permutation: reading the
    // files in creation order yields wave 1's (key, doc) ascending,
    // then wave 2's
    val inOrder = sink2.writtenFiles.flatMap { f =>
      spark.read.schema(Export.exportSchema).parquet(f.toString)
        .select("shuffle_key", "doc_id").coalesce(1).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val expected = (b0 ++ b1).map(r => (r.getLong(1), r.getLong(0))).toSeq
    assert(inOrder == expected,
      "shard sequence must hold each batch's permutation order")
  }
}
