package graft.queries

import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** File-level invariants of the incremental export append
  * (`x_export_append`) — everything the oracle's row hash cannot see:
  * the no-rewrite guarantee (yesterday's shard files are
  * byte-identical after the append), shard-index and batchId
  * continuity across the sink resume, exactly-once on a replayed
  * batchId, and the appended slice's packing offset footing to
  * yesterday's token total.
  */
class ExportAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val root = Files.createTempDirectory("export-append-spec-")
  override def afterAll(): Unit = ParquetFiles.deleteTree(root)

  private def md5(p: java.nio.file.Path): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  private def shardFiles(out: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = Files.list(out)
    // numeric sort — a lexicographic one orders corpus-10 before
    // corpus-2 and would silently misorder any future order-dependent
    // assertion (ExportStreamSpec's copy sorts the same way)
    try st.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("corpus-") && n.endsWith(".parquet")
    }.toSeq.sortBy(
      _.getFileName.toString.stripPrefix("corpus-")
        .stripSuffix(".parquet").toInt)
    finally st.close()
  }

  // one append run (the query's own steps, with handles kept so the
  // pins below can see yesterday's bytes and the sink state), shared
  // by the tests
  private lazy val appended = {
    val baseExport = Export.ensureBaseExport(spark, dir)
    val out = root.resolve("corpus")
    Export.copyDirTree(baseExport.resolve("corpus"), out)
    val beforeHashes = shardFiles(out)
      .map(p => p.getFileName.toString -> md5(p)).toMap
    // yesterday's token total, derived from yesterday's own files —
    // the scalar the append rides
    val baseTotal = spark.read.schema(Export.exportSchema)
      .parquet(out.toString)
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head.getLong(0)
    val pre = Export.exportPackedSlice(
      spark, dir, Pipeline.defaultBatchPred, lit(baseTotal))
    val packed = pre.localCheckpoint()
    Components.freeCheckpoint(pre)
    val sink = Export.exportThroughSink(
      packed, out, Export.EXPORT_SHARD_BYTES, resume = true)
    (out, beforeHashes, sink, packed, baseTotal)
  }

  test("yesterday's shard files are byte-identical after the append") {
    val (out, before, _, _, _) = appended
    assert(before.nonEmpty, "fixture must produce a non-empty base export")
    val after = shardFiles(out)
      .map(p => p.getFileName.toString -> md5(p)).toMap
    before.foreach { case (name, h) =>
      assert(after.get(name).contains(h),
        s"append must not rewrite yesterday's $name")
    }
  }

  test("shard index and batchIds continue from the restored commit log") {
    val (out, before, sink, _, _) = appended
    val files = sink.writtenFiles
    // manifest restores yesterday's files then appends today's:
    // contiguous corpus-0..N-1 with N > yesterday's count
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"corpus-$i.parquet"))
    assert(files.size > before.size,
      s"append must add shards: ${files.size} vs ${before.size}")
    // every appended file index is at/after yesterday's count
    val appendedNames = shardFiles(out).map(_.getFileName.toString)
      .filterNot(before.contains)
    assert(appendedNames.forall { n =>
      n.stripPrefix("corpus-").stripSuffix(".parquet").toInt >= before.size
    }, s"new shards must continue the sequence: $appendedNames")
    // commit log: yesterday's EXPORT_BATCHES ids plus today's, disjoint
    val ids = Files.readAllLines(out.resolve("_graft_commits.tsv"))
      .asScala.filter(_.nonEmpty).map(_.split('\t')(0).toLong).toSeq
    assert(ids == (0L until 2L * Export.EXPORT_BATCHES),
      s"batchIds must continue without collision: $ids")
    assert(sink.nextBatchId == 2L * Export.EXPORT_BATCHES)
  }

  test("a replayed batchId is exactly-once: no new files, no rewrites") {
    val (out, _, _, packed, _) = appended
    val filesBefore = shardFiles(out).map(_.getFileName.toString).toSet
    val replay = new graft.streaming.StreamingShardSink(
      out, Export.exportSchema,
      shardSizeBytes = Export.EXPORT_SHARD_BYTES,
      filePrefix = Some("corpus"), resume = true)
    // re-deliver today's first range under its already-committed id —
    // Structured Streaming's restart replay shape
    replay.addBatch(packed.orderBy(col("shuffle_key"), col("doc_id")),
      Export.EXPORT_BATCHES.toLong)
    assert(shardFiles(out).map(_.getFileName.toString).toSet == filesBefore,
      "replaying a committed batchId must be a no-op")
  }

  test("read-back = yesterday ∪ today; today's packing is offset by yesterday's total") {
    val (out, _, _, packed, baseTotal) = appended
    val back = spark.read.schema(Export.exportSchema)
      .parquet(out.toString).collect()
    val today = back.filter(_.getLong(0) % 10 == 7)
    val yesterday = back.filterNot(_.getLong(0) % 10 == 7)
    assert(today.nonEmpty && yesterday.nonEmpty)
    // today's rows carry exactly the packed stream (offset included)
    val a = today.map(_.toString).sorted
    val b = packed.collect().map(_.toString).sorted
    assert(a.length == b.length && a.sameElements(b),
      "appended rows must be the packed batch, written once")
    // offset discipline: every appended cum_before >= yesterday's
    // total, and the union's token mass foots
    assert(today.forall(_.getLong(3) >= baseTotal),
      "today's packing must start after yesterday's token total")
    val yesterdayTokens = yesterday.map(_.getLong(2)).sum
    assert(yesterdayTokens == baseTotal)
    val maxCum = today.map(r => r.getLong(3) + r.getLong(2)).max
    assert(maxCum == baseTotal + today.map(_.getLong(2)).sum,
      "the appended prefix sum must foot to the union's token mass")
  }
}
