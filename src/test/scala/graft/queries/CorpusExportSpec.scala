package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** File-level invariants of the curated-corpus export capstone
  * (`x_corpus_export`) — everything the oracle's row hash cannot see:
  * the sequential shard naming and byte rollover of the reference
  * sink (`tests.py:50-70`), the `writtenFiles` manifest behavior
  * (`tests.py:73-86` — creation order, absolute paths, ≡ directory),
  * and the export-specific guarantee that the shard SEQUENCE carries
  * the seeded permutation: reading the files in manifest order yields
  * (shuffle_key, doc_id) in strictly ascending order across file and
  * batch boundaries.
  */
class CorpusExportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // one export at a small rollover threshold (the shipped 64 KiB
  // threshold needs sf0.1-sized batches to roll over; the semantics
  // under test are threshold-independent), shared by the tests below.
  // NOTE: this 4096 is a FILE-BYTE threshold — numerically equal to
  // but distinct from Pipeline.SHARD_TOKEN_BUDGET (the plan-level
  // token packing), which the packing assertions reference directly.
  private val SHARD_BYTES = 4096L
  private val root = Files.createTempDirectory("corpus-export-spec-")
  override def afterAll(): Unit = ParquetFiles.deleteTree(root)
  private lazy val exported = {
    val out = root.resolve("corpus")
    val packed = Export.exportPacked(spark, dir).localCheckpoint()
    val sink = Export.exportThroughSink(packed, out, SHARD_BYTES)
    (out, packed, sink)
  }

  test("shards are corpus-0..N-1.parquet, contiguous, manifest ≡ directory in creation order, absolute") {
    val (out, _, sink) = exported
    val files = sink.writtenFiles
    assert(files.nonEmpty && files.forall(_.isAbsolute),
      "manifest paths must be absolute (tests.py:86)")
    assert(files.map(_.getFileName.toString) ==
      files.indices.map(i => s"corpus-$i.parquet"),
      s"sequential naming: ${files.take(5)}")
    val onDisk = Files.list(out).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("corpus-") && n.endsWith(".parquet")).toSet
    assert(onDisk == files.map(_.getFileName.toString).toSet,
      "manifest must track exactly the directory's shard files")
  }

  test("byte rollover: every batch with rows splits into multiple ≈threshold files") {
    val (out, packed, sink) = exported
    // per-batch file counts from the sink's commit log (batchId \t
    // startIndex \t fileCount) — the distributed twin of the
    // reference's strict sequential rollover
    val log = Files.readAllLines(out.resolve("_graft_commits.tsv"))
      .asScala.filter(_.nonEmpty)
      .map { l => val a = l.split('\t'); (a(0).toLong, a(2).toInt) }.toMap
    assert(log.keySet == (0L until Export.EXPORT_BATCHES).toSet,
      s"one commit per batch: $log")
    // the sf0.001 fixture puts ~56-66 rows (~20 KB) in every
    // permutation quartile; a 4 KiB threshold must roll each batch
    // over several times
    assert(log.values.forall(_ >= 2), s"rollover must fire per batch: $log")
    assert(log.values.sum == sink.writtenFiles.size,
      "commit log foots to the manifest")
    // file sizes sit near the threshold: no file more than ~3x over
    // (the estimator is documented approximate), none zero
    val sizes = sink.writtenFiles.map(Files.size(_))
    assert(sizes.forall(sz => sz > 0 && sz <= 3 * SHARD_BYTES),
      s"file bytes near threshold: ${sizes.sorted.reverse.take(5)}")
  }

  test("manifest order carries the permutation: (shuffle_key, doc_id) ascends across files and batches") {
    val (_, _, sink) = exported
    val keys = sink.writtenFiles.flatMap { f =>
      // one small file = one split = file order preserved
      spark.read.schema(Export.exportSchema).parquet(f.toString)
        .select("shuffle_key", "doc_id").coalesce(1).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(keys.size > 1)
    assert(keys == keys.sorted,
      s"permutation order must survive the sink: first breach at ${
        keys.zip(keys.sorted).indexWhere(p => p._1 != p._2)}")
  }

  test("read-back ≡ packed stream; packing foots to the token budget") {
    val (out, packed, _) = exported
    val back = spark.read.schema(Export.exportSchema)
      .parquet(out.toString)
    val a = back.collect().map(_.toString).sorted
    val b = packed.collect().map(_.toString).sorted
    assert(a.length == b.length && a.sameElements(b),
      "write -> read must be the identity on the packed stream")
    // shard_id is the running-token packing: last shard index =
    // (total token mass - last doc's span) div budget, and every
    // row's shard_id == cum_before div budget
    val rows = packed.select("n_tokens", "cum_before", "shard_id").collect()
    assert(rows.forall(r =>
        r.getLong(2) == r.getLong(1) / Pipeline.SHARD_TOKEN_BUDGET),
      "shard_id must be cum_before div SHARD_TOKEN_BUDGET")
    val total = rows.map(_.getLong(0)).sum
    val maxCum = rows.map(r => r.getLong(1) + r.getLong(0)).max
    assert(maxCum == total, "prefix sum must foot to the total token mass")
  }

  test("read-side shard pruning: a single-shard read scans only that shard's files") {
    val (_, packed, _) = exported
    val parts = Files.createTempDirectory("corpus-export-parts-")
    try partitionedReadPrunes(packed, parts.resolve("by_shard"))
    finally ParquetFiles.deleteTree(parts)
  }

  private def partitionedReadPrunes(
      packed: org.apache.spark.sql.DataFrame, dest: java.nio.file.Path): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    Export.writePartitionedExport(packed, dest)
    def parquetFilesUnder(p: java.nio.file.Path): Long = {
      val st = Files.walk(p)
      try st.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
    val totalFiles = parquetFilesUnder(dest)
    val k = packed.agg(org.apache.spark.sql.functions.max("shard_id"))
      .head.getLong(0)
    assert(k > 0, "fixture must pack multiple shards")
    val read = spark.read.parquet(dest.toString)
      .filter(col("shard_id") === k)
    // static partition pruning must reach the scan…
    val planStr = read.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("shard_id")),
      "expected PartitionFilters on shard_id, got:\n" + planStr.take(1500))
    // …and the executed scan must touch exactly shard K's files
    // (collect THIS frame — a separate count() would execute its own
    // plan and leave this one's metrics at zero)
    val rows = read.collect()
    assert(rows.length.toLong == packed.filter(col("shard_id") === k).count())
    val phys = read.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = phys.collect { case f: FileSourceScanExec => f }.head
    val scanned = scan.metrics("numFiles").value
    val inShard = parquetFilesUnder(dest.resolve(s"shard_id=$k"))
    assert(scanned == inShard && scanned < totalFiles,
      s"single-shard read must scan only shard $k's files: " +
        s"scanned=$scanned shardFiles=$inShard total=$totalFiles")
  }

  test("exportStats ≡ the packed stream: same docs, tokens, and shard spine") {
    val (_, packed, _) = exported
    val stats = Export.exportStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val pk = packed.select("shard_id", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stats.map(_._2).sum == pk.length,
      "audit doc count must equal the packed stream's")
    assert(stats.map(_._3).sum == pk.map(_._2).sum,
      "audit token mass must equal the packed stream's")
    // the spine covers 0..max contiguously (touched-but-empty shards
    // report zero rows instead of vanishing)
    assert(stats.map(_._1) == (0L to stats.map(_._1).max).toList,
      s"contiguous shard spine: ${stats.map(_._1)}")
    val byShard = pk.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    stats.foreach { case (sid, _, tok) =>
      assert(byShard.getOrElse(sid, 0L) == tok,
        s"shard $sid: audit $tok vs packed ${byShard.getOrElse(sid, 0L)}")
    }
  }

  test("the export tail frees the pack's base pin when materializing the pack fails") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val base = spark.range(20).toDF("doc_id").localCheckpoint()
    val pinned = base.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(pinned.nonEmpty && pinned.forall(spark.sparkContext.getPersistentRDDs.contains))
    val pre = base.select(when(col("doc_id") > 10, raise_error(lit("boom"))).as("x"))
    val tmp = Files.createTempDirectory("export-tail-spec-")
    try {
      val out = tmp.resolve("corpus")
      intercept[Exception] { Export.exportPack(pre, out, resume = false) }
      assert(!pinned.exists(spark.sparkContext.getPersistentRDDs.contains),
        "a failed materialization must not leave the base checkpoint pinned")
      assert(!Files.exists(out), "no sink may start on a pack that never materialized")
    } finally ParquetFiles.deleteTree(tmp)
  }

  test("an empty keep-set exports no shard: 0 rows read back, one empty commit per batch") {
    import org.apache.spark.sql.functions.lit
    val none = spark.range(0).toDF("doc_id")
    var shards = Seq.empty[String]
    var log = Seq.empty[String]
    val back = Export.exportAndReadBack(spark, "export-empty-spec-") { out =>
      Export.exportPack(Export.packKept(spark, dir, none, lit(true), lit(0L)), out,
        resume = false)
      val st = Files.list(out)
      shards = try st.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("corpus-") && n.endsWith(".parquet")).toSeq
      finally st.close()
      log = Files.readAllLines(out.resolve("_graft_commits.tsv")).asScala.toSeq
    }
    assert(back.schema == Export.exportSchema)
    assert(back.count() == 0L)
    assert(shards.isEmpty, s"an empty export must write no shard: $shards")
    assert(log == (0 until Export.EXPORT_BATCHES).map(i => s"$i\t0\t0"),
      s"one empty commit per batch: $log")
  }
}
