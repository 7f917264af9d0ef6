package graft.queries

import java.nio.file.{Files, Path}

import graft.Tables
import graft.queries.Artifacts.ensureArtifact
import graft.queries.Components.freeCheckpoint
import graft.queries.Pipeline.{SHARD_TOKEN_BUDGET, defaultBatchPred, gateChainFlags,
  gateChainFlagsCtesSql, manifestCore, manifestCoreSql, packShards, shardFillStats,
  shardStatsSqlFrom, shuffleKeySql, shuffleToks}
import graft.sink.ParquetFiles
import graft.streaming.StreamingShardSink
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The corpus export family — where the query half feeds the
  * reference-semantics distributed sink: the batch capstone
  * (`x_corpus_export`), its fill audit (`x_export_stats`), the daily
  * append (`x_export_append`) and the streaming export's batch twin
  * (`x_stream_export`), plus the per-micro-batch packer the live
  * stream ([[graft.streaming.Streams.toPackedExportSink]]) runs. Every
  * export packs a keep-set in permutation order on the shared packer
  * ([[packShards]] over [[shuffleToks]]), drives it through one sink
  * drive ([[exportThroughSink]]) and reads it back; the DuckDB oracle
  * states the same packing once ([[packedCtesSql]]).
  */
object Export {

  /** Byte threshold per exported shard FILE — the sink-level rollover
    * (the reference's `shard_size_bytes`, `writer.py:125,177-204`),
    * distinct from [[SHARD_TOKEN_BUDGET]] (the PLAN-level token
    * packing the `shard_id` column records): a training job reads
    * shard ids from the column, a storage layer reads file sizes.
    * 64 KiB ≈ 170 of sf0.1's ~380-byte rows, so at the bench-gated SF
    * (2162 kept docs → ~540 per batch) every export batch rolls over
    * 3-4 times in the SHIPPED configuration — the spec additionally
    * drives a smaller threshold for its rollover pins.
    */
  private[queries] val EXPORT_SHARD_BYTES = 64L * 1024

  /** Number of permutation-range micro-batches the export feeds the
    * sink — the daily-pipeline shape (one `foreachBatch` delivery per
    * key range, ascending, so the shard sequence carries the full
    * permutation order end-to-end).
    */
  private[queries] val EXPORT_BATCHES = 4

  /** The kept/shuffled/packed export stream, pre-sink — ONE
    * definition shared by [[corpusExport]] and CorpusExportSpec's
    * invariant pins: [[manifestCore]]'s kept slice, the
    * [[Pipeline.shuffleKeyCol]] seeded permutation, and
    * [[Pipeline.shardPlan]]'s running-token packing over the
    * PERMUTATION order ([[packShards]] on the
    * [[Pipeline.exclusivePrefixSum]] tree's uniform-key bucketing).
    * The prefix sum runs over narrow (id, key, n_tokens) rows; text
    * joins back on doc_id afterwards, so the scan tree's windows never
    * carry the corpus's fat column.
    */
  private[queries] def exportPacked(s: SparkSession, dir: String): DataFrame =
    exportPackedSlice(s, dir, lit(true), lit(0L))

  /** [[exportPacked]]'s core generalized for the daily-append shape
    * (`x_export_append`): the kept slice restricted by `pred`, packed
    * among itself in permutation order, with every `cum_before` offset
    * by `offsetTokens` (yesterday's token total riding as ONE scalar —
    * the x_shard_append discipline; `lit(0)`/`lit(true)` constant-fold
    * away for the full export, so the batch capstone's plan is
    * unchanged). Materializes the kept base ONCE: the returned plan
    * reads this frame in three branches (the prefix tree reads its
    * input twice, the text join once), and the manifest decision under
    * it is itself a multi-scan subtree — unmaterialized, the whole
    * manifest + text pass replicates into every branch (a measured
    * 24-scan plan, 20 of them carrying the corpus text column). The
    * checkpoint's lifecycle follows the incrDelta returned-checkpoint
    * contract: the caller's harness (or [[exportPack]]'s
    * freeCheckpoint of the pre-checkpoint plan) reclaims it.
    */
  private[queries] def exportPackedSlice(s: SparkSession, dir: String,
      pred: Column, offsetTokens: Column): DataFrame =
    packKept(s, dir, manifestKeptIds(s, dir), pred, offsetTokens)

  /** [[exportPackedSlice]] with the keep-set itself as a parameter —
    * the manifest decision for the batch capstone/append, the
    * composed admission chain's survivors for [[streamExport]].
    */
  private[queries] def packKept(s: SparkSession, dir: String, keeps: DataFrame,
      pred: Column, offsetTokens: Column): DataFrame =
    packWithText(shuffleToks(Tables(s, dir, "documents")
      .join(keeps, Seq("doc_id"), "left_semi").filter(pred), col("text"))
      .localCheckpoint(), offsetTokens)

  /** Pack a checkpointed `(doc_id, shuffle_key, n_tokens, text)` frame
    * among itself in permutation order ([[packShards]], offset by
    * `offset`) and join the text back on doc_id, in [[exportSchema]]
    * order — the pre-sink stream of every export, batch or streaming.
    */
  private def packWithText(base: DataFrame, offset: Column): DataFrame = {
    val assign = packShards(base.select(col("doc_id"), col("shuffle_key"), col("n_tokens")),
        "shuffle_key", Some("doc_id"), Some(offset))
      // the text side carries the key; a second copy would make the
      // post-join select ambiguous
      .drop("shuffle_key")
    base.select(col("doc_id"), col("shuffle_key"), col("text")).join(assign, Seq("doc_id"))
      .select(exportSchema.fieldNames.toSeq.map(col): _*)
  }

  /** The manifest's kept doc-id slice. */
  private def manifestKeptIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    manifestCore(s, dir).filter($"reason" === "kept").select($"doc_id")
  }

  /** The committed token total of export rows: `n_tokens` summed, 0
    * over no rows — the one offset every appending export rides
    * (yesterday's files for [[exportAppend]], the committed shards and
    * each packed micro-batch for the streaming export).
    */
  private[graft] def tokenTotal(rows: DataFrame): Long =
    rows.agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)

  /** Fill audit over the EXPORT packing (`x_export_stats`) — the eval
    * [[corpusExport]] ships with, per the pairing discipline (a
    * transform ships with its eval: `x_shard_shuffle` →
    * `x_shuffle_stats`, here the curated slice's packing): per shard
    * of the kept/shuffled stream, the assigned document count, token
    * total, and fill ratio against [[SHARD_TOKEN_BUDGET]] in integer
    * ppm, on the shared [[shardFillStats]] core and explode spine
    * (zero-fill shards visible). Because the export packs the KEPT
    * slice only, this is also the report that shows how the curation
    * decision reshapes shard fill vs the whole-corpus
    * `x_shuffle_stats`. Cost: ONE narrow kept text pass + the scan
    * tree — no sink, no text join (the audit never needs the text
    * column past the token count). The narrow (id, key, n_tokens)
    * frame is materialized once (r21): the prefix tree reads its
    * input twice, and the manifest decision under it is itself a
    * multi-scan subtree — unmaterialized, the whole decision + token
    * pass replicated into both branches (the packKept discipline;
    * before-plan: 18 scans, after: the decision runs once).
    */
  def exportStats(s: SparkSession, dir: String): DataFrame =
    shardFillStats(packShards(shuffleToks(Tables(s, dir, "documents")
      .join(manifestKeptIds(s, dir), Seq("doc_id"), "left_semi")).localCheckpoint(),
      "shuffle_key", Some("doc_id")))

  /** The exclusive running token sum in permutation order as a
    * `cum_before` select item, plus an optional `offset` term — the
    * oracle's statement of the [[packShards]] rule for every export.
    */
  private def cumBeforeSql(offset: String = ""): String = {
    val tail =
      if (offset.isEmpty) " AS BIGINT)\n      AS cum_before"
      else s"\n      + $offset AS BIGINT) AS cum_before"
    s"""CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)$tail""".stripMargin
  }

  /** The oracle's packed-export CTE pair: `toks`, the documents in the
    * keep-set CTE `keeps` (optionally narrowed by `where`) with their
    * shuffle key, token count and text, and `sums`, the same rows with
    * [[cumBeforeSql]]`(offset)`. A non-empty `total` names a one-row
    * CTE between the two holding `toks`' token total as `t` — the SQL
    * twin of [[tokenTotal]].
    */
  private def packedCtesSql(keeps: String, toks: String, sums: String,
      where: String = "", offset: String = "", total: String = ""): String = {
    val filter = if (where.isEmpty) "" else s"\n  WHERE $where"
    val between =
      if (total.isEmpty) ""
      else s"\n$total AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t\n" +
        s"       FROM $toks),"
    s"""$toks AS (
       |  SELECT d.doc_id, ${shuffleKeySql("d.doc_id")} AS shuffle_key,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, d.text
       |  FROM documents d JOIN $keeps USING (doc_id)$filter),$between
       |$sums AS (
       |  SELECT doc_id, shuffle_key, n_tokens, text,
       |    ${cumBeforeSql(offset)}
       |  FROM $toks)""".stripMargin
  }

  /** The manifest decision's kept slice as the CTEs `mc` and `ek`. */
  private lazy val manifestKeptCtesSql: String =
    s"""mc AS ($manifestCoreSql),
       |ek AS (SELECT doc_id FROM mc WHERE reason = 'kept')""".stripMargin

  /** A whole-keep-set export oracle: `ctes` ending in the keep-set CTE
    * `keeps`, packed by [[packedCtesSql]], in [[exportSchema]] order.
    */
  private def keptExportSql(ctes: String, keeps: String): String =
    s"""WITH $ctes,
       |${packedCtesSql(keeps, "et", "ea")}
       |SELECT doc_id, shuffle_key, n_tokens, cum_before,
       |  CAST(cum_before // $SHARD_TOKEN_BUDGET AS BIGINT) AS shard_id, text
       |FROM ea ORDER BY doc_id""".stripMargin

  /** The export assignment as a parenthesized DuckDB FROM source
    * (the [[Pipeline.shuffledAssignSql]] shape over the kept slice).
    */
  private lazy val exportAssignSql: String =
    s"""(SELECT doc_id, n_tokens, cum_before,
       |  cum_before // $SHARD_TOKEN_BUDGET AS shard_id
       |FROM (
       |  SELECT doc_id, shuffle_key, n_tokens,
       |    ${cumBeforeSql()}
       |  FROM (
       |    SELECT d.doc_id, ${shuffleKeySql("d.doc_id")} AS shuffle_key,
       |      CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
       |    FROM documents d
       |    JOIN (SELECT doc_id FROM ($manifestCoreSql)
       |          WHERE reason = 'kept') ek USING (doc_id))))""".stripMargin

  lazy val exportStatsSql: String = shardStatsSqlFrom(exportAssignSql)

  /** The export stream's sink schema (declared, not inferred — the
    * reference's schema-first writer contract, `writer.py:119-125`).
    */
  private[graft] lazy val exportSchema: StructType =
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("shuffle_key", LongType),
      StructField("n_tokens", LongType),
      StructField("cum_before", LongType),
      StructField("shard_id", LongType),
      StructField("text", StringType)))

  /** Drive a packed export stream through the DISTRIBUTED sink
    * ([[graft.streaming.StreamingShardSink]] — byte-based rollover,
    * sequential `{prefix}-{index}.parquet` naming, `writtenFiles`
    * manifest: the `writer.py:177-204` semantics, `tests.py:50-86`
    * shape) as [[EXPORT_BATCHES]] ascending permutation-range
    * micro-batches, each sorted by (shuffle_key, doc_id) so the shard
    * sequence holds the full corpus in permutation order. A fresh
    * export overwrites `out` and numbers its batches from 0. With
    * `resume`, the sink re-attaches to yesterday's export at `out`:
    * the shard file index continues from the restored commit log, and
    * batchIds continue from
    * [[graft.streaming.StreamingShardSink.nextBatchId]], so a replayed
    * id is skipped exactly-once like any other. Returns the sink
    * (manifest + shard counter) for the spec's invariant pins.
    */
  private[queries] def exportThroughSink(packed: DataFrame, out: Path,
      shardBytes: Long, resume: Boolean = false): StreamingShardSink = {
    val sink = new StreamingShardSink(
      out, exportSchema, shardSizeBytes = shardBytes,
      filePrefix = Some("corpus"), overwrite = !resume, resume = resume)
    val first = sink.nextBatchId
    val rangeWidth = (1L << 48) / EXPORT_BATCHES
    (0 until EXPORT_BATCHES).foreach { q =>
      sink.addBatch(
        packed.filter(expr(s"shuffle_key div $rangeWidth") === q)
          .orderBy(col("shuffle_key"), col("doc_id")),
        first + q)
    }
    sink
  }

  /** The export tail every export shares: materialize the packed
    * stream `pre` ONCE, free the base pin [[packKept]] left under it,
    * drive it through the sink into `out` ([[exportThroughSink]] at
    * [[EXPORT_SHARD_BYTES]]), and free the pack. The base pin is found
    * in the PRE-checkpoint plan (the pack's own lineage is truncated),
    * and it is freed even when materialization itself fails, so an
    * executor failure mid-tree leaves nothing pinned for the session.
    *
    * The pack is materialized before the sink fan-in because each
    * micro-batch's write job would otherwise re-run the keep decision
    * and the prefix-sum tree, EXPORT_BATCHES times over — the round-19
    * scale ladder read 18.6/33.1/55.0 s unmaterialized vs
    * 5.5/9.9/17.3 s checkpointed at 1×/10×/30×. localCheckpoint
    * stores in EXECUTOR storage (memory-and-disk, distributed) — at
    * deployment scale the same move is a persisted staging table,
    * never a driver collect.
    */
  private[queries] def exportPack(pre: DataFrame, out: Path, resume: Boolean): Unit = {
    val packed =
      try pre.localCheckpoint()
      catch { case e: Throwable => freeCheckpoint(pre); throw e }
    freeCheckpoint(pre)
    try exportThroughSink(packed, out, EXPORT_SHARD_BYTES, resume)
    finally freeCheckpoint(packed)
  }

  /** Curated-corpus EXPORT capstone (`x_corpus_export`) — the query
    * that ties the repo's two halves together end-to-end: the
    * curation pipeline's kept manifest slice
    * ([[Pipeline.corpusManifest]]'s decision), the seeded training
    * shuffle ([[Pipeline.shardShuffle]]'s permutation), and the token
    * packing ([[Pipeline.shardPlan]]'s budget), WRITTEN THROUGH the
    * reference-semantics distributed Parquet sink and read back. The
    * returned frame is the READ-BACK — so the oracle hash-match
    * (DuckDB derives the same kept/shuffled/packed rows straight from
    * `documents`) proves the whole chain: curation decision ≡,
    * permutation ≡, packing ≡, and sink write→read = identity on real
    * pipeline output. CorpusExportSpec pins the file-level invariants
    * the row hash can't see: contiguous `corpus-N.parquet` naming,
    * per-batch byte rollover, the `writtenFiles` manifest (absolute,
    * creation order, ≡ directory), and manifest-order =
    * permutation-order.
    *
    * Scale shape: one [[manifestCore]] pass for the decision, the
    * narrow prefix-sum scan tree for packing, text crossing exactly
    * one doc_id-keyed join plus each batch's range sort into the
    * sink's distributed writers — no driver collect anywhere
    * (contrast the parity sink's deliberately single-process
    * `roundtrip_*` family); the read-back is an ordinary parallel
    * Parquet scan over the shard files. READ side at 100 TB: a
    * training job reads ONE plan-shard, so the consumer layout is
    * [[writePartitionedExport]] (`shard_id=K/` directories) — a
    * single-shard read prunes statically to that shard's files,
    * which CorpusExportSpec pins by executed scan metrics.
    */
  def corpusExport(s: SparkSession, dir: String): DataFrame =
    exportAndReadBack(s, "graft-export-")(exportPack(exportPacked(s, dir), _, resume = false))

  /** Run `write` on the `corpus` dir of a PER-INVOCATION unique temp
    * dir and return the materialized read-back — the shared capstone
    * tail of [[corpusExport]], [[streamExport]] and [[exportAppend]].
    * Unique dir + materialize + delete (round-19 advisory): a fixed
    * shared path raced two concurrent JVMs (bench + oracle run, or
    * parallel suites) — one JVM's overwrite-delete could run while
    * another was writing or reading back — and the shards persisted
    * after the query returned; here the read-back is
    * localCheckpoint-ed (executor storage) before the finally-block
    * deletes the directory, so the returned frame never touches the
    * files again and nothing outlives the call, a failed one included.
    */
  private[queries] def exportAndReadBack(s: SparkSession, prefix: String)(
      write: Path => Unit): DataFrame = {
    val root = Files.createTempDirectory(prefix)
    val out = root.resolve("corpus")
    try {
      write(out)
      s.read.schema(exportSchema).parquet(out.toString)
        .orderBy(col("doc_id"))
        .localCheckpoint()
    } finally ParquetFiles.deleteTree(root)
  }

  lazy val corpusExportSql: String = keptExportSql(manifestKeptCtesSql, "ek")

  // ------------------------------------------ incremental export append

  /** One-time build of YESTERDAY'S export — the stored state a daily
    * export-append starts from: the kept base slice
    * ([[defaultBatchPred]] excluded) packed and written through the
    * distributed sink, commit log included. Amortized setup per the
    * house artifact pattern (the from-scratch export itself stays
    * measured as `x_corpus_export`).
    */
  private[graft] def ensureBaseExport(s: SparkSession, dir: String): Path =
    ensureArtifact("graft-base-export", dir, "documents",
        s"|v1|b$EXPORT_SHARD_BYTES") { staging =>
      Files.createDirectories(staging)
      exportPack(exportPackedSlice(s, dir, !defaultBatchPred, lit(0L)),
        staging.resolve("corpus"), resume = false)
    }

  /** Copy a directory tree (the spec shares it to stage its own
    * yesterday-copies).
    */
  private[queries] def copyDirTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(from)
    val paths = try st.iterator.asScala.toSeq finally st.close()
    paths.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Incremental corpus-export APPEND (`x_export_append`) — the daily
    * shape the batch capstone rewrites away: yesterday's export
    * STANDS (its shard files are never rewritten — ExportAppendSpec
    * pins byte-identity), today's kept batch ([[defaultBatchPred]])
    * is packed among itself in permutation order OFFSET by
    * yesterday's token total (one scalar, one narrow agg — no re-pack
    * of history, the x_shard_append discipline), and appends through
    * the RESUMED distributed sink: shard file index and batchIds
    * continue from the restored commit log. The returned frame is the
    * read-back of old+new; the oracle derives both slices straight
    * from `documents`, so the green hash proves yesterday's packing
    * ≡, today's offset packing ≡, and that the append disturbed
    * neither.
    *
    * Scale shape: the measured work is O(today's batch) plus the
    * manifest decision — history enters the query only as a file COPY
    * (per-invocation isolation so repeated runs don't mutate the
    * stored artifact; a real daily job appends in place, no copy) and
    * one token-total scalar; at 100 TB the append costs today's
    * slice, never the corpus.
    */
  def exportAppend(s: SparkSession, dir: String): DataFrame = {
    val baseExport = ensureBaseExport(s, dir)
    exportAndReadBack(s, "graft-export-append-") { out =>
      copyDirTree(baseExport.resolve("corpus"), out)
      // yesterday's token total rides from yesterday's OWN files — one
      // narrow column scan of the just-copied shards (the stored-
      // manifest-number shape a real daily job reads), never a second
      // manifest-decision pass over the corpus: the decision runs
      // exactly once below, for today's slice
      val baseTotal = tokenTotal(s.read.schema(exportSchema).parquet(out.toString))
      exportPack(exportPackedSlice(s, dir, defaultBatchPred, lit(baseTotal)),
        out, resume = true)
    }
  }

  lazy val exportAppendSql: String =
    s"""WITH $manifestKeptCtesSql,
       |${packedCtesSql("ek", "base", "bp", where = "NOT (d.doc_id % 10 = 7)", total = "bt")},
       |${packedCtesSql("ek", "btch", "ap", where = "d.doc_id % 10 = 7",
            offset = "(SELECT t FROM bt)")}
       |SELECT doc_id, shuffle_key, n_tokens, cum_before,
       |  CAST(cum_before // $SHARD_TOKEN_BUDGET AS BIGINT) AS shard_id, text
       |FROM (SELECT * FROM bp UNION ALL SELECT * FROM ap)
       |ORDER BY doc_id""".stripMargin

  /** Consumer-side PARTITIONED layout of a packed export
    * (`shard_id=K/` directories) — the read-side twin of the sink's
    * sequential shard files. The sink's `corpus-N.parquet` sequence
    * is the WRITE contract (reference rollover semantics, manifest
    * order); a training job reads by PLAN shard, and at 100 TB it
    * must scan only its own shard's files — directory partitioning
    * hands Spark that statically (`PartitionFilters` on `shard_id`,
    * no footer touched outside the shard). CorpusExportSpec pins the
    * single-shard scan's file count against the shard directory.
    */
  private[queries] def writePartitionedExport(packed: DataFrame, dest: Path): Unit =
    packed.write.mode("overwrite").partitionBy("shard_id").parquet(dest.toString)

  // --------------------------------------------------- streaming export

  /** Pack ONE arriving micro-batch among itself in permutation order,
    * offset by `offsetTokens` (the committed token total — the
    * `x_export_append` discipline applied per micro-batch), and
    * append it through the sink under `batchId`. The batch frame
    * needs `doc_id` and `text`; the base is checkpointed for the
    * pack's multi-branch read and freed before returning. Callers
    * skip replayed ids up front
    * ([[graft.streaming.StreamingShardSink.isCommitted]]) so no
    * derivation runs for a frame addBatch would discard. Returns the
    * batch's token mass ([[tokenTotal]] over the checkpointed base)
    * so the caller can advance its committed-total accumulator
    * without re-reading history.
    */
  private[graft] def packAndAppendBatch(batch: DataFrame, offsetTokens: Long,
      sink: StreamingShardSink, batchId: Long): Long = {
    val base = shuffleToks(batch, col("text")).localCheckpoint()
    try {
      sink.addBatch(packWithText(base, lit(offsetTokens))
        .orderBy(col("shuffle_key"), col("doc_id")), batchId)
      tokenTotal(base)
    } finally freeCheckpoint(base)
  }

  /** Streaming-export audit row (`x_stream_export`) — the
    * deterministic batch twin of the production STREAMING export
    * shape (ExportStreamSpec drives the real stream:
    * [[graft.streaming.Streams.toPackedExportSink]], gate chain →
    * per-micro-batch packing → sink across a kill/restart): the
    * composed admission chain's surviving arrivals
    * ([[gateChainFlags]] all-pass — the same flags `x_gate_chain`
    * reports), packed in permutation order and written through the
    * distributed sink, read back. Deterministic because every chain
    * member is stateless and scores only against yesterday's
    * artifacts, never against other arrivals — so the keep-set (and
    * with it the export) is a pure function of the fixture and DuckDB
    * re-derives it from `documents` alone. One green hash proves the
    * composed admission decision ≡, the permutation ≡, the packing ≡,
    * and write→read identity — the streaming half's own capstone,
    * completing what `x_corpus_export` proved for the batch half.
    */
  def streamExport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keeps = gateChainFlags(s, dir)
      .filter($"pq" && $"pn" && $"pf" && $"pd" && $"pb" && $"pc")
      .select($"doc_id")
    exportAndReadBack(s, "graft-export-")(
      exportPack(packKept(s, dir, keeps, lit(true), lit(0L)), _, resume = false))
  }

  lazy val streamExportSql: String = keptExportSql(
    s"""$gateChainFlagsCtesSql,
       |kept AS (
       |  SELECT doc_id FROM flags
       |  WHERE pq AND pn AND pf AND pd AND pb AND pc)""".stripMargin, "kept")
}
