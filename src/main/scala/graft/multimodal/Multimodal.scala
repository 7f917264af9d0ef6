package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.{Artifacts, Banding}

/** Multimodal columns: image/audio/video treated as opaque `binary`
  * payloads with typed metadata, processed by a typed
  * partition-iterator pipeline (`Dataset.mapPartitions` — Spark's
  * Scala-side analog of `mapInPandas`: one decoder instance per
  * partition, rows streamed through in batches, schema declared by
  * case-class encoders).
  *
  * THE DECODE STEP IS A STUB: this container has no image/audio
  * codecs, so [[decodeStub]] stands in for the real
  * decoder — it derives dimensions/rates/checksums deterministically
  * from the payload bytes. Everything AROUND it is the real
  * production plumbing: binary columns through scans and shuffles,
  * magic-byte sniffing on byte slices, per-partition batch iteration,
  * typed encoders, frame-slice explosion. Swapping `decodeStub` for a
  * JNI/javacpp decoder changes no schema, partitioning, or plan
  * shape.
  *
  * Assets are synthesized deterministically from the `documents`
  * fixture (payload = 5-byte magic header ++ text bytes, kind by
  * doc_id mod 3) so every operator stays DuckDB-oracle-checkable.
  */
object Multimodal {

  final case class MediaAsset(
      asset_id: Long, kind: String, payload: Array[Byte])

  /** One decoded asset: image dims, audio rate/duration, video frame
    * count, content checksum, plus a deterministic 32×32 "resize"
    * fingerprint for images.
    */
  final case class DecodedMedia(
      asset_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int,
      sample_rate: Int, duration_ms: Long,
      n_frames: Long, checksum: String,
      resized_checksum: String)

  private val Magic = Map("image" -> "IMG89", "audio" -> "RIFF!", "video" -> "MPEG4")

  /** Deterministic asset table over `documents`: binary payload with a
    * sniffable magic header, kind by `doc_id % 3`.
    */
  def assets(s: SparkSession, dir: String): DataFrame =
    assetsOf(Tables(s, dir, "documents"))

  /** The asset derivation over an arbitrary documents-shaped slice —
    * the streaming prefix gate builds yesterday's ladder index from a
    * BASE slice, so the view is factored off its `Tables` wrapper.
    */
  private[graft] def assetsOf(docs: DataFrame): DataFrame = {
    val kind = element_at(lit(Array("image", "audio", "video")),
      (col("doc_id") % 3).cast("int") + 1)
    docs
      .select(col("doc_id").as("asset_id"), kind.as("kind"), col("text"))
      .withColumn("magic",
        element_at(map(Magic.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*), col("kind")))
      .select(col("asset_id"), col("kind"),
        concat(col("magic"), col("text")).cast("binary").as("payload"))
  }

  /** `kind` CASE + payload prefix in the oracle's VARCHAR domain
    * (payloads are ASCII by construction, so byte and char slicing
    * coincide — asserted by the md5 checks matching).
    */
  private val kindSql =
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  private val payloadSql =
    "(CASE doc_id % 3 WHEN 0 THEN 'IMG89' WHEN 1 THEN 'RIFF!' ELSE 'MPEG4' END || text)"

  // ------------------------------------------------------------ operators

  /** Metadata + magic-byte sniffing: pure expressions over the binary
    * column (byte slice → string compare), no decode needed. The
    * sniffed kind must agree with the declared one.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val magic = substring($"payload", 1, 5).cast("string")
    assets(s, dir)
      .select($"asset_id", $"kind",
        when(magic === Magic("image"), "image")
          .when(magic === Magic("audio"), "audio")
          .when(magic === Magic("video"), "video")
          .otherwise("unknown").as("sniffed_kind"),
        length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("payload_md5"))
      .orderBy($"asset_id")
  }

  val mediaMetaSql: String =
    s"""SELECT doc_id AS asset_id, $kindSql AS kind,
       |  CASE substr($payloadSql, 1, 5)
       |    WHEN 'IMG89' THEN 'image' WHEN 'RIFF!' THEN 'audio'
       |    WHEN 'MPEG4' THEN 'video' ELSE 'unknown' END AS sniffed_kind,
       |  CAST(length($payloadSql) AS BIGINT) AS n_bytes,
       |  md5($payloadSql) AS payload_md5
       |FROM documents ORDER BY asset_id""".stripMargin

  /** STUB decoder — deterministic stand-in for a real image/audio/
    * video codec. Dimensions, rates and frame counts derive from the
    * byte length; checksums are md5 so the DuckDB oracle can verify
    * byte-exact plumbing. A real deployment replaces ONLY this
    * function (e.g. with a JNI decoder), keeping the signature
    * `MediaAsset => DecodedMedia`.
    */
  // per-thread digest: decodeStub runs once per asset row inside
  // mapPartitions — per-row getInstance is provider-lookup overhead
  // (named to avoid shadowing functions.md5, which this file also uses)
  private val md5Digest = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  def decodeStub(a: MediaAsset): DecodedMedia = {
    val n = a.payload.length.toLong
    val md = md5Digest.get()
    md.reset()
    val checksum = md.digest(a.payload).map("%02x".format(_)).mkString
    val (w, h) = a.kind match {
      case "image" => (16 + (n % 64).toInt, 16 + ((n * 7) % 64).toInt)
      case _       => (0, 0)
    }
    val rate = a.kind match {
      case "audio" => 8000 + ((n % 3) * 4000).toInt
      case _       => 0
    }
    val durationMs = if (rate > 0) n * 1000L / rate else 0L
    val frames = a.kind match {
      case "video" => (n + 255L) / 256L
      case _       => 1L
    }
    val resized =
      if (a.kind == "image") {
        md.reset()
        md.digest((checksum + "|32x32").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      } else ""
    DecodedMedia(a.asset_id, a.kind, n, w, h, rate, durationMs, frames, checksum, resized)
  }

  /** Decode / feature-extract / resize through the typed
    * partition-iterator pipeline. The plan shape is what matters for
    * 100 TB: a scan → one narrow mapPartitions (no shuffle, one
    * decoder per partition) → sort only for the oracle's total order.
    */
  def mediaDecode(s: SparkSession, dir: String): DataFrame = {
    implicit val assetEnc = Encoders.product[MediaAsset]
    implicit val decodedEnc = Encoders.product[DecodedMedia]
    assets(s, dir).as[MediaAsset]
      .mapPartitions(iter => iter.map(decodeStub))
      .toDF()
      .orderBy("asset_id")
  }

  val mediaDecodeSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, $kindSql AS kind, $payloadSql AS p FROM documents)
       |SELECT asset_id, kind, CAST(length(p) AS BIGINT) AS n_bytes,
       |  CAST(CASE WHEN kind = 'image' THEN 16 + length(p) % 64 ELSE 0 END AS INT) AS width,
       |  CAST(CASE WHEN kind = 'image' THEN 16 + (length(p) * 7) % 64 ELSE 0 END AS INT) AS height,
       |  CAST(CASE WHEN kind = 'audio' THEN 8000 + (length(p) % 3) * 4000 ELSE 0 END AS INT) AS sample_rate,
       |  CAST(CASE WHEN kind = 'audio'
       |    THEN length(p) * 1000 // (8000 + (length(p) % 3) * 4000)
       |    ELSE 0 END AS BIGINT) AS duration_ms,
       |  CAST(CASE WHEN kind = 'video' THEN (length(p) + 255) // 256 ELSE 1 END AS BIGINT) AS n_frames,
       |  md5(p) AS checksum,
       |  CASE WHEN kind = 'image' THEN md5(md5(p) || '|32x32') ELSE '' END AS resized_checksum
       |FROM a ORDER BY asset_id""".stripMargin

  /** Frame sampling for video payloads: every 4th 256-byte slice,
    * checksummed. Byte slicing + explode — narrow until the final
    * oracle sort; at scale the explode fans out within partitions,
    * no shuffle.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir)
      .filter($"kind" === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0L), ((length($"payload") + 255) / 256).cast("long") - 1L, lit(4L))))
      .select($"asset_id", $"frame_idx",
        md5(expr("substring(payload, cast(frame_idx * 256 + 1 as int), 256)")).as("frame_md5"))
      .orderBy($"asset_id", $"frame_idx")
  }

  val frameSampleSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, $payloadSql AS p FROM documents WHERE doc_id % 3 = 2),
       |f AS (
       |  SELECT asset_id, p, unnest(range(0, (length(p) + 255) // 256, 4)) AS frame_idx
       |  FROM a)
       |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  md5(substr(p, CAST(frame_idx * 256 + 1 AS BIGINT), 256)) AS frame_md5
       |FROM f ORDER BY asset_id, frame_idx""".stripMargin

  /** Exact media dedup by content checksum — the first pass every
    * multimodal training pipeline runs (identical images/clips mirror
    * across crawls far more than text does): keep the smallest
    * asset_id per payload md5, mark the rest dropped. Same
    * groupBy-min + hash-join shape as the text-side `x_exact_dedup` —
    * only (asset_id, kind, 32-byte hash) rows shuffle, the binary
    * payloads never leave the scan, and there is no window over a hot
    * checksum (a billion-copy logo collapses map-side).
    */
  def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = assets(s, dir).select($"asset_id", $"kind", md5($"payload").as("h"))
    val keep = a.groupBy($"h").agg(min($"asset_id").as("keep_id"))
    a.join(keep, Seq("h"))
      .select($"asset_id", $"kind", $"keep_id",
        ($"asset_id" === $"keep_id").as("is_kept"))
      .orderBy($"asset_id")
  }

  val mediaDedupSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id, $kindSql AS kind, md5($payloadSql) AS h
       |  FROM documents),
       |k AS (SELECT h, MIN(asset_id) AS keep_id FROM a GROUP BY h)
       |SELECT a.asset_id, a.kind, k.keep_id, a.asset_id = k.keep_id AS is_kept
       |FROM a JOIN k USING (h)
       |ORDER BY a.asset_id""".stripMargin

  /** Document-frequency cap for the frame inverted index — the
    * multimodal [[graft.queries.Pipeline]] SHINGLE_DF_CAP: a frame
    * checksum present in more than this many assets is boilerplate (a
    * black frame, a standard intro card) and is dropped BEFORE the
    * self-join, bounding fan-out per key at cap²/2. Part of the
    * operator's semantics; the oracle applies the identical filter.
    */
  private[graft] val FRAME_DF_CAP = 100

  /** Feature windows for [[mediaNearDup]]: 64-byte slices at stride
    * 48 (overlap 16 — the `x_chunk_windows` 32/24 pattern in bytes),
    * COMPLETE windows only (a partial tail window hashes a shorter
    * byte run and can never match anything, so sampling it only adds
    * noise to both set sizes). Overlapping short windows instead of
    * [[frameSample]]'s sparse 256-byte slices is what gives the
    * pipeline sub-slice granularity: a variant keeping ≥ 64 aligned
    * bytes of its source shares ≥ 1 window.
    */
  private val WIN_BYTES = 64
  private val WIN_STRIDE = 48

  /** NEAR-duplicate media by frame-window overlap — the multimodal
    * twin of the lexical near-dup family, catching what
    * [[mediaDedup]]'s whole-payload hash cannot: truncated and
    * partially-overlapping variants (the fixture contains real ones —
    * equal 251-char prefixes with different tails). Features are
    * overlapping complete 64-byte window checksums ([[WIN_BYTES]] /
    * [[WIN_STRIDE]]; with a real codec the checksums come from
    * DECODED frames, making the same pipeline robust to
    * container-level re-encoding — only the feature extractor
    * changes); the pipeline is [[graft.queries.Pipeline]]'s
    * inverted-index shape, re-instantiated: exact-dup pre-collapse
    * (byte-identical payloads are mediaDedup's catch and would pile
    * into every frame group), per-asset distinct window sets, df-cap,
    * group-local pair generation, exact verification on candidates.
    * Two linking metrics, both reported: Jaccard ≥ 0.5 for
    * symmetric near-dups, and CONTAINMENT ≥ 0.9 (|∩| / min set size)
    * for truncations — a variant keeping 1/4 of its source holds a
    * window set ~1/4 the source's, so its Jaccard is ≈ 0.25 BY
    * CONSTRUCTION and no sampling density can lift it over a 0.5 bar;
    * containment of the aligned prefix is ≈ 1 and sees it.
    * Scale shape: payloads are consumed INSIDE the scans (one pass
    * hashes them, one pass slices them) — only (asset_id, 32-byte
    * checksum) rows ever reach an exchange, plan-asserted.
    */
  /** The kept-frame feature table `(asset_id, n, frame_md5)` —
    * [[mediaNearDup]]'s exact-dup pre-collapse + windowing + df-cap
    * stages, shared with [[ensureFrameIndex]] so the from-scratch
    * pipeline and the persisted incremental index can never diverge.
    */
  /** Assets collapsed away by the exact-payload pre-collapse (every
    * non-minimal id per payload hash) — shared by the window and
    * sub-window feature stages.
    */
  private def nonRepAssets(s: SparkSession, dir: String): DataFrame =
    nonRepAssetsOf(assets(s, dir))

  private def nonRepAssetsOf(a: DataFrame): DataFrame = {
    val hashed = a.select(col("asset_id"), md5(col("payload")).as("h"))
    hashed
      .join(hashed.groupBy(col("h")).agg(min(col("asset_id")).as("keep_id")), Seq("h"))
      .filter(col("asset_id") =!= col("keep_id"))
      .select(col("asset_id"))
  }

  /** The PRE-CAP frame feature table `(asset_id, frame_md5)` —
    * [[keptFrames]] before its df-cap filter, factored out so
    * [[graft.queries.Pipeline.indexHealth]]'s `frame` family row
    * audits the exact key population the cap screens (ONE definition:
    * a windowing/pre-collapse tweak cannot desynchronize the audit
    * from the index it reports on).
    */
  private[graft] def frameWindowsPreCap(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir)
      .filter($"kind" === "video" && length($"payload") >= WIN_BYTES)
      .withColumn("off",
        explode(sequence(lit(0L),
          (length($"payload") - WIN_BYTES).cast("long"), lit(WIN_STRIDE.toLong))))
      .select($"asset_id",
        md5(expr(s"substring(payload, cast(off + 1 as int), $WIN_BYTES)"))
          .as("frame_md5"))
      .distinct()
      .join(nonRepAssets(s, dir), Seq("asset_id"), "left_anti")
  }

  private def keptFrames(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val frames = frameWindowsPreCap(s, dir)
    val frequent = frames.groupBy($"frame_md5").agg(count(lit(1)).as("df"))
      .filter($"df" > FRAME_DF_CAP)
      .select($"frame_md5")
    frames.join(broadcast(frequent), Seq("frame_md5"), "left_anti")
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"asset_id")))
  }

  /** Shared pair-scoring tail of [[mediaNearDup]] and [[incrMedia]] —
    * the keptFrames discipline applied to the scoring side: one
    * definition of the orientation-normalizing aggregation, the two
    * linking metrics, and the 0.5 / 0.9 thresholds, so the incremental
    * path's "≡ rebuild restricted to the batch" contract cannot be
    * broken by a threshold tweak applied to one pipeline alone. Input:
    * exploded `(x, y)` member-struct pairs, one row per shared frame
    * per unordered pair (structs carry `asset_id` and `n`; extra
    * fields are fine).
    */
  private def scoreFramePairs(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(least(col("x.asset_id"), col("y.asset_id")).as("a_id"),
        greatest(col("x.asset_id"), col("y.asset_id")).as("b_id"))
      .agg(count(lit(1)).as("c"),
        first(when(col("x.asset_id") < col("y.asset_id"), col("x.n"))
          .otherwise(col("y.n"))).as("na"),
        first(when(col("x.asset_id") < col("y.asset_id"), col("y.n"))
          .otherwise(col("x.n"))).as("nb"))
      .select(col("a_id"), col("b_id"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"),
        (col("c") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("jaccard") >= 0.5 || col("containment") >= 0.9)

  /** Video exact-payload representatives — the sub-window stage's
    * universe (kind and pre-collapse matching the window stage's).
    */
  private def videoReps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir).filter($"kind" === "video")
      .join(nonRepAssets(s, dir), Seq("asset_id"), "left_anti")
      .select($"asset_id", $"payload")
  }

  /** Byte-prefix containment pairs for SUB-WINDOW assets — the
    * residual the window metrics structurally cannot see: a variant
    * shorter than one [[WIN_BYTES]] window holds no complete feature
    * window, so no set metric links it at any sampling density. Its
    * ENTIRE payload is one byte string, and "is it a truncation of a
    * stored asset" is exactly "is it a byte prefix" — checked by
    * hashing each candidate carrier's same-length prefix. Linear and
    * bounded: the distinct sub-window lengths are < [[WIN_BYTES]]
    * values (broadcast), each carrier contributes ≤ that many
    * fixed-width prefix hashes map-side, boilerplate prefixes (a
    * shared header is EVERY video's prefix) are cut by the
    * [[FRAME_DF_CAP]] discipline before any pair forms, and only
    * (id, length, 32-char hash) rows reach an exchange — payloads
    * never leave the scan, the window stage's contract. Metrics are
    * the byte-level instances of the pair metrics: containment of the
    * whole variant = 1.0 by construction; jaccard = |variant| /
    * |carrier| bytes. A corpus with no sub-window assets pays nothing
    * (the length domain is empty).
    */
  private def subWindowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vids = videoReps(s, dir)
    val subs = vids.filter(length($"payload") < WIN_BYTES)
      .select($"asset_id", length($"payload").cast("long").as("l"),
        md5($"payload").as("ph"))
    val lens = subs.select($"l").distinct()
    val pre = vids.join(broadcast(lens), length($"payload") >= $"l")
      .select($"asset_id".as("c_id"), $"l",
        md5(expr(s"substring(payload, 1, cast(l as int))")).as("ph"),
        length($"payload").cast("long").as("slen"))
    val boilerplate = pre.groupBy($"l", $"ph").agg(count(lit(1)).as("df"))
      .filter($"df" > FRAME_DF_CAP).select($"l", $"ph")
    val kpre = pre.join(broadcast(boilerplate), Seq("l", "ph"), "left_anti")
    subs.join(kpre, Seq("l", "ph"))
      .filter($"asset_id" =!= $"c_id")
      .select(least($"asset_id", $"c_id").as("a_id"),
        greatest($"asset_id", $"c_id").as("b_id"),
        ($"l".cast("double") / $"slen").as("jaccard"),
        lit(1.0).as("containment"))
  }

  // ------------------------------------------- stale prefix-ladder gate

  /** The largest power-of-two ≥ [[WIN_BYTES]] that fits in `len`
    * bytes, NULL below [[WIN_BYTES]] — the probe length shared by the
    * ladder-index build and the streaming gate (ONE definition, so a
    * stored hash and an arrival probe can never disagree on the
    * length). A descending integer CASE chain, not `log2` floats — a
    * float at an exact power-of-two boundary is a wrong bucket.
    */
  private[graft] def ladderLenCol(len: Column): Column =
    coalesce((30 to 6 by -1).map(k =>
      when(len >= (1L << k), lit(1L << k))): _*)

  /** Yesterday's prefix-ladder index — the stale artifact that gives
    * the ingest loop a NEAR-dup net for media (the band-gate pattern
    * applied to [[mediaNearDup]]'s byte-prefix evidence): per stored
    * video rep, the md5 of its payload prefix at every ladder length
    * ([[ladderLenCol]]'s powers of two ≥ [[WIN_BYTES]]) that fits —
    * O(log len) fixed-width rows per asset, payloads never leaving
    * the scan (the window stage's contract). Boilerplate prefixes (a
    * shared container header is EVERY video's prefix) are cut by the
    * [[FRAME_DF_CAP]] discipline before the index is stored, so a
    * ubiquitous header can never blanket-drop arrivals. Because a
    * truncation (or shared-prefix variant) preserves every prefix of
    * its source, an arriving variant's ladder probe at its own l*
    * matches the source's stored hash at the same l* — the catch the
    * whole-payload [[graft.streaming.Streams.mediaDedupGate]] key
    * structurally cannot make. Conservative by construction: a match
    * certifies ≥ l* > len/2 shared leading bytes (md5 collisions
    * aside); a variant sharing slightly less than its l* passes and
    * stays the batch compaction's catch, the staleness contract every
    * gate here carries.
    */
  private[graft] def prefixLadderIndex(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val entries = ladderEntriesPreCap(s, docs).select(col("l"), col("ph"))
    val boilerplate = entries.groupBy(col("l"), col("ph"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > FRAME_DF_CAP).select(col("l"), col("ph"))
    entries.join(broadcast(boilerplate), Seq("l", "ph"), "left_anti")
      .distinct()
  }

  /** The PRE-CAP ladder entry table `(asset_id, l, ph)` —
    * [[prefixLadderIndex]] before its df-cap filter, carrying the
    * asset id so `indexHealth`'s `prefix` family row can count
    * carrier assets (the [[frameWindowsPreCap]] contract).
    */
  private[graft] def ladderEntriesPreCap(
      s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val a = assetsOf(docs)
    a.filter($"kind" === "video")
      .join(nonRepAssetsOf(a), Seq("asset_id"), "left_anti")
      .select($"asset_id", $"payload", explode(expr(
        "filter(transform(sequence(6, 30), k -> shiftleft(cast(1 as bigint), k)), " +
          "l -> l <= length(payload))")).as("l"))
      .select($"asset_id", $"l",
        md5($"payload".substr(lit(1), $"l".cast("int"))).as("ph"))
  }

  /** The shared per-row prefix-gate scorer — ONE definition for the
    * streaming gate ([[graft.streaming.Streams.framePrefixGate]]) and
    * the batch audit ([[prefixGateAudit]]), the
    * `bandGateScored` discipline applied to media. Adds to `df`:
    * `gate_pl` (the ladder probe length — NULL for non-video or
    * sub-64-byte arrivals, the no-evidence pass) and `gate_hit` (true
    * when the probe hash matches a stored ladder entry; NULL
    * otherwise). One probe key per row, a single (l, ph)-keyed LEFT
    * equi-join against the stored index — stateless in a streaming
    * plan, payloads hashed map-side.
    */
  private[graft] def prefixGateScored(
      df: DataFrame, ladderIndex: DataFrame,
      kindCol: String = "kind", payloadCol: String = "payload"): DataFrame = {
    val lstar = ladderLenCol(length(col(payloadCol)))
    val keyed = df
      .withColumn("gate_pl", when(col(kindCol) === "video", lstar))
      .withColumn("gate_pph",
        when(col("gate_pl").isNotNull,
          md5(col(payloadCol).substr(lit(1), col("gate_pl").cast("int")))))
    val idx = ladderIndex.select(col("l").as("gate_il"),
      col("ph").as("gate_iph"), lit(true).as("gate_hit"))
    keyed
      .join(idx, col("gate_pl") === col("gate_il") &&
        col("gate_pph") === col("gate_iph"), "left_outer")
      .drop("gate_pph", "gate_il", "gate_iph")
  }

  /** Batch audit of the stale prefix-ladder gate (`x_prefix_gate`) —
    * the media twin of `x_band_gate`: both engines derive the planted
    * truncation corpus ([[ensureMediaPlanted]]'s plant, the
    * `x_media_recall` discipline), build yesterday's ladder index
    * from the BASE slice, and score every arriving variant with the
    * deployed gate's own probe ([[prefixGateScored]] — shared column
    * builder, so gate and audit cannot drift). Output per variant:
    * its byte length, its ladder probe length (NULL under the
    * 64-byte granularity floor), and the gate verdict — the
    * hash-matched oracle row pins the ladder derivation, the df-cap,
    * the probe-length CASE chain, and the drop decision end-to-end
    * cross-engine.
    */
  def prefixGateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adir = ensureMediaPlanted(s, dir).toString
    val docs = Tables(s, adir, "documents")
    val ladder = prefixLadderIndex(s, docs.filter($"doc_id" < MEDIA_OFF))
    // n_bytes derived BEFORE the scorer: selecting length(payload)
    // after the index join would force the binary payload through the
    // join (and any exchange under it); derived first, Catalyst prunes
    // the payload right after the map-side probe-hash projection
    val arrivals = assetsOf(docs.filter($"doc_id" >= MEDIA_OFF))
      .withColumn("n_bytes", length($"payload").cast("long"))
    prefixGateScored(arrivals, ladder)
      .select($"asset_id", $"n_bytes", $"gate_pl".as("probe_len"),
        coalesce($"gate_hit", lit(false)).as("dropped"))
      .orderBy($"asset_id")
  }

  /** DuckDB CTEs for the two MEDIA family rows of
    * `x_index_health` (`mfrow` = frame windows under [[FRAME_DF_CAP]],
    * `mlrow` = prefix-ladder entries under the same cap) — spliced
    * into `Pipeline.indexHealthSql`'s WITH chain. Derivations mirror
    * [[frameWindowsPreCap]] / [[ladderEntriesPreCap]]: video assets,
    * exact-payload pre-collapse, per-asset distinct windows / ladder
    * lengths, counted BEFORE any cap filter.
    */
  private[graft] lazy val mediaHealthCtesSql: String =
    s"""mnr AS (
       |  SELECT asset_id FROM (
       |    SELECT doc_id AS asset_id,
       |      MIN(doc_id) OVER (PARTITION BY md5($payloadSql)) AS keep_id
       |    FROM documents)
       |  WHERE asset_id <> keep_id),
       |mfh AS (
       |  SELECT DISTINCT asset_id,
       |    md5(substr(p, CAST(off + 1 AS BIGINT), $WIN_BYTES)) AS frame_md5
       |  FROM (
       |    SELECT doc_id AS asset_id, $payloadSql AS p,
       |      unnest(range(0, length($payloadSql) - ${WIN_BYTES - 1}, $WIN_STRIDE)) AS off
       |    FROM documents WHERE doc_id % 3 = 2 AND length($payloadSql) >= $WIN_BYTES)
       |  WHERE asset_id NOT IN (SELECT asset_id FROM mnr)),
       |mfc AS (SELECT frame_md5, COUNT(*) AS m FROM mfh GROUP BY 1),
       |mfrow AS (SELECT 'frame' AS family,
       |  (SELECT COUNT(*) FROM mfc) AS n_keys,
       |  (SELECT COALESCE(MAX(m), 0) FROM mfc) AS max_members,
       |  (SELECT COUNT(*) FROM mfc WHERE m > $FRAME_DF_CAP) AS n_over_cap,
       |  (SELECT COUNT(DISTINCT asset_id) FROM mfh
       |   WHERE frame_md5 IN (SELECT frame_md5 FROM mfc WHERE m > $FRAME_DF_CAP))
       |    AS n_carrier_docs),
       |mlh AS (
       |  SELECT v.asset_id, ll.l, md5(substr(v.p, 1, CAST(ll.l AS BIGINT))) AS ph
       |  FROM (SELECT doc_id AS asset_id, $payloadSql AS p FROM documents
       |        WHERE doc_id % 3 = 2
       |          AND doc_id NOT IN (SELECT asset_id FROM mnr)) v,
       |       (SELECT unnest([${(6 to 30).map(1L << _).mkString(", ")}]) AS l) ll
       |  WHERE length(v.p) >= ll.l),
       |mlc AS (SELECT l, ph, COUNT(*) AS m FROM mlh GROUP BY 1, 2),
       |mlrow AS (SELECT 'prefix' AS family,
       |  (SELECT COUNT(*) FROM mlc) AS n_keys,
       |  (SELECT COALESCE(MAX(m), 0) FROM mlc) AS max_members,
       |  (SELECT COUNT(*) FROM mlc WHERE m > $FRAME_DF_CAP) AS n_over_cap,
       |  (SELECT COUNT(DISTINCT h.asset_id) FROM mlh h
       |   JOIN (SELECT l, ph FROM mlc WHERE m > $FRAME_DF_CAP) o
       |     ON h.l = o.l AND h.ph = o.ph) AS n_carrier_docs)""".stripMargin

  lazy val prefixGateAuditSql: String = {
    val ladderLens = (6 to 30).map(1L << _)
    // the probe-length CASE chain, generated from the SAME range as
    // [[ladderLenCol]] — descending integer compares, no log2 floats
    val probeCase = ladderLens.reverse
      .map(l => s"WHEN length(p) >= $l THEN CAST($l AS BIGINT)")
      .mkString("CASE ", " ", " ELSE NULL END")
    s"""WITH plant AS (
       |  SELECT doc_id, text, (doc_id // 3) % 3 + 1 AS trunc_q
       |  FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= 8
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
       |bnonrep AS (
       |  SELECT asset_id FROM (
       |    SELECT doc_id AS asset_id,
       |      MIN(doc_id) OVER (PARTITION BY md5($payloadSql)) AS keep_id
       |    FROM documents)
       |  WHERE asset_id <> keep_id),
       |bvids AS (
       |  SELECT doc_id AS asset_id, $payloadSql AS p FROM documents
       |  WHERE doc_id % 3 = 2
       |    AND doc_id NOT IN (SELECT asset_id FROM bnonrep)),
       |lad AS (
       |  SELECT ll.l, md5(substr(p, 1, CAST(ll.l AS BIGINT))) AS ph
       |  FROM bvids, (SELECT unnest([${ladderLens.mkString(", ")}]) AS l) ll
       |  WHERE length(p) >= ll.l),
       |klad AS (
       |  SELECT DISTINCT lad.l, lad.ph FROM lad
       |  JOIN (SELECT l, ph FROM lad GROUP BY l, ph
       |        HAVING COUNT(*) <= $FRAME_DF_CAP) ok USING (l, ph)),
       |arr AS (
       |  SELECT p.doc_id + $MEDIA_OFF AS asset_id,
       |    'MPEG4' || substr(p.text, 1,
       |      CAST((length(p.text) * p.trunc_q) // 4 AS BIGINT)) AS p
       |  FROM plant p),
       |probe AS (
       |  SELECT asset_id, CAST(length(p) AS BIGINT) AS n_bytes,
       |    $probeCase AS probe_len, p
       |  FROM arr)
       |SELECT pr.asset_id, pr.n_bytes, pr.probe_len,
       |  (k.ph IS NOT NULL) AS dropped
       |FROM probe pr
       |  LEFT JOIN klad k ON pr.probe_len = k.l
       |    AND md5(substr(pr.p, 1, pr.probe_len)) = k.ph
       |ORDER BY pr.asset_id""".stripMargin
  }

  def mediaNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = keptFrames(s, dir)
    val index = kept.groupBy($"frame_md5")
      .agg(collect_list(struct($"asset_id", $"n")).as("g"))
      .filter(size($"g") >= 2)
    // least/greatest in the shared tail restores the id-ordered
    // orientation the list order doesn't guarantee
    scoreFramePairs(Banding.tailPairs(index))
      .unionByName(subWindowPairs(s, dir))
      .orderBy($"a_id", $"b_id")
  }

  /** [[mediaNearDup]]'s oracle over an arbitrary documents source
    * (the media recall eval instantiates it over the augmented
    * corpus).
    */
  private def mediaNearDupBodySqlFrom(src: String): String =
    s"""WITH h AS (
       |  SELECT doc_id AS asset_id, md5($payloadSql) AS h FROM $src),
       |nonrep AS (
       |  SELECT asset_id FROM (
       |    SELECT asset_id, MIN(asset_id) OVER (PARTITION BY h) AS keep_id FROM h)
       |  WHERE asset_id <> keep_id),
       |f AS (
       |  SELECT DISTINCT asset_id,
       |    md5(substr(p, CAST(off + 1 AS BIGINT), $WIN_BYTES)) AS frame_md5
       |  FROM (
       |    SELECT doc_id AS asset_id, $payloadSql AS p,
       |      unnest(range(0, length($payloadSql) - ${WIN_BYTES - 1}, $WIN_STRIDE)) AS off
       |    FROM $src WHERE doc_id % 3 = 2 AND length($payloadSql) >= $WIN_BYTES)
       |  WHERE asset_id NOT IN (SELECT asset_id FROM nonrep)),
       |kf AS (
       |  SELECT asset_id, frame_md5 FROM f
       |  WHERE frame_md5 IN (
       |    SELECT frame_md5 FROM f GROUP BY 1 HAVING COUNT(*) <= $FRAME_DF_CAP)),
       |sz AS (SELECT asset_id, COUNT(*) AS n FROM kf GROUP BY 1),
       |inter AS (
       |  SELECT x.asset_id AS a_id, y.asset_id AS b_id, COUNT(*) AS c
       |  FROM kf x JOIN kf y
       |    ON x.frame_md5 = y.frame_md5 AND x.asset_id < y.asset_id
       |  GROUP BY 1, 2),
       |vids AS (
       |  SELECT doc_id AS asset_id, $payloadSql AS p FROM $src
       |  WHERE doc_id % 3 = 2
       |    AND doc_id NOT IN (SELECT asset_id FROM nonrep)),
       |subs AS (
       |  SELECT asset_id, CAST(length(p) AS BIGINT) AS l, md5(p) AS ph
       |  FROM vids WHERE length(p) < $WIN_BYTES),
       |pre AS (
       |  SELECT v.asset_id AS c_id, d.l,
       |    md5(substr(v.p, 1, CAST(d.l AS BIGINT))) AS ph,
       |    CAST(length(v.p) AS BIGINT) AS slen
       |  FROM vids v JOIN (SELECT DISTINCT l FROM subs) d
       |    ON length(v.p) >= d.l),
       |kpre AS (
       |  SELECT pre.* FROM pre
       |  JOIN (SELECT l, ph FROM pre GROUP BY l, ph
       |        HAVING COUNT(*) <= $FRAME_DF_CAP) ok USING (l, ph)),
       |swp AS (
       |  SELECT least(s.asset_id, k.c_id) AS a_id,
       |    greatest(s.asset_id, k.c_id) AS b_id,
       |    CAST(s.l AS DOUBLE) / k.slen AS jaccard,
       |    CAST(1.0 AS DOUBLE) AS containment
       |  FROM subs s JOIN kpre k ON s.l = k.l AND s.ph = k.ph
       |    AND s.asset_id <> k.c_id)
       |SELECT * FROM (
       |  SELECT a_id, b_id, c / (na.n + nb.n - c) AS jaccard,
       |    c / least(na.n, nb.n) AS containment
       |  FROM inter JOIN sz na ON a_id = na.asset_id JOIN sz nb ON b_id = nb.asset_id
       |  WHERE c / (na.n + nb.n - c) >= 0.5 OR c / least(na.n, nb.n) >= 0.9
       |  UNION ALL
       |  SELECT a_id, b_id, jaccard, containment FROM swp)
       |ORDER BY a_id, b_id""".stripMargin

  val mediaNearDupSql: String = mediaNearDupBodySqlFrom("documents")

  // ------------------------------------------------ incremental media dedup

  /** Bump when the frame-feature semantics ([[WIN_BYTES]],
    * [[WIN_STRIDE]], [[FRAME_DF_CAP]], rep collapse) or the index
    * layout change.
    */
  private val FRAME_IDX_FMT_VERSION = 1

  /** Bucket count of the frame-index layout — the shingle-index
    * sizing contract applied to the frame posting key.
    */
  private val FRAME_IDX_BUCKETS = 8

  /** The frame-index layout ([[ensureFrameIndex]]), bucketed by `frame_md5`. */
  private val FRAME_IDX = Artifacts.Bucketed("graft-frameidx", "frame_md5", FRAME_IDX_BUCKETS)

  /** One-time build of the kept-frame inverted index — `(asset_id, n,
    * frame_md5)` written `bucketBy(frame_md5)`: the persisted state a
    * daily media-ingest dedup service keeps between batches, exactly
    * [[graft.queries.Pipeline]]'s shingle-index discipline re-applied
    * to frame checksums. Re-deriving the window features per batch
    * would hash and slice every payload in the corpus per increment —
    * the dominant cost the index exists to avoid at 100 TB. The
    * incremental query groups by `frame_md5`, so the bucket metadata
    * hands it posting groups with zero exchange of the corpus-scale
    * operand; the from-scratch pipeline ([[mediaNearDup]]) stays the
    * measured index-build cost.
    */
  def ensureFrameIndex(s: SparkSession, dir: String): java.nio.file.Path =
    FRAME_IDX.ensure(s, dir, s"|v$FRAME_IDX_FMT_VERSION") {
      keptFrames(s, dir).select(col("asset_id"), col("n"), col("frame_md5"))
    }

  /** The frame index `(asset_id, n, frame_md5)` as a bucket-aware
    * DataFrame ([[Artifacts.Bucketed]]).
    */
  private def frameIndexOf(s: SparkSession, dir: String): DataFrame =
    FRAME_IDX.read(s, ensureFrameIndex(s, dir))

  /** Bump when the prefix-row semantics ([[subWindowPairs]]' carrier
    * shape, the md5-prefix derivation, the short-payload length set)
    * change. Deliberately its OWN token, not
    * [[FRAME_IDX_FMT_VERSION]]: the two indexes version
    * independently, and sharing a token would let a prefix-semantics
    * change without a frame-index bump serve a stale prefix index to
    * [[incrMedia]]'s sub-window stage.
    */
  private val PREFIX_IDX_FMT_VERSION = 1

  /** The prefix-index layout ([[ensurePrefixIndex]]), bucketed by `ph`. */
  private val PREFIX_IDX = Artifacts.Bucketed("graft-prefidx", "ph", FRAME_IDX_BUCKETS)

  /** One-time build of the PREFIX index — [[subWindowPairs]]'
    * `(asset_id, l, ph, slen)` carrier rows persisted
    * `bucketBy(ph)`: the stored state that keeps the sub-window
    * containment stage incremental. Re-deriving prefix hashes per
    * batch would READ every stored payload per increment — the same
    * cost [[ensureFrameIndex]] exists to avoid — while the index is
    * ≤ [[WIN_BYTES]] fixed-width hash rows per carrier, negligible
    * next to the frame postings at real payload sizes.
    */
  def ensurePrefixIndex(s: SparkSession, dir: String): java.nio.file.Path =
    PREFIX_IDX.ensure(s, dir, s"|v$PREFIX_IDX_FMT_VERSION") {
      import s.implicits._
      val vids = videoReps(s, dir)
      val lens = vids.filter(length($"payload") < WIN_BYTES)
        .select(length($"payload").cast("long").as("l")).distinct()
      vids.join(broadcast(lens), length($"payload") >= $"l")
        .select($"asset_id", $"l",
          md5(expr(s"substring(payload, 1, cast(l as int))")).as("ph"),
          length($"payload").cast("long").as("slen"))
    }

  /** The prefix index `(asset_id, l, ph, slen)` as a bucket-aware
    * DataFrame ([[Artifacts.Bucketed]]).
    */
  private def prefixIndexOf(s: SparkSession, dir: String): DataFrame =
    PREFIX_IDX.read(s, ensurePrefixIndex(s, dir))

  /** Incremental media near-dup — the daily-ingest twin of
    * [[mediaNearDup]], the `x_incremental_neardup` discipline applied
    * to the media family: the arriving batch (`asset_id ≡ 7 mod 10`,
    * the corpus-wide batch convention) is linked against the stored
    * corpus via the persisted [[ensureFrameIndex]] posting lists, so
    * per-batch cost scales with the batch's posting groups, never the
    * corpus. Group-local ONE-SIDED generation (batch members explode
    * against their groups — |batch∩g|×|g| per group, not |g|²), with
    * posting groups pruned to those holding a batch member BEFORE
    * materialization (the index-lookup cost profile). Both linking
    * metrics ride along (Jaccard for symmetric near-dups, containment
    * for truncations). The oracle is the FULL from-scratch rebuild
    * restricted to batch-touching pairs, so the hash match proves the
    * incremental path computes exactly the rebuild's delta.
    *
    * Runs over the PLANTED media corpus ([[ensureMediaPlanted]], the
    * [[mediaRecall]] discipline): the raw fixture's batch slice holds
    * no media near-dups (an all-green 0-row oracle proves nothing),
    * while the planted corpus guarantees genuine batch-touching links
    * — every truncation variant whose id lands ≡ 7 (mod 10) is a
    * batch asset the incremental path must link back to its stored
    * source through the index.
    */
  def incrMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adir = ensureMediaPlanted(s, dir).toString
    val marked = frameIndexOf(s, adir)
      .withColumn("is_t", $"asset_id" % 10 === 7)
    // prune to posting groups the batch touches: a group with no batch
    // member generates zero batch-touching pairs, so whole-group
    // pruning is exact, and both sides carry the bucketed layout —
    // the prune exchanges nothing corpus-scale
    val touchedF = marked.filter($"is_t").select($"frame_md5").distinct()
    val kept = marked.join(touchedF, Seq("frame_md5"), "left_semi")
    val index = kept.groupBy($"frame_md5")
      .agg(collect_list(struct($"asset_id", $"n", $"is_t")).as("g"))
      .filter(size($"g") >= 2)
    val windowed = scoreFramePairs(Banding.touchingPairs(index, "asset_id"))
    // the sub-window containment stage off the persisted prefix index
    // (the mediaNearDup stage's incremental twin): batch-touching
    // feature groups only, capped with the same boilerplate
    // discipline as the rebuild — everything rides the ph-bucketed
    // layout, so the prune, the cap aggregate, and the pair join
    // exchange nothing corpus-scale
    val pidx = prefixIndexOf(s, adir)
      .withColumn("is_t", $"asset_id" % 10 === 7)
    val touchedP = pidx.filter($"is_t").select($"l", $"ph").distinct()
    val touched = pidx.join(touchedP, Seq("l", "ph"), "left_semi")
    val boilerplate = pidx.groupBy($"l", $"ph").agg(count(lit(1)).as("df"))
      .filter($"df" > FRAME_DF_CAP).select($"l", $"ph")
    val kept2 = touched.join(broadcast(boilerplate), Seq("l", "ph"), "left_anti")
    val swp = kept2.filter($"l" === $"slen")
      .select($"l", $"ph", $"asset_id", $"is_t")
      .join(kept2.select($"l", $"ph", $"asset_id".as("c_id"),
        $"slen", $"is_t".as("c_is_t")), Seq("l", "ph"))
      .filter($"asset_id" =!= $"c_id" && ($"is_t" || $"c_is_t"))
      .select(least($"asset_id", $"c_id").as("a_id"),
        greatest($"asset_id", $"c_id").as("b_id"),
        ($"l".cast("double") / $"slen").as("jaccard"),
        lit(1.0).as("containment"))
    windowed.unionByName(swp).orderBy($"a_id", $"b_id")
  }

  /** DuckDB twin: derive the identical planted corpus, FULL-rebuild
    * its pair set from scratch, restrict to pairs with a batch
    * endpoint — matching it proves incremental ≡ rebuild on the
    * batch's slice.
    */
  // lazy: interpolates MEDIA_OFF, which is declared LATER in this
  // object — a strict val here reads the pre-initialization default
  // (0L) and silently plants colliding variant ids in the oracle
  lazy val incrMediaSql: String =
    s"""WITH plant AS (
       |  SELECT doc_id, text, (doc_id // 3) % 3 + 1 AS trunc_q
       |  FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= 8
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
       |aug_media AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT p.doc_id + $MEDIA_OFF,
       |    substr(p.text, 1, CAST((length(p.text) * p.trunc_q) // 4 AS BIGINT))
       |  FROM plant p),
       |pairs AS (${mediaNearDupBodySqlFrom("aug_media")})
       |SELECT a_id, b_id, jaccard, containment FROM pairs
       |WHERE a_id % 10 = 7 OR b_id % 10 = 7
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------- media planted recall

  /** Media variant ids live this far above their sources. ≡ 0 mod 3,
    * so a video source's variant (`doc_id % 3 = 2`) is still sliced
    * as a video by the unchanged [[assets]] kind convention.
    */
  private[graft] val MEDIA_OFF = 999999L

  /** Bump when the media planting semantics change. */
  private val MEDIA_PLANT_FMT_VERSION = 1

  /** Plant sources for the media recall eval: video assets that are
    * exact-payload representatives (min doc_id per text — a variant
    * of a collapsed duplicate would pair with the duplicate's rep and
    * unfairly read as a false positive), at least 8 chars of text.
    * `trunc_q` ∈ {1, 2, 3}: the variant keeps the first q/4 of the
    * source's characters — the truncated-download / partial-mirror
    * class.
    */
  private def mediaPlantSources(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    Tables(s, dir, "documents")
      .filter($"doc_id" % 3 === 2)
      .withColumn("rn",
        row_number().over(Window.partitionBy($"text").orderBy($"doc_id")))
      .filter($"rn" === 1 && length($"text") >= 8)
      .select($"doc_id", $"text", $"lang", $"source",
        expr("(doc_id div 3) % 3 + 1").as("trunc_q"))
  }

  /** One-time build of the media planted corpus: originals plus one
    * truncated variant per video rep.
    */
  def ensureMediaPlanted(s: SparkSession, dir: String): java.nio.file.Path =
    Artifacts.ensureArtifact("graft-media-planted", dir,
      "documents", s"|v$MEDIA_PLANT_FMT_VERSION") { staging =>
      import s.implicits._
      // variant ids live MEDIA_OFF above their sources; the id<OFF /
      // id>=OFF split below partitions pairs into original×variant
      // ONLY if no real doc_id reaches the offset — assert it instead
      // of assuming the fixture stays small (a colliding corpus would
      // silently corrupt the recall eval's cross-pair set)
      val maxId = Tables(s, dir, "documents")
        .agg(max($"doc_id")).as[Long].head()
      require(maxId < MEDIA_OFF,
        s"media planted corpus: max doc_id $maxId collides with variant offset $MEDIA_OFF")
      // two-step rename before aliasing (the lateral-column-alias
      // lesson from the lexical planted corpus)
      val variants = mediaPlantSources(s, dir)
        .select($"doc_id".as("src_id"),
          expr("substring(text, 1, cast((length(text) * trunc_q) div 4 as int))")
            .as("vtext"),
          $"lang", $"source")
        .select(($"src_id" + MEDIA_OFF).as("doc_id"), $"vtext".as("text"),
          $"lang", $"source")
        .withColumn("n_chars", length($"text").cast("long"))
      Tables(s, dir, "documents").unionByName(variants)
        .write.mode("overwrite")
        .parquet(staging.resolve("documents.parquet").toString)
    }

  /** Ground-truth recall eval for [[mediaNearDup]] — the media twin of
    * `x_dedup_recall`: per truncation class, how many planted
    * truncated variants the frame-Jaccard family links back to their
    * source, in exact ppm. The production pipeline runs UNCHANGED over
    * the planted corpus. The measured result documents the operator's
    * true granularity floor: a variant keeping fewer than
    * [[WIN_BYTES]] bytes of its source holds no complete feature
    * window and cannot be linked by any set metric — everything
    * longer is containment's to catch (the round-8 eval measured the
    * old 256-byte sparse slices + Jaccard-only linking at 0 ppm for
    * q ∈ {1, 2}, which is what motivated the overlapping windows and
    * the containment metric). With a real codec the windows become
    * decoded frames and the same eval measures re-encoding
    * robustness.
    */
  def mediaRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adir = ensureMediaPlanted(s, dir).toString
    val planted = mediaPlantSources(s, dir).select($"doc_id".as("src_id"), $"trunc_q")
    val crossP = mediaNearDup(s, adir)
      .filter($"a_id" < MEDIA_OFF && $"b_id" >= MEDIA_OFF)
      .select($"a_id", ($"b_id" - MEDIA_OFF).as("src_id"))
    val scored = crossP.join(broadcast(planted), "src_id")
      .groupBy($"trunc_q")
      .agg(sum(when($"a_id" === $"src_id", 1L).otherwise(0L)).as("caught"),
        sum(when($"a_id" =!= $"src_id", 1L).otherwise(0L)).as("extra"))
    planted.groupBy($"trunc_q").agg(count(lit(1)).as("n_planted"))
      .join(scored, Seq("trunc_q"), "left")
      .select($"trunc_q", $"n_planted",
        coalesce($"caught", lit(0L)).as("n_caught"),
        coalesce($"extra", lit(0L)).as("n_extra"))
      .withColumn("recall_ppm", expr("n_caught * 1000000 div n_planted"))
      .orderBy($"trunc_q")
  }

  val mediaRecallSql: String =
    s"""WITH plant AS (
       |  SELECT doc_id, text, (doc_id // 3) % 3 + 1 AS trunc_q
       |  FROM documents
       |  WHERE doc_id % 3 = 2 AND length(text) >= 8
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
       |aug_media AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT p.doc_id + $MEDIA_OFF,
       |    substr(p.text, 1, CAST((length(p.text) * p.trunc_q) // 4 AS BIGINT))
       |  FROM plant p),
       |pairs AS (${mediaNearDupBodySqlFrom("aug_media")}),
       |crossp AS (
       |  SELECT a_id, b_id - $MEDIA_OFF AS src_id FROM pairs
       |  WHERE a_id < $MEDIA_OFF AND b_id >= $MEDIA_OFF),
       |scored AS (
       |  SELECT p.trunc_q,
       |    COUNT(*) FILTER (WHERE a_id = src_id) AS caught,
       |    COUNT(*) FILTER (WHERE a_id <> src_id) AS extra
       |  FROM crossp c JOIN plant p ON c.src_id = p.doc_id
       |  GROUP BY 1)
       |SELECT CAST(p.trunc_q AS BIGINT) AS trunc_q,
       |  COUNT(*) AS n_planted,
       |  CAST(COALESCE(ANY_VALUE(caught), 0) AS BIGINT) AS n_caught,
       |  CAST(COALESCE(ANY_VALUE(extra), 0) AS BIGINT) AS n_extra,
       |  (CAST(COALESCE(ANY_VALUE(caught), 0) AS BIGINT) * 1000000) // COUNT(*)
       |    AS recall_ppm
       |FROM plant p LEFT JOIN scored s ON p.trunc_q = s.trunc_q
       |GROUP BY p.trunc_q
       |ORDER BY trunc_q""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_media_meta"    -> mediaMeta _,
    "x_media_decode"  -> mediaDecode _,
    "x_frame_sample"  -> frameSample _,
    "x_media_dedup"   -> mediaDedup _,
    "x_media_neardup" -> mediaNearDup _,
    "x_incr_media"    -> incrMedia _,
    "x_media_recall"  -> mediaRecall _,
    "x_prefix_gate"   -> prefixGateAudit _)

  val oracle: Map[String, String] = Map(
    "x_media_meta"    -> mediaMetaSql,
    "x_media_decode"  -> mediaDecodeSql,
    "x_frame_sample"  -> frameSampleSql,
    "x_media_dedup"   -> mediaDedupSql,
    "x_media_neardup" -> mediaNearDupSql,
    "x_incr_media"    -> incrMediaSql,
    "x_media_recall"  -> mediaRecallSql,
    "x_prefix_gate"   -> prefixGateAuditSql)
}
