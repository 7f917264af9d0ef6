package graft.queries

import graft.Tables
import graft.queries.Artifacts.{Bucketed, ensureArtifact, stamp}
import graft.queries.Banding.{BAND_CAP, bandGroups, capBandGroups, minhashBandKeys,
  minhashBands, minhashBandsSql, minhashSigAggsSql, minhashSignature, minhashSlot,
  simhashBands, simhashBandsSql, tailPairs, touchingPairs}
import graft.queries.Components.{closureCtesSql, connectedComponents, freeCheckpoint}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Group C — LLM-training-data pipeline operators (SURVEY.md §2.3),
  * over the `documents` and `embeddings` tables.
  *
  * Design constraints shared by every query here:
  *  - **Deterministic across engines**: the driver hash-compares our
  *    parquet output against DuckDB. All hashing goes through md5 (same
  *    bytes→hex in both engines), all floating point follows an
  *    identical left-associated expression tree (IEEE ops on identical
  *    operands are bit-identical), and integer/decimal arithmetic is
  *    exact. No engine-seeded primitives (no MinHashLSH from MLlib).
  *  - **Scale-first shapes**: dedup is hash-groupBy (shuffle on hash,
  *    map-side partial agg); near-dup avoids the O(n²) cross join via
  *    inverted-index self-joins (shingle → candidate pairs), banded
  *    MinHash LSH, or blocking keys (simhash bands, IVF cells) — the
  *    same patterns that hold on 1000 executors at 100 TB.
  */
object Pipeline {

  // ---------------------------------------------------------------- text

  // private[graft]: the streaming quality gate must tokenize with THE
  // SAME splitter as every batch consumer of qualityCol
  private[graft] def words(c: Column): Column = split(c, " ")

  /** Distinct word 3-gram shingles of a MATERIALIZED token-array
    * column. The tokens must be a bound attribute, not an inline
    * `split(...)`: expressions inside a `transform` lambda are
    * re-evaluated per element, so an inlined split costs
    * O(positions × tokens) string splitting per document (measured 2-6×
    * slower at sf0.1). Size guard: `sequence(0, size-3)` needs size ≥ 3
    * (Spark's sequence steps backwards when stop < start).
    */
  // private[graft]: the streaming near-dup gate fingerprints over THE
  // SAME shingle set as the batch SimHash (one feature definition)
  private[graft] def shingleCol(w: Column): Column =
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(0), size(w) - 3),
        i => concat_ws(" ", slice(w, i + 1, lit(3))))))
      .otherwise(array().cast("array<string>"))

  /** doc_id, s — exploded distinct shingles (the inverted-index input)
    * of an arbitrary corpus slice (full table, or the exact-dedup
    * representatives for the LSH family).
    */
  private def shinglesOf(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), words(col("text")).as("w"))
    d.select(col("doc_id"), explode(shingleCol(col("w"))).as("s"))
  }

  private def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(w)-2), i -> array_to_string(w[i+1:i+3], ' ')))) AS s
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
       |WHERE len(w) >= 3""".stripMargin

  /** Document-frequency cap for shingle self-joins: a shingle present
    * in more than this many documents is boilerplate (template text,
    * stop-phrases) and is dropped from the index BEFORE any join. This
    * bounds the self-join fan-out per key at cap²/2 rows — without it,
    * one ubiquitous shingle in 1M docs yields 10¹² join rows at 100 TB.
    * The cap is part of the operator's semantics: sizes and
    * intersections both use the filtered shingle universe, and the
    * DuckDB oracle applies the identical filter.
    */
  private val SHINGLE_DF_CAP = 100

  /** Shingles whose document frequency is within the cap — the
    * inverted index actually used downstream. Two map passes over the
    * corpus (one to aggregate document frequencies, one to filter) and
    * a BROADCAST anti-join against the over-cap set: boilerplate
    * shingles are few by construction, so the anti side always fits in
    * a broadcast, and the corpus-side pass never shuffles. No cache —
    * a cached subtree consumed by concurrently-launched stages gets
    * materialized once per stage (the scheduler races), which silently
    * multiplies the explode cost.
    */
  /** The over-cap ("stop") shingle hashes of a corpus slice — the
    * frequent side of [[keptShinglesOf]]'s anti-join, exposed on its
    * own so the streaming band gate can ship yesterday's stop set to
    * the ingest edge ([[corpusStopShingles]]) and filter arriving
    * docs' shingles with THE SAME set the index build dropped.
    * df aggregated on the 64-bit shingle hash, not the raw string
    * (the round-9 minhash lever applied to the index build — the 30×
    * edge profile put this family's exchanges at ~2/3 of the build):
    * the df exchange ships 8 B keys with long compares instead of
    * ~30 B strings, and the anti probe hashes map-side. Two distinct
    * shingles colliding in 64 bits is ~n²/2⁶⁵ — the same accepted
    * budget as [[minhashCandPairs]]' hashed shingle sets, and the
    * string-keyed oracle agrees absent such a collision.
    */
  private def overCapShingleHashes(docs: DataFrame): DataFrame =
    shinglesOf(docs).groupBy(xxhash64(col("s")).as("hs"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > SHINGLE_DF_CAP)
      .select(col("hs"))

  private def keptShinglesOf(docs: DataFrame): DataFrame =
    shinglesOf(docs)
      .join(broadcast(overCapShingleHashes(docs)),
        xxhash64(col("s")) === col("hs"), "left_anti")
      .select(col("doc_id"), col("s"))

  private def keptShingles(s: SparkSession, dir: String): DataFrame =
    keptShinglesOf(Tables(s, dir, "documents"))

  private def keptShinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, s FROM (${shinglesSqlFrom(src)})
       |WHERE s IN (SELECT s FROM (${shinglesSqlFrom(src)}) GROUP BY s
       |            HAVING COUNT(*) <= $SHINGLE_DF_CAP)""".stripMargin

  private val keptShinglesSql: String = keptShinglesSqlFrom("documents")

  /** Exact-duplicate pre-collapse feeding the LSH near-dup family: one
    * representative (min doc_id) per normalized-text hash. A dedup
    * corpus is duplicate-heavy by definition, and byte-identical
    * documents share identical MinHash/SimHash signatures — without
    * this collapse they all pile into the same LSH band value, so a
    * single popular document turns one band group into an unbounded
    * hot key. Collapsing through the [[exactDedup]] hash first keeps
    * every downstream band group a set of DISTINCT texts; the exact
    * duplicates themselves are already fully accounted for by
    * `x_exact_dedup` / `x_dedup_docs`, which is the stage a real
    * pipeline runs before any near-dup pass.
    */
  private[graft] def repDocs(s: SparkSession, dir: String): DataFrame =
    repDocsOf(Tables(s, dir, "documents"))

  /** groupBy-min + semi-join, NOT a window over the hash partition: a
    * window puts every copy of one text into a single window partition,
    * so a pathologically duplicated document (a billion copies of a
    * boilerplate page is normal in web corpora) becomes one straggler
    * task sorting the whole pile. The groupBy has map-side partial
    * aggregation — the hot hash collapses to one row per task before
    * the shuffle — and the semi-join back runs on `doc_id`, a unique
    * key with no skew by construction. Two scans of the source, both
    * cheap map passes (the [[keptShinglesOf]] trade).
    */
  private[graft] def repDocsOf(docs: DataFrame): DataFrame = {
    val repIds = docs
      .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(repIds, Seq("doc_id"), "left_semi")
  }

  /** DuckDB twin of [[repDocsOf]] over an arbitrary FROM source, as a
    * parenthesized FROM source itself.
    */
  private def repsSqlFrom(src: String): String =
    s"""(SELECT * FROM $src
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1)""".stripMargin

  /** The deduplicated corpus itself (companion to [[exactDedup]]'s
    * hash map): first document per normalized-text hash survives.
    * row_number over the hash partition — same single shuffle as the
    * groupBy plan, but emitting the surviving rows with all their
    * columns, which is what a training pipeline actually feeds
    * downstream.
    */
  def dedupDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byHash = Window
      .partitionBy(md5(lower(trim($"text")).cast("binary")))
      .orderBy($"doc_id")
    Tables(s, dir, "documents")
      .withColumn("rn", row_number().over(byHash))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  val dedupDocsSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |QUALIFY ROW_NUMBER() OVER (
      |  PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin

  /** Train/test contamination check (decontamination): training
    * documents sharing any 3-gram shingle with the benchmark set
    * (here: every 50th doc), with the overlap count. The benchmark
    * side is tiny by construction — broadcast semi-shape join, so the
    * training corpus never shuffles at 100 TB; the DF cap bounds the
    * explode fan-in like every other shingle join.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // probe on the 64-bit shingle hash, not the string (the df-cap /
    // pair-index keying discipline applied to this join): the bench
    // set broadcasts as 8 B longs, the training side's map-side probe
    // compares longs, and no shingle string crosses the broadcast. A
    // cross-shingle collision under-counts by 1 in ~n²/2⁶⁵ — the
    // family's accepted budget; the string-keyed oracle agrees absent
    // such a collision.
    val sh = keptShingles(s, dir)
      .select($"doc_id", xxhash64($"s").as("hs"))
    val bench = sh.filter($"doc_id" % 50 === 0)
      .select($"hs").distinct()
    sh.filter($"doc_id" % 50 =!= 0)
      .join(broadcast(bench), "hs")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_contaminated_shingles"))
      .orderBy($"doc_id")
  }

  val contaminationSql: String =
    s"""WITH sh AS ($keptShinglesSql),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
       |SELECT doc_id, COUNT(*) AS n_contaminated_shingles
       |FROM sh JOIN bench USING (s)
       |WHERE doc_id % 50 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Decontamination strip (`x_contam_strip`) — the transform
    * [[contamination]]'s audit exists to drive (the `x_dup_spans` →
    * `x_span_strip` pairing applied to benchmark overlap): every
    * TRAINING document rewritten with each token covered by a
    * benchmark-overlapping 3-gram occurrence cut out, plus the exact
    * removed-token count — the "remove the overlapping window, keep
    * the rest" surgery pipelines apply when dropping whole
    * contaminated documents is too expensive (a long doc quoting one
    * benchmark sentence loses the sentence, not the doc). The overlap
    * universe is the audit's own: KEPT (df-capped) shingles —
    * boilerplate is template text everywhere, not contamination, so
    * over-cap shingles strip nothing in either engine. Output covers
    * EVERY training doc (untouched docs pass their original text
    * through); benchmark docs (doc_id % 50 = 0) are not rewritten —
    * they are the thing being protected.
    *
    * Scale shape: the benchmark side is tiny by construction and
    * broadcasts as 8-byte xxhash64 longs (the [[contamination]]
    * probe discipline — no shingle string crosses the broadcast); the
    * training side's positional explode is map-side, flagged
    * positions collapse to one doc-keyed aggregate (bounded by doc
    * length), and the coverage rewrite is ROW-LOCAL — the corpus
    * never shuffles beyond the doc-keyed flag aggregate. A
    * cross-shingle 64-bit collision over-strips ≤3 tokens with
    * probability ~n²/2⁶⁵ — the family's accepted budget, and the
    * string-keyed oracle agrees absent such a collision.
    * ContamStripSpec pins the cut/flank/untouched/boilerplate shapes
    * and that the strip touches exactly the audit's contaminated set
    * on the real corpus.
    */
  def contamStrip(s: SparkSession, dir: String): DataFrame =
    stripCoverageProjection(contamFlaggedBase(s, dir), 3)
      .orderBy(col("doc_id"))

  /** (doc_id, text, fl) for the contamination strip: training docs
    * left-joined with their flagged 3-shingle start positions —
    * [[contamStrip]]'s base.
    */
  private def contamFlaggedBase(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val bench = keptShingles(s, dir).filter($"doc_id" % 50 === 0)
      .select(xxhash64($"s").as("hb")).distinct()
    val train = docs.filter($"doc_id" % 50 =!= 0)
    val sp = train.select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id",
        posexplode(transform(sequence(lit(0), size($"w") - 3),
          i => concat_ws(" ", slice($"w", i + 1, lit(3))))).as(Seq("i", "sp")))
    val flagged = sp
      .join(broadcast(bench), xxhash64($"sp") === $"hb", "left_semi")
      .groupBy($"doc_id").agg(collect_set($"i".cast("long")).as("fl"))
    train.select($"doc_id", $"text")
      .join(flagged, Seq("doc_id"), "left")
  }

  /** Span-coverage strip projection over a (doc_id, text, fl) frame:
    * rewrite each flagged document with every token covered by a
    * flagged `spanLen`-token span start cut out, emitting `clean_text`
    * and exact `n_removed`. The coverage cut runs in the NATIVE
    * [[graft.functions.StripCoverageTokens]] kernel (r21): the staged
    * HOF it replaces was O(tokens × |fl|) interpreted lambda
    * dispatches per row — quadratic exactly on the heavily-flagged
    * documents the strip exists to clean — where the kernel is one
    * difference-array pass (O(tokens + |fl|)) that keeps the stage in
    * whole-stage codegen (the RepStripTokens/CdcStarts rationale;
    * StripCoverageSpec pins kernel ≡ HOF parity). The kernel column is
    * still STAGED once and BOTH outputs derive from it (CollapseProject
    * keeps non-cheap multi-referenced aliases); the when() guard skips
    * it entirely on the unflagged majority, which also passes its
    * ORIGINAL text through with no split/rejoin round trip. ONE
    * definition shared by [[contamStrip]] (spanLen 3) and
    * [[spanStrip]] (spanLen 5).
    */
  private[graft] def stripCoverageProjection(
      base: DataFrame, spanLen: Int): DataFrame = {
    val cover = spanLen - 1
    base
      .select(col("doc_id"), col("text"), col("fl"),
        when(col("fl").isNotNull,
          graft.functions.StripCoverageFunctions.stripCoverage(
            base.sparkSession, words(col("text")), col("fl"),
            lit(cover))).as("kept"))
      .select(col("doc_id"),
        when(col("fl").isNull, col("text")).otherwise(
          concat_ws(" ", col("kept"))).as("clean_text"),
        when(col("fl").isNull, lit(0L)).otherwise(
          size(words(col("text"))).cast("long") -
            size(col("kept")).cast("long")).as("n_removed"))
  }

  val contamStripSql: String =
    s"""WITH ksh AS ($keptShinglesSql),
       |bench AS (SELECT DISTINCT s FROM ksh WHERE doc_id % 50 = 0),
       |trd AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id % 50 <> 0),
       |spx AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    array_to_string(w[i+1:i+3], ' ') AS sp
       |  FROM (SELECT doc_id, w, unnest(range(len(w)-2)) AS i
       |        FROM trd WHERE len(w) >= 3)),
       |flg AS (
       |  SELECT doc_id, list(DISTINCT i) AS fl
       |  FROM spx JOIN bench ON spx.sp = bench.s
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN fl IS NULL THEN d.text
       |    ELSE COALESCE(array_to_string(list_filter(string_split(d.text, ' '),
       |      (tk, j) -> len(list_filter(fl,
       |        x -> j - 1 >= x AND j - 1 <= x + 2)) = 0), ' '), '') END
       |    AS clean_text,
       |  CAST(CASE WHEN fl IS NULL THEN 0
       |    ELSE len(string_split(d.text, ' ')) -
       |      len(list_filter(string_split(d.text, ' '),
       |        (tk, j) -> len(list_filter(fl,
       |          x -> j - 1 >= x AND j - 1 <= x + 2)) = 0)) END AS BIGINT)
       |    AS n_removed
       |FROM trd d LEFT JOIN flg ON d.doc_id = flg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Exact dedup by normalized-text hash: hash-groupBy, keep min id.
    * At 100 TB this is one shuffle on a well-distributed key (md5) with
    * map-side partial aggregation — the canonical exact-dedup plan.
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy(md5(lower(trim($"text")).cast("binary")).as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy($"h")
  }

  val exactDedupSql: String =
    """SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  /** Corpus boilerplate panel: the 25 highest-document-frequency word
    * 3-gram shingles — exactly the keys [[SHINGLE_DF_CAP]] protects the
    * dedup joins from, surfaced so a pipeline owner can see WHAT the
    * template text is (cookie banners, navigation chrome, license
    * headers). One shuffle to the df aggregate, then
    * `TakeOrderedAndProject`: only 25 rows ever leave the executors,
    * whatever the corpus size. Deterministic tie-break: df desc, then
    * shingle text.
    */
  def topNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shinglesOf(Tables(s, dir, "documents"))
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"s")
      .limit(25)
  }

  val topNgramsSql: String =
    s"""SELECT s, COUNT(*) AS df FROM (${shinglesSqlFrom("documents")})
       |GROUP BY s ORDER BY df DESC, s LIMIT 25""".stripMargin

  // ------------------------------------------------------ BPE trainer

  /** Merge rounds of the BPE trainer — the `x_kmeans_converge`
    * horizon discipline: a fixed, oracle-checkable round count; a
    * real tokenizer run iterates the same step to its target vocab
    * size.
    */
  private val BPE_ROUNDS = 3

  /** Word-frequency vocabulary with per-word symbol strings — the
    * state a BPE trainer iterates on. THE scale pivot of the whole
    * operator: the corpus is touched exactly once (one groupBy
    * collapsing it to its Zipf-bounded vocabulary), and every merge
    * round thereafter runs over the VOCAB, not the corpus — the
    * standard word-frequency-dict formulation of BPE training.
    * Symbols are space-delimited characters with sentinel spaces at
    * both ends (` h e l l o `), so a merge is a string replace with
    * unambiguous boundaries. Empty tokens carry no symbols and are
    * excluded by declared semantics.
    */
  private def bpeVocabOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        "concat(' ', array_join(transform(sequence(1, length(w)), " +
          "i -> substr(w, i, 1)), ' '), ' ')"))

  /** Frequency of each adjacent symbol pair across the vocabulary,
    * weighted by word frequency — the statistic a BPE round argmaxes.
    * Key space is the symbol-pair vocabulary (bounded), never the
    * corpus.
    */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("freq"), split(trim(col("syms")), " ").as("sy"))
      .select(col("freq"), explode(expr(
        "CASE WHEN size(sy) >= 2 THEN " +
          "transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS a, sy[i + 1] AS b)) " +
          "ELSE array() END")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Byte-pair-encoding tokenizer training, [[BPE_ROUNDS]] rounds —
    * the step every in-house tokenizer pipeline runs over its corpus:
    * per round, the highest-frequency adjacent symbol pair (ties
    * count DESC, then (a, b) — fully deterministic) becomes a merge,
    * and the vocabulary's symbol strings fuse that pair in place.
    * Output is the merge table (round, a, b, pair_count) — the
    * artifact BPE training EXISTS to produce, ≤ [[BPE_ROUNDS]] rows
    * at any corpus size (driver-held merge metadata, the codebook /
    * centroid pattern).
    *
    * Merge application semantics (cross-engine exact by
    * construction): two left-to-right non-overlapping
    * `replace(syms, " a b ", " a$b ")` passes. One pass can skip a
    * pair whose leading space was consumed by the immediately
    * preceding match (` a b a b ` → ` ab a b `); the second pass
    * catches exactly those, and BOTH engines' replace is the same
    * left-to-right scan, so the oracle is bit-identical whatever the
    * adjacency pattern. Per round: one vocab-keyed aggregate + a
    * 1-row TakeOrdered (the merge decision is index metadata), then a
    * map-side replace over the vocab.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, dir)._1.toDF("round", "a", "b", "pair_count")
      .orderBy($"round")
  }

  /** The shared training loop: the merge-table rows AND the
    * post-merge vocabulary, so [[bpeMerges]] (the merge table) and
    * [[bpeSegment]] (its application) run the identical rounds.
    */
  // private[queries]: BpeMergesSpec pins the lossless-merge invariant
  // over the trained vocabulary directly
  private[queries] def bpeTrain(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrainOf(s, Tables(s, dir, "documents"))

  /** The training loop over an arbitrary documents source — shared by
    * [[bpeMerges]]/[[bpeSegment]] (full corpus) and [[bpeDrift]]
    * (base slice vs full). A corpus that runs out of adjacent pairs
    * before the horizon stops early — the merge table is simply
    * shorter, mirroring the oracle's empty-CTE propagation.
    */
  private def bpeTrainOf(s: SparkSession, docs: DataFrame)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    var vocab = bpeVocabOf(docs).localCheckpoint()
    val rounds = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    (1 to BPE_ROUNDS).foreach { r =>
      if (!exhausted) {
        bpePairCounts(vocab)
          .orderBy($"pair_count".desc, $"a", $"b").limit(1)
          .collect().headOption match {
          case None => exhausted = true
          case Some(top) =>
            val (a, b, cnt) =
              (top.getString(0), top.getString(1), top.getLong(2))
            // literal-argument replace (no SQL-string interpolation —
            // a symbol containing a quote must not become syntax)
            val pat = lit(s" $a $b ")
            val rep = lit(s" $a$b ")
            vocab = vocab.withColumn("syms",
                replace(replace($"syms", pat, rep), pat, rep))
              .localCheckpoint()
            rounds += ((r, a, b, cnt))
        }
      }
    }
    (rounds.toList, vocab)
  }

  /** Tokenizer-staleness monitor — the BPE member of the repo's
    * stale-stats family (`x_bm25_incr`'s df, `x_ivf_drift`'s
    * centroids, the fluency gate's bigram table): a tokenizer is
    * trained once and served while the corpus keeps growing, so the
    * question a compaction run answers is "would today's corpus still
    * produce yesterday's merges?". Per round, the merge the BASE
    * slice produces next to the merge the FULL corpus produces, and
    * a `drifted` verdict — any flipped round means the served vocab
    * no longer matches what training would emit (and every later
    * round inherits the divergence, since merges chain). Costs two
    * vocab-sized training runs — corpus touched twice, everything
    * else bounded.
    */
  def bpeDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val base = bpeTrainOf(s, docs.filter(!defaultBatchPred))._1
    val full = bpeTrainOf(s, docs)._1
    val rows = base.zip(full).map { case ((r, ba, bb, _), (_, fa, fb, _)) =>
      (r, ba, bb, fa, fb, ba != fa || bb != fb)
    }
    rows.toDF("round", "base_a", "base_b", "full_a", "full_b", "drifted")
      .orderBy($"round")
  }

  /** Tokenizer-fit audit — [[bpeMerges]]' application, the eval that
    * ships with the trainer (the repo's standing
    * classifier-with-its-confusion-matrix discipline): segment every
    * corpus token with the learned merges and report, per language,
    * token count, character count, post-merge symbol count, and
    * `compression_ppm` = symbols per character in integer ppm — the
    * "how well does this tokenizer fit each language" number a
    * multilingual pipeline reads before committing to a vocab.
    * Scale shape: the vocabulary (with per-word symbol counts) is
    * bounded and broadcasts; the corpus-side explode is map-side into
    * a lang-keyed (bounded) aggregate — one corpus pass, no
    * corpus-sized shuffle. The ppm division runs in DECIMAL(38,0):
    * chars × 1e6 overflows int64 exactly at the corpus sizes this is
    * designed for.
    */
  def bpeSegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = bpeTrain(s, dir)._2
      .select($"w", size(split(trim($"syms"), " ")).cast("long").as("ns"))
    Tables(s, dir, "documents")
      .select($"lang", explode(words($"text")).as("w"))
      .filter(length($"w") >= 1)
      .join(broadcast(vocab), "w")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length($"w").cast("long")).as("n_chars"),
        sum($"ns").as("n_syms"))
      .withColumn("compression_ppm", expr(
        "(CAST(n_syms AS DECIMAL(38,0)) * 1000000) div CAST(n_chars AS DECIMAL(38,0))")
        .cast("long"))
      .orderBy($"lang")
  }

  /** The BPE oracle's chained-CTE WITH body (the `kmeansConverge`
    * oracle pattern: ONE definition of the round step, instantiated
    * per round). `withFinalVocab` also emits the post-round-N merge
    * (`v$BPE_ROUNDS`) for the segmentation oracle.
    */
  private def bpeCtesSql(withFinalVocab: Boolean, pfx: String = "",
      docWhere: String = ""): String = {
    def pairs(v: String, out: String): String =
      s"""$out AS (
         |  SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(sy)),
         |        i -> {'a': sy[i], 'b': sy[i + 1]})) AS p
         |    FROM (SELECT freq, string_split(trim(syms), ' ') AS sy FROM $v))
         |  GROUP BY 1, 2)""".stripMargin
    def top(p: String, out: String): String =
      s"$out AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
    def merge(v: String, m: String, out: String): String =
      s"""$out AS (
         |  SELECT w, freq,
         |    replace(replace(syms, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
         |            ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS syms
         |  FROM $v, $m)""".stripMargin
    val ctes = (1 to BPE_ROUNDS).flatMap { r =>
      Seq(pairs(s"${pfx}v${r - 1}", s"${pfx}p$r"),
          top(s"${pfx}p$r", s"${pfx}m$r")) ++
        (if (r < BPE_ROUNDS || withFinalVocab)
          Seq(merge(s"${pfx}v${r - 1}", s"${pfx}m$r", s"${pfx}v$r")) else Nil)
    }.mkString(",\n")
    s"""${pfx}v0 AS (
       |  SELECT w, COUNT(*) AS freq,
       |    ' ' || array_to_string(list_transform(range(1, len(w) + 1),
       |        i -> substr(w, i, 1)), ' ') || ' ' AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w
       |        FROM documents $docWhere)
       |  WHERE len(w) >= 1
       |  GROUP BY w),
       |$ctes""".stripMargin
  }

  /** DuckDB twin of [[bpeMerges]]. */
  lazy val bpeMergesSql: String = {
    val sel = (1 to BPE_ROUNDS).map(r =>
      if (r == 1) "SELECT 1 AS round, a, b, cnt AS pair_count FROM m1"
      else s"  UNION ALL SELECT $r, a, b, cnt FROM m$r").mkString("\n")
    s"""WITH ${bpeCtesSql(withFinalVocab = false)}
       |SELECT * FROM (
       |  $sel)
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[bpeDrift]] — base-slice chain and full-corpus
    * chain side by side, one row per round both sides produced.
    */
  lazy val bpeDriftSql: String = {
    val sel = (1 to BPE_ROUNDS).map { r =>
      val row = s"SELECT $r${if (r == 1) " AS round" else ""}, " +
        s"b.a${if (r == 1) " AS base_a" else ""}, " +
        s"b.b${if (r == 1) " AS base_b" else ""}, " +
        s"f.a${if (r == 1) " AS full_a" else ""}, " +
        s"f.b${if (r == 1) " AS full_b" else ""}, " +
        s"(b.a <> f.a OR b.b <> f.b)${if (r == 1) " AS drifted" else ""} " +
        s"FROM bm$r b, fm$r f"
      if (r == 1) row else s"  UNION ALL $row"
    }.mkString("\n")
    s"""WITH ${bpeCtesSql(withFinalVocab = false, pfx = "b",
          docWhere = s"WHERE NOT ($defaultBatchCondSql)")},
       |${bpeCtesSql(withFinalVocab = false, pfx = "f")}
       |SELECT * FROM (
       |  $sel)
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[bpeSegment]]. */
  lazy val bpeSegmentSql: String =
    s"""WITH ${bpeCtesSql(withFinalVocab = true)},
       |vs AS (
       |  SELECT w, CAST(len(string_split(trim(syms), ' ')) AS BIGINT) AS ns
       |  FROM v$BPE_ROUNDS)
       |SELECT lang, COUNT(*) AS n_tokens,
       |  CAST(SUM(len(w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(ns) AS BIGINT) AS n_syms,
       |  CAST(SUM(ns) * 1000000 // SUM(len(w)) AS BIGINT) AS compression_ppm
       |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
       |JOIN vs USING (w)
       |WHERE len(w) >= 1
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-source duplication report — the corpus-health panel a
    * pipeline owner reads before deciding which sources to keep:
    * document count, distinct normalized-text count, duplicate count,
    * and the duplication rate in exact parts-per-million (integer
    * division — no float comparison hazards). One two-phase aggregate;
    * `COUNT(DISTINCT h)` expands map-side and shuffles on (source, h),
    * both uniform keys.
    */
  def dupStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"source", md5(lower(trim($"text")).cast("binary")).as("h"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"h").as("n_unique"))
      .select($"source", $"n_docs", $"n_unique",
        ($"n_docs" - $"n_unique").as("n_dups"),
        expr("(n_docs - n_unique) * 1000000 div n_docs").as("dup_ppm"))
      .orderBy($"source")
  }

  val dupStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(lower(trim(text)))) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS n_dups,
      |  (COUNT(*) - COUNT(DISTINCT md5(lower(trim(text))))) * 1000000
      |    // COUNT(*) AS dup_ppm
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Incremental ingestion dedup — the shape a continuously-growing
    * corpus actually runs: an incoming batch (here the deterministic
    * `doc_id % 10 = 7` slice) is deduplicated within itself
    * (keep-first by doc_id) and then anti-joined against the existing
    * corpus's normalized-text hashes, so only genuinely new documents
    * land. Both sides shuffle once on the md5 hash — a uniform key, so
    * no skew at any corpus size — and the anti-join ships only the
    * corpus's distinct hashes, never its text. On a real deployment the
    * corpus side is a bucketed hash index maintained across runs;
    * the query is the per-batch increment.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", md5(lower(trim($"text")).cast("binary")).as("h"))
    val corpus = docs.filter($"doc_id" % 10 =!= 7)
    val batch = docs.filter($"doc_id" % 10 === 7)
    batch.groupBy($"h").agg(min($"doc_id").as("doc_id"))
      .join(corpus.select($"h"), Seq("h"), "left_anti")
      .select($"doc_id", $"h")
      .orderBy($"doc_id")
  }

  val incrementalDedupSql: String =
    """WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
      |b AS (SELECT h, min(doc_id) AS doc_id FROM d WHERE doc_id % 10 = 7 GROUP BY h)
      |SELECT doc_id, h FROM b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM d c WHERE c.doc_id % 10 <> 7 AND c.h = b.h)
      |ORDER BY doc_id""".stripMargin

  /** Candidate-pair intersection counts via an inverted shingle index
    * (no O(n²) cross join, and no self-join at all) — the shared core
    * of [[ngramJaccard]] (the near-dup operator) and [[jaccardSweep]]
    * (its threshold-tuning audit): per unordered pair the shared
    * kept-shingle count `c` and both set sizes `na`/`nb`
    * (|A∪B| = |A|+|B|−|A∩B|), from which either consumer derives
    * Jaccard without a second pass over the index. Group the index by
    * shingle (group size bounded by [[SHINGLE_DF_CAP]], so
    * `collect_list` is safe at any corpus size), generate candidate
    * pairs INSIDE each group, and count shared shingles per pair with
    * the per-doc size carried along in the group structs. The whole
    * plan is one linear pipeline — shuffle on doc_id (sizes), shuffle
    * on shingle (index), shuffle on pair (intersection counts) — with
    * no plan diamond: a self-join over a shared subtree lets the
    * scheduler launch both sides concurrently and compute the subtree
    * twice (cached or not), which is where the old formulation lost
    * 2-5× wall-clock nondeterministically.
    */
  /** Per-document DISTINCT 3-gram shingle identities as 64-bit
    * hashes, never materializing the shingle strings: each position's
    * triple hashes through variadic `xxhash64(w[i], w[i+1], w[i+2])`
    * (seed-chained, and injective over the triple exactly as the
    * space-joined string is — tokens cannot contain the separator).
    * 30×-profiled: building + exploding + shuffling the ~30 B concat
    * strings was the edge graph's dominant cost; hashing the triples
    * in place cut the ngram pair pipeline 43%. Two distinct shingles
    * colliding in 64 bits is ~n²/2⁶⁵ — the [[minhashCandPairs]]
    * budget, and the string-keyed oracle agrees absent a collision.
    * Deployment threshold (SURVEY §7.4): ~1 expected collision at
    * n ≈ 5×10⁹ distinct shingles; a collision merges one shingle
    * pair (an extra candidate / a df overcount — conservative), and
    * past the threshold the escape hatch is a two-seed 128-bit
    * identity (a second xxhash64 with a distinct constant first arg,
    * joins keyed on the pair).
    */
  private def shingleHashCol(w: Column): Column =
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(0), size(w) - 3),
        i => xxhash64(element_at(w, i + 1), element_at(w, i + 2),
          element_at(w, i + 3)))))
      .otherwise(array().cast("array<bigint>"))

  /** (doc_id, hs) — exploded distinct HASHED shingles, the ngram
    * family's index input ([[shingleHashCol]]; the string-shingle
    * twin [[shinglesOf]] remains the feature set wherever the bytes
    * themselves are needed: minhash signatures, novelty filters,
    * contamination probes, the boilerplate panel).
    */
  private def shingleHashesOf(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), words(col("text")).as("w"))
    d.select(col("doc_id"), explode(shingleHashCol(col("w"))).as("hs"))
  }

  // private[graft]: PairOrientationSpec pins na/nb to the id orientation
  private[graft] def ngramPairCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // the whole pipeline runs on 8 B shingle hashes ([[shingleHashCol]]
    // — no shingle string is ever built): df cap, per-doc sizes, the
    // inverted index, and the pair counts all agree with the
    // string-keyed oracle absent a 64-bit collision.
    val sh = shingleHashesOf(Tables(s, dir, "documents"))
    val frequent = sh.groupBy($"hs").agg(count(lit(1)).as("df"))
      .filter($"df" > SHINGLE_DF_CAP)
      .select($"hs")
    val kept = sh.join(broadcast(frequent), Seq("hs"), "left_anti")
      // per-doc kept-shingle count: window on doc_id, whose partitions
      // are bounded by document length — safe at any corpus size
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
    // sort_array makes the group's id order STRUCTURAL, so the
    // one-sided tail slice below needs no least/greatest/when
    // normalization per exploded row (38 M rows at the 30× probe —
    // per-row conditionals there were measured wall-clock), and na/nb
    // ride as grouping keys (functions of the pair) instead of
    // first() aggregates.
    val index = kept.groupBy($"hs")
      .agg(sort_array(collect_list(struct($"doc_id", $"n"))).as("g"))
      .filter(size($"g") >= 2)
    // one-sided generation: this stage feeds the hottest shuffle in
    // the family, so tailPairs' n(n-1)/2 constant is wall-clock.
    tailPairs(index)
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id"),
        $"x.n".as("na"), $"y.n".as("nb"))
      .groupBy($"a_id", $"b_id", $"na", $"nb")
      .agg(count(lit(1)).as("c"))
      .select($"a_id", $"b_id", $"c", $"na", $"nb")
  }

  /** DuckDB twin of [[ngramPairCounts]] as a CTE chain ending in
    * `pc(a_id, b_id, c, na, nb)`, over an arbitrary documents source
    * (the planted-recall eval instantiates it over the augmented
    * corpus; everything else over `documents`).
    */
  private def ngramPairCountsCtesSqlFrom(src: String): String =
    s"""sh AS (${keptShinglesSqlFrom(src)}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pc AS (
       |  SELECT a_id, b_id, c, na.n AS na, nb.n AS nb
       |  FROM inter JOIN sz na ON a_id = na.doc_id JOIN sz nb ON b_id = nb.doc_id)""".stripMargin

  private val ngramPairCountsCtesSql: String =
    ngramPairCountsCtesSqlFrom("documents")

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ 0.10 — the
    * [[ngramPairCounts]] pipeline with the similarity derived and
    * thresholded.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramPairCounts(s, dir)
      .select($"a_id", $"b_id", ($"c" / ($"na" + $"nb" - $"c")).as("jaccard"))
      .filter($"jaccard" >= 0.10)
      .orderBy($"a_id", $"b_id")
  }

  val ngramJaccardSql: String =
    s"""WITH $ngramPairCountsCtesSql
       |SELECT a_id, b_id, c / (na + nb - c) AS jaccard
       |FROM pc
       |WHERE c / (na + nb - c) >= 0.10
       |ORDER BY a_id, b_id""".stripMargin

  /** Threshold-sensitivity sweep over the near-dup candidate pairs —
    * the tuning curve read before freezing [[ngramJaccard]]'s 0.10
    * cutoff: per Jaccard decile the pair count and the cumulative
    * pairs at-or-above it (what a threshold at that decile would
    * keep). The bucket is exact integer arithmetic
    * (`(10·c) div (|A∪B|)` — no double rounding at bucket edges), the
    * histogram key domain is fixed at 10 buckets, and the cumulative
    * window runs over those ≤10 aggregated rows — the whole report
    * costs one [[ngramPairCounts]] pass plus a constant-size tail at
    * any corpus size.
    */
  def jaccardSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fixed 10-decile spine: a decile with no pairs is a readable
    // point on the tuning curve (n_pairs = 0, cum_pairs = pairs
    // above), not a hole — every candidate threshold must be readable
    val spine = (1L to 10L).toDF("bucket")
    val hist = ngramPairCounts(s, dir)
      .select(expr("(10 * c) div (na + nb - c)").as("bucket"))
      .filter($"bucket" >= 1)
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
    spine.join(hist, Seq("bucket"), "left")
      .withColumn("n_pairs", coalesce($"n", lit(0L)))
      .withColumn("cum_pairs", sum($"n_pairs").over(w))
      .select($"bucket", $"n_pairs", $"cum_pairs")
      .orderBy($"bucket")
  }

  val jaccardSweepSql: String =
    s"""WITH $ngramPairCountsCtesSql,
       |bk AS (
       |  SELECT (10 * c) // (na + nb - c) AS bucket FROM pc
       |  WHERE (10 * c) // (na + nb - c) >= 1),
       |h AS (SELECT bucket, COUNT(*) AS n FROM bk GROUP BY 1),
       |spine AS (SELECT unnest(range(1, 11)) AS bucket)
       |SELECT spine.bucket, CAST(COALESCE(n, 0) AS BIGINT) AS n_pairs,
       |  CAST(SUM(COALESCE(n, 0)) OVER (ORDER BY spine.bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs
       |FROM spine LEFT JOIN h ON spine.bucket = h.bucket
       |ORDER BY spine.bucket""".stripMargin

  /** Min source-set size for a containment verdict: a doc with a
    * handful of shingles is "contained" everywhere by accident; ten
    * distinct kept shingles (~12 words of non-boilerplate text) is the
    * family's min-evidence floor.
    */
  private val CONTAIN_MIN_SHINGLES = 10L

  /** Directional containment — the asymmetric near-dup relation the
    * symmetric Jaccard family structurally misses: a short document
    * quoted or embedded inside a much larger one has
    * `|A∩B| / |A| ≈ 1` while `|A∩B| / |A∪B| ≈ |A|/|B| ≈ 0`, so no
    * Jaccard threshold catches it without drowning in noise. Emits
    * (src, dst) where at least a QUARTER of src's kept shingles occur
    * in dst (`4c ≥ n_src`, exact integers — a recall-leaning queue
    * cut: the exact containment ppm rides along for stricter
    * consumers) but the pair is NOT already a [[ngramJaccard]]
    * near-dup (`10c < |A∪B|`) — precisely the pairs document-level
    * dedup leaves in the corpus, surfaced for the span-cleaning stage
    * ([[spanStrip]]) to consume.
    *
    * Cost: one extra map-side projection over [[ngramPairCounts]]'s
    * pair aggregate — the candidate recall is the posting join's (any
    * pair sharing ≥1 kept shingle is counted), NOT a banded sketch's,
    * so containment pairs cannot be missed by band collision
    * probability; the df cap bounds the fan-in exactly as everywhere
    * else. Both directions derive from ONE pass via a 2-element
    * explode (no union-driven plan diamond re-running the pair
    * pipeline).
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramPairCounts(s, dir)
      .select(explode(array(
        struct($"a_id".as("src_id"), $"b_id".as("dst_id"),
          $"na".as("n_src"), $"nb".as("n_dst"), $"c"),
        struct($"b_id".as("src_id"), $"a_id".as("dst_id"),
          $"nb".as("n_src"), $"na".as("n_dst"), $"c"))).as("d"))
      .select($"d.*")
      .filter($"n_src" >= CONTAIN_MIN_SHINGLES &&
        $"c" * 4 >= $"n_src" && $"c" * 10 < $"n_src" + $"n_dst" - $"c")
      .select($"src_id", $"dst_id", $"n_src", $"c".as("n_shared"),
        expr("(c * 1000000) div n_src").as("containment_ppm"),
        expr("(c * 1000000) div (n_src + n_dst - c)").as("jaccard_ppm"))
      .orderBy($"src_id", $"dst_id")
  }

  val containmentPairsSql: String =
    s"""WITH $ngramPairCountsCtesSql,
       |dirp AS (
       |  SELECT a_id AS src_id, b_id AS dst_id, na AS n_src, nb AS n_dst, c
       |  FROM pc
       |  UNION ALL
       |  SELECT b_id, a_id, nb, na, c FROM pc)
       |SELECT src_id, dst_id, CAST(n_src AS BIGINT) AS n_src,
       |  CAST(c AS BIGINT) AS n_shared,
       |  CAST(c * 1000000 // n_src AS BIGINT) AS containment_ppm,
       |  CAST(c * 1000000 // (n_src + n_dst - c) AS BIGINT) AS jaccard_ppm
       |FROM dirp
       |WHERE n_src >= $CONTAIN_MIN_SHINGLES
       |  AND c * 4 >= n_src AND c * 10 < n_src + n_dst - c
       |ORDER BY src_id, dst_id""".stripMargin

  /** Distinct word 5-gram spans of a materialized token array — the
    * substring-granularity feature for [[dupSpans]]. Longer than the
    * 3-gram shingle on purpose: a 5-word span repeating across
    * documents is copied text, not phrase-level coincidence (the span
    * length production substring-dedup pipelines use is 40-60 BPE
    * tokens; 5 words is the same idea at this fixture's scale). Same
    * materialized-tokens and size-guard discipline as [[shingleCol]].
    */
  private def spanCol(w: Column): Column =
    when(size(w) >= 5,
      array_distinct(transform(sequence(lit(0), size(w) - 5),
        i => concat_ws(" ", slice(w, i + 1, lit(5))))))
      .otherwise(array().cast("array<string>"))

  /** Substring-level duplicate-span audit — dedup at a granularity the
    * document-level family cannot see: a document that is 60% stitched
    * from text repeated elsewhere can still sit below every
    * document-level Jaccard/SimHash threshold. Per document, the
    * number of distinct 5-word spans, how many of those spans occur in
    * at least one OTHER document, and the duplicated fraction in
    * integer ppm — the signal substring-dedup pipelines threshold on
    * before cutting repeated spans out of training text.
    *
    * Scale shape: spans are distinct per document, so the per-span
    * group count IS the document frequency — one explode pass, one
    * groupBy, and one join back on the span key (the inverted-index
    * pattern [[ngramPairCounts]] uses, but with NO pairwise expansion:
    * the df rides back as a single flag per posting, so there is no
    * group² blow-up and no df cap is needed for correctness — a
    * boilerplate span with a million postings is a skewed-but-linear
    * join key, the shape AQE's skew split handles, not a quadratic
    * candidate generator). The final per-document aggregate has
    * map-side partials; zero-span docs (< 5 tokens) re-enter via a
    * LEFT join so the audit covers the whole corpus.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val sp = docs.select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(spanCol($"w")).as("sp"))
    val dfreq = sp.groupBy($"sp").agg(count(lit(1)).as("df"))
    val agg = sp.join(dfreq, Seq("sp"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select($"doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
        when($"n_spans" > 0,
          expr("(n_dup_spans * 1000000) div n_spans")).as("dup_ppm"))
      .orderBy($"doc_id")
  }

  val dupSpansSql: String =
    """WITH spx AS (
      |  SELECT doc_id, unnest(list_distinct(
      |      list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' ')))) AS sp
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 5),
      |dfx AS (SELECT sp, COUNT(*) AS df FROM spx GROUP BY 1),
      |aggx AS (
      |  SELECT doc_id, COUNT(*) AS n_spans,
      |    COUNT(*) FILTER (WHERE df >= 2) AS n_dup_spans
      |  FROM spx JOIN dfx USING (sp) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(CASE WHEN n_spans > 0
      |    THEN (n_dup_spans * 1000000) // n_spans END AS BIGINT) AS dup_ppm
      |FROM documents d LEFT JOIN aggx ON d.doc_id = aggx.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Substring-level duplicate-span REMOVAL — the transform
    * [[dupSpans]]'s audit exists to drive: rewrite each document with
    * every token covered by a cross-document duplicated 5-word span
    * cut out (the "remove the repeated window, keep the novel
    * remainder" surgery substring-dedup pipelines apply to training
    * text), plus the removed-token count. Cross-document means the
    * span occurs in ≥ 2 DISTINCT documents — within-doc repetition is
    * [[repetition]]'s domain and is left alone here.
    *
    * Determinism: token positions are explicit (positional explode,
    * 0-based), coverage is a pure membership test against the doc's
    * flagged-position set, and reconstruction re-joins the surviving
    * tokens on the same single-space splitter — both engines rebuild
    * byte-identical strings. Docs with no flagged span pass their
    * ORIGINAL text through untouched (no split/rejoin round trip).
    *
    * Scale shape: positional explode is O(tokens); span df rides the
    * same linear inverted-index join as [[dupSpans]]; the flagged
    * positions collect per doc (bounded by doc length) and the
    * coverage test is ROW-LOCAL — no shuffle after the one posting
    * join. The exists() probe costs tokens × flagged-spans per doc —
    * quadratic only for a fully-duplicated mega-document, which
    * exact-dedup removes upstream of any span surgery.
    */
  def spanStrip(s: SparkSession, dir: String): DataFrame =
    // coverage filter staged once per flagged row, both outputs derive
    // from the staged column — [[stripCoverageProjection]], ONE
    // definition with contamStrip
    stripCoverageProjection(spanFlaggedBase(s, dir), 5)
      .orderBy(col("doc_id"))

  /** (doc_id, text, fl) for the cross-document span strip —
    * [[spanStrip]]'s base (the [[contamFlaggedBase]] shape).
    */
  private def spanFlaggedBase(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val tok = docs.select($"doc_id", words($"text").as("w"))
    val sp = tok.filter(size($"w") >= 5)
      .select($"doc_id", $"w",
        posexplode(transform(sequence(lit(0), size($"w") - 5),
          i => concat_ws(" ", slice($"w", i + 1, lit(5))))).as(Seq("i", "sp")))
      .select($"doc_id", $"i".cast("long").as("i"), $"sp")
    val dfreq = sp.select($"sp", $"doc_id").distinct()
      .groupBy($"sp").agg(count(lit(1)).as("df"))
    val flagged = sp.join(dfreq, Seq("sp"))
      .filter($"df" >= 2)
      .groupBy($"doc_id").agg(collect_set($"i").as("fl"))
    docs.select($"doc_id", $"text").join(flagged, Seq("doc_id"), "left")
  }

  val spanStripSql: String =
    """WITH spx AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    array_to_string(w[i+1:i+5], ' ') AS sp
      |  FROM (
      |    SELECT doc_id, w, unnest(range(len(w)-4)) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 5)),
      |dfx AS (
      |  SELECT sp, COUNT(*) AS df FROM (SELECT DISTINCT sp, doc_id FROM spx)
      |  GROUP BY 1),
      |flg AS (
      |  SELECT doc_id, list(DISTINCT i) AS fl
      |  FROM spx JOIN dfx USING (sp) WHERE df >= 2
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  -- COALESCE: DuckDB's array_to_string of an EMPTY list is NULL
      |  -- (v1.0.0), Spark's concat_ws is '' — a fully-stripped doc
      |  -- must read as the empty string in both engines
      |  CASE WHEN fl IS NULL THEN d.text
      |    ELSE COALESCE(array_to_string(list_filter(string_split(d.text, ' '),
      |      (t, j) -> len(list_filter(fl,
      |        x -> j - 1 >= x AND j - 1 <= x + 4)) = 0), ' '), '') END AS clean_text,
      |  CAST(CASE WHEN fl IS NULL THEN 0
      |    ELSE len(string_split(d.text, ' ')) -
      |      len(list_filter(string_split(d.text, ' '),
      |        (t, j) -> len(list_filter(fl,
      |          x -> j - 1 >= x AND j - 1 <= x + 4)) = 0)) END AS BIGINT)
      |    AS n_removed
      |FROM documents d LEFT JOIN flg ON d.doc_id = flg.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Incremental NEAR-dup probe — [[incrementalDedup]]'s fuzzy twin,
    * the check a daily ingest runs after exact dedup passes: for each
    * incoming-batch document (`doc_id % 10 == 7`, the established
    * batch marker), every CORPUS document with 3-gram Jaccard ≥ 0.10.
    * The pair generation is ONE-SIDED through the same inverted
    * shingle index as [[ngramPairCounts]]: inside each shingle group,
    * candidates are batch members × corpus members only — bounded by
    * the [[SHINGLE_DF_CAP]] squared per group like the symmetric
    * operator, and structurally incapable of the corpus × corpus
    * blow-up (a batch is always small next to the corpus, so the
    * probe's cost scales with the batch, not the archive). The df cap
    * carries over: a batch doc whose every shingle is capped-out
    * boilerplate can only be caught by [[incrementalDedup]]'s exact
    * hash — same documented trade as [[ngramJaccard]]. The posting
    * lists come from the persisted [[ensureShingleIndex]] artifact —
    * the state a daily-ingest service keeps between batches — so the
    * probe pays index lookups plus batch-bounded pair generation, not
    * a per-batch corpus re-shingling (the from-scratch derivation
    * stays measured as `x_ngram_jaccard`).
    */
  def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val marked = shingleIndexOf(s, dir)
      .withColumn("is_batch", $"doc_id" % 10 === 7)
    // posting lists with no batch member generate zero pairs (the
    // explode filters on x.is_batch) — prune them before the group
    // materialization so the probe's heavy stage costs the batch's
    // posting lists, not the corpus's (same exactness argument as
    // [[jacPairsTouching]]; both semi-join sides ride the bucketed-s
    // layout)
    val batchS = marked.filter($"is_batch").select($"s").distinct()
    val kept = marked.join(batchS, Seq("s"), "left_semi")
    val index = kept.groupBy($"s")
      .agg(collect_list(struct($"doc_id", $"n", $"is_batch")).as("g"))
      .filter(size($"g") >= 2)
    index
      .select(explode($"g").as("x"), $"g")
      .filter($"x.is_batch")
      .select($"x", explode($"g").as("y"))
      .filter(!$"y.is_batch")
      .groupBy($"x.doc_id".as("batch_id"), $"y.doc_id".as("corpus_id"))
      .agg(count(lit(1)).as("c"), first($"x.n").as("na"), first($"y.n").as("nb"))
      .select($"batch_id", $"corpus_id",
        ($"c" / ($"na" + $"nb" - $"c")).as("jaccard"))
      .filter($"jaccard" >= 0.10)
      .orderBy($"batch_id", $"corpus_id")
  }

  val incrementalNearDupSql: String =
    s"""WITH sh AS ($keptShinglesSql),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s
       |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
       |  GROUP BY 1, 2),
       |pc AS (
       |  SELECT batch_id, corpus_id, c, na.n AS na, nb.n AS nb
       |  FROM inter JOIN sz na ON batch_id = na.doc_id
       |              JOIN sz nb ON corpus_id = nb.doc_id)
       |SELECT batch_id, corpus_id, c / (na + nb - c) AS jaccard
       |FROM pc WHERE c / (na + nb - c) >= 0.10
       |ORDER BY batch_id, corpus_id""".stripMargin

  /** Per-batch-document novelty score — the crawl-curation signal
    * [[vocabGrowth]] gives at corpus level, here per incoming
    * document: of a batch doc's distinct 3-gram shingles, how many
    * the corpus has never seen (count + exact integer ppm). High
    * novelty = genuinely new content worth ingesting; near-zero
    * novelty = a rehash the near-dup probes should confirm. Uses the
    * UNCAPPED shingle universe — novelty must see boilerplate too (a
    * doc of pure boilerplate is the opposite of novel, and the df cap
    * would hide exactly that). Plan: one shingle-keyed anti join
    * (md5-uniform key, corpus side pre-distinct, map-side partial
    * aggs both sides) plus two batch-sized aggregates — cost scales
    * with the batch, the corpus side is one distinct pass. Docs under
    * 3 tokens have no shingles and no novelty row (the same
    * short-text boundary as the near-dup family, SURVEY §2.3).
    */
  /** The established fixture convention for "the incoming batch":
    * every tenth document. [[noveltyCore]] and the manifest's novelty
    * stage take the predicate as a PARAMETER — a production deployment
    * passes its own batch marker (an ingest-date column, a source
    * partition) without touching the operator.
    */
  private[graft] def defaultBatchPred: Column = col("doc_id") % 10 === 7

  private val defaultBatchCondSql = "doc_id % 10 = 7"

  /** (doc_id, n_shingles, n_novel, novelty_ppm) for every batch doc
    * with at least one shingle — the shared core of
    * [[shingleNovelty]] (the standalone report) and [[manifestCore]]'s
    * novelty stage, so the manifest's drop decision can never diverge
    * from the audit that explains it.
    */
  private def noveltyCore(s: SparkSession, dir: String,
      batchPred: Column): DataFrame = {
    import s.implicits._
    // the whole core runs on 64-bit shingle hashes: the corpus side's
    // distinct — the operator's dominant exchange, linear in the BASE
    // corpus — shuffles 8 B longs instead of ~30 B strings, and the
    // anti-join probes long keys. A batch shingle colliding with a
    // DIFFERENT corpus shingle under-reports novelty (anti-join drops
    // it) at ~n²/2⁶⁵ — conservative for a drop-below-floor gate, the
    // same direction as the novelty Bloom's false positives; the
    // string-keyed oracle agrees absent such a collision. Row counts
    // per doc are unaffected (shinglesOf is already per-doc distinct).
    val sh = shinglesOf(Tables(s, dir, "documents"))
      .select($"doc_id", xxhash64($"s").as("hs"))
    val batch = sh.filter(batchPred)
    val corpus = sh.filter(!batchPred).select($"hs").distinct()
    val totals = batch.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = batch.join(corpus, Seq("hs"), "left_anti")
      .groupBy($"doc_id").agg(count(lit(1)).as("nn"))
    totals.join(novel, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles", coalesce($"nn", lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_shingles"))
  }

  def shingleNovelty(s: SparkSession, dir: String): DataFrame =
    noveltyCore(s, dir, defaultBatchPred).orderBy(col("doc_id"))

  /** Serialized Bloom filter of the corpus's distinct shingle
    * universe — the broadcastable stand-in for [[noveltyCore]]'s
    * corpus side that lets the STREAMING novelty gate
    * ([[graft.streaming.Streams.noveltyGate]]) run stateless: the
    * filter ships to the ingest executors once, each arriving doc
    * tests its shingles locally, no anti-join, no streaming state.
    * False positives under-report novelty by ≤ fpp — the conservative
    * direction for a drop-below-floor gate.
    *
    * Sizing envelope (be honest at 100 TB): a Bloom filter costs
    * ~1.2 bytes/item at 1% fpp, so the FULL shingle universe of a
    * 100 TB corpus (~10¹² distinct shingles) is ~1 TB — not a
    * broadcast. At that scale this builder is for BOUNDED universes
    * (one source's boilerplate, a banned-content screen, the df-capped
    * frequent-shingle set) or per-shard filters unioned at the edge;
    * whole-corpus novelty stays in the batch manifest stage, where the
    * anti-join is exact and runs at compaction cadence. The fixture
    * corpus (~10⁵ shingles) fits in ~100 KB.
    */
  def corpusShingleFilter(s: SparkSession, dir: String,
      batchPred: Column = defaultBatchPred,
      fpp: Double = 0.001): Array[Byte] = {
    val corpus = shinglesOf(Tables(s, dir, "documents"))
      .filter(!batchPred)
      .select(col("s")).distinct()
    val expected = math.max(corpus.count(), 1L)
    val bf = corpus.stat.bloomFilter("s", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Serialized STALE bigram-probability table for the streaming
    * fluency gate ([[graft.streaming.Streams.fluencyGate]]) — the
    * [[corpusShingleFilter]] contract applied to `x_bigram_fluency`'s
    * statistic: per BASE-corpus bigram (the batch slice excluded —
    * yesterday's compaction view, `x_bm25_incr`'s staleness rule) the
    * conditional probability `(cab · 1e6) div ca` in exact ppm, keyed
    * by the seed-chained XXH64 of the two tokens
    * ([[graft.functions.BigramFluencyPpm.key]] — ONE key definition,
    * shared with the expression, so builder and gate cannot drift).
    * The cab/ca derivation is byte-identical to [[bigramFluency]]'s
    * (same explode, same DECIMAL(38,0) `div`), so a gate decision can
    * be re-derived exactly by the batch operator over the base slice
    * restricted to the kept bigram set.
    *
    * BOUNDED like the novelty Bloom, not linear in the corpus: a raw
    * distinct-bigram table grows without bound (Heaps' law), so at
    * 100 TB an uncapped collect is a multi-GB driver materialization
    * and an equally large plan constant on every executor. The budget
    * here is two-stage: (1) a min-count floor drops hapax bigrams
    * (`cab < minCount`), then (2) a hard `maxEntries` cap keeps the
    * top-K bigrams ranked by mass (`cab` DESC, ties broken by prefix
    * mass `ca` DESC then `(a, b)` — fully deterministic). The top-K
    * runs as TakeOrderedAndProject, so driver memory is O(maxEntries)
    * regardless of corpus size; the serialized blob is exactly
    * `4 + 16·K` bytes (`K ≤ maxEntries`), i.e. ≤ 64 MB at the default
    * cap — a broadcastable plan constant at any corpus scale. Kept
    * entries' ppm values are computed against the FULL prefix mass
    * `ca` before capping, so they are exact; an evicted bigram scores
    * 0 ppm by [[graft.functions.BigramFluencyPpm]]'s defined miss
    * semantics, which only LOWERS a doc's mean — the conservative
    * direction for an ingest gate, the same argument the novelty
    * Bloom's false positives make in their direction. A doc whose
    * bigrams ALL miss the table carries no base evidence and passes
    * the gate (NULL, the sub-bigram rule), so capping cannot
    * flat-reject a novel domain. Rebuilt once per compaction; never
    * per-batch state.
    */
  def corpusBigramStats(s: SparkSession, dir: String,
      batchPred: Column = defaultBatchPred,
      minCount: Long = 1L,
      maxEntries: Int = BIGRAM_STATS_MAX_ENTRIES): Array[Byte] = {
    import s.implicits._
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxEntries >= 1, s"maxEntries must be >= 1, got $maxEntries")
    val bi = Tables(s, dir, "documents")
      .filter(!batchPred)
      .select(words($"text").as("w"))
      .select(explode(expr(
        "CASE WHEN size(w) >= 2 THEN " +
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b)) " +
          "ELSE array() END")).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
    val cab = bi.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy($"a").agg(sum($"cab").as("ca"))
    // ppm from the FULL prefix mass, THEN floor + cap: kept entries
    // stay exact, evicted ones fall to the kernel's 0-ppm miss rule.
    val pairs = cab.join(ca, Seq("a"))
      .filter($"cab" >= minCount)
      .select($"a", $"b", expr(
        "(CAST(cab AS DECIMAL(38,0)) * 1000000) div CAST(ca AS DECIMAL(38,0))")
        .cast("long").as("ppm"), $"cab", $"ca")
      .orderBy($"cab".desc, $"ca".desc, $"a", $"b")
      .limit(maxEntries)
      .collect()
      .map(r => (graft.functions.BigramFluencyPpm.key(
        r.getString(0), r.getString(1)), r.getLong(2)))
    graft.functions.BigramFluencyPpm.serialize(pairs)
  }

  /** Default entry cap for [[corpusBigramStats]]: 4M entries = 64 MB
    * serialized (`4 + 16·4M`), sized to stay a comfortable broadcast /
    * codegen-reference constant. Well under the absolute
    * [[graft.functions.BigramFluencyPpm.MaxTableEntries]] ceiling
    * where the single-buffer layout's Int arithmetic overflows.
    */
  val BIGRAM_STATS_MAX_ENTRIES: Int = 4 * 1000 * 1000

  /** Ingest-batch documents whose mean stale-bigram probability falls
    * under this floor are dropped by the fluency gate: footed on the
    * fixture distribution (p5 ≈ 32 700 ppm, median ≈ 34 500), 30 000
    * sits below the 5th percentile — only genuinely rare-construction
    * text fails. Sub-bigram docs carry no signal and pass, mirroring
    * the batch operator's NULL.
    */
  private[graft] val FLUENCY_MIN = 30000L

  /** DuckDB twin of [[noveltyCore]], parameterized on the batch
    * condition.
    */
  private def noveltyBodySqlFrom(batchCond: String): String =
    s"""WITH sh AS (${shinglesSqlFrom("documents")}),
       |b AS (SELECT doc_id, s FROM sh WHERE $batchCond),
       |c AS (SELECT DISTINCT s FROM sh WHERE NOT ($batchCond)),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM b GROUP BY 1),
       |nov AS (
       |  SELECT doc_id, COUNT(*) AS nn FROM b
       |  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.s = b.s)
       |  GROUP BY 1)
       |SELECT t.doc_id, t.n_shingles,
       |  CAST(COALESCE(nn, 0) AS BIGINT) AS n_novel,
       |  CAST((COALESCE(nn, 0) * 1000000) // t.n_shingles AS BIGINT) AS novelty_ppm
       |FROM tot t LEFT JOIN nov USING (doc_id)""".stripMargin

  val shingleNoveltySql: String =
    noveltyBodySqlFrom(defaultBatchCondSql) + "\nORDER BY doc_id"

  /** Candidate pairs out of the banded-MinHash pipeline — the shared
    * core of [[minhashLsh]] (the near-dup operator) and [[minhashEst]]
    * (its estimator audit), so the band structure, caps, and shingle
    * handling can never diverge between an operator and the audit that
    * judges it. One groupBy(doc_id) produces the signature slots AND
    * the shingle set; bands explode map-side; groups are cut to
    * [[Banding.BAND_CAP]]; pairs leave the capped groups carrying
    * intersection size and both set sizes — plus slot agreement (`eq`) when
    * `withSig` is set. Only [[minhashEst]] needs the 8-slot signature
    * arrays; [[minhashLsh]] opts out so ~256 extra bytes per member
    * never ride its band shuffle and collect_list groups (Catalyst
    * can't prune a struct field out of a collect_list).
    */
  private def minhashCandPairs(s: SparkSession, dir: String,
      withSig: Boolean): DataFrame = {
    import s.implicits._
    // The shingle set rides the band shuffle, the collect_list groups,
    // and the pairwise explode² as 64-bit hashes, not raw strings:
    // |intersection| and the set sizes are identical (two distinct
    // shingles of one pair colliding in 64 bits is ~n²/2⁶⁵ — at 10⁶
    // shingles per doc that is ~10⁻⁷, and the oracle's string-keyed
    // join agrees absent such a collision), while the shuffled bytes
    // per member drop from ~30 B × |ss| strings to 8 B longs and the
    // per-pair intersect compares longs instead of strings. The md5
    // signature slots still hash the raw string — the banding and the
    // oracle's `min(md5('i|' || s))` must agree byte-for-byte.
    val doc = keptShinglesOf(repDocs(s, dir)).groupBy($"doc_id")
      .agg(collect_list(xxhash64($"s")).as("ss"), minhashSignature($"s"): _*)
    val sigCol =
      if (withSig) Seq(array((0 until 8).map(i => col(s"mh$i")): _*).as("sig"))
      else Nil
    val bands = doc.select(Seq($"doc_id", $"ss") ++ sigCol :+ minhashBands: _*)
    val member =
      if (withSig) struct($"doc_id", $"ss", $"sig")
      else struct($"doc_id", $"ss")
    // slot agreement as a codegen'd sum of 8 fixed-index equality
    // terms — an interpreted aggregate(zip_with(...)) here sat outside
    // whole-stage codegen and was evaluated once per exploded pair,
    // the estimator's measured hot spot (the same anti-pattern the
    // k-means/PQ family shed in favor of native expressions). `eq` is
    // symmetric, so pair orientation below cannot affect it.
    val eqCol =
      if (withSig) Seq((0 until 8).map(i =>
          when($"x.sig".getItem(i) === $"y.sig".getItem(i), lit(1L))
            .otherwise(lit(0L))).reduce(_ + _).as("eq"))
      else Nil
    // least/greatest restores the id orientation (collect_list order
    // is nondeterministic) and na/nb follow the ids; c and eq are
    // symmetric.
    tailPairs(bandGroups(bands, member))
      .select(Seq(least($"x.doc_id", $"y.doc_id").as("a_id"),
        greatest($"x.doc_id", $"y.doc_id").as("b_id")) ++ eqCol ++ Seq(
        size(array_intersect($"x.ss", $"y.ss")).cast("long").as("c"),
        when($"x.doc_id" < $"y.doc_id", size($"x.ss")).otherwise(size($"y.ss"))
          .cast("long").as("na"),
        when($"x.doc_id" < $"y.doc_id", size($"y.ss")).otherwise(size($"x.ss"))
          .cast("long").as("nb")): _*)
      .distinct() // a pair sharing k bands appears k times, identically
  }

  /** DuckDB twin of [[minhashCandPairs]] as a CTE chain (through
    * `cand`/`sz`/`inter`; the finals differ per consumer), over an
    * arbitrary documents source.
    */
  private def minhashCandCtesSqlFrom(src: String): String =
    s"""sh AS (${keptShinglesSqlFrom(repsSqlFrom(src))}),
       |sig AS (SELECT doc_id, $minhashSigAggsSql FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band, band_idx FROM (
       |  ${minhashBandsSql("sig")})
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY band_idx, band ORDER BY doc_id) <= $BAND_CAP),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_idx = y.band_idx AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a_id, b_id, COUNT(*) AS c
       |  FROM cand JOIN sh sa ON a_id = sa.doc_id
       |            JOIN sh sb ON b_id = sb.doc_id AND sa.s = sb.s
       |  GROUP BY 1, 2)""".stripMargin

  private val minhashCandCtesSql: String = minhashCandCtesSqlFrom("documents")

  /** Banded MinHash LSH near-dup over the exact-dedup representatives
    * ([[repDocs]]): 4 bands × 2 rows; candidate pairs share ≥ 1 band;
    * candidates verified with exact Jaccard ≥ 0.10. The band join is
    * the scalable step — shuffle on band value, no all-pairs compare;
    * exact verification touches candidates only. Band groups are
    * bounded by [[Banding.capBandGroups]] so no aggregation row ever
    * exceeds [[Banding.BAND_CAP]] members. The oracle mirrors the full pipeline,
    * pre-collapse and cap included (LSH recall is part of the
    * operator's semantics).
    */
  /** Character-prefix cap of the edit-distance verification: lev is
    * O(len_a · len_b) PER PAIR, so unbounded document lengths would
    * make one 100 KB pair cost 10¹⁰ cell updates. The declared
    * semantics compare the first [[EDIT_PREFIX]] characters — the
    * standard bounded-cost variant, applied identically in the
    * oracle.
    */
  private val EDIT_PREFIX = 512

  /** Candidate pairs at or under this edit-distance share (ppm of the
    * longer prefix) verify as duplicates: 20% — the near-dup family's
    * working band (a rate-4 planted mutation edits ~25% of tokens and
    * is a designed catch).
    */
  private val EDIT_PPM_MAX = 200000L

  /** Distance cap for the banded Levenshtein kernel: the verify
    * verdict only needs `dist ≤ EDIT_PPM_MAX ppm of max_len`, and
    * `max_len ≤ EDIT_PREFIX`, so any true verdict has
    * `dist ≤ 0.2 · 512 = 102.4` → a distance above this cap can never
    * verify. Spark's 3-arg `levenshtein(l, r, threshold)` runs the
    * thresholded banded algorithm — O(cap · len) cells instead of the
    * full O(len²) lattice — and returns −1 past the cap. The DECLARED
    * output semantics are capped distance: `edit_dist =
    * least(true_dist, cap + 1)` and `edit_ppm` follows from it. The
    * verdict is unchanged: a capped pair reports
    * `ppm = (cap+1)·10⁶ div max_len ≥ 103·10⁶/512 > EDIT_PPM_MAX` —
    * false, exactly as its true distance (> 0.2·512 ≥ 0.2·max_len)
    * would; an uncapped pair reports its exact distance. The oracle
    * mirrors with `least(levenshtein(...), cap+1)`.
    */
  private val EDIT_DIST_CAP: Int =
    (EDIT_PPM_MAX * EDIT_PREFIX / 1000000L).toInt // = 102

  /** Exact edit-distance verification of the LSH candidate pairs —
    * the verify stage a production near-dup pipeline runs after
    * approximate candidate generation, at the character level (the
    * shingle-level verifies are [[minhashLsh]]'s exact Jaccard and
    * [[minhashEst]]'s estimator audit; edit distance catches
    * transpositions and in-word edits that whole-token shingles
    * round off). Per banded candidate: Levenshtein distance over the
    * [[EDIT_PREFIX]]-char prefixes CAPPED at [[EDIT_DIST_CAP]] (the
    * banded-kernel bound — distances past the cap report `cap + 1`
    * and cannot verify anyway; see the cap's doc for the proof), the
    * longer prefix length, the distance share in integer ppm, and the
    * verify verdict at [[EDIT_PPM_MAX]].
    *
    * Scale shape: candidates are [[Banding.BAND_CAP]]-bounded and
    * BROADCAST; each text lookup is a map-side probe of the corpus scan (two
    * scans, zero shuffle of the corpus), and the O(prefix²) kernel
    * runs once per candidate — never per corpus row. Both engines'
    * `levenshtein` is the standard unit-cost
    * insert/delete/substitute distance, so the oracle is exact.
    */
  def editVerify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashCandPairs(s, dir, withSig = false)
      .select($"a_id", $"b_id")
    val t = Tables(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, EDIT_PREFIX).as("t"))
    val withA = t.select($"doc_id".as("a_id"), $"t".as("ta"))
      .join(broadcast(pairs), "a_id")
    // thresholded kernel: O(cap·len) per pair, −1 past the cap → the
    // declared least(dist, cap+1) output (EDIT_DIST_CAP doc)
    val lev = levenshtein($"ta", $"tb", EDIT_DIST_CAP)
    t.select($"doc_id".as("b_id"), $"t".as("tb"))
      .join(broadcast(withA), "b_id")
      .select($"a_id", $"b_id",
        when(lev < 0, lit(EDIT_DIST_CAP + 1)).otherwise(lev)
          .cast("long").as("edit_dist"),
        greatest(length($"ta"), length($"tb"), lit(1)).cast("long").as("max_len"))
      .withColumn("edit_ppm", expr("(edit_dist * 1000000) div max_len"))
      .withColumn("verified", $"edit_ppm" <= EDIT_PPM_MAX)
      .orderBy($"a_id", $"b_id")
  }

  lazy val editVerifySql: String =
    s"""WITH $minhashCandCtesSql,
       |pr AS (SELECT a_id, b_id FROM inter),
       |t AS (SELECT doc_id, substr(text, 1, $EDIT_PREFIX) AS t FROM documents)
       |SELECT p.a_id, p.b_id,
       |  CAST(least(levenshtein(ta.t, tb.t), ${EDIT_DIST_CAP + 1}) AS BIGINT) AS edit_dist,
       |  CAST(greatest(len(ta.t), len(tb.t), 1) AS BIGINT) AS max_len,
       |  CAST((least(levenshtein(ta.t, tb.t), ${EDIT_DIST_CAP + 1}) * 1000000)
       |    // greatest(len(ta.t), len(tb.t), 1) AS BIGINT) AS edit_ppm,
       |  (least(levenshtein(ta.t, tb.t), ${EDIT_DIST_CAP + 1}) * 1000000)
       |    // greatest(len(ta.t), len(tb.t), 1) <= $EDIT_PPM_MAX AS verified
       |FROM pr p JOIN t ta ON p.a_id = ta.doc_id
       |  JOIN t tb ON p.b_id = tb.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Linear pipeline, no self-join (see ngramJaccard note) — the
    // banded candidate machinery is the shared [[minhashCandPairs]];
    // exact-Jaccard verification touches candidates only, never the
    // corpus.
    minhashCandPairs(s, dir, withSig = false)
      .select($"a_id", $"b_id", ($"c" / ($"na" + $"nb" - $"c")).as("jaccard"))
      .filter($"jaccard" >= 0.10)
      .orderBy($"a_id", $"b_id")
  }

  val minhashLshSql: String =
    s"""WITH $minhashCandCtesSql
       |SELECT a_id, b_id, c / (na.n + nb.n - c) AS jaccard
       |FROM inter JOIN sz na ON a_id = na.doc_id JOIN sz nb ON b_id = nb.doc_id
       |WHERE c / (na.n + nb.n - c) >= 0.10
       |ORDER BY a_id, b_id""".stripMargin

  /** MinHash estimator-error audit over the LSH candidate pairs — the
    * dedup-side twin of [[annRecall]]: before trusting 8 hash slots to
    * stand in for exact Jaccard at 100 TB, measure them against it on
    * the candidates you can still afford to verify. Per candidate
    * (cap applied, no similarity threshold — the near-misses are the
    * audit's point): the signature estimate (agreeing slots / 8), the
    * exact Jaccard, and |error|, all in integer micro-units (slot
    * agreement × 125000 is exact; the one division floors an
    * IEEE-identical double). Same linear banded plan as
    * [[minhashLsh]], with the 8 slots riding the band structs (+8
    * hashes per member, still [[Banding.BAND_CAP]]-bounded).
    */
  def minhashEst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashCandPairs(s, dir, withSig = true)
      .select($"a_id", $"b_id",
        ($"eq" * 125000L).as("est_micro"),
        floor(($"c" * 1000000L).cast("double") / ($"na" + $"nb" - $"c"))
          .cast("long").as("exact_micro"))
      .withColumn("err_micro", abs($"est_micro" - $"exact_micro"))
      .orderBy($"a_id", $"b_id")
  }

  val minhashEstSql: String = {
    val eqSum = (0 until 8)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .reduce((x, y) => s"$x + $y")
    s"""WITH $minhashCandCtesSql
       |SELECT a_id, b_id, est_micro, exact_micro,
       |  abs(est_micro - exact_micro) AS err_micro FROM (
       |  SELECT c.a_id, c.b_id,
       |    CAST(($eqSum) * 125000 AS BIGINT) AS est_micro,
       |    CAST(floor(CAST(1000000 * COALESCE(i.c, 0) AS DOUBLE)
       |      / (na.n + nb.n - COALESCE(i.c, 0))) AS BIGINT) AS exact_micro
       |  FROM cand c
       |  JOIN sig a ON c.a_id = a.doc_id
       |  JOIN sig b ON c.b_id = b.doc_id
       |  LEFT JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
       |  JOIN sz na ON c.a_id = na.doc_id
       |  JOIN sz nb ON c.b_id = nb.doc_id)
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ------------------------------------------------------------- simhash

  private val SIMHASH_BITS = 64

  /** 64-bit SimHash per document over its DISTINCT 3-gram shingles:
    * every shingle votes ±1 on each of 64 bit positions drawn from
    * md5(shingle); bit j of the fingerprint is set iff the vote sum is
    * positive. One explode + one groupBy — a single shuffle at any
    * scale. Documents under 3 tokens carry no shingles and no
    * fingerprint — an operator that hashes context windows has no
    * signal to offer them (mirrored in the oracle).
    *
    * Shingles, NOT token frequencies: in frequency-weighted
    * token-level SimHash the most frequent token (a stopword, weight
    * ~n/4 on natural text) outvotes the ~√n expected magnitude of n
    * unique-token votes on EVERY bit, so all long English documents
    * collapse toward sign(md5("the")) — measured hamming 0–2 between
    * disjoint-vocabulary synthetic docs (`CurationPipelineSpec`
    * corpus). Distinct shingles each vote once, no feature dominates,
    * and similarity is contextual — the same feature universe as the
    * MinHash/Jaccard side of the family.
    *
    * Bit extraction goes through two `conv(hex8, 16, 10)` integer
    * parses + shift/mask per shingle (not per-hex-digit string ops —
    * ~8× less expression work), and 64 bits (not 32) so the pair join
    * below can block on 16-bit bands.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fingerprints(s, dir).orderBy($"doc_id")
  }

  /** (doc_id, simhash) without the presentation sort — the reusable
    * core of [[simhash]] (full corpus) and [[simhashPairs]] (exact-
    * dedup representatives).
    */
  private def fingerprintsOf(docs: DataFrame): DataFrame = {
    // conv() yields the 32-bit halves as non-negative longs; bit j of
    // the 128-bit md5 prefix, j=0 the least-significant bit of `lo`.
    val tok = shinglesOf(docs)
      .withColumn("h", md5(col("s").cast("binary")))
      .withColumn("hi", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    def bit(j: Int): Column = {
      val half = if (j < 32) col("lo") else col("hi")
      shiftright(half, j % 32).bitwiseAND(lit(1L))
    }
    val votes = (0 until SIMHASH_BITS).map(j => sum(bit(j) * 2 - 1).as(s"v$j"))
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SIMHASH_BITS)
          .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private def fingerprints(s: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables(s, dir, "documents"))

  /** Unsorted fingerprint SQL over an arbitrary FROM source. */
  private def simhashSqlFrom(src: String): String = {
    def bit(j: Int) = {
      val half = if (j < 32) "lo" else "hi"
      s"(($half >> ${j % 32}) & 1)"
    }
    val votes = (0 until SIMHASH_BITS).map(j => s"sum(${bit(j)} * 2 - 1) AS v$j").mkString(", ")
    val fp = (0 until SIMHASH_BITS)
      .map(j => s"CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .reduce((a, b) => s"$a + $b")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(s) AS h FROM (${shinglesSqlFrom(src)})),
       |halves AS (
       |  SELECT doc_id,
       |    ('0x' || substr(h, 1, 8))::BIGINT AS hi,
       |    ('0x' || substr(h, 9, 8))::BIGINT AS lo
       |  FROM tok),
       |v AS (SELECT doc_id, $votes FROM halves GROUP BY doc_id)
       |SELECT doc_id, $fp AS simhash FROM v""".stripMargin
  }

  val simhashSql: String =
    simhashSqlFrom("documents") + "\nORDER BY doc_id"

  /** SimHash near-dup pairs (hamming ≤ 3) via band blocking: split the
    * 64-bit fingerprint into 4 bands of 16 bits; by pigeonhole,
    * hamming ≤ 3 ⟹ at least one band identical, so joining on band
    * equality is exact (no recall loss) and avoids the O(n²) compare.
    * 16-bit bands give 65 536 join keys per band index — at N docs the
    * expected candidate set is ~4·N²/65 536, vs N²/2 for a cross join
    * (and vs only 256 keys for 8-bit bands, which degenerates
    * quadratically ~256× sooner). Runs over the exact-dedup
    * representatives with band groups capped at [[Banding.BAND_CAP]]
    * (see [[repDocs]] / [[Banding.capBandGroups]]); the oracle mirrors
    * the banded pipeline, pre-collapse and cap included.
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Linear pipeline (see ngramJaccard note): fingerprints — of the
    // exact-dedup representatives only (repDocs; identical texts have
    // identical fingerprints and would otherwise pile into one band
    // value) — are computed exactly once, the 4 bands explode from
    // each row (map-side, not a 4-way union re-scanning the source),
    // band groups are capped at BAND_CAP, and candidate pairs are
    // generated INSIDE each band group. No self-join, no cache: the
    // old band×band join launched up to 8 concurrent materializations
    // of the 64-agg fingerprint subtree.
    val bands = fingerprintsOf(repDocs(s, dir))
      .select($"doc_id", $"simhash", simhashBands($"simhash"))
    // XOR is symmetric; least/greatest restores the id orientation
    // per row.
    tailPairs(bandGroups(bands, struct($"doc_id", $"simhash")))
      .select(least($"x.doc_id", $"y.doc_id").as("a_id"),
        greatest($"x.doc_id", $"y.doc_id").as("b_id"),
        bit_count($"x.simhash".bitwiseXOR($"y.simhash")).cast("long").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct() // one row per pair even when several bands collide
      .orderBy($"a_id", $"b_id")
  }

  /** [[simhashPairs]]' banded pipeline as a CTE chain ending in
    * `cand(a_id, b_id, sa, sb)`, over an arbitrary documents source.
    */
  private def simhashPairsCtesSqlFrom(src: String): String =
    s"""fp AS (${simhashSqlFrom(repsSqlFrom(src))}),
       |bands AS (
       |  SELECT doc_id, simhash, band, band_idx FROM (
       |    SELECT doc_id, simhash, band_idx,
       |      (simhash >> (16 * band_idx)) & 65535 AS band
       |    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx))
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY band_idx, band ORDER BY doc_id) <= $BAND_CAP),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |         x.simhash AS sa, y.simhash AS sb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_idx = y.band_idx AND x.doc_id < y.doc_id)""".stripMargin

  val simhashPairsSql: String =
    s"""WITH ${simhashPairsCtesSqlFrom("documents")}
       |SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------- stale band-index gate

  /** A candidate at or above this exact Jaccard (integer ppm) verifies
    * as a near-duplicate — the gate-side form of [[minhashLsh]]'s
    * `jaccard >= 0.10` cut. The two are EXACTLY equivalent on the
    * integer inputs: `(c·10⁶) div u ≥ 10⁵ ⟺ c·10⁶ ≥ 10⁵·u ⟺
    * c·10 ≥ u` (truncation cannot cross the bound because 10⁶/10⁵ is
    * itself an integer), so a pair the batch operator links is a pair
    * the gate drops, with no float in either engine.
    */
  private[graft] val JACCARD_DUP_MIN_PPM = 100000L

  /** Yesterday's stop-shingle set (over-cap document frequency,
    * [[SHINGLE_DF_CAP]]) as collected 64-bit hashes — the arrival-side
    * half of the stale band index: an arriving doc's shingles are
    * filtered with THE SAME set the index build dropped, so the
    * Jaccard verify compares the same feature universe on both sides.
    * Driver-collected and shipped as a plan constant on the same
    * boundedness argument [[keptShinglesOf]] makes for its broadcast
    * anti-join: over-cap shingles are boilerplate, few by construction
    * (≤ total-occurrences / cap). Sorted for a deterministic constant.
    */
  private[graft] def corpusStopShingles(
      s: SparkSession, docs: DataFrame): Array[Long] =
    overCapShingleHashes(repDocsOf(docs)).collect().map(_.getLong(0)).sorted

  /** Yesterday's banded-MinHash index — the stale artifact that closes
    * the ingest loop's lexical near-dup gap (the
    * [[corpusShingleFilter]]/[[corpusBigramStats]] contract applied to
    * the `x_minhash_lsh` family): per (band_idx, band) of the BASE
    * corpus's exact-dedup representatives, the
    * [[Banding.BAND_CAP]]-bounded member list, each member carrying its
    * df-capped shingle-hash set so the gate's exact-Jaccard verify
    * needs no second lookup. The signature/band derivation is
    * [[minhashCandPairs]]'s ([[Banding.minhashSignature]],
    * [[Banding.minhashBands]], the [[Banding.capBandGroups]] cut), so a
    * gate drop can be re-derived exactly by the batch operator over the
    * same slice.
    *
    * Scale shape: this is a stored TABLE (refreshed at compaction
    * cadence), not a driver blob — a 100 TB corpus's band index is
    * corpus-sized, so unlike the bounded Bloom/bigram artifacts it
    * ships to the gate as the STATIC side of per-micro-batch
    * stream-static equi-joins (band value is the key), never as a plan
    * constant. Member `ss` arrays are sort_array-canonicalized: the
    * index frame is referenced once per band slot, and a
    * nondeterministic collect_list order would otherwise make the same
    * doc's copies differ across joins.
    */
  private[graft] def corpusBandIndex(
      s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val doc = keptShinglesOf(repDocsOf(docs)).groupBy($"doc_id")
      .agg(sort_array(collect_list(xxhash64($"s"))).as("ss"), minhashSignature($"s"): _*)
    val bands = doc.select($"doc_id", $"ss", minhashBands)
    capBandGroups(bands).groupBy($"band_idx", $"band")
      .agg(collect_list(struct($"doc_id", $"ss")).as("members"))
  }

  /** One-time build of the stale band index + stop-shingle set over
    * the BASE slice ([[defaultBatchPred]] excluded — yesterday's
    * compaction view), persisted with the [[ensureIvfLayout]] stamping
    * discipline: `bands/` (the index table) and `stop/` (the hash
    * list) under one stamped root, so the audit query and a bench
    * setup share one amortized build.
    */
  def ensureBandIndex(s: SparkSession, dir: String): java.nio.file.Path =
    ensureArtifact("graft-bandidx", dir, "documents",
        s"|v1|cap$BAND_CAP|df$SHINGLE_DF_CAP") { staging =>
      import s.implicits._
      val base = Tables(s, dir, "documents").filter(!defaultBatchPred)
      corpusBandIndex(s, base)
        .write.mode("overwrite").parquet(staging.resolve("bands").toString)
      corpusStopShingles(s, base).toSeq.toDF("hs")
        .coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("stop").toString)
    }

  /** The shared per-row band-gate scorer — ONE definition for the
    * streaming gate ([[graft.streaming.Streams.bandNearDupGate]]) and
    * the batch audit ([[bandGateAudit]]), so gate and audit cannot
    * drift. Adds to `df`: `gate_ss` (the arriving doc's stop-filtered
    * shingle hashes), `gate_ncand` (distinct base docs sharing ≥ 1
    * band), `gate_ppm` (max exact Jaccard against those candidates,
    * integer ppm; NULL when the doc has no shingles or no candidate —
    * the battery's no-evidence rule).
    *
    * Plan shape: the doc's 8 minhash slots and 4 band keys are pure
    * per-row HOFs over the materialized shingle array; each band slot
    * LEFT-joins the index on its band value (equi-keyed — broadcast
    * when the index fits, shuffle-hash otherwise; stream-static and
    * therefore STATELESS in a streaming plan); the Jaccard verify is a
    * per-row fold over the ≤ 4 × [[Banding.BAND_CAP]] collected
    * members. No streaming state, no corpus-side shuffle, no all-pairs
    * anywhere.
    */
  private[graft] def bandGateScored(
      s: SparkSession, df: DataFrame, bandIndex: DataFrame,
      stopShingles: Array[Long], textCol: String = "text"): DataFrame = {
    val stop = typedLit(stopShingles.toSeq)
    val kept = df
      .withColumn("gate_shw", shingleCol(words(col(textCol))))
      .withColumn("gate_kept",
        filter(col("gate_shw"), x => !array_contains(stop, xxhash64(x))))
      .withColumn("gate_ss", transform(col("gate_kept"), x => xxhash64(x)))
    val mh = (0 until 8).map(i =>
      array_min(transform(col("gate_kept"), x => minhashSlot(i, x))))
    var out = minhashBandKeys(mh).zipWithIndex
      .foldLeft(kept) { case (d, (k, b)) => d.withColumn(s"gate_b$b", k) }
      .drop("gate_shw", "gate_kept")
    (0 until 4).foreach { b =>
      val idx = bandIndex.filter(col("band_idx") === b)
        .select(col("band").as(s"gate_bk$b"), col("members").as(s"gate_m$b"))
      out = out.join(idx, col(s"gate_b$b") === col(s"gate_bk$b"), "left_outer")
    }
    val emptyMembers = array().cast(bandIndex.schema("members").dataType)
    out
      .withColumn("gate_cand", concat((0 until 4).map(b =>
        coalesce(col(s"gate_m$b"), emptyMembers)): _*))
      // a base doc sharing k bands appears k times in gate_cand —
      // harmless to the max, deduped by id for the candidate count
      .withColumn("gate_ncand", size(expr(
        "array_distinct(transform(gate_cand, m -> m.doc_id))")).cast("long"))
      // integral ppm via SQL `div` (mirrors the oracle's `//`); the
      // intersection count binds once through zip_with's left arm
      .withColumn("gate_ppm", expr(
        "array_max(zip_with(" +
          "transform(gate_cand, m -> CAST(size(array_intersect(gate_ss, m.ss)) AS BIGINT)), " +
          "gate_cand, " +
          "(c, m) -> (c * CAST(1000000 AS BIGINT)) div " +
          "(CAST(size(gate_ss) AS BIGINT) + CAST(size(m.ss) AS BIGINT) - c)))"))
      .drop((0 until 4).flatMap(b =>
        Seq(s"gate_b$b", s"gate_bk$b", s"gate_m$b")) :+ "gate_cand": _*)
  }

  /** Batch audit of the stale band gate (`x_band_gate`) — for every
    * arriving doc ([[defaultBatchPred]]), its candidate count against
    * yesterday's index, its max exact Jaccard, and the gate verdict at
    * [[JACCARD_DUP_MIN_PPM]]. The scoring IS the deployed gate's
    * ([[bandGateScored]] — shared column builder), so the oracle row
    * pins the gate's semantics end-to-end: stop-filtering, signature,
    * banding, caps, and the verify cut.
    */
  def bandGateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureBandIndex(s, dir)
    val idx = s.read.parquet(root.resolve("bands").toString)
    val stop = s.read.parquet(root.resolve("stop").toString)
      .as[Long].collect().sorted
    val arrivals = Tables(s, dir, "documents")
      .filter(defaultBatchPred).select($"doc_id", $"text")
    bandGateScored(s, arrivals, idx, stop)
      .select($"doc_id", $"gate_ncand".as("n_cand"),
        $"gate_ppm".as("max_jaccard_ppm"),
        coalesce($"gate_ppm" >= JACCARD_DUP_MIN_PPM, lit(false)).as("dropped"))
      .orderBy($"doc_id")
  }

  /** The band-gate CTE chain `bsha … scored` over arbitrary base /
    * arrival sources (both need `doc_id, text`) — shared by
    * [[bandGateAuditSql]] (raw batch split) and [[bandGateRecallSql]]
    * (planted variants vs the full base corpus), so the oracle's
    * index-build, stop-filter, banding, cap, and verify derivations
    * are written exactly once.
    */
  private def bandGateCtesSql(baseSrc: String, arrSrc: String): String =
    s"""bsha AS (${shinglesSqlFrom(repsSqlFrom(baseSrc))}),
       |stop AS (SELECT s FROM bsha GROUP BY s HAVING COUNT(*) > $SHINGLE_DF_CAP),
       |bsh AS (SELECT doc_id, s FROM bsha WHERE s NOT IN (SELECT s FROM stop)),
       |bsig AS (SELECT doc_id, $minhashSigAggsSql FROM bsh GROUP BY doc_id),
       |bbands AS (
       |  SELECT doc_id, band, band_idx FROM (
       |  ${minhashBandsSql("bsig")})
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY band_idx, band ORDER BY doc_id) <= $BAND_CAP),
       |bsz AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
       |asha AS (${shinglesSqlFrom(arrSrc)}),
       |ash AS (SELECT doc_id, s FROM asha WHERE s NOT IN (SELECT s FROM stop)),
       |asig AS (SELECT doc_id, $minhashSigAggsSql FROM ash GROUP BY doc_id),
       |abands AS (
       |  ${minhashBandsSql("asig")}),
       |asz AS (SELECT doc_id, COUNT(*) AS n FROM ash GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM abands a JOIN bbands b
       |    ON a.band = b.band AND a.band_idx = b.band_idx),
       |inter AS (
       |  SELECT a_id, b_id, COUNT(*) AS c
       |  FROM cand JOIN ash sa ON a_id = sa.doc_id
       |            JOIN bsh sb ON b_id = sb.doc_id AND sa.s = sb.s
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.a_id, COUNT(*) AS n_cand,
       |    MAX((COALESCE(i.c, 0) * 1000000) //
       |        (na.n + nb.n - COALESCE(i.c, 0))) AS maxppm
       |  FROM cand c
       |    LEFT JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
       |    JOIN asz na ON c.a_id = na.doc_id
       |    JOIN bsz nb ON c.b_id = nb.doc_id
       |  GROUP BY 1)""".stripMargin

  lazy val bandGateAuditSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE NOT ($defaultBatchCondSql)),
       |arr AS (SELECT doc_id, text FROM documents WHERE $defaultBatchCondSql),
       |${bandGateCtesSql("base", "arr")}
       |SELECT a.doc_id, CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
       |  CAST(maxppm AS BIGINT) AS max_jaccard_ppm,
       |  COALESCE(maxppm >= $JACCARD_DUP_MIN_PPM, FALSE) AS dropped
       |FROM arr a LEFT JOIN scored sc ON a.doc_id = sc.a_id
       |ORDER BY a.doc_id""".stripMargin

  /** Per-rate catch curve of the stale band gate over the planted
    * mutation corpus (`x_band_gate_recall`) — the gate-side twin of
    * [[dedupRecall]], and the cross-engine pin of the curve
    * StreamingSpec records: both engines derive the planted variants,
    * build yesterday's band index from the FULL base corpus, score
    * every variant with the gate's own verify, and report per rate
    * class (n_planted, n_caught, catch_ppm). The rate-2 zero and the
    * rate-4 nonzero are the gate's DECLARED sensitivity envelope —
    * heavy mutations are designed novelty, mid-rate near-dups must
    * not sail through — so a drift in either direction fails the
    * hash compare, not just a Spark-side spec.
    */
  /** One-time build of the recall curve's stale index: the band index
    * + stop-shingle set over the planted corpus's FULL original base
    * (`doc_id < PLANT_OFF` — "yesterday" for the catch-curve scenario
    * is the whole corpus, unlike the audit's batch-excluded
    * [[ensureBandIndex]]), persisted with the same stamping
    * discipline. The deployed gate reads a STORED index, so the
    * recall query reads one too — a per-run rebuild was paying the
    * reps+shingles+signature pass on every invocation for an
    * artifact the scenario defines as compaction-cadence state.
    */
  def ensurePlantedBandIndex(s: SparkSession, dir: String): java.nio.file.Path = {
    val adir = ensurePlantedCorpus(s, dir).toString
    ensureArtifact("graft-bandidx-fullbase", adir, "documents",
        s"|v1|cap$BAND_CAP|df$SHINGLE_DF_CAP") { staging =>
      import s.implicits._
      val base = Tables(s, adir, "documents")
        .filter($"doc_id" < PLANT_OFF)
      corpusBandIndex(s, base)
        .write.mode("overwrite").parquet(staging.resolve("bands").toString)
      corpusStopShingles(s, base).toSeq.toDF("hs")
        .coalesce(1)
        .write.mode("overwrite").parquet(staging.resolve("stop").toString)
    }
  }

  def bandGateRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adir = ensurePlantedCorpus(s, dir).toString
    val root = ensurePlantedBandIndex(s, dir)
    val idx = s.read.parquet(root.resolve("bands").toString)
    val stop = s.read.parquet(root.resolve("stop").toString)
      .as[Long].collect().sorted
    val variants = Tables(s, adir, "documents")
      .filter($"doc_id" >= PLANT_OFF)
      .select($"doc_id", $"text")
    bandGateScored(s, variants, idx, stop)
      .select($"doc_id",
        coalesce($"gate_ppm" >= JACCARD_DUP_MIN_PPM, lit(false)).as("dropped"),
        plantRate($"doc_id" - lit(PLANT_OFF)).as("rate"))
      .groupBy($"rate")
      .agg(count(lit(1)).as("n_planted"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_caught"))
      .withColumn("catch_ppm", expr("(n_caught * 1000000) div n_planted"))
      .orderBy($"rate")
  }

  lazy val bandGateRecallSql: String =
    s"""WITH plant AS (
       |  SELECT * FROM (
       |    SELECT doc_id, string_split(text, ' ') AS w,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |      CAST($plantRateSqlCase AS BIGINT) AS rate
       |    FROM ${repsSqlFrom("documents")} r
       |    WHERE doc_id % 5 = 2)
       |  WHERE n >= 8 AND (rate - doc_id % rate) % rate < n),
       |arr AS (
       |  SELECT doc_id + $PLANT_OFF AS doc_id, rate,
       |    array_to_string(list_transform(range(n), i ->
       |      CASE WHEN (i + doc_id) % rate = 0
       |           THEN 'zq' || doc_id || 'x' || i
       |           ELSE w[i + 1] END), ' ') AS text
       |  FROM plant),
       |${bandGateCtesSql("documents", "arr")}
       |SELECT a.rate, COUNT(*) AS n_planted,
       |  CAST(SUM(CASE WHEN COALESCE(maxppm >= $JACCARD_DUP_MIN_PPM, FALSE)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
       |  CAST((SUM(CASE WHEN COALESCE(maxppm >= $JACCARD_DUP_MIN_PPM, FALSE)
       |    THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS catch_ppm
       |FROM arr a LEFT JOIN scored sc ON a.doc_id = sc.a_id
       |GROUP BY a.rate
       |ORDER BY a.rate""".stripMargin

  /** Bump when the near-dup edge semantics change (caps, thresholds,
    * shingle shape, …): the cached edge artifact must not survive a
    * code change, or a stale /tmp graph from an earlier build would
    * silently diverge from the refreshed oracle.
    */
  private val EDGE_FMT_VERSION = 3 // v3: + semantic embed edges, fam provenance column

  /** One-time build of the near-dup edge graph — the
    * `ngramJaccard ∪ simhashPairs` lexical pair set PLUS the
    * [[embedNearDup]] semantic pair set, materialized to parquet and
    * keyed by (fixture path, size+mtime stamp, [[EDGE_FMT_VERSION]]).
    * The corpus convention links embeddings row-aligned to documents
    * (`vec_id = doc_id` — both 0..N-1 over the same corpus), so the
    * embedding pairs are document edges directly; a corpus with a
    * separate link table would join it in here, once. Each edge
    * carries its family (`fam`: 'lex' | 'sem') so consumers can use
    * the union ([[nearDupEdges]]) or audit one stage's marginal
    * contribution ([[dedupSemantic]]) without re-deriving pair
    * pipelines from the raw corpus — at 100 TB re-derivation would
    * quadruple the dominant cost. The edge pipelines themselves stay
    * first-class measured queries (`x_ngram_jaccard`,
    * `x_simhash_pairs`, `x_embed_near_dup`); this artifact is their
    * consumer-side amortization.
    */
  def ensureEdgeGraph(s: SparkSession, dir: String): java.nio.file.Path = {
    // the artifact's stamp covers documents via ensureArtifact; the
    // semantic edges read embeddings too, so its size+mtime joins the
    // cache key — a regenerated embedding table must invalidate the
    // graph. A corpus WITHOUT an embedding table (text-only pipelines,
    // the degenerate-corpus specs) gets the lexical graph.
    val emb = stamp(dir, "embeddings")
    ensureArtifact("graft-edges", dir, "documents",
        s"|v$EDGE_FMT_VERSION|e${emb.getOrElse("none")}") { staging =>
      import s.implicits._
      val lex = ngramJaccard(s, dir).select($"a_id", $"b_id")
        .union(simhashPairs(s, dir).select($"a_id", $"b_id"))
        .distinct()
        .select($"a_id", $"b_id", lit("lex").as("fam"))
      val all =
        if (emb.isDefined)
          lex.union(embedNearDup(s, dir)
            .select($"a_id", $"b_id", lit("sem").as("fam")))
        else lex
      all.write.mode("overwrite").parquet(staging.toString)
    }
  }

  /** The materialized near-dup edge set, both families unioned (see
    * [[ensureEdgeGraph]]). No `.distinct()` over the fam duplicates:
    * the only consumers feed [[Components.connectedComponents]], whose
    * `sym` union dedups anyway — a pre-distinct would be one extra
    * edge-set shuffle per graph query for no semantic effect.
    */
  private def nearDupEdges(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(ensureEdgeGraph(s, dir).toString)
    e.select(e("a_id"), e("b_id"))
  }

  /** The symmetric-edge layout, bucketed by `src` — same sizing
    * contract as [[KEEP_BUCKETS]]: one fixed bucket count every
    * components pass aligns to, so the edge side of the propagation
    * join never re-buckets.
    */
  private val SYM_EDGES = Bucketed("graft-symedges", "src", 8)

  /** One-time build of the SYMMETRIZED edge layout — the
    * [[ensureEdgeGraph]] pair set with both directions materialized
    * (`src`, `dst`, `fam`), distinct, written `bucketBy(src)`. This
    * is [[Components.ofSym]]'s working set: every propagation round
    * joins the edges on `src`, so the symmetrize + distinct + hash
    * alignment that [[Components.connectedComponents]] re-derives per
    * CALL happens once per corpus here, and the bucket metadata hands
    * every round a scan that is already partitioned on the join key —
    * zero exchanges of the corpus-scale operand, ever, after this
    * build. Keyed by the parent edge artifact's hash (which already
    * encodes the corpus + embedding stamps and
    * [[EDGE_FMT_VERSION]]), so a refreshed graph invalidates the
    * layout transitively.
    */
  def ensureSymEdges(s: SparkSession, dir: String): java.nio.file.Path = {
    val edges = ensureEdgeGraph(s, dir)
    SYM_EDGES.ensure(s, dir, s"|p${edges.getFileName}") {
      val e = s.read.parquet(edges.toString)
      e.select(e("a_id").as("src"), e("b_id").as("dst"), e("fam"))
        .union(e.select(e("b_id").as("src"), e("a_id").as("dst"), e("fam")))
        .distinct()
    }
  }

  /** The symmetric edge layout `(src, dst, fam)` as a bucket-aware
    * DataFrame ([[Artifacts.Bucketed]]).
    */
  private[graft] def symEdgesOf(s: SparkSession, dir: String): DataFrame =
    SYM_EDGES.read(s, ensureSymEdges(s, dir))

  /** Component labels (`id`, `label`) over the stored [[symEdgesOf]]
    * layout, both families: a cross-family duplicate pair only feeds
    * the loop's min, so no distinct is needed.
    */
  private def storedComponents(s: SparkSession, dir: String): DataFrame =
    Components.ofSym(symEdgesOf(s, dir).select(col("src"), col("dst")))

  /** Duplicate-cluster assignment — the stage a real dedup pipeline
    * runs after pair generation: the union of the exact-Jaccard
    * ([[ngramJaccard]]) and SimHash ([[simhashPairs]]) near-dup edges
    * (via the [[ensureEdgeGraph]] artifact), resolved into connected
    * components. One row per document that has at least one near-dup
    * edge; `cluster_id` is the smallest doc_id in its component (keep
    * that one, drop the rest). The DuckDB oracle states the same
    * transitive closure as a recursive CTE.
    *
    * Granularity note: the two edge families deliberately see
    * different corpora — Jaccard edges cover every document, SimHash
    * edges only the exact-dedup representatives ([[repDocs]], where
    * the banded blocking is safe). Exact duplicates of a clustered
    * representative are therefore clustered only if their own Jaccard
    * edges survive the DF cap; a consumer wanting every exact copy
    * folded in composes this with [[exactDedup]]'s hash → keep_id map
    * (that composition IS the full dedup pipeline's final join).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    storedComponents(s, dir)
      .select($"id".as("doc_id"), $"label".as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** The lexical edge CTEs shared by every graph oracle. (Lazy, as is
    * every val downstream of it: the chain references
    * [[embedNearDupSql]], declared later in the file — all are forced
    * only by the end-of-object oracle map, after every dependency has
    * initialized.)
    */
  private lazy val lexEdgeCtesSql: String =
    s"""jp AS ($ngramJaccardSql),
       |sp AS ($simhashPairsSql),
       |lex_edges AS (
       |  SELECT a_id, b_id FROM jp UNION SELECT a_id, b_id FROM sp)""".stripMargin

  /** The three near-dup edge families as CTEs `<prefix>jac`,
    * `<prefix>sim` and `<prefix>sem` (`a_id`, `b_id`) over a
    * documents/embeddings source pair, without a trailing comma — the
    * families' parameterized oracle pipelines at their thresholds
    * (Jaccard ≥ 0.10, Hamming ≤ 3, cosine ≥ 0.40).
    */
  private def edgeFamilyCtesSql(docs: String, emb: String, prefix: String = ""): String =
    s"""${prefix}jac AS (WITH ${ngramPairCountsCtesSqlFrom(docs)}
       |  SELECT a_id, b_id FROM pc WHERE c / (na + nb - c) >= 0.10),
       |${prefix}sim AS (WITH ${simhashPairsCtesSqlFrom(docs)}
       |  SELECT a_id, b_id FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |${prefix}sem AS (SELECT a_id, b_id FROM (${embedNearDupBodySqlFrom(emb)}))""".stripMargin

  /** The near-dup (lexical ∪ semantic) cluster CTE chain for
    * [[dedupClustersSql]]. ([[dedupFullSql]] takes the closure over its
    * own edge set, which additionally contains the exact-dup edges.)
    *
    * ORACLE ASYMMETRY, recorded: this chain (and every oracle built
    * on it — clusters, semantic audit, full decision, manifest
    * family, recall eval) unconditionally inlines
    * [[embedNearDupSql]], which reads `embeddings`. The Scala side
    * degrades to the lexical-only graph when the table is absent
    * ([[ensureEdgeGraph]]'s embedding stamp); on a TEXT-ONLY corpus the
    * oracle errors instead of matching that degradation. The verify
    * harness only runs fixtures that carry embeddings, so the gap is
    * latent by construction — a text-only deployment validates
    * against the lexical-graph oracles by dropping the `ep` branch.
    */
  private lazy val dedupClusterCtesSql: String =
    s"""$lexEdgeCtesSql,
       |ep AS ($embedNearDupSql),
       |edges AS (
       |  SELECT a_id, b_id FROM lex_edges UNION SELECT a_id, b_id FROM ep),
       |${closureCtesSql("edges")}""".stripMargin

  lazy val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |$dedupClusterCtesSql
       |SELECT id AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** The split-bucket rule of the split family ([[splitLeakage]],
    * [[splitRepair]], [[incrSplitLeakage]]): md5 of the id's decimal
    * string, its first 4 hex digits, mod 10 — buckets 0-7 train, 8 val,
    * 9 test. [[splitBucketSql]] is the oracle's statement of it.
    */
  private def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 10

  /** [[splitBucket]] in DuckDB SQL over the id expression `id`. `sep`
    * is the whitespace before `% 10`: with a line break in it or in
    * `id`, each oracle keeps its own line layout.
    */
  private def splitBucketSql(id: String, sep: String = " "): String =
    s"('0x' || substr(md5(CAST($id AS VARCHAR)), 1, 4))::BIGINT$sep% 10"

  /** Train/eval split-leakage audit (`x_split_leakage`) — the check a
    * curation pipeline runs BEFORE publishing a held-out set: assign
    * every doc its split by the corpus's own content-independent
    * hash-bucket rule ([[hashSample]]'s md5-of-doc_id idiom; buckets
    * 0-7 train, 8 val, 9 test), then ask, for each eval split, how
    * many of its docs share a near-dup cluster (the FULL lexical ∪
    * semantic graph — [[dedupClusters]]'s components) with at least
    * one train doc. Those docs are leaked eval signal: a naive
    * uniform hash split scatters every near-dup cluster across
    * splits, so memorizing a train doc scores on its eval twin —
    * the within-corpus form of the train/test overlap
    * [[contamination]] measures cross-corpus. Output per eval split:
    * n_docs, n_clustered (in any near-dup cluster — the upper bound
    * a cluster-aware split assignment could fix), n_leaked, exact
    * leak_ppm.
    *
    * Scale shape: split assignment is a per-row expression; labels
    * come off the stored edge graph's propagation loop (pair-set
    * sized, never the corpus); the doc→label join is doc_id-keyed;
    * the train-cluster set is a DISTINCT over clustered train docs —
    * bounded by the cluster count — and broadcast into a semi-probe;
    * the final agg is 2 rows.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = storedComponents(s, dir)
      .select($"id".as("doc_id"), $"label")
    val dl = Tables(s, dir, "documents")
      .select($"doc_id", splitBucket($"doc_id").as("sp"))
      .join(labels, Seq("doc_id"), "left_outer")
    val trainClusters = dl
      .filter($"label".isNotNull && $"sp" <= 7)
      .select($"label").distinct()
      .withColumn("tr", lit(1))
    dl.filter($"sp" >= 8)
      .join(broadcast(trainClusters), Seq("label"), "left_outer")
      .groupBy($"sp")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"label".isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when($"tr".isNotNull, 1L).otherwise(0L)).as("n_leaked"))
      .select(
        when($"sp" === 8, "val").otherwise("test").as("split"),
        $"n_docs", $"n_clustered", $"n_leaked",
        expr("(n_leaked * 1000000) div n_docs").as("leak_ppm"))
      .orderBy($"split")
  }

  /** Cluster-aware split repair (`x_split_repair`) — the transform
    * [[splitLeakage]] drives (the `x_dup_spans` → `x_span_strip`
    * audit/transform pairing): reassign every clustered doc to the
    * split of its cluster's MIN member (the same md5 bucket rule
    * applied to the cluster label instead of the doc id), so each
    * near-dup cluster lands whole in ONE split and post-repair
    * leakage is zero BY CONSTRUCTION — the anchor (min) member's
    * bucket equals its own, so it never moves, and singletons keep
    * their hash split. Output per split: population before and
    * after, docs moved out, docs moved in — the size drift a
    * pipeline owner weighs against the leak the audit measured.
    *
    * Scale shape: both assignments are per-row expressions over the
    * doc→label join [[splitLeakage]] already pays; the before/after
    * flows are two 3-row aggregates joined on the split name.
    */
  def splitRepair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = storedComponents(s, dir)
      .select($"id".as("doc_id"), $"label")
    def name(b: Column): Column =
      when(b <= 7, "train").when(b === 8, "val").otherwise("test")
    val perDoc = Tables(s, dir, "documents")
      .select($"doc_id")
      .join(labels, Seq("doc_id"), "left_outer")
      .select(
        name(splitBucket($"doc_id")).as("nb"),
        name(splitBucket(coalesce($"label", $"doc_id"))).as("na"))
    val outFlow = perDoc.groupBy($"nb".as("split"))
      .agg(count(lit(1)).as("n_before"),
        sum(when($"nb" =!= $"na", 1L).otherwise(0L)).as("n_moved_out"))
    val inFlow = perDoc.groupBy($"na".as("split"))
      .agg(count(lit(1)).as("n_after"),
        sum(when($"nb" =!= $"na", 1L).otherwise(0L)).as("n_moved_in"))
    outFlow.join(inFlow, Seq("split"), "full_outer")
      .select($"split",
        coalesce($"n_before", lit(0L)).as("n_before"),
        coalesce($"n_after", lit(0L)).as("n_after"),
        coalesce($"n_moved_out", lit(0L)).as("n_moved_out"),
        coalesce($"n_moved_in", lit(0L)).as("n_moved_in"))
      .orderBy($"split")
  }

  lazy val splitRepairSql: String =
    s"""WITH RECURSIVE
       |$dedupClusterCtesSql,
       |labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
       |pd AS (
       |  SELECT
       |    CASE WHEN bb <= 7 THEN 'train' WHEN bb = 8 THEN 'val'
       |      ELSE 'test' END AS nb,
       |    CASE WHEN ba <= 7 THEN 'train' WHEN ba = 8 THEN 'val'
       |      ELSE 'test' END AS na
       |  FROM (
       |    SELECT
       |      ${splitBucketSql("d.doc_id", "\n        ")} AS bb,
       |      ${splitBucketSql("coalesce(l.label, d.doc_id)\n       ")} AS ba
       |    FROM documents d LEFT JOIN labels l ON d.doc_id = l.id)),
       |outf AS (
       |  SELECT nb AS split, COUNT(*) AS n_before,
       |    CAST(SUM(CASE WHEN nb <> na THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_moved_out
       |  FROM pd GROUP BY nb),
       |inf AS (
       |  SELECT na AS split, COUNT(*) AS n_after,
       |    CAST(SUM(CASE WHEN nb <> na THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_moved_in
       |  FROM pd GROUP BY na)
       |SELECT split,
       |  COALESCE(n_before, 0) AS n_before,
       |  COALESCE(n_after, 0) AS n_after,
       |  COALESCE(n_moved_out, 0) AS n_moved_out,
       |  COALESCE(n_moved_in, 0) AS n_moved_in
       |FROM outf FULL OUTER JOIN inf USING (split)
       |ORDER BY split""".stripMargin

  lazy val splitLeakageSql: String =
    s"""WITH RECURSIVE
       |$dedupClusterCtesSql,
       |labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
       |dl AS (
       |  SELECT d.doc_id,
       |    ${splitBucketSql("d.doc_id", "\n      ")} AS sp,
       |    l.label
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
       |tc AS (
       |  SELECT DISTINCT label FROM dl WHERE label IS NOT NULL AND sp <= 7)
       |SELECT CASE WHEN sp = 8 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN dl.label IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_clustered,
       |  CAST(SUM(CASE WHEN tc.label IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaked,
       |  CAST(SUM(CASE WHEN tc.label IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // COUNT(*) AS BIGINT) AS leak_ppm
       |FROM dl LEFT JOIN tc ON dl.label = tc.label
       |WHERE sp >= 8
       |GROUP BY sp ORDER BY 1""".stripMargin

  /** Incremental train/eval split-leakage audit
    * (`x_incr_split_leakage`) — the nightly form of [[splitLeakage]],
    * the daily-ingest regime a pipeline actually runs: when a batch
    * arrives, (1) which arriving eval-split docs land LEAKED (their
    * post-merge cluster holds a train doc, arriving or published),
    * and (2) which PUBLISHED eval docs that were clean yesterday the
    * batch just broke — an arriving doc can bridge a previously clean
    * eval cluster into a train cluster, silently invalidating a
    * held-out set that passed its audit at publication. Output, one
    * row per eval split: arriving population / leaked / exact ppm,
    * the published blast radius (eval docs in recomputed clusters),
    * and the newly-leaked published count.
    *
    * One-sided like [[incrClusters]] (whose label frame this rides,
    * checkpointed once): split assignment is content-independent and
    * static, and an untouched cluster's membership is unchanged, so
    * leak status can only move inside the RECOMPUTED clusters — the
    * published diff never rescans the corpus. Today's and yesterday's
    * train-cluster sets are DISTINCTs over label frames — bounded by
    * the cluster count — broadcast into the eval probes. The DuckDB
    * oracle full-rebuilds BOTH closures (yesterday's and today's)
    * from scratch; the green hash is the incremental ≡ full proof,
    * [[incrClusters]]'s contract extended to the split-audit
    * composition.
    */
  def incrSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the incremental label frame, materialized once — it feeds the
    // train-set derivation AND both eval probes
    val post = incrLabels(s, dir).localCheckpoint()
    val trainToday = post.filter(splitBucket($"doc_id") <= 7)
      .select($"cluster_id").distinct().withColumn("t_now", lit(1))
    val arr = Tables(s, dir, "documents")
      .filter(isBatchId($"doc_id"))
      .select($"doc_id", splitBucket($"doc_id").as("sp"))
      .filter($"sp" >= 8)
      .join(post.select($"doc_id", $"cluster_id"), Seq("doc_id"), "left_outer")
      .join(broadcast(trainToday), Seq("cluster_id"), "left_outer")
      .groupBy($"sp")
      .agg(count(lit(1)).as("n_arriving"),
        sum(when($"t_now".isNotNull, 1L).otherwise(0L))
          .as("n_arriving_leaked"))
    val baseLabels = s.read.parquet(ensureBaseLabels(s, dir).toString)
    val trainYest = baseLabels.filter(splitBucket($"id") <= 7)
      .select($"label").distinct().withColumn("t_yest", lit(1))
    val pub = post.filter($"recomputed" && !isBatchId($"doc_id"))
      .select($"doc_id", $"cluster_id", splitBucket($"doc_id").as("sp"))
      .filter($"sp" >= 8)
      .join(broadcast(trainToday), Seq("cluster_id"), "left_outer")
      .join(baseLabels.select($"id".as("doc_id"), $"label"),
        Seq("doc_id"), "left_outer")
      .join(broadcast(trainYest), Seq("label"), "left_outer")
      .groupBy($"sp")
      .agg(count(lit(1)).as("n_published_touched"),
        sum(when($"t_now".isNotNull && $"t_yest".isNull, 1L).otherwise(0L))
          .as("n_published_newly_leaked"))
    // anchor both eval splits so a quiet batch still reports 2 rows
    val sps = Seq((8L, "val"), (9L, "test")).toDF("sp", "split")
    sps.join(arr, Seq("sp"), "left_outer")
      .join(pub, Seq("sp"), "left_outer")
      .select($"split",
        coalesce($"n_arriving", lit(0L)).as("n_arriving"),
        coalesce($"n_arriving_leaked", lit(0L)).as("n_arriving_leaked"),
        when(coalesce($"n_arriving", lit(0L)) > 0,
          expr("(n_arriving_leaked * 1000000) div n_arriving"))
          .as("arr_leak_ppm"),
        coalesce($"n_published_touched", lit(0L)).as("n_published_touched"),
        coalesce($"n_published_newly_leaked", lit(0L))
          .as("n_published_newly_leaked"))
      .orderBy($"split")
  }

  /** DuckDB twin of [[incrSplitLeakage]]: both closures rebuilt from
    * scratch ([[incrClustersSql]]'s discipline — full edges AND base
    * edges re-derived, reach taken over each), leak flags joined the
    * audit's way, published diff restricted to touched clusters.
    */
  lazy val incrSplitLeakageSql: String =
    s"""WITH RECURSIVE
       |$incrRebuildCtesSql,
       |${closureCtesSql("base_e", "b")},
       |bcl AS (SELECT id, MIN(r) AS label FROM breach GROUP BY id),
       |bkt AS (
       |  SELECT doc_id,
       |    ${splitBucketSql("doc_id", "\n      ")} AS sp
       |  FROM documents),
       |tnow AS (
       |  SELECT DISTINCT cl.cluster_id
       |  FROM cl JOIN bkt ON bkt.doc_id = cl.id WHERE bkt.sp <= 7),
       |tyest AS (
       |  SELECT DISTINCT bcl.label
       |  FROM bcl JOIN bkt ON bkt.doc_id = bcl.id WHERE bkt.sp <= 7),
       |arr AS (
       |  SELECT sp, COUNT(*) AS n_arriving,
       |    CAST(SUM(CASE WHEN t.cluster_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_arriving_leaked
       |  FROM bkt
       |  LEFT JOIN cl ON cl.id = bkt.doc_id
       |  LEFT JOIN tnow t ON t.cluster_id = cl.cluster_id
       |  WHERE bkt.doc_id % 10 = 7 AND sp >= 8
       |  GROUP BY sp),
       |pub AS (
       |  SELECT sp, COUNT(*) AS n_published_touched,
       |    CAST(SUM(CASE WHEN tn.cluster_id IS NOT NULL
       |      AND ty.label IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_published_newly_leaked
       |  FROM bkt
       |  JOIN cl ON cl.id = bkt.doc_id
       |  JOIN tcl ON tcl.cluster_id = cl.cluster_id
       |  LEFT JOIN tnow tn ON tn.cluster_id = cl.cluster_id
       |  LEFT JOIN bcl ON bcl.id = bkt.doc_id
       |  LEFT JOIN tyest ty ON ty.label = bcl.label
       |  WHERE bkt.doc_id % 10 <> 7 AND sp >= 8
       |  GROUP BY sp),
       |sps AS (SELECT * FROM (VALUES (8, 'val'), (9, 'test')) AS v(sp, split))
       |SELECT split,
       |  COALESCE(n_arriving, 0) AS n_arriving,
       |  COALESCE(n_arriving_leaked, 0) AS n_arriving_leaked,
       |  CASE WHEN COALESCE(n_arriving, 0) > 0
       |    THEN CAST(n_arriving_leaked * 1000000 // n_arriving AS BIGINT)
       |  END AS arr_leak_ppm,
       |  COALESCE(n_published_touched, 0) AS n_published_touched,
       |  COALESCE(n_published_newly_leaked, 0) AS n_published_newly_leaked
       |FROM sps LEFT JOIN arr USING (sp) LEFT JOIN pub USING (sp)
       |ORDER BY split""".stripMargin

  /** Semantic-dedup audit — the marginal contribution of the embedding
    * stage over the lexical pipeline: one row per semantic near-dup
    * pair ([[embedNearDup]]), `new_link` = true iff the two documents
    * were NOT already in the same lexical (Jaccard ∪ SimHash) cluster
    * — i.e. this edge merges components the lexical stages could not,
    * exactly what a pipeline owner inspects before unioning a new edge
    * family into the production graph (paraphrase detection: same
    * meaning, different tokens). Both sides ride the
    * [[ensureEdgeGraph]] artifact's amortization: lexical components
    * come from the stored 'lex' edges (one [[Components.ofSym]] pass
    * over the pair set, never the raw corpus), semantic pairs
    * re-run the measured [[embedNearDup]] probe for their cos scores.
    * Unclustered docs count as their own singleton cluster
    * (`coalesce(label, id)`), so a semantic edge between two lexically
    * untouched docs is correctly a new link.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 'lex' rows of the bucketed layout are already distinct + both
    // directions — straight into the propagation loop
    val lex = Components.ofSym(
      symEdgesOf(s, dir).filter($"fam" === "lex").select($"src", $"dst"))
    val sem = embedNearDup(s, dir).select($"a_id", $"b_id", $"cos")
    sem
      .join(lex.select($"id".as("a_id"), $"label".as("a_cl")), Seq("a_id"), "left")
      .join(lex.select($"id".as("b_id"), $"label".as("b_cl")), Seq("b_id"), "left")
      .select($"a_id", $"b_id", $"cos",
        (coalesce($"a_cl", $"a_id") =!= coalesce($"b_cl", $"b_id")).as("new_link"))
      .orderBy($"a_id", $"b_id")
  }

  lazy val dedupSemanticSql: String =
    s"""WITH RECURSIVE
       |$lexEdgeCtesSql,
       |${closureCtesSql("lex_edges", "l")},
       |lcl AS (SELECT id, MIN(r) AS cluster FROM lreach GROUP BY id),
       |ep AS ($embedNearDupSql)
       |SELECT ep.a_id, ep.b_id, ep.cos,
       |  COALESCE(ca.cluster, ep.a_id) <> COALESCE(cb.cluster, ep.b_id) AS new_link
       |FROM ep LEFT JOIN lcl ca ON ep.a_id = ca.id
       |        LEFT JOIN lcl cb ON ep.b_id = cb.id
       |ORDER BY ep.a_id, ep.b_id""".stripMargin

  /** The capstone dedup decision — for EVERY document, the id to keep
    * in its place after ALL dedup stages: one connected-components
    * pass over the UNION of the near-dup edges (lexical Jaccard +
    * SimHash plus semantic [[embedNearDup]] — the modern
    * lexical+semantic pipeline, v3 edge graph) and the exact-dup
    * edges (doc ↔ its normalized-text-hash representative). Folding the exact edges into the same graph —
    * rather than composing two maps — is what makes `keep_id` truly
    * final: a component minimum has, by definition, no smaller exact
    * twin and no smaller near-dup, so its own keep_id is itself.
    * (A two-map composition is subtly wrong: the exact hash normalizes
    * with lower/trim while shingles see raw text, so a case-variant
    * twin can carry near-dup edges its representative lacks.)
    * `is_kept` marks the survivors; `count_if(is_kept)` is the corpus
    * size after dedup. Shapes: the rep window is per-hash-group
    * (repDocs' pattern), the edge union adds one distinct, and the
    * component pass is the O(log diameter)
    * [[Components.connectedComponents]].
    */
  def dedupFull(s: SparkSession, dir: String): DataFrame =
    dedupDecision(s, dir).orderBy(col("doc_id"))

  /** [[dedupFull]] without the presentation sort — what the
    * [[ensureKeepMap]] artifact materializes and every decision
    * consumer actually needs.
    */
  private def dedupDecision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // groupBy-min + join on the hash, not min() OVER the hash
    // partition (see repDocsOf): the window shuffles full rows — text
    // included, it feeds the partition key — and concentrates every
    // copy of a hot text into one sort. Here only (doc_id, h) pairs
    // shuffle, the aggregate side is partial-agged map-side, and the
    // one remaining hot spot (the join's hash key) is a streamed
    // skew-splittable join (AQE OptimizeSkewedJoin) over 2-column
    // rows, not a sort over full documents.
    val hashed = Tables(s, dir, "documents")
      .select($"doc_id", md5(lower(trim($"text")).cast("binary")).as("h"))
    val minPerHash = hashed.groupBy($"h").agg(min($"doc_id").as("rep"))
    // null-safe join: NULL-text docs hash to NULL, which the groupBy
    // above and the oracle's window both treat as ONE group — a plain
    // inner join would silently drop them from the edge set instead
    val exactEdges = hashed.as("d")
      .join(minPerHash.as("r"), $"d.h" <=> $"r.h")
      .filter($"d.doc_id" =!= $"r.rep")
      .select($"r.rep".as("a_id"), $"d.doc_id".as("b_id"))
    // no .distinct() on the union — connectedComponents' sym pass
    // dedups (see nearDupEdges)
    val edges = nearDupEdges(s, dir)
      .union(exactEdges)
    connectedComponents(edges)
      .withColumnsRenamed(Map("id" -> "doc_id", "label" -> "cluster_id"))
      .join(Tables(s, dir, "documents").select($"doc_id"), Seq("doc_id"), "right")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("keep_id"),
        ($"doc_id" === coalesce($"cluster_id", $"doc_id")).as("is_kept"))
  }

  /** Bucket count of the keep-map layout. Sized for the fixtures; a
    * production deployment picks its own (the layout code takes it
    * from this one constant) — what matters at 100 TB is that the
    * count is FIXED per artifact so every doc_id-keyed consumer join
    * aligns to the same buckets without re-shuffling the map.
    */
  private val KEEP_BUCKETS = 8

  /** The keep-map layout ([[ensureKeepMap]]), bucketed by `doc_id`. */
  private val KEEP_MAP = Bucketed("graft-keepmap", "doc_id", KEEP_BUCKETS)

  /** Format version of the persisted keep-best decision artifact
    * ([[ensureBaseKeepBest]]). Bump on ANY change to the quality
    * formula ([[qualityCol]]/`qualitySql`) or the keep-best argmax
    * tie-break — the artifact stores decisions, not inputs, so a
    * semantics change without a bump would leave stale keepers that
    * [[keepBestIncr]]'s untouched-cluster passthrough serves as if
    * fresh.
    */
  private val KEEP_BEST_FMT_VERSION = 1

  /** The keep-best decision layout ([[ensureBaseKeepBest]]), aligned
    * with [[KEEP_MAP]].
    */
  private val BASE_KEEP_BEST = Bucketed("graft-basekeepbest", "doc_id", KEEP_BUCKETS)

  /** One-time build of the dedup-decision artifact — [[dedupDecision]]
    * (doc_id, keep_id, is_kept) materialized as a `bucketBy(doc_id)`
    * layout. Two amortizations for the manifest family
    * ([[corpusManifest]] / [[manifestStats]] / [[filterFunnel]] /
    * [[clusterSizes]]): the connected-components iterations run ONCE
    * per corpus instead of once per consumer, and the decision side of
    * every doc_id join arrives pre-partitioned — at 100 TB the map is
    * corpus-sized (one row per document), so re-shuffling it per
    * consumer join is exactly the cost bucketing exists to delete.
    * The decision pipeline itself stays a first-class measured query
    * (`x_dedup_full`) — same contract as [[ensureEdgeGraph]] vs the
    * pair pipelines. Files are written through Spark's bucketed
    * writer (bucket ids live in the file names), one file per bucket
    * via an aligned repartition; [[keepMapOf]] registers the
    * location as an external bucketed table so ANY later session gets
    * bucket-aware scans of the same files ([[Artifacts.Bucketed]]).
    */
  def ensureKeepMap(s: SparkSession, dir: String): java.nio.file.Path = {
    // keyed on the edge-graph ARTIFACT's name (the [[ensureSymEdges]]
    // pattern): the decision consumes the edge graph, so corpus stamp,
    // [[EDGE_FMT_VERSION]], and the embedding stamp invalidate this
    // map transitively by construction — reconstructing the parent's
    // key here would go stale the day the parent's key gains an input
    val edges = ensureEdgeGraph(s, dir)
    KEEP_MAP.ensure(s, dir, s"|p${edges.getFileName}")(dedupDecision(s, dir))
  }

  /** The keep-map artifact `(doc_id, keep_id, is_kept)` as a
    * bucket-aware DataFrame: a plain `read.parquet` of the same files
    * would discard the bucket metadata and re-shuffle in every join.
    */
  private[graft] def keepMapOf(s: SparkSession, dir: String): DataFrame =
    KEEP_MAP.read(s, ensureKeepMap(s, dir))

  // ------------------------------------------- incremental graph maintenance

  /** Bump when the incremental edge-delta semantics change — same
    * manual contract as [[EDGE_FMT_VERSION]].
    */
  private val INCR_FMT_VERSION = 1

  /** [[defaultBatchPred]] over an arbitrary id column (embeddings key
    * by `vec_id`; the row-aligned corpus convention makes the same
    * predicate correct on both tables).
    */
  private def isBatchId(id: Column): Column = id % 10 === 7

  /** One-time build of the BASE corpus — the fixture minus the
    * arriving batch, i.e. "the corpus as of yesterday's compaction".
    * [[ensureEdgeGraph]] over this directory IS yesterday's edge
    * artifact: the incremental path reuses the production build
    * machinery end-to-end instead of maintaining a parallel one.
    */
  def ensureBaseCorpus(s: SparkSession, dir: String): java.nio.file.Path = {
    val emb = stamp(dir, "embeddings")
    ensureArtifact("graft-basecorpus", dir, "documents",
        s"|v$INCR_FMT_VERSION|e${emb.getOrElse("none")}") { staging =>
      import s.implicits._
      Tables(s, dir, "documents").filter(!isBatchId($"doc_id"))
        .write.mode("overwrite")
        .parquet(staging.resolve("documents.parquet").toString)
      if (emb.isDefined)
        Tables(s, dir, "embeddings").filter(!isBatchId($"vec_id"))
          .write.mode("overwrite")
          .parquet(staging.resolve("embeddings.parquet").toString)
    }
  }

  /** Yesterday's component labels, materialized once per base graph —
    * keyed on the base edge artifact's name, so corpus/embedding
    * stamps and both format versions invalidate transitively.
    */
  def ensureBaseLabels(s: SparkSession, dir: String): java.nio.file.Path = {
    val baseEdges = ensureEdgeGraph(s, ensureBaseCorpus(s, dir).toString)
    ensureArtifact("graft-baselabels", dir, "documents",
        s"|p${baseEdges.getFileName}") { staging =>
      val e = s.read.parquet(baseEdges.toString)
      connectedComponents(e.select(col("a_id"), col("b_id")))
        .write.mode("overwrite").parquet(staging.toString)
    }
  }

  /** Bump when the kept-shingle semantics (shingle shape,
    * [[SHINGLE_DF_CAP]]) or the index layout change.
    */
  private val IDX_FMT_VERSION = 1

  /** The shingle-index layout, bucketed by the posting key `s` — the
    * [[SYM_EDGES]] sizing contract applied to the inverted index.
    */
  private val SHINGLE_IDX = Bucketed("graft-shingleidx", "s", 8)

  /** One-time build of the kept-shingle inverted index — `(doc_id, n,
    * s)` rows (n = the doc's kept-shingle count, the Jaccard
    * denominator input) written `bucketBy(s)`. This is the state a
    * daily-ingest dedup service PERSISTS between batches: re-deriving
    * the posting lists from raw text per batch would make every
    * increment pay a full-corpus shingling pass, which at 100 TB is
    * the dominant cost the incremental path exists to avoid. The
    * batch-touching jaccard core ([[jacPairsTouching]]) groups by `s`,
    * so the bucket metadata hands it posting-list groups with zero
    * exchange of the corpus-scale operand. The from-scratch pipelines
    * (`x_ngram_jaccard`, `x_minhash_*`) intentionally do NOT read
    * this: they are the measured index-build cost.
    */
  def ensureShingleIndex(s: SparkSession, dir: String): java.nio.file.Path =
    SHINGLE_IDX.ensure(s, dir, s"|v$IDX_FMT_VERSION") {
      import org.apache.spark.sql.expressions.Window
      keptShingles(s, dir)
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .select(col("doc_id"), col("n"), col("s"))
    }

  /** The shingle index `(doc_id, n, s)` as a bucket-aware DataFrame
    * ([[Artifacts.Bucketed]]).
    */
  private[graft] def shingleIndexOf(s: SparkSession, dir: String): DataFrame =
    SHINGLE_IDX.read(s, ensureShingleIndex(s, dir))

  /** One-time build of the exact-dedup-representative fingerprint
    * table — `(doc_id, simhash)` over [[repDocsOf]], the other half of
    * the persisted incremental state: the simhash touching core needs
    * every rep's 64-bit signature, and recomputing them means two
    * md5-over-text corpus scans plus the 64-vote aggregation per
    * batch. Small (one row per distinct text), plain parquet — the
    * consumer groups by band value, not doc_id, so bucketing buys
    * nothing here.
    */
  def ensureFingerprints(s: SparkSession, dir: String): java.nio.file.Path =
    ensureArtifact("graft-fprints", dir, "documents",
        s"|v$IDX_FMT_VERSION") { staging =>
      fingerprintsOf(repDocs(s, dir))
        .write.mode("overwrite").parquet(staging.toString)
    }

  /** Batch-touching instantiations of the three edge families — the
    * one-sided [[incrementalNearDup]] shape generalized: pair
    * generation restricted, GROUP-LOCALLY, to pairs with at least one
    * endpoint in `touch`, over the FULL corpus's structures (reps,
    * dfs, bands — which is what makes the delta exact). They mirror
    * the production cores ([[ngramPairCounts]], [[simhashPairs]],
    * [[embedNearDupBlocked]]) rather than share a parameterized body,
    * so the production plans stay byte-identical; the incremental ≡
    * full-rebuild equivalence test is the divergence guard. `touch`
    * is batch-bounded and broadcasts; at 100 TB a Bloom filter takes
    * its place. The corpus-side structures come from the persisted
    * index artifacts ([[ensureShingleIndex]], [[ensureFingerprints]])
    * — incremental maintenance's defining trade is that index state
    * survives between batches, so the per-batch cost is lookups +
    * batch-bounded pair generation, never corpus re-derivation.
    */
  private def jacPairsTouching(
      s: SparkSession, dir: String, touch: DataFrame): DataFrame = {
    import s.implicits._
    val marked = shingleIndexOf(s, dir)
      .join(broadcast(touch.select($"doc_id", lit(true).as("t"))), Seq("doc_id"), "left")
      .withColumn("is_t", coalesce($"t", lit(false)))
    // prune BEFORE the group materialization: a posting list with no
    // touched member generates zero pairs (the explode filters on
    // x.is_t), so dropping it is exact — and it turns the expensive
    // stage from "collect every posting list in the corpus" into
    // "collect the lists the batch actually touches", the index-lookup
    // cost profile the persisted index exists for. Both sides of the
    // semi-join carry the bucketed-by-s layout, so the prune itself
    // exchanges nothing corpus-scale
    val touchedS = marked.filter($"is_t").select($"s").distinct()
    val kept = marked.join(touchedS, Seq("s"), "left_semi")
    val index = kept.groupBy($"s")
      .agg(collect_list(struct($"doc_id", $"n", $"is_t")).as("g"))
      .filter(size($"g") >= 2)
    // one orientation per (t,t) pair, so each unordered pair
    // contributes one row per shared shingle and the intersection
    // count stays exact
    touchingPairs(index, "doc_id")
      .groupBy(least($"x.doc_id", $"y.doc_id").as("a_id"),
        greatest($"x.doc_id", $"y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"),
        first(when($"x.doc_id" < $"y.doc_id", $"x.n").otherwise($"y.n")).as("na"),
        first(when($"x.doc_id" < $"y.doc_id", $"y.n").otherwise($"x.n")).as("nb"))
      .filter($"c" / ($"na" + $"nb" - $"c") >= 0.10)
      .select($"a_id", $"b_id")
  }

  private def simPairsTouching(
      s: SparkSession, dir: String, touch: DataFrame): DataFrame = {
    import s.implicits._
    val bands = s.read.parquet(ensureFingerprints(s, dir).toString)
      .join(broadcast(touch.select($"doc_id", lit(true).as("t"))), Seq("doc_id"), "left")
      .withColumn("is_t", coalesce($"t", lit(false)))
      .select($"doc_id", $"simhash", $"is_t", simhashBands($"simhash"))
    // same one-sided discipline as [[jacPairsTouching]]; XOR is
    // symmetric and the trailing distinct dedups band duplicates, so
    // the single orientation per (t,t) pair loses nothing. Prune to
    // band groups containing a touched rep BEFORE the cap window —
    // whole-group pruning keeps each surviving group's membership
    // intact, so the row_number cap picks the same survivors as the
    // full rebuild, and untouched groups could only have produced
    // pairs the is_t filter discards anyway
    val touchedB = bands.filter($"is_t").select($"band_idx", $"band").distinct()
    val pruned = bands.join(broadcast(touchedB), Seq("band_idx", "band"), "left_semi")
    touchingPairs(bandGroups(pruned, struct($"doc_id", $"simhash", $"is_t")), "doc_id")
      .filter(bit_count($"x.simhash".bitwiseXOR($"y.simhash")) <= 3)
      .select(least($"x.doc_id", $"y.doc_id").as("a_id"),
        greatest($"x.doc_id", $"y.doc_id").as("b_id"))
      .distinct()
  }

  private def semPairsTouching(
      s: SparkSession, dir: String, touch: DataFrame): DataFrame = {
    import s.implicits._
    val src = Tables(s, dir, "embeddings")
    val cellN = src.groupBy($"label").agg(count(lit(1)).as("cell_n"))
    val e = src
      .join(broadcast(cellN), "label")
      .withColumn("sub",
        when($"cell_n" > EMBED_CELL_CAP, signBucket($"embedding")).otherwise(lit(0L)))
      .join(broadcast(touch.select($"doc_id".as("vec_id"), lit(true).as("t"))),
        Seq("vec_id"), "left")
      .withColumn("is_t", coalesce($"t", lit(false)))
    // one-sided: the join's left operand is the batch-bounded touched
    // slice, so the cell-blocked pair space is |touch∩cell|×|cell|
    // per cell rather than |cell|²; cosine is symmetric, and the
    // smaller-id orientation rule keeps each (t,t) pair single.
    // Prune the corpus side to cells holding a touched vec first —
    // the join's label+sub equality makes any other cell unreachable,
    // so the corpus-scale operand shrinks to the touched cells before
    // the pair join rather than inside it
    val touchedC = e.filter($"is_t").select($"label", $"sub").distinct()
    val eb = e.join(broadcast(touchedC), Seq("label", "sub"), "left_semi")
    e.filter($"is_t").as("a").join(eb.as("b"),
        $"a.label" === $"b.label" && $"a.sub" === $"b.sub" &&
          $"a.vec_id" =!= $"b.vec_id" &&
          (!$"b.is_t" || $"a.vec_id" < $"b.vec_id"))
      .filter(cosine(s, $"a.embedding", $"b.embedding") >= 0.40)
      .select(least($"a.vec_id", $"b.vec_id").as("a_id"),
        greatest($"a.vec_id", $"b.vec_id").as("b_id"))
  }

  /** The incrementally-maintained edge set: yesterday's graph, minus
    * the edges invalidated by the batch, plus the batch-touching
    * delta. Exposed for the equivalence spec — the contract is that
    * this EQUALS the full rebuild's edge set.
    *
    * The three delta components:
    *  - `plus`: every family's pairs with a batch endpoint, generated
    *    one-sided over the full corpus's structures (batch docs are
    *    absent from the base corpus, so every such pair is new).
    *  - rep-stealing (`demoted`): a batch doc with a smaller id than
    *    an existing exact-dedup representative takes over rep-ship;
    *    the demoted doc's SIMHASH edges die with its rep status
    *    (fingerprints exist per rep) while its doc-level Jaccard
    *    edges survive — so the removal set is its base lex edges
    *    MINUS the full-corpus Jaccard pairs that still touch it.
    *  - semantic edges are vec-level (no rep collapse): base ones
    *    persist, new ones come from `plus`.
    *
    * EXACTNESS BOUNDARY, documented: the identity holds while the
    * increment crosses no structural cap — a shingle df crossing
    * [[SHINGLE_DF_CAP]], a band group crossing [[Banding.BAND_CAP]], or an
    * embedding cell crossing [[EMBED_CELL_CAP]] re-scores pairs the
    * delta does not revisit. Cap crossings are what the periodic full
    * compaction ([[ensureEdgeGraph]] on the merged corpus) owns — the
    * standard incremental-dedup contract, and the fixtures sit far
    * under every cap (max band group ≈ [[Banding.BAND_CAP]]/4 at sf0.1).
    */
  /** The batch-bounded delta as two pinned sets: (`plus`, `minus`).
    * One fused touching run serves both jaccard roles — pairs
    * touching batch ∪ demoted, split downstream — so the corpus-scan
    * side of the jaccard pipeline runs ONCE; both outputs are
    * plant-bounded and localCheckpointed so every consumer (the
    * region marking, the sub-graph components, the final union) reads
    * materialized rows instead of re-running family pipelines.
    */
  private def incrDelta(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val batch = docs.filter(isBatchId($"doc_id")).select($"doc_id")
    val hasEmb = java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val baseEdges = s.read.parquet(
      ensureEdgeGraph(s, ensureBaseCorpus(s, dir).toString).toString)
    val mins = docs
      .select($"doc_id", md5(lower(trim($"text")).cast("binary")).as("h"))
      .groupBy($"h")
      .agg(min($"doc_id").as("full_min"),
        min(when(!isBatchId($"doc_id"), $"doc_id")).as("base_min"))
    // UNPINNED (r22): demoted and jacTouch used to ride their own
    // eager localCheckpoints — two SERIALIZED materialization jobs
    // before the delta job. Since r21 fused plus and minus into ONE
    // delta checkpoint, every consumer of both frames lives inside
    // that single job, where AQE's runtime exchange reuse dedups the
    // identical subtrees (mins ends at its groupBy(h) exchange, the
    // jaccard touching core at its pair-aggregation exchange — each
    // is planned once and its shuffle output shared by all its
    // consumers; only the cheap post-exchange projections re-run).
    // A per-job [[graft.Profile]] read the incr pair as ~76 serialized
    // sub-second jobs — job COUNT, not compute, owns the seconds —
    // and dropping the two pins lets the jaccard, simhash, semantic
    // and retraction subtrees schedule CONCURRENTLY inside the one
    // delta job instead of queueing behind two pin barriers.
    val demoted = mins
      .filter($"base_min".isNotNull && $"full_min" =!= $"base_min")
      .select($"base_min".as("doc_id"))
    val jacTouch = jacPairsTouching(s, dir, batch.union(demoted))
    val lexPlus = jacTouch
      .filter(isBatchId($"a_id") || isBatchId($"b_id"))
      .union(simPairsTouching(s, dir, batch))
    val plus =
      (if (hasEmb) lexPlus.union(semPairsTouching(s, dir, batch)) else lexPlus)
        .distinct()
    val baseLex = baseEdges.filter($"fam" === "lex").select($"a_id", $"b_id")
    val touchDem = baseLex
      .join(demoted.select($"doc_id".as("a_id")), Seq("a_id"), "left_semi")
      .select($"a_id", $"b_id")
      .union(baseLex
        .join(demoted.select($"doc_id".as("b_id")), Seq("b_id"), "left_semi")
        .select($"a_id", $"b_id"))
      .distinct()
    // every touchDem pair touches a demoted doc, so subtracting the
    // whole fused set removes exactly the still-jaccard-supported
    // ones. `minus` is a LEX-FAMILY retraction set (rep demotion kills
    // sim edges; jaccard support was just re-checked): consumers must
    // subtract it from the base graph's lex rows ONLY — a sem edge on
    // the same pair is vec-level, untouched by demotion, and must
    // survive exactly as it does in a full rebuild
    val minus = touchDem.except(jacTouch.select($"a_id", $"b_id"))
    // ONE fused materialization for both delta sides (r21): plus and
    // minus ride a single tagged checkpoint instead of two sequential
    // checkpoint jobs — the returned frames are cheap filters over the
    // materialized rows, so every consumer still reads materialized
    // data while the delta pays one job fewer per invocation.
    val delta = plus.select($"a_id", $"b_id", lit(true).as("added"))
      .unionByName(minus.select($"a_id", $"b_id", lit(false).as("added")))
      .localCheckpoint()
    // The RETURNED checkpoint's lifecycle belongs to the caller's
    // harness: Bench/Verify unpersist every persistent RDD after each
    // query, which is where its blocks are reclaimed. (The former
    // demoted/jacTouch pins are gone — nothing to free.)
    (delta.filter($"added").select($"a_id", $"b_id"),
      delta.filter(!$"added").select($"a_id", $"b_id"))
  }

  private[graft] def incrEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (plus, minus) = incrDelta(s, dir)
    val baseEdges = s.read.parquet(
      ensureEdgeGraph(s, ensureBaseCorpus(s, dir).toString).toString)
    // minus retracts lex support only (see incrDelta): a pair keeps
    // existing while ANY family still supports it, so subtract from
    // the lex rows and pass sem rows through before collapsing to
    // pairs — `baseEdges.select(a,b).except(minus)` would also delete
    // a still-valid sem edge sharing the pair
    val baseKept = baseEdges.filter($"fam" === "lex")
      .select($"a_id", $"b_id").except(minus)
      .union(baseEdges.filter($"fam" =!= "lex").select($"a_id", $"b_id"))
      .distinct()
    // plus ∩ base = ∅ (every plus pair has a batch endpoint; batch
    // docs are absent from the base corpus), so `added` is plain
    // plus-membership and the union never duplicates a pair
    baseKept
      .select($"a_id", $"b_id", lit(false).as("added"))
      .union(plus.select($"a_id", $"b_id", lit(true).as("added")))
  }

  /** Incrementally-maintained near-dup clusters — the 100 TB
    * daily-ingest answer to re-running [[dedupClusters]] from
    * scratch: yesterday's labels ([[ensureBaseLabels]]) stand for
    * every cluster the batch did not touch; only clusters containing
    * an endpoint of a changed edge re-run the propagation loop, over
    * their own base edges plus the delta. Output is one row per
    * clustered document — identical to the full rebuild's clusters
    * (the oracle derives ground truth by rebuilding from scratch, so
    * the hash match IS the equivalence proof) — plus `recomputed`:
    * whether the doc's cluster went through the incremental re-run
    * (⟺ its final cluster contains a changed-edge endpoint; every
    * split part of an edge-removal borders a removed edge, so the
    * region marking and the oracle's cluster-membership derivation
    * agree). Cost scales with the touched region, not the corpus:
    * the untouched labels pass straight through from the artifact.
    */
  def incrClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    incrLabels(s, dir).orderBy($"doc_id")
  }

  /** [[incrClusters]] without the output ordering — the label frame
    * downstream incremental consumers ([[incrSplitLeakage]]) join
    * against and checkpoint once.
    */
  private def incrLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseLabels = s.read.parquet(ensureBaseLabels(s, dir).toString)
    val (plus, minus) = incrDelta(s, dir)
    val baseEdges = s.read.parquet(
      ensureEdgeGraph(s, ensureBaseCorpus(s, dir).toString).toString)
      .select($"a_id", $"b_id", $"fam")
    val changed = plus.union(minus)
    val touchedIds = changed.select($"a_id".as("id"))
      .union(changed.select($"b_id".as("id"))).distinct()
    val touchedLabels = touchedIds.join(baseLabels, Seq("id"), "left")
      .select(coalesce($"label", $"id").as("label")).distinct()
    // base edges of touched clusters (an edge's endpoints share a label)
    val regionBase = baseEdges
      .join(baseLabels.select($"id".as("a_id"), $"label"), Seq("a_id"))
      .join(broadcast(touchedLabels), Seq("label"), "left_semi")
      .select($"a_id", $"b_id", $"fam")
    // minus is lex-only retraction (see incrDelta): sem rows in the
    // touched region survive demotion the way they do in a rebuild
    val regionKept = regionBase.filter($"fam" === "lex")
      .select($"a_id", $"b_id").except(minus)
      .union(regionBase.filter($"fam" =!= "lex").select($"a_id", $"b_id"))
    val subEdges = regionKept.union(plus).distinct()
    val subLabels = connectedComponents(subEdges)
    val untouched = baseLabels
      .join(broadcast(touchedLabels), Seq("label"), "left_anti")
    untouched.select($"id", $"label", lit(false).as("recomputed"))
      .union(subLabels.select($"id", $"label", lit(true).as("recomputed")))
      .select($"id".as("doc_id"), $"label".as("cluster_id"), $"recomputed")
  }

  /** The full-rebuild chain both incremental oracles ([[incrClustersSql]],
    * [[incrSplitLeakageSql]]) start from: the batch-less base corpus
    * (every doc and vector whose id ends in 7 held back), both edge
    * sets from scratch (`full_e`, `base_e`), the edge delta (`plus`,
    * `minus`), its endpoints (`touched`), the full closure's clusters
    * (`cl`) and the clusters the delta touches (`tcl`).
    */
  private lazy val incrRebuildCtesSql: String =
    s"""base_docs AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
       |base_emb AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
       |${edgeFamilyCtesSql("documents", "embeddings", "f")},
       |${edgeFamilyCtesSql("base_docs", "base_emb", "b")},
       |full_e AS (
       |  SELECT a_id, b_id FROM fjac UNION SELECT a_id, b_id FROM fsim
       |  UNION SELECT a_id, b_id FROM fsem),
       |base_e AS (
       |  SELECT a_id, b_id FROM bjac UNION SELECT a_id, b_id FROM bsim
       |  UNION SELECT a_id, b_id FROM bsem),
       |plus AS (
       |  SELECT a_id, b_id FROM full_e WHERE a_id % 10 = 7 OR b_id % 10 = 7),
       |minus AS (
       |  -- base ∖ full as an anti-join: DuckDB rejects EXCEPT inside
       |  -- a WITH RECURSIVE chain
       |  SELECT b.a_id, b.b_id FROM base_e b
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM full_e f WHERE f.a_id = b.a_id AND f.b_id = b.b_id)),
       |touched AS (
       |  SELECT a_id AS id FROM plus UNION SELECT b_id FROM plus
       |  UNION SELECT a_id FROM minus UNION SELECT b_id FROM minus),
       |${closureCtesSql("full_e")},
       |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |tcl AS (SELECT DISTINCT cluster_id FROM cl JOIN touched USING (id))""".stripMargin

  /** DuckDB twin: ground truth by FULL rebuild — both edge sets (the
    * batch-less base and the whole corpus) derived from scratch with
    * the families' parameterized oracle pipelines, the closure taken
    * over the full set, and `recomputed` as "the cluster contains a
    * changed-edge endpoint". The Spark side never rebuilds; matching
    * this oracle is the incremental ≡ full-rebuild proof.
    */
  lazy val incrClustersSql: String =
    s"""WITH RECURSIVE
       |$incrRebuildCtesSql
       |SELECT cl.id AS doc_id, cl.cluster_id,
       |  cl.cluster_id IN (SELECT cluster_id FROM tcl) AS recomputed
       |FROM cl ORDER BY doc_id""".stripMargin

  /** Compaction-due monitor — the operational gate on the incremental
    * path's EXACTNESS BOUNDARY (see [[incrDelta]]): the incremental ≡
    * full-rebuild identity holds only while the arriving batch crosses
    * no structural cap, so a daily-ingest deployment needs a cheap,
    * per-batch signal for "the caps moved — schedule a full
    * compaction". One row per family over the full corpus's
    * structures: keys whose member count the batch pushed ACROSS the
    * family's cap (over the cap now, at-or-under it without the batch
    * members — for shingle dfs and embedding cells the batch-less
    * count is exactly the base corpus's count; for simhash bands it
    * treats the demoted-rep handful as their same-text stealers, the
    * standard monitor approximation and part of this operator's
    * declared semantics, oracle included), plus how many members sit
    * under a crossed key (the re-score exposure). Linear aggregates
    * only — one shingle pass + one broadcast-semi re-scan for the
    * affected count, band stats off the persisted
    * [[ensureFingerprints]] artifact, cell stats one embeddings
    * aggregate; nothing pairwise, so the monitor stays cheap enough
    * to run on every batch at 100 TB.
    */
  /** Per-key (`n_full`, `n_batch`) counts for a cap family — the ONE
    * definition of "the batch's contribution to a structural key",
    * shared by the monitor ([[compactionSignal]]) and the repair's
    * blast radius ([[affectedDocs]]) so the two can never drift. The
    * crossing PREDICATE also agrees between them: strict crossing for
    * the order-independent families (shingle dfs, cells), and the
    * widened any-over-cap-group-the-batch-touches form for the
    * positionally-capped bands — so the monitor can always fire for
    * every case the repair exists to fix.
    */
  private def capKeyCounts(
      df: DataFrame, idCol: String, keyCols: String*): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_full"),
        count(when(isBatchId(col(idCol)), lit(1))).as("n_batch"))

  /** The persisted rep fingerprints exploded to 16-bit band rows —
    * shared by the simhash crossing derivations.
    */
  private def fingerprintBands(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureFingerprints(s, dir).toString)
      .select(col("doc_id"), simhashBands(col("simhash")))

  // The three crossed-key derivations, ONE definition each consumed by
  // both the monitor (compactionSignal) and the repair's blast radius
  // (affectedDocs) — the predicates were previously written out twice,
  // which is exactly the drift class that once let the monitor go
  // blind to a case the repair handled.

  /** Shingles the batch pushed across the df cap. Order-independent
    * family (an over-cap shingle is dropped for everyone), so the
    * strict crossing form is exact.
    */
  private def crossedShingleKeys(sh: DataFrame): DataFrame =
    capKeyCounts(sh, "doc_id", "s")
      .filter(col("n_full") > SHINGLE_DF_CAP &&
        col("n_full") - col("n_batch") <= SHINGLE_DF_CAP)
      .select(col("s"))

  /** Band groups whose pair set the batch can have changed. The band
    * cap is POSITIONAL (first [[Banding.BAND_CAP]] members by doc_id), so a
    * batch ARRIVAL into a group that was already over the cap still
    * reorders the survivor set — hence every over-cap group the batch
    * touches, not only strict crossings.
    */
  private def crossedBandKeys(bands: DataFrame): DataFrame =
    capKeyCounts(bands, "doc_id", "band_idx", "band")
      .filter(col("n_full") > BAND_CAP && col("n_batch") > 0)
      .select(col("band_idx"), col("band"))

  /** Cells the batch pushed across the sub-blocking cap.
    * Order-independent (a vec's sub bucket is a pure function of its
    * own embedding), so the strict crossing form is exact.
    */
  private def crossedCellKeys(emb: DataFrame): DataFrame =
    capKeyCounts(emb, "vec_id", "label")
      .filter(col("n_full") > EMBED_CELL_CAP &&
        col("n_full") - col("n_batch") <= EMBED_CELL_CAP)
      .select(col("label"), col("n_full")) // n_full: the monitor's affected sum

  def compactionSignal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val sh = shinglesOf(docs)
    val jacCrossed = crossedShingleKeys(sh)
    val jacRow = jacCrossed.agg(count(lit(1)).as("n_crossed"))
      .crossJoin(sh.join(broadcast(jacCrossed), Seq("s"), "left_semi")
        .agg(countDistinct($"doc_id").as("n_affected")))
      .select(lit("jaccard").as("family"), $"n_crossed", $"n_affected")
    val bands = fingerprintBands(s, dir)
    val simCrossed = crossedBandKeys(bands)
    val simRow = simCrossed.agg(count(lit(1)).as("n_crossed"))
      .crossJoin(bands.join(broadcast(simCrossed), Seq("band_idx", "band"), "left_semi")
        .agg(countDistinct($"doc_id").as("n_affected")))
      .select(lit("simhash").as("family"), $"n_crossed", $"n_affected")
    val hasEmb = java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    // a vec lives in exactly one cell, so the affected count is the
    // plain sum of crossed cells' sizes — no second pass needed
    val lexRows = jacRow.union(simRow)
    val rows =
      if (!hasEmb) lexRows
      else lexRows.union(
        crossedCellKeys(Tables(s, dir, "embeddings"))
          .agg(count(lit(1)).as("n_crossed"),
            coalesce(sum($"n_full"), lit(0L)).as("n_affected"))
          .select(lit("semantic").as("family"), $"n_crossed", $"n_affected"))
    rows.withColumn("compaction_due", $"n_crossed" > 0)
      .orderBy($"family")
  }

  lazy val compactionSignalSql: String =
    s"""WITH sh AS (${shinglesSqlFrom("documents")}),
       |jac AS (
       |  SELECT s, COUNT(*) AS n_full,
       |    COUNT(*) FILTER (WHERE doc_id % 10 = 7) AS n_batch
       |  FROM sh GROUP BY 1),
       |jacc AS (
       |  SELECT s FROM jac
       |  WHERE n_full > $SHINGLE_DF_CAP AND n_full - n_batch <= $SHINGLE_DF_CAP),
       |jrow AS (SELECT 'jaccard' AS family,
       |  (SELECT COUNT(*) FROM jacc) AS n_crossed,
       |  (SELECT COUNT(DISTINCT sh.doc_id) FROM sh JOIN jacc USING (s)) AS n_affected),
       |fp AS (${simhashSqlFrom(repsSqlFrom("documents"))}),
       |bands AS (
       |  ${simhashBandsSql("fp")}),
       |sim AS (
       |  SELECT band_idx, band, COUNT(*) AS n_full,
       |    COUNT(*) FILTER (WHERE doc_id % 10 = 7) AS n_batch
       |  FROM bands GROUP BY 1, 2),
       |simc AS (
       |  -- positional cap: every over-cap group the batch touches
       |  -- (see the Spark twin's comment)
       |  SELECT band_idx, band FROM sim
       |  WHERE n_full > $BAND_CAP AND n_batch > 0),
       |srow AS (SELECT 'simhash' AS family,
       |  (SELECT COUNT(*) FROM simc) AS n_crossed,
       |  (SELECT COUNT(DISTINCT b.doc_id) FROM bands b
       |   JOIN simc c ON b.band_idx = c.band_idx AND b.band = c.band) AS n_affected),
       |sem AS (
       |  SELECT label, COUNT(*) AS n_full,
       |    COUNT(*) FILTER (WHERE vec_id % 10 = 7) AS n_batch
       |  FROM embeddings GROUP BY 1),
       |semc AS (
       |  SELECT n_full FROM sem
       |  WHERE n_full > $EMBED_CELL_CAP AND n_full - n_batch <= $EMBED_CELL_CAP),
       |erow AS (SELECT 'semantic' AS family,
       |  (SELECT COUNT(*) FROM semc) AS n_crossed,
       |  (SELECT CAST(COALESCE(SUM(n_full), 0) AS BIGINT) FROM semc) AS n_affected)
       |SELECT family, n_crossed, n_affected, n_crossed > 0 AS compaction_due
       |FROM (SELECT * FROM jrow UNION ALL SELECT * FROM srow
       |      UNION ALL SELECT * FROM erow)
       |ORDER BY family""".stripMargin

  /** Index-health / boilerplate-screening report — the operational
    * audit behind every cap in the near-dup family: per blocking-key
    * family (`shingle` df / `band` group / `cell` membership, plus
    * the MEDIA pair: `frame` window df and `prefix` ladder entries,
    * both under the multimodal FRAME_DF_CAP), the
    * total key count, the largest key's membership, how many keys sit
    * OVER the family's cap (boilerplate: capped-out of the index), and
    * how many documents carry at least one over-cap key (the docs
    * whose recall rests on the other families — [[ngramJaccard]]'s
    * documented df-cap trade). A 100 TB deployment reads this next to
    * [[compactionSignal]]: the signal says "this batch crossed a cap",
    * this report says "here is the standing boilerplate mass the caps
    * are screening, and how concentrated the worst key is".
    * MaintenanceOpsSpec pins the media rows on a corpus with a
    * planted over-cap frame (a window shared past the cap counts as
    * over-cap, its sharers as carriers).
    *
    * Scale shape (r22 fusion): the five keyed frames ride ONE
    * normalized union `(family, k1, k2, doc)` — key components cast
    * to string (injective per family; `family` is part of every
    * grouping and join key, so cross-family collisions cannot merge
    * groups) — so the whole report is ONE per-key count aggregation
    * (map-side partials absorb hot keys; its exchange carries per-key
    * partial counts, never raw postings), tiny per-family rollups
    * over those counts, and ONE broadcast semi-join carrier pass
    * (over-cap keys are few by construction — that is what the caps
    * are FOR). Before r22 this ran as five independent famRow
    * pipelines — same two logical passes per source, but 10 separate
    * scan jobs and ~55 exchanges of scheduling overhead; the driver's
    * r21 bench read it 2.6× FASTER at 8 cores than 32, the many-tiny-
    * stages signature. No pairwise anything; no corpus-sized shuffle.
    */
  def indexHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mm = graft.multimodal.Multimodal
    val docs = Tables(s, dir, "documents")
    val fams: Seq[(String, DataFrame)] = Seq(
      "band" -> normKeyed(fingerprintBands(s, dir), "band",
        col("band_idx"), col("band"), col("doc_id")),
      "cell" -> normKeyed(Tables(s, dir, "embeddings"), "cell",
        col("label"), lit(""), col("vec_id")),
      "frame" -> normKeyed(mm.frameWindowsPreCap(s, dir), "frame",
        col("frame_md5"), lit(""), col("asset_id")),
      "prefix" -> normKeyed(mm.ladderEntriesPreCap(s, docs), "prefix",
        col("l"), col("ph"), col("asset_id")),
      "shingle" -> normKeyed(shinglesOf(docs), "shingle",
        col("s"), lit(""), col("doc_id")))
    val u = fams.map(_._2).reduce(_ unionByName _)
    // ONE per-key count over the union, MATERIALIZED (localCheckpoint,
    // the Export.exportStats discipline): the stats rollup, the over-cap key
    // set, and the final report all read these rows instead of each
    // re-deriving the five keyed frames. O(distinct keys) narrow rows,
    // disk-spilling storage — the "index stats" table itself. Pin
    // lifecycle: the caller's harness (the incrDelta returned-
    // checkpoint contract).
    val cnt = u.groupBy($"family", $"k1", $"k2")
      .agg(count(lit(1)).as("m"))
      .withColumn("cap", indexHealthCapOf)
      .localCheckpoint()
    val stats = cnt.groupBy($"family").agg(
      count(lit(1)).as("n_keys"),
      max($"m").as("max_members"),
      sum(when($"m" > $"cap", 1L).otherwise(0L)).as("n_over_cap"))
    // over-cap keys are bounded by construction (that is what the
    // caps are FOR — they'd ship as a broadcast anyway), so COLLECT
    // them and prune the carrier pass to the families that actually
    // have over-cap keys: in the designed-common case (none — the
    // caps are doing their job) the second derivation of the keyed
    // frames disappears entirely, and otherwise only the affected
    // families pay it. Data-adaptive plan construction, same class as
    // AQE: the decision input is computed from the inputs inside the
    // query, nothing crosses runs.
    val overRows = cnt.filter($"m" > $"cap")
      .select($"family", $"k1", $"k2").collect()
    val overFams = overRows.map(_.getString(0)).toSet
    val carriers: Option[DataFrame] =
      if (overFams.isEmpty) None
      else {
        val overDf = broadcast(s.createDataFrame(
          java.util.Arrays.asList(overRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("family",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("k1",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("k2",
              org.apache.spark.sql.types.StringType)))))
        Some(fams.filter(f => overFams(f._1)).map(_._2)
          .reduce(_ unionByName _)
          .join(overDf, Seq("family", "k1", "k2"), "left_semi")
          .groupBy($"family").agg(countDistinct($"doc").as("n_carrier_docs")))
      }
    // zero-safe: an EMPTY family (a corpus with no media, say) reads
    // 0/0/0/0, not NULL, and never loses its row — the report is a
    // fixed-spine operational table consumers read positionally
    val spine = Seq("band", "cell", "frame", "prefix", "shingle").toDF("family")
    val withStats = spine.join(broadcast(stats), Seq("family"), "left")
    carriers.fold(withStats.withColumn("n_carrier_docs", lit(0L)))(c =>
        withStats.join(broadcast(c), Seq("family"), "left"))
      .select($"family",
        coalesce($"n_keys", lit(0L)).as("n_keys"),
        coalesce($"max_members", lit(0L)).as("max_members"),
        coalesce($"n_over_cap", lit(0L)).as("n_over_cap"),
        coalesce($"n_carrier_docs", lit(0L)).as("n_carrier_docs"))
      .orderBy($"family")
  }

  /** One cap family's keyed frame as `(family, k1: string, k2: string,
    * doc: long)` — key components cast to string (injective per
    * family; `family` is part of every grouping and join key, so
    * cross-family collisions cannot merge groups). A missing second
    * key component is the non-null sentinel `""` (never produced by a
    * cast of a numeric component), NOT null — the carrier semi-join
    * must match on it; a genuinely-null key component stays null and
    * falls out of the semi-join.
    */
  private def normKeyed(keyed: DataFrame, fam: String, k1: Column,
      k2: Column, doc: Column): DataFrame =
    keyed.select(lit(fam).as("family"), k1.cast("string").as("k1"),
      k2.cast("string").as("k2"), doc.cast("long").as("doc"))

  private def indexHealthCapOf: Column =
    when(col("family") === "band", lit(BAND_CAP.toLong))
      .when(col("family") === "cell", lit(EMBED_CELL_CAP))
      .when(col("family") === "shingle", lit(SHINGLE_DF_CAP.toLong))
      .otherwise(lit(graft.multimodal.Multimodal.FRAME_DF_CAP.toLong))

  lazy val indexHealthSql: String =
    s"""WITH shx AS (${shinglesSqlFrom("documents")}),
       |scnt AS (SELECT s, COUNT(*) AS m FROM shx GROUP BY 1),
       |shrow AS (SELECT 'shingle' AS family,
       |  (SELECT COUNT(*) FROM scnt) AS n_keys,
       |  (SELECT COALESCE(MAX(m), 0) FROM scnt) AS max_members,
       |  (SELECT COUNT(*) FROM scnt WHERE m > $SHINGLE_DF_CAP) AS n_over_cap,
       |  (SELECT COUNT(DISTINCT doc_id) FROM shx
       |   WHERE s IN (SELECT s FROM scnt WHERE m > $SHINGLE_DF_CAP)) AS n_carrier_docs),
       |fp AS (${simhashSqlFrom(repsSqlFrom("documents"))}),
       |bands AS (
       |  ${simhashBandsSql("fp")}),
       |bcnt AS (SELECT band_idx, band, COUNT(*) AS m FROM bands GROUP BY 1, 2),
       |brow AS (SELECT 'band' AS family,
       |  (SELECT COUNT(*) FROM bcnt) AS n_keys,
       |  (SELECT COALESCE(MAX(m), 0) FROM bcnt) AS max_members,
       |  (SELECT COUNT(*) FROM bcnt WHERE m > $BAND_CAP) AS n_over_cap,
       |  (SELECT COUNT(DISTINCT b.doc_id) FROM bands b
       |   JOIN (SELECT band_idx, band FROM bcnt WHERE m > $BAND_CAP) o
       |     ON b.band_idx = o.band_idx AND b.band = o.band) AS n_carrier_docs),
       |ccnt AS (SELECT label, COUNT(*) AS m FROM embeddings GROUP BY 1),
       |crow AS (SELECT 'cell' AS family,
       |  (SELECT COUNT(*) FROM ccnt) AS n_keys,
       |  (SELECT COALESCE(MAX(m), 0) FROM ccnt) AS max_members,
       |  (SELECT COUNT(*) FROM ccnt WHERE m > $EMBED_CELL_CAP) AS n_over_cap,
       |  (SELECT COUNT(DISTINCT vec_id) FROM embeddings
       |   WHERE label IN (SELECT label FROM ccnt WHERE m > $EMBED_CELL_CAP)) AS n_carrier_docs),
       |${graft.multimodal.Multimodal.mediaHealthCtesSql}
       |SELECT family, n_keys, max_members, n_over_cap, n_carrier_docs
       |FROM (SELECT * FROM shrow UNION ALL SELECT * FROM brow
       |      UNION ALL SELECT * FROM crow
       |      UNION ALL SELECT * FROM mfrow UNION ALL SELECT * FROM mlrow)
       |ORDER BY family""".stripMargin

  // ------------------------------------------------------ compaction run

  /** Crossed-corpus plant ids live here, above [[PLANT_OFF]]'s recall
    * variants — `id >= CROSS_OFF` cleanly separates the compaction
    * plants from both the fixture and the recall corpus.
    */
  private val CROSS_OFF = 2000000L

  /** Bump when the crossing-plant semantics change (doc shapes,
    * counts, marker scheme) — [[PLANT_FMT_VERSION]]'s contract.
    */
  private val CROSS_FMT_VERSION = 1

  /** Planted document text for the cap-crossing corpus. Every plant
    * carries the shared trigram `zqc0 zqc1 zqc2` (the shingle the
    * batch pushes across [[SHINGLE_DF_CAP]]) plus id-bearing filler
    * tokens that keep the texts distinct (no rep collapse, scattered
    * fingerprints). The first ten base plants additionally share a
    * per-pair trigram with their partner, so the FULL corpus still
    * holds five planted jaccard edges after the crossed shingle
    * drops — the repair must both RETRACT (the shared-trigram edges
    * the base graph derived while df sat under the cap) and RE-ADD
    * (the partner edges, which survive on their pair trigrams).
    */
  private def crossedPlantText(id: Long, i: Int, paired: Boolean): String = {
    val pair = if (paired) { val k = i / 2; s"zqp${k}0 zqp${k}1 zqp${k}2 " } else ""
    s"zqc0 zqc1 zqc2 ${pair}zqu${id}w zqu${id}x zqu${id}y zqu${id}z"
  }

  /** One-time build of the CAP-CROSSING corpus — the fixture plus 95
    * base-id and 10 batch-id planted docs sharing one trigram, so the
    * arriving batch pushes its document frequency 95 → 105 across
    * [[SHINGLE_DF_CAP]] = 100: the exactness boundary [[incrDelta]]
    * documents and [[compactionSignal]] detects, planted
    * deterministically (both engines derive the identical corpus, the
    * [[ensurePlantedCorpus]] discipline). Embeddings pass through
    * unchanged — no semantic crossing is planted; the repair's cell
    * handling is exercised by its shared derivation with the signal.
    */
  def ensureCrossedCorpus(s: SparkSession, dir: String): java.nio.file.Path = {
    val emb = stamp(dir, "embeddings")
    ensureArtifact("graft-crossed", dir, "documents",
        s"|v$CROSS_FMT_VERSION|e${emb.getOrElse("none")}") { staging =>
      import s.implicits._
      val maxId = Tables(s, dir, "documents")
        .agg(max($"doc_id")).as[Long].head()
      require(maxId < CROSS_OFF,
        s"crossed corpus: max doc_id $maxId collides with plant offset $CROSS_OFF")
      val rows =
        (0 until 95).map { i =>
          val id = CROSS_OFF + 10 * i + 1 // ≡ 1 (mod 10): base side
          (id, crossedPlantText(id, i, paired = i < 10))
        } ++ (0 until 10).map { i =>
          val id = CROSS_OFF + 10 * i + 7 // ≡ 7 (mod 10): the batch
          (id, crossedPlantText(id, i, paired = false))
        }
      val plant = rows.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("xx").as("lang"),
          lit("plant").as("source"), length($"text").cast("long").as("n_chars"))
      Tables(s, dir, "documents").unionByName(plant)
        .write.mode("overwrite")
        .parquet(staging.resolve("documents.parquet").toString)
      if (emb.isDefined)
        Tables(s, dir, "embeddings")
          .write.mode("overwrite")
          .parquet(staging.resolve("embeddings.parquet").toString)
    }
  }

  /** Docs under a crossed cap key — [[compactionSignal]]'s crossing
    * derivations, returned as the doc set instead of counts: carriers
    * of a crossed shingle, members of a crossed band group, vecs of a
    * crossed cell. This is the repair's blast radius: every pair the
    * crossing can have invalidated touches one of these docs (a
    * crossed shingle changes its carriers' kept sets; a crossed band
    * group changes its members' cap survivors; a crossed cell changes
    * its members' sub-blocking — each family's divergence is confined
    * to pairs with an endpoint in its own affected set).
    */
  private def affectedDocs(
      s: SparkSession, adir: String, demoted: DataFrame): DataFrame = {
    import s.implicits._
    val docs = Tables(s, adir, "documents")
    val sh = shinglesOf(docs)
    val jacAff = sh
      .join(broadcast(crossedShingleKeys(sh)), Seq("s"), "left_semi")
      .select($"doc_id")
    val bands = fingerprintBands(s, adir)
    // ARRIVALS: every over-cap band group the batch touches (the
    // positional cap reorders survivors — crossedBandKeys' comment).
    val arrGroups = crossedBandKeys(bands)
    // DEPARTURES: rep demotion removes the demoted doc's fingerprint
    // from its BASE band groups (the stealer's raw text shingles
    // differently, so its own fingerprint lands elsewhere); if such a
    // group sat over the cap, the full rebuild's survivor set
    // reorders — the old boundary member re-enters and gains pairs —
    // with NO batch member in the group for the arrival predicate to
    // see. Flag the base-side over-cap groups the demoted reps leave;
    // their FULL-corpus members join the blast radius. `demoted` is
    // the caller's checkpointed demotion frame — the repair derives it
    // ONCE for the blast radius and the delta (r21: it was previously
    // re-derived here, a second full md5-over-text corpus scan).
    val baseBands = fingerprintBands(s, ensureBaseCorpus(s, adir).toString)
    val depGroups = capKeyCounts(baseBands, "doc_id", "band_idx", "band")
      .filter($"n_full" > BAND_CAP)
      .select($"band_idx", $"band")
      .join(baseBands.join(broadcast(demoted), Seq("doc_id"), "left_semi")
        .select($"band_idx", $"band").distinct(),
        Seq("band_idx", "band"), "left_semi")
    // The band radius is the SURVIVOR-SET SYMMETRIC DIFFERENCE of each
    // flagged group, not its full membership (the formerly-recorded
    // future optimization, now the shipped form). Why it is exact:
    // band pairs exist only among a group's cap survivors; the
    // incremental delta generates batch-side pairs through
    // simPairsTouching, which applies the IDENTICAL positional cap
    // over full-corpus bands — so pairs among members in BOTH
    // survivor sets (base ∩ full) agree between the maintained graph
    // and the rebuild, and every divergence (a displaced/demoted
    // member's stale pairs, an entrant/re-admitted member's missing
    // pairs) has an endpoint in base Δ full. Retract + regen on that
    // difference is therefore the minimal correct radius: a
    // permanently-over-cap boilerplate band now costs each batch its
    // ENTRANT/DISPLACED count, not its cap-sized membership
    // (CompactionRunSpec pins both the equality and the minimality).
    val flaggedGroups = arrGroups.union(depGroups)
    val fullSurv = capBandGroups(
      bands.join(broadcast(flaggedGroups), Seq("band_idx", "band"), "left_semi"))
      .select($"band_idx", $"band", $"doc_id")
    val baseSurv = capBandGroups(
      baseBands.join(broadcast(flaggedGroups), Seq("band_idx", "band"), "left_semi"))
      .select($"band_idx", $"band", $"doc_id")
    val simAff = fullSurv.unionByName(baseSurv)
      .groupBy($"band_idx", $"band", $"doc_id")
      .agg(count(lit(1)).as("k"))
      .filter($"k" === 1)
      .select($"doc_id")
    val hasEmb = java.nio.file.Files.exists(
      java.nio.file.Paths.get(adir, "embeddings.parquet"))
    val lexAff = jacAff.union(simAff)
    val all =
      if (!hasEmb) lexAff
      else {
        val emb = Tables(s, adir, "embeddings")
        lexAff.union(emb
          .join(broadcast(crossedCellKeys(emb).select($"label")),
            Seq("label"), "left_semi")
          .select($"vec_id".as("doc_id")))
      }
    all.distinct()
  }

  /** Compaction REPAIR — the operator [[compactionSignal]] schedules:
    * rebuild the maintained near-dup graph at exactly the keys the
    * batch pushed across a structural cap, leaving every other edge
    * untouched, instead of the full-corpus rebuild the signal would
    * otherwise force. Runs over [[ensureCrossedCorpus]] — a planted
    * crossing (df 95 → 105 across [[SHINGLE_DF_CAP]]) the
    * incremental path provably gets wrong: the base graph derived
    * C(85,2)+5 edges from the shared trigram while its df sat under
    * the cap; the full rebuild drops that shingle, keeping only the
    * five partner-trigram edges.
    *
    * The repair: take the incrementally-maintained graph
    * ([[incrEdges]] — base edges kept + batch delta), retract every
    * pair touching an affected doc ([[affectedDocs]] — the crossings'
    * complete blast radius), and regenerate those docs' pairs with
    * the full-corpus family pipelines (the [[jacPairsTouching]] /
    * [[simPairsTouching]] / [[semPairsTouching]] cores, which already
    * compute full-pipeline semantics restricted to pairs touching a
    * doc set). Cost scales with the affected sets, not the corpus —
    * the daily-compaction shape a 100 TB dedup service runs when its
    * monitor fires. Output is the repaired edge set with `repaired` =
    * the pair has an affected endpoint (went through the rebuild
    * stage); the oracle derives the SAME planted corpus as CTEs and
    * rebuilds the whole graph from scratch, so the hash match IS the
    * "repair ≡ full rebuild" proof on a corpus where the unrepaired
    * maintained graph demonstrably diverges.
    */
  def compactionRun(s: SparkSession, dir: String): DataFrame =
    compactionRepair(s, ensureCrossedCorpus(s, dir).toString)

  /** The repair itself, over an arbitrary corpus dir — split from
    * [[compactionRun]] so the engineered-corpus specs can drive it
    * directly (the declared query plants its own crossing).
    */
  private[graft] def compactionRepair(s: SparkSession, adir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, adir, "documents")
    // ONE demotion derivation for the whole repair — the blast radius
    // (affectedDocs) and the delta below both consume it; before r21
    // each re-derived it (two full md5-over-text corpus scans for a
    // handful of rows).
    val demoted0 = docs
      .select($"doc_id", md5(lower(trim($"text")).cast("binary")).as("h"))
      .groupBy($"h")
      .agg(min($"doc_id").as("full_min"),
        min(when(!isBatchId($"doc_id"), $"doc_id")).as("base_min"))
      .filter($"base_min".isNotNull && $"full_min" =!= $"base_min")
      .select($"base_min".as("doc_id"))
    // ONE fused materialization for the two bounded id sets (r22):
    // demoted and the blast radius used to ride two SERIALIZED eager
    // pins; tagged onto a single checkpoint they materialize in one
    // job, inside which the demotion frame's aggregation subtree is
    // planned once and shared (runtime exchange reuse) by the radius
    // derivation — the incrDelta fused-checkpoint discipline.
    val ids = demoted0.select($"doc_id", lit("d").as("set"))
      .unionByName(affectedDocs(s, adir, demoted0)
        .select($"doc_id", lit("a").as("set")))
      .localCheckpoint()
    val demoted = ids.filter($"set" === "d").select($"doc_id")
    val aff = ids.filter($"set" === "a").select($"doc_id")
    val batch = docs.filter(isBatchId($"doc_id")).select($"doc_id")
    val hasEmb = java.nio.file.Files.exists(
      java.nio.file.Paths.get(adir, "embeddings.parquet"))
    // FUSED touching runs (r21): before, each family pipeline ran
    // TWICE — once inside incrDelta (the maintained graph's delta,
    // touch = batch ∪ demoted for jaccard / batch for simhash and
    // semantic) and once for the rebuild stage (touch = aff) — so the
    // repair paid the posting-group collect + one-sided explode twice
    // per family. Run each family ONCE over the union touch set and
    // take exact endpoint-membership slices. Exactness: the one-sided
    // generators emit, for touch set T, precisely the family's
    // above-threshold pairs with ≥1 endpoint in T — the shared-count
    // c, sizes na/nb, band-cap survivors, and cell sub-blocking are
    // all functions of the CORPUS structures, not of T (group pruning
    // keeps surviving groups' membership intact; the both-touched
    // orientation rule only dedups row multiplicity) — so for S ⊆ T,
    // { p ∈ pairs(T) : endpoint(p) ∩ S ≠ ∅ } = pairs(S). The union
    // sets here are disjointness-safe: .distinct() guards the overlap
    // (aff contains batch carriers), since the touching cores key a
    // row-multiplying join on the touch frame.
    // the three fused family runs ride ONE tagged checkpoint (r22) —
    // one materialization job instead of three serialized ones, with
    // the family pipelines scheduling concurrently inside it; every
    // slice below is a row-local filter over the materialized pairs
    val pairsAll = {
      val pj = jacPairsTouching(s, adir,
          batch.union(demoted).union(aff).distinct())
        .select($"a_id", $"b_id", lit("j").as("fam"))
      val ps = simPairsTouching(s, adir, batch.union(aff).distinct())
        .select($"a_id", $"b_id", lit("s").as("fam"))
      val all =
        if (hasEmb) pj.unionByName(ps)
          .unionByName(semPairsTouching(s, adir, batch.union(aff).distinct())
            .select($"a_id", $"b_id", lit("e").as("fam")))
        else pj.unionByName(ps)
      all.localCheckpoint()
    }
    val pJac = pairsAll.filter($"fam" === "j").select($"a_id", $"b_id")
    val pSim = pairsAll.filter($"fam" === "s").select($"a_id", $"b_id")
    val pSem =
      if (hasEmb) Some(pairsAll.filter($"fam" === "e").select($"a_id", $"b_id"))
      else None
    // endpoint-membership slices over the materialized pair sets —
    // batch membership is a row-local predicate, demoted/aff are
    // bounded broadcast lookups
    val isBatchPair = isBatchId($"a_id") || isBatchId($"b_id")
    def endpointIn(p: DataFrame, ids: DataFrame): DataFrame =
      p.join(broadcast(ids.select($"doc_id".as("a_id"), lit(true).as("_fa"))),
          Seq("a_id"), "left")
        .join(broadcast(ids.select($"doc_id".as("b_id"), lit(true).as("_fb"))),
          Seq("b_id"), "left")
        .filter($"_fa".isNotNull || $"_fb".isNotNull)
        .select($"a_id", $"b_id")
    // the maintained graph's delta, exactly incrDelta's derivation
    // over the fused slices: plus = batch-endpoint pairs of every
    // family; minus = demotion-touched base lex edges no longer
    // jaccard-supported
    val lexPlus = pJac.filter(isBatchPair).union(pSim.filter(isBatchPair))
    val plus =
      pSem.fold(lexPlus)(ps => lexPlus.union(ps.filter(isBatchPair))).distinct()
    val jacTouch = pJac.filter(isBatchPair)
      .union(endpointIn(pJac, demoted))
      .distinct()
    val baseEdges = s.read.parquet(
      ensureEdgeGraph(s, ensureBaseCorpus(s, adir).toString).toString)
    val baseLex = baseEdges.filter($"fam" === "lex").select($"a_id", $"b_id")
    val touchDem = baseLex
      .join(demoted.select($"doc_id".as("a_id")), Seq("a_id"), "left_semi")
      .select($"a_id", $"b_id")
      .union(baseLex
        .join(demoted.select($"doc_id".as("b_id")), Seq("b_id"), "left_semi")
        .select($"a_id", $"b_id"))
      .distinct()
    val minus = touchDem.except(jacTouch)
    // maintained = incrEdges over the same delta: base lex minus the
    // retractions, non-lex rows through, plus the batch-endpoint pairs
    // (plus ∩ base = ∅ — every plus pair has a batch endpoint, absent
    // from the base corpus)
    val maintained = baseLex.except(minus)
      .union(baseEdges.filter($"fam" =!= "lex").select($"a_id", $"b_id"))
      .distinct()
      .union(plus)
    val kept = maintained
      .join(broadcast(aff.select($"doc_id".as("a_id"))), Seq("a_id"), "left_anti")
      .join(broadcast(aff.select($"doc_id".as("b_id"))), Seq("b_id"), "left_anti")
    val lexRebuilt = endpointIn(pJac, aff).unionByName(endpointIn(pSim, aff))
    val rebuilt =
      pSem.fold(lexRebuilt)(ps => lexRebuilt.unionByName(endpointIn(ps, aff)))
        .distinct()
    // materialize the repaired edge set (bounded: the corpus's edge
    // graph) and FREE the intermediate pins — before r22 up to six
    // pinned RDDs per invocation were left to the caller's harness
    // (the r21 ADVICE item); now the returned frame is the only
    // surviving pin (the incrDelta returned-checkpoint contract).
    val out = kept.select($"a_id", $"b_id", lit(false).as("repaired"))
      .unionByName(rebuilt.select($"a_id", $"b_id", lit(true).as("repaired")))
      .localCheckpoint()
    freeCheckpoint(ids)
    freeCheckpoint(pairsAll)
    out.orderBy($"a_id", $"b_id")
  }

  /** DuckDB twin: derive the identical planted corpus as CTEs, then
    * FULL-REBUILD the three-family edge graph over it — the Spark
    * side never rebuilds, so the hash match proves the targeted
    * repair reproduces the rebuild exactly. `repaired` ground truth
    * is affected-endpoint membership, derived with the same crossing
    * arithmetic.
    */
  lazy val compactionRunSql: String = {
    def plantSel(off: Long, n: Int, pairedUpto: Int): String = {
      val id = s"CAST($CROSS_OFF + 10 * i + $off AS BIGINT)"
      val ids = s"CAST($id AS VARCHAR)"
      val pair = "'zqp' || CAST(i // 2 AS VARCHAR) || '0 zqp' || " +
        "CAST(i // 2 AS VARCHAR) || '1 zqp' || CAST(i // 2 AS VARCHAR) || '2 '"
      val pairPart =
        if (pairedUpto > 0) s"CASE WHEN i < $pairedUpto THEN $pair ELSE '' END"
        else "''"
      s"""SELECT $id AS doc_id,
         |    'zqc0 zqc1 zqc2 ' || $pairPart ||
         |    'zqu' || $ids || 'w zqu' || $ids || 'x zqu' || $ids ||
         |    'y zqu' || $ids || 'z' AS text
         |  FROM range(0, $n) t(i)""".stripMargin
    }
    s"""WITH plant AS (
       |  SELECT doc_id, text, 'xx' AS lang, 'plant' AS source,
       |    CAST(length(text) AS BIGINT) AS n_chars FROM (
       |  ${plantSel(1, 95, pairedUpto = 10)}
       |  UNION ALL
       |  ${plantSel(7, 10, pairedUpto = 0)})),
       |adocs AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM documents
       |  UNION ALL SELECT * FROM plant),
       |${edgeFamilyCtesSql("adocs", "embeddings")},
       |edges AS (
       |  SELECT a_id, b_id FROM jac UNION SELECT a_id, b_id FROM sim
       |  UNION SELECT a_id, b_id FROM sem),
       |shx AS (${shinglesSqlFrom("adocs")}),
       |dfx AS (
       |  SELECT s, COUNT(*) AS n_full,
       |    COUNT(*) FILTER (WHERE doc_id % 10 = 7) AS n_batch
       |  FROM shx GROUP BY 1),
       |jaff AS (
       |  SELECT DISTINCT doc_id FROM shx WHERE s IN (
       |    SELECT s FROM dfx
       |    WHERE n_full > $SHINGLE_DF_CAP AND n_full - n_batch <= $SHINGLE_DF_CAP)),
       |fpx AS (${simhashSqlFrom(repsSqlFrom("adocs"))}),
       |bx AS (
       |  ${simhashBandsSql("fpx")}),
       |bc AS (
       |  -- the repair's WIDENED band predicate (positional cap: any
       |  -- over-cap group the batch touches — see affectedDocs)
       |  SELECT band_idx, band FROM (
       |    SELECT band_idx, band, COUNT(*) AS n_full,
       |      COUNT(*) FILTER (WHERE doc_id % 10 = 7) AS n_batch
       |    FROM bx GROUP BY 1, 2)
       |  WHERE n_full > $BAND_CAP AND n_batch > 0),
       |-- DEPARTURES: base-side over-cap band groups a demoted rep's
       |-- fingerprint leaves (see affectedDocs' Spark twin)
       |bdocs AS (SELECT * FROM adocs WHERE doc_id % 10 <> 7),
       |mins AS (
       |  SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS full_min,
       |    MIN(CASE WHEN doc_id % 10 <> 7 THEN doc_id END) AS base_min
       |  FROM adocs GROUP BY 1),
       |dem AS (
       |  SELECT base_min AS doc_id FROM mins
       |  WHERE base_min IS NOT NULL AND full_min <> base_min),
       |bfpx AS (${simhashSqlFrom(repsSqlFrom("bdocs"))}),
       |bbx AS (
       |  ${simhashBandsSql("bfpx")}),
       |depg AS (
       |  SELECT g.band_idx, g.band FROM
       |    (SELECT band_idx, band, COUNT(*) AS n FROM bbx GROUP BY 1, 2) g
       |    JOIN (SELECT DISTINCT band_idx, band FROM bbx
       |          JOIN dem USING (doc_id)) d
       |      ON g.band_idx = d.band_idx AND g.band = d.band
       |  WHERE g.n > $BAND_CAP),
       |-- band radius = survivor-set symmetric difference per flagged
       |-- group (see affectedDocs' Spark twin for the exactness proof)
       |flg AS (SELECT band_idx, band FROM bc
       |        UNION SELECT band_idx, band FROM depg),
       |fsurv AS (
       |  SELECT band_idx, band, doc_id FROM (
       |    SELECT b.band_idx, b.band, b.doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band
       |        ORDER BY b.doc_id) AS rn
       |    FROM bx b JOIN flg USING (band_idx, band))
       |  WHERE rn <= $BAND_CAP),
       |bsurv AS (
       |  SELECT band_idx, band, doc_id FROM (
       |    SELECT b.band_idx, b.band, b.doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY b.band_idx, b.band
       |        ORDER BY b.doc_id) AS rn
       |    FROM bbx b JOIN flg USING (band_idx, band))
       |  WHERE rn <= $BAND_CAP),
       |saff AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT band_idx, band, doc_id, COUNT(*) AS k
       |    FROM (SELECT * FROM fsurv UNION ALL SELECT * FROM bsurv)
       |    GROUP BY 1, 2, 3)
       |  WHERE k = 1),
       |cc AS (
       |  SELECT label FROM (
       |    SELECT label, COUNT(*) AS n_full,
       |      COUNT(*) FILTER (WHERE vec_id % 10 = 7) AS n_batch
       |    FROM embeddings GROUP BY 1)
       |  WHERE n_full > $EMBED_CELL_CAP AND n_full - n_batch <= $EMBED_CELL_CAP),
       |eaff AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings JOIN cc USING (label)),
       |aff AS (SELECT doc_id FROM jaff UNION SELECT doc_id FROM saff
       |        UNION SELECT doc_id FROM eaff)
       |SELECT e.a_id, e.b_id,
       |  (e.a_id IN (SELECT doc_id FROM aff)
       |   OR e.b_id IN (SELECT doc_id FROM aff)) AS repaired
       |FROM edges e
       |ORDER BY a_id, b_id""".stripMargin
  }

  lazy val dedupFullSql: String =
    s"""WITH RECURSIVE
       |$lexEdgeCtesSql,
       |ep AS ($embedNearDupSql),
       |reps AS (
       |  SELECT doc_id, min(doc_id) OVER (
       |    PARTITION BY md5(lower(trim(text)))) AS rep FROM documents),
       |edges AS (
       |  SELECT a_id, b_id FROM lex_edges UNION SELECT a_id, b_id FROM ep
       |  UNION SELECT rep, doc_id FROM reps WHERE doc_id <> rep),
       |${closureCtesSql("edges")},
       |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id,
       |  COALESCE(c.cluster_id, d.doc_id) AS keep_id,
       |  d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_kept
       |FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Duplicate-cluster size distribution — the one-glance answer to
    * "how duplicated is this corpus": for each cluster size (1 =
    * unique documents), how many clusters have it. Builds on
    * [[dedupFull]], so singletons, exact-dup groups, and near-dup
    * chains all land in one histogram. Two tiny aggregations over the
    * full pipeline's cost; output rows are bounded by the largest
    * cluster size.
    */
  def clusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    keepMapOf(s, dir)
      .groupBy($"keep_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy($"cluster_size")
  }

  lazy val clusterSizesSql: String =
    s"""SELECT cluster_size, COUNT(*) AS n_clusters FROM (
       |  SELECT keep_id, COUNT(*) AS cluster_size FROM ($dedupFullSql)
       |  GROUP BY keep_id)
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Keep-policy quality audit — the report read before switching rep
    * selection from min-id to best-quality: per duplicate cluster
    * (size ≥ 2), the KEPT document's quality next to the cluster's
    * best member quality (both floor-micro ints of the shared
    * [[qualityCol]] formula), the regret between them, and a
    * `suboptimal` flag. Min-id rep selection is what makes the dedup
    * decision order-free and incremental-friendly ([[dedupFull]]);
    * this audit measures what that policy costs in kept quality —
    * clusters where `regret_micro > 0` are exactly the docs a
    * quality-aware policy would keep differently. Cost: one quality
    * pass joined to the bucketed keep-map (decision side ships no
    * exchange), one cluster-keyed aggregate; the kept member is
    * recovered map-side via `max(when(is_kept...))` — no second join
    * back to the cluster rep.
    */
  def repQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables(s, dir, "documents")
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id",
        floor(qualityCol($"text", $"w") * 1000000.0).cast("long").as("qm"))
    keepMapOf(s, dir)
      .join(q, "doc_id")
      .groupBy($"keep_id")
      .agg(count(lit(1)).as("cluster_size"),
        max(when($"is_kept", $"qm")).as("kept_q_micro"),
        max($"qm").as("best_q_micro"))
      .filter($"cluster_size" >= 2L)
      .select($"keep_id", $"cluster_size", $"kept_q_micro", $"best_q_micro",
        ($"best_q_micro" - $"kept_q_micro").as("regret_micro"))
      .withColumn("suboptimal", $"regret_micro" > 0L)
      .orderBy($"keep_id")
  }

  lazy val repQualitySql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(floor((${qualitySql("text")}) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qm
       |  FROM documents)
       |SELECT keep_id, cluster_size, kept_q_micro, best_q_micro,
       |  best_q_micro - kept_q_micro AS regret_micro,
       |  best_q_micro - kept_q_micro > 0 AS suboptimal
       |FROM (
       |  SELECT f.keep_id, COUNT(*) AS cluster_size,
       |    MAX(CASE WHEN f.is_kept THEN q.qm END) AS kept_q_micro,
       |    MAX(q.qm) AS best_q_micro
       |  FROM ($dedupFullSql) f JOIN q USING (doc_id)
       |  GROUP BY f.keep_id)
       |WHERE cluster_size >= 2
       |ORDER BY keep_id""".stripMargin

  /** Quality-aware keep decision — the policy switch [[repQuality]]'s
    * audit evaluates, shipped as its own operator: per duplicate
    * cluster keep the argmax-quality member (floor-micro of the shared
    * [[qualityCol]], ties to the smaller doc_id), emitting the same
    * (doc_id, keep_id, is_kept) contract as [[dedupFull]] so a
    * pipeline can swap policies without touching consumers. Cluster
    * identity still comes from the min-label components pass — the
    * policy changes WHICH member survives, never the clustering, so
    * the incremental maintenance story is untouched (labels are
    * policy-free; the best-member choice recomputes per cluster from
    * the bucketed keep-map). The argmax is a groupBy `max(struct)` —
    * map-side partials collapse a billion-copy cluster per task (the
    * [[dedupFull]] de-skew discipline), where a window over the
    * cluster partition would serialize the hot cluster through one
    * reducer.
    */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    keepBestDecision(s, dir).orderBy($"doc_id")
  }

  /** [[keepBest]] without the presentation sort — what
    * [[ensureBaseKeepBest]] materializes (the [[dedupDecision]] /
    * [[dedupFull]] split).
    */
  private def keepBestDecision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables(s, dir, "documents")
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id",
        floor(qualityCol($"text", $"w") * 1000000.0).cast("long").as("qm"))
    val km = keepMapOf(s, dir)
    // max(struct(qm, -doc_id)): highest quality, then smallest id
    val best = km.join(q, "doc_id")
      .groupBy($"keep_id")
      .agg(max(struct($"qm", (-$"doc_id").as("nid"))).as("m"))
      .select($"keep_id", (-$"m.nid").as("best_id"))
    km.join(best, "keep_id")
      .select($"doc_id", $"best_id".as("keep_id"),
        ($"doc_id" === $"best_id").as("is_kept"))
  }

  lazy val keepBestSql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(floor((${qualitySql("text")}) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qm
       |  FROM documents),
       |f AS ($dedupFullSql),
       |best AS (
       |  SELECT keep_id, doc_id AS best_id FROM (
       |    SELECT f.keep_id, q.doc_id,
       |      row_number() OVER (
       |        PARTITION BY f.keep_id ORDER BY q.qm DESC, q.doc_id) AS rn
       |    FROM f JOIN q USING (doc_id))
       |  WHERE rn = 1)
       |SELECT f.doc_id, b.best_id AS keep_id,
       |  f.doc_id = b.best_id AS is_kept
       |FROM f JOIN best b USING (keep_id)
       |ORDER BY f.doc_id""".stripMargin

  /** One-time materialization of YESTERDAY's keep-best decisions —
    * [[keepBest]] over the base corpus, written as a
    * `bucketBy(doc_id)` layout aligned with [[KEEP_MAP]] so the
    * incremental path's passthrough join ships zero exchange. Keyed
    * on the BASE keep-map artifact's name (corpus stamp, edge format,
    * and embedding stamp invalidate transitively) PLUS
    * [[KEEP_BEST_FMT_VERSION]]: bump that token whenever the quality
    * formula or the argmax tie-break changes, or stale persisted
    * decisions would silently ride through [[keepBestIncr]]'s
    * untouched-cluster passthrough.
    */
  def ensureBaseKeepBest(s: SparkSession, dir: String): java.nio.file.Path = {
    val baseDir = ensureBaseCorpus(s, dir).toString
    val baseMap = ensureKeepMap(s, baseDir)
    BASE_KEEP_BEST.ensure(s, dir, s"|v$KEEP_BEST_FMT_VERSION|p${baseMap.getFileName}")(
      keepBestDecision(s, baseDir))
  }

  /** Yesterday's keep-best artifact `(doc_id, keep_id, is_kept)` as a
    * bucket-aware DataFrame ([[Artifacts.Bucketed]]).
    */
  private[graft] def baseKeepBestOf(s: SparkSession, dir: String): DataFrame =
    BASE_KEEP_BEST.read(s, ensureBaseKeepBest(s, dir))

  /** Incremental keep-best — the policy layer's per-batch maintenance,
    * completing for [[keepBest]] what `x_incr_clusters` completed for
    * clustering: given yesterday's decisions ([[ensureBaseKeepBest]])
    * and the two bucketed keep-maps, recompute the argmax-quality
    * keeper ONLY over clusters the batch touched; every other doc
    * passes yesterday's row through untouched, flagged `recomputed =
    * false`.
    *
    * Touched = today-clusters that gained a batch member or whose id
    * moved, PLUS the base-cluster ids such moves departed — the
    * departure side matters: a cluster that merely LOST its
    * best-quality member to another cluster keeps every surviving
    * member's keep-map id, so only the departed doc's `base_keep`
    * names it for recompute. The map diff is a bucket-aligned left
    * join (both maps bucketed by doc_id into [[KEEP_BUCKETS]] — zero
    * exchange); the touched set and the per-cluster argmax results
    * are batch-blast-radius-sized, so they broadcast; the quality
    * pass scans only touched members (broadcast semi into the
    * document scan, never a corpus shuffle). The oracle recomputes
    * keep-best from scratch over the full corpus and derives
    * `recomputed` from the same map diff — the hash match is the
    * incremental ≡ full-recompute proof, exactly the
    * `x_incr_clusters` contract.
    *
    * EXACTNESS: unconditional. An untouched cluster has identical
    * membership to its same-id base cluster (docs never leave the
    * corpus; any join/depart flags both sides), and quality is
    * per-row deterministic — so yesterday's argmax row is today's.
    * Unlike the edge families there is no cap boundary: the policy
    * layer consumes the maintained keep-map, whatever machinery
    * (incremental or compaction) produced it.
    */
  def keepBestIncr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseDir = ensureBaseCorpus(s, dir).toString
    val today = keepMapOf(s, dir).select($"doc_id", $"keep_id")
    val base = keepMapOf(s, baseDir)
      .select($"doc_id", $"keep_id".as("base_keep"))
    val changed = today.join(base, Seq("doc_id"), "left")
      .filter(isBatchId($"doc_id") || $"base_keep".isNull ||
        $"base_keep" =!= $"keep_id")
    val touched = changed.select($"keep_id".as("t"))
      .union(changed.filter($"base_keep".isNotNull).select($"base_keep".as("t")))
      .distinct()
    val touchedMembers =
      today.join(broadcast(touched), $"keep_id" === $"t", "left_semi")
    val qm = Tables(s, dir, "documents")
      .join(broadcast(touchedMembers.select($"doc_id")), Seq("doc_id"), "left_semi")
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id",
        floor(qualityCol($"text", $"w") * 1000000.0).cast("long").as("qm"))
    val best = touchedMembers.join(qm, "doc_id")
      .groupBy($"keep_id")
      .agg(max(struct($"qm", (-$"doc_id").as("nid"))).as("m"))
      .select($"keep_id".as("t2"), (-$"m.nid").as("best_id"))
    val rec = touchedMembers.join(broadcast(best), $"keep_id" === $"t2")
      .select($"doc_id", $"best_id".as("keep_id"),
        ($"doc_id" === $"best_id").as("is_kept"), lit(true).as("recomputed"))
    val pass = baseKeepBestOf(s, dir)
      .join(today.join(broadcast(touched), $"keep_id" === $"t", "left_anti")
        .select($"doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("recomputed", lit(false))
    rec.unionByName(pass).orderBy($"doc_id")
  }

  /** The full keep-map — [[dedupFullSql]]'s closure (near-dup ∪
    * exact edges) parameterized over a documents/embeddings source
    * pair, as a self-contained `(WITH RECURSIVE … SELECT doc_id,
    * keep_id)` subquery body for [[keepBestIncrSql]]'s base/full
    * twin derivation.
    */
  private def keepMapSqlFrom(docsSrc: String, embSrc: String): String =
    s"""WITH RECURSIVE
       |${edgeFamilyCtesSql(docsSrc, embSrc)},
       |reps AS (
       |  SELECT doc_id, min(doc_id) OVER (
       |    PARTITION BY md5(lower(trim(text)))) AS rep FROM $docsSrc),
       |edges AS (
       |  SELECT a_id, b_id FROM jac UNION SELECT a_id, b_id FROM sim
       |  UNION SELECT a_id, b_id FROM sem
       |  UNION SELECT rep, doc_id FROM reps WHERE doc_id <> rep),
       |${closureCtesSql("edges")},
       |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS keep_id
       |FROM $docsSrc d LEFT JOIN cl c ON d.doc_id = c.id""".stripMargin

  /** DuckDB twin of [[keepBestIncr]]: ground truth by FULL recompute —
    * both keep-maps derived from scratch, keep-best as the plain
    * cluster argmax over the full map, and `recomputed` from the
    * identical map-diff definition. The Spark side never recomputes
    * untouched clusters; matching this oracle is the incremental ≡
    * full proof.
    */
  lazy val keepBestIncrSql: String =
    s"""WITH
       |base_docs AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
       |base_emb AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
       |fmap AS (${keepMapSqlFrom("documents", "embeddings")}),
       |bmap AS (${keepMapSqlFrom("base_docs", "base_emb")}),
       |q AS (
       |  SELECT doc_id,
       |    CAST(floor((${qualitySql("text")}) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qm
       |  FROM documents),
       |fbest AS (
       |  SELECT keep_id, doc_id AS best_id FROM (
       |    SELECT f.keep_id, q.doc_id,
       |      row_number() OVER (
       |        PARTITION BY f.keep_id ORDER BY q.qm DESC, q.doc_id) AS rn
       |    FROM fmap f JOIN q USING (doc_id))
       |  WHERE rn = 1),
       |changed AS (
       |  SELECT f.doc_id, f.keep_id, b.keep_id AS base_keep
       |  FROM fmap f LEFT JOIN bmap b USING (doc_id)
       |  WHERE f.doc_id % 10 = 7 OR b.keep_id IS NULL OR b.keep_id <> f.keep_id),
       |touched AS (
       |  SELECT keep_id AS t FROM changed
       |  UNION SELECT base_keep FROM changed WHERE base_keep IS NOT NULL)
       |SELECT f.doc_id, fb.best_id AS keep_id, f.doc_id = fb.best_id AS is_kept,
       |  f.keep_id IN (SELECT t FROM touched) AS recomputed
       |FROM fmap f JOIN fbest fb ON f.keep_id = fb.keep_id
       |ORDER BY f.doc_id""".stripMargin

  /** Below this quality score (the [[qualityScore]] formula, ~25th
    * percentile on the fixture corpus) a document is dropped from the
    * training manifest.
    */
  private[graft] val QUALITY_MIN = 0.30d

  /** Per-language keep rates for [[weightedMix]] and
    * [[corpusManifest]] (declared here, before both SQL consumers —
    * a val referencing it must initialize after it).
    */
  private val MIX_RATES: Seq[(String, Int)] =
    Seq("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 25)

  // The mix coin and the quality formula each have exactly ONE
  // definition per engine, shared by every consumer ([[weightedMix]],
  // [[qualityScore]], [[corpusManifest]]) — a rate/weight/salt tweak
  // in one copy can't silently desynchronize another consumer from
  // its oracle.
  private def mixRateCol: Column =
    MIX_RATES.foldRight(lit(0)) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }

  private def mixBucketCol: Column =
    conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast("long") % 100

  private def mixRateSql(lang: String): String = {
    val cases = MIX_RATES.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"CASE $lang $cases ELSE 0 END"
  }

  private def mixBucketSql(id: String): String =
    s"('0x' || substr(md5('mix|' || CAST($id AS VARCHAR)), 1, 4))::BIGINT % 100"

  /** Mix-coin calibration eval — the report that ships with
    * [[weightedMix]] (the [[langConfusion]] discipline applied to the
    * sampler): per language the configured keep-rate, the documents
    * and kept documents under the deterministic md5 coin, the
    * REALIZED rate in exact ppm, and its signed deviation from
    * nominal. The md5 bucket is uniform only asymptotically — on a
    * small stratum the realized rate wanders (binomial noise, made
    * visible here instead of assumed away), and a systematic skew
    * would mean the coin's bucket space is biased, the failure this
    * eval exists to catch before a mix ships. One scan, one
    * langs-keyed aggregate; the rate is a per-lang constant so
    * `first` is deterministic.
    */
  def mixRealized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"lang", mixRateCol.as("rate"), mixBucketCol.as("bucket"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"bucket" < $"rate", lit(1))).as("n_kept"),
        first($"rate").cast("long").as("rate_pct"))
      .select($"lang", $"rate_pct", $"n_docs", $"n_kept",
        expr("(n_kept * 1000000) div n_docs").as("realized_ppm"),
        expr("(n_kept * 1000000) div n_docs - rate_pct * 10000").as("dev_ppm"))
      .orderBy($"lang")
  }

  lazy val mixRealizedSql: String =
    s"""SELECT lang, rate_pct, n_docs, n_kept,
       |  CAST(n_kept * 1000000 // n_docs AS BIGINT) AS realized_ppm,
       |  CAST(n_kept * 1000000 // n_docs - rate_pct * 10000 AS BIGINT) AS dev_ppm
       |FROM (
       |  SELECT lang,
       |    CAST(${mixRateSql("lang")} AS BIGINT) AS rate_pct,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN ${mixBucketSql("doc_id")} < ${mixRateSql("lang")}
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM documents GROUP BY lang)
       |ORDER BY lang""".stripMargin

  /** The quality formula — `w` is the pre-split token array. Fixed
    * expression order, so the double is bit-identical across engines.
    * `private[graft]`: the streaming quality gate
    * ([[graft.streaming.Streams.qualityGate]]) applies the SAME
    * formula per micro-batch row, so batch and stream can never score
    * a document differently.
    */
  private[graft] def qualityCol(text: Column, w: Column): Column = {
    val nTok = size(w).cast("long")
    val nChars = length(text).cast("long")
    val stop = size(filter(w, x => x === "the" || x === "a")).cast("long")
    val avgTokLen = (nChars - nTok + 1).cast("double") / nTok
    (stop.cast("double") / nTok) * 0.5 +
      least(avgTokLen / 8.0, lit(1.0)) * 0.3 +
      least(nTok.cast("double") / 64.0, lit(1.0)) * 0.2
  }

  private def qualitySql(t: String): String = {
    val nTok = s"CAST(len(string_split($t, ' ')) AS BIGINT)"
    val stop = s"CAST(len(list_filter(string_split($t, ' '), x -> x = 'the' OR x = 'a')) AS BIGINT)"
    s"(CAST($stop AS DOUBLE) / $nTok) * 0.5" +
      s" + least((CAST(CAST(length($t) AS BIGINT) - $nTok + 1 AS DOUBLE) / $nTok) / 8.0, 1.0) * 0.3" +
      s" + least(CAST($nTok AS DOUBLE) / 64.0, 1.0) * 0.2"
  }

  /** Ingest-batch documents whose measured [[noveltyCore]] ppm is
    * below this floor are dropped by the manifest's `not_novel` stage:
    * under 20% of their context windows add anything the corpus
    * doesn't already have — a rehash, not new signal. Corpus
    * (non-batch) documents are exempt by construction (they ARE the
    * universe novelty is measured against), as are sub-shingle docs
    * (< 3 tokens: no signal, no drop).
    */
  private[graft] val NOVELTY_MIN = 200000L

  /** The corpus manifest — the capstone artifact a curation pipeline
    * hands to training: for EVERY document, keep or drop plus the
    * first pipeline stage that dropped it (`duplicate` from the
    * [[dedupFull]] decision, `not_novel` for ingest-batch docs under
    * the [[NOVELTY_MIN]] floor, `low_quality` below [[QUALITY_MIN]],
    * `mix_downsampled` by the [[weightedMix]] coin, else `kept`).
    * Stage order is the production order — dedup before novelty
    * before quality before mix — so downstream per-reason counts
    * attribute each loss to one stage. Quality and the mix coin are
    * per-row expressions fused into the document scan; the near-dup
    * side rides the [[ensureEdgeGraph]] artifact; the novelty side is
    * one batch-sized left join ([[noveltyCore]]'s cost scales with
    * the batch, not the corpus).
    */
  /** Per-document (doc_id, lang, keep_id, reason) — the single
    * definition of the manifest decision shared by [[corpusManifest]]
    * (which projects it) and [[manifestStats]] (which aggregates it),
    * so the stats can never diverge from the manifest they summarize
    * and neither consumer scans `documents` twice. The ingest-batch
    * membership feeding the novelty stage is a parameter
    * ([[defaultBatchPred]] for the fixture convention).
    */
  private[queries] def manifestCore(s: SparkSession, dir: String,
      batchPred: Column = defaultBatchPred): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang", $"text", words($"text").as("w"))
      .select($"doc_id", $"lang", qualityCol($"text", $"w").as("quality"),
        mixRateCol.as("rate"), mixBucketCol.as("bucket"))
      .join(keepMapOf(s, dir), Seq("doc_id"))
      .join(noveltyCore(s, dir, batchPred).select($"doc_id", $"novelty_ppm"),
        Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"keep_id",
        when(!$"is_kept", lit("duplicate"))
          // null novelty_ppm (corpus doc, or no shingles) falls
          // through — only a MEASURED sub-floor batch doc drops here
          .when($"novelty_ppm" < NOVELTY_MIN, lit("not_novel"))
          .when($"quality" < QUALITY_MIN, lit("low_quality"))
          .when($"bucket" >= $"rate", lit("mix_downsampled"))
          .otherwise(lit("kept")).as("reason"))
  }

  /** DuckDB twin of [[manifestCore]]. */
  private[queries] lazy val manifestCoreSql: String =
    s"""SELECT d.doc_id, d.lang, f.keep_id,
       |  CASE WHEN NOT f.is_kept THEN 'duplicate'
       |    WHEN nv.novelty_ppm < $NOVELTY_MIN THEN 'not_novel'
       |    WHEN ${qualitySql("d.text")} < CAST($QUALITY_MIN AS DOUBLE) THEN 'low_quality'
       |    WHEN ${mixBucketSql("d.doc_id")} >= ${mixRateSql("d.lang")} THEN 'mix_downsampled'
       |    ELSE 'kept' END AS reason
       |FROM documents d JOIN ($dedupFullSql) f ON d.doc_id = f.doc_id
       |LEFT JOIN (${noveltyBodySqlFrom(defaultBatchCondSql)}) nv
       |  ON d.doc_id = nv.doc_id""".stripMargin

  def corpusManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    manifestCore(s, dir)
      .select($"doc_id", $"keep_id", $"reason")
      .withColumn("kept", $"reason" === "kept")
      .orderBy($"doc_id")
  }

  lazy val corpusManifestSql: String =
    s"""SELECT doc_id, keep_id, reason, reason = 'kept' AS kept
       |FROM ($manifestCoreSql)
       |ORDER BY doc_id""".stripMargin

  /** Manifest loss accounting — where did the corpus go, per
    * language: for each (lang, reason) the document count and its
    * share of the language in integer ppm. The one-page report a
    * pipeline owner reads after every [[corpusManifest]] rebuild
    * (is zh being over-dropped? did a quality tweak eat de?). Cost:
    * one [[manifestCore]] pass (lang rides the core — no second
    * documents scan, no corpus-sized re-join) plus one
    * lang×reason-key aggregate; the share window runs after that
    * bounded aggregate.
    */
  def manifestStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    manifestCore(s, dir)
      .groupBy($"lang", $"reason")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("(n * 1000000) div sum(n) over (partition by lang)"))
      .orderBy($"lang", $"reason")
  }

  lazy val manifestStatsSql: String =
    s"""WITH cm AS (
       |  SELECT lang, reason, COUNT(*) AS n
       |  FROM ($manifestCoreSql) GROUP BY 1, 2)
       |SELECT lang, reason, n,
       |  CAST((n * 1000000)
       |    // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS BIGINT)
       |    AS share_ppm
       |FROM cm ORDER BY lang, reason""".stripMargin

  /** Pipeline attrition funnel — the stage-ordered view of the
    * [[corpusManifest]] decision: per stage (in production order:
    * dedup, quality, mix) the documents it dropped and the corpus
    * remaining after it; the final `kept` row's `surviving` is the
    * training corpus size. The dual of [[manifestStats]] (which
    * slices the same decision by language): one [[manifestCore]] pass
    * plus an aggregate whose key domain is the fixed 4-stage reason
    * set, with the running-survivor window over those ≤4 rows.
    */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.orderBy($"stage_ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fixed 5-row stage spine: a stage that dropped nothing must
    // report n_docs = 0, not vanish — the funnel's shape is part of
    // its contract (consumers read it positionally, and an all-dropped
    // corpus still carries a kept row with surviving = 0)
    val spine = Seq(
      (1L, "duplicate"), (2L, "not_novel"), (3L, "low_quality"),
      (4L, "mix_downsampled"), (5L, "kept"))
      .toDF("stage_ord", "stage")
    val counts = manifestCore(s, dir)
      .groupBy($"reason".as("stage")).agg(count(lit(1)).as("n"))
    spine.join(counts, Seq("stage"), "left")
      .withColumn("n_docs", coalesce($"n", lit(0L)))
      .withColumn("surviving",
        sum($"n_docs").over(Window.partitionBy())
          - sum(when($"stage" === "kept", lit(0L)).otherwise($"n_docs")).over(w))
      .select($"stage_ord", $"stage", $"n_docs", $"surviving")
      .orderBy($"stage_ord")
  }

  lazy val filterFunnelSql: String =
    s"""WITH spine(stage_ord, stage) AS (
       |  VALUES (1, 'duplicate'), (2, 'not_novel'), (3, 'low_quality'),
       |         (4, 'mix_downsampled'), (5, 'kept')),
       |cm AS (
       |  SELECT reason, COUNT(*) AS n FROM ($manifestCoreSql) GROUP BY 1)
       |SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
       |  CAST(COALESCE(n, 0) AS BIGINT) AS n_docs,
       |  CAST(SUM(COALESCE(n, 0)) OVER () -
       |    SUM(CASE WHEN stage = 'kept' THEN 0 ELSE COALESCE(n, 0) END)
       |      OVER (ORDER BY stage_ord
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS surviving
       |FROM spine LEFT JOIN cm ON spine.stage = cm.reason
       |ORDER BY stage_ord""".stripMargin

  // ------------------------------------------------------- text analysis

  /** Language ID by marker-token counts (n-gram heuristic): pure
    * per-row higher-order functions — no shuffle, fully codegen'd.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialize the token array once: four marker filters over an
    // inline split() would re-split the text four times per row
    def score(marker: String): Column =
      size(filter($"w", x => x === marker)).cast("long")
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang", words($"text").as("w"))
      .select($"doc_id", $"lang".as("labeled_lang"),
        score("the").as("s_en"), score("der").as("s_de"),
        score("el").as("s_es"), score("le").as("s_fr"))
      .withColumn("pred_lang",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr" && $"s_en" > 0, "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr" && $"s_de" > 0, "de")
          .when($"s_es" >= $"s_fr" && $"s_es" > 0, "es")
          .when($"s_fr" > 0, "fr")
          .otherwise("unknown"))
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    def score(m: String) = s"len(list_filter(string_split(text, ' '), x -> x = '$m'))"
    s"""SELECT doc_id, lang AS labeled_lang,
       |  ${score("the")} AS s_en, ${score("der")} AS s_de,
       |  ${score("el")} AS s_es, ${score("le")} AS s_fr,
       |  CASE
       |    WHEN ${score("the")} >= ${score("der")} AND ${score("the")} >= ${score("el")}
       |         AND ${score("the")} >= ${score("le")} AND ${score("the")} > 0 THEN 'en'
       |    WHEN ${score("der")} >= ${score("el")} AND ${score("der")} >= ${score("le")}
       |         AND ${score("der")} > 0 THEN 'de'
       |    WHEN ${score("el")} >= ${score("le")} AND ${score("el")} > 0 THEN 'es'
       |    WHEN ${score("le")} > 0 THEN 'fr'
       |    ELSE 'unknown' END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix — the classifier eval that belongs
    * next to [[langId]] before its predictions gate anything: per
    * (labeled, predicted) pair, the document count and its share of
    * the labeled language in integer ppm. One shuffle whose key count
    * is the lang domain squared; the share window runs AFTER that
    * bounded aggregate, so it never sees corpus-sized data.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    langId(s, dir)
      .groupBy($"labeled_lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("(n * 1000000) div sum(n) over (partition by labeled_lang)"))
      .orderBy($"labeled_lang", $"pred_lang")
  }

  val langConfusionSql: String =
    s"""WITH li AS ($langIdSql),
       |cm AS (
       |  SELECT labeled_lang, pred_lang, COUNT(*) AS n FROM li GROUP BY 1, 2)
       |SELECT labeled_lang, pred_lang, n,
       |  CAST((n * 1000000)
       |    // CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS BIGINT)
       |    AS share_ppm
       |FROM cm ORDER BY labeled_lang, pred_lang""".stripMargin


  /** Per-document quality score from length/stopword/token statistics.
    * All double arithmetic is per-row with a fixed expression order —
    * bit-identical across engines.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tokens materialized once (see langId note); the score itself is
    // the shared [[qualityCol]] formula
    val nTok = size($"w").cast("long")
    val nChars = length($"text").cast("long")
    val stop = size(filter($"w", x => x === "the" || x === "a")).cast("long")
    Tables(s, dir, "documents")
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id", nTok.as("n_tokens"), nChars.as("n_chars_calc"),
        stop.as("n_stopwords"), qualityCol($"text", $"w").as("quality"))
      .orderBy($"doc_id")
  }

  val qualityScoreSql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    val nChars = "CAST(length(text) AS BIGINT)"
    val stop = "CAST(len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS BIGINT)"
    s"""SELECT doc_id, $nTok AS n_tokens, $nChars AS n_chars_calc,
       |  $stop AS n_stopwords,
       |  ${qualitySql("text")} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Threshold-sensitivity sweep over the quality score —
    * [[jaccardSweep]]'s twin for the quality gate, the curve read
    * before freezing [[QUALITY_MIN]]: per score ventile (bucket b =
    * scores in [b/20, (b+1)/20)), the document count plus the
    * documents and characters a quality floor at b/20 would KEEP
    * (cumulative from the top). Chars ride along because the decision
    * a curation run actually makes is "how much training data does
    * this threshold cost", not "how many documents".
    *
    * Determinism: the score is [[qualityCol]]'s fixed-order double
    * (bit-identical across engines), and the bucket is
    * `least(floor(q·20), 19)` — one IEEE multiply and a floor, no
    * engine-divergent rounding. Scale: the bucketing fuses into the
    * document scan, one groupBy over a fixed 20-key domain, and the
    * cumulative window runs over those ≤ 20 aggregated rows — a
    * constant-size tail at any corpus size.
    */
  def qualitySweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // fixed ventile spine, the jaccardSweep discipline: an empty
    // bucket is a readable point on the curve, not a hole
    val spine = (0L to 19L).toDF("bucket")
    val hist = Tables(s, dir, "documents")
      .select($"text", words($"text").as("w"), $"n_chars")
      .select(least(floor(qualityCol($"text", $"w") * 20.0), lit(19.0))
          .cast("long").as("bucket"),
        $"n_chars")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
    spine.join(hist, Seq("bucket"), "left")
      .withColumn("n_docs", coalesce($"n", lit(0L)))
      .withColumn("chars0", coalesce($"chars", lit(0L)))
      .select($"bucket", $"n_docs",
        sum($"n_docs").over(w).as("docs_kept"),
        sum($"chars0").over(w).as("chars_kept"))
      .orderBy($"bucket")
  }

  val qualitySweepSql: String =
    s"""WITH h AS (
       |  SELECT CAST(least(floor((${qualitySql("text")}) * 20.0), 19.0) AS BIGINT) AS bucket,
       |    COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY 1),
       |spine AS (SELECT unnest(range(0, 20)) AS bucket)
       |SELECT spine.bucket, CAST(COALESCE(n, 0) AS BIGINT) AS n_docs,
       |  CAST(SUM(COALESCE(n, 0)) OVER (ORDER BY spine.bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS docs_kept,
       |  CAST(SUM(COALESCE(chars, 0)) OVER (ORDER BY spine.bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chars_kept
       |FROM spine LEFT JOIN h ON spine.bucket = h.bucket
       |ORDER BY spine.bucket""".stripMargin

  /** Token counting: whitespace tokens + a deterministic BPE-ish
    * estimate (¼ of characters, the standard LLM heuristic).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_calc"),
        size(words($"text")).cast("long").as("n_ws_tokens"),
        expr("(length(text) + 3) div 4").as("bpe_est"))
      .orderBy($"doc_id")
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  (length(text) + 3) // 4 AS bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprint: polynomial rolling hash over characters
    * (seed 7, base 31, mod 1e9+7) via a sequential higher-order fold —
    * per-row, no shuffle, deterministic.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id",
        aggregate(split($"text", ""), lit(7L),
          (acc, c) => (acc * 31 + ascii(c)) % 1000000007L).as("fp"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus stats per (lang, source): counts + exact char sums. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy($"lang", $"source")
  }

  val textStatsSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ------------------------------------------------- cleaning / profiling

  /** PII-style scrubbing: numbers and (synthetic) email shapes
    * replaced by placeholder tags. Pure per-row regex — codegen'd, no
    * shuffle, pushdown-friendly; the cleaned text keeps a change flag
    * so downstream stages can count redactions cheaply.
    */
  def redact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cleaned = regexp_replace(
      regexp_replace($"text", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]+", "<NUM>")
    Tables(s, dir, "documents")
      .select($"doc_id", cleaned.as("clean_text"),
        (cleaned =!= $"text").as("was_redacted"))
      .orderBy($"doc_id")
  }

  val redactSql: String =
    """SELECT doc_id,
      |  regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |                 '[0-9]+', '<NUM>', 'g') AS clean_text,
      |  regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |                 '[0-9]+', '<NUM>', 'g') <> text AS was_redacted
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition ratio (boilerplate detector): most frequent token's
    * share of the document. explode + two groupBys on (doc, token) —
    * both shuffles key on doc_id so the second is exchange-reused.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", explode(words($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("max_token_freq"), sum($"c").as("n_tokens"))
      .select($"doc_id", $"max_token_freq", $"n_tokens",
        ($"max_token_freq".cast("double") / $"n_tokens").as("repetition_ratio"))
      .orderBy($"doc_id")
  }

  val repetitionSql: String =
    """WITH tc AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |c AS (SELECT doc_id, t, COUNT(*) AS c FROM tc GROUP BY 1, 2)
      |SELECT doc_id, MAX(c) AS max_token_freq,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS repetition_ratio
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Within-document repeated-span strip (`x_rep_strip`) — the
    * transform [[repetition]]'s audit lacked: rewrite each document
    * with every token covered by a REPEATING 3-token span occurrence
    * cut out, where "repeating" means the same 3-token window already
    * occurred EARLIER IN THE SAME DOCUMENT (the first occurrence
    * keeps its tokens). This is the C4/RefinedWeb within-page
    * repeated-line/boilerplate removal — the within-doc dual of the
    * cross-document [[spanStrip]] surgery, completing the pair:
    * `x_dup_spans` → `x_span_strip` across documents, `x_repetition`
    * → `x_rep_strip` within one. The span length is the SHINGLE
    * length (3), not the cross-doc 5 — see
    * [[graft.functions.RepStripTokens.K]] for the measured rationale.
    *
    * Scale shape: ENTIRELY row-local — the whole transform is one
    * codegen-wrapped kernel call per row
    * ([[graft.functions.RepStripTokens]]: hash-map first-occurrence
    * detection + difference-array coverage, O(tokens · K) per doc,
    * never the HOF form's O(spans²) compares), so there is NO shuffle
    * at any corpus size except the presentation sort (PlanSpec pins
    * one documents scan, zero joins, exactly the output range
    * exchange). Untouched docs pass their ORIGINAL text through (no
    * split/rejoin round trip); sub-3-token docs have no spans by
    * construction. Cross-engine parity: both engines join the kept
    * tokens on the same single-space splitter, and the kernel ≡
    * composed-HOF identity plus the coverage-overlap corners are
    * pinned in RepStripSpec.
    */
  def repStrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        graft.functions.RepStripFunctions.repStrip(s, words($"text")).as("kept"))
      .select($"doc_id",
        when(size($"kept") === size(words($"text")), $"text")
          .otherwise(concat_ws(" ", $"kept")).as("clean_text"),
        (size(words($"text")) - size($"kept")).cast("long").as("n_removed"))
      .orderBy($"doc_id")
  }

  val repStripSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      |sp AS (
      |  SELECT doc_id, text, w,
      |    list_transform(range(greatest(len(w) - 2, 0)),
      |      i -> array_to_string(w[i+1:i+3], ' ')) AS sps
      |  FROM t),
      |fl AS (
      |  SELECT doc_id, text, w,
      |    list_filter(range(len(sps)),
      |      i -> list_contains(sps[1:i], sps[i+1])) AS flagged
      |  FROM sp)
      |SELECT doc_id,
      |  -- COALESCE: DuckDB's array_to_string of an EMPTY list is NULL
      |  -- (v1.0.0), Spark's concat_ws is '' (the spanStrip contract)
      |  CASE WHEN len(flagged) = 0 THEN text
      |    ELSE COALESCE(array_to_string(list_filter(w, (tk, j) ->
      |      len(list_filter(flagged, x -> j - 1 >= x AND j - 1 <= x + 2)) = 0),
      |      ' '), '') END AS clean_text,
      |  CAST(CASE WHEN len(flagged) = 0 THEN 0
      |    ELSE len(w) - len(list_filter(w, (tk, j) ->
      |      len(list_filter(flagged, x -> j - 1 >= x AND j - 1 <= x + 2)) = 0))
      |    END AS BIGINT) AS n_removed
      |FROM fl ORDER BY doc_id""".stripMargin

  /** [[heuristicFilters]] rule constants — the published-recipe
    * thresholds (Gopher's rule table, C4's line rules) re-footed on
    * this corpus's measured distribution so every rule actually
    * discriminates on the fixture (a rule nothing fails is untested
    * plumbing): minimum document tokens, mean-word-length band in
    * exact centi-chars, stopword floor, and the top-token share cap
    * (the [[repetition]] signal as a hard gate).
    */
  private[graft] val HF_MIN_TOK = 24L
  private[graft] val HF_WL_MIN = 380L
  private[graft] val HF_WL_MAX = 480L
  private[graft] val HF_STOP_MIN = 2L
  private[graft] val HF_REP_MAX_PPM = 200000L

  /** The rule conjunction over the four measured statistics — ONE
    * definition shared by [[heuristicFilters]] (batch) and
    * [[graft.streaming.Streams.heuristicGate]] (ingest), the
    * [[qualityCol]] discipline: a threshold tweak cannot
    * desynchronize the stream gate from the batch screen.
    */
  private[graft] def hfKeep(
      nTok: Column, meanWl: Column, nStop: Column, topPpm: Column): Column =
    nTok >= HF_MIN_TOK && meanWl >= HF_WL_MIN && meanWl <= HF_WL_MAX &&
      nStop >= HF_STOP_MIN && topPpm <= HF_REP_MAX_PPM

  /** The three per-row rule statistics, added as `hf_w` / `hf_n_tok` /
    * `hf_mean_wl` / `hf_n_stop` columns — like [[hfKeep]], ONE
    * definition per statistic shared by the batch screen and the
    * stream gate (an edit to the separator arithmetic or the stopword
    * set in one consumer cannot silently desynchronize the other).
    * The fourth statistic (top-token count) is intentionally NOT here:
    * its two consumers compute it through different-shaped plans
    * (explode + groupBy batch-side, row-local HOFs in the gate) and
    * share only the [[hfTopPpmCol]] normalization.
    */
  private[graft] def withHfStats(df: DataFrame): DataFrame =
    df.withColumn("hf_w", words(col("text")))
      .withColumn("hf_n_tok", size(col("hf_w")).cast("long"))
      // mean word length in exact centi-chars: chars minus the
      // n_tok-1 separators, scaled before the single integer division
      .withColumn("hf_mean_wl",
        expr("(CAST(length(text) AS BIGINT) - hf_n_tok + 1) * 100 div hf_n_tok"))
      .withColumn("hf_n_stop",
        size(filter(col("hf_w"), x => x === "the" || x === "a")).cast("long"))

  /** Top-token share in exact ppm over the canonical `hf_mx` /
    * `hf_n_tok` columns — the shared normalization over the two
    * mode-specific max-count plans (a `def`, not a `val`: `expr`
    * resolves lazily against whichever plan carries the columns).
    */
  private[graft] def hfTopPpmCol: Column =
    expr("(hf_mx * 1000000) div hf_n_tok")

  /** Heuristic quality-rule battery — the Gopher/C4-style per-rule
    * screen curation pipelines run BEFORE model-based scoring: each
    * document gets the measured statistic and an independent pass
    * flag per rule (token-count floor, mean-word-length band,
    * stopword floor, top-token repetition cap), plus the conjunction
    * `keep`. Per-rule flags (not just the verdict) are the point —
    * the downstream report is "which rule is eating the corpus", the
    * same discipline as [[manifestStats]]'s reason attribution. All
    * statistics are exact integers (centi-chars / ppm, integer `div`)
    * so both engines derive bit-identical rows. Cost: one per-row
    * pass fused into the scan for three rules plus the [[repetition]]
    * core's doc-keyed token aggregate for the fourth — the join key
    * and the aggregate key are both doc_id, so the exchange is
    * reused, never corpus-pairwise. At 100 TB this is the same
    * linear shape as `x_quality_score`/`x_repetition` it composes.
    */
  /** The shared per-document rule statistics — one definition feeding
    * [[heuristicFilters]] (the per-doc report) and [[filterAgreement]]
    * (its eval), so the screen and the eval can never diverge. Also
    * carries `lang` and the shared [[qualityCol]] score for the
    * agreement consumer (a dropped projection for the filters query —
    * column pruning removes it from that plan).
    */
  private def heuristicStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // max token count per doc — the batch-shaped plan for the fourth
    // statistic (explode + two groupBys, both keyed on doc_id; the
    // stream gate computes the same count row-locally)
    val topCnt = Tables(s, dir, "documents")
      .select($"doc_id", explode(words($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("hf_mx"))
    withHfStats(Tables(s, dir, "documents").select($"doc_id", $"lang", $"text"))
      .withColumn("quality", qualityCol($"text", $"hf_w"))
      .join(topCnt, "doc_id")
      .select($"doc_id", $"lang",
        $"hf_n_tok".as("n_tok"), $"hf_mean_wl".as("mean_wl_centi"),
        $"hf_n_stop".as("n_stop"), hfTopPpmCol.as("top_ppm"), $"quality",
        ($"hf_n_tok" >= HF_MIN_TOK).as("r_len"),
        ($"hf_mean_wl" >= HF_WL_MIN && $"hf_mean_wl" <= HF_WL_MAX)
          .as("r_wordlen"),
        ($"hf_n_stop" >= HF_STOP_MIN).as("r_stop"),
        (hfTopPpmCol <= HF_REP_MAX_PPM).as("r_rep"))
  }

  def heuristicFilters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    heuristicStats(s, dir)
      .select($"doc_id", $"n_tok", $"mean_wl_centi", $"n_stop", $"top_ppm",
        $"r_len", $"r_wordlen", $"r_stop", $"r_rep")
      .withColumn("keep",
        hfKeep($"n_tok", $"mean_wl_centi", $"n_stop", $"top_ppm"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of [[heuristicStats]] — the shared CTE chain ending
    * in `hs(doc_id, lang, n_tok, mean_wl_centi, n_stop, top_ppm,
    * quality, r_len, r_wordlen, r_stop, r_rep)`.
    */
  private val heuristicStatsCtesSql: String =
    s"""d AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
       |hst AS (
       |  SELECT doc_id, lang,
       |    CAST(len(w) AS BIGINT) AS n_tok,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_stop,
       |    ${qualitySql("text")} AS quality
       |  FROM d),
       |htc AS (
       |  SELECT doc_id, t, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(w) AS t FROM d) GROUP BY 1, 2),
       |htp AS (
       |  SELECT doc_id, CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_ppm
       |  FROM htc GROUP BY doc_id),
       |hsv AS (
       |  SELECT hst.doc_id, hst.lang, hst.n_tok,
       |    CAST((hst.nc - hst.n_tok + 1) * 100 // hst.n_tok AS BIGINT) AS mean_wl_centi,
       |    hst.n_stop, htp.top_ppm, hst.quality
       |  FROM hst JOIN htp USING (doc_id)),
       |hs AS (
       |  SELECT *,
       |    n_tok >= $HF_MIN_TOK AS r_len,
       |    mean_wl_centi BETWEEN $HF_WL_MIN AND $HF_WL_MAX AS r_wordlen,
       |    n_stop >= $HF_STOP_MIN AS r_stop,
       |    top_ppm <= $HF_REP_MAX_PPM AS r_rep
       |  FROM hsv)""".stripMargin

  val heuristicFiltersSql: String =
    s"""WITH $heuristicStatsCtesSql
       |SELECT doc_id, n_tok, mean_wl_centi, n_stop, top_ppm,
       |  r_len, r_wordlen, r_stop, r_rep,
       |  r_len AND r_wordlen AND r_stop AND r_rep AS keep
       |FROM hs
       |ORDER BY doc_id""".stripMargin

  /** The eval that ships with [[heuristicFilters]] — the
    * [[langConfusion]] discipline applied to the rule screen: per
    * language, the agreement matrix between the rule battery's keep
    * verdict and the model-style [[qualityCol]] gate (the
    * [[QUALITY_MIN]] floor the manifest applies), with each cell's
    * share of its language in exact ppm. The report a pipeline owner
    * reads before swapping one screen for the other — or before
    * trusting their conjunction: the disagreement cells ARE the docs
    * where the choice of screen changes the corpus. One
    * [[heuristicStats]] pass into a langs×4-key aggregate; the share
    * window runs after the bounded aggregate.
    */
  def filterAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    heuristicStats(s, dir)
      .select($"lang",
        ($"r_len" && $"r_wordlen" && $"r_stop" && $"r_rep").as("keep_rules"),
        ($"quality" >= QUALITY_MIN).as("keep_quality"))
      .groupBy($"lang", $"keep_rules", $"keep_quality")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("(n * 1000000) div sum(n) over (partition by lang)"))
      .orderBy($"lang", $"keep_rules", $"keep_quality")
  }

  val filterAgreementSql: String =
    s"""WITH $heuristicStatsCtesSql
       |SELECT lang, keep_rules, keep_quality, COUNT(*) AS n,
       |  CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
       |FROM (
       |  SELECT lang,
       |    r_len AND r_wordlen AND r_stop AND r_rep AS keep_rules,
       |    quality >= CAST($QUALITY_MIN AS DOUBLE) AS keep_quality
       |  FROM hs)
       |GROUP BY lang, keep_rules, keep_quality
       |ORDER BY lang, keep_rules, keep_quality""".stripMargin

  /** Corpus-LM fluency score — the deterministic, log-free analog of
    * the n-gram-LM perplexity filter curation pipelines run (CCNet's
    * KenLM stage): per document the mean corpus-conditional bigram
    * probability in exact ppm — P(b|a) = count(a,b) / count(a·) with
    * the prefix mass derived from the same bigram table, so the
    * distribution is self-consistent by construction. High scorers
    * are built from common continuations (fluent, but also
    * boilerplate-ish); low scorers are rare constructions (novel, or
    * garbage) — used as a band filter alongside [[qualityCol]], never
    * alone. A true log-space perplexity is NOT cross-engine
    * reproducible (ln differs in the last ulp between libms); the
    * mean probability is a monotone-enough proxy with every operation
    * exact: counts are int64, each per-bigram score is one integral
    * `div` over DECIMAL(38,0) operands (count × 1e6 overflows int64
    * at corpus scale — the [[ivfDrift]] lesson), and the per-doc mean
    * divides once at the end. Documents under 2 tokens carry no
    * bigrams: n_bigrams 0, fluency NULL (no signal, no score).
    * Cost: one token-sequence pass fans out to bigrams; counts are
    * two bounded aggregates on (a,b) / (a); the score join is keyed
    * on the bigram — linear end-to-end, no pairwise anything. The
    * prefix-count join broadcasts at fixture scale and degrades to a
    * keyed shuffle join on a 100 TB vocabulary — both linear.
    */
  def bigramFluency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
    // adjacent pairs; the CASE guard keeps sequence() from producing
    // a DESCENDING [0,-1] range on sub-bigram docs
    val bi = docs
      .select($"doc_id", explode(expr(
        "CASE WHEN size(w) >= 2 THEN " +
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b)) " +
          "ELSE array() END")).as("p"))
      .select($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
    val cab = bi.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy($"a").agg(sum($"cab").as("ca"))
    val scored = bi
      .join(cab, Seq("a", "b"))
      .join(ca, Seq("a"))
      .select($"doc_id", expr(
        "(CAST(cab AS DECIMAL(38,0)) * 1000000) div CAST(ca AS DECIMAL(38,0))")
        .as("sc"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nb"), sum($"sc").as("ssum"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"nb", lit(0L)).as("n_bigrams"),
        expr("ssum div nb").as("fluency_ppm"))
      .orderBy($"doc_id")
  }

  val bigramFluencySql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS i FROM d),
      |bi AS (
      |  SELECT x.doc_id, x.tok AS a, y.tok AS b
      |  FROM t x JOIN t y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
      |cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
      |ca AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cab GROUP BY a),
      |scored AS (
      |  SELECT bi.doc_id, COUNT(*) AS nb,
      |    CAST(SUM(CAST(CAST(cab.cab AS HUGEINT) * 1000000 // ca.ca AS BIGINT)) AS BIGINT) AS ssum
      |  FROM bi JOIN cab USING (a, b) JOIN ca USING (a)
      |  GROUP BY bi.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.nb, 0) AS n_bigrams,
      |  CAST(s.ssum // s.nb AS BIGINT) AS fluency_ppm
      |FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Exact char-length percentiles per language (linear
    * interpolation, identical formula in both engines). Exact
    * percentile sorts within each group — fine for profiling jobs; at
    * 100 TB switch callers to approx_percentile when ±ε is
    * acceptable.
    */
  def lenPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy($"lang")
      .agg(
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"),
        count(lit(1)).as("n_docs"))
      .orderBy($"lang")
  }

  val lenPercentilesSql: String =
    """SELECT lang,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.5) AS p50,
      |  quantile_cont(n_chars, 0.75) AS p75,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------- asof / sampling

  /** As-of join composed from existing operators (SURVEY §2.2
    * preference (a)): each `purchase` event matched to the same
    * user's most recent `click` at-or-before it. One window over
    * (user_id, ts, event_id) — a running `last(..., ignoreNulls)`
    * carries the click forward, so no join materializes at all: this
    * beats an actual range/asof join at scale (single shuffle on
    * user_id, no per-row probe).
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("last_click_id",
        last(when($"event_type" === "click", $"event_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when($"event_type" === "click", $"ts"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id",
        $"ts".as("purchase_ts"), $"last_click_id", $"last_click_ts")
      .orderBy($"purchase_id")
  }

  val asofJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |c AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS last_click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS last_click_ts
      |  FROM e)
      |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |  last_click_id, last_click_ts
      |FROM c WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  /** Deterministic hash sampling (the reproducible-pipeline form of
    * stratified sampling): bucket = first 4 hex digits of
    * md5(doc_id), keep bucket % 100 < 10. Engine-agnostic (md5, not a
    * seeded RNG), stable under reruns and repartitioning, and a pure
    * per-row filter — pushes down to a scan-side predicate at scale.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 4), 16, 10)
          .cast("long") % 100)
      .filter($"bucket" < 10)
      .select($"doc_id", $"lang", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  val hashSampleSql: String =
    """SELECT doc_id, lang, source,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** Per-language sampling rates (percent) for training-mix
    * construction: keep all English, downsample the mid-resource
    * languages, keep a quarter of zh — the up/down-weighting step
    * every corpus mix runs before training. Deterministic per-doc
    * coin: the doc's md5 bucket against the rate, so reruns and
    * engines agree row-for-row and the sample composes with
    * [[hashSample]]'s bucket space.
    */
  def weightedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .withColumn("rate", mixRateCol)
      .withColumn("bucket", mixBucketCol)
      .filter($"bucket" < $"rate")
      .select($"doc_id", $"lang", $"rate".cast("long").as("rate"))
      .orderBy($"doc_id")
  }

  val weightedMixSql: String =
    s"""SELECT doc_id, lang, CAST(rate AS BIGINT) AS rate FROM (
       |  SELECT doc_id, lang, ${mixRateSql("lang")} AS rate,
       |    ${mixBucketSql("doc_id")} AS bucket
       |  FROM documents)
       |WHERE bucket < rate ORDER BY doc_id""".stripMargin

  /** Temperature-sampled training mix — the published multilingual
    * recipe ([[weightedMix]]'s fixed per-language rates derived from
    * data instead of hand-set): per language the token mass, its
    * corpus share, and the α = 0.5 temperature-flattened sampling
    * weight w ∝ share^α renormalized to ppm, plus `boost_milli` —
    * the up/down-sampling factor the flattening applies (low-resource
    * languages boosted above 1000, the dominant language cut below).
    * Determinism: share is an integral `div` over DECIMAL(38,0)
    * operands (corpus token mass × 1e6 overflows int64 at scale, the
    * [[ivfDrift]] lesson); the ^0.5 is floor(sqrt(share_ppm·1e6)) —
    * IEEE requires sqrt correctly rounded, and the argument is an
    * exact-in-double integer ≤ 1e12, so both engines floor the
    * identical value (the only non-rational op in the surface, and
    * the reason α is 0.5 and not a free parameter: a general pow() is
    * not correctly rounded cross-engine). Cost: one lang-keyed
    * aggregate; the normalizing windows run over ≤ langs rows.
    */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"lang", size(words($"text")).cast("long").as("nt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tok"))
      .withColumn("share_ppm", expr(
        "(CAST(n_tok AS DECIMAL(38,0)) * 1000000) div (sum(CAST(n_tok AS DECIMAL(38,0))) OVER ())"))
      .withColumn("w",
        floor(sqrt(($"share_ppm" * lit(1000000L)).cast("double"))).cast("long"))
      .withColumn("weight_ppm", expr("(w * 1000000) div (sum(w) OVER ())"))
      .withColumn("boost_milli",
        expr("(weight_ppm * 1000) div nullif(share_ppm, 0)"))
      .select($"lang", $"n_docs", $"n_tok", $"share_ppm", $"weight_ppm",
        $"boost_milli")
      .orderBy($"lang")
  }

  val mixTemperatureSql: String =
    """WITH l AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY lang),
      |sh AS (
      |  SELECT lang, n_docs, n_tok,
      |    CAST(CAST(n_tok AS HUGEINT) * 1000000
      |      // SUM(CAST(n_tok AS HUGEINT)) OVER () AS BIGINT) AS share_ppm
      |  FROM l),
      |w AS (
      |  SELECT lang, n_docs, n_tok, share_ppm,
      |    CAST(floor(sqrt(CAST(share_ppm * 1000000 AS DOUBLE))) AS BIGINT) AS w
      |  FROM sh),
      |nw AS (
      |  SELECT lang, n_docs, n_tok, share_ppm,
      |    CAST(w * 1000000 // SUM(w) OVER () AS BIGINT) AS weight_ppm
      |  FROM w)
      |SELECT lang, n_docs, n_tok, share_ppm, weight_ppm,
      |  CAST(weight_ppm * 1000 // NULLIF(share_ppm, 0) AS BIGINT) AS boost_milli
      |FROM nw ORDER BY lang""".stripMargin

  /** Per-source token-mass ceiling in ppm of the corpus — the "no
    * single domain exceeds X ppm" rule every large crawl pipeline
    * enforces before training. 50 000 ppm (5%) sits inside the
    * fixture's measured per-source spread (≈42k–57k ppm), so the cap
    * BITES on the over-share sources and passes the rest through —
    * both code paths are exercised by the oracle at every SF.
    */
  private[graft] val SRC_CAP_PPM = 50000L

  /** The deterministic per-doc cap coin in ppm — md5-bucketed like
    * [[mixBucketCol]] but on its own salt and at ppm resolution (the
    * keep-rate is an exact integer ppm, not a percent). 8 hex chars =
    * 32 bits; the mod-1e6 fold's bias is ~2⁻¹² of a ppm-bucket,
    * invisible next to binomial noise and made measurable by
    * [[capRealized]] either way. ONE definition per engine, shared by
    * the transform and its eval — the [[mixRateCol]] discipline.
    */
  private def capCoinCol: Column =
    conv(substring(md5(concat(lit("srccap|"), col("doc_id").cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % 1000000L

  private def capCoinSql(id: String): String =
    s"('0x' || substr(md5('srccap|' || CAST($id AS VARCHAR)), 1, 8))::BIGINT % 1000000"

  /** The narrow per-doc frame both cap queries ride: (doc_id, source,
    * token count, coin). Checkpointed by callers that read it twice —
    * the embed-quality one-text-pass discipline: text (the corpus's
    * fat column) is split exactly once per document.
    */
  private def capDocFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        size(words($"text")).cast("long").as("nt"),
        capCoinCol.as("coin"))
  }

  /** Per-source keep rates off an aggregated (source, n_docs, n_tok)
    * frame: share and the exact-ppm keep rate `min(1e6, cap·T div
    * n_tok)` — DECIMAL(38,0) operands (corpus token mass × cap
    * overflows int64 at scale, the [[mixTemperature]] lesson), one
    * integral floor so both engines derive the identical boundary.
    */
  private def withCapRates(perSource: DataFrame): DataFrame =
    perSource
      .withColumn("share_ppm", expr(
        "(CAST(n_tok AS DECIMAL(38,0)) * 1000000) div (sum(CAST(n_tok AS DECIMAL(38,0))) OVER ())"))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr(
          s"(CAST($SRC_CAP_PPM AS DECIMAL(38,0)) * (sum(CAST(n_tok AS DECIMAL(38,0))) OVER ())) div n_tok")))

  /** Per-source share cap (`x_source_cap`) — the down-sampler the mix
    * family lacked: [[weightedMix]]/[[mixTemperature]] set
    * per-LANGUAGE rates and [[dupStats]]/[[dupSrcMatrix]] report
    * per-source health, but nothing ENFORCED a per-source ceiling.
    * Per document: its source's keep rate in exact ppm (1e6 for
    * under-cap sources; `floor(cap·T / n_tok)` for over-cap ones, so
    * expected kept token mass lands at the cap), the doc's
    * deterministic md5 coin, and the keep verdict — the capped corpus
    * is the `kept` slice, and the decision is reproducible row-for-row
    * across engines and reruns (the [[weightedMix]] coin discipline at
    * ppm resolution).
    *
    * Scale shape: one text pass computes per-doc token counts (the
    * checkpointed narrow frame — text is never split twice), the
    * per-source aggregate is source-domain-bounded and broadcasts back
    * into a map-side verdict; no corpus-sized shuffle anywhere. The
    * atomic unit is the DOCUMENT (a per-token coin would shred
    * documents), so realized mass wanders by doc-length binomial noise
    * — which is exactly what [[capRealized]] exists to measure.
    */
  def sourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = capDocFrame(s, dir).localCheckpoint()
    val rates = withCapRates(
        docs.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tok")))
      .select($"source", $"keep_ppm")
    docs.join(broadcast(rates), "source")
      .select($"doc_id", $"source", $"keep_ppm",
        $"coin".as("coin_ppm"), ($"coin" < $"keep_ppm").as("kept"))
      .orderBy($"doc_id")
  }

  /** Shared oracle CTE chain for the cap pair: the per-doc frame, the
    * per-source aggregate, and the rate derivation (HUGEINT operands,
    * the DuckDB twin of DECIMAL(38,0)).
    */
  private lazy val capCtesSql: String =
    s"""capt AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |    ${capCoinSql("doc_id")} AS coin
       |  FROM documents),
       |capst AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tok
       |  FROM capt GROUP BY source),
       |caprates AS (
       |  SELECT source, n_docs, n_tok,
       |    CAST(CAST(n_tok AS HUGEINT) * 1000000
       |      // SUM(CAST(n_tok AS HUGEINT)) OVER () AS BIGINT) AS share_ppm,
       |    CAST(least(1000000, CAST($SRC_CAP_PPM AS HUGEINT)
       |      * SUM(CAST(n_tok AS HUGEINT)) OVER () // n_tok) AS BIGINT) AS keep_ppm
       |  FROM capst)""".stripMargin

  lazy val sourceCapSql: String =
    s"""WITH $capCtesSql
       |SELECT t.doc_id, t.source, r.keep_ppm, t.coin AS coin_ppm,
       |  t.coin < r.keep_ppm AS kept
       |FROM capt t JOIN caprates r USING (source)
       |ORDER BY t.doc_id""".stripMargin

  /** Realized-vs-configured eval for the source cap (`x_cap_realized`)
    * — the [[mixRealized]] discipline applied to the ceiling: per
    * source, population and token mass, configured share and keep
    * rate, the documents and tokens the coin actually kept, and the
    * REALIZED post-cap share in exact ppm of the CAPPED corpus (the
    * quantity the "no source exceeds X ppm" rule governs). Over-cap
    * sources should read near the cap (slightly above, since the
    * denominator shrank with them); a systematic drift beyond binomial
    * noise means a biased coin bucket space — the failure this eval
    * catches before a capped corpus ships.
    *
    * Scale: the same checkpointed narrow frame as [[sourceCap]] (one
    * text pass), ONE source-keyed aggregate carrying the kept counts
    * alongside the totals (the keep rate joins back onto
    * source-domain-bounded rows, never the corpus), windows over
    * source-count rows.
    */
  def capRealized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = capDocFrame(s, dir).localCheckpoint()
    val rates = withCapRates(
      docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tok")))
    val kept = docs.join(broadcast(rates.select($"source", $"keep_ppm")), "source")
      .filter($"coin" < $"keep_ppm")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"nt").as("kept_tok"))
    rates.join(kept, Seq("source"), "left_outer")
      .select($"source", $"n_docs", $"n_tok", $"share_ppm", $"keep_ppm",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tok", lit(0L)).as("kept_tok"))
      .withColumn("realized_ppm", expr(
        "(CAST(kept_tok AS DECIMAL(38,0)) * 1000000) div (sum(CAST(kept_tok AS DECIMAL(38,0))) OVER ())"))
      .orderBy($"source")
  }

  lazy val capRealizedSql: String =
    s"""WITH $capCtesSql,
       |capkept AS (
       |  SELECT t.source, COUNT(*) AS n_kept, CAST(SUM(t.nt) AS BIGINT) AS kept_tok
       |  FROM capt t JOIN caprates r USING (source)
       |  WHERE t.coin < r.keep_ppm
       |  GROUP BY t.source)
       |SELECT r.source, r.n_docs, r.n_tok, r.share_ppm, r.keep_ppm,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(k.kept_tok, 0) AS BIGINT) AS kept_tok,
       |  CAST(CAST(COALESCE(k.kept_tok, 0) AS HUGEINT) * 1000000
       |    // SUM(CAST(COALESCE(k.kept_tok, 0) AS HUGEINT)) OVER () AS BIGINT)
       |    AS realized_ppm
       |FROM caprates r LEFT JOIN capkept k USING (source)
       |ORDER BY r.source""".stripMargin

  /** Stale per-source keep rates — the artifact the streaming
    * source-cap gate ships to the ingest edge: [[withCapRates]]'s
    * arithmetic over the BASE slice only (yesterday's corpus,
    * refreshed at compaction cadence — the [[bm25Incr]] staleness
    * contract applied to the rate family), collected as a
    * source→keep_ppm map. Source-domain-bounded, so unlike the band
    * index or the chunk store this artifact is PLAN-CONSTANT-sized
    * and rides into the gate as a map literal, never a join — the
    * bounded-artifact arm of the stale-artifact gate pattern (the
    * centroid/Bloom/bigram-table arm, not the stored-table arm).
    */
  private[graft] def corpusCapRates(
      s: SparkSession, dir: String): Map[String, Long] = {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .filter(!defaultBatchPred)
      .select($"source", size(words($"text")).cast("long").as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tok"))
    withCapRates(base).select($"source", $"keep_ppm")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Shared scorer columns for the stale source-cap gate — ONE
    * definition consumed by the deployed stream gate
    * ([[graft.streaming.Streams.sourceCapGate]]) AND the batch audit
    * ([[capGateAudit]]), the [[bandGateScored]] discipline: adds
    * `cap_rate_ppm` (the source's STALE keep rate; a source unseen
    * yesterday carries no rate → 1e6, the no-evidence pass),
    * `cap_coin_ppm` (the SAME deterministic coin as [[sourceCap]] —
    * one coin definition per engine, so ingest enforcement and batch
    * re-capping can never disagree on a document), and `cap_keep`.
    */
  private[graft] def capGateScored(
      df: DataFrame, staleRates: Map[String, Long]): DataFrame =
    df.withColumn("cap_rate_ppm",
        coalesce(element_at(typedLit(staleRates), col("source")),
          lit(1000000L)))
      .withColumn("cap_coin_ppm", capCoinCol)
      .withColumn("cap_keep", col("cap_coin_ppm") < col("cap_rate_ppm"))

  /** Batch audit of the stale source-cap gate (`x_cap_gate`) — a
    * SHADOW REPLAY: every corpus document scored through the deployed
    * gate's own columns ([[capGateScored]] — shared builder) against
    * yesterday's rates, emitting the stale keep rate, the coin, and
    * the verdict per doc. Replay rather than arrival-slice on
    * declared grounds: this fixture's source is a function of
    * doc_id mod 20, so the `≡ 7 mod 10` arrival slice only ever
    * carries TWO of the twenty sources — both under-cap in the base
    * — and an audit restricted to it would be structurally blind to
    * the other eighteen rates (a gate nothing can fail is untested
    * plumbing). The replay additionally IS the drift report a
    * pipeline wants: "what would yesterday's rates do to today's
    * corpus" — read next to [[capRealized]]'s fresh-rate view. The
    * oracle row pins stale-slice rate arithmetic, the unseen-source
    * pass-through (COALESCE to 1e6), the coin, and the cut
    * cross-engine; StreamingSpec pins stream ≡ scored-columns parity
    * and real drops on a skewed planted corpus including an unseen
    * source.
    */
  def capGateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select($"doc_id", $"source")
    capGateScored(docs, corpusCapRates(s, dir))
      .select($"doc_id", $"source", $"cap_rate_ppm".as("stale_keep_ppm"),
        $"cap_coin_ppm".as("coin_ppm"), (!$"cap_keep").as("dropped"))
      .orderBy($"doc_id")
  }

  lazy val capGateSql: String =
    s"""WITH cgbase AS (
       |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents WHERE NOT (doc_id % 10 = 7)),
       |cgst AS (
       |  SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tok
       |  FROM cgbase GROUP BY source),
       |cgrates AS (
       |  SELECT source,
       |    CAST(least(1000000, CAST($SRC_CAP_PPM AS HUGEINT)
       |      * SUM(CAST(n_tok AS HUGEINT)) OVER () // n_tok) AS BIGINT)
       |      AS keep_ppm
       |  FROM cgst)
       |SELECT d.doc_id, d.source,
       |  CAST(COALESCE(r.keep_ppm, 1000000) AS BIGINT) AS stale_keep_ppm,
       |  ${capCoinSql("d.doc_id")} AS coin_ppm,
       |  NOT (${capCoinSql("d.doc_id")} < COALESCE(r.keep_ppm, 1000000))
       |    AS dropped
       |FROM documents d LEFT JOIN cgrates r ON d.source = r.source
       |ORDER BY d.doc_id""".stripMargin

  /** Training budget as a multiple of the corpus token mass (the
    * "train for N× the corpus" setting). 4 on purpose: with an even
    * per-source target the implied repeat factor is 4 / (n_src ·
    * share), and the fixture's measured shares straddle 1/n_src at
    * every SF — so some sources hit the repeat ceiling and some
    * don't, exercising both arms of the min in both engines.
    */
  private[graft] val EPOCH_TARGET_MULT = 4L

  /** Repeat ceiling in exact milli-epochs — the published
    * data-constrained-scaling finding that value decays past ~4
    * repeats, as a hard planning cap.
    */
  private[graft] val MAX_EPOCHS_MILLI = 4000L

  /** Per-source epoch plan (`x_epoch_plan`) — the UP-sampling planner
    * the mix family lacked: [[weightedMix]] and [[sourceCap]] only
    * ever drop documents, but a data-constrained run REPEATS its
    * scarce sources — the "how many epochs of each domain" table
    * every token-budgeted training run derives before building
    * shards. Given a budget of [[EPOCH_TARGET_MULT]] × the corpus
    * mass split evenly across sources, each source gets
    * `epochs_milli = min(` [[MAX_EPOCHS_MILLI]] `, target·1000 div
    * mass)` — exact integer milli-epochs, so both engines derive the
    * identical plan — plus the realized token mass under that repeat
    * factor and the deficit the ceiling leaves unfilled (the number
    * that tells a pipeline owner which domains are genuinely
    * data-bound and by how much).
    *
    * Scale: one text pass into a source-domain-bounded aggregate;
    * the corpus-mass total is a window over source-count rows;
    * DECIMAL(38,0)/HUGEINT operands throughout (mass × 1000 ×
    * target overflows int64 at design scale). EpochPlanSpec pins the
    * hand arithmetic and that the ceiling binds on some real-fixture
    * sources and not others.
    */
  def epochPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"source", size(words($"text")).cast("long").as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tok"))
      .withColumn("share_ppm", expr(
        "(CAST(n_tok AS DECIMAL(38,0)) * 1000000) div (sum(CAST(n_tok AS DECIMAL(38,0))) OVER ())"))
      .withColumn("target_tok", expr(
        s"(CAST($EPOCH_TARGET_MULT AS DECIMAL(38,0)) * (sum(CAST(n_tok AS DECIMAL(38,0))) OVER ())) div (count(1) OVER ())"))
      .withColumn("epochs_milli",
        least(lit(MAX_EPOCHS_MILLI), expr(
          "(CAST(target_tok AS DECIMAL(38,0)) * 1000) div n_tok")))
      .withColumn("realized_tok", expr(
        "(CAST(n_tok AS DECIMAL(38,0)) * epochs_milli) div 1000"))
      .select($"source", $"n_docs", $"n_tok", $"share_ppm", $"target_tok",
        $"epochs_milli", $"realized_tok",
        ($"target_tok" - $"realized_tok").as("deficit_tok"))
      .orderBy($"source")
  }

  /** The plan's CTE chain (st → pl → ep), shared by [[epochPlanSql]]
    * and [[epochScheduleSql]] so planner and schedule cannot drift.
    */
  private lazy val epochPlanCtesSql: String =
    s"""st AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
       |      AS n_tok
       |  FROM documents GROUP BY source),
       |pl AS (
       |  SELECT source, n_docs, n_tok,
       |    CAST(CAST(n_tok AS HUGEINT) * 1000000
       |      // SUM(CAST(n_tok AS HUGEINT)) OVER () AS BIGINT) AS share_ppm,
       |    CAST(CAST($EPOCH_TARGET_MULT AS HUGEINT)
       |      * SUM(CAST(n_tok AS HUGEINT)) OVER ()
       |      // COUNT(*) OVER () AS BIGINT) AS target_tok
       |  FROM st),
       |ep AS (
       |  SELECT *, CAST(least($MAX_EPOCHS_MILLI,
       |      CAST(target_tok AS HUGEINT) * 1000 // n_tok) AS BIGINT)
       |    AS epochs_milli
       |  FROM pl)""".stripMargin

  lazy val epochPlanSql: String =
    s"""WITH $epochPlanCtesSql
       |SELECT source, n_docs, n_tok, share_ppm, target_tok, epochs_milli,
       |  CAST(CAST(n_tok AS HUGEINT) * epochs_milli // 1000 AS BIGINT)
       |    AS realized_tok,
       |  CAST(target_tok - CAST(n_tok AS HUGEINT) * epochs_milli // 1000
       |    AS BIGINT) AS deficit_tok
       |FROM ep ORDER BY source""".stripMargin

  /** The deterministic per-doc fractional-repeat coin in exact MILLI
    * resolution — the [[capCoinCol]] discipline on its own salt: the
    * schedule's repeat factor is an integer milli-epoch, so the coin
    * resolves at the same grain (doc repeats once per full thousand,
    * plus once more iff coin < the fractional remainder).
    */
  private def epochCoinCol: Column =
    conv(substring(md5(concat(lit("epoch|"), col("doc_id").cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % 1000L

  private def epochCoinSql(id: String): String =
    s"('0x' || substr(md5('epoch|' || CAST($id AS VARCHAR)), 1, 8))::BIGINT % 1000"

  /** The schedule's seeded per-copy shuffle key: 48 bits of md5 over
    * the salted (doc_id, repeat index) pair — repeats of one document
    * scatter across the whole permutation (adjacent copies of the
    * same text in a training stream is exactly what a repeat schedule
    * must avoid), deterministic and engine-agnostic like
    * [[shuffleKeyCol]].
    */
  /** The expanded repeat stream `(doc_id, source, n_tokens, k)` —
    * ONE definition of the plan-to-copies expansion, shared by
    * [[epochSchedule]] (which packs it) and [[epochRealized]] (which
    * audits its mass): each document appears `epochs_milli div 1000`
    * times plus once more iff its [[epochCoinCol]] lands under the
    * fractional remainder, so schedule and audit cannot drift.
    */
  private def epochCopies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val plan = epochPlan(s, dir).select($"source", $"epochs_milli")
    Tables(s, dir, "documents")
      .select($"doc_id", $"source",
        size(words($"text")).cast("long").as("n_tokens"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("n_copies",
        expr("epochs_milli div 1000") +
          when(epochCoinCol < $"epochs_milli" % 1000L, 1L).otherwise(0L))
      .filter($"n_copies" > 0)
      .select($"doc_id", $"source", $"n_tokens",
        explode(sequence(lit(0L), $"n_copies" - 1)).as("k"))
  }

  /** The expansion's DuckDB CTE twin (`dc` = per-doc copy counts,
    * `cp0` = the exploded copies), shared by both oracle rows.
    */
  private lazy val epochCopiesCtesSql: String =
    s"""dc AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |    ep.epochs_milli // 1000
       |      + CASE WHEN ${epochCoinSql("d.doc_id")} < ep.epochs_milli % 1000
       |        THEN 1 ELSE 0 END AS n_copies
       |  FROM documents d JOIN ep USING (source)),
       |cp0 AS (
       |  SELECT doc_id, source, n_tokens, CAST(k AS BIGINT) AS k
       |  FROM (SELECT *, unnest(range(n_copies)) AS k
       |        FROM dc WHERE n_copies > 0))""".stripMargin

  private def schedKeyCol(id: Column, k: Column): Column =
    conv(substring(md5(concat(lit("epsh|"), id.cast("string"), lit("#"),
      k.cast("string")).cast("binary")), 1, 12), 16, 10).cast("long")

  private def schedKeySql(id: String, k: String): String =
    s"('0x' || substr(md5('epsh|' || CAST($id AS VARCHAR) || '#' || " +
      s"CAST($k AS VARCHAR)), 1, 12))::BIGINT"

  /** Epoch-schedule REALIZATION (`x_epoch_schedule`) — the transform
    * dual [[epochPlan]] lacked (every other planner/audit here ships
    * with its transform: span audit → span_strip, leakage audit →
    * split_repair): materialize the planner's per-source milli-epoch
    * repeat factors into the actual training stream. Each document
    * repeats `epochs_milli div 1000` times, plus one more iff its
    * [[epochCoinCol]] md5 coin lands under the fractional remainder —
    * so the realized per-source token mass matches the plan's
    * `realized_tok` EXACTLY on integral/capped sources and to the
    * coin's binomial exactness on fractional ones (EpochScheduleSpec
    * pins both, plus the fractional-repeat boundary, on an
    * arithmetic-engineered corpus with a third-engine java-md5 coin).
    * The expanded copies then go through the shard family's OWN
    * packing core in seeded per-copy permutation order
    * ([[schedKeyCol]] scatters a document's repeats across the
    * stream; [[packShards]] assigns budget shards) —
    * the complete plan→stream path a token-budgeted run feeds to
    * training.
    *
    * Scale shape: the plan is a source-domain-bounded broadcast onto
    * one narrow text pass; the expansion is a per-row `sequence`
    * explode with fan-out ≤ [[MAX_EPOCHS_MILLI]]/1000 = 4; packing is
    * the same narrow scan tree as [[shardShuffle]] (uniform 48-bit
    * keys, ≤1024-row global window). No corpus-sized sort or window
    * anywhere before the presentation order.
    */
  def epochSchedule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val copies = epochCopies(s, dir)
      // MAX_EPOCHS_MILLI caps copies at 4, so doc_id*4 + k is a
      // collision-free tie-breaker for the prefix-sum tree
      .withColumn("copy_uid", $"doc_id" * 4 + $"k")
      .withColumn("sched_key", schedKeyCol($"doc_id", $"k"))
    packShards(copies, "sched_key", Some("copy_uid"))
      .select($"doc_id", $"k", $"source", $"n_tokens", $"sched_key",
        $"cum_before", $"shard_id")
      .orderBy($"doc_id", $"k")
  }

  lazy val epochScheduleSql: String =
    s"""WITH $epochPlanCtesSql,
       |$epochCopiesCtesSql,
       |cp AS (
       |  SELECT doc_id, source, n_tokens, k,
       |    ${schedKeySql("doc_id", "k")} AS sched_key
       |  FROM cp0),
       |ps AS (
       |  SELECT doc_id, k, source, n_tokens, sched_key,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      ORDER BY sched_key, doc_id * 4 + k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM cp)
       |SELECT doc_id, k, source, n_tokens, sched_key, cum_before,
       |  CAST(cum_before // $SHARD_TOKEN_BUDGET AS BIGINT) AS shard_id
       |FROM ps ORDER BY doc_id, k""".stripMargin

  /** Epoch-schedule calibration eval (`x_epoch_realized`) — the
    * report that ships with [[epochSchedule]], the
    * [[mixRealized]]/[[capRealized]] discipline applied to the repeat
    * coin: per source, the planned milli-epochs and realized token
    * target next to the SCHEDULED copy count and token mass, the
    * realized milli-epochs the schedule actually delivers
    * (`sched_tok·1000 div n_tok`), and the signed deviation from the
    * plan in exact milli. Integral and capped sources must read
    * dev_milli ≈ 0 by construction (only integer-division truncation,
    * never the coin); fractional sources show the md5 coin's binomial
    * noise — the number that tells a pipeline owner whether the
    * up-sampling coin is calibrated before a token-budgeted run
    * trusts it. Cost: the shared [[epochCopies]] expansion collapsed
    * to a source-domain-bounded aggregate joined onto the plan —
    * no packing, no corpus-sized state.
    */
  def epochRealized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val real = epochCopies(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_copies"), sum($"n_tokens").as("sched_tok"))
    epochPlan(s, dir)
      .select($"source", $"n_tok", $"epochs_milli", $"realized_tok")
      .join(real, Seq("source"), "left")
      .select($"source", $"epochs_milli", $"realized_tok",
        coalesce($"n_copies", lit(0L)).as("n_copies"),
        coalesce($"sched_tok", lit(0L)).as("sched_tok"),
        expr("coalesce(sched_tok, 0) * 1000 div n_tok").as("realized_milli"),
        (expr("coalesce(sched_tok, 0) * 1000 div n_tok") - $"epochs_milli")
          .as("dev_milli"))
      .orderBy($"source")
  }

  lazy val epochRealizedSql: String =
    s"""WITH $epochPlanCtesSql,
       |$epochCopiesCtesSql,
       |rl AS (
       |  SELECT source, COUNT(*) AS n_copies,
       |    CAST(SUM(n_tokens) AS BIGINT) AS sched_tok
       |  FROM cp0 GROUP BY source)
       |SELECT ep.source, ep.epochs_milli,
       |  CAST(CAST(ep.n_tok AS HUGEINT) * ep.epochs_milli // 1000 AS BIGINT)
       |    AS realized_tok,
       |  CAST(COALESCE(rl.n_copies, 0) AS BIGINT) AS n_copies,
       |  CAST(COALESCE(rl.sched_tok, 0) AS BIGINT) AS sched_tok,
       |  CAST(COALESCE(rl.sched_tok, 0) * 1000 // ep.n_tok AS BIGINT)
       |    AS realized_milli,
       |  CAST(COALESCE(rl.sched_tok, 0) * 1000 // ep.n_tok
       |    - ep.epochs_milli AS BIGINT) AS dev_milli
       |FROM ep LEFT JOIN rl USING (source)
       |ORDER BY ep.source""".stripMargin

  private val CHUNK_TOKENS = 32
  private val CHUNK_STRIDE = 24

  /** Context-window chunking: each document becomes overlapping
    * [[CHUNK_TOKENS]]-token windows at [[CHUNK_STRIDE]] stride — the
    * sequence-construction step between a cleaned corpus and a
    * training batch. Pure per-row explode: no shuffle until the output
    * sort, fan-out bounded by document length, embarrassingly parallel
    * at any corpus size. The chunk hash gives downstream exact-dedup a
    * unit to work at sub-document granularity.
    */
  /** The unsorted chunk stream — shared core of [[chunkWindows]] (the
    * presentation query) and [[chunkDedup]] (its consumer).
    */
  private def chunksOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"source", words($"text").as("w"))
      .select($"doc_id", $"source", $"w", size($"w").as("n"),
        posexplode(sequence(lit(0), greatest(size($"w") - 1, lit(0)), lit(CHUNK_STRIDE)))
          .as(Seq("chunk_id", "start")))
      .select($"doc_id", $"source", $"chunk_id".cast("long").as("chunk_id"),
        least(lit(CHUNK_TOKENS), $"n" - $"start").cast("long").as("n_tokens"),
        md5(concat_ws(" ", slice($"w", $"start" + 1, lit(CHUNK_TOKENS))).cast("binary"))
          .as("chunk_hash"))
  }

  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunksOf(s, dir)
      .select($"doc_id", $"chunk_id", $"n_tokens", $"chunk_hash")
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Unsorted chunk-stream SQL, the [[chunksOf]] twin. */
  private val chunksSql: String =
    s"""SELECT doc_id, CAST(s // $CHUNK_STRIDE AS BIGINT) AS chunk_id,
       |  CAST(least($CHUNK_TOKENS, n - s) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(w[s + 1:s + $CHUNK_TOKENS], ' ')) AS chunk_hash
       |FROM (
       |  SELECT doc_id, w, len(w) AS n,
       |    unnest(range(0, greatest(len(w), 1), $CHUNK_STRIDE)) AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""".stripMargin

  val chunkWindowsSql: String =
    chunksSql + "\nORDER BY doc_id, chunk_id"

  /** Sub-document exact dedup — the consumer the chunk hashes exist
    * for: keep the first occurrence (smallest (doc_id, chunk_id)) of
    * every chunk hash, mark the rest dropped. The same
    * groupBy-min + join shape as [[dedupFull]]'s exact edges, at chunk
    * granularity: the min is a `min(struct(doc_id, chunk_id))` with
    * map-side partial aggregation (a boilerplate chunk repeated a
    * billion times collapses to one row per task before the shuffle),
    * and the join back on the hash ships only 3-column rows through an
    * AQE-skew-splittable join — never a window sort over the hot hash.
    */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = chunksOf(s, dir)
    val keep = c.groupBy($"chunk_hash")
      .agg(min(struct($"doc_id", $"chunk_id")).as("k"))
      .select($"chunk_hash", $"k.doc_id".as("k_doc"), $"k.chunk_id".as("k_chunk"))
    c.join(keep, Seq("chunk_hash"))
      .select($"doc_id", $"chunk_id", $"chunk_hash",
        ($"doc_id" === $"k_doc" && $"chunk_id" === $"k_chunk").as("is_kept"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkDedupSql: String =
    s"""SELECT doc_id, chunk_id, chunk_hash,
       |  ROW_NUMBER() OVER (
       |    PARTITION BY chunk_hash ORDER BY doc_id, chunk_id) = 1 AS is_kept
       |FROM ($chunksSql)
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Sub-document span CLEANING — the remove-the-duplication operator
    * [[chunkDedup]] only reports: per document, drop every span whose
    * content hash already appeared (in a smaller doc_id, or earlier in
    * this one) and re-emit the cleaned text plus exact bytes removed —
    * the boilerplate/mirror-passage scrubber a training pipeline runs
    * between dedup and packing. Spans here are DISJOINT
    * [[CHUNK_TOKENS]]-token partitions, not [[chunksOf]]'s overlapping
    * stride windows: overlapping spans cannot be subtracted from a
    * document (their shared tokens would be removed twice), so the
    * cleaning variant re-chunks at stride = window. Space-tokenized
    * rebuild is exact: split-on-' ' then join-' ' is the identity on
    * any text, so `chars_removed` is precisely the dropped spans plus
    * their separators (counted in characters — both engines' `length`
    * is codepoint-based, so the two sides agree on any corpus; the
    * name says chars, not bytes, because they differ off-ASCII).
    * Shapes: the hash dedup is [[chunkDedup]]'s groupBy-min + hash
    * join (map-side partial agg over repeated boilerplate, no window
    * over the hot hash); the rebuild is ONE doc_id-keyed exchange.
    * Scale-critical: the chunk rows carry `orig_len` (one long), NOT
    * the document text — carrying `text` would ship n_chunks copies
    * of every document through the explode, the join, and the rebuild
    * exchange (O(n_chunks × doc_len) amplification; a 100k-token doc
    * would ship ~3k copies of itself). The `when(is_kept, ctext)`
    * projection nulls dropped spans BEFORE the rebuild's partial
    * aggregation, so per-group shuffle state is bounded by the
    * *cleaned* document, and the original length rides as a group key.
    */
  def chunkClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ch = Tables(s, dir, "documents")
      .select($"doc_id", length($"text").cast("long").as("orig_len"),
        words($"text").as("w"))
      .select($"doc_id", $"orig_len", $"w",
        explode(sequence(lit(0),
          greatest(floor((size($"w") - 1) / lit(CHUNK_TOKENS.toDouble)).cast("int"),
            lit(0)))).as("k"))
      .select($"doc_id", $"orig_len", $"k".cast("long").as("chunk_id"),
        concat_ws(" ",
          slice($"w", $"k" * CHUNK_TOKENS + 1, lit(CHUNK_TOKENS))).as("ctext"))
    val keep = ch
      .select(md5($"ctext".cast("binary")).as("h"), $"doc_id", $"chunk_id")
      .groupBy($"h").agg(min(struct($"doc_id", $"chunk_id")).as("kk"))
      .select($"h", $"kk.doc_id".as("k_doc"), $"kk.chunk_id".as("k_chunk"))
    ch.withColumn("h", md5($"ctext".cast("binary")))
      .join(keep, Seq("h"))
      .select($"doc_id", $"orig_len", $"chunk_id",
        ($"doc_id" === $"k_doc" && $"chunk_id" === $"k_chunk").as("is_kept"),
        when($"doc_id" === $"k_doc" && $"chunk_id" === $"k_chunk", $"ctext")
          .as("kept_text"))
      .groupBy($"doc_id", $"orig_len")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(!$"is_kept", 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          sort_array(collect_list(when($"is_kept", struct($"chunk_id", $"kept_text")))),
          x => x.getField("kept_text"))).as("cleaned_text"))
      .select($"doc_id", $"n_chunks", $"n_dropped", $"cleaned_text",
        ($"orig_len" - length($"cleaned_text")).cast("long").as("chars_removed"))
      .orderBy($"doc_id")
  }

  val chunkCleanSql: String =
    s"""WITH dch AS (
       |  SELECT doc_id, orig_len, CAST(k AS BIGINT) AS chunk_id,
       |    array_to_string(w[k * $CHUNK_TOKENS + 1 : k * $CHUNK_TOKENS + $CHUNK_TOKENS], ' ') AS ctext
       |  FROM (
       |    SELECT doc_id, orig_len, w,
       |      unnest(range(0, greatest((len(w) + ${CHUNK_TOKENS - 1}) // $CHUNK_TOKENS, 1))) AS k
       |    FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_len,
       |            string_split(text, ' ') AS w FROM documents))),
       |mk AS (
       |  SELECT doc_id, orig_len, chunk_id, ctext,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY md5(ctext) ORDER BY doc_id, chunk_id) = 1 AS is_kept
       |  FROM dch)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(*) FILTER (WHERE NOT is_kept) AS BIGINT) AS n_dropped,
       |  COALESCE(string_agg(ctext, ' ' ORDER BY chunk_id) FILTER (WHERE is_kept), '')
       |    AS cleaned_text,
       |  CAST(orig_len - length(COALESCE(
       |      string_agg(ctext, ' ' ORDER BY chunk_id) FILTER (WHERE is_kept), ''))
       |    AS BIGINT) AS chars_removed
       |FROM mk
       |GROUP BY doc_id, orig_len
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ content-defined chunks

  /** Boundary window (chars) and boundary mask for content-defined
    * chunking: a chunk boundary sits at every position whose
    * [[CDC_W]]-char window hashes to `0 mod [[CDC_MOD]]`, so the
    * expected chunk length is [[CDC_MOD]] chars and boundaries depend
    * only on LOCAL content — an edit moves the boundaries near it and
    * the chunking resynchronizes at the next surviving boundary
    * (pinned cross-engine by [[cdcResync]]). This is the data-level
    * analog of the reference's `use_content_defined_chunking` writer
    * flag (README.md:102 — PyArrow-side CDC data pages, adjudicated
    * unportable to parquet-mr in SURVEY §7.4): the property that flag
    * buys at the page level (shifted data re-aligns to identical
    * chunks → dedups) is provided here at the corpus level, where a
    * Spark pipeline can actually use it for storage-level dedup.
    *
    * The boundary predicate is the repo's engine-agnostic md5-window
    * idiom (first 4 hex digits → integer, exact in both engines), the
    * oracle-matchable stand-in for a gear/Rabin rolling hash: same
    * O(chars) work per row up to the constant, same chunk statistics,
    * and the plan shape — per-row map-side chunking, first exchange
    * only on `chunk_hash` — is identical to what the rolling-hash
    * kernel would ship at 100 TB.
    */
  private val CDC_W = graft.functions.CdcStarts.W
  private val CDC_MOD = graft.functions.CdcStarts.MOD

  /** Fixed-size comparison arm of [[cdcResync]] (chars per block). */
  private val CDC_FIX = 64

  /** 1-based chunk-start positions: 1 plus every in-range boundary.
    * Candidate positions are `[2, n-CDC_W+1]` (a window must fit;
    * position 1 is already a start), so texts shorter than CDC_W+1
    * chars are a single chunk. Evaluated by the native
    * [[graft.functions.CdcStarts]] kernel — one pass per row with a
    * reused digest, replacing the interpreted per-position HOF lambda
    * (measured ~5× on the sf0.1 chunk inventory); [[cdcStartsRef]] is
    * the composed-builtins reference the kernel is parity-pinned
    * against (CdcSpec).
    */
  private def cdcStarts(s: SparkSession, t: Column): Column =
    graft.functions.CdcFunctions.cdcStarts(s, t)

  /** Composed-builtins reference implementation of [[cdcStarts]] —
    * kept as the parity oracle for the native kernel, never on a hot
    * path. NULL-propagating like the kernel (UnaryExpression
    * null-safe semantics): without the outer `isNotNull` guard the
    * `when(n >= …)` branch would fall through to the empty-array arm
    * on a null length and emit `[1]` where the kernel emits NULL.
    */
  private[graft] def cdcStartsRef(t: Column): Column = {
    val n = length(t)
    val cand = when(n >= CDC_W + 1, sequence(lit(2), n - lit(CDC_W - 1)))
      .otherwise(array().cast("array<integer>"))
    val bnds = filter(cand, p =>
      conv(substring(md5(t.substr(p, lit(CDC_W)).cast("binary")), 1, 4), 16, 10)
        .cast("long") % CDC_MOD === 0)
    when(t.isNotNull, concat(array(lit(1)), bnds))
  }

  /** The unsorted CDC chunk stream — shared core of [[cdcChunks]],
    * [[cdcDedup]]. Entirely map-side: starts, lengths, and hashes are
    * per-row expressions; nothing shuffles until a consumer groups on
    * `chunk_hash`, and the `text` payload never reaches any exchange.
    */
  private def cdcChunksOf(s: SparkSession, dir: String): DataFrame =
    cdcChunkRowsOf(s, Tables(s, dir, "documents"))

  /** [[cdcChunksOf]] over an arbitrary documents frame (needs doc_id,
    * source, text) — the chunk-store build reuses it on the base
    * slice. */
  private def cdcChunkRowsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", $"source", $"text", length($"text").as("n"))
      .withColumn("starts", cdcStarts(s, $"text"))
      .select($"doc_id", $"source", $"text", $"n", $"starts",
        posexplode($"starts").as(Seq("i", "start")))
      // next start, or n+1 past the last chunk; the `when` guard keeps
      // element_at in bounds (ANSI-safe)
      .withColumn("nxt",
        when($"i" + 2 <= size($"starts"),
          element_at($"starts", ($"i" + 2).cast("int")))
          .otherwise($"n" + 1))
      .select($"doc_id", $"source", $"i".cast("long").as("chunk_id"),
        $"start".cast("long").as("start"),
        ($"nxt" - $"start").cast("long").as("n_chars"),
        md5($"text".substr($"start", $"nxt" - $"start").cast("binary"))
          .as("chunk_hash"))
  }

  /** Oracle twin of [[cdcChunksOf]] over `$textExpr` — the whole CDC
    * derivation (candidate range, boundary mask, start list, chunk
    * substrings, hashes) written once and shared by every x_cdc_*
    * oracle, so the SQL side cannot drift per query.
    */
  private def cdcChunkRowsSql(textExpr: String, src: String = "documents"): String =
    s"""SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS chunk_id,
       |  CAST(starts[CAST(i AS INT)] AS BIGINT) AS start,
       |  CAST(coalesce(starts[CAST(i AS INT) + 1], n + 1)
       |       - starts[CAST(i AS INT)] AS BIGINT) AS n_chars,
       |  md5(substr(t, CAST(starts[CAST(i AS INT)] AS INT),
       |      CAST(coalesce(starts[CAST(i AS INT) + 1], n + 1)
       |           - starts[CAST(i AS INT)] AS INT))) AS chunk_hash
       |FROM (
       |  SELECT doc_id, source, t, n, starts,
       |    unnest(range(1, len(starts) + 1)) AS i
       |  FROM (
       |    SELECT doc_id, source, t, n,
       |      list_prepend(1, list_filter(range(2, n - ${CDC_W - 2}),
       |        p -> ('0x' || substr(md5(substr(t, CAST(p AS INT), $CDC_W)), 1, 4))::BIGINT
       |             % $CDC_MOD = 0)) AS starts
       |    FROM (SELECT doc_id, source, $textExpr AS t,
       |            length($textExpr) AS n FROM $src)))""".stripMargin

  /** Content-defined chunking of every document: (chunk_id, start,
    * n_chars, chunk_hash) per chunk. The chunk inventory downstream
    * storage dedup ([[cdcDedup]]) works from.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cdcChunksOf(s, dir)
      .select($"doc_id", $"chunk_id", $"start", $"n_chars", $"chunk_hash")
      .orderBy($"doc_id", $"chunk_id")
  }

  val cdcChunksSql: String =
    s"""SELECT doc_id, chunk_id, start, n_chars, chunk_hash
       |FROM (${cdcChunkRowsSql("text")})
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Storage-level dedup accounting over the CDC chunks — the number
    * the reference's CDC writer flag exists to improve: per source,
    * how many chunk instances (and chars) are exact repeats of a
    * chunk already seen anywhere in the corpus (first occurrence =
    * smallest (doc_id, chunk_id), [[chunkDedup]]'s rule). ONE pass
    * over the chunk stream: instances collapse map-side into the
    * (chunk_hash, source) aggregate — counts, chars, the group's min
    * (doc_id, chunk_id), and the shared chunk length (instances of a
    * hash are the same content, hence the same length) — then the
    * global canonical resolves as a window min over that AGGREGATE,
    * whose partitions are bounded by the SOURCE DOMAIN, not by
    * instance multiplicity (a billion-repeat boilerplate chunk is one
    * row per source here — the skew [[chunkDedup]]'s no-window rule
    * guards against cannot occur on this input). The join-back of the
    * earlier formulation would recompute the whole chunk derivation
    * per side (column pruning differentiates the subtrees, so
    * exchange reuse never fires — measured 2× on the sf0.1 bench).
    */
  def cdcDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val per = cdcChunksOf(s, dir)
      .groupBy($"chunk_hash", $"source")
      .agg(count(lit(1)).as("cnt"), sum($"n_chars").as("chars"),
        min(struct($"doc_id", $"chunk_id")).as("kls"),
        max($"n_chars").as("clen"))
    per
      .withColumn("k", min($"kls").over(Window.partitionBy($"chunk_hash")))
      // the canonical instance contributes its single copy to exactly
      // one (hash, source) group; everything else in the group is dup
      .select($"source", $"cnt", $"chars", $"clen",
        ($"kls" === $"k").cast("long").as("is_can"))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_chunks"),
        sum($"chars").as("total_chars"),
        sum($"cnt" - $"is_can").as("dup_chunks"),
        sum($"chars" - $"is_can" * $"clen").as("dup_chars"))
      .withColumn("dup_ppm",
        expr("(dup_chars * 1000000) div nullif(total_chars, 0)"))
      .orderBy($"source")
  }

  val cdcDedupSql: String =
    s"""WITH c AS (${cdcChunkRowsSql("text")}),
       |r AS (
       |  SELECT source, n_chars,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY chunk_hash ORDER BY doc_id, chunk_id) AS rn
       |  FROM c)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS dup_chunks,
       |  CAST(COALESCE(SUM(n_chars) FILTER (WHERE rn > 1), 0) AS BIGINT)
       |    AS dup_chars,
       |  CAST(COALESCE(SUM(n_chars) FILTER (WHERE rn > 1), 0) * 1000000
       |       // NULLIF(SUM(n_chars), 0) AS BIGINT) AS dup_ppm
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Distinct chunk hashes of `t` given its staged start list — staged
    * as a real column by the caller so the boundary scan runs once per
    * row, not once per chunk.
    */
  private def cdcHashesOf(t: Column, starts: Column): Column = {
    val n = length(t)
    array_distinct(transform(starts, (st, i) => {
      val nxt = when(i + 2 <= size(starts), element_at(starts, (i + 2).cast("int")))
        .otherwise(n + 1)
      md5(t.substr(st, nxt - st).cast("binary"))
    }))
  }

  /** Distinct fixed-[[CDC_FIX]]-char block hashes of `t` — the
    * alignment-fragile chunking [[cdcResync]] contrasts against.
    */
  private def fixHashesOf(t: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(t), lit(1)), lit(CDC_FIX)),
      st => md5(t.substr(st, lit(CDC_FIX)).cast("binary"))))

  /** THE content-defined-chunking property, pinned cross-engine: every
    * document is re-chunked after a 1-char front insertion (the worst
    * case for any alignment-based scheme — every byte shifts), and per
    * source we report how many distinct chunk hashes survive under CDC
    * vs under fixed-size blocks of the same average size. CDC
    * boundaries depend only on local windows, so every chunk after the
    * first surviving boundary re-aligns (shared ≈ (k-1)/k); fixed
    * blocks all shift (shared ≈ 0). An exact-integer ppm per arm makes
    * a regression in either direction a hash mismatch, not a vibe.
    * Entirely map-side per doc (both chunkings are per-row arrays, the
    * intersection an array op); the only shuffle is the final
    * per-source aggregation of five counters.
    */
  def cdcResync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"source", $"text",
        concat(lit("#"), $"text").as("mtext"))
      .withColumn("bs", cdcStarts(s, $"text"))
      .withColumn("ms", cdcStarts(s, $"mtext"))
      .select($"source",
        cdcHashesOf($"text", $"bs").as("bh"),
        cdcHashesOf($"mtext", $"ms").as("mh"),
        fixHashesOf($"text").as("fbh"),
        fixHashesOf($"mtext").as("fmh"))
      .select($"source",
        size($"bh").as("nb"), size(array_intersect($"bh", $"mh")).as("sh"),
        size($"fbh").as("fnb"), size(array_intersect($"fbh", $"fmh")).as("fsh"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nb").as("cdc_chunks"), sum($"sh").as("cdc_shared"),
        sum($"fnb").as("fix_chunks"), sum($"fsh").as("fix_shared"))
      .withColumn("cdc_shared_ppm",
        expr("(cdc_shared * 1000000) div nullif(cdc_chunks, 0)"))
      .withColumn("fix_shared_ppm",
        expr("(fix_shared * 1000000) div nullif(fix_chunks, 0)"))
      .orderBy($"source")
  }

  /** Fixed-block oracle rows over `$textExpr` ([[fixHashesOf]] twin). */
  private def fixChunkRowsSql(textExpr: String): String =
    s"""SELECT doc_id, source,
       |  md5(substr(t, CAST(st AS INT), $CDC_FIX)) AS chunk_hash
       |FROM (
       |  SELECT doc_id, source, t,
       |    unnest(range(1, greatest(length(t), 1) + 1, $CDC_FIX)) AS st
       |  FROM (SELECT doc_id, source, $textExpr AS t FROM documents))""".stripMargin

  val cdcResyncSql: String =
    s"""WITH bset AS (
       |  SELECT DISTINCT doc_id, source, chunk_hash
       |  FROM (${cdcChunkRowsSql("text")})),
       |mset AS (
       |  SELECT DISTINCT doc_id, chunk_hash
       |  FROM (${cdcChunkRowsSql("'#' || text")})),
       |fbset AS (
       |  SELECT DISTINCT doc_id, source, chunk_hash
       |  FROM (${fixChunkRowsSql("text")})),
       |fmset AS (
       |  SELECT DISTINCT doc_id, chunk_hash
       |  FROM (${fixChunkRowsSql("'#' || text")})),
       |pd AS (
       |  SELECT b.doc_id, any_value(b.source) AS source, COUNT(*) AS nb,
       |    COUNT(*) FILTER (WHERE m.chunk_hash IS NOT NULL) AS sh
       |  FROM bset b LEFT JOIN mset m
       |    ON b.doc_id = m.doc_id AND b.chunk_hash = m.chunk_hash
       |  GROUP BY b.doc_id),
       |fpd AS (
       |  SELECT b.doc_id, COUNT(*) AS fnb,
       |    COUNT(*) FILTER (WHERE m.chunk_hash IS NOT NULL) AS fsh
       |  FROM fbset b LEFT JOIN fmset m
       |    ON b.doc_id = m.doc_id AND b.chunk_hash = m.chunk_hash
       |  GROUP BY b.doc_id)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nb) AS BIGINT) AS cdc_chunks,
       |  CAST(SUM(sh) AS BIGINT) AS cdc_shared,
       |  CAST(SUM(fnb) AS BIGINT) AS fix_chunks,
       |  CAST(SUM(fsh) AS BIGINT) AS fix_shared,
       |  CAST(SUM(sh) * 1000000 // NULLIF(SUM(nb), 0) AS BIGINT)
       |    AS cdc_shared_ppm,
       |  CAST(SUM(fsh) * 1000000 // NULLIF(SUM(fnb), 0) AS BIGINT)
       |    AS fix_shared_ppm
       |FROM pd JOIN fpd USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Gate probe width: the BOTTOM-[[CDC_PROBE_K]] of a doc's distinct
    * chunk hashes — a fixed-slot bottom-k sketch (order statistics of
    * a uniform hash are a content-keyed uniform sample of the chunk
    * set), so the streaming gate stays [[CDC_PROBE_K]] row-preserving
    * stream-static joins instead of an explode + stateful
    * re-aggregation.
    */
  private val CDC_PROBE_K = 4

  /** Yesterday's chunk-hash store — the CDC family's stale artifact:
    * the distinct chunk hashes of the base slice, stored as a TABLE
    * (corpus-sized, the [[corpusBandIndex]] contract: static side of
    * per-micro-batch stream-static equi-joins, never a plan
    * constant). */
  private[graft] def corpusCdcStore(s: SparkSession, docs: DataFrame): DataFrame =
    cdcChunkRowsOf(s, docs).select(col("chunk_hash")).distinct()

  /** One-time build of the stale chunk store over the BASE slice
    * ([[defaultBatchPred]] excluded), [[ensureBandIndex]]'s stamping
    * discipline. */
  def ensureCdcStore(s: SparkSession, dir: String): java.nio.file.Path =
    ensureArtifact("graft-cdcstore", dir, "documents",
        s"|v1|w$CDC_W|m$CDC_MOD") { staging =>
      val base = Tables(s, dir, "documents").filter(!defaultBatchPred)
      corpusCdcStore(s, base)
        .write.mode("overwrite").parquet(staging.resolve("chunks").toString)
    }

  /** The shared per-row CDC-gate scorer — ONE definition for the
    * streaming gate ([[graft.streaming.Streams.cdcChunkGate]]) and the
    * batch audit ([[cdcGateAudit]]), so gate and audit cannot drift.
    * Adds to `df`: `gate_np` (probed slots, ≤ [[CDC_PROBE_K]] —
    * every doc has ≥ 1 chunk, so ≥ 1), `gate_known` (probed chunks
    * found in the store), `gate_ppm` (known fraction of the probes in
    * integer ppm).
    *
    * Plan shape: chunk starts via the native [[cdcStarts]] kernel and
    * the chunk-hash array per row (map-side); the probes are the first
    * [[CDC_PROBE_K]] of the SORTED distinct hashes (bottom-k), each
    * riding ONE equi-keyed LEFT join against the stored table —
    * row-preserving, stateless in a streaming plan, text never on any
    * exchange. */
  private[graft] def cdcGateScored(
      s: SparkSession, df: DataFrame, store: DataFrame,
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // derive ALL probe slots map-side and drop the hash array BEFORE
    // the first join: at corpus scale the store side is too big to
    // broadcast, and the ~(doc_len/2)-byte sorted-hash array riding
    // k-1 shuffle joins would amplify the exchange payload back to
    // text order — exactly what chunking map-side bought back
    var out = df
      .withColumn("gate_cs", cdcStarts(s, t))
      .withColumn("gate_ch", array_sort(cdcHashesOf(t, col("gate_cs"))))
      .withColumn("gate_np",
        least(size(col("gate_ch")), lit(CDC_PROBE_K)).cast("long"))
      .withColumns(scala.collection.immutable.ListMap(
        (0 until CDC_PROBE_K).map(i => s"gate_p$i" ->
          when(size(col("gate_ch")) >= i + 1,
            element_at(col("gate_ch"), i + 1))): _*))
      .drop("gate_cs", "gate_ch")
    (0 until CDC_PROBE_K).foreach { i =>
      val st = store.select(col("chunk_hash").as(s"gate_k$i"))
      out = out.join(st, col(s"gate_p$i") === col(s"gate_k$i"), "left_outer")
    }
    out
      .withColumn("gate_known",
        (0 until CDC_PROBE_K).map(i =>
          when(col(s"gate_k$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("gate_ppm",
        when(col("gate_np") > 0, expr("(gate_known * 1000000) div gate_np")))
      .drop((0 until CDC_PROBE_K).flatMap(i =>
        Seq(s"gate_p$i", s"gate_k$i")): _*)
  }

  /** Batch audit of the stale CDC chunk gate (`x_cdc_gate`) — for
    * every arriving doc ([[defaultBatchPred]]), its probe count, how
    * many probed chunks yesterday's store already holds, the known
    * fraction in exact ppm, and the gate verdict (≥ half the probed
    * slots known → the doc is assembled from already-stored content —
    * [[cdcDedup]]'s signal applied at ingest time). The scoring IS the
    * deployed gate's ([[cdcGateScored]] — shared column builder). */
  def cdcGateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureCdcStore(s, dir)
    val store = s.read.parquet(root.resolve("chunks").toString)
    val arrivals = Tables(s, dir, "documents")
      .filter(defaultBatchPred).select($"doc_id", $"text")
    cdcGateScored(s, arrivals, store)
      .select($"doc_id", $"gate_np".as("n_probes"),
        $"gate_known".as("n_known"), $"gate_ppm".as("known_ppm"),
        ($"gate_known" * 2 >= $"gate_np").as("dropped"))
      .orderBy($"doc_id")
  }

  lazy val cdcGateSql: String =
    s"""WITH cbase AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE NOT ($defaultBatchCondSql)),
       |carr AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE $defaultBatchCondSql),
       |cstore AS (
       |  SELECT DISTINCT chunk_hash FROM (${cdcChunkRowsSql("text", "cbase")})),
       |ach AS (
       |  SELECT DISTINCT doc_id, chunk_hash
       |  FROM (${cdcChunkRowsSql("text", "carr")})),
       |probes AS (
       |  SELECT doc_id, chunk_hash FROM ach
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY chunk_hash) <= $CDC_PROBE_K),
       |sc AS (
       |  SELECT p.doc_id, COUNT(*) AS np, COUNT(cs.chunk_hash) AS known
       |  FROM probes p LEFT JOIN cstore cs ON p.chunk_hash = cs.chunk_hash
       |  GROUP BY p.doc_id)
       |SELECT doc_id, CAST(np AS BIGINT) AS n_probes,
       |  CAST(known AS BIGINT) AS n_known,
       |  CAST(known * 1000000 // np AS BIGINT) AS known_ppm,
       |  known * 2 >= np AS dropped
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Per-class catch curve of the stale CDC chunk gate over planted
    * reuse variants (`x_cdc_gate_recall`) — the gate-side twin of
    * [[bandGateRecall]] at SUB-document granularity, and the
    * cross-engine pin of the envelope StreamingSpec demonstrates on
    * one stitched doc. From a disjoint 10% base slice (`doc_id % 10
    * = 3` — stored content, never arrivals) both engines derive five
    * variants per doc, each a reuse mode a curation pipeline actually
    * meets: `replay` (exact copy), `wrap` (novel header/footer around
    * a stored body — the spam-wrap that defeats whole-doc hashing),
    * `excerpt` (the middle half, arbitrary offset — catching it is
    * THE content-defined re-alignment property [[cdcResync]] pins;
    * fixed blocks share ≈0 here), `stitch` (the doc concatenated
    * with itself — assembled entirely from stored passages, fresh at
    * whole-doc granularity), and `novel` (the reversed text — the
    * false-positive floor). Every variant is scored by the DEPLOYED
    * gate's own [[cdcGateScored]] against the same stale store the
    * ingest gate reads ([[ensureCdcStore]]); output = per class
    * (n_planted, n_caught, catch_ppm), so a drift in EITHER
    * direction — a reuse mode starting to sail through, or novelty
    * starting to be eaten — fails the hash compare, not just a
    * Spark-side spec.
    *
    * Scale shape: variant derivation is five per-row string
    * expressions under one explode (no pairing join, no window —
    * nothing leaves the row until the 5-counter per-class agg);
    * chunking + probe scoring are [[cdcGateScored]]'s map-side
    * kernel + k row-preserving equi-joins.
    */
  def cdcGateRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureCdcStore(s, dir)
    val store = s.read.parquet(root.resolve("chunks").toString)
    val planted = Tables(s, dir, "documents")
      .filter($"doc_id" % 10 === 3)
      .select($"doc_id", $"text", length($"text").cast("long").as("n"))
    val variants = planted
      .select($"doc_id", explode(array(
        struct(lit("replay").as("cls"), $"text".as("vtext")),
        struct(lit("wrap").as("cls"),
          concat(lit("zq novel header "), $"text", lit(" zq tail")).as("vtext")),
        struct(lit("excerpt").as("cls"),
          expr("substring(text, cast(n div 4 as int) + 1, cast(n div 2 as int))")
            .as("vtext")),
        struct(lit("stitch").as("cls"), concat($"text", $"text").as("vtext")),
        struct(lit("novel").as("cls"), reverse($"text").as("vtext"))
      )).as("v"))
      .select($"doc_id", $"v.cls".as("cls"), $"v.vtext".as("vtext"))
    cdcGateScored(s, variants, store, "vtext")
      .select($"cls", ($"gate_known" * 2 >= $"gate_np").as("dropped"))
      .groupBy($"cls")
      .agg(count(lit(1)).as("n_planted"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_caught"))
      .select($"cls".as("class"), $"n_planted", $"n_caught",
        expr("(n_caught * 1000000) div n_planted").as("catch_ppm"))
      .orderBy($"class")
  }

  lazy val cdcGateRecallSql: String =
    s"""WITH cbase AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE NOT ($defaultBatchCondSql)),
       |cstore AS (
       |  SELECT DISTINCT chunk_hash FROM (${cdcChunkRowsSql("text", "cbase")})),
       |plant AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
       |  FROM documents WHERE doc_id % 10 = 3),
       |vars AS (
       |  SELECT doc_id, 'replay' AS source, text FROM plant
       |  UNION ALL SELECT doc_id, 'wrap',
       |    'zq novel header ' || text || ' zq tail' FROM plant
       |  UNION ALL SELECT doc_id, 'excerpt',
       |    substr(text, CAST(n // 4 + 1 AS INT), CAST(n // 2 AS INT)) FROM plant
       |  UNION ALL SELECT doc_id, 'stitch', text || text FROM plant
       |  UNION ALL SELECT doc_id, 'novel', reverse(text) FROM plant),
       |vch AS (
       |  SELECT DISTINCT doc_id, source AS cls, chunk_hash
       |  FROM (${cdcChunkRowsSql("text", "vars")})),
       |probes AS (
       |  SELECT doc_id, cls, chunk_hash FROM vch
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY doc_id, cls ORDER BY chunk_hash) <= $CDC_PROBE_K),
       |sc AS (
       |  SELECT p.doc_id, p.cls, COUNT(*) AS np, COUNT(cs.chunk_hash) AS known
       |  FROM probes p LEFT JOIN cstore cs ON p.chunk_hash = cs.chunk_hash
       |  GROUP BY 1, 2)
       |SELECT cls AS class, COUNT(*) AS n_planted,
       |  CAST(SUM(CASE WHEN known * 2 >= np THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_caught,
       |  CAST((SUM(CASE WHEN known * 2 >= np THEN 1 ELSE 0 END) * 1000000)
       |    // COUNT(*) AS BIGINT) AS catch_ppm
       |FROM sc GROUP BY cls ORDER BY cls""".stripMargin

  /** Chunk-store maintenance accounting (`x_cdc_novelty`) — the
    * compaction-side view that closes the CDC family's loop: when the
    * arrival window folds into yesterday's store ([[ensureCdcStore]]),
    * how much does the store actually grow, per source? For each
    * arriving source: its distinct chunk hashes, how many are NOT yet
    * in the store (the store's growth contribution), and the novel
    * fraction in exact ppm — [[shingleNovelty]]'s question at the
    * storage-dedup granularity the CDC writer flag targets, and the
    * corpus-level aggregate of what [[cdcGateAudit]] scores per doc.
    *
    * Scale shape: chunking is the map-side kernel; the per-source
    * DISTINCT collapses boilerplate chunks map-side before its
    * exchange; the store probe is one hash-keyed LEFT join of two
    * hash-only projections (no text, no arrays on any exchange); the
    * final agg is bounded by the source domain.
    */
  def cdcNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = ensureCdcStore(s, dir)
    val store = s.read.parquet(root.resolve("chunks").toString)
      .select($"chunk_hash", lit(1).as("in_store"))
    val arrivals = Tables(s, dir, "documents").filter(defaultBatchPred)
    cdcChunkRowsOf(s, arrivals)
      .select($"source", $"chunk_hash").distinct()
      .join(store, Seq("chunk_hash"), "left_outer")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"in_store".isNull, 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty_ppm", expr("(n_new * 1000000) div n_chunks"))
      .orderBy($"source")
  }

  lazy val cdcNoveltySql: String =
    s"""WITH cbase AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE NOT ($defaultBatchCondSql)),
       |carr AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE $defaultBatchCondSql),
       |cstore AS (
       |  SELECT DISTINCT chunk_hash FROM (${cdcChunkRowsSql("text", "cbase")})),
       |ach AS (
       |  SELECT DISTINCT source, chunk_hash
       |  FROM (${cdcChunkRowsSql("text", "carr")}))
       |SELECT a.source, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN cs.chunk_hash IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_new,
       |  CAST((SUM(CASE WHEN cs.chunk_hash IS NULL THEN 1 ELSE 0 END)
       |    * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
       |FROM ach a LEFT JOIN cstore cs ON a.chunk_hash = cs.chunk_hash
       |GROUP BY a.source ORDER BY a.source""".stripMargin

  /** Cross-source content-overlap matrix — the "is source B (partly)
    * a mirror of source A?" diagnostic a curation pipeline runs
    * before deciding crawl priorities: per source pair, how many
    * distinct [[chunksOf]] context-window hashes both carry. Chunk
    * granularity on purpose — partial mirrors and syndicated passages
    * never hash equal at document level. The chunk-hash groupBy has
    * map-side partial aggregation (a boilerplate chunk collapses per
    * task); the per-hash source set is bounded by the source domain
    * and the output by its square.
    */
  def dupSrcMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunksOf(s, dir)
      .groupBy($"chunk_hash").agg(collect_set($"source").as("srcs"))
      .filter(size($"srcs") >= 2)
      .select(explode($"srcs").as("src_a"), $"srcs")
      .select($"src_a", explode($"srcs").as("src_b"))
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_shared_chunks"))
      .orderBy($"src_a", $"src_b")
  }

  val dupSrcMatrixSql: String =
    s"""WITH ch AS ($chunksSql),
       |hs AS (
       |  SELECT DISTINCT ch.chunk_hash AS h, d.source
       |  FROM ch JOIN documents d USING (doc_id))
       |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared_chunks
       |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fan-out of each level of the [[exclusivePrefixSum]] scan tree. */
  private val SCAN_FANOUT = 1000

  /** Distributed exclusive prefix sum over `(key, value)` rows in
    * `key` order — the classic two-level scan tree, the primitive a
    * global running total needs WITHOUT the single-partition
    * `Window.orderBy` that would serialize the whole corpus through
    * one task. Level 1 buckets rows by `key div` [[SCAN_FANOUT]] and
    * runs the running sum inside each ≤[[SCAN_FANOUT]]-row bucket;
    * level 2 does the same over the per-bucket totals; only the
    * per-SUPER-bucket totals — `N / FANOUT²` rows, ≤100k at 10¹¹
    * input rows — meet a global-order window, and they broadcast back
    * as the top offsets. Deeper corpora add another `div FANOUT`
    * level; two suffice for any corpus this engine will meet. The
    * bucket-offset join keys on `b1`, the same key level 1 already
    * hash-partitioned by, so AQE reuses the exchange rather than
    * re-shuffling the data rows.
    *
    * Returns the input columns plus `cum_before` = sum of `value`
    * over all rows that come strictly earlier in `(key, tie)` order.
    * The input is read twice (row path + bucket-totals path) — the
    * [[repDocsOf]] groupBy+join trade: both passes are narrow
    * projections of the scan, cheaper than serializing the corpus
    * through one window task.
    *
    * Two bucketings, chosen by `tie`:
    *  - no `tie`: `key` is a DENSE unique id (doc ids, bucket ids), and
    *    the widths above cap every level-1 bucket at [[SCAN_FANOUT]]
    *    rows;
    *  - with a `tie`: `key` is a HASH-UNIFORM 48-bit key
    *    ([[shuffleKeyCol]], [[schedKeyCol]]), which may collide, so
    *    order ties break on the unique `tie` column. Fixed widths would
    *    leave one row per bucket and push ~n rows into the top-level
    *    window, so the split is fixed bucket COUNTS instead: 2²⁰
    *    level-1 buckets (key div 2²⁸) and 2¹⁰ super-buckets.
    *    Md5-uniformity bounds every level-1 window at ~n/2²⁰ rows (10⁵
    *    rows per task at a 10¹¹-doc corpus, no skew possible) and the
    *    one global window sees ≤2¹⁰ super-bucket totals at any corpus
    *    size.
    */
  private[queries] def exclusivePrefixSum(df: DataFrame, key: String, value: String,
      tie: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (width, fanout) = if (tie.isEmpty) (SCAN_FANOUT.toLong, SCAN_FANOUT) else (1L << 28, 1024)
    val b1 = expr(s"$key div $width")
    val b2 = expr(s"b1 div $fanout")
    val wIn = Window.partitionBy(col("b1")).orderBy((key +: tie.toSeq).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB1 = Window.partitionBy(col("b2")).orderBy(col("b1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB2 = Window.orderBy(col("b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rows = df.withColumn("b1", b1)
      .withColumn("off1", coalesce(sum(col(value)).over(wIn), lit(0L)))
    val bucketTotals = df.withColumn("b1", b1)
      .groupBy(col("b1")).agg(sum(col(value)).as("t1"))
      .withColumn("b2", b2)
    val bucketOffsets = bucketTotals
      .withColumn("off2", coalesce(sum(col("t1")).over(wB1), lit(0L)))
    val superOffsets = bucketTotals
      .groupBy(col("b2")).agg(sum(col("t1")).as("t2"))
      .withColumn("off3", coalesce(sum(col("t2")).over(wB2), lit(0L)))
    rows
      .join(bucketOffsets.select(col("b1"), col("b2"), col("off2")), Seq("b1"))
      .join(broadcast(superOffsets.select(col("b2"), col("off3"))), Seq("b2"))
      .withColumn("cum_before", col("off1") + col("off2") + col("off3"))
      .drop("b1", "b2", "off1", "off2", "off3")
  }

  /** Token budget per training shard in [[shardPlan]].
    * `private[graft]` so the export/epoch specs track the constant
    * instead of restating the literal — a future budget change must
    * not fail them for a stale reason.
    */
  private[graft] val SHARD_TOKEN_BUDGET = 4096L

  /** The token-budget packing rule, the one owner of it for the whole
    * shard, epoch and export family: a document goes to the shard in
    * which its token span begins,
    * `shard_id = (offset + exclusive running n_tokens) div`
    * [[SHARD_TOKEN_BUDGET]], the running total taken in `(key, tie)`
    * order by the [[exclusivePrefixSum]] tree. Returns `toks`'s
    * columns plus `cum_before` (offset included) and `shard_id`.
    * `offset` (yesterday's or the committed token total) comes only
    * from the export and append packers; the others' plans carry no
    * `+ 0`.
    */
  private[queries] def packShards(toks: DataFrame, key: String, tie: Option[String],
      offset: Option[Column] = None): DataFrame = {
    val tree = exclusivePrefixSum(toks, key, "n_tokens", tie)
    offset.fold(tree)(o => tree.withColumn("cum_before", col("cum_before") + o))
      .withColumn("shard_id", expr(s"cum_before div $SHARD_TOKEN_BUDGET"))
  }

  /** The unordered shard assignment — shared core of [[shardPlan]]
    * (the per-document plan) and [[shardStats]] (its fill audit).
    */
  private def shardAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packShards(Tables(s, dir, "documents")
      .select($"doc_id", size(words($"text")).cast("long").as("n_tokens")), "doc_id", None)
  }

  /** Shard packing — the last step before a corpus becomes training
    * input: assign every document, in deterministic `doc_id` order,
    * to the output shard in which its token span begins, shards
    * holding [[SHARD_TOKEN_BUDGET]] tokens each. `shard_id` is a pure
    * function of the exclusive running token total, which
    * [[exclusivePrefixSum]] computes as a scan tree — this is the
    * operator that motivates that primitive, because the naive
    * formulation (one global-order window over the corpus) is the
    * textbook single-task bottleneck at scale. Packing by running
    * total (documents straddle budget boundaries) keeps assignment
    * independent of partitioning and engine.
    */
  def shardPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shardAssign(s, dir).orderBy($"doc_id")
  }

  /** DuckDB twin of [[shardAssign]] as a parenthesized FROM source. */
  private val shardAssignSql: String =
    s"""(SELECT doc_id, n_tokens, cum_before,
       |  cum_before // $SHARD_TOKEN_BUDGET AS shard_id
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents)))""".stripMargin

  val shardPlanSql: String =
    s"""SELECT doc_id, n_tokens, cum_before, shard_id
       |FROM $shardAssignSql
       |ORDER BY doc_id""".stripMargin

  /** Shard-fill audit over [[shardPlan]] — the packing-quality check
    * run before shipping a shard layout to training: per shard the
    * ASSIGNED document count, token total, and fill ratio against
    * [[SHARD_TOKEN_BUDGET]] in integer ppm. Shards overfill slightly
    * (a document belongs to the shard its span STARTS in), the final
    * shard underfills, and a document spanning several budgets leaves
    * empty shards in between — all three are visible, not hidden: the
    * shard spine is every shard any document's span TOUCHES (per-doc
    * `sequence` explode, fan-out bounded by doc_tokens / budget), so
    * a skipped shard reports n_docs = 0, fill_ppm = 0 instead of
    * silently missing from the id range a training job iterates. One
    * bounded aggregate on `shard_id` — corpus_tokens / budget keys —
    * on top of the shared [[shardAssign]] core.
    */
  /** The fill audit over AN assignment frame — shared by
    * [[shardStats]] (doc_id-order packing) and [[shuffleStats]] (the
    * seeded shuffled packing): one pass, each doc exploding into every
    * shard its span touches.
    */
  private[queries] def shardFillStats(assign: DataFrame): DataFrame = {
    // one pass over the assignment: each doc explodes into every shard
    // its span touches (fan-out bounded by doc_tokens / budget), and
    // the aggregate attributes the doc and its tokens only to the
    // shard it STARTS in — touched-but-empty shards fall out as
    // explicit zero rows without a second scan-tree evaluation or a
    // spine self-join
    assign
      .select(col("shard_id").as("start_shard"), col("n_tokens"),
        explode(sequence(col("shard_id"),
          expr(s"(cum_before + n_tokens - 1) div $SHARD_TOKEN_BUDGET"))).as("sid"))
      .groupBy(col("sid"))
      .agg(
        count(when(col("sid") === col("start_shard"), lit(1))).as("n_docs"),
        coalesce(sum(when(col("sid") === col("start_shard"), col("n_tokens"))),
          lit(0L)).as("n_tokens"))
      .select(col("sid").as("shard_id"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens * 1000000) div $SHARD_TOKEN_BUDGET").as("fill_ppm"))
      .orderBy(col("shard_id"))
  }

  def shardStats(s: SparkSession, dir: String): DataFrame =
    shardFillStats(shardAssign(s, dir))

  /** DuckDB twin of [[shardFillStats]] over an assignment subquery. */
  private[queries] def shardStatsSqlFrom(assignSql: String): String =
    s"""WITH touched AS (
       |  SELECT shard_id AS start_shard, n_tokens,
       |    unnest(range(shard_id,
       |      (cum_before + n_tokens - 1) // $SHARD_TOKEN_BUDGET + 1)) AS sid
       |  FROM $assignSql),
       |st AS (
       |  SELECT sid,
       |    COUNT(*) FILTER (sid = start_shard) AS n_docs,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (sid = start_shard), 0) AS BIGINT)
       |      AS n_tokens
       |  FROM touched GROUP BY sid)
       |SELECT sid AS shard_id, n_docs, n_tokens,
       |  (n_tokens * 1000000) // $SHARD_TOKEN_BUDGET AS fill_ppm
       |FROM st ORDER BY shard_id""".stripMargin

  val shardStatsSql: String = shardStatsSqlFrom(shardAssignSql)

  /** The seeded shuffle key: 48 bits of md5 over a salted doc_id —
    * deterministic, engine-agnostic, uniform over [0, 2⁴⁸). Ordering
    * ties (two docs hashing to the same 48 bits — birthday-expected
    * past ~2²⁴ docs) break on doc_id, so the permutation stays total
    * and identical in both engines.
    */
  private val SHUF_SALT = "shuf7|"

  private def shuffleKeyCol(id: Column): Column =
    conv(substring(md5(concat(lit(SHUF_SALT), id.cast("string"))
      .cast("binary")), 1, 12), 16, 10).cast("long")

  private[queries] def shuffleKeySql(id: String): String =
    s"('0x' || substr(md5('$SHUF_SALT' || CAST($id AS VARCHAR)), 1, 12))::BIGINT"

  /** A documents frame as the permutation-order packers' input:
    * `(doc_id, shuffle_key, n_tokens)`, then the `extra` columns.
    */
  private[queries] def shuffleToks(docs: DataFrame, extra: Column*): DataFrame =
    docs.select(Seq(col("doc_id"), shuffleKeyCol(col("doc_id")).as("shuffle_key"),
      size(words(col("text"))).cast("long").as("n_tokens")) ++ extra: _*)

  /** The shuffled shard assignment — [[shardAssign]]'s core fed by the
    * seeded permutation order instead of doc_id order.
    */
  private def shuffledAssign(s: SparkSession, dir: String): DataFrame =
    packShards(shuffleToks(Tables(s, dir, "documents")), "shuffle_key", Some("doc_id"))

  /** Seeded deterministic training-shard shuffle (`x_shard_shuffle`)
    * — the step [[shardPlan]] deliberately skipped: training pipelines
    * SHUFFLE documents before packing (adjacent doc_ids are crawl
    * neighbors — same host, same day — and a batch of consecutive
    * docs is exactly the correlation a shuffle exists to break). The
    * permutation is `order by md5(seed ‖ doc_id)` (ties on doc_id):
    * reproducible across engines, reruns, and partitionings, with the
    * seed in the salt so a re-shuffle is a one-constant change. The
    * packing core is [[shardPlan]]'s own (span-start assignment
    * against the running token total), so shuffled and unshuffled
    * layouts conserve documents and tokens EXACTLY — pinned in
    * ShardShuffleSpec — and [[shuffleStats]] re-runs the fill audit on
    * the shuffled layout.
    *
    * Scale shape: the only structural change vs [[shardPlan]] is the
    * prefix-sum tree's bucketing — uniform hash keys need fixed bucket
    * COUNTS rather than fixed bucket widths ([[exclusivePrefixSum]]
    * with a tie column);
    * everything stays the same two narrow passes over (id, key,
    * n_tokens) rows, no corpus-sized global sort, no single-partition
    * window.
    */
  def shardShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shuffledAssign(s, dir).orderBy($"doc_id")
  }

  /** DuckDB twin of [[shuffledAssign]] as a parenthesized FROM source
    * (the oracle's window is the semantic spec the scan tree must
    * reproduce).
    */
  private lazy val shuffledAssignSql: String =
    s"""(SELECT doc_id, shuffle_key, n_tokens, cum_before,
       |  cum_before // $SHARD_TOKEN_BUDGET AS shard_id
       |FROM (
       |  SELECT doc_id, shuffle_key, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM (SELECT doc_id, ${shuffleKeySql("doc_id")} AS shuffle_key,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents)))""".stripMargin

  lazy val shardShuffleSql: String =
    s"""SELECT doc_id, shuffle_key, n_tokens, cum_before, shard_id
       |FROM $shuffledAssignSql
       |ORDER BY doc_id""".stripMargin

  /** Fill audit over the SHUFFLED layout (`x_shuffle_stats`) — the
    * [[shardStats]] audit re-run on [[shardShuffle]]'s packing, per
    * the pairing discipline: a transform ships with its eval. Same
    * shared core, same explode-spine zero-row visibility.
    */
  def shuffleStats(s: SparkSession, dir: String): DataFrame =
    shardFillStats(shuffledAssign(s, dir))

  lazy val shuffleStatsSql: String = shardStatsSqlFrom(shuffledAssignSql)

  /** Incremental shard APPEND (`x_shard_append`) — the shard family's
    * daily-ingest member, completing for packing what `x_incr_*`
    * completed for dedup: the arriving batch ([[defaultBatchPred]])
    * is packed into shards CONTINUING yesterday's layout — the first
    * arrival fills the base's open partial shard, the rest extend the
    * shard sequence — instead of re-running [[shardPlan]] over the
    * grown corpus, which renumbers the running total at every batch
    * doc's insertion point and MOVES already-written shards (training
    * shards are immutable once consumed; re-packing them is exactly
    * the rebuild cost the incremental path exists to avoid, and
    * ShardAppendSpec measures that the re-pack would genuinely move
    * assignments on this corpus). Per batch doc: token count, the
    * GLOBAL exclusive running total (yesterday's corpus mass + the
    * batch-internal prefix), and the continued shard id.
    *
    * Scale shape: the batch pays only its OWN scan-tree prefix sum
    * ([[exclusivePrefixSum]] over batch-sized input); yesterday's
    * total is ONE number — here derived by a single narrow aggregate
    * over the base slice (at a real deployment it is a stored
    * manifest scalar, the [[ensureBaseLabels]] amortization applied
    * to a single long), riding into the plan as a broadcast 1-row
    * literal, never a corpus-wide window. Stability is structural:
    * base assignments are untouched by construction (the operator
    * never reads them), pinned in ShardAppendSpec alongside the
    * open-shard fill and exact token conservation.
    */
  def shardAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val baseTotal = docs.filter(!defaultBatchPred)
      .select(coalesce(sum(size(words($"text")).cast("long")), lit(0L)))
      .as[Long].head()
    val batch = docs.filter(defaultBatchPred)
      .select($"doc_id", size(words($"text")).cast("long").as("n_tokens"))
    packShards(batch, "doc_id", None, Some(lit(baseTotal))).orderBy($"doc_id")
  }

  lazy val shardAppendSql: String =
    s"""WITH bt AS (
       |  SELECT CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)), 0)
       |    AS BIGINT) AS t
       |  FROM documents WHERE NOT (doc_id % 10 = 7)),
       |b AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents WHERE doc_id % 10 = 7),
       |c AS (
       |  SELECT doc_id, nt,
       |    CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cb
       |  FROM b)
       |SELECT doc_id, nt AS n_tokens,
       |  CAST(cb + t AS BIGINT) AS cum_before,
       |  CAST((cb + t) // $SHARD_TOKEN_BUDGET AS BIGINT) AS shard_id
       |FROM c, bt ORDER BY doc_id""".stripMargin

  /** Documents per bucket of the [[vocabGrowth]] curve. */
  private val VOCAB_BUCKET_DOCS = 50

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct 3-gram
    * shingle count as the corpus grows in `doc_id` order, one point
    * per [[VOCAB_BUCKET_DOCS]] documents — the saturation diagnostic
    * that tells a crawl whether new data still brings new language.
    * Shingles, not single tokens: the unigram vocabulary of any
    * closed-domain corpus saturates almost immediately (this
    * fixture's does in its first bucket), while the n-gram space is
    * combinatorial and keeps discriminating. "Cumulative distinct"
    * distributes because first occurrence is a `min`: one
    * shingle-keyed groupBy (map-side partials absorb boilerplate
    * skew) finds each shingle's first document, a bounded aggregate
    * counts first occurrences per bucket, and the running total over
    * buckets — corpus_size / [[VOCAB_BUCKET_DOCS]] rows, unbounded in
    * principle — goes through the same [[exclusivePrefixSum]] scan
    * tree as [[shardPlan]] rather than a single-partition window.
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bucket spine = every bucket that CONTAINS documents, so a
    // fully-saturated stretch of corpus reports new_terms = 0 instead
    // of disappearing — the flat tail IS the saturation signal this
    // curve exists to show
    val spine = Tables(s, dir, "documents")
      .select(expr(s"doc_id div $VOCAB_BUCKET_DOCS").as("bucket"))
      .distinct()
    val perBucket = shinglesOf(Tables(s, dir, "documents"))
      .groupBy($"s").agg(min($"doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc div $VOCAB_BUCKET_DOCS").as("bucket"))
      .agg(count(lit(1)).as("nt"))
    val filled = spine.join(perBucket, Seq("bucket"), "left")
      .select($"bucket", coalesce($"nt", lit(0L)).as("new_terms"))
    exclusivePrefixSum(filled, "bucket", "new_terms")
      .select($"bucket", $"new_terms",
        ($"cum_before" + $"new_terms").as("vocab_size"))
      .orderBy($"bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH spine AS (
       |  SELECT DISTINCT doc_id // $VOCAB_BUCKET_DOCS AS bucket FROM documents),
       |fo AS (
       |  SELECT s, MIN(doc_id) AS first_doc FROM (${shinglesSqlFrom("documents")})
       |  GROUP BY s),
       |nb AS (
       |  SELECT first_doc // $VOCAB_BUCKET_DOCS AS bucket, COUNT(*) AS nt
       |  FROM fo GROUP BY 1)
       |SELECT spine.bucket, CAST(COALESCE(nt, 0) AS BIGINT) AS new_terms,
       |  CAST(SUM(COALESCE(nt, 0)) OVER (ORDER BY spine.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab_size
       |FROM spine LEFT JOIN nb ON spine.bucket = nb.bucket
       |ORDER BY spine.bucket""".stripMargin

  /** Document-frequency cap for the token-rarity score: tokens in more
    * than this many documents are common vocabulary and contribute no
    * rarity signal. Same scale role as [[SHINGLE_DF_CAP]]; enforced
    * map-side by a WindowGroupLimit rank filter (see [[tokenRarity]]),
    * so stopword skew never reaches a shuffle.
    */
  private val RARE_DF_CAP = 100

  /** Token-rarity quality score per document: Σ over the doc's
    * distinct rare tokens of `floor(1e9 / df)` — a harmonic
    * "inverse-document-frequency mass" that separates formulaic from
    * information-dense documents without a language model. Integer
    * micro-unit arithmetic end-to-end (the [[centroids]] trick):
    * engines disagree about float sum order, never about int64 sums.
    */
  def tokenRarity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    // One linear pipeline, one pass over the corpus tokens, one
    // exchange to the df aggregate — no shared subtree (the previous
    // formulation fed `toks` and the df aggregate into two consumers
    // each, so concurrent stages scanned the corpus tokens twice).
    // The rank-≤-(cap+1) filter compiles to a map-side
    // WindowGroupLimit (the stratifiedSample bound): each task keeps
    // at most cap+1 rows per token BEFORE the shuffle, and the final
    // limit leaves at most cap+1 rows per token globally — so the
    // `collect_list` is bounded at cap+1 members and a stopword's
    // billion occurrences never cross the wire. Semantics are exactly
    // preserved: a token with true df ≤ cap loses no rows (every task
    // holds ≤ cap of it), so its count and id list are exact; a token
    // with true df > cap retains > cap rows by construction and is
    // dropped by the same `df ≤ cap` filter as before. The groupBy
    // that follows reuses the window's hash partitioning on `t` — the
    // cap costs no extra shuffle (the capBandGroups pattern).
    val byTok = Window.partitionBy($"t").orderBy($"doc_id")
    val perDoc = Tables(s, dir, "documents")
      .select($"doc_id", explode(array_distinct(words($"text"))).as("t"))
      .withColumn("trn", row_number().over(byTok))
      .filter($"trn" <= RARE_DF_CAP + 1)
      .groupBy($"t")
      .agg(count(lit(1)).as("df"), collect_list($"doc_id").as("ids"))
      .filter($"df" <= RARE_DF_CAP)
      .select(explode($"ids").as("doc_id"), $"df")
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_rare"),
        sum(floor(lit(1000000000.0d) / $"df").cast("long")).as("rarity_micro"))
    Tables(s, dir, "documents").select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_rare", lit(0L)).as("n_rare"),
        coalesce($"rarity_micro", lit(0L)).as("rarity_micro"))
      .orderBy($"doc_id")
  }

  val tokenRaritySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |  FROM documents),
       |dft AS (SELECT t, COUNT(*) AS df FROM toks GROUP BY t),
       |per_doc AS (
       |  SELECT doc_id, COUNT(*) AS n_rare,
       |    CAST(SUM(CAST(floor(CAST(1000000000 AS DOUBLE) / df) AS BIGINT)) AS BIGINT) AS rarity_micro
       |  FROM toks JOIN dft USING (t)
       |  WHERE df <= $RARE_DF_CAP
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_rare, 0) AS n_rare,
       |  COALESCE(p.rarity_micro, 0) AS rarity_micro
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val TFIDF_TOP = 3

  /** Per-document top-[[TFIDF_TOP]] TF-IDF terms: score = tf ×
    * floor(1e9 / df) over tokens with df ≤ [[RARE_DF_CAP]] — the
    * keyword-extraction step a curation pipeline runs to label what a
    * document is "about". Common vocabulary (df > cap) carries no
    * TF-IDF signal, so the df cap is a semantic statement AND the
    * scale bound: the same map-side WindowGroupLimit as [[tokenRarity]]
    * keeps a stopword's occurrences off the wire. One linear pipeline
    * — (doc,t) tf agg → t-keyed df agg (window partitioning reused) →
    * doc-keyed top-k (map-side WindowGroupLimit) — no shared subtree,
    * each corpus token crosses the shuffle once. Integer micro-units
    * end-to-end; ties broken by term text.
    */
  def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byTok = Window.partitionBy($"t").orderBy($"doc_id")
    val byDoc = Window.partitionBy($"doc_id")
      .orderBy($"score_micro".desc, $"term")
    Tables(s, dir, "documents")
      .select($"doc_id", explode(words($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
      .withColumn("trn", row_number().over(byTok))
      .filter($"trn" <= RARE_DF_CAP + 1)
      .groupBy($"t")
      .agg(count(lit(1)).as("df"),
        collect_list(struct($"doc_id", $"tf")).as("docs"))
      .filter($"df" <= RARE_DF_CAP)
      .select($"t".as("term"), $"df", explode($"docs").as("dt"))
      .select($"dt.doc_id".as("doc_id"), $"term", $"dt.tf".as("tf"), $"df",
        ($"dt.tf" * floor(lit(1000000000.0d) / $"df").cast("long"))
          .as("score_micro"))
      .withColumn("rn", row_number().over(byDoc).cast("long"))
      .filter($"rn" <= TFIDF_TOP)
      .orderBy($"doc_id", $"rn")
  }

  val tfidfTermsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY doc_id, t),
       |dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
       |scored AS (
       |  SELECT doc_id, t AS term, tf, df,
       |    tf * CAST(floor(CAST(1000000000 AS DOUBLE) / df) AS BIGINT) AS score_micro
       |  FROM tf JOIN dft USING (t) WHERE df <= $RARE_DF_CAP)
       |SELECT doc_id, term, tf, df, score_micro, rn FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score_micro DESC, term) AS BIGINT) AS rn
       |  FROM scored)
       |WHERE rn <= $TFIDF_TOP ORDER BY doc_id, rn""".stripMargin

  /** The fixed keyword query [[bm25Search]] retrieves for — three
    * fixture-vocabulary terms with distinct document frequencies.
    */
  private val BM25_QUERY = Seq("spark", "merge", "stream")

  /** BM25 keyword retrieval (k1 = 1.2, b = 0.75): top-10 documents
    * for [[BM25_QUERY]], scored with exact cross-engine arithmetic.
    * IDF is the BM25 odds ratio (N − df + ½)/(df + ½) in integer
    * micro-units WITHOUT the log — ln is not IEEE-reproducible across
    * engines (JVM `Math.log` guarantees only 1 ulp), and dropping a
    * monotone transform preserves each term's ordering while keeping
    * the whole score bit-identical; the saturation term is cleared to
    * ×10 integers (22·tf / (10·tf + 3 + 9·dl/avgdl)), every division
    * one correctly-rounded double op over exact integers. Corpus
    * stats (N, avgdl, per-term df) are one aggregate collapsed to a
    * driver row — corpus-size-independent index metadata, the
    * [[annPq]] pattern — so scoring is a single linear scan with
    * per-row tf expressions, a posting-style `n_terms > 0` prune,
    * and a TakeOrderedAndProject top-k. No shuffle touches the
    * corpus.
    */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Scored(s, dir)
      .orderBy($"score_micro".desc, $"doc_id")
      .limit(10)
  }

  /** [[bm25Search]]'s scored frame BEFORE its top-k — (doc_id,
    * n_terms, score_micro) for every document matching ≥ 1 query
    * term. Shared with [[hybridRank]] so the fusion's lexical arm IS
    * the production scorer (score arithmetic and the match prune
    * cannot diverge between the operator and the fusion built on it).
    */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def tfCols = BM25_QUERY.zipWithIndex.map { case (t, i) =>
      size(filter($"w", x => x === t)).cast("long").as(s"tf$i")
    }
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .select(Seq($"doc_id", size($"w").cast("long").as("dl")) ++ tfCols: _*)
    val statAggs = Seq(count(lit(1)).as("n"), sum($"dl").as("s")) ++
      BM25_QUERY.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val st = docs.agg(statAggs.head, statAggs.tail: _*).head()
    val n = st.getLong(0)
    val aMicro = math.floor(1000000.0d * st.getLong(1) / n).toLong
    val idfMicro = BM25_QUERY.indices.map { i =>
      val df = st.getLong(2 + i)
      math.floor(1000000.0d * ((n - df + 0.5d) / (df + 0.5d))).toLong
    }
    val r = ($"dl" * lit(1000000.0d)) / lit(aMicro.toDouble)
    val termScores = BM25_QUERY.indices.map { i =>
      floor((lit(idfMicro(i).toDouble) * (lit(22.0d) * col(s"tf$i"))) /
        (lit(10.0d) * col(s"tf$i") + lit(3.0d) + lit(9.0d) * r)).cast("long")
    }
    val nTerms = BM25_QUERY.indices
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    docs
      .select($"doc_id", nTerms.cast("long").as("n_terms"),
        termScores.reduce(_ + _).as("score_micro"))
      .filter($"n_terms" > 0)
  }

  /** [[bm25Scored]]'s DuckDB twin — a full SELECT usable as a
    * subquery; [[bm25SearchSql]] and the fusion's lexical CTE both
    * append their own ORDER/LIMIT.
    */
  private val bm25ScoredSql: String = {
    val tfDefs = BM25_QUERY.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfAggs = BM25_QUERY.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val idfDefs = BM25_QUERY.indices.map(i =>
      s"""CAST(floor(CAST(1000000 AS DOUBLE) *
         |      ((n - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))) AS BIGINT) AS idf$i""".stripMargin)
      .mkString(",\n    ")
    val r = "((dl * CAST(1000000 AS DOUBLE)) / a)"
    val termScores = BM25_QUERY.indices.map(i =>
      s"""CAST(floor((idf$i * (CAST(22 AS DOUBLE) * tf$i)) /
         |      (CAST(10 AS DOUBLE) * tf$i + CAST(3 AS DOUBLE) + CAST(9 AS DOUBLE) * $r)) AS BIGINT)""".stripMargin)
      .reduce((x, y) => s"$x + $y")
    val nTerms = BM25_QUERY.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END")
      .reduce((x, y) => s"$x + $y")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfDefs
       |  FROM documents),
       |st AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS s, $dfAggs FROM d),
       |c AS (
       |  SELECT n, CAST(floor((CAST(1000000 AS DOUBLE) * s) / n) AS BIGINT) AS a,
       |    $idfDefs
       |  FROM st)
       |SELECT doc_id, n_terms, score_micro FROM (
       |  SELECT d.doc_id,
       |    CAST($nTerms AS BIGINT) AS n_terms,
       |    ($termScores) AS score_micro
       |  FROM d, c)
       |WHERE n_terms > 0""".stripMargin
  }

  val bm25SearchSql: String =
    s"""$bm25ScoredSql
       |ORDER BY score_micro DESC, doc_id
       |LIMIT 10""".stripMargin

  /** The probe batch [[bm25Batch]] scores — the [[bm25Search]] query
    * plus a second with a deliberately rare term (`dup`, df ≈ 5% of
    * the corpus) so the idf spread is exercised. Flows through the
    * plan as a broadcast TABLE, not driver constants: the corpus-side
    * cost is query-count-independent, which is the whole point of
    * batching probes.
    */
  private val BM25_QUERIES: Seq[(Int, String)] =
    Seq(1 -> "spark", 1 -> "merge", 1 -> "stream",
      2 -> "dup", 2 -> "join", 2 -> "scan")

  /** Batched BM25 retrieval — many probes, ONE corpus pass: the shape
    * a training-data pipeline actually runs (thousands of benchmark /
    * contamination probes against one corpus). Where [[bm25Search]]
    * compiles its three terms into per-row expressions, this scores
    * every query in [[BM25_QUERIES]] from one posting build: tokens
    * explode map-side, broadcast-join the query-term table (matched
    * postings only — the fan-out is bounded by query terms, not
    * vocabulary), and one (query_id, term, doc_id) aggregation yields
    * tf. The posting table is MATERIALIZED once (`localCheckpoint`,
    * the [[Components.connectedComponents]] pattern — a cluster swaps
    * in a reliable checkpoint): its two consumers — the per-term df
    * aggregate and the scoring join — would otherwise each replay the
    * corpus scan (column pruning specializes the two subtrees, which
    * defeats Spark's exchange reuse), and postings bounded by
    * query-term matches are exactly what a retrieval system stores
    * while the corpus is read once. PlanSpec asserts the scoring plan
    * holds NO corpus file scan — the one scan happened into the
    * checkpoint. idf/saturation use [[bm25Search]]'s exact
    * integer-micro arithmetic; per-query top-10 is a map-side
    * WindowGroupLimit. N and avgdl are the same two driver-row index
    * metadata scalars [[bm25Search]] collects (corpus-size-
    * independent, the [[annPq]] pattern).
    */
  def bm25Batch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", size($"w").cast("long").as("dl"), $"w")
    val st = docs.agg(count(lit(1)).as("n"), sum($"dl").as("s")).head()
    val n = st.getLong(0)
    val aMicro = math.floor(1000000.0d * st.getLong(1) / n).toLong
    val qt = BM25_QUERIES.toDF("query_id", "term")
    val post = docs
      .select($"doc_id", $"dl", explode($"w").as("tok"))
      .join(broadcast(qt), $"tok" === $"term")
      .groupBy($"query_id", $"term", $"doc_id", $"dl")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = post.select($"term", $"doc_id").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = floor(lit(1000000.0d) *
      ((lit(n.toDouble) - $"df" + lit(0.5d)) / ($"df" + lit(0.5d)))).cast("long")
    val r = ($"dl" * lit(1000000.0d)) / lit(aMicro.toDouble)
    val termScore = floor(($"idf".cast("double") * (lit(22.0d) * $"tf")) /
      (lit(10.0d) * $"tf" + lit(3.0d) + lit(9.0d) * r)).cast("long")
    post
      .join(broadcast(df.select($"term", idf.as("idf"))), "term")
      .select($"query_id", $"doc_id", termScore.as("ts"))
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).cast("long").as("n_terms"), sum($"ts").as("score_micro"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id")))
      .filter($"rn" <= 10)
      .select($"query_id", $"doc_id", $"n_terms", $"score_micro")
      .orderBy($"query_id", $"score_micro".desc, $"doc_id")
  }

  val bm25BatchSql: String = {
    val qvals = BM25_QUERIES.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH qt(query_id, term) AS (VALUES $qvals),
       |d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS w
       |  FROM documents),
       |st AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(floor((CAST(1000000 AS DOUBLE) * CAST(SUM(dl) AS BIGINT)) / COUNT(*)) AS BIGINT) AS a
       |  FROM d),
       |post AS (
       |  SELECT q.query_id, q.term, t.doc_id, t.dl, COUNT(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(w) AS tok FROM d) t
       |  JOIN qt q ON t.tok = q.term
       |  GROUP BY 1, 2, 3, 4),
       |df AS (
       |  SELECT term,
       |    CAST(floor(CAST(1000000 AS DOUBLE) *
       |      ((n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))) AS BIGINT) AS idf
       |  FROM (SELECT term, COUNT(*) AS df FROM (
       |          SELECT DISTINCT term, doc_id FROM post) GROUP BY term), st),
       |scored AS (
       |  SELECT p.query_id, p.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(CAST(floor((f.idf * (CAST(22 AS DOUBLE) * p.tf)) /
       |      (CAST(10 AS DOUBLE) * p.tf + CAST(3 AS DOUBLE) +
       |       CAST(9 AS DOUBLE) * ((p.dl * CAST(1000000 AS DOUBLE)) / st.a))) AS BIGINT)) AS BIGINT)
       |      AS score_micro
       |  FROM post p JOIN df f ON p.term = f.term, st
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_terms, score_micro FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
       |  FROM scored)
       |WHERE rn <= 10
       |ORDER BY query_id, score_micro DESC, doc_id""".stripMargin
  }

  /** Incremental BM25 — the retrieval-text twin of the dedup family's
    * incremental contract, and the freshness semantics search systems
    * actually ship: a daily ingest batch must be RETRIEVABLE
    * immediately, but the global index statistics (N, avgdl, per-term
    * df) stay at yesterday's compaction until the next stats refresh
    * — recomputing corpus-wide df on every batch is exactly the
    * full-rebuild cost the incremental path exists to avoid. So:
    * postings cover the FULL corpus (batch docs score and rank), all
    * stats come from the BASE corpus only, and `is_batch` marks the
    * fresh hits. A query term seen only in the batch has base-df 0 —
    * the LEFT join + coalesce keeps those postings scoreable (the
    * new-term idf is the odds ratio at df = 0, the defined maximum)
    * instead of silently dropping the only documents that contain
    * them. Same one-scan posting build, integer-micro arithmetic, and
    * map-side top-k as [[bm25Batch]]; the oracle derives the same
    * stale stats from the base slice, so the hash match pins the
    * staleness semantics exactly.
    */
  def bm25Incr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", size($"w").cast("long").as("dl"), $"w")
    // yesterday's index metadata: base-corpus N and avgdl (two driver
    // scalars, the bm25Search pattern — corpus-size independent)
    val st = docs.filter(!isBatchId($"doc_id"))
      .agg(count(lit(1)).as("n"), sum($"dl").as("s")).head()
    val n = st.getLong(0)
    val aMicro = math.floor(1000000.0d * st.getLong(1) / n).toLong
    val qt = BM25_QUERIES.toDF("query_id", "term")
    val post = docs
      .select($"doc_id", $"dl", explode($"w").as("tok"))
      .join(broadcast(qt), $"tok" === $"term")
      .groupBy($"query_id", $"term", $"doc_id", $"dl")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // stale per-term df: BASE postings only
    val dfb = post.filter(!isBatchId($"doc_id"))
      .select($"term", $"doc_id").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = floor(lit(1000000.0d) *
      ((lit(n.toDouble) - $"df" + lit(0.5d)) / ($"df" + lit(0.5d)))).cast("long")
    val r = ($"dl" * lit(1000000.0d)) / lit(aMicro.toDouble)
    val termScore = floor(($"idf".cast("double") * (lit(22.0d) * $"tf")) /
      (lit(10.0d) * $"tf" + lit(3.0d) + lit(9.0d) * r)).cast("long")
    post
      .join(broadcast(dfb.select($"term", idf.as("idf"))), Seq("term"), "left")
      .withColumn("idf", coalesce($"idf",
        lit(math.floor(1000000.0d * ((n + 0.5d) / 0.5d)).toLong)))
      .select($"query_id", $"doc_id", termScore.as("ts"))
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).cast("long").as("n_terms"), sum($"ts").as("score_micro"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id")))
      .filter($"rn" <= 10)
      .select($"query_id", $"doc_id", $"n_terms", $"score_micro",
        isBatchId($"doc_id").as("is_batch"))
      .orderBy($"query_id", $"score_micro".desc, $"doc_id")
  }

  val bm25IncrSql: String = {
    val qvals = BM25_QUERIES.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH qt(query_id, term) AS (VALUES $qvals),
       |d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    string_split(text, ' ') AS w
       |  FROM documents),
       |st AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(floor((CAST(1000000 AS DOUBLE) * CAST(SUM(dl) AS BIGINT)) / COUNT(*)) AS BIGINT) AS a
       |  FROM d WHERE doc_id % 10 <> 7),
       |post AS (
       |  SELECT q.query_id, q.term, t.doc_id, t.dl, COUNT(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(w) AS tok FROM d) t
       |  JOIN qt q ON t.tok = q.term
       |  GROUP BY 1, 2, 3, 4),
       |dfb AS (
       |  SELECT term,
       |    CAST(floor(CAST(1000000 AS DOUBLE) *
       |      ((n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))) AS BIGINT) AS idf
       |  FROM (SELECT term, COUNT(*) AS df FROM (
       |          SELECT DISTINCT term, doc_id FROM post
       |          WHERE doc_id % 10 <> 7) GROUP BY term), st),
       |scored AS (
       |  SELECT p.query_id, p.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(CAST(floor((COALESCE(f.idf,
       |        CAST(floor(CAST(1000000 AS DOUBLE) *
       |          ((st.n + CAST(0.5 AS DOUBLE)) / CAST(0.5 AS DOUBLE))) AS BIGINT))
       |      * (CAST(22 AS DOUBLE) * p.tf)) /
       |      (CAST(10 AS DOUBLE) * p.tf + CAST(3 AS DOUBLE) +
       |       CAST(9 AS DOUBLE) * ((p.dl * CAST(1000000 AS DOUBLE)) / st.a))) AS BIGINT)) AS BIGINT)
       |      AS score_micro
       |  FROM post p LEFT JOIN dfb f ON p.term = f.term, st
       |  GROUP BY 1, 2, st.n, st.a)
       |SELECT query_id, doc_id, n_terms, score_micro,
       |  doc_id % 10 = 7 AS is_batch
       |FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
       |  FROM scored)
       |WHERE rn <= 10
       |ORDER BY query_id, score_micro DESC, doc_id""".stripMargin
  }

  private[graft] val STRATUM_N = 20

  /** Stratified sample: the first [[STRATUM_N]] documents per language,
    * ordered by a deterministic per-doc hash — every stratum gets equal
    * representation regardless of its corpus share (the fix for
    * uniform sampling starving low-resource languages in training
    * mixes). The rank-≤-k filter compiles to a map-side
    * `WindowGroupLimit` (asserted in PlanSpec): each task keeps at most
    * k rows per stratum BEFORE the shuffle, so a stratum with a billion
    * documents ships k × tasks rows, not a billion — the same bound
    * that makes the LSH band cap safe at 100 TB.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"lang",
        md5(concat(lit("strat|"), $"doc_id".cast("string")).cast("binary")).as("u"))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"lang").orderBy($"u", $"doc_id"))
          .cast("long"))
      .filter($"rn" <= STRATUM_N)
      .select($"doc_id", $"lang", $"rn")
      .orderBy($"lang", $"rn")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, lang, rn FROM (
       |  SELECT doc_id, lang, CAST(row_number() OVER (
       |    PARTITION BY lang
       |    ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
       |  FROM documents)
       |WHERE rn <= $STRATUM_N ORDER BY lang, rn""".stripMargin

  /** Cardinality sketch: HyperLogLog++ distinct-token estimate per
    * language next to the exact count. The raw sketch value is
    * engine-specific, so the hash-checked columns are the exact ones
    * plus `sketch_within_5pct` — a bounded-relative-error flag the
    * oracle asserts true (rsd=0.02 ⇒ |err| ≤ 5% is a ≥2.5σ bound;
    * verified to hold on every fixture lang at sf0.01 AND sf0.1). At
    * 100 TB the HLL path aggregates a fixed-size sketch per partition
    * — no distinct-shuffle explosion; the exact column is the
    * profiling cross-check.
    */
  def tokenSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"lang", explode(words($"text")).as("t"))
      .groupBy($"lang")
      .agg(
        approx_count_distinct($"t", rsd = 0.02).as("approx"),
        countDistinct($"t").as("exact_distinct_tokens"),
        count(lit(1)).as("n_tokens"))
      .select($"lang", $"exact_distinct_tokens", $"n_tokens",
        (abs($"approx" - $"exact_distinct_tokens").cast("double") /
          $"exact_distinct_tokens" <= 0.05).as("sketch_within_5pct"))
      .orderBy($"lang")
  }

  val tokenSketchSql: String =
    """SELECT lang, COUNT(DISTINCT t) AS exact_distinct_tokens,
      |  COUNT(*) AS n_tokens, TRUE AS sketch_within_5pct
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------- sessionization

  /** Event sessionization (30-minute inactivity gap) via
    * gaps-and-islands: lag to detect session starts, running sum to
    * number sessions, one aggregate per session. Two window passes and
    * one groupBy, all partitioned by `user_id` — a single shuffle key
    * end-to-end, so the plan reuses one exchange at any scale. The
    * streaming twin with identical semantics is
    * [[graft.streaming.Sessionize]] (`flatMapGroupsWithState`).
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts")
    val gapUs = 30L * 60 * 1000000
    Tables(s, dir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("sess",
        sum($"new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess")
      .agg(
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        Num.dsum($"value").as("sum_value"))
      .drop("sess")
      .orderBy($"user_id", $"session_start")
  }

  /** The same sessionization through Spark's NATIVE `session_window`
    * operator (one groupBy, merge-on-overlap state internally) —
    * checked against the identical gaps-and-islands oracle, so the
    * two formulations are proven equivalent on real data. Note
    * `session_window` treats a gap of exactly 30:00 as a NEW session
    * (window is [start, last+gap)), while `lag`-based gaps-and-islands
    * with `> gap` keeps it — the fixture's microsecond timestamps
    * make exact-boundary collisions impossible, so both match.
    */
  def sessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        count(lit(1)).as("n_events"),
        Num.dsum($"value").as("sum_value"))
      .select($"user_id", $"session_start", $"session_end", $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |g AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e)),
      |s AS (
      |  SELECT *, SUM(new_sess) OVER (
      |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  // ----------------------------------------------------------- embeddings

  private val DIM = 64

  /** Sequential dot product via the native [[graft.functions.DotProduct]]
    * expression (codegen'd loop; an explicit 64-term expression tree
    * overflows janino and falls out of whole-stage codegen). Evaluation
    * order matches the oracle's left-associated SQL sum chain, so
    * doubles are bit-identical.
    */
  private def dot(s: SparkSession, a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(s, a, b)

  private def dotSql(a: String, b: String): String =
    (1 to DIM).map(i =>
        s"CAST(list_extract($a, $i) AS DOUBLE) * CAST(list_extract($b, $i) AS DOUBLE)")
      .reduce((x, y) => s"$x + $y")

  private def cosine(s: SparkSession, a: Column, b: Column): Column =
    dot(s, a, b) / (sqrt(dot(s, a, a)) * sqrt(dot(s, b, b)))

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Brute-force cosine top-k (k=10) against the query vector
    * (vec_id = 0): broadcast the 1-row query side, single scan, top-k
    * via sort+limit (Spark plans TakeOrderedAndProject — per-partition
    * heaps, no global sort). This is the exact baseline an ANN variant
    * is measured against.
    */
  def simSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), $"label".as("q_label"))
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val simSearchSql: String =
    s"""SELECT vec_id, label, ${cosineSql("embedding", "qv")} AS cos
       |FROM embeddings, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // --------------------------------------- learned coarse quantizer

  /** Bump when the learned-quantizer semantics change (seed choice,
    * round count, E/M formulas): the persisted centroid artifact and
    * the cell-partitioned layout keyed off it must not survive a
    * training change, or the stored index would silently diverge from
    * the oracle's re-derived chain.
    */
  private val KMEANS_FMT_VERSION = 1

  /** Centroid-refinement rounds of the learned coarse quantizer: the
    * quantizer is c2 — [[cellCentroids]]' label-cell seed refined by
    * this many chained E/M rounds — and every vector's cell is the
    * E-step against it (round 3's assignment in [[kmeansConverge]]'s
    * chain, promoted from convergence report to index). A 100 TB
    * corpus has no trusted `label` column; it has raw vectors and a
    * training procedure — so the IVF/PQ family keys off THIS, with
    * the fixture labels serving only as the deterministic k-means
    * seed (k and starting positions), the role a kmeans++ sample
    * plays in production. Fixed horizon, not a convergence test: the
    * build is the same three corpus passes at any scale, and
    * [[kmeansConverge]] is the operator that MEASURES whether the
    * horizon suffices (n_moved → 0).
    */
  private val LLOYD_ROUNDS = 2

  /** The refined codebook c2 as a frame — (k, cvec), cells × 1 rows.
    * Each round is a broadcast E-step ([[kmeansAssignFrom]]) plus a
    * cells×dims-keyed M-step ([[centroidsFromAssign]]) — no
    * corpus-sized state on the driver at any point.
    */
  private def lloydCentroidsFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var cents = cellCentroids(s, dir).withColumnRenamed("label", "k")
    var corpus = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", microVec(s, $"embedding").as("mvec"))
    (1 to LLOYD_ROUNDS).foreach { _ =>
      val assign = kmeansAssignFrom(s, corpus, cents)
      cents = centroidsFromAssign(s, assign)
      corpus = assign.select($"vec_id", $"label", $"mvec")
    }
    cents
  }

  /** One-time build of the learned coarse quantizer — the "train the
    * index" step every ANN system amortizes, persisted with the
    * [[ensureIvfLayout]] stamping discipline so probes never re-run
    * the chain.
    */
  def ensureKmeansCentroids(s: SparkSession, dir: String): java.nio.file.Path =
    ensureArtifact("graft-kmcent", dir, "embeddings",
        s"|v$KMEANS_FMT_VERSION|r$LLOYD_ROUNDS") { staging =>
      lloydCentroidsFrame(s, dir).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
    }

  /** The learned centroids, collected — cells × 1 index metadata (the
    * FAISS shape, same adjudicated pattern as [[annPq]]'s codebook):
    * the quantizer ships to query time as a plan constant, never a
    * corpus-scale operand.
    */
  private def learnedCentroids(
      s: SparkSession, dir: String): Array[(Int, Seq[Long])] = {
    import s.implicits._
    s.read.parquet(ensureKmeansCentroids(s, dir).toString)
      .select($"k", $"cvec").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
  }

  /** Per-row learned-cell assignment against the collected quantizer —
    * the E-step as a pure PROJECTION: least() over per-cell
    * (exact-micro² d2, k) structs, ties to the smaller k (the
    * min-struct pattern), so assignment adds ZERO shuffle at any
    * corpus size. Identical by definition to the stored round-3
    * assignment: a3 IS the E-step against c2.
    */
  private def learnedCellCol(
      s: SparkSession, mvec: Column, cents: Array[(Int, Seq[Long])]): Column = {
    val alts = cents.map { case (k, cvec) =>
      struct(pqDist2(s, mvec, typedLit(cvec)).as("d2"), lit(k).as("k"))
    }
    if (alts.length == 1) lit(cents.head._1)
    else least(alts.toIndexedSeq: _*).getField("k")
  }

  /** Probe-side cell ranking over the collected quantizer — cells
    * sorted by (exact micro² L2 to the query, cell id), the driver
    * arithmetic every probe shares. Mirrors the oracle's `qd3` CTE.
    */
  private def rankedCells(
      cents: Array[(Int, Seq[Long])], qmicro: Seq[Long]): IndexedSeq[Int] =
    cents.map { case (k, cvec) =>
      val d2 = qmicro.indices.map { j =>
        val d = qmicro(j) - cvec(j); d * d
      }.sum
      (d2, k)
    }.sorted.map(_._2).toIndexedSeq

  /** The query vector (vec_id = 0) in micro-units — one tiny driver
    * job, shared by the probe-ranking paths.
    */
  private def qMicro(s: SparkSession, dir: String): Seq[Long] = {
    import s.implicits._
    Tables(s, dir, "embeddings").filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0)
      .map(v => math.floor(v.toDouble * 1000000.0d).toLong)
  }

  /** IVF-style ANN over the LEARNED coarse quantizer: every vector's
    * cell is its argmin-L2² learned centroid ([[learnedCellCol]] — a
    * map-side projection against the collected codebook), and the
    * probe touches only the query's cell. This is the filter-path
    * variant (assignment recomputed in-plan, no stored layout);
    * [[annIvfPruned]] is the same probe over the physically
    * partitioned index. The oracle re-derives the identical quantizer
    * through the chained E/M CTEs ([[learnedCellsCteSql]]), so the
    * hash match pins training AND probe semantics.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfFrom(s, dir, learnedCentroids(s, dir))

  /** [[annIvf]] over a pre-collected quantizer — the metadata is a
    * plan CONSTANT either way, so the probe plan is byte-identical;
    * [[annRecall]] collects the index metadata once and feeds all
    * seven arms instead of paying one driver job per arm per
    * artifact (the r22 attribution read the recall eval as 55
    * serialized sub-second jobs with 2+ s of driver gaps).
    */
  private def annIvfFrom(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("cell",
        learnedCellCol(s, microVec(s, $"embedding"), cents))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), $"cell".as("q_cell"))
    e.join(broadcast(q), $"cell" === $"q_cell")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"cell", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  lazy val annIvfSql: String =
    s"""WITH $learnedCellsCteSql
       |SELECT e.vec_id, c.cell, ${cosineSql("e.embedding", "qv")} AS cos
       |FROM embeddings e JOIN lcells c ON e.vec_id = c.vec_id,
       |  (SELECT e2.embedding AS qv, c2.cell AS q_cell
       |   FROM embeddings e2 JOIN lcells c2 ON e2.vec_id = c2.vec_id
       |   WHERE e2.vec_id = 0)
       |WHERE e.vec_id <> 0 AND c.cell = q_cell
       |ORDER BY cos DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** IVF with REAL partition pruning — the 100 TB layout: embeddings
    * physically partitioned by the coarse-quantizer cell
    * (`partitionBy(label)`), so probing the query's cell prunes the
    * scan to one directory (visible as PartitionFilters in the plan,
    * asserted in PlanSpec) instead of filtering after a full read.
    * The partitioned copy is built once per (sf, JVM) — the analog of
    * the one-time index build every ANN system amortizes. Results are
    * identical to [[annIvf]]; only the scan shape changes.
    */
  /** One-time build of the cell-partitioned embedding layout — the
    * "index build" every ANN system amortizes across queries. Public
    * so harnesses (Bench warmup, long-lived sessions) run it as a
    * SETUP step rather than billing it to the first probe. Writer
    * tasks are keyed on (label, salt): a plain `repartition($"label")`
    * would hash all of a dominant cell into ONE task at scale, while
    * the salt spreads each cell over up to [[IVF_WRITE_SALT]] writers
    * (still ≤ salt files per cell directory).
    */
  private val IVF_WRITE_SALT = 4

  def ensureIvfLayout(s: SparkSession, dir: String): java.nio.file.Path =
    ensureArtifact("graft-ivf", dir, "embeddings",
        s"|v$KMEANS_FMT_VERSION|r$LLOYD_ROUNDS|learned") { staging =>
      import s.implicits._
      // the layout's directory key is the LEARNED cell: assignment is
      // a projection against the collected quantizer, so the build is
      // one map pass + the partitioned write (the quantizer training
      // itself is the ensureKmeansCentroids artifact, amortized)
      val cents = learnedCentroids(s, dir)
      Tables(s, dir, "embeddings")
        .withColumn("cell",
          learnedCellCol(s, microVec(s, $"embedding"), cents))
        .repartition($"cell", pmod($"vec_id", lit(IVF_WRITE_SALT)))
        .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    }

  def annIvfPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = learnedCentroids(s, dir)
    // the query's cell: argmin over the collected quantizer — driver
    // arithmetic over cells×1 metadata, no job at all (vs the stored
    // layout's a3 this is the same E-step by definition)
    val qCell = rankedCells(cents, qMicro(s, dir)).head
    val part = ensureIvfLayout(s, dir)
    val e = s.read.parquet(part.toString)
      .select($"vec_id", $"cell".cast("int").as("cell"), $"embedding")
    val q = Tables(s, dir, "embeddings").filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    e.filter($"cell" === qCell)
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"cell", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** LSH-bucketed ANN: bucket = 8 sign bits of the first 8 dimensions
    * (a fixed, engine-agnostic set of separating hyperplanes); probe
    * the query's bucket only. Same pruning story as IVF with a
    * data-independent quantizer.
    */
  private def signBucket(v: Column): Column =
    (1 to 8).map(i =>
        when(element_at(v, i) >= 0.0f, lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)

  private def signBucketSql(v: String): String =
    (1 to 8).map(i =>
        s"CASE WHEN list_extract($v, $i) >= 0 THEN CAST(${1L << (i - 1)} AS BIGINT) ELSE 0 END")
      .reduce((a, b) => s"$a + $b")

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("bucket", signBucket($"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), $"bucket".as("q_bucket"))
    e.join(broadcast(q), $"bucket" === $"q_bucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", $"bucket", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val annLshSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |    ${signBucketSql("embedding")} AS bucket FROM embeddings)
       |SELECT vec_id, label, bucket, ${cosineSql("embedding", "qv")} AS cos
       |FROM e, (SELECT embedding AS qv, bucket AS q_bucket FROM e WHERE vec_id = 0)
       |WHERE vec_id <> 0 AND bucket = q_bucket
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** The 1 + 8 + 28 = 37 XOR masks flipping ≤ 2 of the 8 bucket bits —
    * a fixed, engine-deterministic probe expansion.
    */
  private val MULTIPROBE_MASKS: Seq[Long] =
    (0L +: (0 until 8).map(i => 1L << i)) ++
      (for { i <- 0 until 8; j <- (i + 1) until 8 } yield (1L << i) | (1L << j))

  /** Multi-probe sign-bit LSH — the standard recall fix for [[annLsh]]:
    * near neighbors straddling a hyperplane land in a bucket 1-2 bits
    * away from the query's, so probe the query bucket PLUS its ≤ 2-bit
    * hamming neighborhood ([[MULTIPROBE_MASKS]], 37 buckets of 256 =
    * a bounded ~14% of the space). Still exactly one broadcast join:
    * the query row explodes into 37 probe rows driver-free, each
    * corpus vector matches at most one probe (XOR is a bijection, so
    * the probe set is distinct), and the scan stays one pass.
    */
  def annLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("bucket", signBucket($"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"),
        explode(array(MULTIPROBE_MASKS.map(m => $"bucket".bitwiseXOR(lit(m))): _*))
          .as("probe"))
    e.join(broadcast(q), $"bucket" === $"probe")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", $"bucket", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val annLshMultiprobeSql: String = {
    val masks = MULTIPROBE_MASKS.mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |    ${signBucketSql("embedding")} AS bucket FROM embeddings),
       |probes AS (
       |  SELECT embedding AS qv, xor(bucket, m) AS probe
       |  FROM e, (SELECT unnest([$masks]) AS m)
       |  WHERE vec_id = 0)
       |SELECT vec_id, label, bucket, ${cosineSql("embedding", "qv")} AS cos
       |FROM e JOIN probes ON bucket = probe
       |WHERE vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** Cluster centroids (the k-means E-step building block) per label
    * cell: element-wise mean of the embedding vectors. posexplode +
    * one groupBy on (label, pos) — a single shuffle whose key count is
    * cells × dims, independent of corpus size, so the reduction
    * parallelizes perfectly at 100 TB. Sums go through DECIMAL(38,20)
    * so the mean is partition-order independent and engine-exact.
    */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("pos0", "v")))
      .groupBy($"label", ($"pos0" + 1).cast("long").as("pos"))
      // Exact integer micro-units: v*1e6 is computed in double (float →
      // double widening is exact, the multiply is IEEE-identical in
      // both engines), floored to int64 (floor has no rounding ties — engines tie-break round() differently), summed exactly. The consumer
      // divides by n·1e6 for the mean. Engines' decimal/float casts
      // disagree at the last digit; int64 arithmetic cannot.
      .agg(
        sum(floor($"v" * 1000000.0).cast("long")).as("centroid_microsum"),
        count(lit(1)).as("n_vectors"))
      .orderBy($"label", $"pos")
  }

  val centroidsSql: String =
    """SELECT label, CAST(pos AS BIGINT) AS pos,
      |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS centroid_microsum,
      |  COUNT(*) AS n_vectors
      |FROM (SELECT label, unnest(embedding) AS v,
      |             generate_subscripts(embedding, 1) AS pos FROM embeddings)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** Drift floor (micro-units of mean per-dimension shift) above
    * which [[ivfDrift]] flags a cell for reclustering.
    */
  private val DRIFT_FLOOR_MICRO = 200000L

  /** IVF cell-drift monitor — the vector-side twin of
    * [[compactionSignal]], completing the incremental story for the
    * retrieval family: as batch vectors land in the stored IVF cells,
    * a partition layout's assignment quality decays (centroids were
    * fit to yesterday's distribution), and the standard maintenance
    * contract is "monitor per-cell drift cheaply on every batch,
    * recluster the flagged cells at compaction cadence". Per cell:
    * base/batch member counts and the exact centroid shift the batch
    * causes, `drift_micro` = Σ_pos |mean_full − mean_base| in integer
    * micro-units, computed with the [[centroids]] discipline (floored
    * micro-unit sums; the |·| is taken on the cross-multiplied
    * integer numerator, so no division happens before the final
    * bigint div — bit-identical in both engines). `recluster_due`
    * fires on a brand-new cell, ≥10% batch growth, or drift past
    * [[DRIFT_FLOOR_MICRO]]. Linear aggregates only (two passes over
    * the embeddings, nothing pairwise) — cheap enough for every
    * batch at 100 TB, like the lexical monitor it mirrors.
    */
  // the monitored cells are the LEARNED quantizer's — assignment is
  // the same zero-shuffle projection the probes use, so the monitor
  // watches the index that is actually deployed, not the fixture's
  // label metadata
  def ivfDrift(s: SparkSession, dir: String): DataFrame =
    ivfDriftOver(s, learnedAssigned(s, dir))

  /** The embeddings carrying their learned-cell assignment — the
    * shared input of the monitor/repair family's public entry points.
    */
  private def learnedAssigned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = learnedCentroids(s, dir)
    Tables(s, dir, "embeddings")
      .withColumn("cell",
        learnedCellCol(s, microVec(s, $"embedding"), cents))
  }

  /** [[ivfDrift]] over an explicit (vec_id, embedding, cell)
    * assignment — the monitor arithmetic decoupled from the quantizer
    * so hand-fixture specs (and a deployment with its own cell
    * source) pin the drift semantics directly.
    */
  private[graft] def ivfDriftOver(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    // pinned: both the numerator join and the final output read these
    // per-cell counts; without the pin each consumer re-scans and
    // re-aggregates the embeddings (the affectedDocs discipline). The
    // pin's lifecycle belongs to the caller's harness.
    val cnt = capKeyCounts(emb, "vec_id", "cell").localCheckpoint()
    // cross-products in DECIMAL(38,0): a cell of ~4M unit-scale
    // vectors puts ms_full·n_base near 1.6e19 > Long.MaxValue — int64
    // would overflow (ANSI throw or silent wrap) at exactly the cell
    // sizes the monitor exists for, while DuckDB's HUGEINT sum is
    // exact. Decimal keeps both engines exact to ~1e38 (a 10⁷-vector
    // cell × 10³ dims sums to ~1e23).
    val dec = DecimalType(38, 0)
    // every sum/product runs on ALREADY-decimal operands: summing in
    // Long and casting after would wrap before the cast (a 10⁷-vector
    // hot cell of ~1e6-magnitude components overflows the per-pos Long
    // sum), and multiplying n_full·n_base in Long wraps near 3e9
    // members — DuckDB's HUGEINT is exact in both spots, so either
    // Long shortcut is a silent cross-engine divergence at exactly the
    // cell sizes the monitor exists for
    val perPos = emb
      .select($"cell", $"vec_id", posexplode($"embedding").as(Seq("pos0", "v")))
      .select($"cell", $"vec_id", ($"pos0" + 1).cast("long").as("pos"),
        floor($"v".cast("double") * 1000000.0).cast("long").as("vm"))
      .groupBy($"cell", $"pos")
      .agg(sum($"vm".cast(dec)).as("ms_full"),
        sum(when(isBatchId($"vec_id"), $"vm").otherwise(0L).cast(dec)).as("ms_batch"))
    val numer = perPos.join(broadcast(cnt), "cell")
      .select($"cell",
        abs($"ms_full" * ($"n_full" - $"n_batch").cast(dec) -
          ($"ms_full" - $"ms_batch") * $"n_full".cast(dec)).as("term"))
      .groupBy($"cell").agg(sum($"term").as("numer"))
    // LEFT join: a cell whose embeddings are all empty arrays has no
    // per-pos rows, and an inner join would silently drop it from the
    // monitor — including a brand-new all-batch cell, the row whose
    // recluster_due mattered most. Its drift is NULL, its flags stand.
    // The quotient is an INTEGRAL divide (`div`, truncating — all
    // operands non-negative, so ≡ floor ≡ DuckDB's `//`): a decimal
    // `/` resolves to scale 6 and rounds HALF_UP before any floor,
    // which disagrees with integer division by 1 at quotient
    // fractions ≥ .9999995.
    // numer is cells-sized index metadata — broadcast it so the
    // monitor's tail never sort-merges two tiny aggregates (and the
    // recluster repair built on top stays shuffle-join-free)
    cnt.join(broadcast(numer), Seq("cell"), "left")
      .withColumn("den",
        $"n_full".cast(dec) * ($"n_full" - $"n_batch").cast(dec))
      .select($"cell", ($"n_full" - $"n_batch").as("n_base"), $"n_batch",
        when($"n_full" - $"n_batch" > 0, expr("numer div den")).as("drift_micro"))
      .withColumn("recluster_due",
        $"n_base" === 0L || $"n_batch" * 10L >= $"n_base" ||
          coalesce($"drift_micro", lit(0L)) >= DRIFT_FLOOR_MICRO)
      .orderBy($"cell")
  }

  lazy val ivfDriftSql: String =
    s"""WITH $learnedCellsCteSql,
       |cnt AS (
       |  SELECT cell, COUNT(*) AS n_full,
       |    COUNT(*) FILTER (WHERE vec_id % 10 = 7) AS n_batch
       |  FROM lcells GROUP BY 1),
       |pp AS (
       |  SELECT c.cell, v.pos, SUM(v.mv) AS ms_full,
       |    SUM(CASE WHEN v.vec_id % 10 = 7 THEN v.mv ELSE 0 END) AS ms_batch
       |  FROM mvl v JOIN lcells c USING (vec_id)
       |  GROUP BY 1, 2),
       |num AS (
       |  SELECT pp.cell,
       |    SUM(ABS(ms_full * (n_full - n_batch) -
       |            (ms_full - ms_batch) * n_full)) AS numer
       |  FROM pp JOIN cnt USING (cell) GROUP BY 1)
       |SELECT cnt.cell AS cell, n_full - n_batch AS n_base, n_batch,
       |  -- CAST: DuckDB sums BIGINT into HUGEINT, and a HUGEINT
       |  -- division would reach the compare as a float
       |  CAST(CASE WHEN n_full - n_batch > 0
       |    THEN numer // (n_full * (n_full - n_batch)) ELSE NULL END
       |    AS BIGINT) AS drift_micro,
       |  (n_full - n_batch = 0 OR n_batch * 10 >= n_full - n_batch OR
       |   COALESCE(CAST(CASE WHEN n_full - n_batch > 0
       |     THEN numer // (n_full * (n_full - n_batch)) ELSE NULL END AS BIGINT), 0)
       |     >= $DRIFT_FLOOR_MICRO) AS recluster_due
       |FROM cnt LEFT JOIN num ON cnt.cell = num.cell
       |ORDER BY cnt.cell""".stripMargin

  /** IVF recluster repair — the operator [[ivfDrift]] schedules,
    * completing the vector family's monitor + repair pair the way
    * [[compactionSignal]] / [[compactionRun]] complete the lexical
    * one: cells the monitor flags (`recluster_due`) are re-partitioned
    * by splitting on the [[signBucket]] hyperplane quantizer (the
    * [[annLsh]] planes — data-independent, so both engines derive the
    * identical split with zero training state), while unflagged cells
    * keep their layout untouched. Output is the repaired assignment:
    * per vector its cell, its post-repair sub-cell (0 when the cell
    * was not flagged), and whether the repair moved it — the FAISS
    * "split the hot/drifted list" maintenance shape, expressed as a
    * deterministic operator instead of a retrain.
    *
    * Scale shape: the drift monitor's output is cells-sized (index
    * metadata), so the flagged set broadcasts; the repair itself is
    * then ONE map pass over the embeddings — a per-row bucket
    * expression behind a broadcast join, no shuffle at any corpus
    * size (the output sort is presentation only). Short vectors
    * (< 8 dims) stay in sub-cell 0 — the quantizer needs its 8 planes
    * — mirrored exactly in the oracle.
    */
  def ivfRecluster(s: SparkSession, dir: String): DataFrame =
    ivfReclusterOver(s, learnedAssigned(s, dir))

  /** [[ivfRecluster]] over an explicit assignment (the
    * [[ivfDriftOver]] decoupling). */
  private[graft] def ivfReclusterOver(
      s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val flagged = ivfDriftOver(s, emb).filter($"recluster_due")
      .select($"cell", lit(true).as("flag"))
    emb
      .join(broadcast(flagged), Seq("cell"), "left")
      .select($"vec_id", $"cell",
        when($"flag".isNotNull && size($"embedding") >= 8,
          signBucket($"embedding")).otherwise(lit(0L)).as("sub"),
        $"flag".isNotNull.as("reassigned"))
      .orderBy($"vec_id")
  }

  lazy val ivfReclusterSql: String =
    s"""WITH fl AS (SELECT cell FROM ($ivfDriftSql) WHERE recluster_due),
       |lc AS (WITH $learnedCellsCteSql SELECT vec_id, cell FROM lcells)
       |SELECT e.vec_id, c.cell,
       |  CAST(CASE WHEN fl.cell IS NOT NULL AND len(e.embedding) >= 8
       |    THEN ${signBucketSql("e.embedding")} ELSE 0 END AS BIGINT) AS sub,
       |  fl.cell IS NOT NULL AS reassigned
       |FROM embeddings e JOIN lc c ON e.vec_id = c.vec_id
       |  LEFT JOIN fl ON c.cell = fl.cell
       |ORDER BY e.vec_id""".stripMargin

  /** Recluster effectiveness report — the eval that ships with
    * [[ivfRecluster]] (the discipline every index/classifier here
    * follows): per SPLIT cell, the member count, how many non-empty
    * sub-cells the hyperplane split produced, the largest sub-cell,
    * and `balance_ppm` = largest sub-cell's share in integer ppm — the
    * number a maintenance run reads to decide whether the split
    * actually dispersed the cell (a cell whose vectors all share sign
    * structure splits into one dominant sub-cell and needs a
    * different repair, e.g. deeper planes). Costs one bounded
    * aggregation over the repair's assignment — key count is
    * cells × ≤256 sub-buckets, independent of corpus size.
    */
  def reclusterStats(s: SparkSession, dir: String): DataFrame =
    reclusterStatsOver(s, learnedAssigned(s, dir))

  /** [[reclusterStats]] over an explicit assignment (the
    * [[ivfDriftOver]] decoupling). */
  private[graft] def reclusterStatsOver(
      s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    ivfReclusterOver(s, emb)
      .filter($"reassigned")
      .groupBy($"cell", $"sub").agg(count(lit(1)).as("m"))
      .groupBy($"cell")
      .agg(sum($"m").as("n_members"),
        count(lit(1)).as("n_subcells"),
        max($"m").as("max_subcell"))
      .withColumn("balance_ppm", expr("(max_subcell * 1000000) div n_members"))
      .orderBy($"cell")
  }

  lazy val reclusterStatsSql: String =
    s"""WITH r AS ($ivfReclusterSql),
       |sc AS (
       |  SELECT cell, sub, COUNT(*) AS m FROM r WHERE reassigned
       |  GROUP BY 1, 2)
       |SELECT cell, CAST(SUM(m) AS BIGINT) AS n_members,
       |  COUNT(*) AS n_subcells,
       |  CAST(MAX(m) AS BIGINT) AS max_subcell,
       |  CAST((MAX(m) * 1000000) // SUM(m) AS BIGINT) AS balance_ppm
       |FROM sc GROUP BY cell
       |ORDER BY cell""".stripMargin

  /** Cells larger than this are hierarchically sub-blocked by the
    * 8-sign-bit bucket (the [[annLsh]] quantizer) before the
    * within-block pair compare. Part of the operator's semantics —
    * the DuckDB oracle applies the identical conditional — and sized
    * so the fixture cells (max 218 at sf0.1) stay exact while a
    * dominant cell at scale gets a bounded pair count.
    */
  private val EMBED_CELL_CAP = 1000L

  /** Embedding near-duplicate pairs: cosine ≥ 0.40, blocked by the
    * label cell (the scalable all-pairs mitigation — compare within
    * blocks, not across the corpus). Within-cell compare is exact
    * only while cells stay small; a cell above [[EMBED_CELL_CAP]] is
    * HIERARCHICALLY sub-blocked by sign-bit bucket, trading exact
    * within-cell recall for a pair count bounded by (cap/256)²-ish
    * per sub-block — exactly what production near-dup systems do past
    * this size. Cell sizes come from a groupBy + broadcast join (the
    * label domain is small), never a window over a dominant cell.
    */
  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    embedNearDupBlocked(s, dir, EMBED_CELL_CAP, Tables(s, dir, "embeddings"))

  /** [[embedNearDup]] with an explicit cap/source, so tests can force
    * sub-blocking on a skewed fixture.
    */
  def embedNearDupBlocked(
      s: SparkSession, dir: String, cellCap: Long, src: DataFrame): DataFrame = {
    import s.implicits._
    val cellN = src.groupBy($"label").agg(count(lit(1)).as("cell_n"))
    val e = src
      .join(broadcast(cellN), "label")
      .withColumn("sub",
        when($"cell_n" > cellCap, signBucket($"embedding")).otherwise(lit(0L)))
    e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.sub" === $"b.sub" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"), $"a.label".as("label"),
        cosine(s, $"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" >= 0.40)
      .orderBy($"a_id", $"b_id")
  }

  /** [[embedNearDup]]'s oracle body over an arbitrary embeddings
    * source (no presentation sort — consumers add their own).
    */
  private def embedNearDupBodySqlFrom(emb: String): String =
    s"""WITH cn AS (SELECT label, COUNT(*) AS cell_n FROM $emb GROUP BY label),
       |e AS (SELECT $emb.*, CASE WHEN cn.cell_n > $EMBED_CELL_CAP
       |    THEN ${signBucketSql("embedding")} ELSE 0 END AS sub
       |  FROM $emb JOIN cn USING (label))
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
       |  ${cosineSql("a.embedding", "b.embedding")} AS cos
       |FROM e a JOIN e b
       |  ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
       |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.40""".stripMargin

  val embedNearDupSql: String =
    embedNearDupBodySqlFrom("embeddings") + "\nORDER BY a_id, b_id"

  /** Symmetric int8 quantization audit per embedding: scale =
    * max|x|/127, each component snapped to `floor(x/scale + 0.5)` on
    * the int8 grid, and the total absolute reconstruction error
    * reported in exact micro-units — the compression step a 100 TB
    * vector store runs before indexing (4× smaller, cache-resident
    * cells), with the error column telling you which vectors can't
    * take it. Embarrassingly parallel: one pass over the vectors, no
    * shuffle before the output sort. Determinism: scale is a max (no
    * fp accumulation) over float→double widenings (exact), the
    * per-element error tree is IEEE-identical in both engines, and the
    * error sum happens in int64 micro-units ([[centroids]]' trick) —
    * `floor`, not `round`, because engines tie-break round() apart.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scale =
      aggregate(transform($"embedding", x => abs(x.cast("double"))),
        lit(0.0d), (acc, v) => greatest(acc, v)) / 127.0d
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", $"embedding", scale.as("scale"))
      .filter($"scale" > 0.0d)
      .select($"vec_id", $"label", $"scale",
        aggregate(
          transform($"embedding", x =>
            floor(abs(x.cast("double") -
              floor(x.cast("double") / $"scale" + 0.5d).cast("long").cast("double") * $"scale") *
              1000000.0d).cast("long")),
          lit(0L), (acc, v) => acc + v).as("err_micro"))
      .orderBy($"vec_id")
  }

  val embedQuantizeSql: String =
    """SELECT vec_id, label, scale,
      |  CAST(list_aggregate(list_transform(embedding, x ->
      |    CAST(floor(abs(CAST(x AS DOUBLE) -
      |      CAST(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) AS DOUBLE) * scale) *
      |      CAST(1000000 AS DOUBLE)) AS BIGINT)), 'sum') AS BIGINT) AS err_micro
      |FROM (
      |  SELECT vec_id, label, embedding,
      |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
      |      / CAST(127 AS DOUBLE) AS scale
      |  FROM embeddings)
      |WHERE scale > 0 ORDER BY vec_id""".stripMargin

  private val PQ_M = 8
  private val PQ_SUB = DIM / PQ_M

  /** Float vector → exact int64 micro-units ([[centroids]]' trick):
    * float→double widening is exact, the multiply is IEEE-identical in
    * both engines, floor has no rounding ties. Backed by the codegen'd
    * [[graft.functions.MicroVec]] expression — the
    * `transform(...)` HOF it replaces runs interpreted, and this is a
    * once-per-corpus-row step of every micro-unit pipeline.
    */
  private def microVec(s: SparkSession, c: Column): Column =
    graft.functions.VectorFunctions.microVec(s, c)

  /** Squared L2 distance between two equal-length int64 vectors —
    * exact integer arithmetic, no float accumulation order to disagree
    * about. Micro-unit components are ≤ ~1.2e6 apart, so the sum is
    * ≤ ~1.2e13 — comfortably inside int64. Backed by the codegen'd
    * [[graft.functions.L2Micro2]] expression: the
    * `aggregate(zip_with(...))` HOF it replaces falls out of
    * whole-stage codegen, and this kernel is the per-row × cells hot
    * path of the k-means E-step and PQ encode.
    */
  private def pqDist2(s: SparkSession, a: Column, b: Column): Column =
    graft.functions.VectorFunctions.l2Micro2(s, a, b)

  private def pqDist2Sql(a: String, b: String): String =
    (1 to PQ_SUB).map(j =>
        s"(list_extract($a, $j) - list_extract($b, $j)) * (list_extract($a, $j) - list_extract($b, $j))")
      .reduce((x, y) => s"$x + $y")

  /** Per-(label cell, dimension) exact micro-unit sums — the single
    * definition of the centroid numerator shared by [[pqCodebook]]
    * and [[embedOutliers]] (their centroids are the same floor(mean)
    * integers by construction, not by parallel maintenance).
    */
  private def microDimSums(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"label", posexplode(microVec(s, $"embedding")).as(Seq("pos0", "mv")))
      .groupBy($"label", $"pos0")
      .agg(sum($"mv").as("sm"), count(lit(1)).as("n"))
  }

  /** Product-quantization codebook: the [[DIM]]-dim space split into
    * [[PQ_M]] subspaces of [[PQ_SUB]] dims; per (subspace, LEARNED
    * cell) one centroid — the training assignment is the learned
    * quantizer ([[learnedCellCol]]), as in [[annIvf]]: a map-side
    * projection feeds a cells×dims-keyed aggregate, so the train pass
    * is one corpus scan + one bounded shuffle. Centroid components
    * are floor(mean) in micro-units: the int64 sum is exact, the one
    * division happens in double on values far below 2^53, and floor
    * is tie-free — both engines get the identical integer. Output is
    * cells × [[PQ_M]] rows regardless of corpus size.
    */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqCodebookFrom(s, dir, learnedCentroids(s, dir))

  private def pqCodebookFrom(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select(microVec(s, $"embedding").as("mvec"))
      .withColumn("cell", learnedCellCol(s, $"mvec", cents))
      .select($"cell", posexplode($"mvec").as(Seq("pos0", "mv")))
      .groupBy($"cell", $"pos0")
      .agg(sum($"mv").as("sm"), count(lit(1)).as("n"))
      .select($"cell", ($"pos0" / lit(PQ_SUB)).cast("int").as("m"),
        pmod($"pos0", lit(PQ_SUB)).as("j"),
        floor($"sm".cast("double") / $"n").cast("long").as("c"))
      .groupBy($"cell", $"m")
      .agg(collect_list(struct($"j", $"c")).as("jc"))
      .select($"cell", $"m",
        transform(sort_array($"jc"), x => x.getField("c")).as("cvec"))
  }

  /** Per-vector, per-subspace micro-unit slices — the map-side explode
    * both PQ queries run over the corpus (fan-out [[PQ_M]], no
    * shuffle).
    */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", microVec(s, $"embedding").as("mvec"))
      .select($"vec_id", explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), $"mvec")
      .select($"vec_id", $"m",
        slice($"mvec", $"m" * PQ_SUB + 1, lit(PQ_SUB)).as("svec"))
  }

  /** DuckDB twin of [[microVec]]. */
  /** Mirrors [[graft.functions.MicroVec]]'s null contract EXACTLY: a
    * vector containing any null element micro-converts to NULL as a
    * whole (the Spark expression cannot emit a partial vector), and a
    * NULL list unnests to zero rows downstream — without the CASE
    * guard the oracle would unnest the null ELEMENTS instead, where
    * SUM skips them but COUNT(*) counts them, silently diverging from
    * the engine on any corpus with a corrupt embedding. Fixtures carry
    * no null elements, so results are unchanged there; the guard keeps
    * the engine-parity contract honest off the happy path.
    */
  private val microVecSql: String =
    """CASE WHEN len(list_filter(embedding, v -> v IS NULL)) > 0 THEN NULL
      |    ELSE list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)) END""".stripMargin

  /** DuckDB twin of [[microDimSums]] (plus the micro-vector CTE both
    * finals read): shared by [[pqCtesSql]] and [[embedOutliersSql]].
    */
  private val microDimsCtesSql: String =
    s"""mv AS (
       |  SELECT vec_id, label, $microVecSql AS mvec
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, pos, CAST(SUM(v) AS BIGINT) AS sm, COUNT(*) AS n FROM (
       |    SELECT label, unnest(mvec) AS v, generate_subscripts(mvec, 1) AS pos FROM mv)
       |  GROUP BY label, pos)""".stripMargin

  /** Shared oracle CTE chain: micro vectors, per-dim cell sums, the
    * PQ codebook, and the per-vector subspace slices.
    */
  private lazy val pqCtesSql: String =
    s"""$learnedCellsCteSql,
       |pmv AS (SELECT vec_id, $microVecSql AS mvec FROM embeddings),
       |ldims AS (
       |  SELECT c.cell, v.pos, CAST(SUM(v.mv) AS BIGINT) AS sm, COUNT(*) AS n
       |  FROM mvl v JOIN lcells c USING (vec_id)
       |  GROUP BY c.cell, v.pos),
       |cb AS (
       |  SELECT cell, (pos - 1) // $PQ_SUB AS m,
       |    list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS cvec
       |  FROM ldims GROUP BY cell, (pos - 1) // $PQ_SUB),
       |sub AS (
       |  SELECT vec_id, m, list_slice(mvec, m * $PQ_SUB + 1, (m + 1) * $PQ_SUB) AS svec
       |  FROM pmv, (SELECT unnest(range($PQ_M)) AS m)),
       |dist AS (
       |  SELECT vec_id, m, cell, ${pqDist2Sql("svec", "cvec")} AS dist2
       |  FROM sub JOIN cb USING (m))""".stripMargin

  /** Product-quantization codes: each vector compressed to [[PQ_M]]
    * cell ids — the argmin-centroid per subspace, ties to the smaller
    * label — plus its exact total squared reconstruction error in
    * micro²-units. This is the 100 TB memory story for ANN: 8 bytes of
    * code per vector instead of 256 bytes of floats, with
    * [[annPq]] searching the compressed form. Plan: codebook agg
    * (key count = cells × dims), then one corpus pass — map-side
    * subspace explode, broadcast codebook join, two narrow shuffles
    * ((vec,m) argmin, then vec) over 3-column rows.
    */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqSubvectors(s, dir)
      .join(broadcast(pqCodebook(s, dir)), "m")
      .withColumn("dist2", pqDist2(s, $"svec", $"cvec"))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"dist2", $"cell")).as("best"))
      .groupBy($"vec_id")
      .agg(collect_list(struct($"m", $"best")).as("cs"))
      .select($"vec_id",
        concat_ws("-", transform(sort_array($"cs"),
          x => x.getField("best").getField("cell").cast("string"))).as("pq_code"),
        aggregate(transform($"cs", x => x.getField("best").getField("dist2")),
          lit(0L), (a, v) => a + v).as("err_micro2"))
      .orderBy($"vec_id")
  }

  lazy val pqCodesSql: String =
    s"""WITH $pqCtesSql,
       |best AS (
       |  SELECT vec_id, m, cell, dist2 FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY dist2, cell) AS rn FROM dist)
       |  WHERE rn = 1)
       |SELECT vec_id,
       |  string_agg(CAST(cell AS VARCHAR), '-' ORDER BY m) AS pq_code,
       |  CAST(SUM(dist2) AS BIGINT) AS err_micro2
       |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** ANN by asymmetric distance computation over the PQ codes: the
    * query (vec_id = 0) precomputes its squared distance to every
    * codebook centroid — a cells × [[PQ_M]] lookup table — and each
    * database vector's approximate distance is the sum of table
    * entries at its code. Top-10 ascending, ties to the smaller
    * vec_id. The codebook and query table are driver-built index
    * metadata (cells × [[PQ_M]] rows, corpus-size-independent — the
    * artifact every PQ system ships to its query nodes; same
    * adjudicated pattern as [[annIvfPruned]]'s one-row `head()`), so
    * the corpus is touched exactly once: map-side explode, broadcast
    * joins, argmin, sum — then TakeOrderedAndProject moves 10 rows.
    */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val cents = learnedCentroids(s, dir)
    annPqFrom(s, dir, pqCodebookRows(s, dir, cents), qMicro(s, dir))
  }

  /** [[pqCodebook]], collected — the cells × [[PQ_M]] metadata rows
    * every PQ probe ships as plan constants.
    */
  private def pqCodebookRows(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])]): Array[(Int, Int, Seq[Long])] =
    pqCodebookFrom(s, dir, cents).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))

  private def annPqFrom(s: SparkSession, dir: String,
      cb: Array[(Int, Int, Seq[Long])], qmicro: Seq[Long]): DataFrame = {
    import s.implicits._
    val qtab = cb.map { case (cell, m, cvec) =>
      val qd = (0 until PQ_SUB).map { j =>
        val diff = qmicro(m * PQ_SUB + j) - cvec(j); diff * diff
      }.sum
      (m, cell, qd)
    }.toSeq.toDF("m", "cell", "qd")
    val cbDf = cb.toSeq.toDF("cell", "m", "cvec")
    pqSubvectors(s, dir)
      .filter($"vec_id" =!= 0)
      .join(broadcast(cbDf), "m")
      .withColumn("dist2", pqDist2(s, $"svec", $"cvec"))
      .join(broadcast(qtab), Seq("m", "cell"))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"dist2", $"cell", $"qd")).as("best"))
      .groupBy($"vec_id")
      .agg(sum($"best".getField("qd")).as("adc_micro2"))
      .orderBy($"adc_micro2", $"vec_id")
      .limit(10)
  }

  lazy val annPqSql: String =
    s"""WITH $pqCtesSql,
       |q AS (SELECT m, svec AS qvec FROM sub WHERE vec_id = 0),
       |qtab AS (
       |  SELECT cb.m, cb.cell, ${pqDist2Sql("qvec", "cvec")} AS qd
       |  FROM cb JOIN q ON cb.m = q.m),
       |best AS (
       |  SELECT vec_id, m, qd FROM (
       |    SELECT d.vec_id, d.m, d.cell, qt.qd, row_number() OVER (
       |      PARTITION BY d.vec_id, d.m ORDER BY d.dist2, d.cell) AS rn
       |    FROM dist d JOIN qtab qt ON d.m = qt.m AND d.cell = qt.cell
       |    WHERE d.vec_id <> 0)
       |  WHERE rn = 1)
       |SELECT vec_id, CAST(SUM(qd) AS BIGINT) AS adc_micro2
       |FROM best GROUP BY vec_id
       |ORDER BY adc_micro2, vec_id LIMIT 10""".stripMargin



  /** Heuristic-quality micro floor selecting the embedding quality
    * filter's SEED set (≈ the fixture's top quintile). The compare is
    * on the FLOORED integer micro score, so the threshold boundary
    * has no cross-engine double hazard.
    */
  private val EMBED_QUALITY_SEED_MIN = 400000L

  /** Embedding-based quality scoring seeded from the heuristic
    * rules — the classifier-free "model-based quality filter" (the
    * FineWeb-Edu shape with the LLM-labeled classifier replaced by a
    * deterministic seed): docs whose heuristic score clears
    * [[EMBED_QUALITY_SEED_MIN]] form the seed set, their floor(mean)
    * micro-unit embedding centroid is the learned "high-quality
    * direction", and EVERY doc scores its cosine to it in integer
    * ppm. Reading `is_seed` against `cos_ppm` shows the agreement
    * between the lexical and embedding views of quality before
    * either gates anything — the [[filterAgreement]] discipline
    * applied across feature spaces.
    *
    * Exactness: the centroid is floor(mean) int64 micro-units; each
    * doc's Σa², and the dot product via the polarization identity
    * `2·Σab = Σa² + Σc² − Σ(a−c)²` over the codegen'd [[pqDist2]]
    * kernel, are EXACT integers (identical to the oracle's direct
    * `SUM(mv·c)`), so the one double step (the 1e6-scaled ratio of
    * exact ints, floored) is IEEE-identical cross-engine. Scale
    * shape: one docs↔embeddings id join (the corpus alignment
    * convention), a dims-keyed centroid aggregate collected as 64
    * rows of index metadata, then a map-side score pass — no
    * corpus-sized shuffle beyond the alignment join. Zero-norm
    * vectors (and an empty-seed corpus) score NULL by contract.
    */
  def embedQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE corpus text pass: the narrow (doc_id, qm) frame is
    // checkpointed and reused by the centroid derivation AND the
    // score join — the text column (the corpus's fat column) is never
    // read twice
    val q = qualityMicroOf(s, dir).localCheckpoint()
    val cent = corpusQualityCentroidFrom(s, q, Tables(s, dir, "embeddings"))
    Tables(s, dir, "embeddings")
      .select($"vec_id".as("doc_id"), $"embedding")
      .join(q, "doc_id")
      .select($"doc_id", $"qm",
        ($"qm" >= EMBED_QUALITY_SEED_MIN).as("is_seed"),
        cosPpmCol(s, $"embedding", cent).as("cos_ppm"))
      .orderBy($"doc_id")
  }

  /** Score-calibration audit (`x_quality_calibration`) — the check a
    * pipeline owner runs before trusting the CHEAP per-row lexical
    * quality score as a proxy for the EXPENSIVE embedding signal
    * (before moving [[QUALITY_MIN]], before gating ingest on the
    * formula alone): per quality-score decile band, the population,
    * how many docs carry an embedding, how many of those carry a
    * direction (non-null [[cosPpmCol]] vs the seed-quality centroid),
    * the mean cosine in floored integer ppm, and the agreement rate
    * (cos ≥ 0 — pointing WITH the quality direction) in exact ppm. A
    * calibrated score shows agreement rising with the band; a flat
    * curve says the formula is noise against the embedding signal at
    * that floor. All 10 bands anchored (empty bands report zero
    * counts, NULL stats), so the curve's shape is never hidden by
    * missing rows.
    *
    * Scale shape: ONE corpus text pass total — the narrow (doc_id,
    * qm) frame is checkpointed and reused by the band counts, the
    * centroid derivation, and the score join (text, the corpus's fat
    * column, is never read twice; PlanSpec pins no documents scan in
    * the final plan). The centroid is a collected 64-long plan
    * constant, the cosine a codegen'd per-row expression, every
    * aggregate reduced to ≤10 groups map-side; the band spine is a
    * literal. Nothing pairwise, nothing wide on any exchange.
    */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bandOf = least(expr("qm div 100000"), lit(9L))
    // ONE corpus text pass for the whole audit: the checkpointed
    // narrow (doc_id, qm) frame feeds the band counts, the centroid
    // derivation, and the score join — [[embedQuality]]'s discipline,
    // shared here rather than re-calling it (which would checkpoint
    // its own second text pass)
    val q = qualityMicroOf(s, dir).localCheckpoint()
    val cent = corpusQualityCentroidFrom(s, q, Tables(s, dir, "embeddings"))
    val all = q
      .select(bandOf.as("band"))
      .groupBy($"band").agg(count(lit(1)).as("n_docs"))
    val emb = Tables(s, dir, "embeddings")
      .select($"vec_id".as("doc_id"), $"embedding")
      .join(q, "doc_id")
      .select(bandOf.as("band"), cosPpmCol(s, $"embedding", cent).as("cos_ppm"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_embedded"),
        count($"cos_ppm").as("n_directional"),
        sum($"cos_ppm").as("sum_cos"),
        sum(when($"cos_ppm" >= 0, 1L).otherwise(0L)).as("n_agree"))
    val spine = s.range(0, 10).select($"id".as("band"))
    spine.join(all, Seq("band"), "left")
      .join(emb, Seq("band"), "left")
      .select($"band",
        coalesce($"n_docs", lit(0L)).as("n_docs"),
        coalesce($"n_embedded", lit(0L)).as("n_embedded"),
        coalesce($"n_directional", lit(0L)).as("n_directional"),
        when($"n_directional" > 0,
          floor($"sum_cos".cast("double") / $"n_directional").cast("long"))
          .as("mean_cos_ppm"),
        when($"n_directional" > 0,
          expr("(n_agree * 1000000) div n_directional")).as("agree_ppm"))
      .orderBy($"band")
  }

  /** DuckDB twin of [[qualityCalibration]] — wraps [[embedQualitySql]]
    * (the per-doc frame, verbatim) under the identical banding and
    * guarded integer statistics.
    */
  lazy val qualityCalibrationSql: String =
    s"""WITH eq AS ($embedQualitySql),
       |qa AS (
       |  SELECT LEAST(CAST(floor((${qualitySql("text")})
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) // 100000, 9) AS band,
       |    COUNT(*) AS n_docs
       |  FROM documents GROUP BY 1),
       |eb AS (
       |  SELECT LEAST(qm // 100000, 9) AS band,
       |    COUNT(*) AS n_embedded,
       |    COUNT(cos_ppm) AS n_directional,
       |    CAST(SUM(cos_ppm) AS BIGINT) AS sum_cos,
       |    CAST(SUM(CASE WHEN cos_ppm >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_agree
       |  FROM eq GROUP BY 1),
       |spine AS (SELECT unnest(range(10)) AS band)
       |SELECT CAST(spine.band AS BIGINT) AS band,
       |  COALESCE(n_docs, 0) AS n_docs,
       |  CAST(COALESCE(n_embedded, 0) AS BIGINT) AS n_embedded,
       |  CAST(COALESCE(n_directional, 0) AS BIGINT) AS n_directional,
       |  CASE WHEN n_directional > 0
       |    THEN CAST(floor(CAST(sum_cos AS DOUBLE) / n_directional) AS BIGINT)
       |  END AS mean_cos_ppm,
       |  CASE WHEN n_directional > 0
       |    THEN CAST(n_agree * 1000000 // n_directional AS BIGINT)
       |  END AS agree_ppm
       |FROM spine LEFT JOIN qa ON qa.band = spine.band
       |  LEFT JOIN eb ON eb.band = spine.band
       |ORDER BY band""".stripMargin

  /** (doc_id, qm) — the floored integer micro heuristic-quality score
    * per document (the [[keepBestDecision]] statistic, factored for
    * the embed-quality family).
    */
  private def qualityMicroOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id",
        floor(qualityCol($"text", $"w") * 1000000.0).cast("long").as("qm"))
  }

  /** The seed-quality centroid in micro-units over an arbitrary
    * corpus slice — [[embedQuality]]'s "high-quality direction" as a
    * collectable artifact for the STREAMING gate
    * ([[graft.streaming.Streams.qualityDirGate]]): 64 longs, so the
    * broadcast-budget question the bigram table needed a cap for is
    * moot here. `pred` excludes the arriving batch for the stale-
    * artifact contract (pass [[defaultBatchPred]]'s negation or a
    * deployment's own marker); default is the full corpus (the batch
    * operator's training slice).
    */
  def corpusQualityCentroid(s: SparkSession, dir: String,
      pred: Column = lit(true)): Array[Long] =
    corpusQualityCentroidFrom(
      s, qualityMicroOf(s, dir), Tables(s, dir, "embeddings"), pred)

  /** [[corpusQualityCentroid]] over caller-supplied score/embedding
    * frames — so a consumer that already holds the (doc_id, qm) frame
    * ([[embedQuality]], [[qualityCalibration]]: one checkpointed text
    * pass) derives the centroid WITHOUT a second corpus text scan.
    */
  private def corpusQualityCentroidFrom(s: SparkSession,
      q: DataFrame, emb: DataFrame, pred: Column = lit(true)): Array[Long] = {
    import s.implicits._
    val cent = emb
      .select($"vec_id".as("doc_id"), microVec(s, $"embedding").as("mvec"))
      .join(q, "doc_id")
      .filter(pred)
      .filter($"qm" >= EMBED_QUALITY_SEED_MIN)
      .select(posexplode($"mvec").as(Seq("pos0", "v")))
      .groupBy($"pos0").agg(sum($"v").as("sm"), count(lit(1)).as("n"))
      .select($"pos0", floor($"sm".cast("double") / $"n").cast("long").as("c"))
      .orderBy($"pos0")
      .collect().map(_.getLong(1))
    require(cent.nonEmpty, "corpusQualityCentroid: empty seed set — " +
      s"no doc at quality >= $EMBED_QUALITY_SEED_MIN micro in the slice")
    cent
  }

  /** Cosine-to-centroid in integer ppm — ONE definition shared by the
    * batch operator ([[embedQuality]]) and the streaming gate, so the
    * two cannot drift: exact-integer norms and polarization-identity
    * dot over the codegen'd [[pqDist2]] kernel, one IEEE-identical
    * double step, NULL on zero-norm (no direction = no signal).
    */
  private[graft] def cosPpmCol(
      s: SparkSession, emb: Column, cent: Array[Long]): Column = {
    val bb = cent.map(c => c * c).sum
    val mvec = microVec(s, emb)
    val aa = pqDist2(s, mvec, typedlit(Seq.fill(cent.length)(0L)))
    val l2 = pqDist2(s, mvec, typedlit(cent.toSeq))
    val ab = ((aa + lit(bb) - l2) / lit(2L)).cast("long")
    when(aa === 0L || lit(bb) === 0L, lit(null).cast("long"))
      .otherwise(floor(ab.cast("double") * 1000000.0 /
        (sqrt(aa.cast("double")) * lit(math.sqrt(bb.toDouble)))).cast("long"))
  }

  /** Ingest-batch documents whose [[cosPpmCol]] score against the
    * stale quality centroid falls under this floor are dropped by the
    * quality-direction gate: ≈ the fixture distribution's 5th
    * percentile (p5 ≈ −201k, median ≈ 41k) — only documents pointing
    * measurably AWAY from the high-quality direction fail.
    */
  private[graft] val QUALITY_DIR_MIN = -200000L

  /** Batch-side audit of the stateless CONTENT gates over the
    * arriving slice — per gate (quality, novelty, fluency,
    * quality-direction) the batch size, pass/drop counts, and the
    * drop rate in integer ppm, plus a `battery` row for documents
    * clearing ALL four: the attrition report an ingest operator reads
    * before changing a floor (the [[filterFunnel]] discipline applied
    * to the gate battery; the dedup/media gates are keyed, not
    * content-scored, and are audited by their own families). Every
    * verdict reuses its gate's exact rule — quality ≥
    * [[QUALITY_MIN]], novelty ppm vs the base shingle universe at
    * [[NOVELTY_MIN]] (sub-shingle docs pass), mean base-bigram ppm at
    * [[FLUENCY_MIN]] (sub-bigram or zero-matched docs pass — the
    * no-evidence rule), cosine vs the base seed-quality centroid at
    * [[QUALITY_DIR_MIN]] (zero-norm passes) — so the audit cannot
    * drift from the gates it describes. Output is 5 rows at any
    * corpus size; cost is one pass per feature family over the
    * corpus, all aggregates bounded.
    *
    * The fluency verdict threads the gate's OWN bigram budget
    * (`minCount` floor + deterministic top-`maxEntries` cap, same
    * params and same `(cab DESC, ca DESC, a, b)` ranking as
    * [[corpusBigramStats]]) — without it the audit would score
    * against an uncapped table the deployed gate never sees, and a
    * corpus where the cap binds would show battery ≠ gate
    * (MaintenanceOpsSpec pins the agreement on exactly such a
    * corpus). Kept entries still score against the FULL prefix mass;
    * evicted bigrams fall to the kernel's 0-ppm miss rule and
    * zero-matched docs to its no-evidence NULL.
    */
  def gateBattery(s: SparkSession, dir: String,
      minCount: Long = 1L,
      maxEntries: Int = BIGRAM_STATS_MAX_ENTRIES): DataFrame = {
    import s.implicits._
    val v = gateBatteryVerdicts(s, dir, minCount, maxEntries)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    v.agg(count(lit(1)).as("n_batch"),
        cnt($"p_quality").as("c_quality"), cnt($"p_novelty").as("c_novelty"),
        cnt($"p_fluency").as("c_fluency"), cnt($"p_qdir").as("c_qdir"),
        cnt($"p_quality" && $"p_novelty" && $"p_fluency" && $"p_qdir")
          .as("c_all"))
      .select(expr(
        "stack(5, 'battery', c_all, 'fluency', c_fluency, " +
          "'novelty', c_novelty, 'qdir', c_qdir, 'quality', c_quality) " +
          "AS (gate, n_pass)"), $"n_batch")
      .select($"gate", $"n_batch", $"n_pass",
        ($"n_batch" - $"n_pass").as("n_drop"),
        expr("((n_batch - n_pass) * 1000000) div n_batch").as("drop_ppm"))
      .orderBy($"gate")
  }

  /** Per-document verdict frame under [[gateBattery]] — one row per
    * batch-slice doc with the four content-gate pass booleans, the
    * exact set the battery's counts aggregate. Exposed so the
    * composed-ingestion kill/restart test (StreamingSpec) can assert
    * the DEPLOYED gate chain's surviving set against the audit's own
    * keep-set (`p_quality && p_novelty && p_fluency && p_qdir`) —
    * gate ≡ audit for the composition, not just per member.
    */
  private[graft] def gateBatteryVerdicts(s: SparkSession, dir: String,
      minCount: Long = 1L,
      maxEntries: Int = BIGRAM_STATS_MAX_ENTRIES): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    // quality: per-row rule on the batch slice
    val qual = docs.filter(defaultBatchPred)
      .select($"doc_id", $"text", words($"text").as("w"))
      .select($"doc_id",
        (qualityCol($"text", $"w") >= QUALITY_MIN).as("p_quality"))
    // novelty: base-universe ppm; docs with no shingles are absent
    // from the core and pass
    val nov = noveltyCore(s, dir, defaultBatchPred)
      .select($"doc_id", ($"novelty_ppm" >= NOVELTY_MIN).as("pn"))
    // fluency: STALE-table semantics derived distributively — batch
    // bigrams left-joined against the BASE slice's cab/ca, misses
    // scoring 0, zero-matched docs NULL (exactly corpusBigramStats +
    // BigramFluencyPpm's rule, re-derived as a join so the audit
    // needs no serialized artifact)
    val bi = docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(expr(
        "CASE WHEN size(w) >= 2 THEN " +
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i + 1] AS b)) " +
          "ELSE array() END")).as("p"))
      .select($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
    // NOTE (r21): the base-bigram subtree appears 3× in the initial
    // plan, but materializing it with a localCheckpoint measured
    // SLOWER (gate battery 1.8 → 2.7 s, capped and chain likewise) —
    // AQE's runtime exchange reuse already dedups the identical
    // aggregate subtrees, so the pin only added a serialized
    // materialization job. Reverted; left as the measured record.
    val cabBase = bi.filter(!defaultBatchPred)
      .groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
    val caBase = cabBase.groupBy($"a").agg(sum($"cab").as("ca"))
    // the gate's two-stage budget, re-derived distributively: floor
    // hapax bigrams, then the deterministic top-K (TakeOrdered — the
    // same O(maxEntries) bound as the serialized build). ca joins
    // BEFORE the cap so the ranking ties break on full prefix mass.
    val cabKept = cabBase.join(caBase, Seq("a"))
      .filter($"cab" >= minCount)
      .orderBy($"cab".desc, $"ca".desc, $"a", $"b")
      .limit(maxEntries)
      .select($"a", $"b", $"cab")
    val flu = bi.filter(defaultBatchPred)
      .join(cabKept, Seq("a", "b"), "left")
      .join(caBase, Seq("a"), "left")
      .select($"doc_id", $"cab", coalesce(expr(
        "(CAST(cab AS DECIMAL(38,0)) * 1000000) div CAST(ca AS DECIMAL(38,0))")
        .cast("long"), lit(0L)).as("sc"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nb"), count($"cab").as("nm"), sum($"sc").as("ssum"))
      .select($"doc_id",
        (($"nm" === 0L) || expr("ssum div nb") >= FLUENCY_MIN).as("pf"))
    // quality direction: stale centroid from the base slice
    val cent = corpusQualityCentroid(s, dir, !defaultBatchPred)
    val qd = Tables(s, dir, "embeddings")
      .select($"vec_id".as("doc_id"), $"embedding")
      .filter(defaultBatchPred)
      .select($"doc_id", cosPpmCol(s, $"embedding", cent).as("cos"))
      .select($"doc_id",
        ($"cos".isNull || $"cos" >= QUALITY_DIR_MIN).as("pd"))
    qual
      .join(nov, Seq("doc_id"), "left")
      .join(flu, Seq("doc_id"), "left")
      .join(qd, Seq("doc_id"), "left")
      .select($"doc_id", $"p_quality",
        coalesce($"pn", lit(true)).as("p_novelty"),
        coalesce($"pf", lit(true)).as("p_fluency"),
        coalesce($"pd", lit(true)).as("p_qdir"))
  }

  /** The non-default bigram budget the `x_gate_battery_capped` oracle
    * row audits under: an aggressively floored + capped table
    * (hapaxes dropped, two entries kept), so the budget-threading path
    * — `cab >= minCount`, the deterministic `(cab DESC, ca DESC, a,
    * b)` top-K, and the evicted-bigram 0-ppm rule — is pinned by the
    * DRIVER's DuckDB compare on the real corpus, not only by the
    * hand-planted MaintenanceOpsSpec fixture.
    */
  private[graft] val CAPPED_BATTERY_MIN_COUNT = 2L
  private[graft] val CAPPED_BATTERY_MAX_ENTRIES = 2

  /** DuckDB twin of [[gateBattery]], parameterized on the SAME bigram
    * budget with the SAME defaults. Registered twice: the
    * `x_gate_battery` row at the defaults, and `x_gate_battery_capped`
    * at ([[CAPPED_BATTERY_MIN_COUNT]], [[CAPPED_BATTERY_MAX_ENTRIES]])
    * — a binding budget, so the interpolated `$minCount`/`$maxEntries`
    * path is itself oracle-checked.
    */
  def gateBatterySql: String =
    gateBatterySql(1L, BIGRAM_STATS_MAX_ENTRIES)

  /** Composed ingest-chain funnel (`x_gate_chain`) — the
    * `x_filter_funnel` discipline applied to THE deployed gate
    * composition ([[graft.streaming.Streams.ingestGateChain]]): one
    * row per stage IN CHAIN ORDER (quality → novelty → fluency →
    * qdir → band → cdc), each reporting the population entering the
    * stage (the prefix's survivors), its keeps, drops, and exact drop
    * ppm. The verdicts are the member audits' own — battery per-doc
    * verdicts ([[gateBatteryVerdicts]]), the band audit keep
    * ([[bandGateScored]] at [[JACCARD_DUP_MIN_PPM]]), the CDC audit
    * keep ([[cdcGateScored]]) — so this is the composed "gate ≡
    * audit" statement as a DRIVER-oracle row, the batch twin of the
    * StreamingSpec capstone that pins the same composition across a
    * kill/restart (which additionally asserts this funnel's final
    * keep count equals the streamed survivor set). The `ord` column
    * pins the chain order in the hashed output. Every member is
    * stateless, so the FINAL keep count is order-independent; the
    * per-stage attrition is what a pipeline owner reads before
    * reordering gates by cost. Scale shape: one pass per feature
    * family (the battery's), the two stale-index join probes, one
    * 1-row aggregate, 6 output rows at any corpus size.
    */
  /** Per-arrival verdicts of THE composed admission chain — doc_id
    * plus each member's pass flag (battery pq/pn/pf/pd, band pb, cdc
    * pc), ONE derivation shared by [[gateChainFunnel]] (the staged
    * attrition report) and [[Export.streamExport]] (the keep-set the
    * streaming export ships), so the funnel and the export cannot
    * disagree about who survived.
    */
  private[graft] def gateChainFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = gateBatteryVerdicts(s, dir)
    val bandRoot = ensureBandIndex(s, dir)
    val idx = s.read.parquet(bandRoot.resolve("bands").toString)
    val stopArr = s.read.parquet(bandRoot.resolve("stop").toString)
      .as[Long].collect().sorted
    val store = s.read.parquet(
      ensureCdcStore(s, dir).resolve("chunks").toString)
    val arrivals = Tables(s, dir, "documents")
      .filter(defaultBatchPred).select($"doc_id", $"text")
    val pb = bandGateScored(s, arrivals, idx, stopArr)
      .select($"doc_id",
        ($"gate_ppm".isNull || $"gate_ppm" < JACCARD_DUP_MIN_PPM).as("pb"))
    val pc = cdcGateScored(s, arrivals, store)
      .select($"doc_id", ($"gate_known" * 2 < $"gate_np").as("pc"))
    v.join(pb, Seq("doc_id"), "left")
      .join(pc, Seq("doc_id"), "left")
      .select($"doc_id", $"p_quality".as("pq"), $"p_novelty".as("pn"),
        $"p_fluency".as("pf"), $"p_qdir".as("pd"),
        coalesce($"pb", lit(true)).as("pb"),
        coalesce($"pc", lit(true)).as("pc"))
  }

  def gateChainFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    gateChainFlags(s, dir)
      .agg(count(lit(1)).as("k0"),
        cnt($"pq").as("k1"),
        cnt($"pq" && $"pn").as("k2"),
        cnt($"pq" && $"pn" && $"pf").as("k3"),
        cnt($"pq" && $"pn" && $"pf" && $"pd").as("k4"),
        cnt($"pq" && $"pn" && $"pf" && $"pd" && $"pb").as("k5"),
        cnt($"pq" && $"pn" && $"pf" && $"pd" && $"pb" && $"pc").as("k6"))
      .select(expr(
        "stack(6, " +
          "CAST(1 AS BIGINT), 'quality', k0, k1, " +
          "CAST(2 AS BIGINT), 'novelty', k1, k2, " +
          "CAST(3 AS BIGINT), 'fluency', k2, k3, " +
          "CAST(4 AS BIGINT), 'qdir', k3, k4, " +
          "CAST(5 AS BIGINT), 'band', k4, k5, " +
          "CAST(6 AS BIGINT), 'cdc', k5, k6) " +
          "AS (ord, stage, n_in, n_kept)"))
      .select($"ord", $"stage", $"n_in", $"n_kept",
        ($"n_in" - $"n_kept").as("n_dropped"),
        when($"n_in" > 0, expr("((n_in - n_kept) * 1000000) div n_in"))
          .as("drop_ppm"))
      .orderBy($"ord")
  }

  /** DuckDB twin of [[gateChainFunnel]]: the battery's shared verdict
    * CTEs ([[gateVerdictCtesSql]]) joined with the band and CDC
    * audits' own per-doc derivations, folded through the same ordered
    * prefix conjunctions.
    */
  /** The composed chain's per-arrival flag derivation as a WITH-body
    * fragment (ends at `flags`: doc_id, pq, pn, pf, pd, pb, pc) — ONE
    * SQL definition shared by [[gateChainSql]] and
    * [[Export.streamExportSql]], mirroring [[gateChainFlags]] exactly.
    */
  private[queries] lazy val gateChainFlagsCtesSql: String =
    s"""${gateVerdictCtesSql(1L, BIGRAM_STATS_MAX_ENTRIES)},
       |base AS (
       |  SELECT doc_id, text FROM documents WHERE NOT ($defaultBatchCondSql)),
       |arr AS (SELECT doc_id, text FROM documents WHERE $defaultBatchCondSql),
       |${bandGateCtesSql("base", "arr")},
       |cbase AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE NOT ($defaultBatchCondSql)),
       |carr AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE $defaultBatchCondSql),
       |cstore AS (
       |  SELECT DISTINCT chunk_hash FROM (${cdcChunkRowsSql("text", "cbase")})),
       |ach AS (
       |  SELECT DISTINCT doc_id, chunk_hash
       |  FROM (${cdcChunkRowsSql("text", "carr")})),
       |probes AS (
       |  SELECT doc_id, chunk_hash FROM ach
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY chunk_hash) <= $CDC_PROBE_K),
       |csc AS (
       |  SELECT p.doc_id, COUNT(*) AS np, COUNT(cs.chunk_hash) AS known
       |  FROM probes p LEFT JOIN cstore cs ON p.chunk_hash = cs.chunk_hash
       |  GROUP BY p.doc_id),
       |flags AS (
       |  SELECT gv.doc_id, pq, pn, pf, pd,
       |    (sc.maxppm IS NULL OR sc.maxppm < $JACCARD_DUP_MIN_PPM) AS pb,
       |    COALESCE(csc.known * 2 < csc.np, TRUE) AS pc
       |  FROM gv LEFT JOIN scored sc ON gv.doc_id = sc.a_id
       |          LEFT JOIN csc ON gv.doc_id = csc.doc_id)""".stripMargin

  lazy val gateChainSql: String =
    s"""WITH $gateChainFlagsCtesSql,
       |fa AS (
       |  SELECT COUNT(*) AS k0,
       |    SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS k1,
       |    SUM(CASE WHEN pq AND pn THEN 1 ELSE 0 END) AS k2,
       |    SUM(CASE WHEN pq AND pn AND pf THEN 1 ELSE 0 END) AS k3,
       |    SUM(CASE WHEN pq AND pn AND pf AND pd THEN 1 ELSE 0 END) AS k4,
       |    SUM(CASE WHEN pq AND pn AND pf AND pd AND pb THEN 1 ELSE 0 END)
       |      AS k5,
       |    SUM(CASE WHEN pq AND pn AND pf AND pd AND pb AND pc
       |      THEN 1 ELSE 0 END) AS k6
       |  FROM flags)
       |SELECT CAST(ord AS BIGINT) AS ord, stage,
       |  CAST(n_in AS BIGINT) AS n_in, CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(n_in - n_kept AS BIGINT) AS n_dropped,
       |  CASE WHEN n_in > 0
       |    THEN CAST((n_in - n_kept) * 1000000 // n_in AS BIGINT)
       |  END AS drop_ppm
       |FROM (
       |  SELECT 1 AS ord, 'quality' AS stage, k0 AS n_in, k1 AS n_kept FROM fa
       |  UNION ALL SELECT 2, 'novelty', k1, k2 FROM fa
       |  UNION ALL SELECT 3, 'fluency', k2, k3 FROM fa
       |  UNION ALL SELECT 4, 'qdir', k3, k4 FROM fa
       |  UNION ALL SELECT 5, 'band', k4, k5 FROM fa
       |  UNION ALL SELECT 6, 'cdc', k5, k6 FROM fa)
       |ORDER BY ord""".stripMargin

  /** The battery's per-doc verdict CTE chain (ends at `gv`:
    * doc_id, pq, pn, pf, pd) — ONE derivation shared by
    * [[gateBatterySql]] and the composed chain-funnel oracle
    * ([[gateChainSql]]), so the audit and the funnel cannot drift.
    */
  private def gateVerdictCtesSql(minCount: Long, maxEntries: Int): String =
    s"""bq AS (
       |  SELECT doc_id,
       |    (${qualitySql("text")}) >= CAST($QUALITY_MIN AS DOUBLE) AS pq
       |  FROM documents WHERE $defaultBatchCondSql),
       |gsh AS (${shinglesSqlFrom("documents")}),
       |gbsh AS (SELECT doc_id, s FROM gsh WHERE $defaultBatchCondSql),
       |gcsh AS (SELECT DISTINCT s FROM gsh WHERE NOT ($defaultBatchCondSql)),
       |gnt AS (SELECT doc_id, COUNT(*) AS n FROM gbsh GROUP BY 1),
       |gnn AS (
       |  SELECT doc_id, COUNT(*) AS nn FROM gbsh
       |  WHERE NOT EXISTS (SELECT 1 FROM gcsh WHERE gcsh.s = gbsh.s)
       |  GROUP BY 1),
       |gnov AS (
       |  SELECT t.doc_id,
       |    (CAST(COALESCE(nn, 0) AS BIGINT) * 1000000) // n >= $NOVELTY_MIN AS pn
       |  FROM gnt t LEFT JOIN gnn USING (doc_id)),
       |gd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |gt AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS i FROM gd),
       |gbi AS (
       |  SELECT x.doc_id, x.tok AS a, y.tok AS b
       |  FROM gt x JOIN gt y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
       |gcab AS (
       |  SELECT a, b, COUNT(*) AS cab FROM gbi
       |  WHERE NOT ($defaultBatchCondSql) GROUP BY a, b),
       |gca AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM gcab GROUP BY a),
       |gkept AS (
       |  SELECT a, b, cab FROM gcab JOIN gca USING (a)
       |  WHERE cab >= $minCount
       |  QUALIFY ROW_NUMBER() OVER (
       |    ORDER BY cab DESC, ca DESC, a, b) <= $maxEntries),
       |gfl AS (
       |  SELECT gbi.doc_id,
       |    (COUNT(gkept.cab) = 0 OR
       |     CAST(SUM(COALESCE(CAST(CAST(gkept.cab AS HUGEINT) * 1000000 // gca.ca AS BIGINT), 0)) AS BIGINT)
       |       // COUNT(*) >= $FLUENCY_MIN) AS pf
       |  FROM gbi LEFT JOIN gkept USING (a, b) LEFT JOIN gca USING (a)
       |  WHERE $defaultBatchCondSql
       |  GROUP BY gbi.doc_id),
       |gqm AS (
       |  SELECT doc_id,
       |    CAST(floor((${qualitySql("text")}) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qm
       |  FROM documents),
       |gmvl AS (
       |  SELECT vec_id, pos,
       |    CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS mv
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS pos FROM embeddings)),
       |gsc AS (
       |  SELECT v.pos,
       |    CAST(floor(CAST(CAST(SUM(v.mv) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |  FROM gmvl v JOIN gqm q ON v.vec_id = q.doc_id
       |  WHERE NOT (q.doc_id % 10 = 7) AND q.qm >= $EMBED_QUALITY_SEED_MIN
       |  GROUP BY v.pos),
       |gnb AS (SELECT CAST(SUM(c * c) AS BIGINT) AS bb FROM gsc),
       |gdot AS (
       |  SELECT v.vec_id AS doc_id,
       |    CAST(SUM(v.mv * s.c) AS BIGINT) AS ab,
       |    CAST(SUM(v.mv * v.mv) AS BIGINT) AS aa
       |  FROM gmvl v JOIN gsc s ON v.pos = s.pos
       |  WHERE v.vec_id % 10 = 7
       |  GROUP BY v.vec_id),
       |gqd AS (
       |  SELECT d.doc_id,
       |    (d.aa = 0 OR nb.bb = 0 OR
       |     CAST(floor(CAST(d.ab AS DOUBLE) * CAST(1000000 AS DOUBLE)
       |       / (sqrt(CAST(d.aa AS DOUBLE)) * sqrt(CAST(nb.bb AS DOUBLE)))) AS BIGINT)
       |       >= $QUALITY_DIR_MIN) AS pd
       |  FROM gdot d, gnb nb),
       |gv AS (
       |  SELECT bq.doc_id, bq.pq,
       |    COALESCE(gnov.pn, TRUE) AS pn,
       |    COALESCE(gfl.pf, TRUE) AS pf,
       |    COALESCE(gqd.pd, TRUE) AS pd
       |  FROM bq LEFT JOIN gnov USING (doc_id)
       |    LEFT JOIN gfl USING (doc_id)
       |    LEFT JOIN gqd USING (doc_id))""".stripMargin

  def gateBatterySql(minCount: Long, maxEntries: Int): String =
    s"""WITH ${gateVerdictCtesSql(minCount, maxEntries)},
       |ga AS (
       |  SELECT COUNT(*) AS n_batch,
       |    SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS c_quality,
       |    SUM(CASE WHEN pn THEN 1 ELSE 0 END) AS c_novelty,
       |    SUM(CASE WHEN pf THEN 1 ELSE 0 END) AS c_fluency,
       |    SUM(CASE WHEN pd THEN 1 ELSE 0 END) AS c_qdir,
       |    SUM(CASE WHEN pq AND pn AND pf AND pd THEN 1 ELSE 0 END) AS c_all
       |  FROM gv)
       |SELECT gate, CAST(n_batch AS BIGINT) AS n_batch,
       |  CAST(n_pass AS BIGINT) AS n_pass,
       |  CAST(n_batch - n_pass AS BIGINT) AS n_drop,
       |  CAST((n_batch - n_pass) * 1000000 // n_batch AS BIGINT) AS drop_ppm
       |FROM (
       |  SELECT 'battery' AS gate, n_batch, c_all AS n_pass FROM ga
       |  UNION ALL SELECT 'fluency', n_batch, c_fluency FROM ga
       |  UNION ALL SELECT 'novelty', n_batch, c_novelty FROM ga
       |  UNION ALL SELECT 'qdir', n_batch, c_qdir FROM ga
       |  UNION ALL SELECT 'quality', n_batch, c_quality FROM ga)
       |ORDER BY gate""".stripMargin

  lazy val embedQualitySql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(floor((${qualitySql("text")}) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qm
       |  FROM documents),
       |emvl AS (
       |  SELECT vec_id, pos,
       |    CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS mv
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS pos FROM embeddings)),
       |sc AS (
       |  SELECT v.pos,
       |    CAST(floor(CAST(CAST(SUM(v.mv) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |  FROM emvl v JOIN q ON v.vec_id = q.doc_id
       |  WHERE q.qm >= $EMBED_QUALITY_SEED_MIN
       |  GROUP BY v.pos),
       |nb AS (SELECT CAST(SUM(c * c) AS BIGINT) AS bb FROM sc),
       |d AS (
       |  SELECT v.vec_id AS doc_id,
       |    CAST(SUM(v.mv * s.c) AS BIGINT) AS ab,
       |    CAST(SUM(v.mv * v.mv) AS BIGINT) AS aa
       |  FROM emvl v JOIN sc s ON v.pos = s.pos
       |  GROUP BY v.vec_id)
       |SELECT q.doc_id, q.qm, q.qm >= $EMBED_QUALITY_SEED_MIN AS is_seed,
       |  CASE WHEN d.aa = 0 OR nb.bb = 0 THEN NULL
       |    ELSE CAST(floor(CAST(d.ab AS DOUBLE) * CAST(1000000 AS DOUBLE)
       |      / (sqrt(CAST(d.aa AS DOUBLE)) * sqrt(CAST(nb.bb AS DOUBLE)))) AS BIGINT)
       |  END AS cos_ppm
       |FROM q JOIN d USING (doc_id), nb
       |ORDER BY doc_id""".stripMargin

  /** Full-[[DIM]] cell centroids in micro-units — shared by
    * [[embedOutliers]] and [[annIvfNprobe]] (same floor(mean)
    * integers as the PQ codebook, assembled at full width).
    */
  private def cellCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    microDimSums(s, dir)
      .select($"label", $"pos0",
        floor($"sm".cast("double") / $"n").cast("long").as("c"))
      .groupBy($"label")
      .agg(collect_list(struct($"pos0", $"c")).as("pc"))
      .select($"label",
        transform(sort_array($"pc"), x => x.getField("c")).as("cvec"))
  }

  /** DuckDB twin of [[cellCentroids]] (reads the `dims` CTE from
    * [[microDimsCtesSql]]).
    */
  private val cellCentroidsCteSql: String =
    """cent AS (
      |  SELECT label,
      |    list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS cvec
      |  FROM dims GROUP BY label)""".stripMargin

  /** Σ (a_j − b_j)² over [[DIM]] micro-unit components, as oracle SQL. */
  private def l2MicroSql(a: String, b: String): String =
    (1 to DIM).map(j =>
        s"(list_extract($a, $j) - list_extract($b, $j)) * (list_extract($a, $j) - list_extract($b, $j))")
      .reduce((x, y) => s"$x + $y")

  /** Embedding outlier report: the 20 vectors farthest (squared L2,
    * exact micro²-units) from their own label cell's centroid — the
    * mislabeled/noise sweep a curation pipeline runs over a clustered
    * embedding table before trusting the cells for IVF probing or
    * [[pqCodes]]. Centroids are the same floor(mean) integers as the
    * PQ codebook, here at full [[DIM]]; cells × 1 rows broadcast to
    * one corpus pass, TakeOrderedAndProject moves 20 rows off the
    * executors.
    */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = cellCentroids(s, dir)
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", microVec(s, $"embedding").as("mvec"))
      .join(broadcast(cents), "label")
      .select($"vec_id", $"label", pqDist2(s, $"mvec", $"cvec").as("dist_micro2"))
      .orderBy($"dist_micro2".desc, $"vec_id")
      .limit(20)
  }

  val embedOutliersSql: String =
    s"""WITH $microDimsCtesSql,
       |$cellCentroidsCteSql
       |SELECT vec_id, label, CAST(${l2MicroSql("mvec", "cvec")} AS BIGINT) AS dist_micro2
       |FROM mv JOIN cent USING (label)
       |ORDER BY dist_micro2 DESC, vec_id LIMIT 20""".stripMargin

  /** How many cells a multi-probe IVF query visits — FAISS's `nprobe`
    * knob, the standard recall/cost dial for cell-blocked ANN.
    */
  private val IVF_NPROBE = 3

  /** IVF ANN probing the [[IVF_NPROBE]] cells whose centroids sit
    * closest to the query (exact micro² L2, ties to the smaller
    * label) — the recall fix for [[annIvf]]'s one-cell probe, same
    * as multi-probing fixes [[annLsh]]. Cell ranking happens on the
    * driver over collected index metadata (cells × 1 centroid rows,
    * corpus-size-independent — the [[annPq]] pattern); the corpus
    * scan then touches only the probed cells' rows and the top-k is
    * a TakeOrderedAndProject. The corpus read goes through the
    * [[ensureIvfLayout]] cell-partitioned layout, so the probe is an
    * [[IVF_NPROBE]]-directory scan (PartitionFilters, plan-asserted
    * in PlanSpec) — at 100 TB the scan lists and touches only the
    * probed cells' files, never the corpus.
    */
  def annIvfNprobe(s: SparkSession, dir: String): DataFrame =
    annIvfNprobeFrom(s, dir, learnedCentroids(s, dir), qMicro(s, dir))

  private def annIvfNprobeFrom(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])], qmicro: Seq[Long]): DataFrame = {
    import s.implicits._
    val cells = rankedCells(cents, qmicro).take(IVF_NPROBE)
    val part = ensureIvfLayout(s, dir)
    val e = s.read.parquet(part.toString)
      .select($"vec_id", $"cell".cast("int").as("cell"), $"embedding")
    val q = Tables(s, dir, "embeddings").filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    e.filter($"cell".isin(cells: _*))
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"cell", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  lazy val annIvfNprobeSql: String =
    s"""WITH $learnedCellsCteSql,
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT cell, row_number() OVER (ORDER BY d2, cell) AS rn FROM qd3)
       |  WHERE rn <= $IVF_NPROBE)
       |SELECT e.vec_id, c.cell, ${cosineSql("e.embedding", "qv")} AS cos
       |FROM embeddings e JOIN lcells c ON e.vec_id = c.vec_id
       |  JOIN probe USING (cell),
       |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id
       |LIMIT 10""".stripMargin

  /** ADC-ranked candidates the composed IVF-PQ probe re-ranks exactly
    * — FAISS's default re-rank pool shape (a small multiple of k).
    */
  private val IVFPQ_POOL = 30

  /** Composed IVF-PQ probe (`x_ann_ivfpq`) — the production FAISS
    * index shape, assembled from the pieces this engine already
    * ships separately: probe the [[IVF_NPROBE]] centroid-closest
    * LEARNED cells ([[annIvfNprobe]]'s driver-ranked metadata +
    * cell-partition-pruned scan), rank the probed cells' members by
    * PQ ASYMMETRIC distance ([[annPq]]'s query-to-codebook lookup
    * table over the subspace argmin codes), keep the
    * [[IVFPQ_POOL]]-best by (ADC, vec_id), and EXACT-re-rank that
    * pool by true cosine for the final top-10. This is the memory ×
    * recall × cost point a deployed ANN system actually runs: the
    * corpus is touched only inside the probed cells, the ranking
    * reads 8 bytes of code per candidate instead of 256 bytes of
    * floats, and full-precision vectors are fetched for exactly
    * [[IVFPQ_POOL]] rows.
    *
    * Scale shape: codebook + query table are cells×[[PQ_M]]
    * driver-built index metadata (corpus-size-independent, the
    * adjudicated [[annPq]] pattern); the candidate scan is an
    * [[IVF_NPROBE]]-directory pruned read of [[ensureIvfLayout]];
    * ADC is a map-side subspace explode behind two broadcasts with
    * map-side partial argmins; the pool cut is a
    * TakeOrderedAndProject (30 rows leave the executors) and the
    * re-rank joins those 30 back as a broadcast. Exact integer
    * micro² distances with (dist, cell) tie-breaks — both engines
    * derive identical codes, pools, and final ranks.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val cents = learnedCentroids(s, dir)
    annIvfPqFrom(s, dir, cents, qMicro(s, dir), pqCodebookRows(s, dir, cents))
  }

  private def annIvfPqFrom(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])], qmicro: Seq[Long],
      cb: Array[(Int, Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    val cells = rankedCells(cents, qmicro).take(IVF_NPROBE)
    val qtab = cb.map { case (cell, m, cvec) =>
      val qd = (0 until PQ_SUB).map { j =>
        val diff = qmicro(m * PQ_SUB + j) - cvec(j); diff * diff
      }.sum
      (m, cell, qd)
    }.toSeq.toDF("m", "cell", "qd")
    val cbDf = cb.toSeq.toDF("cell", "m", "cvec")
    val part = ensureIvfLayout(s, dir)
    val cand = s.read.parquet(part.toString)
      .select($"vec_id", $"cell".cast("int").as("ivf_cell"), $"embedding")
      .filter($"ivf_cell".isin(cells: _*) && $"vec_id" =!= 0)
    val pool = cand
      .select($"vec_id", microVec(s, $"embedding").as("mvec"))
      .select($"vec_id",
        explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), $"mvec")
      .select($"vec_id", $"m",
        slice($"mvec", $"m" * PQ_SUB + 1, lit(PQ_SUB)).as("svec"))
      .join(broadcast(cbDf), "m")
      .withColumn("dist2", pqDist2(s, $"svec", $"cvec"))
      .join(broadcast(qtab), Seq("m", "cell"))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"dist2", $"cell", $"qd")).as("best"))
      .groupBy($"vec_id")
      .agg(sum($"best".getField("qd")).as("adc_micro2"))
      .orderBy($"adc_micro2", $"vec_id")
      .limit(IVFPQ_POOL)
    val q = Tables(s, dir, "embeddings").filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      .join(broadcast(pool), "vec_id")
      .crossJoin(broadcast(q))
      .select($"vec_id", $"adc_micro2", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** DuckDB twin: the identical composition over the shared Lloyd /
    * codebook CTE chains — probe ranking from `qd3`, ADC from the
    * `dist`×`qtab` argmin restricted to probed-cell members, the same
    * (ADC, vec_id) pool cut, exact cosine re-rank.
    */
  lazy val annIvfPqSql: String =
    s"""WITH $pqCtesSql,
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT cell, row_number() OVER (ORDER BY d2, cell) AS rn FROM qd3)
       |  WHERE rn <= $IVF_NPROBE),
       |q AS (SELECT m, svec AS qvec FROM sub WHERE vec_id = 0),
       |qtab AS (
       |  SELECT cb.m, cb.cell, ${pqDist2Sql("qvec", "cvec")} AS qd
       |  FROM cb JOIN q ON cb.m = q.m),
       |candv AS (
       |  SELECT c.vec_id FROM lcells c JOIN probe USING (cell)
       |  WHERE c.vec_id <> 0),
       |best AS (
       |  SELECT vec_id, m, qd FROM (
       |    SELECT d.vec_id, d.m, d.cell, qt.qd, row_number() OVER (
       |      PARTITION BY d.vec_id, d.m ORDER BY d.dist2, d.cell) AS rn
       |    FROM dist d JOIN qtab qt ON d.m = qt.m AND d.cell = qt.cell
       |    JOIN candv cv ON d.vec_id = cv.vec_id)
       |  WHERE rn = 1),
       |pool AS (
       |  SELECT vec_id, CAST(SUM(qd) AS BIGINT) AS adc_micro2
       |  FROM best GROUP BY vec_id
       |  ORDER BY adc_micro2, vec_id LIMIT $IVFPQ_POOL)
       |SELECT p.vec_id, p.adc_micro2, ${cosineSql("e.embedding", "qv")} AS cos
       |FROM pool p JOIN embeddings e ON p.vec_id = e.vec_id,
       |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |ORDER BY cos DESC, p.vec_id
       |LIMIT 10""".stripMargin

  /** Incremental ANN — the vector-side freshness contract, the twin
    * of [[bm25Incr]]'s stale-stats retrieval and the operator that
    * closes the loop [[ivfDrift]]/[[ivfRecluster]] maintain: a daily
    * vector batch must be SEARCHABLE immediately, but the coarse
    * quantizer (the per-cell centroids) stays at yesterday's
    * compaction — re-deriving centroids per batch is exactly the
    * rebuild cost the incremental path avoids, and is what the drift
    * monitor schedules when it matters. So: centroids come from the
    * BASE slice only, each batch vector is assigned to its
    * argmin-L2² STALE centroid on arrival (FAISS `add` semantics —
    * the stored assignment, not a recluster), the query probes its
    * stale-argmin cell, and candidates are base members by stored
    * label ∪ batch members by fresh assignment, with `is_batch`
    * marking fresh hits. Centroid ranking for the probe happens on
    * the driver over collected cells×1 index metadata (the
    * [[annIvfNprobe]] pattern); the batch assignment is one map pass
    * behind a broadcast (cells never shuffle the corpus); exact
    * micro² integer distances with ties to the smaller cell, so both
    * engines derive the identical assignment. The oracle re-derives
    * the same stale centroids from the base slice — the hash match
    * pins the staleness semantics exactly.
    */
  def annIncr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
    val mv = e.select($"vec_id", $"label", microVec(s, $"embedding").as("mvec"))
    // yesterday's quantizer: centroids over the BASE slice only
    val cents = mv.filter(!isBatchId($"vec_id"))
      .select($"label", posexplode($"mvec").as(Seq("pos0", "v")))
      .groupBy($"label", $"pos0")
      .agg(sum($"v").as("sm"), count(lit(1)).as("n"))
      .select($"label", $"pos0",
        floor($"sm".cast("double") / $"n").cast("long").as("c"))
      .groupBy($"label")
      .agg(collect_list(struct($"pos0", $"c")).as("pc"))
      .select($"label".as("cell"),
        transform(sort_array($"pc"), x => x.getField("c")).as("cvec"))
      .localCheckpoint()
    // probe cell: the query's argmin over collected cells×1 metadata
    val centRows = cents.collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
    val qmicro = e.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(v => math.floor(v.toDouble * 1000000.0d).toLong)
    val probe = centRows.map { case (cell, cvec) =>
        val d2 = qmicro.indices.map { j =>
          val d = qmicro(j) - cvec(j); d * d
        }.sum
        (d2, cell)
      }.min._2
    // fresh arrivals: argmin-L2² against the broadcast stale centroids
    // (ties to the smaller cell via the min-struct pattern)
    val assigned = mv.filter(isBatchId($"vec_id"))
      .crossJoin(broadcast(cents))
      .select($"vec_id",
        struct(pqDist2(s, $"mvec", $"cvec").as("d2"), $"cell").as("dc"))
      .groupBy($"vec_id").agg(min($"dc").as("m"))
      .select($"vec_id", $"m.cell".as("cell"))
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val baseCand = e
      .filter(!isBatchId($"vec_id") && $"label" === probe && $"vec_id" =!= 0)
      .select($"vec_id", $"embedding")
    val batchCand = assigned.filter($"cell" === probe)
      .join(e.select($"vec_id", $"embedding"), "vec_id")
      .select($"vec_id", $"embedding")
    baseCand.union(batchCand)
      .crossJoin(broadcast(q))
      .select($"vec_id", cosine(s, $"embedding", $"qv").as("cos"),
        isBatchId($"vec_id").as("is_batch"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val annIncrSql: String =
    s"""WITH mv AS (
       |  SELECT vec_id, label, $microVecSql AS mvec
       |  FROM embeddings),
       |bdims AS (
       |  SELECT label, pos, CAST(SUM(v) AS BIGINT) AS sm, COUNT(*) AS n FROM (
       |    SELECT label, unnest(mvec) AS v, generate_subscripts(mvec, 1) AS pos
       |    FROM mv WHERE vec_id % 10 <> 7)
       |  GROUP BY label, pos),
       |cent AS (
       |  SELECT label AS cell,
       |    list(CAST(floor(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY pos) AS cvec
       |  FROM bdims GROUP BY label),
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT cent.cell, row_number() OVER (
       |      ORDER BY ${l2MicroSql("qm", "cvec")}, cent.cell) AS rn
       |    FROM cent, (SELECT mvec AS qm FROM mv WHERE vec_id = 0))
       |  WHERE rn = 1),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT mv.vec_id, cent.cell, row_number() OVER (
       |      PARTITION BY mv.vec_id
       |      ORDER BY ${l2MicroSql("mvec", "cvec")}, cent.cell) AS rn
       |    FROM mv, cent WHERE mv.vec_id % 10 = 7)
       |  WHERE rn = 1),
       |cand AS (
       |  SELECT mv.vec_id FROM mv JOIN probe ON mv.label = probe.cell
       |  WHERE mv.vec_id % 10 <> 7 AND mv.vec_id <> 0
       |  UNION ALL
       |  SELECT a.vec_id FROM assign a JOIN probe ON a.cell = probe.cell)
       |SELECT e.vec_id, ${cosineSql("embedding", "qv")} AS cos,
       |  e.vec_id % 10 = 7 AS is_batch
       |FROM embeddings e JOIN cand USING (vec_id),
       |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** One k-means Lloyd iteration over the embedding corpus, seeded by
    * the label-cell centroids ([[cellCentroids]] is iteration 0's
    * M-step): every vector reassigns to its argmin-L2² centroid
    * (exact micro² ints, ties to the smaller label — the [[pqCodes]]
    * `min(struct(dist, label))` pattern), then centroids recompute as
    * floor(mean) over the new members. This is the refinement loop
    * that turns the trusted `label` column into actual clustering for
    * [[annIvf]]'s cells; one deterministic round is the
    * oracle-checkable unit, and a pipeline iterates it to a fixpoint.
    * Output is the new codebook — (label, pos, c, n), ≤ cells ×
    * [[DIM]] rows regardless of corpus size (a cell that attracts no
    * members disappears, as in Lloyd's). The E-step is a broadcast
    * nested-loop over cells×1 centroid rows fused into the corpus
    * scan; map-side partial aggregation collapses the ×cells fan-out
    * back to one row per vector before the only corpus-keyed shuffle;
    * the M-step shuffle is keyed on cells × dims.
    */
  /** The Lloyd E-step — (vec_id, old_label, label, mvec) after
    * argmin-L2² reassignment — shared by [[kmeansIter]] (M-step
    * consumer) and [[kmeansMoves]] (convergence consumer) so the
    * assignment rule has one definition per engine.
    */
  private def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansAssignFrom(s,
      Tables(s, dir, "embeddings")
        .select($"vec_id", $"label", microVec(s, $"embedding").as("mvec")),
      cellCentroids(s, dir).withColumnRenamed("label", "k"))
  }

  /** The E-step over an explicit (corpus, centroids) pair — the unit
    * [[kmeansConverge]] chains. `corpus` is (vec_id, label, mvec)
    * where `label` is the CURRENT assignment (it becomes `old_label`
    * in the output); `cents` is (k, cvec). Plan per round: centroids
    * broadcast into the corpus scan, map-side partial argmin collapses
    * the ×cells fan-out before the one vec_id-keyed exchange.
    */
  private def kmeansAssignFrom(
      s: SparkSession, corpus: DataFrame, cents: DataFrame): DataFrame = {
    import s.implicits._
    corpus.select($"vec_id", $"label".as("old_label"), $"mvec")
      .crossJoin(broadcast(cents))
      .groupBy($"vec_id")
      .agg(min(struct(pqDist2(s, $"mvec", $"cvec").as("d2"), $"k")).as("best"),
        first($"old_label").as("old_label"), first($"mvec").as("mvec"))
      .select($"vec_id", $"old_label", $"best.k".as("label"), $"mvec")
  }

  /** The M-step over an assignment — floor(mean) micro-unit centroids
    * reassembled to (k, cvec), the same integers [[cellCentroids]]
    * produces for the label column. Shuffle key count is cells × dims.
    */
  private def centroidsFromAssign(s: SparkSession, assign: DataFrame): DataFrame = {
    import s.implicits._
    assign.select($"label", posexplode($"mvec").as(Seq("pos0", "mv")))
      .groupBy($"label", $"pos0")
      .agg(sum($"mv").as("sm"), count(lit(1)).as("n"))
      .select($"label", $"pos0",
        floor($"sm".cast("double") / $"n").cast("long").as("c"))
      .groupBy($"label")
      .agg(collect_list(struct($"pos0", $"c")).as("pc"))
      .select($"label".as("k"),
        transform(sort_array($"pc"), x => x.getField("c")).as("cvec"))
  }

  /** Lloyd's algorithm run to a fixed horizon — the fixpoint loop a
    * real pipeline iterates, reported as per-round moved-vector
    * counts (the convergence curve an operator watches go to zero
    * before freezing the [[annIvf]] cells): three chained
    * E-step/M-step rounds seeded by the label-cell centroids, each
    * row (round, n_moved, n_total). Three rounds is the
    * oracle-checkable deterministic unit; the round count is a
    * horizon, not a convergence test, so the query shape is identical
    * at any corpus size. Plan: every round is the same broadcast
    * E-step ([[kmeansAssignFrom]]) — centroids are cells×1 index
    * metadata recomputed in-plan and broadcast, never a corpus-sized
    * shuffle — and Spark's exchange reuse dedups the shared
    * round-(r-1) subtree between round r's corpus and centroid
    * inputs. (At 100 TB a pipeline materializes each round's
    * assignment to storage between iterations — the
    * [[ensureEdgeGraph]] amortization pattern — which this query
    * deliberately does NOT do, so the measured cost is the honest
    * three-round recompute.)
    */
  def kmeansConverge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var cents = cellCentroids(s, dir).withColumnRenamed("label", "k")
    var corpus = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label", microVec(s, $"embedding").as("mvec"))
    val reports = (1 to 3).map { r =>
      val assign = kmeansAssignFrom(s, corpus, cents)
      val report = assign.agg(
          sum(when($"label" =!= $"old_label", 1L).otherwise(0L)).as("n_moved"),
          count(lit(1)).as("n_total"))
        .select(lit(r).as("round"), $"n_moved", $"n_total")
      cents = centroidsFromAssign(s, assign)
      corpus = assign.select($"vec_id", $"label", $"mvec")
      report
    }
    reports.reduce(_ union _).orderBy($"round")
  }

  /** One assign CTE: `src` (vec_id, label, mvec — label is the current
    * assignment) × `cent` (label, cvec) → `out` (vec_id, old_label,
    * label, mvec). The single definition of the oracle's E-step,
    * instantiated per round by [[kmeansConvergeSql]] and once as
    * `assign` for [[kmeansIterSql]]/[[kmeansMovesSql]].
    */
  private def kmeansAssignSqlFrom(src: String, cent: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, old_label, mvec, k AS label FROM (
       |    SELECT s.vec_id, s.label AS old_label, s.mvec, c.label AS k,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${l2MicroSql("s.mvec", "c.cvec")}, c.label) AS rn
       |    FROM $src s, $cent c)
       |  WHERE rn = 1)""".stripMargin

  /** The converge oracle works in LONG form — (vec_id, pos, mv) rows,
    * never per-round micro-vector LISTS: a 3-round chain of
    * list-materializing CTEs (the [[kmeansAssignCteSql]] shape ×3)
    * empirically exhausts DuckDB's block allocator mid-connection and
    * poisons UNRELATED queries run after it ("failed to allocate
    * 16384 bytes" with RSS at 1.3 GB on a 100 GiB limit). Distance is
    * Σ(v−c)² grouped over (vec_id, k) — integer sums are
    * order-independent, so long form is bit-identical to the list
    * fold, just allocator-friendly.
    */
  /** The three-round Lloyd chain as oracle CTEs — `mvl` (long-form
    * micro vectors), `c0` (label-seeded centroids), `d1..d3`
    * (per-round distance tables), `a1..a3` (E-steps), `c1`/`c2`
    * (M-steps) — ONE definition of the training chain, shared by
    * [[kmeansConvergeSql]] (the convergence report) and
    * [[learnedCellsCteSql]] (the learned-quantizer oracle every
    * IVF/PQ query re-derives), so the quantizer the retrieval oracles
    * use cannot drift from the training operator's.
    *
    * Null contract: embeddings with null ELEMENTS are outside this
    * oracle's parity contract (the engine's MicroVec nulls the whole
    * vector, which then cannot carry an E-step assignment; the
    * long-form unnest below would instead null single positions).
    * Fixtures carry none — [[microVecSql]]'s guard documents the
    * aligned behavior for the single-pass micro-unit oracles, and a
    * corpus with corrupt vectors must drop them upstream before any
    * multi-round pipeline.
    */
  private lazy val lloydChainCtesSql: String = {
    def dist(cent: String, out: String): String =
      s"""$out AS (
         |  SELECT v.vec_id, c.label AS k,
         |    CAST(SUM((v.mv - c.c) * (v.mv - c.c)) AS BIGINT) AS d2
         |  FROM mvl v JOIN $cent c ON v.pos = c.pos
         |  GROUP BY v.vec_id, c.label)""".stripMargin
    def assign(distT: String, prev: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, old_label, label FROM (
         |    SELECT p.vec_id, p.label AS old_label, d.k AS label,
         |      row_number() OVER (PARTITION BY p.vec_id ORDER BY d.d2, d.k) AS rn
         |    FROM $prev p JOIN $distT d ON p.vec_id = d.vec_id)
         |  WHERE rn = 1)""".stripMargin
    def cent(assignT: String, out: String): String =
      s"""$out AS (
         |  SELECT a.label, v.pos,
         |    CAST(floor(CAST(CAST(SUM(v.mv) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |  FROM mvl v JOIN $assignT a USING (vec_id)
         |  GROUP BY a.label, v.pos)""".stripMargin
    s"""mvl AS (
       |  SELECT vec_id, pos,
       |    CAST(floor(CAST(v AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS mv
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS pos FROM embeddings)),
       |c0 AS (
       |  SELECT e.label, v.pos,
       |    CAST(floor(CAST(CAST(SUM(v.mv) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |  FROM mvl v JOIN embeddings e USING (vec_id)
       |  GROUP BY e.label, v.pos),
       |p0 AS (SELECT vec_id, label FROM embeddings),
       |${dist("c0", "d1")},
       |${assign("d1", "p0", "a1")},
       |${cent("a1", "c1")},
       |${dist("c1", "d2")},
       |${assign("d2", "a1", "a2")},
       |${cent("a2", "c2")},
       |${dist("c2", "d3")},
       |${assign("d3", "a2", "a3")}""".stripMargin
  }

  /** The learned coarse quantizer as oracle CTEs: the chain plus
    * `lcells` (vec_id → learned cell, round 3's assignment — what
    * [[learnedCellCol]] computes in-plan) and `qd3` (the query
    * vector's distance to every refined centroid — what the
    * driver-side probe ranking computes from collected metadata).
    */
  private lazy val learnedCellsCteSql: String =
    s"""$lloydChainCtesSql,
       |lcells AS (SELECT vec_id, label AS cell FROM a3),
       |qd3 AS (SELECT k AS cell, d2 FROM d3 WHERE vec_id = 0)""".stripMargin

  lazy val kmeansConvergeSql: String = {
    def moved(src: String, r: Int): String =
      s"SELECT $r AS round, COUNT(*) FILTER (WHERE label <> old_label) AS n_moved, " +
        s"COUNT(*) AS n_total FROM $src"
    s"""WITH $lloydChainCtesSql
       |SELECT * FROM (
       |  ${moved("a1", 1)}
       |  UNION ALL ${moved("a2", 2)}
       |  UNION ALL ${moved("a3", 3)})
       |ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[kmeansAssign]], as a CTE (reads `mv` and `cent`
    * from [[microDimsCtesSql]] / [[cellCentroidsCteSql]]; one
    * instantiation of the shared [[kmeansAssignSqlFrom]] E-step).
    */
  private val kmeansAssignCteSql: String =
    kmeansAssignSqlFrom("mv", "cent", "assign")

  def kmeansIter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansAssign(s, dir)
      .select($"label", posexplode($"mvec").as(Seq("pos", "mv")))
      .groupBy($"label", $"pos")
      .agg(sum($"mv").as("sm"), count(lit(1)).as("n"))
      .select($"label", $"pos",
        floor($"sm".cast("double") / $"n").cast("long").as("c"), $"n")
      .orderBy($"label", $"pos")
  }

  val kmeansIterSql: String =
    s"""WITH $microDimsCtesSql,
       |$cellCentroidsCteSql,
       |$kmeansAssignCteSql
       |SELECT label, pos - 1 AS pos,
       |  CAST(floor(CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c,
       |  COUNT(*) AS n
       |FROM (SELECT label, unnest(mvec) AS v,
       |        generate_subscripts(mvec, 1) AS pos FROM assign)
       |GROUP BY label, pos
       |ORDER BY label, pos""".stripMargin

  /** Lloyd convergence report: the old→new assignment transition
    * matrix out of one [[kmeansAssign]] E-step — diagonal rows are
    * vectors that stayed, off-diagonal rows are the movement a
    * pipeline watches go to zero before freezing the [[annIvf]]
    * cells. ≤ cells² rows at any corpus size; cost is the E-step plus
    * one bounded-key aggregate.
    */
  def kmeansMoves(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansAssign(s, dir)
      .groupBy($"old_label", $"label")
      .agg(count(lit(1)).as("n"))
      .withColumn("moved", $"old_label" =!= $"label")
      .orderBy($"old_label", $"label")
  }

  val kmeansMovesSql: String =
    s"""WITH $microDimsCtesSql,
       |$cellCentroidsCteSql,
       |$kmeansAssignCteSql
       |SELECT old_label, label, COUNT(*) AS n, old_label <> label AS moved
       |FROM assign GROUP BY 1, 2
       |ORDER BY old_label, label""".stripMargin

  /** Candidate-pool depth per retrieval arm feeding the RRF fusion —
    * each arm contributes its top-POOL ranked list, the fusion
    * re-ranks their union. Constant at any corpus size: the fusion's
    * working set is ≤ 2·POOL rows however big the corpus is.
    */
  private val HYBRID_POOL = 100

  /** RRF rank-smoothing constant (the standard k = 60 from the
    * original reciprocal-rank-fusion formulation).
    */
  private val RRF_K = 60

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
    * probe ([[bm25Scored]] — the [[bm25Search]] scorer, shared so the
    * arms cannot diverge from the operators they fuse) and the IVF
    * vector probe ([[annIvf]]'s cell-probe shape) into one top-10.
    * The shape every retrieval-augmented pipeline ships: lexical
    * precision + semantic recall, combined without score calibration
    * — RRF uses only the RANKS, so the incomparable score scales
    * (integer BM25 micros vs cosine doubles) never meet.
    *
    * Per arm: distributed top-[[HYBRID_POOL]] (TakeOrderedAndProject —
    * per-partition heaps, no global sort), THEN a rank window over
    * the ≤ POOL surviving rows (a bounded single partition — the
    * global window never sees the corpus). Fusion is a union +
    * doc-keyed aggregate over the ≤ 2·POOL pooled rows (NOT an outer
    * join — a full outer can't broadcast and would drag a
    * SortMergeJoin into every audit built on this plan); a doc
    * surfacing in one arm alone keeps NULL for the other rank. The
    * contribution is Σ 1000000 div (k + rank) — pure integer
    * arithmetic, deterministic and cross-engine exact; a missing arm
    * contributes 0. Final top-10 by fused score, ties to the smaller
    * doc_id. Corpus-side cost is exactly the two probes' one-scan
    * plans; everything after is constant-size.
    */
  def hybridRank(s: SparkSession, dir: String): DataFrame =
    hybridRankFrom(s, dir, learnedCentroids(s, dir))

  private def hybridRankFrom(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val lex = bm25Scored(s, dir)
      .orderBy($"score_micro".desc, $"doc_id").limit(HYBRID_POOL)
      .select($"doc_id",
        row_number().over(Window.orderBy($"score_micro".desc, $"doc_id"))
          .cast("long").as("lex_rank"),
        lit(null).cast("long").as("vec_rank"))
    // the vector arm probes the LEARNED cell — annIvf's quantizer, so
    // the fusion's semantic arm is the deployed index's probe shape
    val e = Tables(s, dir, "embeddings")
      .withColumn("cell",
        learnedCellCol(s, microVec(s, $"embedding"), cents))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), $"cell".as("q_cell"))
    val vec = e.join(broadcast(q), $"cell" === $"q_cell")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", cosine(s, $"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(HYBRID_POOL)
      .select($"vec_id".as("doc_id"),
        lit(null).cast("long").as("lex_rank"),
        row_number().over(Window.orderBy($"cos".desc, $"vec_id"))
          .cast("long").as("vec_rank"))
    lex.unionByName(vec)
      .groupBy($"doc_id")
      .agg(max($"lex_rank").as("lex_rank"), max($"vec_rank").as("vec_rank"))
      .select($"doc_id", $"lex_rank", $"vec_rank",
        (coalesce(expr(s"$RRF_MICRO div ($RRF_K + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RRF_MICRO div ($RRF_K + vec_rank)"), lit(0L)))
          .as("rrf_micro"))
      .orderBy($"rrf_micro".desc, $"doc_id")
      .limit(10)
  }

  /** RRF contributions in integer micro-units: 1000000 div (k+rank). */
  private val RRF_MICRO = 1000000L

  /** [[bm25Scored]] cut to the fusion's candidate pool. */
  private val bm25SearchPoolSql: String =
    s"""$bm25ScoredSql
       |ORDER BY score_micro DESC, doc_id
       |LIMIT $HYBRID_POOL""".stripMargin

  lazy val hybridRankSql: String =
    s"""WITH lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM ($bm25SearchPoolSql)),
       |vec AS (
       |  SELECT vec_id AS doc_id, CAST(row_number() OVER (
       |    ORDER BY cos DESC, vec_id) AS BIGINT) AS vec_rank
       |  FROM (
       |    WITH $learnedCellsCteSql
       |    SELECT e.vec_id, ${cosineSql("e.embedding", "qv")} AS cos
       |    FROM embeddings e JOIN lcells c ON e.vec_id = c.vec_id,
       |      (SELECT e2.embedding AS qv, c2.cell AS q_cell
       |       FROM embeddings e2 JOIN lcells c2 ON e2.vec_id = c2.vec_id
       |       WHERE e2.vec_id = 0)
       |    WHERE e.vec_id <> 0 AND c.cell = q_cell
       |    ORDER BY cos DESC, e.vec_id
       |    LIMIT $HYBRID_POOL))
       |SELECT doc_id, lex_rank, vec_rank,
       |  CAST(COALESCE($RRF_MICRO // ($RRF_K + lex_rank), 0)
       |     + COALESCE($RRF_MICRO // ($RRF_K + vec_rank), 0) AS BIGINT)
       |    AS rrf_micro
       |FROM (
       |  SELECT doc_id, MAX(lex_rank) AS lex_rank, MAX(vec_rank) AS vec_rank
       |  FROM (
       |    SELECT doc_id, lex_rank, CAST(NULL AS BIGINT) AS vec_rank FROM lex
       |    UNION ALL
       |    SELECT doc_id, CAST(NULL AS BIGINT), vec_rank FROM vec)
       |  GROUP BY doc_id)
       |ORDER BY rrf_micro DESC, doc_id
       |LIMIT 10""".stripMargin

  /** Recall@10 audit of every ANN variant against the brute-force
    * ground truth ([[simSearch]]) — the eval harness an ANN deployment
    * runs before trusting an index: k returned, true-neighbor hits,
    * recall in percent. Each variant's top-10 is 10 rows, so the joins
    * are broadcast-trivial; the cost is the probes themselves. The
    * `hybrid` row measures what the RRF fusion ([[hybridRank]]) keeps
    * of the pure-cosine truth once the keyword arm shares the vote —
    * the fused list's vector recall is exactly the tradeoff a hybrid
    * deployment signs up for, so it belongs in the standing audit.
    * The `ivfpq` row (round 18) scores the composed [[annIvfPq]]
    * probe, so the production composition's recall sits next to its
    * ivf and pq components' — the number that justifies (or indicts)
    * shipping the composed index.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // collect the shared index metadata ONCE and feed every arm: the
    // quantizer, query vector and PQ codebook are plan CONSTANTS in
    // each probe (each arm's plan is byte-identical to its standalone
    // declared query), but before r22 every arm re-collected its own
    // copy — ~11 serialized driver jobs and their planning gaps, which
    // the attribution profiler read as the recall eval's dominant cost
    // (wall 6.4 s vs 4.2 s of job time at sf0.1).
    val cents = learnedCentroids(s, dir)
    val qmicro = qMicro(s, dir)
    val cb = pqCodebookRows(s, dir, cents)
    val exact = simSearch(s, dir).select($"vec_id", lit(1L).as("hit"))
    val cand = annIvfFrom(s, dir, cents)
      .select($"vec_id", lit("ivf").as("method"))
      .unionByName(annIvfNprobeFrom(s, dir, cents, qmicro)
        .select($"vec_id", lit("ivf_nprobe").as("method")))
      .unionByName(annIvfPqFrom(s, dir, cents, qmicro, cb)
        .select($"vec_id", lit("ivfpq").as("method")))
      .unionByName(annLsh(s, dir).select($"vec_id", lit("lsh").as("method")))
      .unionByName(annLshMultiprobe(s, dir)
        .select($"vec_id", lit("lsh_multiprobe").as("method")))
      .unionByName(annPqFrom(s, dir, cb, qmicro)
        .select($"vec_id", lit("pq").as("method")))
      .unionByName(hybridRankFrom(s, dir, cents)
        .select($"doc_id".as("vec_id"), lit("hybrid").as("method")))
    cand.join(broadcast(exact), Seq("vec_id"), "left")
      .groupBy($"method")
      .agg(count(lit(1)).as("k_returned"),
        sum(coalesce($"hit", lit(0L))).as("hits"))
      .select($"method", $"k_returned", $"hits",
        ($"hits" * 10).as("recall_pct"))
      .orderBy($"method")
  }

  val annRecallSql: String =
    s"""WITH exact AS (SELECT vec_id FROM ($simSearchSql)),
       |cand AS (
       |  SELECT 'ivf' AS method, vec_id FROM ($annIvfSql)
       |  UNION ALL SELECT 'ivf_nprobe', vec_id FROM ($annIvfNprobeSql)
       |  UNION ALL SELECT 'ivfpq', vec_id FROM ($annIvfPqSql)
       |  UNION ALL SELECT 'lsh', vec_id FROM ($annLshSql)
       |  UNION ALL SELECT 'lsh_multiprobe', vec_id FROM ($annLshMultiprobeSql)
       |  UNION ALL SELECT 'pq', vec_id FROM ($annPqSql)
       |  UNION ALL SELECT 'hybrid', doc_id FROM ($hybridRankSql))
       |SELECT method, COUNT(*) AS k_returned,
       |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10 AS BIGINT) AS recall_pct
       |FROM cand c LEFT JOIN exact e ON c.vec_id = e.vec_id
       |GROUP BY method ORDER BY method""".stripMargin

  // ------------------------------------------- planted near-dup recall

  /** Variant doc_ids live PLANT_OFF above their sources — far above
    * any fixture doc_id at any SF, so `id >= PLANT_OFF` cleanly
    * separates variants from originals in every pair set.
    */
  private val PLANT_OFF = 1000000L

  /** Bump when the planting semantics change (rates, mutation shape,
    * selection) — same staleness contract as [[EDGE_FMT_VERSION]].
    */
  private val PLANT_FMT_VERSION = 2 // v2: marker tokens carry the SOURCE doc_id

  /** Token-mutation rate class per source doc: every `rate`-th token
    * is replaced, so the planted edit fraction is 1/rate — {50%, 25%,
    * 12.5%, 6.25%} across the four classes. Rate 2 variants are
    * designed MISSES (almost no shared shingles survive); rate 16
    * variants every family should catch; the middle two trace each
    * family's sensitivity curve.
    */
  private def plantRate(id: Column): Column =
    element_at(array(lit(2L), lit(4L), lit(8L), lit(16L)),
      (pmod(id, lit(4L)) + 1L).cast("int"))

  private val plantRateSqlCase =
    "CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 8 ELSE 16 END"

  /** Plant sources: exact-dedup representatives (a variant of doc A
    * must not also pair with A's byte-copies — that would charge the
    * families with "misses" exact dedup already owns), every fifth
    * rep, at least 8 tokens (shingle-eligible with margin), and the
    * mutation must hit at least one position — an untouched "variant"
    * is an exact duplicate, which the rep-collapsing families are
    * DESIGNED not to see.
    */
  private[graft] def plantedSources(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    repDocsOf(Tables(s, dir, "documents"))
      .select($"doc_id", $"lang", $"source", words($"text").as("w"))
      .withColumn("n", size($"w").cast("long"))
      .filter($"doc_id" % 5 === 2 && $"n" >= 8)
      .withColumn("rate", plantRate($"doc_id"))
      .filter(($"rate" - pmod($"doc_id", $"rate")) % $"rate" < $"n")
  }

  /** Every `rate`-th token (positions where (i + doc_id) % rate = 0,
    * i 0-based) replaced by a marker token unique to (doc, position) —
    * guaranteed out-of-vocabulary, so each mutation genuinely kills
    * the ≤3 shingles that cross it.
    */
  private def mutatedText(w: Column, id: Column, rate: Column): Column =
    concat_ws(" ", transform(w, (t, i) =>
      when(pmod(i.cast("long") + id, rate) === 0,
        concat(lit("zq"), id.cast("string"), lit("x"), i.cast("string")))
        .otherwise(t)))

  /** One-time build of the planted-corpus fixture: the original
    * documents plus one mutated variant per plant source (doc_id +
    * [[PLANT_OFF]]), and — when the corpus has embeddings — the
    * original vectors plus per-variant perturbed copies (every
    * `rate`-th dimension sign-flipped: negation is EXACT in IEEE
    * float, so both engines derive bit-identical variant vectors, and
    * the cosine to the source lands near 1 − 2/rate — rate 2 ≈
    * orthogonal, a designed semantic miss). Deterministic end-to-end:
    * the same corpus is derivable in DuckDB SQL, which is what
    * [[dedupRecallSql]] does.
    */
  def ensurePlantedCorpus(s: SparkSession, dir: String): java.nio.file.Path = {
    val emb = stamp(dir, "embeddings")
    ensureArtifact("graft-planted", dir, "documents",
        s"|v$PLANT_FMT_VERSION|e${emb.getOrElse("none")}") { staging =>
      import s.implicits._
      // the id<OFF / id>=OFF split in every recall consumer is only a
      // partition of the pairs if no fixture doc_id reaches the
      // offset — assert, don't assume (a colliding corpus variant
      // would silently corrupt the eval's cross-pair set)
      val maxId = Tables(s, dir, "documents")
        .agg(max($"doc_id")).as[Long].head()
      require(maxId < PLANT_OFF,
        s"planted corpus: max doc_id $maxId collides with variant offset $PLANT_OFF")
      // rename BEFORE aliasing doc_id: Spark's lateral column alias
      // resolution would otherwise bind the mutation's doc_id to the
      // offset alias in the same select (markers would read
      // zq1000002x6, silently diverging from the oracle's zq2x6)
      val variants = plantedSources(s, dir)
        .select($"doc_id".as("src_id"), $"w", $"rate", $"lang", $"source")
        .select(($"src_id" + PLANT_OFF).as("doc_id"),
          mutatedText($"w", $"src_id", $"rate").as("text"),
          $"lang", $"source")
        .withColumn("n_chars", length($"text").cast("long"))
      Tables(s, dir, "documents").unionByName(variants)
        .write.mode("overwrite")
        .parquet(staging.resolve("documents.parquet").toString)
      if (emb.isDefined) {
        val emb = Tables(s, dir, "embeddings")
        val vemb = emb
          .join(plantedSources(s, dir).select($"doc_id".as("vec_id"), $"rate"),
            "vec_id")
          .select($"vec_id".as("src_id"), $"embedding", $"rate", $"label")
          .select(($"src_id" + PLANT_OFF).as("vec_id"),
            transform($"embedding", (x, i) =>
              when(pmod(i.cast("long") + $"src_id", $"rate") === 0, -x)
                .otherwise(x)).as("embedding"),
            $"label")
        emb.unionByName(vemb)
          .write.mode("overwrite")
          .parquet(staging.resolve("embeddings.parquet").toString)
      }
    }
  }

  /** Ground-truth precision/recall eval for the near-dup edge
    * families — the [[annRecall]] discipline applied to dedup, which
    * otherwise has no measured accuracy story: run each family
    * (exact-Jaccard, banded MinHash, banded SimHash, and — with
    * embeddings — the semantic blocked compare) over the planted
    * corpus and score its pairs against the known plants. Per (family,
    * edit-rate class): planted count, true positives (variant paired
    * with its own source), cross false positives (variant paired with
    * a DIFFERENT original), and exact-ppm recall/precision. Precision
    * is scoped to original×variant pairs — original×original pairs
    * are the corpus's own structure, variant×variant pairs the
    * transitive echo of it, and neither says anything about the
    * plants. A fifth `pipeline` row per rate scores the SHIPPED edge
    * composition ([[ensureEdgeGraph]]'s jaccard ∪ simhash ∪ semantic
    * union — minhash is a standalone operator, not a graph family):
    * the system-level recall the dedup decision actually gets. Every
    * family pipeline runs EXACTLY its production code over the
    * artifact dir ([[ensurePlantedCorpus]]) — the eval can never
    * drift from the operators it audits. Fixture blind spots
    * (df-capped boilerplate shingles, the short-text shingle floor,
    * rep-collapsing) surface here as measured ppm, not prose.
    */
  /** Bump when a family pipeline's PAIR SEMANTICS change (threshold,
    * cap, banding) — the cached cross pairs re-run the families, so a
    * semantic change with an unchanged corpus stamp must invalidate
    * them. Same manual-bump contract as [[EDGE_FMT_VERSION]].
    */
  private val RECALL_FMT_VERSION = 1

  /** One-time run of the four family pipelines over the planted
    * corpus, reduced to the cross (original × variant) pair set the
    * recall scoring consumes — the [[ensureEdgeGraph]] amortization
    * applied to the eval: family pair generation over the plants is a
    * property of the corpus stamp, not of the bench run, and the pair
    * pipelines themselves stay measured as `x_ngram_jaccard` /
    * `x_minhash_lsh` / `x_simhash_pairs` / `x_embed_near_dup`. Keyed
    * on the planted ARTIFACT's dir name (so corpus stamp,
    * [[PLANT_FMT_VERSION]], and the embedding stamp invalidate
    * transitively by construction) plus [[RECALL_FMT_VERSION]].
    */
  def ensureRecallPairs(s: SparkSession, dir: String): java.nio.file.Path = {
    import s.implicits._
    val aPath = ensurePlantedCorpus(s, dir)
    ensureArtifact("graft-recallpairs", dir, "documents",
        s"|r$RECALL_FMT_VERSION|p${aPath.getFileName}") { staging =>
      val adir = aPath.toString
      val hasEmb = java.nio.file.Files.exists(
        java.nio.file.Paths.get(adir, "embeddings.parquet"))
      val famPairs: Seq[(String, DataFrame)] = Seq(
        "jaccard" -> ngramJaccard(s, adir),
        "minhash" -> minhashLsh(s, adir),
        "simhash" -> simhashPairs(s, adir)) ++
        (if (hasEmb) Seq("semantic" -> embedNearDup(s, adir)) else Nil)
      val pairs = famPairs.map { case (f, df) =>
        df.select(lit(f).as("fam"), col("a_id"), col("b_id"))
      }.reduce(_ union _)
      pairs
        .filter($"a_id" < PLANT_OFF && $"b_id" >= PLANT_OFF)
        .select($"fam", $"a_id", ($"b_id" - PLANT_OFF).as("src_id"))
        .coalesce(1) // plant-bounded: a few hundred rows at any SF
        .write.mode("overwrite").parquet(staging.toString)
    }
  }

  def dedupRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = plantedSources(s, dir).select($"doc_id".as("src_id"), $"rate")
    val crossP = s.read.parquet(ensureRecallPairs(s, dir).toString)
    val hasEmb = java.nio.file.Files.exists(java.nio.file.Paths.get(
      ensurePlantedCorpus(s, dir).toString, "embeddings.parquet"))
    val famNames = Seq("jaccard", "minhash", "simhash") ++
      (if (hasEmb) Seq("semantic") else Nil)
    // the SHIPPED composition: the edge families [[ensureEdgeGraph]]
    // actually unions into the dedup decision (jaccard ∪ simhash
    // [∪ semantic] — minhash is a standalone operator, not a graph
    // family). Derived from the pinned cross pairs — the cross filter
    // commutes with the union-distinct, so this equals running the
    // composed pair set through the same scoring
    val crossAll = crossP.union(
      crossP.filter($"fam" =!= "minhash")
        .select($"a_id", $"src_id").distinct()
        .select(lit("pipeline").as("fam"), $"a_id", $"src_id"))
    val scored = crossAll.join(broadcast(planted), "src_id")
      .groupBy($"fam", $"rate")
      .agg(sum(when($"a_id" === $"src_id", 1L).otherwise(0L)).as("caught"),
        sum(when($"a_id" =!= $"src_id", 1L).otherwise(0L)).as("extra"))
    val perRate = planted.groupBy($"rate").agg(count(lit(1)).as("n_planted"))
    val spine = perRate.select(
      explode(array((famNames.map(lit(_)) :+ lit("pipeline")): _*)).as("fam"),
      $"rate", $"n_planted")
    spine.join(scored, Seq("fam", "rate"), "left")
      .select($"fam", $"rate", $"n_planted",
        coalesce($"caught", lit(0L)).as("n_caught"),
        coalesce($"extra", lit(0L)).as("n_extra"))
      .withColumn("recall_ppm", expr("n_caught * 1000000 div n_planted"))
      .withColumn("precision_ppm",
        when($"n_caught" + $"n_extra" === 0, lit(null).cast("long"))
          .otherwise(expr("n_caught * 1000000 div (n_caught + n_extra)")))
      .orderBy($"fam", $"rate")
  }

  /** DuckDB twin: derives the identical planted corpus as CTEs, then
    * instantiates each family's parameterized oracle pipeline over it.
    * Like [[dedupClustersSql]], assumes the corpus has an embedding
    * table (fixtures do; the Scala side degrades to three families
    * without one — same documented asymmetry as the edge-graph
    * consumers).
    */
  val dedupRecallSql: String =
    s"""WITH plant AS (
       |  SELECT * FROM (
       |    SELECT doc_id, string_split(text, ' ') AS w,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
       |      CAST($plantRateSqlCase AS BIGINT) AS rate
       |    FROM ${repsSqlFrom("documents")} r
       |    WHERE doc_id % 5 = 2)
       |  WHERE n >= 8 AND (rate - doc_id % rate) % rate < n),
       |variants AS (
       |  SELECT doc_id AS src_id,
       |    array_to_string(list_transform(range(n), i ->
       |      CASE WHEN (i + doc_id) % rate = 0
       |           THEN 'zq' || doc_id || 'x' || i
       |           ELSE w[i + 1] END), ' ') AS text
       |  FROM plant),
       |aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT src_id + $PLANT_OFF, text FROM variants),
       |aug_emb AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  UNION ALL
       |  SELECT e.vec_id + $PLANT_OFF,
       |    list_transform(range(len(e.embedding)), i ->
       |      CASE WHEN (i + e.vec_id) % p.rate = 0 THEN -e.embedding[i + 1]
       |           ELSE e.embedding[i + 1] END),
       |    e.label
       |  FROM embeddings e JOIN plant p ON e.vec_id = p.doc_id),
       |jac AS (WITH ${ngramPairCountsCtesSqlFrom("aug")}
       |  SELECT a_id, b_id FROM pc WHERE c / (na + nb - c) >= 0.10),
       |mnh AS (WITH ${minhashCandCtesSqlFrom("aug")}
       |  SELECT a_id, b_id FROM inter
       |    JOIN sz na ON a_id = na.doc_id JOIN sz nb ON b_id = nb.doc_id
       |  WHERE c / (na.n + nb.n - c) >= 0.10),
       |sim AS (WITH ${simhashPairsCtesSqlFrom("aug")}
       |  SELECT a_id, b_id FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
       |sem AS (${embedNearDupBodySqlFrom("aug_emb")}),
       |pairs AS (
       |  SELECT 'jaccard' AS fam, a_id, b_id FROM jac
       |  UNION ALL SELECT 'minhash', a_id, b_id FROM mnh
       |  UNION ALL SELECT 'simhash', a_id, b_id FROM sim
       |  UNION ALL SELECT 'semantic', a_id, b_id FROM sem
       |  UNION ALL
       |  SELECT 'pipeline', a_id, b_id FROM (
       |    SELECT a_id, b_id FROM jac UNION
       |    SELECT a_id, b_id FROM sim UNION
       |    SELECT a_id, b_id FROM sem)),
       |crossp AS (
       |  SELECT fam, a_id, b_id - $PLANT_OFF AS src_id FROM pairs
       |  WHERE a_id < $PLANT_OFF AND b_id >= $PLANT_OFF),
       |scored AS (
       |  SELECT fam, p.rate,
       |    COUNT(*) FILTER (WHERE a_id = src_id) AS caught,
       |    COUNT(*) FILTER (WHERE a_id <> src_id) AS extra
       |  FROM crossp c JOIN plant p ON c.src_id = p.doc_id
       |  GROUP BY 1, 2),
       |per_rate AS (SELECT rate, COUNT(*) AS n_planted FROM plant GROUP BY 1),
       |spine AS (
       |  SELECT fam, rate, n_planted
       |  FROM per_rate,
       |       (SELECT unnest(['jaccard', 'minhash', 'semantic', 'simhash',
       |                       'pipeline']) AS fam))
       |SELECT spine.fam, spine.rate, spine.n_planted,
       |  CAST(COALESCE(caught, 0) AS BIGINT) AS n_caught,
       |  CAST(COALESCE(extra, 0) AS BIGINT) AS n_extra,
       |  (CAST(COALESCE(caught, 0) AS BIGINT) * 1000000) // n_planted AS recall_ppm,
       |  CASE WHEN COALESCE(caught, 0) + COALESCE(extra, 0) = 0 THEN NULL
       |       ELSE (CAST(COALESCE(caught, 0) AS BIGINT) * 1000000)
       |            // (COALESCE(caught, 0) + COALESCE(extra, 0)) END AS precision_ppm
       |FROM spine LEFT JOIN scored
       |  ON spine.fam = scored.fam AND spine.rate = scored.rate
       |ORDER BY spine.fam, spine.rate""".stripMargin

  // ---------------------------------------------------------------- maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_exact_dedup"    -> exactDedup _,
    "x_dup_stats"      -> dupStats _,
    "x_incremental_dedup" -> incrementalDedup _,
    "x_incremental_neardup" -> incrementalNearDup _,
    "x_incr_clusters" -> incrClusters _,
    "x_compaction_signal" -> compactionSignal _,
    "x_compaction_run" -> compactionRun _,
    "x_ivf_drift"      -> ivfDrift _,
    "x_ivf_recluster"  -> ivfRecluster _,
    "x_recluster_stats" -> reclusterStats _,
    "x_index_health"   -> indexHealth _,
    "x_dup_spans"      -> dupSpans _,
    "x_span_strip"     -> spanStrip _,
    "x_quality_sweep"  -> qualitySweep _,
    "x_shingle_novelty" -> shingleNovelty _,
    "x_dedup_docs"     -> dedupDocs _,
    "x_contamination"  -> contamination _,
    "x_ngram_jaccard"  -> ngramJaccard _,
    "x_containment"    -> containmentPairs _,
    "x_minhash_lsh"    -> minhashLsh _,
    "x_band_gate"      -> bandGateAudit _,
    "x_band_gate_recall" -> bandGateRecall _,
    "x_edit_verify"    -> editVerify _,
    "x_simhash"        -> simhash _,
    "x_simhash_pairs"  -> simhashPairs _,
    "x_dedup_clusters" -> dedupClusters _,
    "x_dedup_semantic" -> dedupSemantic _,
    "x_dedup_full"     -> dedupFull _,
    "x_cluster_sizes"  -> clusterSizes _,
    "x_lang_id"        -> langId _,
    "x_quality_score"  -> qualityScore _,
    "x_token_count"    -> tokenCount _,
    "x_fingerprint"    -> fingerprint _,
    "x_asof_join"      -> asofJoin _,
    "x_redact"         -> redact _,
    "x_repetition"     -> repetition _,
    "x_rep_strip"      -> repStrip _,
    "x_source_cap"     -> sourceCap _,
    "x_cap_realized"   -> capRealized _,
    "x_epoch_plan"     -> epochPlan _,
    "x_epoch_realized" -> epochRealized _,
    "x_epoch_schedule" -> epochSchedule _,
    "x_contam_strip"   -> contamStrip _,
    "x_cap_gate"       -> capGateAudit _,
    "x_shard_append"   -> shardAppend _,
    "x_ann_ivfpq"      -> annIvfPq _,
    "x_shard_shuffle"  -> shardShuffle _,
    "x_shuffle_stats"  -> shuffleStats _,
    "x_len_percentiles" -> lenPercentiles _,
    "x_hash_sample"    -> hashSample _,
    "x_stratified_sample" -> stratifiedSample _,
    "x_weighted_mix"   -> weightedMix _,
    "x_chunk_windows"  -> chunkWindows _,
    "x_chunk_dedup"    -> chunkDedup _,
    "x_chunk_clean"    -> chunkClean _,
    "x_cdc_chunks"     -> cdcChunks _,
    "x_cdc_dedup"      -> cdcDedup _,
    "x_cdc_resync"     -> cdcResync _,
    "x_cdc_gate"       -> cdcGateAudit _,
    "x_cdc_gate_recall" -> cdcGateRecall _,
    "x_cdc_novelty"    -> cdcNovelty _,
    "x_split_leakage"  -> splitLeakage _,
    "x_split_repair"   -> splitRepair _,
    "x_incr_split_leakage" -> incrSplitLeakage _,
    "x_token_rarity"   -> tokenRarity _,
    "x_top_ngrams"     -> topNgrams _,
    "x_bpe_merges"     -> bpeMerges _,
    "x_bpe_segment"    -> bpeSegment _,
    "x_bpe_drift"      -> bpeDrift _,
    "x_token_sketch"   -> tokenSketch _,
    "x_sessionize"     -> sessionize _,
    "x_session_window" -> sessionWindow _,
    "x_text_stats"     -> textStats _,
    "x_sim_search"     -> simSearch _,
    "x_centroids"      -> centroids _,
    "x_ann_ivf"        -> annIvf _,
    "x_ann_ivf_pruned" -> annIvfPruned _,
    "x_ann_lsh"        -> annLsh _,
    "x_ann_lsh_multiprobe" -> annLshMultiprobe _,
    "x_embed_near_dup" -> embedNearDup _,
    "x_embed_quantize" -> embedQuantize _,
    "x_embed_quality"  -> embedQuality _,
    "x_gate_battery"   -> ((s: SparkSession, d: String) => gateBattery(s, d)),
    "x_gate_chain"     -> gateChainFunnel _,
    "x_quality_calibration" -> qualityCalibration _,
    "x_gate_battery_capped" -> ((s: SparkSession, d: String) =>
      gateBattery(s, d, CAPPED_BATTERY_MIN_COUNT, CAPPED_BATTERY_MAX_ENTRIES)),
    "x_tfidf_terms"    -> tfidfTerms _,
    "x_pq_codes"       -> pqCodes _,
    "x_ann_pq"         -> annPq _,
    "x_ann_recall"     -> annRecall _,
    "x_corpus_export"  -> Export.corpusExport _,
    "x_export_append"  -> Export.exportAppend _,
    "x_stream_export"  -> Export.streamExport _,
    "x_export_stats"   -> Export.exportStats _,
    "x_corpus_manifest" -> corpusManifest _,
    "x_minhash_est"    -> minhashEst _,
    "x_embed_outliers" -> embedOutliers _,
    "x_ann_ivf_nprobe" -> annIvfNprobe _,
    "x_kmeans_iter"    -> kmeansIter _,
    "x_kmeans_moves"   -> kmeansMoves _,
    "x_kmeans_converge" -> kmeansConverge _,
    "x_bm25_search"    -> bm25Search _,
    "x_bm25_batch"     -> bm25Batch _,
    "x_bm25_incr"      -> bm25Incr _,
    "x_hybrid_rank"    -> hybridRank _,
    "x_ann_incr"       -> annIncr _,
    "x_heuristic_filters" -> heuristicFilters _,
    "x_mix_temperature" -> mixTemperature _,
    "x_mix_realized"   -> mixRealized _,
    "x_filter_agreement" -> filterAgreement _,
    "x_rep_quality"    -> repQuality _,
    "x_keep_best"      -> keepBest _,
    "x_keep_best_incr" -> keepBestIncr _,
    "x_bigram_fluency" -> bigramFluency _,
    "x_lang_confusion" -> langConfusion _,
    "x_dup_src_matrix" -> dupSrcMatrix _,
    "x_manifest_stats" -> manifestStats _,
    "x_jaccard_sweep"  -> jaccardSweep _,
    "x_filter_funnel"  -> filterFunnel _,
    "x_shard_plan"     -> shardPlan _,
    "x_shard_stats"    -> shardStats _,
    "x_vocab_growth"   -> vocabGrowth _,
    "x_dedup_recall"   -> dedupRecall _)

  val oracle: Map[String, String] = Map(
    "x_exact_dedup"    -> exactDedupSql,
    "x_dup_stats"      -> dupStatsSql,
    "x_incremental_dedup" -> incrementalDedupSql,
    "x_incremental_neardup" -> incrementalNearDupSql,
    "x_incr_clusters" -> incrClustersSql,
    "x_compaction_signal" -> compactionSignalSql,
    "x_compaction_run" -> compactionRunSql,
    "x_ivf_drift"      -> ivfDriftSql,
    "x_ivf_recluster"  -> ivfReclusterSql,
    "x_recluster_stats" -> reclusterStatsSql,
    "x_index_health"   -> indexHealthSql,
    "x_dup_spans"      -> dupSpansSql,
    "x_span_strip"     -> spanStripSql,
    "x_quality_sweep"  -> qualitySweepSql,
    "x_shingle_novelty" -> shingleNoveltySql,
    "x_dedup_docs"     -> dedupDocsSql,
    "x_contamination"  -> contaminationSql,
    "x_ngram_jaccard"  -> ngramJaccardSql,
    "x_containment"    -> containmentPairsSql,
    "x_minhash_lsh"    -> minhashLshSql,
    "x_band_gate"      -> bandGateAuditSql,
    "x_band_gate_recall" -> bandGateRecallSql,
    "x_edit_verify"    -> editVerifySql,
    "x_simhash"        -> simhashSql,
    "x_simhash_pairs"  -> simhashPairsSql,
    "x_dedup_clusters" -> dedupClustersSql,
    "x_dedup_semantic" -> dedupSemanticSql,
    "x_dedup_full"     -> dedupFullSql,
    "x_cluster_sizes"  -> clusterSizesSql,
    "x_lang_id"        -> langIdSql,
    "x_quality_score"  -> qualityScoreSql,
    "x_token_count"    -> tokenCountSql,
    "x_fingerprint"    -> fingerprintSql,
    "x_asof_join"      -> asofJoinSql,
    "x_redact"         -> redactSql,
    "x_repetition"     -> repetitionSql,
    "x_rep_strip"      -> repStripSql,
    "x_source_cap"     -> sourceCapSql,
    "x_cap_realized"   -> capRealizedSql,
    "x_epoch_plan"     -> epochPlanSql,
    "x_epoch_realized" -> epochRealizedSql,
    "x_epoch_schedule" -> epochScheduleSql,
    "x_contam_strip"   -> contamStripSql,
    "x_cap_gate"       -> capGateSql,
    "x_shard_append"   -> shardAppendSql,
    "x_ann_ivfpq"      -> annIvfPqSql,
    "x_shard_shuffle"  -> shardShuffleSql,
    "x_shuffle_stats"  -> shuffleStatsSql,
    "x_len_percentiles" -> lenPercentilesSql,
    "x_hash_sample"    -> hashSampleSql,
    "x_stratified_sample" -> stratifiedSampleSql,
    "x_weighted_mix"   -> weightedMixSql,
    "x_chunk_windows"  -> chunkWindowsSql,
    "x_chunk_dedup"    -> chunkDedupSql,
    "x_chunk_clean"    -> chunkCleanSql,
    "x_cdc_chunks"     -> cdcChunksSql,
    "x_cdc_dedup"      -> cdcDedupSql,
    "x_cdc_resync"     -> cdcResyncSql,
    "x_cdc_gate"       -> cdcGateSql,
    "x_cdc_gate_recall" -> cdcGateRecallSql,
    "x_cdc_novelty"    -> cdcNoveltySql,
    "x_split_leakage"  -> splitLeakageSql,
    "x_split_repair"   -> splitRepairSql,
    "x_incr_split_leakage" -> incrSplitLeakageSql,
    "x_token_rarity"   -> tokenRaritySql,
    "x_top_ngrams"     -> topNgramsSql,
    "x_bpe_merges"     -> bpeMergesSql,
    "x_bpe_segment"    -> bpeSegmentSql,
    "x_bpe_drift"      -> bpeDriftSql,
    "x_token_sketch"   -> tokenSketchSql,
    "x_sessionize"     -> sessionizeSql,
    "x_session_window" -> sessionizeSql, // native op, same semantics & oracle
    "x_text_stats"     -> textStatsSql,
    "x_sim_search"     -> simSearchSql,
    "x_centroids"      -> centroidsSql,
    "x_ann_ivf"        -> annIvfSql,
    "x_ann_ivf_pruned" -> annIvfSql, // same semantics, pruned scan layout
    "x_ann_lsh"        -> annLshSql,
    "x_ann_lsh_multiprobe" -> annLshMultiprobeSql,
    "x_embed_near_dup" -> embedNearDupSql,
    "x_embed_quantize" -> embedQuantizeSql,
    "x_embed_quality"  -> embedQualitySql,
    "x_gate_battery"   -> gateBatterySql,
    "x_gate_chain"     -> gateChainSql,
    "x_quality_calibration" -> qualityCalibrationSql,
    "x_gate_battery_capped" ->
      gateBatterySql(CAPPED_BATTERY_MIN_COUNT, CAPPED_BATTERY_MAX_ENTRIES),
    "x_tfidf_terms"    -> tfidfTermsSql,
    "x_pq_codes"       -> pqCodesSql,
    "x_ann_pq"         -> annPqSql,
    "x_ann_recall"     -> annRecallSql,
    "x_corpus_export"  -> Export.corpusExportSql,
    "x_export_append"  -> Export.exportAppendSql,
    "x_stream_export"  -> Export.streamExportSql,
    "x_export_stats"   -> Export.exportStatsSql,
    "x_corpus_manifest" -> corpusManifestSql,
    "x_minhash_est"    -> minhashEstSql,
    "x_embed_outliers" -> embedOutliersSql,
    "x_ann_ivf_nprobe" -> annIvfNprobeSql,
    "x_kmeans_iter"    -> kmeansIterSql,
    "x_kmeans_moves"   -> kmeansMovesSql,
    "x_kmeans_converge" -> kmeansConvergeSql,
    "x_bm25_search"    -> bm25SearchSql,
    "x_hybrid_rank"    -> hybridRankSql,
    "x_bm25_batch"     -> bm25BatchSql,
    "x_bm25_incr"      -> bm25IncrSql,
    "x_ann_incr"       -> annIncrSql,
    "x_heuristic_filters" -> heuristicFiltersSql,
    "x_mix_temperature" -> mixTemperatureSql,
    "x_mix_realized"   -> mixRealizedSql,
    "x_filter_agreement" -> filterAgreementSql,
    "x_rep_quality"    -> repQualitySql,
    "x_keep_best"      -> keepBestSql,
    "x_keep_best_incr" -> keepBestIncrSql,
    "x_bigram_fluency" -> bigramFluencySql,
    "x_lang_confusion" -> langConfusionSql,
    "x_dup_src_matrix" -> dupSrcMatrixSql,
    "x_manifest_stats" -> manifestStatsSql,
    "x_jaccard_sweep"  -> jaccardSweepSql,
    "x_filter_funnel"  -> filterFunnelSql,
    "x_shard_plan"     -> shardPlanSql,
    "x_shard_stats"    -> shardStatsSql,
    "x_vocab_growth"   -> vocabGrowthSql,
    "x_dedup_recall"   -> dedupRecallSql)
}
