package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Engineered-corpus semantics for the round-10 additions: the
  * substring-level duplicate-span audit, the quality threshold sweep,
  * the index-health/boilerplate screen, and the IVF recluster repair.
  * Each test plants the exact boundary the operator exists for and
  * asserts hand-computed values.
  */
class MaintenanceOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("dupSpans: shared span flags both carriers, exact copies read 100%, short docs stay NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dup-spans-").toString
    try {
      val docs = Seq(
        // doc 1 and 2 share exactly the span "a b c d e"
        (1L, "a b c d e f"),            // spans: "a b c d e", "b c d e f"
        (2L, "q w a b c d e r t y"),    // 6 spans, one shared
        (3L, "only four words here"),   // < 5 tokens: zero spans
        (4L, "u v w x y z"),            // exact copy pair: every span
        (5L, "u v w x y z"))            //   duplicated
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.dupSpans(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(got(1) == ((2L, 1L, Some(500000L))),
        s"doc 1: one of two spans shared: ${got(1)}")
      assert(got(2) == ((6L, 1L, Some(166666L))),
        s"doc 2: one of six spans shared: ${got(2)}")
      assert(got(3) == ((0L, 0L, None)),
        s"sub-span doc must report zero spans, NULL ppm: ${got(3)}")
      assert(got(4) == ((2L, 2L, Some(1000000L))) && got(4) == got(5),
        s"exact copies must read fully duplicated: ${got(4)} ${got(5)}")

      // the transform over the same corpus: covered tokens cut out,
      // novel remainder preserved in order, untouched docs unchanged
      val strip = Pipeline.spanStrip(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(strip(1) == (("f", 5L)),
        s"doc 1: shared span 0..4 cut, tail kept: ${strip(1)}")
      assert(strip(2) == (("q w r t y", 5L)),
        s"doc 2: interior span 2..6 cut, flanks kept: ${strip(2)}")
      assert(strip(3) == (("only four words here", 0L)),
        s"sub-span doc passes through byte-identical: ${strip(3)}")
      assert(strip(4) == (("", 6L)) && strip(5) == strip(4),
        s"fully-duplicated docs strip to empty: ${strip(4)} ${strip(5)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("qualitySweep: fixed 20-row spine whose cumulative foots to the corpus totals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("quality-sweep-").toString
    try {
      // scores spread across buckets: stopword-free low scorers,
      // stopword-heavy high scorers, and a long high-token doc
      val docs = Seq(
        (1L, "zz yy xx"), (2L, "the a the a the a"),
        (3L, ("the word " * 40).trim), (4L, "one two"),
        (5L, "the quick brown fox jumps over a lazy dog"))
        .map { case (id, t) => (id, t, t.length.toLong) }
      docs.toDF("doc_id", "text", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val rows = Pipeline.qualitySweep(spark, dir).collect()
      assert(rows.length == 20, s"fixed ventile spine: ${rows.length}")
      assert(rows.map(_.getLong(0)).toSeq == (0L to 19L),
        "spine buckets 0..19 in order")
      val totalDocs = docs.size.toLong
      val totalChars = docs.map(_._3).sum
      assert(rows.head.getLong(2) == totalDocs &&
        rows.head.getLong(3) == totalChars,
        s"a floor at 0 keeps everything: ${rows.head}")
      assert(rows.map(_.getLong(1)).sum == totalDocs,
        "per-bucket counts partition the corpus")
      val kept = rows.map(r => (r.getLong(2), r.getLong(3)))
      assert(kept.sliding(2).forall(p => p(0)._1 >= p(1)._1 && p(0)._2 >= p(1)._2),
        "raising the floor never keeps more")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("indexHealth: a df-101 boilerplate shingle is counted with all its carriers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("index-health-").toString
    try {
      // 101 docs sharing one trigram (one over the df cap of 100),
      // each contributing four unique trigrams besides — the unique
      // majority keeps the 101 fingerprints spread, so no band group
      // can approach the band cap
      val docs = (0 until 101).map(i =>
        (i.toLong, s"boil er plate u${i}a u${i}b u${i}c u${i}d"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Seq((1L, 0, Seq(1.0f, 0.5f)), (2L, 0, Seq(0.5f, 1.0f)),
        (3L, 1, Seq(0.25f, 0.5f)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val got = Pipeline.indexHealth(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      // shingle keys: "boil er plate" (df 101) + 4 unique trigrams
      // per doc = 1 + 404 = 405 keys
      assert(got("shingle") == ((405L, 101L, 1L, 101L)),
        s"one over-cap shingle, all 101 carriers: ${got("shingle")}")
      assert(got("cell")._1 == 2L && got("cell")._3 == 0L,
        s"two quiet cells: ${got("cell")}")
      assert(got("band")._3 == 0L && got("band")._4 == 0L,
        s"no over-cap band groups on distinct texts: ${got("band")}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("indexHealth media rows: a window shared past FRAME_DF_CAP counts as over-cap with all its carriers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("index-health-media-").toString
    try {
      // 102 VIDEO assets (doc_id % 3 == 2) sharing their first 65
      // payload bytes (magic + a 60-char text prefix) but with unique
      // tails: distinct payloads survive the exact-dup pre-collapse,
      // every asset contributes the SAME offset-0 window (df 102, two
      // over the cap of 100) and the same l=64 ladder hash. Payloads
      // stay under 112 bytes so offset 48 never yields a window. One
      // extra long video carries two unique windows and one unique
      // ladder entry, so key counts separate from carrier counts.
      val prefix = "pp " * 20 // 60 chars -> payload prefix 65 bytes
      val shared = (0 until 102).map(i =>
        ((2 + 3 * i).toLong, s"$prefix u$i"))
      val extra = Seq(((2 + 3 * 102).toLong,
        (0 until 14).map(j => s"zq$j xw$j").mkString(" ")))
      (shared ++ extra).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Seq((1L, 0, Seq(1.0f, 0.5f)), (2L, 1, Seq(0.5f, 1.0f)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val extraPayloadLen = 5 + extra.head._2.length
      assert(extraPayloadLen >= 112,
        s"long video must reach a second window: $extraPayloadLen")
      val got = Pipeline.indexHealth(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(got("frame") == ((3L, 102L, 1L, 102L)),
        s"one shared over-cap window + two unique: ${got("frame")}")
      assert(got("prefix") == ((2L, 102L, 1L, 102L)),
        s"one shared over-cap l=64 ladder hash + one unique: ${got("prefix")}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bm25Incr: batch docs retrievable under stale base stats; base-unseen term scores at df-0 idf") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25-incr-").toString
    try {
      // base: ids 1,2 (N=2, avgdl=2 — the stale stats); batch: id 7
      // carrying 'dup', a term NO base doc has (base df 0)
      Seq((1L, "spark join"), (2L, "scan scan"), (7L, "dup dup"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.bm25Incr(spark, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4)))
      // hand arithmetic at n=2, avgdl=2 (r=1 for dl-2 docs):
      //  'dup' df0 → idf floor(1e6·2.5/0.5)=5e6; tf2 → floor(5e6·44/32)
      //  'join'/'scan' df1 → idf 1e6; tf1 → 1e6; tf2 → floor(1e6·44/32)
      assert(got.toSeq == Seq(
        (1, 1L, 1L, 1000000L, false),
        (2, 7L, 1L, 6875000L, true),
        (2, 2L, 1L, 1375000L, false),
        (2, 1L, 1L, 1000000L, false)),
        s"stale-stats scoring must match hand arithmetic: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("ivfRecluster: flagged cells split on the sign planes, quiet cells keep their layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivf-recluster-").toString
    try {
      val rows = Seq(
        // cell 0: batch-free, zero drift — stays quiet, keeps layout
        (1L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)),
        (2L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)),
        // cell 1: all-batch (brand-new) — flagged; members straddle
        // the sign planes, so the split separates them
        (7L, 1, Seq(1.0f, -1.0f, 1.0f, 1.0f, -1.0f, -1.0f, 1.0f, -1.0f)),
        (17L, 1, Seq(-1.0f, 1.0f, -1.0f, -1.0f, 1.0f, 1.0f, -1.0f, 1.0f)),
        // cell 2: all-batch with a SHORT vector — the quantizer needs
        // 8 planes, so it stays in sub 0 of the split cell
        (27L, 2, Seq(1.0f, 2.0f)))
      rows.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      // the Over variants with cell := label — this spec pins the
      // split/repair arithmetic; the learned-quantizer assignment is
      // pinned by the x_ivf_recluster oracle row (the hand fixture's
      // ragged vector lengths are outside the quantizer's contract)
      def assigned = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("cell", org.apache.spark.sql.functions.col("label"))
      val got = Pipeline.ivfReclusterOver(spark, assigned).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      assert(got(1) == ((0, 0L, false)) && got(2) == ((0, 0L, false)),
        s"quiet cell keeps its layout: ${got(1)} ${got(2)}")
      // bits at positions where component >= 0 (1-indexed i → 2^(i-1)):
      // [+,-,+,+,-,-,+,-] → 1+4+8+64 = 77; complement → 2+16+32+128 = 178
      assert(got(7) == ((1, 77L, true)) && got(17) == ((1, 178L, true)),
        s"flagged cell splits by sign bucket: ${got(7)} ${got(17)}")
      assert(got(27) == ((2, 0L, true)),
        s"short vector lands in sub 0 of its split cell: ${got(27)}")

      // the effectiveness report over the same corpus: only SPLIT
      // cells appear; cell 1 dispersed into two singleton sub-cells
      // (balance 50%), cell 2 is a single-member degenerate split
      val stats = Pipeline.reclusterStatsOver(spark, assigned).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      assert(!stats.contains(0), s"quiet cell must not be reported: $stats")
      assert(stats(1) == ((2L, 2L, 1L, 500000L)),
        s"dispersed split: 2 members over 2 sub-cells: ${stats(1)}")
      assert(stats(2) == ((1L, 1L, 1L, 1000000L)),
        s"degenerate split: one member, one sub-cell: ${stats(2)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("annIncr: batch vectors searchable via stale-centroid assignment; off-cell members stay out") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ann-incr-").toString
    try {
      val rows = Seq(
        // base cell 0: the query (vec 0) + one neighbor; stale centroid
        // = floor-mean of the two = [1000000, 250000]
        (0L, 0, Seq(1.0f, 0.0f)),
        (1L, 0, Seq(1.0f, 0.5f)),
        // base cell 1: far from the query on dim 1
        (2L, 1, Seq(0.0f, 1.0f)),
        // batch arrivals: vec 7 sits near cell 0's stale centroid
        // (d2 1e10+2.25e10 vs ~1.45e12 — assigned 0), vec 17 near cell 1
        (7L, 0, Seq(0.9f, 0.1f)),
        (17L, 1, Seq(0.1f, 1.0f)))
      rows.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val got = Pipeline.annIncr(spark, dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      // probe = cell 0 (query d2: 6.25e10 vs 2e12); candidates = base
      // member 1 + fresh arrival 7, ranked by cosine:
      //   vec 7 (0.9,0.1)·(1,0) → 0.9/√0.82 ≈ .9939 beats
      //   vec 1 (1,0.5)·(1,0)   → 1/√1.25  ≈ .8944
      assert(got.map(t => (t._1, t._3)).toSeq == Seq((7L, true), (1L, false)),
        s"fresh batch hit must rank and carry is_batch: ${got.toSeq}")
      // 1e-6 tolerance: 0.9f/0.1f are not exact float32 values
      assert(math.abs(got(0)._2 - 0.9 / math.sqrt(0.82)) < 1e-6 &&
        math.abs(got(1)._2 - 1.0 / math.sqrt(1.25)) < 1e-6,
        s"cosines near hand values: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("embedQuality: seed centroid from heuristic quality; cosine ppm exact incl. sign") {
    import spark.implicits._
    val dir = Files.createTempDirectory("embed-quality-").toString
    try {
      // doc 1: all stopwords → quality 0.625 (qm 625000) → the seed;
      // docs 2-4: junk "zz yy" → 0.08125 (qm 81250) → scored only
      Seq((1L, "the the the the"), (2L, "zz yy"), (3L, "zz yy"), (4L, "zz yy"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // seed centroid = doc 1's (1e6, 0); cosines: +1, 0, −1
      Seq((1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
          (3L, 1, Seq(0.0f, 1.0f)), (4L, 1, Seq(-1.0f, 0.0f)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = Pipeline.embedQuality(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      assert(got.toSeq == Seq(
        (1L, 625000L, true, Some(1000000L)),
        (2L, 81250L, false, Some(1000000L)),
        (3L, 81250L, false, Some(0L)),
        (4L, 81250L, false, Some(-1000000L))),
        s"seed/qm/cosine must match hand values: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("gateBattery: each content gate drops exactly its planted doc; one doc clears all") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gate-battery-").toString
    try {
      // base (ids ∉ batch): quality seed + shingle/bigram universe.
      // ca(the) = 44 → P(a|the) = 90909 ppm, P(z0i|the) = 22727 ppm.
      val zs = (1 to 40).map(i => f"the z$i%02d").mkString(" ")
      val base = Seq(1L -> "the a the a the a the a", 2L -> zs)
      // batch docs, one designed failure each:
      //   7: junk "zz yy" — quality 0.081 < 0.30 (no shingles → novelty
      //      passes; unseen bigram → zero-matched → fluency passes)
      //  17: exact copy of base 1 — zero novel shingles (quality 0.6,
      //      fluency mean 480519 — both pass)
      //  27: matched-but-rare bigrams — fluency 7905 < 30000 (quality
      //      0.354, all shingles carry 'aaa' → fully novel)
      //  37: single token "the" — sub-shingle AND sub-bigram (both
      //      pass), quality 0.616, but embedding OPPOSES the centroid
      //  47: fresh shingles + two strong matched bigrams → passes all
      val batch = Seq(
        7L -> "zz yy",
        17L -> "the a the a the a the a",
        27L -> (1 to 8).map(i => f"the z$i%02d aaa").mkString(" "),
        37L -> "the",
        47L -> "the a fresh1 fresh2 the a")
      (base ++ batch).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Seq((1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
          (7L, 0, Seq(1.0f, 0.0f)), (17L, 0, Seq(1.0f, 0.0f)),
          (27L, 0, Seq(1.0f, 0.0f)), (37L, 0, Seq(-1.0f, 0.0f)),
          (47L, 0, Seq(1.0f, 0.0f)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = Pipeline.gateBattery(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(got.toSeq == Seq(
        ("battery", 5L, 1L, 4L, 800000L),
        ("fluency", 5L, 4L, 1L, 200000L),
        ("novelty", 5L, 4L, 1L, 200000L),
        ("qdir", 5L, 4L, 1L, 200000L),
        ("quality", 5L, 4L, 1L, 200000L)),
        s"each gate must drop exactly its planted doc: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("gateBattery: binding bigram budget — audit ≡ deployed gate at the capped params, ≠ at defaults") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gate-battery-cap-").toString
    try {
      // The StreamingSpec binding-cap fluency corpus, plus the quality
      // seed gateBattery's centroid build requires. Base bigram stats:
      //   cab: (a,b)=4, (the,the)=3, (b,a)=2, everything else hapax
      //   ca:  a=4, b=3, q=1, x=40, each yi=1, the=3
      // minCount=2 floors every hapax; maxEntries=2 keeps (a,b) and
      // (the,the) — cab 4 and 3 — and EVICTS (b,a) cab=2: the cap
      // genuinely binds. Kept ppms stay exact: P(b|a)=P(the|the)=1e6.
      val xy = (1 to 40).map(i => s"x y$i").mkString(" ")
      val base = Seq(
        1L -> "a b a b a b",
        2L -> "a b c",
        3L -> "q r",
        4L -> xy,
        5L -> "the the the the")
      // arriving batch, scored under the capped vs the default table:
      //   7:  "a b c"  — capped (1e6+0)/2 = 500000; defaults 666666 — kept both ways
      //  37:  "q r"    — capped zero-matched → NULL → passes; defaults 1e6 → kept
      //  57:  "x y1"   — capped NULL → passes; defaults 25000 < 30000 → DROPPED
      // so the capped and default fluency verdicts DIFFER on doc 57.
      val batch = Seq(7L -> "a b c", 37L -> "q r", 57L -> "x y1")
      (base ++ batch).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Seq((5L, 0, Seq(1.0f, 0.0f)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      def fluencyRow(minCount: Long, maxEntries: Int): (Long, Long) = {
        val r = Pipeline.gateBattery(spark, dir, minCount, maxEntries)
          .filter($"gate" === "fluency").collect().head
        (r.getLong(1), r.getLong(2)) // (n_batch, n_pass)
      }
      def gateKept(stats: Array[Byte]): Set[Long] =
        graft.streaming.Streams.fluencyGate(batch.toDF("doc_id", "text"), stats)
          .select($"doc_id").as[Long].collect().toSet

      // the DEPLOYED gate at the capped budget: blob is exactly the
      // 2-entry layout (the cap binds — defaults serialize more)
      val capped = Pipeline.corpusBigramStats(
        spark, dir, minCount = 2L, maxEntries = 2)
      val defaults = Pipeline.corpusBigramStats(spark, dir)
      assert(capped.length == 4 + 16 * 2 && defaults.length > capped.length,
        s"cap must bind: capped ${capped.length} B, defaults ${defaults.length} B")

      val keptCapped = gateKept(capped)
      val keptDefault = gateKept(defaults)
      assert(keptCapped == Set(7L, 37L, 57L) && keptDefault == Set(7L, 37L),
        s"hand-planted verdicts: capped=$keptCapped defaults=$keptDefault")

      // battery ≡ gate at BOTH param sets — the audit's threaded budget
      // reproduces exactly the deployed gate's keep count...
      assert(fluencyRow(2L, 2) == ((3L, keptCapped.size.toLong)),
        "capped audit must agree with the capped gate")
      assert(fluencyRow(1L, Pipeline.BIGRAM_STATS_MAX_ENTRIES) ==
        ((3L, keptDefault.size.toLong)),
        "default audit must agree with the default gate")
      // ...and the two param sets disagree with EACH OTHER here, which
      // is what an unthreaded budget would silently get wrong
      assert(keptCapped != keptDefault,
        "corpus must make the cap observable or the test is vacuous")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("heuristicFilters: each rule fails independently on its planted boundary doc") {
    import spark.implicits._
    val dir = Files.createTempDirectory("heuristic-filters-").toString
    try {
      def toks(n: Int, len: Int, tag: String): Seq[String] =
        (0 until n).map(i => (tag + i.toString + "x" * len).take(len))
      val pass = ("the a " + toks(22, 4, "p").mkString(" "))
      val short = ("the a " + toks(21, 4, "s").mkString(" "))
      val longw = ("the a " + toks(22, 6, "l").mkString(" "))
      val nostop = toks(24, 4, "n").mkString(" ")
      val repet = ("the a " + Seq.fill(6)("zzzz").mkString(" ") + " " +
        toks(16, 4, "r").mkString(" "))
      Seq((1L, pass), (2L, short), (3L, longw), (4L, nostop), (5L, repet))
        .map { case (id, t) => (id, t, "xx") }
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.heuristicFilters(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8), r.getBoolean(9)))).toMap
      // doc 1: 24 tokens, 92 letters + 23 separators = 115 chars,
      // mean_wl (115-24+1)*100 div 24 = 383, 2 stops, top 1/24 = 41666
      assert(got(1) == ((24L, 383L, 2L, 41666L, true, true, true, true, true)),
        s"all-pass doc: ${got(1)}")
      // doc 2: 23 tokens — r_len alone fails
      assert(got(2) == ((23L, 382L, 2L, 43478L, false, true, true, true, false)),
        s"short doc fails r_len only: ${got(2)}")
      // doc 3: 6-char tokens push mean_wl to 566 — r_wordlen alone
      assert(got(3) == ((24L, 566L, 2L, 41666L, true, false, true, true, false)),
        s"long-word doc fails r_wordlen only: ${got(3)}")
      // doc 4: zero stopwords — r_stop alone
      assert(got(4) == ((24L, 400L, 0L, 41666L, true, true, false, true, false)),
        s"stopword-free doc fails r_stop only: ${got(4)}")
      // doc 5: 'zzzz' at 6/24 = 250000 ppm — r_rep alone
      assert(got(5) == ((24L, 383L, 2L, 250000L, true, true, true, false, false)),
        s"repetitive doc fails r_rep only: ${got(5)}")

      // the shipped eval over the same corpus: quality keeps only
      // doc 3 (long tokens push avgTokLen past the others' ~0.26
      // scores to ~0.33), rules keep only doc 1 — full disagreement
      // matrix minus the (T,T) cell
      val agree = Pipeline.filterAgreement(spark, dir).collect()
        .map(r => (r.getBoolean(1), r.getBoolean(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      assert(agree == Map(
        (false, false) -> ((3L, 600000L)),
        (false, true) -> ((1L, 200000L)),
        (true, false) -> ((1L, 200000L))),
        s"agreement matrix must pin the disagreement cells: $agree")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("repQuality: min-id keep policy's quality regret is visible per cluster") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rep-quality-").toString
    try {
      val docs = Seq(
        // cluster {1,2}: same normalized text (exact dup), but doc 1's
        // capitalized stopwords score lower — min-id keeps the WORSE doc
        (1L, "The A alpha beta gamma delta"),
        (2L, "the a alpha beta gamma delta"),
        // cluster {3,4}: byte-identical — zero regret by construction
        (3L, "zz yy ww vv uu tt"),
        (4L, "zz yy ww vv uu tt"),
        // singleton: no cluster row
        (5L, "solo document completely unique here now"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.repQuality(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5)))).toMap
      assert(got.keySet == Set(1L, 3L),
        s"clusters >= 2 only, keyed by rep: ${got.keySet}")
      val (sz1, kept1, best1, regret1, sub1) = got(1L)
      assert(sz1 == 2L && sub1 && regret1 > 0L && best1 == kept1 + regret1,
        s"min-id kept the worse doc — regret must show: ${got(1L)}")
      val (sz3, kept3, best3, regret3, sub3) = got(3L)
      assert(sz3 == 2L && !sub3 && regret3 == 0L && kept3 == best3,
        s"identical dups carry zero regret: ${got(3L)}")

      // the policy switch the audit evaluates, over the same corpus:
      // quality-aware keep picks doc 2 (the lowercase, higher-scoring
      // dup) where min-id picked doc 1; ties and singletons unchanged
      val kb = Pipeline.keepBest(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(kb(1L) == ((2L, false)) && kb(2L) == ((2L, true)),
        s"best-quality member survives, not the smallest id: $kb")
      assert(kb(3L) == ((3L, true)) && kb(4L) == ((3L, false)),
        s"quality tie falls back to the smaller id: $kb")
      assert(kb(5L) == ((5L, true)), s"singleton keeps itself: $kb")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mixRealized: rate-100 keeps everything, ppm arithmetic foots against the coin") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mix-realized-").toString
    try {
      val docs = (1L to 40L).map(i =>
        (i, s"doc number $i", if (i <= 10) "en" else "zh"))
      docs.toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.mixRealized(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
      assert(got("en") == ((100L, 10L, 10L, 1000000L, 0L)),
        s"rate 100 keeps every doc with zero deviation: ${got("en")}")
      val (rate, n, kept, ppm, dev) = got("zh")
      assert(rate == 25L && n == 30L && kept <= n,
        s"zh stratum shape: ${got("zh")}")
      assert(ppm == kept * 1000000L / n && dev == ppm - 250000L,
        s"realized/deviation must foot exactly: ${got("zh")}")
      // the coin itself must match the weightedMix production filter —
      // one shared definition, so the eval counts what the mix keeps
      val mixKept = Pipeline.weightedMix(spark, dir).collect()
        .count(_.getString(1) == "zh")
      assert(kept == mixKept,
        s"eval's kept count must equal the shipped mix ($kept vs $mixKept)")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bigramFluency: corpus-conditional bigram means, exact ppm, sub-bigram docs NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bigram-fluency-").toString
    try {
      // corpus bigrams: (a,b)=3, (b,a)=1, (a,c)=1 → prefix mass a=4,
      // b=1 → P(b|a)=750000, P(a|b)=1000000, P(c|a)=250000 ppm
      val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "q"), (4L, "a c"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.bigramFluency(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      assert(got(1) == ((3L, Some(833333L))),
        s"(750000+1000000+750000) div 3: ${got(1)}")
      assert(got(2) == ((1L, Some(750000L))), s"single common bigram: ${got(2)}")
      assert(got(4) == ((1L, Some(250000L))), s"rare continuation: ${got(4)}")
      assert(got(3) == ((0L, None)),
        s"sub-bigram doc: zero bigrams, NULL fluency: ${got(3)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("mixTemperature: alpha=0.5 flattening boosts the low-resource language, exact integers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mix-temperature-").toString
    try {
      // lang a: 4 tokens (1 doc); lang b: 12 tokens (3 docs) — shares
      // 250000 / 750000 ppm of the 16-token corpus
      val docs = Seq((1L, "w x y z", "a"), (2L, "k l m n", "b"),
        (3L, "o p q r", "b"), (4L, "s t u v", "b"))
      docs.toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.mixTemperature(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
      // w_a = sqrt(250000·1e6) = 500000 exactly; w_b = ⌊sqrt(7.5e11)⌋
      // = 866025; weights 5e11/1366025 = 366025, 866025e6/1366025 =
      // 633974; boosts 366025·1000/250000 = 1464 (a upsampled),
      // 633974·1000/750000 = 845 (b cut)
      assert(got("a") == ((1L, 4L, 250000L, 366025L, 1464L)),
        s"low-resource lang boosted: ${got("a")}")
      assert(got("b") == ((3L, 12L, 750000L, 633974L, 845L)),
        s"dominant lang cut: ${got("b")}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("keepBestIncr: batch arrival flips a touched keeper; untouched clusters pass through") {
    import spark.implicits._
    val dir = Files.createTempDirectory("keep-best-incr-").toString
    try {
      val docs = Seq(
        // base cluster {1,2} (case-folded exact dups): doc 2's
        // lowercase stopwords win the base argmax
        (1L, "The A alpha beta gamma delta"),
        (2L, "the a alpha beta gamma delta"),
        // batch arrival 7: near-dup of 2 (shares 4 of 6 shingles,
        // Jaccard 2/3) with MORE stopword mass — the keeper must flip
        (7L, "the a the a alpha beta gamma delta"),
        // untouched cluster {3,4}: byte-identical, tie to smaller id
        (3L, "zz yy ww vv uu tt"),
        (4L, "zz yy ww vv uu tt"),
        // untouched base singleton
        (5L, "solo document completely unique here now"),
        // batch singleton: new cluster, keeps itself, recomputed
        (17L, "totally novel content appears here today"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.keepBestIncr(spark, dir).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 7L, 17L),
        s"every doc decided exactly once: ${got.keySet}")
      // touched cluster {1,2,7}: batch doc 7 has the best quality —
      // the keeper FLIPS from yesterday's doc 2
      assert(got(7L) == ((7L, true, true)) && got(1L) == ((7L, false, true)) &&
        got(2L) == ((7L, false, true)),
        s"batch arrival must steal keeper-ship in its cluster: $got")
      // untouched clusters pass yesterday's rows through, un-recomputed
      assert(got(3L) == ((3L, true, false)) && got(4L) == ((3L, false, false)),
        s"untouched tie cluster passes through: $got")
      assert(got(5L) == ((5L, true, false)),
        s"untouched singleton passes through: $got")
      // batch singleton forms its own recomputed cluster
      assert(got(17L) == ((17L, true, true)),
        s"batch singleton keeps itself, flagged recomputed: $got")

      // the incremental ≡ full identity on this corpus: projecting
      // away the flag reproduces keepBest over the full corpus
      val full = Pipeline.keepBest(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(full == got.view.mapValues(v => (v._1, v._2)).toMap,
        s"incremental must equal full recompute: $full vs $got")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("hybridRank: both-arm doc beats either single-arm top, missing arm reads NULL, RRF exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hybrid-rank-").toString
    try {
      // lexical arm (query terms spark/merge/stream; avgdl = 3):
      //   doc 2 "spark merge table" scores 2×1400000 → lex rank 1
      //   doc 1 4×spark, dl 5      → ⌊1400000·88/58⌋ = 2124137, rank 2
      //   doc 4 "merge", dl 1      → ⌊1400000·22/16⌋ = 1925000, rank 3
      // vector arm (query = vec 0, cell 0): doc 3 cos≈0.9999 rank 1,
      //   doc 2 cos≈0.8 rank 2; docs 1/4 sit in cell 1 — unprobed
      val docs = Seq(
        (0L, "nothing relevant here"),
        (1L, "spark spark spark spark pipeline"),
        (2L, "spark merge table"),
        (3L, "completely different words"),
        (4L, "merge"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val emb = Seq(
        (0L, 0, Seq(1.0f, 0.0f)),
        (2L, 0, Seq(0.8f, 0.6f)),
        (3L, 0, Seq(0.99f, 0.01f)),
        (1L, 1, Seq(0.0f, 1.0f)),
        (4L, 1, Seq(0.5f, 0.5f)))
      emb.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      val got = Pipeline.hybridRank(spark, dir).collect().map(r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3)))
      // RRF micros: 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
      assert(got.toSeq == Seq(
        (2L, Some(1L), Some(2L), 16393L + 16129L), // both arms fuse
        (3L, None, Some(1L), 16393L),              // vector-only
        (1L, Some(2L), None, 16129L),              // lexical-only
        (4L, Some(3L), None, 15873L)),
        s"fusion order / NULL arms / exact RRF: ${got.toSeq}")
      // the both-arm doc outranks BOTH single-arm rank-1 docs — the
      // property the fusion exists for
      assert(got.head._1 == 2L && got.head._4 > got(1)._4,
        s"mid-rank agreement must beat single-arm tops: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("cdcNovelty: replayed chunks don't grow the store, novel ones do, duplicate arrivals collapse") {
    import spark.implicits._
    // every text is < 17 chars (one window can't fit), so each doc is
    // exactly ONE chunk whose hash is md5(text) — chunk membership
    // reduces to text membership and the counts are hand-computable
    val dir = Files.createTempDirectory("cdc-novelty-").toString
    try {
      val docs = Seq(
        // base slice (doc_id % 10 != 7) = yesterday's store
        (1L, "sA", "alpha base one"),
        (2L, "sB", "beta base two"),
        // arrivals (doc_id % 10 == 7)
        (7L, "sA", "alpha base one"),   // replay: already stored
        (17L, "sA", "fresh text sA"),   // novel
        (27L, "sB", "beta base two"),   // replay
        (37L, "sB", "brand new sB"),    // novel
        (47L, "sB", "brand new sB"),    // duplicate arrival: collapses
        (57L, "sB", "another sB nov"))  // second novel
      docs.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val got = Pipeline.cdcNovelty(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got("sA") == ((2L, 1L, 500000L)),
        s"sA: one replay + one novel of 2 distinct: ${got("sA")}")
      assert(got("sB") == ((3L, 2L, 666666L)),
        s"sB: 4 arrivals, 3 distinct chunks, 2 novel: ${got("sB")}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }
}
