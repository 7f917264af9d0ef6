package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Scale-safety bounds of the LSH near-dup family: band groups are
  * materialized with `collect_list`, so a degenerate band value (every
  * near-identical variant of one template, or every copy of one
  * popular document) must never produce an unbounded aggregation row.
  * Two mechanisms are under test — the exact-duplicate pre-collapse
  * (only dedup representatives enter LSH) and the BAND_CAP group cap —
  * each forced by a purpose-built degenerate corpus.
  */
class LshBoundSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Write a synthetic documents.parquet and return its directory. */
  private def corpusDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("lsh-bound-").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'synthetic' AS source",
        "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("capBandGroups: a 1000-member degenerate band is cut to BAND_CAP") {
    import spark.implicits._
    val bands = (1L to 1000L).map(i => (i, 0, "deadbeef")).toDF("doc_id", "band_idx", "band")
    val capped = Banding.capBandGroups(bands).collect()
    assert(capped.length === Banding.BAND_CAP)
    assert(capped.map(_.getLong(0)).sorted.toSeq === (1L to Banding.BAND_CAP.toLong))
  }

  test("capBandGroups: caps per (band_idx, band), not globally") {
    import spark.implicits._
    val bands = (1L to 300L).map(i => (i, (i % 2).toInt, "x")).toDF("doc_id", "band_idx", "band")
    val sizes = Banding.capBandGroups(bands)
      .groupBy($"band_idx").count().collect().map(_.getLong(1))
    assert(sizes.length === 2 && sizes.forall(_ === Banding.BAND_CAP.toLong))
  }

  test("simhashPairs: 1000 distinct docs sharing every band stay bounded") {
    // doc i = the token "w" repeated i+2 times (≥ 3, so every doc
    // carries the single shingle "w w w"): all texts distinct (no
    // exact-dup collapse), all fingerprints identical (one shared
    // shingle votes the same way), so all 1000 docs land in ONE band
    // value per band index — the worst case the cap exists for. Only
    // the BAND_CAP lowest doc_ids may survive into any group, so the
    // output is exactly the C(cap, 2) pairs among doc_ids 1..cap.
    val dir = corpusDir((1L to 1000L).map(i => (i, Seq.fill(i.toInt + 2)("w").mkString(" "))))
    val rows = Pipeline.simhashPairs(spark, dir).collect()
    val cap = Banding.BAND_CAP
    assert(rows.length === cap * (cap - 1) / 2)
    assert(rows.forall(r => r.getLong(0) <= cap && r.getLong(1) <= cap))
    assert(rows.forall(_.getLong(2) === 0L)) // identical fingerprints
  }

  test("repDocs: 100k copies of one text — groupBy-min plan, no window over the hash") {
    // a pathologically duplicated document is normal in web corpora; a
    // window over the text-hash partition would sort all 100k copies in
    // ONE task. The rep computation must be groupBy-min (map-side
    // partial agg) + semi-join on the unique doc_id — no window
    // operator of any kind in the plan.
    val dir = corpusDir(
      (1L to 100000L).map(i => (i, "the same boilerplate text repeated verbatim")) :+
        (100001L, "one unique other document entirely different"))
    val rep = Pipeline.repDocs(spark, dir)
    val p = rep.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "repDocs must not plan any window over the hash partition:\n" + p.take(2000))
    val ids = rep.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 100001L))
  }

  test("dedupFull: 100k-copy degenerate corpus resolves to one keep_id") {
    val dir = corpusDir(
      (1L to 100000L).map(i => (i, "the same boilerplate text repeated verbatim")) :+
        (100001L, "one unique other document entirely different"))
    val got = Pipeline.dedupFull(spark, dir).collect()
    assert(got.length === 100001)
    assert(got.forall(r =>
      if (r.getLong(0) <= 100000L) r.getLong(1) == 1L && (r.getBoolean(2) == (r.getLong(0) == 1L))
      else r.getLong(1) == 100001L && r.getBoolean(2)))
  }

  test("minhashLsh and simhashPairs: only exact-dedup representatives appear") {
    // 40 copies of text A (rep id 1) + 40 of text B (rep id 2) + two
    // singletons: every pair the queries emit must be between reps —
    // without the pre-collapse the A-band would hold 40 identical
    // members and emit 780 redundant intra-A pairs.
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq((1L, a), (2L, b), (3L, "completely different text here now"),
      (4L, "unrelated words make another document entirely")) ++
      (5L to 44L).map(i => (i, a)) ++ (45L to 84L).map(i => (i, b))
    val dir = corpusDir(docs)
    val reps = Set(1L, 2L, 3L, 4L)
    val mh = Pipeline.minhashLsh(spark, dir).collect()
    assert(mh.forall(r => reps(r.getLong(0)) && reps(r.getLong(1))),
      s"non-representative doc_id in minhashLsh output: ${mh.mkString(", ")}")
    val sp = Pipeline.simhashPairs(spark, dir).collect()
    assert(sp.forall(r => reps(r.getLong(0)) && reps(r.getLong(1))),
      s"non-representative doc_id in simhashPairs output: ${sp.mkString(", ")}")
    // A and B differ in one word of ten — they must still be found as
    // near-dups through their representatives
    assert(mh.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"expected rep pair (1,2) in minhashLsh output: ${mh.mkString(", ")}")
  }

  test("editVerify: candidate pairs carry exact prefix Levenshtein, verdict at the ppm band") {
    val base = (1 to 20).map(i => f"t$i%02d").mkString(" ") // 20 words, 79 chars
    val dir = corpusDir(Seq(
      1L -> base,
      2L -> (base + " extra"), // one appended word: lev = 6, len 85
      3L -> (1 to 20).map(i => f"z$i%02d").mkString(" "))) // disjoint shingles
    try {
      val got = Pipeline.editVerify(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
      // (1,2) band together (B's shingles ⊃ A's; md5 is fixed, so the
      // shared min-slots are deterministic) and verify at 6/85
      assert(got.contains((1L, 2L)),
        s"near-identical pair must survive banding: ${got.keySet}")
      assert(got((1L, 2L)) == ((6L, 85L, 6000000L / 85L, true)),
        s"exact prefix lev + ppm + verdict: ${got((1L, 2L))}")
      // the disjoint doc shares no shingle, so no band, no pair
      assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L),
        s"disjoint doc must not reach the verify stage: ${got.keySet}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }
}
