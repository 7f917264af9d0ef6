package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** The compaction-repair contract on a corpus where the incremental
  * path is provably WRONG: [[Pipeline.ensureCrossedCorpus]] plants a
  * shingle whose document frequency the batch pushes across
  * SHINGLE_DF_CAP (95 → 105), so the maintained graph carries the
  * C(85,2) shared-trigram edges the base build derived under the cap
  * while the full rebuild drops them — and five partner-trigram edges
  * must SURVIVE the repair (retract + regenerate, not blanket
  * deletion). compactionRun must land exactly on the from-scratch
  * rebuild.
  */
class CompactionRunSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val OFF = 2000000L

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted cap crossing: maintained graph diverges, repair ≡ full rebuild") {
    val adir = Pipeline.ensureCrossedCorpus(spark, dir).toString
    val full = pairSet(
      Pipeline.ngramJaccard(spark, adir).select("a_id", "b_id")
        .union(Pipeline.simhashPairs(spark, adir).select("a_id", "b_id"))
        .union(Pipeline.embedNearDup(spark, adir).select("a_id", "b_id"))
        .distinct())
    val maintained = pairSet(Pipeline.incrEdges(spark, adir))
    val stale = maintained -- full
    assert(stale.nonEmpty, "the crossing must invalidate maintained edges")
    assert(stale.size >= 3000,
      s"the shared-trigram clique (C(85,2) edges) must be stale, got ${stale.size}")
    assert(stale.forall { case (a, b) => a >= OFF && b >= OFF },
      "divergence must be confined to the planted crossing")

    val out = Pipeline.compactionRun(spark, dir)
    assert(pairSet(out) == full, "repair must reproduce the full rebuild exactly")
    // the five partner pairs survive on their pair trigrams — they go
    // through the rebuild stage (affected endpoints), flagged repaired
    val repairedTrue = out.filter(out("repaired")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val partners = (0 until 5).map(k =>
      (OFF + 10 * (2 * k) + 1, OFF + 10 * (2 * k + 1) + 1)).toSet
    assert(partners.subsetOf(repairedTrue),
      s"partner edges must be re-added by the repair: ${repairedTrue.take(10)}")
    // nothing planted survives as 'kept' — every planted edge sits in
    // the crossing's blast radius
    val keptRows = out.filter(!out("repaired")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(keptRows.forall { case (a, b) => a < OFF && b < OFF },
      "kept rows must never touch an affected doc")
  }

  /** The positional-cap reorder case — the one a strict "crossed the
    * cap" predicate is provably blind to: every doc is `T` repeated k
    * times (distinct text, IDENTICAL distinct-shingle set ⇒ identical
    * fingerprint), so all 105 land in the same four band groups, each
    * already over BAND_CAP with the batch-less 104. The batch doc's
    * tiny id (7) re-sorts the first-100 survivor set, evicting the old
    * rank-100 member — no cap is crossed, but the maintained graph
    * keeps the evicted doc's 99 edges while the rebuild drops them.
    * The widened any-over-cap-group-the-batch-touches predicate is
    * what catches it; under the strict predicate this test fails with
    * the evicted doc's stale edges surviving the repair.
    */
  test("positional reorder of an already-over-cap band group is repaired") {
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("cap-reorder-").toString
    try {
      val baseIds = (10 to 113).map(i => 10L * i + 1) // 101..1131, none ≡ 7 (mod 10)
      val docs = (baseIds :+ 7L).zipWithIndex.map { case (id, i) =>
        (id, ("za zb zc " * (i + 2)).trim) // k ≥ 2 ⇒ same shingle set, distinct text
      }
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir2/documents.parquet")

      val full = pairSet(
        Pipeline.ngramJaccard(spark, dir2).select("a_id", "b_id")
          .union(Pipeline.simhashPairs(spark, dir2).select("a_id", "b_id"))
          .distinct())
      assert(full.size == 100 * 99 / 2,
        s"full rebuild: all survivor pairs at hamming 0, got ${full.size}")
      val maintained = pairSet(Pipeline.incrEdges(spark, dir2))
      val evicted = baseIds.sorted.apply(99) // rank-100 base id, displaced by id 7
      assert((maintained -- full).nonEmpty &&
        (maintained -- full).forall { case (a, b) => a == evicted || b == evicted },
        "divergence must be exactly the evicted member's stale edges")

      val out = Pipeline.compactionRepair(spark, dir2)
      val repaired = pairSet(out)
      assert(repaired == full,
        s"repair must drop the evicted doc's stale edges: " +
          s"extra=${(repaired -- full).take(5)} missing=${(full -- repaired).take(5)}")
      // radius MINIMALITY: the blast radius is the survivor-set
      // symmetric difference {entrant 7, evicted rank-100}, so only
      // pairs touching those two go through the rebuild stage — the
      // 99 unaffected survivors' C(99,2) mutual pairs stay kept. A
      // whole-group radius flags every group pair repaired and fails
      // here; an under-inclusive radius already failed the equality.
      val repairedRows = out.filter(out("repaired")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(repairedRows.nonEmpty &&
        repairedRows.forall { case (a, b) =>
          a == 7L || b == 7L || a == evicted || b == evicted },
        s"rebuild stage must stay confined to the survivor diff: " +
          s"${repairedRows.filterNot { case (a, b) =>
            a == 7L || b == 7L || a == evicted || b == evicted }.take(5)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir2))
  }

  /** The DEPARTURE case: rep demotion removes a doc's fingerprint
    * from an already-over-cap band group with no batch member ever
    * entering it — the arrival predicate is blind by construction.
    * 104 identical-fingerprint base docs (T×k trick) cap to the first
    * 100; a batch doc whose text is the CASE-FOLDED twin of the
    * rank-1 member steals its rep-ship (same lower(trim) hash,
    * different raw shingles ⇒ its own fingerprint lands elsewhere),
    * so the group shrinks to 103 and the old rank-101 member
    * re-enters the rebuild's survivor set, gaining 99 pairs the
    * maintained graph lacks. Under a predicate without departure
    * coverage this test fails with those pairs missing from the
    * repair.
    */
  test("rep-demotion departure from an over-cap band group is repaired") {
    import spark.implicits._
    val dir3 = java.nio.file.Files.createTempDirectory("cap-depart-").toString
    try {
      val baseIds = (10 to 113).map(i => 10L * i + 1) // 101..1131
      val baseDocs = baseIds.zipWithIndex.map { case (id, i) =>
        (id, ("za zb zc " * (i + 2)).trim)
      }
      val victimText = baseDocs.head._2 // id 101, rank 1 of the group
      val docs = baseDocs :+ ((7L, victimText.toUpperCase)) // the stealer
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(s"$dir3/documents.parquet")

      val full = pairSet(
        Pipeline.ngramJaccard(spark, dir3).select("a_id", "b_id")
          .union(Pipeline.simhashPairs(spark, dir3).select("a_id", "b_id"))
          .distinct())
      val maintained = pairSet(Pipeline.incrEdges(spark, dir3))
      val reentrant = baseIds.sorted.apply(100) // old rank-101, re-enters
      val missing = full -- maintained
      assert(missing.size == 99 &&
        missing.forall { case (a, b) => a == reentrant || b == reentrant },
        s"divergence must be the re-entrant's gained pairs: ${missing.take(5)}")
      assert((maintained -- full).isEmpty,
        s"demotion retraction already handles the victim: ${(maintained -- full).take(5)}")

      val repaired = pairSet(Pipeline.compactionRepair(spark, dir3))
      assert(repaired == full,
        s"repair must regenerate the re-entrant's pairs: " +
          s"extra=${(repaired -- full).take(5)} missing=${(full -- repaired).take(5)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir3))
  }
}
