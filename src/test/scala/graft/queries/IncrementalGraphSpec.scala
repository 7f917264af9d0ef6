package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The incremental edge-graph contract: maintaining yesterday's graph
  * with the batch delta ([[Pipeline.incrEdges]]) yields EXACTLY the
  * edge set a full rebuild produces, and [[Pipeline.incrClusters]]
  * yields exactly the full rebuild's components. Two corpora:
  *
  *  - the real sf0.001 fixture (embeddings included — the three-family
  *    graph), for the identity on organic data;
  *  - a synthetic corpus engineered to hit the subtlest path:
  *    REP-STEALING, where a batch doc is an exact duplicate of an
  *    existing representative with a LARGER id, so the demoted doc's
  *    simhash edges must be retracted while its doc-level Jaccard
  *    edges survive. A reversed-token twin makes the sim-only edge
  *    (identical token multiset ⇒ identical fingerprint; reversed
  *    order ⇒ no shared 3-gram shingles ⇒ Jaccard below threshold).
  *
  * These tests are also the divergence guard for the *PairsTouching
  * mirrors of the production family cores: if a mirror drifts from
  * its pipeline, the incremental set stops matching the rebuild.
  */
class IncrementalGraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sf0.001 fixture: incremental edge set ≡ full rebuild; clusters match") {
    val dir = "/root/testdata/sf0.001"
    val full = edgeSet(
      spark.read.parquet(Pipeline.ensureEdgeGraph(spark, dir).toString)
        .select("a_id", "b_id").distinct())
    val incr = edgeSet(Pipeline.incrEdges(spark, dir))
    assert(incr == full,
      s"incremental ∖ full: ${incr -- full}; full ∖ incremental: ${full -- incr}")
    val fullCl = Pipeline.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val incrCl = Pipeline.incrClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incrCl == fullCl,
      s"incr ∖ full: ${incrCl -- fullCl}; full ∖ incr: ${fullCl -- incrCl}")
  }

  /** The rep-stealing corpus (see the sim-only test below for the
    * construction rationale); `withEmbeddings` additionally gives docs
    * 4 and 12 identical vectors in one cell, so the demoted pair also
    * carries a vec-level sem edge that must SURVIVE the demotion.
    */
  private def writeRepStealingCorpus(dir: String, withEmbeddings: Boolean): Unit = {
    import spark.implicits._
    val cyc = (0 until 24).map(i => s"cyc$i")
    // rotation k, closed with the first two tokens: shingle set = all
    // 24 cyclic 3-grams, identical for every k
    def rot(k: Int): String =
      ((cyc.drop(k) ++ cyc.take(k)) ++ Seq(cyc(k), cyc((k + 1) % 24))).mkString(" ")
    val fillerIds = Iterator.from(100).filter(_ % 10 != 7).take(102).toSeq
    val fillers = fillerIds.zipWithIndex.map { case (id, i) =>
      // twin pairs (i/2): 102 docs but only 51 distinct texts — df of
      // every cyclic shingle exceeds the cap while the sim band groups
      // stay far under BAND_CAP
      id.toLong -> (rot(0) + s" fill${i / 2}a fill${i / 2}b")
    }
    def toks(n: Int, salt: Int): Seq[String] =
      (0 until n).map(i => s"t$salt-$i-${(i * 11 + salt * 29) % 89}")
    val c = toks(24, 2)
    val nearC = c.dropRight(2) ++ Seq("zzq3", "zzq4")
    val d = toks(24, 3)
    val nearD = d.dropRight(2) ++ Seq("zzq5", "zzq6")
    val docs = Seq(
      4L  -> rot(0),                   // rotation twin of 12: sim-only edge
      12L -> rot(5),                   // base rep of its text
      7L  -> rot(5),                   // BATCH: exact dup of 12, steals rep-ship
      20L -> c.mkString(" "),
      21L -> nearC.mkString(" "),
      17L -> (c.dropRight(1) :+ "zzq7").mkString(" "), // BATCH: links into {20,21}
      30L -> d.mkString(" "),
      31L -> nearD.mkString(" ")       // untouched cluster
    ) ++ fillers
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    if (withEmbeddings) {
      val v = Array.tabulate(8)(i => (i + 1).toFloat)
      Seq((4L, v, 0), (12L, v, 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
  }

  /** Sim-only edges arise organically from DF-CAPPED boilerplate: the
    * jaccard index drops capped shingles, but fingerprints hash the
    * UNCAPPED set. Construction: a 24-token cyclic phrase carried
    * (with its wrap shingles) by 102 filler docs pushes every cyclic
    * 3-gram past SHINGLE_DF_CAP; two different ROTATIONS of the cycle
    * then have IDENTICAL raw shingle sets (hamming 0 ⇒ sim edge) and
    * EMPTY kept sets (no jaccard pair possible). Fillers come in
    * exact-dup twins so the band groups hold ~54 reps — far under
    * BAND_CAP, keeping the increment inside the documented exactness
    * boundary.
    */
  test("rep-stealing: demoted rep's sim-only edge retracts, full identity holds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("incr-graph-").toString
    writeRepStealingCorpus(dir, withEmbeddings = false)

    // the scenario must actually exist in the base graph: 12 is the
    // base rep of its text and carries the sim-only edge to 4
    val baseEdges = spark.read.parquet(
      Pipeline.ensureEdgeGraph(spark,
        Pipeline.ensureBaseCorpus(spark, dir).toString).toString)
    val baseLex = edgeSet(baseEdges.filter($"fam" === "lex"))
    assert(baseLex.contains((4L, 12L)), s"expected sim edge (4,12) in base: $baseLex")

    val incr = edgeSet(Pipeline.incrEdges(spark, dir))
    val full = edgeSet(
      spark.read.parquet(Pipeline.ensureEdgeGraph(spark, dir).toString)
        .select("a_id", "b_id").distinct())
    assert(incr == full,
      s"incr ∖ full: ${incr -- full}; full ∖ incr: ${full -- incr}")
    // the demotion itself: (4,12) retracted, the thief carries it now
    assert(!incr.contains((4L, 12L)),
      "demoted rep's sim-only edge must be retracted")
    assert(incr.contains((4L, 7L)),
      "the stealing batch rep must carry the sim edge now")

    val rows = Pipeline.incrClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val fullCl = Pipeline.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == fullCl,
      s"cluster assignment must equal the full rebuild: ${rows.toSeq} vs $fullCl")
    // provenance: batch-touched clusters recompute; the untouched
    // {30,31} cluster and the filler twins pass through from
    // yesterday's labels; the demoted 12 lost its only edge and has
    // no row at all (matching the rebuild, asserted above)
    val byDoc = rows.map(r => r._1 -> r._3).toMap
    assert(Seq(4L, 20L).forall(byDoc(_)), s"touched clusters must recompute: $byDoc")
    assert(Seq(30L, 31L).forall(!byDoc(_)), s"untouched cluster must not recompute: $byDoc")
    assert(!byDoc.contains(12L), "the demoted, now edge-less doc must drop out")
  }

  /** The family-interaction corner of demotion: the SAME pair carries
    * both the demotion-retracted sim edge and a vec-level sem edge. A
    * full rebuild keeps the pair (embedNearDup does not care about
    * rep-ship), so the incremental path must too — `minus` is a
    * lex-family retraction set and must never delete a sem row sharing
    * the pair. Regression for exactly that: consumers once subtracted
    * `minus` from the fam-flattened base edge set.
    */
  test("rep-stealing with a sem edge on the demoted pair: the pair survives") {
    val dir = Files.createTempDirectory("incr-graph-sem-").toString
    writeRepStealingCorpus(dir, withEmbeddings = true)
    val incr = edgeSet(Pipeline.incrEdges(spark, dir))
    val full = edgeSet(
      spark.read.parquet(Pipeline.ensureEdgeGraph(spark, dir).toString)
        .select("a_id", "b_id").distinct())
    assert(incr == full,
      s"incr ∖ full: ${incr -- full}; full ∖ incr: ${full -- incr}")
    assert(incr.contains((4L, 12L)),
      "the sem edge keeps the demoted pair alive through the lex retraction")
    assert(incr.contains((4L, 7L)),
      "the stealing batch rep still gains the sim edge")
    val rows = Pipeline.incrClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val fullCl = Pipeline.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == fullCl,
      s"cluster assignment must equal the full rebuild: ${rows.toSeq} vs $fullCl")
    // 12 keeps a row (its sem edge survives) and its cluster recomputes
    val byDoc = rows.map(r => r._1 -> r._3).toMap
    assert(byDoc.get(12L).contains(true),
      s"the demoted doc stays clustered via sem and recomputes: $byDoc")
  }

  /** The monitor guarding the exactness boundary the two tests above
    * stay inside: a batch that pushes a shingle's df ACROSS
    * SHINGLE_DF_CAP must raise `compaction_due` for the jaccard
    * family. 105 docs share one trigram, 10 of them batch: df 105 >
    * cap with the batch, 95 ≤ cap without it — exactly one crossed
    * shingle, every carrier affected. The unique filler tokens keep
    * every simhash band group tiny, so the simhash row stays quiet.
    */
  test("compaction signal: batch pushing a shingle df across the cap fires") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compaction-sig-").toString
    val batchIds = (0 until 10).map(i => 7L + 10 * i)
    val baseIds = Iterator.from(1).map(_.toLong)
      .filter(id => id % 10 != 7 && !batchIds.contains(id)).take(95).toSeq
    val docs = (batchIds ++ baseIds).zipWithIndex.map { case (id, i) =>
      id -> s"aaa bbb ccc u${i}x u${i}y u${i}z"
    }
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = Pipeline.compactionSignal(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(rows.keySet == Set("jaccard", "simhash"),
      s"no embeddings table => no semantic row: ${rows.keySet}")
    assert(rows("jaccard") == ((1L, 105L, true)),
      s"one crossed shingle carried by all 105 docs: ${rows("jaccard")}")
    assert(rows("simhash") == ((0L, 0L, false)),
      s"band groups stay far under BAND_CAP: ${rows("simhash")}")
  }
  /** The concurrent-caller contract behind [[Components.freeCheckpoint]]:
    * freeing one pin must never touch another's blocks. The old
    * registry-diff release freed every RDD persisted inside its
    * window, including a concurrent caller's — and a freed
    * localCheckpoint has truncated lineage, so the victim dies
    * unrecoverably rather than recomputing.
    */
  test("freeCheckpoint frees exactly its own pin, never a neighbor's") {
    import spark.implicits._
    val sc = spark.sparkContext
    val mine = Seq(1L, 2L).toDF("x").localCheckpoint()
    val theirs = Seq(3L, 4L, 5L).toDF("x").localCheckpoint()
    def rddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    val (mineIds, theirIds) = (rddIds(mine), rddIds(theirs))
    assert(mineIds.nonEmpty && theirIds.nonEmpty, "checkpoints must pin RDDs")
    Components.freeCheckpoint(mine)
    val persisted = sc.getPersistentRDDs.keySet
    assert(mineIds.forall(id => !persisted.contains(id)), "own pin must be freed")
    assert(theirIds.forall(persisted.contains), "neighbor's pin must survive")
    assert(theirs.count() == 3)
    Components.freeCheckpoint(theirs)
  }
}
