package graft.queries

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Randomized compaction-repair ≡ full-rebuild identity — the seeded
  * sweep [[CompactionRunSpec]]'s single planted corpus doesn't give:
  * each seed builds a random corpus (small vocabulary, injected exact
  * duplicates, random batch split, embeddings on even seeds) PLUS a
  * FORCED SHINGLE_DF_CAP crossing whose geometry is itself random —
  * the base-side carrier count lands anywhere in [94, 100] and the
  * batch pushes the full df to a random value in [101, 105], so the
  * cap boundary is approached from a different distance every seed.
  * On every such corpus the incrementally-maintained graph must
  * PROVABLY diverge from the from-scratch rebuild (the carriers'
  * under-cap clique is stale — this is the contributing-seed guard:
  * a seed whose crossing didn't invalidate anything would assert the
  * repair over nothing), the divergence must be confined to carrier
  * endpoints, and [[Pipeline.compactionRepair]] must land exactly on
  * the full rebuild, pair for pair.
  *
  * Sizes: carriers ≈ the 100-doc cap by design (that is the point);
  * the random filler stays far under every OTHER cap (BAND_CAP
  * groups, EMBED_CELL_CAP cells), so the only structural boundary in
  * play is the planted one.
  */
class CompactionPropSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Random corpus + forced crossing. Returns the carrier id set. */
  private def writeCrossedCorpus(dir: String, seed: Int): Set[Long] = {
    import spark.implicits._
    val rnd = new Random(seed)
    val vocab = (0 until 25).map(i => s"w$i")
    // random filler: ids 1..200, mixed base/batch by id % 10, exact
    // duplicates for the demotion paths
    val nDocs = 30 + rnd.nextInt(30)
    val ids = rnd.shuffle((1 to 200).toList).take(nDocs).map(_.toLong).sorted
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val filler = ids.map { id =>
      val text =
        if (texts.nonEmpty && rnd.nextDouble() < 0.25)
          texts(rnd.nextInt(texts.size))
        else
          Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts += text
      (id, text)
    }
    // the forced crossing: base carriers keep the shared trigram's df
    // under the cap (94..100), the batch pushes it over (101..105).
    // Carrier shape is the crossed-plant geometry (3 shared + 4
    // unique tokens → 1 shared kept shingle of 5, jaccard 1/9 ≥ 0.10)
    val nBase = 94 + rnd.nextInt(7)
    val nFull = 101 + rnd.nextInt(5)
    val nBatch = nFull - nBase
    val off = 1000L
    def carrier(id: Long): (Long, String) =
      (id, s"zc0 zc1 zc2 zu${id}a zu${id}b zu${id}c zu${id}d")
    val baseCarriers = (0 until nBase).map(i => carrier(off + 10 * i + 1))
    val batchCarriers = (0 until nBatch).map(i => carrier(off + 10 * i + 7))
    val all = filler ++ baseCarriers ++ batchCarriers
    all.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    if (seed % 2 == 0) {
      val emb = ids.filter(_ => rnd.nextDouble() < 0.6).map { id =>
        (id, Array.fill(4)((1 + rnd.nextInt(3)).toFloat), rnd.nextInt(2))
      }
      if (emb.nonEmpty)
        emb.toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    (baseCarriers ++ batchCarriers).map(_._1).toSet
  }

  private def fullRebuild(dir: String): Set[(Long, Long)] = {
    val lex = Pipeline.ngramJaccard(spark, dir).select("a_id", "b_id")
      .union(Pipeline.simhashPairs(spark, dir).select("a_id", "b_id"))
    val withSem =
      if (Files.exists(java.nio.file.Paths.get(dir, "embeddings.parquet")))
        lex.union(Pipeline.embedNearDup(spark, dir).select("a_id", "b_id"))
      else lex
    pairs(withSem.distinct())
  }

  (1 to 4).foreach { seed =>
    test(s"forced cap crossing: repair ≡ full rebuild on random corpus (seed $seed)") {
      val dir = Files.createTempDirectory(s"compaction-prop-$seed-").toString
      val carriers = writeCrossedCorpus(dir, seed)
      try {
        val full = fullRebuild(dir)
        val maintained = pairs(Pipeline.incrEdges(spark, dir))
        val stale = maintained -- full
        // contributing-seed guard: the crossing must invalidate the
        // under-cap carrier clique in the maintained graph — a seed
        // with nothing stale would make the repair assertion vacuous
        assert(stale.size >= 1000,
          s"seed $seed: carrier clique (~C(${carriers.size - 5},2)) must be " +
            s"stale, got ${stale.size}")
        assert(stale.forall { case (a, b) =>
            carriers.contains(a) && carriers.contains(b) },
          s"seed $seed: divergence must be confined to carrier endpoints")
        val repaired = Pipeline.compactionRepair(spark, dir)
        assert(pairs(repaired) == full,
          s"seed $seed: repair must reproduce the full rebuild; " +
            s"extra: ${(pairs(repaired) -- full).take(5)}; " +
            s"missing: ${(full -- pairs(repaired)).take(5)}")
        // kept rows never touch a carrier (every carrier is in the
        // crossing's blast radius, so its pairs all go through the
        // rebuild stage)
        val kept = repaired.filter(!repaired("repaired")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(kept.forall { case (a, b) =>
            !carriers.contains(a) && !carriers.contains(b) },
          s"seed $seed: kept rows must not touch the crossing")
      } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
    }
  }
}
