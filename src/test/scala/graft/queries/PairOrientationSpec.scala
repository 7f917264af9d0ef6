package graft.queries

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** The one property no oracle can see: every downstream consumer of
  * the pair cores uses the SYMMETRIC `na + nb`, so a silent swap of
  * `na`/`nb` (e.g. a wrong `when` in the one-sided rewrite's
  * orientation restore, which must cope with nondeterministic
  * collect_list order) would pass all 104 hash checks and only bite a
  * future consumer that reads the sides individually. Pin the
  * orientation against a driver-side brute force on random corpora.
  */
class PairOrientationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def shingles(text: String): Set[String] = {
    val w = text.split(" ")
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  test("ngramPairCounts: c/na/nb match brute force with na on the smaller id") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      // every doc opens with one shared boilerplate trigram: 120 docs
      // put its df at 120 > SHINGLE_DF_CAP, so the CAPPED regime is
      // genuinely exercised (the brute force must drop it too) while
      // the random tails keep the sub-cap regime and asymmetric sizes
      val docs = (1 to 120).map { i =>
        val n = 5 + rnd.nextInt(8)
        val tail = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        (i.toLong, s"cap0 cap1 cap2 $tail")
      }
      val dir = Files.createTempDirectory(s"pair-orient-$seed").toString
      try {
        docs.toDF("doc_id", "text").write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")

        val df = docs.flatMap { case (_, t) => shingles(t).toSeq }
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(df.exists(_._2 > 100), s"seed $seed: cap regime must bind")
        val kept = docs.map { case (id, t) =>
          id -> shingles(t).filter(s => df(s) <= 100)
        }.toMap
        val expected = (for {
          (a, sa) <- kept; (b, sb) <- kept
          if a < b
          c = (sa intersect sb).size if c > 0
        } yield (a, b, c.toLong, sa.size.toLong, sb.size.toLong)).toSet

        val got = Pipeline.ngramPairCounts(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSet
        assert(got == expected,
          s"seed $seed: extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
        // the asymmetric pairs are the ones that detect a swap — make
        // sure the corpus actually contains some
        assert(expected.exists { case (_, _, _, na, nb) => na != nb },
          s"seed $seed: corpus must contain size-asymmetric pairs")
      } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
    }
  }
}
