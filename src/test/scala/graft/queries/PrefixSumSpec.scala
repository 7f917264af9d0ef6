package graft.queries

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The distributed scan tree ([[Pipeline.exclusivePrefixSum]]), in both
  * its bucketings, against a driver-side running sum, and the
  * shard-packing semantics built on it. The tree's whole reason to
  * exist is that results must not depend on how rows land in
  * partitions, so every case shuffles the input into a deliberately
  * unhelpful partitioning first.
  */
class PrefixSumSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("exclusivePrefixSum matches a sequential scan across all tree levels") {
    import spark.implicits._
    // rows are (key, tie, value), scanned in (key, tie) order through an
    // arbitrary, key-unaligned split
    def check(rows: Seq[(Long, Long, Long)], tie: Option[String]): Unit = {
      val df = rows.toDF("k", "t", "v").repartition(7)
      val got = Pipeline.exclusivePrefixSum(df, "k", "v", tie)
        .select("t", "cum_before").as[(Long, Long)].collect().toMap
      assert(got.size === rows.size)
      var acc = 0L
      rows.sortBy { case (k, t, _) => (k, t) }.foreach { case (k, t, v) =>
        assert(got(t) === acc, s"key $k tie $t")
        acc += v
      }
    }
    // dense keys: sparse, irregular, unique keys spanning multiple
    // level-1 (div 1000) and level-2 (div 1000000) buckets, so every
    // tier of the tree carries non-zero offsets; fixed seed keeps the
    // case reproducible
    val rnd = new Random(42)
    val keys = rnd.shuffle((0 until 2000).map(i => i.toLong * 1711L + rnd.nextInt(1000)))
      .distinct
    check(keys.map(k => (k, k, (k % 97) + 1)), None) // positive, key-derived values
    // uniform 48-bit keys in clusters: each cluster shares one
    // 2²⁸-wide level-1 bucket, the clusters spread over several
    // 2³⁸-wide level-2 buckets, and every third key is planted twice,
    // so only the tie column orders that pair
    val hashed = (0 until 60).flatMap { _ =>
      val bucket = (rnd.nextLong() >>> 16) & ~((1L << 28) - 1)
      Seq.fill(1 + rnd.nextInt(12))(bucket + rnd.nextInt(1 << 20))
    }
    assert(hashed.map(_ >>> 28).distinct.size < hashed.size, "no multi-row level-1 bucket")
    assert(hashed.map(_ >>> 38).distinct.size > 1, "one level-2 bucket only")
    val planted = hashed ++ hashed.indices.filter(_ % 3 == 0).map(hashed)
    check(rnd.shuffle(planted).zipWithIndex.map { case (k, t) => (k, t.toLong, t % 89 + 1L) },
      Some("t"))
  }

  test("shardPlan packs documents at the running token total, deterministically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("prefix-sum-").toString
    // 5000-token docs: budget 4096 → every doc starts a later shard
    // than its predecessor ends in; doc k starts at 5000k tokens
    (0L until 10L).map(i => (i, Seq.fill(5000)("tok").mkString(" ")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'synthetic' AS source",
        "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.shardPlan(spark, dir)
      .select("doc_id", "cum_before", "shard_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    got.foreach { case (id, cum, shard) =>
      assert(cum === id * 5000L)
      assert(shard === (id * 5000L) / 4096L)
    }
    // 5000-token docs on a 4096 budget skip shard ids (doc 4 starts in
    // shard 4, doc 5 in shard 6): the fill audit must surface skipped
    // shards as explicit zero rows, not omit them
    val stats = Pipeline.shardStats(spark, dir)
      .select("shard_id", "n_docs", "n_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // the spine runs to the last shard the final doc's span TOUCHES
    // (50000 total tokens → shard 12), past the last ASSIGNED shard (10)
    val maxTouched = (10L * 5000L - 1L) / 4096L
    assert(stats.map(_._1).toSeq === (0L to maxTouched),
      "audit must cover every shard id a document's span touches")
    val assigned = got.map(_._3).toSet
    stats.foreach { case (id, nDocs, nToks) =>
      if (assigned(id)) assert(nDocs > 0)
      else { assert(nDocs === 0L); assert(nToks === 0L) }
    }
  }
}
