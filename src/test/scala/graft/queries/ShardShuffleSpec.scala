package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The seeded shard shuffle's contracts on the real fixture: the
  * shuffled and unshuffled packings conserve documents and tokens
  * EXACTLY (same docs, same per-doc token counts, same total), the
  * scan-tree prefix sum reproduces a first-principles local running
  * total over the (shuffle_key, doc_id) order (the
  * exclusivePrefixSum uniform-key bucketing pin — PrefixSumSpec's
  * discipline re-run on the uniform-key tree), the permutation
  * actually permutes, and the shuffled fill audit accounts for every
  * token.
  */
class ShardShuffleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Third-engine twin of the shuffle key (java MD5, 12 hex chars). */
  private def skey(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"shuf7|$id".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  test("shuffled ≡ unshuffled on docs and tokens; prefix sum matches the local rebuild; order is a real permutation") {
    val plan = Pipeline.shardPlan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (doc_id, n_tokens)
    val shuf = Pipeline.shardShuffle(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))) // (doc_id, shuffle_key, n_tokens, cum_before, shard_id)

    // conservation: identical doc set, identical per-doc token counts
    assert(shuf.map(s => (s._1, s._3)).toSet == plan.toSet,
      "shuffle must conserve (doc, n_tokens) exactly")
    assert(shuf.map(_._3).sum == plan.map(_._2).sum)

    // the key is the declared third-engine md5 derivation
    shuf.take(50).foreach { s =>
      assert(s._2 == skey(s._1), s"doc ${s._1} key ${s._2} != ${skey(s._1)}")
    }

    // first-principles running total over (key, doc_id) order
    var cum = 0L
    shuf.sortBy(s => (s._2, s._1)).foreach { s =>
      assert(s._4 == cum, s"doc ${s._1}: cum_before ${s._4} != local $cum")
      assert(s._5 == cum / 4096L, s"doc ${s._1}: shard_id")
      cum += s._3
    }

    // the permutation must actually shuffle: in doc_id order the
    // running totals are NOT the unshuffled ones (some doc moved)
    val planCum = {
      var c = 0L
      plan.sortBy(_._1).map { case (id, nt) => val r = (id, c); c += nt; r }
    }.toMap
    assert(shuf.exists(s => planCum(s._1) != s._4),
      "seeded permutation left every doc at its unshuffled offset")
  }

  test("shuffled fill audit accounts for every token and anchors empty shards") {
    val st = Pipeline.shuffleStats(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Pipeline.shardPlan(spark, dir).collect().map(_.getLong(1)).sum
    assert(st.map(_._3).sum == total, "fill audit must conserve tokens")
    // the spine is contiguous: every shard id in [0, max] reports
    val ids = st.map(_._1)
    assert(ids.toSet == (0L to ids.max).toSet,
      s"shard spine must be contiguous: ${ids.toSeq.sorted}")
    st.foreach { case (_, _, tok, fill) =>
      assert(fill == tok * 1000000L / 4096L)
    }
  }
}
