package graft.queries

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Randomized epoch-schedule ≡ first-principles identity — the seeded
  * sweep [[EpochScheduleSpec]]'s single engineered corpus doesn't
  * give: each seed builds a random multi-source corpus (random source
  * count, random per-doc token counts, one deliberately tiny source
  * so the repeat CEILING binds every seed) and the test rebuilds the
  * ENTIRE query from first principles in a third engine — plan
  * arithmetic (target = 4·total div n_src, milli = min(4000,
  * target·1000 div mass)) in plain Long math, the fractional coin and
  * the per-copy shuffle key via java.security MD5, the packing prefix
  * sum by an explicit sort — and asserts the Spark result row-for-row
  * (copies, spread keys, cum_before, shard ids). Contributing-seed
  * guards: every seed must exercise the cap arm AND a fractional
  * source with BOTH coin arms live.
  */
class EpochSchedulePropSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def md5Long(s: String, hexChars: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(hexChars)
    java.lang.Long.parseLong(hex, 16)
  }
  private def coinMilli(id: Long): Long = md5Long(s"epoch|$id", 8) % 1000L
  private def schedKey(id: Long, k: Long): Long = md5Long(s"epsh|$id#$k", 12)

  (1 to 4).foreach { seed =>
    test(s"schedule ≡ third-engine rebuild on random corpus (seed $seed)") {
      import spark.implicits._
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"epoch-prop-$seed-").toString
      try {
        val nSrc = 3 + rnd.nextInt(4)
        val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
        var id = 1L
        // source 0 is deliberately tiny: one 2-token doc, so the cap
        // arm binds on every seed
        docs += ((id, 2, "src0")); id += 1
        (1 until nSrc).foreach { sIdx =>
          (0 until (8 + rnd.nextInt(25))).foreach { _ =>
            docs += ((id, 2 + rnd.nextInt(19), s"src$sIdx")); id += 1
          }
        }
        docs.toSeq.map { case (d, n, src) =>
          (d, (0 until n).map(j => s"d${d}t$j").mkString(" "), src)
        }.toDF("doc_id", "text", "source")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")

        // third-engine plan arithmetic
        val mass = docs.groupBy(_._3).view.mapValues(_.map(_._2.toLong).sum).toMap
        val total = mass.values.sum
        val target = 4L * total / nSrc
        val milli = mass.view.mapValues(m => math.min(4000L, target * 1000L / m)).toMap
        assert(milli("src0") == 4000L, s"seed $seed: cap arm must bind: $milli")
        val fracSrcs = milli.filter { case (_, m) => m % 1000L != 0L }.keySet
        assert(fracSrcs.nonEmpty, s"seed $seed: need a fractional source: $milli")

        // third-engine expansion + packing
        val copies = docs.flatMap { case (d, n, src) =>
          val m = milli(src)
          val nc = m / 1000L + (if (coinMilli(d) < m % 1000L) 1L else 0L)
          (0L until nc).map(k => (d, k, src, n.toLong, schedKey(d, k)))
        }
        val fracArms = fracSrcs.map { s =>
          val ds = docs.filter(_._3 == s).map(_._1)
          val w = ds.count(d => coinMilli(d) < milli(s) % 1000L)
          (w, ds.size)
        }
        assert(fracArms.exists { case (w, n) => w > 0 && w < n },
          s"seed $seed: both coin arms must be live on a fractional " +
            s"source: $fracArms")
        val sorted = copies.sortBy(c => (c._5, c._1 * 4 + c._2))
        var run = 0L
        val expect = sorted.map { c =>
          val row = ((c._1, c._2), (c._3, c._4, c._5, run, run / 4096L))
          run += c._4
          row
        }.toMap

        val got = Pipeline.epochSchedule(spark, dir).collect().map(r =>
          (r.getLong(0), r.getLong(1)) ->
            ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
              r.getLong(6)))).toMap
        assert(got.keySet == expect.keySet,
          s"seed $seed: copy multiset: extra ${(got.keySet -- expect.keySet).take(5)}, " +
            s"missing ${(expect.keySet -- got.keySet).take(5)}")
        got.foreach { case (key, row) =>
          assert(row == expect(key), s"seed $seed doc/copy $key: $row vs ${expect(key)}")
        }
      } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
    }
  }
}
