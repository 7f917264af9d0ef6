package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Hand-arithmetic semantics of the epoch-schedule realization
  * (`x_epoch_schedule`) on a corpus engineered so every arm of the
  * repeat factor is live and exactly computable:
  *
  *   total = 452 tokens over 4 sources → target_tok = 452 per source
  *   - srcA: 1 doc × 6 tok   → 452000÷6 ≫ cap → 4000 milli (CAP arm)
  *   - srcB: 15 docs × 8 tok → 452000÷120 = 3766 milli (FRACTIONAL:
  *     3 full repeats + a 766-milli coin)
  *   - srcC: 113 docs × 2 tok → 452000÷226 = 2000 milli (INTEGRAL
  *     boundary: frac = 0, NO doc may draw an extra copy)
  *   - srcD: 10 docs × 10 tok → 452000÷100 = 4520 → capped 4000
  *
  * The fractional coin is recomputed here with java.security MD5 (the
  * third-engine discipline), so the spec derives the expected copy
  * count of every B doc from first principles and pins: per-source
  * scheduled mass ≡ the plan's realized_tok EXACTLY on integral and
  * capped sources, and ≡ the coin expansion exactly on the fractional
  * one; the frac-0 boundary (no third copy in C regardless of coin);
  * both coin arms live among the B docs; and the packing invariants
  * (unique (doc_id, k), budget shard ids, prefix footing, repeats
  * scattered by the per-copy key).
  */
class EpochScheduleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def coinMilli(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"epoch|$id".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 1000L
  }

  test("every repeat arm exact: cap, fractional coin, and the frac-0 boundary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("epoch-schedule-").toString
    try {
      def toks(id: Long, n: Int): String =
        (0 until n).map(j => s"d${id}w$j").mkString(" ")
      val a = Seq(1L).map(id => (id, toks(id, 6), "srcA"))
      val b = (10L until 25L).map(id => (id, toks(id, 8), "srcB"))
      val c = (100L until 213L).map(id => (id, toks(id, 2), "srcC"))
      val d = (300L until 310L).map(id => (id, toks(id, 10), "srcD"))
      val docs = a ++ b ++ c ++ d
      docs.toDF("doc_id", "text", "source")
        .withColumn("lang", org.apache.spark.sql.functions.lit("xx"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // the plan the schedule must realize
      val plan = Pipeline.epochPlan(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(5), r.getLong(6)))).toMap
      assert(plan("srcA")._1 == 4000L && plan("srcD")._1 == 4000L,
        s"cap arm: $plan")
      assert(plan("srcB")._1 == 3766L, s"fractional arm: $plan")
      assert(plan("srcC")._1 == 2000L, s"integral boundary: $plan")

      val rows = Pipeline.epochSchedule(spark, dir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      // (doc_id, k) unique; k contiguous from 0 per doc
      val byDoc = rows.groupBy(_._1)
      assert(rows.length == rows.map(t => (t._1, t._2)).distinct.length)
      byDoc.foreach { case (id, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (0L until rs.length).toSeq,
          s"doc $id repeat indices must be 0..n-1: ${rs.map(_._2).sorted.toSeq}")
      }
      // cap sources: exactly 4 copies each
      (a ++ d).foreach { case (id, _, _) =>
        assert(byDoc(id).length == 4, s"cap doc $id: ${byDoc(id).length}")
      }
      // integral boundary: exactly 2, NEVER a coin copy
      c.foreach { case (id, _, _) =>
        assert(byDoc(id).length == 2, s"frac-0 doc $id: ${byDoc(id).length}")
      }
      // fractional: 3 + (third-engine coin < 766), both arms live
      val winners = b.map(_._1).count(coinMilli(_) < 766L)
      b.foreach { case (id, _, _) =>
        val expect = 3 + (if (coinMilli(id) < 766L) 1 else 0)
        assert(byDoc(id).length == expect,
          s"B doc $id coin ${coinMilli(id)}: ${byDoc(id).length} vs $expect")
      }
      assert(winners > 0 && winners < b.length,
        s"both coin arms must be live among B docs: $winners/${b.length}")

      // per-source mass ≡ plan: exact on integral/capped sources,
      // coin-exact on the fractional one
      val mass = rows.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
      assert(mass("srcA") == 24L && mass("srcA") == plan("srcA")._2)
      assert(mass("srcD") == 400L && mass("srcD") == plan("srcD")._2)
      assert(mass("srcC") == 452L && mass("srcC") == plan("srcC")._2)
      assert(mass("srcB") == 360L + 8L * winners,
        s"srcB mass ${mass("srcB")} vs coin expansion ${360L + 8L * winners} " +
          s"(plan realized ${plan("srcB")._2})")

      // packing invariants: budget shard ids, prefix foots to the
      // scheduled mass, per-copy keys scatter (all distinct, and at
      // least one doc's repeats are NON-adjacent in key order)
      assert(rows.forall(t => t._7 == t._6 / 4096L))
      assert(rows.map(t => t._6 + t._4).max == rows.map(_._4).sum)
      assert(rows.map(_._5).distinct.length == rows.length,
        "per-copy shuffle keys must be distinct")
      val keyOrder = rows.sortBy(t => (t._5, t._1 * 4 + t._2)).map(_._1)
      val adjacentOnly = byDoc.filter(_._2.length > 1).forall { case (id, rs) =>
        val pos = keyOrder.zipWithIndex.collect { case (d, i) if d == id => i }
        pos.max - pos.min == rs.length - 1
      }
      assert(!adjacentOnly,
        "the per-copy key must scatter at least one doc's repeats")

      // the calibration eval over the same corpus: integral/capped
      // sources read dev_milli = 0 exactly; the fractional source's
      // realized milli is the coin expansion's, to the division grain
      val real = Pipeline.epochRealized(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
      assert(real("srcA") == ((4L, 24L, 4000L, 0L)), s"srcA: ${real("srcA")}")
      assert(real("srcD") == ((40L, 400L, 4000L, 0L)), s"srcD: ${real("srcD")}")
      assert(real("srcC") == ((226L, 452L, 2000L, 0L)), s"srcC: ${real("srcC")}")
      val bMass = 360L + 8L * winners
      val bMilli = bMass * 1000L / 120L
      assert(real("srcB") == (((45L + winners, bMass, bMilli,
        bMilli - 3766L))), s"srcB: ${real("srcB")} vs coin expansion")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("scheduled copies export through the sink: manifest order carries the permutation with duplicate doc_ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the full pre-training path keep → epochs → shuffle → pack → sink:
    // the schedule's per-copy key IS the permutation; map it onto the
    // export frame (text joined back by doc_id) and drive the SAME sink
    // entry the batch capstone uses, at a small threshold so rollover
    // fires. The repeat stream exercises the one property the
    // kept-slice export can't: manifest order ≡ permutation order with
    // DUPLICATE doc_ids present.
    val dir = Files.createTempDirectory("epoch-export-").toString
    val sinkRoot = Files.createTempDirectory("epoch-export-sink-")
    try {
      def toks(id: Long, n: Int): String =
        (0 until n).map(j => s"d${id}w$j").mkString(" ")
      // the first test's engineered corpus: srcA/srcD cap at 4 copies,
      // so duplicates are guaranteed by construction
      val docs = Seq(1L).map(id => (id, toks(id, 6), "srcA")) ++
        (10L until 25L).map(id => (id, toks(id, 8), "srcB")) ++
        (100L until 213L).map(id => (id, toks(id, 2), "srcC")) ++
        (300L until 310L).map(id => (id, toks(id, 10), "srcD"))
      docs.toDF("doc_id", "text", "source")
        .withColumn("lang", org.apache.spark.sql.functions.lit("xx"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val text = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val packed = Pipeline.epochSchedule(spark, dir)
        .withColumnRenamed("sched_key", "shuffle_key")
        .join(text, Seq("doc_id"))
        .select(col("doc_id"), col("shuffle_key"), col("n_tokens"),
          col("cum_before"), col("shard_id"), col("text"))
        .localCheckpoint()
      val out = sinkRoot.resolve("corpus")
      val sink = Export.exportThroughSink(packed, out, 2048L)

      // the CorpusExportSpec invariants, now on the repeat stream
      val files = sink.writtenFiles
      assert(files.nonEmpty && files.map(_.getFileName.toString) ==
        files.indices.map(i => s"corpus-$i.parquet"))
      val keysAndIds = files.flatMap { f =>
        spark.read.schema(Export.exportSchema).parquet(f.toString)
          .select("shuffle_key", "doc_id").coalesce(1).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(keysAndIds == keysAndIds.sorted,
        "manifest order must carry the schedule permutation")
      val ids = keysAndIds.map(_._2)
      assert(ids.distinct.size < ids.size,
        "the repeat stream must carry duplicate doc_ids")
      // write → read identity on the repeat stream
      val back = spark.read.schema(Export.exportSchema)
        .parquet(out.toString).collect().map(_.toString).sorted
      val src = packed.collect().map(_.toString).sorted
      assert(back.length == src.length && back.sameElements(src))
    } finally {
      ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
      ParquetFiles.deleteTree(sinkRoot)
    }
  }
}
