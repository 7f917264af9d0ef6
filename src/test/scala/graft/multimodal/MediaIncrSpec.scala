package graft.multimodal

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** The incremental media-dedup contract: linking the arriving batch
  * against the persisted frame index yields EXACTLY the pairs a full
  * from-scratch rebuild produces for the batch's slice — and the
  * incremental plan actually consumes the bucketed index layout
  * instead of re-shuffling the corpus-scale posting table.
  */
class MediaIncrSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet

  test("incremental pairs ≡ full rebuild restricted to batch; bucketed index plan") {
    val adir = Multimodal.ensureMediaPlanted(spark, dir).toString
    val full = rows(Multimodal.mediaNearDup(spark, adir)
      .filter(col("a_id") % 10 === 7 || col("b_id") % 10 === 7))
    val inc = Multimodal.incrMedia(spark, dir)
    val got = rows(inc)
    assert(got.nonEmpty,
      "planted corpus must give the batch genuine links (vacuous otherwise)")
    assert(got == full,
      s"incremental must equal the rebuild's batch slice: " +
        s"extra=${(got -- full).take(5)} missing=${(full -- got).take(5)}")
    // the posting side arrives bucketed on frame_md5: the group
    // aggregation must consume the layout, not re-exchange the index
    val p = inc.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"),
      "the frame index scan must be bucket-aware:\n" + p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(frame_md5"),
      "the posting table must never re-shuffle on its bucket key:\n" + p.take(3000))
  }

  test("sub-window containment: a variant under one window links by byte prefix; boilerplate prefixes capped") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("subwin-").toString
    try {
      val alpha = ('a' to 'z').mkString(" ")
      val longText = alpha + " " + alpha
      val docs = Seq(
        // video source (doc % 3 = 2): payload MPEG4 + 103 chars
        (2L, longText),
        // sub-window variant: first 20 chars → 25-byte payload, an
        // exact byte prefix of doc 2's payload
        (5L, longText.take(20)),
        // unrelated video, long enough for windows, shares no prefix
        (8L, ("z" * 80)),
        // boilerplate probe: a 2-char sub whose prefix is shared by
        // MANY carriers — the df-cap must kill the feature before it
        // fans out
        (11L, "qq")) ++
        // 101 carriers all starting "qq" (> FRAME_DF_CAP with the sub)
        (0 until 101).map(i => ((14 + 3 * i).toLong, s"qq filler ${"%03d".format(i)} ${"x" * 70}"))
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val pairs = rows(Multimodal.mediaNearDup(spark, tmp))
      // the prefix link: containment exactly 1.0, jaccard = 25/108
      // bytes (payload lengths 25 and 5+103)
      val sub = pairs.filter(p => p._1 == 2L && p._2 == 5L)
      assert(sub.size == 1 && sub.head._4 == 1.0 &&
        math.abs(sub.head._3 - 25.0 / 108.0) < 1e-12,
        s"sub-window variant must link to its source by byte prefix: $pairs")
      // the qq-prefix sub must link to NOTHING: its only feature is
      // boilerplate (102 carriers > cap)
      assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L),
        s"boilerplate prefix must be capped before pairing: " +
          pairs.filter(p => p._1 == 11L || p._2 == 11L))
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(tmp))
  }
}
