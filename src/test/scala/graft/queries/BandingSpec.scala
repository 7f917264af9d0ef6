package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TestSpark, Tables}
import graft.sink.ParquetFiles

/** The contracts the [[Banding]] owners carry for more than one
  * caller: the band gate's per-row slot form and the index build's
  * aggregate slot form must derive the same bands, and the touching
  * pair generator must emit each batch-touching pair once.
  */
class BandingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("gate and index read one slot rule: every indexed base doc scores itself at 1000000 ppm") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val base = Tables(spark, dir, "documents")
      .filter(!Pipeline.defaultBatchPred).select($"doc_id", $"text")
    val tmp = Files.createTempDirectory("graft-banding-")
    try {
      // stored and read back, as the deployed gate reads its index
      val idxPath = tmp.resolve("bands").toString
      Pipeline.corpusBandIndex(spark, base).write.parquet(idxPath)
      val idx = spark.read.parquet(idxPath)
      val stop = Pipeline.corpusStopShingles(spark, base)
      val indexed = idx.select(explode($"members").as("m"))
        .select($"m.doc_id".as("doc_id")).distinct()
      val scored = Pipeline.bandGateScored(spark, base, idx, stop)
        .join(indexed, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"gate_ppm")
        .as[(Long, Option[Long])].collect()
      assert(scored.length > 100, s"only ${scored.length} indexed docs")
      val off = scored.filterNot(_._2.contains(1000000L))
      assert(off.isEmpty, s"${off.length} indexed docs miss themselves: ${off.take(5).toSeq}")
    } finally ParquetFiles.deleteTree(tmp)
  }

  test("touchingPairs emits each unordered pair with a touched end exactly once") {
    import spark.implicits._
    def m(id: Long, t: Boolean) = struct(lit(id).as("asset_id"), lit(t).as("is_t"))
    // 1 and 4 untouched, 2 and 3 touched; a second group touches nothing
    val groups = spark.range(1).select(
      explode(array(
        array(m(1, false), m(2, true), m(3, true), m(4, false)),
        array(m(5, false), m(6, false)))).as("g"))
    val pairs = Banding.touchingPairs(groups, "asset_id")
      .select(least($"x.asset_id", $"y.asset_id"), greatest($"x.asset_id", $"y.asset_id"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(pairs === Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }
}
