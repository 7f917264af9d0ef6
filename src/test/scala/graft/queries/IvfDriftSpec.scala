package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Boundary semantics of the IVF drift monitor on an engineered
  * corpus: a brand-new cell (every member batch-id) must flag with a
  * NULL drift, a batch-free cell must read zero drift and stay quiet,
  * and a heavy asymmetric batch arrival must flag on growth.
  */
class IvfDriftSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("new cell flags with NULL drift; batch-free cell reads zero and stays quiet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivf-drift-").toString
    try {
      val rows = Seq(
        // cell 0: batch-free (ids ≢ 7 mod 10) — zero drift, quiet
        (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.0f, 1.0f)),
        (3L, 0, Seq(1.0f, 1.0f)), (4L, 0, Seq(0.5f, 0.5f)),
        (5L, 0, Seq(0.25f, 0.75f)), (6L, 0, Seq(0.75f, 0.25f)),
        (8L, 0, Seq(0.1f, 0.9f)), (9L, 0, Seq(0.9f, 0.1f)),
        (10L, 0, Seq(0.3f, 0.3f)), (11L, 0, Seq(0.6f, 0.6f)),
        (12L, 0, Seq(0.2f, 0.8f)),
        // cell 1: entirely batch — a brand-new cell
        (7L, 1, Seq(1.0f, 2.0f)), (17L, 1, Seq(2.0f, 1.0f)),
        // cell 2: 11 base + 2 batch (>10% growth) — flags on growth
        (20L, 2, Seq(0.0f, 0.0f)), (21L, 2, Seq(0.0f, 0.0f)),
        (22L, 2, Seq(0.0f, 0.0f)), (23L, 2, Seq(0.0f, 0.0f)),
        (24L, 2, Seq(0.0f, 0.0f)), (25L, 2, Seq(0.0f, 0.0f)),
        (26L, 2, Seq(0.0f, 0.0f)), (28L, 2, Seq(0.0f, 0.0f)),
        (29L, 2, Seq(0.0f, 0.0f)), (30L, 2, Seq(0.0f, 0.0f)),
        (31L, 2, Seq(0.0f, 0.0f)),
        (27L, 2, Seq(1.0f, 1.0f)), (37L, 2, Seq(1.0f, 1.0f))) ++
        // cell 3: 11 base at the origin + ONE far batch vector — 1×10
        // < 11 keeps the growth clause quiet, so recluster_due can
        // only fire through the drift floor (isolates that branch:
        // drift = 2 dims × |3e6·11 − 0|/(12·11) = 2 × 250000 = 500000)
        (40 to 50).map(i => ((if (i % 10 == 7) i + 5 else i).toLong, 3, Seq(0.0f, 0.0f))) ++
        Seq((57L, 3, Seq(3.0f, 3.0f))) ++
        // cell 4: a brand-new all-batch cell of EMPTY embeddings — no
        // per-pos rows exist, and an inner cnt↔numer join would drop
        // exactly the row whose recluster_due mattered most
        Seq((67L, 4, Seq.empty[Float]))
      rows.toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      // the Over variant with cell := label — this spec pins the
      // MONITOR arithmetic; the public operator's learned-quantizer
      // assignment is pinned by the x_ivf_drift oracle row
      val got = Pipeline.ivfDriftOver(spark,
          spark.read.parquet(s"$dir/embeddings.parquet")
            .withColumn("cell", org.apache.spark.sql.functions.col("label")))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))))
        .toMap
      assert(got(0) == ((11L, 0L, Some(0L), false)),
        s"batch-free cell must read zero drift, quiet: ${got(0)}")
      assert(got(1) == ((0L, 2L, None, true)),
        s"brand-new cell must flag with NULL drift: ${got(1)}")
      val (nb, nbatch, drift, due) = got(2)
      assert(nb == 11L && nbatch == 2L && due,
        s"heavy batch arrival must flag on growth: ${got(2)}")
      // drift: base mean (0,0) → full mean (2/13, 2/13): 2 dims ×
      // 153846 micro each = 307692
      assert(drift == Some(307692L), s"exact drift expected: $drift")
      // cell 3: growth quiet (10 < 11) — the flag can ONLY come from
      // the drift floor
      assert(got(3) == ((11L, 1L, Some(500000L), true)),
        s"drift floor must fire alone: ${got(3)}")
      // cell 4: empty-embedding all-batch cell must SURVIVE the
      // numerator join with NULL drift and still flag as new
      assert(got(4) == ((0L, 1L, None, true)),
        s"empty-embedding new cell must stay in the monitor: ${got(4)}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }
}
