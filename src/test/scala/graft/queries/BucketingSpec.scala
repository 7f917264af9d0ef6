package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The 100 TB co-location story, proven mechanically: two tables
  * bucketed by the same key into the same bucket count join WITHOUT
  * shuffling either side — the layout a production deployment
  * maintains for its hottest join keys (doc hash index, doc↔score,
  * doc↔embedding), where re-shuffling 100 TB per join is the
  * difference between minutes and hours. Local-mode managed tables
  * exercise the identical code path (`bucketBy` → bucket-aware scan →
  * Exchange elision) that a cluster warehouse uses.
  */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("bucketed-by-key tables join with zero exchanges") {
    import spark.implicits._
    val warehouse = Files.createTempDirectory("graft-bucketing-")
    val docs = (0L until 1000L).map(i => (i, s"text-$i"))
    val scores = (0L until 1000L).map(i => (i, i * 0.01))
    try {
      docs.toDF("doc_id", "text")
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", warehouse.resolve("docs_b").toString)
        .saveAsTable("docs_b")
      scores.toDF("doc_id", "score")
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", warehouse.resolve("scores_b").toString)
        .saveAsTable("scores_b")

      // force the shuffle-or-not decision to be about layout, not size
      val joined = spark.sql(
        """SELECT /*+ MERGE(d) */ d.doc_id, d.text, s.score
          |FROM docs_b d JOIN scores_b s ON d.doc_id = s.doc_id""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        "expected a sort-merge join over bucketed scans:\n" + plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed co-located join must not shuffle either side:\n" + plan.take(2000))
      assert(joined.count() == 1000L)

      // the same join WITHOUT bucketing shuffles both sides — the
      // contrast that makes the layout's value visible in the plan
      val flatDir = warehouse.resolve("docs_flat").toString
      docs.toDF("doc_id", "text").write.parquet(flatDir)
      val flat = spark.read.parquet(flatDir)
        .hint("merge")
        .join(spark.table("scores_b"), "doc_id")
      val flatPlan = flat.queryExecution.executedPlan.toString
      assert(flatPlan.contains("Exchange hashpartitioning"),
        "sanity: the unbucketed side must need a shuffle:\n" + flatPlan.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS docs_b")
      spark.sql("DROP TABLE IF EXISTS scores_b")
      graft.sink.ParquetFiles.deleteTree(warehouse)
    }
  }

  test("a bucketed layout of no rows reads back as an empty table with its columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bucketed-empty-")
    val layout = Artifacts.Bucketed(s"graft-bucketed-empty-${System.nanoTime}", "k", 4)
    try {
      val p = layout.ensure(spark, dir.toString, "|v1")(
        Seq((1L, "a")).toDF("k", "v").filter($"k" < 0))
      val t = layout.read(spark, p)
      assert(t.columns.toSeq == Seq("k", "v"))
      assert(t.schema.map(_.dataType.simpleString) == Seq("bigint", "string"))
      assert(t.count() == 0)
      val self = t.hint("merge").join(layout.read(spark, p), "k")
      assert(!self.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally {
      graft.sink.ParquetFiles.deleteTree(
        java.nio.file.Paths.get(sys.props("java.io.tmpdir"), layout.kind))
      graft.sink.ParquetFiles.deleteTree(dir)
    }
  }

  test("keep-map artifact: doc_id joins never shuffle the bucketed decision side") {
    // the real thing, not a toy: the dedup-decision artifact the
    // manifest family consumes, registered bucket-aware and joined
    // against documents on doc_id. The merge hint forces the join
    // shape the corpus-sized map gets at 100 TB (fixture-scale stats
    // would broadcast it and hide the layout) — exactly one exchange
    // may appear, and it must be the documents side.
    val dir = "/root/testdata/sf0.001"
    val km = Pipeline.keepMapOf(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang")
    val joined = docs.hint("merge").join(km, "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "expected the forced merge join:\n" + plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one exchange (documents side), got $exchanges:\n" +
        plan.take(3000))
    assert(joined.count() == docs.count())
  }

  test("sym-edge layout: the propagation join never shuffles the edge side") {
    // the components loop's per-round shape: sym edges joined on src
    // against the current labels. The edge side is the corpus-scale
    // operand at 100 TB — the bucketed layout must hand it to the
    // join already partitioned, leaving the (much smaller) labels
    // side as the only exchange. The merge hint blocks a broadcast
    // from hiding the layout at fixture scale.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val sym = Pipeline.symEdgesOf(spark, dir).select($"src", $"dst")
    val labels = sym.select($"src".as("id")).distinct()
      .select($"id", $"id".as("label"))
      .repartition(5) // deliberately misaligned, as round-k labels are
    val prop = sym.hint("merge")
      .join(labels.select($"id".as("src"), $"label".as("src_label")), "src")
    val plan = prop.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "expected the forced merge join:\n" + plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one exchange (labels side), got $exchanges:\n" +
        plan.take(3000))
    assert(prop.count() > 0)

    // symmetry + fam contract of the layout itself: every stored pair
    // appears in both directions within its family
    val e = Pipeline.symEdgesOf(spark, dir)
    val missing = e.as("f")
      .join(e.as("r"),
        $"f.src" === $"r.dst" && $"f.dst" === $"r.src" && $"f.fam" === $"r.fam",
        "left_anti")
    assert(missing.count() == 0, "sym layout must contain both directions of every pair")
  }

  test("keep-best incremental: today/base keep-maps diff without shuffling either map") {
    // keepBestIncr's touched-set derivation is a left join of the two
    // corpus-sized decision maps, and its passthrough a semi join of
    // yesterday's keep-best decisions against today's map — at 100 TB,
    // re-shuffling any of them per batch is exactly the cost the
    // aligned bucketed layouts delete.
    // The merge hint blocks a fixture-scale broadcast from hiding the
    // layout.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val today = Pipeline.keepMapOf(spark, dir).select($"doc_id", $"keep_id")
    val baseDir = Pipeline.ensureBaseCorpus(spark, dir).toString
    val base = Pipeline.keepMapOf(spark, baseDir)
      .select($"doc_id", $"keep_id".as("base_keep"))
    val diff = today.hint("merge").join(base, Seq("doc_id"), "left")
    val plan = diff.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "expected the forced merge join:\n" + plan.take(2000))
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucket-aligned map diff must not shuffle either side:\n" + plan.take(3000))
    assert(diff.count() > 0)

    // the untouched-cluster passthrough: yesterday's persisted
    // keep-best decisions joined on doc_id against today's map
    val pass = Pipeline.baseKeepBestOf(spark, dir).hint("merge")
      .join(today.select($"doc_id"), Seq("doc_id"), "left_semi")
    val passPlan = pass.queryExecution.executedPlan.toString
    assert(passPlan.contains("SortMergeJoin"),
      "expected the forced merge join:\n" + passPlan.take(2000))
    assert(!passPlan.contains("Exchange hashpartitioning"),
      "the keep-best passthrough must not shuffle either side:\n" + passPlan.take(3000))
    assert(pass.count() > 0)
  }
}
