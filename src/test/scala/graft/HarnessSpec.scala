package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness's shared decisions: the ceiling table every
  * gated Bench run reads, the query-list argument every harness parses,
  * and the call-site form of a plan dump. None needs a Spark session.
  */
class HarnessSpec extends AnyFunSuite {

  test("the shipped ceiling table gates exactly the registry, one sorted line per query") {
    val lines = scala.io.Source.fromResource("graft/ceilings.tsv").getLines().toList
    val names = lines.map(_.split("\t", -1).head)
    assert(names == names.sorted)
    assert(Bench.BaselineSec.keySet == SparkEntry.queries.keySet)
    assert(Bench.BaselineSec.size == 162)
  }

  test("parseCeilings rejects each malformed line, naming its line number") {
    val good = "q_a\t1.5\tquiet max of min-of-2, doubled"
    assert(Bench.parseCeilings(Seq(good, "q_b\t0.3\tr")) == Map("q_a" -> 1.5, "q_b" -> 0.3))
    val malformed = Seq(
      "q_b\t0.3" -> "expected name<TAB>seconds<TAB>reason",
      "q_b\t0.3\tr\textra" -> "expected name<TAB>seconds<TAB>reason",
      "q_b\t0.3\t " -> "expected name<TAB>seconds<TAB>reason",
      "" -> "expected name<TAB>seconds<TAB>reason",
      "Q-b\t0.3\tr" -> "name is not [a-z0-9_]+",
      " q_b\t0.3\tr" -> "name is not [a-z0-9_]+",
      "q_b\t0\tr" -> "not a positive finite number",
      "q_b\t-1.0\tr" -> "not a positive finite number",
      "q_b\tNaN\tr" -> "not a positive finite number",
      "q_b\tInfinity\tr" -> "not a positive finite number",
      ("q_b\t" + "9" * 400 + "\tr") -> "not a positive finite number",
      "q_b\t2.0d\tr" -> "not a positive finite number",
      "q_b\tfast\tr" -> "not a positive finite number",
      "q_a\t2.0\tr" -> "repeated name q_a")
    malformed.foreach { case (line, why) =>
      val e = intercept[IllegalArgumentException](Bench.parseCeilings(Seq(good, line)))
      assert(e.getMessage.startsWith("ceiling table line 2: "), line)
      assert(e.getMessage.contains(why), line)
    }
  }

  test("select trims a padded list and names every unknown query") {
    assert(SparkEntry.select(Some(" q_topk , ,x_cluster_sizes,q_topk ")).map(_._1) ==
      Seq("q_topk", "x_cluster_sizes"))
    assert(SparkEntry.select(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Some(" , ")).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_topk,q_topkk, x_nope")))
    assert(e.getMessage.contains("q_topkk") && e.getMessage.contains("x_nope"))
  }

  test("PlanProbe drops the line number from each Scala call site in a dump") {
    val line = "Arguments: [doc_id#13L], MapPartitionsRDD[8] at localCheckpoint at " +
      "Pipeline.scala:4034, ExistingRDD, UnknownPartitioning(0)"
    assert(PlanProbe.dropCallSiteLines(line) ==
      "Arguments: [doc_id#13L], MapPartitionsRDD[8] at localCheckpoint at " +
        "Pipeline.scala, ExistingRDD, UnknownPartitioning(0)")
    assert(PlanProbe.dropCallSiteLines("a at X.scala:1\nb at Y.scala:22 and Z.java:3") ==
      "a at X.scala\nb at Y.scala and Z.java:3")
  }
}
