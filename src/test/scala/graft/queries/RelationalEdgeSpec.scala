package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Hand-fixture semantics for the round-16 relational additions: the
  * cohort-retention gap rule, the event funnel's fixed three-stage
  * spine on an empty cohort, and the correlated-aggregate predicate's
  * exact strict boundary — edges the corpus oracle exercises only
  * statistically.
  */
class RelationalEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("retentionCohorts: gap weeks produce no row, ppm is exact against offset 0") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention-").toString
    try {
      def t(d: String) = java.sql.Timestamp.valueOf(s"$d 10:00:00")
      // week0 = 2024-01-01 (a Monday); user 1 active w0,w1,w2;
      // user 2 active w0,w2 (GAP at w1 — must contribute no row
      // there); user 3 first appears in w1 (its own cohort)
      val rows = Seq(
        (1L, t("2024-01-01"), 1L), (2L, t("2024-01-08"), 1L),
        (3L, t("2024-01-15"), 1L),
        (4L, t("2024-01-02"), 2L), (5L, t("2024-01-16"), 2L),
        (6L, t("2024-01-09"), 3L))
      rows.toDF("event_id", "ts", "user_id")
        .selectExpr("event_id", "ts", "user_id", "'click' AS event_type",
          "1.0 AS value", "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Relational.retentionCohorts(spark, dir).collect()
        .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq
      assert(got === Seq(
        ("2024-01-01", 0L, 2L, 1000000L),   // both w0 users
        ("2024-01-01", 1L, 1L, 500000L),    // user 2's gap: only user 1
        ("2024-01-01", 2L, 2L, 1000000L),   // both return
        ("2024-01-08", 0L, 1L, 1000000L)),  // user 3's own cohort
        s"retention matrix mismatch: $got")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("eventFunnel: always three stages, even when no user viewed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("funnel-").toString
    try {
      def t(hms: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hms")
      // no 'view' events: every stage's cohort is empty, yet the report
      // keeps its fixed three-row spine (0 users, NULL conversion)
      Seq((1L, t("10:00:00"), 1L, "click"), (2L, t("11:00:00"), 1L, "purchase"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .selectExpr("event_id", "ts", "user_id", "event_type",
          "1.0 AS value", "'{}' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Relational.eventFunnel(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          Option(r.get(3)))).toSeq
      assert(got === Seq((1, "view", 0L, None), (2, "click", 0L, None),
        (3, "purchase", 0L, None)), s"funnel spine mismatch: $got")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("correlatedAgg: a row exactly AT 20% of its part's average is NOT small (strict <)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corr-agg-").toString
    try {
      // part 1: (1, 100, 100) → sum 201, cnt 3; qty 1: 1·5·3 = 15 < 201
      //   → qualifies. part 2: (3, 27) → sum 30, cnt 2; qty 3:
      //   3·5·2 = 30 = sum → EXACTLY 20% of the average, strict <
      //   must exclude it, so brand BB is absent entirely.
      Seq((1L, 1.0, 11.11), (1L, 100.0, 1.0), (1L, 100.0, 2.0),
        (2L, 3.0, 5.0), (2L, 27.0, 6.0))
        .toDF("l_partkey", "l_quantity", "l_extendedprice")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Seq((1L, "BA"), (2L, "BB")).toDF("p_partkey", "p_brand")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
      val got = Relational.correlatedAgg(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === Seq(("BA", 1L, 11.11)),
        s"boundary row must not qualify, BB must be absent: $got")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("correlatedAgg: shipped explicit-aggregate plan ≡ correlated-subquery form") {
    // the registry ships the single per-partkey aggregate + join (two
    // lineitem scans — PlanSpec pins that); this keeps the correlated
    // form itself exercised in Spark (decorrelation path) and proves
    // the rewrite row-for-row on the real corpus, not just the hand
    // fixture above
    val dir = "/root/testdata/sf0.001"
    val a = Relational.correlatedAgg(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = Relational.correlatedAggSubqueryForm(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a.nonEmpty, "corpus fixture produced no qualifying brands")
    assert(a === b, s"explicit/correlated divergence:\n$a\nvs\n$b")
  }
}
