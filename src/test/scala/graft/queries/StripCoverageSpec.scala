package graft.queries

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.StripCoverageFunctions

/** The span-coverage strip kernel's contract: the native
  * [[graft.functions.StripCoverageTokens]] (r21) must equal the staged
  * higher-order-function form it replaces (the RepStripSpec / CdcSpec
  * kernel-parity discipline) — token j removed iff some flag x covers
  * it (x ≤ j ≤ x + cover), order preserved — on seeded random
  * flag sets, hand fixtures (overlap, adjacency, boundary spans,
  * empty flags, multibyte tokens), and both shipped span lengths
  * (contam 3, span 5). The full queries are pinned against DuckDB on
  * the real corpus by the oracle rows `x_contam_strip` and
  * `x_span_strip`.
  */
class StripCoverageSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The pre-r21 staged HOF form — the semantic reference. */
  private def hofKept(w: Column, fl: Column, cover: Long): Column =
    filter(w, (t, j) => !exists(fl,
      x => j.cast("long") >= x && j.cast("long") <= x + cover))

  private def kernelKept(w: Column, fl: Column, cover: Int): Column =
    StripCoverageFunctions.stripCoverage(spark, w, fl, lit(cover))

  private def checkParity(rows: Seq[(Seq[String], Seq[Long])],
      cover: Int): Unit = {
    import spark.implicits._
    val df = rows.toDF("w", "fl")
    val out = df.select(
        hofKept($"w", $"fl", cover.toLong).as("ref"),
        kernelKept($"w", $"fl", cover).as("got"))
      .collect()
    out.zip(rows).foreach { case (r, (w, fl)) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"kernel ≠ HOF for tokens=$w flags=$fl cover=$cover: " +
          s"ref=${r.getSeq[String](0)} got=${r.getSeq[String](1)}")
    }
  }

  test("kernel ≡ staged HOF on seeded random flag sets, both span lengths") {
    val rnd = new Random(21)
    val rows = (1 to 400).map { _ =>
      val n = rnd.nextInt(30) // 0..29 tokens: straddles empty/short docs
      val w = (0 until n).map(i => s"t${rnd.nextInt(6)}_$i")
      val nf = rnd.nextInt(6)
      // flags drawn over the full position range incl. tail starts
      val fl = (0 until nf).map(_ => rnd.nextInt(math.max(n, 1)).toLong)
        .distinct
      (w, fl)
    }
    checkParity(rows, cover = 2) // contam strip: spanLen 3
    checkParity(rows, cover = 4) // span strip: spanLen 5
  }

  test("hand fixtures: overlap, adjacency, boundary, empty flags, multibyte") {
    val rows: Seq[(Seq[String], Seq[Long])] = Seq(
      // overlapping spans merge their coverage
      (Seq("a", "b", "c", "d", "e", "f"), Seq(0L, 1L)),
      // adjacent spans leave no gap
      (Seq("a", "b", "c", "d", "e", "f"), Seq(0L, 3L)),
      // span starting at the last valid position covers the tail
      (Seq("a", "b", "c", "d", "e"), Seq(2L)),
      // empty flag array keeps everything
      (Seq("a", "b", "c"), Seq.empty[Long]),
      // whole-doc coverage empties the document
      (Seq("a", "b", "c"), Seq(0L)),
      // multibyte tokens pass through byte-identically
      (Seq("héllo", "wörld", "日本語", "x", "y"), Seq(1L)))
    checkParity(rows, cover = 2)
    checkParity(rows, cover = 4)
  }

  test("defensive inputs: out-of-range flags and null tokens keep parity") {
    // flags past the token range, negative, and Long.MaxValue (whose
    // x + cover wraps) cover nothing in BOTH forms; null tokens pass
    // through untouched positions in both forms
    val rows: Seq[(Seq[String], Seq[Long])] = Seq(
      (Seq("a", "b", "c"), Seq(5L)),            // start past the array
      (Seq("a", "b", "c"), Seq(3L)),            // start == n
      (Seq("a", "b", "c", "d"), Seq(-1L)),      // negative: covers 0..cover-1
      (Seq("a", "b", "c"), Seq(-10L)),          // fully before the array
      (Seq("a", "b", "c"), Seq(Long.MaxValue)), // x + cover wraps negative
      (Seq("a", "b", "c"), Seq(Long.MinValue))) // lo clamp at 0, hi < 0
    checkParity(rows, cover = 2)
    checkParity(rows, cover = 4)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("w", ArrayType(StringType, containsNull = true)),
      StructField("fl", ArrayType(LongType, containsNull = true))))
    val nullTok = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq("a", null, "c", "d"), Seq(2L)),
        Row(Seq(null, null), Seq.empty[Long])),
      schema)
    val out = nullTok.select(
        hofKept($"w", $"fl", 2L).as("ref"),
        kernelKept($"w", $"fl", 2).as("got"))
      .collect()
    out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"null-token parity: ref=${r.getSeq[String](0)} got=${r.getSeq[String](1)}"))
  }

  test("null FLAG elements: kernel skips them (documented divergence from the HOF)") {
    // A null flag element makes the HOF's exists() three-valued:
    // !NULL is NULL, so filter() DROPS every token no other flag
    // covers — the whole document vanishes. The kernel skips the null
    // element and keeps those tokens. Flags are collect_set output in
    // every declared query (never null), so the paths only differ on
    // corrupt input, where the kernel's skip is the intended
    // non-fatal behavior — pinned here AS the kernel's contract
    // rather than HOF parity (r22, ADVICE item).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("w", ArrayType(StringType, containsNull = true)),
      StructField("fl", ArrayType(LongType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq("a", "b", "c", "d", "e"), Seq(null, java.lang.Long.valueOf(0L))),
        Row(Seq("a", "b", "c"), Seq(null.asInstanceOf[java.lang.Long]))),
      schema)
    val got = df.select(kernelKept($"w", $"fl", 2).as("got")).collect()
    // row 1: flag 0 covers a,b,c; the null element is ignored → d,e kept
    assert(got(0).getSeq[String](0) == Seq("d", "e"))
    // row 2: only a null element → nothing covered, all tokens kept
    assert(got(1).getSeq[String](0) == Seq("a", "b", "c"))
    // and the HOF reference indeed diverges (drops uncovered tokens)
    val ref = df.select(hofKept($"w", $"fl", 2L).as("ref")).collect()
    assert(ref(0).getSeq[String](0) == Seq.empty[String])
    assert(ref(1).getSeq[String](0) == Seq.empty[String])
  }

  test("query-level: contamStrip and spanStrip outputs keep their shapes") {
    import spark.implicits._
    // seeded corpus with forced cross-doc 5-gram copies and a
    // benchmark doc (doc_id % 50 == 0) sharing 3-grams with training
    val copied = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (0L, s"$copied zeta", "xx", "s", 1L), // benchmark (id % 50 = 0)
      (1L, s"$copied eta theta", "xx", "s", 1L),
      (2L, s"unrelated tokens only here", "xx", "s", 1L),
      (3L, s"prefix $copied suffix", "xx", "s", 1L),
      (51L, "ab", "xx", "s", 1L)) // sub-span doc passes through
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-stripcov-")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val span = Pipeline.spanStrip(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // docs 1 and 3 share the 5-gram: every covered token cut
    assert(span(1L)._2 > 0 && span(3L)._2 > 0)
    assert(!span(1L)._1.contains("alpha") && span(1L)._1.contains("theta"))
    assert(span(3L)._1 == "suffix" || span(3L)._1.startsWith("prefix"),
      s"unexpected strip: ${span(3L)}")
    // untouched doc passes its original text through
    assert(span(2L) == ("unrelated tokens only here", 0L))
    assert(span(51L) == ("ab", 0L))
    val contam = Pipeline.contamStrip(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // benchmark doc 0 is not rewritten (not in output's training set);
    // training docs sharing its 3-grams lose the covered tokens
    assert(!contam.contains(0L))
    assert(contam(1L)._2 > 0)
    assert(contam(2L) == ("unrelated tokens only here", 0L))
  }
}
