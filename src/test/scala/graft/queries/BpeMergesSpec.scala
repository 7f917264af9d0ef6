package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.ParquetFiles

/** Hand-derived BPE training rounds: the classic low/lower/lowest
  * corpus pins argmax + tie-break + merge chaining, and an
  * abutting-pair corpus pins the two-pass replace rule the operator
  * declares (one replace pass skips a pair whose leading space the
  * previous match consumed; the second pass catches exactly those).
  */
class BpeMergesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("bpeMerges: low/lower/lowest — count ties break to symbol order, merges chain") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe-").toString
    try {
      Seq((1L, "low low lower"), (2L, "low lowest"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // vocab: low×3, lower×1, lowest×1
      // round 1 pairs: (l,o)=5, (o,w)=5, (w,e)=2, (e,r)=1, (e,s)=1,
      //   (s,t)=1 — tie at 5 breaks to 'l' < 'o' → merge (l,o)
      // round 2: (lo,w)=5 → merge; round 3: (low,e)=2 → merge
      val got = Pipeline.bpeMerges(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.toSeq == Seq(
        (1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "low", "e", 2L)),
        s"merge table must match hand-derived BPE rounds: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bpeSegment: per-lang symbol/char compression from the same merges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe-seg-").toString
    try {
      Seq((1L, "low low lower", "en"), (2L, "low lowest", "de"))
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // merges (l,o), (lo,w), (low,e) → post-merge symbol counts:
      //   low = 1, lower = 2 ('lowe', 'r'), lowest = 3 ('lowe','s','t')
      // en: 3 tokens, 11 chars, 4 syms → 363636 ppm
      // de: 2 tokens,  9 chars, 4 syms → 444444 ppm
      val got = Pipeline.bpeSegment(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(got.toSeq == Seq(
        ("de", 2L, 9L, 4L, 444444L), ("en", 3L, 11L, 4L, 363636L)),
        s"per-lang segmentation stats must match hand values: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bpeTrain: merging is lossless — post-merge symbols reassemble every word, counts shrink") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe-lossless-").toString
    try {
      // adversarial shapes: self-overlapping runs, palindromic
      // alternation, shared prefixes/suffixes, a singleton char
      Seq((1L, "abab abab baba aabb abba"), (2L, "aaaa aab bba b"),
          (3L, "banana bandana ananas"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val vocab = Pipeline.bpeTrain(spark, dir)._2
        .select(col("w"), col("syms")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(vocab.nonEmpty)
      vocab.foreach { case (w, syms) =>
        assert(syms.replace(" ", "") == w,
          s"merges must never corrupt the word: '$w' vs '$syms'")
        val n = syms.trim.split(" ").length
        assert(n >= 1 && n <= w.length,
          s"symbol count must stay within [1, chars]: '$w' → '$syms'")
      }
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bpeDrift: a batch arrival flips the argmax; exhausted rounds drop from both sides") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe-drift-").toString
    try {
      // base (ids ∉ batch): (x,y)=3, (a,b)=1 → merges (x,y) then (a,b)
      // full (+id 7 "ab ab ab ab"): (a,b)=5 beats (x,y)=3 → merges flip
      // both sides exhaust after round 2 → 2 rows, not 3
      Seq((1L, "xy xy xy"), (2L, "ab"), (7L, "ab ab ab ab"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Pipeline.bpeDrift(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getBoolean(5)))
      assert(got.toSeq == Seq(
        (1, "x", "y", "a", "b", true),
        (2, "a", "b", "x", "y", true)),
        s"planted batch must flip both rounds, third round exhausts: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("bpeMerges: abutting pairs fuse under the two-pass replace rule") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bpe-abut-").toString
    try {
      Seq((1L, "aaaa aaaa"), (2L, "ab"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Pipeline.bpeMerges(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      // round 1: 'aaaa' (freq 2) holds 3 adjacent (a,a) pairs → 6;
      // ' a a a a ' fuses to ' aa aa ' only because of the second
      // replace pass (pass 1 alone leaves ' aa a a ')
      assert(got(0) == ((1, "a", "a", 6L)), s"round 1: ${got.toSeq}")
      // round 2: (aa,aa)=2 beats (a,b)=1
      assert(got(1) == ((2, "aa", "aa", 2L)), s"round 2: ${got.toSeq}")
      // round 3: 'aaaa' is a single symbol now; only (a,b) remains
      assert(got(2) == ((3, "a", "b", 1L)), s"round 3: ${got.toSeq}")
    } finally ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
  }
}
