package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banding core of the near-dup family (`x_minhash_lsh`/`est`,
  * `x_jaccard_sweep`, `x_ngram_jaccard`, `x_simhash_pairs`, the band
  * gate, and the incremental and compaction paths): each step of the
  * candidate derivation has one owner here — the minhash slot rule, the
  * band keys of both signatures, the band explode, the capped band
  * groups, and the two one-sided pair generators. A site whose shape
  * differs keeps its own code rather than a flag here.
  *
  * The DuckDB oracle keeps its own owners for the same steps
  * ([[minhashSigAggsSql]], [[minhashBandsSql]], [[simhashBandsSql]]),
  * written as SQL text, never derived from the Spark columns.
  */
object Banding {

  /** Band-group membership cap for the LSH near-dup family — the band
    * analog of [[Pipeline.SHINGLE_DF_CAP]]. Even after exact-dup
    * pre-collapse a band value can degenerate (all
    * near-identical-but-distinct variants of one template share a
    * band), and the band groups are materialized with `collect_list`,
    * which must stay bounded at any corpus size. Per (band_idx, band)
    * only the first `BAND_CAP` members by doc_id enter the group; later
    * members lose that band (they still pair through their other
    * bands). The truncation is part of the operator's semantics and the
    * DuckDB oracle applies the identical QUALIFY. The cap bounds
    * candidate fan-out per band at cap²/2 and the per-group payload at
    * cap members.
    */
  private[queries] val BAND_CAP = 100

  /** Keep the first [[BAND_CAP]] members (by doc_id) of every
    * (band_idx, band) group. row_number over the band partition is an
    * external (spillable) sort — a degenerate band is a slow task, not
    * an OOM — and the window's hash partitioning on (band_idx, band)
    * is reused verbatim by the groupBy that follows it in every
    * caller, so the cap costs no extra shuffle.
    */
  private[queries] def capBandGroups(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band_idx"), col("band")).orderBy(col("doc_id"))
    bands.withColumn("brn", row_number().over(w))
      .filter(col("brn") <= BAND_CAP)
      .drop("brn")
  }

  /** The slot rule: shingle `s`'s value in minhash slot `i`,
    * md5('<i>|' || s). The min over a doc's shingles of a
    * uniformly-distributed fixed-width digest is a valid min-hash, and
    * md5 is bit-identical across engines (unlike seeded MLlib
    * MinHashLSH). Callers take the min as an aggregate
    * ([[minhashSignature]]) or per row over a shingle array (the band
    * gate); both must read this one rule.
    */
  private[queries] def minhashSlot(i: Int, s: Column): Column =
    md5(concat(lit(s"$i|"), s).cast("binary"))

  /** The 8-slot signature `mh0..mh7` of shingle column `s`, as
    * aggregates over a doc's shingle rows.
    */
  private[queries] def minhashSignature(s: Column): Seq[Column] =
    (0 until 8).map(i => min(minhashSlot(i, s)).as(s"mh$i"))

  /** The 4 minhash band keys of an 8-slot signature: band b is slots
    * 2b and 2b+1 concatenated.
    */
  private[queries] def minhashBandKeys(slots: Seq[Column]): Seq[Column] =
    (0 until 4).map(b => concat(slots(2 * b), slots(2 * b + 1)))

  /** `(band_idx, band)`, one row per band, of a row carrying the
    * [[minhashSignature]] columns.
    */
  private[queries] def minhashBands: Column =
    explodeBands(minhashBandKeys((0 until 8).map(i => col(s"mh$i"))))

  /** `(band_idx, band)`, one row per band, of a 64-bit fingerprint:
    * band b is its b-th 16-bit slice. Hamming ≤ 3 leaves at least one
    * of the 4 slices identical, so band equality loses no pair.
    */
  private[queries] def simhashBands(simhash: Column): Column =
    explodeBands((0 until 4).map(b => shiftright(simhash, 16 * b).bitwiseAND(lit(0xFFFFL))))

  // map-side: each row explodes its own bands, no union re-scanning
  // the source
  private def explodeBands(keys: Seq[Column]): Column =
    posexplode(array(keys: _*)).as(Seq("band_idx", "band"))

  /** The capped band groups of `bands` (`doc_id, band_idx, band` and
    * the member's fields): per (band_idx, band) the first
    * [[BAND_CAP]] members' `member` structs as `g`, groups of one
    * dropped (they pair with nothing).
    */
  private[queries] def bandGroups(bands: DataFrame, member: Column): DataFrame =
    capBandGroups(bands).groupBy(col("band_idx"), col("band"))
      .agg(collect_list(member).as("g"))
      .filter(size(col("g")) >= 2)

  /** One-sided pair generation over the member list `g`: each `x`
    * paired with the STRICT TAIL after its position, so a group of n
    * expands to n(n-1)/2 `(x, y)` rows instead of n² filtered in half.
    * The list order is not the id order unless the caller sorted it, so
    * a caller that needs `a_id < b_id` restores it per row.
    */
  private[graft] def tailPairs(groups: DataFrame): DataFrame =
    groups.select(posexplode(col("g")).as(Seq("px", "x")), col("g"))
      .select(col("x"),
        explode(slice(col("g"), col("px") + lit(2), size(col("g")) - col("px") - lit(1))).as("y"))

  /** One-sided pair generation restricted to pairs with a touched end:
    * over the member list `g`, whose members carry `is_t` and the id
    * field `id`, each touched `x` is paired with every other member
    * `y`, and a pair whose ends are both touched keeps only its
    * smaller-id orientation. Each unordered pair with a touched end
    * comes out once per group; the cost is |touched ∩ g| × |g| per
    * group, so it scales with the batch, not the corpus.
    */
  private[graft] def touchingPairs(groups: DataFrame, id: String): DataFrame =
    groups.select(explode(col("g")).as("x"), col("g"))
      .filter(col("x.is_t"))
      .select(col("x"), explode(col("g")).as("y"))
      .filter(col(s"x.$id") =!= col(s"y.$id") &&
        (!col("y.is_t") || col(s"x.$id") < col(s"y.$id")))

  /** The oracle's [[minhashSignature]]: the 8 slot aggregates over a
    * shingle column `s`, as a SELECT-list fragment.
    */
  private[queries] val minhashSigAggsSql: String =
    (0 until 8).map(i => s"min(md5('$i|' || s)) AS mh$i").mkString(", ")

  /** The oracle's [[minhashBands]]: `(doc_id, band, band_idx)` rows of
    * the signature relation `sig`, as a `UNION ALL` of the 4 bands.
    */
  private[queries] def minhashBandsSql(sig: String): String =
    (0 until 4)
      .map(b => s"SELECT doc_id, mh${2 * b} || mh${2 * b + 1} AS band, $b AS band_idx FROM $sig")
      .mkString("\n  UNION ALL ")

  /** The oracle's [[simhashBands]]: `(doc_id, band_idx, band)` rows of
    * the fingerprint relation `fp`.
    */
  private[queries] def simhashBandsSql(fp: String): String =
    "SELECT doc_id, band_idx, (simhash >> (16 * band_idx)) & 65535 AS band\n" +
      s"  FROM $fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx)"
}
