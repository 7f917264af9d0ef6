package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10× scale probe for the dedup capstones — measures, on a corpus ten
  * times sf0.1, what the 100 TB claims for the components pass have so
  * far extrapolated from sf0.1 plus property tests: edge-graph build,
  * symmetrized layout, the full keep/drop decision (with
  * rounds-to-converge), the keep-map artifact, and the manifest
  * consumption, each timed cold (the fixture is rebuilt per invocation,
  * so its mtime re-keys every stamped artifact). A second block probes
  * the INCREMENTAL path at the same factor: persisted index state,
  * yesterday's base graph/labels, then the per-batch `x_incr_clusters`
  * and `x_compaction_signal` costs — `incr_sec` against
  * `edge_sec + components_sec` is the measured daily-batch-vs-full-
  * rebuild ratio the incremental design claims.
  *
  * The synthetic corpus is `factor` salted copies of the source
  * fixture, designed so the measurement is interpretable rather than
  * pathological:
  *
  *   - copy `c` appends `~c` to every whitespace token. That maps each
  *     copy's shingle space bijectively, so within-copy Jaccard,
  *     shingle document frequencies, and simhash band structure are
  *     preserved EXACTLY, while cross-copy token overlap is zero — the
  *     near-dup edge set scales linearly (≈ factor × the 1× edges, no
  *     quadratic cross-copy blowup and no artificial 10×-duplicate
  *     corpus where every doc has factor exact twins).
  *   - copy `c` rotates each embedding vector by `c` positions — an
  *     orthogonal transform, so within-copy cosine structure is exact
  *     and cross-copy cosine is decorrelated; `vec_id` shifts by the
  *     same offset as `doc_id`, keeping the row-alignment convention.
  *
  * Emits one JSON line per factor; the measured numbers land in
  * BASELINE.md ("sf1 scale probe" section). Run:
  * `sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 1,10"`.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt)
    val outRoot = args.lift(2).getOrElse("/tmp/graft-scale-probe")
    val spark = Sessions.builder("graft-scale-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb session/codegen startup so factor 1 isn't inflated
    Sessions.drive(spark.range(1000).selectExpr("sum(id)"))
    factors.foreach(f => runOne(spark, srcDir, s"$outRoot/f$f", f))
    spark.stop()
  }

  private def runOne(
      spark: SparkSession, srcDir: String, dir: String, factor: Int): Unit = {
    // isolate each timed step (the Bench attempt() discipline, one
    // shared copy — Sessions.isolateQueries): a prior step's pinned
    // posting tables or surviving checkpoints must not sit in
    // block-manager memory under a later measurement — at 30× that
    // pressure bends exactly the curves the probe exists to record
    def isolate(): Unit = Sessions.isolateQueries(spark)
    // every QUERY measurement is a Sessions.drive (never a .count(),
    // which Catalyst prunes — measured: the span audit collapsed to a
    // raw parquet count); row-contract counts run AFTER it
    def drive(name: String): Double = {
      isolate()
      r3(Sessions.drive(SparkEntry.queries(name)(spark, dir)))
    }
    val t0 = System.nanoTime()
    val nDocs = buildFixture(spark, srcDir, dir, factor)
    val tFixture = secsSince(t0)

    val t1 = System.nanoTime()
    val edgePath = queries.Pipeline.ensureEdgeGraph(spark, dir)
    val tEdge = secsSince(t1)
    val nEdges = spark.read.parquet(edgePath.toString).count()

    val t2 = System.nanoTime()
    queries.Pipeline.ensureSymEdges(spark, dir)
    val tSym = secsSince(t2)

    val tDecision = drive("x_dedup_full")
    val rounds = queries.Components.lastComponentsRounds

    val t4 = System.nanoTime()
    queries.Pipeline.ensureKeepMap(spark, dir)
    val tKeepMap = secsSince(t4)

    val tManifest = drive("x_corpus_manifest")

    val nDecision = SparkEntry.queries("x_dedup_full")(spark, dir).count()
    val nManifest = SparkEntry.queries("x_corpus_manifest")(spark, dir).count()
    require(nDecision == nDocs && nManifest == nDocs,
      s"decision/manifest row counts ($nDecision/$nManifest) != corpus size $nDocs")

    // the incremental path at scale: persisted index state, yesterday's
    // base graph/labels (the amortized compaction state), then the
    // per-batch cost — x_incr_clusters and the compaction monitor. The
    // headline ratio is incr_sec vs edge_sec + components_sec: what a
    // daily batch pays instead of the full rebuild measured above.
    val t6 = System.nanoTime()
    queries.Pipeline.ensureShingleIndex(spark, dir)
    queries.Pipeline.ensureFingerprints(spark, dir)
    val tIndex = secsSince(t6)

    val t7 = System.nanoTime()
    queries.Pipeline.ensureBaseLabels(spark, dir)
    queries.Pipeline.ensureBaseKeepBest(spark, dir)
    val tBaseState = secsSince(t7)

    val tIncr = drive("x_incr_clusters")
    val incrRounds = queries.Components.lastComponentsRounds

    val tSignal = drive("x_compaction_signal")
    val nIncr = SparkEntry.queries("x_incr_clusters")(spark, dir).count()
    require(nIncr > 0, "incremental clusters returned no rows")

    // the retrieval family at scale — the same measured treatment the
    // dedup capstones get: the IVF partition layout build (index
    // amortization), the nprobe-pruned probe (the pruned-scan claim:
    // cost tracks the probed cells' share, never the unprobed corpus),
    // the PQ search (codebook = driver-side cells×8 index metadata),
    // BM25 batch scoring (posting materialization + candidate-bounded
    // scoring), and the declared brute-force baseline for contrast.
    isolate()
    // the learned-quantizer training (round 12): the Lloyd E/M chain
    // over the full corpus, measured on its own line — this is the
    // "train the index" cost every ANN system amortizes, and its
    // growth curve (linear-ish in the corpus: three broadcast E-steps
    // + bounded M-steps) is the scale claim to verify
    val t9b = System.nanoTime()
    queries.Pipeline.ensureKmeansCentroids(spark, dir)
    val tKmTrain = secsSince(t9b)
    val t10 = System.nanoTime()
    queries.Pipeline.ensureIvfLayout(spark, dir)
    val tIvfLayout = secsSince(t10)
    val tNprobe = drive("x_ann_ivf_nprobe")
    val tPq = drive("x_ann_pq")
    val tBm25 = drive("x_bm25_batch")
    val tBrute = drive("x_sim_search")
    // the freshness pair: batch items retrievable under yesterday's
    // index statistics — their cost must track the stale-stats
    // aggregate + the batch, not re-pay the index build
    val tBm25Incr = drive("x_bm25_incr")
    val tAnnIncr = drive("x_ann_incr")
    val nProbe = SparkEntry.queries("x_ann_ivf_nprobe")(spark, dir).count()
    val nPq = SparkEntry.queries("x_ann_pq")(spark, dir).count()
    val nBm = SparkEntry.queries("x_bm25_batch")(spark, dir).count()
    val nBrute = SparkEntry.queries("x_sim_search")(spark, dir).count()
    val nAnnIncr = SparkEntry.queries("x_ann_incr")(spark, dir).count()
    val nBmIncr = SparkEntry.queries("x_bm25_incr")(spark, dir).count()
    require(nProbe > 0 && nPq > 0 && nBm > 0 && nBrute > 0 &&
      nAnnIncr > 0 && nBmIncr > 0,
      s"retrieval probes must return rows ($nProbe/$nPq/$nBm/$nBrute/$nAnnIncr/$nBmIncr)")

    // the round-10 maintenance/curation additions at scale: the
    // substring-level span audit (the one new shuffle consumer — its
    // posting join must stay linear in corpus size), the index-health
    // screen (three bounded aggregation pipelines), and the IVF
    // recluster repair (drift monitor + one broadcast-gated map pass)
    val tSpans = drive("x_dup_spans")
    val tHealth = drive("x_index_health")
    val tRecluster = drive("x_ivf_recluster")
    // the per-rule screen must stay linear: per-row rules fused into
    // the scan + one doc-keyed token aggregate
    val tHeuristic = drive("x_heuristic_filters")
    // the corpus-LM fluency score is the other new shuffle-consumer
    // family (bigram index): its claim is linear growth, like the
    // span audit; the keep-policy switch is a cheap keep-map consumer
    val tFluency = drive("x_bigram_fluency")
    val tKeepBest = drive("x_keep_best")
    // the policy layer's per-batch path: touched-cluster argmax +
    // bucketed passthrough — its cost must track the batch's blast
    // radius, not re-pay the full-corpus argmax measured above
    val tKeepBestIncr = drive("x_keep_best_incr")

    // the two repairs' scale curves (round-10 verdict item): each
    // claims affected-set-bounded per-run cost — the planted crossing
    // is FIXED-SIZE (105 docs at any corpus scale), so the repair
    // should stay near-flat against the growing edge_sec rebuild it
    // replaces. Pre-state (the crossed corpus, yesterday's base graph,
    // the persisted indexes) is built and timed separately, exactly
    // the incremental block's discipline.
    isolate()
    val t11 = System.nanoTime()
    val crossedDir = queries.Pipeline.ensureCrossedCorpus(spark, dir).toString
    val crossedBase = queries.Pipeline.ensureBaseCorpus(spark, crossedDir).toString
    queries.Pipeline.ensureEdgeGraph(spark, crossedBase)
    queries.Pipeline.ensureShingleIndex(spark, crossedDir)
    queries.Pipeline.ensureFingerprints(spark, crossedDir)
    val tRepairState = secsSince(t11)
    val tCompactionRun = drive("x_compaction_run")

    // the r21/r22 optimization rounds' changed operators (VERDICT r21
    // item 5: their 100 TB claims were plan-structural only — this is
    // the 1×/10× ladder row): the native strip kernel's two consumers,
    // the materialize-once export stats, the seeded-components dedup
    // clusters, the de-pinned incremental split audit, and the
    // shared-metadata ANN recall eval
    val tSpanStrip = drive("x_span_strip")
    val tExportStats = drive("x_export_stats")
    val tDedupClusters = drive("x_dedup_clusters")
    val tIncrSplit = drive("x_incr_split_leakage")
    val tAnnRecall = drive("x_ann_recall")

    val t12 = System.nanoTime()
    val mediaDir = multimodal.Multimodal.ensureMediaPlanted(spark, dir).toString
    multimodal.Multimodal.ensureFrameIndex(spark, mediaDir)
    multimodal.Multimodal.ensurePrefixIndex(spark, mediaDir)
    val tMediaState = secsSince(t12)
    val tIncrMedia = drive("x_incr_media")
    // the full from-scratch media rebuild over the same planted
    // corpus — the cost the incremental path replaces
    isolate()
    val tMediaRebuild = r3(Sessions.drive(multimodal.Multimodal.mediaNearDup(spark, mediaDir)))
    val nCompaction = SparkEntry.queries("x_compaction_run")(spark, dir).count()
    val nIncrMedia = SparkEntry.queries("x_incr_media")(spark, dir).count()
    require(nCompaction > 0 && nIncrMedia > 0,
      s"repair probes must return rows ($nCompaction/$nIncrMedia)")
    val nSpans = SparkEntry.queries("x_dup_spans")(spark, dir).count()
    val nHealth = SparkEntry.queries("x_index_health")(spark, dir).count()
    val nRecluster = SparkEntry.queries("x_ivf_recluster")(spark, dir).count()
    val nHeuristic = SparkEntry.queries("x_heuristic_filters")(spark, dir).count()
    val nFluency = SparkEntry.queries("x_bigram_fluency")(spark, dir).count()
    val nKeepBest = SparkEntry.queries("x_keep_best")(spark, dir).count()
    require(nSpans == nDocs && nHealth == 5,
      s"span audit must cover the corpus ($nSpans/$nDocs), health is 5 families ($nHealth)")
    require(nRecluster > 0, "recluster repair returned no rows")
    require(nHeuristic == nDocs && nFluency == nDocs && nKeepBest == nDocs,
      s"per-doc screens must cover the corpus ($nHeuristic/$nFluency/$nKeepBest vs $nDocs)")

    // the round-16 CDC family: chunking is per-row map-side work, so
    // the dedup accounting's growth must track corpus chars (one hash
    // exchange), and the resync audit — which chunks every doc TWICE
    // and intersects per row — must grow the same way with zero added
    // shuffle. Salted copies decorrelate cross-copy chunk spaces, so
    // the hash groupBy's key cardinality grows linearly too.
    val tCdcDedup = drive("x_cdc_dedup")
    val tCdcResync = drive("x_cdc_resync")
    val nCdcDedup = SparkEntry.queries("x_cdc_dedup")(spark, dir).count()
    val nCdcResync = SparkEntry.queries("x_cdc_resync")(spark, dir).count()
    require(nCdcDedup > 0 && nCdcDedup == nCdcResync,
      s"CDC probes must cover every source ($nCdcDedup/$nCdcResync)")
    isolate()

    // stdout contract mirrors Bench: one greppable JSON line per factor
    println(
      s"""{"probe":"scale","factor":$factor,"docs":$nDocs,"edges":$nEdges,""" +
      s""""rounds":$rounds,"fixture_sec":$tFixture,"edge_sec":$tEdge,""" +
      s""""sym_sec":$tSym,"components_sec":$tDecision,""" +
      s""""keepmap_sec":$tKeepMap,"manifest_sec":$tManifest,""" +
      s""""index_sec":$tIndex,"base_state_sec":$tBaseState,""" +
      s""""incr_sec":$tIncr,"incr_rounds":$incrRounds,"signal_sec":$tSignal,""" +
      s""""km_train_sec":$tKmTrain,"ivf_layout_sec":$tIvfLayout,""" +
      s""""nprobe_sec":$tNprobe,"pq_sec":$tPq,""" +
      s""""bm25_sec":$tBm25,"brute_sec":$tBrute,""" +
      s""""bm25_incr_sec":$tBm25Incr,"ann_incr_sec":$tAnnIncr,""" +
      s""""spans_sec":$tSpans,"health_sec":$tHealth,"recluster_sec":$tRecluster,""" +
      s""""heuristic_sec":$tHeuristic,"fluency_sec":$tFluency,""" +
      s""""keep_best_sec":$tKeepBest,"keep_best_incr_sec":$tKeepBestIncr,""" +
      s""""repair_state_sec":$tRepairState,"compaction_run_sec":$tCompactionRun,""" +
      s""""media_state_sec":$tMediaState,"incr_media_sec":$tIncrMedia,""" +
      s""""media_rebuild_sec":$tMediaRebuild,""" +
      s""""cdc_dedup_sec":$tCdcDedup,"cdc_resync_sec":$tCdcResync,""" +
      s""""span_strip_sec":$tSpanStrip,"export_stats_sec":$tExportStats,""" +
      s""""dedup_clusters_sec":$tDedupClusters,""" +
      s""""incr_split_sec":$tIncrSplit,"ann_recall_sec":$tAnnRecall}""")
  }

  /** `factor` salted copies of the source corpus (see class doc),
    * written fresh under `dir` — returns the document count. Copy 0 is
    * the source verbatim (modulo recomputed `n_chars`, kept consistent
    * with the salted copies' longer texts).
    */
  private def buildFixture(
      spark: SparkSession, srcDir: String, dir: String, factor: Int): Long = {
    sink.ParquetFiles.deleteTree(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    // rotation by c positions is only an orthogonal, DISTINCT transform
    // while c < dim: c = dim reproduces the original vector (cross-copy
    // cosine 1.0 — exactly the artificial-duplicate blowup the salting
    // is designed to avoid) and c > dim makes the slice arithmetic
    // negative. Fail fast instead of measuring a corrupted fixture.
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    require(factor <= dim,
      s"factor $factor exceeds embedding dim $dim — rotation copies would collide")
    // one id-offset unit covers both tables, preserving vec_id = doc_id
    val base = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L

    val docCopies = (0 until factor).map { c =>
      val text =
        if (c == 0) col("text")
        else array_join(
          // leave empty split fragments (consecutive/trailing spaces)
          // alone: salting '' into the real token '~c' would give the
          // copy extra shingles and break the exact within-copy
          // bijection the probe's linear-edges interpretation rests on
          transform(split(col("text"), " "),
            t => when(length(t) === 0, t).otherwise(concat(t, lit("~" + c)))), " ")
      docs.select(
        (col("doc_id") + lit(c * base)).as("doc_id"), text.as("text"),
        col("lang"), col("source"))
        // int64, matching the fixture contract (FIXTURES.md) and every
        // other corpus writer — length() alone would ship int32
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
    docCopies.repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val embCopies = (0 until factor).map { c =>
      val vec =
        if (c == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${c + 1}, size(embedding) - $c), " +
          s"slice(embedding, 1, $c))")
      emb.select(
        (col("vec_id") + lit(c * base)).as("vec_id"),
        vec.cast("array<float>").as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    embCopies.repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    spark.read.parquet(s"$dir/documents.parquet").count()
  }

  private def secsSince(t: Long): Double = r3((System.nanoTime() - t) / 1e9)

  /** Seconds rounded to the millisecond. */
  private def r3(sec: Double): Double = math.round(sec * 1000) / 1000.0

}
