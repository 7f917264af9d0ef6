package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark: wall-clock per registered query at SPARK_GRAFT_SF_DIR —
  * min of two back-to-back runs per query, a third attempt before any
  * regression flag — one JSON line on stdout, mirrored to
  * `bench_last.json`. Each query is timed by [[Sessions.drive]].
  *
  * Failures are recorded as -1 and named in `failed`, never silently
  * folded into the total. At sf0.1 every query is also gated against
  * [[BaselineSec]]: the JSON carries `baseline_ratio` per query,
  * anything whose FINAL reading ends above its (already-doubled)
  * ceiling AND more than 0.25 s over it, even after the retry, is
  * listed in `regressed` (the floor mutes sub-noise excursions on the
  * shortest ceilings: a 0.39 s ceiling only flags above 0.64 s), and
  * anything over the hard [[RegressionFactor]]×-plus-slack gate is
  * listed in `failed` — the total-only number cannot distinguish one
  * query regressing 5× from ordinary ±3 s machine noise.
  */
object Bench {
  /** Per-query ceilings at sf0.1, in seconds, from the classpath table
    * `graft/ceilings.tsv`: one `name<TAB>seconds<TAB>reason` line per
    * registered query, sorted by name. The rule that sets a value:
    *  - a ceiling is the max, across quiet full sweeps, of the query's
    *    min-of-2 reading, doubled — the doubling is the allowance for
    *    the sustained contention min-of-2 cannot filter;
    *  - a ceiling is re-recorded in its own commit, apart from the code
    *    it measures, and any move over 20% is named in that commit;
    *  - a ceiling is never footed on readings from a window the canary
    *    labels drifted.
    * Each line's reason names how its value was set, including the
    * older entries that rest partly on drift-window readings;
    * BASELINE.md "Ceiling history" holds the readings behind them.
    */
  private[graft] val BaselineSec: Map[String, Double] = {
    val in = Option(getClass.getResourceAsStream("/graft/ceilings.tsv"))
      .getOrElse(sys.error("graft/ceilings.tsv is missing from the classpath"))
    try parseCeilings(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
    finally in.close()
  }

  /** The ceiling table's lines → name → seconds. A malformed line — not
    * exactly three fields, an empty reason, a name outside
    * `[a-z0-9_]+`, seconds that are not a positive finite decimal, or
    * a repeated name — is an error naming its 1-based line number.
    */
  private[graft] def parseCeilings(lines: Seq[String]): Map[String, Double] =
    lines.zipWithIndex.foldLeft(Map.empty[String, Double]) {
      case (acc, (line, i)) =>
        def bad(why: String): Nothing =
          throw new IllegalArgumentException(s"ceiling table line ${i + 1}: $why: '$line'")
        line.split("\t", -1) match {
          case Array(name, sec, reason) if reason.trim.nonEmpty =>
            if (!name.matches("[a-z0-9_]+")) bad("name is not [a-z0-9_]+")
            val s = Some(sec).filter(_.matches("[0-9]+(\\.[0-9]+)?")).map(_.toDouble)
              .filter(d => d > 0 && !d.isInfinite)
              .getOrElse(bad("seconds are not a positive finite number"))
            if (acc.contains(name)) bad(s"repeated name $name")
            acc + (name -> s)
          case _ => bad("expected name<TAB>seconds<TAB>reason")
        }
    }

  private val RegressionFactor = 3.0

  /** How many measured queries between burst-canary readings. */
  private val CanaryEvery = 10

  /** A single canary reading above this is a DRIFTED window — the
    * BASELINE.md read rule's per-reading threshold (quiet band p50
    * 0.084–0.097 s, max ≤ ~0.2 s; ~0.3 s is outside every quiet
    * recording and inside every adjudicated burst). A soft-flagged
    * query whose bracketing canary readings include a drifted one is
    * requeued once at sweep end — see the requeue block in main().
    */
  private val CanaryDriftSec = 0.3

  /** Burst canary — the environment-contention self-label. A FIXED
    * trivial probe (the nation scan — pure job-launch + tiny-scan
    * overhead, exactly the cost a contended machine stretches) is
    * timed once before the sweep and then every [[CanaryEvery]]
    * queries; the JSON carries `canary` = {n, min, p50, max}. Read
    * rule (BASELINE.md): a run whose canary p50 sits well above the
    * recorded quiet band, or whose max/min spread is large, is
    * contended — its soft `regressed` flags are environment suspects
    * to reproduce on a quiet machine, and its readings re-record no
    * ceiling. The canary runs OUTSIDE the per-query timing (after the
    * previous query's isolation, before the next attempt) so it labels
    * the run without perturbing the measurements it labels.
    */
  private def canaryProbe(spark: SparkSession, sfDir: String): Double =
    Sessions.drive(spark.read.parquet(s"$sfDir/nation.parquet"))

  /** Absolute excess a query must ALSO show over its ceiling before it
    * flags. A pure ratio gate false-positives on sub-second queries:
    * their times are dominated by fixed job-launch overhead, which a
    * machine hiccup stretches by 1-2 s regardless of the query — a
    * measured 0.44 s → 2.1 s swing on byte-identical code is 4.8× but
    * means nothing. A real plan regression on a fast query (a lost
    * broadcast, a new shuffle) costs seconds, not milliseconds, so it
    * clears both bars.
    */
  private val AbsoluteSlackSec = 2.0

  /** Seconds at 3 decimals: bounds the one-line JSON's length (a
    * log-tail capture truncates a full-precision line); milliseconds
    * are far below this bench's noise floor.
    */
  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query names, for local iteration on
    // one family; no arg (the driver's run) is the full surface
    val sweep = SparkEntry.select(args.headOption)
    val full = sweep.size == SparkEntry.queries.size
    val spark = Sessions.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the JVM/codegen/scan paths so the first measured query
    // doesn't absorb session startup (~2-4 s otherwise)
    Sessions.drive(spark.range(1000).selectExpr("sum(id)"))
    canaryProbe(spark, sfDir)
    // one-time setups build the stored state a query reads (an index, a
    // base graph, yesterday's export): every real pipeline amortizes
    // them, so they are set-up, not query time. A subset run builds
    // only those a selected query consumes; queries build any missing
    // artifact themselves, so a miss here costs purity, never results.
    def needed(substrings: String*): Boolean =
      full || sweep.exists { case (n, _) => substrings.exists(n.contains) }
    if (needed("ann", "centroids", "kmeans", "pq_codes", "embed"))
      graft.queries.Pipeline.ensureIvfLayout(spark, sfDir)
    val clusterFamily = Seq("dedup_clusters", "dedup_full", "cluster_sizes",
      "corpus_manifest", "manifest_stats", "filter_funnel", "dedup_semantic",
      "dup_src_matrix", "shard_plan", "shard_stats", "corpus_export",
      "export_append")
    // the pair pipelines themselves stay measured as x_ngram_jaccard /
    // x_simhash_pairs; the dedup decision as x_dedup_full
    if (needed(clusterFamily: _*)) {
      graft.queries.Pipeline.ensureEdgeGraph(spark, sfDir)
      graft.queries.Pipeline.ensureSymEdges(spark, sfDir)
      graft.queries.Pipeline.ensureKeepMap(spark, sfDir)
    }
    if (needed("dedup_recall")) {
      // x_dedup_recall scores the family pipelines over a planted
      // corpus; the corpus and its pair runs are set-up
      graft.queries.Pipeline.ensurePlantedCorpus(spark, sfDir)
      graft.queries.Pipeline.ensureRecallPairs(spark, sfDir)
    }
    if (needed("incr", "incremental", "compaction")) {
      // yesterday's graph/labels and the persisted index state a
      // daily-ingest dedup service keeps between batches
      graft.queries.Pipeline.ensureBaseLabels(spark, sfDir)
      graft.queries.Pipeline.ensureShingleIndex(spark, sfDir)
      graft.queries.Pipeline.ensureFingerprints(spark, sfDir)
    }
    if (needed("export_append"))
      graft.queries.Export.ensureBaseExport(spark, sfDir)
    if (needed("band_gate", "stream_export", "gate_chain"))
      graft.queries.Pipeline.ensureBandIndex(spark, sfDir)
    if (needed("compaction_run")) {
      // the crossed corpus plus the incremental state the repair starts
      // from; the departure blast radius reads yesterday's fingerprints
      val adir = graft.queries.Pipeline.ensureCrossedCorpus(spark, sfDir).toString
      val bdir = graft.queries.Pipeline.ensureBaseCorpus(spark, adir).toString
      graft.queries.Pipeline.ensureEdgeGraph(spark, bdir)
      graft.queries.Pipeline.ensureShingleIndex(spark, adir)
      graft.queries.Pipeline.ensureFingerprints(spark, adir)
      graft.queries.Pipeline.ensureFingerprints(spark, bdir)
    }
    if (needed("media", "frame"))
      graft.multimodal.Multimodal.ensureMediaPlanted(spark, sfDir)
    if (needed("incr_media")) {
      // the frame and prefix indexes a media-ingest service keeps
      val mdir = graft.multimodal.Multimodal.ensureMediaPlanted(spark, sfDir)
      graft.multimodal.Multimodal.ensureFrameIndex(spark, mdir.toString)
      graft.multimodal.Multimodal.ensurePrefixIndex(spark, mdir.toString)
    }
    if (needed("keep_best_incr")) {
      graft.queries.Pipeline.ensureKeepMap(spark, sfDir)
      graft.queries.Pipeline.ensureBaseKeepBest(spark, sfDir)
    }
    var failed = List.empty[String]
    var retried = List.empty[String]
    // the ceilings are recorded at sf0.1, so only gate there (a
    // sf0.001 smoke run would trivially "pass", an sf1 run fail)
    val gated = sfDir.stripSuffix("/").endsWith("sf0.1")
    // the hard gate (→ `failed`): a real plan regression clears both
    // the factor and the absolute bar
    def exceedsCeiling(name: String, sec: Double): Boolean =
      BaselineSec.get(name)
        .exists(b => sec > RegressionFactor * b && sec > b + AbsoluteSlackSec)
    // the soft record (→ `regressed`) and the retry trigger: any
    // reading over the recorded ceiling itself. The ceiling is already
    // a doubled quiet-machine measurement, so ratio > 1.0 surviving
    // min-of-2 is information, not jitter — the 0.25 s absolute floor
    // only mutes sub-noise readings on the shortest queries (a 0.30 s
    // ceiling measured at 0.33 s says nothing)
    def overCeiling(name: String, sec: Double): Boolean =
      BaselineSec.get(name).exists(b => sec > b + 0.25)
    def attempt(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      // drive() takes the elapsed time BEFORE the isolation below:
      // blocking unpersists have their own variable cost and must not
      // leak into the seconds the gate compares
      val sec =
        try Sessions.drive(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          if (!failed.contains(name)) failed ::= name
          -1.0
        }
      // no cross-query cache reuse or block-manager pressure
      Sessions.isolateQueries(spark)
      sec
    }
    // min of two back-to-back runs per query: this machine's measured
    // noise is single-query stalls (0.44 s → 2.1 s, and one recorded
    // 49× outlier on byte-identical code) that strike ONE run at
    // random. A stall hitting the same query in both runs is
    // quadratically unlikely, so min-of-2 is a stable statistic; a
    // real plan regression slows both runs and survives the min.
    // Unlikely is not impossible, so a would-be flag buys ONE more
    // attempt — min-of-3, recorded in `retried` so the artifact shows
    // the gate adjudicating itself.
    val canarySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // subset warmup: a targeted run pays cold-session costs the full
    // sweep amortizes (measured 15-25% on the subset's first readings),
    // so ONE untimed pass of the canary and the first query runs
    // before the clock, and the JSON carries `context: "subset"`
    if (!full) {
      canaryProbe(spark, sfDir)
      sweep.headOption.foreach { case (name, fn) =>
        try Sessions.drive(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
      Sessions.isolateQueries(spark)
    }
    val measured = sweep.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx % CanaryEvery == 0) canarySecs += canaryProbe(spark, sfDir)
      val secs = (1 to 2).map(_ => attempt(name, fn))
      var best = if (secs.exists(_ < 0)) -1.0 else secs.min
      if (gated && best >= 0 && overCeiling(name, best)) {
        retried ::= name
        val third = attempt(name, fn)
        // a crashed retry lands the name in `failed` (attempt() did
        // that), so the reported time must be -1 like every other
        // failure — a positive time next to a `failed` entry would
        // read as a measured result
        best = if (third >= 0) math.min(best, third) else -1.0
      }
      (name, fn, idx, best)
    }
    // one trailing canary reading so the tail of the sweep is labeled too
    canarySecs += canaryProbe(spark, sfDir)
    // canary-triggered requeue: a query that soft-flagged while either
    // of its bracketing canary readings was drifted was measured under
    // contention, by the run's own evidence. Re-run each such query
    // once at sweep end; `requeued` records {name: sec}, and the
    // reported time is the min, the same statistic as `retried`.
    def canaryDriftedAround(idx: Int): Boolean = {
      val before = idx / CanaryEvery
      val after = math.min(before + 1, canarySecs.size - 1)
      canarySecs(before) > CanaryDriftSec || canarySecs(after) > CanaryDriftSec
    }
    val requeued = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = measured.map { case (name, fn, idx, best) =>
      if (gated && best >= 0 && overCeiling(name, best) &&
          canaryDriftedAround(idx)) {
        val again = attempt(name, fn)
        if (again >= 0) {
          requeued(name) = r3(again)
          name -> math.min(best, again)
        } else {
          // the requeue exists only to potentially CLEAR a soft flag:
          // a transient error in the extra run must not turn a
          // successful-but-over-ceiling measurement into a hard
          // failure — keep the original reading (the query stays in
          // `regressed` on its own merits) and withdraw the crash
          // entry attempt() recorded, since the query itself measured
          // validly twice; the stderr line already documents the
          // requeue error
          failed = failed.filterNot(_ == name)
          name -> best
        }
      } else name -> best
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val regressed = if (!gated) Nil else results.collect {
      case (name, sec) if sec >= 0 && overCeiling(name, sec) => name
    }
    val hardRegressed = if (!gated) Nil else results.collect {
      case (name, sec) if sec >= 0 && exceedsCeiling(name, sec) => name
    }
    // ratios only where the baseline applies — an sf0.001 time against
    // an sf0.1 ceiling is a meaningless number nobody should read
    val ratios = (if (!gated) Nil else results.collect {
      case (name, sec) if sec >= 0 && BaselineSec.contains(name) =>
        "\"" + name + "\":" + math.round(sec / BaselineSec(name) * 100) / 100.0
    }).mkString("{", ",", "}")
    val regressedJson = regressed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = (failed ++ hardRegressed).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retriedJson = retried.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val requeuedJson = requeued.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cs = canarySecs.sorted
    // conventional median: even n averages the two middle elements —
    // upper-middle alone biases a ~16-reading quiet band slightly high
    val canaryP50 =
      if (cs.size % 2 == 1) cs(cs.size / 2)
      else (cs(cs.size / 2 - 1) + cs(cs.size / 2)) / 2.0
    val canaryJson =
      s"""{"n":${cs.size},"min":${r3(cs.head)},"p50":${r3(canaryP50)},"max":${r3(cs.last)}}"""
    val context = if (full) "full" else "subset"
    val json =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","context":"$context","queries":$qs,"baseline_ratio":$ratios,"regressed":$regressedJson,"retried":$retriedJson,"requeued":$requeuedJson,"failed":$failedJson,"canary":$canaryJson,"sf":"$sfDir"}"""
    println(json)
    // also land the JSON in a file, since a log-tail capture can
    // truncate the line — full-surface sf0.1 runs only, so neither a
    // subset iteration nor a smoke run at another SF clobbers the
    // full emission record
    if (full && gated)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
