package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components of the near-dup graph, in both engines: the
  * min-label propagation loop every components consumer runs (the
  * dedup, split and incremental families), its checkpoint discipline,
  * and the DuckDB oracle's recursive closure over the same edges. Both
  * compute one rule — each node's label is the smallest id reachable
  * from it — so the oracle's closure is never derived from the Spark
  * loop, only stated once beside it.
  */
object Components {

  /** Minimum-label propagation connected components over an undirected
    * edge list (`a_id`, `b_id`): every node's label converges to the
    * smallest doc_id reachable from it — the unique, order-independent
    * fixpoint, so the result is deterministic however Spark schedules
    * the joins. Each round is a neighbor-min propagation (one shuffle
    * join + one aggregation) followed by a pointer-jumping compression
    * (`label := label-of-label` — a label is itself a node id, and its
    * own label can only be smaller), which doubles the distance
    * information travels per round: convergence is O(log diameter),
    * not O(diameter), so even a pathological million-node chain
    * finishes in ~20 rounds and the 50-round cap is a genuine runaway
    * guard — hitting it throws rather than silently returning a
    * non-fixpoint. `localCheckpoint` materializes the per-round labels
    * and truncates the iterative lineage — without it round k replays
    * all k-1 predecessors and the plan grows without bound; on a
    * cluster the same call swaps for a reliable `checkpoint` to an
    * HDFS dir. The symmetric edge set checkpointed here is freed when
    * the loop ends, converged or not: the result's checkpoint is the
    * one pin the call leaves behind.
    */
  private[queries] def connectedComponents(edges: DataFrame): DataFrame = {
    // repartition on src BEFORE the checkpoint: every round joins sym
    // on src, and a checkpointed plan carries its partitioning into
    // the LogicalRDD — so the edge set is exchanged ONCE here instead
    // of once per round (at 100 TB the edge set is the big operand;
    // O(rounds) exchanges of it was the loop's dominant shuffle)
    val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint() // reused every round; never recompute the edge pipeline
    try ofSym(sym) finally freeCheckpoint(sym)
  }

  /** The label-propagation loop over an already-symmetrized edge set
    * (`src`, `dst`; duplicates tolerated — they only feed a `min`)
    * that the caller owns and this call never frees. Callers holding
    * the bucketed [[Pipeline.symEdgesOf]] layout enter here directly:
    * the scan arrives hash-partitioned on `src`, so the per-round
    * propagation join never exchanges the edge side, and storage (not
    * executor block-manager memory) backs its per-round reuse — the
    * corpus-scale operand stays unpinned.
    */
  private[queries] def ofSym(sym: DataFrame): DataFrame = {
    // localCheckpoint persists RDDs the catalog cache never sees; free
    // each round's checkpoint as soon as the next one supersedes it —
    // DIRECTLY from the superseded DataFrame's own plan
    // ([[freeCheckpoint]]), never by diffing the context-global
    // registry, whose diff window would capture and free a CONCURRENT
    // caller's pins (the incrDelta lesson) — so an iterative call
    // leaves behind only its result, not O(rounds) of dead
    // block-manager state
    // fused init (r21): label₀ = min(id, min neighbor) in ONE
    // aggregation over the already-src-partitioned edge set. Starting
    // from identity labels, the loop's first round computes exactly
    // this (propagation over identity labels is the min-neighbor id;
    // the pointer-jump is a no-op against identity labels), so seeding
    // with it drops one full join+checkpoint+count round from every
    // components call at identical fixpoint — measured one round saved
    // on every consumer (dedup clusters, split family, incremental
    // sub-graphs).
    var labels = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < 50) {
      val prop = sym
        .join(labels.select(col("id").as("src"), col("label").as("src_label")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("src_label")).as("nbr_label"))
      val hooked = labels.join(prop, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jumping: substitute each label with that node's own
      // (smaller-or-equal) label, halving remaining path lengths
      val compressed = hooked.join(
        labels.select(col("id").as("label"), col("label").as("ll")), Seq("label"), "left")
      // carry the previous label through the checkpoint so the
      // convergence check is a filter over materialized rows, not a
      // second pass over the join
      val next = compressed
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("old")).count()
      // next is materialized (eager checkpoint + the count above), so
      // the previous round's checkpoint — the one LogicalRDD in the
      // current `labels` plan — has no remaining reader
      freeCheckpoint(labels)
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $round rounds — " +
        "graph structure inconsistent with a near-dup corpus")
    lastComponentsRounds = round
    labels
  }

  /** Rounds the most recent [[ofSym]] loop took to reach its fixpoint —
    * observability for the scale probe ([[graft.ScaleProbe]]), which
    * reports rounds-to-converge alongside wall time so the O(log
    * diameter) claim is measured, not asserted. Diagnostic only:
    * concurrent components calls race benignly on it.
    */
  @volatile private[graft] var lastComponentsRounds: Int = -1

  /** Unpersist the backing RDD of an eagerly `localCheckpoint`ed
    * DataFrame, read straight out of its plan's LogicalRDD. The
    * alternative — diffing `sc.getPersistentRDDs` around the region
    * that created the pins — assumes one caller at a time per
    * SparkContext: a concurrent caller's pins land inside the diff
    * window and get freed under it, and a freed localCheckpoint has
    * truncated lineage, so the victim job dies unrecoverably instead
    * of recomputing.
    */
  private[queries] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The oracle's closure over the undirected edge CTE `edges`
    * (`a_id`, `b_id`): `<prefix>sym` holds both directions and the
    * recursive `<prefix>reach(id, r)` every (node, reachable node)
    * pair, so `MIN(r)` grouped by id is [[connectedComponents]]' label.
    * The text is two CTEs for a `WITH RECURSIVE` chain, without a
    * trailing comma; `prefix` keeps two closures in one chain apart.
    */
  private[queries] def closureCtesSql(edges: String, prefix: String = ""): String =
    s"""${prefix}sym AS (
       |  SELECT a_id AS src, b_id AS dst FROM $edges
       |  UNION SELECT b_id, a_id FROM $edges),
       |${prefix}reach(id, r) AS (
       |  SELECT src, src FROM ${prefix}sym
       |  UNION
       |  SELECT s.dst, r.r FROM ${prefix}reach r JOIN ${prefix}sym s ON s.src = r.id)""".stripMargin
}
