package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.{Sessions, SparkEntry}
import graft.queries.Pipeline
import graft.sink.ColumnarSizeExpr

object QueryMix {
  /** Two relational queries and a connected-components consumer. */
  val Queries: Seq[String] = Seq("q_pricing_summary", "q_join_orders", "x_dedup_clusters")

  /** Sweeps a run makes at least: a sweep is short next to the
    * set-up, and each query's reading is its median across sweeps.
    */
  val MinPasses = 4

  /** The stamped artifacts those queries read, built in set-up in
    * dependency order.
    */
  val Artifacts: Seq[(String, (SparkSession, String) => Path)] = Seq(
    "ensureEdgeGraph" -> Pipeline.ensureEdgeGraph _,
    "ensureSymEdges" -> Pipeline.ensureSymEdges _)
}

/** The read and query side: each query driven to completion by a
  * `noop` write, one at a time, with cross-query residue cleared in
  * between.
  */
final class QueryMix(run: Run) {
  import QueryMix._

  private val spark = run.spark
  private val fns = SparkEntry.queries

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def listDirs(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  /** Point java.io.tmpdir, where the stamped artifacts live, at a
    * fresh directory, so they are built instead of found.
    */
  private def freshTmp(name: String): Path = {
    val tmp = run.out.resolve(name)
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    tmp
  }

  def sweep(): Unit = {
    // set-up builds the artifacts `setups` times, the first one cold
    val artifactSecs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var tmp: Path = null
    run.setup { k =>
      tmp = freshTmp(s"tmp-$k")
      Sessions.isolateQueries(spark)
      Artifacts.foreach { case (name, ensure) =>
        val t0 = System.nanoTime
        ensure(spark, run.data)
        artifactSecs.getOrElseUpdate(name, ArrayBuffer.empty) += (System.nanoTime - t0) / 1e9
      }
    }
    val prepared = listDirs(tmp)

    // codegen and JIT warm-up, untimed: every query once, writing the
    // result that is checked against the oracle
    val results = run.out.resolve("results")
    run.phase("warmup")(Queries.foreach { q =>
      Sessions.isolateQueries(spark)
      fns(q)(spark, run.data).write.parquet(results.resolve(q).toString)
    })

    final class Pass(val secs: Seq[Double], val heapMb: Double, val traced: Boolean, val steal: Double)
    val done = ArrayBuffer.empty[Pass]
    val perQuery = mutable.LinkedHashMap.empty[String, ArrayBuffer[(Double, Seq[JobRecord])]]
    run.passes(MinPasses) { p =>
      run.heap.arm()
      val steal = Steal.ticks()
      val secs = Queries.map { q =>
        Sessions.isolateQueries(spark)
        run.tag(s"query-$p/$q")
        val t0 = System.nanoTime
        noop(fns(q)(spark, run.data))
        val t1 = System.nanoTime
        run.trace.record(q, t0, t1, s"pass-$p")
        (t1 - t0) / 1e9
      }
      val stolen = Steal.since(steal)
      val heapMb = run.heap.disarm() / 1048576.0
      run.attempted(Queries.size)
      if (run.isTracing) {
        run.drain()
        Queries.zip(secs).foreach { case (q, s) =>
          perQuery.getOrElseUpdate(q, ArrayBuffer.empty) += ((s, run.listener.jobsOf(s"query-$p/$q")))
        }
      }
      done += new Pass(secs, heapMb, run.isTracing, stolen)
      secs.sum
    }
    // a query that builds an artifact of its own bills it to the sweep
    run.info("artifacts_built_outside_setup") = (listDirs(tmp) -- prepared).toSeq.sorted.mkString(" ")

    // over the untraced passes: each query's seconds is its median
    // across them; there are too few queries for a tail percentile, so
    // the tail is the slowest query
    val plain = done.filterNot(_.traced).toSeq
    val perQuerySecs = Queries.indices.map(i => Stats.median(plain.map(_.secs(i))))
    val m = run.metrics
    m("pass_s") = Stats.median(plain.map(_.secs.sum))
    m("op_p50_ms") = Stats.median(perQuerySecs) * 1e3
    m("op_tail_ms") = perQuerySecs.max * 1e3
    run.info("op_tail_percentile") = "100"
    run.info("per_query_s") = Queries.zip(perQuerySecs).map { case (q, s) => f"$q=$s%.3f" }.mkString(" ")
    run.info("pass_steal") = done.map(p => f"${p.steal}%.3f").mkString(",")
    run.info("pass_heap_mb") = done.map(p => f"${p.heapMb}%.1f").mkString(",")
    m("heap_peak_mb") = Stats.median(plain.map(_.heapMb))
    run.phase("results")(readResults(results))

    val traced = done.filter(_.traced).toSeq
    if (traced.nonEmpty) {
      m("trace.overhead_ms") = (Stats.median(traced.map(_.secs.sum)) - Stats.median(plain.map(_.secs.sum))) * 1e3
      artifactSecs.foreach { case (a, s) => m(s"setup.${a}_s") = Stats.median(s.toSeq) }
      m("spark.jobs") = Stats.median(traced.indices.map(i =>
        perQuery.values.map(_(i)._2.size).sum.toDouble))
      perQuery.foreach { case (q, runs) =>
        m(s"queries.$q.s") = Stats.median(runs.map(_._1).toSeq)
        m(s"queries.$q.jobs") = Stats.median(runs.map(_._2.size.toDouble).toSeq)
        m(s"queries.$q.tasks") = Stats.median(runs.map(_._2.map(_.tasks).sum.toDouble).toSeq)
        m(s"queries.$q.shuffle_bytes") = Stats.median(runs.map(_._2.map(_.shuffleBytes).sum.toDouble).toSeq)
      }
    }
  }

  /** Hand the oracle SQL to the comparison, then time the fixed reader
    * pass over the written results.
    */
  private def readResults(dir: Path): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Queries.map(q => s"${Fs.jsonString(q)}:${Fs.jsonString(oracle(q))}").mkString("{", ",", "}")
    Files.write(run.out.resolve("oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))

    val reads = (0 until 5).map { _ =>
      val t0 = System.nanoTime
      Queries.foreach(q => noop(spark.read.parquet(dir.resolve(q).toString)))
      (System.nanoTime - t0) / 1e9
    }
    run.metrics("readback_s") = Stats.median(reads)
    var disk = 0L
    var est = 0L
    Queries.foreach { q =>
      val s = Files.walk(dir.resolve(q))
      try disk += s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
      val df = spark.read.parquet(dir.resolve(q).toString)
      val r = df.agg(sum(ColumnarSizeExpr.rowBytes(df.schema))).head()
      if (!r.isNullAt(0)) est += r.getLong(0)
    }
    run.metrics("stored_bytes_ratio") = disk.toDouble / math.max(est, 1L)
  }
}
