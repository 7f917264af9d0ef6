package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** State shared by one benchmark run: options, end-to-end and
  * per-layer metrics, output checks, and the tracing switches.
  *
  * The measured time of a run is its timed set-ups plus its timed
  * passes; passes go on while that stays within `seconds`, at least
  * two of them (three when traced). In a traced run (`--trace 1`)
  * passes alternate untraced, traced, untraced, so the tracing
  * overhead can be read off as the traced minus the untraced median
  * with the warm-up trend cancelled; the per-layer metrics come from
  * the traced pass.
  */
final class Run(
    val spark: SparkSession,
    val out: Path,
    val data: String,
    val seconds: Double,
    val traced: Boolean,
    val setups: Int,
    val cpus: Int) {

  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val trace = new Trace(out.getFileName.toString)
  val heap = new HeapPeak
  val listener = new JobListener
  private val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private var ops = 0L
  private var tracing = false
  private var measured = 0.0
  private val stealAtStart = Steal.ticks()

  /** Passes a run makes at least: two untraced ones around the traced
    * one when traced.
    */
  val minPasses: Int = if (traced) 3 else 2

  /** Count operations (sink calls, queries) that ran without failing. */
  def attempted(n: Int): Unit = ops += n

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** Whether pass `p` is traced: the odd passes of a traced run. */
  def tracedPass(p: Int): Boolean = traced && p % 2 == 1

  def startTracing(): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(listener)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    tracing = false
  }

  def isTracing: Boolean = tracing

  /** Tag the jobs this thread submits next with `span`. */
  def tag(span: String): Unit =
    if (tracing) spark.sparkContext.setLocalProperty(Trace.SpanKey, span)

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Time a phase of the run into the labels, as `phase.<name>_s`. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime
    val a = f
    info(s"phase.${name}_s") = f"${(System.nanoTime - t0) / 1e9}%.2f"
    a
  }

  /** Run the set-up `setups` times; `setup_s` is the median. */
  def setup(f: Int => Unit): Unit = phase("setup") {
    val times = (0 until setups).map { k =>
      val t0 = System.nanoTime
      f(k)
      val t1 = System.nanoTime
      trace.record(s"setup-$k", t0, t1, "run")
      (t1 - t0) / 1e9
    }
    measured += times.sum
    metrics("setup_s") = Stats.median(times)
    info("setup_all_s") = times.map(t => f"$t%.3f").mkString(",")
  }

  /** Run passes until the next one would take the measured seconds
    * past `seconds` (at least `atLeast`). Each pass returns its timed
    * seconds; the checks after it are not counted.
    */
  def passes(atLeast: Int)(f: Int => Double): Int = phase("passes") {
    var p = 0
    var last = 0.0
    while (p < atLeast || measured + last <= seconds) {
      if (tracedPass(p)) startTracing() else stopTracing()
      last = f(p)
      measured += last
      p += 1
    }
    stopTracing()
    info("passes") = p.toString
    p
  }

  def writeResult(file: Path): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = Fs.jsonString(s)
    info("steal_share") = f"${Steal.since(stealAtStart)}%.4f"
    val failed = checks.count(!_._2)
    val body =
      s"""{"attempted":${ops + checks.size},"failed":$failed,""" +
        s""""metrics":{${metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},""" +
        s""""info":{${info.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")}},""" +
        s""""checks":[${checks.map { case (n, ok, d) => s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString(",")}]}"""
    Files.write(file, body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Entry point: `perfbench.Main --workload W --data DIR --out DIR
  * --seconds S --trace 0|1 --setups K --cpus N`. Writes `result.json`
  * (and `spans.jsonl` when traced) into the output directory.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0 = System.nanoTime
    val out = Paths.get(o("out")).toAbsolutePath
    val cpus = o("cpus").toInt
    val spark = Sessions.builder("perfbench", cpus.toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, out, o("data"), o("seconds").toDouble,
        o("trace") == "1", o("setups").toInt, cpus)
      run.info("phase.session_s") = f"${(System.nanoTime - t0) / 1e9}%.2f"
      o("workload") match {
        case "parity_ingest" => new Ingest(run).parity()
        case "stream_ingest" => new Ingest(run).stream()
        case "query_mix"     => new QueryMix(run).sweep()
        case "train" => // one short pass of each, to record the classes a run loads
          new Ingest(run).parity(); new Ingest(run).stream(); new QueryMix(run).sweep()
        case w               => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      if (run.traced) run.trace.write(out.resolve("spans.jsonl"))
      run.writeResult(out.resolve("result.json"))
    } finally spark.stop()
  }
}
