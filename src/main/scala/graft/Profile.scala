package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB attribution profiler for named registry queries: a job-end
  * listener over real runs of the declared queries yields, per job,
  * its seconds, stages and tasks — which phase owns a query's time —
  * without touching the code under measurement. A query's phases are
  * its eager jobs (localCheckpoints, driver collects, label-loop
  * rounds) followed by the final noop write.
  *
  * Emits one JSON line per drive: ordered [sec, stages, tasks] per
  * job plus the wall total. Interleaves the named queries, in name
  * order, `reps` times (isolated between drives). Run:
  * `sbt "runMain graft.Profile /root/testdata/sf0.1 2 x_incr_clusters,x_incr_split_leakage"`
  */
object Profile {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Profile <sfDir> <reps> <query,query,...>")
    val dir = args(0)
    val reps = args(1).toInt
    val arms = SparkEntry.select(Some(args(2)))
    val spark = Sessions.builder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.drive(spark.range(1000).selectExpr("sum(id)"))

    val jobStart = TrieMap.empty[Int, Long]
    val jobSec = TrieMap.empty[Int, Double]
    val jobStages = TrieMap.empty[Int, Int]
    val jobTasks = TrieMap.empty[Int, Long]
    val stageJob = TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStart(j.jobId) = j.time
        j.stageIds.foreach(sid => stageJob(sid) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStart.get(j.jobId).foreach(t0 =>
          jobSec(j.jobId) = (j.time - t0) / 1e3)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageJob.get(sc.stageInfo.stageId).foreach { jid =>
          jobStages(jid) = jobStages.getOrElse(jid, 0) + 1
          jobTasks(jid) = jobTasks.getOrElse(jid, 0L) +
            sc.stageInfo.numTasks.toLong
        }
    })

    for (r <- 1 to reps; (name, fn) <- arms) {
      Sessions.isolateQueries(spark)
      jobStart.clear(); jobSec.clear(); jobStages.clear(); jobTasks.clear()
      stageJob.clear()
      val wall = math.round(Sessions.drive(fn(spark, dir)) * 1000) / 1e3
      Thread.sleep(300)
      val jobs = jobSec.keys.toSeq.sorted.map { jid =>
        val sec = math.round(jobSec(jid) * 1000) / 1e3
        s"[$sec,${jobStages.getOrElse(jid, 0)},${jobTasks.getOrElse(jid, 0L)}]"
      }
      println(s"""{"probe":"profile","arm":"$name","rep":$r,""" +
        s""""wall":$wall,"jobs":[${jobs.mkString(",")}]}""")
    }
    spark.stop()
  }
}
