package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Exact Spark work of one block of code: the jobs it starts, the stages
  * they run, the stages that wrote shuffle output and how many bytes, the
  * file-listing jobs, the tasks, and the stages that read through a DSv2
  * scan (a `DataSourceRDD` in the stage). Counted in a job group of the calling thread, so
  * no other work in the shared session is included. */
object SparkJobs {
  case class Jobs(n: Int, stages: Int, shuffleStages: Int, listing: Int,
                  shuffleWriteBytes: Long, tasks: Int = 0, dsv2ScanStages: Int = 0) {
    /** (jobs, stages, shuffle-writing stages, listing jobs): exact at any
      * scale, unlike the byte count. */
    def shape: (Int, Int, Int, Int) = (n, stages, shuffleStages, listing)
  }

  def during(spark: SparkSession)(body: => Unit): Jobs = {
    val group = s"spark-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val dsv2Stages = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
          e.stageIds.foreach(mine.add)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet()
          if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD")) dsv2Stages.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (mine.contains(e.stageId) && e.taskMetrics != null) {
          tasks.incrementAndGet()
          val w = e.taskMetrics.shuffleWriteMetrics
          if (w.recordsWritten > 0) shuffleStages.add(e.stageId)
          shuffleBytes.addAndGet(w.bytesWritten)
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "counted block", interruptOnCancel = false)
    try {
      body
      org.apache.spark.sql.graft.SparkShims.waitListenerBus(spark)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    Jobs(jobs.size, stages.get, shuffleStages.size,
      jobs.asScala.count(_.contains("Listing leaf files")), shuffleBytes.get,
      tasks.get, dsv2Stages.get)
  }
}
