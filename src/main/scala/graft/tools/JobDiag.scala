package graft.tools

import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-time breakdown of the dedup pipeline (probe config):
  * `runMain graft.tools.JobDiag <cpus> <inputDir> [rounds=2]`. */
object JobDiag {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val inputDir = args(1)
    val rounds = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("?")
            .take(70) + s" [stages=${j.stageIds.size}]"))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(j.jobId)).foreach { case (t0, d) =>
          val w = (System.nanoTime() - t0) / 1e9
          if (w > 0.15) println(f"[job] id=${j.jobId}%3d wall=$w%6.2f s  $d")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for (s <- i.submissionTime; e <- i.completionTime)
          yield (e - s) / 1000.0).getOrElse(-1.0)
        val m = i.taskMetrics
        if (wall > 0.2)
          println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d wall=$wall%6.2f s " +
            f"cpu=${m.executorCpuTime / 1e9}%7.1f run=${m.executorRunTime / 1000.0}%7.1f " +
            f"${i.name.take(55)}")
      }
    })

    val images = spark.read.parquet(inputDir)
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      val res = DedupPipeline.run(spark, images, DedupConfig.default)
      res.assignments.write.mode("overwrite").format("noop").save()
      res.release()
      res.features.unpersist()
      println(f"[round $r] total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
