package graft.tools

import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.SparkSession

/** Ad-hoc timing of the dedup pipeline at one parallelism level, with
  * per-stage Spark metrics: `runMain graft.tools.DiagBench <cpus> <inputDir>`. */
object DiagBench {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val inputDir = args(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val agg = new java.util.concurrent.atomic.AtomicLongArray(6) // run, cpu, gc, shufW, stages, tasks
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        agg.addAndGet(0, m.executorRunTime)
        agg.addAndGet(1, (m.executorCpuTime / 1e6).toLong)
        agg.addAndGet(2, m.jvmGCTime)
        agg.addAndGet(3, m.shuffleWriteMetrics.bytesWritten)
        agg.addAndGet(4, 1)
        agg.addAndGet(5, i.numTasks)
        if (m.executorRunTime > 20000)
          println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1000.0}%7.1fs gc=${m.jvmGCTime / 1000.0}%6.1fs " +
            f"cpu=${m.executorCpuTime / 1e9}%7.1fs shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"spill=${m.diskBytesSpilled / 1e6}%6.1fMB ${i.name.take(60)}")
      }
    })
    def dumpAgg(label: String): Unit = {
      println(f"[agg] $label run=${agg.get(0) / 1000.0}%8.1fs cpu=${agg.get(1) / 1000.0}%8.1fs " +
        f"gc=${agg.get(2) / 1000.0}%6.1fs shufW=${agg.get(3) / 1e6}%8.1fMB " +
        f"stages=${agg.get(4)}%4d tasks=${agg.get(5)}%6d")
      (0 until 6).foreach(i => agg.set(i, 0))
    }

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[diag] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val images = spark.read.parquet(inputDir)
    for (round <- 1 to 3) {
      t(s"full pipeline round $round") {
        val res = DedupPipeline.run(spark, images, DedupConfig.default)
        res.assignments.write.mode("overwrite").format("noop").save()
        res.release()
        res.features.unpersist()
      }
      dumpAgg(s"round $round")
      // drop lingering localCheckpoint blocks before the next round
      System.gc()
      Thread.sleep(2000)
    }
    spark.stop()
  }
}
