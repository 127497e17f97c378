package graft.tools

import graft.config.DedupConfig
import graft.operators.Validate
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** North-rule scaling probe in isolation (Bench phase 2):
  * `runMain graft.tools.ProbeBench <inputDir> [cpusCsv=32,8] [rounds=2]`. */
object ProbeBench {
  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      // partitions sized to the shuffle data AND well above the largest
      // leg's core count (tasks >> cores): identical config across cluster
      // sizes so both legs run the same physical plan, while the big leg
      // gets multiple waves per stage — with partitions == cores every
      // stage is one wave and any task-duration variance idles cores,
      // which is exactly the loss a real cluster avoids by running
      // 2-4x tasks per executor slot
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      // large scan partitions: fewer parquet-reader inits and long
      // sequential decompress runs; measured on this guest: cuts the 8-core
      // payload-scan wall ~10% and its round-to-round variance by ~3x,
      // while the 2-core leg (already wave-balanced) is unchanged
      .config("spark.sql.files.maxPartitionBytes", "512m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def runPipeline(spark: SparkSession, inputDir: String): (Double, Double) = {
    val feat = graft.operators.Ingest.run(spark,
      spark.read.parquet(inputDir), DedupConfig.default, partitions = 32)
    val tv = timed(materialize(Validate.report(feat)))
    val td = timed {
      val res = DedupPipeline.runFromFeatures(spark, feat, DedupConfig.default)
      materialize(res.assignments)
      res.release()
    }
    feat.unpersist()
    (tv, td)
  }

  def main(args: Array[String]): Unit = {
    val inputDir = args(0)
    val cpusList = (if (args.length > 1) args(1) else "32,8").split(",").map(_.toInt)
    val rounds = if (args.length > 2) args(2).toInt else 2
    val results = cpusList.map { cpus =>
      val spark = session(cpus)
      val n = spark.read.parquet(inputDir).count()
      runPipeline(spark, inputDir) // warm-up
      val times = (1 to rounds).map { r =>
        val (tv, td) = runPipeline(spark, inputDir)
        println(f"[probe] cpus=$cpus round $r: validate=$tv%.2f dedup=$td%.2f total=${tv + td}%.2f s")
        (tv, td)
      }
      spark.stop()
      val best = times.minBy(t => t._1 + t._2)
      println(f"[probe] cpus=$cpus BEST validate=${best._1}%.2f dedup=${best._2}%.2f " +
        f"total=${best._1 + best._2}%.2f s  (${n / (best._1 + best._2)}%.0f img/s)")
      cpus -> best
    }
    if (results.length >= 2) {
      val (loC, lo) = results.minBy(_._1)
      val (hiC, hi) = results.maxBy(_._1)
      val eff = ((lo._1 + lo._2) / (hi._1 + hi._2)) / (hiC.toDouble / loC)
      println(f"[probe] eff(${loC}->${hiC})=$eff%.3f")
    }
  }
}
