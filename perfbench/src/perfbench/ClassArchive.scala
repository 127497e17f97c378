package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Class-loading run for the build's AppCDS archive (perfbench/build.py runs
 * it under -XX:ArchiveClassesAtExit): a session configured like
 * [[BenchMain]]'s and one small parquet write/read/aggregate/join, so the
 * archive holds the classes every benchmark run loads before its first job.
 * Usage: ClassArchive <scratch dir>
 */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    try {
      spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
          xxhash64(col("id")).as("h"))
        .write.mode("overwrite").parquet(s"$dir/t")
      val t = spark.read.parquet(s"$dir/t")
      t.join(t.groupBy("k").agg(min("h").as("m")), "k")
        .where(col("h") =!= col("m")).count()
    } finally spark.stop()
  }
}
