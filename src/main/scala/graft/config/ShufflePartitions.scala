package graft.config

import org.apache.spark.sql.SparkSession

/**
 * `spark.sql.shuffle.partitions` read defensively. The raw value is a string
 * any submitter can set, and some platforms set it to a non-number such as
 * `"auto"`; a bare `.toInt` then throws in the middle of a job. Anything that
 * is not a positive integer falls back to the context's default parallelism.
 */
object ShufflePartitions {

  def apply(spark: SparkSession): Int =
    parse(spark.conf.get("spark.sql.shuffle.partitions"),
      spark.sparkContext.defaultParallelism)

  /** `raw` as a positive partition count, else `fallback`. */
  def parse(raw: String, fallback: Int): Int =
    Option(raw).flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(fallback)
}
