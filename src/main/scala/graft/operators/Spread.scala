package graft.operators

import graft.config.ShufflePartitions
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Explicit-count keyed repartition for CPU-heavy reduce stages (guide §2).
 *
 * AQE partition coalescing targets BYTES per partition (advisory 64 MB with
 * a 1 MB floor), but several reduce stages of this engine are CPU-heavy per
 * byte: final aggregation over high-cardinality keys (per-(query, item)
 * score sums, per-token document frequencies) where a few MB of shuffle
 * carry millions of groups. At sandbox input sizes AQE folds those stages
 * into ONE task (measured: q63's final idf aggregation 4.1 s single-task,
 * q98's posting-score stage 4.9 s single-task) while 31 cores idle.
 *
 * A user repartition with an EXPLICIT partition count is exempt from AQE
 * coalescing, and placing it on the upcoming aggregation's own keys means
 * the aggregation reuses the exchange — no extra shuffle. The trade-off is
 * losing map-side partial aggregation below the exchange; apply this ONLY
 * where the group cardinality is near the row count (score pairs, term
 * frequencies), where partial aggregation compresses next to nothing and
 * the raw-row shuffle costs the same bytes.
 *
 * The count is max(defaultParallelism, spark.sql.shuffle.partitions):
 * locally that is the core count; on a production cluster whose
 * shuffle.partitions is sized to the data it takes the data-sized value —
 * never a constant tuned to one machine.
 */
object Spread {

  def partitions(df: DataFrame): Int = {
    val s = df.sparkSession
    math.max(s.sparkContext.defaultParallelism, ShufflePartitions(s))
  }

  /** Hash-repartition on the next aggregation's keys, explicit count. */
  def byKeys(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(partitions(df), cols: _*)
}
