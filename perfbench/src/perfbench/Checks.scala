package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-membership pair scores of one assignment against the ground truth. */
final case class PairScores(recall: Double, precision: Double,
    assignedNew: Long, truthNew: Long, distinctNew: Long)

object Checks {

  /** Order-independent content hash: bit_xor of per-row xxhash64 (a sum
    * would overflow under ANSI mode). An empty table hashes to 0. */
  def contentHash(df: DataFrame): Long =
    df.agg(coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), lit(0L)))
      .head().getLong(0)

  /** C(n, 2) - C(n - b, 2): pairs of an n-member group that touch at least
    * one of its b new members. */
  private def touching(n: Long, b: Long): Double =
    (n * (n - 1) - (n - b) * (n - b - 1)) / 2.0

  /**
   * Dup-pair recall and precision from cluster co-membership, restricted to
   * pairs with at least one new image (every image is new in a batch run;
   * in the incremental run only the day's batch is). Computed from sums over
   * the (predicted cluster, truth cluster) contingency table, never by
   * enumerating pairs; the table is small enough to collect.
   *
   * @param assign (image_id, cluster_id) over corpus and batch
   * @param truth  (image_id, truth, is_new)
   */
  def pairScores(assign: DataFrame, truth: DataFrame): PairScores = {
    val cells = assign.join(truth, "image_id")
      .groupBy("cluster_id", "truth")
      .agg(count(lit(1)).as("n"), sum(col("is_new").cast("long")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def total(groups: Iterable[(Long, Long)]) = groups.map { case (n, b) => touching(n, b) }.sum
    def margin(key: ((Long, Long, Long, Long)) => Long) =
      cells.groupBy(key).values.map(g => (g.map(_._3).sum, g.map(_._4).sum))
    val hit = total(cells.map(c => (c._3, c._4)))
    val truthPairs = total(margin(_._2))
    val predPairs = total(margin(_._1))
    val newIds = truth.where(col("is_new")).select("image_id")
    val assigned = assign.join(newIds, "image_id")
      .agg(count(lit(1)), countDistinct("image_id")).head()
    PairScores(
      recall = if (truthPairs == 0) 1.0 else hit / truthPairs,
      precision = if (predPairs == 0) 1.0 else hit / predPairs,
      assignedNew = assigned.getLong(0),
      truthNew = newIds.count(),
      distinctNew = assigned.getLong(1))
  }

  /**
   * Disagreements of an assignment with the engine's own pair evidence.
   * Every pair (a, b) must lie within one cluster; with `exact`, every
   * cluster must also be exactly one connected component of the pair graph
   * (a batch run clusters the components of its `dup_pairs`, singletons
   * included). Unlike the pair scores, this sees a single moved image.
   */
  def evidenceProblems(assign: DataFrame, pairs: DataFrame, exact: Boolean): Seq[String] = {
    val cluster = assign.select("image_id", "cluster_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = pairs.select("a", "b").collect().map(r => (r.getString(0), r.getString(1)))
    val split = edges.count { case (a, b) =>
      !cluster.contains(a) || !cluster.contains(b) || cluster(a) != cluster(b)
    }
    val parent = scala.collection.mutable.HashMap[String, String]()
    def root(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      if (r != x) parent(x) = r
      r
    }
    edges.foreach { case (a, b) => val (ra, rb) = (root(a), root(b)); if (ra != rb) parent(ra) = rb }
    val components = cluster.keys.map(root).toSet.size
    val clusters = cluster.values.toSet.size
    Seq(
      if (split > 0) Some(s"$split of ${edges.length} evidence pairs span two clusters") else None,
      if (exact && split == 0 && components != clusters)
        Some(s"$clusters clusters for $components connected components of the evidence pairs")
      else None).flatten
  }

  /** Give one image a label of its own: the planted wrong assignment the
    * smoke test expects the checks to catch. The image is the smallest id
    * with evidence, so its move splits a pair. */
  def plantFault(assign: DataFrame, pairs: DataFrame): DataFrame = {
    val ends = pairs.select(col("a").as("image_id")).union(pairs.select(col("b").as("image_id")))
    val victim = assign.join(ends, "image_id").agg(min("image_id")).head().getString(0)
    require(victim != null, "no image with pair evidence to move")
    assign.withColumn("cluster_id",
      when(col("image_id") === victim, col("cluster_id") + 1)
        .otherwise(col("cluster_id")))
  }
}
