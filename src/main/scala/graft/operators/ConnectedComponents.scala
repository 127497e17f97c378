package graft.operators

import graft.config.ShufflePartitions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Connected components over an undirected edge list, as an iterative
 * DataFrame program — the Spark-native replacement for the reference's
 * driver-side union-find chain resolution
 * (reference: helpers/so/steps/merge_issues_duplicates.py:10-50) and the
 * mutable `Issue` membership model (ea/sim/main/data/objects/issue.py:25-90).
 *
 * Algorithm: hash-min label propagation — every node repeatedly takes the
 * minimum label of its closed neighborhood over a STATIC bidirectional edge
 * list. One join + one aggregate (2 shuffles) per round, converging in
 * O(component diameter) rounds. Dedup graphs are near-cliques produced by an
 * all-pairs verify inside LSH buckets plus depth-1 exact-identity stars, so
 * the diameter is tiny (2-4) and hash-min beats alternating large/small-star
 * (Kiveris et al., SoCC'14) on both round count and shuffles per round —
 * star rounds rebuild/re-`distinct` the edge set (~6 shuffles) each time.
 * For pathological diameters (long chains) the loop falls back to
 * large-star/small-star after `hashMinRounds`, keeping the O(log n) worst
 * case. Per-round `localCheckpoint` cuts lineage so plans stay flat
 * (SURVEY.md section 4); the convergence probe doubles as the materializing
 * action, so each round costs exactly one Spark job.
 *
 * Input: edges with two LongType columns `src`, `dst` (any direction, dups ok).
 * Output: (`id`, `component`) for every node that appears in an edge, where
 * `component` is the minimum node id reachable — deterministic, independent of
 * input partitioning and row order.
 */
object ConnectedComponents {

  /** One large-star round: every node points its larger neighbors at the
    * minimum of its closed neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val mins = bidir.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    bidir.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: orient edges large->small, point each node and its
    * smaller neighbors at the neighborhood minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val mins = oriented.groupBy("u").agg(min("v").as("m"))
    val fromNeighbors = oriented.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
    val fromCenters = mins.select(col("u").as("src"), col("m").as("dst"))
    fromNeighbors.union(fromCenters)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def checksum(e: DataFrame): (Long, Long) = {
    // bit_xor (not sum): order-insensitive and immune to ANSI overflow
    val row = e.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")
    ).head()
    (row.getLong(0), row.getLong(1))
  }

  /**
   * Driver-side union-find over a collected edge array — the small-graph
   * fast path. Same contract as the distributed loop: component = min
   * reachable id, deterministic and order-independent (the min-root is an
   * invariant of the union operation, not of processing order).
   */
  private[operators] def localSolve(pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // min id becomes the root -> component label = min reachable id
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = new java.util.HashSet[Long]()
    pairs.foreach { case (s, d) =>
      nodes.add(s); nodes.add(d)
      parent.putIfAbsent(s, s); parent.putIfAbsent(d, d)
      union(s, d)
    }
    val out = new Array[(Long, Long)](nodes.size())
    var i = 0
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next(); out(i) = (n, find(n)); i += 1 }
    out
  }

  /**
   * Returns (id LONG, component LONG). Nodes not present in any edge are the
   * caller's responsibility (singletons keep their own id).
   *
   * Edge sets at or below `localThreshold` are solved by driver-side
   * union-find in ONE job — the exact analogue of Spark's own small-side →
   * broadcast strategy selection: at sandbox/test scale the iterative loop's
   * per-round job latency dominates its (tiny) compute, while at cluster
   * scale the edge count blows past any threshold and the distributed loop
   * runs. The reference resolves duplicate chains driver-side unconditionally
   * (helpers/so/steps/merge_issues_duplicates.py:10-50); here that is only
   * ever a size-guarded optimization. The label map returns to executors
   * inline in task binaries (`parallelize`) — Spark warns above ~1 MiB/task,
   * but the threshold bounds the total at a few tens of MB by construction.
   *
   * @param hashMinRounds rounds of hash-min before falling back to star
   *                      rounds — min labels propagate one hop per round, so
   *                      this covers component diameters < hashMinRounds;
   *                      larger diameters finish under the star fallback.
   * @param localThreshold max canonical edge count for the driver-side
   *                       union-find fast path (0 forces the distributed loop
   *                       — the property specs exercise both).
   */
  def run(edges: DataFrame, maxIter: Int = 30, hashMinRounds: Int = 8,
      localThreshold: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    // the loop is many tiny stages: AQE's per-stage re-planning jobs cost
    // more latency than they save here — disable for the loop's duration
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // cached, not checkpointed: every result below reads the driver-side
      // solution or checkpointed labels, so the cache is released on return
      canon.persist(StorageLevel.MEMORY_AND_DISK)
      if (localThreshold > 0) {
        // one count job (doubles as the cache materializer — the whole
        // upstream candidate/verify DAG runs exactly once, fully parallel)
        val edgeCount = canon.count()
        if (edgeCount <= localThreshold) {
          val solved = localSolve(canon.as[(Long, Long)].collect())
          return spark.createDataset(
            spark.sparkContext.parallelize(solved.toIndexedSeq,
              math.max(1, ShufflePartitions(spark) / 4)))
            .toDF("id", "component")
        }
      }

      // static closed-neighborhood adjacency: both directions plus a self
      // pair per endpoint — duplicates are harmless under the min-aggregate,
      // which saves the distinct-nodes shuffle
      val bidir = canon.select(col("src").as("u"), col("dst").as("v"))
        .union(canon.select(col("dst").as("u"), col("src").as("v")))
        .union(canon.select(col("src").as("u"), col("src").as("v")))
        .union(canon.select(col("dst").as("u"), col("dst").as("v")))
        .localCheckpoint(false)

      // labels(id) = min label over closed neighborhood, iterated.
      // Monotone non-increasing per node; sum strictly decreases until the
      // fixpoint, so an unchanged sum IS convergence (no join-diff needed).
      // The first round is the initialization itself (labels = neighborhood
      // min of node ids), and its sum/emptiness probe is the single job that
      // materializes canon + bidir + labels.
      var labels = bidir.groupBy(col("u").as("id")).agg(min("v").as("component"))
        .localCheckpoint(false)
      // cast BEFORE summing: a long sum over ~1e9+ labels (values up to
      // partitionId<<33 under monotonically-increasing sources) overflows
      // LongType mid-aggregate; decimal(38,0) accumulation cannot
      val init = labels.agg(count(lit(1)),
        sum(col("component").cast("decimal(38,0)"))).head()
      if (init.getLong(0) == 0L) return labels
      var prevSum = BigDecimal(init.getDecimal(1))
      var converged = false
      var iter = 1
      while (!converged && iter < hashMinRounds) {
        labels = bidir.join(labels, bidir("v") === labels("id"))
          .groupBy(col("u").as("nid"))
          .agg(min("component").as("component"))
          .select(col("nid").as("id"), col("component"))
          .localCheckpoint(false)
        val curSum = BigDecimal(
          labels.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0))
        converged = curSum == prevSum
        prevSum = curSum
        iter += 1
      }
      if (converged) return labels

      // pathological diameter: finish with alternating star rounds on the
      // contracted edge set (node -> current label)
      var e = canon
        .join(labels.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("component", "csrc")
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("csrc").as("src"), col("component").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(false)
      var prev = checksum(e)
      var done = prev._1 == 0L
      while (!done && iter < maxIter) {
        e = smallStar(largeStar(e)).localCheckpoint(false)
        val cur = checksum(e)
        done = cur == prev
        prev = cur
        iter += 1
      }
      // star fixpoint over contracted labels, mapped back through labels
      val contracted = result(e)
      labels.join(contracted, labels("component") === contracted("id"), "left")
        .select(labels("id"),
          coalesce(contracted("component"), labels("component")).as("component"))
    } finally {
      canon.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  /**
   * Delta connected components: fold a batch of new evidence edges into an
   * EXISTING labeling without re-clustering the corpus — the clustering leg
   * of the daily-ingest story (the evidence leg is
   * [[graft.pipeline.DedupPipeline.incrementalPairs]]; the reference
   * re-resolves the whole chain table per merge batch,
   * helpers/so/steps/merge_issues_duplicates.py:10-50, which a 100 TB corpus
   * cannot afford).
   *
   * Contract: the combined view `applyRelabels(assignments, relabels) UNION
   * newAssignments` equals `run(stars UNION deltaEdges)` where `stars` is the
   * assignment table read as (component, id) edges — i.e. exactly what a full
   * recompute over the old labeling plus the new evidence would produce — but
   * computed touching only the delta: the corpus scan is ONE broadcast hash
   * semi-join against the delta's endpoint set (no corpus shuffle, no corpus
   * rows in the CC loop), and the loop itself runs on the CONTRACTED graph
   * (new nodes + one node per touched component), which is O(batch), not
   * O(corpus) — small enough that the driver union-find fast path usually
   * takes it in one job.
   *
   * Precondition (the invariant [[run]]'s own output satisfies): each
   * component label is the MINIMUM member id. Contracting a component to its
   * label is then lossless for min-propagation, so merged labels equal the
   * full-graph minimum. Labelings whose labels are NOT members (e.g. the
   * pipeline's display `cluster_id` = hash of the root image id) must be
   * folded at the nid layer, not here.
   *
   * Node-id spaces must not collide: an id that is simultaneously a new node
   * and an existing component label would contract to a self-loop. Content
   * hashes (`xxhash64(id)`) give this probabilistically — same argument as
   * [[graft.pipeline.DedupPipeline.features]].
   *
   * @param assignments existing labeling: (id LONG, component LONG), one row
   *                    per corpus node. Ids absent from it are NEW nodes.
   * @param deltaEdges  new evidence: (src, dst) touching new and/or corpus
   *                    nodes in any mix (new-new, new-corpus, corpus-corpus)
   * @return [[IncrementalCC]]: labels for the new nodes that appear in an
   *         edge (isolated new nodes are the caller's singletons, as in
   *         [[run]]) + the relabel map for the touched components that moved
   */
  def incrementalRun(assignments: DataFrame, deltaEdges: DataFrame,
      maxIter: Int = 30, hashMinRounds: Int = 8,
      localThreshold: Long = 2000000L): IncrementalCC = {
    val canon = deltaEdges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    val endpoints = canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id")))
      .distinct()
    // the ONLY contact with the (possibly huge) corpus labeling: inner hash
    // join against the broadcast endpoint set — one scan, zero shuffle
    val touched = assignments
      .join(broadcast(endpoints), Seq("id"))
      .select(col("id"), col("component"))
      .localCheckpoint(false)

    def sideMap(side: String): DataFrame =
      touched.select(col("id").as(side), col("component").as(s"__c_$side"))
    val contracted = canon
      .join(sideMap("src"), Seq("src"), "left")
      .join(sideMap("dst"), Seq("dst"), "left")
      .select(coalesce(col("__c_src"), col("src")).as("src"),
        coalesce(col("__c_dst"), col("dst")).as("dst"))
      // edges inside one component contract to self-loops: already merged
      .where(col("src") =!= col("dst"))

    val cc = run(contracted, maxIter, hashMinRounds, localThreshold)

    val newNodes = endpoints.join(touched.select("id"), Seq("id"), "left_anti")
    val newAssignments = cc.join(newNodes, Seq("id"))
    val oldLabels = touched.select(col("component").as("id")).distinct()
    val relabels = cc.join(oldLabels, Seq("id"))
      .where(col("id") =!= col("component"))
      .select(col("id").as("old_component"), col("component"))
    IncrementalCC(newAssignments, relabels)
  }

  /**
   * Corpus-wide view of the labeling after [[incrementalRun]]: one broadcast
   * hash join (the relabel map is bounded by the touched-component count, a
   * batch-sized artifact), no corpus shuffle. Rows of untouched components
   * pass through unchanged.
   */
  def applyRelabels(assignments: DataFrame, relabels: DataFrame): DataFrame =
    assignments
      .join(broadcast(relabels.select(col("old_component").as("component"),
        col("component").as("__merged"))), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__merged"), col("component")).as("component"))

  private def result(e: DataFrame): DataFrame = {
    // At the fixpoint the edge set is a star per component: (member -> root).
    // Guard against hitting maxIter pre-fixpoint with a min-per-src reduce.
    val members = e.groupBy(col("src").as("id")).agg(min("dst").as("component"))
    val roots = e.select(col("dst").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    members.union(roots)
  }
}

/** Result of [[ConnectedComponents.incrementalRun]].
  *
  * @param newAssignments (id, component) for every NEW node that appears in a
  *                       delta edge
  * @param relabels       (old_component, component) for every existing
  *                       component whose label changed — batch-sized, meant
  *                       for the broadcast join in
  *                       [[ConnectedComponents.applyRelabels]] or a catalog
  *                       MERGE INTO
  */
final case class IncrementalCC(newAssignments: DataFrame, relabels: DataFrame)
