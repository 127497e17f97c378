package graft.pipeline

import graft.config.DedupConfig
import graft.functions._
import graft.io.CheckpointStore
import graft.operators.{CandidateGen, ConnectedComponents, SkewStats, VerifyStage}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * End-to-end near-duplicate pipeline (north rule): signatures -> exact-group
 * collapse -> LSH candidate generation on group representatives -> exact
 * verify -> connected components -> cluster assignments.
 *
 * Reference semantics preserved (SURVEY.md section 7): content-hash identity ->
 * candidate generation -> pairwise similarity -> per-cluster aggregation,
 * with every neural scorer replaced by the classical signature trio
 * (MinHash/Jaccard over caption shingles, SimHash/Hamming over phash-derived
 * image tokens, optional LCS for exact long matches — fed by its own
 * winnowed-anchor candidate family when enabled, so long-match recall does
 * not depend on a band collision).
 *
 * Scale design:
 *  - "Dedup before compute" (the reference's unique=True hash dedup,
 *    ea/sim/main/data/objects/issue.py:56-73): rows with an identical
 *    normalized caption collapse to one representative for the MinHash-LSH
 *    family, rows with an identical phash collapse for the SimHash family.
 *    Exact groups contribute O(m) star edges instead of m^2/2 pairs repeated
 *    across all 64 bands — this is what keeps hot boilerplate content from
 *    exploding the band self-join.
 *  - Everything after feature extraction runs on dense LONG node ids
 *    (primitive UnsafeRows through every shuffle — string ids would be
 *    GC-heavy at 10^12 rows and collide as 64-bit hashes).
 *  - Soundness of the collapse: members share their representative's exact
 *    shingle set (caption family) / exact simhash (image family), so a
 *    member-level dup pair exists iff the corresponding representative pair
 *    does; star edges then merge the groups in connected components.
 */
object DedupPipeline {

  /** Per-row signature computation — narrow, whole-stage-codegen friendly.
    * Input requires columns (image_id, caption, phash); `carry` columns are
    * passed through untouched (e.g. the Ingest validation flags). */
  def features(images: DataFrame, cfg: DedupConfig,
      carry: Seq[String] = Nil): DataFrame = {
    images.select(
      Seq(col("image_id").as("id"),
        normalize_text(col("caption")).as("norm_text"),
        shingle_hashes(tokens(col("caption")), cfg.shingleK, cfg.seed).as("shingles"),
        col("phash")) ++ carry.map(col): _*)
      .withColumn("band_keys", signature_band_keys(col("shingles"),
        cfg.numHashes, cfg.bands, cfg.rowsPerBand, cfg.seed, cfg.oph))
      .withColumn("simhash", simhash64(phash_tokens(col("phash")), cfg.seed))
      .withColumn("content_hash", xxhash64(col("norm_text")))
      // dense join identity: CONTENT-derived (image_id is unique by input
      // contract), so a recomputed partition — executor loss, cache eviction,
      // resumed run — always regenerates the same nid. A generator like
      // monotonically_increasing_id is nondeterministic under recomputation
      // and would silently mis-associate the downstream joins at cluster
      // scale. Collision odds over 64 bits are ~n^2/2^65 (~3% at 10^12 rows,
      // negligible below); a collision can only merge two rows' signatures,
      // never corrupt unrelated joins.
      .withColumn("nid", xxhash64(col("id")))
      // mirrorDups adds the mirror-space signature NEXT TO the raw one (the
      // flag-off schema and plan stay byte-identical): `phash_key` collapses
      // bit-exact mirrors with the exact-identity family, `simhash_m` rides
      // the orbit-canonical phash for bucketing + verification. The raw
      // simhash stays primary so ordinary near-dups never regress — the
      // canonical argmin can flip under small phash noise, so the canonical
      // distance alone is NOT a mirror-invariant metric; verify takes the
      // MIN of the raw and canonical Hamming instead (lossy mirrored
      // re-encodes whose argmin lands misaligned remain best-effort, and
      // bit-exact mirrors are caught structurally).
      .transform { base =>
        if (!cfg.mirrorDups) base
        else {
          // rotationDups widens the orbit to the full dihedral group: the
          // canonical also collapses 90/270-degree rotated re-uploads
          val canon: Column => Column =
            if (cfg.rotationDups) phash_canonical_d4 else phash_canonical
          base
            .withColumn("phash_key", canon(col("phash")))
            .withColumn("simhash_m",
              simhash64(phash_tokens(canon(col("phash"))), cfg.seed))
        }
      }
  }

  /** (rep star edges, representative bucket rows) for one exact-identity
    * family. Star edges connect every non-representative member to the
    * group's min-nid representative. */
  private def collapse(feat: DataFrame, identityCol: String): (DataFrame, DataFrame) = {
    val reps = feat.groupBy(identityCol).agg(min("nid").as("rep"))
    val withRep = feat.join(reps, identityCol)
    val stars = withRep.where(col("nid") =!= col("rep"))
      .select(col("rep").as("src"), col("nid").as("dst"))
    val repRows = withRep.where(col("nid") === col("rep"))
    (stars, repRows)
  }

  /** Full run. When `checkpoint` is given, the verified-pairs stage is
    * persisted and resumable (reference snapshot/tail-replay semantics).
    * Eager and caller-released like [[runFromFeatures]]. */
  def run(spark: SparkSession, images: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DedupResult =
    runFromFeatures(spark, features(images, cfg), cfg, checkpoint)

  /** Run from a pre-computed [[features]] frame (e.g. the fused
    * [[graft.operators.Ingest]] pass that validates payloads and extracts
    * features in one scan). Persists the frame if the caller has not.
    *
    * Candidate generation and verify run exactly once, into one persisted
    * evidence frame that both [[DedupResult.assignments]] and
    * [[DedupResult.dupPairs]] read. Eager driver actions before it returns:
    * the features count (sizes the SimHash chunk scheme), the evidence
    * materialization (with `checkpoint`, after the staged `bucket_histogram`,
    * `cap_loss` and `verified_pairs` writes) and [[ConnectedComponents.run]].
    * The caller owns the evidence as it owns the features: call
    * [[DedupResult.release]] once the outputs are consumed. */
  def runFromFeatures(spark: SparkSession, featuresDf: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DedupResult = {

    val feat =
      if (featuresDf.storageLevel == StorageLevel.NONE)
        featuresDf.persist(StorageLevel.MEMORY_AND_DISK)
      else featuresDf

    def staged(name: String)(df: => DataFrame): DataFrame =
      checkpoint.map(_.stage(name)(df)).getOrElse(df)

    // --- exact-identity collapse per family --------------------------------
    // mirrorDups: the image-identity family collapses on the orbit-canonical
    // phash, so a bit-exact mirrored re-upload is an exact-identity member
    // (star edge + hamming-0 evidence), not even a candidate to verify
    val (capStars, capReps) = collapse(feat, "content_hash")
    val (phStars, phReps) =
      collapse(feat, if (cfg.mirrorDups) "phash_key" else "phash")

    // --- candidate generation on representatives ----------------------------
    // feat is persisted above, so this count is one cheap pass over the
    // cache (and fills it); it upper-bounds the representative count and
    // sizes the simhash bucket-key scheme — small corpora keep the classic
    // few-keys-per-row layout, large ones get the wide-key-space subsets
    val nFeat = feat.count()
    val capBuckets = CandidateGen.explodeBands(
      capReps.where(size(col("shingles")) > 0), "nid", "band_keys")
    val chunkBuckets = {
      val raw = CandidateGen.simhashChunkBuckets(
        phReps, "nid", "simhash", cfg.hammingMax, nFeat)
      // mirror-space chunk keys ride alongside the raw ones — a mirrored
      // near-copy collides in the canonical space, an ordinary near-dup in
      // the raw one; cross-space key collisions only add re-verified pairs
      if (cfg.mirrorDups)
        raw.union(CandidateGen.simhashChunkBuckets(
          phReps, "nid", "simhash_m", cfg.hammingMax, nFeat))
      else raw
    }
    // third candidate family (north-rule suffix-array substring pass,
    // distributed as winnowed anchors): active with the LCS detector
    // (DedupConfig requires anchorK < lcsMin whenever lcsMin > 0), it
    // guarantees any rep pair sharing an exact run of >= lcsMin chars in
    // norm_text reaches verify — without it the LCS rule only ever sees
    // pairs that happened to collide in a MinHash band or SimHash chunk.
    // The verify side reads at most cfg.lcsCap chars per text, so runs
    // that only occur past the cap still drop there — size lcsCap to the
    // corpus (the candidate side has no such limit: anchors cover the
    // full text).
    // Caption reps are the right carrier: members of a collapsed group share
    // the exact norm_text, so rep-level recall implies member-level recall
    // through the star edges. Cross-family key collisions (band vs chunk vs
    // anchor longs) only add candidates the verify stage re-checks.
    val buckets =
      if (cfg.lcsMin > cfg.anchorK) {
        val anchorBuckets = capReps.select(col("nid").as("id"),
          explode(winnow_anchors(col("norm_text"), cfg.anchorK,
            cfg.lcsMin - cfg.anchorK + 1, cfg.seed)).as("key"))
        capBuckets.union(chunkBuckets).union(anchorBuckets)
      } else capBuckets.union(chunkBuckets)
    // The bucket rows are cached already partitioned by key: the count
    // aggregate and the band self-join in pairsFromBuckets (and, on
    // checkpointed runs, the occupancy profile and the cap-loss report)
    // all group or join on key, so they read the cache without another
    // exchange. Released once the evidence below has materialized.
    val bucketRows = buckets.repartition(col("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val evidence = try {
      // checkpointed runs persist the bucket-occupancy profile (resumable
      // like any stage): the artifact an operator reads to re-judge
      // maxBucketSize / saltOversized for the NEXT run of a corpus whose
      // skew just surprised this one
      checkpoint.foreach(_.stage("bucket_histogram") {
        SkewStats.bucketHistogram(bucketRows)
      })
      // ... and the run's recall posture: how much candidate volume the cap
      // dropped (degrade mode) or spread (salted) — the "no silent caps"
      // metric
      checkpoint.foreach(_.stage("cap_loss") {
        CandidateGen.capLossReport(bucketRows, cfg.maxBucketSize,
          saltOversized = cfg.saltOversized)
      })
      val candidates = CandidateGen.pairsFromBuckets(bucketRows,
        cfg.maxBucketSize, saltOversized = cfg.saltOversized)

      // --- verify (full OR rule on every candidate) -------------------------
      val featByNid = feat.select(
        (Seq(col("nid").as("id"), col("shingles"), col("simhash"),
          col("norm_text")) ++
          (if (cfg.mirrorDups) Seq(col("simhash_m")) else Nil)): _*)
      // read once, by the evidence materialization below (with a
      // checkpoint, from the staged verified_pairs files)
      val verified = staged("verified_pairs") {
        VerifyStage.verify(candidates, featByNid, cfg).where(col("is_dup"))
      }

      // --- duplicate-pair evidence (representative level + exact stars) -----
      // node ids for connected components next to the image ids dupPairs
      // publishes: one pair of nid -> id joins over all three edge kinds
      def idOf(side: String) =
        feat.select(col("nid").as(side), col("id").as(s"__$side"))
      materialize(
        verified.select(col("a").as("src"), col("b").as("dst"),
            col("jaccard"), col("hamming"))
          .union(capStars.select(col("src"), col("dst"),
            lit(1.0).as("jaccard"), lit(null).cast("int").as("hamming")))
          .union(phStars.select(col("src"), col("dst"),
            lit(null).cast("double").as("jaccard"), lit(0).as("hamming")))
          .join(idOf("src"), "src")
          .join(idOf("dst"), "dst")
          .select(col("src"), col("dst"),
            least(col("__src"), col("__dst")).as("a"),
            greatest(col("__src"), col("__dst")).as("b"),
            col("jaccard"), col("hamming")))
    } finally bucketRows.unpersist()

    try {
      // --- clustering --------------------------------------------------------
      val cc = ConnectedComponents.run(evidence.select("src", "dst"))

      val assigned = feat.select(col("id").as("image_id"), col("nid"))
        .join(cc, feat("nid") === cc("id"), "left")
        .select(col("image_id"), coalesce(col("component"), col("nid")).as("comp"))

      // Deterministic cluster label: hash of the lexicographically smallest
      // member id (content-derived, independent of nid assignment order).
      val labels = assigned.groupBy("comp")
        .agg(min("image_id").as("root_image"))
        .select(col("comp"), xxhash64(col("root_image")).as("cluster_id"))
      val assignments = assigned.join(labels, "comp")
        .select("image_id", "cluster_id")

      DedupResult(feat, evidence, assignments)
    } catch {
      case e: Throwable => evidence.unpersist(); throw e
    }
  }

  /** Persist and count; a failed count releases the cache entry again. */
  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try { p.count(); p }
    catch { case e: Throwable => p.unpersist(); throw e }
  }

  /**
   * Incremental mode: near-dup evidence of a NEW batch against an EXISTING
   * corpus — bipartite only (never corpus-corpus: the corpus is already
   * deduped; never new-new: run the batch DAG on the batch for that). All
   * candidate families the batch DAG runs generate here too: caption band
   * keys, SimHash chunk keys (the chunk scheme sized by the CORPUS count so
   * both sides emit identical key layouts), and — when the LCS detector is
   * enabled (cfg.lcsMin > cfg.anchorK, the batch-DAG gate) — winnowed
   * anchors, without which long-match recall would silently degrade to
   * band/chunk-collision-gated. The shared [[graft.operators.VerifyStage]]
   * OR-rule verifies: the same evidence semantics as the batch DAG,
   * restricted to cross-batch pairs.
   *
   * Hot keys are bounded by [[CandidateGen.bipartitePairsFromBuckets]]
   * (cfg.maxBucketSize volume ceiling, cfg.saltOversized exact-vs-degrade):
   * raw bipartite frames get no exact-group collapse, so a degenerate
   * near-identical-boilerplate key is otherwise an unbounded candidate
   * volume — the first thing a daily ingest hits at a 100 TB corpus.
   *
   * Join identity is salted PER SIDE (xxhash64(side-tag, id)): the same
   * image_id may legitimately appear in both frames (a daily re-crawl,
   * possibly with changed content), and un-salted content-free nids would
   * alias the two rows — the verify joins would fan out and attribute one
   * side's features to the other. With side salting an id overlap is just
   * two distinct nodes; a (x, x) output pair means "the new crawl of x
   * still near-matches the corpus's x".
   *
   * The daily-ingest shape at 100 TB: the corpus-side feature rows are
   * precomputed and persisted across runs (see [[graft.Main]]
   * `--corpus-features`); only the new batch is featurized per run — the
   * reference's incremental index insert (faiss.py:40-51).
   *
   * @param newFeat    [[features]]/[[graft.operators.Ingest.run]] frame of
   *                   the new batch
   * @param corpusFeat same for the existing corpus
   * @return (a = new image_id, b = corpus image_id, jaccard, hamming)
   */
  def incrementalPairs(spark: SparkSession, newFeat: DataFrame,
      corpusFeat: DataFrame, cfg: DedupConfig,
      checkpoint: Option[CheckpointStore] = None): DataFrame = {
    val nCorpus = corpusFeat.count()
    incrementalPairsFromState(spark, newFeat, corpusFeat,
      corpusStateRows(corpusFeat, nCorpus, cfg), nCorpus, cfg, checkpoint)
  }

  /** Side-salted join identity of the bipartite DAG: see
    * [[incrementalPairs]]'s doc comment — never the frames' own content-free
    * nid, which collides when an id appears on both sides. Tag 0 = new
    * batch, tag 1 = corpus. */
  private def saltedSide(f: DataFrame, tag: Int): DataFrame =
    f.withColumn("nid", xxhash64(lit(tag), col("id")))

  /** Candidate bucket rows of one (already side-salted) frame of the
    * bipartite DAG — all the families [[incrementalPairs]] documents, with
    * the SimHash chunk scheme sized by `nCorpus` so both sides emit
    * identical key layouts. */
  private def sideBuckets(f: DataFrame, nCorpus: Long,
      cfg: DedupConfig): DataFrame = {
    val chunks = {
      val raw = CandidateGen.simhashChunkBuckets(f, "nid", "simhash",
        cfg.hammingMax, nCorpus)
      // mirror-space chunk keys, same as the batch DAG
      if (cfg.mirrorDups)
        raw.union(CandidateGen.simhashChunkBuckets(f, "nid", "simhash_m",
          cfg.hammingMax, nCorpus))
      else raw
    }
    val base = CandidateGen.explodeBands(f.where(size(col("shingles")) > 0),
        "nid", "band_keys")
      .union(chunks)
    if (cfg.lcsMin > cfg.anchorK)
      base.union(f.select(col("nid").as("id"),
        explode(winnow_anchors(col("norm_text"), cfg.anchorK,
          cfg.lcsMin - cfg.anchorK + 1, cfg.seed)).as("key")))
    else base
  }

  /**
   * The PERSISTABLE corpus half of the incremental DAG: the corpus-side
   * candidate bucket rows `(b = side-salted corpus nid, key)` that
   * [[incrementalPairsFromState]] joins the new batch against. Every term is
   * deterministic in (id, content, config, frozenCorpusCount), so the frame
   * can be written once — bucketed by `key`
   * ([[graft.io.TableIO.writeBucketed]]) — and re-joined every daily run
   * without the corpus-side shuffle: at 10^12 rows the exploded bucket frame
   * is ~25 keys/row of (long, long) pairs, hundreds of TB of shuffle per run
   * under the in-memory path, zero once bucketed on disk.
   *
   * `frozenCorpusCount` sizes the SimHash chunk scheme and MUST be the value
   * the state was first built with, even after `--merge-new` grows the
   * corpus ([[graft.Main]] stores it in `corpus_features_meta.n_corpus`):
   * the scheme only tunes key-space occupancy — the subset-key recall
   * guarantee holds for any consistent scheme — but BOTH sides must use the
   * same one, and the persisted corpus rows were keyed under it. Rebuild the
   * state when the corpus has grown far past its build size to re-tune
   * occupancy.
   */
  def corpusStateRows(corpusFeat: DataFrame, frozenCorpusCount: Long,
      cfg: DedupConfig): DataFrame =
    sideBuckets(saltedSide(corpusFeat, 1), frozenCorpusCount, cfg)
      .select(col("id").as("b"), col("key"))

  /**
   * [[incrementalPairs]] with the corpus half supplied as pre-computed state:
   * `corpusBuckets` from [[corpusStateRows]] (ideally a
   * [[graft.io.TableIO.readBucketed]] scan — then the candidate join and its
   * per-key profile shuffle ONLY the new batch) and `corpusCount` the frozen
   * scheme size from the state meta. Output contract identical to
   * [[incrementalPairs]]; [[graft.pipeline]]'s spec proves pair-for-pair
   * equality and the plan shape.
   */
  def incrementalPairsFromState(spark: SparkSession, newFeat: DataFrame,
      corpusFeat: DataFrame, corpusBuckets: DataFrame, corpusCount: Long,
      cfg: DedupConfig, checkpoint: Option[CheckpointStore] = None)
      : DataFrame = {
    val nf = saltedSide(newFeat, 0)
    val cf = saltedSide(corpusFeat, 1)
    val newBuckets = sideBuckets(nf, corpusCount, cfg)
      .select(col("id").as("a"), col("key"))
    val cb = corpusBuckets.select(col("b"), col("key"))
    // checkpointed runs publish the bipartite recall posture next to the
    // pairs — dropped candidate volume per status, the incremental "no
    // silent caps" metric. The report re-derives the (narrow) new-batch
    // bucket rows; it materializes eagerly inside stage(), so no
    // persistence hand-off with the lazily-consumed candidate join below.
    checkpoint.foreach(_.stage("incremental_cap_loss") {
      CandidateGen.bipartiteCapLossReport(newBuckets, cb,
        cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    })
    val cand = CandidateGen.bipartitePairsFromBuckets(newBuckets, cb,
      cfg.maxBucketSize, saltOversized = cfg.saltOversized)
    val featByNid = nf.unionByName(cf)
      .select((Seq(col("nid").as("id"), col("shingles"), col("simhash"),
        col("norm_text")) ++
        (if (cfg.mirrorDups) Seq(col("simhash_m")) else Nil)): _*)
    val verified = VerifyStage.verify(cand, featByNid, cfg)
      .where(col("is_dup"))
    verified
      .join(nf.select(col("nid").as("a"), col("id").as("__a")), "a")
      .join(cf.select(col("nid").as("b"), col("id").as("__b")), "b")
      .select(col("__a").as("a"), col("__b").as("b"),
        col("jaccard"), col("hamming"))
  }

  /**
   * Fold a day's evidence into the EXISTING cluster assignment table without
   * re-clustering the corpus — the pipeline-level companion of
   * [[graft.operators.ConnectedComponents.incrementalRun]], speaking the
   * batch DAG's display-label convention (`cluster_id = xxhash64(lexico-min
   * member image_id)`, [[runFromFeatures]]). The combined view
   * `applyClusterRelabels(assignments, relabels) UNION newAssignments UNION
   * untouched-new-singletons` equals what [[runFromFeatures]] over
   * corpus-plus-batch produces from the same evidence.
   *
   * Corpus contact is TWO broadcast-semi scans (never a corpus shuffle):
   * one to resolve the evidence's corpus ids to their clusters, one to pull
   * the touched clusters' member rows (their lexico-min member is what the
   * merged display label needs — the label hash cannot be inverted). The
   * delta graph then contracts each touched cluster to one node
   * (its cluster_id) and runs CC over O(batch) nodes only.
   *
   * Batch image ids MUST be disjoint from corpus ids. This is the label
   * convention's own requirement, not an implementation limit: with a
   * duplicated id, even a from-scratch re-run over corpus-plus-batch is
   * ill-defined (two distinct clusters can both claim the duplicated string
   * as lexico-min root and alias to one cluster_id). A re-crawl pipeline
   * ingests under fresh ids — or upsert-replaces the old row first, which
   * is a corpus mutation, not a batch fold. The pair-evidence layer
   * ([[incrementalPairs]]) deliberately TOLERATES id overlap (side-salted
   * nids) because evidence rows are id-pair-valued, not label-valued.
   *
   * @param corpusAssign existing (image_id, cluster_id) — must cover every
   *                     corpus id the evidence references
   * @param crossPairs   [[incrementalPairs]] output: (a = new image_id,
   *                     b = corpus image_id)
   * @param newPairs     within-batch evidence (a, b) — e.g. the batch DAG's
   *                     `dupPairs` over the batch alone; pass an empty frame
   *                     if the batch is internally deduped
   * @param newIds       every new-batch image_id (isolated rows become
   *                     singleton clusters labeled xxhash64(own id), the
   *                     batch DAG's convention)
   */
  def incrementalAssignments(spark: SparkSession, corpusAssign: DataFrame,
      crossPairs: DataFrame, newPairs: DataFrame,
      newIds: DataFrame): IncrementalAssignments = {
    // corpus scan 1: evidence ids -> their clusters
    val bIds = crossPairs.select(col("b").as("image_id")).distinct()
    val touchedB = corpusAssign.join(broadcast(bIds), Seq("image_id"))
      .select(col("image_id").as("b"), col("cluster_id"))
      .localCheckpoint(false)
    // corpus scan 2: touched clusters' member rows -> lexico-min member
    val touchedClusters = touchedB.select("cluster_id").distinct()
    val roots = corpusAssign.join(broadcast(touchedClusters), Seq("cluster_id"))
      .groupBy("cluster_id").agg(min("image_id").as("root_image"))

    // delta graph: new nodes ride as SIDE-SALTED hashes, touched clusters as
    // their cluster_id. Without the salt a batch id equal to some cluster's
    // lexico-min root would make the new node EQUAL the cluster node by
    // construction (cluster_id = xxhash64(root)) and silently conflate them;
    // the documented disjoint-ids contract rules that input out, the salt
    // keeps the failure structural-impossible rather than contract-enforced.
    // Node ids are internal to the delta CC — display labels only ever
    // derive from the `cand` image-id strings — so salting costs nothing.
    val newNode = (c: org.apache.spark.sql.Column) => xxhash64(lit("new:"), c)
    val crossEdges = crossPairs.join(touchedB, Seq("b"))
      .select(newNode(col("a")).as("src"), col("cluster_id").as("dst"))
    val newEdges = newPairs
      .select(newNode(col("a")).as("src"), newNode(col("b")).as("dst"))
    val cc = ConnectedComponents.run(crossEdges.union(newEdges))

    // per-component display root = lexico-min over member image ids and
    // merged clusters' roots
    val newMap = newIds.select(newNode(col("image_id")).as("id"),
      col("image_id").as("cand"))
    val cluMap = roots.select(col("cluster_id").as("id"),
      col("root_image").as("cand"))
    val cands = cc.join(newMap.unionByName(cluMap), Seq("id"))
      .localCheckpoint(false)
    val labels = cands.groupBy("component")
      .agg(xxhash64(min(col("cand"))).as("new_cluster_id"))

    val inEvidence = cands.join(newMap.select("id"), Seq("id"))
      .join(labels, Seq("component"))
      .select(col("cand").as("image_id"), col("new_cluster_id").as("cluster_id"))
    val singletons = newIds
      .join(inEvidence.select(col("image_id")), Seq("image_id"), "left_anti")
      .select(col("image_id"), xxhash64(col("image_id")).as("cluster_id"))
    val newAssignments = inEvidence.unionByName(singletons)

    val relabels = cands.join(cluMap.select("id"), Seq("id"))
      .join(labels, Seq("component"))
      .where(col("id") =!= col("new_cluster_id"))
      .select(col("id").as("cluster_id"), col("new_cluster_id"))
    IncrementalAssignments(newAssignments, relabels, Seq(touchedB, cands))
  }

  /** Corpus-wide assignment view after [[incrementalAssignments]]: one
    * broadcast hash join against the batch-sized relabel map. */
  def applyClusterRelabels(corpusAssign: DataFrame, relabels: DataFrame): DataFrame =
    corpusAssign
      .join(broadcast(relabels), Seq("cluster_id"), "left")
      .select(col("image_id"),
        coalesce(col("new_cluster_id"), col("cluster_id")).as("cluster_id"))
}

/** Result of [[DedupPipeline.incrementalAssignments]].
  *
  * @param newAssignments (image_id, cluster_id) for every new-batch row
  * @param relabels       (cluster_id, new_cluster_id) for touched corpus
  *                       clusters whose display label moved — batch-sized,
  *                       meant for [[DedupPipeline.applyClusterRelabels]] or
  *                       a catalog MERGE INTO
  * @param checkpoints    the batch-sized local checkpoints both outputs read
  *                       (touched corpus rows, component candidates); the
  *                       caller frees them with [[release]] once both are
  *                       consumed
  */
final case class IncrementalAssignments(
    newAssignments: DataFrame,
    relabels: DataFrame,
    checkpoints: Seq[DataFrame]) {

  /** Drop the checkpoint blocks: `unpersist` on a frame reaches cached plans
    * only, so this unpersists the checkpointed RDD under each plan. */
  def release(): Unit = checkpoints.foreach(_.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist()
    case _ =>
  })
}

/** Result of [[DedupPipeline.runFromFeatures]].
  *
  * @param features    per-row signatures, persisted: the caller's frame, or
  *                    persisted by the run when it was not; the caller
  *                    unpersists them
  * @param evidence    the persisted evidence frame, one row per duplicate
  *                    pair: (src, dst) node ids and (a, b) image ids with
  *                    jaccard / hamming — representative pairs that passed
  *                    verify plus exact-identity star edges. Connected
  *                    components ran on it; the caller owns it and frees
  *                    it with [[release]]
  * @param assignments final (image_id, cluster_id) */
final case class DedupResult(
    features: DataFrame,
    evidence: DataFrame,
    assignments: DataFrame) {

  /** Verified duplicate pairs (a, b, jaccard, hamming): representative pairs
    * plus exact-identity stars (cluster co-membership is the full transitive
    * pair set). A projection of the persisted [[evidence]], so reading it
    * after `assignments` runs no candidate generation, verify or shuffle. */
  def dupPairs: DataFrame = evidence.select("a", "b", "jaccard", "hamming")

  /** Unpersist the evidence once `dupPairs` is consumed. `assignments`
    * stay readable: connected components checkpointed its labels. */
  def release(): Unit = evidence.unpersist()
}
