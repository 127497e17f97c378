package graft

import graft.config.DedupConfig
import graft.synth.ImageGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.functions._

class MainSpec extends SparkSpec {

  private def rmrf(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  test("spark-submit entrypoint runs end to end and resumes from checkpoint") {
    val in = "/tmp/graft_main_spec/in"
    val out = "/tmp/graft_main_spec/out"
    val ck = "/tmp/graft_main_spec/ck"
    Seq(in, out, ck).foreach(rmrf)
    ImageGen.generate(spark, bases = 25, seed = 42L)
      .write.mode("overwrite").parquet(in)
    val nIn = spark.read.parquet(in).count()

    Main.run(spark, in, out, DedupConfig.default, Some(ck), "r1", partitions = 4)

    val asg = spark.read.parquet(s"$out/assignments.parquet")
    assert(asg.count() == nIn, "one assignment row per input image")
    assert(asg.select("cluster_id").distinct().count() < nIn,
      "generator plants dup groups — clusters must merge some images")
    val v = spark.read.parquet(s"$out/validation.parquet").head()
    assert(v.getAs[Long]("rows") == nIn)
    assert(v.getAs[Long]("valid") == nIn, "synthetic payloads all validate")
    val m1 = spark.read.parquet(s"$out/metrics.parquet")
      .where(col("stage") === "verified_pairs")
    assert(m1.count() == 1, "staged verify recorded one lineage row")

    // resume: same run id reuses the persisted stage — no new metric row
    Main.run(spark, in, out, DedupConfig.default, Some(ck), "r1", partitions = 4)
    val m2 = spark.read.parquet(s"$out/metrics.parquet")
      .where(col("stage") === "verified_pairs")
    assert(m2.count() == 1, "resumed run must not recompute the staged stage")
  }

  test("incremental mode: new batch vs corpus evidence, bipartite only") {
    val in = "/tmp/graft_main_spec/inc_corpus"
    val nb = "/tmp/graft_main_spec/inc_new"
    val out = "/tmp/graft_main_spec/inc_out"
    Seq(in, nb, out).foreach(rmrf)
    val corpus = ImageGen.generate(spark, bases = 20, seed = 42L).toDF()
    corpus.write.mode("overwrite").parquet(in)
    // new batch: 8 re-ingested corpus payloads under new ids (exact dups of
    // their originals) + a disjoint batch from another seed (no matches)
    val reingested = corpus.limit(8)
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
    val foreign = ImageGen.generate(spark, bases = 5, seed = 777L).toDF()
      .withColumn("image_id", concat(lit("new_x_"), col("image_id")))
    reingested.unionByName(foreign).write.mode("overwrite").parquet(nb)

    Main.run(spark, in, out, DedupConfig.default, partitions = 4,
      incremental = Some(nb))

    val pairs = spark.read.parquet(s"$out/incremental_pairs.parquet")
    val got = pairs.select("a", "b").as[(String, String)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)).collect()
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a.startsWith("new_") && !b.startsWith("new_") },
      s"non-bipartite rows: ${got.filterNot { case (a, b) => a.startsWith("new_") && !b.startsWith("new_") }.take(3).toSeq}")
    // every re-ingested payload must surface its own original as evidence
    val reIds = reingested.select("image_id").collect().map(_.getString(0))
    reIds.foreach { nid =>
      assert(got.exists { case (a, b) => a == nid && s"new_$b" == nid },
        s"re-ingested $nid did not match its original")
    }
    // the new batch's validation report, not the corpus's
    val v = spark.read.parquet(s"$out/validation.parquet").head()
    assert(v.getAs[Long]("rows") ==
      reingested.count() + foreign.count())
  }

  test("incremental --corpus-features: featurize once, later runs skip the corpus") {
    val in = "/tmp/graft_main_spec/cf_corpus"
    val nb = "/tmp/graft_main_spec/cf_new"
    val out1 = "/tmp/graft_main_spec/cf_out1"
    val out2 = "/tmp/graft_main_spec/cf_out2"
    val cf = "/tmp/graft_main_spec/cf_feat"
    Seq(in, nb, out1, out2, cf).foreach(rmrf)
    val corpus = ImageGen.generate(spark, bases = 15, seed = 42L).toDF()
    corpus.write.mode("overwrite").parquet(in)
    val nCorpus = corpus.count()
    val fresh = corpus.limit(6)
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
    fresh.write.mode("overwrite").parquet(nb)
    val nNew = fresh.count()

    // run 1: featurizes --input once and persists the feature table
    Main.run(spark, in, out1, DedupConfig.default, partitions = 4,
      incremental = Some(nb), corpusFeatures = Some(cf))
    val featTable = spark.read.parquet(s"$cf/corpus_features.parquet")
    assert(featTable.count() == nCorpus)
    // run 1 also wrote the bucketed corpus half of the candidate DAG — the
    // table later runs join against without shuffling the corpus side
    val bucketTable = spark.read.parquet(s"$cf/corpus_buckets.parquet")
    assert(bucketTable.count() > 0 &&
      bucketTable.columns.toSet == Set("b", "key"))
    val p1 = spark.read.parquet(s"$out1/incremental_pairs.parquet")
      .orderBy("a", "b").collect().toSeq

    // run 2: --input is a BOGUS path — the run can only succeed if the
    // persisted feature table fully replaces corpus featurization
    Main.run(spark, "/nonexistent/never_read", out2, DedupConfig.default,
      partitions = 4, incremental = Some(nb), corpusFeatures = Some(cf),
      mergeNew = true)
    val p2 = spark.read.parquet(s"$out2/incremental_pairs.parquet")
      .orderBy("a", "b").collect().toSeq
    assert(p1 == p2, "persisted-features run must reproduce the pairs exactly")

    // --merge-new upserted the batch: the reference's incremental index
    // insert — tomorrow's corpus includes today's batch
    val merged = spark.read.parquet(s"$cf/corpus_features.parquet")
    assert(merged.count() == nCorpus + nNew)
    // run 3 against the merged table: every new row now matches its own
    // corpus copy exactly (identical payload under the same id)
    val out3 = "/tmp/graft_main_spec/cf_out3"
    rmrf(out3)
    Main.run(spark, "/nonexistent/never_read", out3, DedupConfig.default,
      partitions = 4, incremental = Some(nb), corpusFeatures = Some(cf))
    val selfPairs = spark.read.parquet(s"$out3/incremental_pairs.parquet")
      .where(col("a") === col("b")).count()
    assert(selfPairs == nNew,
      "each batch row must match its merged-in corpus self")

    intercept[IllegalArgumentException] {
      Main.run(spark, in, out1, DedupConfig.default, mergeNew = true)
    }

    // a config drift against the persisted feature space must fail fast,
    // not silently join across signature spaces
    val drift = intercept[IllegalArgumentException] {
      Main.run(spark, "/nonexistent/never_read", out3,
        DedupConfig.default.copy(seed = 43L), partitions = 4,
        incremental = Some(nb), corpusFeatures = Some(cf))
    }
    assert(drift.getMessage.contains("seed=43"))
    val mirrorDrift = intercept[IllegalArgumentException] {
      Main.run(spark, "/nonexistent/never_read", out3,
        DedupConfig.default.copy(mirrorDups = true), partitions = 4,
        incremental = Some(nb), corpusFeatures = Some(cf))
    }
    assert(mirrorDrift.getMessage.contains("mirrorDups=true"))
    // a bucket-space drift (same FEATURE space, different chunk scheme) must
    // also fail fast: the persisted corpus_buckets were keyed under the old
    // hammingMax and would silently miss candidates
    val bucketDrift = intercept[IllegalArgumentException] {
      Main.run(spark, "/nonexistent/never_read", out3,
        DedupConfig.default.copy(hammingMax = 7), partitions = 4,
        incremental = Some(nb), corpusFeatures = Some(cf))
    }
    assert(bucketDrift.getMessage.contains("hammingMax=7"),
      bucketDrift.getMessage)
  }

  test("incremental --assignments: delta fold equals a full re-run over corpus + batch") {
    val in = "/tmp/graft_main_spec/asg_corpus"
    val nb = "/tmp/graft_main_spec/asg_new"
    val all = "/tmp/graft_main_spec/asg_all"
    val outC = "/tmp/graft_main_spec/asg_out_corpus"
    val outI = "/tmp/graft_main_spec/asg_out_inc"
    val outA = "/tmp/graft_main_spec/asg_out_all"
    Seq(in, nb, all, outC, outI, outA).foreach(rmrf)
    val corpus = ImageGen.generate(spark, bases = 20, seed = 42L).toDF()
    // batch: re-ingested corpus payloads (cross edges), a pure new-new twin
    // pair (merges via within-batch evidence only), and unmatched foreigners
    val reingested = corpus.limit(6)
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
    val twinBase = ImageGen.generate(spark, bases = 1, seed = 888L).toDF()
    val twins = twinBase
      .withColumn("image_id", concat(lit("new_t1_"), col("image_id")))
      .unionByName(twinBase
        .withColumn("image_id", concat(lit("new_t2_"), col("image_id"))))
    val foreign = ImageGen.generate(spark, bases = 4, seed = 777L).toDF()
      .withColumn("image_id", concat(lit("new_x_"), col("image_id")))
    val batch = reingested.unionByName(twins).unionByName(foreign)
    corpus.write.mode("overwrite").parquet(in)
    batch.write.mode("overwrite").parquet(nb)
    corpus.unionByName(batch).write.mode("overwrite").parquet(all)

    // yesterday: batch DAG over the corpus alone
    Main.run(spark, in, outC, DedupConfig.default, partitions = 4)
    // today: incremental fold against yesterday's assignment table
    Main.run(spark, in, outI, DedupConfig.default, partitions = 4,
      incremental = Some(nb),
      assignments = Some(s"$outC/assignments.parquet"))
    // oracle: full re-run over corpus + batch together
    Main.run(spark, all, outA, DedupConfig.default, partitions = 4)

    val corpusAssign = spark.read.parquet(s"$outC/assignments.parquet")
    val newA = spark.read.parquet(s"$outI/new_assignments.parquet")
    val rel = spark.read.parquet(s"$outI/relabels.parquet")
    assert(newA.count() == batch.count(), "one row per batch image")
    val combined = graft.pipeline.DedupPipeline
      .applyClusterRelabels(corpusAssign, rel).unionByName(newA)
    val full = spark.read.parquet(s"$outA/assignments.parquet")
    assert(combined.count() == full.count())
    assert(combined.exceptAll(full).count() == 0 &&
      full.exceptAll(combined).count() == 0,
      "delta fold must equal the from-scratch labeling")
    // the twins merged through within-batch evidence alone
    val twinClusters = newA
      .where(col("image_id").startsWith("new_t"))
      .select("cluster_id").distinct().count()
    assert(twinClusters == 1, "new-new twin pair must share a cluster")

    intercept[IllegalArgumentException] {
      Main.run(spark, in, outI, DedupConfig.default,
        assignments = Some("/tmp/x"))
    }
  }

  test("incremental --checkpoint stages the pairs and resumes") {
    val in = "/tmp/graft_main_spec/ick_corpus"
    val nb = "/tmp/graft_main_spec/ick_new"
    val out = "/tmp/graft_main_spec/ick_out"
    val ck = "/tmp/graft_main_spec/ick_ck"
    Seq(in, nb, out, ck).foreach(rmrf)
    val corpus = ImageGen.generate(spark, bases = 12, seed = 42L).toDF()
    corpus.write.mode("overwrite").parquet(in)
    corpus.limit(4)
      .withColumn("image_id", concat(lit("new_"), col("image_id")))
      .write.mode("overwrite").parquet(nb)

    Main.run(spark, in, out, DedupConfig.default, Some(ck), "i1",
      partitions = 4, incremental = Some(nb))
    val m1 = spark.read.parquet(s"$out/metrics.parquet")
      .where(col("stage") === "incremental_pairs")
    assert(m1.count() == 1, "incremental run must record its staged metrics")
    assert(spark.read.parquet(s"$out/lineage.parquet").count() > 0)
    // checkpointed incremental runs also publish the bipartite cap-loss
    // posture (the incremental "no silent caps" metric)
    val capLoss = spark.read.parquet(s"$ck/i1/incremental_cap_loss")
    assert(capLoss.count() > 0)
    val conserved = capLoss
      .select("exact_pairs", "emitted_pairs", "dropped_pairs").collect()
    assert(conserved.forall(r =>
      r.getLong(0) == r.getLong(1) + r.getLong(2)))

    // resume: the staged pairs are reused, no second metric row
    Main.run(spark, in, out, DedupConfig.default, Some(ck), "i1",
      partitions = 4, incremental = Some(nb))
    val m2 = spark.read.parquet(s"$out/metrics.parquet")
      .where(col("stage") === "incremental_pairs")
    assert(m2.count() == 1, "resumed incremental run must not recompute")
  }

  test("configOf applies --set overrides and rejects unknown keys") {
    val c = Main.configOf(Map("hammingMax" -> "2", "jaccardMin" -> "0.7",
      "forgetDays" -> "14", "dupAttach" -> "false", "saltOversized" -> "true",
      "mirrorDups" -> "true"))
    assert(c.hammingMax == 2 && c.jaccardMin == 0.7)
    assert(c.forgetDays.contains(14) && !c.dupAttach)
    assert(c.saltOversized && c.mirrorDups)
    assert(!Main.configOf(Map.empty).mirrorDups)
    assert(!Main.configOf(Map.empty).saltOversized)
    intercept[IllegalArgumentException] {
      Main.configOf(Map("notAKey" -> "1"))
    }
    // an LCS detector whose anchor family would be inert is a config error,
    // not a silent recall downgrade
    intercept[IllegalArgumentException] {
      Main.configOf(Map("lcsMin" -> "12"))
    }
    assert(Main.configOf(Map("lcsMin" -> "12", "anchorK" -> "8")).anchorK == 8)
    // a verify cap below the detector threshold can never fire
    intercept[IllegalArgumentException] {
      Main.configOf(Map("lcsMin" -> "64", "lcsCap" -> "32"))
    }
  }

  test("stream mode: two cron-style drains bootstrap then fold new files only") {
    val watched = "/tmp/graft_main_spec/stream_in"
    val out = "/tmp/graft_main_spec/stream_out"
    val state = "/tmp/graft_main_spec/stream_state"
    Seq(watched, out, state).foreach(rmrf)

    val drop0 = ImageGen.generate(spark, bases = 12, seed = 42L).toDF()
    drop0.write.mode("append").parquet(watched)
    // first drain: bootstraps the corpus from everything present
    Main.runStream(spark, watched, out, state, DedupConfig.default)
    assert(spark.read.parquet(s"$state/assignments.parquet").count() ==
      drop0.count())

    // second drop lands later: 4 re-ingests of drop0 payloads under fresh
    // ids + a foreign batch; the next drain must consume ONLY these files
    val reing = drop0.limit(4)
      .withColumn("image_id", concat(lit("s_"), col("image_id")))
    val foreign = ImageGen.generate(spark, bases = 3, seed = 777L).toDF()
      .withColumn("image_id", concat(lit("f_"), col("image_id")))
    reing.unionByName(foreign).write.mode("append").parquet(watched)
    Main.runStream(spark, watched, out, state, DedupConfig.default)

    val asg = spark.read.parquet(s"$state/assignments.parquet")
    assert(asg.count() == drop0.count() + reing.count() + foreign.count())
    // the fold equals one batch run over everything seen so far
    val full = pipeline.DedupPipeline.run(spark,
      drop0.unionByName(reing).unionByName(foreign),
      DedupConfig.default).assignments
    assert(asg.exceptAll(full).count() == 0 && full.exceptAll(asg).count() == 0)
    // batch 1 evidence is bipartite new-vs-corpus
    val ev = spark.read.parquet(s"$out/incremental_pairs_1.parquet")
    assert(ev.count() > 0)
    // a third drain with nothing new is a no-op (no batch 2 marker/table)
    Main.runStream(spark, watched, out, state, DedupConfig.default)
    assert(!new java.io.File(s"$state/batch_2_done.parquet").exists())
  }

  test("stream mode flags: --state required, batch flags rejected") {
    val a = Main.parse(List("--stream", "/w", "--state", "/s",
      "--output", "/o"), Main.Args())
    assert(a.stream.contains("/w") && a.state.contains("/s"))
    intercept[IllegalArgumentException] {
      Main.parse(List("--stream"), Main.Args())
    }
  }

  /** (row count, bit_xor of xxhash64 over every column): order-free and
    * exact over the row multiset — the count catches a row written twice,
    * which cancels out of the xor. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(
      expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("batch outputs match the pinned digests: default, mirrorDups, anchor family") {
    val in = "/tmp/graft_main_spec/pin_in"
    rmrf(in)
    ImageGen.generate(spark, bases = 25, seed = 42L)
      .write.mode("overwrite").parquet(in)
    // (assignments, dup_pairs) digests recorded from the DAG that ran
    // candidate generation and verify once per output table; the single
    // pass over one materialized evidence frame must keep the row sets
    val pinned = Map(
      "default" -> ((59L, -648351263444652963L), (81L, 1930501024873610945L)),
      "mirrorDups" -> ((59L, -648351263444652963L), (81L, 1390719631585742737L)),
      "anchors" -> ((59L, 5695160826468498524L), (175L, 7025827540450876894L)))
    val got = Seq(
      "default" -> Map.empty[String, String],
      "mirrorDups" -> Map("mirrorDups" -> "true"),
      "anchors" -> Map("lcsMin" -> "16", "anchorK" -> "8")).map { case (name, sets) =>
      val out = s"/tmp/graft_main_spec/pin_out_$name"
      rmrf(out)
      Main.run(spark, in, out, Main.configOf(sets), partitions = 4)
      name -> (digest(spark.read.parquet(s"$out/assignments.parquet")),
        digest(spark.read.parquet(s"$out/dup_pairs.parquet")))
    }.toMap
    assert(got == pinned, s"digests moved: $got")
    // a checkpointed run reads verified_pairs back from its stage files
    val (out, ck) = ("/tmp/graft_main_spec/pin_out_ck", "/tmp/graft_main_spec/pin_ck")
    Seq(out, ck).foreach(rmrf)
    Main.run(spark, in, out, DedupConfig.default, Some(ck), "pin", partitions = 4)
    assert((digest(spark.read.parquet(s"$out/assignments.parquet")),
      digest(spark.read.parquet(s"$out/dup_pairs.parquet"))) == pinned("default"))
  }

  /** Shuffle bytes written by each stage of the jobs `body` runs, read off a
    * listener once every job of the body's job group has reported its end. */
  private def stageShuffleWrites(body: => Unit): Seq[Long] = {
    val sc = spark.sparkContext
    val group = s"main-spec-${System.nanoTime()}"
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "stageShuffleWrites")
      try body finally sc.clearJobGroup()
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.nonEmpty && jobs.forall(ended.contains),
        "listener missed a job end")
    } finally sc.removeSparkListener(listener)
    written.toArray.toSeq.map(_.asInstanceOf[Long])
  }

  test("dup_pairs after assignments reads the materialized evidence: no shuffle stage") {
    val cfg = DedupConfig.default
    val feat = operators.Ingest.run(spark,
      ImageGen.generate(spark, bases = 25, seed = 42L).toDF(), cfg, partitions = 4)
    val res = pipeline.DedupPipeline.runFromFeatures(spark, feat, cfg)
    try {
      def noop(df: DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      noop(res.assignments)
      val writes = stageShuffleWrites(noop(res.dupPairs))
      assert(writes.nonEmpty, "the dup_pairs write ran no stage")
      assert(writes.forall(_ == 0L),
        s"dup_pairs ran shuffle stages (bytes per stage: $writes)")
    } finally {
      res.release()
      feat.unpersist()
    }
  }

  test("Main.run, batch and incremental, leaves no cached plan or RDD behind, even when a write throws") {
    val in = "/tmp/graft_main_spec/leak_in"
    val nb = "/tmp/graft_main_spec/leak_new"
    val outB = "/tmp/graft_main_spec/leak_out_batch"
    val outI = "/tmp/graft_main_spec/leak_out_inc"
    Seq(in, nb, outB, outI).foreach(rmrf)
    val corpus = ImageGen.generate(spark, bases = 12, seed = 42L).toDF()
    corpus.write.mode("overwrite").parquet(in)
    corpus.limit(4).withColumn("image_id", concat(lit("new_"), col("image_id")))
      .write.mode("overwrite").parquet(nb)
    val sc = spark.sparkContext
    val entriesBefore = CacheEntries.count(spark)
    val rddsBefore = sc.getPersistentRDDs.keySet

    Main.run(spark, in, outB, DedupConfig.default, partitions = 4)
    Main.run(spark, in, outI, DedupConfig.default, partitions = 4,
      incremental = Some(nb), assignments = Some(s"$outB/assignments.parquet"))
    // an output root below a regular file: every table write throws, after
    // the features (and, in batch mode, the evidence) are cached
    val blocked = "/tmp/graft_main_spec/leak_blocked"
    rmrf(blocked)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(blocked))
    intercept[Exception] {
      Main.run(spark, in, s"$blocked/out", DedupConfig.default, partitions = 4)
    }
    intercept[Exception] {
      Main.run(spark, in, s"$blocked/out", DedupConfig.default, partitions = 4,
        incremental = Some(nb))
    }
    assert(CacheEntries.count(spark) == entriesBefore, "cached plans left behind")
    val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("parse rejects a flag where a value is expected") {
    val ok = Main.parse(List("--input", "/a", "--output", "/b",
      "--checkpoint", "/c", "--run-id", "x"), Main.Args())
    assert(ok.input == "/a" && ok.checkpoint.contains("/c") && ok.runId == "x")
    // a following flag must read as a MISSING value, not as the value itself
    val e = intercept[IllegalArgumentException] {
      Main.parse(List("--input", "/a", "--checkpoint", "--run-id", "x"), Main.Args())
    }
    assert(e.getMessage.contains("missing value for --checkpoint"))
    intercept[IllegalArgumentException] {
      Main.parse(List("--input"), Main.Args())
    }
  }
}
