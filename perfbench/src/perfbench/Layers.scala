package perfbench

import scala.util.Random

import graft.{Main, SparkEntry}
import graft.functions.HashKernels
import graft.io.TableIO
import graft.operators.{CandidateGen, ConnectedComponents, Ingest, Validate, VerifyStage}
import graft.pipeline.DedupPipeline
import graft.synth.{ImageCodec, ImageGen}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The traced run (`--trace 1`): the layers of the engine, each public call
 * wrapped in a span whose output is materialized (persisted and counted)
 * before the next span starts. A flagship workload's traced run covers both
 * flagship paths and the kernels: its own path at full size, the other on
 * the tiny inputs, so both report the same metric names. The operator
 * subset's traced run covers its queries.
 *
 * The three `replay.*` spans re-run candidate generation, verification and
 * connected components on the UN-COLLAPSED features (no exact-group
 * collapse): they isolate one operator's rows in and out, time and waste.
 * The real DAG — with the collapse — is the `DedupPipeline.runFromFeatures`
 * span above them.
 */
object Layers {
  import Workloads.{cfg, timed}

  private val Persist = StorageLevel.MEMORY_AND_DISK

  def run(ctx: Ctx): Unit = {
    val own = ctx.opts.workload
    require(Set("batch_payload", "batch_light", "incremental_daily",
      "operator_suite")(own), s"unknown workload: $own")
    val (full, tiny) = (ctx.opts.sizes, Sizes.tiny)
    val light = own == "batch_light"
    def input(s: Sizes) = ctx.inputs.images(if (light) s.lightImages else s.payloadImages, light)
    // The run's own workload comes first: its warm-up pays the JVM's cold
    // start, and the tiny tour after it runs warm. Each tour returns
    // (untraced wall, traced wall) of the run's own workload; tracing
    // overhead = traced decomposition - the same work untraced. The query
    // spans are only in the operator subset's own traced run: with them, a
    // flagship traced run would not reliably end within three minutes.
    val overhead = own match {
      case "operator_suite" => Seq(suite(ctx, full))
      case "incremental_daily" =>
        Seq(daily(ctx, full, reference = true), batch(ctx, input(tiny), warmUp = None))
      case _ =>
        Seq(batch(ctx, input(full), warmUp = Some(input(tiny))), daily(ctx, tiny, reference = false))
    }
    if (own != "operator_suite") kernels(ctx)
    val (warm, traced) = overhead.flatten.head
    ctx.report.put("reference.warm_job_s", warm, "s")
    ctx.report.put("trace.overhead_s", traced - warm, "s")
    ctx.report.attempted = ctx.tracer.all.size
  }

  private def put(ctx: Ctx, span: Span, metrics: (String, Double, String)*): Unit =
    metrics.foreach { case (m, v, unit) => ctx.report.put(s"${span.name}.$m", v, unit) }

  private def wall(s: Span) = ("wall_s", s.wallS, "s")
  private def cpu(ctx: Ctx, s: Span) = ("cpu_s", ctx.tracer.inclusive(s.id).cpuNs / 1e9, "s")
  private def shuffle(ctx: Ctx, s: Span) =
    ("shuffle_mb", ctx.tracer.inclusive(s.id).shuffleWrite / 1e6, "MB")
  private def jobs(ctx: Ctx, s: Span) =
    ("jobs", ctx.tracer.inclusive(s.id).jobs.toDouble, "count")

  /** Each child span's share of the wall of `parent`, as a note. */
  private def shares(ctx: Ctx, parent: Span): Unit = {
    ctx.report.notes(s"${parent.name}.wall_s") = f"${parent.wallS}%.2f"
    ctx.report.notes(s"${parent.name}.shares") = ctx.tracer.all.filter(_.parent == parent.id)
      .map(c => f"${c.name} ${c.wallS / parent.wallS}%.2f").mkString(", ")
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(Persist)
    p.count()
    p
  }

  /** `Main.run` batch mode, decomposed; then the replays on its features.
    * With `warmUp`, an untraced job on that (tiny) input warms the JVM and
    * an untraced job on `input` gives the reference wall. */
  private def batch(ctx: Ctx, input: String, warmUp: Option[String]): Option[(Double, Double)] = {
    val spark = ctx.spark
    val out = ctx.workDir("tour-batch").toString
    val ref = warmUp.map { tiny =>
      Main.run(spark, tiny, ctx.workDir("tour-warmup").toString, cfg)
      ctx.probe.release()
      val w = timed(Main.run(spark, input, out, cfg))
      ctx.probe.release()
      ctx.log(f"batch reference job: $w%.2f s")
      w
    }
    val op = ctx.newOp()
    def span[T](name: String)(body: => T) = ctx.tracer.span(name, op)(body)

    val ((feat, traced), tour) = span("tour.batch") {
      val images = TableIO.readLocation(spark, input)
      val (carried, s1) = span("Ingest.validatedCarry")(
        materialize(Ingest.validatedCarry(spark, images)))
      put(ctx, s1, wall(s1), cpu(ctx, s1), ("rows_out", carried.count().toDouble, "count"))
      val (feat, s2) = span("DedupPipeline.features")(materialize(
        DedupPipeline.features(carried.repartition(ctx.opts.cpus), cfg,
          carry = Seq("decode_ok", "phash_match", "dims_match", "valid"))))
      put(ctx, s2, wall(s2), cpu(ctx, s2))
      val (report, s3) = span("Validate.report")(materialize(Validate.report(feat)))
      put(ctx, s3, wall(s3))
      val (res, s4) = span("DedupPipeline.runFromFeatures")(
        DedupPipeline.runFromFeatures(spark, feat, cfg))
      put(ctx, s4, wall(s4), cpu(ctx, s4), shuffle(ctx, s4), jobs(ctx, s4))
      val (assign, s5) = span("DedupResult.assignments")(materialize(res.assignments))
      put(ctx, s5, wall(s5), shuffle(ctx, s5))
      val (pairs, s6) = span("DedupResult.dupPairs")(materialize(res.dupPairs))
      put(ctx, s6, wall(s6), cpu(ctx, s6), shuffle(ctx, s6))
      val io = TableIO.resolve(spark, out)
      val (_, s7) = span("TableIO.write") {
        io.write(report, "validation")
        io.write(assign, "assignments")
        io.write(pairs, "dup_pairs")
      }
      put(ctx, s7, wall(s7),
        ("mb_written", Inputs.treeBytes(java.nio.file.Paths.get(out)) / 1e6, "MB"))
      (feat, Seq(s1, s2, s3, s4, s5, s6, s7).map(_.wallS).sum)
    }
    shares(ctx, tour)

    // replays on the un-collapsed features
    val (_, replay) = span("tour.replay") {
      val nFeat = feat.count()
      val keyed = materialize(CandidateGen.explodeBands(
          feat.where(size(col("shingles")) > 0), "nid", "band_keys")
        .union(CandidateGen.simhashChunkBuckets(feat, "nid", "simhash",
          cfg.hammingMax, nFeat)))
      val (cand, s8) = span("replay.CandidateGen.pairsFromBuckets")(materialize(
        CandidateGen.pairsFromBuckets(keyed, cfg.maxBucketSize,
          saltOversized = cfg.saltOversized)))
      val distinct = cand.count()
      val emitted = CandidateGen.capLossReport(keyed, cfg.maxBucketSize,
          saltOversized = cfg.saltOversized)
        .agg(sum("emitted_pairs")).head().getLong(0)
      put(ctx, s8, wall(s8), cpu(ctx, s8), shuffle(ctx, s8),
        ("rows_in", keyed.count().toDouble, "count"),
        ("rows_out", distinct.toDouble, "count"),
        ("emit_per_distinct", emitted.toDouble / math.max(1L, distinct), "ratio"))
      val featById = feat.select(col("nid").as("id"), col("shingles"),
        col("simhash"), col("norm_text"))
      val (verified, s9) = span("replay.VerifyStage.verify")(materialize(
        VerifyStage.verify(cand, featById, cfg)))
      val dups = verified.where(col("is_dup"))
      put(ctx, s9, wall(s9), cpu(ctx, s9), ("useful_ratio",
        dups.count().toDouble / math.max(1L, verified.count()), "ratio"))
      val edges = materialize(dups.select(col("a").as("src"), col("b").as("dst")))
      val (_, s10) = span("replay.ConnectedComponents.run")(
        ConnectedComponents.run(edges).count())
      put(ctx, s10, wall(s10), jobs(ctx, s10), ("rows_in", edges.count().toDouble, "count"))
    }
    shares(ctx, replay)
    ctx.probe.release()
    ctx.log(f"batch tour: ${tour.wallS}%.2f s, replays: ${replay.wallS}%.2f s")
    ref.map(_ -> traced)
  }

  /** The pristine corpus state of `sizes` under `tag`, built by `Main.run
    * --incremental` with an empty batch. */
  private def bootstrap(ctx: Ctx, sizes: Sizes, tag: String): java.nio.file.Path = {
    val pristine = ctx.workDir(s"$tag-state-pristine")
    Inputs.deleteTree(pristine)
    Main.run(ctx.spark, ctx.inputs.images(sizes.lightImages, light = true),
      ctx.workDir(s"$tag-bootstrap").toString, cfg,
      incremental = Some(ctx.inputs.emptyBatch()), corpusFeatures = Some(pristine.toString))
    ctx.probe.release()
    pristine
  }

  /** One untraced daily job on a fresh copy of `pristine`; returns its wall. */
  private def dailyJob(ctx: Ctx, sizes: Sizes, pristine: java.nio.file.Path, tag: String): Double = {
    val state = ctx.workDir(s"$tag-state")
    Inputs.copyTree(pristine, state)
    val w = timed(Main.run(ctx.spark, ctx.inputs.images(sizes.lightImages, light = true),
      ctx.workDir(s"$tag-daily").toString, cfg,
      incremental = Some(ctx.inputs.daily(sizes)._1), corpusFeatures = Some(state.toString),
      mergeNew = true, assignments = Some(ctx.inputs.assignments(sizes.lightImages))))
    ctx.probe.release()
    w
  }

  /** `Main.run --incremental --merge-new`, decomposed. With `reference`, a
    * tiny untraced job warms the JVM and an untraced job of `sizes` gives
    * the reference wall. */
  private def daily(ctx: Ctx, sizes: Sizes, reference: Boolean): Option[(Double, Double)] = {
    val spark = ctx.spark
    val (batchDir, _, _) = ctx.inputs.daily(sizes)
    val corpusAssignDir = ctx.inputs.assignments(sizes.lightImages)
    val pristine = bootstrap(ctx, sizes, "tour")
    val ref = if (!reference) None else {
      dailyJob(ctx, Sizes.tiny, bootstrap(ctx, Sizes.tiny, "tour-warmup"), "tour-warmup")
      val w = dailyJob(ctx, sizes, pristine, "tour")
      ctx.log(f"daily reference job: $w%.2f s")
      Some(w)
    }
    val state = ctx.workDir("tour-state")
    Inputs.copyTree(pristine, state)
    val op = ctx.newOp()
    def span[T](name: String)(body: => T) = ctx.tracer.span(s"daily.$name", op)(body)
    val featIo = TableIO.resolve(spark, state.toString)
    val meta = featIo.read("corpus_features_meta").select("n_corpus", "bucket_count").head()
    val (n, nb) = (meta.getLong(0), meta.getInt(1))

    val (traced, tour) = ctx.tracer.span("tour.daily", op) {
      val (newFeat, s1) = span("Ingest.run") {
        val f = Ingest.run(spark, TableIO.readLocation(spark, batchDir), cfg,
          partitions = ctx.opts.cpus)
        f.count()
        f
      }
      put(ctx, s1, wall(s1), cpu(ctx, s1))
      val (cross, s2) = span("DedupPipeline.incrementalPairsFromState")(materialize(
        DedupPipeline.incrementalPairsFromState(spark, newFeat,
          featIo.read("corpus_features"), featIo.readBucketed("corpus_buckets", "key", nb),
          n, cfg)))
      put(ctx, s2, wall(s2), cpu(ctx, s2), shuffle(ctx, s2),
        ("rows_out", cross.count().toDouble, "count"))
      val (newPairs, s3) = span("DedupPipeline.runFromFeatures")(materialize(
        DedupPipeline.runFromFeatures(spark, newFeat, cfg).dupPairs.select("a", "b")))
      put(ctx, s3, wall(s3), cpu(ctx, s3))
      val (_, s4) = span("DedupPipeline.incrementalAssignments") {
        val r = DedupPipeline.incrementalAssignments(spark,
          spark.read.parquet(corpusAssignDir), cross.select("a", "b"), newPairs,
          newFeat.select(col("id").as("image_id")))
        materialize(r.newAssignments)
        materialize(r.relabels)
      }
      put(ctx, s4, wall(s4), cpu(ctx, s4), jobs(ctx, s4))
      val (_, s5) = span("TableIO.upsert")(featIo.upsert(newFeat, "corpus_features", Seq("id")))
      put(ctx, s5, wall(s5), cpu(ctx, s5), ("mb_written",
        Inputs.treeBytes(state.resolve("corpus_features.parquet")) / 1e6, "MB"))
      val (_, s6) = span("TableIO.upsertBucketed")(featIo.upsertBucketed(
        DedupPipeline.corpusStateRows(newFeat, n, cfg), "corpus_buckets", "key", nb, Seq("b")))
      put(ctx, s6, wall(s6), cpu(ctx, s6), ("mb_written",
        Inputs.treeBytes(state.resolve("corpus_buckets.parquet")) / 1e6, "MB"))
      Seq(s1, s2, s3, s4, s5, s6).map(_.wallS).sum
    }
    shares(ctx, tour)
    ctx.probe.release()
    ctx.log(f"daily tour: ${tour.wallS}%.2f s")
    ref.map(_ -> traced)
  }

  /** One pass over the query subset, one span per query, after two
    * untraced passes (cold, then the reference). */
  private def suite(ctx: Ctx, sizes: Sizes): Option[(Double, Double)] = {
    val spark = ctx.spark
    val data = ctx.inputs.suite(sizes.docs, sizes.embeddings)
    def pass(tag: String, traced: Boolean): Double = Workloads.Queries.map { q =>
      val out = ctx.workDir(s"tour-suite-$tag").resolve(q).toString
      def query(): Unit = SparkEntry.queries(q)(spark, data)
        .write.mode(SaveMode.Overwrite).parquet(out)
      if (!traced) { val w = timed(query()); ctx.probe.release(); w }
      else {
        val st = Workloads.measure(ctx, s"SparkEntry.$q")(query())
        val p = s"SparkEntry.$q"
        ctx.report.put(s"$p.wall_s", st.wallS, "s")
        ctx.report.put(s"$p.cpu_s", st.cpuS, "s")
        ctx.report.put(s"$p.jobs", st.jobs.toDouble, "count")
        ctx.report.put(s"$p.leak_mb", st.leakMb, "MB")
        st.wallS
      }
    }.sum
    pass("warmup", traced = false)
    val ref = pass("untraced", traced = false)
    val traced = pass("traced", traced = true)
    ctx.log(f"suite pass: $traced%.2f s")
    Some(ref -> traced)
  }

  /** Single-thread kernel loops, no Spark: rows per second each. */
  private def kernels(ctx: Ctx): Unit = {
    val rng = new Random(ctx.opts.seed)
    val shingles = Array.fill(4096)(Array.fill(10 + rng.nextInt(9))(rng.nextLong()))
    val tokens = Array.fill(4096)(HashKernels.phashTokens(rng.nextLong()))
    val payloads = (0L until 8L).flatMap(b => ImageGen.cluster(ctx.opts.seed, b, 4))
      .map(_.bytes).filter(_.nonEmpty).toArray
    val op = ctx.newOp()
    def rate(name: String, n: Int)(f: Int => Unit): Unit = {
      var i = 0
      val warmUntil = System.nanoTime() + 200000000L
      while (System.nanoTime() < warmUntil) { f(i % n); i += 1 }
      var rows = 0L
      val (_, s) = ctx.tracer.span(name, op) {
        val until = System.nanoTime() + 500000000L
        while (System.nanoTime() < until) { f((rows % n).toInt); rows += 1 }
      }
      ctx.report.put(s"$name.rows_per_s", rows / s.wallS, "1/s")
    }
    var sink = 0L
    rate("HashKernels.minhashArray", shingles.length)(i =>
      sink ^= HashKernels.minhashArray(shingles(i), cfg.numHashes, cfg.seed)(0))
    rate("HashKernels.ophArray", shingles.length)(i =>
      sink ^= HashKernels.ophArray(shingles(i), cfg.numHashes, cfg.seed)(0))
    rate("HashKernels.simhash64Array", tokens.length)(i =>
      sink ^= HashKernels.simhash64Array(tokens(i), cfg.seed))
    rate("ImageCodec.decode", payloads.length)(i =>
      sink ^= ImageCodec.decode(payloads(i)).getWidth)
    ctx.report.notes("kernel_sink") = sink.toString
  }
}
