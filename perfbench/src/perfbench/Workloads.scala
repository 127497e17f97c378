package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.{Main, SparkEntry}
import graft.config.DedupConfig
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.SaveMode

/** End-to-end figures of one operation (a job, a suite pass, a query). */
final case class OpStats(wallS: Double, cpuS: Double, shuffleMb: Double,
    storagePeakMb: Double, leakMb: Double, heapPeakMb: Double, allocMb: Double,
    jobs: Int)

/**
 * The untraced workloads. Each is a closed loop with one client: set-up,
 * then operations until the run's seconds have passed (see [[loop]]). Every
 * operation runs inside the storage/heap probe, and its outputs are checked
 * before the next one starts.
 */
object Workloads {

  /** The operator subset: off-flagship operators (the persist family, the
    * dedup cascade, text scoring, skew salting) that the flagship job never
    * reaches. */
  val Queries: Seq[String] = Seq("q12_dedup_exact", "q15_minhash_dup_pairs",
    "q16_simhash_dup_pairs", "q18_embedding_neardup", "q54_salted_band_pairs",
    "q57_incremental_neardup", "q66_dedup_cascade", "q98_bm25_index_topk",
    "q118_rrf_fusion", "q125_filter_stack")

  /** Set-up repetitions; `setup_s` is their median. The incremental set-up
    * builds the whole corpus state each time, so it repeats fewer times. */
  val SetupRepeats = 3
  val DailySetupRepeats = 2
  val cfg: DedupConfig = DedupConfig.default

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `body` as one probed operation: a top-level span with the storage
    * and heap probe around it; leftovers are measured, then released. */
  def measure(ctx: Ctx, name: String)(body: => Unit): OpStats = {
    ctx.probe.arm()
    val (_, span) = ctx.tracer.span(name, ctx.newOp())(body)
    val alloc = ctx.probe.allocatedBytes
    val c = ctx.tracer.inclusive(span.id)
    val st = OpStats(span.wallS, c.cpuNs / 1e9, c.shuffleWrite / 1e6,
      ctx.probe.storagePeakBytes / 1e6, ctx.probe.heldBytes() / 1e6,
      ctx.probe.heapPeakBytes / 1e6, alloc / 1e6, c.jobs)
    ctx.probe.release()
    st
  }

  /** `op(0)`, `op(1)`, ... until `seconds` have passed; at least one. On a
    * 4-core machine one job already takes longer than a run's seconds, so a
    * run times exactly the first job in its JVM — which is what a
    * `spark-submit` of `graft.Main` runs in production. */
  def loop(ctx: Ctx)(op: Int => OpStats): Seq[OpStats] = {
    ctx.log("set-up done")
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[OpStats]()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.opts.seconds) {
      out += op(out.size)
      ctx.log(f"op ${out.size - 1}: ${out.last.wallS}%.2f s")
    }
    out.toSeq
  }

  /** The end-to-end metrics: medians over the run's operations. Throughput
    * is images per second on the flagship workloads; the operator subset
    * reports its pass wall as `suite_s` instead. */
  def put(ctx: Ctx, setupS: Double, ops: Seq[OpStats], images: Option[Long]): Unit = {
    val r = ctx.report
    r.put("setup_s", setupS, "s")
    r.put("first_job_s", ops.head.wallS, "s")
    images match {
      case Some(n) => r.put("images_per_s", median(ops.map(n / _.wallS)), "1/s")
      case None => r.put("suite_s", median(ops.map(_.wallS)), "s")
    }
    r.put("cpu_s", median(ops.map(_.cpuS)), "s")
    r.put("shuffle_mb", median(ops.map(_.shuffleMb)), "MB")
    r.put("storage_peak_mb", median(ops.map(_.storagePeakMb)), "MB")
    r.put("storage_leak_mb", median(ops.map(_.leakMb)), "MB")
    r.put("heap_peak_mb", median(ops.map(_.heapPeakMb)), "MB")
    r.put("alloc_mb", median(ops.map(_.allocMb)), "MB")
    r.notes("op_walls_s") = ops.map(o => f"${o.wallS}%.2f").mkString(" ")
  }

  def run(ctx: Ctx): Unit = ctx.opts.workload match {
    case "batch_payload" => batch(ctx, light = false)
    case "batch_light" => batch(ctx, light = true)
    case "incremental_daily" => daily(ctx)
    case "operator_suite" => suite(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  /** Gate on the first checked output; later outputs must hash the same. */
  private final class Gate(ctx: Ctx) {
    private var ref: Option[Seq[Long]] = None
    def apply(op: String, hashes: Seq[Long])(firstCheck: => Seq[String]): Unit =
      ref match {
        case None =>
          ref = Some(hashes)
          val problems = firstCheck
          if (problems.nonEmpty) ctx.report.fail(op, problems.mkString("; "))
        case Some(r) if r != hashes =>
          ctx.report.fail(op, s"output hash ${hashes.mkString(",")} != ${r.mkString(",")}")
        case _ => ()
      }
  }

  /** Recall, precision and completeness gates of one assignment. */
  private def scoreProblems(ctx: Ctx, s: PairScores): Seq[String] = {
    ctx.report.put("dup_pair_recall", s.recall, "ratio")
    ctx.report.put("dup_pair_precision", s.precision, "ratio")
    Seq(
      if (s.recall < 0.99) Some(s"dup_pair_recall ${s.recall} < 0.99") else None,
      if (s.precision < 0.99) Some(s"dup_pair_precision ${s.precision} < 0.99") else None,
      if (s.assignedNew != s.truthNew || s.distinctNew != s.truthNew)
        Some(s"${s.assignedNew} assignment rows (${s.distinctNew} distinct) " +
          s"for ${s.truthNew} images")
      else None).flatten
  }

  /** Run `body`; an exception fails operation `op` instead of the run. */
  private def guarded(ctx: Ctx, op: String)(body: => Unit): Unit =
    try body catch {
      case e: Exception => ctx.report.fail(op, s"threw ${e.getClass.getName}: ${e.getMessage}")
    }

  /** `Main.run` batch mode on a seeded image table. */
  def batch(ctx: Ctx, light: Boolean): Unit = {
    val spark = ctx.spark
    val sizes = ctx.opts.sizes
    val images = if (light) sizes.lightImages else sizes.payloadImages
    val input = ctx.inputs.images(images, light)
    val truthDir = ctx.inputs.truth(images, light)
    var rows = 0L
    val loads = (1 to SetupRepeats).map(_ => timed {
      rows = spark.read.parquet(input).count()
      spark.read.parquet(truthDir).count()
    })
    val truth = spark.read.parquet(truthDir)
    val out = ctx.workDir("job").toString
    val gate = new Gate(ctx)
    val ops = loop(ctx) { i =>
      val op = s"Main.run#$i"
      ctx.report.attempted += 1
      val st = measure(ctx, op)(guarded(ctx, op)(Main.run(spark, input, out, cfg)))
      guarded(ctx, op) {
        val read = spark.read.parquet(s"$out/assignments.parquet")
        val pairs = spark.read.parquet(s"$out/dup_pairs.parquet")
        val assign = if (ctx.opts.plantFault && i == 0) Checks.plantFault(read, pairs) else read
        gate(op, Seq(Checks.contentHash(assign), Checks.contentHash(pairs))) {
          scoreProblems(ctx, Checks.pairScores(assign, truth)) ++
            Checks.evidenceProblems(assign, pairs, exact = true)
        }
      }
      st
    }
    put(ctx, ctx.sessionS + median(loads), ops, Some(rows))
  }

  /** `Main.run --incremental --corpus-features --assignments --merge-new`:
    * the daily batch folded into a persisted, bucketed corpus state that is
    * restored before every job. */
  def daily(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sizes = ctx.opts.sizes
    val corpus = ctx.inputs.images(sizes.lightImages, light = true)
    val (batchDir, truthDir, share) = ctx.inputs.daily(sizes)
    val empty = ctx.inputs.emptyBatch()
    val corpusAssignDir = ctx.inputs.assignments(sizes.lightImages)
    val pristine = ctx.workDir("state-pristine")
    val state = ctx.workDir("state")
    var rows = 0L
    // set-up: input load and the bucketed corpus state
    val setups = (1 to DailySetupRepeats).map { _ =>
      Inputs.deleteTree(pristine)
      val s = timed {
        spark.read.parquet(corpus).count()
        spark.read.parquet(corpusAssignDir).count()
        rows = spark.read.parquet(batchDir).count()
        Main.run(spark, corpus, ctx.workDir("bootstrap").toString, cfg,
          incremental = Some(empty), corpusFeatures = Some(pristine.toString))
      }
      ctx.probe.release()
      s
    }
    ctx.report.notes("reupload_share") = share.toString
    val corpusAssign = spark.read.parquet(corpusAssignDir)
    val truth = spark.read.parquet(truthDir)
    val out = ctx.workDir("job").toString
    val gate = new Gate(ctx)
    val ops = loop(ctx) { i =>
      val op = s"Main.run--incremental#$i"
      ctx.report.attempted += 1
      Inputs.copyTree(pristine, state)
      val st = measure(ctx, op)(guarded(ctx, op) {
        Main.run(spark, corpus, out, cfg, incremental = Some(batchDir),
          corpusFeatures = Some(state.toString), mergeNew = true,
          assignments = Some(corpusAssignDir))
      })
      guarded(ctx, op) {
        val read = spark.read.parquet(s"$out/new_assignments.parquet")
        val pairs = spark.read.parquet(s"$out/incremental_pairs.parquet")
        val newAssign = if (ctx.opts.plantFault && i == 0) Checks.plantFault(read, pairs) else read
        val relabels = spark.read.parquet(s"$out/relabels.parquet")
        gate(op, Seq(Checks.contentHash(newAssign), Checks.contentHash(relabels),
          Checks.contentHash(pairs))) {
          val combined = DedupPipeline.applyClusterRelabels(corpusAssign, relabels)
            .unionByName(newAssign)
          // the batch-internal pairs are not written, so only the
          // batch-corpus evidence is checked, and not for exact components
          scoreProblems(ctx, Checks.pairScores(combined, truth)) ++
            Checks.evidenceProblems(combined, pairs, exact = false)
        }
      }
      st
    }
    put(ctx, ctx.sessionS + median(setups), ops, Some(rows))
  }

  /** One pass over [[Queries]]; the first pass's outputs stay on disk for
    * the DuckDB oracle compare in perfbench/run.py. */
  def suite(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.inputs.suite(ctx.opts.sizes.docs, ctx.opts.sizes.embeddings)
    val loads = (1 to SetupRepeats).map(_ => timed {
      spark.read.parquet(s"$data/documents.parquet").count()
      spark.read.parquet(s"$data/embeddings.parquet").count()
    })
    val refs = scala.collection.mutable.Map[String, Long]()
    val ops = loop(ctx) { i =>
      val dir = ctx.workDir(s"pass-$i")
      val perQuery = Queries.map { q =>
        val op = s"$q#$i"
        val out = dir.resolve(q).toString
        ctx.report.attempted += 1
        val st = measure(ctx, s"SparkEntry.$op")(guarded(ctx, op) {
          SparkEntry.queries(q)(spark, data).write.mode(SaveMode.Overwrite).parquet(out)
        })
        guarded(ctx, op) {
          val h = Checks.contentHash(spark.read.parquet(out))
          if (refs.getOrElseUpdate(q, h) != h) ctx.report.fail(op, "output hash differs from pass 0")
        }
        st
      }
      if (i > 0) Inputs.deleteTree(dir)
      OpStats(perQuery.map(_.wallS).sum, perQuery.map(_.cpuS).sum,
        perQuery.map(_.shuffleMb).sum, perQuery.map(_.storagePeakMb).max,
        perQuery.map(_.leakMb).sum, perQuery.map(_.heapPeakMb).max,
        perQuery.map(_.allocMb).sum, perQuery.map(_.jobs).sum)
    }
    put(ctx, ctx.sessionS + median(loads), ops, None)
    writeOracle(ctx.opts.work, data, Queries)
  }

  /** Oracle SQL and locations for the DuckDB compare. */
  def writeOracle(work: Path, data: String, queries: Seq[String]): Unit = {
    val sql = Json.obj(queries.map(q => q -> Json.str(SparkEntry.oracleSql(q))))
    Files.write(work.resolve("oracle.json"), Json.obj(Seq(
      "data" -> Json.str(data),
      "outputs" -> Json.str(work.resolve("pass-0").toString),
      "sql" -> sql)).getBytes(StandardCharsets.UTF_8))
  }
}
