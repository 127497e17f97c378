package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options; see perfbench/README.md. */
final case class Opts(
    workload: String = null,
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    sizes: Sizes = Sizes.full,
    plantFault: Boolean = false,
    prepare: Boolean = false,
    cpus: Int = 4,
    cache: Path = null,
    work: Path = null,
    result: Path = null)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil =>
      require(o.workload != null && o.cache != null && o.work != null &&
        o.result != null, "--workload, --cache, --work and --result are required")
      o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--size" :: "tiny" :: rest => parse(rest, o.copy(sizes = Sizes.tiny))
    case "--size" :: "full" :: rest => parse(rest, o.copy(sizes = Sizes.full))
    case "--plant-fault" :: rest => parse(rest, o.copy(plantFault = true))
    case "--prepare" :: rest => parse(rest, o.copy(prepare = true))
    case "--cpus" :: v :: rest => parse(rest, o.copy(cpus = v.toInt))
    case "--cache" :: v :: rest => parse(rest, o.copy(cache = Paths.get(v)))
    case "--work" :: v :: rest => parse(rest, o.copy(work = Paths.get(v)))
    case "--result" :: v :: rest => parse(rest, o.copy(result = Paths.get(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one run reports back to perfbench/run.py. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0
  private val failedOps = mutable.LinkedHashSet[String]()
  /** Extra facts for the human-readable output and the result file. */
  val notes = mutable.LinkedHashMap[String, String]()

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)

  /** Count operation `op` as failed (once, however many checks it fails). */
  def fail(op: String, why: String): Unit = {
    failedOps += op
    println(s"CHECK FAILED: $op: $why")
  }
  def failed: Int = failedOps.size

  def json: String = Json.obj(Seq(
    "attempted" -> Json.num(attempted.toLong),
    "failed" -> Json.num(failed.toLong),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    }),
    "notes" -> Json.obj(notes.toSeq.map { case (k, v) => k -> Json.str(v) })))
}

/** Everything a workload needs: the session, probes, inputs and options. */
final class Ctx(val spark: SparkSession, val opts: Opts, val sessionS: Double) {
  val listener = new TaskListener
  spark.sparkContext.addSparkListener(listener)
  val probe = new Probe(spark)
  val tracer = new Tracer(spark.sparkContext, listener)
  val inputs = new Inputs(spark, opts.cache, opts.seed)
  val report = new Report
  private var nextOp = 0

  def newOp(): Int = { nextOp += 1; nextOp }

  private val t0 = System.nanoTime()
  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def workDir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }
}

/**
 * The benchmark's JVM entry point: one workload, one seed, one session.
 * `--trace 0` measures the workload's end-to-end operations; `--trace 1`
 * runs the per-layer tour ([[Layers]]); `--prepare` only generates the
 * inputs of that run ([[Inputs.prepare]]). The result goes to `--result` as
 * JSON; perfbench/run.py adds the DuckDB oracle check and prints the final
 * line.
 */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args.toList)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val ctx = new Ctx(spark, opts, (System.nanoTime() - t0) / 1e9)
    try {
      if (opts.prepare) ctx.inputs.prepare(opts.workload, opts.sizes, opts.trace)
      else {
        if (opts.trace) Layers.run(ctx) else Workloads.run(ctx)
        ctx.tracer.write(opts.work.resolve("spans.jsonl"))
      }
      Files.write(opts.result, ctx.report.json.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
