package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import graft.functions.HashKernels.mix64
import graft.model.ImageRow
import graft.synth.ImageGen
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Input sizes of one benchmark scale, in images (rows). Cluster sizes are
  * heavy-tailed, so each table takes the shortest prefix of ground-truth
  * clusters that reaches its image count: the work per seed stays nearly
  * constant while the content varies. */
final case class Sizes(
    payloadImages: Long, // batch_payload: rows with real PNG/JPEG bytes
    lightImages: Long,   // batch_light and the incremental corpus: empty bytes
    freshImages: Long,   // incremental_daily: rows of bases new to the corpus
    reuploadImages: Long, // incremental_daily: corpus bases re-uploaded
    docs: Int,           // operator_suite: documents rows
    embeddings: Int)     // operator_suite: embeddings rows

object Sizes {
  val full = Sizes(payloadImages = 1200, lightImages = 5000, freshImages = 200,
    reuploadImages = 100, docs = 500, embeddings = 200)
  /** For the smoke test and for layers off a workload's own path in the
    * traced run. */
  val tiny = Sizes(payloadImages = 80, lightImages = 300, freshImages = 20,
    reuploadImages = 10, docs = 120, embeddings = 100)
}

/**
 * Seeded workload inputs, generated once per (kind, size, seed) into the
 * cache directory and reused by later runs. The engine only ever receives
 * the generated tables.
 */
final class Inputs(spark: SparkSession, cache: Path, seed: Long) {
  import spark.implicits._

  private val maxCluster = 64

  /** Build `name` under the cache unless a completed copy exists. */
  private def cached(name: String)(build: String => Unit): String = {
    val dir = cache.resolve(name)
    val done = dir.resolve("_DONE")
    if (!Files.exists(done)) {
      val t0 = System.nanoTime()
      Files.createDirectories(cache)
      val tmp = cache.resolve(s"$name.tmp")
      Inputs.deleteTree(tmp)
      Files.createDirectories(tmp)
      build(tmp.toString)
      Inputs.deleteTree(dir)
      Files.move(tmp, dir)
      Files.createFile(done)
      System.err.println(f"perfbench: generated $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    dir.toString
  }

  /** Cluster size of every base in [0, bases). */
  private def clusterSizes(bases: Long): Array[Int] =
    ImageGen.expectedClusters(spark, bases, seed, maxCluster).toDF()
      .groupBy("cluster_id").count().orderBy("cluster_id")
      .as[(Long, Long)].collect().map(_._2.toInt)

  /** (base, rows kept) over `bases` in order until `images` rows: the last
    * cluster is cut so the table holds exactly `images` rows. */
  private def plan(bases: Seq[Long], size: Long => Int, images: Long): Seq[(Long, Int)] = {
    val out = Seq.newBuilder[(Long, Int)]
    var left = images
    val it = bases.iterator
    while (left > 0 && it.hasNext) {
      val b = it.next()
      val k = math.min(left, size(b).toLong).toInt
      out += ((b, k))
      left -= k
    }
    out.result()
  }

  /** The leading `images` rows of the corpus: bases 0, 1, 2, ... */
  private def corpusPlan(images: Long): Seq[(Long, Int)] = {
    val sizes = clusterSizes(images)
    plan(0L until images, b => sizes(b.toInt), images)
  }

  /** Write an image table and its ground truth (image_id, truth, is_new)
    * from one generation pass over `plan` = (base, rows kept, re-upload). */
  private def table(name: String, plan: Seq[(Long, Int, Boolean)], light: Boolean)
      : (String, String) = {
    val (s, mc) = (seed, maxCluster)
    lazy val rows = spark.createDataset(plan)
      .repartition(math.max(1, math.min(plan.size / 16, 64)))
      .flatMap { case (b, k, re) =>
        ImageGen.cluster(s, b, mc, light).take(k)
          .map(r => (if (re) r.copy(image_id = r.image_id + "_r") else r, b))
      }.persist()
    val images = cached(s"images-$name")(d =>
      rows.map(_._1).write.mode(SaveMode.Overwrite).parquet(d))
    val truth = cached(s"truth-$name")(d =>
      rows.map { case (r, b) => (r.image_id, b) }.toDF("image_id", "truth")
        .withColumn("is_new", lit(true))
        .write.mode(SaveMode.Overwrite).parquet(d))
    rows.unpersist()
    (images, truth)
  }

  private def corpus(images: Long, light: Boolean): (String, String) =
    table(s"${if (light) "light" else "payload"}-$images-$seed",
      corpusPlan(images).map { case (b, k) => (b, k, false) }, light)

  /** Image table of exactly `images` rows over the leading ground-truth
    * clusters (`light` = empty bytes). */
  def images(images: Long, light: Boolean): String = corpus(images, light)._1

  /** Ground truth (image_id, truth, is_new) of [[images]]. */
  def truth(images: Long, light: Boolean): String = corpus(images, light)._2

  /** The corpus's existing cluster assignment (image_id, cluster_id), as the
    * batch DAG labels a perfect clustering: cluster_id = xxhash64 of the
    * lexicographically smallest member id. */
  def assignments(images: Long): String = {
    val truthDir = truth(images, light = true)
    cached(s"assign-$images-$seed") { d =>
      spark.read.parquet(truthDir)
        .withColumn("cluster_id",
          xxhash64(min("image_id").over(Window.partitionBy("truth"))))
        .select("image_id", "cluster_id")
        .write.mode(SaveMode.Overwrite).parquet(d)
    }
  }

  /**
   * The daily batch against the light corpus of `sizes.lightImages` rows:
   * `freshImages` rows of the bases after the corpus, plus `reuploadImages`
   * rows re-uploading every 7th corpus base with real payload under fresh
   * ids (`_r` suffix — batch and corpus id sets stay disjoint). Returns
   * (batch dir, truth dir over corpus and batch, re-upload share of the
   * batch rows).
   */
  def daily(sizes: Sizes): (String, String, Double) = {
    val corpusRows = corpusPlan(sizes.lightImages)
    val corpusBases = corpusRows.size.toLong
    val all = clusterSizes(corpusBases + sizes.freshImages)
    val size = (b: Long) => all(b.toInt)
    val fresh = plan(corpusBases until all.length.toLong, size, sizes.freshImages)
    val reup = plan(0L until corpusBases by 7L, size, sizes.reuploadImages)
    val (batch, batchTruth) = table(
      s"daily-${sizes.lightImages}-${sizes.freshImages}-${sizes.reuploadImages}-$seed",
      fresh.map { case (b, k) => (b, k, false) } ++ reup.map { case (b, k) => (b, k, true) },
      light = false)
    val truthDir = cached(s"truth-daily-all-${sizes.lightImages}-${sizes.freshImages}-" +
        s"${sizes.reuploadImages}-$seed") { d =>
      spark.read.parquet(batchTruth)
        .unionByName(spark.read.parquet(truth(sizes.lightImages, light = true))
          .withColumn("is_new", lit(false)))
        .write.mode(SaveMode.Overwrite).parquet(d)
    }
    (batch, truthDir, sizes.reuploadImages.toDouble /
      (sizes.freshImages + sizes.reuploadImages))
  }

  /** A zero-row image table: bootstraps the incremental corpus state. */
  def emptyBatch(): String = cached("images-empty") { d =>
    spark.emptyDataset[ImageRow].write.mode(SaveMode.Overwrite).parquet(d)
  }

  /** Generate every input a run of `workload` reads (with `trace`, the
    * traced run's tiny inputs too), so that the measuring JVM finds them
    * cached: generation would otherwise warm that JVM on a seed's first
    * run only. */
  def prepare(workload: String, full: Sizes, trace: Boolean): Unit = {
    def batch(s: Sizes, light: Boolean): Unit = {
      val n = if (light) s.lightImages else s.payloadImages
      images(n, light)
      truth(n, light)
    }
    def incremental(s: Sizes): Unit = {
      daily(s)
      assignments(s.lightImages)
      emptyBatch()
    }
    workload match {
      case "batch_light" | "batch_payload" =>
        val light = workload == "batch_light"
        batch(full, light)
        if (trace) { batch(Sizes.tiny, light); incremental(Sizes.tiny) }
      case "incremental_daily" =>
        incremental(full)
        if (trace) { incremental(Sizes.tiny); batch(Sizes.tiny, light = false) }
      case "operator_suite" => suite(full.docs, full.embeddings)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
  }

  /**
   * `documents` and `embeddings` tables in the layout the query suite reads
   * (`<dir>/<name>.parquet`): token texts over a 30-word vocabulary with
   * about 5 % natural near-duplicates, 64-dimensional unit embeddings for
   * the leading doc ids. The full size keeps the 5:2 row ratio of the sf0.1
   * test tables, so some documents have no embedding.
   */
  def suite(docs: Int, embeddings: Int): String =
    cached(s"suite-$docs-$embeddings-$seed") { d =>
      Inputs.documents(seed, docs).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
      Inputs.embeddings(seed, embeddings).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    }
}

object Inputs {
  private val Words = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "en", "en", "en",
    "zh", "zh", "de", "de", "fr", "fr", "es", "es")

  def documents(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val rng = new Random(mix64(seed * 0x2545F4914F6CDD1DL + i))
      texts(i) =
        if (i > 20 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.size))).mkString(" ")
      (i.toLong, texts(i), Langs(rng.nextInt(Langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }
  }

  def embeddings(seed: Long, n: Int): Seq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      val rng = new Random(mix64(seed * 0x9E3779B97F4A7C15L + i))
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rng.nextInt(10))
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
