package perfbench

import java.nio.file.Path

import graft.{Doc, Run, SparkEntry}
import graft.lineage.Lineage

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** What a workload checked: operations attempted, how many failed, and a
  * note naming each failure.
  */
final case class Verdict(attempted: Long, failed: Long, notes: Vector[String])

/** One benchmark workload. The harness calls `warmUp` in every set-up
  * cycle, `prepare` once (untimed input generation), then `pass` (timed)
  * until the run length is used, then `verify` and, in a traced run,
  * `probes`.
  */
trait Workload {
  def warmUp(spark: SparkSession, cycle: Int): Unit
  def prepare(spark: SparkSession): Unit
  def inputs: Map[String, Any]
  def pass(spark: SparkSession, p: Int, tracer: Tracer): Unit
  def verify(spark: SparkSession): Verdict
  /** The workload's own end-to-end figures, keyed by name, with units. */
  def report(passWalls: Seq[Double]): Seq[(String, Double, String)]
  /** Per-layer probes run after the timed passes (traced run only). */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double]
}

object Workloads {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median wall seconds of `reps` runs of `body`. */
  def medianTime(reps: Int)(body: => Unit): Double =
    median((0 until reps).map(_ => timed(body)._2))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  def writeCorpus(spark: SparkSession, docs: Seq[Doc], dir: Path, files: Int): Unit =
    spark.createDataset(docs)(Encoders.product[Doc]).repartition(files)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)

  /** Kernel sample and sources/functions probes shared by every workload. */
  def layerProbes(spark: SparkSession, tracer: Tracer, input: String,
      kernelDocs: Vector[Doc]): Map[String, Double] = {
    val scan = tracer.span("sources.scan", "probe") {
      medianTime(ProbeReps)(noop(spark.read.parquet(input)))
    }
    val withExtract = tracer.span("functions.extract_spans", "probe") {
      medianTime(ProbeReps)(noop(graft.functions.GraftFunctions.extractDF(spark, spark.read.parquet(input))))
    }
    val kernels = tracer.span("kernels", "probe", Map("docs" -> kernelDocs.length)) {
      Kernels.run(kernelDocs)
    }
    kernels ++ Map("sources.scan_s" -> scan, "functions.extract_spans_s" -> (withExtract - scan))
  }

  val KernelSample = 1000
  /** Repetitions of each probe; the probe reports their median. */
  val ProbeReps = 3
}

/** `Run.run` as users submit it (strategy e1, `batches=1`) over the
  * seeded corpus, with no prior metrics table: every pass writes to a
  * fresh output and metrics location.
  */
final class ExtractWorkload(seed: Long, work: Path, nDocs: Int) extends Workload {
  import Workloads._

  private val input = work.resolve("input")
  private val crashed = work.resolve("crashed")
  private var entries: Vector[Corpus.Entry] = Vector.empty
  private var gold: Map[String, Vector[graft.Span]] = Map.empty
  private val results = ArrayBuffer[(Int, Long, Long)]()

  private def outOf(root: Path) = root.resolve("out").toString
  private def metricsOf(root: Path) = root.resolve("metrics").toString
  private def passDir(p: Int) = work.resolve(s"pass-$p")

  private def runArgs(in: String, root: Path, runId: String) =
    Array(in, outOf(root), metricsOf(root), runId, "e1", "0", "1")

  /** One small `Run.run`. */
  def warmUp(spark: SparkSession, cycle: Int): Unit = {
    val dir = work.resolve(s"warm-$cycle")
    writeCorpus(spark, Corpus.generate(64, 7L).map(_.doc), dir.resolve("input"), 2)
    Run.run(spark, runArgs(dir.resolve("input").toString, dir, s"warm-$cycle"))
  }

  def prepare(spark: SparkSession): Unit = {
    entries = Corpus.generate(nDocs, seed)
    gold = entries.iterator.map(e => e.doc.doc_id -> e.gold).toMap
    writeCorpus(spark, entries.map(_.doc), input, 8)
    // untimed passes, so timed passes start with compiled extraction code
    for (w <- 0 until ExtractWorkload.WarmPasses)
      Run.run(spark, runArgs(input.toString, work.resolve(s"warm-pass-$w"), s"warm-pass-$w"))
  }

  /** The lineage tables a crashed 8-batch run leaves behind: 7 of the 8
    * `Lineage.batchSlice` batches committed in one commit and a seeded
    * half of the eighth in a second one.
    */
  private def crash(spark: SparkSession): Unit = {
    implicit val enc = Encoders.product[Doc]
    val in = spark.read.parquet(input.toString).as[Doc]
    val firstSeven = (1 until 7).foldLeft(Lineage.batchSlice(in, 8, 0))(
      (acc, b) => acc.union(Lineage.batchSlice(in, 8, b)))
    Lineage.runResumable(spark, firstSeven, outOf(crashed), metricsOf(crashed), "crashed-b0-6")
    val halfOfLast = Lineage.batchSlice(in, 8, 7)
      .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(2)) === 0)
    Lineage.runResumable(spark, halfOfLast, outOf(crashed), metricsOf(crashed), "crashed-b7")
  }

  def inputs: Map[String, Any] = Map(
    "docs" -> entries.length,
    "giant_docs" -> entries.count(_.giant),
    "spans" -> entries.iterator.map(_.doc.spans.length).sum,
    "input_sha256" -> Corpus.hash(entries))

  def pass(spark: SparkSession, p: Int, tracer: Tracer): Unit = {
    val (processed, skipped) = tracer.span("run.run", s"pass$p") {
      Run.run(spark, runArgs(input.toString, passDir(p), s"pass-$p"))
    }
    results += ((p, processed, skipped))
  }

  def verify(spark: SparkSession): Verdict = {
    val notes = Vector.newBuilder[String]
    var failed = 0L
    results.foreach { case (p, processed, skipped) =>
      if (processed != nDocs || skipped != 0) {
        failed += 1
        notes += s"pass $p: processed=$processed skipped=$skipped, want $nDocs+0"
      }
      if (p == results.head._1 || p == results.last._1) {
        val g = Golden.check(spark, outOf(passDir(p)), metricsOf(passDir(p)), gold)
        failed += g.bad.length
        g.bad.take(5).foreach { case (id, why) => notes += s"pass $p: $id: $why" }
        if (g.bad.length > 5) notes += s"pass $p: ${g.bad.length - 5} more bad docs"
      }
    }
    Verdict(results.length.toLong * nDocs, failed, notes.result())
  }

  def report(passWalls: Seq[Double]): Seq[(String, Double, String)] =
    Seq(("docs_per_s", median(passWalls.map(nDocs / _)), "docs/s"))

  /** The lineage probes run on a crashed state, so the resume path is
    * measured although the passes never take it.
    */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    implicit val enc = Encoders.product[Doc]
    crash(spark)
    val metrics = metricsOf(crashed)
    // the input Dataset exactly as Run.run builds it
    val construct = medianTime(ProbeReps) {
      tracer.span(Obs.ConstructSpan, "probe")(spark.read.parquet(input.toString).as[Doc])
    }
    val in = spark.read.parquet(input.toString).as[Doc]
    val completedS = tracer.span("lineage.completed", "probe") {
      medianTime(ProbeReps)(Lineage.completedDocIds(spark, metrics).count())
    }
    var pending = 0L
    val pendingS = tracer.span("lineage.pending", "probe") {
      medianTime(ProbeReps) { pending = Lineage.filterPendingBucketed(spark, in, metrics).count() }
    }
    val incomplete = Lineage.incompleteBuckets(spark, in, metrics, 4096).count()
    // a seed of its own: Corpus.generate picks the giants with Random(seed)
    val sample = new Random(~seed).shuffle(entries).take(Workloads.KernelSample).map(_.doc)
    layerProbes(spark, tracer, input.toString, sample) ++ Map(
      "spark.construct_s" -> construct,
      "lineage.completed_s" -> completedS,
      "lineage.pending_s" -> pendingS,
      "lineage.pending_frac" -> pending.toDouble / nDocs,
      "lineage.incomplete_buckets" -> incomplete.toDouble)
  }
}

object ExtractWorkload {
  val WarmPasses = 4
}

/** A fixed systematic sample of `SparkEntry.queries` at sf0.01, run in a
  * seeded order: each query is built, then `count()`ed, with no clean-up
  * in between. Untimed passes first write each result for the result-hash
  * check and warm the JIT.
  */
final class QueriesWorkload(seed: Long, work: Path, dataDir: String,
    goldenRows: Map[String, Long]) extends Workload {
  import Workloads._

  private val names = QueriesWorkload.sample
  private val latencies = ArrayBuffer[Double]()
  private val failures = Vector.newBuilder[String]
  private var attempted = 0L
  private val results = work.resolve("results")

  def warmUp(spark: SparkSession, cycle: Int): Unit =
    QueriesWorkload.WarmUp.foreach(n => SparkEntry.queries(n)(spark, dataDir).count())

  private def order(p: Int): Seq[String] = QueriesWorkload.order(seed, p)

  /** Writes every result for run.py's hash check (which also covers the
    * row count), then runs `QueriesWorkload.WarmPasses` untimed passes:
    * the first passes of a JVM run far slower while the JIT compiles.
    * The timed passes check the row count of each `count()`.
    */
  def prepare(spark: SparkSession): Unit = {
    order(-1).foreach { n =>
      attempted += 1
      try SparkEntry.queries(n)(spark, dataDir).write.mode("overwrite")
        .parquet(results.resolve(n).toString)
      catch {
        case e: Throwable => failures += s"$n: ${e.getClass.getName}: ${e.getMessage}".take(300)
      }
    }
    for (w <- 1 to QueriesWorkload.WarmPasses) pass(spark, -1 - w, new Tracer((_, _) => ()))
    latencies.clear()
  }

  def inputs: Map[String, Any] = Map(
    "queries" -> names.length,
    "suite_size" -> SparkEntry.queries.size,
    "order" -> order(0),
    "order_sha256" -> QueriesWorkload.orderHash(seed))

  def pass(spark: SparkSession, p: Int, tracer: Tracer): Unit =
    order(p).foreach { n =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val rows = tracer.span("query", s"pass$p/$n") {
          val df = tracer.span(Obs.ConstructSpan, s"pass$p/$n")(SparkEntry.queries(n)(spark, dataDir))
          tracer.span("query.action", s"pass$p/$n")(df.count())
        }
        latencies += (System.nanoTime() - t0) / 1e9
        if (!goldenRows.get(n).contains(rows))
          failures += s"$n (pass $p): $rows rows, golden ${goldenRows.getOrElse(n, "missing")}"
      } catch {
        case e: Throwable =>
          latencies += (System.nanoTime() - t0) / 1e9
          failures += s"$n (pass $p): ${e.getClass.getName}: ${e.getMessage}".take(300)
      }
    }

  def verify(spark: SparkSession): Verdict = {
    val notes = failures.result()
    Verdict(attempted, notes.length.toLong, notes)
  }

  def report(passWalls: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("suite_s", median(passWalls), "s"),
    ("query_p50_s", median(latencies.toSeq), "s"),
    ("query_p95_s", percentile(latencies.toSeq, 0.95), "s"),
    ("query_samples", latencies.length.toDouble, "count"))

  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    // the extraction queries' own input: SpanGen.fromDocuments at sf0.01
    val docsDir = work.resolve("docs").toString
    graft.fixtures.SpanGen.fromDocuments(spark, dataDir).write.parquet(docsDir)
    implicit val enc = Encoders.product[Doc]
    val docs = spark.read.parquet(docsDir).as[Doc].collect().toVector
    val sample = new Random(seed).shuffle(docs).take(Workloads.KernelSample)
    layerProbes(spark, tracer, docsDir, sample) ++ Map(
      "lineage.completed_s" -> 0.0,
      "lineage.pending_s" -> 0.0,
      "lineage.pending_frac" -> 0.0,
      "lineage.incomplete_buckets" -> 0.0)
  }
}

object QueriesWorkload {
  /** Every `Stride`-th query by name, from the `Offset`-th on: a fixed
    * sample, so that the figures of different seeds measure the same
    * queries. It holds 11 of the 268 queries, about half of whose time
    * goes to DataFrame construction, and one query (q_corpus_clean) that
    * leaves a CacheManager registration behind.
    */
  val Stride = 26
  val Offset = 5
  def sample: Vector[String] =
    SparkEntry.queries.keys.toVector.sorted.zipWithIndex
      .collect { case (n, i) if i % Stride == Offset => n }
  val WarmUp = Seq("q_text_scrub", "q_sha2")
  val WarmPasses = 2

  /** The order of pass `p` (-1 is the untimed result pass). Odd passes
    * run the previous pass's order reversed, so each pair of passes puts
    * every query both early and late in the session.
    */
  def order(seed: Long, p: Int): Seq[String] =
    if (p >= 0 && p % 2 == 1) order(seed, p - 1).reverse
    else new Random(seed * 1000003L + p).shuffle(sample)

  def orderHash(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order(seed, 0).mkString("\n").getBytes("UTF-8"))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
