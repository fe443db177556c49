package graft.lineage

import graft.Doc
import graft.extract.Extract
import graft.functions.ExtractSpansTimedExpr

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Checkpoint / lineage / resume (SURVEY.md S9 + K6 — the Spark-native
  * replacement for the reference's DynamoDB result cache,
  * dynamodb/dynamodb.go:38-90).
  *
  * Layout (Parquet with Iceberg-shaped layout — no Iceberg runtime jar in
  * this sandbox; swapping the `format` to "iceberg" is the only change
  * needed on a real cluster):
  *
  *  - output table  `<outPath>/run_id=<runId>/...`  — extracted docs plus
  *    `partition_id` and `wall_ms` lineage columns, partitioned by run_id
  *    so metrics derivation is a directory-pruned read-back (no cache of
  *    the full output in memory, which would not survive 100 TB).
  *    Extraction is one Catalyst projection through the `extract_spans`
  *    expression (`extractWithLineage`); `wall_ms` is the doc's
  *    extraction time inside that expression, not its scan, shuffle or
  *    write.
  *  - metrics table `<metricsPath>` — one row per document:
  *    (run_id, partition_id, doc_id, status, n_tables, n_cells, checksum,
  *    wall_ms, ts) per FIXTURES.md §4.
  *
  * Resume = left-anti join of the input against the metrics table's
  * successfully completed doc_ids. Idempotence: Spark's output committer
  * publishes task files only on job success, and metrics are appended
  * strictly after the output write succeeds, so a killed run re-processes
  * at most the last in-flight (uncommitted) work and never duplicates a
  * doc in the metrics table.
  */
object Lineage {

  final case class LineageDoc(
      doc_id: String,
      spans: Seq[graft.Span],
      n_tables: Int,
      n_cells: Int,
      status: String,
      partition_id: Int,
      wall_ms: Long)

  /** doc_ids already successfully extracted in any previous run. */
  def completedDocIds(spark: SparkSession, metricsPath: String,
      catalog: TableCatalog = ParquetCatalog): DataFrame = {
    if (catalog.exists(spark, metricsPath))
      catalog.read(spark, metricsPath)
        .filter(col("status") === "ok")
        .select(col("doc_id")).distinct()
    else
      spark.range(0).select(lit("").as("doc_id")).filter(lit(false))
  }

  /** Input minus completed docs — the resume anti-join (broadcast-able
    * when the completed set is small; Catalyst/AQE picks the strategy).
    */
  def filterPending(spark: SparkSession, input: Dataset[Doc], metricsPath: String,
      catalog: TableCatalog = ParquetCatalog): Dataset[Doc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Doc]
    val done = completedDocIds(spark, metricsPath, catalog)
    input.join(done, Seq("doc_id"), "left_anti").as[Doc]
  }

  /** Stable resume bucket of a doc_id: independent of the run's
    * extraction partitioning, so completeness accounting survives
    * re-running at a different parallelism.
    */
  private def resumeBucket(buckets: Int) =
    pmod(xxhash64(col("doc_id"), lit(16)), lit(buckets))

  /** Buckets NOT fully completed, decided by per-bucket SET fingerprints
    * (count plus two independent mod-p hash sums of the doc_ids — mod-p
    * keeps the running sums overflow-free at 10^8 docs/bucket under
    * ANSI arithmetic), each side one column-pruned scan + map-side-
    * combined agg into <= `buckets` rows. A bucket is wholly done only
    * when the completed-id set equals the input-id set exactly, so the
    * pruning stays CORRECT when the metrics table holds doc_ids not in
    * the current input (a replaced/renamed doc sharing a bucket with a
    * completed one): any asymmetry fails the fingerprint and the bucket
    * falls through to the per-doc anti-join, which handles extras
    * natively. False "equal" needs a simultaneous collision of both
    * independent sums (~p^-2 ~ 2.5e-19 per bucket).
    */
  def incompleteBuckets(spark: SparkSession, input: Dataset[Doc],
      metricsPath: String, buckets: Int,
      catalog: TableCatalog = ParquetCatalog): DataFrame = {
    val b = resumeBucket(buckets)
    val P = 2000000011L
    def fp(df: DataFrame, suffix: String): DataFrame =
      df.select(b.as("bucket"),
          pmod(xxhash64(col("doc_id"), lit(71)), lit(P)).as("h1"),
          pmod(xxhash64(col("doc_id"), lit(1213)), lit(P)).as("h2"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"n_$suffix"),
          sum(col("h1")).as(s"s1_$suffix"),
          sum(col("h2")).as(s"s2_$suffix"))
    val inFp = fp(input.toDF(), "in")
    val doneFp = fp(completedDocIds(spark, metricsPath, catalog), "done")
    inFp.join(doneFp, Seq("bucket"), "left")
      .filter(!(col("n_done") <=> col("n_in") &&
        col("s1_done") <=> col("s1_in") && col("s2_done") <=> col("s2_in")))
      .select(col("bucket"))
  }

  /** Partition-granular resume fast path. The plain anti-join keys the
    * FULL input against the FULL completed-id set — at 10^12 docs the
    * completed side is itself a 10^12-row shuffle on every resume. Here
    * whole completed buckets are skipped first with two bounded
    * aggregations, and only docs in partially-complete buckets (the
    * crash frontier — a few buckets out of thousands on a steady
    * resume) reach the per-doc anti-join; both pruning joins broadcast
    * the <= `buckets`-row incomplete set. Worst case (fresh run, all
    * buckets incomplete) degrades to the plain path plus two cheap
    * count scans. Output is identical to filterPending.
    */
  def filterPendingBucketed(spark: SparkSession, input: Dataset[Doc],
      metricsPath: String, buckets: Int = 4096,
      catalog: TableCatalog = ParquetCatalog): Dataset[Doc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Doc]
    if (!catalog.exists(spark, metricsPath)) return input
    val b = resumeBucket(buckets)
    val incomplete = broadcast(
      incompleteBuckets(spark, input, metricsPath, buckets, catalog))
    val candidates = input.toDF().withColumn("bucket", b)
      .join(incomplete, Seq("bucket"), "left_semi")
    val pendingDone = completedDocIds(spark, metricsPath, catalog)
      .withColumn("bucket", b)
      .join(incomplete, Seq("bucket"), "left_semi")
      .select(col("doc_id"))
    candidates.join(pendingDone, Seq("doc_id"), "left_anti")
      .drop("bucket").as[Doc]
  }

  /** The input columns the extraction reads. `ExtractSpansTimedExpr`
    * reads the span struct by position, while a typed `Dataset[Doc]`
    * resolves it by name, so `to` reorders the fields of a table written
    * with another field order instead of letting them be misread.
    */
  private val ExtractInput = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))))))

  /** Extract with lineage columns captured inside the task: one Catalyst
    * projection over the salted repartition, with no Doc/Span object
    * round-trip. `partition_id` is `spark_partition_id()` of the
    * extraction task; `wall_ms` is that task's time in
    * `ExtractSpansExpr.evalStatic` for the doc (ExtractSpansTimedExpr).
    */
  def extractWithLineage(
      spark: SparkSession,
      docs: Dataset[Doc],
      strategy: Extract.Strategy,
      numPartitions: Int): Dataset[LineageDoc] = {
    implicit val outEnc = org.apache.spark.sql.Encoders.product[LineageDoc]
    val parts =
      if (numPartitions > 0) numPartitions
      else math.max(1, spark.sparkContext.defaultParallelism * 4)
    val (split, midpoint) = strategy match {
      case Extract.Strategy.RegionClustering => (false, false)
      case Extract.Strategy.SplitHeuristic   => (true, false)
      case Extract.Strategy.SplitMidpoint    => (true, true)
    }
    val extracted = PlanBridge.column(
      ExtractSpansTimedExpr(PlanBridge.expression(col("spans")), split, midpoint))
    docs.toDF().to(ExtractInput)
      .repartition(parts, pmod(xxhash64(col("doc_id"), lit(16)), lit(parts)))
      .select(col("doc_id"), extracted.as("ex"), spark_partition_id().as("partition_id"))
      .select(col("doc_id"), col("ex.spans").as("spans"),
        col("ex.n_tables").as("n_tables"), col("ex.n_cells").as("n_cells"),
        col("ex.status").as("status"), col("partition_id"),
        col("ex.wall_ms").as("wall_ms"))
      .as[LineageDoc]
  }

  /** One resumable run. Returns (#processed this run, #skipped as done).
    *
    * Crash-window contract: the output append commits before the metrics
    * append, so a crash between the two leaves output rows with no
    * metrics row ("orphans"). Each attempt MUST use a fresh runId
    * (enforced below); a retry then re-extracts the orphaned docs under
    * the new runId, and `readCommitted` excludes the orphans by keeping
    * only (run_id, doc_id) pairs present in the metrics table. Skipped
    * count is derived from the metrics table — never from a count of the
    * input, which at 100 TB would be a second full scan.
    */
  def runResumable(
      spark: SparkSession,
      input: Dataset[Doc],
      outPath: String,
      metricsPath: String,
      runId: String,
      strategy: Extract.Strategy = Extract.Strategy.RegionClustering,
      numPartitions: Int = 0,
      catalog: TableCatalog = ParquetCatalog): (Long, Long) = {
    if (catalog.exists(spark, outPath) &&
        !catalog.read(spark, outPath).filter(col("run_id") === runId).isEmpty)
      throw new IllegalStateException(
        s"run_id=$runId already exists under $outPath; every attempt needs " +
          "a fresh run_id (a same-id rerun would append duplicate rows)")
    val skipped = completedDocIds(spark, metricsPath, catalog).count()
    val pending = filterPendingBucketed(spark, input, metricsPath, catalog = catalog)
    val extracted = extractWithLineage(spark, pending, strategy, numPartitions)

    catalog.appendPartitioned(
      extracted.withColumn("run_id", lit(runId)), outPath, "run_id")

    // Directory-pruned read-back of just this run's output; checksum is
    // sha256 over the canonical JSON of the ordered span sequence (the
    // reference checksums input bytes, file.go:22-24 — ours gates the
    // output invariant).
    val runOut = catalog.read(spark, outPath).filter(col("run_id") === runId)
    val metrics = runOut.select(
      col("run_id"), col("partition_id"), col("doc_id"), col("status"),
      col("n_tables"), col("n_cells"),
      sha2(to_json(col("spans")), 256).as("checksum"),
      col("wall_ms"), current_timestamp().as("ts"))
    catalog.append(metrics, metricsPath)

    val processed = runOut.count()
    (processed, skipped)
  }

  /** The bucket-slice of the input a batched run processes as batch
    * `b` of `batches` — same stable doc_id hash as the resume buckets,
    * so completed batches prune in filterPendingBucketed's fast path.
    */
  def batchSlice(input: Dataset[Doc], batches: Int, b: Int): Dataset[Doc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Doc]
    input.filter(pmod(xxhash64(col("doc_id"), lit(16)), lit(batches)) === b)
  }

  /** Batched resumable run: the input is processed as `batches`
    * sequential bucket-slices, each committing its output + metrics
    * independently. The single-job form above commits NOTHING until the
    * whole input succeeds — at 10^12 docs, where some failure is
    * certain, that is an unusable blast radius; here a crash loses at
    * most one in-flight batch, and the retry's per-batch resume prunes
    * every completed batch with two bounded aggregations
    * (filterPendingBucketed) before touching per-doc state. Each batch
    * commits under run_id `<runId>-b<b>`; a retry needs a fresh base
    * runId like any other attempt. Returns (processed this run,
    * completed-doc count found in metrics at start), mirroring
    * runResumable's contract.
    */
  def runResumableBatched(
      spark: SparkSession,
      input: Dataset[Doc],
      outPath: String,
      metricsPath: String,
      runId: String,
      strategy: Extract.Strategy = Extract.Strategy.RegionClustering,
      batches: Int = 8,
      numPartitions: Int = 0,
      catalog: TableCatalog = ParquetCatalog): (Long, Long) = {
    require(batches >= 1, s"batches must be positive: $batches")
    val skipped = completedDocIds(spark, metricsPath, catalog).count()
    var processed = 0L
    for (b <- 0 until batches) {
      val (p, _) = runResumable(spark, batchSlice(input, batches, b),
        outPath, metricsPath, s"$runId-b$b", strategy, numPartitions, catalog)
      processed += p
    }
    (processed, skipped)
  }

  /** The full extracted output across all runs (resume-aware readers). */
  def readOutput(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  /** Committed output only: rows whose (run_id, doc_id) reached the
    * metrics table. Excludes orphans from a crash between the output
    * append and the metrics append — the reader-side half of the
    * idempotence contract (one row per doc even across crashed attempts).
    */
  def readCommitted(spark: SparkSession, outPath: String, metricsPath: String,
      catalog: TableCatalog = ParquetCatalog): DataFrame = {
    val committed = catalog.read(spark, metricsPath)
      .select(col("run_id"), col("doc_id")).distinct()
    catalog.read(spark, outPath).join(committed, Seq("run_id", "doc_id"), "left_semi")
  }
}
