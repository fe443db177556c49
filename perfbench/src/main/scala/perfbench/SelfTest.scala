package perfbench

import java.nio.file.Paths

import graft.{Run, Span}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Entry points for the benchmark's own tests (perfbench/test_perfbench.py).
  *
  * Results are printed as lines starting with `selftest: `.
  *
  *   input-hash <workload> <seed>  print the hash of the inputs the seed makes
  *   golden <work dir>             check that the golden gate passes a real
  *                                 output table and fails corrupted copies
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    args.toList match {
      case List("input-hash", "queries", seed) =>
        println("selftest: " + QueriesWorkload.orderHash(seed.toLong))
      case List("input-hash", "extract_fresh", seed) =>
        println("selftest: " + Corpus.hash(Corpus.generate(Main.FreshDocs, seed.toLong)))
      case List("golden", work) => golden(work)
      case _ => throw new IllegalArgumentException(args.mkString(" "))
    }
    System.exit(0)
  }

  /** Prints one line per case: `selftest: <case> <number of bad docs>`. */
  private def golden(work: String): Unit = {
    val spark = graft.Bench.session("2")
    spark.sparkContext.setLogLevel("ERROR")
    val entries = Corpus.generate(200, 3L)
    val gold = entries.iterator.map(e => e.doc.doc_id -> e.gold).toMap
    val input = s"$work/input"
    Workloads.writeCorpus(spark, entries.map(_.doc), Paths.get(input), 2)
    Run.run(spark, Array(input, s"$work/out", s"$work/metrics", "selftest"))
    def report(name: String, out: String): Unit =
      println(s"selftest: $name ${Golden.check(spark, out, s"$work/metrics", gold).bad.length}")
    report("original", s"$work/out")

    // a copy of the output table with one span text of doc-7 changed
    val out = spark.read.parquet(s"$work/out")
    val victim = entries(7).doc.doc_id
    val corrupt = udf((spans: Seq[org.apache.spark.sql.Row]) =>
      spans.map(r => Span(r.getAs[String]("kind"), r.getAs[String]("text") + "!",
        r.getAs[String]("media_ref"), r.getAs[Int]("offset"))))
    out.withColumn("spans",
        when(col("doc_id") === victim, corrupt(col("spans"))).otherwise(col("spans")))
      .write.mode(SaveMode.Overwrite).partitionBy("run_id").parquet(s"$work/out-corrupt")
    report("corrupted_span", s"$work/out-corrupt")

    // a copy with doc-7 dropped
    out.filter(col("doc_id") =!= victim)
      .write.mode(SaveMode.Overwrite).partitionBy("run_id").parquet(s"$work/out-dropped")
    report("dropped_doc", s"$work/out-dropped")
    spark.stop()
  }
}
