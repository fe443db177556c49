package perfbench

import graft.Span
import graft.lineage.Lineage

import org.apache.spark.sql.{Row, SparkSession}

/** The extract workloads' correctness gate: the committed output of a run
  * (`Lineage.readCommitted`) must hold every golden document exactly once,
  * with status `ok` and the golden span sequence (kind, text, media_ref,
  * order).
  */
object Golden {

  final case class Result(docs: Long, bad: Vector[(String, String)]) {
    def ok: Boolean = bad.isEmpty
  }

  def check(spark: SparkSession, outPath: String, metricsPath: String,
      gold: Map[String, Vector[Span]]): Result = {
    val rows = Lineage.readCommitted(spark, outPath, metricsPath)
      .select("doc_id", "status", "spans").collect()
    val bad = Vector.newBuilder[(String, String)]
    val seen = scala.collection.mutable.HashSet[String]()
    rows.foreach { r =>
      val id = r.getString(0)
      if (!seen.add(id)) bad += id -> "duplicate"
      else gold.get(id) match {
        case None => bad += id -> "not in input"
        case Some(g) =>
          val spans = r.getSeq[Row](2).map(s => Span(
            s.getAs[String]("kind"), s.getAs[String]("text"),
            s.getAs[String]("media_ref"), s.getAs[Int]("offset")))
          if (r.getString(1) != "ok") bad += id -> s"status ${r.getString(1)}"
          else if (spans != g) bad += id -> "span sequence differs from golden"
      }
    }
    gold.keysIterator.filterNot(seen).foreach(id => bad += id -> "missing")
    Result(rows.length.toLong, bad.result())
  }
}
