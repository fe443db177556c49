package perfbench

import graft.{Doc, Span, SpanKinds, WordBox}
import graft.decode.Decode
import graft.extract.Extract
import graft.geom.Geom
import graft.html.HtmlStrip

import scala.collection.mutable.ArrayBuffer

/** Kernel pass: the per-document layers called directly, single-threaded,
  * on a sample of the workload's documents. Every time comes with the
  * operation count it was measured over.
  */
object Kernels {

  /** Word-box runs at least this long are the large tables: the giants'
    * 40 x 25 tables (`Corpus`); `SpanGen` tables hold at most 6 x 5 cells
    * of 2 words.
    */
  val LargeRun = 150

  private def wordBoxRuns(doc: Doc): Vector[Vector[Span]] = {
    val sorted = doc.spans.sortBy(_.offset)
    val runs = Vector.newBuilder[Vector[Span]]
    var cur = Vector.newBuilder[Span]
    var n = 0
    sorted.foreach { s =>
      if (s.kind == SpanKinds.WordBox) { cur += s; n += 1 }
      else if (n > 0) { runs += cur.result(); cur = Vector.newBuilder[Span]; n = 0 }
    }
    if (n > 0) runs += cur.result()
    runs.result()
  }

  /** Median time of one repetition of `body` over `units` operations, in
    * ns per operation; repeats for at least `minMs` and 5 repetitions.
    */
  private def perUnitNs(units: Int, minMs: Long = 150)(body: => Unit): Double =
    if (units == 0) 0.0
    else {
      body // warm
      val reps = ArrayBuffer[Long]()
      val deadline = System.nanoTime() + minMs * 1000000L
      while (reps.length < 5 || System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        body
        reps += System.nanoTime() - t0
      }
      reps.sorted.apply(reps.length / 2).toDouble / units
    }

  def run(docs: Vector[Doc]): Map[String, Double] = {
    val runs = docs.flatMap(wordBoxRuns)
    val boxSpans = runs.flatten
    val (largeRuns, tableRuns) = runs.partition(_.length >= LargeRun)
    def boxes(run: Vector[Span]): ArrayBuffer[WordBox] = {
      val b = new ArrayBuffer[WordBox](run.length)
      run.foreach { s =>
        val w = Decode.wordBoxOfRef(s.media_ref, s.text)
        if (w != null) b += w
      }
      b
    }
    val tables = tableRuns.map(boxes)
    val large = largeRuns.map(boxes)
    val html = docs.flatMap(_.spans.filter(_.kind == SpanKinds.Html).map(_.text))

    docs.foreach(Extract.extractDoc(_)) // warm
    val docUs = docs.map { d =>
      val t0 = System.nanoTime()
      Extract.extractDoc(d)
      (System.nanoTime() - t0) / 1000.0
    }

    var sink = 0L
    val decodeNs = perUnitNs(boxSpans.length) {
      boxSpans.foreach { s =>
        if (Decode.wordBoxOfRef(s.media_ref, s.text) != null) sink += 1
      }
    }
    val tableNs = perUnitNs(tables.length)(tables.foreach(t => sink += Geom.toTable(t).length))
    val splitNs = perUnitNs(tables.length)(
      tables.foreach(t => sink += Geom.toTableSplitHeuristic(t).length))
    val largeNs = perUnitNs(large.length)(large.foreach(t => sink += Geom.toTable(t).length))
    val htmlNs = perUnitNs(html.length)(html.foreach(h => sink += HtmlStrip.strip(h).length))
    require(sink > 0 || docs.isEmpty)

    Map(
      "extract.doc_us_p50" -> Workloads.percentile(docUs, 0.50),
      "extract.doc_us_p99" -> Workloads.percentile(docUs, 0.99),
      "decode.span_ns" -> decodeNs,
      "geom.table_us" -> tableNs / 1000.0,
      "geom.split_table_us" -> splitNs / 1000.0,
      "geom.large_table_us" -> largeNs / 1000.0,
      "html.strip_us" -> htmlNs / 1000.0,
      "kernel.docs" -> docs.length.toDouble,
      "kernel.spans" -> docs.iterator.map(_.spans.length).sum.toDouble,
      "kernel.word_boxes" -> boxSpans.length.toDouble,
      "kernel.tables" -> tables.length.toDouble,
      "kernel.large_tables" -> large.length.toDouble,
      "kernel.html_spans" -> html.length.toDouble)
  }
}
