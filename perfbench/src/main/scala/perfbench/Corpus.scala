package perfbench

import graft.{Doc, Span, SpanKinds}
import graft.fixtures.SpanGen

import scala.util.Random

/** The seeded span-table corpus of the extract workload, with the golden
  * output of every document.
  *
  * Each document is `SpanGen.genDoc`, except one in `GiantEvery`, chosen
  * by the seed, which is a giant: one `GiantRows` x `GiantCols` word-box
  * table with one word in every cell, laid out with `SpanGen.layoutSpans`.
  * Shape and share are those of the oversized document in the program's
  * own skew test (PipelineSpec, "skew posture": one 40 x 25 table among
  * 64 docs), so the corpus has the size tail the program is built to
  * handle. The goldens come from the generator's own grid knowledge,
  * never from the extraction code.
  */
object Corpus {

  final case class Entry(doc: Doc, gold: Vector[Span], giant: Boolean)

  val GiantEvery = 64
  val GiantRows = 40
  val GiantCols = 25

  private def numbered(spans: Seq[(String, String, String)]): Vector[Span] =
    spans.iterator.zipWithIndex.map { case ((k, t, m), i) => Span(k, t, m, i) }.toVector

  /** Document `id` of the corpus of `seed`. */
  def entry(id: Long, seed: Long, giant: Boolean): Entry =
    if (!giant) {
      val (doc, gold) = SpanGen.genDoc(id, seed)
      Entry(doc, gold, giant = false)
    } else {
      val rng = new Random(seed * 1000003L + id * 7919L)
      val spec = SpanGen.TableSpec(GiantRows, GiantCols, (for {
        r <- 0 until GiantRows
        c <- 0 until GiantCols
      } yield (r, c) -> Vector(SpanGen.Vocab(rng.nextInt(SpanGen.Vocab.length)))).toMap)
      val spans = SpanGen.layoutSpans(spec, rng).map { case (w, ref) => (SpanKinds.WordBox, w, ref) }
      val table = spec.expectedTable
      val gold = for (r <- table.indices; c <- table(r).indices)
        yield (SpanKinds.Cell, table(r)(c), s"${r + 1},${c + 1}")
      Entry(Doc(s"doc-$id", numbered(spans)), numbered(gold), giant = true)
    }

  /** `n` documents; exactly `n / GiantEvery` of them, chosen by the seed,
    * are giants, so every seed gets the same amount of work.
    */
  def generate(n: Int, seed: Long): Vector[Entry] = {
    val giants = new Random(seed).shuffle((0 until n).toVector).take(n / GiantEvery).toSet
    (0 until n).map(i => entry(i.toLong, seed, giants(i))).toVector
  }

  /** SHA-256 over every document and golden, in order. */
  def hash(entries: Seq[Entry]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    def putSpans(ss: Seq[Span]): Unit =
      ss.foreach { s => put(s.kind); put(s.text); put(s.media_ref); put(s.offset.toString) }
    entries.foreach { e => put(e.doc.doc_id); putSpans(e.doc.spans); put("|"); putSpans(e.gold) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
