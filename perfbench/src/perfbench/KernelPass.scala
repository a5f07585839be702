package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.html.HtmlExtract
import graft.core.pdf._
import graft.core.pdf.Lex._
import graft.pipeline.{ExtractJob, ExtractKernel, ExtractedRow, PageRow, Span}

/** Single-thread kernel pass on the driver. Each doc is extracted twice,
  * back to back (a whale `KernelPass.WhaleRounds` times each way): through
  * `ExtractKernel.extractOne` (the wall time being decomposed) and through
  * the same public calls it makes, each timed on its own:
  *
  *  - `pdf.xref`: `Bytes.str` + `Xref.getCrossRefOffset` -> `getTrailerOffsets`
  *    -> `getId2Offsets` -> `getEncryptData` -> `new ObjectStorage`, and the
  *    trailer -> /Root -> /Pages lookup;
  *  - `pdf.pages`: `new PagesExtractor(...).getTextWithSpans` (Lex, Filters,
  *    Crypto, Fonts, CMaps and Layout run lazily inside it);
  *  - `html`: `HtmlExtract.extract`;
  *  - `row`: the wrapper's own work, replayed: payload decoding, span
  *    conversion and the `ExtractedRow`.
  *
  * The four are measured, not derived, so their sum against the
  * `extractOne` total (`kernel.unaccounted_frac`, within 0.05) checks the
  * decomposition. The
  * xref -> pages chain must also give bytes and spans identical to
  * `PdfExtract.extract` for every PDF.
  */
final class KernelPass(spans: Spans, parent: Int) {
  private val pdfMs = Vector.newBuilder[Double]
  private val htmlMs = Vector.newBuilder[Double]
  private var whaleMsMax = 0.0
  private var docs = 0L
  private var totalNs = 0L
  private var okNs = 0L // extractOne time of the docs that are decomposed
  private var xrefNs = 0L
  private var pagesNs = 0L
  private var htmlNs = 0L
  private var rowNs = 0L
  private var bytesIn = 0L
  private var charsOut = 0L
  private var errDocs = 0L
  val mismatches = Vector.newBuilder[String]

  /** `PdfExtract.open` up to the `PagesExtractor`: (pages id, storage, /Encrypt) */
  private def open(buffer: String): (Long, ObjectStorage, Dict) = {
    val crossRefOffset = Xref.getCrossRefOffset(buffer)
    val trailerOffsets = Xref.getTrailerOffsets(buffer, crossRefOffset)
    val id2offsets = Xref.getId2Offsets(buffer, trailerOffsets)
    val encryptData = Xref.getEncryptData(buffer, trailerOffsets(0)._1, trailerOffsets(0)._2, id2offsets)
    val storage = new ObjectStorage(buffer, id2offsets, encryptData)
    var trailerOffset = crossRefOffset
    if (Xref.isPrefix(buffer, crossRefOffset, "xref"))
      trailerOffset = efind(buffer, "trailer", trailerOffset) + "trailer".length
    val rootPair = getDictionaryData(buffer, trailerOffset).getOrElse("/Root", err("no /Root"))
    val rootData = getDictionaryData(storage.getObject(getIdGen(rootPair.raw)._1).raw, 0)
    val pagesPair = rootData.getOrElse("/Pages", err("no /Pages"))
    (getIdGen(pagesPair.raw)._1, storage, encryptData)
  }

  def add(row: PageRow): Unit = {
    val docSpan = spans.add(parent, "kernel.doc", spans.nowUs(), 0L, s""""url":"${row.url}"""")
    // Which of the two extractions runs first alternates, so the second
    // one's warmer caches favour neither side of the comparison. A whale is
    // extracted `WhaleRounds` times each way and the fastest of each side
    // kept, with the heap collected before each extraction, so neither a
    // collection of the other side's garbage nor a slow moment of the host
    // lands in one side only.
    val whale = row.html != null && row.html.length > ExtractJob.SKEW_THRESHOLD_BYTES
    def settle(): Unit = if (whale) System.gc()
    var plain: ExtractedRow = null
    var plainNs = Long.MaxValue
    var layers: Option[Layers] = None
    var decomposedOk = true
    def runDecomposed(): Unit = {
      settle()
      decomposed(row, docSpan) match {
        case Some(l) => if (layers.forall(_.sum > l.sum)) layers = Some(l)
        case None => decomposedOk = false
      }
    }
    (0 until (if (whale) KernelPass.WhaleRounds else 1)).foreach { round =>
      val decomposeFirst = (docs + round) % 2 == 1
      if (decomposeFirst) runDecomposed()
      settle()
      val s0 = spans.nowUs()
      val t0 = System.nanoTime()
      val out = ExtractKernel.extractOne(row)
      val dt = System.nanoTime() - t0
      spans.add(docSpan, "kernel.extractOne", s0, spans.nowUs(),
        s""""kind":"${out.kind}","bytes":${out.bytes_in},"status":"${out.status}"""")
      if (dt < plainNs) { plain = out; plainNs = dt }
      if (!decomposeFirst) runDecomposed()
    }
    val ms = plainNs / 1e6
    totalNs += plainNs
    docs += 1
    bytesIn += plain.bytes_in
    charsOut += plain.chars_out
    if (plain.status != "ok") errDocs += 1
    if (plain.kind == "pdf") pdfMs += ms else htmlMs += ms
    if (whale) whaleMsMax = math.max(whaleMsMax, ms)
    if (plain.status == "ok" && decomposedOk) layers.foreach { l =>
      okNs += plainNs
      xrefNs += l.xref; pagesNs += l.pages; htmlNs += l.html; rowNs += l.row
      l.pdf.foreach { case (text, sp) =>
        val (refText, refSpans) = PdfExtract.extract(row.html)
        if (!java.util.Arrays.equals(refText, Bytes.arr(text)) || refSpans != sp)
          mismatches += row.url
      }
    }
    spans.close(docSpan, spans.nowUs())
  }

  /** layer times of one doc, and for a PDF the chain's text and spans */
  private final case class Layers(xref: Long, pages: Long, html: Long, row: Long,
      pdf: Option[(String, Vector[(Coord, String)])]) {
    def sum: Long = xref + pages + html + row
  }

  private def timed[A](docSpan: Int, name: String)(f: => A): (A, Long) = {
    val s0 = spans.nowUs()
    val t0 = System.nanoTime()
    val a = f
    val dt = System.nanoTime() - t0
    spans.add(docSpan, name, s0, spans.nowUs())
    (a, dt)
  }

  /** None if the doc fails (it is then an err doc) */
  private def decomposed(row: PageRow, docSpan: Int): Option[Layers] =
    try {
      val (kind, r0) = timed(docSpan, "kernel.row") {
        ExtractKernel.sniffKind(if (row.html == null) Array.emptyByteArray else row.html)
      }
      if (kind == "pdf") {
        val ((buffer, (pagesId, storage, encrypt)), x) = timed(docSpan, "kernel.pdf.xref") {
          val b = Bytes.str(row.html)
          (b, open(b))
        }
        val ((text, sp), p) = timed(docSpan, "kernel.pdf.pages") {
          new PagesExtractor(pagesId, storage, encrypt, buffer).getTextWithSpans
        }
        val (_, r) = timed(docSpan, "kernel.row") {
          val s = new String(Bytes.arr(text), UTF_8)
          ExtractedRow(row.url, s,
            sp.map { case (c, t) => Span(c.x0, c.y0, c.x1, c.y1, new String(Bytes.arr(t), UTF_8)) },
            "ok", kind, row.html.length, s.length, 0L)
        }
        Some(Layers(x, p, 0L, r0 + r, Some((text, sp))))
      } else {
        val (html, r1) = timed(docSpan, "kernel.row")(new String(row.html, UTF_8))
        val (res, h) = timed(docSpan, "kernel.html")(HtmlExtract.extract(html))
        val (_, r2) = timed(docSpan, "kernel.row") {
          var off = 0L
          val sp = res.blocks.map { b =>
            val s = Span(off.toFloat, 0f, (off + b.text.length).toFloat, b.score, b.text)
            off += b.text.length + 1
            s
          }
          ExtractedRow(row.url, res.text, sp, "ok", kind, row.html.length, res.text.length, 0L)
        }
        Some(Layers(0L, 0L, h, r0 + r1 + r2, None))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def metrics: Map[String, Double] = {
    val pdf = pdfMs.result()
    val html = htmlMs.result()
    val layers = xrefNs + pagesNs + htmlNs + rowNs
    Map(
      "kernel.docs_per_s_1t" -> docs / (totalNs / 1e9),
      "kernel.doc_ms.p50.pdf" -> Stats.quantile(pdf, 0.50),
      "kernel.doc_ms.p99.pdf" -> Stats.quantile(pdf, 0.99),
      "kernel.doc_ms.p50.html" -> Stats.quantile(html, 0.50),
      "kernel.doc_ms.p99.html" -> Stats.quantile(html, 0.99),
      "kernel.whale_ms.max" -> whaleMsMax,
      "kernel.pdf.xref_s" -> xrefNs / 1e9,
      "kernel.pdf.pages_s" -> pagesNs / 1e9,
      "kernel.html_s" -> htmlNs / 1e9,
      "kernel.row_s" -> rowNs / 1e9,
      "kernel.unaccounted_frac" -> math.abs(1.0 - layers.toDouble / okNs),
      "kernel.bytes_in" -> bytesIn.toDouble,
      "kernel.chars_out" -> charsOut.toDouble,
      "kernel.err_docs" -> errDocs.toDouble)
  }
}

object KernelPass {
  /** extractions per side for each whale (the fastest counts) */
  final val WhaleRounds = 3
}
