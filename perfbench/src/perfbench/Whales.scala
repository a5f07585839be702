package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.fixtures.PdfBuilder
import graft.fixtures.PdfBuilder._
import graft.pipeline.{ExtractJob, PageRow}

/** Whale documents: 1–4 MiB PDFs and HTML pages, every one above
  * `ExtractJob.SKEW_THRESHOLD_BYTES`, so the salted round-robin shuffle of
  * `ExtractJob` carries them.
  *
  * Doc `i` is a pure function of `(seed, i)` and has a by-construction
  * golden text. PDFs are built like `Corpus.pdfPayload` (12pt Courier, one
  * `Td`/`Tj` per line, 14pt apart, so the whole stream is one text box);
  * HTML pages like `Corpus.htmlPayload` (title + `<p>` paragraphs inside
  * nav/aside/footer boilerplate, golden = title and paragraphs).
  *
  * Filters: plain, and ASCII85 in a classic-xref or an xref-stream+ObjStm
  * file. Flate and LZW are left out on purpose: they compress this text
  * several-fold, so a 1–4 MiB compressed stream would decode to tens of MiB
  * and the payload size would no longer say how much work a doc is.
  * ASCIIHex is left out because `PdfBuilder.asciiHexEncode` costs ~0.6 µs
  * per byte, which would dominate set-up.
  *
  * Sizes follow a golden-ratio sequence offset by the seed, so any `n`
  * consecutive docs cover the 1–4 MiB band almost evenly for every seed:
  * seeds change the bytes, not the amount of work.
  */
object Whales {
  final val MiB: Int = 1 << 20
  final val MIN_BYTES: Int = MiB + (64 << 10)
  final val MAX_BYTES: Int = 4 * MiB - (64 << 10)
  final val EPOCH_MS = 1609459200000L // 2021-01-01T00:00:00Z, apart from Corpus rows

  private val words = Array(
    "data", "spark", "engine", "extract", "page", "text", "layout", "stream",
    "filter", "object", "lexer", "font", "width", "glyph", "matrix", "column",
    "corpus", "golden", "byte", "ident", "scale", "shuffle", "salt", "skew",
    "lineage", "metric", "resume", "batch", "kernel", "vector", "token",
    "quality", "dedup", "hash", "bucket", "anchor", "content", "density")

  /** splitmix64 finaliser */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def word(seed: Long, i: Long, k: Long): String =
    words(((mix(seed ^ mix(i * 0x2545f4914f6cdd1dL + k)) & 0x7fffffffL) % words.length).toInt)

  private def sentence(seed: Long, i: Long, k: Long, n: Int): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(word(seed, i, k * 131 + j))
      j += 1
    }
    sb.toString
  }

  /** "pdf" for even i, "html" for odd i */
  def kindOf(i: Long): String = if (i % 2 == 0) "pdf" else "html"

  def url(i: Long): String = s"https://whale.test/${kindOf(i)}/$i"

  /** payload size target in [MIN_BYTES, MAX_BYTES] */
  def targetBytes(seed: Long, i: Long): Int = {
    val offset = (mix(seed) >>> 11).toDouble / (1L << 53).toDouble
    val golden = 0.6180339887498949
    val u = (offset + i * golden) % 1.0
    MIN_BYTES + (u * (MAX_BYTES - MIN_BYTES)).toInt
  }

  /** PDF variant: 0 plain classic xref, 1 ASCII85 classic xref,
    * 2 ASCII85 content in an xref-stream file with an ObjStm */
  private def pdfVariant(i: Long): Int = ((i / 2) % 3).toInt

  /** line texts of PDF doc i; enough lines that the payload reaches its target */
  private def pdfLines(seed: Long, i: Long): Vector[String] = {
    val contentTarget = pdfVariant(i) match {
      case 0 => targetBytes(seed, i)
      case _ => (targetBytes(seed, i) * 4L / 5).toInt // ASCII85 grows 4 -> 5 bytes
    }
    val out = Vector.newBuilder[String]
    var bytes = 0L
    var k = 0L
    while (bytes < contentTarget) {
      val t = sentence(seed, i, k, 3)
      out += t
      bytes += t.length + 20 // "0.0 -14.0 Td\n(" + ") Tj\n"
      k += 1
    }
    out.result()
  }

  private def pdfContent(lines: Vector[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(lines.size * 40)
    sb.append("BT\n/F1 12 Tf\n72.0 720.0 Td\n")
    var k = 0
    while (k < lines.size) {
      if (k > 0) sb.append("0.0 -14.0 Td\n")
      sb.append('(').append(lines(k)).append(") Tj\n")
      k += 1
    }
    sb.append("ET\n")
    PdfBuilder.bytes(sb.toString)
  }

  def pdfPayload(seed: Long, i: Long): Array[Byte] = {
    val content = pdfContent(pdfLines(seed, i))
    pdfVariant(i) match {
      case 0 => onePage(content, Map("/F1" -> 5), Seq(courier(5)))
      case 1 => onePage(content, Map("/F1" -> 5), Seq(courier(5)),
        contentFilter = Some(("/ASCII85Decode", ascii85Encode _)))
      case _ => onePage(content, Map("/F1" -> 5), Seq(courier(5)),
        useXrefStream = true, packIntoObjStm = Set(1, 2, 5),
        contentFilter = Some(("/ASCII85Decode", ascii85Encode _)))
    }
  }

  def pdfGolden(seed: Long, i: Long): String = {
    val sb = new java.lang.StringBuilder
    pdfLines(seed, i).foreach(l => sb.append(l).append('\n'))
    sb.toString
  }

  private def htmlTitle(seed: Long, i: Long): String = "Title " + sentence(seed, i, 9001, 4)

  /** paragraph texts of HTML doc i; enough that the page reaches its target */
  private def htmlParas(seed: Long, i: Long): Vector[String] = {
    val target = targetBytes(seed, i)
    val out = Vector.newBuilder[String]
    var bytes = 600L // head, nav, header, aside and footer
    var k = 0L
    while (bytes < target) {
      val p = sentence(seed, i, 100 + k, 18) + "."
      out += p
      bytes += p.length + 8 // "<p>" + "</p>\n"
      k += 1
    }
    out.result()
  }

  def htmlPayload(seed: Long, i: Long): Array[Byte] = {
    val title = htmlTitle(seed, i)
    val paras = htmlParas(seed, i)
    val nav = (0 until 5).map(k => s"""<a href="/x$k">${word(seed, i, 5000 + k)}</a>""").mkString(" | ")
    val sb = new java.lang.StringBuilder(targetBytes(seed, i) + 1024)
    sb.append("<!DOCTYPE html>\n<html><head><title>").append(title).append("</title>\n")
      .append("<script>var x = \"never extracted\";</script>\n")
      .append("<style>.a { color: red }</style></head>\n<body>\n")
      .append("<nav>").append(nav).append("</nav>\n")
      .append("<header><div>site ").append(word(seed, i, 6000)).append("</div></header>\n")
      .append("<article>\n<h1>").append(title).append("</h1>\n")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>\n"))
    sb.append("</article>\n<aside>").append(sentence(seed, i, 7000, 4)).append("</aside>\n")
      .append("<footer>© 2021 ").append(word(seed, i, 8000)).append("</footer>\n</body></html>")
    sb.toString.getBytes(UTF_8)
  }

  def htmlGolden(seed: Long, i: Long): String =
    (htmlTitle(seed, i) +: htmlParas(seed, i)).mkString("\n")

  def payload(seed: Long, i: Long): Array[Byte] =
    if (kindOf(i) == "pdf") pdfPayload(seed, i) else htmlPayload(seed, i)

  def golden(seed: Long, i: Long): String =
    if (kindOf(i) == "pdf") pdfGolden(seed, i) else htmlGolden(seed, i)

  /** whale i with the given capture time (the time picks its bucket) */
  def row(seed: Long, i: Long, ts: Timestamp): PageRow =
    PageRow(url(i), ts, payload(seed, i), s"raw whale $i", "en")

  /** candidate capture times for whale i, in the order they are tried */
  def candidateTime(i: Long, j: Int): Timestamp =
    new Timestamp(EPOCH_MS + i * 3600000L + j * 61000L)

  require(MIN_BYTES > ExtractJob.SKEW_THRESHOLD_BYTES)
}
