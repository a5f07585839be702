package graft.core.html

import scala.collection.mutable.ArrayBuffer

/** Main-content extraction for HTML pages: DOM-tree boilerplate stripping
  * via text-density and tag-heuristic scoring.
  *
  * There is NO reference implementation for this path — the reference
  * (kasha13/pdf_extract) is PDF-only. The algorithm here is designed from
  * scratch per BASELINE.json's north_rule ("DOM-tree boilerplate stripping
  * via text-density and tag-heuristic scoring") and is fully deterministic
  * so the golden-diff harness applies:
  *
  *  1. scan: one pull [[Cursor]] yields text runs, open tags and close tags
  *     (comments, doctype and raw-text elements skipped) — every surface of
  *     this object ([[extract]], [[extractTables]], [[extractLinks]],
  *     [[pageMeta]]) reads the page through it;
  *  2. build a block tree on block-level elements, tolerating unclosed tags;
  *  3. score each block: text density (chars per tag), link density, and a
  *     tag prior (article/main/p boosted; nav/header/footer/aside/form
  *     penalized, inherited by descendants);
  *  4. keep blocks scoring above threshold; emit their text joined by
  *     '\n' plus (start, end) char-offset spans.
  */
object HtmlExtract {

  final case class Block(text: String, tagPath: String, score: Float)
  final case class Result(text: String, blocks: Vector[Block])

  /** block-level tags, each with its index into [[extract]]'s per-tag
    * open-block counts */
  private val blockTags: Map[String, Int] = Seq(
    "p", "div", "article", "section", "main", "li", "ul", "ol", "td", "th",
    "tr", "table", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
    "header", "footer", "nav", "aside", "form", "body", "figcaption", "dd", "dt",
    "figure").zipWithIndex.toMap

  private val dropTags = Set("script", "style", "noscript", "template", "svg", "head", "iframe")
  private val rawTextTags = Set("script", "style", "noscript", "template")
  private val penaltyTags = Set("nav", "header", "footer", "aside", "form")
  // figcaption gets the content prior: captions are short by nature and
  // the production extractors keep them (trafilatura/readability both do);
  // img ALT text is deliberately NOT injected into the extracted text —
  // it is metadata, and on real pages predominantly boilerplate ("logo",
  // filenames); the figure's caption is the content-bearing text
  private val boostTags = Set("article", "main", "p", "h1", "h2", "h3", "blockquote", "pre",
    "figcaption")

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®",
    "laquo" -> "«", "raquo" -> "»", "deg" -> "°",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          if (name.startsWith("#x") || name.startsWith("#X")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(name.substring(2), 16)))
              i = semi
            } catch { case _: Exception => sb.append(c) }
          } else if (name.startsWith("#")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(name.substring(1))))
              i = semi
            } catch { case _: Exception => sb.append(c) }
          } else namedEntities.get(name) match {
            case Some(v) => sb.append(v); i = semi
            case None => sb.append(c)
          }
        } else sb.append(c)
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private final class BlockAcc(
      val tag: String, val tagIdx: Int, val penalized: Boolean, enclosing: BlockAcc) {
    /** nearest table among this block and its ancestors (null outside
      * tables): kept per block so no close walks the open-element stack */
    val table: BlockAcc = if (tag == "table") this else enclosing
    val text = new StringBuilder // DIRECT text only (prose scoring)
    // FULL subtree text — maintained only inside tables (bounded by table
    // content; avoids O(depth x chars) copying on deeply nested pages),
    // so a cell whose content is wrapped in <div>/<p> still has text for
    // the row-wise data render
    val full = new StringBuilder
    var tagCount = 0 // descendant tags seen inside this block
    var linkChars = 0
    // link chars of the WHOLE subtree — propagated upward exactly like
    // `full` (tables only): without it a link farm whose <a>s sit inside
    // per-cell <div>/<p> wrappers counts zero cell link chars and the
    // majority-link guard never fires
    var fullLinkChars = 0
    // table-composite state (allocated only for tag == "table"): cells AND
    // inner blocks are BUFFERED here instead of emitted, so the close of
    // the table can decide data-vs-layout with the full picture
    var tableRows: ArrayBuffer[ArrayBuffer[BufferedItem]] = null
    var buffered: ArrayBuffer[BufferedItem] = null // close-order, for layout replay
    def currentRow(): ArrayBuffer[BufferedItem] = {
      if (tableRows == null) tableRows = ArrayBuffer(ArrayBuffer.empty[BufferedItem])
      tableRows.last
    }
    def newRow(): Unit = {
      if (tableRows == null) tableRows = ArrayBuffer(ArrayBuffer.empty[BufferedItem])
      else if (tableRows.last.nonEmpty) tableRows += ArrayBuffer.empty[BufferedItem]
    }
    def buffer(item: BufferedItem): Unit = {
      if (buffered == null) buffered = ArrayBuffer.empty[BufferedItem]
      buffered += item
    }
    // only a block inside a table has a `full` a caller reads: elsewhere it
    // is empty, and a table's own item feeds just the prose score
    def item: BufferedItem = BufferedItem(normalizeWs(text.toString),
      if (table == null || table == this) "" else normalizeWs(full.toString),
      tag, tagCount, linkChars, penalized)
  }

  /** a closed block as the prose score reads it; inside a table it is held
    * until the table decides its fate: `text` is the block's DIRECT text
    * (a layout table replays it through the prose score), `fullText` its
    * whole-subtree text (the data render) */
  private final case class BufferedItem(
      text: String, fullText: String, tag: String,
      tagCount: Int, linkChars: Int, penalized: Boolean)

  /** share of `chars` that sits inside links, capped at 1 */
  private def linkShare(linkChars: Int, chars: Int): Float =
    if (chars == 0) 0f else math.min(1f, linkChars.toFloat / chars)

  /** data-table detection bounds: a table renders ROW-WISE (cells joined
    * by " | ", rows by '\n', one scored block for the whole table) when it
    * has at least MIN_DATA_CELLS non-empty cells in at least 2 rows and
    * the average cell is short (data, not paragraphs-in-layout-tables);
    * otherwise it is a LAYOUT table and its cells score as prose blocks
    * exactly as before. */
  final val MIN_DATA_CELLS = 4
  final val MAX_AVG_CELL_CHARS = 80f

  /** the data-vs-layout gate of both table paths, over a table's non-empty
    * cells, the rows holding at least one of them, and those cells' chars */
  private def isDataTable(cells: Int, rows: Int, cellChars: Int): Boolean =
    cells >= MIN_DATA_CELLS && rows >= 2 && cellChars.toFloat / cells <= MAX_AVG_CELL_CHARS

  /** index of ASCII-lowercase `needle` in `hay` from `from`, matching
    * hay ASCII-case-insensitively WITHOUT allocating a lowered copy. Two
    * properties the naive `hay.toLowerCase.indexOf` lacks: offsets are
    * exact even where Unicode lowercasing changes string length (U+0130
    * 'İ' lowers to two chars, shifting every later index), and repeated
    * calls inside per-element loops cost no per-call allocation. Tag
    * names are ASCII, so ASCII folding is the correct equivalence. */
  private[graft] def indexOfAsciiLower(hay: String, needle: String, from: Int): Int = {
    val n = hay.length
    val m = needle.length
    var i = if (from < 0) 0 else from
    while (i + m <= n) {
      var k = 0
      var ok = true
      while (ok && k < m) {
        val c = hay.charAt(i + k)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if (lc != needle.charAt(k)) ok = false else k += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** quote-aware attribute iterator over a tag's attribute text: yields
    * (lowercased name, raw value) in document order. Unlike a substring
    * scan, an attribute NAME appearing inside another attribute's quoted
    * VALUE (`title="see href=/spam" href="/real"`) is never matched —
    * the scanner consumes whole name[=value] units. Standalone names
    * yield "" (HTML boolean attributes); an unterminated quote takes the
    * rest of the tag; duplicate names all yield (callers take the first,
    * the HTML5 duplicate-attribute rule). */
  private[graft] def foreachAttr(inner: String)(f: (String, String) => Unit): Unit = {
    var i = 0
    val n = inner.length
    while (i < n) {
      // skip whitespace and stray '/' (self-closing slash, malformed runs)
      while (i < n && {
        val c = inner.charAt(i)
        c.isWhitespace || c == '/'
      }) i += 1
      if (i < n) {
        val ns = i
        while (i < n && {
          val c = inner.charAt(i)
          !c.isWhitespace && c != '=' && c != '/' && c != '"' && c != '\''
        }) i += 1
        val name = inner.substring(ns, i).toLowerCase(java.util.Locale.ROOT)
        var j = i
        while (j < n && inner.charAt(j).isWhitespace) j += 1
        var value = ""
        if (j < n && inner.charAt(j) == '=') {
          j += 1
          while (j < n && inner.charAt(j).isWhitespace) j += 1
          if (j < n) {
            val q = inner.charAt(j)
            if (q == '"' || q == '\'') {
              val end = inner.indexOf(q, j + 1)
              if (end < 0) { value = inner.substring(j + 1); j = n }
              else { value = inner.substring(j + 1, end); j = end + 1 }
            } else {
              val vs = j
              while (j < n && !inner.charAt(j).isWhitespace) j += 1
              value = inner.substring(vs, j)
            }
          }
          i = j
        } else if (i == ns) {
          // no name consumed (stray quote): skip one char to guarantee progress
          i += 1
        }
        if (name.nonEmpty) f(name, value)
      }
    }
  }

  /** lowercased `class` + `id` attribute values of a tag's attribute text
    * (minimal scan; only called when the tag body mentions class/id) */
  private[graft] def classIdHint(inner: String): String = {
    val lower = inner.toLowerCase(java.util.Locale.ROOT)
    if (!lower.contains("class") && !lower.contains("id")) return ""
    val sb = new StringBuilder
    foreachAttr(inner) { (name, v) =>
      if ((name == "class" || name == "id") && v.nonEmpty)
        sb.append(' ').append(v.toLowerCase(java.util.Locale.ROOT))
    }
    sb.toString
  }

  /** class/id tokens that mark boilerplate containers — the standard
    * "unlikely candidates" heuristic of readability/boilerpipe-family
    * extractors (public-domain pattern lists), plus consent-banner vintage */
  private val unlikelyHint = java.util.regex.Pattern.compile(
    "banner|breadcrumb|combx|comment|community|cookie|consent|gdpr|disqus|" +
      "extra|foot|gutter|masthead|menu|modal|nav|pager|pagination|popup|promo|" +
      "related|remark|rss|share|shoutbox|sidebar|skyscraper|social|sponsor|" +
      "advert|\\bad\\b|\\bad-|-ad\\b|\\bads\\b|subscribe|newsletter|widget")
  private val likelyHint = java.util.regex.Pattern.compile(
    "\\band\\b|article|body|column|content|main|shadow|post|text|story")

  private[graft] def hintPenalized(hint: String): Boolean =
    hint.nonEmpty && unlikelyHint.matcher(hint).find() && !likelyHint.matcher(hint).find()

  private val voidTags = Set("br", "hr", "img", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")

  // what a Cursor stands on after next()
  private final val TEXT = 0
  private final val OPEN = 1
  private final val CLOSE = 2

  /** The one tag scanner of this object: a pull cursor over a page that
    * stands, after each [[next]], on a text run, an open tag or a close
    * tag. It owns every tolerance rule once:
    *
    *  - comments, doctype and processing instructions yield nothing; an
    *    unterminated one, like an unterminated tag, ends the page;
    *  - a tag ends at the first '>' outside a quoted attribute value;
    *  - a '<' that starts no tag is a one-char text run (a '<' at EOF is
    *    dropped);
    *  - open-tag names are the letter/digit run after '<', lowercased;
    *    close-tag names the letter/digit run of the lowercased, trimmed
    *    text between "</" and '>';
    *  - an open tag is self-closing when it is void or its trailing '/'
    *    directly follows the bare name, whitespace or a closing quote (so
    *    `<a href=https://x.example/>` stays open — per HTML5 that '/' is
    *    part of the value);
    *  - raw-text elements (script/style/noscript/template) are skipped
    *    verbatim to their `</name` (ASCII-case-insensitive): the next step
    *    stands on a close tag of the same name, or ends the page when the
    *    end tag is missing. [[skipRaw]] applies the same skip to any
    *    element on request (pageMeta's rcdata `<title>`).
    *
    * Strings are built only when asked for: [[text]], [[attrs]] and a
    * close tag's [[name]] are read off the page on demand. */
  private final class Cursor(html: String) {
    private val n = html.length
    private var pos = 0
    private var raw = false // the open tag just yielded is a raw-text element
    private var nm: String = null
    private var nextLt = -1 // the '<' that ended the last text run: no rescan
    var kind = TEXT
    var start = 0 // text: first char; tag: its '<'; after skipRaw: the raw text
    var end = 0 // text: one past its last char; tag: its '>'
    var selfClosing = false // open tags only

    def text: String = html.substring(start, end)

    /** an open tag's text after its name, cut at the LOWERED name's
      * length (a name with 'İ', which lowers to two chars, loses one more
      * char) — the cut all four surfaces read attributes from */
    def attrs: String = html.substring(math.min(start + 1 + nm.length, end), end)

    def name: String = {
      if (nm == null) nm = closeName()
      nm
    }

    /** steps to the next text run or tag; false at the end of the page */
    def next(): Boolean = {
      if (raw && skipRaw()) { kind = CLOSE; return true }
      nm = null
      while (pos < n) {
        val lt = if (nextLt >= pos) nextLt else html.indexOf('<', pos)
        if (lt != pos) {
          start = pos; end = if (lt < 0) n else lt; pos = end; nextLt = lt
          kind = TEXT
          return true
        }
        if (lt + 1 >= n) pos = n
        else {
          val c = html.charAt(lt + 1)
          if (c == '!' || c == '?') {
            val e =
              if (!html.startsWith("<!--", lt)) html.indexOf('>', lt + 1)
              else { val x = html.indexOf("-->", lt + 4); if (x < 0) x else x + 2 }
            pos = if (e < 0) n else e + 1
          } else if (c == '/') {
            val e = html.indexOf('>', lt + 2)
            if (e < 0) pos = n
            else { start = lt; end = e; pos = e + 1; kind = CLOSE; return true }
          } else if (c.isLetter) {
            if (openTag(lt)) return true
          } else {
            start = lt; end = lt + 1; pos = end
            kind = TEXT
            return true
          }
        }
      }
      false
    }

    private def openTag(lt: Int): Boolean = {
      var j = lt + 1
      var inQuote: Char = 0
      var e = -1
      while (j < n && e < 0) {
        val c = html.charAt(j)
        if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
        else if (c == '"' || c == '\'') inQuote = c
        else if (c == '>') e = j
        j += 1
      }
      if (e < 0) { pos = n; return false }
      var k = lt + 1
      while (html.charAt(k).isLetterOrDigit) k += 1
      nm = html.substring(lt + 1, k).toLowerCase(java.util.Locale.ROOT)
      start = lt; end = e; pos = e + 1
      val b = html.charAt(e - 2) // e >= lt + 2: a letter follows the '<'
      selfClosing = voidTags.contains(nm) || html.charAt(e - 1) == '/' &&
        (e - lt - 2 == nm.length || b.isWhitespace || b == '"' || b == '\'')
      raw = !selfClosing && rawTextTags.contains(nm)
      kind = OPEN
      true
    }

    private def closeName(): String = html.substring(start + 2, end).trim
      .toLowerCase(java.util.Locale.ROOT).takeWhile(_.isLetterOrDigit)

    /** skips the open element's raw text and its end tag; [start, end) is
      * then that text. False when the end tag is missing: the text runs to
      * the end of the page. */
    def skipRaw(): Boolean = {
      raw = false
      val close = indexOfAsciiLower(html, "</" + nm, pos)
      start = pos
      end = if (close < 0) n else close
      pos = if (close < 0) n else { val gt = html.indexOf('>', close); if (gt < 0) n else gt + 1 }
      close >= 0
    }
  }

  /** threshold on the block score; blocks >= keep, < drop */
  final val SCORE_THRESHOLD = 10f

  def extract(html: String): Result = {
    val blocks = ArrayBuffer.empty[(String, String, Float)] // (text, path, score)
    // stack of open blocks; a synthetic root collects stray text
    val root = new BlockAcc("root", -1, penalized = false, enclosing = null)
    val stack = ArrayBuffer(root)
    val open = new Array[Int](blockTags.size) // open blocks per block tag
    var dropDepth = 0
    var linkDepth = 0

    def prose(c: BufferedItem): Unit =
      if (c.text.nonEmpty) {
        val chars = c.text.length
        val prior =
          if (c.penalized) 0.25f
          else if (boostTags.contains(c.tag)) 2.0f
          else 1.0f
        val density = chars.toFloat / (1 + c.tagCount)
        val score = density * prior * (1.0f - 0.75f * linkShare(c.linkChars, chars))
        blocks += ((c.text, c.tag, score))
      }

    def emitTable(t: BlockAcc): Unit = {
      val own = normalizeWs(t.text.toString) // caption / stray table text
      val rows =
        if (t.tableRows == null) ArrayBuffer.empty[ArrayBuffer[BufferedItem]]
        else t.tableRows.map(_.filter(_.fullText.nonEmpty)).filter(_.nonEmpty)
      val cells = rows.flatten
      val totalCellChars = cells.iterator.map(_.fullText.length).sum
      if (isDataTable(cells.length, rows.length, totalCellChars)) {
        // one row-wise block for the whole table: " | " between cells,
        // '\n' between rows; cell text is the cell's FULL subtree text so
        // <td><div>42</div></td> markup keeps its cells; scored by
        // chars-per-row (cell-level density would charge each tiny cell
        // its own tag overhead — the reason data tables used to lose
        // their short cells)
        val body = rows.map(_.map(_.fullText).mkString(" | ")).mkString("\n")
        val text = if (own.nonEmpty) own + "\n" + body else body
        val chars = text.length
        // link density over CONTENT chars (cell text + caption), not the
        // rendered string: " | " separators and newlines would dilute a
        // short-cell link grid (calendar/pagination) below the majority
        // rule; fullLinkChars covers links wrapped in blocks inside cells
        val linkDensity = linkShare(t.fullLinkChars, totalCellChars + own.length)
        // a table that passed the structural data gate gets the same
        // content prior as boostTags: the per-row divisor already charges
        // its structure, and without the prior a small 3-row table scores
        // half of the SAME chars in one <p> and dies at the threshold
        // (link-farm tables still die: majority-link tables take the
        // boilerplate prior instead — the readability-family "link
        // density > 1/2 is navigation" rule — calibration-gated)
        val prior = if (t.penalized || linkDensity > 0.5f) 0.25f else 2.0f
        val score = (chars.toFloat / (1 + rows.length)) * prior * (1.0f - 0.75f * linkDensity)
        if (text.nonEmpty) blocks += ((text, "table", score)) // threshold-filtered with all blocks
      } else {
        // layout table: replay EVERY buffered block (cells and the blocks
        // nested inside them) through the prose score, in close order —
        // byte-identical to the pre-buffering behavior
        if (t.buffered != null) t.buffered.foreach(prose)
        prose(t.item)
      }
    }

    def closeBlock(): Unit = {
      val b = stack.remove(stack.length - 1)
      open(b.tagIdx) -= 1
      val table = b.table // a table's own case below does not read it
      val parent = stack.last
      // subtree text flows upward inside tables (space-joined: cells render
      // on one row line; normalizeWs collapses the seams)
      def flowFull(): Unit =
        if (parent.table != null) {
          if (b.full.nonEmpty) {
            if (parent.full.nonEmpty) parent.full.append(' ')
            parent.full.append(b.full)
          }
          parent.fullLinkChars += b.fullLinkChars
        }
      b.tag match {
        case "td" | "th" if table != null =>
          // buffer the cell on the enclosing table instead of emitting;
          // fullText (whole subtree) feeds the data render, text (direct)
          // the layout replay
          val item = b.item
          table.currentRow() += item
          table.buffer(item)
          flowFull()
        case "tr" if table != null =>
          // stray text directly inside <tr> joins the row as a pseudo-cell
          val stray = normalizeWs(b.text.toString)
          if (stray.nonEmpty) {
            val item = BufferedItem(stray, stray, "tr", b.tagCount, b.linkChars, b.penalized)
            table.currentRow() += item
            table.buffer(item)
          }
          table.newRow()
          flowFull()
        case "table" =>
          emitTable(b)
          flowFull() // nested table's text joins the enclosing cell
        case _ if table != null =>
          // block nested inside a table (td > div/p/...): buffer for the
          // layout replay; its text reaches the cell via flowFull
          table.buffer(b.item)
          flowFull()
        case _ =>
          prose(b.item)
      }
      parent.tagCount += b.tagCount + 1
    }

    val cur = new Cursor(html)
    while (cur.next()) cur.kind match {
      case TEXT =>
        if (dropDepth == 0) {
          val decoded = decodeEntities(cur.text)
          val top = stack.last
          top.text.append(decoded)
          if (top.table != null) top.full.append(decoded)
          if (linkDepth > 0) {
            val n = normalizeWs(decoded).length
            top.linkChars += n
            if (top.table != null) top.fullLinkChars += n
          }
        }
      case OPEN =>
        val name = cur.name
        val selfClosing = cur.selfClosing
        if (dropTags.contains(name) && !selfClosing) dropDepth += 1
        else if (dropDepth == 0) {
          if (name == "a" && !selfClosing) linkDepth += 1
          if (name == "br") {
            stack.last.text.append('\n')
            if (stack.last.table != null) stack.last.full.append('\n')
          }
          val tagIdx = blockTags.getOrElse(name, -1)
          if (tagIdx >= 0 && !selfClosing) {
            // HTML5 implied end tags: an open <p> closes on ANY block-level
            // start (tag-soup pages rarely close their p's — without this a
            // page's first <p> swallows every later tag into its density
            // denominator); <li> closes on <li>, <td>/<th> on cell/row
            // starts, <tr> on <tr>
            while (stack.length > 1 && (
                stack.last.tag == "p" ||
                (name == "li" && stack.last.tag == "li") ||
                ((name == "td" || name == "th" || name == "tr") &&
                  (stack.last.tag == "td" || stack.last.tag == "th")) ||
                (name == "tr" && stack.last.tag == "tr"))) closeBlock()
            val penalized = stack.last.penalized || penaltyTags.contains(name) ||
              hintPenalized(classIdHint(cur.attrs))
            stack += new BlockAcc(name, tagIdx, penalized, stack.last.table)
            open(tagIdx) += 1
          } else if (!selfClosing) {
            stack.last.tagCount += 1
          }
        }
      case CLOSE =>
        val name = cur.name
        if (dropTags.contains(name)) { if (dropDepth > 0) dropDepth -= 1 }
        else if (dropDepth == 0) {
          if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
          val tagIdx = blockTags.getOrElse(name, -1)
          // close up to the matching open block (tolerates misnesting); a
          // close tag with no open match costs no stack walk
          if (tagIdx >= 0 && open(tagIdx) > 0) {
            val idx = stack.lastIndexWhere(_.tag == name)
            while (stack.length > idx) closeBlock()
          }
        }
    }
    while (stack.length > 1) closeBlock()
    prose(root.item)

    val kept = blocks.filter(_._3 >= SCORE_THRESHOLD)
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Block]
    kept.foreach { case (text, path, score) =>
      if (sb.nonEmpty) sb.append('\n')
      sb.append(text)
      spans += Block(text, path, score)
    }
    Result(sb.toString, spans.result())
  }

  /** one outlink: raw (entity-decoded) href, whitespace-normalized
    * entity-decoded anchor text, and whether rel contains nofollow */
  final case class Link(href: String, anchor: String, nofollow: Boolean)

  /** case-preserving value of attribute `attr` (lowercase name) inside a
    * tag's attribute text — same standalone-name/quoting tolerance as
    * [[classIdHint]], but the VALUE keeps its case (URL paths are
    * case-sensitive; classIdHint lowercases because hints are matched
    * case-folded). Unterminated quote takes the rest of the tag. */
  private[graft] def attrValue(inner: String, attr: String): Option[String] = {
    if (!inner.toLowerCase(java.util.Locale.ROOT).contains(attr)) return None
    var res: Option[String] = None
    foreachAttr(inner) { (name, v) =>
      if (res.isEmpty && name == attr) res = Some(v)
    }
    res
  }

  /** whether the `rel` attribute lists `token` (case-folded, space or
    * comma separated) */
  private def relHas(attrs: String, token: String): Boolean =
    attrValue(attrs, "rel").exists(
      _.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+").contains(token))

  /** outlink extraction — every `<a href=...>` with its anchor text, in
    * document order, read through the same [[Cursor]] as [[extract]]
    * (comments, doctype, quote-aware tag ends, raw-text skip) plus the
    * anchor rules:
    *
    *  - anchors never nest (HTML spec: an `<a>` start tag implicitly
    *    closes an open one) — a second `<a>` emits the first;
    *  - an anchor left open at EOF still emits (tolerant, like the
    *    unclosed-block handling in [[extract]]);
    *  - raw-text elements (script/style) INSIDE an anchor contribute no
    *    anchor text;
    *  - href and anchor text are entity-decoded (attributes legally carry
    *    `&amp;` etc.), anchor text is whitespace-normalized;
    *  - `<a>` without href (a named anchor target) emits nothing;
    *    a self-closed `<a href=... />` emits with empty anchor text.
    *
    * Feeds the host link graph ([[graft.ops.LinkOps]] -> hostRank): the
    * reference has no HTML path at all (pdf_extractor.h:6 — PDF-only);
    * this is north_rule surface. */
  def extractLinks(html: String): Vector[Link] = {
    val out = Vector.newBuilder[Link]
    var inA = false
    var href = ""
    var nofollow = false
    val anchor = new StringBuilder
    def close(): Unit = {
      if (inA && href.nonEmpty)
        out += Link(href, normalizeWs(decodeEntities(anchor.toString)), nofollow)
      inA = false; href = ""; nofollow = false; anchor.setLength(0)
    }
    val cur = new Cursor(html)
    while (cur.next()) cur.kind match {
      case TEXT => if (inA) anchor.append(cur.text)
      case OPEN =>
        if (cur.name == "a") {
          close() // implicit close: anchors never nest
          val attrs = cur.attrs
          val h = attrValue(attrs, "href").map(decodeEntities).getOrElse("")
          if (cur.selfClosing) {
            if (h.nonEmpty) out += Link(h, "", relHas(attrs, "nofollow"))
          } else {
            inA = true; href = h; nofollow = relHas(attrs, "nofollow")
          }
        }
      case CLOSE => if (cur.name == "a") close()
    }
    close()
    out.result()
  }

  /** page-level metadata: first `<title>` (entity-decoded, ws-normalized),
    * first `<link rel="canonical" href=...>` (entity-decoded, case
    * preserved), and the union of `<meta name="robots" content=...>`
    * directives (noindex / nofollow; multiple robots metas union, the
    * standard conservative reading). HTTP `X-Robots-Tag` is a header, not
    * markup — callers with WARC headers apply it upstream. */
  final case class PageMeta(
      title: String, canonical: String, noindex: Boolean, nofollow: Boolean)

  def pageMeta(html: String): PageMeta = {
    var title: String = null
    var canonical: String = null
    var noindex = false
    var nofollow = false
    val cur = new Cursor(html)
    while (cur.next()) if (cur.kind == OPEN) cur.name match {
      case "title" if !cur.selfClosing =>
        // rcdata: raw text to the matching close tag, tags-as-text.
        // EVERY title skips as rcdata (a second <title>, e.g. inside
        // <svg>, must not leak its content back into live markup
        // where a decoy <link rel=canonical> would be honored) —
        // only the first one's text is captured
        cur.skipRaw()
        if (title == null) title = normalizeWs(decodeEntities(cur.text))
      case "link" if canonical == null =>
        val attrs = cur.attrs
        if (relHas(attrs, "canonical"))
          attrValue(attrs, "href").map(decodeEntities).filter(_.nonEmpty)
            .foreach(canonical = _)
      case "meta" =>
        val attrs = cur.attrs
        val isRobots = attrValue(attrs, "name").exists(
          _.trim.equalsIgnoreCase("robots"))
        if (isRobots) attrValue(attrs, "content").foreach { c =>
          val toks = c.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+")
          if (toks.contains("noindex") || toks.contains("none")) noindex = true
          if (toks.contains("nofollow") || toks.contains("none")) nofollow = true
        }
      case _ => ()
    }
    PageMeta(if (title == null) "" else title,
      if (canonical == null) "" else canonical, noindex, nofollow)
  }

  /** collapse whitespace runs to single spaces, preserving explicit newlines */
  def normalizeWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var pendingNewline = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n') { pendingNewline = true; pendingSpace = false }
      else if (c.isWhitespace || c == ' ') { if (!pendingNewline) pendingSpace = true }
      else {
        if (pendingNewline && started) sb.append('\n')
        else if (pendingSpace && started) sb.append(' ')
        pendingNewline = false
        pendingSpace = false
        started = true
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  // ---- structured table extraction ----------------------------------------

  /** one table row: `cells` keeps empty cells IN PLACE (column alignment is
    * the point of structured extraction — the prose render drops them),
    * but a row whose every cell is empty is not emitted */
  final case class TableRowCells(rowIdx: Int, isHeader: Boolean, cells: Vector[String])

  /** one extracted DATA table (layout/link-farm/penalized tables are not
    * emitted); `tableIdx` is the document-order index of the table's OPEN
    * tag over ALL table elements (so a page whose first table is layout
    * still numbers its second table 1 — indices are stable whether or not
    * neighbours pass the gate) */
  final case class ExtractedTable(
      tableIdx: Int, caption: String, rows: Vector[TableRowCells])

  /** Structured extraction of DATA tables: the table-corpus side of the
    * pipeline (table-QA / table-pretraining sets are built from exactly
    * this shape), complementing [[extract]]'s prose render.
    *
    * Reads the page through the same [[Cursor]] and applies the SAME data-vs-layout gate as the
    * prose path ([[MIN_DATA_CELLS]] non-empty cells in >= 2 rows, average
    * non-empty cell <= [[MAX_AVG_CELL_CHARS]] chars) plus the same two
    * rejections the prose path resolves via priors: majority-link tables
    * (link density > 0.5 over cell+caption content chars — navigation
    * grids) and tables inside structurally penalized containers
    * (nav/header/footer/aside/form) emit nothing. Divergences from the
    * prose path, deliberate for the structured shape: cell text is the
    * cell's whole subtree (a <td><div>42</div></td> keeps its value);
    * nested tables BOTH flow their text into the enclosing cell (the
    * prose behaviour) AND are extracted independently if they pass the
    * gate on their own; stray text directly inside <tr> is dropped rather
    * than pseudo-celled (a pseudo-cell has no column position); class/id
    * hint penalties are not applied (hints gate prose scoring — structure
    * is decided by the structural container only). A row is a header row
    * when every cell of the row is a <th>. colspan/rowspan are not
    * expanded (cells emit at their source positions). Tag-soup hygiene:
    * <caption> closes implicitly on <tr>/<td>/<th> (HTML5 omittable end
    * tag) and its nesting state is per-table; dangling <a>s close
    * implicitly at cell, row and table boundaries (matching how browsers
    * break anchors at table structure) so soup from one region cannot
    * tip a later cell or table over the link-density gate. */
  def extractTables(html: String): Vector[ExtractedTable] = {
    final class TCap(val idx: Int, val penalized: Boolean) {
      val caption = new StringBuilder
      val rows = ArrayBuffer(ArrayBuffer.empty[(Boolean, String)])
      var cell: StringBuilder = null
      var cellIsTh = false
      var linkChars = 0 // over cell + caption content (subtree, nested incl.)
      // per-TABLE caption nesting: a page-global counter would let one
      // omitted </caption> (legal HTML5 — caption's end tag is omittable)
      // route every later cell's text into captions for the rest of the
      // document; scoping it here means the leak dies with the table
      var captionDepth = 0
      def newRow(): Unit = if (rows.last.nonEmpty) rows += ArrayBuffer.empty[(Boolean, String)]
      def closeCell(): Unit = if (cell != null) {
        rows.last += ((cellIsTh, normalizeWs(cell.toString)))
        cell = null
      }
    }
    val out = ArrayBuffer.empty[ExtractedTable]
    val tstack = ArrayBuffer.empty[TCap]
    var nextIdx = 0
    var dropDepth = 0
    var linkDepth = 0
    var penaltyDepth = 0

    def closeTable(): Unit = {
      val t = tstack.remove(tstack.length - 1)
      t.closeCell()
      val rows = t.rows.filter(_.exists(_._2.nonEmpty))
      val nonEmpty = rows.flatten.filter(_._2.nonEmpty)
      val cellChars = nonEmpty.iterator.map(_._2.length).sum
      val cap = normalizeWs(t.caption.toString)
      if (isDataTable(nonEmpty.length, rows.length, cellChars) && !t.penalized &&
          linkShare(t.linkChars, cellChars + cap.length) <= 0.5f)
        out += ExtractedTable(t.idx, cap,
          rows.iterator.zipWithIndex.map { case (r, ri) =>
            TableRowCells(ri, r.nonEmpty && r.forall(_._1), r.map(_._2).toVector)
          }.toVector)
      // nested table: text + link mass flow into the enclosing open cell
      // (space-joined, like the prose path's flowFull), independent of
      // whether the inner table was itself emitted. Both flow TOGETHER or
      // not at all: link mass without its content mass (nested table
      // directly under <tr>, no open cell) would inflate the outer's link
      // density with links it never renders
      if (tstack.nonEmpty) {
        val outer = tstack.last
        if (outer.cell != null) {
          val flat = (t.rows.iterator.flatMap(_.iterator.map(_._2)) ++ Iterator(cap))
            .filter(_.nonEmpty).mkString(" ")
          if (flat.nonEmpty) { outer.cell.append(' '); outer.cell.append(flat) }
          outer.linkChars += t.linkChars
        }
      }
    }

    val cur = new Cursor(html)
    while (cur.next()) cur.kind match {
      case TEXT =>
        if (dropDepth == 0 && tstack.nonEmpty) {
          val top = tstack.last
          val decoded = decodeEntities(cur.text)
          if (top.captionDepth > 0) top.caption.append(decoded)
          else if (top.cell != null) top.cell.append(decoded)
          if (linkDepth > 0 && (top.captionDepth > 0 || top.cell != null))
            top.linkChars += normalizeWs(decoded).length
        }
      case OPEN =>
        val name = cur.name
        val selfClosing = cur.selfClosing
        if (dropTags.contains(name) && !selfClosing) dropDepth += 1
        else if (dropDepth == 0) {
          if (name == "a" && !selfClosing) linkDepth += 1
          else if (penaltyTags.contains(name) && !selfClosing) penaltyDepth += 1
          else if (name == "table") {
            // an unclosed <a> from earlier tag soup must not taint this
            // table's link density wholesale (the gate hard-rejects at
            // > 0.5 where the prose path merely down-weights) — row and
            // table boundaries implicitly close dangling anchors; the
            // cost is losing the "whole table wrapped in one <a>" signal,
            // which the per-cell links still carry
            linkDepth = 0
            tstack += new TCap(nextIdx, penaltyDepth > 0)
            nextIdx += 1
          } else if (tstack.nonEmpty) {
            val top = tstack.last
            name match {
              case "caption" => top.captionDepth += 1
              case "tr" =>
                linkDepth = 0 // implied close of a row-spanning soup <a>
                top.captionDepth = 0 // HTML5 implied </caption>
                top.closeCell(); top.newRow()
              case "td" | "th" =>
                linkDepth = 0 // implied close of a cell-spanning soup <a>
                top.captionDepth = 0 // HTML5 implied </caption>
                top.closeCell()
                top.cell = new StringBuilder
                top.cellIsTh = name == "th"
              case "br" =>
                if (top.captionDepth > 0) top.caption.append('\n')
                else if (top.cell != null) top.cell.append('\n')
              case _ => ()
            }
          }
        }
      case CLOSE =>
        val name = cur.name
        if (dropTags.contains(name)) { if (dropDepth > 0) dropDepth -= 1 }
        else if (dropDepth == 0) {
          if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
          else if (penaltyTags.contains(name)) { if (penaltyDepth > 0) penaltyDepth -= 1 }
          else if (name == "table") {
            if (tstack.nonEmpty) { linkDepth = 0; closeTable() }
          } else if (tstack.nonEmpty) name match {
            case "caption" =>
              if (tstack.last.captionDepth > 0) tstack.last.captionDepth -= 1
            case "td" | "th" => tstack.last.closeCell()
            case "tr" => linkDepth = 0; tstack.last.closeCell(); tstack.last.newRow()
            case _ => ()
          }
        }
    }
    while (tstack.nonEmpty) closeTable() // unclosed tables at EOF
    out.sortBy(_.tableIdx).toVector
  }
}
