package graft.tools

import java.nio.charset.{Charset, CodingErrorAction}

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._
import graft.fixtures.PdfBuilderR2._

/** The FuzzSweep generator families, grouped by the round that introduced
  * them. Each family writes `n` (pdf, .mine) pairs through `dump`, drawing
  * only on `rnd`; the doc index `i` picks fixed variants. One instance
  * serves one sweep: it remembers the names it wrote and refuses a second
  * write of one name. */
private[tools] final class FuzzFamilies(rnd: scala.util.Random) {
  private val names = scala.collection.mutable.HashSet.empty[String]

  def written: Int = names.size

  def dump(outDir: String, name: String, pdf: Array[Byte]): Unit = {
    require(names.add(name),
      s"$name written twice in one sweep: run families that share a file prefix into separate out dirs")
    FuzzSweep.dump(outDir, name, pdf)
  }

  /** 1-8 lowercase letters — lowercase ONLY so generated prose can never
    * collide with PDF operator tokens (Tj, BI, EI, ...) */
  def randWord(): String = {
    val n = 1 + rnd.nextInt(8)
    (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }

  /** RC4 /R2 40-bit, RC4 /R3 128-bit, AESV2 by doc index */
  private def rotatingEnc(i: Int, docId: Array[Byte]): EncSpec = (i % 3) match {
    case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
    case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
    case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
  }

  // ======== round 1 =============================================
  // Seeded text-state and layout stress, and the full predefined-CMap
  // sweep.

  /** random text state (Tc, Tw, Tz, TL, Tm, Td, T-star, TJ kerns, quotes),
    * comments, q/cm/Q, high-bit WinAnsi hex strings; words of 1-10 letters */
  def textState(outDir: String, n: Int): Unit = {
    def randWord10(): String = {
      val len = 1 + rnd.nextInt(10)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    def randTextOps(sb: StringBuilder): Unit = {
      val nShows = 1 + rnd.nextInt(25)
      var k = 0
      while (k < nShows) {
        rnd.nextInt(10) match {
          case 0 => sb.append((rnd.nextInt(200) / 4.0).toString + " Tc\n")
          case 1 => sb.append((rnd.nextInt(300) / 4.0).toString + " Tw\n")
          case 2 => sb.append((50 + rnd.nextInt(200)).toString + " Tz\n")
          case 3 => sb.append(rnd.nextInt(30).toString + " TL\n")
          case 4 => sb.append(s"${rnd.nextInt(8) + 4} 0 0 ${rnd.nextInt(8) + 4} ${rnd.nextInt(500)} ${rnd.nextInt(700)} Tm\n")
          case 5 => sb.append("T*\n")
          case 6 =>
            val kerns = (0 until 1 + rnd.nextInt(4)).map(_ => s"(${randWord10()}) ${rnd.nextInt(2000) - 1000}").mkString(" ")
            sb.append(s"[$kerns (${randWord10()})] TJ\n")
          case 7 => sb.append(s"(${randWord10()} ${randWord10()}) '\n")
          case 8 => sb.append(s"${rnd.nextInt(600) - 100} ${rnd.nextInt(800) - 100} Td\n")
          case _ => sb.append(s"(${randWord10()} ${randWord10()} ${randWord10()}) Tj\n")
        }
        k += 1
      }
    }
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      val nBlocks = 1 + rnd.nextInt(4)
      var b = 0
      while (b < nBlocks) {
        sb.append("BT\n")
        sb.append(s"/F1 ${6 + rnd.nextInt(20)} Tf\n")
        sb.append(s"${rnd.nextInt(500)} ${100 + rnd.nextInt(600)} Td\n")
        randTextOps(sb)
        sb.append("ET\n")
        if (rnd.nextInt(4) == 0) sb.append("% comment line\n")
        if (rnd.nextInt(5) == 0) sb.append(s"q 1 0 0 1 ${rnd.nextInt(50)} ${rnd.nextInt(50)} cm\n")
        if (rnd.nextInt(5) == 0) sb.append("Q\n")
        b += 1
      }
      // random high-bit WinAnsi bytes via hex strings in a final block
      if (rnd.nextInt(3) == 0) {
        val hex = (0 until 4 + rnd.nextInt(12)).map(_ => "%02X".format(0x20 + rnd.nextInt(0xdf))).mkString
        sb.append(s"BT\n/F1 10 Tf\n72 60 Td\n<$hex> Tj\nET\n")
      }
      val font = if (rnd.nextBoolean()) courier(5) else helvetica(5)
      dump(outDir, s"fz_$i", onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(font)))
    }
  }

  /** rotates three layout shapes by doc index: dense scattered boxes, two
    * fonts with rise and negative spacing, overlapping same-position lines */
  def layoutStress(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      val mode = i % 3
      if (mode == 0) {
        // dense scattered boxes: stress makePlane clustering + is_between deferral
        val nBoxes = 5 + rnd.nextInt(120)
        var b = 0
        while (b < nBoxes) {
          sb.append("BT\n")
          sb.append(s"/F1 ${5 + rnd.nextInt(14)} Tf\n")
          sb.append(s"${20 + rnd.nextInt(560)} ${20 + rnd.nextInt(740)} Td\n")
          sb.append(s"(${randWord()}) Tj\n")
          sb.append("ET\n")
          b += 1
        }
      } else if (mode == 1) {
        // two fonts, rise, negative/extreme state values
        sb.append("BT\n/F1 12 Tf\n72 720 Td\n(alpha one) Tj\n")
        sb.append(s"${-5 + rnd.nextInt(10)} Ts\n(raised) Tj\n")
        sb.append("/F2 9 Tf\n0 -14 Td\n(font two line) Tj\n")
        sb.append(s"${-rnd.nextInt(40)} Tc\n(negTc) Tj\n")
        sb.append("0 Tc\n/F1 14 Tf\nT*\n(back) Tj\nET\n")
        sb.append("BT\n/F2 7 Tf\n300 400 Td\n[(kern) -2500 (far)] TJ\nET\n")
      } else {
        // overlapping same-position lines: group/merge edge
        val x = 100 + rnd.nextInt(100)
        val y = 500 + rnd.nextInt(100)
        var k = 0
        val reps = 2 + rnd.nextInt(5)
        while (k < reps) {
          sb.append(s"BT\n/F1 ${8 + rnd.nextInt(6)} Tf\n${x + rnd.nextInt(6)} ${y + rnd.nextInt(6)} Td\n(${randWord()}) Tj\nET\n")
          k += 1
        }
      }
      dump(outDir, s"fz_$i",
        onePage(bytes(sb.toString), Map("/F1" -> 5, "/F2" -> 6), Seq(courier(5), helvetica(6))))
    }
  }

  // One fixture per named CMap in resources/graft/cmap_charsets.tsv (the
  // port of the reference's encoding2charset table, converter_data.cc:774-926).
  // Sample text is encoded with the engine's mapped JDK charset; the
  // reference decodes the same bytes through iconv, so byte-comparing the
  // two extractions verifies the JDK-charset mapping for every name.

  private val cjkSample =
    "Ab1 中文汉字 日本語かなカナ " +
      "한국어 測試繁體字。"
  private val cjkAscii = "plain ascii 09AZ"

  private def encodeWith(cs: Charset, s: String): Array[Byte] = {
    val enc = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    val bb = enc.encode(java.nio.CharBuffer.wrap(s))
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

  private def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def cjkFixture(cmapName: String, payload: Array[Byte], payload2: Array[Byte]): Array[Byte] = {
    val fonts = Seq(
      ObjSpec(5, s"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-CJK " +
        s"/Encoding $cmapName /DescendantFonts [7 0 R] >>"),
      ObjSpec(7, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture-CJK " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Fixture) /Supplement 0 >> /DW 1000 >>"))
    val content = bytes(
      s"BT\n/F1 12 Tf\n72 700 Td\n<${hexOf(payload)}> Tj\n0 -20 Td\n<${hexOf(payload2)}> Tj\nET\n")
    onePage(content, Map("/F1" -> 5), fonts)
  }

  /** the first `n` CMap names; no randomness. A name whose JDK charset is
    * missing is reported as a JDK-GAP and skipped. */
  def cjkCharsets(outDir: String, n: Int): Unit = {
    FuzzSweep.cjkEntries.take(n).zipWithIndex.foreach { case (line, idx) =>
      val i = line.indexOf('\t')
      val name = line.substring(0, i)
      val csName = line.substring(i + 1)
      val payloads: Option[(Array[Byte], Array[Byte])] =
        if (csName.isEmpty) Some((cjkSample.getBytes("UTF-8"), cjkAscii.getBytes("UTF-8")))
        else if (csName == "ISO-2022-CN") {
          // JDK's ISO-2022-CN is decode-only; build the escape sequence by
          // hand: ESC $ ) A designates GB2312, SO..SI shifts it in, bytes
          // are the EUC-CN bytes with the high bit stripped
          val gb = encodeWith(Charset.forName("GB2312"), "中文汉字")
            .map(b => (b & 0x7f).toByte)
          Some((("\u001b$)A\u000e".getBytes("US-ASCII") ++ gb ++
            "\u000f Ab1".getBytes("US-ASCII")), cjkAscii.getBytes("US-ASCII")))
        } else {
          try {
            val cs = graft.core.pdf.Tables.cmapCharsets(name).get
            Some((encodeWith(cs, cjkSample), encodeWith(cs, cjkAscii)))
          } catch {
            case _: Throwable => println(s"JDK-GAP: $name ($csName)"); None
          }
        }
      payloads.foreach { case (p1, p2) =>
        val safe = name.drop(1).replace("/", "_")
        dump(outDir, f"ck_${idx}%03d_$safe", cjkFixture(name, p1, p2))
      }
    }
  }

  // ======== round 2 (seed 20260817) ===============================
  // Round-2 differential fuzz generator vs the reference binary
  // (tools/refverify). Seeded; dumps (doc.pdf, doc.mine) pairs for
  // tools/refverify/compare.sh. Families target the shapes the round-1 fuzz
  // did not cover: nested Form XObjects, >2-deep /Prev chains, content-
  // stream predictors (PNG rows 0-3, TIFF) incl. LZW+predictor, mixed
  // filter arrays with /DecodeParms arrays, ObjStm-packed font dicts,
  // 3/4-byte ToUnicode codespaces, bfrange array form, TrueType cmap
  // formats 0/6/12 (and multi-subtable fonts).

  def randShows(nBlocks: Int, fontName: String = "/F1"): String = {
    val sb = new StringBuilder
    var b = 0
    while (b < nBlocks) {
      sb.append(s"BT\n$fontName ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      val shows = 1 + rnd.nextInt(5)
      (0 until shows).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"0 ${-10 - rnd.nextInt(8)} Td\n(${randWord()}) Tj\n")
          case _ => sb.append(s"(${randWord()}) '\n")
        }
      }
      sb.append("ET\n")
      b += 1
    }
    sb.toString
  }

  // ---- family A: nested Form XObjects ---------------------------------------
  def nestedForms(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val depth = 2 + rnd.nextInt(2) // 2 or 3 deep
      // innermost form: text only
      val inner = formX(10 + depth, bytes(randShows(1 + rnd.nextInt(2), "/FI")),
        "/Font << /FI 6 0 R >>",
        bbox = rnd.nextInt(8) != 0, // occasionally BBox-less (must be skipped)
        matrix = if (rnd.nextBoolean()) " /Matrix [2 0 0 2 50 50]" else "")
      // wrap outward: each form draws text then Do's the next-inner one
      val forms = (depth - 1 to 1 by -1).foldLeft(Seq(inner)) { (acc, lvl) =>
        val body = new StringBuilder
        body.append(randShows(1, "/FI"))
        if (rnd.nextBoolean()) body.append(s"q ${1 + rnd.nextInt(3)} 0 0 ${1 + rnd.nextInt(3)} ${rnd.nextInt(80)} ${rnd.nextInt(80)} cm\n")
        body.append("/Xn Do\n")
        if (body.toString.contains("q ")) body.append("Q\n")
        formX(10 + lvl, bytes(body.toString),
          s"/Font << /FI 6 0 R >> /XObject << /Xn ${10 + lvl + 1} 0 R >>") +: acc
      }
      val pageContent = new StringBuilder
      pageContent.append(randShows(1 + rnd.nextInt(2)))
      pageContent.append("/X0 Do\n")
      if (rnd.nextInt(3) == 0) pageContent.append("/X0 Do\n") // same form twice (cache path)
      val pdf = onePageWithXObjects(bytes(pageContent.toString),
        Map("/F1" -> 5), Map("/X0" -> 11),
        Seq(courier(5), courier(6)) ++ forms)
      dump(outDir, f"nf_$i%04d", pdf)
    }
  }

  // ---- family B: deep /Prev chains -------------------------------------------
  def deepPrevChains(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val base = onePage(bytes(randShows(2)), Map("/F1" -> 5), Seq(courier(5)))
      val depth = 2 + rnd.nextInt(3) // 2..4 incremental updates
      val pdf = (0 until depth).foldLeft(base) { (doc, _) =>
        withIncrementalUpdate(doc, bytes(randShows(1 + rnd.nextInt(2))), 4)
      }
      dump(outDir, f"pv_$i%04d", pdf)
    }
  }

  // ---- family C: content-stream predictors + mixed filter arrays --------------
  def filtersAndPredictors(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes(randShows(1 + rnd.nextInt(3)))
      val cols = Seq(16, 32, 51, 64)(rnd.nextInt(4))
      val padded = padToColumns(content, cols)
      val variant = i % 7
      val pdf = variant match {
        case 0 => // LZW + PNG predictor (mixed row filters)
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/LZWDecode /DecodeParms << /Predictor 12 /Columns $cols >>",
              d => lzwEncode(pngEncode(d, cols, r => (r + rnd.nextInt(4)) % 4)))))
        case 1 => // Flate + PNG predictor
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/FlateDecode /DecodeParms << /Predictor ${10 + rnd.nextInt(4)} /Columns $cols >>",
              d => deflate(pngEncode(d, cols, r => rnd.nextInt(4))))))
        case 2 => // Flate + TIFF predictor 2
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/FlateDecode /DecodeParms << /Predictor 2 /Columns $cols >>",
              d => deflate(tiffDiffEncode(d, cols)))))
        case 3 => // [A85, Flate]
          onePage(content, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some(("[/ASCII85Decode /FlateDecode]",
              d => ascii85Encode(deflate(d)))))
        case 4 => // [AHx, LZW]
          onePage(content, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some(("[/ASCIIHexDecode /LZWDecode]",
              d => asciiHexEncode(lzwEncode(d)))))
        case 5 => // [A85, LZW + predictor] with DecodeParms array
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"[/ASCII85Decode /LZWDecode] /DecodeParms [<< >> << /Predictor 12 /Columns $cols >>]",
              d => ascii85Encode(lzwEncode(pngEncode(d, cols, _ => 2))))))
        case _ => // [AHx, Flate + TIFF] with DecodeParms array
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"[/ASCIIHexDecode /FlateDecode] /DecodeParms [<< >> << /Predictor 2 /Columns $cols >>]",
              d => asciiHexEncode(deflate(tiffDiffEncode(d, cols))))))
      }
      dump(outDir, f"fp_$i%04d", pdf)
    }
  }

  // ---- family D: ObjStm-packed font dicts --------------------------------------
  def objStmFonts(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 3
      val (fonts, extraObjs, content) = variant match {
        case 0 => // Standard-14 + Differences font packed in ObjStm
          (Map("/F1" -> 5, "/F2" -> 6),
            Seq(courier(5), fontWithDifferences(6, "65 /bullet 66 /emdash 70 /Adieresis")),
            randShows(2) + "BT\n/F2 11 Tf\n100 120 Td\n(ABF) Tj\nET\n")
        case 1 => // Type0 Identity-H pair packed in ObjStm
          (Map("/F1" -> 5, "/F2" -> 6),
            courier(5) +: type0IdentityH(6, 7),
            randShows(1) + "BT\n/F2 12 Tf\n90 300 Td\n<00480065006C006C006F> Tj\nET\n")
        case _ => // two simple fonts, page+catalog also packed
          (Map("/F1" -> 5, "/F2" -> 6),
            Seq(courier(5), helvetica(6)),
            randShows(2) + randShows(1, "/F2"))
      }
      val fontIds: Set[Int] = extraObjs.filter(_.stream.isEmpty).map(_.id).toSet
      val alsoPage: Set[Int] = if (variant == 2) Set(1, 2) else Set.empty
      val pdf = onePage(bytes(content), fonts, extraObjs,
        useXrefStream = true, packIntoObjStm = fontIds ++ alsoPage)
      dump(outDir, f"os_$i%04d", pdf)
    }
  }

  // ---- family E: 3/4-byte ToUnicode codespaces ---------------------------------
  def multiByteToUnicode(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 3
      val (cmapTxt, showHex) = variant match {
        case 0 => // 1-byte + 3-byte codespaces, greedy multi-length lookup
          val tu = toUnicodeMulti(
            codespaces = Seq(("00", "7F"), ("800000", "FFFFFF")),
            bfchars = Seq(
              ("41", "0058"), // 'A' -> X
              ("800001", "0059"), // 3-byte code -> Y
              ("800002", "005A0021"), // 3-byte code -> "Z!"
              ("42", "0057")))
          (tu, "41 800001 42 800002".replace(" ", ""))
        case 1 => // 2-byte + 4-byte codespaces
          val tu = toUnicodeMulti(
            codespaces = Seq(("0000", "7FFF"), ("80000000", "FFFFFFFF")),
            bfchars = Seq(
              ("0041", "0041"),
              ("80000001", "00410042"), // 4-byte code -> AB
              ("0042", "0043")),
            bfranges = Seq(("0050", "0055", "0061"))) // 2-byte range
          (tu, "0041 80000001 0042 0051 0053".replace(" ", ""))
        case _ => // 1+2+3-byte mixed, ranges at width 3
          val tu = toUnicodeMulti(
            codespaces = Seq(("20", "7E"), ("A000", "AFFF"), ("B00000", "B000FF")),
            bfchars = Seq(("A001", "2603")), // snowman
            bfranges = Seq(("B00010", "B00013", "0030"))) // 3-byte range -> 0..3
          (tu, "41A001B00010B0001220".replace(" ", ""))
      }
      val tuBytes = bytes(cmapTxt)
      val extraShows = randShows(1 + rnd.nextInt(2))
      val content = extraShows +
        s"BT\n/F2 ${8 + rnd.nextInt(8)} Tf\n${60 + rnd.nextInt(300)} ${100 + rnd.nextInt(500)} Td\n<$showHex> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5), fontWithToUnicode(6, 7), streamObj(7, tuBytes)))
      dump(outDir, f"mb_$i%04d", pdf)
    }
  }

  // ---- family F: bfrange array form ---------------------------------------------
  def bfrangeArrayForm(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val base = 0x40 + rnd.nextInt(16)
      val len = 2 + rnd.nextInt(4)
      val dests = (0 until len).map(k => f"${0x30 + ((i + k) % 10)}%04X" +
        (if (k % 2 == 1) f"${0x21 + k}%04X" else "")) // some multi-char targets
      val tu = toUnicodeMulti(
        codespaces = Seq(("00", "FF")),
        bfchars = Seq((f"${base + 8}%02X", "0077")),
        bfranges = if (rnd.nextBoolean()) Seq((f"${base + 16}%02X", f"${base + 18}%02X", "00E9")) else Nil,
        bfrangeArrays = Seq((f"$base%02X", f"${base + len - 1}%02X", dests)))
      val codes = (0 until len).map(k => f"${base + k}%02X").mkString +
        f"${base + 8}%02X" + f"${base + 17}%02X"
      val content = randShows(1) +
        s"BT\n/F2 10 Tf\n80 ${150 + rnd.nextInt(400)} Td\n<$codes> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5), fontWithToUnicode(6, 7), streamObj(7, bytes(tu))))
      dump(outDir, f"ba_$i%04d", pdf)
    }
  }

  // ---- family G: TrueType cmap formats 0/6/12 -----------------------------------
  def ttFormats(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 5
      val subtables: Seq[Array[Byte]] = variant match {
        case 0 => // format 0 alone (sizes quirk: 2-byte lookups vs 1-byte keys)
          val glyphs = Array.tabulate(256)(j => (j + 1 + rnd.nextInt(3)) & 0xff)
          Seq(cmapFormat0(glyphs))
        case 1 => // format 6 alone
          val first = 0x41 + rnd.nextInt(8)
          Seq(cmapFormat6(first, (0 until 6 + rnd.nextInt(6)).map(k => 0x100 + k * (1 + rnd.nextInt(3)))))
        case 2 => // format 12 + format 4 (12 alone leaves sizes unset — quirk)
          Seq(
            cmapFormat12(Seq((0x41L, 0x45L, 0x200L), (0x61L, 0x63L, 0x300L))),
            cmapFormat4(Seq(('A', 0x80 + rnd.nextInt(32)), ('B', 0x90))))
        case 3 => // format 12 + format 6
          Seq(
            cmapFormat12(Seq((0x30L + rnd.nextInt(4), 0x39L, 0x400L))),
            cmapFormat6(0x41, Seq(0x101, 0x102, 0x103)))
        case _ => // formats 0 + 6 + 4 together
          Seq(
            cmapFormat0(Array.tabulate(256)(j => (255 - j) & 0xff)),
            cmapFormat6(0x61, (0 until 5).map(k => 0x150 + k)),
            cmapFormat4(Seq(('C', 0xa0), ('D', 0xa1 + rnd.nextInt(8)))))
      }
      val tt = trueTypeWithCmaps(subtables)
      // show a spread of 2-byte codes covering the gid spaces above, plus
      // raw 1-byte codes (format-0 key width quirk)
      val gidShows = Seq(0x0041, 0x0101, 0x0150, 0x0200 + 0x41, 0x0300 + 0x61, 0x0400 + 0x35,
        0x80, 0x90, 0xa0, 0x102)
        .map(g => f"$g%04X").mkString
      val byteShows = (0 until 6).map(_ => f"${0x20 + rnd.nextInt(0x5f)}%02X").mkString
      val content = randShows(1) +
        s"BT\n/F2 10 Tf\n70 ${200 + rnd.nextInt(300)} Td\n<$gidShows> Tj\n0 -14 Td\n<$byteShows> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5)) ++ fontWithFontFile2(6, 7, 8) :+ streamObj(8, tt))
      dump(outDir, f"tt_$i%04d", pdf)
    }
  }

  // ---- family H: hash-colliding garbage tokens ----------------------------------
  /** bytes legal inside a token (not PDF whitespace, not delimiters) */
  private def tokenByte(): Char = {
    while (true) {
      val b = 1 + rnd.nextInt(255)
      val c = b.toChar
      if (!" \t\n\f\r ()<>[]{}/%".contains(c) && b != 0x0c) return c
    }
    'x'
  }

  /** a content stream peppered with random 1-2-byte binary tokens; those
    * whose signed-char hash collides with a real slot must EXECUTE the
    * handler (perfect-hash quirk, pages_extractor.cc:56-69). Operands are
    * pre-pushed so colliding handlers always have something to pop. */
  private def garbageContent(): String = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 10 Tf\n72 720 Td\n(start) Tj\n")
    val nOps = 3 + rnd.nextInt(12)
    (0 until nOps).foreach { _ =>
      // keep the operand stack stocked: strings + numbers
      sb.append(s"(${randWord()}) ${rnd.nextInt(40)} ${rnd.nextInt(700)} (${randWord()}) ")
      val len = 1 + rnd.nextInt(2)
      val tok = (0 until len).map(_ => tokenByte()).mkString
      sb.append(tok).append('\n')
      if (rnd.nextInt(3) == 0) sb.append(s"0 ${-8 - rnd.nextInt(6)} Td\n(${randWord()}) Tj\n")
    }
    sb.append("(end) Tj\nET\n")
    sb.toString
  }

  def garbageTokens(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val pdf = onePage(bytes(garbageContent()), Map("/F1" -> 5), Seq(courier(5)))
      dump(outDir, f"gt_$i%04d", pdf)
    }
  }

  // ======== round 3 (seed 20260818) ===============================
  // Round-3 differential fuzz generator vs the reference binary
  // (tools/refverify). Seeded; dumps (doc.pdf, doc.mine) pairs for
  // tools/refverify/compare.sh. Families target shapes the round-1/2 fuzz
  // did not combine:
  //  - encrypted documents (RC4 /R2, /R3, AESV2) carrying RANDOM content
  //    state sequences (the r1 crypto fixtures used fixed text);
  //  - Type3 fonts with varying /FontMatrix scales and /Widths (width math
  //    goes through the FontMatrix path, fonts.cc:332-336);
  //  - /Rotate x dense scattered layout (rotation changes the initial CTM,
  //    pages_extractor.cc:141-147, upstream of ALL layout clustering);
  //  - box counts crossing MAX_BOXES=300 exactly (the bail-out boundary,
  //    pages_extractor.cc:403-407);
  //  - extreme text-state magnitudes (huge/tiny/negative Tc/Tw/Tz/TL/Ts,
  //    float formats like 1e3 that stof accepts).

  /** random BT..ET blocks with state churn (Td, TD, Tm, T-star, TL, Tc, Tw, Tz, quotes) */
  def randStateShows(nBlocks: Int): String = {
    val sb = new StringBuilder
    (0 until nBlocks).foreach { _ =>
      sb.append(s"BT\n/F1 ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      (0 to rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(8) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"${rnd.nextInt(20) - 10} ${-8 - rnd.nextInt(10)} TD\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"${(rnd.nextInt(60) + 50)} Tz\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"${(rnd.nextDouble() * 4 - 2).formatted("%.2f")} Tc\n(${randWord()} x) Tj\n")
          case 5 => sb.append(s"${(rnd.nextDouble() * 6 - 3).formatted("%.2f")} Tw\n(${randWord()} ${randWord()}) Tj\n")
          case 6 => sb.append(s"(${randWord()}) '\n")
          case _ => sb.append(s"${(rnd.nextDouble() * 3).formatted("%.2f")} ${(rnd.nextDouble() * 4 - 2).formatted("%.2f")} (${randWord()}) \"\n")
        }
      }
      sb.append("ET\n")
    }
    sb.toString
  }

  // ---- family A: encrypted docs with random state sequences -----------------
  def encryptedState(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 31 + j * 7) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      val content = bytes(randStateShows(1 + rnd.nextInt(4)))
      dump(outDir, f"enc_$i%03d", encryptedOnePage(content, enc))
    }
  }

  // ---- family B: Type3 FontMatrix variations --------------------------------
  def type3Matrices(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val scale = Seq("0.001", "0.002", "0.0005", "0.01", "0.0001")(i % 5)
      val widths = (32 to 126).map(_ => (200 + rnd.nextInt(800)).toString).mkString(" ")
      val diffs = if (i % 2 == 0) " /Encoding << /Type /Encoding /Differences [65 /Z 66 /Y] >>" else ""
      val font = ObjSpec(5,
        s"<< /Type /Font /Subtype /Type3 /FontMatrix [$scale 0 0 $scale 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar 32 /LastChar 126 /Widths [$widths]$diffs >>")
      val content = bytes(randStateShows(1 + rnd.nextInt(3)))
      dump(outDir, f"t3_$i%03d", onePage(content, Map("/F1" -> 5), Seq(font)))
    }
  }

  // ---- family C: rotation x dense scattered layout ---------------------------
  def rotatedDense(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val rot = Seq(0, 90, 180, 270)(i % 4)
      val content = bytes(randStateShows(8 + rnd.nextInt(40)))
      dump(outDir, f"rot_$i%03d",
        onePage(content, Map("/F1" -> 5), Seq(courier(5)), rotate = Some(rot)))
    }
  }

  // ---- family D: MAX_BOXES boundary ------------------------------------------
  private val boxCounts = Seq(296, 298, 299, 300, 301, 302, 310, 150, 200, 250)

  /** box counts around MAX_BOXES=300, cycled by doc index; no randomness */
  def boxBoundary(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val nBoxes = boxCounts(i % boxCounts.length)
      val sb = new StringBuilder
      // scattered single-word boxes far enough apart to never merge
      (0 until nBoxes).foreach { b =>
        val x = 20 + (b % 24) * 25
        val y = 760 - (b / 24) * 22
        sb.append(s"BT\n/F1 6 Tf\n$x $y Td\n(w$b) Tj\nET\n")
      }
      dump(outDir, f"box_${nBoxes}_$i%02d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5)),
          mediaBox = "[0 0 612 1000]"))
    }
  }

  // ---- family E: extreme state magnitudes -------------------------------------
  def extremeState(outDir: String, n: Int): Unit = {
    val magnitudes = Seq("1e3", "-1e3", "0.0001", "-0.0001", "99999", "-99999", "0")
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append("BT\n/F1 12 Tf\n72 720 Td\n")
      (0 to 3 + rnd.nextInt(6)).foreach { _ =>
        val m = magnitudes(rnd.nextInt(magnitudes.length))
        rnd.nextInt(6) match {
          case 0 => sb.append(s"$m Tc\n(${randWord()} a) Tj\n")
          case 1 => sb.append(s"$m Tw\n(${randWord()} b) Tj\n")
          case 2 => sb.append(s"${50 + rnd.nextInt(400)} Tz\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"$m TL\nT*\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"$m Ts\n(${randWord()}) Tj\n")
          case _ => sb.append(s"[(${randWord()}) $m (${randWord()})] TJ\n")
        }
      }
      sb.append("ET\n")
      dump(outDir, f"ext_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ======== round 4 (seed 20260819) ===============================
  // Round-4 differential fuzz vs the reference binary: families not covered
  // by rounds 1-3:
  //  - multi-page documents with NESTED /Pages nodes and attribute
  //    inheritance (/Resources, /MediaBox inherited from intermediate
  //    nodes; page order = depth-first kid order, pages_extractor.cc:546-609);
  //  - literal-string escape stress (\( \) \\, 1-3-digit octal incl.
  //    overflow, escaped newlines, \n\r\t\b\f, unknown escapes) and hex
  //    strings with whitespace + odd final nibble;
  //  - huge TJ arrays (hundreds of alternating kerns/strings);
  //  - %-comments scattered between content-stream operators.

  def simpleShows(nBlocks: Int): String =
    (0 until nBlocks).map { _ =>
      s"BT\n/F1 ${8 + rnd.nextInt(12)} Tf\n${50 + rnd.nextInt(400)} ${80 + rnd.nextInt(600)} Td\n" +
        s"(${randWord()} ${randWord()}) Tj\nET\n"
    }.mkString

  // ---- family A: multi-page with nested /Pages + inheritance ---------------
  def nestedPages(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val nPages = 2 + rnd.nextInt(5)
      val split = 1 + rnd.nextInt(nPages) // left subtree size
      // ids: 1 catalog, 2 root pages, 3/4 intermediate nodes, 10+k pages,
      // 40+k contents, 90 font
      val pageIds = (0 until nPages).map(10 + _)
      val leftKids = pageIds.take(split)
      val rightKids = pageIds.drop(split)
      val inheritRes = rnd.nextBoolean()
      val resOn = "/Resources << /Font << /F1 90 0 R >> >>"
      val mboxRoot = " /MediaBox [0 0 612 792]"
      val rootAttrs = (if (inheritRes) s" $resOn" else "") + mboxRoot
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [${(Seq(3) ++ (if (rightKids.nonEmpty) Seq(4) else Nil)).map(k => s"$k 0 R").mkString(" ")}] /Count $nPages$rootAttrs >>"),
        ObjSpec(3, s"<< /Type /Pages /Parent 2 0 R /Kids [${leftKids.map(k => s"$k 0 R").mkString(" ")}] /Count ${leftKids.size} >>")) ++
        (if (rightKids.nonEmpty)
          Seq(ObjSpec(4, s"<< /Type /Pages /Parent 2 0 R /Kids [${rightKids.map(k => s"$k 0 R").mkString(" ")}] /Count ${rightKids.size} >>"))
        else Nil) ++
        pageIds.zipWithIndex.map { case (pid, k) =>
          val parent = if (k < split) 3 else 4
          val ownRes = if (!inheritRes) s" $resOn" else ""
          ObjSpec(pid, s"<< /Type /Page /Parent $parent 0 R$ownRes /Contents ${40 + k} 0 R >>")
        } ++
        pageIds.indices.map { k =>
          val content = bytes(simpleShows(1 + rnd.nextInt(3)))
          ObjSpec(40 + k, s"<< /Length ${content.length} >>", Some(content))
        } ++ Seq(courier(90))
      dump(outDir, f"mp_$i%03d", classicXref(objs, 1))
    }
  }

  // ---- family B: string escape stress ---------------------------------------
  def escapeStress(outDir: String, n: Int): Unit = {
    val escapes = Seq("\\(", "\\)", "\\\\", "\\n", "\\r", "\\t", "\\b", "\\f",
      "\\101", "\\56", "\\7", "\\377", "\\400", "\\q", "\\ ")
    (0 until n).foreach { i =>
      val sb = new StringBuilder("BT\n/F1 12 Tf\n72 720 Td\n")
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        if (rnd.nextBoolean()) {
          val parts = (0 to rnd.nextInt(6)).map(_ =>
            if (rnd.nextBoolean()) randWord() else escapes(rnd.nextInt(escapes.length)))
          sb.append(s"(${parts.mkString}) Tj\n")
        } else {
          // hex string, random whitespace, possibly odd nibble count
          val hx = (0 to 4 + rnd.nextInt(12)).map(_ => "0123456789abcdefABCDEF".charAt(rnd.nextInt(22)))
            .mkString.take(5 + rnd.nextInt(10))
          val spaced = hx.grouped(1 + rnd.nextInt(4)).mkString(Seq(" ", "\n", "\t")(rnd.nextInt(3)))
          sb.append(s"<$spaced> Tj\n")
        }
      }
      sb.append("ET\n")
      dump(outDir, f"esc_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family C: huge TJ arrays ---------------------------------------------
  def hugeTJ(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val elems = (0 until 100 + rnd.nextInt(300)).map { _ =>
        if (rnd.nextBoolean()) s"(${randWord()})"
        else (rnd.nextInt(4000) - 2000).toString
      }
      val content = s"BT\n/F1 9 Tf\n40 700 Td\n[${elems.mkString(" ")}] TJ\nET\n"
      dump(outDir, f"tj_$i%03d",
        onePage(bytes(content), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family D: comments scattered between operators -----------------------
  def comments(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append(s"% leading comment ${randWord()}\n")
      (0 to 2 + rnd.nextInt(4)).foreach { _ =>
        sb.append("BT\n")
        if (rnd.nextBoolean()) sb.append(s"% mid ${randWord()} (not a string)\n")
        sb.append(s"/F1 ${8 + rnd.nextInt(10)} Tf\n")
        sb.append(s"${60 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td % trailing\n")
        sb.append(s"(${randWord()}) Tj\n")
        if (rnd.nextBoolean()) sb.append("% between shows\n")
        sb.append(s"(${randWord()}) Tj\nET\n")
      }
      dump(outDir, f"cm_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ======== round 5 (seed 20260820) ===============================
  // Round-5 differential fuzz vs the reference binary:
  //  - CID /W width arrays (fonts.cc:71-123): random mixes of range entries
  //    `c_first c_last w` and list entries `c [w1 w2 ...]`, random /DW,
  //    Identity-H 2-byte codes spanning in/out-of-table ranges;
  //  - CORRUPTION family (error/recovery-path parity — earlier rounds only
  //    generated valid documents): random truncations, single-byte flips,
  //    and garbage prefixes applied to valid documents. Each corrupted doc
  //    must either extract byte-identically or error in BOTH engines.

  // ---- family A: CID /W arrays ----------------------------------------------
  def cidWidths(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val entries = (0 to 2 + rnd.nextInt(5)).map { _ =>
        val start = rnd.nextInt(120)
        if (rnd.nextBoolean()) s"$start ${start + rnd.nextInt(40)} ${100 + rnd.nextInt(900)}"
        else s"$start [${(0 to rnd.nextInt(6)).map(_ => 100 + rnd.nextInt(900)).mkString(" ")}]"
      }
      val dw = 500 + rnd.nextInt(800)
      val fonts = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /Type0 /BaseFont /FuzzCID " +
          "/Encoding /Identity-H /DescendantFonts [7 0 R] >>"),
        ObjSpec(7, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /FuzzCID " +
          "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
          s"/DW $dw /W [${entries.mkString(" ")}] >>"))
      val sb = new StringBuilder("BT\n/F1 10 Tf\n50 700 Td\n")
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        // 2-byte Identity-H codes as hex strings; codes 0..150 hit the /W
        // ranges, larger codes fall to /DW
        val codes = (0 to 2 + rnd.nextInt(8)).map(_ => f"${rnd.nextInt(300)}%04x").mkString
        sb.append(s"<$codes> Tj\n")
        if (rnd.nextBoolean()) sb.append(s"0 ${-12 - rnd.nextInt(6)} Td\n")
      }
      sb.append("ET\n")
      dump(outDir, f"cid_$i%03d", onePage(bytes(sb.toString), Map("/F1" -> 5), fonts))
    }
  }

  // ---- family B: corruption --------------------------------------------------
  def corruption(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 2 + rnd.nextInt(4)).map { _ =>
        s"BT\n/F1 ${8 + rnd.nextInt(10)} Tf\n${50 + rnd.nextInt(400)} ${80 + rnd.nextInt(600)} Td\n" +
          s"(${randWord()} ${randWord()}) Tj\nET\n"
      }.mkString)
      // rotate base shapes: classic xref, xref-stream + ObjStm (distinct
      // recovery paths: /W parsing, BE ints, packed objects), encrypted
      val good = (i % 3) match {
        case 0 => onePage(content, Map("/F1" -> 5), Seq(courier(5)))
        case 1 => onePage(content, Map("/F1" -> 5), Seq(courier(5)),
          useXrefStream = true, packIntoObjStm = Set(1, 2, 5))
        case _ =>
          val docId = Array.tabulate(16)(j => ((i * 17 + j) & 0xff).toByte)
          graft.fixtures.PdfBuilderAdvanced.encryptedOnePage(content,
            graft.fixtures.PdfBuilderAdvanced.EncSpec(
              revision = if (i % 2 == 0) 3 else 2,
              keyBits = if (i % 2 == 0) 128 else 40, aes = false, docId = docId))
      }
      val bad = rnd.nextInt(4) match {
        case 0 => // truncate somewhere in the tail half
          good.take(good.length / 2 + rnd.nextInt(good.length / 2))
        case 1 => // flip one random byte
          val b = good.clone(); val p = rnd.nextInt(b.length)
          b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte; b
        case 2 => // garbage prefix before %PDF (offsets shift)
          val g = new Array[Byte](1 + rnd.nextInt(64)); rnd.nextBytes(g)
          g.map(x => (x & 0x7f).toByte).filter(_ != '%') ++ good
        case _ => // duplicate a random slice in the middle
          val a = rnd.nextInt(good.length - 2)
          val len = 1 + rnd.nextInt(math.min(80, good.length - a - 1))
          good.take(a + len) ++ good.slice(a, a + len) ++ good.drop(a + len)
      }
      dump(outDir, f"cor_$i%03d", bad)
    }
  }

  // ======== round 6 (seed 20260821) ===============================
  // Round-6 differential fuzz vs the reference binary: TYPE-CONFUSED inputs
  // the earlier rounds never generated —
  //  - operand-type confusion: syntactically valid content streams where
  //    operators receive the wrong operand TYPES (strings where numbers are
  //    expected, names where strings are expected, too few / too many
  //    operands). The reference pops raw strings and stof/stoul's them
  //    (throws) or silently mis-executes — whichever it does, the kernel
  //    must do the same;
  //  - malformed page/font dictionary VALUES (wrong types for /Contents,
  //    /MediaBox with non-numeric entries, /Widths with strings inside).

  // ---- family A: operand-type confusion --------------------------------------
  def operandConfusion(outDir: String, n: Int): Unit = {
    def operand(): String = rnd.nextInt(5) match {
      case 0 => (rnd.nextInt(1200) - 600).toString
      case 1 => s"(${randWord()})"
      case 2 => s"/${randWord()}"
      case 3 => f"${rnd.nextDouble() * 20 - 10}%.2f"
      case _ => Seq("true", "false", "null")(rnd.nextInt(3))
    }
    val ops = Seq("Td", "TD", "Tm", "TL", "Tc", "Tw", "Tz", "Ts", "Tf", "Tj",
      "TJ", "'", "\"", "cm", "T*")
    (0 until n).foreach { i =>
      val sb = new StringBuilder("BT\n/F1 10 Tf\n60 700 Td\n(seed text) Tj\n")
      (0 to 3 + rnd.nextInt(8)).foreach { _ =>
        val op = ops(rnd.nextInt(ops.length))
        val nOperands = rnd.nextInt(5) // often the wrong arity
        (0 until nOperands).foreach(_ => sb.append(operand()).append(' '))
        sb.append(op).append('\n')
        if (rnd.nextBoolean()) sb.append(s"(${randWord()}) Tj\n")
      }
      sb.append("ET\n")
      dump(outDir, f"opc_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family B: malformed dictionary values ----------------------------------
  def malformedDicts(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes(s"BT\n/F1 11 Tf\n70 700 Td\n(${randWord()} ${randWord()}) Tj\nET\n")
      val variant = i % 5
      val mediaBox = variant match {
        case 0 => "[0 0 612 792]"
        case 1 => "[0 0 (x) 792]" // string inside rectangle
        case 2 => "[0 0 612]" // too few elements
        case _ => "[0 0 612 792]"
      }
      val fontBody = variant match {
        case 3 => // /Widths containing a string
          "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 65 /LastChar 67 " +
            "/Widths [600 (bad) 600] /Encoding /WinAnsiEncoding >>"
        case 4 => // /FirstChar as a name
          "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar /A /LastChar 67 " +
            "/Widths [600 600 600] /Encoding /WinAnsiEncoding >>"
        case _ => "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /Encoding /WinAnsiEncoding >>"
      }
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, s"<< /Type /Page /Parent 2 0 R /MediaBox $mediaBox " +
          "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
        ObjSpec(5, fontBody))
      dump(outDir, f"md_$i%03d", classicXref(objs, 1))
    }
  }

  // ======== round 7 (seed 20260822) ===============================
  // Round-7 differential fuzz vs the reference binary: decode-path
  // PRECEDENCE —
  //  - PARTIAL ToUnicode cmaps (covering only a random subset of codes)
  //    over fonts that ALSO carry /Differences and a base encoding: hits in
  //    the cmap win, misses fall back per byte to Differences/charset, and
  //    bytes undecodable everywhere are DROPPED
  //    (converter_engine.cc:30-65, the fallback lattice);
  //  - /Rotate inheritance through intermediate /Pages nodes (attribute
  //    inheritance for the third inheritable key, after r4's
  //    /Resources//MediaBox).

  // ---- family A: ToUnicode/Differences/charset precedence --------------------
  def precedence(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      // ToUnicode covers a random sparse subset of codes 0x41..0x7A
      val covered = (0x41 to 0x7a).filter(_ => rnd.nextBoolean()).take(10 + rnd.nextInt(20))
      val bfchars = covered.map(c => c -> new String(Character.toChars(0x100 + rnd.nextInt(0x2000))))
      val cmap = bytes(toUnicodeCMap(bfchars))
      // Differences remap a few codes (some overlapping the cmap range)
      val diffCodes = (0 until 2 + rnd.nextInt(4)).map(_ => 0x41 + rnd.nextInt(0x3a))
      val diffNames = Seq("/Z", "/Y", "/X", "/eacute", "/bullet", "/dagger")
      val diffs = diffCodes.map(c => s"$c ${diffNames(rnd.nextInt(diffNames.length))}").mkString(" ")
      val fonts = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
          "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
          s"/Differences [$diffs] >> /ToUnicode 6 0 R >>"),
        streamObj(6, cmap))
      val sb = new StringBuilder("BT\n/F1 11 Tf\n60 700 Td\n")
      (0 to 2 + rnd.nextInt(5)).foreach { _ =>
        // random byte codes spanning covered/uncovered/diff'd/high ranges
        val codes = (0 to 3 + rnd.nextInt(12)).map(_ => rnd.nextInt(3) match {
          case 0 => covered(rnd.nextInt(covered.length))
          case 1 => 0x41 + rnd.nextInt(0x3a)
          case _ => 0x20 + rnd.nextInt(0xdf) // incl. high WinAnsi bytes
        })
        sb.append(s"<${codes.map(c => f"$c%02x").mkString}> Tj\n")
        if (rnd.nextBoolean()) sb.append(s"0 ${-12 - rnd.nextInt(4)} Td\n")
      }
      sb.append("ET\n")
      dump(outDir, f"prec_$i%03d", onePage(bytes(sb.toString), Map("/F1" -> 5), fonts))
    }
  }

  // ---- family B: /Rotate inheritance ------------------------------------------
  def rotateInheritance(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val rootRot = Seq(0, 90, 180, 270)(rnd.nextInt(4))
      val overrideLeaf = rnd.nextBoolean()
      val leafRot = Seq(0, 90, 180, 270)(rnd.nextInt(4))
      val content1 = bytes(s"BT\n/F1 10 Tf\n80 700 Td\n(${randWord()} ${randWord()}) Tj\nET\n")
      val content2 = bytes(s"BT\n/F1 10 Tf\n90 650 Td\n(${randWord()}) Tj\nET\n")
      val leafAttr = if (overrideLeaf) s" /Rotate $leafRot" else ""
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [3 0 R] /Count 2 /Rotate $rootRot " +
          "/MediaBox [0 0 612 792] /Resources << /Font << /F1 9 0 R >> >> >>"),
        ObjSpec(3, "<< /Type /Pages /Parent 2 0 R /Kids [10 0 R 11 0 R] /Count 2 >>"),
        ObjSpec(10, s"<< /Type /Page /Parent 3 0 R$leafAttr /Contents 20 0 R >>"),
        ObjSpec(11, "<< /Type /Page /Parent 3 0 R /Contents 21 0 R >>"),
        ObjSpec(20, s"<< /Length ${content1.length} >>", Some(content1)),
        ObjSpec(21, s"<< /Length ${content2.length} >>", Some(content2)),
        courier(9))
      dump(outDir, f"rotinh_$i%03d", classicXref(objs, 1))
    }
  }

  // ======== round 8 (seed 20260830) ===============================
  // Round-8 differential fuzz vs the reference binary — the compositions
  // rounds 1-7 did not exercise together:
  //
  //  A. ENCRYPTED (RC4 /R2, /R3, AESV2) documents whose file structure is an
  //     xref STREAM with the catalog/pages/page/font dicts packed in an
  //     /ObjStm — the ObjStm content is itself encrypted with its own
  //     per-object key (object_storage.cc:58 decrypts before decode), while
  //     the xref stream stays plaintext (parsed before /Encrypt is known,
  //     parser.cc:391-397);
  //  B. Form XObjects under page /Rotate with dense multi-column layouts
  //     whose box counts straddle MAX_BOXES=300 (rotation feeds the initial
  //     CTM through the form recursion, pages_extractor.cc:141-147,856-867;
  //     the >300-box bail-out is per result group, :403-407);
  //  C. TrueType cmap subtable FORMAT 2 (font_file2.cc get_format2_data) —
  //     the only subtable format without a dedicated fuzz family; includes
  //     the no-sizes quirk (format 2 never sets cmap.sizes, so a format-2-
  //     only font decodes nothing via the cmap and falls back per byte)
  //     and 2+4 / 2+6 multi-subtable combos;
  //  D. hash-colliding garbage tokens (the perfect-hash collision-acceptance
  //     quirk, pages_extractor.cc:56-69) atop ENCRYPTED bases — collision
  //     dispatch after the decrypt path instead of plaintext content.

  /** round 3's randStateShows without its Tc/Tw cases */
  def randStateShowsNoSpacing(nBlocks: Int): String = {
    val sb = new StringBuilder
    (0 until nBlocks).foreach { _ =>
      sb.append(s"BT\n/F1 ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      (0 to rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"${rnd.nextInt(20) - 10} ${-8 - rnd.nextInt(10)} TD\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"${(50 + rnd.nextInt(60))} Tz\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"(${randWord()}) '\n")
          case _ => sb.append(f"${rnd.nextDouble() * 3}%.2f ${rnd.nextDouble() * 4 - 2}%.2f (${randWord()}) \"\n")
        }
      }
      sb.append("ET\n")
    }
    sb.toString
  }

  // ---- family A: encrypted + xref stream + ObjStm ----------------------------
  def encryptedObjStm(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 53 + j * 11 + 5) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      val content = bytes(randStateShowsNoSpacing(1 + rnd.nextInt(4)))
      dump(outDir, f"encobj_$i%03d", encXrefObjStm(content, enc))
    }
  }

  // ---- family B: rotate x Form XObjects x MAX_BOXES boundary ------------------
  /** page with /Rotate carrying /Font + /XObject resources */
  def rotPageWithForms(
      content: Array[Byte],
      xobjects: Map[String, Int],
      extraObjs: Seq[ObjSpec],
      rotate: Int): Array[Byte] = {
    val xRefs = xobjects.map { case (n, id) => s"$n $id 0 R" }.mkString(" ")
    val objs = Seq(
      ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      ObjSpec(3, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Rotate $rotate " +
        s"/Resources << /Font << /F1 6 0 R >> /XObject << $xRefs >> >> /Contents 4 0 R >>"),
      ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
      courier(6)) ++ extraObjs
    classicXref(objs, 1)
  }

  /** two-column scattered word grid (never-merging blocks) of `nBoxes` */
  def denseColumns(nBoxes: Int, tag: String): String = {
    val sb = new StringBuilder
    (0 until nBoxes).foreach { b =>
      val colX = if (b % 2 == 0) 30 + (b % 10) * 26 else 330 + (b % 10) * 26
      val y = 760 - (b / 20) * 24
      sb.append(s"BT\n/F1 6 Tf\n$colX $y Td\n($tag$b) Tj\nET\n")
    }
    sb.toString
  }

  def rotatedForms(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val rot = Seq(0, 90, 180, 270)(i % 4)
      // the form's own group straddles MAX_BOXES=300 (the bail-out is per
      // result group, so the form group hits it independently of the page)
      val formBoxes = Seq(250, 290, 296, 299, 300, 301, 304, 310)(i % 8)
      val withMatrix = rnd.nextBoolean() // "Matrix"-key quirk: always IDENTITY
      val matrix = if (withMatrix) " /Matrix [2 0 0 2 10 20]" else ""
      val form = formX(20, bytes(denseColumns(formBoxes, "f")),
        "/Font << /F1 6 0 R >>", matrix = matrix)
      val pageContent = new StringBuilder(denseColumns(4 + rnd.nextInt(20), "p"))
      if (rnd.nextBoolean()) pageContent.append(s"q\n1 0 0 1 ${rnd.nextInt(40)} ${rnd.nextInt(40)} cm\n/X1 Do\nQ\n")
      else pageContent.append("/X1 Do\n")
      dump(outDir, f"rotform_$i%03d",
        rotPageWithForms(bytes(pageContent.toString), Map("/X1" -> 20), Seq(form), rot))
    }
  }

  // ---- family C: TrueType cmap format 2 ---------------------------------------
  def ttFormat2(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val nSubs = 1 + rnd.nextInt(3)
      val subs = (0 until nSubs).map { s =>
        val hb = 1 + s + rnd.nextInt(2) * 4 // distinct high bytes
        val firstCode = 0x20 + rnd.nextInt(0x40)
        val idDelta = if (rnd.nextBoolean()) 0 else rnd.nextInt(16) - 8
        val gid = 0x30 + rnd.nextInt(0x700) // adjusted gid stays nonzero
        (hb, firstCode, idDelta, gid)
      }.toList.distinctBy(_._1)
      val f2 = cmapFormat2(subs)
      val subtables: Seq[Array[Byte]] = i % 4 match {
        case 0 => Seq(f2) // no-sizes quirk: cmap decodes nothing, per-byte fallback
        case 1 => Seq(f2, cmapFormat4(Seq(('A', 0x80 + rnd.nextInt(32)), ('B', 0x90))))
        case 2 => Seq(f2, cmapFormat6(0x41, Seq(0x101, 0x102, 0x103)))
        case _ => Seq(cmapFormat4(Seq(('E', 0xb0))), f2)
      }
      val tt = trueTypeWithCmaps(subtables)
      // show the ADJUSTED gids of every sub (2-byte codes) + format-4/6 gids
      // + raw bytes that miss everywhere (dropped-byte path)
      val adjusted = subs.map { case (_, _, d, g) => (g + d) & 0xffff }
      val shows = (adjusted ++ Seq(0x80, 0x90, 0x101, 0xb0) ++
        (0 until 4).map(_ => 0x20 + rnd.nextInt(0x5f)))
        .map(g => f"$g%04X").mkString
      val fontObjs = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /TrueType /BaseFont /Fuzz2 " +
          "/FirstChar 0 /LastChar 255 /FontDescriptor 7 0 R >>"),
        ObjSpec(7, "<< /Type /FontDescriptor /FontName /Fuzz2 /Flags 4 /FontFile2 8 0 R >>"),
        streamObj(8, tt))
      val content = s"BT\n/F1 10 Tf\n60 700 Td\n<$shows> Tj\n0 -14 Td\n<$shows> Tj\nET\n"
      dump(outDir, f"ttf2_$i%03d", onePage(bytes(content), Map("/F1" -> 5), fontObjs))
    }
  }

  // ---- family D: garbage tokens atop encrypted bases --------------------------
  def encryptedGarbage(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = garbageContent()
      val docId = Array.tabulate(16)(j => ((i * 71 + j * 13 + 9) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      dump(outDir, f"encgt_$i%03d", encryptedOnePage(bytes(content), enc))
    }
  }

  // ======== round 9 (seed 20260909) ===============================
  // Round-9 differential fuzz vs the reference binary — file-structure
  // compositions rounds 1-8 left untouched:
  //
  //  A. INCREMENTAL UPDATES AS XREF STREAMS: /Prev chains where every
  //     section is an xref stream with an /Index SUBSET listing only the
  //     changed objects (parser.cc get_trailer_offsets_new:109-133 walks
  //     the chain; newest section wins in id2offsets emplace order,
  //     parser.cc:304-318);
  //  B. HYBRID chains: classic-xref base updated by xref-stream sections
  //     (the head section picks the _old/_new walker for the WHOLE chain —
  //     parser.cc:136-140 — so mixed chains exercise the cross-parse);
  //  C. ENCRYPTED dependent streams: the ToUnicode cmap, the embedded
  //     TrueType FontFile2, and a Form XObject each encrypted with their
  //     OWN per-object keys (get_cmap/get_FontFile2/get_XObject_data all
  //     pass decrypt_data, pages_extractor.cc:634,751,758,766);
  //  D. /Length as an indirect reference to an integer PACKED IN AN OBJSTM
  //     (get_length resolves via ObjectStorage::get_object which reaches
  //     id2obj_stm, common.h:102-120 + common.cc:802-805).

  private def simpleContent(text: String): Array[Byte] =
    bytes(s"BT\n/F1 11 Tf\n70 ${640 + rnd.nextInt(100)} Td\n($text) Tj\nET\n")

  /** parse the final startxref offset out of an assembled pdf */
  private def lastStartxref(pdf: Array[Byte]): Int = {
    val s = str(pdf)
    val at = s.lastIndexOf("startxref")
    s.substring(at + 9).trim.takeWhile(_.isDigit).toInt
  }

  /** append ONE xref-stream update section redefining `changed` objects;
    * /Index lists only (changed ids + the new xref object id). */
  def appendXrefStreamUpdate(
      base: Array[Byte],
      changed: Seq[ObjSpec],
      xrefId: Int,
      size: Int,
      rootId: Int): Array[Byte] = {
    val prev = lastStartxref(base)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit = out.write(bytes(s))
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    changed.sortBy(_.id).foreach { o =>
      offsets(o.id) = out.size()
      w(s"${o.id} 0 obj\n${o.body}")
      o.stream.foreach { s => w("\nstream\n"); out.write(s); w("\nendstream") }
      w("\nendobj\n")
    }
    val xrefOff = out.size()
    val entryW = 7
    val ids = (changed.map(_.id) :+ xrefId).sorted
    val raw = new java.io.ByteArrayOutputStream()
    ids.foreach { id =>
      val off = if (id == xrefId) xrefOff else offsets(id)
      raw.write(1)
      raw.write((off >> 24) & 0xff); raw.write((off >> 16) & 0xff)
      raw.write((off >> 8) & 0xff); raw.write(off & 0xff)
      raw.write(0); raw.write(0)
    }
    val index = ids.map(id => s"$id 1").mkString(" ")
    val enc = deflate(graft.fixtures.PdfBuilder.pngUpEncode(raw.toByteArray, entryW))
    w(s"$xrefId 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Index [$index] " +
      s"/Root $rootId 0 R /Prev $prev /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $entryW >> /Length ${enc.length} >>")
    w("\nstream\n"); out.write(enc); w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---- family A: xref-stream /Prev chains -------------------------------------
  def xrefStreamChains(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val w0 = randWord()
      var pdf = onePage(simpleContent(s"base $w0"), Map("/F1" -> 5), Seq(courier(5)),
        useXrefStream = true,
        packIntoObjStm = if (i % 2 == 0) Set(1, 2, 5) else Set.empty)
      // base used ids 1..5 (+6 objstm, +7 xref) -> updates start at 8
      var nextId = 8
      val nUpdates = 1 + rnd.nextInt(3)
      (0 until nUpdates).foreach { u =>
        val newContent = simpleContent(s"update$u ${randWord()} ${randWord()}")
        val changed = Seq(ObjSpec(4, s"<< /Length ${newContent.length} >>", Some(newContent)))
        pdf = appendXrefStreamUpdate(pdf, changed, nextId, nextId + 1, 1)
        nextId += 1
      }
      dump(outDir, f"xschain_$i%03d", pdf)
    }
  }

  // ---- family B: hybrid classic base + xref-stream updates --------------------
  def hybridChains(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      var pdf = onePage(simpleContent(s"classic ${randWord()}"), Map("/F1" -> 5), Seq(courier(5)))
      var nextId = 6
      (0 to rnd.nextInt(2)).foreach { u =>
        val newContent = simpleContent(s"xsup$u ${randWord()}")
        pdf = appendXrefStreamUpdate(pdf,
          Seq(ObjSpec(4, s"<< /Length ${newContent.length} >>", Some(newContent))),
          nextId, nextId + 1, 1)
        nextId += 1
      }
      dump(outDir, f"hybrid_$i%03d", pdf)
    }
  }

  // ---- family C: encrypted dependent streams ----------------------------------
  def encryptedDependents(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 37 + j * 19 + 11) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      // ToUnicode cmap (9), Form XObject (20): each encrypted with its own key
      val covered = (0x41 to 0x5a).filter(_ => rnd.nextBoolean()).take(6 + rnd.nextInt(10))
      val cmapPlain = bytes(toUnicodeCMap(covered.map(c =>
        c -> new String(Character.toChars(0x100 + rnd.nextInt(0x800))))))
      val formPlain = bytes(s"BT\n/F2 9 Tf\n40 40 Td\n(${randWord()} form) Tj\nET\n")
      val hexShows = (0 until 6 + rnd.nextInt(8))
        .map(_ => covered(rnd.nextInt(covered.length)))
        .map(c => f"$c%02x").mkString
      val contentPlain = bytes(
        s"BT\n/F1 11 Tf\n60 700 Td\n<$hexShows> Tj\nET\n/X1 Do\n")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R /F2 7 0 R >> /XObject << /X1 20 0 R >> >> " +
          "/Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${enc.encrypt(4, 0, contentPlain).length} >>",
          Some(enc.encrypt(4, 0, contentPlain))),
        ObjSpec(5, enc.encryptDictBody),
        ObjSpec(6, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
          "/Encoding /WinAnsiEncoding /ToUnicode 9 0 R >>"),
        courier(7),
        ObjSpec(9, s"<< /Length ${enc.encrypt(9, 0, cmapPlain).length} >>",
          Some(enc.encrypt(9, 0, cmapPlain))),
        ObjSpec(20, "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
          s"/Resources << /Font << /F2 7 0 R >> >> /Length ${enc.encrypt(20, 0, formPlain).length} >>",
          Some(enc.encrypt(20, 0, formPlain))))
      dump(outDir, f"encdep_$i%03d",
        classicXref(objs, 1, s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"))
    }
  }

  // ---- family D: indirect /Length packed in ObjStm ----------------------------
  def objStmLength(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = simpleContent(s"len ${randWord()} ${randWord()}")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        // /Length -> indirect integer object 30, itself PACKED in the ObjStm
        ObjSpec(4, "<< /Length 30 0 R >>", Some(content)),
        courier(5),
        ObjSpec(30, s"${content.length}")) // bare integer object
      dump(outDir, f"objlen_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 5, 30)))
    }
  }

  // ======== round 10 (seed 20261010) ==============================
  // Round-10 differential fuzz vs the reference binary — two compositions
  // no earlier round exercised:
  //
  //  A. VERTICAL writing mode mixed with horizontal in one page: Type0
  //     fonts with /Encoding /Identity-V next to /Identity-H and a
  //     Standard-14 font, interleaved across BT/ET blocks with Td/TD/Tm/T*
  //     moves, TJ kern arrays and the ' operator. The reference DROPS
  //     vertical-baseline chunks (coordinates.cc:87; the encoding-name
  //     membership list converter_data.cc decides verticality) — the drop
  //     has unit pins but was never fuzzed compositionally against layout
  //     assembly (which lines/boxes survive when half the shows vanish).
  //
  //  B. ENCRYPTED Type1 FontFile streams: the embedded font program
  //     (`dup <code> /<name> put` tokens, font_file.cc:26-57) decrypted
  //     with its own per-object key before the token scan
  //     (pages_extractor.cc passes decrypt_data to get_FontFile like
  //     FontFile2), combined randomly with /Differences on the same font
  //     (precedence) and with the whole font dict packed in an ENCRYPTED
  //     ObjStm under an xref stream (objects decrypt via id2obj_stm path,
  //     object_storage.cc:58). RC4 /R2, /R3 and AESV2 rotate.

  // ---- family A: vertical x horizontal interleave ------------------------------

  /** 2-byte Identity codes in stable BMP ranges (ASCII letters + Latin
    * Extended) — raw UTF-16BE on both engines, no charset table in play */
  private def cidHex(nCodes: Int): String =
    (0 until nCodes).map { _ =>
      val c = if (rnd.nextBoolean()) 0x41 + rnd.nextInt(26) else 0xC0 + rnd.nextInt(0xBF)
      f"$c%04x"
    }.mkString

  private def type0(id: Int, descId: Int, encoding: String, dw: Int, w: String): Seq[ObjSpec] = Seq(
    ObjSpec(id, s"<< /Type /Font /Subtype /Type0 /BaseFont /Fuzz-CID " +
      s"/Encoding $encoding /DescendantFonts [$descId 0 R] >>"),
    ObjSpec(descId, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fuzz-CID " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      s"/DW $dw /W [$w] >>"))

  def verticalMix(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val wArr = (0 to 1 + rnd.nextInt(3)).map { _ =>
        val s = 0x41 + rnd.nextInt(30)
        s"$s ${s + rnd.nextInt(20)} ${300 + rnd.nextInt(800)}"
      }.mkString(" ")
      val fonts =
        type0(5, 7, "/Identity-H", 500 + rnd.nextInt(600), wArr) ++
          type0(6, 8, "/Identity-V", 500 + rnd.nextInt(600), wArr) ++
          Seq(courier(9))
      val sb = new StringBuilder
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        sb.append("BT\n")
        if (rnd.nextBoolean())
          sb.append(s"${1 + rnd.nextInt(2)} 0 0 ${1 + rnd.nextInt(2)} " +
            s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Tm\n")
        else
          sb.append(s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td\n")
        sb.append(s"${10 + rnd.nextInt(6)} TL\n")
        (0 to 2 + rnd.nextInt(4)).foreach { _ =>
          val font = rnd.nextInt(3) match {
            case 0 => "/FH"; case 1 => "/FV"; case _ => "/F1"
          }
          sb.append(s"$font ${9 + rnd.nextInt(6)} Tf\n")
          val showOp = rnd.nextInt(4)
          if (font == "/F1") {
            // single-byte standard font interleaved between CID shows
            showOp match {
              case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
              case 1 => sb.append(s"[(${randWord()}) ${-100 - rnd.nextInt(300)} (${randWord()})] TJ\n")
              case _ => sb.append(s"(${randWord()}) '\n")
            }
          } else {
            showOp match {
              case 0 => sb.append(s"<${cidHex(2 + rnd.nextInt(8))}> Tj\n")
              case 1 => sb.append(s"[<${cidHex(1 + rnd.nextInt(4))}> ${-80 - rnd.nextInt(200)} " +
                s"<${cidHex(1 + rnd.nextInt(4))}>] TJ\n")
              case _ => sb.append(s"<${cidHex(2 + rnd.nextInt(5))}> '\n")
            }
          }
          rnd.nextInt(3) match {
            case 0 => sb.append(s"0 ${-11 - rnd.nextInt(5)} Td\n")
            case 1 => sb.append("T*\n")
            case _ => sb.append(s"${5 + rnd.nextInt(30)} ${-8 - rnd.nextInt(8)} TD\n")
          }
        }
        sb.append("ET\n")
      }
      dump(outDir, f"vert_$i%03d",
        onePage(bytes(sb.toString), Map("/FH" -> 5, "/FV" -> 6, "/F1" -> 9), fonts))
    }
  }

  // ---- family B: encrypted Type1 FontFile --------------------------------------

  def encryptedFontFile(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 41 + j * 23 + 7) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      // font program: random dup-token mappings over printable codes
      val glyphNames = Seq("A", "B", "C", "comma", "period", "space", "question",
        "zero", "one", "two", "at", "dollar")
      val mappings = (0 to 4 + rnd.nextInt(8)).map(_ =>
        (0x21 + rnd.nextInt(0x5d)) -> glyphNames(rnd.nextInt(glyphNames.length)))
      val ffPlain = type1FontProgram(mappings)
      val ffEnc = enc.encrypt(8, 0, ffPlain)
      // sometimes add /Differences on the SAME font (precedence vs FontFile)
      val diffEntry =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(3)).map(_ =>
            s"${0x41 + rnd.nextInt(26)} /${glyphNames(rnd.nextInt(glyphNames.length))}")
          s"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
            s"/Differences [${d.mkString(" ")}] >> "
        } else ""
      val contentPlain = bytes((0 to 2 + rnd.nextInt(4)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${120 + rnd.nextInt(550)} Td\n" +
          s"(${randWord()} ${randWord()} ${randWord()}) Tj\nET\n"
      }.mkString)
      val contentEnc = enc.encrypt(4, 0, contentPlain)
      val fontObjs = Seq(
        ObjSpec(6, "<< /Type /Font /Subtype /Type1 /BaseFont /FixtureT1 " +
          s"/FirstChar 0 $diffEntry/FontDescriptor 7 0 R >>"),
        ObjSpec(7, "<< /Type /FontDescriptor /FontName /FixtureT1 /Flags 4 " +
          "/FontBBox [0 -200 1000 900] /Ascent 700 /Descent -200 /FontFile 8 0 R >>"),
        ObjSpec(8, s"<< /Length ${ffEnc.length} >>", Some(ffEnc)))
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${contentEnc.length} >>", Some(contentEnc)),
        ObjSpec(5, enc.encryptDictBody)) ++ fontObjs
      val trailerExtra = s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"
      val pdf =
        if (i % 2 == 0) classicXref(objs, 1, trailerExtra)
        else
          // font/descriptor dicts packed in an ENCRYPTED ObjStm (id 9 =
          // maxId+1) under an xref stream; FontFile stays a direct stream
          xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 6, 7),
            extraTrailer = trailerExtra,
            objStmTransform = raw => enc.encrypt(9, 0, raw))
      dump(outDir, f"encff_$i%03d", pdf)
    }
  }

  // ======== round 11 (seed 20261111) ==============================
  // Round-11 differential fuzz vs the reference binary — the two remaining
  // interpreter paths with unit pins but no fuzz family:
  //
  //  A. INLINE IMAGE SKIP (`BI .. ID .. EI`, pages_extractor.cc:788-801):
  //     the skip is a raw scan for "EI" followed by blank-or-EOF from the
  //     position right after the BI token. Adversarial payloads plant "EI"
  //     NOT followed by blank (must be scanned past), "EI" as the very last
  //     bytes (EOF terminator branch), nested "BI" inside the data, and
  //     unterminated images (rest of the stream is swallowed — any later
  //     text must be lost IDENTICALLY). Text shows surround every image so
  //     a skip off-by-one shifts visible output.
  //
  //  B. TYPE3 FONTS: random /FontMatrix scale values (the a/d entries feed
  //     the width scale directly instead of the 0.001 constant,
  //     fonts.cc via get_font_scales), random /Widths + /FirstChar windows,
  //     /Differences remapping over the Standard base, interleaved with a
  //     Standard-14 font — FontMatrix-scaled advances shift bboxes and can
  //     reorder layout boxes, so layout assembly is exercised, not just
  //     glyph decode.

  // ---- family A: inline image skip ---------------------------------------------

  /** image payload with planted traps: embedded "EI" always followed by a
    * NON-blank byte, optional nested "BI", final real "EI" + blank unless
    * `unterminated` */
  private def imageData(unterminated: Boolean): String = {
    val sb = new StringBuilder
    sb.append(s"/W ${1 + rnd.nextInt(16)} /H ${1 + rnd.nextInt(16)} /BPC 8 /CS /RGB ID ")
    (0 to 2 + rnd.nextInt(6)).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 => sb.append("EI").append(('!' + rnd.nextInt(90)).toChar) // fake: EI + non-blank
        case 1 => sb.append("BI ") // nested decoy
        case 2 => sb.append((0 until 4 + rnd.nextInt(12))
          .map(_ => ('#' + rnd.nextInt(80)).toChar).mkString)
        case _ => sb.append("E").append(('A' + rnd.nextInt(26)).toChar) // near-miss
      }
    }
    if (!unterminated) sb.append(if (rnd.nextBoolean()) "EI\n" else "EI ")
    sb.toString
  }

  def inlineImages(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      val blocks = 2 + rnd.nextInt(4)
      // docs rotate through three terminator regimes:
      //  i%5==0: an UNTERMINATED image mid-stream — all later text (which
      //          IS generated) must be swallowed identically;
      //  i%5==1: the content stream ends with "EI" as its very last bytes
      //          (idx+2 == length: the EOF branch of the skip scanner);
      //  else:   every image terminated by EI+blank mid-stream.
      val cut = if (i % 5 == 0) rnd.nextInt(blocks) else -1
      var b = 0
      while (b < blocks) {
        sb.append(s"BT\n/F1 ${9 + rnd.nextInt(6)} Tf\n" +
          s"${50 + rnd.nextInt(300)} ${700 - b * 60 - rnd.nextInt(20)} Td\n" +
          s"(${randWord()} ${randWord()} before$b) Tj\nET\n")
        if (b == cut) sb.append("BI ").append(imageData(unterminated = true))
        else sb.append("BI ").append(imageData(unterminated = false))
        // after-text is ALWAYS emitted: past an unterminated image it must
        // be lost byte-identically, past a terminated one it must survive
        sb.append(s"BT\n(${randWord()} after$b) Tj\nET\n")
        b += 1
      }
      if (i % 5 == 1) {
        // final image whose "EI" is the last 2 bytes of the stream
        sb.append("BI ").append(imageData(unterminated = true)).append("EI")
      }
      dump(outDir, f"binl_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family B: Type3 fonts ---------------------------------------------------

  def type3Fonts(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val first = 32 + rnd.nextInt(30)
      val last = first + 20 + rnd.nextInt(60)
      val widths = (first to last).map(_ => 200 + rnd.nextInt(900)).mkString(" ")
      // FontMatrix scale: around the canonical 0.001, sometimes wildly off
      def sc = rnd.nextInt(3) match {
        case 0 => "0.001"
        case 1 => f"0.00${1 + rnd.nextInt(9)}%s"
        case _ => f"0.0${1 + rnd.nextInt(9)}%s"
      }
      val diffs =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(4)).map(_ =>
            s"${first + rnd.nextInt(last - first)} /${"ABCZQ".charAt(rnd.nextInt(5))}")
          s"/Encoding << /Type /Encoding /Differences [${d.mkString(" ")}] >> "
        } else ""
      val t3 = ObjSpec(5,
        s"<< /Type /Font /Subtype /Type3 /FontMatrix [$sc 0 0 $sc 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar $first /LastChar $last /Widths [$widths] $diffs>>")
      val sb = new StringBuilder
      (0 to 2 + rnd.nextInt(4)).foreach { b =>
        val font = if (rnd.nextBoolean()) "/F1" else "/F2"
        sb.append(s"BT\n$font ${8 + rnd.nextInt(10)} Tf\n" +
          s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td\n")
        // codes inside and outside the /Widths window
        val txt = (0 to 3 + rnd.nextInt(8)).map { _ =>
          val c = first - 2 + rnd.nextInt(last - first + 6)
          f"${math.max(0x20, math.min(c, 0x7e))}%02x"
        }.mkString
        sb.append(s"<$txt> Tj\nET\n")
      }
      dump(outDir, f"t3_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5, "/F2" -> 6), Seq(t3, courier(6))))
    }
  }

  // ======== round 12 (seed 20261212) ==============================
  // Round-12 differential fuzz vs the reference binary — MULTI-PAGE
  // composition (every earlier text/layout family was single-page):
  //
  //  A. content streams SHARED between pages (one object referenced from
  //     several pages' /Contents — each page renders it independently
  //     under its own inherited state), /Contents ARRAYS with DUPLICATE
  //     refs inside one page (the reference's visited-set drops the second
  //     occurrence, pages_extractor.cc get_content), and array/scalar
  //     /Contents forms mixed across pages of one document;
  //
  //  B. per-page /Resources vs inherited-from-/Pages resources in the SAME
  //     document (different font mappings for the same /F1 name on
  //     different pages), empty /Contents arrays, and pages whose array
  //     mixes shared + private streams — page-boundary text assembly and
  //     per-page font-state isolation under one id2offsets table.

  private def textStream(tag: String): String =
    (0 to 1 + rnd.nextInt(3)).map { _ =>
      s"BT\n/F1 ${9 + rnd.nextInt(6)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(550)} Td\n" +
        s"(${randWord()} $tag ${randWord()}) Tj\nET\n"
    }.mkString

  def sharedContents(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val nPages = 2 + rnd.nextInt(4)
      val nStreams = 1 + rnd.nextInt(3) // fewer streams than pages => sharing
      val streamIds = (0 until nStreams).map(40 + _)
      val streamObjs = streamIds.map { id =>
        val c = bytes(textStream(s"s$id"))
        ObjSpec(id, s"<< /Length ${c.length} >>", Some(c))
      }
      // root /Pages carries inheritable /Resources half the time; pages
      // sometimes override with their own (different font object!)
      val rootHasRes = rnd.nextBoolean()
      val rootRes = if (rootHasRes) " /Resources << /Font << /F1 30 0 R >> >>" else ""
      val pageObjs = (0 until nPages).map { p =>
        val id = 3 + p
        val contents = rnd.nextInt(4) match {
          case 0 => // single shared ref
            s"${streamIds(rnd.nextInt(nStreams))} 0 R"
          case 1 => // array, possibly with DUPLICATE refs (visited-set)
            val picks = (0 to rnd.nextInt(3)).map(_ => streamIds(rnd.nextInt(nStreams)))
            s"[${picks.map(s => s"$s 0 R").mkString(" ")}]"
          case 2 => // empty array: blank page mid-document
            "[]"
          case _ => // array with every stream once
            s"[${streamIds.map(s => s"$s 0 R").mkString(" ")}]"
        }
        val ownRes =
          if (!rootHasRes || rnd.nextBoolean())
            s" /Resources << /Font << /F1 ${30 + 1 + (p % 2)} 0 R >> >>"
          else "" // inherit from the /Pages node
        ObjSpec(id, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]$ownRes " +
          s"/Contents $contents >>")
      }
      val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [$kids] /Count $nPages$rootRes >>")) ++
        pageObjs ++ streamObjs ++
        Seq(courier(30), helvetica(31), courier(32))
      dump(outDir, f"mpage_$i%03d", classicXref(objs, 1))
    }
  }

  // ======== round 13 (seed 20261313) ==============================
  // Round-13 differential fuzz vs the reference binary — compositions the
  // round-3 closing status listed as untouched:
  //
  //  A. TYPE3 FONTS UNDER ENCRYPTION: the Type3 dict's /FontMatrix width
  //     scaling + /Differences decode driven from an ENCRYPTED content
  //     stream (RC4 /R2, /R3, AESV2) — glyph decode and width math after
  //     the decrypt path;
  //
  //  B. INLINE IMAGES INSIDE FORM XOBJECTS: the BI..EI raw skip running
  //     within a form's content (its own stream, own position counter),
  //     forms nested two deep, with EI-decoy payloads and text before/
  //     after the image inside the form — a skip overrun inside a form
  //     corrupts the form's remaining shows, not the page's;
  //
  //  C. MULTI-HOP COMPRESSED-OBJECT chasing under an xref stream: the page
  //     dict, an INDIRECT /Resources dict, and the font dict it references
  //     are all ObjStm-packed (single ObjStm — the fixture builder packs
  //     one container; the chase page -> /Resources -> font still resolves
  //     each hop through id2obj_stm rather than direct offsets, which is
  //     the code path under test).

  // ---- family A: encrypted Type3 ----------------------------------------------

  def encryptedType3(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 53 + j * 29 + 3) & 0xff).toByte)
      val enc = rotatingEnc(i, docId)
      val first = 32 + rnd.nextInt(20)
      val last = first + 30 + rnd.nextInt(50)
      val widths = (first to last).map(_ => 200 + rnd.nextInt(900)).mkString(" ")
      val sc = if (rnd.nextBoolean()) "0.001" else s"0.00${1 + rnd.nextInt(9)}"
      val diffs =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(3)).map(_ =>
            s"${first + rnd.nextInt(last - first)} /${"ABCZQ".charAt(rnd.nextInt(5))}")
          s"/Encoding << /Type /Encoding /Differences [${d.mkString(" ")}] >> "
        } else ""
      val contentPlain = bytes((0 to 2 + rnd.nextInt(3)).map { _ =>
        val codes = (0 to 3 + rnd.nextInt(6))
          .map(_ => f"${math.max(0x20, math.min(first - 1 + rnd.nextInt(last - first + 3), 0x7e))}%02x")
          .mkString
        s"BT\n/F1 ${8 + rnd.nextInt(8)} Tf\n${40 + rnd.nextInt(400)} ${120 + rnd.nextInt(550)} Td\n" +
          s"<$codes> Tj\nET\n"
      }.mkString)
      val contentEnc = enc.encrypt(4, 0, contentPlain)
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${contentEnc.length} >>", Some(contentEnc)),
        ObjSpec(5, enc.encryptDictBody),
        ObjSpec(6, s"<< /Type /Font /Subtype /Type3 /FontMatrix [$sc 0 0 $sc 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar $first /LastChar $last /Widths [$widths] $diffs>>"))
      dump(outDir, f"enct3_$i%03d",
        classicXref(objs, 1, s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"))
    }
  }

  // ---- family B: inline images inside Form XObjects ----------------------------

  private def imageBlock(): String = {
    val sb = new StringBuilder(s"BI /W ${1 + rnd.nextInt(8)} /H ${1 + rnd.nextInt(8)} /BPC 8 ID ")
    (0 to 1 + rnd.nextInt(4)).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 => sb.append("EI").append(('!' + rnd.nextInt(90)).toChar)
        case 1 => sb.append((0 until 3 + rnd.nextInt(10))
          .map(_ => ('#' + rnd.nextInt(80)).toChar).mkString)
        case _ => sb.append("E").append(('A' + rnd.nextInt(26)).toChar)
      }
    }
    sb.append(if (rnd.nextBoolean()) "EI\n" else "EI ")
    sb.toString
  }

  def formInlineImages(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      // inner form: text, image-with-decoys, text
      val inner = bytes(
        s"BT\n/F1 9 Tf\n20 30 Td\n(${randWord()} inner-pre) Tj\nET\n" +
          imageBlock() +
          s"BT\n/F1 9 Tf\n20 18 Td\n(${randWord()} inner-post) Tj\nET\n")
      // outer form: text, image, invoke inner, image, text
      val outer = bytes(
        s"BT\n/F1 10 Tf\n30 60 Td\n(${randWord()} outer-pre) Tj\nET\n" +
          imageBlock() +
          "/X2 Do\n" +
          (if (rnd.nextBoolean()) imageBlock() else "") +
          s"BT\n/F1 10 Tf\n30 44 Td\n(${randWord()} outer-post) Tj\nET\n")
      val page = bytes(
        s"BT\n/F1 11 Tf\n60 700 Td\n(${randWord()} page-pre) Tj\nET\n" +
          imageBlock() +
          "/X1 Do\n" +
          s"BT\n/F1 11 Tf\n60 660 Td\n(${randWord()} page-post) Tj\nET\n")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> /XObject << /X1 10 0 R >> >> " +
          "/Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${page.length} >>", Some(page)),
        courier(6),
        ObjSpec(10, "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> /XObject << /X2 11 0 R >> >> " +
          s"/Length ${outer.length} >>", Some(outer)),
        ObjSpec(11, "<< /Type /XObject /Subtype /Form /BBox [0 0 300 100] " +
          s"/Resources << /Font << /F1 6 0 R >> >> /Length ${inner.length} >>", Some(inner)))
      dump(outDir, f"formbi_$i%03d", classicXref(objs, 1))
    }
  }

  // ---- family C: cross-ObjStm reference chasing --------------------------------

  def crossObjStm(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 1 + rnd.nextInt(3)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
          s"(${randWord()} ${randWord()} cross) Tj\nET\n"
      }.mkString)
      // page/catalog dicts -> ObjStm-1; the font dict they reference ->
      // packed among ObjStm-2's objects via a SECOND xrefStream builder
      // pass is not expressible with the single-ObjStm builder, so: pack
      // catalog+pages+page AND the font in ONE ObjStm but reference the
      // font INDIRECTLY from an ObjStm-packed intermediate dict (2-hop
      // compressed-object chase: page -> /Resources in ObjStm -> font in
      // ObjStm)
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources 7 0 R /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
        ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"), // indirect /Resources, packed
        (if (i % 2 == 0) courier(8) else helvetica(8)))
      dump(outDir, f"xobjstm_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 7, 8)))
    }
  }

  // ======== round 14 (seed 20261414) ==============================
  // Round-14 differential fuzz vs the reference binary — objects spread
  // across TWO SIBLING /ObjStm containers (the gap round 13's single-
  // container family left open): the page tree lives in ObjStm-1 while the
  // dicts it references (/Resources, fonts, CID descendants) live in
  // ObjStm-2, so every reference chase crosses containers — id2obj_stm
  // must resolve members of BOTH streams and follow links between them.
  // Rotates three reference topologies per seed.

  def twoSiblingObjStm(outDir: String, n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 1 + rnd.nextInt(3)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
          s"(${randWord()} ${randWord()} sibling) Tj\nET\n"
      }.mkString)
      val (objs, set1, set2) = (i % 3) match {
        case 0 =>
          // tree in ObjStm-1; indirect /Resources + font in ObjStm-2
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources 7 0 R /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
            ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"),
            courier(8)), Set(1, 2, 3), Set(7, 8))
        case 1 =>
          // alternate split: catalog+page in ObjStm-2, pages node +
          // resources in ObjStm-1 (chases bounce 2 -> 1 -> 2 -> 1)
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources 7 0 R /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
            ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"),
            helvetica(8)), Set(2, 7), Set(1, 3, 8))
        case _ =>
          // Type0 CID font whose DESCENDANT lives in the other container
          val cid = bytes(cidContent())
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources << /Font << /F1 8 0 R >> >> /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${cid.length} >>", Some(cid)),
            ObjSpec(8, "<< /Type /Font /Subtype /Type0 /BaseFont /Sib-CID " +
              "/Encoding /Identity-H /DescendantFonts [9 0 R] >>"),
            ObjSpec(9, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Sib-CID " +
              "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
              s"/DW ${500 + rnd.nextInt(600)} /W [ 65 90 ${300 + rnd.nextInt(700)} ] >>"))
            , Set(1, 2, 3, 8), Set(9))
      }
      dump(outDir, f"sib_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = set1, packIntoObjStm2 = set2))
    }
  }

  private def cidContent(): String =
    (0 to 1 + rnd.nextInt(3)).map { _ =>
      val codes = (0 to 3 + rnd.nextInt(6)).map(_ => f"${0x41 + rnd.nextInt(26)}%04x").mkString
      s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
        s"<$codes> Tj\nET\n"
    }.mkString
}
