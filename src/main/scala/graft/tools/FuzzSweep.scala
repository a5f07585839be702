package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The differential-fuzz population: seeded generators that dump
  * (doc.pdf, doc.mine) pairs. A kernel change is proven self-differentially
  * over it — generate once, copy, `FuzzSweep redump` the copy with the
  * changed kernel, `diff -r` the two — and, where the C++ reference builds,
  * `tools/refverify/compare.sh <dir>` byte-compares the same pairs.
  *
  * {{{
  *   FuzzSweep <outDir> <seed> <family[:n]>...   generate; n defaults per family
  *   FuzzSweep redump <dir>                      re-extract every *.pdf in place
  * }}}
  *
  * All families consume ONE `Random(seed)` in command-line order, so a
  * population is a pure function of (seed, family list). The populations
  * BASELINE.md records per round regenerate byte-identically from:
  *
  * {{{
  *   round 1 state   20260816  textState
  *   round 1 layout  777       layoutStress
  *   round 1 CJK     (any)     cjkCharsets
  *   round 2  20260817  nestedForms deepPrevChains filtersAndPredictors objStmFonts
  *                      multiByteToUnicode bfrangeArrayForm ttFormats garbageTokens
  *   round 3  20260818  encryptedState type3Matrices rotatedDense boxBoundary extremeState
  *   round 4  20260819  nestedPages escapeStress hugeTJ comments
  *   round 5  20260820  cidWidths corruption
  *   round 6  20260821  operandConfusion malformedDicts
  *   round 7  20260822  precedence rotateInheritance
  *   round 8  20260830  encryptedObjStm rotatedForms ttFormat2 encryptedGarbage
  *   round 9  20260909  xrefStreamChains hybridChains encryptedDependents objStmLength
  *   round 10 20261010  verticalMix encryptedFontFile
  *   round 11 20261111  inlineImages type3Fonts
  *   round 12 20261212  sharedContents
  *   round 13 20261313  encryptedType3 formInlineImages crossObjStm
  *   round 14 20261414  twoSiblingObjStm
  * }}}
  *
  * Two family pairs share a file prefix (type3Matrices/type3Fonts write
  * t3_*, textState/layoutStress write fz_*); a sweep refuses to write one
  * name twice, so run such pairs into separate out dirs.
  */
object FuzzSweep {

  private[tools] val ErrPrefix = "KERNEL-ERR "

  /** The .mine bytes for one pdf: the extracted text, or the single line
    * "KERNEL-ERR <exception class>". compare.sh and the agree-on-error loop
    * key on this prefix, and this is the only place it is written. Kernel
    * errors are captured, never thrown, so every pdf gets a comparable
    * .mine. */
  def mine(pdf: Array[Byte]): Array[Byte] =
    try graft.core.pdf.PdfExtract.pdf2txt(pdf)
    catch { case e: Throwable => (ErrPrefix + e.getClass.getName).getBytes }

  def dump(outDir: String, name: String, pdf: Array[Byte]): Unit = {
    Files.write(Paths.get(s"$outDir/$name.pdf"), pdf)
    Files.write(Paths.get(s"$outDir/$name.mine"), mine(pdf))
  }

  /** rewrite the .mine of every *.pdf in `dir` with the current kernel */
  def redump(dir: Path): Int = {
    val listing = Files.list(dir)
    val pdfs =
      try listing.iterator().asScala.filter(_.toString.endsWith(".pdf")).toVector
      finally listing.close()
    pdfs.foreach { p =>
      Files.write(Paths.get(p.toString.stripSuffix(".pdf") + ".mine"), mine(Files.readAllBytes(p)))
    }
    pdfs.size
  }

  /** named CMap -> JDK charset rows driving cjkCharsets (one fixture each) */
  private[tools] val cjkEntries: Vector[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/cmap_charsets.tsv"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }

  private type Body = (FuzzFamilies, String, Int) => Unit

  /** (name, default count, body); a default is the family's count in the
    * round that introduced it */
  private[tools] val families: Seq[(String, Int, Body)] = Seq(
    ("textState", 300, _.textState(_, _)),
    ("layoutStress", 300, _.layoutStress(_, _)),
    ("cjkCharsets", cjkEntries.size, _.cjkCharsets(_, _)),
    ("nestedForms", 200, _.nestedForms(_, _)),
    ("deepPrevChains", 150, _.deepPrevChains(_, _)),
    ("filtersAndPredictors", 250, _.filtersAndPredictors(_, _)),
    ("objStmFonts", 150, _.objStmFonts(_, _)),
    ("multiByteToUnicode", 150, _.multiByteToUnicode(_, _)),
    ("bfrangeArrayForm", 100, _.bfrangeArrayForm(_, _)),
    ("ttFormats", 150, _.ttFormats(_, _)),
    ("garbageTokens", 200, _.garbageTokens(_, _)),
    ("encryptedState", 150, _.encryptedState(_, _)),
    ("type3Matrices", 100, _.type3Matrices(_, _)),
    ("rotatedDense", 120, _.rotatedDense(_, _)),
    ("boxBoundary", 10, _.boxBoundary(_, _)),
    ("extremeState", 120, _.extremeState(_, _)),
    ("nestedPages", 150, _.nestedPages(_, _)),
    ("escapeStress", 150, _.escapeStress(_, _)),
    ("hugeTJ", 100, _.hugeTJ(_, _)),
    ("comments", 100, _.comments(_, _)),
    ("cidWidths", 200, _.cidWidths(_, _)),
    ("corruption", 300, _.corruption(_, _)),
    ("operandConfusion", 300, _.operandConfusion(_, _)),
    ("malformedDicts", 200, _.malformedDicts(_, _)),
    ("precedence", 300, _.precedence(_, _)),
    ("rotateInheritance", 200, _.rotateInheritance(_, _)),
    ("encryptedObjStm", 150, _.encryptedObjStm(_, _)),
    ("rotatedForms", 120, _.rotatedForms(_, _)),
    ("ttFormat2", 130, _.ttFormat2(_, _)),
    ("encryptedGarbage", 100, _.encryptedGarbage(_, _)),
    ("xrefStreamChains", 150, _.xrefStreamChains(_, _)),
    ("hybridChains", 120, _.hybridChains(_, _)),
    ("encryptedDependents", 150, _.encryptedDependents(_, _)),
    ("objStmLength", 80, _.objStmLength(_, _)),
    ("verticalMix", 250, _.verticalMix(_, _)),
    ("encryptedFontFile", 250, _.encryptedFontFile(_, _)),
    ("inlineImages", 250, _.inlineImages(_, _)),
    ("type3Fonts", 250, _.type3Fonts(_, _)),
    ("sharedContents", 500, _.sharedContents(_, _)),
    ("encryptedType3", 170, _.encryptedType3(_, _)),
    ("formInlineImages", 170, _.formInlineImages(_, _)),
    ("crossObjStm", 160, _.crossObjStm(_, _)),
    ("twoSiblingObjStm", 500, _.twoSiblingObjStm(_, _)))

  /** generate `specs` ("family" or "family:n") into `outDir`; returns the
    * number of docs written. Every spec is resolved before anything is
    * written. */
  def sweep(outDir: String, seed: Long, specs: Seq[String]): Int = {
    val byName = families.map(f => f._1 -> f).toMap
    val plan = specs.map { spec =>
      val (name, n) = spec.split(":", 2) match {
        case Array(f, k) => (f, Some(k.toInt))
        case Array(f) => (f, None)
      }
      val (_, default, body) = byName.getOrElse(name, sys.error(s"unknown family '$name'\n$usage"))
      (body, n.getOrElse(default))
    }
    Files.createDirectories(Paths.get(outDir))
    val gen = new FuzzFamilies(new scala.util.Random(seed))
    plan.foreach { case (body, n) => body(gen, outDir, n) }
    gen.written
  }

  private def usage: String =
    "usage: FuzzSweep <outDir> <seed> <family[:n]>... | FuzzSweep redump <dir>\nfamilies (default n): " +
      families.map { case (name, n, _) => s"$name($n)" }.mkString(" ")

  def main(args: Array[String]): Unit = args.toList match {
    case "redump" :: dir :: Nil =>
      println(s"redumped ${redump(Paths.get(dir))} in $dir")
    case outDir :: seed :: specs if specs.nonEmpty =>
      println(s"FuzzSweep dumped ${sweep(outDir, seed.toLong, specs)} docs to $outDir")
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }
}
