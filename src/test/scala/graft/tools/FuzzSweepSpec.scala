package graft.tools

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class FuzzSweepSpec extends AnyFunSuite {

  private def files(dir: Path): Vector[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
    finally walk.close()
  }

  test("FuzzSweep: every family regenerates byte-identically and redumps to the same .mine") {
    val root = Files.createTempDirectory("graft-fuzzsweep")
    try {
      def generate(run: String): Path = {
        val out = root.resolve(run)
        FuzzSweep.families.foreach { case (name, _, _) =>
          val written = FuzzSweep.sweep(out.resolve(name).toString, 20261017L, Seq(s"$name:2"))
          assert(written == 2, s"$name wrote $written docs")
        }
        out
      }
      val a = generate("a")
      val b = generate("b")
      // the .mine of every generated pdf is its extracted text, or the
      // single line "KERNEL-ERR <class>" naming what the kernel threw
      files(a).filter(_.toString.endsWith(".mine")).foreach { m =>
        val pdf = Files.readAllBytes(Path.of(m.toString.stripSuffix(".mine") + ".pdf"))
        val expected =
          try graft.core.pdf.PdfExtract.pdf2txt(pdf)
          catch { case e: Throwable => (FuzzSweep.ErrPrefix + e.getClass.getName).getBytes }
        val got = Files.readAllBytes(m)
        assert(java.util.Arrays.equals(got, expected), s"$m is not the kernel's output")
        val text = new String(got, java.nio.charset.StandardCharsets.ISO_8859_1)
        if (text.startsWith(FuzzSweep.ErrPrefix))
          assert(text.matches("KERNEL-ERR [\\w.$]+"), s"$m: malformed error line")
      }
      // redump rewrites exactly the .mine files the sweep wrote
      FuzzSweep.families.foreach { case (name, _, _) =>
        val dir = b.resolve(name)
        files(dir).filter(_.toString.endsWith(".mine")).foreach(Files.delete)
        assert(FuzzSweep.redump(dir) == 2)
      }
      val (fa, fb) = (files(a), files(b))
      assert(fa.map(a.relativize) == fb.map(b.relativize))
      assert(fa.size == 4 * FuzzSweep.families.size)
      fa.zip(fb).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)), s"$x differs")
      }
    } finally files(root).reverse.foreach(Files.delete)
  }
}
