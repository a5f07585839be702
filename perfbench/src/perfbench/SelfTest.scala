package perfbench

import java.sql.Timestamp

import graft.pipeline.{Corpus, ExtractJob, ExtractKernel}

/** The benchmark's own test: whale docs are pure functions of (seed, i),
  * sit in the 1–4 MiB band above the skew threshold, and extract to their
  * golden text; the kernel decomposition reproduces `PdfExtract.extract`.
  * Exits 1 on any failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = Seq.newBuilder[String]
    def check(ok: Boolean, msg: => String): Unit = if (!ok) failures += msg
    val spans = new Spans
    val kernel = new KernelPass(spans, 0)
    for (seed <- Seq(1L, 2L, 3L); i <- 0L until 6L) {
      val row = Whales.row(seed, i, new Timestamp(Whales.EPOCH_MS))
      val n = row.html.length
      check(n > ExtractJob.SKEW_THRESHOLD_BYTES && n >= Whales.MIN_BYTES - 4096 && n <= Whales.MAX_BYTES + 4096,
        s"whale seed=$seed i=$i has $n bytes")
      check(java.util.Arrays.equals(row.html, Whales.payload(seed, i)), s"whale seed=$seed i=$i is not deterministic")
      val out = ExtractKernel.extractOne(row)
      check(out.status == "ok", s"whale seed=$seed i=$i status ${out.status}")
      check(out.extracted_text == Whales.golden(seed, i),
        s"whale seed=$seed i=$i (${Whales.kindOf(i)}) differs from its golden text")
      kernel.add(row)
    }
    (0L until 300L).foreach(i => kernel.add(Corpus.row(7L)(i)))
    val bad = kernel.mismatches.result()
    check(bad.isEmpty, s"decomposed kernel differs from PdfExtract.extract on ${bad.mkString(", ")}")
    val m = kernel.metrics
    check(m("kernel.err_docs") == 0, s"${m("kernel.err_docs")} kernel errors")
    println(f"[selftest] 18 whales, 300 corpus docs; kernel.unaccounted_frac ${m("kernel.unaccounted_frac")}%.3f, ${spans.size} spans")
    val f = failures.result()
    f.foreach(msg => println(s"[selftest] FAIL: $msg"))
    println(if (f.isEmpty) "[selftest] ok" else s"[selftest] ${f.size} failures")
    sys.exit(if (f.isEmpty) 0 else 1)
  }
}
