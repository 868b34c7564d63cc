package graft

import graft.extract.MentionScanner
import graft.webtext.WebtextGen

/** Single-thread mention-kernel probe (BENCH/BASELINE.md §9s, §9u): counts
  * the WebtextGen pages 0-199,999 into one `MentionCounts` per pass with
  * `MentionScanner.countPageInto`, as one partition of
  * `KgPipeline.extractMentionsFromHtml` would. 12 passes; the first 2 are
  * warm-up and dropped, and the median of the other 10 is reported as
  * MB/s of html, with a digest of the counts (equal on every pass, else
  * the probe fails). No Spark session. Compare builds by alternating JVMs.
  * Usage: runMain graft.ExtractBench */
object ExtractBench {
  private final val Pages = 200000

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON output: '.' decimal separator regardless of host locale
    val html = Array.tabulate(Pages)(k => WebtextGen.pageFor(k.toLong)._3)
    val mb = html.iterator.map(_.length.toLong).sum / 1e6
    val passes = 12
    val warmup = 2
    val runs = (0 until passes).map { _ =>
      val state = new MentionScanner.MentionCounts()
      val t0 = System.nanoTime()
      var k = 0
      while (k < Pages) { MentionScanner.countPageInto(html(k), state); k += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, digest(state))
    }
    val digests = runs.map(_._2).distinct
    require(digests.size == 1, s"passes disagree on the counts: $digests")
    val timed = runs.drop(warmup).map(_._1)
    val sorted = timed.sorted
    val median = (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
    println(f"""{"extract_bench":{"pages":$Pages,"mb":$mb%.1f,""" +
      f""""median_s":$median%.3f,"mb_per_s":${mb / median}%.1f,""" +
      s""""passes_s":[${timed.map(s => f"$s%.3f").mkString(",")}],${digests.head}}}""")
  }

  /** Distinct mentions, total occurrences and an FNV-1a digest of the
    * sorted (mention, count) rows, as JSON fields. */
  private def digest(state: MentionScanner.MentionCounts): String = {
    val rows = state.iterator.toVector.sorted
    val h = graft.lexical.Tokenset.fnv1a64(rows.map { case (m, c) => s"$m\t$c" }.mkString("\n"))
    f""""mentions":${rows.size},"occurrences":${rows.map(_._2).sum},"digest":"$h%016x""""
  }
}
