package graft

import graft.extract.HtmlExtract
import graft.webtext.WebtextGen
import org.apache.spark.sql.functions._

/** HTML-extraction goldens: byte-identical text per url across runs and
  * parallelism levels (the input-contract invariant), plus hand-built edge
  * cases (FIXTURES.md §6). */
class ExtractSpec extends SparkSpecBase {

  val cases: Seq[(String, String)] = Seq(
    ("<html><body>Hello <b>World</b></body></html>", "Hello World"),
    ("<p>a</p><script>var x = '<evil>';</script><p>b</p>", "a b"),
    ("<style>p { color: red; }</style>text", "text"),
    ("<!-- comment --><div>keep</div>", "keep"),
    ("a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;", "a&b <tag> \"q\" 's'"),
    ("multi   \n\t  space", "multi space"),
    ("&nbsp;lead trail&nbsp;", "lead trail"),
    ("<HTML><BODY ATTR=\"x\">CAPS</BODY></HTML>", "CAPS"),
    ("unterminated <tag", "unterminated <tag"), // no closing '>' — not a tag
    ("UTF-8 éü中文 ok", "UTF-8 éü中文 ok"),
    ("numeric &#65; entity", "numeric entity"),
    ("<script>nested <script>x</script></script>after", "after"))

  test("extractLocal handles the golden cases") {
    for ((html, want) <- cases)
      assert(HtmlExtract.extractLocal(html) == want, s"case: $html")
  }

  test("column pipeline agrees with extractLocal byte-for-byte") {
    import spark.implicits._
    val df = cases.map(_._1).toDF("html")
    val got = df.select(HtmlExtract.extract(col("html")).as("t")).as[String].collect()
    for (((html, _), g) <- cases.zip(got))
      assert(g == HtmlExtract.extractLocal(html), s"column/local diverge on: $html")
  }

  test("webtext generation is byte-identical across parallelism levels") {
    import spark.implicits._
    val a = WebtextGen.generate(spark, 200, 1)
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    val b = WebtextGen.generate(spark, 200, 7)
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._1).distinct.length == 200) // urls unique
  }

  test("fused html->mentions equals extract-then-bigram composition") {
    import spark.implicits._
    val web = WebtextGen.generate(spark, 200, 4)
    val fused = graft.pipeline.KgPipeline
      .extractMentionsFromHtml(web.selectExpr("url", "html"), "html", 1L)
      .as[(String, Long)].collect().toMap
    val composed = graft.pipeline.KgPipeline
      .extractMentions(web.select(HtmlExtract.extractBinary(col("html")).as("text")), "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(fused == composed)
  }

  test("scanner tokenization matches the column twin on non-ASCII text") {
    import spark.implicits._
    // the column twin lowers the WHOLE string (full case mapping: U+0130
    // 'İ' expands to 'i' + combining dot, a token boundary); per-char
    // Character.toLowerCase kept "İstanbul" one token — the column form
    // is the arbiter of the contract
    val samples = Seq(
      "İstanbul ÜRÜN ağaç table chair data",
      "ΑΣ σ table chair İ9 k9 data set",
      "crème BRÛLÉE data set vector table",
      "İİ Kİ data set table İ chair")
    val colForm = samples.toDF("text")
      .select(graft.pipeline.KgPipeline.mentionBigrams($"text").as("m"))
      .as[Seq[String]].collect()
    for ((s, expect) <- samples.zip(colForm)) {
      val fused = graft.extract.MentionScanner.mentionsFromText(s).toSeq
      assert(fused == expect, s"input '$s': fused=$fused column=$expect")
    }
  }

  /** The one-shot counters of both paths: the char path over the page's
    * text, and the path `extractMentionsFromHtml` picks over its bytes. */
  private val counters: Seq[(String, (String, graft.extract.MentionScanner.MentionCounts, Int,
      Iterator[(String, Long)] => Unit) => Boolean)] = {
    import graft.extract.MentionScanner
    Seq(
      "char path" -> ((html, s, cap, f) => MentionScanner.countMentionsInto(html, s, cap, f)),
      "page bytes" -> ((html, s, cap, f) =>
        MentionScanner.countPageInto(html.getBytes("UTF-8"), s, cap, f)))
  }

  test("intra-document state cap: a pathological page spills mid-document, counts stay exact") {
    import spark.implicits._
    import graft.extract.MentionScanner
    // ONE document with ~6k distinct bigrams against a 512-entry cap: the
    // between-documents check alone never fires (round-3 gap) — the spill
    // must trigger inside the document and the merged partials must equal
    // the uncapped counts
    val words = (0 until 6000).map(i => s"tok$i")
    val html = s"<html><body>${words.mkString(" ")} ${words.take(100).mkString(" ")}</body></html>"
    val uncapped = {
      val s = new MentionScanner.MentionCounts()
      MentionScanner.countMentionsInto(html, s)
      s.iterator.toMap
    }
    for ((path, countInto) <- counters) {
      val state = new MentionScanner.MentionCounts()
      var spills = 0
      val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val spilled = countInto(html, state, 512,
        it => { spills += 1; rows ++= it; assert(state.bigrams.size <= 512 + 64) })
      assert(spilled && spills >= 10, s"$path: spills=$spills")
      assert(state.bigrams.size < 512 + 64, s"$path: counter exceeded the cap after final doc")
      val merged = (rows ++ state.iterator).groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toMap
      assert(merged == uncapped, path)
    }
    // engine surface: capped distributed extraction equals the relational plan
    val df = Seq(html).toDF("html")
    val capped = graft.pipeline.KgPipeline
      .extractMentionsFromHtml(df, "html", 1L, maxStateEntries = 512)
      .as[(String, Long)].collect().toMap
    val relational = graft.pipeline.KgPipeline
      .extractMentions(df.select(HtmlExtract.extract(col("html")).as("text")), "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(capped == relational)
  }

  test("intra-document cap bounds the token DICT too (stopword-adjacent pathological doc)") {
    import spark.implicits._
    import graft.extract.MentionScanner
    // every bigram contains "the" ⇒ zero counter entries, but each xN is a
    // distinct token — without the dict-side check the intern table grows
    // with document length unchecked
    val words = (0 until 4000).flatMap(i => Seq("the", s"x$i"))
    val html = s"<p>${words.mkString(" ")}</p>"
    for ((path, countInto) <- counters) {
      val state = new MentionScanner.MentionCounts()
      var spills = 0
      val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      countInto(html, state, 512,
        it => { spills += 1; rows ++= it; assert(state.dict.size <= 512 + 64) })
      assert(spills >= 7, s"$path: spills=$spills")
      assert(state.dict.size < 512 + 64, path)
      assert((rows ++ state.iterator).isEmpty, path) // no valid bigrams in this doc
    }
    // engine surface: the capped scan streams its (empty) partials, no rows
    val rows = graft.pipeline.KgPipeline
      .extractMentionsFromHtml(Seq(html).toDF("html"), "html", 1L, maxStateEntries = 512)
      .count()
    assert(rows == 0)
  }

  test("capped scan of one partition mixing ASCII and non-ASCII pathological pages equals the relational plan") {
    import spark.implicits._
    // both paths pause and drain into the one per-partition state; the
    // non-ASCII pages take the char path (tokens with 'ö', 'İ' expanding
    // to "i" + U+0307, KELVIN SIGN lowering to 'k')
    val ascii = (0 until 3000).map(i => s"tok$i").mkString("<p>", " ", "</p>")
    val stops = (0 until 2000).flatMap(i => Seq("the", s"x$i")).mkString("<div>", " ", "</div>")
    val nonAscii = (0 until 3000).map(i => s"t\u00f6k$i \u0130w$i \u212Ak${i % 7}").mkString("<p>", " ", "</p>")
    val df = Seq(ascii, nonAscii, stops, ascii + " tail words", nonAscii)
      .toDF("html").repartition(1)
    assert(df.rdd.getNumPartitions == 1)
    val capped = graft.pipeline.KgPipeline
      .extractMentionsFromHtml(df, "html", 1L, maxStateEntries = 512)
      .as[(String, Long)].collect().toMap
    val relational = graft.pipeline.KgPipeline
      .extractMentions(df.select(HtmlExtract.extract(col("html")).as("text")), "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(capped.nonEmpty)
    assert(capped == relational)
  }

  /** Random all-ASCII markup pages: tag, comment, script/style, entity
    * (incl. `&AMP;` `&#;` `&#12;`), digit and stopword atoms, plus `extra`. */
  private def randomMarkupPages(seed: Long, n: Int, extra: Seq[String] = Nil): Iterator[String] = {
    val atoms = Vector(
      "<p>", "</P>", "<B>", "<div class=\"a b\">", "<BR/>", "<", ">", "<!--", "-->",
      "<!-- c -->", "<script", "<script>", "</SCRIPT>", "</script>", "<STYLE x>", "</style>",
      "<Style>", "&nbsp;", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&apos;", "&AMP;",
      "&#;", "&#12;", "&#65", "&", "#", ";", "table", "Join", "HASH", "scan", "x9",
      "42", "0", "7", "the", "of", "and", "a", " ", " ", "\n", "\t", "-", "'", "/") ++ extra
    val rnd = new scala.util.Random(seed)
    Iterator.fill(n)(Seq.fill(1 + rnd.nextInt(40))(atoms(rnd.nextInt(atoms.size))).mkString)
  }

  /** A state's counts and its dictionary in id (first-seen) order. */
  private def countsAndDict(state: graft.extract.MentionScanner.MentionCounts) =
    (state.iterator.toMap, (0 until state.dict.size).map(state.dict.token))

  test("byte loop equals the char path page by page on random ASCII markup pages") {
    import graft.extract.MentionScanner
    var compared = 0
    for (page <- randomMarkupPages(20261017L, 20000)) {
      val bytes = page.getBytes("UTF-8")
      assert(bytes.forall(_ >= 0))
      val byChars = new MentionScanner.MentionCounts()
      MentionScanner.countMentionsInto(page, byChars)
      val byBytes = new MentionScanner.MentionCounts()
      MentionScanner.countPageInto(bytes, byBytes)
      assert(countsAndDict(byBytes) == countsAndDict(byChars), s"page: $page")
      if (byChars.bigrams.size > 0) compared += 1
    }
    assert(compared > 5000, s"only $compared pages had a bigram")
  }

  test("tokens of 1 to 64 bytes count alike on both paths, within a page and across pages") {
    import graft.extract.MentionScanner
    // mixed case and digits; packed keys hold up to 8 bytes, longer tokens
    // are hashed — "TabLe123" (8) and "tABle1234" (9) share a prefix
    val alphabet = "aQ7zK0mX9bR3"
    def word(len: Int, salt: Int): String =
      Seq.tabulate(len)(j => alphabet((j * 5 + salt) % alphabet.length)).mkString
    val words = for (len <- Seq(1, 7, 8, 9, 16, 64); salt <- 0 until 3) yield word(len, salt)
    val eight = "TabLe123"
    val nine = "tABle1234"
    val pages = Seq(
      (words ++ words.reverse).mkString(" "),
      s"$eight $nine $eight $nine ${nine.toUpperCase} ${eight.toLowerCase} the $nine",
      words.map(w => s"<b>$w</b>").mkString("<p>", "&amp;", "</p>"),
      s"<i>$eight</i>$nine<!-- $eight --><P CLASS=x>$nine&nbsp;${words(9)}</P>$eight",
      s"${words.mkString("-")}<script>$nine</script>$nine ${"Z9" * 40} ${"z9" * 40}")
    def reference(page: String) = {
      val text = HtmlExtract.extractLocal(page)
      (MentionScanner.mentionsFromText(text).groupBy(identity).view.mapValues(_.length.toLong).toMap,
        text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq)
    }
    for (page <- pages) {
      val byChars = new MentionScanner.MentionCounts()
      MentionScanner.countMentionsInto(page, byChars)
      val byBytes = new MentionScanner.MentionCounts()
      MentionScanner.countPageInto(page.getBytes("UTF-8"), byBytes)
      assert(countsAndDict(byBytes) == countsAndDict(byChars), s"page: $page")
      assert(countsAndDict(byChars) == reference(page), s"page: $page")
    }
    val byChars = new MentionScanner.MentionCounts()
    val byBytes = new MentionScanner.MentionCounts()
    for (page <- pages) {
      MentionScanner.countMentionsInto(page, byChars)
      MentionScanner.countPageInto(page.getBytes("UTF-8"), byBytes)
    }
    assert(countsAndDict(byBytes) == countsAndDict(byChars))
    assert(byBytes.dict.size == pages.flatMap(p => reference(p)._2).distinct.size)
    assert(byBytes.iterator.toMap == pages.flatMap(p => reference(p)._1)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
    assert(byBytes.iterator.toMap.apply(s"${eight.toLowerCase} ${nine.toLowerCase}") == 3)
  }

  test("random caps: drained partials plus the final state equal the uncapped counts on both paths") {
    import graft.extract.MentionScanner
    // blocks of pages share one scanner and state, as a partition does;
    // long tokens join the atoms so both key kinds pause and carry over
    val pages = randomMarkupPages(20261018L, 20000,
      Seq("Customer", "TabLe1234", "abcdefghijklmnop", "Q" * 64)).toVector
    val rnd = new scala.util.Random(20261019L)
    var from = 0
    val pauses = Array(0, 0) // char path, byte path
    while (from < pages.size) {
      val block = pages.slice(from, from + 1 + rnd.nextInt(20))
      from += block.size
      val cap = 1 + rnd.nextInt(64)
      val uncapped = new MentionScanner.MentionCounts()
      block.foreach(p => MentionScanner.countMentionsInto(p, uncapped))
      for (bytePath <- Seq(true, false)) {
        val state = new MentionScanner.MentionCounts()
        val scan = new MentionScanner.PageScan(state, cap)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        for (p <- block) {
          if (bytePath) scan.start(p.getBytes("UTF-8")) else scan.startChars(p)
          while (scan.resume()) {
            pauses(if (bytePath) 1 else 0) += 1
            if (bytePath) {
              // a bigram needs both its tokens, so cap 1 holds 2 dict entries
              assert(state.dict.size <= math.max(cap, 2), s"cap $cap dict ${state.dict.size}")
              assert(state.bigrams.size <= cap, s"cap $cap bigrams ${state.bigrams.size}")
            } else {
              assert(state.dict.size <= cap + 64 && state.bigrams.size <= cap + 64)
            }
            rows ++= state.iterator
            scan.drainReset()
          }
        }
        val merged = (rows ++ state.iterator).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        assert(merged == uncapped.iterator.toMap, s"cap $cap, byte path $bytePath: $block")
      }
    }
    assert(pauses.forall(_ > 2000), s"pauses: ${pauses.toSeq}")
  }

  test("a state cap below 1 is refused") {
    import spark.implicits._
    import graft.extract.MentionScanner
    intercept[IllegalArgumentException](
      MentionScanner.countPageInto("a b".getBytes("UTF-8"), new MentionScanner.MentionCounts(), 0))
    intercept[IllegalArgumentException](
      MentionScanner.countMentionsInto("a b", new MentionScanner.MentionCounts(), -1))
    intercept[IllegalArgumentException](graft.pipeline.KgPipeline
      .extractMentionsFromHtml(Seq("a b").toDF("html"), "html", 1L, maxStateEntries = 0))
  }

  test("pages with a non-ASCII byte keep the char path's tokens") {
    import spark.implicits._
    import graft.extract.MentionScanner
    // 'İ' lowercases to 'i', so <scrİpt> opens a script block in the char
    // scanner, and KELVIN SIGN lowercases to 'k': the byte rules would keep
    // "gamma delta" and split "key" — these pages must take the char path
    val pages = Seq(
      "<p>alpha beta</p><scr\u0130pt>gamma delta</scr\u0130pt><p>epsilon zeta</p>",
      "<p>\u212Aey join table scan</p><STYLE>theta iota</STYLE>hash join",
      "<p>alpha beta</p>&amp;table scan", // ASCII, in the same partitions
      "\u0130stanbul data set <b>key</b> value")
    val expected = pages.flatMap { p =>
      val s = new MentionScanner.MentionCounts()
      MentionScanner.countMentionsInto(p, s)
      s.iterator
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(!expected.contains("gamma delta") && expected.contains("key join"))
    val got = graft.pipeline.KgPipeline
      .extractMentionsFromHtml(pages.toDF("html"), "html", 1L)
      .as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("extracted text equals the generator's golden text column") {
    import spark.implicits._
    val web = WebtextGen.generate(spark, 100, 4)
    val mismatches = web
      .select(HtmlExtract.extractBinary(col("html")).as("got"), col("text"))
      .filter(col("got") =!= col("text")).count()
    assert(mismatches == 0)
  }
}
