package graft.extract

import graft.lexical.Tokenset

/** Fused per-partition mention detection: html → extracted text → lowercase
  * tokens → stopword-filtered word bigrams → counts, in one pass with no
  * intermediate columns. Equals `KgPipeline.mentionBigrams(HtmlExtract.extract(html))`
  * exactly (asserted in ExtractSpec) while skipping the text/lower/split
  * column materializations — extraction was allocation-bound, not CPU-bound,
  * at corpus scale.
  *
  * Two paths count a page, chosen per page by [[PageScan]]:
  *   - a page whose UTF-8 bytes are all < 0x80 is counted by one byte loop
  *     over the raw bytes ([[scanAscii]]): the [[HtmlScanner]] markup rules,
  *     tokens as contiguous byte runs hashed while scanning and interned by
  *     comparing the source range in place — no decoded String, no per-char
  *     sink call, no token builder;
  *   - any other page is decoded and goes through the char path
  *     ([[HtmlScanner.extractResumable]] + [[CountingSink]]). The byte rules
  *     would tokenize it differently: `Character.toLowerCase` maps U+0130
  *     'İ' to 'i' and U+212A KELVIN SIGN to 'k', so `<scrİpt>` opens a script
  *     block in the char scanner, and the column twin's full-string lowercase
  *     can expand one char into several (see [[loweredNonAscii]]).
  * Tokens are `[a-z0-9]+` on both paths, so both intern into one
  * [[TokenDict]] and count into one [[LongCounter]]. */
object MentionScanner {

  /** String-level lowercase of one non-ASCII char — the column twin lowers
    * the WHOLE document (`lower(text)`), and full case mapping can expand a
    * char to several (U+0130 'İ' → 'i' + combining dot U+0307): per-char
    * Character.toLowerCase cannot express that and kept "İstanbul" one
    * token where the column form splits ["i","stanbul"]. Context-sensitive
    * mappings (final sigma) differ from this per-char form only in chars
    * that are token separators either way, so token streams still match.
    * ASCII never reaches here (the sinks' fast path).
    * LOCALE CAVEAT (ADVICE r5): this path pins Locale.ROOT, but the column
    * twin (`lower(text)` → String.toLowerCase) uses the JVM DEFAULT locale
    * on non-ASCII strings — under e.g. a Turkish default locale the column
    * form maps 'I'→'ı' in mixed-ASCII/non-ASCII documents while this
    * scanner's ASCII fast path maps 'I'→'i', breaking the claimed
    * token-stream parity. Entry points that compare the two paths must pin
    * the JVM default locale to ROOT (Bench does via Locale.setDefault; do
    * the same in any new harness). */
  private[extract] def loweredNonAscii(c0: Char): String =
    String.valueOf(c0).toLowerCase(java.util.Locale.ROOT)

  /** Streaming bigram tokenizer: consumes extracted characters one at a
    * time; bigrams of consecutive [a-z0-9]+ tokens (lowercased), both
    * non-stopword — identical semantics to split(lower(text), "[^a-z0-9]+")
    * + zip_with + stopword filter. */
  private final class MentionSink extends HtmlScanner.CharSink {
    private val out = new scala.collection.mutable.ArrayBuffer[String]()
    private val tok = new java.lang.StringBuilder(24)
    private var prev: String = null
    override def accept(c0: Char): Unit = {
      if (c0 < 0x80) {
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { tok.append(c); () }
        else flushToken()
      } else {
        val low = loweredNonAscii(c0)
        var k = 0
        while (k < low.length) {
          val c = low.charAt(k)
          if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { tok.append(c); () }
          else flushToken()
          k += 1
        }
      }
    }
    private def flushToken(): Unit = {
      if (tok.length > 0) {
        val t = tok.toString
        tok.setLength(0)
        if (prev != null &&
          !Tokenset.Stopwords.contains(prev) && !Tokenset.Stopwords.contains(t))
          out += (prev + " " + t)
        prev = t
      }
    }
    def finish(): Array[String] = { flushToken(); out.toArray }
  }

  def mentionsFromText(text: String): Array[String] = {
    val sink = new MentionSink
    var i = 0
    val n = text.length
    while (i < n) { sink.accept(text.charAt(i)); i += 1 }
    sink.finish()
  }

  /** Per-partition token dictionary: interns each distinct token ONCE
    * (open addressing, compared against the char path's builder or the
    * byte loop's source range — no allocation on the hit path) and
    * precomputes its stopword flag. The corpus produces ~10⁹ token
    * occurrences per 10⁷ pages; without interning every occurrence
    * allocates a String + a bigram concat, and the resulting allocator
    * contention was the measured ceiling on 4→16-core scaling
    * (BENCH/BASELINE.md §1). Tokens are `[a-z0-9]+` on both paths, so an
    * entry is kept as its bytes, one per char. */
  final class TokenDict(capacity0: Int = 1 << 12) {
    private var cap = Integer.highestOneBit(math.max(capacity0, 16)) * 2
    private var slots = new Array[Int](cap) // 0 = empty, else entryIndex + 1
    private var entries = new Array[Array[Byte]](cap / 2)
    private var stops = new Array[Boolean](cap / 2)
    private var n = 0
    def size: Int = n
    /** Ids are append-only entry indices — STABLE across resizes. */
    def token(id: Int): String = new String(entries(id), java.nio.charset.StandardCharsets.ISO_8859_1)
    def isStop(id: Int): Boolean = stops(id)

    /** Intern from a plain String (overflow-spill re-intern of the
      * in-flight previous token — off the per-occurrence hot path). */
    def internString(s: String): Int = {
      val sb = new java.lang.StringBuilder(s.length)
      sb.append(s)
      intern(sb)
    }

    def intern(sb: java.lang.StringBuilder): Int = {
      if (n * 4 >= cap * 3) resize()
      var h = 0
      var i = 0
      val len = sb.length
      while (i < len) { h = h * 31 + sb.charAt(i); i += 1 }
      var slot = h & (cap - 1)
      while (true) {
        val e = slots(slot)
        if (e == 0) {
          val t = new Array[Byte](len)
          var k = 0
          while (k < len) { t(k) = sb.charAt(k).toByte; k += 1 }
          return insert(slot, t)
        }
        val t = entries(e - 1)
        if (t.length == len && {
          var k = 0
          while (k < len && t(k) == sb.charAt(k)) k += 1
          k == len
        }) return e - 1
        slot = (slot + 1) & (cap - 1)
      }
      -1 // unreachable
    }

    /** Intern the ASCII token `src[from, to)` folded through [[AsciiFold]],
      * given its hash over the folded bytes (`h = h * 31 + c`, the hash
      * [[intern]] computes over chars): the probe compares the source range
      * in place, so a hit allocates nothing. */
    private[extract] def internAscii(src: Array[Byte], from: Int, to: Int, h: Int): Int = {
      if (n * 4 >= cap * 3) resize()
      val len = to - from
      var slot = h & (cap - 1)
      while (true) {
        val e = slots(slot)
        if (e == 0) {
          val t = new Array[Byte](len)
          var k = 0
          while (k < len) { t(k) = AsciiFold(src(from + k)); k += 1 }
          return insert(slot, t)
        }
        val t = entries(e - 1)
        if (t.length == len && {
          var k = 0
          while (k < len && t(k) == AsciiFold(src(from + k))) k += 1
          k == len
        }) return e - 1
        slot = (slot + 1) & (cap - 1)
      }
      -1 // unreachable
    }

    private def insert(slot: Int, token: Array[Byte]): Int = {
      if (n == entries.length) {
        entries = java.util.Arrays.copyOf(entries, n * 2)
        stops = java.util.Arrays.copyOf(stops, n * 2)
      }
      entries(n) = token
      stops(n) = Tokenset.Stopwords.contains(
        new String(token, java.nio.charset.StandardCharsets.ISO_8859_1))
      slots(slot) = n + 1
      n += 1
      n - 1
    }

    private def resize(): Unit = {
      cap <<= 1
      slots = new Array[Int](cap)
      var e = 0
      while (e < n) {
        val t = entries(e)
        var h = 0
        var k = 0
        while (k < t.length) { h = h * 31 + t(k); k += 1 }
        var slot = h & (cap - 1)
        while (slots(slot) != 0) slot = (slot + 1) & (cap - 1)
        slots(slot) = e + 1
        e += 1
      }
    }
  }

  /** Primitive open-addressing (long → long) counter — no boxing on the
    * hot path (java.util.HashMap[Long, Long] boxes every key probe). Key
    * and count share one array (slot s at 2s, 2s + 1), so a probe touches
    * one cache line; key -1 marks an empty slot (bigram keys pack two
    * non-negative ids, so it never occurs). */
  final class LongCounter(capacity0: Int = 1 << 12) {
    private var cap = Integer.highestOneBit(math.max(capacity0, 16)) * 2
    private var table = emptyTable(cap)
    private var n = 0
    def size: Int = n
    def add(key: Long, inc: Long): Unit = {
      if (n * 4 >= cap * 3) resize()
      val t = table
      var slot = (scala.util.hashing.byteswap64(key) & (cap - 1)).toInt
      while (t(2 * slot) != key && t(2 * slot) != -1L) slot = (slot + 1) & (cap - 1)
      if (t(2 * slot) == key) t(2 * slot + 1) += inc
      else { t(2 * slot) = key; t(2 * slot + 1) = inc; n += 1 }
    }
    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (table(2 * i) != -1L) f(table(2 * i), table(2 * i + 1)); i += 1 }
    }
    private def emptyTable(cap: Int): Array[Long] = {
      val t = new Array[Long](2 * cap)
      java.util.Arrays.fill(t, -1L)
      t
    }
    private def resize(): Unit = {
      val old = table
      cap <<= 1
      table = emptyTable(cap)
      var i = 0
      while (i < old.length) {
        val k = old(i)
        if (k != -1L) {
          var slot = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
          while (table(2 * slot) != -1L) slot = (slot + 1) & (cap - 1)
          table(2 * slot) = k; table(2 * slot + 1) = old(i + 1)
        }
        i += 2
      }
    }
  }

  /** Shared per-partition counting state: dict + bigram counter. */
  final class MentionCounts {
    var dict = new TokenDict()
    var bigrams = new LongCounter()
    /** Emit (mention, count) rows (materialized — safe across reset()). */
    def iterator: Iterator[(String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      bigrams.foreach { (key, cnt) =>
        val a = dict.token((key >>> 32).toInt)
        val b = dict.token((key & 0xffffffffL).toInt)
        buf += ((a + " " + b, cnt))
      }
      buf.iterator
    }
    /** Fresh dict + counter (mid-document overflow spill). */
    def reset(): Unit = { dict = new TokenDict(); bigrams = new LongCounter() }
    /** The dict or the counter holds `maxEntries` entries: drain before
      * counting on. */
    def full(maxEntries: Int): Boolean = bigrams.size >= maxEntries || dict.size >= maxEntries
  }

  /** Counting sink: zero allocation per token occurrence on the hit path —
    * tokens intern into the dict, bigram occurrences increment a primitive
    * counter keyed by the packed (prevId, tokId) pair.
    *
    * The state cap is enforced INSIDE the document too (the between-
    * documents check alone let one pathological document blow the state,
    * and a dict-only check matters as well: a page of distinct stopword-
    * adjacent tokens interns every token without ever adding a bigram).
    * The sink raises `overflowed` the moment either structure reaches
    * `maxEntries`; the scanner polls it (HtmlScanner.extractResumable
    * every 64 chars, the byte loop after every token) and PAUSES, the
    * owner drains `state` through its output iterator, then calls
    * [[drainReset]] and resumes the scan from the same cursor — peak
    * memory is the cap (+ ≤64 chars of pause overshoot), never the
    * document's distinct-bigram count. */
  final class CountingSink(state: MentionCounts, maxEntries: Int)
      extends HtmlScanner.CharSink {
    private val tok = new java.lang.StringBuilder(24)
    private var prevId = -1
    var overflowed = false
    override def accept(c0: Char): Unit = {
      if (c0 < 0x80) {
        val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { tok.append(c); () }
        else flushToken()
      } else {
        // see loweredNonAscii — must match the column twin's full-string
        // lower(), which can expand one char to several
        val low = loweredNonAscii(c0)
        var k = 0
        while (k < low.length) {
          val c = low.charAt(k)
          if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { tok.append(c); () }
          else flushToken()
          k += 1
        }
      }
    }
    private def flushToken(): Unit = {
      if (tok.length > 0) {
        val id = state.dict.intern(tok)
        tok.setLength(0)
        count(id)
      }
    }
    /** One occurrence of the ASCII token `src[from, to)` with folded hash
      * `h` (see [[TokenDict.internAscii]]) — the byte loop's entry. */
    private[extract] def countAscii(src: Array[Byte], from: Int, to: Int, h: Int): Unit =
      count(state.dict.internAscii(src, from, to, h))
    private def count(id: Int): Unit = {
      if (prevId >= 0 && !state.dict.isStop(prevId) && !state.dict.isStop(id))
        state.bigrams.add((prevId.toLong << 32) | (id.toLong & 0xffffffffL), 1L)
      prevId = id
      if (state.full(maxEntries)) overflowed = true
    }
    /** After the owner consumed `state.iterator` (materialized): fresh dict
      * + counter, in-flight previous token re-interned so the next bigram
      * still forms across the pause. */
    def drainReset(): Unit = {
      val prevTok = if (prevId >= 0) state.dict.token(prevId) else null
      state.reset()
      prevId = if (prevTok != null) state.dict.internString(prevTok) else -1
      overflowed = false
    }
    def finish(): Unit = { flushToken(); prevId = -1 }
  }

  /** One page's resumable count into `state`: the byte loop
    * ([[scanAscii]]) when every byte of the page is < 0x80, else the page
    * decoded as UTF-8 through the char path. [[resume]] scans until the
    * page ends (false; its last token is counted) or until the cap pauses
    * it (true): the owner then drains `state.iterator`, calls
    * [[drainReset]] and resumes. */
  final class PageScan private (ascii: Array[Byte], text: String,
                                state: MentionCounts, maxEntries: Int) {
    private val sink = new CountingSink(state, maxEntries)
    private val st = new HtmlScanner.ScanState
    private val paused: () => Boolean = () => sink.overflowed
    def resume(): Boolean = {
      val p = if (ascii != null) scanAscii(ascii, sink, st)
              else HtmlScanner.extractResumable(text, sink, st, paused)
      if (!p) sink.finish()
      p
    }
    def drainReset(): Unit = sink.drainReset()
  }

  object PageScan {
    def apply(page: Array[Byte], state: MentionCounts, maxEntries: Int): PageScan =
      if (isAscii(page)) new PageScan(page, null, state, maxEntries)
      else new PageScan(null, new String(page, java.nio.charset.StandardCharsets.UTF_8),
        state, maxEntries)
    /** The char path for any text — the reference the byte loop is
      * tested against. */
    def chars(html: String, state: MentionCounts, maxEntries: Int): PageScan =
      new PageScan(null, html, state, maxEntries)
  }

  private def isAscii(page: Array[Byte]): Boolean = {
    var acc = 0
    var i = 0
    while (i < page.length) { acc |= page(i); i += 1 }
    acc >= 0 // a byte >= 0x80 is negative and sets the sign bit
  }

  /** ASCII byte → its lowercase if `[A-Za-z0-9]`, else 0 (a separator). */
  private val AsciiFold: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (c >= 'A' && c <= 'Z') (c + 32).toByte
    else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toByte
    else 0
  }

  /** The byte loop over an all-ASCII page from cursor `st.i`. Markup rules
    * are HtmlScanner's; every construct it skips or decodes yields a
    * separator (a space, a non-alphanumeric char, or nothing next to one),
    * so a token is a maximal run of alphanumeric bytes outside markup,
    * hashed while scanning and interned in place. Returns true when the
    * cap paused it, cursor saved just past the token that filled it. */
  private def scanAscii(page: Array[Byte], sink: CountingSink, st: HtmlScanner.ScanState): Boolean = {
    val fold = AsciiFold
    val n = page.length
    var i = st.i
    while (i < n) {
      val b = page(i)
      var c: Int = fold(b)
      if (c != 0) {
        val from = i
        var h = 0
        while (c != 0) {
          h = h * 31 + c
          i += 1
          c = if (i < n) fold(page(i)) else 0
        }
        sink.countAscii(page, from, i, h)
        if (sink.overflowed) { st.i = i; return true }
      } else if (b == '<') i = skipMarkup(page, i)
      else if (b == '&') i = skipEntity(page, i)
      else i += 1
    }
    st.i = n
    false
  }

  private def pattern(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val CommentOpen = pattern("<!--")
  private val CommentClose = pattern("-->")
  private val ScriptOpen = pattern("<script")
  private val ScriptClose = pattern("</script>")
  private val StyleOpen = pattern("<style")
  private val StyleClose = pattern("</style>")
  private val NamedEntities =
    Array("&nbsp;", "&amp;", "&lt;", "&gt;", "&quot;", "&apos;").map(pattern)

  /** `p` at `pos` starts with `pat` (exact case when `ignoreCase` is false,
    * else ASCII case-insensitive; `pat` is lowercase). */
  private def startsWith(p: Array[Byte], pos: Int, pat: Array[Byte], ignoreCase: Boolean): Boolean = {
    if (pos + pat.length > p.length) return false
    var k = 0
    while (k < pat.length) {
      val b = p(pos + k)
      val c = if (ignoreCase && b >= 'A' && b <= 'Z') b + 32 else b.toInt
      if (c != pat(k)) return false
      k += 1
    }
    true
  }

  /** Index just past the first case-insensitive `pat` at or after `from`, or -1. */
  private def indexAfter(p: Array[Byte], from: Int, pat: Array[Byte]): Int = {
    var q = from
    while (q + pat.length <= p.length) {
      if (startsWith(p, q, pat, ignoreCase = true)) return q + pat.length
      q += 1
    }
    -1
  }

  /** Index of the first '>' after the '<' at `i`, or -1. */
  private def closingGt(p: Array[Byte], i: Int): Int = {
    var gt = i + 1
    while (gt < p.length && p(gt) != '>') gt += 1
    if (gt < p.length) gt else -1
  }

  /** Index just past the tag opened at `i`, or i + 1 when no '>' follows
    * (the '<' is literal text). */
  private def tagEnd(p: Array[Byte], i: Int): Int = {
    val gt = closingGt(p, i)
    if (gt >= 0) gt + 1 else i + 1
  }

  /** Index just past the construct at `p(i) == '<'` — comment, script or
    * style block, tag — or i + 1 for a literal '<': HtmlScanner's cases in
    * its order. */
  private def skipMarkup(p: Array[Byte], i: Int): Int =
    if (startsWith(p, i, CommentOpen, ignoreCase = true)) {
      val close = indexAfter(p, i + 4, CommentClose)
      if (close >= 0) close else tagEnd(p, i)
    } else {
      val script = startsWith(p, i, ScriptOpen, ignoreCase = true)
      if (script || startsWith(p, i, StyleOpen, ignoreCase = true)) {
        // the block needs its opening tag closed by '>'; without a closing
        // tag only the opening tag is skipped
        val gt = closingGt(p, i)
        if (gt < 0) i + 1
        else {
          val close = indexAfter(p, gt + 1, if (script) ScriptClose else StyleClose)
          if (close >= 0) close else gt + 1
        }
      } else tagEnd(p, i)
    }

  /** Index just past the entity at `p(i) == '&'` — an exact-case named
    * entity or `&#NNN;` (which covers `&#39;`) — or i + 1 for a literal '&'. */
  private def skipEntity(p: Array[Byte], i: Int): Int = {
    var k = 0
    while (k < NamedEntities.length) {
      if (startsWith(p, i, NamedEntities(k), ignoreCase = false)) return i + NamedEntities(k).length
      k += 1
    }
    var q = i + 1
    if (q < p.length && p(q) == '#') {
      q += 1
      val d0 = q
      while (q < p.length && p(q) >= '0' && p(q) <= '9') q += 1
      if (q > d0 && q < p.length && p(q) == ';') return q + 1
    }
    i + 1
  }

  private def drive(scan: PageScan, state: MentionCounts,
                    onSpill: Iterator[(String, Long)] => Unit): Boolean = {
    var spilled = false
    while (scan.resume()) {
      onSpill(state.iterator)
      scan.drainReset()
      spilled = true
    }
    spilled
  }

  /** Fused extract→tokenize→count of one document into `state` on the char
    * path; on cap overflow the scan pauses, partial counts drain through
    * `onSpill` (the downstream sum-groupBy merges partials exactly), and
    * the scan resumes from the same cursor. Returns true if any spill
    * happened. (The pipeline iterator drives [[PageScan]] itself so rows
    * stream out between pauses; this entry point is the one-shot form.) */
  def countMentionsInto(html: String, state: MentionCounts,
                        maxEntries: Int = Int.MaxValue,
                        onSpill: Iterator[(String, Long)] => Unit = _ => ()): Boolean =
    drive(PageScan.chars(html, state, maxEntries), state, onSpill)

  /** [[countMentionsInto]] over a page's UTF-8 bytes, on the path
    * [[PageScan]] picks for it. */
  def countPageInto(page: Array[Byte], state: MentionCounts,
                    maxEntries: Int = Int.MaxValue,
                    onSpill: Iterator[(String, Long)] => Unit = _ => ()): Boolean =
    drive(PageScan(page, state, maxEntries), state, onSpill)
}
