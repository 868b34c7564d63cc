package graft.extract

import graft.lexical.Tokenset
import org.apache.spark.unsafe.Platform

/** Fused per-partition mention detection: html → extracted text → lowercase
  * tokens → stopword-filtered word bigrams → counts, in one pass with no
  * intermediate columns. Equals `KgPipeline.mentionBigrams(HtmlExtract.extract(html))`
  * exactly (asserted in ExtractSpec) while skipping the text/lower/split
  * column materializations — extraction was allocation-bound, not CPU-bound,
  * at corpus scale.
  *
  * Two paths count a page, chosen per page by [[PageScan.start]]:
  *   - a page whose UTF-8 bytes are all < 0x80 is counted by one byte loop
  *     over the raw bytes ([[scanAscii]]): the [[HtmlScanner]] markup rules,
  *     and each token counted in place — no decoded String, no per-char
  *     sink call, no token builder;
  *   - any other page is decoded and goes through the char path
  *     ([[HtmlScanner.extractResumable]] + [[CountingSink]]). The byte rules
  *     would tokenize it differently: `Character.toLowerCase` maps U+0130
  *     'İ' to 'i' and U+212A KELVIN SIGN to 'k', so `<scrİpt>` opens a script
  *     block in the char scanner, and the column twin's full-string lowercase
  *     can expand one char into several (see [[loweredNonAscii]]).
  * Tokens are `[a-z0-9]+` on both paths, so both intern into one
  * [[TokenDict]] and count into one [[LongCounter]]. A token of at most 8
  * bytes is its own packed Long key — the byte loop reads it as one word —
  * and is interned with one long compare; a longer token is hashed and
  * compared byte by byte. The state cap is checked only where the state
  * grows (a new dict entry or a new bigram key), and a partition reuses
  * one [[PageScan]] for all its pages. */
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

  /** Multiply-shift hash: the top `64 - shift` bits of `key` times an odd
    * constant, a slot index in [0, 2^(64 - shift)). */
  private def slotOf(key: Long, shift: Int): Int = ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** Packed key of the ASCII token `src[from, to)` of at most 8 bytes: its
    * folded bytes in one Long, byte j at bits 8j (the byte loop reads the
    * token as a little-endian word). Folded bytes are non-zero, so the
    * packing is injective and never 0. */
  private def packKey(src: Array[Byte], from: Int, to: Int): Long = {
    var key = 0L
    var k = from
    while (k < to) { key |= AsciiFold(src(k)).toLong << (8 * (k - from)); k += 1 }
    key
  }

  /** Starting slot count of a [[TokenDict]] (a power of two): 24 KB,
    * L1-resident, so a small vocabulary's hot tokens rarely share a slot —
    * at 128 slots the 35 hot tokens of a WebtextGen page cost ~15% of the
    * kernel in probe collisions. */
  private final val DictSlots0 = 2048

  /** Starting slot count of a [[LongCounter]] (a power of two). */
  private final val CounterSlots0 = 32

  /** Per-partition token dictionary: interns each distinct token ONCE and
    * precomputes its stopword flag. The corpus produces ~10⁹ token
    * occurrences per 10⁷ pages; without interning every occurrence
    * allocates a String + a bigram concat, and the resulting allocator
    * contention was the measured ceiling on 4→16-core scaling
    * (BENCH/BASELINE.md §1).
    *
    * Tokens are `[a-z0-9]+`. One open-addressing table serves two key
    * kinds: a token of at most 8 bytes is its own packed key
    * ([[packKey]], positive), so a probe is one long compare; a longer
    * token's key is its 64-bit hash with the sign bit set, and a probe
    * whose key matches also compares the bytes. Both kinds share one
    * first-seen id space. A slot's code is `id << 1 | stopword`. The table
    * is at most half full, and starts at [[DictSlots0]] slots.
    *
    * The dict does not check the state cap; [[CountingSink]] does, after
    * an insert ([[add]]) only. A dict of 2^22 short tokens (the default
    * cap) holds 134 MB: keys and codes at 2^23 slots, and the per-id keys. */
  final class TokenDict {
    private var cap = DictSlots0
    private var shift = 64 - Integer.numberOfTrailingZeros(DictSlots0)
    private var keys = new Array[Long](cap) // 0 = empty
    private var codes = new Array[Int](cap)
    private var byId = new Array[Long](cap / 2) // key, or ~index into longTokens
    private var longTokens = new Array[Array[Byte]](4)
    private var nLong = 0
    private var n = 0
    def size: Int = n

    /** The folded bytes of entry `id`; ids are append-only, stable across
      * resizes. */
    def bytes(id: Int): Array[Byte] = {
      val k = byId(id)
      if (k < 0) longTokens((~k).toInt)
      else {
        val len = (71 - java.lang.Long.numberOfLeadingZeros(k)) >>> 3
        val t = new Array[Byte](len)
        var j = 0
        while (j < len) { t(j) = (k >>> (8 * j)).toByte; j += 1 }
        t
      }
    }
    def token(id: Int): String = new String(bytes(id), java.nio.charset.StandardCharsets.ISO_8859_1)

    /** Code of the token `src[from, to)` with key `key` ([[packKey]], or
      * [[longTag]] past 8 bytes), or `~slot` of the empty slot it would go
      * in. A short token is found by its key alone. */
    private[extract] def find(key: Long, src: Array[Byte], from: Int, to: Int): Int = {
      val m = cap - 1
      var slot = slotOf(key, shift)
      while (true) {
        val k = keys(slot)
        if (k == key && (key > 0 || sameBytes(longTokens((~byId(codes(slot) >>> 1)).toInt), src, from, to)))
          return codes(slot)
        if (k == 0L) return ~slot
        slot = (slot + 1) & m
      }
      -1 // unreachable
    }

    private def sameBytes(t: Array[Byte], src: Array[Byte], from: Int, to: Int): Boolean =
      t.length == to - from && {
        var j = 0
        while (j < t.length && t(j) == AsciiFold(src(from + j))) j += 1
        j == t.length
      }

    /** Insert the token `src[from, to)` with key `key` at the empty `slot`
      * [[find]] returned; returns its code. */
    private[extract] def add(slot: Int, key: Long, src: Array[Byte], from: Int, to: Int): Int = {
      if (n == byId.length) byId = java.util.Arrays.copyOf(byId, n * 2)
      val folded = new Array[Byte](to - from)
      var j = 0
      while (j < folded.length) { folded(j) = AsciiFold(src(from + j)); j += 1 }
      if (key < 0) {
        if (nLong == longTokens.length) longTokens = java.util.Arrays.copyOf(longTokens, nLong * 2)
        longTokens(nLong) = folded
        byId(n) = ~nLong.toLong
        nLong += 1
      } else byId(n) = key
      val stop = Tokenset.Stopwords.contains(new String(folded, java.nio.charset.StandardCharsets.ISO_8859_1))
      val code = (n << 1) | (if (stop) 1 else 0)
      keys(slot) = key
      codes(slot) = code
      n += 1
      if (n * 2 > cap) resize()
      code
    }

    private def resize(): Unit = {
      val oldKeys = keys
      val oldCodes = codes
      cap <<= 1
      shift -= 1
      keys = new Array[Long](cap)
      codes = new Array[Int](cap)
      var i = 0
      while (i < oldKeys.length) {
        val k = oldKeys(i)
        if (k != 0L) {
          var slot = slotOf(k, shift)
          while (keys(slot) != 0L) slot = (slot + 1) & (cap - 1)
          keys(slot) = k
          codes(slot) = oldCodes(i)
        }
        i += 1
      }
    }
  }

  /** Key of a token longer than 8 bytes: FNV-1a 64 over its folded bytes,
    * sign bit set so it never equals a packed key. */
  private def longTag(src: Array[Byte], from: Int, to: Int): Long = {
    var h = 0xcbf29ce484222325L
    var k = from
    while (k < to) { h = (h ^ AsciiFold(src(k))) * 0x100000001b3L; k += 1 }
    h | Long.MinValue
  }

  /** Primitive open-addressing (long → long) counter — no boxing on the
    * hot path (java.util.HashMap[Long, Long] boxes every key probe). Key
    * and count share one array (slot s at 2s, 2s + 1), so a probe touches
    * one cache line; key -1 marks an empty slot (bigram keys pack two
    * non-negative ids, so it never occurs). Slots come from a
    * multiply-shift hash; the table starts at [[CounterSlots0]] slots and
    * is at most half full, tested on the insert path only.
    * [[CountingSink]] checks the state cap when [[increment]] adds a key.
    * A counter of 2^22 keys (the default cap) holds 134 MB (2^23 slots). */
  final class LongCounter {
    private var cap = CounterSlots0
    private var shift = 64 - Integer.numberOfTrailingZeros(CounterSlots0)
    private var table = emptyTable(cap)
    private var n = 0
    def size: Int = n
    /** One more occurrence of `key` (≥ 0); true when `key` is new. */
    def increment(key: Long): Boolean = {
      val t = table
      val m = cap - 1
      var slot = slotOf(key, shift)
      while (true) {
        val k = t(2 * slot)
        if (k == key) { t(2 * slot + 1) += 1; return false }
        if (k == -1L) {
          t(2 * slot) = key
          t(2 * slot + 1) = 1L
          n += 1
          if (n * 2 > cap) resize()
          return true
        }
        slot = (slot + 1) & m
      }
      false // unreachable
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
      shift -= 1
      table = emptyTable(cap)
      var i = 0
      while (i < old.length) {
        val k = old(i)
        if (k != -1L) {
          var slot = slotOf(k, shift)
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
  }

  /** Counting sink: zero allocation per token occurrence on the hit path —
    * tokens intern into the dict, bigram occurrences increment a primitive
    * counter keyed by the packed (prevId, tokId) pair. The char path feeds
    * it chars ([[accept]]); the byte loop hands it whole tokens
    * ([[countToken]]).
    *
    * The state cap is enforced INSIDE the document too (the between-
    * documents check alone let one pathological document blow the state,
    * and a dict-only check matters as well: a page of distinct stopword-
    * adjacent tokens interns every token without ever adding a bigram).
    * The cap is checked only where the state grows — a new dict entry or
    * a new bigram key — and a token that brings either structure to
    * `maxEntries` makes [[countToken]] return true. The byte loop then
    * pauses right after that token; the char path raises `overflowed`,
    * which HtmlScanner.extractResumable polls every 64 chars. The owner
    * drains `state` through its output iterator, calls [[drainReset]]
    * and resumes the scan from the same cursor — peak memory is the cap
    * (+ ≤64 chars of pause overshoot on the char path; at cap 1 the dict
    * holds 2, since a bigram needs both its tokens), never the document's
    * distinct-bigram count. */
  final class CountingSink(state: MentionCounts, maxEntries: Int)
      extends HtmlScanner.CharSink {
    private var tok = new Array[Byte](32) // the char path's pending token, folded
    private var tokLen = 0
    private var prevCode = -1 // bit 0 set: no bigram can start here
    var overflowed = false
    override def accept(c0: Char): Unit = {
      if (c0 < 0x80) put(AsciiFold(c0))
      else {
        // see loweredNonAscii — must match the column twin's full-string
        // lower(), which can expand one char to several
        val low = loweredNonAscii(c0)
        var k = 0
        while (k < low.length) {
          val c = low.charAt(k)
          put(if (c < 0x80) AsciiFold(c) else 0)
          k += 1
        }
      }
    }
    private def put(c: Byte): Unit =
      if (c != 0) {
        if (tokLen == tok.length) tok = java.util.Arrays.copyOf(tok, tokLen * 2)
        tok(tokLen) = c
        tokLen += 1
      } else flushToken()
    private def flushToken(): Unit = {
      if (tokLen > 0) {
        val key = if (tokLen <= 8) packKey(tok, 0, tokLen) else 0L
        if (countToken(tok, 0, tokLen, key)) overflowed = true
        tokLen = 0
      }
    }
    /** One occurrence of the ASCII token `src[from, to)`; `key` is its
      * packed key ([[packKey]]) when it has at most 8 bytes, and ignored
      * otherwise (a longer token is hashed). True when the state just
      * reached the cap. */
    private[extract] def countToken(src: Array[Byte], from: Int, to: Int, key: Long): Boolean = {
      val d = state.dict
      val k = if (to - from <= 8) key else longTag(src, from, to)
      val c = d.find(k, src, from, to)
      if (c >= 0) count(c) else added(d.add(~c, k, src, from, to))
    }
    private def added(code: Int): Boolean = count(code) | state.dict.size >= maxEntries
    private def count(code: Int): Boolean = {
      val prev = prevCode
      prevCode = code
      // both ids' stopword bits clear, and a previous token (-1 has bit 0 set)
      ((prev | code) & 1) == 0 &&
        state.bigrams.increment(((prev >>> 1).toLong << 32) | (code >>> 1)) &&
        state.bigrams.size >= maxEntries
    }
    /** After the owner consumed `state.iterator` (materialized): fresh dict
      * + counter, in-flight previous token re-interned so the next bigram
      * still forms across the pause. */
    def drainReset(): Unit = {
      val carry = if (prevCode >= 0) state.dict.bytes(prevCode >>> 1) else null
      state.reset()
      prevCode = -1
      if (carry != null) countToken(carry, 0, carry.length, packKey(carry, 0, carry.length))
      overflowed = false
    }
    def finish(): Unit = { flushToken(); prevCode = -1 }
  }

  /** A partition's resumable page scanner, reused page after page: one
    * sink and one cursor count every page into `state`. [[start]] takes a
    * page's UTF-8 bytes: the byte loop ([[scanAscii]]) counts it when
    * every byte is < 0x80, else it is decoded and goes through the char
    * path; [[startChars]] takes the char path for any text. [[resume]]
    * scans until the page ends (false; its last token is counted) or
    * until the state reaches the cap (true): the owner then drains
    * `state.iterator`, calls [[drainReset]] and resumes. */
  final class PageScan(state: MentionCounts, maxEntries: Int) {
    require(maxEntries > 0, s"maxEntries must be positive, got $maxEntries")
    private val sink = new CountingSink(state, maxEntries)
    private val st = new HtmlScanner.ScanState
    private val paused: () => Boolean = () => sink.overflowed
    private var ascii: Array[Byte] = null
    private var text: String = null
    def start(page: Array[Byte]): Unit =
      if (isAscii(page)) begin(page, null)
      else begin(null, new String(page, java.nio.charset.StandardCharsets.UTF_8))
    def startChars(html: String): Unit = begin(null, html)
    private def begin(a: Array[Byte], t: String): Unit = {
      ascii = a
      text = t
      st.i = 0
      st.pendingSpace = false
      st.emitted = false
    }
    def resume(): Boolean =
      if (ascii != null) scanAscii(ascii, sink, st) || { sink.finish(); false }
      else HtmlScanner.extractResumable(text, sink, st, paused) || {
        // the char path polls the cap every 64 chars; the page's tail
        // (and its last token, counted here) can still fill the state
        sink.finish()
        sink.overflowed
      }
    def drainReset(): Unit = sink.drainReset()
  }

  private val LittleEndian = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
  private final val High = 0x8080808080808080L

  /** The 8 bytes at `p(i)` as a little-endian Long; needs i + 8 <= p.length. */
  private def wordAt(p: Array[Byte], i: Int): Long = {
    val w = Platform.getLong(p, Platform.BYTE_ARRAY_OFFSET + i)
    if (LittleEndian) w else java.lang.Long.reverseBytes(w)
  }

  /** All bytes < 0x80, tested a word at a time (2.3x a byte loop). */
  private def isAscii(page: Array[Byte]): Boolean = {
    var acc = 0L
    var i = 0
    while (i + 8 <= page.length) { acc |= wordAt(page, i); i += 8 }
    while (i < page.length) { acc |= page(i) & 0xff; i += 1 }
    (acc & High) == 0
  }

  /** 0x80 in each byte of the ASCII word `w` that is `[A-Za-z0-9]`, else
    * 0: a byte range test per lane, `w | 0x20` folding the letters. */
  private def alnumLanes(w: Long): Long = {
    val low = w | 0x2020202020202020L
    val letter = (low + 0x1f1f1f1f1f1f1f1fL) & ~(low + 0x0505050505050505L) // 0x61..0x7a
    val digit = (w + 0x5050505050505050L) & ~(w + 0x4646464646464646L)     // 0x30..0x39
    (letter | digit) & High
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
    * so a token is a maximal run of alphanumeric bytes outside markup. A
    * token start reads the next 8 bytes as one word: the first
    * non-alphanumeric lane ends the token, and the folded word masked to
    * the token is its packed key ([[packKey]]). Returns true when the
    * state reached the cap, cursor saved just past the token that filled
    * it. */
  private def scanAscii(page: Array[Byte], sink: CountingSink, st: HtmlScanner.ScanState): Boolean = {
    val fold = AsciiFold
    val n = page.length
    var i = st.i
    while (i < n) {
      val b = page(i)
      if (fold(b) != 0) {
        val from = i
        var key = 0L
        if (i + 8 <= n) {
          val w = wordAt(page, i)
          val ends = ~alnumLanes(w) & High
          if (ends != 0) {
            val len = java.lang.Long.numberOfTrailingZeros(ends) >>> 3
            key = (w | 0x2020202020202020L) & (-1L >>> (64 - 8 * len))
            i += len
          } else {
            key = w | 0x2020202020202020L
            i += 8
            while (i < n && fold(page(i)) != 0) i += 1
          }
        } else {
          while (i < n && fold(page(i)) != 0) i += 1
          key = packKey(page, from, i)
        }
        if (sink.countToken(page, from, i, key)) { st.i = i; return true }
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
    * its order. Only "<!" and "<s"/"<S" can open a comment or a block, so
    * any other tag skips the pattern tests. */
  private def skipMarkup(p: Array[Byte], i: Int): Int = {
    val c1 = if (i + 1 < p.length) p(i + 1) | 0x20 else 0
    if (c1 != '!' && c1 != 's') tagEnd(p, i)
    else if (startsWith(p, i, CommentOpen, ignoreCase = true)) {
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
    * path; when the state reaches `maxEntries` (> 0) the scan pauses,
    * partial counts drain through `onSpill` (the downstream sum-groupBy
    * merges partials exactly), and the scan resumes from the same cursor.
    * Returns true if any spill happened. (The pipeline iterator drives one
    * [[PageScan]] per partition itself so rows stream out between pauses;
    * this entry point is the one-shot form.) */
  def countMentionsInto(html: String, state: MentionCounts,
                        maxEntries: Int = Int.MaxValue,
                        onSpill: Iterator[(String, Long)] => Unit = _ => ()): Boolean = {
    val scan = new PageScan(state, maxEntries)
    scan.startChars(html)
    drive(scan, state, onSpill)
  }

  /** [[countMentionsInto]] over a page's UTF-8 bytes, on the path
    * [[PageScan.start]] picks for it. */
  def countPageInto(page: Array[Byte], state: MentionCounts,
                    maxEntries: Int = Int.MaxValue,
                    onSpill: Iterator[(String, Long)] => Unit = _ => ()): Boolean = {
    val scan = new PageScan(state, maxEntries)
    scan.start(page)
    drive(scan, state, onSpill)
  }
}
