package graft.extract

/** Single-pass HTML → text scanner: one char loop, one output builder.
  *
  * Semantically identical to the 10-stage regex pipeline in [[HtmlExtract]]
  * (asserted exhaustively in ExtractSpec), but allocation-lean: the regex
  * chain materializes ~10 intermediate copies of every document, which at
  * corpus scale makes extraction allocation-bound rather than CPU-bound.
  * Rules (same as the regex spec):
  *   - <script>/<style> blocks dropped up to their first closing tag
  *   - <!-- comments --> dropped
  *   - <...> tags become a space; a '<' with no closing '>' is literal text
  *   - &amp; &lt; &gt; &quot; &#39; &apos; decoded; &nbsp; and &#NNN; → space
  *   - whitespace runs collapse to one space; result trimmed
  * MentionScanner's byte loop applies the same markup rules to all-ASCII
  * pages without decoding them; ExtractSpec checks the two agree.
  */
object HtmlScanner {

  /** Streaming consumer of extracted characters — lets downstream passes
    * (mention tokenization) fuse with extraction without materializing the
    * per-document text copy. Receives exactly the characters `extract`
    * would append to its builder, in order. */
  trait CharSink { def accept(c: Char): Unit }

  def extract(html: String): String = {
    val out = new java.lang.StringBuilder(math.min(html.length, 1 << 16))
    extractTo(html, c => out.append(c))
    out.toString
  }

  /** Resumable-scan cursor: the loop's only cross-iteration state. Lets a
    * caller pause extraction mid-document (drain fused downstream state)
    * and continue from the exact position — the mechanism behind the
    * truly-bounded mention-counter cap (MentionScanner). */
  final class ScanState {
    var i = 0
    var pendingSpace = false
    var emitted = false
  }

  def extractTo(html: String, sink: CharSink): Unit = {
    extractResumable(html, sink, new ScanState, AlwaysContinue)
    ()
  }

  private val AlwaysContinue: () => Boolean = () => false

  /** Scan from `st` until end of input or until `pauseCheck()` returns true
    * (polled every 64 input positions — pause overshoot is bounded by ~64
    * chars of tokens). Returns true iff paused before the end; the caller
    * resumes by calling again with the same `st`. */
  def extractResumable(html: String, sink: CharSink, st: ScanState,
                       pauseCheck: () => Boolean): Boolean = {
    val n = html.length
    var i = st.i
    var pendingSpace = st.pendingSpace
    var emitted = st.emitted
    def save(): Unit = { st.i = i; st.pendingSpace = pendingSpace; st.emitted = emitted }

    // exactly Java regex \s: [ \t\n\x0B\f\r] — NOT Character.isWhitespace
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

    def emit(c: Char): Unit = {
      if (isWs(c)) pendingSpace = true
      else {
        if (pendingSpace && emitted) sink.accept(' ')
        pendingSpace = false
        emitted = true
        sink.accept(c)
      }
    }

    def startsWithIgnoreCase(pos: Int, s: String): Boolean = {
      if (pos + s.length > n) return false
      var k = 0
      while (k < s.length) {
        if (Character.toLowerCase(html.charAt(pos + k)) != s.charAt(k)) return false
        k += 1
      }
      true
    }

    /** index just past the first case-insensitive occurrence of s at or
      * after pos, or -1 */
    def findClose(pos: Int, s: String): Int = {
      var p = pos
      while (p + s.length <= n) {
        if (startsWithIgnoreCase(p, s)) return p + s.length
        p += 1
      }
      -1
    }

    while (i < n) {
      if ((i & 63) == 0 && pauseCheck()) { save(); return true }
      val c = html.charAt(i)
      if (c == '<') {
        if (startsWithIgnoreCase(i, "<!--")) {
          val close = findClose(i + 4, "-->")
          if (close >= 0) { emit(' '); i = close }
          else {
            // unterminated comment: the comment regex fails but the generic
            // tag regex still strips up to the first '>'
            var gt = i + 1
            while (gt < n && html.charAt(gt) != '>') gt += 1
            if (gt < n) { emit(' '); i = gt + 1 }
            else { emit('<'); i += 1 }
          }
        } else if (startsWithIgnoreCase(i, "<script") || startsWithIgnoreCase(i, "<style")) {
          val tag = if (Character.toLowerCase(html.charAt(i + 1)) == 's' &&
            Character.toLowerCase(html.charAt(i + 2)) == 'c') "script" else "style"
          // regex: <(script|style)[^>]*>.*?</\1> — opening tag must close with '>'
          var gt = i + 1
          while (gt < n && html.charAt(gt) != '>') gt += 1
          val close = if (gt < n) findClose(gt + 1, "</" + tag + ">") else -1
          if (gt < n && close >= 0) { emit(' '); i = close }
          else {
            // no matching close: the block regex fails, the tag regex still
            // strips the opening tag if it has '>'
            if (gt < n) { emit(' '); i = gt + 1 }
            else { emit('<'); i += 1 }
          }
        } else {
          var gt = i + 1
          while (gt < n && html.charAt(gt) != '>') gt += 1
          if (gt < n) { emit(' '); i = gt + 1 }
          else { emit('<'); i += 1 } // '<' with no '>' anywhere after: literal
        }
      } else if (c == '&') {
        // exact-case matching — the regex pipeline's entity replace is
        // case-sensitive
        if (html.startsWith("&nbsp;", i)) { emit(' '); i += 6 }
        else if (html.startsWith("&amp;", i)) { emit('&'); i += 5 }
        else if (html.startsWith("&lt;", i)) { emit('<'); i += 4 }
        else if (html.startsWith("&gt;", i)) { emit('>'); i += 4 }
        else if (html.startsWith("&quot;", i)) { emit('"'); i += 6 }
        else if (html.startsWith("&#39;", i)) { emit('\''); i += 5 }
        else if (html.startsWith("&apos;", i)) { emit('\''); i += 6 }
        else {
          // numeric entity &#NNN; → space
          var p = i + 1
          if (p < n && html.charAt(p) == '#') {
            p += 1
            val d0 = p
            while (p < n && Character.isDigit(html.charAt(p))) p += 1
            if (p > d0 && p < n && html.charAt(p) == ';') { emit(' '); i = p + 1 }
            else { emit('&'); i += 1 }
          } else { emit('&'); i += 1 }
        }
      } else {
        emit(c)
        i += 1
      }
    }
    save()
    false
  }
}
