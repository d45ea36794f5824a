package graft.core

/** German-aware line dehyphenation (reference:
  * pkg/dehyphenator/dehyphen.go:1-290).
  *
  * The reference is a streaming io.WriteCloser; in the Spark pipeline whole
  * span strings live in a column, so this is the equivalent pure function
  * (the reference's own tests assert whole-input and byte-by-byte writes
  * produce identical output — dehyphen_test.go:26-49 — so a pure whole-string
  * fold is semantics-preserving).
  *
  * Rules (dehyphen.go:190-277, spec = dehyphen_test.go:53-221):
  *   - per line (split on '\n'), trim Unicode whitespace at both ends;
  *   - empty and hyphen-only lines are skipped; a pending stripped hyphen
  *     survives blank lines (dehyphen.go:224-229);
  *   - a pending hyphen is restored iff the next content line starts with
  *     an uppercase rune (EU-Institution case, dehyphen.go:231-238);
  *   - line ends in a Unicode hyphen: if the rune before it is uppercase,
  *     keep the hyphen and join the next line with NO separator (E-Mail
  *     case, dehyphen.go:266-271); otherwise strip the hyphen, remember it,
  *     and join with no separator (Straße case, dehyphen.go:273-276);
  *   - otherwise append the separator: '\n', or ' ' when removeNewlines
  *     (dehyphen.go:279-286; default true per config.go:60).
  */
object Dehyphenator {

  /** Code points with the Unicode Hyphen property — exactly Go's
    * `unicode.Hyphen` range table (dehyphen.go:288-290), pinned here because
    * JVM has no direct equivalent predicate.
    */
  private val HyphenSet: Set[Int] = Set(
    0x002D, // HYPHEN-MINUS
    0x00AD, // SOFT HYPHEN
    0x058A, // ARMENIAN HYPHEN
    0x1806, // MONGOLIAN TODO SOFT HYPHEN
    0x2010, // HYPHEN
    0x2011, // NON-BREAKING HYPHEN
    0x2E17, // DOUBLE OBLIQUE HYPHEN
    0x30FB, // KATAKANA MIDDLE DOT
    0xFE63, // SMALL HYPHEN-MINUS
    0xFF0D, // FULLWIDTH HYPHEN-MINUS
    0xFF65  // HALFWIDTH KATAKANA MIDDLE DOT
  )

  @inline def isHyphen(cp: Int): Boolean = HyphenSet.contains(cp)

  /** Go `unicode.IsSpace` = Unicode White_Space property. JVM's
    * `Character.isWhitespace` excludes U+00A0/U+0085/U+2007/U+202F, so build
    * the predicate from isSpaceChar (Zs/Zl/Zp) + the control-range additions.
    */
  @inline def isSpace(cp: Int): Boolean =
    (cp >= 0x09 && cp <= 0x0D) || cp == 0x85 ||
      Character.isSpaceChar(cp)

  /** Go `unicode.IsUpper` = Unicode Upper property; JVM isUpperCase matches
    * (Lu + Other_Uppercase).
    */
  @inline def isUpper(cp: Int): Boolean = Character.isUpperCase(cp)

  def dehyphenate(text: String, removeNewlines: Boolean): String =
    dehyphenateChunk(text, removeNewlines, 0)._1

  /** Stateful variant for page-chunked streams: the reference wraps the
    * whole document stream (all pages, each followed by '\n') in ONE
    * DehyphenWriter (extract.go:165-185, misc.go:71-74), so a pending
    * stripped hyphen survives page boundaries. Page chunks always end in
    * '\n', so lines never span chunks — only `pendingHyphen` does. Feeding
    * chunks through this function and threading the returned state yields
    * output identical to dehyphenating the concatenated stream.
    */
  def dehyphenateChunk(text: String, removeNewlines: Boolean,
      pendingIn: Int): (String, Int) = {
    if (text == null) return (null, pendingIn)
    val sep = if (removeNewlines) ' ' else '\n'
    val out = new java.lang.StringBuilder(text.length + 8)
    var pendingHyphen = pendingIn // stripped hyphen code point awaiting next line; 0 = none
    var lineStart = 0
    val n = text.length
    while (lineStart <= n) {
      var nl = text.indexOf('\n', lineStart)
      if (nl < 0) nl = n
      // trim both ends (Go strings.TrimSpace with White_Space semantics)
      var a = lineStart
      while (a < nl && isSpace(text.codePointAt(a))) a += Character.charCount(text.codePointAt(a))
      var b = nl
      while (b > a && isSpace(text.codePointBefore(b))) b -= Character.charCount(text.codePointBefore(b))
      if (a < b) {
        val first = text.codePointAt(a)
        val hyphenOnly = isHyphen(first) && a + Character.charCount(first) == b
        if (!hyphenOnly) {
          if (pendingHyphen != 0) {
            if (isUpper(first)) out.appendCodePoint(pendingHyphen)
            pendingHyphen = 0
          }
          val last = text.codePointBefore(b)
          if (!isHyphen(last)) {
            out.append(text, a, b)
            out.append(sep)
          } else {
            val hyphenStart = b - Character.charCount(last)
            // hyphen-only was excluded above, so a rune exists before it
            val before = text.codePointBefore(hyphenStart)
            if (isUpper(before)) {
              out.append(text, a, b) // keep hyphen, no separator
            } else {
              pendingHyphen = last
              out.append(text, a, hyphenStart)
            }
          }
        }
        // empty & hyphen-only lines: skip silently, pendingHyphen survives
      }
      lineStart = nl + 1
    }
    (out.toString, pendingHyphen)
  }
}
