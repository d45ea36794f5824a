package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The dedup/similarity hot kernels as [[NativeFn]]s.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`) are
  * NOT whole-stage-codegen'd — every lambda application walks an interpreted
  * expression tree (~430 µs for a 64-dim integer dot product measured at
  * round 1). These kernels compute the same values in tight JVM loops
  * reachable from generated code via static calls, so a 64-dim dot costs
  * ~64 multiply-adds instead.
  *
  * Oracle parity: every value is defined by the same md5/integer arithmetic
  * the DuckDB oracle SQL uses (md5 hex prefix → 60-bit int, mod 2^31−1,
  * affine minhash permutations) — pure integer math, identical in both
  * engines.
  */
object VectorExpressions {

  // ---------------------------------------------------------------- kernels

  /** Integer dot product over two bigint arrays (equal length by contract;
    * min() defensively). Static entry point for generated code.
    */
  def dotI64(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(bytes) as a 60-bit non-negative long —
    * exactly `conv(substring(md5(s), 1, 15), 16, 10)` in Spark SQL /
    * `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)` in DuckDB.
    * 15 hex chars = digest bytes 0..6 plus the high nibble of byte 7.
    */
  def md5H60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xFF) >>> 4)
  }

  /** Word [start, end) byte ranges: split on U+0020, empty tokens dropped —
    * `filter(split(text,' '), w -> w <> '')`. Byte-level split is exact
    * (0x20 never occurs inside a multi-byte UTF-8 sequence).
    */
  private def wordRanges(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var nWords = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && bytes(i) == ' '.toByte) i += 1
      if (i < n) {
        val s = i
        while (i < n && bytes(i) != ' '.toByte) i += 1
        if (nWords == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nWords * 2)
          ends = java.util.Arrays.copyOf(ends, nWords * 2)
        }
        starts(nWords) = s; ends(nWords) = i; nWords += 1
      }
    }
    (starts, ends, nWords)
  }

  /** 3-word shingles of a document: shingle i = words[i..i+2] joined by a
    * single space. W words → max(W−2, 0) shingles. No String round-trip.
    */
  def shingles3(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (starts, ends, nWords) = wordRanges(bytes)
    val nSh = math.max(nWords - 2, 0)
    val out = new Array[Any](nSh)
    var k = 0
    while (k < nSh) {
      val len = (ends(k) - starts(k)) + (ends(k + 1) - starts(k + 1)) +
        (ends(k + 2) - starts(k + 2)) + 2
      val buf = new Array[Byte](len)
      var p = 0
      var w = k
      while (w <= k + 2) {
        val l = ends(w) - starts(w)
        System.arraycopy(bytes, starts(w), buf, p, l)
        p += l
        if (w < k + 2) { buf(p) = ' '.toByte; p += 1 }
        w += 1
      }
      out(k) = UTF8String.fromBytes(buf)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** md5-hash each string to a 60-bit int mod 2^31−1 (the shingle hash of
    * the dedup suite).
    */
  def h31(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val b = s.getBytes
      out(i) = md5H60(b, 0, b.length) % 2147483647L
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 8 MinHash signatures over a shingle-hash array: sig_i = min over x of
    * (a_i·x + b_i) mod 2^31−1 with a_i = 387421·(i+1), b_i = 98765·(i+1) +
    * 12345; empty input → 2^31−1 (the fold's init). Products stay < 2^53 —
    * exact in any engine.
    */
  def minhashSigs(sh: ArrayData): ArrayData = {
    val p = 2147483647L
    val out = new Array[Long](8)
    var i = 0
    while (i < 8) { out(i) = p; i += 1 }
    val n = sh.numElements()
    var j = 0
    while (j < n) {
      val x = sh.getLong(j)
      var k = 0
      while (k < 8) {
        val a = 387421L * (k + 1)
        val b = 98765L * (k + 1) + 12345L
        val v = (a * x + b) % p
        if (v < out(k)) out(k) = v
        k += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** 32-bit SimHash over per-word md5 hashes: bit b set iff
    * Σ_words (((h60(word) >> b) & 1)·2 − 1) > 0 — the exact value of the
    * round-1 HOF formula / DuckDB oracle, one pass instead of 32
    * interpreted folds.
    */
  def simhash32(text: UTF8String): Long = {
    val bytes = text.getBytes
    val (starts, ends, nWords) = wordRanges(bytes)
    val votes = new Array[Int](32)
    var w = 0
    while (w < nWords) {
      val h = md5H60(bytes, starts(w), ends(w) - starts(w))
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Integer quantization of a float/double vector: round(x·1000) with
    * HALF_UP (away-from-zero) ties — exactly Spark's `round()` and DuckDB's
    * `round()` semantics, so the quantized values match the oracle SQL
    * bit-for-bit. One pass; the HOF `transform` it replaces interpreted a
    * lambda per element.
    */
  def quantizeI64(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble * 1000.0
      out(i) = if (v >= 0) math.floor(v + 0.5).toLong else -math.floor(-v + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Order-sensitive document fingerprint: rolling polynomial hash over
    * per-word md5 60-bit hashes, `(acc·131 + h) mod 9007199254740881`
    * (sub-2^53 prime; acc·131 + h < 2^62, no overflow) — exactly the
    * aggregate-fold formula of the round-1 oracle, one pass.
    */
  def fingerprint64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val (starts, ends, nWords) = wordRanges(bytes)
    val p = 9007199254740881L
    var acc = 0L
    var w = 0
    while (w < nWords) {
      acc = (acc * 131 + md5H60(bytes, starts(w), ends(w) - starts(w))) % p
      w += 1
    }
    acc
  }

  // ---- text quality/langid tallies (one pass; formulas stay in SQL) ------

  /** Word-class bitmask: bit0 stopword, bit1..4 en/de/es/fr stopword sets —
    * the same literal word lists as the TextAnalysis SQL expressions and
    * the DuckDB oracles (three-layer contract; edit together).
    */
  private val WordMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    def add(words: Seq[String], bit: Int): Unit = words.foreach { w =>
      val k = UTF8String.fromString(w)
      val old = m.get(k)
      m.put(k, Integer.valueOf((if (old == null) 0 else old.intValue()) | bit))
    }
    add(Seq("the", "and", "of", "to", "a", "in", "is", "der", "die", "das",
      "und", "el", "la", "de"), 1)
    add(Seq("the", "and", "of", "to", "a", "in", "is", "for", "on", "with"), 2)
    add(Seq("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"), 4)
    add(Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "un"), 8)
    add(Seq("le", "la", "les", "et", "des", "un", "une", "du", "dans", "est"), 16)
    m
  }

  /** Raw tallies for the quality/langid formulas, one byte pass + one word
    * pass: (n_words, Σ word code points, text code points, code points not
    * in [A-Za-z0-9 ], stopword hits, distinct words, en/de/es/fr set hits).
    * Exactly the values the interpreted `filter/aggregate/array_distinct`
    * HOF stack computed per row (words = split on U+0020 minus empties;
    * lengths are code points — Spark `length`; distinctness is exact string
    * equality). Static entry point for generated code.
    */
  def textStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    var nCp = 0L
    var nPunct = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      val step = if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4
      nCp += 1
      if (!(step == 1 && ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
        (b >= '0' && b <= '9') || b == ' '))) nPunct += 1
      i += step
    }
    val (starts, ends, nWords) = wordRanges(bytes)
    var sumWlen = 0L
    var nStop = 0
    var sEn = 0
    var sDe = 0
    var sEs = 0
    var sFr = 0
    val seen = new java.util.HashSet[UTF8String]()
    var w = 0
    while (w < nWords) {
      var j = starts(w)
      while (j < ends(w)) {
        val b = bytes(j) & 0xFF
        j += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
        sumWlen += 1
      }
      val u = UTF8String.fromBytes(bytes, starts(w), ends(w) - starts(w))
      val mObj = WordMask.get(u)
      if (mObj != null) {
        val m = mObj.intValue()
        if ((m & 1) != 0) nStop += 1
        if ((m & 2) != 0) sEn += 1
        if ((m & 4) != 0) sDe += 1
        if ((m & 8) != 0) sEs += 1
        if ((m & 16) != 0) sFr += 1
      }
      seen.add(u)
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumWlen, nCp, nPunct, nStop, seen.size(), sEn, sDe, sEs, sFr))
  }

  // ------------------------------------------------------------ functions

  val DotI64 = NativeFn("dot_i64", getClass, "dotI64",
    LongType, ArrayType(LongType), ArrayType(LongType))
  val Shingles3 = NativeFn("shingles3", getClass, "shingles3",
    ArrayType(StringType, containsNull = false), StringType)
  val H31 = NativeFn("h31", getClass, "h31",
    ArrayType(LongType, containsNull = false), ArrayType(StringType))
  val MinhashSigs = NativeFn("minhash_sigs", getClass, "minhashSigs",
    ArrayType(LongType, containsNull = false), ArrayType(LongType))
  val Simhash32 = NativeFn("simhash32", getClass, "simhash32", LongType, StringType)
  val QuantizeI64 = NativeFn("quantize_i64", getClass, "quantizeI64",
    ArrayType(LongType, containsNull = false), ArrayType(FloatType))
  val Fingerprint64 = NativeFn("fingerprint64", getClass, "fingerprint64", LongType, StringType)
  /** text_stats(text) → struct of the raw quality/langid tallies. */
  val TextStats = NativeFn("text_stats", getClass, "textStats", new StructType()
    .add("n_words", IntegerType, nullable = false)
    .add("sum_wlen", LongType, nullable = false)
    .add("n_cp", LongType, nullable = false)
    .add("n_punct", LongType, nullable = false)
    .add("n_stop", IntegerType, nullable = false)
    .add("n_uniq", IntegerType, nullable = false)
    .add("s_en", IntegerType, nullable = false)
    .add("s_de", IntegerType, nullable = false)
    .add("s_es", IntegerType, nullable = false)
    .add("s_fr", IntegerType, nullable = false), StringType)

  val functions: Seq[NativeFn] =
    Seq(DotI64, Shingles3, H31, MinhashSigs, Simhash32, QuantizeI64, Fingerprint64, TextStats)

  def dot_i64(a: Column, b: Column): Column = DotI64(a, b)
  def shingles3(text: Column): Column = Shingles3(text)
  def h31(arr: Column): Column = H31(arr)
  def minhash_sigs(sh: Column): Column = MinhashSigs(sh)
  def simhash32(text: Column): Column = Simhash32(text)
  def quantize_i64(a: Column): Column = QuantizeI64(a)
  def fingerprint64(text: Column): Column = Fingerprint64(text)
  def text_stats(text: Column): Column = TextStats(text)
}
