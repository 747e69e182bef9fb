package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-analysis / dedup hot path.
  *
  * The higher-order-function formulations (`transform`/`aggregate`/`filter`
  * lambdas over token arrays) are interpreted per element — measured 10-50x
  * slower than a fused single pass. Each expression here makes ONE pass over
  * the string bytes per row inside whole-stage codegen (one static call, no
  * per-element boxing), while reproducing the HOF semantics bit-for-bit so
  * the DuckDB oracles keep hash-matching:
  *
  *  - tokens = maximal runs of non-space (0x20) bytes, exactly
  *    `filter(split(text, " ", -1), t => t <> "")`;
  *  - lengths count Unicode code points (Spark `length` / DuckDB `length`);
  *  - md5 hex strings are the portable hash, identical in every engine;
  *  - string comparisons are binary UTF-8 (Spark `array_sort`, DuckDB
  *    `list_sort`), done on `UTF8String` directly.
  *
  * Covers the reference-independent LLM-pipeline operators (SURVEY §2
  * extensions): token stats + quality features, document fingerprinting,
  * MinHash signatures over word shingles, SimHash.
  */
object TextExprsImpl {

  // ASCII punctuation — Java regex \p{Punct} and RE2 [[:punct:]] agree.
  private def isPunct(b: Byte): Boolean = {
    val c = b & 0xff
    (c >= 33 && c <= 47) || (c >= 58 && c <= 64) ||
      (c >= 91 && c <= 96) || (c >= 123 && c <= 126)
  }

  // UTF-8 continuation bytes don't start a code point.
  private def isCharStart(b: Byte): Boolean = (b & 0xc0) != 0x80

  private val HEX = "0123456789abcdef".toCharArray

  private def md5(bytes: Array[Byte], len: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(bytes, 0, len)
    md.digest()
  }

  private def hex(digest: Array[Byte]): UTF8String = {
    val out = new Array[Byte](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HEX((digest(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HEX(digest(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def firstLongBE(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** 16 lowercase hex chars of a 64-bit value (zero-padded). */
  private def hex16(v: Long): UTF8String = {
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      out(i) = HEX(((v >>> ((15 - i) * 4)) & 0xf).toInt).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Token boundaries: (start, end) byte offsets of non-empty runs between
    * 0x20 bytes (space never occurs inside a multi-byte UTF-8 sequence). */
  private def tokenSpans(b: Array[Byte]): (Array[Int], Int) = {
    val spans = new Array[Int](math.max(4, b.length / 2 + 2))
    var n = 0
    var i = 0
    var out = spans
    while (i < b.length) {
      if (b(i) != 0x20) {
        val start = i
        while (i < b.length && b(i) != 0x20) i += 1
        if (2 * n + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(2 * n) = start; out(2 * n + 1) = i; n += 1
      } else i += 1
    }
    (out, n)
  }

  private def charLen(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { if (isCharStart(b(i))) c += 1; i += 1 }
    c
  }

  private def mkSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  // Tiny public stopword profiles — keep in sync with TextAnalysis.stopwords.
  private val SW_DE = mkSet(Seq("der", "die", "das", "und", "ein", "ist", "zu", "den", "mit", "von"))
  private val SW_EN = mkSet(Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))
  private val SW_ES = mkSet(Seq("el", "la", "de", "y", "un", "una", "es", "que", "por", "en"))
  private val SW_FR = mkSet(Seq("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"))

  /** One fused pass: (n_chars, n_tokens, n_distinct, sum_len, bpe_est,
    * n_punct, h_de, h_en, h_es, h_fr, fingerprint). */
  def textStats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    var nChars = 0
    var nPunct = 0
    var i = 0
    while (i < b.length) {
      if (isCharStart(b(i))) nChars += 1
      if (isPunct(b(i))) nPunct += 1
      i += 1
    }
    val (spans, nTok) = tokenSpans(b)
    var sumLen = 0L
    var bpe = 0L
    val distinct = new java.util.HashSet[UTF8String]()
    val lowerDistinct = new java.util.TreeSet[UTF8String]() // binary-ordered
    var hDe = 0; var hEn = 0; var hEs = 0; var hFr = 0
    var t = 0
    while (t < nTok) {
      val from = spans(2 * t); val until = spans(2 * t + 1)
      val len = charLen(b, from, until)
      sumLen += len
      bpe += math.max(1L, ((len + 3) / 4).toLong)
      val tok = UTF8String.fromBytes(b, from, until - from)
      distinct.add(tok)
      val low = tok.toLowerCase
      lowerDistinct.add(low)
      if (SW_DE.contains(low)) hDe += 1
      if (SW_EN.contains(low)) hEn += 1
      if (SW_ES.contains(low)) hEs += 1
      if (SW_FR.contains(low)) hFr += 1
      t += 1
    }
    // fingerprint = md5 of sorted distinct lowercase tokens joined by ' '
    var fpLen = 0
    val it0 = lowerDistinct.iterator()
    while (it0.hasNext) fpLen += it0.next().numBytes() + 1
    val fp = new Array[Byte](math.max(fpLen - 1, 0))
    var off = 0
    val it = lowerDistinct.iterator()
    while (it.hasNext) {
      val w = it.next()
      if (off > 0) { fp(off) = 0x20; off += 1 }
      w.writeToMemory(fp, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
      off += w.numBytes()
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nChars, nTok, distinct.size(), sumLen, bpe, nPunct,
      hDe, hEn, hEs, hFr, hex(md5(fp, off))))
  }

  /** MinHash signature over n-word shingles of the lowercased token stream.
    * Returns (n_shingles, sig[k], dsh[]) or null when fewer than n tokens.
    * sig[i] = min over distinct shingles of the first 16 hex chars of
    * md5("i:" + shingle) — lexicographic min on 16 hex chars == unsigned min
    * on the first 8 digest bytes, so the min runs on a primitive long. */
  def minhash(s: UTF8String, shingleN: Int, k: Int): InternalRow = {
    val low = s.toLowerCase
    val b = low.getBytes
    val (spans, nTok) = tokenSpans(b)
    if (nTok < shingleN) return null
    val seen = new java.util.HashSet[UTF8String]()
    val dsh = new java.util.ArrayList[UTF8String]()
    val mins = Array.fill(k)(-1L) // unsigned max
    val md = java.security.MessageDigest.getInstance("MD5")
    // reusable buffer: "<seed>:" prefix + shingle bytes. The prefix
    // region is sized from k (digits of the largest seed, plus ':') so
    // any k is safe — a fixed-width region would underflow once seeds
    // grow another digit.
    val pfx = Integer.toString(math.max(k - 1, 0)).length + 1
    var buf = new Array[Byte](math.max(64, pfx + 32))
    var t = 0
    while (t + shingleN <= nTok) {
      val from = spans(2 * t)
      val until = spans(2 * (t + shingleN - 1) + 1)
      // shingle = tokens joined by single spaces; the source slice may hold
      // runs of spaces between tokens, so rebuild compactly
      var need = 0
      var j = 0
      while (j < shingleN) { need += spans(2 * (t + j) + 1) - spans(2 * (t + j)) + 1; j += 1 }
      if (buf.length < need + pfx) buf = new Array[Byte](math.max(buf.length * 2, need + pfx))
      var off = pfx // room for the "<seed>:" prefixes
      j = 0
      while (j < shingleN) {
        if (j > 0) { buf(off) = 0x20; off += 1 }
        val f = spans(2 * (t + j)); val u = spans(2 * (t + j) + 1)
        System.arraycopy(b, f, buf, off, u - f)
        off += u - f
        j += 1
      }
      val sh = UTF8String.fromBytes(buf, pfx, off - pfx)
      if (!seen.contains(sh)) {
        val copy = sh.clone()
        seen.add(copy)
        dsh.add(copy)
        var seed = 0
        while (seed < k) {
          // prefix "<seed>:" written just before the shingle bytes
          var p = pfx - 1
          buf(p) = ':'.toByte
          var v = seed
          do { p -= 1; buf(p) = ('0' + v % 10).toByte; v /= 10 } while (v > 0)
          md.reset()
          md.update(buf, p, off - p)
          val h = firstLongBE(md.digest())
          if (java.lang.Long.compareUnsigned(h, mins(seed)) < 0) mins(seed) = h
          seed += 1
        }
      }
      t += 1
    }
    val sig = new Array[Any](k)
    var i = 0
    while (i < k) { sig(i) = hex16(mins(i)); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      seen.size(),
      new GenericArrayData(sig),
      new GenericArrayData(dsh.toArray())))
  }

  /** All stride-1 `w`-token window digests of the lowercase token stream
    * in ONE fused pass (the substring-dedup primitive, `Dedup.window*`).
    * Semantics are bit-for-bit the HOF formulation
    * `transform(sequence(0, n-w), i -> unhex(md5(array_join(slice(toks,
    * i+1, w), " "))))`: tokens are normalized into ONE compact
    * single-space-joined buffer with per-token offsets, and each window
    * md5 runs directly over a slice of that buffer — zero per-window
    * string building or array slicing (measured: window construction
    * dominated the whole operator under the HOF form). Empty array when
    * the doc has fewer than `w` tokens. */
  def windowDigests(s: UTF8String, w: Int): GenericArrayData = {
    val low = s.toLowerCase
    val b = low.getBytes
    val (spans, nTok) = tokenSpans(b)
    if (nTok < w) return new GenericArrayData(Array.empty[Any])
    // compact join: tokens separated by exactly one space
    val nb = new Array[Byte](b.length)
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var pos = 0
    var t = 0
    while (t < nTok) {
      if (t > 0) { nb(pos) = 0x20; pos += 1 }
      starts(t) = pos
      val f = spans(2 * t); val u = spans(2 * t + 1)
      System.arraycopy(b, f, nb, pos, u - f)
      pos += u - f
      ends(t) = pos
      t += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](nTok - w + 1)
    t = 0
    while (t + w <= nTok) {
      md.reset()
      md.update(nb, starts(t), ends(t + w - 1) - starts(t))
      out(t) = md.digest()
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document term frequencies over the lowercase token stream, as a
    * map<term, count> — the map-side half of TF-IDF fused into the row
    * pass, so the engine shuffles one pre-aggregated (doc, term, tf) row
    * per DISTINCT term instead of one row per token occurrence. */
  def termFreqs(s: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val low = s.toLowerCase
    val b = low.getBytes
    val (spans, nTok) = tokenSpans(b)
    val counts = new java.util.LinkedHashMap[UTF8String, Integer]()
    var t = 0
    while (t < nTok) {
      val tok = UTF8String.fromBytes(b, spans(2 * t), spans(2 * t + 1) - spans(2 * t))
      val c = counts.get(tok)
      counts.put(tok, if (c == null) 1 else c + 1)
      t += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue.intValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** Shannon entropy (nats) of the token distribution in one pass —
    * tokenize, count, fold; no map materialization, no HOF lambdas.
    * Null when the text has no tokens. Summation runs in token
    * first-seen order; cross-engine FP drift is far below the oracle's
    * 1e-7 rounding nudge. */
  def tokenEntropy(s: UTF8String): java.lang.Double = {
    val low = s.toLowerCase
    val b = low.getBytes
    val (spans, nTok) = tokenSpans(b)
    if (nTok == 0) return null
    val counts = new java.util.LinkedHashMap[UTF8String, Integer]()
    var t = 0
    while (t < nTok) {
      val tok = UTF8String.fromBytes(b, spans(2 * t), spans(2 * t + 1) - spans(2 * t))
      val c = counts.get(tok)
      counts.put(tok, if (c == null) 1 else c + 1)
      t += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().doubleValue() / nTok
      h -= p * math.log(p)
    }
    h
  }

  /** 64-bit SimHash over the distinct lowercase token set, as a 64-char bit
    * string: bit b of md5(token)'s first 8 bytes votes +1/-1; sign wins. */
  def simhash(s: UTF8String): UTF8String = {
    val low = s.toLowerCase
    val b = low.getBytes
    val (spans, nTok) = tokenSpans(b)
    val seen = new java.util.HashSet[UTF8String]()
    val acc = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < nTok) {
      val from = spans(2 * t); val until = spans(2 * t + 1)
      val tok = UTF8String.fromBytes(b, from, until - from)
      if (!seen.contains(tok)) {
        seen.add(tok.clone())
        md.reset()
        md.update(b, from, until - from)
        val bits = firstLongBE(md.digest())
        var i = 0
        while (i < 64) {
          acc(i) += (((bits >>> (63 - i)) & 1L).toInt * 2) - 1
          i += 1
        }
      }
      t += 1
    }
    val out = new Array[Byte](64)
    var i = 0
    while (i < 64) { out(i) = if (acc(i) > 0) '1' else '0'; i += 1 }
    UTF8String.fromBytes(out)
  }
}

/** Fused per-row text feature pass (see [[TextExprsImpl.textStats]]). */
case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.textStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprsImpl.textStats($c)")
  override protected def withNewChildInternal(c: Expression): TextStats = copy(c)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("bpe_est", LongType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("h_de", IntegerType, nullable = false),
    StructField("h_en", IntegerType, nullable = false),
    StructField("h_es", IntegerType, nullable = false),
    StructField("h_fr", IntegerType, nullable = false),
    StructField("fingerprint", StringType, nullable = false)))

  def textStats(c: Column): Column =
    org.apache.spark.sql.functions.call_function("text_stats", c)
}

/** Per-row MinHash signature + distinct shingles (see
  * [[TextExprsImpl.minhash]]); null when the doc has < shingleN tokens. */
case class MinHashSig(child: Expression, shingleN: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", IntegerType, nullable = false),
    StructField("sig", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("dsh", ArrayType(StringType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.minhash(v.asInstanceOf[UTF8String], shingleN, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.TextExprsImpl.minhash($c, $shingleN, $k);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

object MinHashSig {
  def minhashSig(c: Column, shingleN: Int = 3, k: Int = 8): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", c,
      lit(shingleN), lit(k))
}

/** Per-row window-digest array (see [[TextExprsImpl.windowDigests]]). */
case class WindowDigests(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, "window width must be positive")
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "window_digests"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.windowDigests(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextExprsImpl.windowDigests($c, $w)")
  override protected def withNewChildInternal(c: Expression): WindowDigests =
    copy(child = c)
}

object WindowDigests {
  def windowDigests(c: Column, w: Int): Column =
    org.apache.spark.sql.functions.call_function("window_digests", c, lit(w))
}

/** Per-row term-frequency map (see [[TextExprsImpl.termFreqs]]). */
case class TermFreqs(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)
  override def prettyName: String = "term_freqs"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.termFreqs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprsImpl.termFreqs($c)")
  override protected def withNewChildInternal(c: Expression): TermFreqs = copy(c)
}

object TermFreqs {
  def termFreqs(c: Column): Column =
    org.apache.spark.sql.functions.call_function("term_freqs", c)
}

/** Per-row token-distribution Shannon entropy (see
  * [[TextExprsImpl.tokenEntropy]]) — nullable: no tokens, no entropy. */
case class TokenEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "token_entropy"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.tokenEntropy(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""java.lang.Double ${ev.value}_r =
         |  graft.functions.TextExprsImpl.tokenEntropy($c);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): TokenEntropy =
    copy(c)
}

object TokenEntropy {
  def tokenEntropy(c: Column): Column =
    org.apache.spark.sql.functions.call_function("token_entropy", c)
}

/** Per-row 64-bit SimHash bit string (see [[TextExprsImpl.simhash]]). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any =
    TextExprsImpl.simhash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprsImpl.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

object SimHash64 {
  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)
}
