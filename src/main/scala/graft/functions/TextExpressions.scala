package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot text-tokenization path.
  *
  * The HOF formulations in TextOps (zip_with over slices, transform
  * over sequence) are interpreted — no whole-stage codegen, one
  * closure call per element, boxed arrays per row. These expressions
  * compute the same values in a single tight JVM loop invoked from
  * generated code (same pattern as BinaryCodecExpressions). TextOps
  * keeps the HOF versions as the executable specification; the
  * equivalence is asserted property-style in TextNativeSpec.
  *
  * Semantics contract (must stay bit-identical to the HOF versions
  * and the DuckDB oracle fragments in ExtQueries):
  *  - words = split on single space, trailing empties kept;
  *  - shingles: i in 1..len-(n-1), words joined by one space,
  *    distinct by first occurrence; empty set when len < n;
  *  - trigrams: all 3-codepoint substrings, distinct by first
  *    occurrence.
  */
object TextNative {

  /** Distinct word n-gram shingles of a space-separated text. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    val words = s.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new mutable.LinkedHashSet[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    new GenericArrayData(seen.iterator.map(w =>
      UTF8String.fromString(w): Any).toArray)
  }

  /** BPE encode: split the word into codepoint tokens, then apply the
    * ordered merge list, each merge left-to-right non-overlapping —
    * one tight JVM loop instead of one interpreted HOF fold pass per
    * merge (Bpe.mergePass is the executable specification; BpeSpec
    * asserts equality). */
  def bpeEncode(text: UTF8String, as: Array[String],
                bs: Array[String]): ArrayData = {
    val s = text.toString
    var cur = new mutable.ArrayBuffer[String](s.length)
    var idx = 0
    while (idx < s.length) {
      val next = s.offsetByCodePoints(idx, 1)
      cur += s.substring(idx, next)
      idx = next
    }
    var j = 0
    while (j < as.length && cur.nonEmpty) {
      val a = as(j); val b = bs(j)
      val next = new mutable.ArrayBuffer[String](cur.length)
      var i = 0
      while (i < cur.length) {
        if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
          next += (a + b); i += 2
        } else { next += cur(i); i += 1 }
      }
      cur = next
      j += 1
    }
    new GenericArrayData(cur.iterator.map(t =>
      UTF8String.fromString(t): Any).toArray)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of PortableHash.h48 (first 48 bits of md5 over UTF-8):
    * first 6 digest bytes big-endian == integer value of the first 12
    * hex chars. PortableMathLawsSpec pins byte-equality with the
    * Catalyst-built-in column form. */
  def h48(word: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** ALL positional word n-grams — duplicates kept, document order —
    * the native twin of the zip_with-concat chain in
    * `TextOps.wordShinglesAllHof` (r17): that chain paid one
    * interpreted zip_with pass per extra gram word, ~16 s of task
    * CPU in dd_span_scrub's fan-out stage at sf0.1 (JobProfile).
    * Empty array (not null) for docs shorter than n words, exactly
    * like slice(ws, 1, 0). Parity in TextNativeSpec. */
  def wordShinglesAll(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val cnt = words.length - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Positional h31 hashes of ALL word n-grams — duplicates kept, in
    * document order — the native fusion of
    * `transform(TextOps.wordShinglesAll(text, n), g => PH.h31(g))`
    * (r17, the winnowing input): the HOF chain built each gram via
    * interpreted zip_with string concats and hashed it through an
    * interpreted transform lambda; here both happen in one while
    * loop. Empty array (NOT null) for docs shorter than n words —
    * matching slice(ws, 1, 0)'s empty result; null only on null
    * input (handled by the expression wrapper). Bit-parity with the
    * HOF form is pinned in TextNativeSpec. */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val cnt = words.length - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val p = PortableHash.P31
    val out = new Array[Any](cnt)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = h48(sb.toString) % p
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Robust-winnowing selection (Schleimer–Wilkerson–Aiken) over a
    * hash sequence: per window of `w` consecutive hashes (1-based
    * starts 1..max(n-w+1, 1), tail window clamped), select the
    * RIGHTMOST minimal hash and pack (pos·2³¹ + hash); first-
    * occurrence distinct, in window order. Exact twin of the nested
    * HOF form it replaces (TextAnalysis.winnowSelected r7): per
    * window that form paid two `slice` allocations, an interpreted
    * filter over a generated sequence, array_min twice and
    * array_max — ~15 s of task CPU and ~1 s of GC at sf0.1
    * (JobProfile dd_winnow_pairs). Null elements are skipped like
    * array_min does; an all-null window selects nothing (the HOF's
    * array_max-over-empty → null → filtered). Parity incl. null and
    * short-doc cases pinned in TextNativeSpec.
    *
    * Every non-null hash must lie in [0, 2³¹) (shingle_hashes emits
    * values mod a 31-bit prime): outside it the packing would silently
    * mix position and fingerprint, and [[packedLow31]] would return
    * wrong fingerprints. Such input fails the task instead. */
  def winnowSelect(hv: ArrayData, w: Int): ArrayData = {
    val n = hv.numElements()
    var k = 0
    while (k < n) {
      if (!hv.isNullAt(k)) {
        val v = hv.getLong(k)
        if (v < 0L || v >= 2147483648L) throw new IllegalArgumentException(
          s"winnow_select: hash $v at index $k is outside [0, 2^31)")
      }
      k += 1
    }
    val upTo = math.max(n - (w - 1), 1)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 1
    while (i <= upTo) {
      val end = math.min(i + w - 1, n)
      var mn = 0L
      var any = false
      var j = i
      while (j <= end) {
        if (!hv.isNullAt(j - 1)) {
          val v = hv.getLong(j - 1)
          if (!any || v < mn) { mn = v; any = true }
        }
        j += 1
      }
      if (any) {
        var pos = 0L
        j = i
        while (j <= end) {
          if (!hv.isNullAt(j - 1) && hv.getLong(j - 1) == mn) pos = j.toLong
          j += 1
        }
        val packed = pos * 2147483648L + mn
        if (seen.add(packed)) out += packed
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct low-31-bit values of a packed (pos·2³¹ + fp) selection
    * array, first-occurrence order — the native form of
    * `array_distinct(transform(sel, p -> p % 2147483648))` feeding
    * [[graft.operators.Dedup.winnowPairs]]'s explode (r17): the
    * interpreted two-HOF chain was the last CodegenFallback in the
    * winnow path. Null elements dropped like array_distinct keeps
    * them... (they cannot occur: winnow_select emits non-null), but
    * mirrored exactly anyway: a null element maps to null and
    * array_distinct KEEPS one null — so does this. Its input is
    * winnow_select output, whose fingerprints [[winnowSelect]] has
    * bound-checked to [0, 2³¹). */
  def packedLow31(sel: ArrayData): ArrayData = {
    val n = sel.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    val seen = new java.util.HashSet[java.lang.Long]()
    var sawNull = false
    var i = 0
    while (i < n) {
      if (sel.isNullAt(i)) {
        if (!sawNull) { sawNull = true; out += null }
      } else {
        val v = sel.getLong(i) % 2147483648L
        if (seen.add(v)) out += v
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** SimHash-48 of a document in ONE row-local pass: per space token,
    * add ±1 per fingerprint bit according to h48(token), then pack
    * bits with positive sums. Semantically identical to the
    * explode + 48-sum-column aggregate formulation (Dedup.simhashAgg,
    * the executable spec) — but with NO explode and NO shuffle: the
    * fingerprint is a scalar projection, which is the correct shape
    * at 100 TB (SimHash is per-doc math; nothing crosses rows).
    * split(" ", -1) keeps empty tokens exactly like Spark's split. */
  def simhash48(text: UTF8String): Long = {
    val words = text.toString.split(" ", -1)
    val sums = new Array[Int](48)
    var i = 0
    while (i < words.length) {
      val h = h48(words(i))
      var b = 0
      while (b < 48) {
        sums(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 48) {
      if (sums(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** MinHash signature of a document in ONE row-local pass: distinct
    * word n-gram shingles (same enumeration as [[wordShingles]]),
    * h31 = h48 % P31 per shingle, and the K affine minima folded in
    * the same loop. Per-doc math — the signature is a projection, no
    * explode and no aggregate (Dedup.minhashSignaturesAgg is the
    * declarative executable spec). Returns NULL when the doc has no
    * shingles (fewer than n words): the agg formulation emits no row
    * for such docs, and a degenerate identity signature would
    * spuriously bucket all short docs together — callers filter nulls
    * to keep the drop semantics. */
  def minhashSig(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return null
    val k = PortableHash.MinhashK
    val a = PortableHash.MinhashA
    val b = PortableHash.MinhashB
    val p = PortableHash.P31
    val mins = Array.fill(k)(Long.MaxValue)
    val seen = new mutable.HashSet[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        val h = h48(sh) % p
        var m = 0
        while (m < k) {
          val v = (h * a(m) + b(m)) % p
          if (v < mins(m)) mins(m) = v
          m += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(v => v: Any))
  }

  /** One-permutation-hashing MinHash signature in ONE row-local pass
    * (Li–Owen–Zhang NIPS'12; rotation densification per
    * Shrivastava–Li ICML'14): same distinct-shingle enumeration as
    * [[minhashSig]], but each shingle is hashed ONCE — h31 into bin
    * h mod K, min per bin — instead of through K affine transforms;
    * empty bin j borrows from the first non-empty bin (j+t) mod K
    * with offset t·OphC. ~K× less hash arithmetic per shingle at the
    * same projection shape (Dedup.ophSignaturesAgg is the
    * declarative executable spec; tools/OphBench quantifies the
    * win). NULL for shingle-less docs, like [[minhashSig]]. */
  def ophSig(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return null
    val k = PortableHash.MinhashK
    val p = PortableHash.P31
    val c = PortableHash.OphC
    val mins = Array.fill(k)(Long.MaxValue)
    val seen = new mutable.HashSet[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        val h = h48(sh) % p
        val bin = (h % k).toInt
        if (h < mins(bin)) mins(bin) = h
      }
      i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var t = 0
      while (mins((j + t) % k) == Long.MaxValue) t += 1
      out(j) = (mins((j + t) % k) + t * c) % p
      j += 1
    }
    new GenericArrayData(out.map(v => v: Any))
  }

  /** DEFLATE-compressed size of the UTF-8 text at a fixed level —
    * the compression-ratio quality heuristic (repetitive/boilerplate
    * text compresses far below natural text). Engine-specific output
    * (no DuckDB compress) → declared with the x_ rows-only check;
    * deterministic within the JVM, which is what the rerun guard
    * needs. */
  def deflateSize(text: UTF8String, level: Int): Long = {
    val d = new java.util.zip.Deflater(level)
    try {
      d.setInput(text.getBytes)
      d.finish()
      val buf = new Array[Byte](4096)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** Unicode NFC normalization (java.text.Normalizer) — canonical
    * composition: combining sequences ("e" + U+0301) fold to their
    * precomposed forms ("é"). The text-canonicalization pass before
    * hashing/dedup (two visually identical strings with different
    * codepoint sequences would otherwise never dedup). Bit-compatible
    * with DuckDB's nfc_normalize (both implement Unicode NFC). */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    // quickCheck-style fast path: Normalizer.isNormalized is a scan
    // with no allocation; most corpus text is already NFC.
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Mojibake repair (r6) — the ftfy core move: text that is valid
    * UTF-8 mis-decoded as Latin-1 shows up as digraph salad ("Ã©"
    * for "é"); re-encoding the chars as Latin-1 bytes and decoding
    * those bytes as UTF-8 inverts the corruption EXACTLY, with no
    * digraph table. Guards (fail-closed, never clobber genuine
    * text): only strings whose non-ASCII chars are all ≤ U+00FF are
    * candidates (a genuine "é" alone is an invalid UTF-8 start byte
    * → the decode check rejects it), and the round trip is accepted
    * only when the byte stream decodes with zero replacement chars.
    * Mixed genuine-Latin-1 + mojibake strings are left untouched
    * (the known ftfy ambiguity; documented, not guessed at). */
  def fixMojibake(text: UTF8String): UTF8String = {
    val s = text.toString
    var hasHigh = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0x80) {
        if (c > 0xFF) return text // not Latin-1-encodable: leave as-is
        hasHigh = true
      }
      i += 1
    }
    if (!hasHigh) return text // pure ASCII: nothing to repair
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val cand = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    if (cand.indexOf('\uFFFD') >= 0) text // not UTF-8: genuine Latin-1
    else UTF8String.fromString(cand)
  }

  /** Distinct character trigrams (codepoint-based, like substr). */
  def charTrigrams(text: UTF8String): ArrayData = {
    val s = text.toString
    val cps = s.codePointCount(0, s.length)
    if (cps < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new mutable.LinkedHashSet[String]
    var idx = 0
    var c = 0
    // offsets of codepoint starts
    val starts = new Array[Int](cps + 1)
    while (c < cps) {
      starts(c) = idx
      idx = s.offsetByCodePoints(idx, 1)
      c += 1
    }
    starts(cps) = s.length
    var i = 0
    while (i + 3 <= cps) {
      seen.add(s.substring(starts(i), starts(i + 3)))
      i += 1
    }
    new GenericArrayData(seen.iterator.map(w =>
      UTF8String.fromString(w): Any).toArray)
  }
}

case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextNative.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.wordShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_trigrams"

  override def nullSafeEval(input: Any): Any =
    TextNative.charTrigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.charTrigrams($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode"

  @transient private lazy val aArr: Array[String] = merges.map(_._1).toArray
  @transient private lazy val bArr: Array[String] = merges.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    TextNative.bpeEncode(input.asInstanceOf[UTF8String], aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("bpeA", aArr, "java.lang.String[]")
    val bRef = ctx.addReferenceObj("bpeB", bArr, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.bpeEncode($c, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinhashSig(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on null input AND on shingle-less (short) docs
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    TextNative.minhashSig(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextNative.minhashSig($c, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class OphSig(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on null input AND on shingle-less (short) docs
  override def nullable: Boolean = true
  override def prettyName: String = "oph_sig"

  override def nullSafeEval(input: Any): Any =
    TextNative.ophSig(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextNative.ophSig($c, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordShinglesAll(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_shingles_all"

  override def nullSafeEval(input: Any): Any =
    TextNative.wordShinglesAll(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.wordShinglesAll($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TextNative.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.shingleHashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WinnowSelect(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_select"

  override def nullSafeEval(input: Any): Any =
    TextNative.winnowSelect(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.winnowSelect($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PackedLow31(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "packed_low31"

  override def nullSafeEval(input: Any): Any =
    TextNative.packedLow31(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.packedLow31($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Simhash48(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash48"

  override def nullSafeEval(input: Any): Any =
    TextNative.simhash48(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.simhash48($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    TextNative.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class FixMojibake(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "fix_mojibake"

  override def nullSafeEval(input: Any): Any =
    TextNative.fixMojibake(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.fixMojibake($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DeflateSize(child: Expression, level: Int)
    extends UnaryExpression {
  require(level >= 0 && level <= 9)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "deflate_size"

  override def nullSafeEval(input: Any): Any =
    TextNative.deflateSize(input.asInstanceOf[UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.deflateSize($c, $level);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API. */
object textNative {
  def word_shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
  def char_trigrams(text: Column): Column =
    ColumnBridge.column(CharTrigrams(ColumnBridge.expression(text)))
  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(text), merges))
  def deflate_size(text: Column, level: Int = 6): Column =
    ColumnBridge.column(DeflateSize(ColumnBridge.expression(text), level))
  def simhash48(text: Column): Column =
    ColumnBridge.column(Simhash48(ColumnBridge.expression(text)))
  def shingle_hashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))
  def word_shingles_all(text: Column, n: Int): Column =
    ColumnBridge.column(WordShinglesAll(ColumnBridge.expression(text), n))
  def winnow_select(hv: Column, w: Int): Column =
    ColumnBridge.column(WinnowSelect(ColumnBridge.expression(hv), w))
  def packed_low31(sel: Column): Column =
    ColumnBridge.column(PackedLow31(ColumnBridge.expression(sel)))
  def nfc_normalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))
  def fix_mojibake(text: Column): Column =
    ColumnBridge.column(FixMojibake(ColumnBridge.expression(text)))
  def minhash_sig(text: Column, n: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(text), n))

  /** One-permutation-hashing signature (see [[TextNative.ophSig]]). */
  def oph_sig(text: Column, n: Int): Column =
    ColumnBridge.column(OphSig(ColumnBridge.expression(text), n))
}
