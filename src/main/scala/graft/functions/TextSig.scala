package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row text-signal kernels (round-18 optimization) — the
  * codegen replacement for the per-char posexplode → partial-agg →
  * collect_list → HOF-fold pipelines behind the perceptual signatures
  * and the audio-frame energy ops. One generated-code call per ROW
  * replaces one generated ROW PER CHARACTER plus two exchanges per
  * consumer; the integer math is identical term by term, so every
  * output bit matches the pipeline formulation (pinned in VectorSpec's
  * equivalence sweep and by the unchanged DuckDB oracles).
  *
  * Character semantics contract (must equal `split(text, '')` +
  * `ascii(c)`): iterate UNICODE CODE POINTS in order. Spark's
  * `split("")` splits between code points (Java `Pattern` does not
  * split surrogate pairs) and `Ascii` is `codePointAt(0)` of the
  * 1-char slice — both reproduced here by decoding UTF-8 sequences
  * directly off the UTF8String bytes, no per-char allocation. */
object TextSig {
  /** Decoded code point at byte offset i (callers advance by
    * [[UTF8String.numBytesForFirstByte]]). Standard UTF-8; the fixture
    * corpus is ASCII-only but the decode is total so the expressions
    * stay correct on any well-formed input. */
  @inline private def codePointAt(s: UTF8String, i: Int, len: Int): Int =
    len match {
      case 1 => s.getByte(i) & 0xFF
      case 2 => ((s.getByte(i) & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F)
      case 3 => ((s.getByte(i) & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
                (s.getByte(i + 2) & 0x3F)
      case _ => ((s.getByte(i) & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
                ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F)
    }

  /** The 16-block whole-blob perceptual signature — bit b set iff
    * bsum_b·n > ts·blen_b with block = pos·16 div n, all exact int64
    * (the multimodal_phash rule, one fused pass). Blocks with no
    * characters (only possible when n < 16) contribute no bit, like
    * the grouped pipeline that never materialized their rows. */
  def phashSig16(s: UTF8String): Long = {
    val n = s.numChars().toLong
    if (n <= 0L) return 0L
    val bsum = new Array[Long](16)
    val blen = new Array[Long](16)
    var ts = 0L
    val nb = s.numBytes()
    var i = 0
    var k = 0L
    while (i < nb) {
      val l = UTF8String.numBytesForFirstByte(s.getByte(i))
      val cp = codePointAt(s, i, l).toLong
      val b = ((k * 16L) / n).toInt
      bsum(b) += cp; blen(b) += 1L; ts += cp
      i += l; k += 1L
    }
    var sig = 0L
    var b = 0
    while (b < 16) {
      if (blen(b) > 0L && bsum(b) * n > ts * blen(b)) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Per-64-char-frame 32-block signatures (2 chars per block; bit =
    * bsum·32 > ts, the multimodal_scene_detect / frame-dedup rule).
    * Returns one int64 sig per complete frame — the ragged tail is
    * dropped exactly like the `pos < (n div 64)·64` explode filter. */
  def frameSigs32(s: UTF8String): ArrayData = {
    val n = s.numChars().toLong
    val nf = (n / 64L).toInt
    if (nf <= 0) return new GenericArrayData(Array.empty[Long])
    val sigs = new Array[Long](nf)
    val bsum = new Array[Long](32)
    val nb = s.numBytes()
    var i = 0
    var k = 0L
    var f = 0
    var ts = 0L
    while (i < nb && f < nf) {
      val l = UTF8String.numBytesForFirstByte(s.getByte(i))
      val cp = codePointAt(s, i, l).toLong
      val pif = (k % 64L).toInt
      bsum(pif / 2) += cp; ts += cp
      if (pif == 63) {
        var sig = 0L
        var b = 0
        while (b < 32) {
          if (bsum(b) * 32L > ts) sig |= (1L << b)
          bsum(b) = 0L
          b += 1
        }
        sigs(f) = sig
        f += 1; ts = 0L
      }
      i += l; k += 1L
    }
    new GenericArrayData(sigs)
  }

  /** Token count under `split(text, " ", -1)` semantics (round-19
    * opt): the pattern is a single literal space, and Java's split
    * with limit -1 keeps every empty token (leading, adjacent,
    * trailing), so the count is exactly #spaces + 1 — including the
    * empty string, which splits to one empty token. An ASCII space
    * byte cannot occur inside a multi-byte UTF-8 sequence, so the
    * byte scan is exact on any input. Replaces size(split(...)) in
    * filters and projections that only need the COUNT — no token
    * array is ever allocated. */
  def tokCount(s: UTF8String): Long = {
    val nb = s.numBytes()
    var c = 1L
    var i = 0
    while (i < nb) {
      if (s.getByte(i) == 0x20) c += 1L
      i += 1
    }
    c
  }

  /** Count of tokens (under the same split-by-single-space semantics
    * as [[tokCount]]) byte-equal to any banned word — the value of
    * size(filter(split(text, " "), t -> t IN (banned...))) with no
    * token array, no lambda interpretation, no per-token allocation
    * (UTF8String equality IS byte equality). */
  def tokHits(s: UTF8String, banned: Array[Array[Byte]]): Long = {
    val nb = s.numBytes()
    var hits = 0L
    var st = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || s.getByte(i) == 0x20) {
        val len = i - st
        var b = 0
        while (b < banned.length) {
          val w = banned(b)
          if (w.length == len) {
            var k = 0
            var eq = true
            while (eq && k < len) {
              if (s.getByte(st + k) != w(k)) eq = false
              k += 1
            }
            if (eq) { hits += 1L; b = banned.length }
            else b += 1
          } else b += 1
        }
        st = i + 1
      }
      i += 1
    }
    hits
  }

  /** First-occurrence token dedup in one pass (round-19 opt): the
    * value of `filter(toks, (t, i) -> array_position(toks, t) = i+1)`
    * over toks = split(text, " ", -1) — keep a token iff its FIRST
    * occurrence is at this index, i.e. iff it has not been seen yet —
    * plus the counts text_dedup_inline derives from it. The HOF
    * formulation interpreted an O(n²) array_position probe per token;
    * this is one hashed pass. Returns (n_tokens, n_unique,
    * dedup_text = array_join(uniq, " ")). */
  def dedupTokens(s: UTF8String): (Long, Long, UTF8String) = {
    val nb = s.numBytes()
    val seen = new java.util.HashSet[UTF8String]()
    val kept = new java.util.ArrayList[UTF8String]()
    var nTok = 0L
    var st = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || s.getByte(i) == 0x20) {
        // zero-copy byte-slice view; consumed (hashed/copied) before return
        val tok = UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + st, i - st)
        nTok += 1L
        if (seen.add(tok)) kept.add(tok)
        st = i + 1
      }
      i += 1
    }
    val joined = UTF8String.concatWs(
      UTF8String.fromString(" "), kept.toArray(new Array[UTF8String](kept.size())): _*)
    (nTok, kept.size().toLong, joined)
  }

  private val hexChars = "0123456789abcdef".getBytes

  /** Byte offset of every single-space token's first byte (token 0
    * starts at 0), the split(text, " ", -1) token boundaries read off
    * the raw bytes. */
  private def tokenStarts(b: Array[Byte]): Array[Int] = {
    val nb = b.length
    var ntok = 1
    var i = 0
    while (i < nb) { if (b(i) == 0x20) ntok += 1; i += 1 }
    val starts = new Array[Int](ntok)
    var t = 1
    i = 0
    while (i < nb) { if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts
  }

  /** End (exclusive) of the k-token span starting at token w. */
  @inline private def spanEnd(starts: Array[Int], nb: Int, w: Int, k: Int): Int =
    if (w + k < starts.length) starts(w + k) - 1 else nb

  /** All k-token sliding-window md5 digests of a single-space-tokenized
    * text, in offset order (round-19 opt). The identity that makes the
    * byte-span digest exact: split-by-single-space then
    * array_join(slice(tk, i+1, k), ' ') reconstructs EXACTLY the
    * original byte span from the start of token i to the end of token
    * i+k−1 (join is split's inverse for any input, including empty
    * tokens from adjacent/leading/trailing spaces), so
    * md5(array_join(slice(...))) = md5 of the raw span bytes — no token
    * array, no slice, no join string per window. Digests are lowercase
    * 32-char hex, byte-identical to Spark's md5(). Texts with fewer
    * than k tokens return an empty array (the consumers' size(tk) ≥ k
    * guard). */
  def shingleMd5s(s: UTF8String, k: Int): ArrayData = {
    val b = s.getBytes
    val nb = b.length
    val starts = tokenStarts(b)
    val wins = starts.length - k + 1
    if (wins <= 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5Prefix48.digestTL.get()
    val out = new Array[Any](wins)
    var w = 0
    while (w < wins) {
      val st = starts(w)
      md.reset()
      md.update(b, st, spanEnd(starts, nb, w, k) - st)
      val dg = md.digest()
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexChars((dg(j) >> 4) & 0xF)
        hex(2 * j + 1) = hexChars(dg(j) & 0xF)
        j += 1
      }
      out(w) = UTF8String.fromBytes(hex)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** The 48-bit md5 prefix ([[Md5Prefix48.hash48]]) of every word
    * 3-gram byte span, in offset order — the gram base's `gh` column
    * for one document, computed in the row: the same byte-span
    * identity as [[shingleMd5s]] (md5 of concat_ws(' ', t[i], t[i+1],
    * t[i+2]) = md5 of the raw span), one digest per gram, no token
    * array, no gram string. Fewer than 3 tokens → empty array. */
  def gramHashes48(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val nb = b.length
    val starts = tokenStarts(b)
    val wins = starts.length - 2
    if (wins <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = Md5Prefix48.digestTL.get()
    val dg = Md5Prefix48.bufTL.get()
    val out = new Array[Long](wins)
    var w = 0
    while (w < wins) {
      val st = starts(w)
      md.reset()
      md.update(b, st, spanEnd(starts, nb, w, 3) - st)
      md.digest(dg, 0, 16)
      out(w) = Md5Prefix48.prefix48(dg)
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Position radix 2³¹ of the winnowing enc packing — see [[winnowEnc]]. */
  final val WinnowP = 2147483648L

  /** Winnowing selections (Schleimer et al., SIGMOD'03) over one
    * document's gram hashes in offset order ([[gramHashes48]]): for
    * every full window of W = 4 consecutive grams, the minimum of
    * enc = h·2³¹ + (2³¹−1−pos) with h = gh DIV 16⁴ (the first 8 md5
    * hex chars) — min hash, rightmost position on ties. Returns each
    * distinct selection once, in window order; fewer than W grams →
    * empty. A position selected by two windows is selected by every
    * window between them, so comparing with the previous selection is
    * a full dedup. h is 32 bits, so max enc = (2³²−1)·2³¹ + (2³¹−1) =
    * 2⁶³−1: exactly int64, and positions up to 2³¹ ≈ 2.1e9 grams
    * encode exactly. The input must therefore be 48-bit hashes
    * (0 ≤ gh < 2⁴⁸); anything else, or a NULL element, raises an error
    * instead of packing a wrong fingerprint. */
  def winnowEnc(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val W = 4
    if (n < W) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val enc = new Array[Long](n)
    var q = 0
    while (q < n) {
      if (a.isNullAt(q))
        throw new IllegalArgumentException(s"winnow_enc: NULL gram hash at index $q")
      val gh = a.getLong(q)
      if (gh < 0L || gh >= (1L << 48))
        throw new IllegalArgumentException(
          s"winnow_enc: gram hash $gh at index $q is not a 48-bit md5 prefix")
      enc(q) = (gh >>> 16) * WinnowP + (WinnowP - 1L - q)
      q += 1
    }
    val out = new Array[Long](n - W + 1)
    var m = 0
    var p = 0
    while (p <= n - W) {
      var e = enc(p)
      var k = 1
      while (k < W) { if (enc(p + k) < e) e = enc(p + k); k += 1 }
      if (m == 0 || out(m - 1) != e) { out(m) = e; m += 1 }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, m))
  }

  /** The 16 portable minhashes of a gram-hash set: mhᵢ = min over h of
    * ((h mod p)·aᵢ + bᵢ) mod p, p = 2³¹−1, aᵢ = 2i+3, bᵢ = 7919i+13 —
    * the same int64 terms as the `min` aggregate over gram rows (no
    * term can overflow: (h mod p)·33 < 2³⁷). min is idempotent, so a
    * set and its repeated-gram array give the same signature. NULL
    * elements are skipped like the aggregate skips NULL rows; an empty
    * (or all-NULL) array has no signature and returns NULL, so its band
    * keys are NULL and match nothing. */
  def minhash16(a: ArrayData): ArrayData = {
    val P = 2147483647L
    val n = a.numElements()
    val mh = Array.fill(16)(Long.MaxValue)
    var seen = false
    var q = 0
    while (q < n) {
      if (!a.isNullAt(q)) {
        val h = a.getLong(q) % P
        var i = 0
        while (i < 16) {
          val v = (h * (2L * i + 3L) + (7919L * i + 13L)) % P
          if (v < mh(i)) mh(i) = v
          i += 1
        }
        seen = true
      }
      q += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mh) else null
  }

  /** ASCII fast path of the two text normalizations (NULL when any byte
    * is ≥ 0x80, so callers fall back to the exact Unicode chain with
    * `coalesce(ascii_norm(t, mode), chain)`):
    *  - `alnum`: regexp_replace(trim(regexp_replace(lower(t),
    *    '[^a-z0-9 ]', '')), ' +', ' ') — lowercase, drop every byte
    *    but [a-z0-9 ], trim and collapse spaces;
    *  - `dedup`: regexp_replace(trim(lower(t)), ' +', ' ') — lowercase,
    *    trim and collapse spaces, every other byte kept.
    * On ASCII, lower() maps exactly A–Z to a–z and trim()/' +' touch
    * only 0x20, so both are one byte pass: the output is the runs of
    * kept non-space bytes joined by single spaces. Returns the input
    * itself when nothing changes. */
  def asciiNorm(s: UTF8String, alnum: Boolean): UTF8String = {
    val nb = s.numBytes()
    val out = new Array[Byte](nb)
    var m = 0
    var gap = false
    var same = true
    var i = 0
    while (i < nb) {
      val c = s.getByte(i)
      if (c < 0) return null
      if (c == 0x20) gap = true
      else {
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        if (!alnum || (lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
          if (gap && m > 0) { out(m) = 0x20; m += 1 }
          gap = false
          out(m) = lc
          m += 1
          if (lc != c) same = false
        }
      }
      i += 1
    }
    if (same && m == nb) s else UTF8String.fromBytes(out, 0, m)
  }

  /** Σ(cp − 128)² over the chunk's code points — the audio-frame
    * energy fold (multimodal_audio_rms / _vad), exact int64 in char
    * order like the HOF aggregate it replaces. */
  def ssq128(s: UTF8String): Long = {
    val nb = s.numBytes()
    var ssq = 0L
    var i = 0
    while (i < nb) {
      val l = UTF8String.numBytesForFirstByte(s.getByte(i))
      val d = codePointAt(s, i, l).toLong - 128L
      ssq += d * d
      i += l
    }
    ssq
  }
}

/** Fused 48-bit md5-prefix bucket hash (round-18 opt): the value of
  * `conv(substring(md5(s), 1, 12), 16, 10)` — the suite's shared
  * content-address primitive (gram base, DSIR/CLIP token buckets,
  * sampling membership) — computed straight off the digest bytes
  * (first 6 bytes big-endian), skipping the 32-char hex string and the
  * base-16 re-parse the expression chain allocated per call.
  * Bit-identical by construction; pinned in TextSigSpec. */
object Md5Prefix48 {
  private[functions] val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** Per-thread digest output buffer (no 16-byte allocation per gram). */
  private[functions] val bufTL = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  /** First 6 digest bytes, big-endian. */
  @inline private[functions] def prefix48(d: Array[Byte]): Long =
    ((d(0) & 0xFFL) << 40) | ((d(1) & 0xFFL) << 32) | ((d(2) & 0xFFL) << 24) |
      ((d(3) & 0xFFL) << 16) | ((d(4) & 0xFFL) << 8) | (d(5) & 0xFFL)
  def hash48(s: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    prefix48(md.digest(s.getBytes))
  }
}

case class Md5Prefix48(child: Expression) extends TextSigExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix48"
  override def nullSafeEval(input: Any): Any =
    Md5Prefix48.hash48(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix48.hash48($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused 32-bit sign pack: bit i set iff `embedding[off + i] >= 0`,
  * the value of the size-guarded unrolled 32-term IF-sum (the
  * reference copy in TextSigSpec's sign_pack32 test) as ONE loop
  * instead of 32 branch expressions per row. A dim that is NULL or
  * past the end of the array leaves its bit CLEAR, and a NULL array
  * packs to 0 — the DuckDB reading, where an out-of-range index or a
  * NULL list gives NULL and `IF(NULL >= 0, b, 0)` is 0. */
object SignPack32 {
  def pack(x: ArrayData, off: Int): Long = {
    val n = if (x == null) 0 else math.min(32, x.numElements() - off)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(off + i) && x.getFloat(off + i) >= 0f) acc |= (1L << i)
      i += 1
    }
    acc
  }
}

case class SignPack32(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sign_pack32"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) if second.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"sign_pack32 expects (array<float>, int literal offset), got $t")
    }
  @transient private lazy val off: Int = second.eval(null).asInstanceOf[Int]
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SignPack32.pack(first.eval(input).asInstanceOf[ArrayData], off)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val a = first.genCode(ctx)
    ev.copy(code = code"""
      ${a.code}
      long ${ev.value} = graft.functions.SignPack32.pack(${a.isNull} ? null : ${a.value}, $off);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(first = l, second = r)
}

private[functions] trait TextSigExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${prettyName} expects a string column, got $t")
  }
}

/** `phash_sig16(text)`: the fused 16-block perceptual signature. */
case class PhashSig16(child: Expression) extends TextSigExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "phash_sig16"
  override def nullSafeEval(input: Any): Any =
    TextSig.phashSig16(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.phashSig16($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `frame_sigs32(text)`: per-64-char-frame 32-block signatures. */
case class FrameSigs32(child: Expression) extends TextSigExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "frame_sigs32"
  override def nullSafeEval(input: Any): Any =
    TextSig.frameSigs32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.frameSigs32($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `tok_count(text)`: size(split(text, " ")) with no array. */
case class TokCount(child: Expression) extends TextSigExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "tok_count"
  override def nullSafeEval(input: Any): Any =
    TextSig.tokCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.tokCount($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `tok_hits(text, banned)`: size(filter(split(text, " "), t -> t IN
  * banned)) with no array and no interpreted lambda. `banned` must be
  * a foldable array<string> (the blocklist is driver-held metadata). */
case class TokHits(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = LongType
  override def prettyName: String = "tok_hits"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, ArrayType(StringType, _)) if second.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"tok_hits expects (string, foldable array<string>), got $t")
    }
  @transient private lazy val bannedBytes: Array[Array[Byte]] =
    second.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(StringType)
      .map(_.asInstanceOf[UTF8String].getBytes)
  override def nullSafeEval(a: Any, b: Any): Any =
    TextSig.tokHits(a.asInstanceOf[UTF8String], bannedBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("banned", bannedBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.TextSig.tokHits($a, $ref);")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(first = l, second = r)
}

/** `shingle_md5s(text, k)`: all k-token sliding-window md5 hex digests
  * in offset order — md5(array_join(slice(split(text,' '), i+1, k), ' '))
  * for every i, computed straight off the raw byte spans (join is
  * split's inverse, see [[TextSig.shingleMd5s]]); fewer than k tokens
  * yields an empty array. `k` must be a foldable positive int. */
case class ShingleMd5s(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_md5s"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, IntegerType) if second.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"shingle_md5s expects (string, int literal window), got $t")
    }
  override def nullSafeEval(a: Any, kk: Any): Any =
    TextSig.shingleMd5s(a.asInstanceOf[UTF8String], kk.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, kk) =>
      s"${ev.value} = graft.functions.TextSig.shingleMd5s($a, $kk);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(first = l, second = r)
}

/** `gram_hashes48(text)`: md5_prefix48 of every word-3-gram byte span
  * in offset order ([[TextSig.gramHashes48]]) — the gram base's gh
  * values for one row, no gram rows, no gram strings. */
case class GramHashes48(child: Expression) extends TextSigExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes48"
  override def nullSafeEval(input: Any): Any =
    TextSig.gramHashes48(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.gramHashes48($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared type check of the kernels over one document's gram hashes. */
private[functions] trait GramHashesExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${prettyName} expects an array<bigint> of gram hashes, got $t")
  }
}

/** `winnow_enc(hashes)`: a document's distinct winnowing selections in
  * the h·2³¹ + (2³¹−1−pos) packing ([[TextSig.winnowEnc]]). */
case class WinnowEnc(child: Expression) extends GramHashesExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_enc"
  override def nullSafeEval(input: Any): Any =
    TextSig.winnowEnc(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.winnowEnc($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash16(set)`: the 16 portable minhashes of a gram-hash array;
  * NULL for an empty one ([[TextSig.minhash16]]). */
case class Minhash16(child: Expression) extends GramHashesExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash16"
  override def nullSafeEval(input: Any): Any =
    TextSig.minhash16(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.TextSig.minhash16($c);
      |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ascii_norm(text, mode)`: the ASCII one-pass form of the `alnum`
  * (text_normalize) or `dedup` (dedup_exact) normalization, NULL for a
  * row with any non-ASCII byte ([[TextSig.asciiNorm]]). `mode` must be
  * the literal 'alnum' or 'dedup'. */
case class AsciiNorm(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "ascii_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, StringType) if second.foldable &&
          Set("alnum", "dedup").contains(String.valueOf(second.eval(null))) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"ascii_norm expects (string, 'alnum' | 'dedup'), got $t")
    }
  @transient private lazy val alnum: Boolean =
    String.valueOf(second.eval(null)) == "alnum"
  override def nullSafeEval(a: Any, m: Any): Any =
    TextSig.asciiNorm(a.asInstanceOf[UTF8String], alnum)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => s"""
      |${ev.value} = graft.functions.TextSig.asciiNorm($a, $alnum);
      |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(first = l, second = r)
}

/** `dedup_tokens(text)`: one-pass first-occurrence token dedup —
  * struct(n_tokens, n_unique, dedup_text), the text_dedup_inline row
  * computed without the interpreted O(n²) array_position lambda. */
case class DedupTokens(child: Expression) extends TextSigExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unique", LongType, nullable = false),
    StructField("dedup_text", StringType, nullable = false)))
  override def prettyName: String = "dedup_tokens"
  def row(input: Any): Any = {
    val (nTok, nUniq, joined) = TextSig.dedupTokens(input.asInstanceOf[UTF8String])
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, nUniq, joined))
  }
  override def nullSafeEval(input: Any): Any = row(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dedupTokens", this, classOf[DedupTokens].getName)
    defineCodeGen(ctx, ev, c => s"(InternalRow) $self.row($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ssq128(text)`: exact Σ(cp−128)² audio-frame energy. */
case class Ssq128(child: Expression) extends TextSigExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "ssq128"
  override def nullSafeEval(input: Any): Any =
    TextSig.ssq128(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextSig.ssq128($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
