package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashing kernels shared by interpreted eval and generated code. */
object Hash {

  // the RE2 \s class ([ \t\n\f\r]) — NOT Java's \s, which also matches
  // vertical tab \x0B. The DuckDB oracle tokenizes with RE2, so the JVM
  // kernels must split on the identical set or \x0B-bearing documents
  // shingle/count differently between the engines.
  private val Ws = java.util.regex.Pattern.compile("[ \t\n\f\r]+")

  /** One lowbias32-shaped round over a non-negative 31-bit value —
    * xor-shift-multiply twice, final xor-shift. NON-linear (an LCG is
    * affine in v, so strided key generators land in periodic sample
    * buckets); every op exact in DuckDB BIGINT arithmetic.
    */
  private def keyMix31(v: Long): Long = {
    var h = v ^ (v >> 16)
    h = (h * 73244475L) % 2147483648L
    h ^= (h >> 16)
    h = (h * 73244475L) % 2147483648L
    h ^ (h >> 16)
  }

  /** c21's sampling bucket: mix va's low 31 bits; for pair determinants
    * chain a second round over (mix(va) + vb's low bits) mod 2³¹.
    */
  def keySampleBucket(va: Long, vb: Long, pair: Boolean): Long = {
    var h = keyMix31(va & 2147483647L)
    if (pair) h = keyMix31((h + (vb & 2147483647L)) % 2147483648L)
    h
  }

  /** Distinct 60-bit hashes of the k-word shingles of a text, in one pass:
    * tokenize (trim → lower → split \s+, matching Spark's
    * `split(lower(trim(text)), "\\s+")`), slide a k-window, md5 each
    * shingle and keep the first 60 bits (exactly [[graft.operators.TextOps.hash60]]:
    * first 15 hex chars of md5 as a BIGINT), dedupe.
    *
    * Exists because the equivalent `transform(sequence(...), element_at…)`
    * expression tree re-evaluates the regex split per element in Spark's
    * interpreted higher-order functions — O(tokens²) regex work per row and
    * no codegen. This kernel is O(text) and whole-stage-codegen friendly.
    */
  def shingleHash60(text: UTF8String, k: Int): ArrayData = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    if (toks.length < k) return ArrayData.toArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(md5Prefix60(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    ArrayData.toArrayData(out)
  }

  /** POSITIONAL 60-bit hashes of the k-word windows of a text: element i is
    * the hash of tokens [i, i+k) — every overlapping window, duplicates
    * kept, position = array index. The instance stream exact-substring
    * dedup consumes (the Lee et al. 2022 granularity: a duplicated span of
    * length ≥ k shows as a run of equal window hashes), vs
    * [[shingleHash60]]'s positionless distinct set. Same tokenization and
    * md5-prefix hash as every other kernel, so the DuckDB oracle
    * reproduces it term for term. O(text), codegen-friendly; < k tokens →
    * empty array.
    */
  def windowHash60(text: UTF8String, k: Int): ArrayData = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    if (toks.length < k) return ArrayData.toArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - k + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = md5Prefix60(sb.toString)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Hashing-trick linear-classifier margin (the fastText / CCNet
    * model-based quality-filter shape): each whitespace token maps to a
    * weight bucket via its salted 60-bit feature hash mod `weights.length`,
    * and the margin is the integer sum of the bucket weights over the
    * document. Exact integer arithmetic end to end, so the keep/drop cut
    * reproduces bit-for-bit cross-engine. The weight vector is bound at
    * construction: a TRAINED model in deployment, a hash-derived
    * pseudo-model in the gate (where the oracle must recompute it).
    * O(text) per row, one tokenization pass, codegen-friendly.
    */
  def classifierMargin(text: UTF8String, weights: Array[Long],
      salt: UTF8String): Long = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    val s = salt.toString
    val d = weights.length
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc += weights((md5Prefix60(s + toks(i)) % d).toInt)
      i += 1
    }
    acc
  }

  /** K-permutation MinHash signature of a feature-hash set in one pass:
    * sig[i] = min over h of (a[i]·(h mod P) + b[i]) mod P, P = 2^31-1.
    * Matches the SQL-expressible affine family the DuckDB oracle can
    * reproduce, but computed per row without an explode + K-min-agg
    * shuffle. Empty input → sig of all P (never collides with real sigs).
    */
  def minhashSig(hashes: ArrayData, a: Array[Long], b: Array[Long],
      p: Long): ArrayData = {
    val k = a.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, p)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val hm = hashes.getLong(i) % p
        var j = 0
        while (j < k) {
          val v = (a(j) * hm + b(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Marker-stopword language scoring in one tokenization pass — the
    * kernel behind [[graft.operators.TextOps.langId]]. Languages are scored
    * by marker hits over whitespace tokens; argmax with earlier-language-
    * wins tie-breaking (the exact fold the SQL oracle mirrors); "und" when
    * no marker hits. The interpreted expression-tree variant re-splits the
    * text once per language per reference — O(langs × text) regex work.
    */
  def langId(text: UTF8String, langs: Array[String],
      markers: Array[Array[String]]): UTF8String = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    val scores = new Array[Int](langs.length)
    var t = 0
    while (t < toks.length) {
      var l = 0
      while (l < langs.length) {
        val ms = markers(l)
        var m = 0
        while (m < ms.length) {
          if (ms(m) == toks(t)) { scores(l) += 1; m = ms.length }
          else m += 1
        }
        l += 1
      }
      t += 1
    }
    var best = 0
    var l = 1
    while (l < langs.length) {
      if (scores(l) > scores(best)) best = l
      l += 1
    }
    UTF8String.fromString(if (scores(best) > 0) langs(best) else "und")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003):
    * Rabin-Karp rolling hashes of every k-byte gram (base 257, mod 2^61-1),
    * then the minimum hash of each w-hash window, deduplicated — the
    * guarantee is that any match of length ≥ w+k-1 between two documents
    * shares a fingerprint. O(text) per row, codegen-friendly.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return ArrayData.toArrayData(Array.empty[Long])
    val Mod = (1L << 61) - 1
    val Base = 257L
    // precompute Base^(k-1) mod Mod
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = mulMod(pow, Base, Mod); i += 1 }
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var h = 0L
    i = 0
    while (i < k) { h = (mulMod(h, Base, Mod) + (bytes(i) & 0xffL)) % Mod; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - mulMod(bytes(i - 1) & 0xffL, pow, Mod) % Mod + Mod) % Mod
      h = (mulMod(h, Base, Mod) + (bytes(i + k - 1) & 0xffL)) % Mod
      hashes(i) = h
      i += 1
    }
    if (nGrams <= w) {
      var min = hashes(0)
      i = 1
      while (i < nGrams) { if (hashes(i) < min) min = hashes(i); i += 1 }
      return ArrayData.toArrayData(Array(min))
    }
    // sliding-window minimum via a monotonic (ascending-minima) deque —
    // O(nGrams) total instead of O(nGrams·w); emits the same minima values
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](nGrams) // indices with increasing hash values
    var head = 0
    var tail = 0 // active range [head, tail)
    i = 0
    while (i < nGrams) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    ArrayData.toArrayData(out)
  }

  /** Quality-signal counters in ONE tokenization + one code-point pass —
    * the kernel behind [[graft.operators.TextOps.qualityScores]]. Returns
    * (n_tokens, stop_hits, punct_chars, n_chars) with semantics identical
    * to the expression tree it replaces: tokens = `split(lower(trim(text)),
    * "\\s+")` (so empty text yields one empty token, like Spark's split),
    * punct = code points matching `[^A-Za-z0-9\s]` with the RE2 `\s` class
    * (`[ \t\n\f\r]`, NO `\x0B` — matching the DuckDB oracle's regex engine,
    * see the inline comment below), n_chars = code points (Spark's `length`).
    * The interpreted-HOF variant re-split the text four times per row and
    * evaluated an interpreted `filter` per token — O(tokens·stopwords)
    * uncodegen'd work; this is a single codegen'd projection.
    */
  def qualityStats(text: UTF8String,
      stops: Array[String]): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    val nTok = toks.length
    var stopHits = 0
    var t = 0
    while (t < nTok) {
      var m = 0
      while (m < stops.length) {
        if (stops(m) == toks(t)) { stopHits += 1; m = stops.length }
        else m += 1
      }
      t += 1
    }
    val s = text.toString
    var punct = 0
    var nChars = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      val isAlnum = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9')
      // RE2 \s (no \x0B) — matches the oracle's regexp_replace class
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' ||
        cp == '\f' || cp == '\r'
      if (!isAlnum && !isWs) punct += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, stopHits, punct, nChars))
  }

  /** Intra-document repetition counters (Gopher-style repetition rules,
    * distinct from [[qualityStats]]'s quality counters) in ONE pass:
    * token/bigram cardinalities plus the hottest bigram's occurrence
    * count. All set/count state is per-document (bounded by the doc's own
    * token count), so the kernel streams through a corpus with zero
    * shuffle — the scale-correct alternative to an explode + per-doc
    * groupBy, which would shuffle every bigram of every document.
    */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = Ws.split(text.trim().toLowerCase().toString, -1)
    val nTok = toks.length
    val tokSet = new java.util.HashSet[String]()
    var i = 0
    while (i < nTok) { tokSet.add(toks(i)); i += 1 }
    val bigrams = new java.util.HashMap[String, Integer]()
    var top = 0
    i = 0
    while (i < nTok - 1) {
      val c = bigrams.merge(toks(i) + " " + toks(i + 1), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > top) top = c.intValue
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, tokSet.size, math.max(nTok - 1, 0), bigrams.size, top))
  }

  /** (a*b) mod (2^61-1) for 0 ≤ a,b < 2^61-1 — Mersenne folding: write the
    * 128-bit product in base 2^61 (2^61 ≡ 1 mod p) and sum the limbs.
    */
  private def mulMod(a: Long, b: Long, m: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b // low 64 bits (two's complement = unsigned bits)
    val p0 = lo & m                          // bits 0..60
    val p1 = ((hi << 3) | (lo >>> 61)) & m   // bits 61..121
    val p2 = hi >>> 58                       // bits 122.. (tiny)
    var r = p0 + p1 + p2
    while (r >= m) r -= m
    r
  }

  /** splitmix64 finalizer — the bit mixer behind the Bloom probe family. */
  def mix64(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33
    z
  }

  /** Set key's k Bloom probe bits in `buf` (double hashing, Kirsch &
    * Mitzenmacher 2006: pos_i = h1 + i·h2 mod m — k independent-enough
    * probes from two mixes of the key). MUST stay bit-identical to
    * [[bloomContains]]: build and probe share this position family.
    */
  def bloomSet(buf: Array[Long], key: Long, numBits: Int, k: Int): Unit = {
    val h1 = mix64(key)
    val h2 = mix64(key + 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < k) {
      val b = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      buf(b >>> 6) |= 1L << (b & 63)
      i += 1
    }
  }

  /** Probe: false = DEFINITELY absent, true = maybe present. */
  def bloomContains(key: Long, words: Array[Long], k: Int): Boolean = {
    val numBits = words.length * 64
    val h1 = mix64(key)
    val h2 = mix64(key + 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < k) {
      val b = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      if ((words(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** First 60 bits of md5(utf8(s)) — first 15 hex chars as a BIGINT. */
  def md5Prefix60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** CDC boundary byte-positions over a HEX rendering of a payload: byte
    * position i (wBytes ≤ i ≤ payload length) is a boundary iff the
    * 60-bit md5 prefix of hex chars [2(i−w), 2i) — i.e. exactly
    * `hash60(substr(hx, 2*(i-w)+1, 2w))` — is ≡ 0 mod `divisor`.
    *
    * Exists for the shingle_hash60 reason: the equivalent
    * explode(sequence)+substring+md5+conv pipeline materializes one row
    * and several string allocations PER PAYLOAD BYTE (measured 5.3 s at
    * sf0.1); this kernel runs one MD5 over a reused digest buffer per
    * window and returns only the ~1/divisor surviving positions.
    */
  def cdcBoundaries(hx: UTF8String, wBytes: Int, divisor: Long): ArrayData = {
    val bytes = hx.getBytes // hex chars are ASCII: UTF-8 bytes == chars
    val blen = bytes.length / 2
    if (blen < wBytes) return ArrayData.toArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
    val out = new java.util.ArrayList[java.lang.Long]()
    var i = wBytes
    while (i <= blen) {
      md.reset()
      md.update(bytes, 2 * (i - wBytes), 2 * wBytes)
      md.digest(dig, 0, 16)
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
      if (((v >>> 4) % divisor) == 0L) out.add(i.toLong)
      i += 1
    }
    val arr = new Array[Long](out.size())
    var n = 0
    while (n < arr.length) { arr(n) = out.get(n); n += 1 }
    ArrayData.toArrayData(arr)
  }

  /** 60-bit SimHash over an array of 60-bit feature hashes: bit j of the
    * result is set iff strictly more features have bit j set than clear.
    * Null elements are skipped. Deterministic and order-insensitive, so
    * Spark and the DuckDB oracle agree regardless of row order.
    */
  def simhash60(hashes: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** `cdc_boundaries(hex_text, w, d): array<bigint>` — CDC chunk boundary
  * positions in one codegen'd pass (see [[Hash.cdcBoundaries]]).
  */
case class CdcBoundariesExpr(child: Expression, wBytes: Int, divisor: Long)
    extends UnaryExpression {
  require(wBytes >= 1 && divisor >= 1, "cdc_boundaries requires w, d >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.cdcBoundaries(input.asInstanceOf[UTF8String], wBytes, divisor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.cdcBoundaries($c, $wBytes, ${divisor}L)")
  override protected def withNewChildInternal(newChild: Expression): CdcBoundariesExpr =
    copy(child = newChild)
  override def prettyName: String = "cdc_boundaries"
}

/** `simhash60(array<bigint>): bigint` — custom Catalyst expression with
  * whole-stage codegen; the per-document reduction of MinHash-free
  * near-dup fingerprinting (SimHash, Charikar 2002).
  */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.simhash60(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Hash.simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
  override def prettyName: String = "simhash60"
}

/** `shingle_hash60(text, k): array<bigint>` — distinct 60-bit k-shingle
  * hashes in one codegen'd pass (see [[Hash.shingleHash60]]).
  */
case class ShingleHash60(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.shingleHash60(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Hash.shingleHash60($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHash60 =
    copy(child = newChild)
  override def prettyName: String = "shingle_hash60"
}

/** `window_hash60(text, k): array<bigint>` — positional overlapping k-word
  * window hashes in one codegen'd pass (see [[Hash.windowHash60]]); the
  * exact-substring-dedup instance stream.
  */
case class WindowHash60(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "window_hash60 requires k >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.windowHash60(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Hash.windowHash60($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WindowHash60 =
    copy(child = newChild)
  override def prettyName: String = "window_hash60"
}

/** `classifier_margin(text): bigint` — hashing-trick linear-classifier
  * margin in one codegen'd pass (see [[Hash.classifierMargin]]). The
  * weight vector and feature salt are bound at construction and referenced
  * from generated code — a broadcast-by-closure model, the fastText
  * deployment shape.
  */
case class ClassifierMarginExpr(child: Expression, weights: Seq[Long],
    salt: String) extends UnaryExpression {
  require(weights.nonEmpty, "classifier_margin requires a non-empty weight vector")
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  @transient private lazy val weightsArr = weights.toArray
  @transient private lazy val saltUtf8 = UTF8String.fromString(salt)
  override protected def nullSafeEval(input: Any): Any =
    Hash.classifierMargin(input.asInstanceOf[UTF8String], weightsArr, saltUtf8)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("classifierWeights", weightsArr, "long[]")
    val sRef = ctx.addReferenceObj("classifierSalt", saltUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.classifierMargin($c, $wRef, $sRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): ClassifierMarginExpr =
    copy(child = newChild)
  override def prettyName: String = "classifier_margin"
}

/** `bloom_might_contain(key): boolean` — Bloom membership probe against a
  * bound word array (built by [[BloomBuild]]); false = definitely absent,
  * true = maybe present. The filter words ride into generated code the
  * way [[ClassifierMarginExpr]]'s weights do — broadcast-by-closure,
  * no join in the plan.
  */
case class BloomMightContain(child: Expression, words: Seq[Long], k: Int)
    extends UnaryExpression {
  require(words.nonEmpty && k >= 1, "bloom probe requires words and k >= 1")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT, got ${other.catalogString}")
  }
  @transient private lazy val wordsArr = words.toArray
  override protected def nullSafeEval(input: Any): Any =
    Hash.bloomContains(input.asInstanceOf[Long], wordsArr, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bloomWords", wordsArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.bloomContains($c, $wRef, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** `lang_id(text): string` — marker-stopword language identification in a
  * single codegen'd pass (see [[Hash.langId]]). The marker table is bound
  * at construction and referenced from generated code.
  */
case class LangIdExpr(child: Expression, langs: Seq[String],
    markers: Seq[Seq[String]]) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  @transient private lazy val langsArr = langs.toArray
  @transient private lazy val markersArr = markers.map(_.toArray).toArray
  override protected def nullSafeEval(input: Any): Any =
    Hash.langId(input.asInstanceOf[UTF8String], langsArr, markersArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val langsRef = ctx.addReferenceObj("langs", langsArr, "java.lang.String[]")
    val markersRef = ctx.addReferenceObj("markers", markersArr, "java.lang.String[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.langId($c, $langsRef, $markersRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
  override def prettyName: String = "lang_id"
}

/** `minhash_sig(array<bigint>): array<bigint>` — K-permutation MinHash
  * signature in one codegen'd pass (see [[Hash.minhashSig]]).
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression {
  require(a.length == b.length && a.nonEmpty)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray
  override protected def nullSafeEval(input: Any): Any =
    Hash.minhashSig(input.asInstanceOf[ArrayData], aArr, bArr, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.minhashSig($c, $aRef, $bRef, ${p}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** `winnow_fingerprints(text, k, w): array<bigint>` — winnowing document
  * fingerprints via Rabin-Karp rolling hash (see [[Hash.winnow]]).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2 && w >= 1, "winnow requires k >= 2, w >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.winnow(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Hash.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** `quality_stats(text): struct<n_tokens, stop_hits, punct_chars, n_chars>`
  * — C4/Gopher-style quality counters in one codegen'd pass (see
  * [[Hash.qualityStats]]). Ratios are derived in the outer projection so
  * the arithmetic (double division + round) matches the SQL oracle exactly.
  */
case class QualityStatsExpr(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("stop_hits",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("punct_chars",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  @transient private lazy val stopsArr = stopwords.toArray
  override protected def nullSafeEval(input: Any): Any =
    Hash.qualityStats(input.asInstanceOf[UTF8String], stopsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("stopwords", stopsArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Hash.qualityStats($c, $stopsRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): QualityStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "quality_stats"
}

/** `repetition_stats(text): struct<n_tokens, n_distinct_tokens, n_bigrams,
  * n_distinct_bigrams, top_bigram_hits>` — intra-document repetition
  * counters in one codegen'd pass (see [[Hash.repetitionStats]]). Ratios
  * derive in the outer projection, matching the SQL oracle's arithmetic.
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_distinct_tokens", IntegerType, nullable = false),
      StructField("n_bigrams", IntegerType, nullable = false),
      StructField("n_distinct_bigrams", IntegerType, nullable = false),
      StructField("top_bigram_hits", IntegerType, nullable = false)))
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Hash.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Hash.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

/** `key_sample_bucket(va, vb): bigint` — c21's group-sampling bucket: a
  * lowbias32-shaped integer xor-shift mix over the low 31 bits, one
  * (pair = one chained second round over va's mix + vb) value per row.
  * A Catalyst expression rather than a Column tree because Column
  * composition has NO subexpression sharing: the nested pair form
  * `mix(mix(va) + vb)` duplicated the inner mix ~8× per round and the
  * whole filter condition evaluated hundreds of nodes per row (measured
  * 29 s vs 0.5 s for the same explode at sf0.1); as one codegen'd
  * kernel it is ~15 integer ops. Exactly mirrored by the DuckDB oracle's
  * staged nested SELECTs ([[graft.operators.Profile]] keyMixSqlStages).
  */
case class KeySampleBucket(left: Expression, right: Expression,
    pair: Boolean) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BIGINT, BIGINT), got $other")
    }
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Hash.keySampleBucket(l.asInstanceOf[Long], r.asInstanceOf[Long], pair)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.expressions.Hash.keySampleBucket($l, $r, $pair)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): KeySampleBucket =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "key_sample_bucket"
}

object HashFunctions {
  def key_sample_bucket(va: Column, vb: Column, pair: Boolean): Column =
    Shims.column(KeySampleBucket(Shims.expression(va), Shims.expression(vb),
      pair))
  def simhash60(c: Column): Column = Shims.column(SimHash60(Shims.expression(c)))
  def shingle_hash60(c: Column, k: Int): Column =
    Shims.column(ShingleHash60(Shims.expression(c), k))
  def window_hash60(c: Column, k: Int): Column =
    Shims.column(WindowHash60(Shims.expression(c), k))
  def cdc_boundaries(c: Column, wBytes: Int, divisor: Long): Column =
    Shims.column(CdcBoundariesExpr(Shims.expression(c), wBytes, divisor))
  def classifier_margin(c: Column, weights: Seq[Long], salt: String): Column =
    Shims.column(ClassifierMarginExpr(Shims.expression(c), weights, salt))
  def bloom_might_contain(c: Column, words: Seq[Long], k: Int): Column =
    Shims.column(BloomMightContain(Shims.expression(c), words, k))
  def lang_id(c: Column, langs: Seq[String], markers: Seq[Seq[String]]): Column =
    Shims.column(LangIdExpr(Shims.expression(c), langs, markers))
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    Shims.column(WinnowFingerprints(Shims.expression(c), k, w))
  def minhash_sig(c: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    Shims.column(MinHashSig(Shims.expression(c), a, b, p))
  def quality_stats(c: Column, stopwords: Seq[String]): Column =
    Shims.column(QualityStatsExpr(Shims.expression(c), stopwords))
  def repetition_stats(c: Column): Column =
    Shims.column(RepetitionStatsExpr(Shims.expression(c)))
}
