package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Compiled text-hashing kernels. The pure-`functions._` formulations of
 * these (aggregate ∘ transform ∘ split) are semantically identical but run
 * interpreted — Spark's higher-order array functions are CodegenFallback,
 * and per-element Expression.eval dispatch made shingle hashing the
 * dominant cost of the dedup pipeline (~10s at sf0.1). These expressions
 * compute the same modular integer hashes (same constants as
 * graft.text.TextOps / TextSql, so DuckDB oracle parity is unchanged) in
 * one compiled pass per row.
 */
object TextHash {
  val Mod = 1000000007L
  val Base = 31L

  /** Char-level polynomial rolling hash over codepoints: h ← (h·B + cp) % P.
   *  Matches aggregate(transform(split(s,''), ascii), ...) and DuckDB
   *  list_reduce over unicode(ch). */
  def rollingHash(s: UTF8String): Long = extendU(0L, s)

  /** Extend a rolling hash across a UTF8String WITHOUT materializing a java
   *  String: an ASCII byte is its own codepoint, and the `[a-z0-9]+`
   *  tokenizer's tokens are always ASCII, so the dedup-stack hot paths
   *  (shingle/simhash kernels) never leave the byte loop — the previous
   *  per-token `.toString` paid a char[] copy + UTF-16 decode per token per
   *  row. The first non-ASCII byte falls back to the exact codepoint loop
   *  over the whole string (value-identical; h only ever accumulated the
   *  ASCII prefix, which the fallback recomputes from h0). */
  @inline def extendU(h0: Long, s: UTF8String): Long = {
    val n = s.numBytes
    var h = h0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return extend(h0, s.toString)
      h = (h * Base + b) % Mod
      i += 1
    }
    h
  }

  /** [[shingleHashes]] over UTF8String tokens — same values, no per-token
   *  String materialization (see [[extendU]]). */
  def shingleHashes(toks: Array[UTF8String], k: Int): Array[Long] = {
    val n = toks.length
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) {
        if (i > 0) h = (h * Base + ' '.toInt) % Mod
        h = extendU(h, toks(i))
        i += 1
      }
      seen.add(h)
    } else {
      var start = 0
      while (start + k <= n) {
        var h = 0L
        var j = start
        while (j < start + k) {
          if (j > start) h = (h * Base + ' '.toInt) % Mod
          h = extendU(h, toks(j))
          j += 1
        }
        seen.add(h)
        start += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  def rollingHashString(str: String): Long = {
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Continue a rolling hash across a string (for shingle windows). */
  @inline private def extend(h0: Long, str: String): Long = {
    var h = h0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * Base + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Distinct rolling hashes of the k-token shingle strings (space-joined),
   *  value-equal (as a set) to hash(array_join(slice(toks,i,k),' ')) +
   *  distinct, returned SORTED ascending — the sorted contract lets the
   *  Jaccard verify stage count intersections with a linear merge instead of
   *  a hash build per pair ([[SortedIntersectCount]]). */
  def shingleHashes(toks: Array[String], k: Int): Array[Long] = {
    val n = toks.length
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < k) {
      // single shingle = all tokens joined (empty token list hashes "")
      var h = 0L
      var i = 0
      while (i < n) {
        if (i > 0) h = (h * Base + ' '.toInt) % Mod
        h = extend(h, toks(i))
        i += 1
      }
      seen.add(h)
    } else {
      var start = 0
      while (start + k <= n) {
        var h = 0L
        var j = start
        while (j < start + k) {
          if (j > start) h = (h * Base + ' '.toInt) % Mod
          h = extend(h, toks(j))
          j += 1
        }
        seen.add(h)
        start += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  /** |a ∩ b| for two sorted long arrays (ascending, distinct) — one linear
   *  merge, zero allocation. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** (a_j, b_j) of the splitmix64-derived minhash family, interleaved as
   *  [a_0, b_0, a_1, b_1, …] — same derivation as TextOps.hashParams, so
   *  [[MinhashSig]] is value-identical to the SQL
   *  `array_min(transform(sh, h => (h*a_j + b_j) % P))` formulation. */
  private val minhashParamCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  private def minhashParams(n: Int): Array[Long] =
    minhashParamCache.computeIfAbsent(n, { n: Integer =>
      def mix(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val out = new Array[Long](2 * n)
      var j = 0
      while (j < n) {
        out(2 * j) = java.lang.Math.floorMod(mix(2L * j), Mod - 1) + 1
        out(2 * j + 1) = java.lang.Math.floorMod(mix(2L * j + 1), Mod)
        j += 1
      }
      out
    })

  /** All n minhashes of a shingle-hash array in one pass:
   *  sig_j = min_h (h·a_j + b_j) % P. Shingle hashes are < P < 2^30 and
   *  a_j < P, so h·a_j + b_j < 2^60 — no overflow, and `%` on the
   *  non-negative product matches SQL `%` exactly. */
  def minhashSig(sh: ArrayData, n: Int): ArrayData = {
    val ps = minhashParams(n)
    val m = sh.numElements()
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      val a = ps(2 * j); val b = ps(2 * j + 1)
      var mn = Long.MaxValue
      var i = 0
      while (i < m) {
        val v = (sh.getLong(i) * a + b) % Mod
        if (v < mn) mn = v
        i += 1
      }
      out(j) = mn
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** `rolling_hash(str)` — codegen'd document fingerprint. */
/**
 * `opaque(child)` — value-identical pass-through that REPORTS
 * nondeterministic, pinning WHERE its child is evaluated. Filter pushdown
 * refuses to substitute a projection whose fields are not all
 * deterministic, so wrapping an expensive projected expression stops the
 * optimizer from re-materializing it inside a scan-level Filter below the
 * projection that computes it (the §4.4 UDF trick, generalized to
 * expressions). Codegen and eval are the child's own — zero runtime cost.
 * Use ONLY where the duplicated evaluation costs more than the skipped
 * pushdown saves, and never on join/grouping keys.
 */
case class Opaque(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def eval(input: InternalRow): Any = child.eval(input)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override def prettyName: String = "opaque"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

case class RollingHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(s: Any): Any =
    TextHash.rollingHash(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

/**
 * `simhash(tokens, bits)` — SimHash over token rolling-hashes in one
 * compiled pass: per bit b, sum ±1 across tokens (with multiplicity) by bit
 * b of the token's hash; bit set iff sum > 0. Value-identical to the
 * per-bit aggregate formulation (TextOps.simhash's former shape), which
 * recomputed the token-hash array once per bit when inlined.
 */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits > 0 && bits < 63)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    val sums = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val h = TextHash.rollingHash(
        if (a.isNullAt(i)) UTF8String.EMPTY_UTF8 else a.getUTF8String(i))
      var b = 0
      while (b < bits) {
        sums(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `ngrams(toks, n [, distinct])` — space-joined sliding token n-grams in one
 * compiled pass. Replaces `transform(sequence(...), i -> array_join(
 * slice(toks, i, n), ' '))`, whose per-element interpreted dispatch (HOFs
 * are CodegenFallback) made bare n-gram generation the dominant cost of the
 * substring-dedup path (~3 s at sf0.1 for 250k n-grams). With
 * `distinct = true` the per-document dedup happens inside the same pass
 * (first occurrence kept), which lets the substring-dedup pipeline skip an
 * entire `.distinct()` shuffle over the exploded (id, ngram) rows.
 * Output order and values match the HOF formulation exactly (DuckDB oracle
 * parity: `array_to_string(t[i:i+n-1], ' ')`).
 */
case class Ngrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(n > 0, "n-gram size must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngrams"

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val cnt = a.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) {
      toks(i) = if (a.isNullAt(i)) UTF8String.EMPTY_UTF8 else a.getUTF8String(i)
      i += 1
    }
    val sep = Ngrams.Sep
    val out = new java.util.ArrayList[Any](cnt - n + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    val parts = new Array[UTF8String](n)
    i = 0
    while (i <= cnt - n) {
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      val g = UTF8String.concatWs(sep, parts: _*)
      if (seen == null || seen.add(g)) out.add(g)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Ngrams {
  val Sep: UTF8String = UTF8String.fromString(" ")
}

/**
 * `ngrams_of_text(text, n [, distinct])` — the fused lower → tokenize →
 * n-gram pipeline in one pass over the raw string. Bit-equal to
 * `Ngrams(regexp_extract_all(lower(text), '[a-z0-9]+'), n, distinct)`:
 * lowering uses the same UTF8String.toLowerCase Spark's `lower()` calls,
 * and `[a-z0-9]+` extraction over any string is precisely "maximal runs of
 * those ASCII chars", which the hand-rolled scanner reproduces without the
 * regex engine, the token-array column, or per-token allocations. This is
 * the substring-dedup hot path: the corpus scan is exactly one expression
 * eval per document.
 */
case class NgramsOfText(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(n > 0, "n-gram size must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngrams_of_text"

  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  override protected def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String].toLowerCase.toString
    val len = str.length
    // token boundaries as (start, end) index pairs — no substring allocation
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && !isTok(str.charAt(i))) i += 1
      if (i < len) {
        val s0 = i
        while (i < len && isTok(str.charAt(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s0; ends(nTok) = i; nTok += 1
      }
    }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](nTok - n + 1)
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    while (w <= nTok - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(str, starts(w + j), ends(w + j))
        j += 1
      }
      val g = sb.toString
      if (seen == null || seen.add(g)) out.add(UTF8String.fromString(g))
      w += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Static compiled kernels for the hottest fused text expressions
 * ([[TermCounts]], [[NgramRepetition]], [[WordLines]]). A standalone object
 * (no companion class) guarantees Java static forwarders, so generated
 * whole-stage code calls these directly — the expressions codegen to one
 * static call instead of paying the CodegenFallback boundary (boxed eval
 * dispatch + broken codegen span). Measured against forced CodegenFallback
 * on a 150× text replica (750k docs): no measurable gap, as the kernel
 * bodies dominate; `doGenCode` stays because it keeps the whole-stage span
 * intact.
 */
object TextKernels {
  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Token spans of an already-lowered string: (starts, ends, count). */
  private def tokenSpans(str: String): (Array[Int], Array[Int], Int) = {
    val len = str.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && !isTok(str.charAt(i))) i += 1
      if (i < len) {
        val s0 = i
        while (i < len && isTok(str.charAt(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s0; ends(nTok) = i; nTok += 1
      }
    }
    (starts, ends, nTok)
  }

  /** [[NgramRepetition]] kernel. */
  def ngramRepetition(s: UTF8String, n: Int): InternalRow = {
    val str = s.toLowerCase.toString
    val (starts, ends, nTok) = tokenSpans(str)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    if (nTok < n) {
      row.setLong(0, 0L); row.setLong(1, 0L); row.setLong(2, 0L)
      return row
    }
    // count occurrences per n-gram string (counts fit int: ≤ tokens per doc)
    val counts = new java.util.HashMap[String, Array[Int]]()
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    while (w <= nTok - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(str, starts(w + j), ends(w + j))
        j += 1
      }
      val g = sb.toString
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1)) else c(0) += 1
      w += 1
    }
    var total = 0L; var maxC = 0L; var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toLong
      total += c
      if (c > maxC) maxC = c
      if (c > 1) dup += c
    }
    row.setLong(0, total); row.setLong(1, maxC); row.setLong(2, dup)
    row
  }

  /** [[GateReason]] kernel: the full language/quality/repetition gate
   *  verdict in ~two passes over the document (one tokenize for langId +
   *  quality, one inside [[ngramRepetition]]). Every count, ratio, and
   *  comparison replicates the Column formulation exactly — same tokenizer
   *  ([a-z0-9]+ runs over the lowercased text), same stopword sets with
   *  multiplicity, same fixed-order double arithmetic as
   *  TextOps.qualityColumns — pinned by CurateSpec's parity test. */
  def gateReason(s: UTF8String, langTable: Seq[(String, Array[String])],
      langSets: Array[java.util.HashSet[String]], allowed: java.util.HashSet[String],
      minQuality: Double, maxDupBigramFrac: Double): UTF8String = {
    val raw = s.toString
    val lower = s.toLowerCase.toString
    val (starts, ends, nTok) = tokenSpans(lower)
    // stopword hits per language, with multiplicity, one token scan
    val nLangs = langTable.length
    val hits = new Array[Long](nLangs)
    var i = 0
    while (i < nTok) {
      val tok = lower.substring(starts(i), ends(i))
      var l = 0
      while (l < nLangs) {
        if (langSets(l).contains(tok)) hits(l) += 1L
        l += 1
      }
      i += 1
    }
    var maxHits = 0L
    var l = 0
    while (l < nLangs) { if (hits(l) > maxHits) maxHits = hits(l); l += 1 }
    val lang = if (maxHits == 0L) "und" else {
      var pick = "und"; var found = false; var k = 0
      while (k < nLangs && !found) {
        if (hits(k) == maxHits) { pick = langTable(k)._1; found = true }
        k += 1
      }
      pick
    }
    if (!allowed.contains(lang)) return UTF8String.fromString("lang")
    // quality score — identical arithmetic order to TextOps.qualityColumns
    val nChars = s.numChars().toLong
    var sumLen = 0L
    i = 0
    while (i < nTok) { sumLen += (ends(i) - starts(i)).toLong; i += 1 }
    val meanLen = if (nTok > 0) sumLen.toDouble / nTok.toDouble else 0.0
    val stopRatio = if (nTok > 0) hits(0).toDouble / nTok.toDouble else 0.0
    // [^A-Za-z0-9\s] over the RAW text, code point at a time (Java regex
    // counts one match per code point; \s is the ASCII set)
    var nPunct = 0L
    var ci = 0
    val rawLen = raw.length
    while (ci < rawLen) {
      val cp = raw.codePointAt(ci)
      val alnum = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9')
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!alnum && !ws) nPunct += 1L
      ci += Character.charCount(cp)
    }
    val punctRatio = if (nChars > 0) nPunct.toDouble / nChars.toDouble else 0.0
    val score =
      math.min(nTok.toDouble / 100.0, 1.0) * 0.25 +
      stopRatio * 0.25 +
      (1.0 - punctRatio) * 0.25 +
      math.min(meanLen / 8.0, 1.0) * 0.25
    if (score < minQuality) return UTF8String.fromString("quality")
    val rep = ngramRepetition(s, 2)
    val total = rep.getLong(0); val dup = rep.getLong(2)
    val dupFrac = if (total > 0) dup.toDouble / total.toDouble else 0.0
    if (dupFrac > maxDupBigramFrac) return UTF8String.fromString("repetitive")
    null
  }

  /** [[TermCounts]] kernel. */
  def termCounts(s: UTF8String): ArrayData = {
    val counts = TermCounts.count(s.toLowerCase.toString)
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.update(0, UTF8String.fromString(e.getKey))
      row.setLong(1, e.getValue()(0))
      out(j) = row
      j += 1
    }
    new GenericArrayData(out)
  }

  /** [[ChunkSpans]] kernel: sliding `budget`-token windows advancing by
   *  `budget - overlap`, the final chunk whatever remains. Emits the SAME
   *  structs as the Column formulation it replaces (
   *  `transform(sequence(0, nChunks-1), i -> struct(i, i*stride,
   *   least(budget, n - i*stride), array_join(slice(toks, ...), ' ')))`
   *  over the `[a-z0-9]+` lowercase tokens) — including the degenerate
   *  single (0, 0, 0, "") chunk of a token-less document that the caller's
   *  `n_tok > 0` filter drops. One tokenize pass + direct span joins
   *  instead of per-element interpreted HOF dispatch. */
  def chunkSpans(s: UTF8String, budget: Int, overlap: Int): ArrayData = {
    val stride = budget - overlap
    val str = s.toLowerCase.toString
    val (starts, ends, nTok) = tokenSpans(str)
    val nChunks =
      if (nTok <= budget) 1
      else 1 + (nTok - budget + (stride - 1)) / stride
    val out = new Array[Any](nChunks)
    val sb = new java.lang.StringBuilder(64)
    var ci = 0
    while (ci < nChunks) {
      val start = ci * stride
      val len = math.min(budget, nTok - start)
      sb.setLength(0)
      var j = start
      val end = start + len
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(str, starts(j), ends(j))
        j += 1
      }
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
      row.setLong(0, ci.toLong)
      row.setLong(1, start.toLong)
      row.setLong(2, len.toLong)
      row.update(3, UTF8String.fromString(sb.toString))
      out(ci) = row
      ci += 1
    }
    new GenericArrayData(out)
  }

  /** [[WordLines]] kernel. */
  def wordLines(s: UTF8String, k: Int): ArrayData = {
    val str = s.toLowerCase.toString
    val (starts, ends, nTok) = tokenSpans(str)
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    val nLines = (nTok + k - 1) / k
    val out = new Array[Any](nLines)
    val sb = new java.lang.StringBuilder(64)
    var w = 0
    var li = 0
    while (w < nTok) {
      sb.setLength(0)
      val end = math.min(w + k, nTok)
      var j = w
      while (j < end) {
        if (j > w) sb.append(' ')
        sb.append(str, starts(j), ends(j))
        j += 1
      }
      out(li) = UTF8String.fromString(sb.toString)
      li += 1
      w += k
    }
    new GenericArrayData(out)
  }
}

/**
 * `ngram_repetition(text, n)` — Gopher-style repetition counters over the
 * sliding token n-grams of a document in one fused pass: lower → tokenize
 * (same scanner as [[NgramsOfText]]) → count n-grams → STRUCT(total,
 * max_count, dup_count). `total` is the number of n-gram occurrences,
 * `max_count` the occurrences of the most frequent n-gram, `dup_count` the
 * occurrences belonging to n-grams appearing more than once. Counting is by
 * exact n-gram string, so the counters are value-identical to exploding
 * [[NgramsOfText]] and re-grouping — minus the explode and the two shuffles
 * that plan costs per document batch (DuckDB oracle: GROUP BY
 * array_to_string(t[i:i+n-1], ' ') then max/sum per doc). The repetition
 * *fractions* (quality-filter signals per Gopher §A.1.1) are single double
 * divisions of these exact integers, computed in the caller so both engines
 * perform the identical IEEE op.
 *
 * Codegens to one static [[TextKernels]] call inside the whole-stage span.
 */
/**
 * `gate_reason(text)` — the curation pipeline's entire row-local gate
 * (language allow-list → quality threshold → bigram-repetition bound) as
 * ONE kernel pass, returning the first failing stage's tag ("lang",
 * "quality", "repetitive") or NULL for a pass. The Column composition of
 * langId/qualityColumns/repetitionColumns inside a `when` chain sits in
 * conditional branches, where Catalyst's subexpression elimination does
 * not reach — measured at the 1000× smoke, the chain re-ran the regex
 * tokenizer and stopword scans ~9× per row and the gate projection alone
 * cost 210 s over 5M docs. Values are pinned identical to the Column
 * formulation by CurateSpec.
 */
case class GateReason(child: Expression, langTable: Seq[(String, Seq[String])],
    allowed: Seq[String], minQuality: Double, maxDupBigramFrac: Double)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "gate_reason"

  @transient private lazy val tableArr: Seq[(String, Array[String])] =
    langTable.map { case (l, ws) => (l, ws.toArray) }
  @transient private lazy val langSets: Array[java.util.HashSet[String]] =
    langTable.map { case (_, ws) =>
      val s = new java.util.HashSet[String](ws.size * 2)
      ws.foreach(s.add)
      s
    }.toArray
  @transient private lazy val allowedSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](allowed.size * 2)
    allowed.foreach(s.add)
    s
  }

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.gateReason(s.asInstanceOf[UTF8String], tableArr, langSets,
      allowedSet, minQuality, maxDupBigramFrac)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NgramRepetition(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "n-gram size must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("max_count", LongType, nullable = false),
    StructField("dup_count", LongType, nullable = false)))
  override def prettyName: String = "ngram_repetition"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.ngramRepetition(s.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.ngramRepetition($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `shingle_hashes(tokens, k)` — distinct rolling hashes of k-token shingles
 * in one compiled pass (the eval body is compiled Scala; the expression
 * itself is CodegenFallback, which costs one virtual call per row instead
 * of per character).
 */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0, "shingle size must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"shingle_hashes"

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (a.isNullAt(i)) UTF8String.EMPTY_UTF8 else a.getUTF8String(i)
      i += 1
    }
    new GenericArrayData(TextHash.shingleHashes(toks, k))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `minhash_sig(shingle_hashes, n)` — all n minhashes of a document's
 * shingle-hash array in ONE compiled pass, value-identical to the
 * aggregate formulation `min((h·a_j + b_j) % P)` per hash function
 * (TextOps.minhashSignature / the DuckDB oracle macro in TextSql). As a
 * pure projection it removes the explode→groupBy(id)→join-back shape the
 * signature table previously needed — i.e. the per-corpus signature
 * shuffle AND the id re-join disappear from every LSH dedup plan; at the
 * 1000× smoke those two stages were the single largest cost of
 * dedup_minhash_keep. Reference semantics: MinHash banding as in
 * Broder '97; the reference engine has no minhash surface — this is the
 * pipeline-ops half of the library.
 */
case class MinhashSig(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "signature size must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(arr: Any): Any =
    TextHash.minhashSig(arr.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextHash.minhashSig($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `sorted_intersect_count(a, b)` — |a ∩ b| for two SORTED-ascending distinct
 * LONG arrays via a linear merge, fully codegen'd. The Jaccard verify stage
 * calls this once per candidate pair; the generic `array_intersect` built a
 * hash set and an output array per pair, which dominated
 * dedup_minhash_keep/neardup_jaccard. Callers must uphold the sorted
 * contract ([[TextHash.shingleHashes]] emits sorted arrays).
 */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments, got ${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHash.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.TextHash.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/**
 * All random-hyperplane LSH bucket keys of a float vector in ONE pass —
 * replaces nTables×bitsPerTable separate `array_inner_product(vec,
 * literal-plane) > 0` expressions (a multi-thousand-node tree whose codegen
 * compile dominated the query). Output: one LONG per table,
 * `(table << 48) | bucket` (bucket < 2^bitsPerTable ≤ 2^30), usable
 * directly as an equality join key.
 *
 * Hyperplane components derive deterministically from (seed, table, bit,
 * dim-index) via SplitMix64 → uniform in [-1, 1); planes materialize once
 * per expression instance per JVM (transient lazy).
 */
case class LshBuckets(child: Expression, dim: Int, nTables: Int,
    bitsPerTable: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(dim > 0 && nTables > 0 && bitsPerTable > 0 && bitsPerTable <= 30)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // planes(t*bitsPerTable + b)(d): built once per instance per JVM
  @transient private lazy val planes: Array[Array[Float]] = {
    Array.tabulate(nTables * bitsPerTable) { pb =>
      val p = new Array[Float](dim)
      var d = 0
      while (d < dim) {
        var z = seed + (pb.toLong * dim + d) * 0x9E3779B97F4A7C15L + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        // top 24 bits → uniform [0,1) → [-1,1)
        p(d) = ((z >>> 40).toFloat / (1L << 24).toFloat) * 2f - 1f
        d += 1
      }
      p
    }
  }

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val v = new Array[Float](dim)
    val f = isFloat
    var i = 0
    while (i < n) {
      v(i) = if (a.isNullAt(i)) 0f else if (f) a.getFloat(i) else a.getDouble(i).toFloat
      i += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < bitsPerTable) {
        if (graft.core.Simd.dot(planes(t * bitsPerTable + b), 0, v, 0, dim) > 0f)
          bucket |= 1L << b
        b += 1
      }
      out(t) = (t.toLong << 48) | bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `bounded_collect_set(id, cap)` — distinct LONG collection whose state never
 * exceeds `cap` elements per group: once a partial (or merged) state has seen
 * `cap` distinct values it saturates and stops absorbing, and eval() returns
 * an EMPTY array as the saturation sentinel. Callers that only want groups
 * with ≤ dfMax distinct members pass cap = dfMax + 1 and filter
 * `size(ids) BETWEEN lo AND dfMax`: groups at or under the threshold come
 * back EXACT (a partial can only saturate after genuinely seeing cap
 * distinct values, so below the threshold every partial is a plain subset
 * and merging loses nothing), larger groups are detected without ever
 * holding their member lists. This is what makes a single-shuffle
 * group-members aggregation skew-safe at corpus scale — a boilerplate key
 * shared by millions of docs costs O(cap) state, not O(df), where a plain
 * collect_set would concentrate the whole posting list in one task.
 * Output is sorted ascending (deterministic; collect_set order is not).
 */
case class BoundedCollectSet(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.HashSet[java.lang.Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(cap > 0, "cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_collect_set"

  override def createAggregationBuffer(): java.util.HashSet[java.lang.Long] =
    new java.util.HashSet[java.lang.Long]()

  override def update(buf: java.util.HashSet[java.lang.Long],
      input: InternalRow): java.util.HashSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null && buf.size < cap) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: java.util.HashSet[java.lang.Long],
      b: java.util.HashSet[java.lang.Long]): java.util.HashSet[java.lang.Long] = {
    // absorbing b until saturation preserves both invariants: below cap the
    // loop runs b dry so a = a ∪ b exactly; and if b was saturated (size ==
    // cap) then a ends ≥ cap too, since a ⊇ b when the loop exhausts b
    val it = b.iterator()
    while (it.hasNext && a.size < cap) a.add(it.next())
    a
  }

  override def eval(buf: java.util.HashSet[java.lang.Long]): Any = {
    if (buf.size >= cap) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.HashSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val s = new java.util.HashSet[java.lang.Long](math.max(16, n * 2))
    var i = 0
    while (i < n) { s.add(bb.getLong()); i += 1 }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `term_counts(text)` — per-document term frequencies in one compiled pass:
 * `array<struct<term string, term_freq long>>` over the same lowercase
 * `[a-z0-9]+` tokens as `TextOps.tokens` (first-occurrence order, counts
 * with multiplicity). Replaces explode + groupBy(doc, term) in rare-term
 * extraction: the token explosion never materializes and the per-document
 * count needs no shuffle — the only aggregations left downstream are
 * vocabulary-sized.
 */
case class TermCounts(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("term_freq", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "term_counts"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.termCounts(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.termCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {
  @inline private def isTok(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Shared token-count kernel over an ALREADY-LOWERED string (callers lower
   *  via `UTF8String.toLowerCase` so expression and driver routes agree on
   *  unicode case mapping). LinkedHashMap: deterministic first-occurrence
   *  order. */
  def count(str: String): java.util.LinkedHashMap[String, Array[Long]] = {
    val len = str.length
    val counts = new java.util.LinkedHashMap[String, Array[Long]]()
    var i = 0
    while (i < len) {
      while (i < len && !isTok(str.charAt(i))) i += 1
      if (i < len) {
        val s0 = i
        while (i < len && isTok(str.charAt(i))) i += 1
        val tok = str.substring(s0, i)
        val c = counts.get(tok)
        if (c == null) counts.put(tok, Array(1L)) else c(0) += 1L
      }
    }
    counts
  }
}

/**
 * `word_lines(text, k)` — NON-overlapping k-token lines of a document
 * (space-joined; the last line may be shorter) in one compiled pass:
 * the stride-k sibling of [[NgramsOfText]], replacing
 * `transform(sequence(...), i -> array_join(slice(toks, i*k+1, k), ' '))`,
 * whose per-element interpreted HOF dispatch dominated line-level dedup.
 * Value-identical to that formulation (same `[a-z0-9]+` lowercase tokens).
 */
case class WordLines(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, "line width must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_lines"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.wordLines(s.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.wordLines($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `chunk_spans(text, budget, overlap)` — fixed-token-budget training chunks
 * with overlap in one compiled pass: lower → tokenize (same scanner as
 * [[NgramsOfText]]) → per-chunk span join. Replaces the
 * `transform(sequence(...), i -> struct(..., array_join(slice(toks, ...))))`
 * formulation, whose per-element interpreted HOF dispatch (transform /
 * slice / array_join are all CodegenFallback) made chunk emission the
 * dominant per-row cost of `chunk_documents`. Value-identical structs
 * (TextOpsSpec parity test).
 */
case class ChunkSpans(child: Expression, budget: Int, overlap: Int)
    extends UnaryExpression {
  require(budget > 0 && overlap >= 0 && overlap < budget,
    s"need 0 <= overlap < budget, got budget=$budget overlap=$overlap")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("tok_start", LongType, nullable = false),
    StructField("n_tok", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "chunk_spans"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.chunkSpans(s.asInstanceOf[UTF8String], budget, overlap)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextKernels.chunkSpans($c, $budget, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `hashed_tf(text, dim)` — feature-hashed term frequencies in one compiled
 * pass: every `[a-z0-9]+` lowercase token maps to bucket
 * `rolling_hash(token) % dim`, and the document's nonzero buckets emit as
 * `array<struct<bucket long, tf long>>` sorted by bucket (the sparse form
 * of a hashing-vectorizer row; integer-exact, so DuckDB reproduces it
 * bit-for-bit via the same modular hash).
 */
case class HashedTf(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {
  require(dim > 0, "hash dimension must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "hashed_tf"

  override protected def nullSafeEval(s: Any): Any = {
    val counts = TermCounts.count(s.asInstanceOf[UTF8String].toLowerCase.toString)
    val acc = new Array[Long](dim)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = (TextHash.rollingHashString(e.getKey) % dim).toInt
      acc(b) += e.getValue()(0)
    }
    var nz = 0
    var i = 0
    while (i < dim) { if (acc(i) != 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var j = 0
    i = 0
    while (i < dim) {
      if (acc(i) != 0L) {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        row.setLong(0, i.toLong); row.setLong(1, acc(i))
        out(j) = row
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `stopword_hits(tokens, words)` — count (with multiplicity) of tokens in a
 * fixed word set, one compiled pass. Replaces
 * `size(filter(toks, t -> t.isInCollection(words)))`, whose per-element
 * interpreted HOF dispatch made language-ID and quality gates the dominant
 * cost of the curation pipeline. Count-identical by construction.
 */
case class StopwordHits(child: Expression, words: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "stopword_hits"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    var hits = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && set.contains(a.getUTF8String(i))) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `token_len_sum(tokens)` — Σ length(token) in one compiled pass, replacing
 * interpreted `aggregate(transform(toks, length), 0, +)` in the quality
 * score. Lengths are in characters (codepoint-aware via UTF8String), same
 * as Spark's `length`.
 */
case class TokenLenSum(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "token_len_sum"

  override protected def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val n = a.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) sum += a.getUTF8String(i).numChars().toLong
      i += 1
    }
    sum
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
