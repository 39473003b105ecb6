package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** JVM hash kernels for the LLM-pipeline operators, called from the
  * codegen'd Catalyst expressions `graft_minhash16` / `graft_simhash64`
  * ([[graft.plans.GraftExpressions]]).
  *
  * These exist for performance, not semantics: the equivalent pure-Column
  * formulations (nested `transform`/`aggregate` higher-order functions over
  * md5/substring/instr) are evaluated by Catalyst's INTERPRETED expression
  * path — lambda functions are excluded from whole-stage codegen — which
  * made SimHash ~14 s and MinHash ~6 s per bench run at sf0.1. The round-3
  * ScalaUDF variants fixed that, but still allocated a fresh
  * `MessageDigest.getInstance("MD5")` per hash call (a synchronized
  * provider lookup) and rendered an 8-char hex String per shingle×perm —
  * recorded at 9.7 s for q41 in BENCH_r03. This version:
  *
  *  - reuses a thread-local digest + 16-byte output buffer (zero per-call
  *    allocation beyond the shingle bytes themselves);
  *  - tracks each MinHash lane as an unsigned 32-bit value in a long and
  *    renders hex ONCE per signature element at the end — fixed-width
  *    lowercase hex means string min == unsigned numeric min of the first
  *    32 digest bits, so the output is bit-identical;
  *  - takes the raw text and tokenizes/shingles inline (`split(" ", -1)`
  *    matches Spark `split(text, ' ')` and DuckDB `string_split`), so the
  *    interpreted shingle-building HOF disappears from the plan.
  *
  * Output parity is asserted by the unchanged DuckDB oracles of q41–q43,
  * q67 and q83. Each kernel documents the exact arithmetic contract its
  * SQL oracle mirrors.
  */
object TextHash {

  private val md5Tl: ThreadLocal[MessageDigest] = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val bufTl: ThreadLocal[Array[Byte]] = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** Mersenne prime 2^61 − 1: the modulus of the linear permutation
    * family. Mersenne because `x mod (2^61 − 1)` reduces by shift-and-add
    * (2^61 ≡ 1), so the kernel never needs 128-bit division — and because
    * a·h products of two 61-bit values fit DuckDB's HUGEINT exactly, so
    * the oracle can spell the identical arithmetic in plain SQL.
    */
  val MinHashP: Long = (1L << 61) - 1

  /** The 16 (a, b) linear-permutation pairs, a ∈ [1, p−1], b ∈ [0, p).
    * Derived once (offline) as `a_i = u64(md5("a:" ++ i)[0:16]) mod (p−1)
    * + 1`, `b_i = u64(md5("b:" ++ i)[0:16]) mod p` and frozen as literals
    * here and in the q41 oracle SQL — the derivation is documentation;
    * the literals are the contract.
    */
  val MinHashA: Array[Long] = Array(
    1373990868603574540L, 2229610769073647273L, 10700795837414532L,
    2075431644850171557L, 1475917070751473073L, 2239896947227957956L,
    495187421095077116L, 2107298530009522474L, 1028630836273278916L,
    1434306291157855797L, 1479548387813268761L, 491056786146127246L,
    854478308236150538L, 2142980513033412260L, 486499416911830657L,
    922915132811394399L)
  val MinHashB: Array[Long] = Array(
    2219730866829012003L, 343505505457325891L, 1105297331920561536L,
    827055453057416926L, 1686843967776265716L, 513102135994661641L,
    1813351112523555076L, 927365638297958403L, 71467204426406135L,
    2148347535982658956L, 1464838179835599099L, 50555517841636245L,
    1619245416403305667L, 834961389981873928L, 1592140546487850056L,
    357230831372746374L)

  private val spaceByte: Array[Byte] = Array(' '.toByte)

  /** (a·h + b) mod (2^61 − 1) with a, h, b ∈ [0, 2^61): full 128-bit
    * product via `Math.multiplyHigh` (both operands positive, so signed ==
    * unsigned), then Mersenne fold — prod = hi·2^64 + lo ≡ hi·8 +
    * (lo >>> 61) + (lo & p) since 2^61 ≡ 1; hi < 2^58 so hi·8 never
    * overflows, and the three-term sum is < 2^63. Bit-equal to DuckDB's
    * `(a::HUGEINT * h + b) % p` (validated exhaustively in the spec).
    */
  private def permMod(a: Long, h: Long, b: Long): Long = {
    val lo = a * h
    val hi = Math.multiplyHigh(a, h)
    var s = (lo & MinHashP) + (lo >>> 61) + (hi << 3)
    while (s >= MinHashP) s -= MinHashP
    s += b
    if (s >= MinHashP) s -= MinHashP
    s
  }

  /** 16-permutation MinHash signature over the text's 3-token shingles —
    * ONE md5 per shingle plus 16 linear permutations, replacing the r3–r13
    * 16-md5s-per-shingle family that a phase profile at sf5 measured as
    * the dominant cost of the whole LSH family:
    * `h = u64(md5(shingle)[0:16]) mod p` (first 8 digest bytes big-endian,
    * i.e. the first 16 hex chars), `sig(i) = min over shingles of
    * (a_i·h + b_i) mod p` with p = 2^61 − 1 and the frozen [[MinHashA]]/
    * [[MinHashB]] pairs. Shingle k is `tok(k) ++ " " ++ tok(k+1) ++ " " ++
    * tok(k+2)`. Oracle contract (q41): `list_aggregate([((a::HUGEINT * h +
    * b) % p)::BIGINT for h in hs], 'min')` over `hs = [('0x' ||
    * substr(md5(s), 1, 16))::UBIGINT::HUGEINT % p for s in sh]`. Fewer
    * than 3 tokens → all 16 lanes NULL (DuckDB `list_aggregate([], 'min')`
    * is NULL too). Min-over-shingles is duplicate-insensitive, so the
    * non-distinct shingle stream needs no dedup on either side.
    */
  def minhashArray(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val nSh = toks.length - 2
    val out = new Array[AnyRef](16)
    if (nSh > 0) {
      val md = md5Tl.get()
      val buf = bufTl.get()
      // token bytes once — each token feeds up to 3 shingle digests
      val tb = new Array[Array[Byte]](toks.length)
      var t = 0
      while (t < toks.length) { tb(t) = toks(t).getBytes(StandardCharsets.UTF_8); t += 1 }
      val mins = new Array[Long](16)
      java.util.Arrays.fill(mins, Long.MaxValue)
      var k = 0
      while (k < nSh) {
        md.reset()
        md.update(tb(k)); md.update(spaceByte)
        md.update(tb(k + 1)); md.update(spaceByte)
        md.update(tb(k + 2))
        md.digest(buf, 0, 16)
        var h64 = 0L
        var j = 0
        while (j < 8) { h64 = (h64 << 8) | (buf(j) & 0xFFL); j += 1 }
        val h = java.lang.Long.remainderUnsigned(h64, MinHashP)
        var i = 0
        while (i < 16) {
          val v = permMod(MinHashA(i), h, MinHashB(i))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        k += 1
      }
      var i = 0
      while (i < 16) { out(i) = java.lang.Long.valueOf(mins(i)); i += 1 }
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over the text's whitespace tokens, as a '0'/'1' bit
    * string: bit b is 1 iff the majority of token md5s have bit b set
    * (ties → 1), where bit b is the b-th bit of the big-endian first 8
    * digest bytes. Oracle contract (q43/q67): the strpos/substr/shift
    * formulation over md5 hex — identical bit extraction, since hex char
    * `1 + b/4` holds digest bits `4*(b/4) .. 4*(b/4)+3`.
    */
  def simhashBits(text: UTF8String): UTF8String = {
    val toks = text.toString.split(" ", -1)
    val md = md5Tl.get()
    val buf = bufTl.get()
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      md.reset()
      md.update(toks(t).getBytes(StandardCharsets.UTF_8))
      md.digest(buf, 0, 16)
      var b = 0
      while (b < 64) {
        if (((buf(b >> 3) >> (7 - (b & 7))) & 1) == 1) counts(b) += 1
        else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    val bits = new Array[Byte](64)
    var b = 0
    while (b < 64) { bits(b) = if (counts(b) >= 0) '1' else '0'; b += 1 }
    UTF8String.fromBytes(bits)
  }

  /** DISTINCT n-token shingles of the text (first-occurrence order, same
    * as Spark's `array_distinct` over the transform-built list): shingle k
    * is `tok(k) .. tok(k+n-1)` joined by single spaces. The set semantics
    * make evaluation order irrelevant to every consumer (intersections,
    * mins, joins), so the oracle keeps its list-comprehension +
    * list_distinct SQL. Kernel-side because the equivalent
    * `transform(sequence(...), i -> concat_ws(...))` HOF lambda is
    * interpreted — q92's two shingle passes cost 11.7 s at sf0.1 through
    * the interpreter vs well under a second here.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val count = toks.length - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[AnyRef])
    else {
      val seen = new java.util.LinkedHashSet[String](count * 2)
      var k = 0
      while (k < count) {
        val sb = new java.lang.StringBuilder(toks(k))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(k + j)); j += 1 }
        seen.add(sb.toString)
        k += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** DISTINCT n-token shingles as 64-bit keys: the [[minhashArray]] fold
    * (`u64(md5(shingle)[0:16]) mod p`, p = 2^61−1) applied per shingle,
    * deduped on the HASH, first-occurrence order. For set operations at
    * corpus scale (q130's cross-source intersection) an 8-byte key
    * through the exchange beats the ~25-byte shingle string ~3×; both
    * engines apply the identical fold, so hash-set counts stay
    * bit-equal oracle-side (a p-collision would merge the same pair of
    * shingles in both). Oracle mirror: `list_distinct([('0x' ||
    * substr(md5(s), 1, 16))::UBIGINT::HUGEINT % p for s in shingles])`.
    */
  def shingles64(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val count = toks.length - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[AnyRef])
    else {
      val md = md5Tl.get()
      val buf = bufTl.get()
      val tb = new Array[Array[Byte]](toks.length)
      var t = 0
      while (t < toks.length) { tb(t) = toks(t).getBytes(StandardCharsets.UTF_8); t += 1 }
      val seen = new java.util.LinkedHashSet[java.lang.Long](count * 2)
      var k = 0
      while (k < count) {
        md.reset()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(spaceByte)
          md.update(tb(k + j))
          j += 1
        }
        md.digest(buf, 0, 16)
        var h64 = 0L
        var i = 0
        while (i < 8) { h64 = (h64 << 8) | (buf(i) & 0xFFL); i += 1 }
        seen.add(java.lang.Long.remainderUnsigned(h64, MinHashP))
        k += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** q118's per-doc gram statistics in ONE token pass: (n2, top2, n5, d5)
    * = (bigram occurrences, max single-bigram multiplicity, 5-gram
    * occurrences, distinct 5-grams), over whitespace tokens with the same
    * split semantics as Spark `split(text, ' ')` / DuckDB string_split
    * (empty tokens from doubled spaces are REAL tokens on both engines,
    * so they are real here too). Exact string-keyed counting — no hash
    * collision channel — in tight JVM maps; returns null for docs under
    * 5 tokens (no 5-gram stream; the fractions would be degenerate).
    * Replaces an interpreted array_sort + aggregate-HOF chain that paid
    * per-ELEMENT virtual-call overhead; this is one virtual call per ROW.
    */
  def gramStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split(" ", -1)
    val L = toks.length
    if (L < 5) return null
    // clamp the hint: L*2 overflows Int (negative capacity → IAE) for a
    // pathological ~2^30-token document; the maps grow past the hint fine
    val cap = math.min(L.toLong * 2, 1L << 30).toInt
    val big = new java.util.HashMap[String, Int](cap)
    var top2 = 0L
    var i = 0
    while (i < L - 1) {
      val key = toks(i) + " " + toks(i + 1)
      val c = big.merge(key, 1, (a, b) => a + b)
      if (c > top2) top2 = c
      i += 1
    }
    val five = new java.util.HashSet[String](cap)
    i = 0
    while (i < L - 4) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < 5) { sb.append(' ').append(toks(i + j)); j += 1 }
      five.add(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((L - 1).toLong, top2, (L - 4).toLong, five.size.toLong))
  }

  /** Per-document term frequencies in ONE token pass: distinct tokens of
    * the whitespace split (empty tokens from doubled spaces are real, as
    * everywhere) with their multiplicities, first-occurrence order. This
    * is the map-side half of exact TF-IDF: tokens of a document already
    * live in one row, so grouping them by a corpus-wide (doc, token)
    * shuffle — the classic explode→groupBy shape — moves every token
    * occurrence across the cluster to count neighbors that were adjacent
    * in the input. One kernel call per row replaces that entire exchange.
    */
  def tokenTf(text: UTF8String):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = text.toString.split(" ", -1)
    val cap = math.min(toks.length.toLong * 2, 1L << 30).toInt
    val m = new java.util.LinkedHashMap[String, Long](cap)
    var i = 0
    while (i < toks.length) {
      m.merge(toks(i), 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[AnyRef](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(e.getKey), e.getValue))
      j += 1
    }
    new GenericArrayData(out)
  }
}
