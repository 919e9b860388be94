package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup / similarity hot path.
  *
  * The same semantics are expressible with higher-order array functions
  * (`transform` / `aggregate` lambdas), but Catalyst evaluates lambda bodies
  * interpreted per element — a 48-bit SimHash over ~550 shingles costs ~26k
  * boxed lambda invocations per row (measured ~150 ms/row). These expressions
  * run the same integer arithmetic as tight JVM loops invoked from whole-stage
  * codegen (`defineCodeGen` emits a single static call), ~1000x faster, which
  * is the difference between "works on 60k rows" and "works on 100 TB".
  *
  * All arithmetic is deterministic int64 mod 2^31-1 and matches the DuckDB
  * oracle SQL in graft.operators.Dedup line for line.
  */
object TextHashOps {
  final val P = 2147483647L // 2^31 - 1

  /** char-k-gram polynomial hashes (base 31 over code points), optionally
    * distinct. Matches transform(sequence(...), i -> poly(ascii(...))). */
  def shingleHashes(s: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val str = s.toString
    val n = str.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < k) { h = h * 31 + str.charAt(i + j); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(if (distinct) dedupe(out) else out)
  }

  /** char-k-gram hash PAIRS in one pass over the chars: (base-31 wrap-2^64,
    * base-1099511628211 wrap-2^64) per position, packed as ONE 16-byte
    * big-endian binary per gram (one flat allocation instead of a boxed
    * struct row — measured ~1.25× vs ~1.1× census overhead against the
    * single-hash key) — see [[ShingleHashPairs]] for the 128-bit-key
    * collision bound. Bytes 0-7 equal [[shingleHashes]]' value at the same
    * position. */
  def shingleHashPairs(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val n = str.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      var h1 = 0L
      var h2 = 0L
      var j = 0
      while (j < k) {
        val c = str.charAt(i + j)
        h1 = h1 * 31 + c
        h2 = h2 * 1099511628211L + c
        j += 1
      }
      val b = new Array[Byte](16)
      var t = 0
      while (t < 8) {
        b(t) = (h1 >>> (56 - 8 * t)).toByte
        b(t + 8) = (h2 >>> (56 - 8 * t)).toByte
        t += 1
      }
      out(i) = b
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Strided char-k-gram hashes with MODULAR arithmetic (base 31, mod
    * 1e9+7, seed 0) at 0-based positions ≡ 0 (mod stride). The oracle-safe
    * twin of [[shingleHashes]] for long grams: a 40-term base-31 polynomial
    * wraps int64, which DuckDB BIGINT arithmetic raises on rather than
    * wrapping, so the production gram census (d09) reduces mod 1_000_000_007
    * at every step on both engines. */
  def gramHashesMod(s: UTF8String, k: Int, stride: Int): ArrayData = {
    val str = s.toString
    val n = str.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long]((n + stride - 1) / stride)
    var o = 0
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 31 + str.charAt(i + j)) % 1000000007L; j += 1 }
      out(o) = h
      o += 1
      i += stride
    }
    new GenericArrayData(out)
  }

  private def dedupe(a: Array[Long]): Array[Long] = {
    // preserves first-occurrence order (= array_distinct / list_distinct)
    val seen = new java.util.HashSet[Long](a.length * 2)
    val out = new Array[Long](a.length)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (seen.add(a(i))) { out(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** MinHash signature: perm j in 1..numPerms, (a_j*x + b_j) mod P with
    * a_j = (1103515245 j + 12345) mod P, b_j = (1103515245 (j+101) + 54321) mod P. */
  def minhashSig(h: ArrayData, numPerms: Int): ArrayData = {
    val xs = h.toLongArray()
    val sig = new Array[Long](numPerms)
    var j = 1
    while (j <= numPerms) {
      val a = (1103515245L * j + 12345L) % P
      val b = (1103515245L * (j + 101) + 54321L) % P
      var m = Long.MaxValue
      var i = 0
      while (i < xs.length) {
        val v = (a * xs(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      sig(j - 1) = if (xs.isEmpty) 0L else m
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** 48-bit SimHash over the feature multiset: bit j set iff
    * sum over features of (((a_j x + b_j) mod P) mod 2)*2 - 1 is positive. */
  def simhash48(h: ArrayData): Long = {
    val xs = h.toLongArray()
    var out = 0L
    var j = 0
    while (j < 48) {
      val a = (1103515245L * (j + 1) + 12345L) % P
      val b = (1103515245L * (j + 102) + 54321L) % P
      var acc = 0L
      var i = 0
      while (i < xs.length) {
        acc += ((a * xs(i) + b) % P) % 2 * 2 - 1
        i += 1
      }
      if (acc > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** Exact Jaccard in integer basis points over the distinct elements:
    * |A n B| * 10000 div |A u B| (floor). */
  def jaccardBp(a: ArrayData, b: ArrayData): Long = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    val sa = new java.util.HashSet[Long](xs.length * 2)
    var i = 0
    while (i < xs.length) { sa.add(xs(i)); i += 1 }
    val sb = new java.util.HashSet[Long](ys.length * 2)
    var inter = 0L
    i = 0
    while (i < ys.length) {
      if (sb.add(ys(i)) && sa.contains(ys(i))) inter += 1
      i += 1
    }
    val union = sa.size.toLong + sb.size.toLong - inter
    if (union == 0) 10000L else inter * 10000L / union
  }

  /** Whole-string polynomial hash: Horner base 31 over code points,
    * mod P at every step (matches a list_reduce over ascii() in DuckDB
    * exactly — a single trailing mod would differ once the unreduced
    * polynomial exceeds int64). */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) { h = (h * 31 + str.charAt(i)) % P; i += 1 }
    h
  }

  /** Position-weighted rolling fingerprint over a feature array:
    * (sum_i h[i] * (i mod 31 + 1)) mod P, i 0-based. Matches the
    * aggregate()-lambda definition in the t04 oracle. */
  def weightedFingerprint(h: ArrayData): Long = {
    val xs = h.toLongArray()
    var s = 0L
    var i = 0
    while (i < xs.length) { s += xs(i) * (i % 31 + 1); i += 1 }
    s % P
  }

  /** Jaccard over two SORTED long arrays: single zero-allocation merge pass
    * (duplicates skipped, so it is still set semantics). Same value as
    * [[jaccardBp]]; ~100x cheaper per pair on all-pairs joins because the
    * sort is paid once per row, not once per pair. */
  def jaccardBpSorted(a: ArrayData, b: ArrayData): Long = (a, b) match {
    // Specialize on concrete UnsafeArrayData: an interface-typed getLong call
    // site is megamorphic (Unsafe/Generic/Columnar all loaded) and the JIT
    // won't inline it, and toLongArray() allocates+copies per PAIR in an
    // all-pairs join. Concrete-typed direct access is allocation-free and
    // inlines to Platform.getLong.
    case (x: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
          y: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
      mergeUnsafe(x, y)
    case _ => mergeSorted(a.toLongArray(), b.toLongArray())
  }

  private def mergeUnsafe(a: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
                          b: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0
    var na = 0L; var nb = 0L; var inter = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) {
        inter += 1; na += 1; nb += 1
        while (i < n && a.getLong(i) == x) i += 1
        while (j < m && b.getLong(j) == y) j += 1
      } else if (x < y) {
        na += 1
        while (i < n && a.getLong(i) == x) i += 1
      } else {
        nb += 1
        while (j < m && b.getLong(j) == y) j += 1
      }
    }
    while (i < n) {
      na += 1
      val v = a.getLong(i)
      while (i < n && a.getLong(i) == v) i += 1
    }
    while (j < m) {
      nb += 1
      val v = b.getLong(j)
      while (j < m && b.getLong(j) == v) j += 1
    }
    val union = na + nb - inter
    if (union == 0) 10000L else inter * 10000L / union
  }

  private def mergeSorted(xs: Array[Long], ys: Array[Long]): Long = {
    val n = xs.length; val m = ys.length
    var i = 0; var j = 0
    var na = 0L; var nb = 0L; var inter = 0L
    while (i < n && j < m) {
      val x = xs(i); val y = ys(j)
      if (x == y) {
        inter += 1; na += 1; nb += 1
        while (i < n && xs(i) == x) i += 1
        while (j < m && ys(j) == y) j += 1
      } else if (x < y) {
        na += 1
        while (i < n && xs(i) == x) i += 1
      } else {
        nb += 1
        while (j < m && ys(j) == y) j += 1
      }
    }
    while (i < n) {
      na += 1
      val v = xs(i)
      while (i < n && xs(i) == v) i += 1
    }
    while (j < m) {
      nb += 1
      val v = ys(j)
      while (j < m && ys(j) == v) j += 1
    }
    val union = na + nb - inter
    if (union == 0) 10000L else inter * 10000L / union
  }

  /** Dense bit ids -> fixed-width bitmap (nWords int64 words, little-endian
    * bit order). Exact set representation when the token dictionary is dense
    * (ids 0..V-1): intersect/union become word-wise popcounts. Out-of-range
    * ids fail fast — a silent drop would make Jaccard wrong, not slow. */
  def bitsToWords(bits: ArrayData, nWords: Int): ArrayData = {
    val out = new Array[Long](nWords)
    val n = bits.numElements()
    var i = 0
    while (i < n) {
      val b = bits.getLong(i)
      if (b < 0 || b >= nWords.toLong * 64)
        throw new IllegalArgumentException(s"bit id $b out of range for $nWords words")
      out((b >> 6).toInt) |= 1L << (b & 63)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Map each token of `h` to its dense dictionary id by binary search over
    * the value-sorted `toks` array (parallel `bits` array carries the ids),
    * returning the ids SORTED ascending — exactly what the explode → join →
    * collect_list → sort_array relabel produced, without shuffling a row per
    * token (r14, guide §2.3/§2.4: the relabel becomes map-side work; the
    * only corpus-wide exchange left in the dictionary build is the df census
    * aggregate). Tokens absent from the dictionary are dropped, mirroring
    * the inner-join semantics (cannot happen when the dictionary was built
    * from the same corpus — kept for subset calls). */
  def relabelSorted(h: ArrayData, toks: Array[Long], bits: Array[Long]): ArrayData = {
    val n = h.numElements()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val idx = java.util.Arrays.binarySearch(toks, h.getLong(i))
      if (idx >= 0) { out(m) = bits(idx); m += 1 }
      i += 1
    }
    val trimmed = if (m == n) out else java.util.Arrays.copyOf(out, m)
    java.util.Arrays.sort(trimmed)
    new GenericArrayData(trimmed)
  }

  /** Exact Jaccard in basis points over two equal-width bitmaps:
    * popcount(AND) * 10000 div popcount(OR). Same value as [[jaccardBpSorted]]
    * on the corresponding sorted id arrays, ~7x fewer ops per pair at 1024
    * bits — the verify kernel for the dense-dictionary similarity join. */
  def jaccardBpWords(a: ArrayData, b: ArrayData): Long = (a, b) match {
    case (x: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
          y: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
      // concrete-typed loop: see jaccardBpSorted for why this beats the
      // interface-typed call site in an all-pairs join
      val n = math.min(x.numElements(), y.numElements())
      var inter = 0L; var union = 0L
      var i = 0
      while (i < n) {
        val u = x.getLong(i); val v = y.getLong(i)
        inter += java.lang.Long.bitCount(u & v)
        union += java.lang.Long.bitCount(u | v)
        i += 1
      }
      if (union == 0) 10000L else inter * 10000L / union
    case _ =>
      val n = math.min(a.numElements(), b.numElements())
      var inter = 0L; var union = 0L
      var i = 0
      while (i < n) {
        val u = a.getLong(i); val v = b.getLong(i)
        inter += java.lang.Long.bitCount(u & v)
        union += java.lang.Long.bitCount(u | v)
        i += 1
      }
      if (union == 0) 10000L else inter * 10000L / union
  }

  /** Random-hyperplane LSH signature: bit m (0-based, m < numBits) is set iff
    * sum_i emb[i] * sgn(m, i) > 0, with deterministic +-1 hyperplanes
    * sgn(m, i) = (((m + 1) * 37 + i * 101) mod 97 mod 2) * 2 - 1 (i 1-based).
    * Double accumulation in index order — bit-identical to the oracle SQL. */
  def hyperplaneSig(emb: ArrayData, numBits: Int): Long = {
    val n = emb.numElements()
    var out = 0L
    var m = 0
    while (m < numBits) {
      var s = 0.0
      var i = 0
      while (i < n) {
        val sgn = (((m + 1) * 37 + (i + 1) * 101) % 97 % 2) * 2 - 1
        s += emb.getFloat(i).toDouble * sgn
        i += 1
      }
      if (s > 0) out |= 1L << m
      m += 1
    }
    out
  }

  /** Dot product of two float vectors, accumulated in double in index order.
    * Combined with per-vector precomputed self-dots, dot/sqrt(na*nb) is
    * bit-identical to [[cosineSim]] (each accumulator there is independent),
    * at a third of the per-pair work in all-pairs joins. */
  def dotD(a: ArrayData, b: ArrayData): Double = (a, b) match {
    case (x: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
          y: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    case _ =>
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
      s
  }

  /** Squared L2 distance of two float vectors, accumulated in double in
    * index order (bit-identical to the oracle's explicit list arithmetic). */
  def l2Sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Cosine similarity of two float vectors, accumulated in double in index
    * order (bit-identical to the oracle's explicit list arithmetic — NOT to
    * DuckDB's list_cosine_similarity, which accumulates in float32). */
  def cosineSim(a: ArrayData, b: ArrayData): Double = (a, b) match {
    case (x: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData,
          y: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) =>
      // concrete-typed loop: interface getFloat is megamorphic (see
      // jaccardBpSorted); the arithmetic sequence is IDENTICAL in all paths
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val u = x.getFloat(i).toDouble
        val v = y.getFloat(i).toDouble
        dot += u * v; na += u * u; nb += v * v
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    case _ =>
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** t25's per-doc Gopher repetition census (Rae et al. 2021, app. A1.1)
    * in one pass: for n in {2, 3} over the literal single-space word split,
    * the character mass (count × chars, internal spaces included) of the
    * most frequent word n-gram, and the repeated mass Σ (cnt−1) × chars of
    * every duplicated n-gram. Because the split is on the literal ' ', an
    * n-gram joined by ' ' IS a substring of the doc — gram identity is
    * substring equality and gram chars are code points, exactly
    * `length(concat_ws(' ', slice(w, i, n)))`. The HOF formulation of the
    * same census costs ~1000 boxed lambda steps per doc; the explode →
    * groupBy(doc, gram) one shuffles two wide string rows per token (1.93×
    * growth on 1.33× data at the 160× probe — spill, not algorithm). */
  def gopherMasses(s: UTF8String): InternalRow = {
    val str = s.toString
    val len = str.length
    var nw = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nw += 1; i += 1 }
    val starts = new Array[Int](nw)
    val ends = new Array[Int](nw)
    val cps = new Array[Long](nw)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = len
    var k = 0
    while (k < nw) { cps(k) = str.codePointCount(starts(k), ends(k)); k += 1 }

    def masses(n: Int): (Long, Long) = {
      if (nw < n) return (0L, 0L)
      // value = {count, chars}: equal grams always have equal char counts
      val m = new java.util.HashMap[String, Array[Long]]()
      var i = 0
      while (i + n <= nw) {
        val key = str.substring(starts(i), ends(i + n - 1))
        val e = m.get(key)
        if (e == null) {
          var cl = (n - 1).toLong
          var j = 0
          while (j < n) { cl += cps(i + j); j += 1 }
          m.put(key, Array(1L, cl))
        } else e(0) += 1L
        i += 1
      }
      var top = 0L
      var dup = 0L
      val it = m.values().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mass = e(0) * e(1)
        if (mass > top) top = mass
        if (e(0) > 1L) dup += (e(0) - 1L) * e(1)
      }
      (top, dup)
    }
    val (t2, d2) = masses(2)
    val (t3, d3) = masses(3)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](t2, d2, t3, d3))
  }

  /** The CDC chunk pipeline of Dedup.cdcChunkHashes in one pass: non-empty
    * tokens of the single-space split, each Horner-hashed (seed 7, base 31,
    * mod 1e9+7); a token whose hash ≡ 0 (mod 8) CLOSES its chunk; each
    * chunk's id is the number of boundaries strictly before it and its
    * hash is the ordered (a·131+x) mod 2^31−1 fold of its token hashes.
    * Returns array<struct<cid, chunk_hash, n_toks>> — one row per CHUNK
    * after explode (~1/8 of the token count), where the window formulation
    * shuffled and sorted the full token stream twice (the per-doc
    * running-boundary window, then the collect_list re-sort). */
  /** text + llr table -> (n_bigrams, score_bits): the p32 DSIR scoring
    * pass in one call (t25's census device on the bigram plane). Tokens
    * are the single-space split with empty fields kept (split()'s
    * contract); each consecutive pair's gram string w_i + ' ' + w_{i+1}
    * is EXACTLY the source span from token i's start to token i+1's end,
    * so the hash ([[polyHash]]'s Horner base 31 mod P per UTF-16 char)
    * runs over the original string with zero allocation per gram. Bucket
    * = hash mod llr.length; score = Σ llr(bucket). Matches the
    * explode → element_at lookup → sum pipeline bit for bit. */
  def bigramBucketScore(s: UTF8String, llr: Array[Long]): InternalRow = {
    val str = s.toString
    val len = str.length
    var nw = 1
    var i = 0
    while (i < len) { if (str.charAt(i) == ' ') nw += 1; i += 1 }
    if (nw < 2)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L))
    val starts = new Array[Int](nw)
    val ends = new Array[Int](nw)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = len
    val buckets = llr.length
    var score = 0L
    var g = 0
    while (g < nw - 1) {
      var h = 0L
      var j = starts(g)
      val e = ends(g + 1)
      while (j < e) { h = (h * 31 + str.charAt(j)) % P; j += 1 }
      score += llr((h % buckets).toInt)
      g += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((nw - 1).toLong, score))
  }

  /** text + stopword set -> (n_tok, max_freq, n_stop): the quality-cascade
    * token census (p11/p29/p30's shared stage-1 frame) in one call. Tokens
    * are the single-space split with empty fields kept, matching
    * explode(split(text, ' ')): n_tok counts ALL tokens (the empty token
    * groups too), max_freq is the modal token's count, n_stop counts exact
    * stoplist membership — the integer arithmetic of the explode →
    * groupBy(doc, tok) → groupBy(doc) pipeline without its corpus-tokens
    * exchange or the boxed IN-filter lambda. */
  def qualityCensus(s: UTF8String, stops: java.util.HashSet[String]): InternalRow = {
    val str = s.toString
    val counts = new java.util.HashMap[String, Array[Long]]()
    var nTok = 0L
    var nStop = 0L
    var start = 0
    var i = 0
    val len = str.length
    while (i <= len) {
      if (i == len || str.charAt(i) == ' ') {
        val tok = str.substring(start, i)
        nTok += 1L
        if (stops.contains(tok)) nStop += 1L
        val e = counts.get(tok)
        if (e == null) counts.put(tok, Array(1L)) else e(0) += 1L
        start = i + 1
      }
      i += 1
    }
    var maxFreq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next()(0); if (c > maxFreq) maxFreq = c }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, maxFreq, nStop))
  }

  def cdcChunks(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    val out = new java.util.ArrayList[Any]()
    var cid = 0L
    var fold = 0L
    var n = 0L
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && str.charAt(j) != ' ') j += 1
      if (j > i) {
        var h = 7L
        var k = i
        while (k < j) { h = (h * 31 + str.charAt(k)) % 1000000007L; k += 1 }
        fold = (fold * 131 + h) % 2147483647L
        n += 1L
        if (h % 8 == 0) {
          out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](cid, fold, n)))
          cid += 1L; fold = 0L; n = 0L
        }
      }
      i = j + 1
    }
    if (n > 0L)
      out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](cid, fold, n)))
    new GenericArrayData(out.toArray)
  }
}

/** text -> array<long> of char-k-gram polynomial hashes. */
case class ShingleHashes(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.shingleHashes(input.asInstanceOf[UTF8String], k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.shingleHashes($c, $k, $distinct)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** text -> array<binary> of 16-byte char-k-gram hash PAIRS in one char
  * pass: bytes 0-7 = the base-31 polynomial wrapping mod 2^64
  * (== shingle_hashes), bytes 8-15 an independent base-1099511628211
  * polynomial, also wrapping. The pair is an effectively 128-bit gram key:
  * a simultaneous collision needs the grams' difference polynomial to
  * vanish under BOTH bases mod 2^64 — modeled as a uniform 128-bit key, a
  * 10^14-gram corpus (100 TB of text) expects ~(10^14)²/2^129 ≈ 1.5e-11
  * colliding pairs, where the single 64-bit key crosses one expected
  * collision already at ~5·10^9 grams (VERDICT r14 wrong-#2: the census
  * must stay exact at the design scale). */
case class ShingleHashPairs(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.shingleHashPairs(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.shingleHashPairs($c, $k)")
  override protected def withNewChildInternal(c: Expression): ShingleHashPairs = copy(child = c)
  override def prettyName: String = "shingle_hash_pairs"
}

/** string -> array<long>: strided modular k-gram hashes (d28's census key). */
case class GramHashesMod(child: Expression, k: Int, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.gramHashesMod(input.asInstanceOf[UTF8String], k, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.gramHashesMod($c, $k, $stride)")
  override protected def withNewChildInternal(c: Expression): GramHashesMod = copy(child = c)
  override def prettyName: String = "gram_hashes_mod"
}

/** array<long> -> array<long> MinHash signature. */
case class MinHashSig(child: Expression, numPerms: Int) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(ArrayType(LongType))
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.minhashSig(input.asInstanceOf[ArrayData], numPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.minhashSig($c, $numPerms)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** array<long> -> long 48-bit SimHash. */
case class SimHash48(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType))
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.simhash48(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.simhash48($c)")
  override protected def withNewChildInternal(c: Expression): SimHash48 = copy(child = c)
  override def prettyName: String = "simhash48"
}

/** (array<long>, array<long>) -> long Jaccard similarity in basis points. */
case class JaccardBp(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.jaccardBp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.jaccardBp($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardBp =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_bp"
}

/** array<long> -> long position-weighted fingerprint. */
case class WeightedFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType))
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.weightedFingerprint(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.weightedFingerprint($c)")
  override protected def withNewChildInternal(c: Expression): WeightedFingerprint = copy(child = c)
  override def prettyName: String = "weighted_fingerprint"
}

/** (sorted array<long>, sorted array<long>) -> long Jaccard basis points. */
case class JaccardBpSorted(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.jaccardBpSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.jaccardBpSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardBpSorted =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_bp_sorted"
}

/** array<float> -> long random-hyperplane LSH signature. */
case class HyperplaneSig(child: Expression, numBits: Int) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(FloatType))
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.hyperplaneSig(input.asInstanceOf[ArrayData], numBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.hyperplaneSig($c, $numBits)")
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
  override def prettyName: String = "hyperplane_sig"
}

/** (array<float>, array<float>) -> double cosine similarity. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.cosineSim($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** (array<float>, array<float>) -> double dot product. */
case class DotD(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.dotD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotD =
    copy(left = l, right = r)
  override def prettyName: String = "dot_d"
}

/** (array<float>, array<float>) -> double squared L2 distance. */
case class L2Sq(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.l2Sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.l2Sq($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
  override def prettyName: String = "l2_sq"
}

/** text -> int64 whole-string polynomial hash (Horner base 31 mod P). */
case class PolyHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.polyHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.polyHash($c)")
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
  override def prettyName: String = "poly_hash"
}

/** array<long> of dense bit ids -> array<long> bitmap of nWords words. */
case class BitsToWords(child: Expression, nWords: Int) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(ArrayType(LongType))
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.bitsToWords(input.asInstanceOf[ArrayData], nWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.bitsToWords($c, $nWords)")
  override protected def withNewChildInternal(c: Expression): BitsToWords = copy(child = c)
  override def prettyName: String = "bits_to_words"
}

/** (array<long> h, FOLDABLE array<long> value-sorted dictionary, FOLDABLE
  * array<long> parallel ids) -> sorted array<long> of the mapped ids. The
  * dictionary rides the plan as two literals evaluated ONCE and shared with
  * generated code through codegen reference objects (the
  * [[BigramBucketScore]] device) — this is the dense-path relabel of the
  * prefix-Jaccard chain done map-side instead of explode → broadcast join →
  * groupBy(doc_id) → collect_list → sort_array (r14: that regroup was a
  * full exploded-corpus exchange per PPJoin call). */
case class RelabelSorted(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = first.nullable

  // foldability surfaced as an ANALYSIS error, not a runtime/codegen-time
  // require (ADVICE r14: a SQL user passing non-foldable dictionary columns
  // to the registered relabel_sorted otherwise got an
  // IllegalArgumentException or NPE mid-execution)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!second.foldable || !third.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "relabel_sorted: the dictionary and id-table arguments must be foldable")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private lazy val toksArr: Array[Long] =
    second.eval(null).asInstanceOf[ArrayData].toLongArray()
  private lazy val bitsArr: Array[Long] =
    third.eval(null).asInstanceOf[ArrayData].toLongArray()

  override def eval(input: InternalRow): Any = {
    val h = first.eval(input)
    if (h == null) null
    else TextHashOps.relabelSorted(h.asInstanceOf[ArrayData], toksArr, bitsArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val toksRef = ctx.addReferenceObj("relabelToks", toksArr, "long[]")
    val bitsRef = ctx.addReferenceObj("relabelBits", bitsArr, "long[]")
    val h = first.genCode(ctx)
    ev.copy(code =
      code"""
        ${h.code}
        boolean ${ev.isNull} = ${h.isNull};
        ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} =
            graft.functions.TextHashOps.relabelSorted(${h.value}, $toksRef, $bitsRef);
        }""")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RelabelSorted =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "relabel_sorted"
}

/** (bitmap, bitmap) -> long Jaccard basis points via word-wise popcount. */
case class JaccardBpWords(left: Expression, right: Expression) extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextHashOps.jaccardBpWords(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashOps.jaccardBpWords($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardBpWords =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_bp_words"
}

/** Session registration so the expressions are usable from SQL text and
  * `expr(...)` strings: shingle_hashes(text, k, distinct), minhash_sig(h, n),
  * simhash48(h), jaccard_bp(a, b), cosine_sim(a, b). */
/** text -> struct<top2,dup2,top3,dup3 bigint>: per-doc Gopher repetition
  * masses (t25's census plane, one codegen'd static call per row). */
case class GopherMasses(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = GopherMasses.resultType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.gopherMasses(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.gopherMasses($c)")
  override protected def withNewChildInternal(c: Expression): GopherMasses = copy(child = c)
  override def prettyName: String = "gopher_masses"
}

object GopherMasses {
  val resultType: DataType = StructType(Seq(
    StructField("top2", LongType, nullable = false),
    StructField("dup2", LongType, nullable = false),
    StructField("top3", LongType, nullable = false),
    StructField("dup3", LongType, nullable = false)))
}

/** text -> array<struct<cid,chunk_hash,n_toks bigint>>: content-defined
  * chunks (the d23/d24 pipeline front, one codegen'd call per doc). */
case class CdcChunks(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = CdcChunks.resultType
  override def inputTypes = Seq(StringType)
  override protected def nullSafeEval(input: Any): Any =
    TextHashOps.cdcChunks(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashOps.cdcChunks($c)")
  override protected def withNewChildInternal(c: Expression): CdcChunks = copy(child = c)
  override def prettyName: String = "cdc_chunks"
}

object CdcChunks {
  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("chunk_hash", LongType, nullable = false),
      StructField("n_toks", LongType, nullable = false))),
    containsNull = false)
}

/** (text, FOLDABLE array<long> llr) -> struct<n_bigrams,score_bits>: the
  * p32 DSIR scoring pass, one codegen'd call per doc. The llr table is the
  * TRAINED model riding the plan as a literal — it is required foldable,
  * evaluated ONCE into a long[], and shared with generated code through a
  * codegen reference object (defineCodeGen would instead re-evaluate the
  * 256-slot array child per row). */
case class BigramBucketScore(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, ArrayType(LongType))
  override def dataType: DataType = BigramBucketScore.resultType
  override def nullable: Boolean = left.nullable

  private lazy val llrArr: Array[Long] = {
    require(right.foldable, "bigram_bucket_score: the llr table must be foldable")
    val a = right.eval(null).asInstanceOf[ArrayData].toLongArray()
    require(a.nonEmpty, "bigram_bucket_score: the llr table must be non-empty")
    a
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else TextHashOps.bigramBucketScore(t.asInstanceOf[UTF8String], llrArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val llrRef = ctx.addReferenceObj("dsirLlr", llrArr, "long[]")
    val t = left.genCode(ctx)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} =
            graft.functions.TextHashOps.bigramBucketScore(${t.value}, $llrRef);
        }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BigramBucketScore =
    copy(left = l, right = r)
  override def prettyName: String = "bigram_bucket_score"
}

object BigramBucketScore {
  val resultType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("score_bits", LongType, nullable = false)))
}

/** (text, FOLDABLE array<string> stops) -> struct<n_tok,max_freq,n_stop>:
  * the quality-cascade token census, one codegen'd call per doc. The
  * stoplist is evaluated ONCE into a HashSet and shared with generated
  * code through a codegen reference object. */
case class QualityCensus(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, ArrayType(StringType))
  override def dataType: DataType = QualityCensus.resultType
  override def nullable: Boolean = left.nullable

  private lazy val stopSet: java.util.HashSet[String] = {
    require(right.foldable, "quality_census: the stoplist must be foldable")
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val set = new java.util.HashSet[String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) { set.add(arr.getUTF8String(i).toString); i += 1 }
    set
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else TextHashOps.qualityCensus(t.asInstanceOf[UTF8String], stopSet)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val stopsRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    val t = left.genCode(ctx)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} =
            graft.functions.TextHashOps.qualityCensus(${t.value}, $stopsRef);
        }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): QualityCensus =
    copy(left = l, right = r)
  override def prettyName: String = "quality_census"
}

object QualityCensus {
  val resultType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("max_freq", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))
}

object Registry {
  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def boolLit(e: Expression): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(s"expected bool literal, got $other")
  }

  /** Name -> builder for every graft expression, injected into a session
    * by [[GraftExtensions]]. */
  private[functions] val fnSpecs: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "shingle_hashes" -> (es => ShingleHashes(es.head, intLit(es(1)), boolLit(es(2)))),
    "shingle_hash_pairs" -> (es => ShingleHashPairs(es.head, intLit(es(1)))),
    "gram_hashes_mod" -> (es => GramHashesMod(es.head, intLit(es(1)), intLit(es(2)))),
    "minhash_sig"    -> (es => MinHashSig(es.head, intLit(es(1)))),
    "simhash48"      -> (es => SimHash48(es.head)),
    "jaccard_bp"     -> (es => JaccardBp(es.head, es(1))),
    "jaccard_bp_sorted" -> (es => JaccardBpSorted(es.head, es(1))),
    "weighted_fingerprint" -> (es => WeightedFingerprint(es.head)),
    "hyperplane_sig" -> (es => HyperplaneSig(es.head, intLit(es(1)))),
    "cosine_sim"     -> (es => CosineSim(es.head, es(1))),
    "l2_sq"          -> (es => L2Sq(es.head, es(1))),
    "poly_hash"      -> (es => PolyHash(es.head)),
    "bits_to_words"  -> (es => BitsToWords(es.head, intLit(es(1)))),
    "relabel_sorted" -> (es => RelabelSorted(es.head, es(1), es(2))),
    "jaccard_bp_words" -> (es => JaccardBpWords(es.head, es(1))),
    "dot_d"          -> (es => DotD(es.head, es(1))),
    "gopher_masses"  -> (es => GopherMasses(es.head)),
    "cdc_chunks"     -> (es => CdcChunks(es.head)),
    "bigram_bucket_score" -> (es => BigramBucketScore(es.head, es(1))),
    "quality_census" -> (es => QualityCensus(es.head, es(1))),
    "topk_longs"     -> (es => TopKLongs(es.head, intLit(es(1)))),
    "topk_scored"    -> (es => TopKScored(es.head, es(1), intLit(es(2)),
      if (es.length > 3) boolLit(es(3)) else true)),
    "topk_scored_str" -> (es => TopKScoredStr(es.head, es(1), intLit(es(2)),
      if (es.length > 3) boolLit(es(3)) else true)),
  )
}
