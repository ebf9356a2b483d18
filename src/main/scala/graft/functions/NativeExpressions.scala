package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the two kernels that dominate the
  * dedup/similarity workloads. Both come with `doGenCode`, so they run
  * inside whole-stage codegen with zero per-element boxing — measured
  * well ahead of the equivalent higher-order-function compositions,
  * which allocate an intermediate array per evaluation.
  *
  * Registered through [[graft.GraftExtensions]] (SparkSessionExtensions
  * → injectFunction), the documented public extension point.
  */
object NativeKernels {

  /** xxhash64 seed used by Spark's `xxhash64(...)` function — shared so
    * native hashes are interchangeable with expression-built ones.
    */
  val Seed = 42L

  /** Dot product of two float arrays in double precision, accumulating
    * left-to-right (bit-identical to the zip_with/aggregate fold).
    */
  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  /** PQ codebook argmin: index (NOT centroid label — callers map
    * sparse labels outside) of the centroid minimizing the reduced L2
    * score c·c − 2·x·c over the flattened `codebook` (numCentroids ×
    * sub doubles); `x` is a float sub-vector of length >= sub. Both
    * accumulators run left-to-right from 0.0 — term-for-term the
    * orders of the expression form's sqSum literal and HOF dot — so
    * the selected index is bit-identical, ties keeping the lowest
    * index exactly like array_min over (score, cid) structs. One
    * compiled O(numCentroids·sub) loop replacing a 64-wide struct
    * argmin whose lambdas evaluate interpreted.
    */
  def pqArgmin(x: ArrayData, codebook: ArrayData, sub: Int): Int = {
    val nc = codebook.numElements() / sub
    var best = Double.PositiveInfinity
    var bestI = 0
    var cid = 0
    while (cid < nc) {
      val base = cid * sub
      var cc = 0.0
      var dp = 0.0
      var i = 0
      while (i < sub) {
        val c = codebook.getDouble(base + i)
        cc += c * c
        dp += x.getFloat(i).toDouble * c
        i += 1
      }
      val r = cc - 2.0 * dp
      if (r < best) { best = r; bestI = cid }
      cid += 1
    }
    bestI
  }

  /** Top-`n` centroids of `flat` (k × dim doubles) by cosine to the
    * float vector `x`, as (cos, idx) structs ordered (cos desc, idx
    * asc) — ONE compiled O(k·dim) loop replacing the k-wide
    * struct-array sort whose HOF-dot lambdas evaluate interpreted
    * (the Cluster.assign / semDedupPairs blocking shape; §6's "native
    * cosine-argmax twin"). Bit-identical to
    * reverse(array_sort(array(struct(cos_i, -i)...)))[0..n): each
    * cosine accumulates left-to-right in double exactly like the
    * zip_with/aggregate fold (x.toDouble * c, with x²/c² norms in the
    * same order), nn == 0 yields cos 0.0 (the cosOf guard), and
    * comparisons use Spark's SQL double ordering (NaN greatest,
    * -0.0 == 0.0) with ties keeping the LOWER index — exactly the
    * (cos, -cid) struct-max/sort semantics. `x` MUST be exactly `dim`
    * long: the expression fallback's `zip_with` dot null-pads the
    * SHORTER side (yielding a NULL cosine), so a ragged vector has no
    * consistent answer on either path — it is data corruption, and
    * the kernel fails loud on it instead of silently diverging from
    * the fallback with a partial dot. n clamps to [0, k] (slice
    * semantics).
    */
  def cosTopC(x: ArrayData, flat: ArrayData, dim: Int, n: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_cos_topc: vector length ${x.numElements()} != dim $dim " +
          "(ragged embedding — the expression fallback would null-pad " +
          "to a NULL cosine; fix the input)")
    val k = if (dim > 0) flat.numElements() / dim else 0
    val m = math.min(x.numElements(), dim)
    var daa = 0.0
    var i = 0
    while (i < m) { val v = x.getFloat(i).toDouble; daa += v * v; i += 1 }
    val na = math.sqrt(daa)
    val take = math.max(0, math.min(n, k))
    val bestCos = new Array[Double](take)
    val bestIdx = new Array[Int](take)
    var filled = 0
    var cid = 0
    while (cid < k) {
      val base = cid * dim
      var cc = 0.0
      var dp = 0.0
      i = 0
      while (i < dim) {
        val c = flat.getDouble(base + i)
        cc += c * c
        if (i < m) dp += x.getFloat(i).toDouble * c
        i += 1
      }
      val nn = na * math.sqrt(cc)
      val cos = if (nn == 0.0) 0.0 else dp / nn
      // insertion position: after every kept entry with cos >= this
      // one (kept entries have lower idx, so ties keep the earlier)
      if (take > 0 && (filled < take || compareDoubles(cos, bestCos(filled - 1)) > 0)) {
        var p = filled
        while (p > 0 && compareDoubles(bestCos(p - 1), cos) < 0) p -= 1
        if (p < take) {
          val last = math.min(filled, take - 1)
          var j = last
          while (j > p) { bestCos(j) = bestCos(j - 1); bestIdx(j) = bestIdx(j - 1); j -= 1 }
          bestCos(p) = cos
          bestIdx(p) = cid
          if (filled < take) filled += 1
        }
      }
      cid += 1
    }
    val out = new Array[Any](filled)
    i = 0
    while (i < filled) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestCos(i), bestIdx(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct xxhash64 values of the character k-shingles of `s`,
    * hashing the UTF-8 bytes in place — no shingle strings, no char
    * array. Byte-windowing equals char-windowing for ASCII input,
    * which normalized text (`text.normalize`) guarantees.
    */
  def shingleHashes(s: UTF8String, k: Int): UnsafeArrayData = {
    val bytes = s.getBaseObject
    val offset = s.getBaseOffset
    val n = s.numBytes()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    distinctOf(n - k + 1, i => XXH64.hashUnsafeBytes(bytes, offset + i, k, Seed))
  }

  /** Distinct xxhash64 values of the space-joined word n-grams of
    * `toks`. Hashes exactly the bytes of the joined gram string, so the
    * output set equals `xxhash64(concat_ws(" ", slice(toks,i,n)))` over
    * all i — gram-string identity semantics without building strings.
    */
  def ngramHashes(toks: ArrayData, n: Int): UnsafeArrayData = {
    val cnt = toks.numElements()
    if (cnt < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    var scratch = new Array[Byte](64)
    distinctOf(cnt - n + 1, { i =>
      var len = 0
      var j = 0
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        val tl = t.numBytes()
        if (len + tl + 1 > scratch.length) {
          scratch = java.util.Arrays.copyOf(scratch, math.max(scratch.length * 2, len + tl + 1))
        }
        if (j > 0) { scratch(len) = ' '.toByte; len += 1 }
        t.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
        len += tl
        j += 1
      }
      XXH64.hashUnsafeBytes(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
    })
  }

  /** MinHash signature over pre-hashed elements: sig[p] = min over h
    * of the same value Spark's `xxhash64(lit(p), h)` computes —
    * XXH64.hashLong(h, XXH64.hashInt(p, 42)) (the expression chains
    * child hashes from seed 42), so native and expression-built
    * signatures are IDENTICAL and d2's output does not depend on
    * whether the extension is loaded. One compiled O(n·numPerm) loop
    * per doc — no explode, no aggregate machinery, no shuffle. Empty
    * input → all Long.MaxValue sentinels.
    */
  def minhash(hashes: ArrayData, numPerm: Int): UnsafeArrayData = {
    val n = hashes.numElements()
    val permSeeds = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) { permSeeds(p) = XXH64.hashInt(p, Seed); p += 1 }
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      p = 0
      while (p < numPerm) {
        val v = XXH64.hashLong(h, permSeeds(p))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash over pre-hashed tokens: per-bit +1/-1 votes from
    * each hash's bits, fingerprint bit set where votes are positive.
    * One compiled O(64·n) loop — no per-token array allocation.
    */
  def simhash64(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp += (1L << b)
      b += 1
    }
    fp
  }

  /** Intersection cardinality of two sorted long arrays (two-pointer
    * merge; assumes ascending order, duplicates absent — both are
    * guaranteed by the distinct-hash producers + array_sort).
    */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  /** PQ probe-side ADC table for ONE subspace: entry cid =
    * micro-units( fround_6( c·c − 2·x·c ) ) for each centroid of the
    * flattened `codebook`, i.e. exactly the value the expression form
    * `micro(fround(rScore(x, c), 6))` yields — cc and the dot
    * accumulate left-to-right like sqSum / the HOF dot, fround is the
    * same floor(v·10⁶ + 0.5)/10⁶ double math, and the micro conversion
    * replicates Spark's double→decimal(18,6) cast (valueOf = shortest
    * decimal repr, HALF_UP at scale 6) so the longs are bit-identical
    * to the decimal-cast chain. One compiled O(numCentroids·sub) loop
    * replacing numCentroids interpreted lambda subtrees PER PROBE ROW
    * — the probe-side cost is O(|probes|·64·dim) either way, but
    * compiled vs interpreted is the difference that matters when the
    * probe table is production-sized.
    */
  def pqAdcTable(x: ArrayData, codebook: ArrayData, sub: Int): UnsafeArrayData = {
    val nc = codebook.numElements() / sub
    val out = new Array[Long](nc)
    var cid = 0
    while (cid < nc) {
      val base = cid * sub
      var cc = 0.0
      var dp = 0.0
      var i = 0
      while (i < sub) {
        val c = codebook.getDouble(base + i)
        cc += c * c
        dp += x.getFloat(i).toDouble * c
        i += 1
      }
      val v = cc - 2.0 * dp
      val m = 1000000.0
      val r = math.floor(v * m + 0.5) / m
      out(cid) = java.math.BigDecimal.valueOf(r)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
      cid += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Random-hyperplane LSH signature: bit p of the result is the sign
    * of vec · planes[p]. `planes` is the flattened numPlanes×dim
    * matrix; accumulation order matches the HOF dot, so signatures
    * agree with vectors.hyperplaneSig bit-for-bit.
    */
  def hyperplaneSig(vec: ArrayData, planes: ArrayData, dim: Int): Long = {
    val numPlanes = planes.numElements() / dim
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      val base = p * dim
      var s = 0.0
      var i = 0
      while (i < dim) {
        s += vec.getFloat(i).toDouble * planes.getDouble(base + i)
        i += 1
      }
      if (s >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit ENGINE-PORTABLE md5 fold: the value of
    * `conv(substring(md5(s), 1, 15), 16, 10)` — i.e. the first 15 hex
    * chars of the digest parsed base-16 — computed in one digest call
    * with integer nibble folding (bytes 0..6 big-endian, then the high
    * nibble of byte 7), no hex STRING, no substring, no radix parse.
    * The expression chain allocates a 32-char hex string + a substring
    * + a string-radix conversion PER VALUE — measurable on exploded
    * per-token/per-feature streams (t24/t28's bucket hash, d3's
    * portable token hashes). Bit-identical by construction: md5 is
    * md5, and the fold IS the base-16 parse of the same 15 nibbles.
    */
  def md5Fold64(s: UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** Canonical text normalize (lowercase → non-[a-z0-9 ] → space →
    * collapse runs → trim) in ONE byte pass for ASCII input — the
    * expression form runs two full regex passes per row and measurably
    * dominates every text operator's map stage. Non-ASCII input takes
    * the exact slow path (the same toLowerCase + replaceAll chain the
    * expression evaluates), so results are identical to
    * `text.normalize` for EVERY input, not just ASCII.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[Byte](n)
    var outLen = 0
    var pendingSep = false
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b < 0) {
        // multi-byte UTF-8 → exact slow path, identical to the
        // lower/regexp/trim expression chain
        return UTF8String.fromString(
          s.toString.toLowerCase
            .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim)
      }
      val c = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && outLen > 0) { out(outLen) = ' '; outLen += 1 }
        pendingSep = false
        out(outLen) = c
        outLen += 1
      } else {
        pendingSep = true   // spaces and stripped chars both separate;
        // leading/trailing runs vanish (outLen guard + no flush at end)
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, outLen)
  }

  /** Marker word lists shared with [[graft.functions.text]] — the
    * token-vs-marker compares below must see exactly the words the
    * expression fallbacks use.
    */
  private val MarkerSets: Array[Array[Array[Byte]]] = Array(
    Array("the", "a", "and", "of", "to", "in", "is"),
    Array("el", "la", "de", "que", "y", "los"),
    Array("le", "la", "de", "et", "les", "des"),
    Array("der", "die", "und", "das", "ein", "zu")
  ).map(_.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
  private val MarkerU8: Array[Array[UTF8String]] = MarkerSets
    .map(_.map(b => UTF8String.fromBytes(b)))

  /** One-pass text statistics feeding the quality/language heuristics
    * (`text.qualityScore`, `Curation.qualityFilter`, `text.langId`):
    * (n_tokens, sum_tok_len, max_tok_len, hits_en, hits_es, hits_fr,
    * hits_de, n_punct, n_digit, n_chars). The expression forms
    * re-tokenize the text once per statistic (4 regex splits + 2
    * regexp_replace passes per qualityScore evaluation — the measured
    * map-stage wall of t2/t31/t43/c3); this kernel computes all ten in
    * ONE byte scan.
    *
    * Exact-replication contract (each field equals its expression twin
    * for EVERY input):
    *  - tokens = `split(trim(s), "\\s+", -1)` semantics over the
    *    SPACE-trimmed string (trim removes 0x20 only): a leading
    *    whitespace run yields one empty token, a trailing run yields a
    *    trailing empty token (Java split keeps trailing empties at
    *    limit -1), interior runs yield none; the all-space / empty /
    *    null cases yield ZERO tokens (the `text.tokens` guard).
    *    Whitespace = Java regex `\s` = {0x09,0x0A,0x0B,0x0C,0x0D,0x20}
    *    (ASCII-only, so the byte scan is UTF-8-safe).
    *  - token lengths count CODE POINTS (Spark `length`).
    *  - marker hits compare each token LOWERCASED against the marker
    *    lists (`tokens(lower(s))` — lowercasing never creates or
    *    removes whitespace, so token boundaries are unchanged). The
    *    case mapping follows `lower`'s own (UTF8String.toLowerCase):
    *    tokens of an all-ASCII STRING lowercase bytewise; when any byte
    *    of the string is non-ASCII, every token — ASCII ones included —
    *    lowercases as its slow path does, with the default-locale
    *    `String.toLowerCase`. So exotic case foldings (U+212A KELVIN
    *    SIGN → 'k') and locale ones (Turkish 'I' → dotless 'ı') agree
    *    with the expression form.
    *  - n_punct / n_digit count `[.,;:!?]` / `[0-9]` code points over
    *    the RAW (untrimmed) string — the `matchCount` length-difference
    *    arithmetic; n_chars = `length(s)` of the raw string.
    */
  def textStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val n = b.length
    var nChars = 0
    var nPunct = 0L
    var nDigit = 0L
    var ascii = true
    var i = 0
    while (i < n) {
      val c = b(i) & 0xff
      if (c >= 0x80) ascii = false
      if ((c & 0xc0) != 0x80) nChars += 1
      if (c >= '0' && c <= '9') nDigit += 1
      else if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
        nPunct += 1
      i += 1
    }
    var lo = 0
    var hi = n - 1
    while (lo <= hi && b(lo) == ' ') lo += 1
    while (hi >= lo && b(hi) == ' ') hi -= 1
    var nTok = 0L
    var sumLen = 0L
    var maxLen = 0
    val hits = new Array[Long](4)
    @inline def ws(c: Byte): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'
    def emit(start: Int, end: Int): Unit = {
      nTok += 1
      var len = 0
      var j = start
      while (j < end) {
        if ((b(j) & 0xc0) != 0x80) len += 1
        j += 1
      }
      sumLen += len
      if (len > maxLen) maxLen = len
      val byteLen = end - start
      if (ascii && byteLen >= 1 && byteLen <= 3) {
        // lowercase bytewise and compare against the (≤3-byte) markers
        val t0 = { val c = b(start); if (c >= 'A' && c <= 'Z') (c + 32).toByte else c }
        val t1 = if (byteLen > 1) { val c = b(start + 1); if (c >= 'A' && c <= 'Z') (c + 32).toByte else c } else 0
        val t2 = if (byteLen > 2) { val c = b(start + 2); if (c >= 'A' && c <= 'Z') (c + 32).toByte else c } else 0
        var set = 0
        while (set < 4) {
          val ms = MarkerSets(set)
          var m = 0
          var found = false
          while (!found && m < ms.length) {
            val mk = ms(m)
            found = mk.length == byteLen && mk(0) == t0 &&
              (byteLen < 2 || mk(1) == t1) && (byteLen < 3 || mk(2) == t2)
            m += 1
          }
          if (found) hits(set) += 1
          set += 1
        }
      } else if (!ascii) {
        // exact slow path: lower()'s toLowerCaseSlow, equality on UTF8String
        val low = UTF8String.fromString(
          UTF8String.fromBytes(b, start, byteLen).toString.toLowerCase)
        var set = 0
        while (set < 4) {
          val ms = MarkerU8(set)
          var m = 0
          var found = false
          while (!found && m < ms.length) { found = ms(m).equals(low); m += 1 }
          if (found) hits(set) += 1
          set += 1
        }
      }
    }
    if (lo <= hi) {
      var p = lo
      var tokStart = lo
      while (p <= hi) {
        if (ws(b(p))) {
          emit(tokStart, p)
          p += 1
          while (p <= hi && ws(b(p))) p += 1
          tokStart = p
        } else p += 1
      }
      emit(tokStart, hi + 1)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, sumLen, maxLen,
        hits(0), hits(1), hits(2), hits(3), nPunct, nDigit, nChars))
  }

  /** Winnowing fingerprint selection (the MOSS scheme) in ONE compiled
    * O(len) pass: base-31 mod-1e9+7 rolling k-gram hashes, then a
    * monotonic-deque sliding-window minimum with rightmost tie-break.
    * Each selected (pos, fp) is packed as `pos·P + fp` (exact: fp < P
    * and 1-based pos ≤ 2^33 stays within a long) — callers decode with
    * `enc div P` / `enc % P`. Output order is strictly increasing pos,
    * consecutive-window re-selections deduplicated.
    *
    * Equals the per-window HOF evaluation (min of each w-slice,
    * rightmost occurrence) element-for-element: the `>=` pop makes the
    * deque front the RIGHTMOST occurrence of the window minimum, and a
    * doc with 0 < hashes < w emits its single short window at the end.
    * Input contract: an already-normalized (ASCII) column; non-ASCII
    * falls back to per-code-point hashing, matching `ascii(split(s,''))`
    * semantics.
    */
  def winnow(s: UTF8String, k: Int, w: Int): UnsafeArrayData = {
    val P = 1000000007L
    // code units: normalized text is ASCII, where bytes == codepoints;
    // exotic input takes the codePoints path the HOF fallback computes
    val codes: Array[Int] = {
      val nb = s.numBytes()
      var ascii = true
      var i = 0
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val fast = new Array[Int](nb)
      while (ascii && i < nb) {
        val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
        if (b < 0) ascii = false else { fast(i) = b.toInt; i += 1 }
      }
      if (ascii) fast else s.toString.codePoints().toArray
    }
    val n = codes.length
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - k + 1
    val gh = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 31L + codes(i)) % P; i += 1 }
    gh(0) = h
    var bk1 = 1L
    i = 0
    while (i < k - 1) { bk1 = bk1 * 31L % P; i += 1 }
    i = 1
    while (i < m) {
      h = ((h - codes(i - 1) * bk1 % P + P) % P * 31L + codes(i + k - 1)) % P
      gh(i) = h
      i += 1
    }
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    val out = new Array[Long](math.max(m - w + 1, 1))
    var outN = 0
    var lastPos = -1
    var j = 0
    while (j < m) {
      while (tail > head && gh(deque(tail - 1)) >= gh(j)) tail -= 1
      deque(tail) = j
      tail += 1
      while (deque(head) < j - w + 1) head += 1
      if (j >= w - 1 || j == m - 1) {
        val sel = deque(head)
        if (sel != lastPos) {
          out(outN) = (sel + 1).toLong * P + gh(sel)
          outN += 1
          lastPos = sel
        }
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, outN))
  }

  /** First-seen-order distinct of `count` generated longs via open
    * addressing (no boxing; Long.MinValue is the empty-slot sentinel,
    * remapped if it ever occurs as a value).
    */
  private def distinctOf(count: Int, gen: Int => Long): UnsafeArrayData = {
    // long math: count*2 overflows Int for ~1GB documents, which would
    // undersize the table and turn the probe loop into a hang
    require(count <= (1 << 29),
      s"$count elements exceed the shingle/gram limit (1<<29) for one document")
    var cap = (java.lang.Long.highestOneBit(math.max(4L, count.toLong * 2L) - 1L) << 1).toInt
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, Long.MinValue)
    val out = new Array[Long](count)
    var outN = 0
    var i = 0
    while (i < count) {
      val raw = gen(i)
      val v = if (raw == Long.MinValue) Long.MaxValue else raw
      var slot = (java.lang.Long.hashCode(v) & (cap - 1))
      var seen = false
      while (!seen && table(slot) != Long.MinValue) {
        if (table(slot) == v) seen = true else slot = (slot + 1) & (cap - 1)
      }
      if (!seen) {
        table(slot) = v
        out(outN) = v
        outN += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, outN))
  }
}

/** `graft_sorted_intersect_size(array<bigint>, array<bigint>) -> int`
  *
  * Intersection cardinality of two SORTED long arrays by two-pointer
  * merge — O(n+m), zero allocation. `array_intersect` builds a hash
  * set per invocation, which dominates pairwise verify joins where the
  * same arrays are intersected against many partners.
  */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_size"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.sortedIntersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NativeKernels.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSizeExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_vector_dot(array<float>, array<float>) -> double` */
case class VectorDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vector_dot"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.dotFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDotExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_shingle_hashes(string, k) -> array<bigint>` (k foldable) */
case class ShingleHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(s: Any, k: Any): Any =
    NativeKernels.shingleHashes(s.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k) =>
      s"${ev.value} = graft.functions.NativeKernels.shingleHashes($s, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashesExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_ngram_hashes(array<string>, n) -> array<bigint>` (n foldable) */
case class NgramHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType), IntegerType)

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    NativeKernels.ngramHashes(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, n) =>
      s"${ev.value} = graft.functions.NativeKernels.ngramHashes($toks, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashesExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_normalize(string) -> string` */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_normalize"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(s: Any): Any =
    NativeKernels.normalizeText(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.NativeKernels.normalizeText($s)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** `graft_text_stats(string) -> struct<n_tokens,sum_tok_len,
  * max_tok_len,hits_en,hits_es,hits_fr,hits_de,n_punct,n_digit,
  * n_chars>` — see [[NativeKernels.textStats]].
  */
case class TextStatsExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = TextStatsExpr.Schema
  override def prettyName: String = "graft_text_stats"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(s: Any): Any =
    NativeKernels.textStats(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.NativeKernels.textStats($s)")

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStatsExpr {
  import org.apache.spark.sql.types.{StructField, StructType}
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("max_tok_len", IntegerType, nullable = false),
    StructField("hits_en", LongType, nullable = false),
    StructField("hits_es", LongType, nullable = false),
    StructField("hits_fr", LongType, nullable = false),
    StructField("hits_de", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))
}

/** `graft_simhash64(array<bigint>) -> bigint` */
case class Simhash64Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override protected def nullSafeEval(hs: Any): Any =
    NativeKernels.simhash64(hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, hs => s"graft.functions.NativeKernels.simhash64($hs)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64Expr =
    copy(child = newChild)
}

/** `graft_minhash(array<bigint>, numPerm) -> array<bigint>` */
case class MinhashExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)

  override protected def nullSafeEval(hs: Any, p: Any): Any =
    NativeKernels.minhash(hs.asInstanceOf[ArrayData], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, p) =>
      s"${ev.value} = graft.functions.NativeKernels.minhash($hs, $p);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_winnow(string, k, w) -> array<bigint>` — packed winnowing
  * fingerprints `pos·1000000007 + fp`, strictly increasing pos.
  */
case class WinnowExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)

  override protected def nullSafeEval(s: Any, k: Any, w: Any): Any =
    NativeKernels.winnow(s.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k, w) =>
      s"${ev.value} = graft.functions.NativeKernels.winnow($s, $k, $w);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowExpr =
    copy(first = f, second = s, third = t)
}

/** `graft_pq_argmin(array<float>, array<double>, sub) -> int` */
case class PqArgminExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_pq_argmin"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType), IntegerType)

  override protected def nullSafeEval(x: Any, cb: Any, sub: Any): Any =
    NativeKernels.pqArgmin(x.asInstanceOf[ArrayData],
      cb.asInstanceOf[ArrayData], sub.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cb, s) =>
      s"${ev.value} = graft.functions.NativeKernels.pqArgmin($x, $cb, $s);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqArgminExpr =
    copy(first = f, second = s, third = t)
}

/** `graft_cos_topc(array<float>, array<double>, dim, n) ->
  * array<struct<cos: double, idx: int>>` — top-n centroids by cosine
  */
case class CosTopCExpr(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cos", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("idx", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_cos_topc"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType), IntegerType, IntegerType)

  override protected def nullSafeEval(x: Any, cb: Any, dim: Any, n: Any): Any =
    NativeKernels.cosTopC(x.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      dim.asInstanceOf[Int], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cb, d, n) =>
      s"${ev.value} = graft.functions.NativeKernels.cosTopC($x, $cb, $d, $n);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): CosTopCExpr =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `graft_md5_fold64(string) -> bigint` — the portable 60-bit md5 fold */
case class Md5Fold64Expr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_fold64"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(s: Any): Any =
    NativeKernels.md5Fold64(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.NativeKernels.md5Fold64($s)")

  override protected def withNewChildInternal(newChild: Expression): Md5Fold64Expr =
    copy(child = newChild)
}

/** `graft_pq_adc(array<float>, array<double>, sub) -> array<bigint>` */
case class PqAdcTableExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_adc"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType), IntegerType)

  override protected def nullSafeEval(x: Any, cb: Any, sub: Any): Any =
    NativeKernels.pqAdcTable(x.asInstanceOf[ArrayData],
      cb.asInstanceOf[ArrayData], sub.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cb, s) =>
      s"${ev.value} = graft.functions.NativeKernels.pqAdcTable($x, $cb, $s);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqAdcTableExpr =
    copy(first = f, second = s, third = t)
}

/** `graft_hyperplane_sig(array<float>, array<double>, dim) -> bigint` */
case class HyperplaneSigExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType), IntegerType)

  override protected def nullSafeEval(vec: Any, planes: Any, dim: Any): Any =
    NativeKernels.hyperplaneSig(vec.asInstanceOf[ArrayData],
      planes.asInstanceOf[ArrayData], dim.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, pl, d) =>
      s"${ev.value} = graft.functions.NativeKernels.hyperplaneSig($v, $pl, $d);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HyperplaneSigExpr =
    copy(first = f, second = s, third = t)
}
