package graft.functions

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The native document-sketch kernels, called from SQL and the DataFrame
  * API through their [[Natives]] entries.
  *
  * The declarative higher-order-function formulations (the test references
  * graft.operators.DedupReference and TextAnalysisReference in src/test)
  * are correct but evaluate on the interpreted expression path (~ms per
  * document); these kernels compute the identical values in tight eval
  * loops with zero-copy hashing over the UTF8String bytes (XXH64 with
  * Spark's seed 42, so outputs match the built-in xxhash64 construction
  * bit-for-bit — asserted in SketchExpressionsSpec).
  */
object SketchKernel {
  private val Seed = 42L

  /** token boundaries of a single-space split (Spark split(text,' ') with
    * limit -1 semantics: empties kept, incl. leading/trailing). */
  @inline private def hashRange(s: UTF8String, start: Int, len: Int): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + start, len, Seed)

  /** SimHash64 of the whitespace tokens: identical to the declarative
    * simhash (xxhash64 per token, per-bit +/-1 votes, bit 63 via 1L<<b). */
  def simhash(s: UTF8String): Long = {
    val n = s.numBytes
    val votes = new Array[Int](64)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      val atSep = i == n || s.getByte(i) == ' '
      if (atSep) {
        val h = hashRange(s, tokStart, i - tokStart)
        var b = 0
        while (b < 64) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out += (1L << b)
      b += 1
    }
    out
  }

  private[functions] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Oracle-portable 60-bit md5 SimHash: per-token hash = the top 60 bits
    * of md5(token) (== `conv(substring(md5(t),1,15),16,10)` — 15 hex chars,
    * big-endian, positive in a signed long), per-bit +/-1 votes over bits
    * 0..59. Bit-identical to DedupReference.simhashMd5Declarative
    * (SketchExpressionsSpec) and to the DuckDB
    * `CAST('0x' || substring(md5(t),1,15) AS BIGINT)` oracle arithmetic. */
  def simhashMd5(s: UTF8String): Long = {
    val bytes = s.getBytes
    val md = md5Local.get()
    val n = bytes.length
    val votes = new Array[Int](60)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, tokStart, i - tokStart)
        val d = md.digest()
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        val h = v >>> 4 // first 15 hex chars = top 60 bits
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out += (1L << b)
      b += 1
    }
    out
  }

  /** Token start offsets of the single-space split: starts(j) is token
    * j's first byte, with sentinel starts(nTokens) = numBytes + 1 so token
    * j ends at starts(j+1) - 1. THE one copy of the boundary scan shared
    * by minhashSignature / shingleHashes / tokenChunksData — tokenization
    * semantics must never diverge between the native expressions. */
  @inline private[functions] def tokenStarts(s: UTF8String): Array[Int] = {
    val n = s.numBytes
    var nTokens = 1
    var i = 0
    while (i < n) { if (s.getByte(i) == ' ') nTokens += 1; i += 1 }
    val starts = new Array[Int](nTokens + 1)
    var t = 1
    i = 0
    while (i < n) {
      if (s.getByte(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTokens) = n + 1
    starts
  }

  /** MinHash signature over word n-gram shingles. A shingle of n consecutive
    * tokens joined by single spaces is exactly the source byte range from
    * token i's start to token (i+n-1)'s end (split boundaries are single
    * spaces), so shingles hash zero-copy. Matches the declarative
    * DedupReference.minhashSignatureDeclarative(wordShingles(text, n), k)
    * bit-for-bit:
    * base hashes h1/h2 = xxhash64(shingle, 1|2) = hashLong(seed',
    * hashUTF8-bytes); sig[j] = h1 XOR (h2 >>> j | h2 << (64-j)), j=1..k. */
  def minhashSignature(s: UTF8String, shingleWords: Int, k: Int): ArrayData = {
    val n = s.numBytes
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1

    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)

    @inline def mix(start: Int, end: Int): Unit = {
      val base = hashRange(s, start, end - start)
      // xxhash64(shingle, lit(j)): the int literal folds in via hashInt
      val h1 = XXH64.hashInt(1, base)
      val h2 = XXH64.hashInt(2, base)
      var j = 1
      while (j <= k) {
        val v = h1 ^ ((h2 >>> j) | (h2 << (64 - j)))
        if (v < sig(j - 1)) sig(j - 1) = v
        j += 1
      }
    }

    if (nTokens >= shingleWords) {
      var a = 0
      while (a + shingleWords <= nTokens) {
        mix(starts(a), starts(a + shingleWords) - 1)
        a += 1
      }
    } else {
      mix(0, n) // fewer tokens than the shingle width: whole text
    }
    new GenericArrayData(sig)
  }

  /** Distinct 64-bit shingle hashes in first-occurrence order —
    * bit-identical to array_distinct(transform(wordShingles(text, n),
    * xxhash64)): same zero-copy byte-range hashing as minhashSignature
    * (a shingle of n tokens joined by single spaces IS the source range). */
  def shingleHashes(s: UTF8String, shingleWords: Int): ArrayData = {
    val n = s.numBytes
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1

    if (nTokens < shingleWords) return new GenericArrayData(Array(hashRange(s, 0, n)))

    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](nTokens - shingleWords + 1)
    var m = 0
    var a = 0
    while (a + shingleWords <= nTokens) {
      val h = hashRange(s, starts(a), starts(a + shingleWords) - 1 - starts(a))
      if (seen.add(h)) { out(m) = h; m += 1 }
      a += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  /** MinHash signature computed FROM a distinct shingle-hash array —
    * bit-identical to [[minhashSignature]] over the same text, because
    * the signature's per-shingle h1/h2 derive from exactly the base hash
    * [[shingleHashes]] stores, and a min over occurrences equals the min
    * over distinct values (idempotence). This lets the pair miners
    * materialize ONLY the (id, hashes) frame — one checkpoint job, one
    * tokenize pass — and re-derive band signatures map-side from the
    * stored hashes where needed (r6 optimization; parity asserted in
    * SketchExpressionsSpec). */
  def minhashSigFromHashes(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = hashes.getLong(i)
      val h1 = XXH64.hashInt(1, base)
      val h2 = XXH64.hashInt(2, base)
      var j = 1
      while (j <= k) {
        val v = h1 ^ ((h2 >>> j) | (h2 << (64 - j)))
        if (v < sig(j - 1)) sig(j - 1) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** `token_chunks`: overlapping token-window chunks over the whitespace
    * tokens (context-window preprocessing), as
    * array<struct<chunk_idx:int, chunk:string>>. Chunk i covers tokens
    * [i*stride, i*stride + size); starts advance by `stride` while they stay
    * inside the token stream, so every token lands in at least one chunk
    * and consecutive chunks overlap by size - stride tokens. One pass to
    * find token boundaries, one byte-range copy per chunk — unlike the
    * declarative transform(sequence, i => slice(split(text), ...))
    * formulation, which re-evaluates the split INSIDE the lambda for every
    * chunk (interpreted HOFs have no CSE), i.e. O(len^2/stride) per
    * document. Bit-identical to the declarative reference in
    * `TextAnalysisReference` (SketchExpressionsSpec). */
  def tokenChunksData(s: UTF8String, size: Int, stride: Int): ArrayData = {
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1
    val bytes = s.getBytes // materialized once; chunk slices copy from it

    val nChunks = (nTokens - 1) / stride + 1
    val rows = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val from = starts(c * stride)
      val until = starts(math.min(c * stride + size, nTokens)) - 1
      rows(c) = new GenericInternalRow(Array[Any](c, UTF8String.fromBytes(bytes, from, until - from)))
      c += 1
    }
    new GenericArrayData(rows)
  }

  /** Per-document term frequencies of the single-space split in ONE pass:
    * array<struct<token:string, tf:long>> in first-occurrence order, empty
    * tokens (consecutive spaces) excluded. The map-only half of TF-IDF:
    * each document's counts collapse locally, so token strings never have
    * to cross an exchange just to be counted per document — equivalent to
    * the declarative explode(split) + groupBy(id, token) but without that
    * plan's (id, token)-keyed shuffle. */
  def tokenTfData(s: UTF8String): ArrayData = {
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1
    val bytes = s.getBytes
    // insertion order = first occurrence: deterministic from the text alone
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var j = 0
    while (j < nTokens) {
      val from = starts(j)
      val until = starts(j + 1) - 1
      if (until > from) {
        val tok = UTF8String.fromBytes(bytes, from, until - from)
        val prev = counts.get(tok)
        if (prev == null) counts.put(tok, Array(1L)) else prev(0) += 1L
      }
      j += 1
    }
    val rows = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      rows(i) = new GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Within-document duplicate-LINE removal in one pass: split on '\n',
    * keep the FIRST occurrence of each exact line (empty lines dedup
    * too), re-join with '\n' — the Gopher-style repetition REMOVAL
    * counterpart to WebCuration.repetitionSignals' detection. Map-only:
    * a repetition-heavy document shrinks before it ever costs a byte of
    * shuffle. First-occurrence order makes the output deterministic from
    * the text alone. */
  def dedupLines(s: UTF8String): UTF8String = {
    val n = s.numBytes
    val bytes = s.getBytes
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == '\n') {
        seen.add(UTF8String.fromBytes(bytes, start, i - start))
        start = i + 1
      }
      i += 1
    }
    val it = seen.iterator()
    var total = 0
    while (it.hasNext) total += it.next().numBytes + 1
    val out = new Array[Byte](math.max(total - 1, 0))
    val it2 = seen.iterator()
    var pos = 0
    var first = true
    while (it2.hasNext) {
      val line = it2.next()
      // a FIRST-element flag, not pos > 0: a kept empty first line writes
      // no bytes, and the pos heuristic would then skip the separator
      // before line two and leave a stray trailing byte (found by the
      // KernelPropertySpec seeded sweep)
      if (!first) { out(pos) = '\n'; pos += 1 }
      first = false
      val lb = line.getBytes
      System.arraycopy(lb, 0, out, pos, lb.length)
      pos += lb.length
    }
    UTF8String.fromBytes(out)
  }

  /** Within-document repeated-SPAN removal in one pass — the n-gram
    * generalization of [[dedupLines]] (lines catch verbatim repeated
    * lines; spans catch the looping-generator / template-stutter case
    * where a phrase repeats mid-line). Semantics: over the single-space
    * token split, every w-token shingle occurrence whose EXACT shingle
    * already occurred at a smaller start index is a repeat; the union of
    * repeat spans' token positions is struck; surviving tokens re-join
    * with single spaces. Exact-bytes shingle keys (no hash collisions),
    * deterministic from the text alone, and the FIRST occurrence always
    * survives untouched at span start 0..w-1 — token 0 is provably never
    * struck (a repeat starts at index >= 1), so a non-null input always
    * keeps at least one token. Docs with fewer than w tokens have no
    * shingles and pass through byte-identical. Map-only: repetition-heavy
    * documents shrink before they cost a byte of shuffle. */
  def dedupSpans(s: UTF8String, w: Int): UTF8String = {
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1
    if (nTokens < w) return s
    val bytes = s.getBytes
    val covered = new Array[Boolean](nTokens)
    val first = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i + w <= nTokens) {
      val from = starts(i)
      val until = starts(i + w) - 1
      val sh = UTF8String.fromBytes(bytes, from, until - from)
      if (first.putIfAbsent(sh, i) != null) {
        var k = i
        while (k < i + w) { covered(k) = true; k += 1 }
      }
      i += 1
    }
    // never null here: a repeat starts at index >= 1, so token 0 survives
    reassembleUncovered(s, bytes, starts, covered)._2
  }

  /** Shared coverage-reassembly tail of [[dedupSpans]] / [[exciseSpans]]:
    * (kept count, surviving tokens joined by single spaces). The string is
    * `s` itself when nothing was covered and null when everything was. */
  private def reassembleUncovered(s: UTF8String, bytes: Array[Byte],
      starts: Array[Int], covered: Array[Boolean]): (Int, UTF8String) = {
    val nTokens = starts.length - 1
    var kept = 0
    var total = 0
    var j = 0
    while (j < nTokens) {
      if (!covered(j)) { kept += 1; total += starts(j + 1) - 1 - starts(j) }
      j += 1
    }
    if (kept == 0) return (0, null)
    if (kept == nTokens) return (kept, s)
    val out = new Array[Byte](total + kept - 1)
    var pos = 0
    var firstTok = true
    j = 0
    while (j < nTokens) {
      if (!covered(j)) {
        if (!firstTok) { out(pos) = ' '; pos += 1 }
        firstTok = false
        val len = starts(j + 1) - 1 - starts(j)
        System.arraycopy(bytes, starts(j), out, pos, len)
        pos += len
      }
      j += 1
    }
    (kept, UTF8String.fromBytes(out))
  }

  /** Span EXCISION against externally-matched shingle start positions —
    * the map-only reassembly half of span-level decontamination: `hits`
    * holds token start indices of w-token spans to strike (the join
    * against the benchmark shingle set produced them); the union of their
    * token positions is removed and survivors re-join with single spaces.
    * Returns (n_tokens, n_kept, clean): clean is NULL when every token
    * was struck (unlike [[dedupSpans]], a benchmark can cover position 0),
    * which keeps the all-struck case distinguishable from a surviving
    * lone empty token (both would otherwise render as ""). Out-of-range
    * hit indices clamp harmlessly; null hit slots strike nothing (a null
    * position is no position — unboxing it to 0 would silently strike the
    * document head). */
  def exciseSpans(s: UTF8String, hits: ArrayData, w: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val starts = tokenStarts(s)
    val nTokens = starts.length - 1
    val bytes = s.getBytes
    val covered = new Array[Boolean](nTokens)
    var x = 0
    while (x < hits.numElements()) {
      if (!hits.isNullAt(x)) {
        val h = hits.getInt(x)
        var k = math.max(h, 0)
        val end = math.min(h.toLong + w, nTokens.toLong).toInt
        while (k < end) { covered(k) = true; k += 1 }
      }
      x += 1
    }
    val (kept, clean) = reassembleUncovered(s, bytes, starts, covered)
    new GenericInternalRow(
      Array[Any](nTokens.toLong, kept.toLong, clean))
  }

  /** The composite [0,1] quality score in ONE byte pass — bit-identical to
    * TextAnalysisReference.qualityScoreDeclarative (the q15/q38/q50 oracle formula):
    * every intermediate double op replays the declarative expression's
    * exact IEEE order (ratios as double divisions, min-with-1 clamps, the
    * 0.4/0.3/0.3 blend). Counting rules replicated exactly:
    *  - length(text)        = codepoint count (Spark length = numChars);
    *  - stopword hits       = whitespace tokens equal (ASCII
    *    case-insensitively) to one of the 7 stopwords — safe vs lower():
    *    a token containing non-ASCII bytes can never equal an ASCII
    *    stopword under either folding;
    *  - non-alnum count     = codepoints outside [a-zA-Z0-9 ] (what
    *    length(regexp_replace(text, "[a-zA-Z0-9 ]", "")) measures). */
  def qualityScore(s: UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    var codepoints = 0
    var alnumSpace = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) { // not a UTF-8 continuation byte
        codepoints += 1
        if (b == ' ' || (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9'))
          alnumSpace += 1
      }
      i += 1
    }
    // whitespace tokens + stopword hits (ASCII case-insensitive compare)
    val stops = QualityStopwords
    var nTokens = 0
    var stopHits = 0L
    var tokStart = 0
    i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        nTokens += 1
        val len = i - tokStart
        var sIdx = 0
        var matched = false
        while (!matched && sIdx < stops.length) {
          val w = stops(sIdx)
          if (w.length == len) {
            var j = 0
            var ok = true
            while (ok && j < len) {
              val c = bytes(tokStart + j)
              val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
              if (lc != w(j)) ok = false
              j += 1
            }
            matched = ok
          }
          sIdx += 1
        }
        if (matched) stopHits += 1L
        tokStart = i + 1
      }
      i += 1
    }
    val lenScore = math.min(codepoints.toDouble / 500.0d, 1.0d)
    val stopRatio = stopHits.toDouble / math.max(nTokens, 1).toDouble
    val nonAlnumRatio = (codepoints - alnumSpace).toDouble / math.max(codepoints, 1).toDouble
    (lenScore * 0.4d) +
      (math.min(stopRatio * 5.0d, 1.0d) * 0.3d) +
      ((1.0d - math.min(nonAlnumRatio * 5.0d, 1.0d)) * 0.3d)
  }

  private val QualityStopwords: Array[Array[Byte]] =
    Array("the", "and", "of", "a", "to", "in", "is").map(_.getBytes("US-ASCII"))

  /** BPE-ish subword estimate: sum over whitespace tokens of
    * ceil(codepoints/4) — bit-identical to the declarative
    * aggregate(transform(split, ceil(length/4.0)), ...) (length() counts
    * codepoints; ceil of cp/4.0 equals the integer (cp+3)/4 exactly). */
  def bpeEstimate(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var acc = 0L
    var cp = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        acc += (cp + 3) / 4
        cp = 0
      } else if ((bytes(i) & 0xc0) != 0x80) cp += 1
      i += 1
    }
    acc
  }

  private val HexDigits = "0123456789abcdef".getBytes

  private[functions] def toHex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    out
  }

  /** Oracle-portable rolling document fingerprint: the md5 hash chain over
    * whitespace tokens in LOWERCASE-HEX-STRING space —
    * acc_0 = "", acc_i = md5hex(acc_{i-1} ++ md5hex(token_i)) — i.e.
    * bit-identical to the declarative
    * `aggregate(transform(split(text,' '), md5), lit(""),
    * (acc, h) => md5(concat(acc, h)))` and to DuckDB's
    * `list_reduce(list_prepend('', list_transform(tokens, md5)),
    * (a, b) -> md5(a || b))`. Chaining through the hex STRING (not raw
    * digest bytes) is what makes the construction expressible on every
    * engine. Production code wanting raw speed uses `fingerprint64`. */
  def fingerprintMd5(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val md = md5Local.get()
    val n = bytes.length
    var acc = Array.emptyByteArray // hex-string bytes of the running hash
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, tokStart, i - tokStart)
        val tokenHex = toHex(md.digest())
        md.reset()
        md.update(acc)
        md.update(tokenHex)
        acc = toHex(md.digest())
        tokStart = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(acc)
  }

  /** Exact integer dot product of two int arrays (the quantized-embedding
    * scoring kernel): sum over min-length of a_i * b_i in LONG — no
    * overflow at any realistic dimension (|a_i|,|b_i| <= 2^31, products
    * accumulate in 64 bits over thousands of dims), no floating point,
    * so the value is bit-identical across engines and to a double fold
    * over the same (exactly representable) integers. Null slots
    * contribute nothing (isNullAt-guarded — ArrayData.getInt on a null
    * slot silently unboxes 0, so the guard is about intent, not value:
    * a null element must not LOOK like a legitimate zero component). */
  def dotInt(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        s += a.getInt(i).toLong * b.getInt(i).toLong
      i += 1
    }
    s
  }

  /** Exact set-jaccard of two long arrays with DISTINCT-COUNT semantics —
    * value-identical to size(array_intersect(a,b)) / size(array_union(a,b))
    * for any null-free long arrays (duplicates collapse), without
    * materializing either intermediate array: sort both inputs, one linear
    * merge counting distinct intersection and union, one IEEE double
    * divide (the same op the declarative form ends in, so bit-identical).
    * Two empty inputs define jaccard 1.0 (identical empty sets; the
    * declarative form would divide 0/0 — never reached on shingle arrays,
    * which are always non-empty). */
  def jaccardSim(a: ArrayData, b: ArrayData): Double = {
    // null elements must match array_intersect/array_union: NULL is one
    // distinct set element (toLongArray would NPE on GenericArrayData or
    // silently read 0 from UnsafeArrayData)
    def extract(ad: ArrayData): (Array[Long], Boolean) = {
      val n = ad.numElements()
      val out = new Array[Long](n)
      var m = 0
      var hasNull = false
      var i = 0
      while (i < n) {
        if (ad.isNullAt(i)) hasNull = true
        else { out(m) = ad.getLong(i); m += 1 }
        i += 1
      }
      (if (m == n) out else java.util.Arrays.copyOf(out, m), hasNull)
    }
    val (x, nullA) = extract(a)
    val (y, nullB) = extract(b)
    java.util.Arrays.sort(x)
    java.util.Arrays.sort(y)
    var i = 0
    var j = 0
    var inter = 0L
    var union = 0L
    while (i < x.length && j < y.length) {
      val xv = x(i)
      val yv = y(j)
      union += 1
      if (xv == yv) {
        inter += 1
        while (i < x.length && x(i) == xv) i += 1
        while (j < y.length && y(j) == yv) j += 1
      } else if (xv < yv) {
        while (i < x.length && x(i) == xv) i += 1
      } else {
        while (j < y.length && y(j) == yv) j += 1
      }
    }
    while (i < x.length) { val xv = x(i); union += 1; while (i < x.length && x(i) == xv) i += 1 }
    while (j < y.length) { val yv = y(j); union += 1; while (j < y.length && y(j) == yv) j += 1 }
    if (nullA && nullB) { inter += 1; union += 1 }
    else if (nullA || nullB) union += 1
    if (union == 0L) 1.0d else inter.toDouble / union.toDouble
  }

  /** 64-bit rolling document fingerprint: the ordered hash-chain fold of
    * token hashes, bit-identical to the declarative
    * aggregate(transform(split(text,' '), xxhash64), FNV_OFFSET,
    * (acc, h) => xxhash64(acc, h)) — the two-arg xxhash64 folds its long
    * children as hashLong(child, runningHash) starting from seed 42. */
  def fingerprint64(s: UTF8String): Long = {
    val n = s.numBytes
    var acc = 1469598103934665603L // FNV-1a 64 offset basis, as a tag
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        val h = hashRange(s, tokStart, i - tokStart)
        acc = XXH64.hashLong(h, XXH64.hashLong(acc, Seed))
        tokStart = i + 1
      }
      i += 1
    }
    acc
  }
}
