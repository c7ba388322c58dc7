package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Per-row scalar kernels called from both interpreted `eval` and the Java
  * emitted by whole-stage codegen (`NativeExpressions`).
  *
  * TOP-LEVEL on purpose: Janino compiles generated code against *binary*
  * class names. A nested Scala object like `NativeExpressions.KernelCall`
  * has binary name `graft.functions.NativeExpressions$KernelCall$`, and the
  * dotted source form `NativeExpressions.KernelCall$` does not resolve —
  * codegen would silently fall back to full-interpreted execution for the
  * whole stage. A top-level object's module class
  * (`graft.functions.NativeKernels$`) is directly addressable from Java.
  */
object NativeKernels {

  private val P = 1000000007L

  /** Rolling hash `acc := (acc*31 + codePoint) mod 1e9+7`. CODE POINTS,
    * not UTF-16 units: DuckDB's `unicode()` (the oracle's character
    * value) and Spark's own string builtins are code-point-based, so a
    * surrogate-pair character (emoji, rare CJK) must contribute ONE term
    * to the fold on both engines. */
  def polyHash(u: UTF8String): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  // Java regex \s = [ \t\n\x0B\f\r]; mirrored exactly here. NOTE: DuckDB's
  // RE2 \s does NOT include \x0B (vertical tab) — oracle parity for
  // tokenization assumes the corpus contains no \x0B (see the oracle
  // contract note in TextFunctions).
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def tokenHashesArray(s: String): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && !isWs(s.charAt(i))) {
          // code points (see polyHash) — ws chars are always BMP, so the
          // boundary scan can stay per-char
          val cp = s.codePointAt(i)
          acc = (acc * 31L + cp) % P
          i += Character.charCount(cp)
        }
        out += acc
      }
    }
    out.toArray
  }

  /** Whitespace-run tokenization + per-token [[polyHash]], one pass. */
  def tokenHashes(u: UTF8String): ArrayData =
    ArrayData.toArrayData(tokenHashesArray(u.toString))

  /** [[tokenHashesArray]] in the FULL 64-bit space (wrapping golden-ratio
    * accumulate, no mod): the token-level floor for [[windowHashes64]].
    * Feeding the 64-bit window combine with mod-P token hashes would keep
    * the collision floor at 31 bits — two tokens colliding mod P collide
    * every window they appear in, regardless of the window hash's width. */
  private def tokenHashes64Array(s: String): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && !isWs(s.charAt(i))) {
          val cp = s.codePointAt(i)
          acc = acc * 0x9E3779B97F4A7C15L + cp
          i += Character.charCount(cp)
        }
        out += acc
      }
    }
    out.toArray
  }

  /** Sorted-distinct hashes of the word n-gram shingles of `text` — the
    * full per-document signature front-end (tokenize → per-token hash →
    * n-window base-31 combine → distinct → ascending sort) fused into one
    * pass. Bit-identical to the HOF chain
    * `array_sort(array_distinct(transform(windows, base31-combine)))` over
    * [[tokenHashes]].
    */
  def shingleHashes(u: UTF8String, n: Int): ArrayData = {
    val th = tokenHashesArray(u.toString)
    if (th.length < n) return ArrayData.toArrayData(Array.empty[Long])
    val m = th.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) {
        acc = (acc * 31L + th(i + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted run
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(if (w == m) out else java.util.Arrays.copyOf(out, w))
  }

  /** POSITIONAL [[shingleHashes]] (mod-P space): no distinct, no sort —
    * the array index IS the 0-based start-token position, so `posexplode`
    * recovers the (pos, sh) grain directly. Bit-identical to the HOF chain
    * `transform(range, i -> aggregate(slice(th, i, n), 0, (a,h) ->
    * pmod(a*31+h, P)))` over [[tokenHashes]] (all operands non-negative,
    * so pmod == %). Empty when the doc has < n tokens — the mod-P sibling
    * of [[positionalShingleHashes64]]. */
  def positionalShingleHashes(u: UTF8String, n: Int): ArrayData = {
    val th = tokenHashesArray(u.toString)
    if (th.length < n) return ArrayData.toArrayData(Array.empty[Long])
    val m = th.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) {
        acc = (acc * 31L + th(i + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** splitmix64 finalizer — avalanches the 64-bit polynomial accumulators
    * of every wide (64-bit) kernel: [[windowHashes64]] and the shingle
    * family share this ONE copy of the constants. */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** All n-token sliding-window shingle hashes of `s` in the FULL 64-bit
    * space, POSITIONAL: element i (0-based) is the hash of the shingle
    * starting at token i+1. Golden-ratio wrapping multiply-accumulate over
    * [[tokenHashes64Array]] (a mod-P token hash underneath would cap the
    * whole shingle at the 31-bit collision floor — see [[windowHashes64]])
    * finalized with [[mix64]]. */
  private def shingle64Array(s: String, n: Int): Array[Long] = {
    val th = tokenHashes64Array(s)
    if (th.length < n) return Array.empty[Long]
    val m = th.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = acc * 0x9E3779B97F4A7C15L + th(i + j); j += 1 }
      out(i) = mix64(acc)
      i += 1
    }
    out
  }

  /** [[shingleHashes]] in the FULL 64-bit space — the production (wide)
    * signature front-end for the substring-dedup / decontamination
    * families at corpus scales where the mod-P birthday bound bites
    * (~10¹³ shingles at 100 TB vs P ≈ 2^30). Same tokenize → n-window
    * combine → distinct → sort shape; not DuckDB-replicable (BIGINT
    * overflow errors there, no wraparound) — spec-covered, with the mod-P
    * arm kept as the oracle surface. */
  def shingleHashes64(u: UTF8String, n: Int): ArrayData = {
    val out = shingle64Array(u.toString, n)
    java.util.Arrays.sort(out)
    var w = 0
    var i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(
      if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }

  /** POSITIONAL [[shingleHashes64]]: no distinct, no sort — the array
    * index IS the 0-based position, so `posexplode` recovers the
    * (pos, sh) grain of the positional-shingle stream without a
    * per-element struct build. Empty when the doc has < n tokens. */
  def positionalShingleHashes64(u: UTF8String, n: Int): ArrayData =
    ArrayData.toArrayData(shingle64Array(u.toString, n))

  /** MinHash signature (k longs) of a shingle-hash set: position j is the
    * minimum of `(a_j*h + b_j) mod P` over the set, or the sentinel P for
    * an empty set. The j-th universal-hash params derive from j with the
    * same LCG step as the column/oracle formulation. All intermediates fit
    * a long: a_j, h < P ≈ 2^30, so a_j*h < 2^60.
    */
  def minhashSignature(shh: ArrayData, k: Int): ArrayData = {
    val n = shh.numElements()
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = (1103515245L * (j + 1) + 12345L) % P
      val b = (1103515245L * (j + 7) + 54321L) % P
      var m = P
      var i = 0
      while (i < n) {
        val v = (a * shh.getLong(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** One-permutation MinHash (OPH) with rotation densification: ONE pass
    * over the shingle hashes (slot `h mod k` keeps its minimum), then each
    * empty slot borrows the value of the first non-empty slot t steps to
    * its right (circularly) plus `t*P` — the offset keeps a borrowed value
    * from colliding with any genuine slot minimum (all < P) and makes two
    * docs' borrowed slots collide only when they borrow the SAME value
    * from the SAME distance, preserving the LSH collision property
    * (Li/Owen/Zhang 2012; Shrivastava/Li ICML 2014 densification).
    * O(n + k^2) per doc vs the k-pass signature's O(k*n): at a 100 TB
    * corpus the signature pass is pure scan-side CPU, so this is the k×
    * cheaper tier. Empty input (doc shorter than the shingle width) →
    * sentinel P in every slot, matching [[minhashSignature]].
    */
  def ophSignature(shh: ArrayData, k: Int): ArrayData = {
    val n = shh.numElements()
    val slot = new Array[Long](k)
    java.util.Arrays.fill(slot, -1L)
    var i = 0
    while (i < n) {
      val h = shh.getLong(i)
      val j = (h % k).toInt
      if (slot(j) == -1L || h < slot(j)) slot(j) = h
      i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      if (slot(j) >= 0L) out(j) = slot(j)
      else {
        var t = 1
        var v = -1L
        while (t < k && v < 0L) {
          val s = slot((j + t) % k)
          if (s >= 0L) v = s + t.toLong * P
          t += 1
        }
        out(j) = if (v >= 0L) v else P
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Frequency-weighted 30-bit SimHash over token/shingle hashes: bit j set
    * iff sum over hashes of (bit j ? +1 : -1) > 0. `(h>>j)&1` equals the
    * HOF/oracle's `floor(h/2^j) % 2` for the non-negative sub-2^30 inputs
    * produced by the hash pipeline.
    */
  def simhash(th: ArrayData): Long = {
    val bits = 30
    val counts = new Array[Int](bits)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      val h = th.getLong(i)
      var j = 0
      while (j < bits) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) acc |= (1L << j)
      j += 1
    }
    acc
  }

  /** One base-31 combine per LSH band over a MinHash signature. A band
    * combines only the elements the signature actually has (the HOF twin's
    * slice semantics) — internal callers always pass length bands*rows, but
    * the expression is exposed to arbitrary SQL via graft_band_hashes, and
    * an unchecked getLong past numElements reads adjacent memory on
    * UnsafeArrayData (silently-wrong hashes). */
  def bandHashes(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      var acc = 0L
      var j = 0
      while (j < rows && i * rows + j < n) {
        acc = (acc * 31L + sig.getLong(i * rows + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Base-31 combine of a whole long array into one value. */
  def polyCombine(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = (acc * 31L + arr.getLong(i)) % P
      i += 1
    }
    acc
  }

  /** Binary search of `key` in `keys` (UTF8String binary order, the order
    * `array_sort` over a string-first struct produces). Returns the index
    * or -1. */
  private def searchSorted(keys: ArrayData, key: UTF8String): Int = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = keys.getUTF8String(mid).compareTo(key)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Fused unigram-LM scoring stats: for each token, its probability from
    * the sorted (keys, vals) vocabulary (0.0 when absent), folded into
    * [sum, min] in ONE ascending pass. IEEE-identical to the HOF chain
    * `ps = transform(toks, t -> coalesce(element_at(pmap, t), 0.0))` +
    * `aggregate(ps, 0.0, +)` + `array_min(ps)`: same per-token lookups,
    * same ascending single-accumulator sum (min is order-free). The HOF
    * chain is interpreted per row AND element_at on a map literal is a
    * LINEAR scan of the vocabulary per token — this is one codegen'd
    * O(tokens · log vocab) pass. min is 0.0 for empty input (callers gate
    * empty docs on size() before reading it). */
  def lmScoreStats(toks: ArrayData, keys: ArrayData, vals: ArrayData): ArrayData = {
    val n = toks.numElements()
    var sum = 0.0
    var mn = Double.PositiveInfinity
    var i = 0
    while (i < n) {
      val idx = searchSorted(keys, toks.getUTF8String(i))
      val p = if (idx >= 0) vals.getDouble(idx) else 0.0
      sum += p
      if (p < mn) mn = p
      i += 1
    }
    ArrayData.toArrayData(Array(sum, if (n == 0) 0.0 else mn))
  }

  /** Sorted-vocabulary id lookup: toks → array of vals (long) with 0 for
    * absent tokens — identical to
    * `transform(toks, t -> coalesce(element_at(vmap, t), 0L))` but one
    * codegen'd O(tokens · log vocab) pass instead of an interpreted
    * per-token linear map scan. */
  def sortedLookupLongs(toks: ArrayData, keys: ArrayData, vals: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val idx = searchSorted(keys, toks.getUTF8String(i))
      out(i) = if (idx >= 0) vals.getLong(idx) else 0L
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** DSIR bigram importance score: Σ ratios[sh_i mod buckets] folded in
    * ascending index order from 0.0 — identical to
    * `aggregate(transform(sh, x -> pmod(x, buckets)), 0.0,
    *   (a, b) -> a + element_at(ratios, b + 1))`
    * (same bucket per element: floorMod == pmod; same literal-array lookup;
    * same single-accumulator ascending sum). */
  def dsirScore(sh: ArrayData, ratios: Array[Double], buckets: Long): Double = {
    val n = sh.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += ratios(java.lang.Math.floorMod(sh.getLong(i), buckets).toInt)
      i += 1
    }
    acc
  }

  /** The size of an ML vector in its `VectorUDT` struct (type, size,
    * indices, values): a sparse vector (type 0) stores it, a dense one's is
    * its values' length. */
  def vectorSize(v: InternalRow): Int =
    if (v.getByte(0) == 0) v.getInt(1) else v.getArray(3).numElements()

  /** max(|v_i|) in one pass — identical to `array_max(transform(v, abs))`
    * on non-null-element double arrays (inputs here are cast float arrays),
    * including its ordering's NaN-is-largest rule. Empty array → the
    * caller's expression layer returns null (array_max's contract), see
    * [[graft.functions.NativeExpressions.MaxAbs]]. */
  def maxAbs(v: ArrayData): Double = {
    val n = v.numElements()
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a.isNaN) return a
      if (a > mx) mx = a
      i += 1
    }
    mx
  }

  /** Symmetric int8 quantization pass: round(v_i * scale) as tinyint —
    * identical to `transform(v, x -> round(x * scale).cast("tinyint"))`:
    * same multiply, the same HALF_UP decimal rounding Spark's `round`
    * performs on doubles (NaN/±Inf pass through), then the same cast
    * (CAST_OVERFLOW under `ansi`, else int-then-byte narrowing). */
  def scaleRoundInt8(v: ArrayData, scale: Double, ansi: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i) * scale
      val r = if (x.isNaN || x.isInfinite) x
        else java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      if (ansi && !(math.floor(r) <= Byte.MaxValue && math.ceil(r) >= Byte.MinValue))
        throw org.apache.spark.sql.GraftColumnBridge.byteCastOverflow(r)
      out(i) = r.toByte
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Element-wise division v_i / d — identical to
    * `transform(v, x -> x / d)` (same IEEE division per element). The
    * L2-normalize step of every cosine tier. */
  def divArray(v: ArrayData, d: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = v.getDouble(i) / d
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Squared norm of the residual a − y·w in one ascending-index pass —
    * IEEE-identical to building d = zip_with(a, w, (e, v) -> e - y*v) and
    * then [[dot]](d, d): per element the same (e - y*v) double, then the
    * same single-accumulator sum of squares starting at 0.0. The fused form
    * skips the interpreted zip_with lambda AND the intermediate array.
    */
  def residualNorm2(a: ArrayData, w: ArrayData, y: Double): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - y * w.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Ascending-index single-accumulator dot product (IEEE order matches the
    * `aggregate(zip_with(...))` HOF twin).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Exact integer dot of two tinyint arrays, accumulated in long —
    * identical to `aggregate(zip_with(a, b, (x,y) -> long(x)*long(y)), 0L,
    * +)` on equal-length inputs (|x|,|y| ≤ 127 so no overflow short of
    * 2^48 elements). The quantized-ANN coarse pass evaluates this once per
    * corpus×query pair; the HOF formulation allocated an intermediate
    * array per pair and walked it interpreted. */
  def intDot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }

  /** Index of the centroid with the highest cosine to `v` — the map-side
    * IVF coarse-assignment kernel. Centroids arrive as constant reference
    * objects (ordered by ascending cen_id), so the whole argmax runs inside
    * the corpus scan with ZERO expansion and ZERO shuffle — replacing a
    * crossJoin(broadcast(cents)) + per-vector window, whose argmax shuffle
    * was |corpus|×nCentroids rows.
    *
    * Bit-compatible with `row_number() OVER (PARTITION BY vec_id ORDER BY
    * dot(v,cv)/(nrm*cnrm) DESC, cen_id) = 1`: the dot is the same
    * ascending-index single-accumulator sum as [[dot]], score ties keep the
    * FIRST (lowest cen_id) candidate via a strict `>` (IEEE `>` also treats
    * -0.0 == 0.0, matching both engines' orderings), and a NaN score only
    * displaces a non-NaN one (both engines order NaN greatest; unreachable
    * when callers drop zero-norm vectors, but pinned for totality).
    * Centroids whose dimension differs from `v` are skipped (their cosine
    * is NULL in both twins, ordered last under DESC); if every centroid is
    * skipped the row falls to index 0 — the tie-break the all-NULL window
    * ordering produces.
    */
  def argMaxCosineIdx(v: ArrayData, nrm: Double,
                      cvs: Array[Array[Double]], cnrms: Array[Double]): Int = {
    val n = v.numElements()
    var best = -1
    var bestScore = 0.0
    var j = 0
    while (j < cvs.length) {
      val cv = cvs(j)
      if (cv.length == n) {
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v.getDouble(i) * cv(i); i += 1 }
        val score = acc / (nrm * cnrms(j))
        if (best < 0 || score > bestScore ||
            (java.lang.Double.isNaN(score) && !java.lang.Double.isNaN(bestScore))) {
          best = j; bestScore = score
        }
      }
      j += 1
    }
    if (best < 0) 0 else best
  }

  /** Product-quantization encode: split `v` into `m` contiguous subspaces
    * of dim/m dims each and store, per subspace, the index of the codeword
    * (a FULL-dim reference vector, sliced per subspace) with minimum
    * squared L2 distance on that slice — ties to the lowest codeword index
    * (strict `<`, matching `row_number ... ORDER BY dist, j`). The code is
    * `m` bytes per vector: at dim 64 / m 8 that is a 64× narrower coarse
    * column than the raw doubles — the PQ IO story. Distances accumulate
    * ascending-index with one accumulator (`acc += d*d`), bit-matching the
    * DuckDB twin's list_reduce. Trailing dims beyond m*(dim/m) are ignored
    * (callers use dim divisible by m). Codebooks whose dim differs from the
    * row are skipped; if all are skipped the code falls to 0 per subspace.
    */
  def pqEncode(v: ArrayData, cb: Array[Array[Double]], m: Int): ArrayData = {
    val dim = v.numElements()
    val dsub = dim / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = -1
      var bestD = 0.0
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        if (c.length == dim) {
          var acc = 0.0
          var t = s * dsub
          val end = t + dsub
          while (t < end) {
            val d = v.getDouble(t) - c(t)
            acc += d * d
            t += 1
          }
          if (best < 0 || acc < bestD) { best = j; bestD = acc }
        }
        j += 1
      }
      out(s) = (if (best < 0) 0 else best).toByte
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Asymmetric-distance (ADC) dot: the dot product of the FULL-precision
    * query against the PQ RECONSTRUCTION of a corpus vector (per dim i,
    * the codeword chosen for i's subspace). Single ascending-index
    * accumulator over the whole dim — identical to `dot(q, reconstructed)`
    * in the DuckDB twin. Reads only the m-byte code on the corpus side.
    *
    * Ragged-input contract, same skip discipline as [[argMaxCosineIdx]] /
    * [[pqEncode]]: a code byte past the codebook or a codeword shorter
    * than the query dim contributes 0 to the sum instead of throwing
    * inside codegen (unreachable from pqEncode-produced codes against the
    * same codebook, but the expression is callable with arbitrary pairs).
    */
  def pqAdc(q: ArrayData, codes: ArrayData, cb: Array[Array[Double]], m: Int): Double = {
    val dim = q.numElements()
    val dsub = dim / m
    val nc = math.min(m, codes.numElements())
    var acc = 0.0
    var s = 0
    while (s < nc) {
      val idx = codes.getByte(s).toInt & 0xFF
      if (idx < cb.length) {
        val c = cb(idx)
        if (c.length >= (s + 1) * dsub) {
          var i = s * dsub
          val end = i + dsub
          while (i < end) {
            acc += q.getDouble(i) * c(i)
            i += 1
          }
        }
      }
      s += 1
    }
    acc
  }

  /** The `n` centroid ids nearest `v` by cosine, ordered (cosine desc,
    * cen_id asc) — the map-side IVF PROBE-selection kernel, same contract
    * as [[argMaxCosineIdx]] generalized to top-n. Equivalent to
    * `row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, cen_id)
    * <= n`: iteration is in ascending cen_id order and an insertion
    * displaces only on strictly-greater score, so equal scores keep
    * ascending-id order. Ragged centroids are skipped (NULL-cosine rows
    * order last and `n` ≤ live centroids in every caller).
    */
  def topNCosineIds(v: ArrayData, nrm: Double, cvs: Array[Array[Double]],
                    cnrms: Array[Double], cenIds: Array[Long], n: Int): ArrayData = {
    val dim = v.numElements()
    val kk = math.min(n, cvs.length)
    val sc = new Array[Double](kk)
    val ix = new Array[Int](kk)
    var filled = 0
    var j = 0
    while (j < cvs.length) {
      val cv = cvs(j)
      if (cv.length == dim) {
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v.getDouble(i) * cv(i); i += 1 }
        val score = acc / (nrm * cnrms(j))
        var p = filled
        while (p > 0 && (score > sc(p - 1) ||
            (java.lang.Double.isNaN(score) && !java.lang.Double.isNaN(sc(p - 1))))) p -= 1
        if (p < kk) {
          var q = math.min(filled, kk - 1)
          while (q > p) { sc(q) = sc(q - 1); ix(q) = ix(q - 1); q -= 1 }
          sc(p) = score; ix(p) = j
          if (filled < kk) filled += 1
        }
      }
      j += 1
    }
    val out = new Array[Long](filled)
    var r = 0
    while (r < filled) { out(r) = cenIds(ix(r)); r += 1 }
    ArrayData.toArrayData(out)
  }

  /** Adaptive-radius probe selection: every cen_id whose cosine is within
    * `delta` of the BEST centroid's cosine, capped at `nMax`, ordered
    * (cosine desc, cen_id asc) — [[topNCosineIds]]' insertion with a
    * post-hoc radius cutoff (sc(0) is the global max after the capped
    * insertion, so the threshold needs no second pass). A fixed nProbe
    * over-probes queries that land squarely in one list and under-probes
    * queries near list boundaries; the radius rule spends the probe
    * budget where ambiguity actually is. */
  def adaptiveProbeIds(v: ArrayData, nrm: Double, cvs: Array[Array[Double]],
                       cnrms: Array[Double], cenIds: Array[Long], nMax: Int,
                       delta: Double): ArrayData = {
    val dim = v.numElements()
    val kk = math.min(nMax, cvs.length)
    val sc = new Array[Double](kk)
    val ix = new Array[Int](kk)
    var filled = 0
    var j = 0
    while (j < cvs.length) {
      val cv = cvs(j)
      if (cv.length == dim) {
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v.getDouble(i) * cv(i); i += 1 }
        val score = acc / (nrm * cnrms(j))
        var p = filled
        while (p > 0 && (score > sc(p - 1) ||
            (java.lang.Double.isNaN(score) && !java.lang.Double.isNaN(sc(p - 1))))) p -= 1
        if (p < kk) {
          var q = math.min(filled, kk - 1)
          while (q > p) { sc(q) = sc(q - 1); ix(q) = ix(q - 1); q -= 1 }
          sc(p) = score; ix(p) = j
          if (filled < kk) filled += 1
        }
      }
      j += 1
    }
    var keep = 0
    while (keep < filled && sc(keep) >= sc(0) - delta) keep += 1
    val out = new Array[Long](keep)
    var r = 0
    while (r < keep) { out(r) = cenIds(ix(r)); r += 1 }
    ArrayData.toArrayData(out)
  }

  /** Per-term occurrence counts of `terms` in the whitespace tokenization
    * of `u`, one pass, no regex and no explode: `out(j)` = number of
    * tokens equal to `terms(j)`. The BM25 front-end — turns the
    * explode→groupBy term-frequency shuffle into per-row map work inside
    * the scan. Terms arrive as a constant reference object from codegen.
    */
  def termCounts(u: UTF8String, terms: Array[String]): ArrayData = {
    val s = u.toString
    val out = new Array[Long](terms.length)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        var j = 0
        while (j < terms.length) {
          val t = terms(j)
          if (t.length == i - start && s.regionMatches(start, t, 0, t.length))
            out(j) += 1L
          j += 1
        }
      }
    }
    ArrayData.toArrayData(out)
  }

  /** Repetition statistics of a document in one pass over its token
    * hashes: `[nTokens, nDistinctTokens, topTokenFreq, nBigrams,
    * nDistinctBigrams]` as array<long>. Bigram hash is the same base-31
    * combine as [[shingleHashes]] with n=2 (`(h_i*31 + h_{i+1}) mod P`), so
    * the DuckDB twin replays it with list lambdas. Backbone of
    * Gopher-style repetition filters (top-token fraction, duplicate-ngram
    * fraction): the HOF formulation needs an explode + two shuffling
    * aggregations per corpus; this runs inside the scan.
    */
  def repetitionStats(u: UTF8String): ArrayData = {
    val th = tokenHashesArray(u.toString)
    val n = th.length
    val counts = new java.util.HashMap[Long, Int](n * 2)
    var top = 0
    var i = 0
    while (i < n) {
      val c = counts.getOrDefault(th(i), 0) + 1
      counts.put(th(i), c)
      if (c > top) top = c
      i += 1
    }
    val nBigrams = math.max(n - 1, 0)
    val bigrams = new java.util.HashSet[Long](nBigrams * 2)
    i = 0
    while (i < n - 1) {
      bigrams.add((th(i) * 31L + th(i + 1)) % P)
      i += 1
    }
    ArrayData.toArrayData(Array(n.toLong, counts.size.toLong, top.toLong,
      nBigrams.toLong, bigrams.size.toLong))
  }

  /** Stopwords for [[textStats]] — must stay identical to
    * `TextFunctions.Stopwords` (spec-pinned). */
  private val StopwordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")
      .foreach(s.add)
    s
  }
  private val MaxStopLen = 3

  /** Every per-document scalar text statistic in ONE character pass:
    * `[len, nTokens, sumTokenLen, nStopwords, nPunct, nSubwords]`.
    *
    * Bit-identical to the five separate HOF/regex formulations it fuses
    * (each re-tokenized the document): tokens are maximal non-`\s` runs
    * (isWs mirrors Java `\s`), punct counts chars outside `[A-Za-z0-9\s]`
    * (whitespace can't be punct, so counting inside token runs only is
    * exact), subwords are `ceil(tokenLen/4)` per token (integer form —
    * exact for any length a string can have), stopword matches are exact
    * case-sensitive string compares. All lengths are CODE POINTS —
    * `length()`'s meaning on both engines, surrogate pairs counted once.
    */
  def textStats(u: UTF8String): ArrayData = {
    val s = u.toString
    val n = s.length
    var nChars = 0L // CODE POINTS — what length() means on both engines
    var nPunct = 0L
    var nTok = 0L
    var sumTokLen = 0L
    var nStop = 0L
    var nSub = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) { i += 1; nChars += 1 }
      if (i < n) {
        val start = i
        var tl = 0L // token length in code points
        while (i < n && !isWs(s.charAt(i))) {
          val cp = s.codePointAt(i)
          if (!((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
                (cp >= '0' && cp <= '9'))) nPunct += 1
          i += Character.charCount(cp)
          tl += 1
          nChars += 1
        }
        nTok += 1
        sumTokLen += tl
        nSub += (tl + 3) / 4
        if (tl <= MaxStopLen && StopwordSet.contains(s.substring(start, i))) nStop += 1
      }
    }
    ArrayData.toArrayData(Array(nChars, nTok, sumTokLen, nStop, nPunct, nSub))
  }

  /** CANONICAL language-ID data (TextFunctions delegates here — one
    * source, no kernel/Column fork). Two marker kinds:
    *  - [[LangTokenMarkers]]: high-frequency stopword tokens for
    *    whitespace-tokenized (Latin-script) languages — the classic
    *    fastText-free langid shape;
    *  - [[LangScriptRanges]]: BMP code-point ranges, counted PER
    *    CHARACTER, for languages whose script identifies them (CJK has no
    *    whitespace tokens to match). Flat (lo, hi) pairs. BMP-only is a
    *    cross-engine invariant: the kernel iterates UTF-16 units and the
    *    oracle code points — supplementary characters (surrogate pairs)
    *    match NO range on either side, so counts agree.
    */
  val LangTokenMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "it" -> Seq("il", "di", "che", "per", "con", "una"),
    "pt" -> Seq("o", "os", "em", "uma", "não", "como"),
    "nl" -> Seq("het", "een", "van", "en", "dat", "niet"),
    "pl" -> Seq("i", "w", "na", "się", "jest", "nie"),
    "sv" -> Seq("och", "att", "det", "som", "är", "på"),
    "tr" -> Seq("bir", "ve", "bu", "için", "da", "ne"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk"),
    "vi" -> Seq("của", "và", "các", "là", "có", "không"))
  val LangScriptRanges: Seq[(String, Seq[(Int, Int)])] = Seq(
    "zh" -> Seq((0x4E00, 0x9FFF)),                     // CJK Unified Ideographs
    "ja" -> Seq((0x3040, 0x309F), (0x30A0, 0x30FF)),   // Hiragana + Katakana
    "ko" -> Seq((0xAC00, 0xD7AF), (0x1100, 0x11FF)),   // Hangul syllables + Jamo
    "ru" -> Seq((0x0400, 0x04FF)),                     // Cyrillic
    "ar" -> Seq((0x0600, 0x06FF)),                     // Arabic
    "he" -> Seq((0x0590, 0x05FF)),                     // Hebrew
    "el" -> Seq((0x0370, 0x03FF)),                     // Greek
    "hi" -> Seq((0x0900, 0x097F)),                     // Devanagari
    "th" -> Seq((0x0E00, 0x0E7F)),                     // Thai
    "bn" -> Seq((0x0980, 0x09FF)))                     // Bengali
  /** All language codes, counts-array order: token langs then script
    * langs. List order is the deterministic argmax tie order. */
  val LangNames: Seq[String] = LangTokenMarkers.map(_._1) ++ LangScriptRanges.map(_._1)

  private val MarkerSets: Array[java.util.HashSet[String]] =
    LangTokenMarkers.map { case (_, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }.toArray
  private val MaxMarkerLen = LangTokenMarkers.flatMap(_._2).map(_.length).max
  private val ScriptRangesFlat: Array[Array[Int]] =
    LangScriptRanges.map(_._2.flatMap { case (lo, hi) => Seq(lo, hi) }.toArray).toArray
  /** Lowest range start — chars below it (all of ASCII and Latin-1) skip
    * the per-char script loop entirely. */
  private val MinScriptLo = LangScriptRanges.flatMap(_._2).map(_._1).min

  /** Per-language marker hit counts in one pass — token-marker counts (a
    * token in several languages' sets increments each, matching the
    * per-language HOF filters), then script-range CHARACTER counts, in
    * [[LangNames]] order. */
  def langMarkerCounts(u: UTF8String): ArrayData = {
    val s = u.toString
    val n = s.length
    val nt = MarkerSets.length
    val counts = new Array[Long](nt + ScriptRangesFlat.length)
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i).toInt
          if (c >= MinScriptLo) {
            var l = 0
            while (l < ScriptRangesFlat.length) {
              val r = ScriptRangesFlat(l)
              var k = 0
              while (k < r.length) {
                if (c >= r(k) && c <= r(k + 1)) counts(nt + l) += 1
                k += 2
              }
              l += 1
            }
          }
          i += 1
        }
        if (i - start <= MaxMarkerLen) {
          val tok = s.substring(start, i)
          var l = 0
          while (l < nt) {
            if (MarkerSets(l).contains(tok)) counts(l) += 1
            l += 1
          }
        }
      }
    }
    ArrayData.toArrayData(counts)
  }

  /** Feature-hashed bag-of-tokens document embedding (hashing trick): one
    * pass over the token hashes; token h lands in bucket `h mod dim` with
    * sign `+1` iff `(h div dim) mod 2 == 1`. Components are signed
    * INTEGER counts (emitted as doubles), so the result is exact under
    * any accumulation order — the oracle recomputes each bucket as a
    * filtered count difference and matches bit-for-bit. Bridges the text
    * pipeline into the similarity/semantic-dedup stack without a trained
    * encoder: deterministic, so the full embed -> assign -> dedup chain
    * stays hash-exact.
    */
  def hashEmbed(u: UTF8String, dim: Int): ArrayData = {
    val th = tokenHashesArray(u.toString)
    val out = new Array[Double](dim)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      val b = (h % dim).toInt
      if ((h / dim) % 2 == 1) out(b) += 1.0 else out(b) -= 1.0
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Non-overlapping token-window ("paragraph") hashes: window i is the
    * base-31 combine of token hashes [i*w, min((i+1)*w, n)) in order, the
    * last partial window kept. The paragraph-level dedup front-end — one
    * pass, no explode of token rows. Mirrors the twin's
    * `list_transform(range(...), i -> list_reduce(th[slice]))`.
    */
  def windowHashes(u: UTF8String, w: Int): ArrayData = {
    val th = tokenHashesArray(u.toString)
    if (th.length == 0) return ArrayData.toArrayData(Array.empty[Long])
    val m = (th.length + w - 1) / w
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = i * w
      val end = math.min(j + w, th.length)
      while (j < end) { acc = (acc * 31L + th(j)) % P; j += 1 }
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** [[windowHashes]] in the FULL 64-bit space — the 100 TB production
    * variant. The mod-P (1e9+7) window hash is kept for cross-engine
    * oracle parity, but its birthday bound is structural at scale:
    * n²/2P false dup-pairs means ~20 at 200k paragraphs (measured exactly
    * by DedupStressSpec) and total blindness at 10¹⁰. Here each window
    * accumulates with a golden-ratio odd multiplier over wrapping 64-bit
    * arithmetic and is finalized with a splitmix-style avalanche, pushing
    * the same bound to n²/2⁶⁵ (≈ 3 collisions at 10¹⁰ paragraphs). Not
    * DuckDB-replicable (BIGINT overflow errors there, no wraparound) —
    * spec-covered instead, contrast pinned against the 31-bit variant.
    * Token hashes are ALSO widened ([[tokenHashes64Array]]): a mod-P token
    * hash underneath would cap the whole window hash at the 31-bit
    * collision floor. */
  def windowHashes64(u: UTF8String, w: Int): ArrayData = {
    val th = tokenHashes64Array(u.toString)
    if (th.length == 0) return ArrayData.toArrayData(Array.empty[Long])
    val m = (th.length + w - 1) / w
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = i * w
      val end = math.min(j + w, th.length)
      while (j < end) { acc = acc * 0x9E3779B97F4A7C15L + th(j); j += 1 }
      out(i) = mix64(acc) // splitmix64 finalizer, shared with the shingle kernels
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  private def polyHashStr(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i) // code points, same fold as polyHash
      acc = (acc * 31L + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  private val BpeSep = '\u0001'

  /** Canonical BPE apply for one token: repeatedly merge the present pair
    * with the LOWEST rank (all non-overlapping occurrences, left to
    * right) until no pair in the table remains. `ranks` maps
    * `left + \u0001 + right` to 1-based rank; `pairs(rank-1)` holds the
    * components. Bit-matches the DuckDB twin's recursive
    * list_position/list_reduce formulation.
    */
  private def bpeApply(tok: String, ranks: java.util.HashMap[String, Integer],
                       pairs: Array[Array[String]]): Array[String] = {
    // initial segmentation is per CODE POINT (DuckDB's tok[i] yields whole
    // characters — a surrogate pair must start as ONE segment)
    var seg: Array[String] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < tok.length) {
        val cc = Character.charCount(tok.codePointAt(i))
        b += tok.substring(i, i + cc)
        i += cc
      }
      b.toArray
    }
    var done = seg.length <= 1
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < seg.length - 1) {
        val r = ranks.get(seg(i) + BpeSep + seg(i + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val l = pairs(best - 1)(0)
        val rr = pairs(best - 1)(1)
        val out = new scala.collection.mutable.ArrayBuffer[String](seg.length)
        var j = 0
        while (j < seg.length) {
          if (j < seg.length - 1 && seg(j) == l && seg(j + 1) == rr) { out += l + rr; j += 2 }
          else { out += seg(j); j += 1 }
        }
        seg = out.toArray
        if (seg.length <= 1) done = true
      }
    }
    seg
  }

  /** Whole-document BPE statistics in one pass: tokenize by whitespace
    * runs, [[bpeApply]] each token against the constant merge table,
    * emit `[nTokens, nPieces, piecesHash]` where piecesHash is the
    * base-31 combine of each piece's [[polyHash]] in document order —
    * the scalar compared surface for subword tokenization (materializing
    * per-piece rows would explode the corpus ~4x for the gate's benefit
    * only).
    */
  def bpeStats(u: UTF8String, ranks: java.util.HashMap[String, Integer],
               pairs: Array[Array[String]]): ArrayData = {
    val s = u.toString
    var nTok = 0L
    var nPieces = 0L
    var hash = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        nTok += 1
        val pieces = bpeApply(s.substring(start, i), ranks, pairs)
        nPieces += pieces.length
        var j = 0
        while (j < pieces.length) {
          hash = (hash * 31L + polyHashStr(pieces(j))) % P
          j += 1
        }
      }
    }
    ArrayData.toArrayData(Array(nTok, nPieces, hash))
  }

  /** Size of the intersection of two strictly-ascending long arrays
    * (sorted-distinct token-hash sets from `array_sort(array_distinct(…))`).
    * Linear merge — replaces the interpreted
    * `size(array_intersect(a,b))` in the Jaccard hot path.
    */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
