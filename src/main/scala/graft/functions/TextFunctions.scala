package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Text-analysis primitives for large-scale training-data pipelines, as
  * *native Catalyst expressions* (no UDFs — every function here inlines into
  * whole-stage codegen and runs inside the scan's pipeline, the only shape
  * that survives a 100 TB corpus scan).
  *
  * The reference (ispras/pu4spark) targets text classification — Liu et al.
  * 2002 is a text-PU paper, and its README assembles text features caller-side
  * (reference README.md:74-89) — but ships no text functions of its own; this
  * module supplies the missing text layer the PU pipeline consumes.
  *
  * Portability contract: every function has an exact DuckDB-SQL twin (the
  * driver's oracle), so all arithmetic is integer-mod or IEEE-double with an
  * identical evaluation order on both engines. Hashes are polynomial rolling
  * hashes mod 1e9+7 over Unicode code points — deterministic, overflow-free
  * in 64-bit, and expressible in any engine with list lambdas.
  */
object TextFunctions {

  /** Modulus for all rolling hashes: large prime, keeps `acc*31 + cp` well
    * under 2^63 (1e9+7 * 31 + 1.1e6 << Long.Max). */
  val HashMod = 1000000007L
  val HashBase = 31L

  /** Whitespace-RUN tokenization: maximal non-whitespace runs, the
    * kernels' definition. The raw `split(trim(s), "\\s+")` leaves ''
    * artifacts on empty/blank strings and on leading/trailing NON-SPACE
    * whitespace (trim strips spaces only) — filtered here so every
    * token consumer, Column-based or kernel-based, sees the same list. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** The fused one-pass stats vector `[len, nTokens, sumTokenLen, nStop,
    * nPunct, nSubwords]` ([[NativeExpressions.textStats]]). The scalar
    * accessors below are `getItem` projections of this node — identical
    * `textStats` subtrees in one projection are common-subexpression-
    * eliminated by whole-stage codegen, so a query reading five stats still
    * walks each document once (the previous HOF formulations re-tokenized
    * per stat). */
  def textStats(text: Column): Column = NativeExpressions.textStats(text)

  /** Token count (whitespace runs); 0 for blank/empty text. */
  def tokenCount(text: Column): Column =
    textStats(text).getItem(1).cast(IntegerType)

  /** A BPE-ish sub-word proxy count: tokens split further on letter/digit
    * boundaries and long tokens counted per 4-char chunk — a deterministic
    * stand-in for a real BPE vocab (not shippable in-container), with the
    * right cost shape (regex + arithmetic per token, no dictionary lookup).
    * ceil(len/4) per token, summed.
    */
  def subwordCount(text: Column): Column = textStats(text).getItem(5)

  /** Polynomial rolling hash over the string's characters:
    * `acc := (acc*31 + char) mod 1e9+7`, acc0 = 0. The document fingerprint
    * primitive; also the token/shingle hash for MinHash/SimHash. Backed by
    * a codegen'd native expression ([[NativeExpressions.polyHash]]) —
    * bit-identical to the HOF formulation
    * `aggregate(split(s,""), 0L, (a,c) -> (a*31+ascii(c)) % P)`.
    */
  def polyHash(s: Column): Column = NativeExpressions.polyHash(s)

  /** Document fingerprint = rolling hash of the full text. Exact-dedup key:
    * two docs with equal fingerprints are (modulo 1e-9 collisions) equal.
    */
  def fingerprint(text: Column): Column = polyHash(text)

  /** PII regexes — restricted to the subset where Java regex and RE2
    * (DuckDB) agree exactly: character classes + bounded repetition, no
    * lookaround, no backrefs. Pure scan-stage column work, zero shuffles. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val PiiIpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Corpus scrubbing: mask emails and IPv4 literals before training. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, PiiEmailRe, "<EMAIL>"), PiiIpRe, "<IP>")

  /** Count of email-shaped matches (audit signal for the redaction pass). */
  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PiiEmailRe), lit(0))).cast(LongType)

  /** Count of IPv4-shaped matches. */
  def piiIpCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PiiIpRe), lit(0))).cast(LongType)

  /** Per-token hashes (for MinHash / SimHash signature building) —
    * codegen'd single pass ([[NativeExpressions.tokenHashes]]), identical
    * to `transform(tokens(text), polyHash)` with the blank-string guard. */
  def tokenHashes(text: Column): Column = NativeExpressions.tokenHashes(text)

  /** Word n-gram shingles as strings ("a b c" for n=3). Empty when the doc
    * has fewer than n tokens. NOTE: Spark's `sequence(1, x)` is DESCENDING
    * for x<1, hence the explicit guard.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(tokenCount(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** Binds a (possibly expensive) array expression to a lambda variable so
    * the body references the *computed value* instead of inlining the
    * expression tree. Catalyst substitutes expressions into lambda bodies
    * (projection collapse), and higher-order functions are interpreted, so
    * an inlined heavy expression is re-evaluated PER ELEMENT — e.g. a
    * tokenizer re-run once per shingle per row. `transform` evaluates its
    * array argument exactly once, so wrapping in a 1-element array gives a
    * let-binding: measured >100× on the shingle pipeline at sf0.1.
    */
  def bound(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), a => f(a)), 1)

  /** Hashes of the *distinct* word n-gram shingles — the MinHash input set.
    * Distinct because Jaccard/minhash are set semantics. Sorted so that both
    * engines produce identical array order (array equality in the oracle).
    *
    * A shingle's hash is the base-31 combine of its tokens' [[polyHash]]es
    * (NOT the hash of the joined string). Backed by the fused codegen'd
    * kernel ([[NativeExpressions.shingleHashes]]) — bit-identical to the
    * HOF formulation
    * `array_sort(array_distinct(transform(windows over tokenHashes, base31)))`
    * (pinned by NativeExpressionsSpec), which interprets per element and
    * dominated every signature query's profile.
    */
  def shingleHashes(text: Column, n: Int): Column =
    NativeExpressions.shingleHashes(text, n)

  /** [[shingleHashes]] in the full 64-bit space — the production (wide)
    * arm for shingle populations near the mod-P birthday bound (~10¹³
    * shingles at 100 TB vs P ≈ 2^30). Not oracle-replicable (DuckDB
    * BIGINT errors on overflow); spec-covered instead. */
  def shingleHashes64(text: Column, n: Int): Column =
    NativeExpressions.shingleHashes64(text, n)

  /** Positional 64-bit shingle hashes: element i is the hash of the
    * shingle starting at 0-based token i — `posexplode` recovers the
    * (pos, sh) stream of the wide substring-dedup arm. */
  def positionalShingleHashes64(text: Column, n: Int): Column =
    NativeExpressions.positionalShingleHashes64(text, n)

  /** Positional mod-P shingle hashes — [[positionalShingleHashes64]]'s
    * oracle-surface sibling, bit-identical to the interpreted
    * `transform(range, i -> aggregate(slice(th, i, n), …, pmod))` HOF
    * chain it replaces in the positional-shingle scans (pinned by
    * NativeExpressionsSpec). */
  def positionalShingleHashes(text: Column, n: Int): Column =
    NativeExpressions.positionalShingleHashes(text, n)

  // --------------------------------------------------------------------
  // Quality scoring (length / punctuation / stopword ratios)
  // --------------------------------------------------------------------

  /** Tiny English stopword set — enough signal for ratio features; a real
    * pipeline would broadcast a fuller set (still a literal array: no join).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")

  def stopwordCount(text: Column): Column =
    textStats(text).getItem(3).cast(IntegerType)

  /** Fraction of characters that are not alphanumeric/whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      textStats(text).getItem(4).cast(DoubleType) / length(text).cast(DoubleType))

  /** Mean token length in characters (0 for blank docs). */
  def meanTokenLen(text: Column): Column = {
    val n = textStats(text).getItem(1)
    when(n === 0, lit(0.0)).otherwise(
      textStats(text).getItem(2).cast(DoubleType) / n.cast(DoubleType))
  }

  /** Composite quality score in [0,1] — the standard pretraining-filter
    * shape (C4/Gopher-style heuristics): reward mid-length docs and typical
    * token lengths, punish punctuation soup and stopword-free keyword spam.
    * All doubles, identical expression order in the DuckDB twin.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast(DoubleType)
    val lenScore = least(n / lit(50.0), lit(1.0)) // docs under 50 tokens penalized
    val mtl = meanTokenLen(text)
    val tokLenScore = when(mtl >= 3.0 && mtl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    val punctScore = lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))
    val stopScore =
      when(n === 0, lit(0.0)).otherwise(
        least(stopwordCount(text).cast(DoubleType) / n * lit(10.0), lit(1.0)))
    (lenScore * lit(0.4) + tokLenScore * lit(0.2) + punctScore * lit(0.2)
      + stopScore * lit(0.2))
  }

  // --------------------------------------------------------------------
  // Language identification (marker-token heuristic)
  // --------------------------------------------------------------------

  /** Marker-token lists per (Latin-script) language — an n-gram/stopword-
    * hit heuristic (the classic fastText-free langid shape: count
    * language-specific high-frequency tokens, argmax with a deterministic
    * tie order). Canonical data lives in [[NativeKernels.LangTokenMarkers]]
    * (the codegen kernel reads it too — one source, no fork).
    */
  val LangMarkers: Seq[(String, Seq[String])] = NativeKernels.LangTokenMarkers

  /** Script-range languages (CJK/Cyrillic/Arabic/…): BMP code-point
    * ranges counted per CHARACTER — whitespace tokenization finds nothing
    * to match in unsegmented scripts, the script itself is the signal.
    * See [[NativeKernels.LangScriptRanges]] for the range table and the
    * BMP-only cross-engine invariant. */
  val LangScripts: Seq[(String, Seq[(Int, Int)])] = NativeKernels.LangScriptRanges

  /** All predictable language codes in counts/tie order. */
  val LangNames: Seq[String] = NativeKernels.LangNames

  /** Predicted language: argmax over token-marker counts (Latin-script
    * languages) and script-range character counts (CJK/Cyrillic/Arabic/…),
    * ties broken by [[LangNames]] order, "und" when nothing hits. All
    * counts come from ONE native pass
    * ([[NativeExpressions.langMarkerCounts]], CSE'd like [[textStats]]);
    * the argmax/tie logic stays in Column space, bit-identical to the
    * per-language HOF formulations (`HofTwins.langIdHof`, spec-pinned).
    */
  def langId(text: Column): Column = {
    val cts = NativeExpressions.langMarkerCounts(text)
    val scores = LangNames.zipWithIndex.map { case (lang, i) =>
      lang -> cts.getItem(i)
    }
    argmaxLang(scores)
  }

  private[functions] def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }
}
