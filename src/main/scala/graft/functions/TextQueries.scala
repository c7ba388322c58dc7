package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.Tables

/** Driver-facing text-analysis queries over `documents.parquet`, each with an
  * exact DuckDB oracle twin. Counts are cast to BIGINT on both engines so the
  * driver's hash compare sees identical types.
  *
  * Scale notes: every query is scan → per-row expressions → sort; no shuffle
  * except the final presentation ORDER BY (dropped in production — it exists
  * for deterministic oracle hashing). Filters/projections push into the
  * parquet scan; all expressions are codegen'd built-ins.
  */
object TextQueries {
  import TextFunctions._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).cast(LongType).as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"),
        meanTokenLen(col("text")).as("mean_token_len"),
        stopwordCount(col("text")).cast(LongType).as("n_stopwords"))
        .orderBy("doc_id")
    }),
    "text_quality" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        punctRatio(col("text")).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "text_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        langId(col("text")).as("lang_pred"),
        col("lang").as("lang_true"))
        .orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // PII redaction (corpus scrubbing before training): mask emails and
    // IPv4 literals, count what was masked per doc. The synthetic corpus
    // contains no PII, so a deterministic contact line is prepended to a
    // slice of docs on BOTH engines — the redaction path is actually
    // exercised, not vacuously green. Regexes use only character classes
    // and bounded repetition (no lookaround / backrefs), the subset on
    // which Java regex and DuckDB's RE2 agree exactly. Pure map work:
    // filters and expressions run inside the scan, zero shuffles.
    "text_pii" -> ((s, dir) => {
      val aug = when(col("doc_id") % 7 === 0,
        concat(lit("contact user"), col("doc_id").cast(StringType),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast(StringType), lit(".1 "), col("text")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .withColumn("aug", aug)
        .select(col("doc_id"),
          TextFunctions.piiEmailCount(col("aug")).as("n_emails"),
          TextFunctions.piiIpCount(col("aug")).as("n_ips"),
          polyHash(TextFunctions.redactPii(col("aug"))).as("fp_redacted"))
        .orderBy("doc_id")
    }),

    // Unigram-LM document scoring — the perplexity-proxy quality filter:
    // corpus-estimated token probabilities (ONE tiny agg, broadcast back
    // as a map), then a per-row sequential fold inside the scan. mean_p
    // is the LM score (higher = more typical text), min_p flags documents
    // hinging on the rarest token. The log-free probability form keeps
    // libm out of the compared surface (same reasoning as BM25's rational
    // idf); the fold order is ascending on both engines so doubles match
    // bit-for-bit.
    "text_lm_score" -> ((s, dir) => lmScored(s, dir).orderBy("doc_id")),

    // Inverted-index build (term -> postings), the index side of
    // retrieval: explode to (token, doc) pairs — the one genuinely
    // data-sized shuffle an index build needs — then ONE per-term
    // aggregation. Postings stay a combine-hash scalar in the compared
    // surface: materializing full lists for stopword-like terms is the
    // classic skew trap at 100 TB (a real index would bucket postings by
    // doc-range; the df/tf stats and hash pin the same content).
    "text_inverted_index" -> ((s, dir) => {
      graft.operators.Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        // df = |postings set| — NOT a separate countDistinct, which would
        // add a distinct-expand pass over the exploded token stream; the
        // collect_set already holds exactly the distinct doc ids
        .agg(count(lit(1)).as("tf_total"),
          sort_array(collect_set(col("doc_id"))).as("postings"))
        .select(col("tok"), size(col("postings")).cast("long").as("df"),
          col("tf_total"),
          NativeExpressions.polyCombine(col("postings")).as("postings_hash"))
        .orderBy(col("df").desc, col("tok"))
        .limit(50)
    })
  )


  // ------------------------------------------------------------------
  // DuckDB twins. Shared SQL fragments mirror TextFunctions exactly
  // (same op order => identical integer/IEEE results => hash match).
  // ------------------------------------------------------------------

  /** polyHash of a string expression (rolling hash mod 1e9+7, base 31). */
  def sqlPolyHash(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($x)+1), i -> CAST(unicode($x[i]) AS BIGINT))), " +
      s"(a, c) -> (a*31 + c) % 1000000007)"

  /** Whitespace-RUN tokens: `split_regex(trim(...))` leaves '' artifacts
    * on leading/trailing NON-SPACE whitespace (trim strips spaces only);
    * filtering them makes the token list exactly the maximal non-ws runs —
    * the kernels' definition, and the only one that is encoding-stable. */
  /** Unigram-LM document scoring — the perplexity-proxy quality filter:
    * corpus-estimated token probabilities (ONE tiny agg, broadcast back
    * as a map), then a per-row sequential fold inside the scan. mean_p
    * is the LM score (higher = more typical text), min_p flags documents
    * hinging on the rarest token. The log-free probability form keeps
    * libm out of the compared surface (same reasoning as BM25's rational
    * idf); the fold order is ascending on both engines so doubles match
    * bit-for-bit. Returns (doc_id, extra..., n_tokens, mean_p, min_p);
    * `extra` columns are computed IN THE SAME corpus scan and carried
    * through — the CCNet-style partition (`pipeline_lm_partition`) rides
    * its language-ID kernel here instead of paying a second scan + join.
    * Shared by `text_lm_score` — one score definition, no fork. */
  private[graft] def lmScored(s: SparkSession, dir: String,
                              extra: Seq[(String, Column)] = Nil): DataFrame = {
    // stored: the tokenized corpus feeds the vocabulary branch AND the
    // scoring branch — unstored, the split+filter runs twice per doc
    val base = graft.CheckpointUtil.materialize(
      graft.operators.Spread.pinIfNarrow(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id") +: extra.map { case (n, c) => c.as(n) } :+
          TextFunctions.tokens(col("text")).as("toks"): _*))._1
    val counts = base.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // sorted (keys, vals) ARRAYS, not a map: element_at on a map literal is
    // a linear scan of the whole vocabulary per token AND the HOF chain
    // around it is interpreted per row — the fused LmScoreStats kernel
    // binary-searches the same sorted entries and folds the same ascending
    // [sum, min] in one codegen pass (bit-identical; NativeExpressionsSpec
    // pins it). The one-row transform() below runs once per QUERY, not per
    // corpus row.
    val parr = counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("tok"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
      .agg(array_sort(collect_list(struct(col("tok"), col("p")))).as("ents"))
      .select(transform(col("ents"), e => e.getField("tok")).as("pk"),
        transform(col("ents"), e => e.getField("p")).as("pv"))
    base.crossJoin(broadcast(parr))
      .withColumn("st",
        NativeExpressions.lmScoreStats(col("toks"), col("pk"), col("pv")))
      .select(col("doc_id") +: extra.map { case (n, _) => col(n) } :+
        size(col("toks")).cast(LongType).as("n_tokens") :+
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(element_at(col("st"), 1)
            / size(col("toks")).cast("double")).as("mean_p") :+
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(element_at(col("st"), 2)).as("min_p"): _*)
  }

  val sqlToks = "list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '')"
  val sqlNTok = s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($sqlToks) END"

  private def sqlMarkerScore(markers: Seq[String]): String = {
    val in = markers.map(m => s"'$m'").mkString(", ")
    s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(list_filter($sqlToks, t -> t IN ($in))) END"
  }

  private val stopIn = Stopwords.map(sw => s"'$sw'").mkString(", ")
  private[graft] val nStop = s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(list_filter($sqlToks, t -> t IN ($stopIn))) END"
  private[graft] val sumTokLen =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($sqlToks, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x)"
  private val meanTokLen =
    s"CASE WHEN ($sqlNTok) = 0 THEN 0.0 ELSE CAST($sumTokLen AS DOUBLE) / CAST($sqlNTok AS DOUBLE) END"
  private val sqlPunctRatio =
    s"CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END"
  private val subwords =
    s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform($sqlToks, t -> CAST(ceil(CAST(length(t) AS DOUBLE)/4.0) AS BIGINT))), (a, x) -> a + x) END"
  // quality components, mirroring TextFunctions.qualityScore term order
  private val nD = s"CAST($sqlNTok AS DOUBLE)"
  private val lenScore = s"least($nD / 50.0, 1.0)"
  private val tokLenScore = s"CASE WHEN ($meanTokLen) >= 3.0 AND ($meanTokLen) <= 10.0 THEN 1.0 ELSE 0.5 END"
  private val punctScore = s"1.0 - least(($sqlPunctRatio) * 4.0, 1.0)"
  private val stopScore = s"CASE WHEN ($sqlNTok) = 0 THEN 0.0 ELSE least(CAST($nStop AS DOUBLE) / $nD * 10.0, 1.0) END"
  /** Full quality-score SQL (shared with the corpus-prep pipeline oracle). */
  private[graft] val quality =
    s"($lenScore) * 0.4 + ($tokLenScore) * 0.2 + ($punctScore) * 0.2 + ($stopScore) * 0.2"

  /** Per-character script-range hit count — DuckDB indexes strings by code
    * point, the kernel walks UTF-16 units; BMP-only ranges make the two
    * agree (supplementary chars match no range on either side). */
  private def sqlScriptScore(ranges: Seq[(Int, Int)]): String = {
    val cond = ranges
      .map { case (lo, hi) => s"(unicode(text[c7]) BETWEEN $lo AND $hi)" }
      .mkString(" OR ")
    s"len(list_filter(range(1, length(text)+1), c7 -> $cond))"
  }

  /** The langId kernel's DuckDB twin (argmax over marker/script scores,
    * 'und' on all-zero) — also reused by the pipeline_lm_partition twin. */
  private[graft] lazy val langCaseSql: String = {
    val langScores =
      LangMarkers.map { case (lang, ms) => lang -> sqlMarkerScore(ms) } ++
        LangScripts.map { case (lang, rs) => lang -> sqlScriptScore(rs) }
    val best = s"greatest(${langScores.map(x => s"(${x._2})").mkString(", ")})"
    langScores
      .map { case (lang, s) => s"WHEN ($s) = ($best) AND ($best) > 0 THEN '$lang'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** Twin of [[lmScored]]: CTE chain (use inside WITH) ending in
    * `lmscore(doc_id, n_tokens, mean_p, min_p)` — shared by the
    * text_lm_score and pipeline_lm_partition oracles. */
  private[graft] val lmScoreCtes: String =
    s"""tk AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |       ELSE list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '') END AS toks
       |  FROM documents),
       |e AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
       |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY tok),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
       |p AS (SELECT tok, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS p
       |  FROM v CROSS JOIN tot),
       |eo AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
       |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM tk),
       |ps AS (SELECT eo.doc_id, eo.u.pos AS pos, COALESCE(p.p, 0.0) AS p
       |  FROM eo LEFT JOIN p ON eo.u.tok = p.tok),
       |agg AS (SELECT doc_id, list(p ORDER BY pos) AS pl FROM ps GROUP BY doc_id),
       |lmscore AS (SELECT tk.doc_id,
       |  CAST(len(tk.toks) AS BIGINT) AS n_tokens,
       |  CASE WHEN len(tk.toks) = 0 THEN 0.0
       |       ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE), a.pl),
       |              (acc, x) -> acc + x) / CAST(len(tk.toks) AS DOUBLE) END AS mean_p,
       |  CASE WHEN len(tk.toks) = 0 THEN 0.0 ELSE list_min(a.pl) END AS min_p
       |FROM tk LEFT JOIN agg a ON tk.doc_id = a.doc_id)""".stripMargin

  def oracles: Map[String, String] = {
    val langCase = langCaseSql

    Map(
      "text_token_stats" ->
        s"""SELECT doc_id,
           |  CAST($sqlNTok AS BIGINT) AS n_tokens,
           |  CAST($subwords AS BIGINT) AS n_subwords,
           |  $meanTokLen AS mean_token_len,
           |  CAST($nStop AS BIGINT) AS n_stopwords
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_quality" ->
        s"""SELECT doc_id,
           |  $sqlPunctRatio AS punct_ratio,
           |  $quality AS quality
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_langid" ->
        s"""SELECT doc_id, $langCase AS lang_pred, lang AS lang_true
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_fingerprint" ->
        s"""SELECT doc_id, ${sqlPolyHash("text")} AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_pii" -> {
        // same regexes as the Spark side; DuckDB regexp_replace needs the
        // explicit 'g' flag to match Java replaceAll's global semantics
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        s"""WITH a AS (SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0 THEN 'contact user' || CAST(doc_id AS VARCHAR)
           |    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 ' || text
           |  ELSE text END AS aug FROM documents),
           |r AS (SELECT doc_id, aug,
           |  regexp_replace(regexp_replace(aug, '$email', '<EMAIL>', 'g'),
           |    '$ip', '<IP>', 'g') AS red FROM a)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ips,
           |  ${sqlPolyHash("red")} AS fp_redacted
           |FROM r ORDER BY doc_id""".stripMargin
      },
      "text_lm_score" ->
        s"""WITH $lmScoreCtes
           |SELECT doc_id, n_tokens, mean_p, min_p FROM lmscore
           |ORDER BY doc_id""".stripMargin,
      "text_inverted_index" ->
        s"""WITH e AS (SELECT doc_id, unnest($sqlToks) AS tok
           |  FROM documents WHERE length(trim(text)) > 0),
           |g AS (SELECT tok,
           |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           |  CAST(count(*) AS BIGINT) AS tf_total,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_sort(list(DISTINCT doc_id))),
           |    (a, x) -> (a*31 + x) % 1000000007) AS postings_hash
           |  FROM e GROUP BY tok)
           |SELECT tok, df, tf_total, postings_hash
           |FROM g ORDER BY df DESC, tok LIMIT 50""".stripMargin
    )
  }
}
