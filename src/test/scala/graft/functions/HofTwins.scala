package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import TextFunctions.{LangMarkers, LangScripts, Stopwords, argmaxLang, tokens}

/** The interpreted higher-order-function formulations the fused text
  * kernels replaced: spec oracles only. Each is the Column twin of a
  * `TextFunctions` accessor over `textStats` / `langMarkerCounts`, and
  * NativeExpressionsSpec pins the two bit-identical on the corpus. */
object HofTwins {

  def tokenCountHof(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  def subwordCountHof(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L)).otherwise(
      aggregate(tokens(text), lit(0L),
        (acc, t) => acc + ceil(length(t).cast(DoubleType) / lit(4.0)).cast(LongType)))

  def stopwordCountHof(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(
      size(filter(tokens(text), t => t.isInCollection(Stopwords))))

  def punctRatioHof(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast(DoubleType)
        / length(text).cast(DoubleType))

  def meanTokenLenHof(text: Column): Column = {
    val n = tokenCountHof(text)
    when(n === 0, lit(0.0)).otherwise(
      aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
        .cast(DoubleType) / n.cast(DoubleType))
  }

  def langMarkerScore(text: Column, markers: Seq[String]): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(
      size(filter(tokens(text), t => t.isInCollection(markers))))

  /** Per-character script-range hit count (HOF formulation — `split` by
    * the empty pattern yields code points, and all ranges are BMP, so
    * this matches the kernel's UTF-16 walk exactly; see the kernel note). */
  def scriptScoreHof(text: Column, ranges: Seq[(Int, Int)]): Column =
    size(filter(split(text, ""), c =>
      ranges.map { case (lo, hi) => ascii(c) >= lo && ascii(c) <= hi }
        .reduce((a, b) => a || b)))

  def langIdHof(text: Column): Column =
    argmaxLang(
      LangMarkers.map { case (lang, ms) => lang -> langMarkerScore(text, ms) } ++
        LangScripts.map { case (lang, rs) => lang -> scriptScoreHof(text, rs) })
}
