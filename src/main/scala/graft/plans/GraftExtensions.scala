package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.IntegerType

import graft.functions.NativeExpressions._

/** SparkSessionExtensions entry point: registers graft's native codegen
  * expressions as SQL functions, so pure-SQL users (spark.sql, JDBC,
  * notebooks) reach them without the Scala DSL:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)               // programmatic
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  *   .getOrCreate()
  * spark.sql("SELECT graft_polyhash(text), graft_token_hashes(text) FROM docs")
  * }}}
  *
  * This is the (c) tier of the customization ladder (compose built-ins →
  * custom Expression → extension registration); no custom logical plans or
  * strategies are needed anywhere in graft — every operator compiles to
  * built-in plans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One SQL function, built through the same Column-level def the Scala
    * DSL calls, so both reach the same node. */
  private def function(name: String, usage: String)(build: Seq[Column] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      (args: Seq[Expression]) =>
      GraftColumnBridge.expression(build(args.map(GraftColumnBridge.column))))

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      function("graft_polyhash", "graft_polyhash(str) - rolling hash mod 1e9+7")(
        a => polyHash(a(0))),
      function("graft_token_hashes", "graft_token_hashes(str) - per-token rolling hashes")(
        a => tokenHashes(a(0))),
      function("graft_dot", "graft_dot(arr, arr) - sequential-order dot product")(
        a => dot(a(0), a(1))),
      function("graft_text_stats",
        "graft_text_stats(str) - [len, nTokens, sumTokLen, nStop, nPunct, nSubwords] in one pass")(
        a => textStats(a(0))),
      function("graft_lang_marker_counts",
        "graft_lang_marker_counts(str) - per-language marker-token hit counts")(
        a => langMarkerCounts(a(0))),
      function("graft_shingle_hashes",
        "graft_shingle_hashes(str, n) - sorted-distinct word n-gram hashes")(
        a => shingleHashes(a(0), intArg(a(1), "n"))),
      function("graft_minhash", "graft_minhash(arr, k) - k-long MinHash signature")(
        a => minhashSignature(a(0), intArg(a(1), "k"))),
      function("graft_simhash", "graft_simhash(arr) - 30-bit frequency-weighted SimHash")(
        a => simhash(a(0))),
      function("graft_band_hashes",
        "graft_band_hashes(sig, bands, rows) - per-band base-31 combines")(
        a => bandHashes(a(0), intArg(a(1), "bands"), intArg(a(2), "rows"))),
      function("graft_repetition_stats",
        "graft_repetition_stats(str) - [nTokens, nDistinct, topFreq, nBigrams, nDistinctBigrams] in one pass")(
        a => repetitionStats(a(0))),
      function("graft_int_dot",
        "graft_int_dot(arr<tinyint>, arr<tinyint>) - exact integer dot as bigint")(
        a => intDot(a(0), a(1))),
      function("graft_sorted_intersect_size",
        "graft_sorted_intersect_size(a, b) - |a ∩ b| of strictly-ascending arrays")(
        a => sortedIntersectSize(a(0), a(1))))

  /** Shape parameters (shingle width, signature length, banding) must be
    * literal ints — they select a kernel specialization, they are not data. */
  private def intArg(c: Column, name: String): Int = GraftColumnBridge.expression(c) match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Register into an already-running session (extensions only apply at
    * session construction; this covers REPL/test sessions). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (ident, inf, builder) =>
      GraftColumnBridge.registerFunction(spark, ident, inf, builder)
    }
}
