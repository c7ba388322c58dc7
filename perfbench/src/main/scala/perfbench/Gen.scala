package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random

import scala.collection.mutable.ArrayBuffer

import ParquetOut._

/** Seeded input generator. Runs in one thread of the benchmark's process,
  * without Spark: it writes parquet files (the only thing graft ever reads)
  * and a `truth.json` sidecar that only the benchmark's gates read. The same
  * seed and sizes give byte-identical files and truth. */
object Gen {

  /** Where a workload's inputs live: parquet tables under `dir`, truth in
    * `dir/truth.json`. */
  def truthPath(dir: Path): Path = dir.resolve("truth.json")

  private def writeTruth(dir: Path, fields: Seq[(String, Any)]): Unit =
    Files.write(truthPath(dir), (Json.render(fields) + "\n").getBytes(UTF_8))

  /** Tables are split across files, as stored datasets are; the counts are
    * fixed so that the inputs do not depend on the machine. */
  private val Files4 = 4
  private val Files8 = 8

  private def rng(seed: Long, salt: Long): Random = new Random(seed * 0x9E3779B97F4A7C15L + salt)

  // ------------------------------------------------------------------
  // pu_weight: Gaussian mixture with a hidden-positive set
  // ------------------------------------------------------------------

  case class PuSize(rows: Int, dim: Int)

  /** `positive(id)` is the hidden class; `labeled(id)` the observed PU
    * label (a labeled row is always positive). */
  case class PuTruth(positive: Array[Boolean], labeled: Array[Boolean])

  val PuPositiveShare = 0.6
  val PuLabeledShare = 0.9

  /** `pu.parquet`: (id, pu_label, features array<double>). Positives come
    * from two mixture components and negatives from four; half the
    * positives are labeled, the rest are the hidden positives the PU
    * learners must rank above the negatives. */
  def pu(dir: Path, seed: Long, size: PuSize): PuTruth = {
    // the mixture's geometry is fixed, the seed draws the rows from it
    val g = rng(0, 1)
    val spread = 0.25
    def center(): Array[Double] = Array.fill(size.dim)(g.nextGaussian() * spread)
    val posCenters = Array.fill(2)(center())
    val negCenters = Array.fill(4)(center())
    val r = rng(seed, 1)
    val positive = new Array[Boolean](size.rows)
    val labeled = new Array[Boolean](size.rows)
    val features = Array.tabulate(size.rows) { i =>
      val pos = r.nextDouble() < PuPositiveShare
      positive(i) = pos
      labeled(i) = pos && r.nextDouble() < PuLabeledShare
      val cs = if (pos) posCenters else negCenters
      val c = cs(r.nextInt(cs.length))
      Array.tabulate(size.dim)(d => c(d) + r.nextGaussian())
    }
    ParquetOut.write(dir.resolve("pu"),
        Seq(LongCol("id"), IntCol("pu_label"), DoublesCol("features")), size.rows, Files4) { i =>
      Array[Any](i.toLong, if (labeled(i)) 1 else 0, features(i))
    }
    val truth = PuTruth(positive, labeled)
    writeTruth(dir, Seq(
      "rows" -> size.rows,
      "labeled_ids" -> labeled.indices.filter(labeled(_)),
      "hidden_positive_ids" -> positive.indices.filter(i => positive(i) && !labeled(i))))
    truth
  }

  // ------------------------------------------------------------------
  // curate_corpus: Zipf corpus with planted duplicates, low-quality docs
  // and eval contamination
  // ------------------------------------------------------------------

  case class CorpusSize(docs: Int, minTokens: Int = 200, maxTokens: Int = 400)

  /** `dupClusters`: each planted cluster's ids, ascending; the first id is
    * the original, the rest are copies written later (higher ids), so a
    * correct dedup keeps exactly the first. `tokens(id)` is the
    * whitespace token count of doc `id`. */
  case class CorpusTruth(docs: Int, tokens: Array[Int], lowQuality: Array[Long],
                         eval: Array[Long], contaminated: Array[Long],
                         dupClusters: Array[Array[Long]]) {
    def copies: Array[Long] = dupClusters.flatMap(_.tail)
  }

  /** Eval slice source: [[graft.operators.CurationPipeline.decontaminate]]
    * treats this source as the held-out eval set. */
  val EvalSource = "src19"

  val Stopwords: Seq[String] = graft.functions.TextFunctions.Stopwords

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** The i-th generated word: 2 syllables below 8100, else 3. Never
    * contains 'x', which marks eval-only words. */
  def word(i: Int): String = {
    val nSyl = if (i < 8100) 2 else 3
    val sb = new StringBuilder
    var v = i
    for (_ <- 0 until nSyl) {
      val s = v % 90
      sb += Consonants(s % 18); sb += Vowels(s / 18)
      v /= 90
    }
    sb.toString
  }

  /** Cumulative Zipf(s) distribution over ranks 0..n-1. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => math.pow(i + 1, -s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def draw(cdf: Array[Double], r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  val VocabSize = 30000
  val EvalVocabSize = 3000
  val ZipfS = 0.8
  val NearDupEditRate = 0.08
  val ContaminationSpan = 12

  /** `documents.parquet`: (doc_id, source, text). Base docs come first in
    * random roles; duplicate copies are appended after them. */
  def corpus(dir: Path, seed: Long, size: CorpusSize): CorpusTruth = {
    val r = rng(seed, 2)
    val cdf = zipfCdf(VocabSize, ZipfS)
    val evalCdf = zipfCdf(EvalVocabSize, ZipfS)
    // ranks 0..9 are the stopwords, so every clean doc passes the stopword rule
    val vocab = Stopwords.toArray ++ Array.tabulate(VocabSize - Stopwords.size)(word)
    val evalVocab = Array.tabulate(EvalVocabSize)(i => "x" + word(i))
    def clean(n: Int): Array[String] = Array.fill(n)(vocab(draw(cdf, r)))
    def length(): Int = size.minTokens + r.nextInt(size.maxTokens - size.minTokens + 1)

    val texts = ArrayBuffer.empty[Array[String]]
    val sources = ArrayBuffer.empty[String]
    val lowQ, evalIds, contam = ArrayBuffer.empty[Long]
    val cleanIds = ArrayBuffer.empty[Long]
    val nEval = math.max(4, size.docs / 100)
    // eval docs first: contamination copies spans out of them
    for (_ <- 0 until nEval) {
      evalIds += texts.size
      texts += Array.fill(150)(evalVocab(draw(evalCdf, r)))
      sources += EvalSource
    }
    while (texts.size < size.docs) {
      val id = texts.size.toLong
      val u = r.nextDouble()
      val toks =
        if (u < 0.015) { // repetitive: every other token is one filler word
          lowQ += id
          val filler = vocab(10 + r.nextInt(1000))
          val base = clean(200)
          base.indices.map(j => if (j % 2 == 0) filler else base(j)).toArray
        } else if (u < 0.03) { // too short for the token-count rule
          lowQ += id
          clean(20 + r.nextInt(20))
        } else if (u < 0.05) { // a span of an eval doc pasted into clean text
          contam += id
          val base = clean(length())
          val ev = texts(evalIds(r.nextInt(evalIds.size)).toInt)
          val from = r.nextInt(ev.length - ContaminationSpan)
          val at = r.nextInt(base.length)
          base.take(at) ++ ev.slice(from, from + ContaminationSpan) ++ base.drop(at)
        } else {
          cleanIds += id
          clean(length())
        }
      texts += toks
      sources += s"src${r.nextInt(19)}"
    }
    // duplicate clusters: 5% of clean docs get 1-3 later copies, exact or
    // token-edited
    val originals = cleanIds.filter(_ => r.nextDouble() < 0.05)
    val clusters = originals.map { o =>
      val src = texts(o.toInt)
      val n = 1 + r.nextInt(3)
      val ids = (0 until n).map { _ =>
        val id = texts.size.toLong
        val copy =
          if (r.nextDouble() < 0.4) src.clone()
          else src.map(t => if (r.nextDouble() < NearDupEditRate) vocab(draw(cdf, r)) else t)
        texts += copy
        sources += sources(o.toInt)
        id
      }
      (o +: ids).toArray
    }.toArray

    ParquetOut.write(dir.resolve("documents"),
        Seq(LongCol("doc_id"), StrCol("source"), StrCol("text")), texts.size, Files8) { i =>
      Array[Any](i.toLong, sources(i), texts(i).mkString(" "))
    }
    val truth = CorpusTruth(texts.size, texts.map(_.length).toArray, lowQ.toArray,
      evalIds.toArray, contam.toArray, clusters)
    writeTruth(dir, Seq(
      "docs" -> truth.docs,
      "tokens" -> truth.tokens,
      "low_quality_ids" -> truth.lowQuality,
      "eval_ids" -> truth.eval,
      "contaminated_ids" -> truth.contaminated,
      "dup_clusters" -> truth.dupClusters))
    truth
  }

  // ------------------------------------------------------------------
  // retrieve_mixed: Zipf-sized clusters, append batches, held-out queries
  // ------------------------------------------------------------------

  /** `anchors`: the first ids, drawn from the fixed geometry, so the
    * lowest-id centroids (and the IVF lists they make) are the same for
    * every seed. */
  case class RetrieveSize(base: Int, dim: Int, appendRows: Int, appends: Int,
                          queries: Int, sampleQueries: Int, anchors: Int, clusters: Int = 48)

  /** `top10(i)`: exact cosine top-10 corpus ids (base plus every append
    * batch) of query `sampleIds(i)`, best first, ties to the lower id. */
  case class RetrieveTruth(corpusRows: Int, queryIds: Array[Long],
                           sampleIds: Array[Long], top10: Array[Array[Long]])

  val QueryIdBase = 1000000000L

  /** `base.parquet`, `append_NNN.parquet` and `queries.parquet`, each
    * (vec_id, embedding array<float>). Cluster sizes are Zipf-skewed, so
    * IVF lists are uneven; queries are held out from the same mixture. */
  def retrieve(dir: Path, seed: Long, size: RetrieveSize): RetrieveTruth = {
    // fixed cluster geometry; the seed draws the points from it
    val g = rng(0, 3)
    val centers = Array.fill(size.clusters)(Array.fill(size.dim)(g.nextGaussian()))
    val r = rng(seed, 3)
    val cdf = zipfCdf(size.clusters, 1.1)
    def point(r: Random): Array[Float] = {
      val c = centers(draw(cdf, r))
      Array.tabulate(size.dim)(d => (c(d) + 0.6 * r.nextGaussian()).toFloat)
    }
    val total = size.base + size.appends * size.appendRows
    val corpus = Array.tabulate(total)(i => point(if (i < size.anchors) g else r))
    val queries = Array.fill(size.queries)(point(r))
    val cols = Seq(LongCol("vec_id"), FloatsCol("embedding"))
    ParquetOut.write(dir.resolve("base"), cols, size.base, Files8)(i => Array[Any](i.toLong, corpus(i)))
    for (b <- 0 until size.appends) {
      val from = size.base + b * size.appendRows
      ParquetOut.write(dir.resolve(f"append_$b%03d"), cols, size.appendRows, 1) { i =>
        Array[Any]((from + i).toLong, corpus(from + i))
      }
    }
    val queryIds = Array.tabulate(size.queries)(i => QueryIdBase + i)
    ParquetOut.write(dir.resolve("queries"), cols, size.queries, 1)(i => Array[Any](queryIds(i), queries(i)))

    // every k-th query is in the recall sample
    val stride = math.max(1, size.queries / size.sampleQueries)
    val sample = (0 until size.sampleQueries).map(_ * stride)
    val cv = corpus.map(_.map(_.toDouble))
    val cn = cv.map(v => math.sqrt(dot(v, v)))
    val top10 = sample.map { qi =>
      val q = queries(qi).map(_.toDouble)
      val qn = math.sqrt(dot(q, q))
      // insertion top-10; scanning ids upward keeps ties on the lower id
      val best = Array.fill(10)(Double.NegativeInfinity)
      val ids = Array.fill(10)(-1L)
      var i = 0
      while (i < cv.length) {
        val c = dot(q, cv(i)) / (qn * cn(i))
        if (c > best(9)) {
          var j = 9
          while (j > 0 && best(j - 1) < c) { best(j) = best(j - 1); ids(j) = ids(j - 1); j -= 1 }
          best(j) = c; ids(j) = i
        }
        i += 1
      }
      ids
    }.toArray
    val truth = RetrieveTruth(total, queryIds, sample.map(queryIds(_)).toArray, top10)
    writeTruth(dir, Seq(
      "corpus_rows" -> total,
      "sample_query_ids" -> truth.sampleIds,
      "top10" -> truth.top10))
    truth
  }

  /** Same summation order as graft's `dot` kernel. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
