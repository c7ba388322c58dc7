package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of (seed, sizes): the same seed gives
  * byte-identical parquet files and truth, another seed different ones. */
class GenSpec extends AnyFunSuite {

  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  private def check(gen: (Path, Long) => Any): Unit = {
    val root = Files.createTempDirectory("perfbench-gen")
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => Files.createDirectories(root.resolve(n)))
    gen(a, 7L); gen(b, 7L); gen(c, 8L)
    val (fa, fb, fc) = (files(a), files(b), files(c))
    assert(fa.keySet.contains("truth.json"))
    assert(fa.keySet.exists(_.endsWith(".parquet")))
    assert(fa == fb, "same seed must give identical bytes")
    assert(fa.keySet == fc.keySet)
    for (k <- fa.keySet) assert(fa(k) != fc(k), s"$k must differ under another seed")
  }

  test("pu inputs and truth are a function of the seed") {
    check((d, s) => Gen.pu(d, s, Gen.PuSize(rows = 400, dim = 8)))
  }

  test("corpus inputs and truth are a function of the seed") {
    check((d, s) => Gen.corpus(d, s, Gen.CorpusSize(docs = 600)))
  }

  test("retrieve inputs and truth are a function of the seed") {
    check((d, s) => Gen.retrieve(d, s, Gen.RetrieveSize(base = 800, dim = 8,
      appendRows = 50, appends = 2, queries = 32, sampleQueries = 8, anchors = 4)))
  }

  test("the corpus plants every kind of case the curate gate checks") {
    val t = Gen.corpus(Files.createTempDirectory("perfbench-gen"), 3L, Gen.CorpusSize(docs = 2000))
    assert(t.lowQuality.nonEmpty && t.eval.nonEmpty && t.contaminated.nonEmpty)
    assert(t.dupClusters.nonEmpty && t.dupClusters.forall(c => c.length >= 2 && c.sorted.sameElements(c)))
    assert(t.tokens.length == t.docs)
  }
}
