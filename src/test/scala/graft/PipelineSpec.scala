package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Differential tests of the distributed pipeline against
  * [[NaiveSemanticOracle]] on the reference's own fixtures
  * (`small-sample.txt`, `test_gold_standard.txt`, and a slice of
  * `word-relatedness.txt`).
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val corpusPath = "/root/reference/small-sample.txt"
  private val goldPath = "/root/reference/test_gold_standard.txt"

  // Decode with UTF-8 replacement (not strict) to see exactly the
  // characters Spark's text source produces for invalid byte sequences —
  // small-sample.txt contains some (e.g. line 2).
  private def readLines(p: String): Seq[String] =
    new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector

  private lazy val corpusLines = readLines(corpusPath)

  test("edges match naive oracle on small-sample (exact multiset)") {
    val got = Biarcs.readEdges(spark, corpusPath)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val want = NaiveSemanticOracle.edges(corpusLines)
      .map(e => (e.lex, e.feat, e.cnt)).sorted
    assert(got.size == want.size, s"edge count ${got.size} != ${want.size}")
    assert(got == want)
  }

  test("counts: marginals re-aggregated from pairs equal edge-level sums") {
    val counts = Counts.fromEdges(Biarcs.readEdges(spark, corpusPath))
    val es = NaiveSemanticOracle.edges(corpusLines)
    assert(counts.total == es.map(_.cnt).sum)
    val lexWant = es.groupMapReduce(_.lex)(_.cnt)(_ + _)
    val lexGot = counts.lexemes.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lexGot == lexWant)
    val featWant = es.groupMapReduce(_.feat)(_.cnt)(_ + _)
    val featGot = counts.features.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(featGot == featWant)
  }

  test("association measures match naive oracle (1e-12 rel)") {
    val gotMap = SemanticPipeline.associations(spark, corpusPath).collect()
      .map(r => (r.getAs[String]("lexeme"), r.getAs[String]("feature")) ->
        Array(r.getAs[Double]("assoc_freq"), r.getAs[Double]("assoc_prob"),
          r.getAs[Double]("assoc_pmi"), r.getAs[Double]("assoc_ttest"))).toMap
    val want = NaiveSemanticOracle.assoc(corpusLines)
    assert(gotMap.keySet == want.keySet)
    for ((k, w) <- want; i <- 0 until 4) {
      val g = gotMap(k)(i)
      assert(relClose(g, w(i)), s"$k measure $i: got $g want ${w(i)}")
    }
  }

  for (faithful <- Seq(false, true)) {
    test(s"24-dim vectors match naive oracle (faithful=$faithful)") {
      val df = SemanticPipeline.vectors(spark, corpusPath, goldPath, faithful)
      val got = df.collect().map { r =>
        (r.getAs[String]("w1"), r.getAs[String]("w2"), r.getAs[Boolean]("related")) ->
          PairVectors.vectorColumns.map(c => r.getAs[Double](c)).toArray
      }.toMap
      val want = NaiveSemanticOracle.vectors(corpusLines, readLines(goldPath), faithful)
      assert(got.keySet == want.keySet,
        s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
      for ((k, w) <- want; i <- 0 until 24) {
        val g = got(k)(i)
        assert(relClose(g, w(i)), s"$k dim $i (${PairVectors.vectorColumns(i)}): got $g want ${w(i)}")
      }
      // the reference's own smoke pair must be present and labeled related
      assert(got.keySet.exists(k => k._1 == "about" && k._2 == "us" && k._3))
    }
  }

  test("vectors on a word-relatedness slice produce sane similarity identities") {
    // gold pairs of a word with itself: cosine == 1, jaccard == 1, js == 0
    // for every measure (corrected mode), provided the word has features.
    val lex = "abound" // present in small-sample
    val tmp = java.nio.file.Files.createTempFile("gold_self", ".txt")
    java.nio.file.Files.writeString(tmp, s"abounds abounding True\n")
    val df = SemanticPipeline.vectors(spark, corpusPath, tmp.toString, faithful = false)
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("w1") == lex && r.getAs[String]("w2") == lex)
    for (m <- PairVectors.measureShort) {
      assert(relClose(r.getAs[Double](s"${m}_cosine"), 1.0), s"${m}_cosine")
      assert(relClose(r.getAs[Double](s"${m}_jaccard"), 1.0), s"${m}_jaccard")
      assert(math.abs(r.getAs[Double](s"${m}_manhattan")) < 1e-9, s"${m}_manhattan")
      assert(math.abs(r.getAs[Double](s"${m}_js")) < 1e-9, s"${m}_js")
    }
  }

  private def relClose(a: Double, b: Double): Boolean =
    (a == b) || (a.isInfinite && b.isInfinite && math.signum(a) == math.signum(b)) ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
