package perfbench

import java.nio.file.{Files, Path}
import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import graft.io.{ArffSink, VectorSource}
import graft.ml.Classify
import graft.pipeline.{PairVectors, SemanticPipeline}

/** The benchmark's own test: `perfbench.SelfTest <work dir>`.
  *
  *  - the generator gives byte-identical files for one seed and different
  *    files for another;
  *  - the gate accepts the engine's vectors and rejects them after one
  *    vector value is flipped; it accepts the ARFF read back and rejects it
  *    after one value is flipped; it rejects a confusion matrix that does
  *    not split into the oracle's classes or that predicts one class only.
  *
  * The battery-row gate and the table generator are tested by
  * `tables.selftest`.
  * Exits 1 on the first failed check.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def same(a: Path, b: Path): Boolean =
    Seq("corpus.txt", "gold.txt").forall(f =>
      Arrays.equals(Files.readAllBytes(a.resolve(f)), Files.readAllBytes(b.resolve(f))))

  /** `rows` with one vector value of the first row changed. */
  private def flip(rows: Array[Row]): Array[Row] = {
    val r = rows(0)
    val i = r.fieldIndex(PairVectors.vectorColumns(5))
    val vals = r.toSeq.toArray
    vals(i) = -r.getDouble(i) - 1.0
    rows.updated(0, new GenericRowWithSchema(vals, r.schema))
  }

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0)).toAbsolutePath
    val spec = CorpusSpec(lines = 3000, vocab = 800, topics = 8, goldPairs = 80,
      relatedRate = 0.2, absentPairs = 2)
    Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).foreach { case (d, seed) =>
      Gen.write(work.resolve(d), seed, spec)
    }
    expect(same(work.resolve("a"), work.resolve("b")),
      "generator: same seed gives byte-identical corpus and gold")
    expect(!same(work.resolve("a"), work.resolve("c")),
      "generator: another seed gives different files")

    val spark = Main.session(work, 2)
    try {
      val corpus = work.resolve("a/corpus.txt")
      val gold = work.resolve("a/gold.txt")
      val lines = (p: Path) => Files.readAllLines(p).asScala.toSeq
      for (faithful <- Seq(false, true)) {
        val expected = graft.NaiveSemanticOracle.vectors(
          lines(corpus), lines(gold), faithful)
        val rows = SemanticPipeline.vectors(spark, corpus.toString,
          gold.toString, faithful).collect()
        expect(rows.nonEmpty && Gate.checkVectors(rows, expected).isEmpty,
          s"gate (faithful=$faithful): engine vectors match the oracle")
        expect(Gate.checkVectors(flip(rows), expected).isDefined,
          s"gate (faithful=$faithful): one flipped vector value fails")
        if (faithful) {
          val arffPath = work.resolve("vectors.arff").toString
          ArffSink.writeLocal(spark.createDataFrame(rows.toSeq.asJava,
            rows.head.schema), arffPath)
          val arff = VectorSource.readArff(spark, arffPath).collect()
          expect(Gate.checkArff(arff, rows).isEmpty,
            "gate: the ARFF read back matches the Step-4 rows")
          expect(Gate.checkArff(flip(arff), rows).isDefined,
            "gate: one flipped ARFF value fails")
          val similar = expected.keys.count(_._3).toLong
          val good = Classify.Report(2, expected.size, 0, 0, 0, 0, 0, 0, 0, 0,
            0, 0, 0, similar, 0, 0, expected.size - similar)
          expect(Gate.checkReport(good, expected).isEmpty,
            "gate: a confusion matrix with the oracle's class sizes passes")
          expect(Gate.checkReport(good.copy(tp = similar - 1, fp = 1,
            tn = expected.size - similar - 1), expected).isDefined,
            "gate: a confusion matrix with wrong class sizes fails")
          expect(Gate.checkReport(good.copy(tp = 0, fn = similar), expected).isDefined,
            "gate: a confusion matrix predicting one class fails")
        }
      }
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
