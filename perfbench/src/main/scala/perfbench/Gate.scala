package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

import graft.ml.Classify
import graft.pipeline.PairVectors

/** Correctness gate. Expected values never come from the code under test:
  * pair vectors come from `graft.NaiveSemanticOracle` (plain Scala
  * collections, no Spark). Battery rows are checked against DuckDB outside
  * the JVM (`tables.py`).
  */
object Gate {

  type Key = (String, String, Boolean)

  /** Values agree when equal, both NaN, or within 1e-9 relative: the fused
    * plan sums in hash-aggregation order, the oracle in feature order.
    */
  def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      (!a.isInfinite && !b.isInfinite &&
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b))))

  /** Rows `w1, w2, related, <24 vector columns>` → keyed vectors. */
  def vectorsOf(rows: Array[Row]): Map[Key, Array[Double]] =
    rows.map { r =>
      val k = (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Boolean]("related"))
      k -> PairVectors.vectorColumns.map(c => r.getAs[Double](c)).toArray
    }.toMap

  def checkVectors(actual: Array[Row], expected: Map[Key, Array[Double]])
      : Option[String] = {
    if (actual.length != expected.size)
      return Some(s"vectors: ${actual.length} rows, oracle ${expected.size}")
    val got = vectorsOf(actual)
    if (got.size != actual.length) return Some("vectors: duplicate pair keys")
    expected.iterator.map { case (k, want) =>
      got.get(k) match {
        case None => Some(s"vectors: missing pair $k")
        case Some(have) =>
          have.indices.find(i => !close(have(i), want(i))).map(i =>
            s"vectors: pair $k column ${PairVectors.vectorColumns(i)}: " +
              s"${have(i)} != oracle ${want(i)}")
      }
    }.collectFirst { case Some(e) => e }
  }

  /** ARFF rows (`related` + vector columns; ARFF carries no word pair)
    * against the job's Step-4 rows, which [[checkVectors]] holds to the
    * oracle: both read back the same Step-4 text, so the two must be the
    * same multiset, value for value.
    */
  def checkArff(arff: Array[Row], step4: Array[Row]): Option[String] = {
    def sorted(rows: Array[Row]): Array[Seq[Double]] = rows.map { r =>
      (if (r.getAs[Boolean]("related")) 1.0 else 0.0) +:
        PairVectors.vectorColumns.map(c => r.getAs[Double](c))
    }.sorted(Ordering.Implicits.seqOrdering[Seq, Double](Ordering.Double.TotalOrdering))
    if (arff.length != step4.length)
      return Some(s"arff: ${arff.length} rows, Step-4 text ${step4.length}")
    val columns = "related" +: PairVectors.vectorColumns
    sorted(arff).iterator.zip(sorted(step4).iterator).zipWithIndex.map {
      case ((a, b), i) =>
        a.indices.find(j => java.lang.Double.compare(a(j), b(j)) != 0).map(j =>
          s"arff: sorted row $i column ${columns(j)}: ${a(j)} != Step-4 ${b(j)}")
    }.collectFirst { case Some(e) => e }
  }

  /** The confusion matrix must cover exactly the oracle's instances, with
    * each actual class of the size the oracle gives it, and predict both
    * classes.
    */
  def checkReport(r: Classify.Report, expected: Map[Key, Array[Double]])
      : Option[String] = {
    val similar = expected.keys.count(_._3).toLong
    val other = expected.size.toLong - similar
    val matrix = s"[${r.tp} ${r.fn}; ${r.fp} ${r.tn}]"
    if (r.nInstances != expected.size)
      Some(s"report: ${r.nInstances} instances, oracle ${expected.size}")
    else if (r.tp + r.fn != similar || r.fp + r.tn != other)
      Some(s"report: confusion matrix $matrix does not split into " +
        s"$similar similar / $other not-similar")
    else if (r.tp + r.fp == 0 || r.fn + r.tn == 0)
      Some(s"report: confusion matrix $matrix predicts a single class")
    else None
  }

  /** Order-independent fingerprint of oracle vectors, for the artifact. */
  def digest(expected: Map[Key, Array[Double]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    expected.toSeq.sortBy(_._1.toString).foreach { case (k, v) =>
      md.update(s"$k:${v.map(x => f"$x%.9e").mkString(",")}\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
