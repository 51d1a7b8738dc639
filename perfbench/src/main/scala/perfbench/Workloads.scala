package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.io.{ArffSink, FaithfulText, VectorSource}
import graft.ml.Classify
import graft.pipeline._

/** One job's output plus the boundary counts a traced job records. The
  * ARFF relation the classifier read is kept unread, so the gate's collect
  * stays out of the timed job.
  */
final case class JobOut(
    vectors: Array[Row] = Array.empty,
    arff: Option[DataFrame] = None,
    report: Option[Classify.Report] = None,
    rows: Map[String, Array[Row]] = Map.empty,
    counts: Map[String, Double] = Map.empty)

/** Per-run context: the session, the recorder and a scratch directory for
  * each job's outputs.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val dir: Path) {
  private var n = 0
  /** A fresh, empty output directory path for one sink of one job. */
  def out(name: String): String = {
    n += 1
    dir.resolve(s"out-$n-$name").toString
  }
}

trait Workload {
  def name: String
  /** Writes the inputs for `seed` under `dir`; returns their sizes. */
  def generate(dir: Path, seed: Long): Map[String, Double]
  /** Paths of the generated input files, for the determinism check. */
  def inputFiles(dir: Path): Seq[Path]
  /** Uses the inputs generated under `dir` from now on. */
  def use(dir: Path): Unit
  /** One complete job. Traced jobs open a span per layer and materialize
    * each layer's output at its boundary.
    */
  def job(ctx: Ctx, traced: Boolean): JobOut
  /** Builds the expected outputs from an independent computation. */
  def expect(): Map[String, String]
  /** None when `out` matches the expected outputs. Called once per job, in
    * job order.
    */
  def check(out: JobOut): Option[String]
  /** Writes what is checked outside the JVM; `outs` in job order, None for
    * a job that threw.
    */
  def export(spark: SparkSession, outs: Seq[Option[JobOut]], dir: Path): Unit = ()
}

object Workloads {

  def layer[T](ctx: Ctx, traced: Boolean, name: String)(body: => T): T =
    if (traced) ctx.rec.span(name)(body)._1 else body

  /** Bytes and data files under a sink directory (or one file). */
  def sizeOf(p: String): (Long, Int) = {
    val data = scala.util.Using.resource(Files.walk(Path.of(p))) { walk =>
      walk.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
    }
    (data.map(Files.size).sum, data.size)
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  /** The reference's way of running the pipeline: the Step-1 and Step-3
    * relations written as text, `vectorsOrdered(faithful = true)` written as
    * Step-4 text and read back, the ARFF rebuilt from it, and the classifier
    * fed from the ARFF. Expected vectors come from `NaiveSemanticOracle`.
    * The folds are content-hashed and the forest seeded, so every job must
    * give the first job's confusion matrix.
    */
  final class Staged(spec: CorpusSpec) extends Workload {
    val name = "staged_faithful"
    private val folds = 2
    private val trees = 10
    private var corpus: Path = _
    private var gold: Path = _
    private var stats: Map[String, Double] = Map.empty
    private var expected: Map[Gate.Key, Array[Double]] = Map.empty
    private var firstMatrix: Option[Seq[Long]] = None

    def generate(dir: Path, seed: Long): Map[String, Double] = {
      val (c, g, tokens) = Gen.write(dir, seed, spec)
      stats = Map("corpus_lines" -> spec.lines.toDouble,
        "corpus_tokens" -> tokens.toDouble,
        "corpus_mb" -> Files.size(c) / 1e6,
        "gold_pairs" -> lines(g).size.toDouble)
      stats
    }

    def inputFiles(dir: Path): Seq[Path] =
      Seq(dir.resolve("corpus.txt"), dir.resolve("gold.txt"))

    def use(dir: Path): Unit = {
      corpus = dir.resolve("corpus.txt"); gold = dir.resolve("gold.txt")
    }

    def expect(): Map[String, String] = {
      expected = graft.NaiveSemanticOracle.vectors(
        lines(corpus), lines(gold), faithful = true)
      Map("oracle" -> "NaiveSemanticOracle",
        "vectors_sha256" -> Gate.digest(expected),
        "pairs" -> expected.size.toString)
    }

    def check(out: JobOut): Option[String] =
      Gate.checkVectors(out.vectors, expected)
        .orElse(out.arff.flatMap(a => Gate.checkArff(a.collect(), out.vectors)))
        .orElse(out.report.flatMap { r =>
          val matrix = Seq(r.tp, r.fn, r.fp, r.tn)
          if (firstMatrix.isEmpty) firstMatrix = Some(matrix)
          Gate.checkReport(r, expected).orElse(
            if (firstMatrix.contains(matrix)) None
            else Some(s"report: confusion matrix ${matrix.mkString(" ")}, " +
              s"first job ${firstMatrix.get.mkString(" ")}"))
        })

    /** Biarcs, Counts and Associate as traced layers; counts' relations are
      * checkpointed at their boundary so later layers do not re-run them.
      */
    private def tracedAssociations(ctx: Ctx, m: mutable.Map[String, Double])
        : (DataFrame, CorpusCounts) = {
      val spark = ctx.spark
      val edges = ctx.rec.span("biarcs") {
        Biarcs.readEdges(spark, corpus.toString).localCheckpoint()
      }._1
      val nEdges = edges.count().toDouble
      m("biarcs.lines_in") = stats("corpus_lines")
      m("biarcs.edges_out") = nEdges
      m("biarcs.edges_per_token") = nEdges / stats("corpus_tokens")
      val before = cachedBytes(spark)
      val counts = ctx.rec.span("counts") {
        val c = Counts.fromEdges(edges)
        c.copy(lexemes = c.lexemes.localCheckpoint(),
          features = c.features.localCheckpoint())
      }._1
      val pairs = counts.pairs.count().toDouble
      m("counts.pairs_out") = pairs
      m("counts.combine_ratio") = pairs / nEdges
      m("counts.cache_mb") = (cachedBytes(spark) - before) / 1e6
      val (assoc, s) = ctx.rec.span("associate") {
        Associate.associate(counts).localCheckpoint()
      }
      m("associate.rows_out") = assoc.count().toDouble
      m("associate.broadcast_joins") = s.self.broadcastJoins.toDouble
      m("associate.smj_joins") = s.self.smjJoins.toDouble
      (assoc, counts)
    }

    /** `Classify`'s cross-validated forest and its report. */
    private def classify(vectors: DataFrame): Classify.Report = {
      val preds = Classify.crossValPredictions(vectors, folds, 42L, trees)
      try Classify.evaluate(preds, folds) finally preds.unpersist()
    }
    def job(ctx: Ctx, traced: Boolean): JobOut = {
      val spark = ctx.spark
      val m = mutable.Map.empty[String, Double]
      var bytes = 0L
      var files = 0
      def sink(df: DataFrame, what: String): String = {
        val p = ctx.out(what)
        df.write.text(p)
        val (b, f) = sizeOf(p)
        bytes += b; files += f
        p
      }
      val (assoc, counts) =
        if (traced) tracedAssociations(ctx, m)
        else {
          val c = Counts.fromEdges(Biarcs.readEdges(spark, corpus.toString))
          (Associate.associate(c), c)
        }
      layer(ctx, traced, "io") {
        sink(Counts.taggedUnion(counts), "step1")
        sink(FaithfulText.assocLines(assoc), "step3")
      }
      val vectors = layer(ctx, traced, "pairvectors") {
        val g = PairVectors.parseGold(spark.read.text(gold.toString))
        val v = PairVectors.vectorsOrdered(assoc, g, faithful = true)
        if (traced) v.localCheckpoint() else v
      }
      val (rows, arffDf) = layer(ctx, traced, "io") {
        val step4 = sink(FaithfulText.vectorLines(vectors), "step4")
        counts.unpersist()
        val back = VectorSource.readVectorLines(spark, step4)
        val rows = back.collect()
        val arff = ctx.out("vectors.arff")
        ArffSink.writeLocal(back, arff)
        bytes += Files.size(Path.of(arff)); files += 1
        (rows, VectorSource.readArff(spark, arff))
      }
      if (traced) {
        m("pairvectors.gold_in") = stats("gold_pairs")
        m("pairvectors.vectors_out") = rows.length.toDouble
        m("pairvectors.gold_hit_ratio") = rows.length / stats("gold_pairs")
      }
      m("io.write_mb") = bytes / 1e6
      m("io.files") = files.toDouble
      val report = layer(ctx, traced, "classify")(classify(arffDf))
      m("classify.f1_similar") = report.f1Similar
      JobOut(vectors = rows, arff = Some(arffDf), report = Some(report),
        counts = m.toMap)
    }
  }

  /** One pass over battery entries of the modules ROADMAP items 2-4
    * rewrite, on seed-generated tables. Every job's rows are exported and
    * compared with DuckDB's by `tables.py`.
    */
  final class OpsSlice extends Workload {
    val name = "ops_slice"
    val entries: Seq[(String, Seq[String])] = Seq(
      "ops.dedup" -> Seq("q41_dedup_jaccard", "q42_dedup_minhash_lsh"),
      "ops.similarity" -> Seq("q112_sim_ivfpq_residual"),
      "ops.graph" -> Seq("q98_pagerank"),
      "ops.text" -> Seq("q116_bm25_search"))
    val tables = Seq("documents", "embeddings", "lineitem", "orders")
    private var dir: Path = _
    private val schemas = mutable.Map.empty[String, StructType]

    /** The tables are written before the JVM starts (`tables.py`); here
      * they are only read.
      */
    def generate(dir: Path, seed: Long): Map[String, Double] = {
      val sizes = tables.map(t => t -> Files.size(dir.resolve(s"$t.parquet")))
      sizes.map { case (t, b) => s"${t}_mb" -> b / 1e6 }.toMap
    }
    def inputFiles(dir: Path): Seq[Path] =
      tables.map(t => dir.resolve(s"$t.parquet"))
    def use(d: Path): Unit = dir = d

    def job(ctx: Ctx, traced: Boolean): JobOut = {
      val queries = SparkEntry.queries
      val rows = entries.flatMap { case (module, names) =>
        layer(ctx, traced, module) {
          names.map { n =>
            val df = queries(n)(ctx.spark, dir.toString)
            schemas(n) = df.schema
            n -> df.collect()
          }
        }
      }
      JobOut(rows = rows.toMap)
    }

    def expect(): Map[String, String] = Map("oracle" -> "DuckDB (tables.py)")
    def check(out: JobOut): Option[String] = None

    /** Each entry's rows of every job, as one parquet directory per entry
      * with the job's index in `perfbench_job`.
      */
    override def export(spark: SparkSession, outs: Seq[Option[JobOut]],
        dir: Path): Unit =
      entries.flatMap(_._2).foreach { n =>
        val rows = outs.zipWithIndex.flatMap { case (o, j) =>
          o.toSeq.flatMap(_.rows(n).map(r => Row.fromSeq(r.toSeq :+ j)))
        }
        schemas.get(n).foreach { s =>
          spark.createDataFrame(rows.asJava, s.add("perfbench_job", "int"))
            .coalesce(1).write.parquet(dir.resolve(n).toString)
        }
      }
  }

  def apply(name: String): Workload = name match {
    case "staged_faithful" => new Staged(CorpusSpec(lines = 20000, vocab = 4000,
      topics = 40, goldPairs = 600, relatedRate = 0.09, absentPairs = 5))
    case "ops_slice" => new OpsSlice
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
