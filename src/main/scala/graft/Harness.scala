package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, rand}

import graft.ml.Classify
import graft.pipeline.PairVectors
import graft.queries.StreamingQuery

/** The battery run harness: one warm-up, one timed run, one min-of-k rule,
  * one host-context record and one artifact writer, shared by the modes
  * behind [[Bench]], [[BenchScale]], [[BenchState]], [[Verify]] and the
  * test-scope `ProbeMain`.
  */
object Harness {

  /** Renders every JSON artifact. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Materialize every column of a result through the noop sink. A
    * count()-based timing lets Catalyst optimize the query's own compute
    * away: column pruning under `count(1)` drops narrow per-row transforms
    * and EliminateSorts removes the final ORDER BY, so a map-shaped entry
    * would time the scan, not the operator (q262_rouge_l at 10× data was
    * flat under count(), 10× under noop). The noop sink consumes complete
    * rows at zero sink cost, which is what a real consumer pays.
    */
  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Wall seconds to build and materialize `df`. The cache is cleared
    * afterwards, on failure too, so a relation a query persisted and did
    * not release cannot distort the next timing.
    */
  private def time(spark: SparkSession)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try { materialize(df); (System.nanoTime() - t0) / 1e9 }
    finally spark.catalog.clearCache()
  }

  /** Min-of-k sampling: a contended scheduler can only inflate a sample, so
    * the minimum is the least noisy estimate of a plan's cost. Takes
    * `minSamples` samples; a lone sample of 2 s or more gets a second, and
    * a pair that disagrees by more than 1.5× (the signature of a load spike
    * mid-run) gets a third.
    */
  private def samples(minSamples: Int)(once: => Double): Seq[Double] = {
    val first = Seq.fill(minSamples)(once)
    val s = if (first.size == 1 && first.head >= 2.0) first :+ once else first
    if (s.size == 2 && s.max / s.min > 1.5) s :+ once else s
  }

  /** Warm the JVM so timings measure the plan, not first-call JIT and class
    * loading: one cheap battery entry, then a 64-row single-tree forest fit.
    * The first forest fit in a JVM pays seconds of one-time MLlib loading
    * that would otherwise land on whichever entry first touches spark.ml.
    */
  private def warmUp(spark: SparkSession, sfDir: String,
      entry: String = "q03_distinct"): Unit = {
    try SparkEntry.queries(entry)(spark, sfDir).count()
    catch { case _: Throwable => () }
    try {
      val toy = spark.range(0, 64).select(
        (col("id") % 2 === 0).as("related") +:
          PairVectors.vectorColumns.map(c => rand(c.hashCode.toLong).as(c)): _*)
      Classify.crossValPredictions(toy, folds = 2, seed = 1L, numTrees = 1)
        .unpersist()
    } catch { case _: Throwable => () }
  }

  /** Host load around a run, so a run on a contended host identifies itself
    * instead of reading as a regression: `/proc/loadavg` when created and
    * when read, and the JVM's total GC seconds.
    */
  private final class HostContext {
    private val loadStart = loadavg

    def fields: ListMap[String, Any] = ListMap(
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg,
      "gc_sec" -> round(ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3, 1))

    private def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
  }

  /** `x` as a JSON number with exactly `places` decimals. */
  private def round(x: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(places, java.math.RoundingMode.HALF_UP)

  /** Writes `record` as one JSON line to `path`, creating its directory,
    * and returns the line. A failed write is reported, not fatal: every
    * mode prints the line too.
    */
  private def artifact(path: String, record: Any): String = {
    val line = json.writeValueAsString(record)
    try {
      val p = Paths.get(path).toAbsolutePath
      Files.createDirectories(p.getParent)
      Files.writeString(p, line + "\n")
    } catch { case NonFatal(e) =>
      System.err.println(s"[harness] artifact write failed: ${e.getMessage}")
    }
    line
  }

  private def entryDefs = SparkEntry.defs.map(q => q.name -> q).toMap

  /** The bench modes' default tables: the sf0.1 test set. */
  private val defaultSf = "/root/testdata/sf0.1"

  private def benchOut(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", default)

  /** Entries that always take three samples: their minima inflated 2–5×
    * on a contended host with unchanged code, or their samples are bimodal
    * with identical plans (q62: 4.4–13 s, shuffle-I/O variance on the
    * local disk, not plan cost), so a min-of-2 regularly lands on the slow
    * mode and reads as a regression that is not there.
    */
  private val deepSample = Set("q72_neardup_components", "q84_leakage_scan",
    "q85_streaming_sliding", "q62_pipeline_synthetic", "q60_classify_report")

  /** The full battery at `SPARK_GRAFT_SF_DIR` (default sf0.1), as one JSON
    * line `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`
    * on stdout and in `SPARK_GRAFT_BENCH_OUT`. The default artifact path is
    * inside the repository, so the per-entry record is committed with the
    * tree and survives a truncated stdout capture.
    */
  def bench(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    val spark = Session.local("graft-bench")
    warmUp(spark, sfDir)
    val host = new HostContext
    val results = SparkEntry.defs.sortBy(_.name).map { q =>
      try {
        val ts = samples(if (deepSample(q.name)) 3 else 1)(
          time(spark)(q.query(spark, sfDir)))
        (q.name, ts.min, ts.size, true)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        (q.name, -1.0, 1, false)
      }
    }
    val out = benchOut("bench/latest.json")
    // failed entries read -1.0, stay out of the total and are listed in
    // "failed", so a partly broken run cannot pass as a fast one
    val record = ListMap(
      "metric" -> "total",
      "value" -> round(results.collect { case (_, v, _, true) => v }.sum, 3),
      "unit" -> "sec",
      "queries" -> ListMap(results.map { case (n, v, _, _) =>
        n -> round(v, 3) }: _*),
      "failed" -> results.collect { case (n, _, _, false) => n },
      "sf" -> sfDir,
      "samples" -> ListMap(results.collect { case (n, _, k, _) if k > 1 =>
        n -> k }: _*)) ++
      host.fields ++ ListMap(
      "materialize" -> ("noop-sink (round 10+: full-row materialization; " +
        "count()-timed rounds <= 9 under-state narrow map-shaped entries)"),
      "artifact" -> out)
    println(artifact(out, record))
    spark.stop()
  }

  /** The most expensive battery entries plus one entry per physical shape
    * worth checking at 10× data (salted skew join, driver-local BPE,
    * prefix-filter join, bucket-offset global rank, spill certificate,
    * corpus-law fits, …).
    */
  private val scaleEntries = Seq(
    "q62_pipeline_synthetic", "q150_label_propagation",
    "q159_sparse_cosine_pairs", "q154_canonical_by_quality",
    "q98_pagerank", "q72_neardup_components", "q83_neardedup_corpus",
    "q113_decontaminate_bloom", "q116_bm25_search", "q118_hybrid_rrf",
    "q144_bpe_apply", "q184_naive_bayes",
    "q190_bpe_sampled", "q191_nb_holdout", "q192_pareto_bucketed",
    "q188_streaming_left_join", "q189_streaming_timeout",
    "q213_bpe_local", "q214_streaming_reverse_attribution",
    "q216_kcenters_batched", "q217_skew_join",
    "q223_prefix_filter_join", "q224_bootstrap_ci",
    "q225_golden_records", "q226_seasonal_anomalies",
    "q227_time_weighted_avg", "q228_streaming_distinct",
    "q231_weighted_wor", "q237_gram_profile",
    "q239_khop_bfs", "q240_join_cardinality",
    "q243_ndcg", "q249_image_dhash_pairs", "q252_expectations",
    "q260_global_rank", "q261_sorted_neighbors", "q262_rouge_l",
    "q263_bleu",
    "q264_ml_fold_assignment", "q265_ml_report_algebra", "q266_hash_folds",
    "q267_spill_certificate", "q268_global_cumsum",
    "q269_context_windows", "q270_duplicated_spans",
    "q272_blocklist_scan", "q273_redact_blocklist", "q274_kn_perplexity",
    "q275_zorder_skipping",
    "q276_zipf_fit", "q277_heaps_law", "q278_lsh_plan",
    "q279_audio_resample", "q280_rendezvous_sharding",
    "q281_lsh_recall_audit", "q282_hilbert_skipping",
    "q283_epoch_shuffle", "q284_intrinsic_dimension",
    "q285_energy_distance", "q286_confusable_dedup", "q287_low_quality_spans")

  /** Scale rehearsal: each of `SPARK_GRAFT_ENTRIES` (comma-separated;
    * default [[scaleEntries]]) at two scale factors, `SPARK_GRAFT_SF_A`
    * (default sf0.1) and `SPARK_GRAFT_SF_B` (default a synthesized sf1),
    * with per-entry min-of-2 times and the sfB/sfA ratio. At 10× data a
    * healthy distributed plan stays within about 15× wall clock.
    */
  def scale(): Unit = {
    val sfA = sys.env.getOrElse("SPARK_GRAFT_SF_A", defaultSf)
    val sfB = sys.env.getOrElse("SPARK_GRAFT_SF_B", "target/sf1")
    val entries = sys.env.get("SPARK_GRAFT_ENTRIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(scaleEntries)
    val spark = Session.local("graft-bench-scale")
    val defs = entryDefs
    val missing = entries.filterNot(defs.contains)
    require(missing.isEmpty, s"unknown entries: $missing")
    warmUp(spark, sfA)
    val host = new HostContext
    def minTime(name: String, dir: String): Double =
      samples(2)(time(spark)(defs(name).query(spark, dir))).min
    val rows = entries.map { name =>
      name -> (try Some((minTime(name, sfA), minTime(name, sfB)))
      catch { case e: Throwable =>
        System.err.println(s"[bench-scale] $name failed: ${e.getMessage}")
        None
      })
    }
    // committed scale artifacts are curated merges, so the default path is
    // a scratch file an unexported run cannot clobber them through
    val out = benchOut("bench/scale_scratch.json")
    val record = ListMap(
      "metric" -> "scale_rehearsal",
      "sfA" -> sfA,
      "sfB" -> sfB,
      "queries" -> ListMap(rows.map {
        case (n, Some((a, b))) => n -> ListMap("sfA" -> round(a, 3),
          "sfB" -> round(b, 3), "ratio" -> round(b / a, 2))
        case (n, None) => n -> ListMap("failed" -> true)
      }: _*),
      "failed" -> rows.collect { case (n, None) => n }) ++
      host.fields ++ ListMap("artifact" -> out)
    println(artifact(out, record))
    spark.stop()
  }

  /** Stateful streaming entries and the memory sink each parks its
    * captured state-operator progress under.
    */
  private val statefulEntries = Seq(
    "q65_streaming_hourly" -> "stream_hourly",
    "q85_streaming_sliding" -> "stream_sliding",
    "q93_streaming_join" -> "stream_join",
    "q111_streaming_dedup" -> "stream_dedup",
    "q143_streaming_session" -> "stream_session",
    "q186_streaming_state" -> "stream_state",
    "q188_streaming_left_join" -> "stream_left_join",
    "q189_streaming_timeout" -> "stream_timeout",
    "q214_streaming_reverse_attribution" -> "stream_rev_attr",
    "q218_streaming_full_outer" -> "stream_full_outer",
    "q228_streaming_distinct" -> "stream_distinct",
    "q247_streaming_weighted_sample" -> "stream_wor",
    "q255_streaming_funnel" -> "stream_funnel")

  /** Streaming state posture: every stateful entry at `SPARK_GRAFT_SF_DIR`
    * under both state-store providers (in-memory HDFS-backed and RocksDB),
    * with the wall time, output rows and final per-operator state footprint
    * (operator, rows in state, bytes) that [[StreamingQuery]] captured.
    */
  def state(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    val spark = Session.local("graft-bench-state")
    val defs = entryDefs
    warmUp(spark, sfDir, "q65_streaming_hourly")
    def runAll(provider: String): ListMap[String, Any] = {
      // set for both legs, never unset: the session conf is read before the
      // GRAFT_STATE_STORE env var, so an ambient env var cannot silently
      // turn the hdfs leg into a second rocksdb run
      spark.conf.set("spark.graft.stateStore", provider)
      ListMap(statefulEntries.map { case (name, sink) =>
        name -> (try {
          // streaming entries run eagerly and return a local relation
          lazy val result = defs(name).query(spark, sfDir)
          val sec = time(spark)(result)
          ListMap("sec" -> round(sec, 3), "rows_out" -> result.count(),
            "state" -> StreamingQuery.stateMetricsFor(sink).map {
              case (op, rows, bytes) =>
                ListMap("op" -> op, "rows" -> rows, "bytes" -> bytes)
            })
        } catch { case e: Throwable =>
          ListMap("failed" -> String.valueOf(e.getMessage).take(120))
        })
      }: _*)
    }
    val out = benchOut("bench/state_scratch.json")
    val record = ListMap("metric" -> "state_posture", "sf" -> sfDir,
      "hdfs" -> runAll("hdfs"), "rocksdb" -> runAll("rocksdb"),
      "artifact" -> out)
    println(artifact(out, record))
    spark.stop()
  }

  /** Correctness dump: every battery result as parquet under `outDir`,
    * plus `oracle_sql.json` with each entry's DuckDB SQL. Arguments:
    * `<sfDir> <outDir> [name...]`; names restrict the dump to those entries.
    */
  def verify(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }

  /** Times `names` in isolation, `k` samples each under [[samples]], and
    * prints `PROBE <name> min=… samples=…`; with `--plans <dir>` also
    * writes each entry's `explain("formatted")` there.
    * Arguments: `<sfDir> <k> [--plans <dir>] name...`.
    */
  def probe(args: Array[String]): Unit = {
    val (sfDir, k) = (args(0), args(1).toInt)
    val (planDir, names) =
      if (args.length > 3 && args(2) == "--plans")
        (Some(args(3)), args.drop(4).toSeq)
      else (None, args.drop(2).toSeq)
    val spark = Session.local("graft-probe")
    warmUp(spark, sfDir)
    val defs = entryDefs
    names.foreach { n =>
      val q = defs.getOrElse(n, sys.error(s"unknown entry $n"))
      planDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        Files.writeString(Paths.get(s"$pd/$n.txt"), q.query(spark, sfDir)
          .queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
      spark.sparkContext.setJobDescription(n)
      val ts = samples(k)(time(spark)(q.query(spark, sfDir)))
      spark.sparkContext.setJobDescription(null)
      println(f"PROBE $n min=${ts.min}%.3f samples=" +
        ts.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}

/** Full-battery benchmark; see [[Harness.bench]]. */
object Bench {
  def main(args: Array[String]): Unit = Harness.bench()
}

/** Two-scale-factor rehearsal; see [[Harness.scale]]. */
object BenchScale {
  def main(args: Array[String]): Unit = Harness.scale()
}

/** Streaming state-store posture; see [[Harness.state]]. */
object BenchState {
  def main(args: Array[String]): Unit = Harness.state()
}

/** Correctness dump for the DuckDB oracle compare; see [[Harness.verify]]. */
object Verify {
  def main(args: Array[String]): Unit = Harness.verify(args)
}
