package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Arrays

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one session.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --result <file> --artifact <file> [--pre-setup-s <s>]
  * }}}
  *
  * Set-up (session start, three identical input generations whose files
  * must match byte for byte, one cold job) is timed as `setup_s`. Then jobs
  * run back to back until the time budget is spent, at least two of them.
  * With `--trace 1` a third of the budget goes to untraced jobs, the rest to
  * traced jobs, whose per-layer figures are reported as medians, and one
  * untraced job follows. Every job's output is checked against the
  * workload's oracle afterwards; `--result` gets each job's error (null
  * when it passed) for run.py, which adds the checks made outside the JVM.
  */
object Main {

  final case class Job(traced: Boolean, wallNs: Long, span: Span,
      out: Either[String, JobOut], tasksSeen: Long)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): String =
    try Files.readString(Path.of("/proc/loadavg")).trim
    catch { case _: Exception => "unavailable" }

  /** Time the hypervisor ran other guests on this machine's CPUs
    * (`/proc/stat` steal, USER_HZ = 100); 0 where it is not reported.
    */
  private def stealSeconds: Double =
    try Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
    catch { case _: Exception => 0.0 }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(args("workload"))
    val seed = args("seed").toLong
    val budgetNs = (args("seconds").toDouble * 1e9).toLong
    val traced = args("trace") == "1"
    val work = Path.of(args("work")).toAbsolutePath
    val preSetupS = args.get("pre-setup-s").map(_.toDouble).getOrElse(0.0)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val loadStart = loadavg()
    val stealStart = stealSeconds

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val rec = new Recorder(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // Set-up: three generations from the same seed must be byte-identical.
    val genTimes = mutable.ArrayBuffer.empty[Double]
    var inputs = Map.empty[String, Double]
    val dirs = (0 until 3).map(i => work.resolve(s"inputs-$i"))
    dirs.foreach { d =>
      val g0 = System.nanoTime()
      inputs = workload.generate(d, seed)
      genTimes += (System.nanoTime() - g0) / 1e9
    }
    val deterministic = dirs.tail.forall { d =>
      workload.inputFiles(dirs.head).zip(workload.inputFiles(d)).forall {
        case (a, b) => Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))
      }
    }
    workload.use(dirs.head)
    val ctx = new Ctx(spark, rec, work)

    def runJob(tracedJob: Boolean): Job = {
      val before = rec.tasksSeen
      val j0 = System.nanoTime()
      val (out, span) = rec.span("job") {
        try Right(workload.job(ctx, tracedJob))
        catch { case scala.util.control.NonFatal(e) => Left(s"job threw $e") }
      }
      Job(tracedJob, System.nanoTime() - j0, span, out, rec.tasksSeen - before)
    }

    val warm = runJob(tracedJob = false)
    val setupS = sessionS + median(genTimes.toSeq) + warm.wallNs / 1e9 + preSetupS

    // Measurement: jobs back to back until the budget is spent and at
    // least `min` jobs have run.
    val jobs = mutable.ArrayBuffer.empty[Job]
    def loop(tracedJob: Boolean, untilNs: Long, min: Int): Unit = {
      var n = 0
      while (n < min || System.nanoTime() < untilNs) {
        jobs += runJob(tracedJob)
        n += 1
      }
    }
    val m0 = System.nanoTime()
    if (!traced) loop(tracedJob = false, m0 + budgetNs, min = 2)
    else {
      // Untraced jobs on both sides of the traced ones, so the JIT's
      // warming over a run does not bias the tracing overhead.
      loop(tracedJob = false, m0 + budgetNs / 3, min = 1)
      loop(tracedJob = true, m0 + budgetNs, min = 1)
      jobs += runJob(tracedJob = false)
    }

    // Correctness, after measurement so the oracle's work stays out of it.
    val o0 = System.nanoTime()
    val oracle = workload.expect()
    val oracleS = (System.nanoTime() - o0) / 1e9
    val all = warm +: jobs.toSeq
    val jobErrors = all.map { j =>
      val tasks = j.span.total.tasks
      j.out.fold(Some(_), workload.check).orElse(
        if (tasks == j.tasksSeen) None
        else Some(s"spans hold $tasks tasks, listener saw ${j.tasksSeen}"))
    }
    val runErrors =
      if (deterministic) Nil else Seq("inputs: same seed gave different bytes")
    workload.export(spark, all.map(_.out.toOption), work.resolve("rows"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) EndToEnd.metrics(setupS, jobs.toSeq)
      else PerLayer.metrics(jobs.toSeq, cores)
    // run.py adds the checks made outside the JVM and prints the result
    val result = ListMap(
      "attempted" -> all.size,
      "job_errors" -> jobErrors,
      "run_errors" -> runErrors,
      "metrics" -> ListMap(metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u)
      }: _*))

    val confs = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.codegen.wholeStage")
      .map(k => k -> spark.conf.getOption(k)
        .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("default"))
    val artifact = ListMap(
      "workload" -> workload.name,
      "seed" -> seed,
      "trace" -> traced,
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores_used" -> cores,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg(),
        "steal_s" -> (stealSeconds - stealStart),
        "jvm_gc_s" -> gcSeconds,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark_version" -> spark.version,
        "spark_conf" -> ListMap(confs: _*)),
      "inputs" -> ListMap(inputs.toSeq.sortBy(_._1): _*),
      "setup" -> ListMap(
        "session_s" -> sessionS,
        "generate_s" -> genTimes.toSeq,
        "pre_setup_s" -> preSetupS,
        "warmup_job_s" -> warm.wallNs / 1e9,
        "inputs_byte_identical" -> deterministic),
      "oracle" -> ListMap((oracle.toSeq.sortBy(_._1) :+ ("oracle_s" -> oracleS)): _*),
      "jobs" -> all.map(j => ListMap(
        "traced" -> j.traced,
        "wall_s" -> j.wallNs / 1e9,
        "spans" -> spanTree(j.span))),
      "result" -> result)

    Json.write(Path.of(args("artifact")), artifact)
    Json.write(Path.of(args("result")), result)
    spark.stop()
  }

  private def spanTree(s: Span): ListMap[String, Any] = ListMap(
    "id" -> s.id,
    "name" -> s.name,
    "parent" -> s.parent.map(_.id),
    "start_ns" -> s.startNs,
    "end_ns" -> s.endNs,
    "self_s" -> s.selfNs / 1e9,
    "jobs" -> s.self.jobs,
    "tasks" -> s.self.tasks,
    "cpu_s" -> s.self.cpuNs / 1e9,
    "shuffle_mb" -> s.self.shuffleWrite / 1e6,
    "children" -> s.children.toSeq.map(spanTree))
}

/** JSON files through Jackson, which Spark's jars carry. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writeValueAsString(v) + "\n", UTF_8)
}

/** End-to-end metrics of an untraced run: medians over the measured jobs. */
object EndToEnd {
  def metrics(setupS: Double, jobs: Seq[Main.Job]): Seq[(String, Double, String)] = {
    def med(f: Main.Job => Double) = Main.median(jobs.map(f))
    Seq(
      ("setup_s", setupS, "s"),
      ("job_s", med(_.wallNs / 1e9), "s"),
      ("cpu_s", med(_.span.total.cpuNs / 1e9), "s"),
      ("shuffle_mb", med(_.span.total.shuffleWrite / 1e6), "MB"))
  }
}

/** Per-layer metrics of a traced run: for each metric, the median over the
  * traced jobs. A layer's figures are the sums over its spans' self parts.
  */
object PerLayer {
  val modules: Seq[String] = Seq("biarcs", "counts", "associate", "pairvectors",
    "io", "classify", "ops.dedup", "ops.similarity", "ops.graph", "ops.text")

  /** Boundary counts every workload reports (0 where the layer is absent). */
  val counts: Seq[(String, String)] = Seq(
    "biarcs.lines_in" -> "count", "biarcs.edges_out" -> "count",
    "biarcs.edges_per_token" -> "ratio",
    "counts.pairs_out" -> "count", "counts.combine_ratio" -> "ratio",
    "counts.cache_mb" -> "MB",
    "associate.rows_out" -> "count", "associate.broadcast_joins" -> "count",
    "associate.smj_joins" -> "count",
    "pairvectors.gold_in" -> "count", "pairvectors.vectors_out" -> "count",
    "pairvectors.gold_hit_ratio" -> "ratio",
    "io.write_mb" -> "MB", "io.files" -> "count",
    "classify.f1_similar" -> "ratio")

  private def layerFigures(name: String, spans: Seq[Span], cores: Int)
      : Seq[(String, Double, String)] = {
    val c = new Counters
    spans.foreach(s => c.add(s.self))
    val selfS = spans.map(_.selfNs).sum / 1e9
    Seq(
      (s"$name.s", selfS, "s"),
      (s"$name.cpu_s", c.cpuNs / 1e9, "s"),
      (s"$name.idle_core_s", cores * selfS - c.runMs / 1e3, "s"),
      (s"$name.jobs", c.jobs.toDouble, "count"),
      (s"$name.tasks", c.tasks.toDouble, "count"),
      (s"$name.shuffle_mb", c.shuffleWrite / 1e6, "MB"),
      (s"$name.spill_mb", c.spill / 1e6, "MB"))
  }

  private def ofJob(j: Main.Job, untracedS: Double, cores: Int)
      : Seq[(String, Double, String)] = {
    def flat(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(flat)
    val spans = flat(j.span).tail
    val total = j.span.total
    val wallS = j.wallNs / 1e9
    modules.flatMap(m => layerFigures(m, spans.filter(_.name == m), cores)) ++
      counts.map { case (n, u) =>
        (n, j.out.toOption.flatMap(_.counts.get(n)).getOrElse(0.0), u)
      } ++
      Seq(
        ("catalyst.plan_ms", total.planMs.toDouble, "ms"),
        ("codegen.compile_ms", total.compileNs / 1e6, "ms"),
        ("codegen.compiles", total.compiles.toDouble, "count"),
        ("exec.s", wallS, "s"),
        ("exec.cpu_s", total.cpuNs / 1e9, "s"),
        ("exec.idle_core_s", cores * wallS - total.runMs / 1e3, "s"),
        ("exec.jobs", total.jobs.toDouble, "count"),
        ("exec.tasks", total.tasks.toDouble, "count"),
        ("exec.shuffle_mb", total.shuffleWrite / 1e6, "MB"),
        ("exec.spill_mb", total.spill / 1e6, "MB"),
        ("exec.stages", total.stages.toDouble, "count"),
        ("exec.scans", total.scans.toDouble, "count"),
        ("exec.gc_s", total.gcMs / 1e3, "s"),
        ("exec.peak_task_mem_mb", total.peakMem / 1e6, "MB"),
        ("unattributed.s", j.span.selfNs / 1e9, "s"),
        ("unattributed.jobs", j.span.self.jobs.toDouble, "count"),
        ("unattributed.tasks", j.span.self.tasks.toDouble, "count"),
        ("trace.overhead_s", wallS - untracedS, "s"))
  }

  def metrics(jobs: Seq[Main.Job], cores: Int): Seq[(String, Double, String)] = {
    val untracedS = Main.median(jobs.filterNot(_.traced).map(_.wallNs / 1e9))
    val per = jobs.filter(_.traced).map(ofJob(_, untracedS, cores))
    per.head.indices.map { i =>
      val (n, _, u) = per.head(i)
      (n, Main.median(per.map(_(i)._2)), u)
    }
  }
}
