package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: generate the workload's inputs from the
  * seed, build the session, run the workload closed-loop with one client,
  * check the outputs, and print the run's record as the last stdout line.
  *
  * {{{
  *   perfbench.Main --workload bbc_paper|query_mix --seed N --trace 0|1
  *                  --work DIR --cores N [--tables DIR]
  * }}}
  *
  * `--tables` (query_mix) is the directory of the parquet tables.
  * The record holds every end-to-end metric (`--trace 0`) or every
  * per-layer metric (`--trace 1`), `attempted` and `failed`; `run.py`
  * adds the query_mix oracle check to it.
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean,
                        work: Path, cores: Int, tables: Option[String])

  /** Paper size: the BBC corpus's document count. */
  val PaperDocs = 2225

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("trace") == "1",
      Paths.get(kv("work")), kv("cores").toInt, kv.get("tables"))
    require(Set("bbc_paper", "query_mix")(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(o.work)
    val envStart = Env.snapshot()

    // inputs, before the session exists: generation is not set-up time
    val corpus = if (o.workload == "bbc_paper") {
      val g = Corpus.generate(o.work.resolve("input"), o.seed, PaperDocs)
      Some((g, Corpus.expected(g)))
    } else None

    val (spark, build, firstAction) = buildSession(o.cores)
    System.err.println(f"[perfbench] session build $build%.3f s, first action $firstAction%.3f s")
    val collector = new Collector
    if (o.trace) spark.sparkContext.addSparkListener(collector)
    val tracer = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}", o.trace)

    val m = new Metrics
    m.time("setup_s", build + firstAction)
    val result = o.workload match {
      case "bbc_paper" => new BbcPaper(spark, o, corpus.get._1, corpus.get._2, tracer, collector, m).run()
      case "query_mix" => new QueryMixRun(spark, o, tracer, collector, m).run()
    }

    collector.drain(spark.sparkContext)
    m.size("retained_heap_mb", Env.heapAfterGc())
    if (o.trace) {
      m.time("session.build_s", build)
      m.time("session.first_action_s", firstAction)
      Files.write(o.work.resolve("spans.jsonl"), tracer.jsonLines(collector).asJava, StandardCharsets.UTF_8)
    }
    spark.stop()

    System.err.println(s"[perfbench] host at start: $envStart; at end: ${Env.snapshot()}")
    val keep = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    println(Json.obj(Seq(
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "problems" -> Json.arr(result.problems.map(Json.str)),
      "metrics" -> m.json(keep))))
  }

  /** The JVM's first (cold) session build and its first trivial action,
    * as a user pays them once per process. Returns the session and both
    * times in seconds.
    */
  def buildSession(cores: Int): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(s"local[$cores]", Some(cores), "perfbench")
    val t1 = System.nanoTime()
    spark.range(1).count()
    val t2 = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

final case class RunResult(attempted: Int, failed: Int, problems: Seq[String])

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
  def time(name: String, s: Double): Unit = put(name, s, "s")
  def ms(name: String, v: Double): Unit = put(name, v, "ms")
  def size(name: String, mb: Double): Unit = put(name, mb, "MB")
  def count(name: String, n: Double): Unit = put(name, n, "count")
  def share(name: String, v: Double): Unit = put(name, v, "share")

  /** Fills the layer metrics a workload does not exercise with 0. */
  def json(names: Seq[(String, String)]): String = Json.obj(names.map { case (n, unit) =>
    val (v, u) = values.getOrElse(n, (0.0, unit))
    n -> s"""{"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
  })
}

object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_pass_s" -> "s", "cold_pass_cpu_s" -> "s", "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "session.first_action_s" -> "s",
    "io.dict_load_s" -> "s", "io.mtx_write_s" -> "s", "io.artifact_write_s" -> "s",
    "io.bytes_out" -> "MB", "io.files_in" -> "count",
    "bbc.count_matrix_s" -> "s", "bbc.freq_filter_s" -> "s", "bbc.tfidf_s" -> "s",
    "bbc.doc_vectors_s" -> "s", "bbc.top_terms_s" -> "s", "bbc.category_report_s" -> "s",
    "bbc.nnz" -> "count", "bbc.nnz_filtered" -> "count",
    "cluster.kmeans2d_s" -> "s", "cluster.lloyd_s" -> "s", "cluster.scalable_s" -> "s",
    "cluster.iterations" -> "count", "cluster.iter_ms" -> "ms",
    "cluster.jobs_per_iter" -> "count", "cluster.driver_gap_share" -> "share") ++
    QueryMix.Families.map(f => s"queries.$f.warm_s" -> "s") ++ Seq(
    "queries.warm_pass_s" -> "s", "queries.p50_ms" -> "ms", "queries.p90_ms" -> "ms",
    "queries.memo_build_s" -> "s", "queries.pinned_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s", "spark.driver_gap_share" -> "share",
    "trace.overhead_share" -> "share", "error_rate" -> "share")

  private val MB = 1024.0 * 1024.0

  /** The engine counters of a traced pass: everything below `root`. */
  def spark(m: Metrics, tracer: Tracer, collector: Collector, root: Span): Unit = {
    val c = collector.sum(tracer.subtree(root))
    m.count("spark.jobs", c.jobs.toDouble)
    m.count("spark.stages", c.stages.toDouble)
    m.count("spark.tasks", c.tasks.toDouble)
    m.time("spark.task_s", c.taskMs / 1e3)
    m.time("spark.task_cpu_s", c.taskCpuNs / 1e9)
    m.time("spark.gc_s", c.gcMs / 1e3)
    m.size("spark.input_mb", c.inputBytes / MB)
    m.size("spark.shuffle_read_mb", c.shuffleReadBytes / MB)
    m.size("spark.shuffle_write_mb", c.shuffleWriteBytes / MB)
    m.size("spark.spill_mb", c.spillBytes / MB)
    val gapMs = root.durMs - Intervals.unionMs(c.jobIntervals.toSeq)
    m.time("spark.driver_gap_s", gapMs / 1e3)
    m.share("spark.driver_gap_share", gapMs.toDouble / math.max(1L, root.durMs))
  }

  /** Self time, in seconds, of every span called `name` below `root`. */
  def selfS(tracer: Tracer, root: Span, name: String): Double = {
    val ids = tracer.subtree(root)
    tracer.spans.filter(s => ids(s.id) && s.name == name).map(tracer.selfMs).sum / 1e3
  }

  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
}

/** Host facts recorded at the start and end of every run. */
object Env {
  /** nproc, load average, memory, and the CPU time the hypervisor took
    * from the (virtual) machine since boot (`steal`; it slows wall-clock figures).
    */
  def snapshot(): String = {
    def read(f: String) = Files.readAllLines(Paths.get(f)).asScala
    val load = read("/proc/loadavg").headOption.getOrElse("").split(" ").take(3).mkString(" ")
    val mem = read("/proc/meminfo")
      .filter(l => l.startsWith("MemTotal") || l.startsWith("MemAvailable"))
      .map(_.replaceAll("\\s+", " ")).mkString(", ")
    val steal = read("/proc/stat").headOption.map(_.split("\\s+")).filter(_.length > 8)
      .fold("?")(f => f"${f(8).toLong / 100.0}%.1f s")
    s"nproc ${Runtime.getRuntime.availableProcessors()}, load $load, $mem, steal $steal"
  }

  /** CPU time of this JVM, all threads, in seconds. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Heap in use after an explicit collection, in MB: the least of three
    * readings, so garbage a background thread makes in between is not
    * counted as retained.
    */
  def heapAfterGc(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
