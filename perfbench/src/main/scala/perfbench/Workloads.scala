package perfbench

import graft.bbc.BbcRun
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Counts operations and failed output checks for one run. */
abstract class Workload(spark: SparkSession, tracer: Tracer, collector: Collector, m: Metrics) {
  protected var attempted = 0
  protected var failed = 0
  protected val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  protected def fail(what: String): Unit = { failed += 1; problems += what }

  /** The root span called `name` opened most recently, with its counters complete. */
  protected def root(name: String): Span = {
    collector.drain(spark.sparkContext)
    tracer.spans.filter(_.name == name).last
  }

  protected def result(): RunResult = {
    m.share("error_rate", failed.toDouble / math.max(1, attempted))
    RunResult(attempted, failed, problems.toSeq)
  }

  def run(): RunResult
}

/** `bbc_paper`: `BbcRun.run` on a seeded corpus of the paper's size. The
  * untraced run times the chain as a batch user runs it, once in a fresh
  * session. The traced run traces that cold chain with [[Chain.traced]],
  * then runs warm chains: `BbcRun.run`, `Chain.traced`, `BbcRun.run`. The
  * warm chains give the tracing overhead and check that the traced copy
  * still submits the jobs and stages `BbcRun.run` does.
  */
final class BbcPaper(spark: SparkSession, o: Main.Opts, g: Corpus.Generated,
                     e: Corpus.Expected, tracer: Tracer, collector: Collector, m: Metrics)
    extends Workload(spark, tracer, collector, m) {

  /** Engine counters of untraced chain `i` in a traced run. */
  private def untracedTag(i: Int): Int = -100 - i

  private def pass(i: Int, traced: Boolean): (Double, Option[Chain.Counts]) = {
    val out = o.work.resolve(s"out/pass$i")
    val p = Chain.paths(g.layout, out)
    val t0 = System.nanoTime()
    val counts =
      if (traced) Some(tracer("pass.chain")(Chain.traced(spark, p, tracer)))
      else { tracer.tagged(untracedTag(i))(BbcRun.run(spark, p)); None }
    val s = Main.seconds(t0)
    attempted += 1
    val found = try Chain.check(out, g, e) catch { case NonFatal(ex) => Seq(s"unreadable output: $ex") }
    if (found.nonEmpty) fail(s"chain $i: ${found.mkString("; ")}")
    System.err.println(f"[perfbench] chain $i: $s%.2f s, Lloyd iterations 2.1/2.2/2.3 " +
      Chain.iterations(out).mkString("/"))
    (s, counts)
  }

  def run(): RunResult = {
    if (!o.trace) {
      val cpu0 = Env.cpuSeconds()
      m.time("cold_pass_s", pass(0, traced = false)._1)
      m.time("cold_pass_cpu_s", Env.cpuSeconds() - cpu0)
    } else {
      val counts = pass(0, traced = true)._2.get
      val chain = root("pass.chain")
      Metrics.spark(m, tracer, collector, chain)
      for (n <- Seq("io.dict_load", "io.mtx_write", "io.artifact_write", "bbc.count_matrix",
                    "bbc.freq_filter", "bbc.tfidf", "bbc.doc_vectors", "bbc.top_terms",
                    "bbc.category_report", "cluster.kmeans2d", "cluster.lloyd", "cluster.scalable"))
        m.time(s"${n}_s", Metrics.selfS(tracer, chain, n))
      m.size("io.bytes_out", Main.dirBytes(o.work.resolve("out/pass0")) / (1024.0 * 1024.0))
      m.count("io.files_in", Files.walk(g.layout.root).iterator().asScala.count(Files.isRegularFile(_)).toDouble)
      m.count("bbc.nnz", counts.nnz.toDouble)
      m.count("bbc.nnz_filtered", counts.nnzFiltered.toDouble)

      val ids = tracer.subtree(chain)
      val clusterSpans = tracer.spans.filter(s => ids(s.id) && s.layer == "cluster").toSeq
      val clusterSelfMs = clusterSpans.map(tracer.selfMs).sum.toDouble
      val clusterJobs = collector.sum(clusterSpans.map(_.id))
      val iters = counts.iterations.toDouble
      m.count("cluster.iterations", iters)
      m.ms("cluster.iter_ms", clusterSelfMs / iters)
      m.count("cluster.jobs_per_iter", clusterJobs.jobs / iters)
      m.share("cluster.driver_gap_share",
        (clusterSelfMs - Intervals.unionMs(clusterJobs.jobIntervals.toSeq)) / clusterSelfMs)
      val covered = Intervals.unionMs(tracer.children(chain.id).map(c => (c.startMs, c.endMs)))
      System.err.println(f"[perfbench] top-level spans cover ${covered * 100.0 / chain.durMs}%.1f%% of the ${chain.durMs} ms chain")

      val untraced1 = pass(1, traced = false)._1
      val traced = pass(2, traced = true)._1
      val untraced2 = pass(3, traced = false)._1
      m.share("trace.overhead_share", traced / ((untraced1 + untraced2) / 2))

      val tracedC = collector.sum(tracer.subtree(root("pass.chain")))
      val shapes = Seq(collector.sum(Seq(untracedTag(1))), tracedC, collector.sum(Seq(untracedTag(3))))
        .map(c => (c.jobs, c.stages))
      System.err.println(s"[perfbench] warm chains (jobs, stages): BbcRun.run ${shapes(0)}, " +
        s"Chain.traced ${shapes(1)}, BbcRun.run ${shapes(2)}")
      if (shapes.distinct.size != 1)
        fail(s"Chain.traced no longer matches BbcRun.run: (jobs, stages) ${shapes.mkString(" / ")}")
    }
    result()
  }
}

/** `query_mix`: the declared queries of [[QueryMix.Queries]] on the
  * committed tables. After every memoized artifact is released, a cold pass
  * runs each query once, in list order, and builds the artifacts. The
  * untraced run times that pass. The traced run traces it, then runs warm passes, served
  * from the artifacts in an order the seed shuffles, untraced, traced and
  * untraced again for the latencies and the tracing overhead.
  */
final class QueryMixRun(spark: SparkSession, o: Main.Opts, tracer: Tracer,
                        collector: Collector, m: Metrics)
    extends Workload(spark, tracer, collector, m) {

  private val tables = o.tables.getOrElse(sys.error("query_mix needs --tables"))
  private val out = o.work.resolve("out").toString
  private val rng = new scala.util.Random(o.seed)

  /** One pass over the mix, the cold one in list order and warm ones in
    * a seeded shuffle; per-query wall ms, failed ones left out.
    */
  private def pass(kind: String, traced: Boolean): (Double, Map[String, Double]) = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val order = if (kind == "cold") QueryMix.Queries else rng.shuffle(QueryMix.Queries)
    val body = () => for (q <- order) {
      attempted += 1
      try {
        times(q) =
          if (traced) tracer(s"queries.${QueryMix.family(q)}.$q")(QueryMix.runOne(spark, q, tables, out))
          else QueryMix.runOne(spark, q, tables, out)
      } catch { case NonFatal(ex) => fail(s"$kind $q: $ex") }
    }
    if (traced) tracer(s"pass.$kind")(body()) else body()
    (Main.seconds(t0), times.toMap)
  }

  def run(): RunResult = {
    Files.write(o.work.resolve("oracle_sql.json"), QueryMix.oracleJson.getBytes("UTF-8"))
    graft.queries.PipelineOps.releaseMemo(spark)
    spark.catalog.clearCache()
    if (!o.trace) {
      val cpu0 = Env.cpuSeconds()
      val (cold, times) = pass("cold", traced = false)
      m.time("cold_pass_cpu_s", Env.cpuSeconds() - cpu0)
      m.time("cold_pass_s", cold)
      System.err.println("[perfbench] cold pass ms: " +
        QueryMix.Queries.flatMap(q => times.get(q).map(ms => f"$q=$ms%.0f")).mkString(" "))
    } else {
      val (_, coldT) = pass("cold", traced = true)
      Metrics.spark(m, tracer, collector, root("pass.cold"))
      m.count("io.files_in", Files.list(java.nio.file.Paths.get(tables)).count().toDouble)
      m.size("io.bytes_out", Main.dirBytes(java.nio.file.Paths.get(out)) / (1024.0 * 1024.0))

      val (untraced1, warmU1) = pass("warm", traced = false)
      val (traced, warmT) = pass("warm", traced = true)
      val (untraced2, warmU2) = pass("warm", traced = false)
      val latencies = warmU1.values.toSeq ++ warmU2.values
      m.time("queries.warm_pass_s", (untraced1 + untraced2) / 2)
      m.ms("queries.p50_ms", Main.percentile(latencies, 50))
      m.ms("queries.p90_ms", Main.percentile(latencies, 90))
      System.err.println(s"[perfbench] query latency over ${latencies.size} warm executions")
      m.share("trace.overhead_share", traced / ((untraced1 + untraced2) / 2))
      for (f <- QueryMix.Families)
        m.time(s"queries.$f.warm_s", warmT.filter(q => QueryMix.family(q._1) == f).values.sum / 1e3)

      // the cluster layer, through the Lloyd-loop rows of the mix
      val warmRoot = root("pass.warm")
      val ids = tracer.subtree(warmRoot)
      val ml = tracer.spans.filter(s => ids(s.id) && s.name.startsWith("queries.ml.")).toSeq
      val mlMs = ml.map(_.durMs).sum.toDouble
      m.time("cluster.lloyd_s", mlMs / 1e3)
      m.share("cluster.driver_gap_share",
        (mlMs - Intervals.unionMs(collector.sum(ml.map(_.id)).jobIntervals.toSeq)) / mlMs)
      m.time("queries.memo_build_s",
        coldT.collect { case (q, c) if warmT.contains(q) => c - warmT(q) }.sum / 1e3)
      m.size("queries.pinned_mb", Metrics.pinnedMb(spark))
    }
    result()
  }
}
