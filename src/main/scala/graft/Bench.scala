package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver-run benchmark: times every declared query on
  * `SPARK_GRAFT_SF_DIR` and emits machine-readable JSON.
  *
  * Each query is materialized through the noop sink so the full plan —
  * every column, no count-only pruning — executes end to end. Failures
  * are reported as negative times rather than silently folded into the
  * total.
  *
  * Measurement hygiene (the two lessons rounds 7/8/13 paid for):
  *
  *  - FAMILY-SCOPED artifact lifetime. Queries run grouped by name
  *    prefix (`g_*`, `sim_*`, `tp_*`, …); before each family the shared
  *    memo (checkpoint-pinned LSH/IVF/BPE artifacts,
  *    [[graft.queries.PipelineOps.releaseMemo]]) and the SQL cache are
  *    dropped, then the family is re-warmed untimed. Without this, the
  *    storage pins of earlier families evict the checkpoint blocks of
  *    later iterative loops at local[32]'s block-manager size — measured
  *    in round 13 as `g_ppr_seeded` 2.59 s isolated vs 6.5 s co-run with
  *    the sim family. Build-once artifacts still land outside the timed
  *    region, exactly as in a per-service production deployment.
  *
  *  - QUIET-FIRST START (round 19). The initial timed pass waits —
  *    bounded by `SPARK_GRAFT_QUIET_WAIT_SECS` (default 300 s, 0
  *    disables) — for the 1-minute load average to drop under the same
  *    `SPARK_GRAFT_ADJ_LOAD_MAX` gate the adjudication re-measure uses.
  *    Rounds through 18 started the official run on whatever load the
  *    driver left behind (r18: 13.45 on 32 CPUs), so the committed raw
  *    total carried ~45% contention that only the adjudication pass
  *    could rebut, 16 rows deep.
  *
  *  - CONTENTION AUTO-ADJUDICATION. A shared machine can inflate rows
  *    5-10x (round 13's official run: `sbt` took 993 s for a 168 s
  *    suite; 33 rows flagged >2x baseline, all of which re-measured at
  *    ≈baseline once the machine was quiet). Any row landing above its
  *    flag threshold — 2x its `BASELINE.md` entry AND at least
  *    `SPARK_GRAFT_ADJ_FLOOR_SECS` (0.25 s) above it, so a 40 ms row
  *    cannot breach on JVM noise — is automatically re-measured at
  *    suite end (memo released, one warm-up, dedicated reps) and
  *    recorded in the same artifact under `"adjudicated"`, together
  *    with `"value_adjudicated"` (the total with flagged rows
  *    substituted) and start/end 1-minute load averages — the polluted
  *    official number carries its own rebuttal. The re-measure pass is
  *    LOAD-AWARE (round 16, tightened round 18): it waits — bounded by
  *    `SPARK_GRAFT_ADJ_WAIT_SECS`, default 300 s — for the 1-minute
  *    load average to drop under `SPARK_GRAFT_ADJ_LOAD_MAX` (default
  *    0.1 x nproc; the old 8.0 passed runs that still inflated
  *    sub-second rows 5-7x) before re-measuring, requires two
  *    CONSECUTIVE reps agreeing within spread before trusting a
  *    number, and — the round-18 rule the r17 artifact was missing —
  *    a row still over its threshold after adjudication (or one that
  *    never stabilized) lands in `"adjudication_unresolved"`: the
  *    artifact re-flags what it could not rebut instead of stamping it
  *    quiet. If the machine never quiets the artifact carries
  *    `"adjudication_contended": true` + `"adjudication_load"` so the
  *    adjudicated numbers read as a floor, not a verdict.
  *
  * Emission contract (the driver captures a bounded tail of stdout, so
  * a single 2+ KB JSON line can get truncated mid-line and parse to
  * nothing):
  *  1. the FULL result JSON is written to `BENCH_FULL.json` in the
  *     working directory (or `SPARK_GRAFT_OUT`; a `SPARK_GRAFT_ONLY`
  *     run without it writes no file), and the compact line's `"full"`
  *     names that file, `null` when none was written,
  *  2. the full line is printed first,
  *  3. a compact line (same schema; slowest queries first, capped at
  *     ~1.5 KB so it always survives a 2 KB tail window together with
  *     sbt's trailing status line) is printed LAST.
  *
  * A warm-up pass runs every query shape once before its family is
  * timed (skippable via SPARK_GRAFT_WARMUP=0): JIT + codegen
  * compilation, parquet footer reads, and the build-once shared
  * materializations (LSH signature index, IVF index) all land outside
  * the timed region, as they would in a long-lived service.
  */
object Bench {

  /** Parse the `| query | sec |` per-query table out of BASELINE.md.
    * Rows with extra columns (the soak tables) don't match the
    * two-column shape; a re-baselined query (two rows) takes the LAST
    * occurrence, the file's most recent number.
    */
  private[graft] def baselineRows(text: String): Map[String, Double] = {
    val row = """^\|\s*([a-z][a-z0-9_]*)\s*\|\s*([0-9]+(?:\.[0-9]+)?)\s*\|\s*$""".r
    text.linesIterator.foldLeft(Map.empty[String, Double]) { (acc, line) =>
      line match {
        case row(name, secs) => acc + (name -> secs.toDouble)
        case _               => acc
      }
    }
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Flag threshold: >2x baseline AND at least `floor` seconds above it
    * (the absolute floor keeps millisecond rows from breaching on JVM
    * noise — round 18). Package-visible for the spec.
    */
  private[graft] def overThreshold(v: Double, b: Double, floor: Double): Boolean =
    v > math.max(2 * b, b + floor)

  /** Two consecutive re-measures "agree" within 20% spread, floored at
    * 50 ms for sub-100 ms rows. Package-visible for the spec.
    */
  private[graft] def agrees(a: Double, b: Double): Boolean =
    math.abs(a - b) <= math.max(0.2 * math.min(a, b), 0.05)

  /** Family key of a query name: the prefix before the first `_`
    * (`g_pagerank` → `g`, `tp_bpe_train` → `tp`). Grouping only needs
    * to put queries that share memoized artifacts together, which the
    * naming convention already does.
    */
  private def family(name: String): String = name.takeWhile(_ != '_')

  /** Adjudication rep loop: draw measurements (negative = failed rep)
    * until two CONSECUTIVE successes agree within [[agrees]]' spread, or
    * the attempt budget runs out. Returns every SUCCESSFUL time plus the
    * stability verdict. Successes accumulate for the min even when a
    * later rep fails — round-19 advisor fix: clearing the whole buffer
    * on failure made a query whose LAST rep failed report the
    * contaminated official number despite valid dedicated reps (it was
    * flagged unresolved, but `value_adjudicated` kept the worse number).
    * A failed rep resets only the agreement streak; the loop is bounded
    * by ATTEMPTS, not streak length, so a persistently failing query
    * cannot spin it forever (round-18 review finding).
    */
  private[graft] def stableReps(measure: () => Double,
                                maxAttempts: Int = 5)
      : (Seq[Double], Boolean) = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var streakLast: Option[Double] = None
    var stable = false
    var attempts = 0
    while (attempts < maxAttempts && !stable) {
      attempts += 1
      val t = measure()
      if (t > 0) {
        stable = streakLast.exists(agrees(_, t))
        streakLast = Some(t)
        times += t
      } else streakLast = None
    }
    (times.toSeq, stable)
  }

  /** Bounded wait for the 1-minute load average to drop under `gate`.
    * Returns the load observed when the wait ended (quiet, or the
    * deadline hit). Shared by the QUIET-FIRST gate on the initial timed
    * pass (round 19 — r18's official run started at load 13.45 and
    * carried ~45% contention into the committed raw total; waiting only
    * before ADJUDICATION fixed the verdict but not the headline) and
    * the pre-adjudication wait itself.
    */
  private def waitForQuiet(gate: Double, maxWaitSecs: Int, label: String): Double = {
    var load = loadAvg
    val deadline = System.nanoTime() + maxWaitSecs * 1000000000L
    while (load > gate && System.nanoTime() < deadline) {
      System.err.println(f"[bench] $label waiting for quiet: " +
        f"load $load%.2f > gate $gate%.2f")
      Thread.sleep(10000L)
      load = loadAvg
    }
    load
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv("graft-bench")

    // Optional comma-separated filter for single-query iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val flaky = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                quiet: Boolean): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val failure =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          if (!quiet) System.err.println(s"[bench] $name failed: $msg")
          Some(msg.linesIterator.take(1).mkString.take(200))
        }
      val secs = (System.nanoTime() - t0) / 1e9
      (if (failure.isEmpty) secs else -secs, failure)
    }

    def releaseArtifacts(): Unit = {
      try graft.queries.PipelineOps.releaseMemo(spark)
      catch { case NonFatal(_) => }
      try spark.catalog.clearCache()
      catch { case NonFatal(_) => }
    }

    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    // QUIET-FIRST (round 19): wait — bounded, so CI can't hang — for the
    // machine to quiet BEFORE the first timed pass, with the same load
    // gate the adjudication re-measure uses. Every round through 18
    // started the official run on whatever load the driver left behind
    // (r18: 13.45 on 32 CPUs → a raw total ~45% contention that only the
    // adjudication pass could rebut, 16 rows deep). Opt out with
    // SPARK_GRAFT_QUIET_WAIT_SECS=0.
    val quietGate = sys.env.get("SPARK_GRAFT_ADJ_LOAD_MAX").map(_.toDouble)
      .getOrElse(0.1 * Runtime.getRuntime.availableProcessors())
    val quietWaitSecs =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SECS", "300").toInt
    if (quietWaitSecs > 0) waitForQuiet(quietGate, quietWaitSecs, "initial run")
    val loadStart = loadAvg

    // Best-of-N timing (default 2): one contention window on a shared
    // machine otherwise shows up as a phantom 5-10x regression on
    // whichever queries were in flight (rounds 7 and 8 each had one).
    // min-of-reps is the standard steady-state estimator here — the
    // true cost plus the smallest noise draw.
    //
    // A query lands in "errors" only when EVERY timed rep failed (so
    // n_errors means "queries with no successful run", the reading the
    // parity check assumes); a query that failed some reps but succeeded
    // another keeps its best-of time and is tagged in "flaky" instead —
    // one artifact entry per query, never both signals at once.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    def timed(name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              n: Int): Double = {
      val runs = (1 to n).map(_ => runOnce(name, fn, quiet = false))
      val good = runs.map(_._1).filter(_ > 0)
      val firstMsg = runs.flatMap(_._2).headOption
      if (good.isEmpty) firstMsg.foreach(m => errors(name) = m)
      else firstMsg.foreach(m => flaky(name) = m)
      if (good.nonEmpty) good.min else runs.head._1
    }

    val results = selected
      .groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .flatMap { case (_, fam) =>
        releaseArtifacts()
        if (warmup) fam.foreach { case (n, fn) => runOnce(n, fn, quiet = true) }
        fam.map { case (name, fn) => name -> timed(name, fn, reps) }
      }.sortBy(_._1)

    // --- contention auto-adjudication -------------------------------
    // Rows over their BASELINE.md flag threshold are re-measured
    // dedicated (fresh memo, one warm-up, reps until two consecutive
    // measurements agree). A genuinely regressed query stays slow in
    // its adjudicated number — and since round 18 it RE-FLAGS itself
    // ("adjudication_unresolved") instead of being silently stamped
    // quiet: the r17 artifact certified three 4.9-7.2x contamination
    // rows as adjudicated-quiet because nothing checked the re-measure
    // against the threshold it was rebutting.
    val baseline =
      try baselineRows(java.nio.file.Files.readString(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.md"))))
      catch { case _: Throwable => Map.empty[String, Double] }
    // Flag threshold: >2x baseline AND at least an absolute floor above
    // it (default +0.25 s) — a 40 ms row breaches 2x on pure JVM noise,
    // which burned round 17's artifact (ta_rolling_hash 0.25 vs 0.04).
    val flagFloor =
      sys.env.getOrElse("SPARK_GRAFT_ADJ_FLOOR_SECS", "0.25").toDouble
    val flagged = results.filter { case (n, v) =>
      v > 0 && baseline.get(n).exists(overThreshold(v, _, flagFloor))
    }
    // Load-aware gate: a dedicated re-measure taken while the machine is
    // still contended just reproduces the contamination it exists to
    // rebut (round-15 re-measures were taken immediately at suite end,
    // trusting luck). If rows are flagged, wait — bounded — for the
    // 1-minute load average to drop under the gate before re-measuring;
    // if it never quiets, the artifact marks the adjudication pass
    // itself `"adjudication_contended": true` so a reader weighs the
    // adjudicated numbers as a floor, not a verdict. QUIET means what it
    // says since round 18: the default gate is 0.1 x nproc (3.2 on the
    // 32-way box) — the old 8.0 stamped runs quiet that still inflated
    // sub-second scan rows 5-7x (r17's ta_* rows collapsed to 1.4-2.2x
    // under a genuinely quiet re-measure).
    val adjLoadMax = quietGate
    val adjWaitSecs =
      sys.env.getOrElse("SPARK_GRAFT_ADJ_WAIT_SECS", "300").toInt
    var adjLoad = loadAvg
    if (flagged.nonEmpty)
      adjLoad = waitForQuiet(adjLoadMax, adjWaitSecs, "adjudication")
    val adjContended = flagged.nonEmpty && adjLoad > adjLoadMax
    if (adjContended)
      System.err.println(f"[bench] adjudication STILL CONTENDED after " +
        f"${adjWaitSecs}s (load $adjLoad%.2f > $adjLoadMax%.2f) — " +
        "re-measures marked contended")
    // Stability contract (round 18): a re-measure counts only when two
    // CONSECUTIVE reps agree within spread ([[agrees]]) — one lucky rep
    // under residual load is not a verdict. Bounded at 5 reps; a row
    // that never stabilizes is reported unresolved alongside rows still
    // over threshold.
    val adjudicated = flagged.map { case (name, official) =>
      releaseArtifacts()
      val fn = SparkEntry.queries(name)
      runOnce(name, fn, quiet = true) // dedicated warm-up
      val (times, stable) =
        stableReps(() => runOnce(name, fn, quiet = true)._1)
      val secs = if (times.nonEmpty) times.min else official
      System.err.println(f"[bench] adjudicated $name: official $official%.3f -> " +
        f"dedicated $secs%.3f (baseline ${baseline(name)}%.3f, " +
        s"stable=$stable, reps=${times.size})")
      (name, secs, stable)
    }
    val adjMap = adjudicated.map { case (n, s, _) => n -> s }.toMap
    // (a) rows the adjudication could NOT clear: still over the flag
    // threshold after the dedicated re-measure, or never stabilized —
    // these re-flag the artifact instead of hiding behind a quiet stamp
    val unresolved = adjudicated.collect {
      case (n, s, stable) if !stable ||
        baseline.get(n).exists(overThreshold(s, _, flagFloor)) => n
    }
    if (unresolved.nonEmpty)
      System.err.println(s"[bench] adjudication UNRESOLVED for: " +
        unresolved.mkString(", "))

    def entries(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v > 0 => v }.sum
    val totalAdj = results.collect {
      case (n, v) if v > 0 => adjMap.getOrElse(n, v)
    }.sum
    // Failures carry their message, not just a bare negative time — a
    // vanished query must name itself in the artifact (round-8 lesson).
    import graft.util.Jsons.{str => jstr, strMap}
    val errJson = s""","errors":${strMap(errors)},"flaky":${strMap(flaky)}""" +
      s""","adjudicated":${entries(adjudicated.map { case (n, s, _) => (n, s) })}""" +
      f""","value_adjudicated":$totalAdj%.3f""" +
      f""","adjudication_load":$adjLoad%.2f""" +
      s""","adjudication_contended":$adjContended""" +
      unresolved.map(jstr).mkString(""","adjudication_unresolved":[""", ",", "]") +
      f""","load_avg":{"start":$loadStart%.2f,"end":$loadAvg%.2f}"""
    def wrap(qs: String, extra: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$extra,"sf":"$sfDir"}"""

    val fullJson = wrap(entries(results), errJson)
    // a SPARK_GRAFT_ONLY-filtered run must not clobber the full-suite
    // artifact SKILL.md's regression procedure diffs against; a full run
    // at a NON-default scale (the sf1 gate) must not either — route it
    // via SPARK_GRAFT_OUT
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json")
    // an explicit SPARK_GRAFT_OUT always writes (the user redirected the
    // artifact away from BENCH_FULL.json, so the ONLY-filter clobber
    // protection no longer applies)
    val written = Option.when(only.isEmpty || sys.env.contains("SPARK_GRAFT_OUT")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), fullJson + "\n")
      outFile
    }
    println(fullJson)

    // Compact line: slowest-first per-query entries under a byte budget,
    // so the line that reaches a bounded tail capture is complete JSON.
    val budget = 1500
    val desc = results.sortBy { case (_, v) => -math.abs(v) }
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 165 + written.fold(0)(_.length) // wrapper + extras allowance
    desc.foreach { case (k, v) =>
      val cost = k.length + 12
      if (used + cost <= budget) { kept += ((k, v)); used += cost }
    }
    val extra = s""","n_queries":${results.size},"queries_omitted":${results.size - kept.size},"n_errors":${errors.size},"n_flaky":${flaky.size},"n_adjudicated":${adjudicated.size},"n_unresolved":${unresolved.size}""" +
      f""","value_adjudicated":$totalAdj%.3f,"full":""" + written.fold("null")(jstr)
    println(wrap(entries(kept.toSeq), extra))
    spark.stop()
  }
}
