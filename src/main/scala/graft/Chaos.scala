package graft

import org.apache.spark.sql.SparkSession

/** Concurrency chaos harness (round 18): run the sf1 gate queries
  * 4-way CONCURRENTLY in ONE session — the multi-tenant posture a real
  * service runs — and flag any query whose FINAL adaptive plan changes
  * shape versus its dedicated run. The two sf1 scale collapses of round
  * 17 shared a root cause (Spark sizing decisions invisible at small
  * scale); this harness asks whether CONTENTION flips any of those same
  * decisions: AQE demoting a broadcast under memory pressure, coalesce
  * collapsing differently when stats interleave, a hash aggregate
  * falling back to sort.
  *
  * Method: each query runs once dedicated (plan signature + seconds
  * recorded), then all queries run through a fixed 4-thread pool
  * against the same session (Spark schedules jobs from all threads
  * concurrently). The SAME Dataset instance is executed via its own
  * QueryExecution (`toRdd` job), so `executedPlan` afterwards prints
  * the AQE FINAL plan; the signature is the multiset of physical
  * join/aggregate operator kinds plus the AQE coalesced-read count.
  * Output: one JSON line + `CHAOS_SF1.json` with per-query
  * {dedicated_s, concurrent_s, shape_changed, shapes}.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (data), `SPARK_GRAFT_ONLY` (query set;
  * required — the caller passes the sf1 gate set), `SPARK_GRAFT_CHAOS_THREADS`
  * (default 4).
  */
object Chaos {

  /** Plan-shape signature: operator-kind counts that distinguish the
    * decisions AQE can flip. Counted on the post-execution plan string
    * (the AQE final plan). `coalesced` counts AQEShuffleRead coalesce
    * sites; `isFinalPlan=false` never appears post-execution.
    */
  private[graft] def shape(plan: String): Map[String, Int] =
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct",
      "ObjectHashAggregate", "SortAggregate", "AQEShuffleRead")
      .map(k => k -> k.r.findAllMatchIn(plan).length)
      .filter(_._2 > 0).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val threads = sys.env.getOrElse("SPARK_GRAFT_CHAOS_THREADS", "4").toInt
    val spark = GraftSession.fromEnv("graft-chaos")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .getOrElse(sys.error("SPARK_GRAFT_ONLY is required (pass the sf1 gate set)"))
    val selected = SparkEntry.queries.filter { case (n, _) => only.contains(n) }
      .toSeq.sortBy(_._1)

    // Executes df's OWN QueryExecution (not a separate write command),
    // so the final adaptive plan is readable off the same instance.
    def runAndSign(name: String,
                   fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Map[String, Int]) = {
      val df = fn(spark, sfDir)
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreachPartition(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, shape(df.queryExecution.executedPlan.toString))
    }

    // warm-up (artifacts, codegen) exactly like Bench's family pass
    selected.foreach { case (n, fn) =>
      try runAndSign(n, fn) catch { case e: Throwable =>
        System.err.println(s"[chaos] warm-up $n failed: ${e.getMessage}") }
    }

    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def msgOf(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.take(1).mkString.take(200)
    // a failing gate query is a RECORDED row, never a harness abort —
    // the concurrent phase needs the healthy rows' comparison either way
    val dedicated = selected.flatMap { case (n, fn) =>
      try Some(n -> runAndSign(n, fn))
      catch { case e: Throwable => errors.put(n, msgOf(e)); None }
    }.toMap

    // 4-way concurrent: a fixed pool drains the same query list against
    // the same session; each worker records its own timings/signatures
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(q => queue.add(q))
    val results = new java.util.concurrent.ConcurrentHashMap[
      String, (Double, Map[String, Int])]()
    val pool = (1 to threads).map { _ =>
      new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          val (n, fn) = next
          try results.put(n, runAndSign(n, fn))
          catch { case e: Throwable => errors.put(n, msgOf(e)): Unit }
          next = queue.poll()
        }
      })
    }
    val t0 = System.nanoTime()
    pool.foreach(_.start()); pool.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9

    def jstr(s: String): String = graft.util.Jsons.str(s)
    def jshape(m: Map[String, Int]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:$v" }
        .mkString("{", ",", "}")
    // rows only for queries whose dedicated run succeeded — a failed one
    // is in `errors` and has no shape to compare
    val rows = selected.collect { case (n, _) if dedicated.contains(n) =>
      val (ds, dsh) = dedicated(n)
      val conc = Option(results.get(n))
      val changed = conc.exists(_._2 != dsh)
      val body = f"""{"dedicated_s":$ds%.3f,"concurrent_s":${conc.fold(-1.0)(_._1)}%.3f,""" +
        s""""shape_changed":$changed,"dedicated_shape":${jshape(dsh)},""" +
        s""""concurrent_shape":${conc.fold("null")(c => jshape(c._2))}}"""
      n -> (changed, body)
    }
    val flagged = rows.collect { case (n, (true, _)) => n }
    val json =
      s"""{"metric":"chaos","threads":$threads,"wall_s":${f"$wall%.3f"},""" +
        s""""n_queries":${selected.size},"shape_changed":[${flagged.map(jstr).mkString(",")}],""" +
        errors.entrySet().toArray.map { e0 =>
          val e = e0.asInstanceOf[java.util.Map.Entry[String, String]]
          s"${jstr(e.getKey)}:${jstr(e.getValue)}"
        }.mkString("\"errors\":{", ",", "},") +
        rows.map { case (n, (_, b)) => s"${jstr(n)}:$b" }
          .mkString("\"queries\":{", ",", "},") +
        s""""sf":${jstr(sfDir)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_CHAOS_OUT", "CHAOS_SF1.json")),
      json + "\n")
    println(json)
    if (flagged.nonEmpty)
      System.err.println(s"[chaos] PLAN SHAPE CHANGED under concurrency: " +
        flagged.mkString(", "))
    spark.stop()
  }
}
