package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * Runs selected declared queries with a listener that attributes wall
  * time to Spark jobs and stages, so a bench row's seconds decompose
  * into scheduled work (per-stage task time, shuffle bytes) vs
  * driver-side gaps (planning, broadcast builds, driver collects).
  *
  * {{{ sbt 'runMain graft.Profile /root/testdata/sf0.1 g_pagerank,g_triangles' }}}
  *
  * Not part of the driver contract — a diagnosis tool only; results in
  * OPTIMIZATION_r19.md. Builds its session with [[GraftSession.fromEnv]],
  * the one Bench builds, so measured shapes match the official bench.
  */
object Profile {

  private case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L)
  private case class StageRec(id: Int, name: String, tasks: Int,
                              runTimeMs: Long, cpuTimeMs: Long,
                              shuffleReadB: Long, shuffleWriteB: Long,
                              inputB: Long, wallMs: Long)

  private class Rec extends SparkListener {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobRec]
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRec]
    val taskRun = scala.collection.mutable.HashMap.empty[Int, Long]
    val taskCpu = scala.collection.mutable.HashMap.empty[Int, Long]
    val taskN = scala.collection.mutable.HashMap.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs += JobRec(e.jobId, desc, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        taskRun(e.stageId) = taskRun.getOrElse(e.stageId, 0L) + m.executorRunTime
        taskCpu(e.stageId) = taskCpu.getOrElse(e.stageId, 0L) + m.executorCpuTime / 1000000L
        taskN(e.stageId) = taskN.getOrElse(e.stageId, 0) + 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
      stages += StageRec(si.stageId, si.name.takeWhile(_ != '\n').take(90),
        taskN.getOrElse(si.stageId, 0),
        taskRun.getOrElse(si.stageId, 0L), taskCpu.getOrElse(si.stageId, 0L),
        si.taskMetrics.shuffleReadMetrics.totalBytesRead,
        si.taskMetrics.shuffleWriteMetrics.bytesWritten,
        si.taskMetrics.inputMetrics.bytesRead, wall)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("g_pagerank"))
    val spark = GraftSession.fromEnv("graft-profile")

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try graft.queries.PipelineOps.releaseMemo(spark) catch { case NonFatal(_) => }
      try spark.catalog.clearCache() catch { case NonFatal(_) => }
      // warm-up identical to Bench's family warm-up
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

      val rec = new Rec
      spark.sparkContext.addSparkListener(rec)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(rec)

      println(f"%n=== $name  wall=$wall%.3f s ===")
      val jobsWall = rec.jobs.map(j => (j.end - j.start) / 1e3).sum
      println(f"jobs=${rec.jobs.size} stages=${rec.stages.size} total-job-wall=$jobsWall%.3f s " +
        f"driver-gap=${wall - jobsWall}%.3f s")
      rec.jobs.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  ${j.desc.take(80)}")
      }
      println("  top stages by task run time:")
      rec.stages.sortBy(-_.runTimeMs).take(12).foreach { s =>
        println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%7.3f run=${s.runTimeMs / 1e3}%8.3f " +
          f"cpu=${s.cpuTimeMs / 1e3}%8.3f tasks=${s.tasks}%3d " +
          f"in=${s.inputB / 1e6}%7.1fMB sr=${s.shuffleReadB / 1e6}%6.1fMB " +
          f"sw=${s.shuffleWriteB / 1e6}%6.1fMB  ${s.name}")
      }
    }
    spark.stop()
  }
}
