package graft
import java.nio.file.{Files, Paths}
import graft.util.Jsons.strMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter for single-query iteration (same
    // contract as Bench's); the driver never sets it, so the gate always
    // dumps the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      strMap(SparkEntry.oracleSql))
    // Suite-parity gate: a loader/analysis break must fail the round
    // LOUDLY, not shrink the correctness file to a smaller-but-green
    // suite (round 8's silent loss of 10 events queries). Emit a
    // machine-readable summary next to the dumps and a final stdout
    // line the driver's bounded tail will keep.
    val dumped = selected.size - errors.size
    val summary =
      s"""{"queries_declared":${SparkEntry.queries.size},"queries_selected":${selected.size},""" +
      s""""queries_dumped":$dumped,"errors":${strMap(errors)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    if (errors.nonEmpty) {
      println(s"[verify] PARITY FAIL: $dumped/${selected.size} dumped; " +
        s"failed: ${errors.keys.mkString(", ")}")
      println(summary)
    } else println(s"[verify] PARITY OK: $dumped/${selected.size} queries dumped")
    spark.stop()
    // a failed round must fail the PROCESS too — a driver that checks the
    // exit code (rather than grepping stdout for the parity line) must
    // not see a shrunken dump as success
    if (errors.nonEmpty) sys.exit(1)
  }
}
