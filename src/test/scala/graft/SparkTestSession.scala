package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM).
  *
  * Cross-process certification (round 18): like Verify/Bench, the suite
  * honors `SPARK_GRAFT_MASTER` (e.g. `local-cluster[2,8,4096]`) with
  * `SPARK_GRAFT_JARS` naming the main AND test jars (`sbt package
  * Test/package` — executor JVMs need the graft classes, and the
  * streaming suites' fixture closures live in test-classes). Remember
  * `SPARK_SCALA_VERSION=2.13` in the environment or the executor
  * launcher dies before the first task. Unset → the local[4] contract.
  * Not built by GraftSession: FunctionsSpec's HOF-rewrite cases take
  * their baseline from a session without the RewriteHofDotProduct rule.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(builder.config("spark.jars", _))
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
