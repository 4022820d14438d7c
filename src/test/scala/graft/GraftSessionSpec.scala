package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("build returns a session with graft functions and strategy registered") {
    // in-JVM getOrCreate returns the shared test session; build must still
    // leave it fully registered (the documented idempotent path)
    SparkTestSession.spark // force the shared session first
    val spark = GraftSession.build()
    assert(spark.sql("SELECT hamming('0101', '0001') AS d").head.getInt(0) == 1)
    assert(spark.sql("SELECT rolling_hash('abc') AS h").head.getLong(0) > 0)
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v")
      .head.getDouble(0) == 11.0)
    // the SQ8 pair: pack then asymmetric float x int8 dot — round-trips
    // through SQL (scale = 2/127 -> code = [127, -76], dot = 127 + 2*(-76))
    assert(spark.sql(
      "SELECT vec_dot_i8(array(1.0d, 2.0d), sq8_pack(array(2.0d, -1.2d), 0.015748031496062992d)) AS v")
      .head.getDouble(0) == -25.0)
    // strategy present: the custom as-of plans through its physical node
    import spark.implicits._
    val l = Seq((1L, 10L, "p")).toDF("k", "t", "x")
    val r = Seq((1L, 5L, "v")).toDF("k", "t", "y")
    val plan = graft.operators.BroadcastAsofJoin
      .asofJoinBroadcast(l, r, "k", "t", "t", Seq("y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsofJoin"))
  }

  test("the harness environment resolves to (master, shuffle partitions) without a session") {
    val nproc = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.resolveEnv(Map.empty) == (s"local[$nproc]", nproc))
    assert(GraftSession.resolveEnv(Map("SPARK_GRAFT_CPUS" -> "3")) == ("local[3]", 3))
    assert(GraftSession.resolveEnv(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,8,4096]", "SPARK_GRAFT_CPUS" -> "3"))
      == ("local-cluster[2,8,4096]", 3))
    assert(GraftSession.resolveEnv(Map("SPARK_GRAFT_MASTER" -> "local[2]"))
      == ("local[2]", nproc))
    val e = intercept[IllegalArgumentException](
      GraftSession.resolveEnv(Map("SPARK_GRAFT_CPUS" -> "abc")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains("abc"))
  }
}
