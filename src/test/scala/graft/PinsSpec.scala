package graft

import org.scalatest.funsuite.AnyFunSuite

class PinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Dataset.unpersist is a no-op for localCheckpoint pins; Pins.release drops them") {
    def pins() = spark.sparkContext.getPersistentRDDs.size
    val base = pins()
    val df = (1 to 100).toDF("x").localCheckpoint(true)
    assert(pins() == base + 1, "localCheckpoint must pin exactly one RDD")
    // documents the Spark behavior Pins exists for: the checkpoint pin
    // lives below the CacheManager, so Dataset.unpersist cannot see it
    df.unpersist(blocking = true)
    assert(pins() == base + 1, "plain unpersist unexpectedly dropped the pin")
    graft.util.Pins.release(df)
    assert(pins() == base, "Pins.release must drop the checkpoint pin")
  }

  test("Pins.release falls back to plain unpersist for cached plans") {
    val df = (1 to 100).toDF("x").cache()
    df.count()
    assert(df.storageLevel.useMemory)
    graft.util.Pins.release(df)
    assert(!df.storageLevel.useMemory, "cached plan must uncache via the fallback")
  }

  private def pinIds() = spark.sparkContext.getPersistentRDDs.keySet
  private def isPinned(ds: org.apache.spark.sql.Dataset[_]) = ds.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      spark.sparkContext.getPersistentRDDs.contains(lr.rdd.id)
    case _ => false
  }

  test("Pins.iterate: n = 0 returns init, n = 1 is a live plan over init") {
    val init = (1 to 10).toDF("x").localCheckpoint(true)
    var calls = 0
    def step(df: org.apache.spark.sql.DataFrame) = { calls += 1; df.select(($"x" + 1).as("x")) }
    assert(graft.util.Pins.iterate(init, 0)(step) eq init)
    assert(calls == 0)
    val before = pinIds()
    val one = graft.util.Pins.iterate(init, 1)(step)
    assert(calls == 1)
    assert(pinIds() == before, "n = 1 must checkpoint nothing")
    assert(!isPinned(one) && isPinned(init), "n = 1 is a live plan and init stays pinned")
    assert(one.as[Int].collect().sorted.toSeq == (2 to 11))
    graft.util.Pins.release(init)
  }

  test("Pins.iterate: n = 3 calls step three times and leaves one loop pin") {
    val before = pinIds()
    val init = (1 to 10).toDF("x").localCheckpoint(true)
    var calls = 0
    val out = graft.util.Pins.iterate(init, 3) { df =>
      calls += 1; df.select(($"x" * 2).as("x"))
    }
    assert(calls == 3)
    val added = pinIds() -- before
    assert(added.size == 1, s"want only the step-2 state pinned, got $added")
    assert(!isPinned(init), "init is released once step 1 has materialized")
    assert(out.as[Int].collect().sorted.toSeq == (1 to 10).map(_ * 8))
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(false))
  }

  test("Pins.advance: a successor that reads its predecessor collects after the release") {
    val prev = (1 to 10).toDF("x").localCheckpoint(true)
    val next = graft.util.Pins.advance(prev, prev.select(($"x" * 3).as("x")))
    assert(!isPinned(prev), "advance must release the predecessor")
    assert(isPinned(next), "advance must return the pinned successor")
    assert(next.as[Int].collect().sorted.toSeq == (1 to 10).map(_ * 3))
    graft.util.Pins.release(next)
  }

  test("Pins.advance caps the pin's size estimate: a self-joining state stays at Long.MaxValue") {
    // each round's plan joins the state with itself, so its estimate is
    // the square of the last checkpoint's; uncapped it passes Long.MaxValue
    // by round 4 and has hundreds of digits by round 8
    val before = pinIds()
    var state = (1 to 10).toDF("x").localCheckpoint(true)
    for (_ <- 1 to 8)
      state = graft.util.Pins.advance(state, state.as("a")
        .join(state.as("b"), $"a.x" === $"b.x").select($"a.x".as("x")))
    val size = state.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size <= BigInt(Long.MaxValue), s"a ${size.toString.length}-digit size estimate")
    assert(isPinned(state), "the capped state must still be the pinned checkpoint")
    assert(state.as[Int].collect().sorted.toSeq == (1 to 10))
    graft.util.Pins.release(state)
    assert(pinIds() == before, "advance must leave only the caller's pin")
  }
}
