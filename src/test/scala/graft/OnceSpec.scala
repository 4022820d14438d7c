package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.util.SessionArtifacts
import graft.util.SessionArtifacts.Kind

/** The build-exactly-once memo cell (round 18) and the session artifact
  * registry built on it: TrieMap.getOrElseUpdate can evaluate its by-name
  * default twice under a race — for memo values that pin checkpoint
  * blocks or write shared paths, the losing build is a silent leak. A
  * registry get must build exactly once under heavy contention, peek must
  * never build, and one release must free every built entry of exactly
  * one session. Each case runs on its own `newSession()` so a release can
  * never free artifacts other suites hold on the shared session.
  */
class OnceSpec extends AnyFunSuite {

  private def freshSession() = SparkTestSession.spark.newSession()

  test("memo builds exactly once under 32-thread contention") {
    val s = freshSession()
    val kind = new Kind[Int]("contended")
    val builds = new AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(32)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (0 until 32).map { _ =>
      new Thread(() => {
        barrier.await()
        results.add(SessionArtifacts.get(s, kind, "k") {
          Thread.sleep(5) // widen the race window
          builds.incrementAndGet()
        }): Unit
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    SessionArtifacts.release(s)
    assert(builds.get() == 1, "the build must run exactly once")
    assert(results.size == 32 && results.toArray.forall(_ == 1),
      "every caller must observe the single built value")
  }

  test("peek never triggers a build") {
    val cell = new graft.util.Once[Int](() => sys.error("peek must not build"))
    assert(cell.peek.isEmpty)
    val built = new graft.util.Once[Int](() => 7)
    assert(built.value == 7)
    assert(built.peek.contains(7))
  }

  test("a kind's release runs once per built entry, never for an unbuilt one") {
    val s = freshSession()
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val kind = new Kind[Int]("counted", v => released.add(v): Unit)
    // a non-fatal failure releasing one entry must not stop the others
    val failing = new Kind[Int]("failing", _ => sys.error("release failed"))
    assert(SessionArtifacts.get(s, kind, "a")(1) == 1)
    assert(SessionArtifacts.get(s, kind, "b")(2) == 2)
    assert(SessionArtifacts.get(s, kind, "a")(sys.error("served, not rebuilt")) == 1)
    assert(SessionArtifacts.get(s, failing, "a")(3) == 3)
    intercept[IllegalStateException](
      SessionArtifacts.get(s, kind, "unbuilt")(throw new IllegalStateException("no")))
    SessionArtifacts.release(s)
    assert(released.asScala.toSeq.sorted == Seq(1, 2))
    SessionArtifacts.release(s)
    assert(released.size == 2, "a second release finds nothing left to free")
    assert(SessionArtifacts.get(s, kind, "a")(10) == 10, "released entries rebuild")
    SessionArtifacts.release(s)

    // a fatal error (here an interrupt) propagates out of release
    val t = freshSession()
    SessionArtifacts.get(t, new Kind[Int]("interrupting",
      _ => throw new InterruptedException), "a")(1)
    intercept[InterruptedException](SessionArtifacts.release(t))
  }

  test("releasing one session leaves another session's entries intact") {
    val (s1, s2) = (freshSession(), freshSession())
    val kind = new Kind[Object]("per-session")
    val (a1, a2) = (new Object, new Object)
    SessionArtifacts.get(s1, kind, "d")(a1)
    SessionArtifacts.get(s2, kind, "d")(a2)
    SessionArtifacts.release(s1)
    assert(SessionArtifacts.get(s2, kind, "d")(new Object) eq a2)
    assert(!(SessionArtifacts.get(s1, kind, "d")(new Object) eq a1))
    SessionArtifacts.release(s1); SessionArtifacts.release(s2)
  }

  test("after releaseMemo, quantizers, relations and staged media rebuild") {
    val s = freshSession()
    val d = SparkTestSession.sfDir
    val pq = graft.queries.PipelineOps.pqCodebook(s, d)
    val docs = graft.io.Tables.load(s, d, "documents")
    assert(graft.queries.PipelineOps.pqCodebook(s, d) eq pq)
    assert(graft.io.Tables.load(s, d, "documents") eq docs)
    val media = SparkEntry.queries("mm_binary_ingest")(s, d).inputFiles
    val mediaDir = java.nio.file.Paths.get(new java.net.URI(media.head)).getParent
    assert(java.nio.file.Files.isDirectory(mediaDir))

    graft.queries.PipelineOps.releaseMemo(s)
    // a Boolean, so a failure does not print the whole codebook
    val pqRebuilt = !(graft.queries.PipelineOps.pqCodebook(s, d) eq pq)
    assert(pqRebuilt, "pqCodebook must be rebuilt after releaseMemo, not served stale")
    assert(!(graft.io.Tables.load(s, d, "documents") eq docs))
    assert(!java.nio.file.Files.exists(mediaDir),
      "releaseMemo must delete the staged-media directory")
    graft.queries.PipelineOps.releaseMemo(s)
  }
}
