package graft.util

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The one owner of build-once artifacts scoped to a session: memoized
  * frames, trained models, indexes, resolved relations, staged files.
  * An artifact is keyed on the session, then on its [[Kind]] and a
  * dataset id, and lives until [[release]] frees every built artifact of
  * that session; the next call then builds afresh.
  *
  * Each value sits in a build-exactly-once [[Once]] cell: two callers
  * racing on one key run ONE build, so a losing build can never leak the
  * checkpoint blocks it pinned or race the winner's writes to a shared
  * path.
  *
  * Keyed on the SESSION OBJECT, not identityHashCode (which is not
  * unique), so a session can never be handed an artifact bound to
  * another, possibly stopped, one. The weak key does NOT buy automatic
  * eviction: most artifacts are Datasets that strongly reference their
  * SparkSession, and the registry holds them strongly, so the key stays
  * reachable (the WeakHashMap javadoc's value-references-key caveat).
  * That is fine for the one-session-per-JVM processes this engine runs
  * in; a long-lived multi-session service must call [[release]] (or
  * [[graft.queries.PipelineOps.releaseMemo]]) when it stops a session.
  */
object SessionArtifacts {

  /** A kind of artifact and how to free one built value of it (drop its
    * checkpoint pins, delete its files). Kinds compare by identity, so
    * two kinds never share entries even when their value types agree.
    */
  final class Kind[T](val name: String, val release: T => Unit = (_: T) => ()) {
    override def toString: String = s"Kind($name)"
  }

  private final class Entry[T](val kind: Kind[T], build: () => T) {
    val cell = new Once[T](build)
    def release(): Unit = cell.peek.foreach(kind.release)
  }

  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[(Kind[_], Any), Entry[_]]]())

  /** The `kind` artifact of dataset `id` in `s`, built by `build` on
    * first use; every later call, racing or not, gets the same value.
    */
  def get[T](s: SparkSession, kind: Kind[T], id: Any)(build: => T): T = {
    val entries = bySession.computeIfAbsent(s, _ => TrieMap.empty)
    val fresh = new Entry[T](kind, () => build)
    entries.putIfAbsent((kind, id), fresh).getOrElse(fresh)
      .asInstanceOf[Entry[T]].cell.value
  }

  /** Drop every artifact of `s`, running each BUILT entry's release (an
    * entry never built is not built just to be released). A non-fatal
    * failure in one release does not stop the others.
    */
  def release(s: SparkSession): Unit =
    Option(bySession.remove(s)).foreach(_.values.foreach { e =>
      try e.release() catch { case NonFatal(_) => }
    })
}
