package graft.util

/** Build-exactly-once cell behind [[SessionArtifacts]] (round 18, found
  * while hardening the multi-tenant posture the chaos harness probes):
  * `TrieMap.getOrElseUpdate`'s by-name default can be EVALUATED TWICE
  * under a race — harmless for a pure value, but a losing build that
  * pinned localCheckpoint blocks leaks them with no surviving handle,
  * and a losing build that WRITES a shared artifact path (the
  * persisted IVF index) races the winner's reader on the same files.
  * Insert the cell with `putIfAbsent` and evaluate the WINNER's
  * `lazy val`, which the JVM synchronizes to exactly one evaluation;
  * `peek` serves release hooks without triggering a build just to
  * release its result.
  */
final class Once[T](build0: () => T) {
  @volatile private var built: Option[T] = None
  lazy val value: T = { val v = build0(); built = Some(v); v }
  def peek: Option[T] = built
}
