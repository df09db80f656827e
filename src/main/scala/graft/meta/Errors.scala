package graft.meta

/** A `changefeed` window crossed a generation change that is NOT a
  * provable data-preserving compaction, so window rows cannot be
  * attributed and the chain walk refuses — replay from a full snapshot
  * instead (the refusal's standing advice). A DEDICATED type, not a
  * message-substring contract: consumers that can recover (e.g.
  * [[graft.ops.ClusterOps.componentsCycle]]'s exact full-snapshot
  * re-fold, which is safe because duplicate edges are idempotent) match
  * on this class, so a reworded diagnostic or a wrapping execution path
  * can never silently disable their fallback. Subclasses
  * IllegalArgumentException so every pre-existing caller contract
  * (specs included) is unchanged. */
class ChangeWindowCompactedException(msg: String)
  extends IllegalArgumentException(msg)

/** A manifest commit declined because a concurrent commit invalidated the
  * snapshot the operation planned against: a replace, dynamic or REPLACE
  * WHERE overwrite, compaction, or deletion-vector commit whose pinned
  * generation, files or vectors moved. Nothing was published, and the
  * operation is safe to re-plan against the fresh manifest. Matched by
  * class, never by message (the same rule as above). Subclasses
  * IllegalStateException, so callers catching that type still see every
  * conflict. */
class CommitConflictException(msg: String) extends IllegalStateException(msg)

object CommitConflictException {
  /** True when `e` or one of its first causes is a commit conflict: Spark
    * may wrap a driver-side commit failure inside its write-job error. */
  def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[CommitConflictException])

  /** Bounded auto-retry for an operation whose commit can conflict: `body`
    * (given the 0-based attempt) re-reads the manifest each attempt, so
    * retrying IS re-planning. After five conflicts in a row it gives up
    * with an error naming `what` and carrying the last conflict: livelock
    * beats silent data movement, and five lost races in a row means
    * something is hammering the collection anyway. */
  def retrying[A](what: String)(body: Int => A): A = {
    var attempt = 0
    while (true) {
      try return body(attempt)
      catch {
        case e: Exception if isConflict(e) =>
          attempt += 1
          if (attempt >= 5) throw new IllegalStateException(
            s"$what kept conflicting after $attempt attempts — giving up", e)
      }
    }
    sys.error("unreachable")
  }
}
