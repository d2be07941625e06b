package graft.store

import java.util.concurrent.ConcurrentHashMap

/** Commit gate for abandonable units of Spark work, keyed by Spark job
  * tag: a gateway request [[open]]s its tag, its handler thread carries
  * the tag, and its watchdog [[abandon]]s the tag at the request timeout.
  * Every store commit on a thread carrying an open tag passes the gate
  * first ([[SensorStore]]'s staged append, just before the renames).
  *
  * Cancelling a tag's jobs stops the work that is running; the gate
  * covers what cancellation cannot: a job that finished just before the
  * cancel, followed by its rename. The first sample commit and the
  * abandon race through one atomic state change, so a request either
  * commits its samples (and its handler answers) or is abandoned (and
  * commits no sample): a timed-out publish never lands after its 408.
  * Catalog commits only check the gate — catalog rows are idempotent,
  * so a timed-out publish may leave its series' rows, never its samples.
  */
object CommitGate {
  private val Open = 0
  private val Committing = 1
  private val Abandoned = 2
  private val states = new ConcurrentHashMap[String, Integer]()

  def open(tag: String): Unit = { states.put(tag, Open); () }
  def close(tag: String): Unit = { states.remove(tag); () }

  /** Abandon `tag` unless its samples already started to commit; true
    * when the tag is (now) abandoned.
    */
  def abandon(tag: String): Boolean = {
    val s = states.computeIfPresent(tag,
      (_, s) => if (s == Committing) s else Abandoned)
    s != null && s == Abandoned
  }

  def abandoned(tag: String): Boolean = {
    val s = states.get(tag)
    s != null && s == Abandoned
  }

  /** Pass the gate for a commit on a thread carrying `tags`; `samples`
    * commits mark the open tags committing. Throws if any is abandoned.
    */
  private[store] def enter(tags: Set[String], samples: Boolean): Unit =
    tags.foreach { t =>
      val s = states.computeIfPresent(t,
        (_, s) => if (samples && s == Open) Committing else s)
      if (s != null && s == Abandoned)
        throw new java.util.concurrent.CancellationException(
          s"work tagged $t was abandoned; commit withdrawn")
    }
}
