package graft.sink

/** Crash-point instrumentation for the retention state machine — the
  * mechanism behind CrashSweepSpec's every-prefix kill test.
  *
  * Each durable operation in the swap/compact/delete/heal sequences calls
  * [[reached]] right AFTER its side effect lands (a catalog op or a
  * completed table write — Spark's committer makes the write itself
  * all-or-nothing, so the seams BETWEEN operations are the real crash
  * windows). A spec arms a budget of k: the first k points pass, the
  * (k+1)-th throws [[CrashPoints.CrashInjected]], simulating a process
  * death with exactly k durable operations completed. Sweeping k over
  * 0..N−1 (N from an unarmed rehearsal) kills the REAL code path at every
  * prefix — no hand-modeled step list to drift from the implementation.
  *
  * Thread scoping (round-10 ADVICE): the armed budget lives in an
  * [[InheritableThreadLocal]], so only the ARMING thread (and threads it
  * spawns after arming, which share the same mutable state object) can
  * ever trip it. [[reached]] on any other thread — a production retention
  * pass, a concurrently running suite under a parallel test runner, a
  * streaming micro-batch thread started before the arm — is a no-op with
  * no shared counter, no synchronization, no leak of an armed budget
  * across unrelated code paths.
  */
object CrashPoints {

  final class CrashInjected(val point: String)
    extends RuntimeException(s"injected crash at $point")

  /** Mutable per-thread-tree state: child threads created after an arm
    * inherit the REFERENCE, so a body that hands work to a thread it
    * spawned still counts/crashes there. `hits` is an AtomicLong because
    * swept verbs DO fan durable ops onto driver threads (IndexAudit
    * .inParallel under buildTrio/forgetGate, DedupIndex.extend's disjoint
    * appends): an unsynchronized read-modify-write could lose concurrent
    * increments, making the sweep's N and the injected crash prefix
    * nondeterministic (round-11 ADVICE). One CAS on a test-only path. */
  private final class State {
    @volatile var budget: Long = Long.MaxValue
    // named-point injection ([[armAt]]) — independent of the budget sweep:
    // a fault that must land in ONE SPECIFIC leg of a fanned verb (the
    // forget-gate deadlock regression needs the dd family's build to fail,
    // not whichever leg reaches a point first) can't be expressed as a
    // count prefix, whose ordering across Par threads is nondeterministic.
    @volatile var at: String = null
    val hits = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  private val state = new InheritableThreadLocal[State]

  private def ensure(): State = {
    var s = state.get()
    if (s == null) { s = new State; state.set(s) }
    s
  }

  /** Allow `n` points on THIS thread, then throw on the next. Resets the
    * counter. */
  private[graft] def arm(n: Long): Unit = {
    val s = ensure(); s.hits.set(0L); s.budget = n
  }

  /** Throw at the FIRST occurrence of the NAMED point on this thread tree
    * (and only it) — targeted fault injection for fanned verbs where the
    * budget sweep's count ordering is nondeterministic across legs. A
    * point reached BEFORE a leg writes (LexIndex.extend's
    * `lex.extend.<table>`) tears that leg with its table un-landed. */
  private[graft] def armAt(point: String): Unit = { ensure().at = point }

  /** Back to production behavior for this thread (counter keeps counting,
    * never throws). */
  private[graft] def disarm(): Unit = {
    val s = ensure(); s.budget = Long.MaxValue; s.hits.set(0L); s.at = null
  }

  /** Points reached on this thread since the last arm/disarm — the
    * sweep's N. */
  private[graft] def count: Long = {
    val s = state.get(); if (s == null) 0L else s.hits.get()
  }

  def reached(point: String): Unit = {
    val s = state.get()
    if (s != null) {
      if (s.at != null && s.at == point) throw new CrashInjected(point)
      if (s.hits.incrementAndGet() > s.budget) throw new CrashInjected(point)
    }
  }
}
