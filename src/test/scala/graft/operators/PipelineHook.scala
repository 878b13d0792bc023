package graft.operators

/** Deterministic races and fault injection through the commit
  * pipeline's test seam ([[Snapshots.withHook]]): no sleeping worker
  * threads, no squatted claims — the competing statement runs at an
  * exact pipeline step of the statement under test. */
object PipelineHook {

  /** Run `body` against table `dir`; the FIRST time any writer of
    * `dir` reaches `step` ("stage", "seal", "claim" or "occupy"),
    * `competitor` runs there, on the same thread. */
  def raceAt[A](dir: String, step: String)(competitor: => Unit)(
      body: => A): A = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Snapshots.withHook(dir, s =>
      if (s == step && fired.compareAndSet(false, true)) competitor)(body)
  }

  /** Run `body` with the first arrival at `step` throwing. */
  def failAt[A](dir: String, step: String)(body: => A): A =
    raceAt(dir, step)(throw new InjectedFault(step))(body)

  final class InjectedFault(step: String)
      extends RuntimeException(s"injected fault after $step")
}
