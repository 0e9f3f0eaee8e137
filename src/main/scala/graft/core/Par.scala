package graft.core

/** Run independent maintenance actions as CONCURRENT Spark jobs (the
  * optimization guide's §2.6 overlap: actions are only sequential
  * because driver code calls them sequentially — the scheduler happily
  * runs several jobs at once and back-fills one job's task tail with
  * the next job's tasks). Callers pass only ops that touch DISJOINT
  * directories/zones, so the group's final state equals the sequential
  * one's; a group costs its slowest member, not the sum. Every op runs
  * to completion (no partial-kill: an op racing a failing sibling still
  * lands — the same state a sequential crash-between-ops leaves, which
  * the zones' replay contracts already absorb); the first failure then
  * rethrows.
  */
object Par {
  def run(ops: (() => Unit)*): Unit = all(ops: _*): Unit

  /** [[run]] returning each op's result, in the order of `ops`. */
  def all[A](ops: (() => A)*): Seq[A] =
    if (ops.sizeIs <= 1) ops.map(_())
    else {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val results = new Array[Any](ops.size)
      val threads = ops.zipWithIndex.map { case (op, i) =>
        val t = new Thread(() =>
          try results(i) = op() catch { case t: Throwable => failures.add(t): Unit })
        t.start()
        t
      }
      threads.foreach(_.join())
      if (!failures.isEmpty) throw failures.peek()
      results.toSeq.map(_.asInstanceOf[A])
    }
}
