package graft.core

/** Overlap independent Spark actions (guide §2.6): actions are only
  * sequential because driver code calls them sequentially; submitting
  * independent jobs from a small thread pool lets the scheduler
  * back-fill executors freed by one job's tail with the next job's
  * tasks — and, just as important at fixture scale, overlaps the
  * per-action DRIVER cost (analysis, planning, AQE stage coordination)
  * that otherwise serializes a lifecycle of hundreds of small jobs.
  *
  * Used only for actions with NO data dependency and disjoint output
  * paths (different index artifacts); results are unchanged by
  * construction. A failure does not cut the siblings short: `run`
  * waits for EVERY branch to finish, then rethrows the first failure
  * (in branch order), so no branch's Spark jobs are still running when
  * the caller's cleanup (e.g. deleting a fixture root) goes ahead.
  */
object Par {
  def run(fs: (() => Unit)*): Unit = {
    if (fs.sizeIs <= 1) { fs.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try {
      val futs = fs.map { f =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f()
        })
      }
      val failures = futs.flatMap { fut =>
        try { fut.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause)
        }
      }
      failures.headOption.foreach(e => throw e)
    } finally { pool.shutdownNow(): Unit }
  }
}
