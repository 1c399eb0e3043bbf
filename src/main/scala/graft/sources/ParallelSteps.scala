package graft.sources

/** Run independent driver-side steps (store builds, artifact writes)
  * CONCURRENTLY (optimization guide §2.6: Spark happily runs several
  * jobs at once — actions are only sequential because the driver calls
  * them sequentially, and each job's straggler tail otherwise leaves
  * the cluster idle). Steps must touch disjoint state (different
  * dirs / different store locks); results return in call order.
  *
  * Round 14 (ADVICE r13): a DEDICATED unbounded-queue pool instead of
  * the global ForkJoinPool — callers nest (fixture preparation → store
  * build → ParallelSteps again), and long blocking Spark actions on shared
  * global-EC workers rely on managed blocking to not starve unrelated
  * users. Threads are created per step batch and torn down after (2-3
  * steps per call, a handful of calls per process — thread churn is
  * noise next to the Spark jobs they drive); `Future.sequence` +
  * `firstCompletedOf`-free single await keeps FAIL-FAST semantics: the
  * first failed step aborts the wait instead of hiding behind an
  * earlier hung one. Guide §2.6's "2-3 jobs in flight is plenty" is a
  * CALLER contract — pass few, coarse steps.
  */
private[graft] object ParallelSteps {
  def run[T](steps: (() => T)*): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(steps.size, 1),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-step-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(steps.map(st => Future(st()))), Duration.Inf)
    finally pool.shutdown()
  }
}
