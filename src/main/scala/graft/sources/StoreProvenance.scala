package graft.sources

/** This JVM's memoized-store decisions: store dir → "built" | "reused".
  *
  * Every `*Once` memoizer records which branch it took; the bench
  * artifact dumps the map (`store_provenance`), so cross-round
  * per-query comparisons are interpretable — a cold store re-runs a
  * real index build inside a timed query (the q89 0.26 s-memoized vs
  * 7.5 s-real spread), and without provenance that spread reads as a
  * plan regression (the round-12 verdict's Performance action item).
  * "built" wins over "reused": once any code path paid the build this
  * JVM, the timings downstream of it are build-contaminated.
  */
object StoreProvenance {
  private val state =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def built(dir: String): Unit = state.put(dir, "built")
  def reused(dir: String): Unit = state.putIfAbsent(dir, "reused")
  def snapshot: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    state.asScala.toMap
  }

  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Run `build` for the index store at `dir` at most once per JVM and
    * return `dir` — the one memoizer of the text and vector index
    * stores. A store under a fixed dir is a pure function of its
    * inputs, so queries against it measure serving, not maintenance.
    * The lock is per directory: builds of different stores (ensurePar)
    * run concurrently, while two callers of one dir wait for a single
    * build. A build that throws is not recorded, so the next caller
    * retries it.
    */
  def once(dir: String)(build: => Unit): String = {
    locks.computeIfAbsent(dir, _ => new AnyRef).synchronized {
      if (done.contains(dir)) reused(dir)
      else {
        built(dir)
        build
        done.add(dir)
      }
    }
    dir
  }
}

/** Run independent driver-side steps (store builds, artifact writes)
  * CONCURRENTLY (optimization guide §2.6: Spark happily runs several
  * jobs at once — actions are only sequential because the driver calls
  * them sequentially, and each job's straggler tail otherwise leaves
  * the cluster idle). Steps must touch disjoint state (different
  * dirs / different store locks); results return in call order.
  *
  * Round 14 (ADVICE r13): a DEDICATED unbounded-queue pool instead of
  * the global ForkJoinPool — callers nest (ensurePar → store build →
  * ParallelSteps again), and long blocking Spark actions on shared
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
