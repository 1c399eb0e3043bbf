package graft

import java.util.UUID
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.StoreProvenance

/** The index-store memoizer: a dir is built at most once per JVM, a
  * failed build is retried, and the lock is per directory — builds of
  * different stores (SparkEntry's ensurePar) must not wait on each
  * other.
  */
class StoreProvenanceSpec extends AnyFunSuite {

  private def freshDir(): String = s"store-once-spec-${UUID.randomUUID()}"

  test("once builds a dir exactly once under concurrent callers and records the provenance") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(new Callable[String] {
        def call(): String =
          StoreProvenance.once(dir) { Thread.sleep(50); builds.incrementAndGet() }
      }))
      assert(calls.map(_.get(10, TimeUnit.SECONDS)).forall(_ == dir))
    } finally pool.shutdown()
    assert(builds.get == 1, "concurrent callers of one dir must share one build")
    assert(StoreProvenance.snapshot(dir) == "built")
  }

  test("a build that throws is not recorded, so the next caller retries it") {
    val dir = freshDir()
    intercept[IllegalStateException] {
      StoreProvenance.once(dir)(throw new IllegalStateException("build failed"))
    }
    var ran = false
    StoreProvenance.once(dir) { ran = true }
    assert(ran, "the failed build must be retried")
  }

  test("the lock is per directory: one dir's build does not wait for another's") {
    val (slow, fast) = (freshDir(), freshDir())
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val blocked = pool.submit(new Callable[String] {
        def call(): String = StoreProvenance.once(slow) {
          started.countDown()
          release.await(10, TimeUnit.SECONDS)
        }
      })
      assert(started.await(10, TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      StoreProvenance.once(fast)(())
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      release.countDown()
      blocked.get(10, TimeUnit.SECONDS)
      assert(waitedMs < 5000L, s"a build of another dir blocked this one for $waitedMs ms")
    } finally pool.shutdown()
  }
}
