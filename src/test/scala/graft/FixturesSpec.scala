package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FactStore => FS, ManifestLog => M, Tables}

/** The fixture registry: a key builds at most once per JVM, a failed
  * build is retried, the lock is per key (builds of different stores
  * must not wait on each other), deps build before their dependents
  * (a shared dep once), a query cannot read a fixture it does not
  * declare, and a store an earlier process left under a fixture's dir
  * is rebuilt, never served.
  */
class FixturesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def freshKey(): String = s"fixtures-spec-${UUID.randomUUID()}"

  /** A test-only fixture whose build logs its name. */
  private def logging(log: ConcurrentLinkedQueue[String], name: String,
                      deps: Fixture*): Fixture =
    new Fixture(name, deps, perSession = false, (_, _, _) => {
      Thread.sleep(20); log.add(name)
    })

  test("once builds a key exactly once under concurrent callers and records the build") {
    val key = freshKey()
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(new Callable[Unit] {
        def call(): Unit = Fixtures.once(key) { Thread.sleep(50); builds.incrementAndGet() }
      }))
      calls.foreach(_.get(10, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get == 1, "concurrent callers of one key must share one build")
    assert(Fixtures.record(key).map(_.reuses).contains(3))
  }

  test("a build that throws is not recorded, so the next caller retries it") {
    val key = freshKey()
    intercept[IllegalStateException] {
      Fixtures.once(key)(throw new IllegalStateException("build failed"))
    }
    assert(Fixtures.record(key).isEmpty)
    var ran = false
    Fixtures.once(key) { ran = true }
    assert(ran, "the failed build must be retried")
  }

  test("the lock is per key: one key's build does not wait for another's") {
    val (slow, fast) = (freshKey(), freshKey())
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val blocked = pool.submit(new Callable[Unit] {
        def call(): Unit = Fixtures.once(slow) {
          started.countDown()
          release.await(10, TimeUnit.SECONDS)
        }
      })
      assert(started.await(10, TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      Fixtures.once(fast)(())
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      release.countDown()
      blocked.get(10, TimeUnit.SECONDS)
      assert(waitedMs < 5000L, s"a build of another key blocked this one for $waitedMs ms")
    } finally pool.shutdown()
  }

  test("prepare builds deps before their dependents, a shared dep once") {
    val d = s"/nonexistent/${freshKey()}"
    val log = new ConcurrentLinkedQueue[String]
    val base = logging(log, "base")
    val mid = logging(log, "mid", base)
    val left = logging(log, "left", mid)
    val right = logging(log, "right", base)
    Fixtures.prepare(null, d, Seq(left, right, left))
    val order = log.asScala.toSeq
    assert(order.sorted == Seq("base", "left", "mid", "right"), s"built: $order")
    assert(order.head == "base" && order.indexOf("mid") < order.indexOf("left"),
      s"a fixture was built before its deps: $order")
    Fixtures.prepare(null, d, Seq(left, right))
    assert(log.size == 4, "a prepared fixture must not build again")
  }

  test("a query builder cannot read a fixture it does not declare") {
    val d = s"/nonexistent/${freshKey()}"
    val log = new ConcurrentLinkedQueue[String]
    val dep = logging(log, "dep")
    val declared = logging(log, "declared", dep)
    val other = logging(log, "other")
    val reads = new Reads(Seq(declared), (s, sf) => { declared(s, sf); dep(s, sf); null })
    reads(null, d)
    val sneaky = new Reads(Seq(declared), (s, sf) => { other(s, sf); null })
    val e = intercept[IllegalArgumentException](sneaky(null, d))
    assert(e.getMessage.contains("'other'"))
    assert(!log.contains("other"), "an undeclared fixture must not be built")
  }

  test("a fixture dir holding an earlier process's store at its final version is rebuilt, not served") {
    // An SF dir of its own (a link to sf0.001), so the fixture's dir is
    // private to this test.
    val root = Files.createTempDirectory("fixtures-spec")
    val link = Files.createSymbolicLink(root.resolve(s"sfspec${UUID.randomUUID().toString.take(8)}"),
      java.nio.file.Paths.get("/root/testdata/sf0.001"))
    val sf = link.toString
    val dir = Fixtures.Fact.dir(sf)
    try {
      // The stale store: the q140 lake's shape at its final version (4),
      // holding four marker rows (negative ids) only.
      def stale(id: Long): DataFrame = Tables.events(spark, sf).limit(1)
        .select(lit(id).as("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("value"))
      FS.build(stale(-1L), dir, "event_id", Seq("user_id", "ts_us"), 1)
      (2 to 4).foreach(v => FS.append(spark, dir, stale(-v.toLong), 1))
      assert(M.currentVersion(spark, dir) == 4L)
      Fixtures.prepare(spark, sf, Seq(Fixtures.Fact))
      assert(Fixtures.record(spark, sf, Fixtures.Fact).isDefined, "the fixture was not built")
      val served = FS.read(spark, dir)
      assert(served.where(col("event_id") < 0L).isEmpty, "the stale store was served")
      val refDir = root.resolve("reference").toString
      Fixtures.Fact.build(spark, sf, refDir)
      val ref: DataFrame = FS.read(spark, refDir)
      assert(served.count() == ref.count() && served.exceptAll(ref).isEmpty,
        "the rebuilt store differs from a fresh build")
    } finally {
      Files.deleteIfExists(link)
      M.fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
      M.fs(spark, root.toString).delete(new org.apache.hadoop.fs.Path(root.toString), true)
    }
  }
}
