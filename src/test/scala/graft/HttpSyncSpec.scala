package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SyncHttpServer
import graft.streaming.{SyncConfig, SyncCore}

/** Live-listener spec: the HTTP front (SURVEY §2A #1/#18) over the pure
  * SyncCore transition, driven with an injected clock so every tick,
  * eviction, and expiry is deterministic. The wire assertions use the
  * reference's field names verbatim (main.go:96-107); the equivalence
  * test pins "live server ≡ direct SyncCore fold of the same schedule"
  * — the HTTP layer must add no behavior.
  */
class HttpSyncSpec extends AnyFunSuite with BeforeAndAfterAll {

  // Reference constants (game.go:10-17): 50 ms ticks, 10 s session
  // timeout, 60 s stream expiry.
  private val cfg = SyncConfig(50L, 10000L)
  @volatile private var nowMs: Long = 1000000L
  private val server =
    new SyncHttpServer(cfg, port = 0, clock = () => nowMs, gameTimeout = 60000L, seed = 7L).start()
  private val base = s"http://127.0.0.1:${server.address.getPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper

  override def afterAll(): Unit = server.stop()

  private def post(path: String, body: String): HttpResponse[String] =
    postTo(base, path, body)

  private def postTo(root: String, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$root$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def rootOf(srv: SyncHttpServer): String = s"http://127.0.0.1:${srv.address.getPort}"

  test("CORS preflight returns the reference's headers and no body (main.go:50-55)") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/g/c/0"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().isEmpty)
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    assert(r.headers().allValues("Access-Control-Allow-Methods").asScalaSeq
      .exists(_.contains("POST")))
    assert(r.headers().allValues("Access-Control-Allow-Headers").asScalaSeq
      .exists(_.contains("Content-Type")))
  }

  private implicit class JavaListOps[A](l: java.util.List[A]) {
    def asScalaSeq: Seq[A] = { import scala.jdk.CollectionConverters._; l.asScala.toSeq }
  }

  test("sync protocol over the wire: creation, tick delivery, second client, LWW state") {
    nowMs = 2000000L
    // Client a's first sync: stream created, _a seed + _c creation are
    // appended but T=0 — nothing delivered yet (LastSentT+1 stamping).
    val r1 = mapper.readTree(post("/wire/a/0", """{"Events":[],"State":{"hp":"10"}}""").body())
    assert(r1.get("T").asLong == 0L && r1.get("ProxyId").asText == "1")
    assert(r1.get("Events").size == 0)

    // One tick later: the seed, creation, and a's posted event arrive.
    nowMs += 60
    val r2 = mapper.readTree(
      post("/wire/a/0", """{"Events":[{"Type":"mv","Body":"e"}]}""").body())
    assert(r2.get("T").asLong == 1L)
    val types2 = r2.get("Events").elements().asScalaIt.map(_.get("Type").asText).toSeq
    assert(types2 == Seq("_a", "_c", "mv"), types2.toString)
    assert(r2.get("Events").elements().asScalaIt.map(_.get("Origin").asText).toSeq == Seq("_", "_", "1"))
    // a's state snapshot from sync 1 is visible.
    val states2 = r2.get("States").elements().asScalaIt.toSeq
    assert(states2.map(_.get("Origin").asText) == Seq("1"))
    assert(states2.head.get("Data").get("hp").asText == "10")

    // Client b joins: fresh proxy id 2, sees the full history from 0.
    nowMs += 60
    val r3 = mapper.readTree(post("/wire/b/0", """{"Events":[]}""").body())
    assert(r3.get("ProxyId").asText == "2")
    val types3 = r3.get("Events").elements().asScalaIt.map(_.get("Type").asText).toSeq
    assert(types3 == Seq("_a", "_c", "mv", "_c"), types3.toString)

    // a resyncs from its watermark: only b's creation is new.
    val r4 = mapper.readTree(post(s"/wire/a/${r2.get("T").asLong}", "{}").body())
    assert(r4.get("Events").elements().asScalaIt.map(_.get("Type").asText).toSeq == Seq("_c"))
  }

  private implicit class JavaItOps[A](it: java.util.Iterator[A]) {
    def asScalaIt: Iterator[A] = { import scala.jdk.CollectionConverters._; it.asScala }
  }

  test("malformed JSON is a 400, not a crash (divergence from main.go:66-68, documented)") {
    assert(post("/wire/a/0", """{"Events": [oops""").statusCode() == 400)
    assert(post("/nope", "{}").statusCode() == 404)
  }

  test("stream expiry sweep drops idle streams; a resync restarts from scratch (main.go:32-46)") {
    nowMs = 3000000L
    post("/doomed/x/0", """{"Events":[]}""")
    assert(server.liveStreams.contains("doomed"))
    nowMs += 60001L // past gameTimeout
    val dropped = server.sweep(nowMs)
    assert(dropped.contains("doomed"))
    assert(!server.liveStreams.contains("doomed"))
    // Recreated stream: proxy ids restart at 1 (fresh GameState).
    val r = mapper.readTree(post("/doomed/y/0", """{"Events":[]}""").body())
    assert(r.get("ProxyId").asText == "1")
  }

  test("live server ≡ direct SyncCore fold of the same schedule") {
    nowMs = 5000000L
    val schedule = Seq(
      ("a", 0L, """{"Events":[{"Type":"e1","Body":"x"}],"State":{"k":"1"}}""", 0L),
      ("b", 0L, """{"Events":[]}""", 55L),
      ("a", 0L, """{"Events":[{"Type":"e2","Body":"y"}]}""", 20L),
      ("b", 1L, """{"Events":[]}""", 60L),
      ("a", 2L, """{"Events":[],"State":{"k":"2"}}""", 5L))
    // HTTP side.
    val httpResponses = schedule.map { case (cid, lastT, body, advance) =>
      nowMs += advance
      post(s"/eq/$cid/$lastT", body).body()
    }
    // Direct fold of the identical schedule (same seed, same clock;
    // the handler creates stream state at the FIRST request's now —
    // replay identically).
    var now = 5000000L
    var state: graft.streaming.GameState = null
    val direct = schedule.map { case (cid, lastT, body, advance) =>
      now += advance
      if (state == null) state = SyncCore.init(now, 7L)
      val root = mapper.readTree(body)
      import scala.jdk.CollectionConverters._
      val events = Option(root.get("Events")).filter(_.isArray).toSeq
        .flatMap(_.elements().asScala)
        .map(e => (e.get("Type").asText, Option(e.get("Body")).map(_.asText).getOrElse("")))
      val st = Option(root.get("State")).filter(_.isObject).map(s =>
        s.properties().asScala.map(en => en.getKey -> en.getValue.asText).toMap)
      val (g1, r) = SyncCore.process(cfg, state, now, cid, Some(lastT), events, st)
      state = g1
      r
    }
    httpResponses.zip(direct).foreach { case (json, r) =>
      val node = mapper.readTree(json)
      assert(node.get("T").asLong == r.t)
      assert(node.get("ProxyId").asText == r.proxyId.toString)
      assert(node.get("Events").size == r.deltaEvents.size)
      assert(node.get("States").size == r.deltaStates.size)
      val wireEvents = node.get("Events").elements().asScalaIt
        .map(e => (e.get("T").asLong, e.get("Type").asText, e.get("Origin").asText, e.get("Body").asText)).toSeq
      val coreEvents = r.deltaEvents.map { case (_, e) => (e.t, e.eventType, e.origin, e.body) }
      assert(wireEvents == coreEvents)
    }
  }

  test("stop() drains and ends the handler pool before closing the spool") {
    val spool = java.nio.file.Files.createTempDirectory("graft_http_stop").resolve("spool.jsonl")
    val srv = new SyncHttpServer(cfg, clock = () => nowMs, seed = 7L,
      spoolPath = Some(spool.toString)).start()
    (1 to 5).foreach(i => assert(postTo(rootOf(srv), s"/stop/c$i/0", "{}").statusCode() == 200))
    assert(srv.poolThreads.nonEmpty, "the requests must have run on the server's pool")
    srv.stop()
    assert(srv.poolThreads.forall(!_.isAlive),
      s"no handler thread may outlive stop(): ${srv.poolThreads.filter(_.isAlive)}")
    assert(java.nio.file.Files.readAllLines(spool).size == 5,
      "every answered request must be in the closed spool")
  }

  test("a sweep that throws does not cancel the later sweeps") {
    @volatile var now = 5000000L
    val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    val srv = new SyncHttpServer(cfg, seed = 7L, gameTimeout = 60000L, clock = () => {
      if (failNext.compareAndSet(true, false)) throw new IllegalStateException("clock failed")
      now
    }).start()
    try {
      postTo(rootOf(srv), "/idle/a/0", "{}")
      assert(srv.liveStreams == Seq("idle"))
      now += 60001L // past gameTimeout
      failNext.set(true) // the sweeper's first tick reads the clock and throws
      srv.startSweeper(20)
      val deadline = System.nanoTime() + 10000000000L
      while (srv.liveStreams.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(!failNext.get, "the failing tick must have run")
      assert(srv.liveStreams.isEmpty, "a later tick must still drop the idle stream")
    } finally srv.stop()
  }

  test("a 500 logs its cause, with the stack and the stream id, to stderr") {
    val srv = new SyncHttpServer(cfg, seed = 7L,
      clock = () => throw new IllegalStateException("clock failed")).start()
    val captured = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
    val r = try postTo(rootOf(srv), "/boom/a/0", "{}")
      finally { System.setErr(stderr); srv.stop() }
    assert(r.statusCode() == 500)
    assert(r.body() == """{"error":"IllegalStateException"}""")
    val log = captured.toString("UTF-8")
    assert(log.contains("500 on stream 'boom'"), log)
    assert(log.contains("java.lang.IllegalStateException: clock failed"), log)
    assert(log.contains("\tat "), s"the stack trace must be logged: $log")
  }

  test("an oversized body is a 413 that leaves the streams, the spool and the next sync unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_http_413")
    def open(name: String) = new SyncHttpServer(cfg, clock = () => nowMs, seed = 7L,
      spoolPath = Some(dir.resolve(name).toString)).start()
    // `a` receives the oversized requests, its twin `b` never does.
    val (a, b) = (open("a.jsonl"), open("b.jsonl"))
    val next = """{"Events":[{"Type":"e","Body":"2"}]}"""
    val (nextA, nextB) = try {
      nowMs = 6000000L
      Seq(a, b).foreach(srv =>
        assert(postTo(rootOf(srv), "/big/c/0", """{"Events":[{"Type":"e","Body":"1"}]}""")
          .statusCode() == 200))
      nowMs += 60
      val huge = s"""{"Events":[{"Type":"e","Body":"${"x" * SyncHttpServer.MaxBodyBytes}"}]}"""
      assert(postTo(rootOf(a), "/big/c/1", huge).statusCode() == 413)
      assert(postTo(rootOf(a), "/fresh/c/0", huge).statusCode() == 413)
      assert(a.liveStreams == Seq("big"), "a rejected body must not create a stream")
      nowMs += 60
      (postTo(rootOf(a), "/big/c/1", next), postTo(rootOf(b), "/big/c/1", next))
    } finally { a.stop(); b.stop() }
    assert(nextA.statusCode() == 200 && nextA.body() == nextB.body(),
      "the next sync must answer as if the oversized requests never came")
    assert(java.nio.file.Files.readAllLines(dir.resolve("a.jsonl")) ==
      java.nio.file.Files.readAllLines(dir.resolve("b.jsonl")),
      "a rejected body must not reach the spool")
  }
}
