package graft.sources

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import graft.streaming.{GameState, SyncConfig, SyncCore, SyncResponse}

/** The reference's HTTP ingest surface (main.go:48-92) over the pure
  * [[SyncCore]] transition — completing SURVEY §2A #1 (HTTP ingest +
  * JSON decode) and #18 (CORS preflight), previously declared out of
  * scope. This is the LIVE front of the engine; the batch replay
  * (SyncReplay) and Structured Streaming engine (SyncEngine) fold the
  * SAME transition, so "live server ≡ batch replay of its request log"
  * is structural (HttpSyncSpec pins it).
  *
  * Route: `/{stream}/{clientId}/{lastKnownT}` (main.go:58-62), any
  * method except OPTIONS processes (the reference registers one handler
  * for everything); OPTIONS returns the CORS preflight headers alone
  * (main.go:50-55). Request body = `GameRequest{Events, State}`
  * (main.go:96-99), response = `GameResponse{T, Events, States,
  * ProxyId}` (main.go:101-107) — field names are the Go exported names
  * verbatim, matching [[WireJson]]'s schemas byte-for-byte.
  *
  * Concurrency = the reference's model (main.go:94-95, game.go:31): one
  * global registry lock for stream lookup/create, one per-stream lock
  * for `process` — per-stream single-writer, cross-stream parallel.
  * JDK `HttpServer` supplies the listener (goroutine-per-request in the
  * reference → a bounded executor pool here).
  *
  * Scale framing: a single listener node is the reference's deployment
  * (README.md:3-4) and stays the right shape here because streams are
  * independent — horizontal scale is stream-sharded listener replicas
  * (consistent-hash streams over nodes), each folding its shard exactly
  * as this one does; the engine-side analytics consume the request log
  * those listeners spool (S4 file-streamed wire-JSON ingestion).
  *
  * Deliberate divergences, documented: malformed JSON → 400 (the
  * reference panics per request, main.go:66-68 — a server must not); a
  * body over [[SyncHttpServer.MaxBodyBytes]] → 413 (the reference reads
  * any size);
  * the expiry sweep is a scheduled task the TESTS can also drive
  * directly via [[sweep]] with an injected clock (the reference's
  * 1-minute ticker, main.go:14-24, is `startSweeper`).
  */
class SyncHttpServer(
    cfg: SyncConfig,
    port: Int = 0,
    clock: () => Long = () => System.currentTimeMillis(),
    gameTimeout: Long = 60000L,
    seed: Long = SyncCore.hash48("graft"),
    spoolPath: Option[String] = None) {

  private val mapper = new ObjectMapper

  // Request spool: every ACCEPTED request is appended as one JSON line
  // ([[WireJson.spoolSchema]]) BEFORE its response is computed, inside
  // the stream's lock — so spool order equals processing order per
  // stream, and the spool is a faithful request log. This closes the
  // live→engine loop: the Structured Streaming engine (S4-style file
  // stream) or the batch replay can re-fold the exact live schedule
  // (HttpSyncSpec/StreamingSpec pin the three-way equivalence). A
  // deployment would rotate files per interval; flush-per-line keeps
  // the test path simple and the cost is one syscall per sync.
  private val spoolSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val spoolWriter: Option[java.io.Writer] = spoolPath.map { p =>
    Option(java.nio.file.Paths.get(p).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    new java.io.BufferedWriter(new java.io.FileWriter(p, StandardCharsets.UTF_8, true))
  }

  private def spool(stream: String, now: Long, clientId: String,
                    lastKnownT: Long, body: String): Unit =
    spoolWriter.foreach { w =>
      val line = mapper.createObjectNode
      line.put("seq", spoolSeq.incrementAndGet())
      line.put("stream", stream)
      line.put("now", now)
      line.put("client_id", clientId)
      line.put("last_known_t", lastKnownT)
      line.put("body", body)
      w.synchronized { w.write(mapper.writeValueAsString(line)); w.write("\n"); w.flush() }
    }

  /** Per-stream cell: lock target + mutable state (single-writer). */
  private final class Cell { var state: GameState = _ }
  private val streams = new java.util.HashMap[String, Cell]
  private val registryLock = new Object

  // TCP_NODELAY on the exchange sockets: headers and body are separate
  // small writes, so with Nagle on, the body packet waits for the
  // client's (delayed, ~40 ms) ACK of the headers packet — capping a
  // sync round-trip at ~25/s per connection regardless of work done.
  // Must be set before the server class initializes its config.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  // The request handlers' pool, kept so [[stop]] can drain and end it;
  // its threads (the default factory's) are recorded so a stopped
  // server can prove none is left.
  private val handlerThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
  private val handlers = {
    val threads = Executors.defaultThreadFactory()
    Executors.newFixedThreadPool(8, r => {
      val t = threads.newThread(r)
      handlerThreads.add(t)
      t
    })
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(handlers)

  private val sweeper = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-sync-sweeper"); t.setDaemon(true); t
  })

  def start(): SyncHttpServer = { server.start(); this }

  /** The reference's background ticker (main.go:14-24). A failing
    * sweep is reported and the next tick runs: an exception escaping a
    * fixed-rate task would silently cancel every later sweep.
    */
  def startSweeper(periodMs: Long = 60000L): Unit =
    sweeper.scheduleAtFixedRate(() =>
      try sweep(clock())
      catch { case e: Exception => System.err.println(s"graft-sync-sweeper: sweep failed: $e") },
      periodMs, periodMs, TimeUnit.MILLISECONDS)

  /** Stop listening, let the handlers already running finish (they may
    * still be appending to the spool), end the handler pool, and only
    * then close the spool. Afterwards no thread of this server is
    * running, so a JVM that only calls `stop()` can exit.
    */
  def stop(): Unit = {
    server.stop(0)
    sweeper.shutdownNow()
    handlers.shutdown()
    if (!handlers.awaitTermination(30, TimeUnit.SECONDS)) handlers.shutdownNow()
    handlerThreads.forEach(_.join(1000L))
    spoolWriter.foreach(w => w.synchronized(w.close()))
  }

  /** The handler pool's threads, for tests. */
  private[graft] def poolThreads: Seq[Thread] = handlerThreads.asScala.toSeq

  /** Bound address (ephemeral-port tests read the real port here). */
  def address: InetSocketAddress = server.getAddress

  /** Expiry sweep (main.go:32-46): drop every stream idle past
    * `gameTimeout`. Returns the dropped stream names (sorted — Go map
    * iteration order is nondeterministic; a distributed engine picks a
    * total order, same policy as SyncCore's eviction ordering).
    */
  def sweep(now: Long): Seq[String] = registryLock.synchronized {
    val expired = streams.asScala.collect {
      case (name, cell) if cell.synchronized {
        SyncCore.isExpired(cfg, cell.state, now, gameTimeout)
      } => name
    }.toSeq.sorted
    expired.foreach(streams.remove)
    expired
  }

  def liveStreams: Seq[String] = registryLock.synchronized(streams.asScala.keys.toSeq.sorted)

  private def handle(ex: HttpExchange): Unit =
    try {
      // CORS headers on EVERY response (main.go:50-52); preflight stops here.
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", "*")
      h.add("Access-Control-Allow-Methods", "POST, GET, OPTIONS")
      h.add("Access-Control-Allow-Headers", "Content-Type")
      if (ex.getRequestMethod == "OPTIONS") { reply(ex, 200, ""); return }

      // Route parse (main.go:58-62). ParseInt failure → 0, as in Go's
      // two-value form with the error ignored.
      val parts = ex.getRequestURI.getPath.split("/")
      if (parts.length < 4 || parts(1).isEmpty || parts(2).isEmpty) {
        reply(ex, 404, """{"error":"expected /{stream}/{clientId}/{lastKnownT}"}"""); return
      }
      val (streamName, clientId) = (parts(1), parts(2))
      val lastKnownT = try parts(3).toLong catch { case _: NumberFormatException => 0L }

      // Bounded read: a body over MaxBodyBytes is a 413 before it is
      // decoded, spooled or takes a lock — one request cannot exhaust
      // the heap.
      val raw = ex.getRequestBody.readNBytes(SyncHttpServer.MaxBodyBytes + 1)
      if (raw.length > SyncHttpServer.MaxBodyBytes) {
        reply(ex, 413, """{"error":"request body too large"}"""); return
      }
      // Body decode (main.go:63-69); malformed → 400, not a crash.
      val body = new String(raw, StandardCharsets.UTF_8)
      val parsed =
        try {
          val root = mapper.readTree(if (body.isEmpty) "{}" else body)
          val events = Option(root.get("Events")).filter(_.isArray).toSeq
            .flatMap(_.elements().asScala)
            .map(e => (
              Option(e.get("Type")).map(_.asText).getOrElse(""),
              Option(e.get("Body")).map(_.asText).getOrElse("")))
          val state = Option(root.get("State")).filter(_.isObject).map(s =>
            s.properties().asScala.map(en => en.getKey -> en.getValue.asText).toMap)
          Some((events, state))
        } catch { case _: Exception => None }
      parsed match {
        case None => reply(ex, 400, """{"error":"malformed request body"}""")
        case Some((events, state)) =>
          val now = clock()
          // Lookup-or-create under the global lock (main.go:74-80)...
          val cell = registryLock.synchronized {
            var c = streams.get(streamName)
            if (c == null) { c = new Cell; c.state = SyncCore.init(now, seed); streams.put(streamName, c) }
            c
          }
          // ...process under the stream's own lock (game.go:61-62); the
          // spool append sits inside the same lock so the log order IS
          // the processing order per stream.
          val resp = cell.synchronized {
            spool(streamName, now, clientId, lastKnownT, body)
            val (g1, r) = SyncCore.process(cfg, cell.state, now, clientId, Some(lastKnownT), events, state)
            cell.state = g1
            r
          }
          reply(ex, 200, serialize(resp))
      }
    } catch {
      case e: Exception =>
        // The client gets the class name only; the cause, with its
        // stack, goes to stderr in one write under the stream's id.
        val trace = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(trace))
        val stream = ex.getRequestURI.getPath.split("/").lift(1).getOrElse("")
        System.err.print(s"graft-sync: 500 on stream '$stream': $trace")
        try reply(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""") catch { case _: Exception => () }
    } finally ex.close()

  /** GameResponse wire JSON (main.go:101-115): Go-exported field names,
    * `ProxyId` a string — byte-compatible with [[WireJson.responseSchema]].
    */
  private def serialize(r: SyncResponse): String = {
    val root = mapper.createObjectNode
    root.put("T", r.t)
    val evs = root.putArray("Events")
    r.deltaEvents.foreach { case (_, e) =>
      val o = evs.addObject()
      o.put("T", e.t); o.put("Type", e.eventType); o.put("Origin", e.origin); o.put("Body", e.body)
    }
    val sts = root.putArray("States")
    r.deltaStates.foreach { s =>
      val o = sts.addObject()
      o.put("T", s.t); o.put("Origin", s.origin)
      val d = o.putObject("Data")
      s.data.toSeq.sortBy(_._1).foreach { case (k, v) => d.put(k, v) }
    }
    root.put("ProxyId", r.proxyId.toString)
    mapper.writeValueAsString(root)
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (bytes.isEmpty) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, bytes.length); ex.getResponseBody.write(bytes) }
  }
}

object SyncHttpServer {
  /** The largest request body a sync may carry (1 MiB). */
  val MaxBodyBytes: Int = 1 << 20
}
