package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.streaming.{GameState, SyncConfig, SyncCore}

/** live_sync: the load generator, and the orchestrator of the server
  * process (`LiveServer`) it measures.
  *
  * 512 clients (64 streams × 8 clients) over min(cores, 4) keep-alive
  * HTTP/1.1 sockets, one worker thread per socket and no other load
  * threads. Requests are pre-encoded; only the `lastKnownT` digits the
  * client echoes back are written per request. 3 of 4 syncs post one
  * event and a state update, 1 of 4 is an empty spectator poll. The
  * client timeout is 2 s (not the reference's 10 s) so that eviction
  * fits in a short run.
  *
  * Phases:
  *  - set-up, `Setups` times, each on a fresh server: start it, answer
  *    one sync per client; `setup_s` is the median of server JVM start →
  *    last of those answers. The last server goes on:
  *  - warm-up (untimed): `WarmRounds` back-to-back syncs per client,
  *    then 1 s paced;
  *  - paced (timed, 60% of `seconds`): each client waits for its reply,
  *    then thinks 200 ms, about 2,560 syncs/s in all (the README design
  *    load); latency is taken from the sync's due time. Clients with
  *    id ≡ 5 (mod 64) pause once past the client timeout, so eviction
  *    (`_d`) and reconnect (`_c`) happen. The server's heap is read after
  *    a full GC at the end of this phase;
  *  - capacity (timed, 40% of `seconds`): the same clients, no think time.
  * Then, untimed, each server's spool is replayed through
  * `SyncCore.process`; every answer must match the replay in T, ProxyId
  * and delta counts.
  *
  * Args: server_cmd=<file, one argv word per line> dir= seed= seconds= trace=0|1
  */
object LiveSync {
  val Streams = 64
  val ClientsPerStream = 8
  val ThinkMs = 200L
  val TickMs = 50L
  val TimeoutMs = 2000L
  val PauseMs = 2600L
  /** Fresh servers set up per run; `setup_s` is their median. */
  val Setups = 4
  /** Untimed back-to-back syncs per client after the last set-up (then
    * 1 s paced): a count, not a time, so the state the server holds when
    * its heap is read does not depend on how fast it is. */
  val WarmRounds = 30
  private val Seed = SyncCore.hash48("graft") // SyncHttpServer's default stream seed

  final class LongBuf {
    var a = new Array[Long](1024); var n = 0
    def +=(x: Long): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = x; n += 1 }
    def sortedMs: Array[Double] = { val s = java.util.Arrays.copyOf(a, n); java.util.Arrays.sort(s); s.map(_ / 1e6) }
  }

  final class Client(val stream: Int, val id: Int, val prefix: Array[Byte], val salt: Int) {
    var lastT = 0L; var k = 0; var due = 0L; var pauseLeft = false
    // One record per answered sync: T, ProxyId, #events, #states.
    val rec = new LongBuf
    def name: String = s"s$stream/c$id"
  }

  /** One worker's socket and its request/response codec. */
  final class Conn(port: Int, bodies: Array[Array[Byte]]) {
    private var sock: Socket = _
    private var in: BufferedInputStream = _
    private var out: BufferedOutputStream = _
    var reqBytes = 0L; var respBytes = 0L
    private var body = new Array[Byte](1 << 16)
    var bodyLen = 0
    private val options = "OPTIONS /s0/c0/0 HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(ISO_8859_1)
    private val suffixes = bodies.map(b =>
      s" HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: ${b.length}\r\n\r\n".getBytes(ISO_8859_1))
    connect()

    def connect(): Unit = {
      if (sock != null) try sock.close() catch { case _: Exception => () }
      sock = new Socket()
      sock.setTcpNoDelay(true)
      sock.connect(new InetSocketAddress("127.0.0.1", port))
      in = new BufferedInputStream(sock.getInputStream, 1 << 16)
      out = new BufferedOutputStream(sock.getOutputStream, 1 << 14)
    }
    def close(): Unit = try sock.close() catch { case _: Exception => () }

    /** One sync for `c`; returns the HTTP status. */
    def sync(c: Client): Int = {
      val b = (c.salt + c.k * 31) & (bodies.length - 1)
      val t = java.lang.Long.toString(c.lastT).getBytes(ISO_8859_1)
      out.write(c.prefix); out.write(t); out.write(suffixes(b)); out.write(bodies(b)); out.flush()
      reqBytes += c.prefix.length + t.length + suffixes(b).length + bodies(b).length
      readResponse()
    }

    def preflight(): Int = { out.write(options); out.flush(); reqBytes += options.length; readResponse() }

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder
      var ch = in.read()
      while (ch != '\n') {
        if (ch < 0) throw new java.io.EOFException("connection closed")
        if (ch != '\r') sb.append(ch.toChar)
        ch = in.read()
      }
      respBytes += sb.length + 2
      sb.toString
    }

    private def readResponse(): Int = {
      val status = readLine().split(' ')(1).toInt
      var len = 0
      var h = readLine()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).equalsIgnoreCase("content-length")) len = h.substring(i + 1).trim.toInt
        h = readLine()
      }
      if (len > body.length) body = new Array[Byte](len * 2)
      var off = 0
      while (off < len) {
        val r = in.read(body, off, len - off)
        if (r < 0) throw new java.io.EOFException("connection closed")
        off += r
      }
      bodyLen = len
      respBytes += len
      status
    }

    /** T, ProxyId and delta counts of the last response body. */
    def parsed(): (Long, Long, Long, Long) = {
      val s = new String(body, 0, bodyLen, ISO_8859_1)
      def count(pat: String): Long = {
        var n = 0L; var i = s.indexOf(pat)
        while (i >= 0) { n += 1; i = s.indexOf(pat, i + pat.length) }
        n
      }
      val t = s.substring(5, s.indexOf(',', 5)).toLong // {"T":<digits>,
      val p0 = s.indexOf("\"ProxyId\":\"") + 11
      (t, s.substring(p0, s.indexOf('"', p0)).toLong, count("\"Type\":"), count("\"Data\":"))
    }
  }

  /** What one worker saw in one phase. */
  final class Tally {
    val lat = new LongBuf; val rtt = new LongBuf; val opt = new LongBuf
    var ok = 0L; var failed = 0L; var maxLateNs = 0L
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val seconds = a.double("seconds")
    val trace = a.int("trace") == 1
    val nConns = math.min(Runtime.getRuntime.availableProcessors, 4)
    val dir = a("dir")
    val serverCmd = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(a("server_cmd"))).asScala.toSeq
    val rnd = new java.util.SplittableRandom(a("seed").toLong)
    val bodies: Array[Array[Byte]] = Array.tabulate(256) { i =>
      if (i % 4 == 3) Array.emptyByteArray // spectator poll
      else (s"""{"Events":[{"Type":"mv","Body":"${rnd.nextInt(1000000)}"}],""" +
        s""""State":{"hp":"${rnd.nextInt(100)}","x":"${rnd.nextInt(10000)}"}}""").getBytes(UTF_8)
    }
    val clients = for (s <- 0 until Streams; c <- 0 until ClientsPerStream) yield
      new Client(s, c, s"POST /s$s/c$c/".getBytes(ISO_8859_1), rnd.nextInt(256))
    val byWorker = (0 until nConns).map(w => clients.filter(_.stream % nConns == w).toArray)

    var attempted = 0L
    var failed = 0L
    val setups = mutable.ArrayBuffer.empty[Double]
    var server: Server = null
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      for (r <- 0 until Setups) {
        clients.foreach { c => c.lastT = 0L; c.k = 0; c.rec.n = 0 }
        server = new Server(serverCmd, s"$dir/spool-$r.jsonl", s"$dir/server-$r.log")
        val conns = byWorker.map(_ => new Conn(server.port, bodies))
        val first = run(byWorker, conns) { (conn, cs, t) => cs.foreach(c => syncOnce(conn, c, t)) }
        setups += (System.currentTimeMillis() - server.startedMs) / 1e3
        attempted += first.ok + first.failed; failed += first.failed
        if (r < Setups - 1) {
          conns.foreach(_.close())
          server.stop()
          val (n, bad, _) = check(s"$dir/spool-$r.jsonl", clients)
          failed += bad + math.abs(n - first.ok)
          server = null
        } else {
          // Warm-up, then the timed phases, on the last server.
          val w1 = run(byWorker, conns)((conn, cs, t) => for (_ <- 0 until WarmRounds; c <- cs) syncOnce(conn, c, t))
          val w2 = paced(byWorker, conns, 1.0, pauses = false, trace = false)
          val (cpu0, gc0, jit0) = server.stats()
          val p0 = System.nanoTime()
          val p = paced(byWorker, conns, 0.6 * seconds, pauses = true, trace = trace)
          val pacedS = (System.nanoTime() - p0) / 1e9
          val (cpu1, gc1, jit1) = server.stats()
          // Heap after the paced phase: its sync count is set by the offered
          // load, so the retained state does not depend on server speed.
          val heapMb = server.heap()
          val c0 = System.nanoTime()
          val capEnd = c0 + (0.4 * seconds * 1e9).toLong
          val cap = run(byWorker, conns)((conn, cs, t) => capacity(conn, cs, t, capEnd))
          val capS = (System.nanoTime() - c0) / 1e9
          val genCpuMs = Probe.cpuNanos() / 1e6
          conns.foreach(_.close())
          server.stop()
          server = null
          for (t <- Seq(w1, w2, p, cap)) { attempted += t.ok + t.failed; failed += t.failed }
          val (n, bad, core) = check(s"$dir/spool-$r.jsonl", clients)
          failed += bad + math.abs(n - (first.ok + w1.ok + w2.ok + p.ok + cap.ok))

          val lat = p.lat.sortedMs
          out ++= Seq(
            "gen.paced_per_s" -> p.ok / pacedS,
            // Server CPU without its JIT compiler threads, which keep
            // compiling through the timed phase and vary from run to run.
            "server_cpu_ms_per_sync" -> ((cpu1 - cpu0) / 1e6 - (jit1 - jit0)) / p.ok,
            "retained_heap_mb" -> heapMb,
            "SyncHttpServer.sync_p50_ms" -> Probe.pct(lat, 0.5),
            "SyncHttpServer.capacity_per_s" -> cap.ok / capS,
            "server_cpu_ms_per_sync_with_jit" -> (cpu1 - cpu0) / 1e6 / p.ok,
            "paced_syncs" -> p.ok,
            "capacity_syncs" -> cap.ok,
            "gen.max_late_ms" -> p.maxLateNs / 1e6)
          if (trace) {
            val rtt = p.rtt.sortedMs
            val total = first.ok + w1.ok + w2.ok + p.ok + cap.ok
            val coreP50 = core("SyncCore.process_us_p50")
            out ++= core
            out ++= Seq(
              "SyncHttpServer.options_rtt_us" -> Probe.pct(p.opt.sortedMs, 0.5) * 1e3,
              "SyncHttpServer.sync_rtt_us" -> Probe.pct(rtt, 0.5) * 1e3,
              "SyncHttpServer.self_us" -> (Probe.pct(rtt, 0.5) * 1e3 - coreP50),
              "SyncHttpServer.req_bytes_per_sync" -> conns.map(_.reqBytes).sum.toDouble / total,
              "SyncHttpServer.resp_bytes_per_sync" -> conns.map(_.respBytes).sum.toDouble / total,
              "SyncHttpServer.spool_bytes_per_sync" ->
                new java.io.File(s"$dir/spool-$r.jsonl").length.toDouble / total,
              "SyncHttpServer.sync_p99_ms" -> Probe.pct(lat, 0.99),
              "SyncHttpServer.gc_ms_per_1k_syncs" -> (gc1 - gc0) * 1000.0 / p.ok,
              "gen.cpu_ms_per_sync" -> genCpuMs / total)
          }
        }
      }
    } finally if (server != null) server.kill()
    out ++= Seq("setup_s" -> Probe.median(setups), "setup_runs_s" -> setups.toSeq,
      "attempted" -> attempted, "failed" -> failed)
    Probe.emit(out)
  }

  /** Run `body` on one thread per connection; merge what they saw. */
  private def run(byWorker: Seq[Array[Client]], conns: Seq[Conn])(
      body: (Conn, Array[Client], Tally) => Unit): Tally = {
    val tallies = byWorker.map(_ => new Tally)
    val threads = byWorker.indices.map { w =>
      val th = new Thread(() => body(conns(w), byWorker(w), tallies(w)), s"loadgen-$w")
      th.start(); th
    }
    threads.foreach(_.join())
    merge(tallies)
  }

  private def merge(tallies: Seq[Tally]): Tally = {
    val all = new Tally
    tallies.foreach { t =>
      all.ok += t.ok; all.failed += t.failed; all.maxLateNs = math.max(all.maxLateNs, t.maxLateNs)
      for ((dst, src) <- Seq(all.lat -> t.lat, all.rtt -> t.rtt, all.opt -> t.opt); i <- 0 until src.n)
        dst += src.a(i)
    }
    all
  }

  /** One sync; records the answer on the client. Returns false on failure. */
  private def syncOnce(conn: Conn, c: Client, t: Tally): Boolean = {
    val ok = try conn.sync(c) == 200 catch {
      case _: java.io.IOException => conn.connect(); false
    }
    c.k += 1
    if (ok) {
      val (tt, pid, ne, ns) = conn.parsed()
      c.lastT = tt
      c.rec += tt; c.rec += pid; c.rec += ne; c.rec += ns
      t.ok += 1
    } else t.failed += 1
    ok
  }

  private def capacity(conn: Conn, cs: Array[Client], t: Tally, endNs: Long): Unit = {
    var i = 0
    while (System.nanoTime() < endNs) { syncOnce(conn, cs(i), t); i = (i + 1) % cs.length }
  }

  /** Closed loop with think time for `seconds`; latency from due time. */
  private def paced(byWorker: Seq[Array[Client]], conns: Seq[Conn], seconds: Double,
                    pauses: Boolean, trace: Boolean): Tally = {
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val perWorker = byWorker.map(_.length).max
    byWorker.foreach(_.zipWithIndex.foreach { case (c, i) =>
      c.due = start + ThinkMs * 1000000L * i / perWorker
      c.pauseLeft = pauses && (c.stream * ClientsPerStream + c.id) % 64 == 5
    })
    run(byWorker, conns)((conn, cs, t) => pacedLoop(conn, cs, t, end, trace))
  }

  private def pacedLoop(conn: Conn, cs: Array[Client], t: Tally, end: Long, trace: Boolean): Unit = {
    val q = new java.util.PriorityQueue[Client]((x: Client, y: Client) => java.lang.Long.compare(x.due, y.due))
    cs.foreach(q.add)
    while (q.peek().due < end) {
      val c = q.poll()
      var now = System.nanoTime()
      while (now < c.due) { LockSupport.parkNanos(c.due - now); now = System.nanoTime() }
      t.maxLateNs = math.max(t.maxLateNs, now - c.due)
      val ok = syncOnce(conn, c, t)
      val recv = System.nanoTime()
      if (ok) { t.lat += recv - c.due; t.rtt += recv - now }
      if (trace && t.ok % 32 == 0) {
        val o0 = System.nanoTime()
        if (conn.preflight() == 200) t.opt += System.nanoTime() - o0
      }
      val think = if (c.pauseLeft) { c.pauseLeft = false; PauseMs } else ThinkMs
      c.due = recv + think * 1000000L
      q.add(c)
    }
  }

  /** Replay a spool through `SyncCore.process` (iterating each payload
    * as the server's serializer does) and compare every client's answers.
    * Returns (syncs in the spool, mismatches, SyncCore layer metrics).
    */
  private def check(spool: String, clients: Seq[Client]): (Long, Long, Map[String, Double]) = {
    val mapper = new ObjectMapper
    val cfg = SyncConfig(TickMs, TimeoutMs)
    val states = mutable.HashMap.empty[String, GameState]
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val byName = clients.map(c => c.name -> c).toMap
    val us = new LongBuf
    var n = 0L; var bad = 0L; var nEv = 0L; var nSt = 0L; var evictions = 0L
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(spool), UTF_8).asScala
    var foldNs = 0L
    for (line <- lines) {
      val j = mapper.readTree(line)
      val stream = j.get("stream").asText
      val cid = j.get("client_id").asText
      val now = j.get("now").asLong
      val body = j.get("body").asText
      val root = mapper.readTree(if (body.isEmpty) "{}" else body)
      val events = Option(root.get("Events")).toSeq.flatMap(_.elements().asScala)
        .map(e => (e.get("Type").asText, e.get("Body").asText))
      val state = Option(root.get("State")).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      val g0 = states.getOrElse(stream, SyncCore.init(now, Seed))
      val t0 = System.nanoTime()
      val (g1, r) = SyncCore.process(cfg, g0, now, cid, Some(j.get("last_known_t").asLong), events, state)
      var sink = 0
      r.deltaEvents.foreach { case (_, e) => sink += e.body.length }
      r.deltaStates.foreach(s => sink += s.data.toSeq.sortBy(_._1).size)
      us += System.nanoTime() - t0
      foldNs += System.nanoTime() - t0
      if (sink < 0) bad += 1
      states(stream) = g1
      n += 1; nEv += r.deltaEvents.size; nSt += r.deltaStates.size
      val key = s"$stream/$cid"
      val i = seen(key)
      seen(key) = i + 1
      val want = Seq(r.t, r.proxyId, r.deltaEvents.size.toLong, r.deltaStates.size.toLong)
      byName.get(key) match {
        case Some(c) if 4 * i + 3 < c.rec.n =>
          if ((0 until 4).map(f => c.rec.a(4 * i + f)) != want) bad += 1
        case _ => bad += 1
      }
    }
    states.values.foreach(g => evictions += g.log.count(_.eventType == "_d"))
    val sorted = us.sortedMs
    (n, bad, Map(
      "SyncCore.process_us_p50" -> Probe.pct(sorted, 0.5) * 1e3,
      "SyncCore.process_us_p99" -> Probe.pct(sorted, 0.99) * 1e3,
      "SyncCore.delta_events_per_sync" -> nEv.toDouble / math.max(n, 1L),
      "SyncCore.delta_states_per_sync" -> nSt.toDouble / math.max(n, 1L),
      "SyncCore.log_events_per_stream_end" -> states.values.map(_.log.size.toDouble).sum / math.max(states.size, 1),
      "SyncCore.evictions" -> evictions.toDouble,
      "SyncCore.fold_syncs_per_s_1t" -> n / (foldNs / 1e9)))
  }

  /** The server child process and its stdin/stdout command channel. */
  final class Server(cmd: Seq[String], spool: String, log: String) {
    private val proc = new ProcessBuilder((cmd ++ Seq(s"spool=$spool", s"tick_ms=$TickMs",
        s"timeout_ms=$TimeoutMs")).asJava)
      .redirectError(new java.io.File(log)).start()
    private val in = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    private val outw = new java.io.PrintWriter(proc.getOutputStream, true)
    private val hello = expect("PORT")
    val port: Int = hello(1).toInt
    val startedMs: Long = hello(2).toLong

    private def expect(tag: String): Array[String] = {
      val l = in.readLine()
      if (l == null || !l.startsWith(tag + " ")) throw new IllegalStateException(s"server said $l, expected $tag")
      l.split(' ')
    }
    def stats(): (Long, Long, Double) = {
      outw.println("stats"); val s = expect("STATS"); (s(1).toLong, s(2).toLong, s(3).toDouble)
    }
    def heap(): Double = { outw.println("heap"); expect("HEAP")(1).toDouble }
    def stop(): Unit = {
      outw.println("stop")
      if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) kill()
    }
    def kill(): Unit = { proc.destroyForcibly(); proc.waitFor() }
  }
}
