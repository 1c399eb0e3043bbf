package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import graft.sources.SyncHttpServer
import graft.streaming.SyncConfig

/** Live-listener throughput: sustained syncs/s through the FULL stack —
  * socket, route parse, JSON decode, SyncCore.process under the
  * per-stream lock, wire serialization — on one node, the reference's
  * deployment shape. Comparable number in the reference's terms:
  * ~2,560 syncs/s at its design load (512 clients × ~5 syncs/s,
  * README.md:22,25); the engine's in-process streaming path measures
  * 1.2k–18k syncs/s at 8–128 streams (STREAM_BENCH.json).
  *
  * Driver model: one thread per stream issuing its clients' syncs
  * sequentially (per-stream order is the semantics; cross-stream is the
  * scale axis — same as the engine bench). Payloads are the reference's
  * guideline shape: an event + a state update per sync.
  */
object HttpBench {
  def main(args: Array[String]): Unit = {
    val streamCounts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(8, 32, 128)
    val clientsPerStream = 4
    val syncsPerClient = 250
    val server = new SyncHttpServer(SyncConfig(50L, 10000L), port = 0).start()
    val base = s"http://127.0.0.1:${server.address.getPort}"
    val body = """{"Events":[{"Type":"mv","Body":"p"}],"State":{"hp":"9"}}"""
    try {
      val points = streamCounts.map { n =>
        val syncs = n * clientsPerStream * syncsPerClient
        val pool = Executors.newFixedThreadPool(n)
        val done = new CountDownLatch(n)
        // Per-sync round-trip latency (request build → response body),
        // recorded per thread, aggregated after the run. The reference's
        // envelope is a LATENCY bound (≤200 ms lag at design load,
        // README.md:23), so the artifact must carry percentiles, not
        // just throughput — and these are measured at saturation (every
        // thread firing back-to-back), the worst case for latency.
        val lats = Array.fill(n)(new Array[Long](clientsPerStream * syncsPerClient))
        // Syncs actually COMPLETED per thread: a mid-run connection
        // failure must surface as a hard error, not silently leave
        // zeroed latency slots and an inflated throughput in the
        // committed artifact.
        val completed = new java.util.concurrent.atomic.AtomicLongArray(n)
        val failures = new java.util.concurrent.atomic.AtomicInteger(0)
        val t0 = System.nanoTime()
        (0 until n).foreach { s =>
          pool.execute { () =>
            val client = HttpClient.newHttpClient()
            var lastT = 0L
            var k = 0
            try {
              for (i <- 0 until syncsPerClient; c <- 0 until clientsPerStream) {
                val l0 = System.nanoTime()
                val r = client.send(
                  HttpRequest.newBuilder(URI.create(s"$base/s$s/c$c/$lastT"))
                    .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                  HttpResponse.BodyHandlers.ofString())
                lats(s)(k) = System.nanoTime() - l0
                k += 1
                completed.set(s, k.toLong)
                // Track the stream watermark like a real client: resync
                // from the last delivered tick (keeps deltas bounded).
                val t = r.body()
                val i0 = t.indexOf("\"T\":")
                if (i0 >= 0) lastT = t.substring(i0 + 4, t.indexWhere(ch => ch == ',' || ch == '}', i0 + 4)).toLong
              }
            } catch {
              case e: Exception =>
                failures.incrementAndGet()
                System.err.println(s"[httpbench] stream $s FAILED after $k syncs: $e")
            } finally done.countDown()
          }
        }
        done.await(10, TimeUnit.MINUTES)
        pool.shutdown()
        require(failures.get() == 0,
          s"${failures.get()} stream driver(s) failed — artifact would be invalid")
        val wall = (System.nanoTime() - t0) / 1e9
        val sorted = (0 until n).flatMap(s => lats(s).take(completed.get(s).toInt)).sorted
        def pctMs(p: Double): Double =
          sorted(math.min(sorted.length - 1, (p * sorted.length).toInt)) / 1e6
        val (p50, p99) = (pctMs(0.50), pctMs(0.99))
        System.err.println(
          f"[httpbench] streams=$n syncs=$syncs wall=$wall%.2fs => ${syncs / wall}%.0f syncs/s p50=$p50%.2fms p99=$p99%.2fms")
        (n, syncs, wall, syncs / wall, p50, p99)
      }
      val best = points.map(_._4).max
      val js = points.map { case (n, s, w, r, p50, p99) =>
        f"""{"streams":$n,"syncs":$s,"wall_s":$w%.3f,"syncs_per_sec":$r%.1f,"p50_ms":$p50%.3f,"p99_ms":$p99%.3f}"""
      }.mkString("[", ",", "]")
      val line = f"""{"metric":"http_syncs_per_sec","value":$best%.1f,"unit":"syncs/sec","points":$js,"reference_syncs_per_sec":2560,"reference_latency_bound_ms":200}"""
      println(line)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("HTTP_BENCH.json"), line + "\n")
    } finally server.stop()
  }
}
