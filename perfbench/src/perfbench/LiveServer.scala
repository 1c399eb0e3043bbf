package perfbench

import graft.sources.SyncHttpServer
import graft.streaming.SyncConfig

/** The server process of live_sync: one `SyncHttpServer` with its spool
  * on, driven over stdin by the load generator that started it.
  *
  * Prints `PORT <port> <jvm start epoch ms>` once listening, then answers
  * one line per command:
  *   `stats` → `STATS <process cpu ns> <gc ms> <JIT compiler CPU ms>`
  *   `heap`  → `HEAP <MB in use after a full GC>`
  *   `stop`  → stops the server and exits the JVM. `stop()` leaves the
  *             server's executor threads running, so the exit is explicit.
  *
  * Args: spool= tick_ms= timeout_ms=
  */
object LiveServer {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val server = new SyncHttpServer(
      SyncConfig(a("tick_ms").toLong, a("timeout_ms").toLong), port = 0,
      spoolPath = Some(a("spool"))).start()
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(s"PORT ${server.address.getPort} $started")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "stop") {
      line match {
        case "stats" => println(s"STATS ${Probe.cpuNanos()} ${Probe.gcMillis()} ${Probe.jitCpuMillis()}")
        case "heap" => println(s"HEAP ${Probe.retainedHeapMb()}")
        case other => println(s"ERROR unknown command $other")
      }
      System.out.flush()
      line = in.readLine()
    }
    server.stop()
    System.exit(0)
  }
}
