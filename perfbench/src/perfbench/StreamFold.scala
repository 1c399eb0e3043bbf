package perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.GraftSession
import graft.operators.SyncSummary
import graft.sources.WireJson
import graft.streaming.{GameState, SyncConfig, SyncCore, SyncEngine}
import scala.collection.mutable

/** stream_fold: a backlog of spool-format request lines drained through
  * `WireJson.spooledSyncRequests` → `SyncEngine` in microbatches of 2,000
  * syncs, as a closed loop: each batch is fed once the last one has
  * committed, as a catch-up from the live spool runs.
  *
  * The schedule (from the seed): 16 streams × 4 clients, gaps of 10–89
  * ms that cross 50 ms ticks, and now and then a 25 s jump past the 10 s
  * client timeout, so clients are evicted and reconnect. Logs grow to
  * thousands of events per stream over the run.
  *
  * `setup_s` is JVM start → first microbatch done. The first
  * `WarmBatches` are untimed; the next `batches` are timed. The number of
  * batches is fixed, not the time, so every run folds the same logs.
  * After the run, untimed, the engine's summaries must equal a
  * single-threaded fold of the schedule through `SyncCore.process`.
  *
  * Args: cpus= seed= batches= trace=0|1
  */
object StreamFold {
  val Streams = 16
  val ClientsPerStream = 4
  val BatchSyncs = 2000
  val Cfg = SyncConfig(50L, 10000L)
  val EngineSeed = 42L
  /** Untimed batches: the first of them is the set-up. */
  val WarmBatches = 8

  final case class Req(stream: Int, now: Long, client: Int, body: Long)

  def schedule(seed: Long, n: Int): Seq[Req] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until Streams).flatMap { s =>
      var now = 1000L + s
      (0 until n / Streams).map { i =>
        now += 10 + rnd.nextInt(80) + (if (rnd.nextInt(97) == 0) 25000 else 0)
        Req(s, now, rnd.nextInt(ClientsPerStream), s * 10000000L + i)
      }
    }.sortBy(r => (r.now, r.stream))
  }

  def spoolLine(seq: Long, r: Req): String =
    s"""{"seq":$seq,"stream":"${r.stream}","now":${r.now},"client_id":"${r.client}",""" +
      s""""last_known_t":0,"body":"{\\"Events\\":[{\\"Type\\":\\"e\\",\\"Body\\":\\"${r.body}\\"}]}"}"""

  /** The single-threaded fold, as `SyncEngine` applies it per stream. */
  def fold(reqs: Seq[Req], us: Option[LiveSync.LongBuf]): (Seq[SyncSummary], Map[Int, GameState]) = {
    val states = mutable.HashMap.empty[Int, GameState]
    val out = reqs.map { r =>
      val g0 = states.getOrElse(r.stream, SyncCore.init(r.now, EngineSeed))
      val t0 = System.nanoTime()
      val (g, resp) = SyncCore.process(Cfg, g0, r.now, r.client.toString, None,
        Seq(("e", r.body.toString)), Some(Map("last_event" -> r.body.toString)))
      us.foreach(_ += System.nanoTime() - t0)
      states(r.stream) = g
      SyncSummary(r.stream, g.syncSeq, r.client, resp.t, resp.proxyId, resp.deltaEvents.size.toLong,
        resp.deltaEventsHash, resp.deltaStates.size.toLong, resp.deltaStatesHash)
    }
    (out, states.toMap)
  }

  def digest(s: SyncSummary): Long = (s.hashCode.toLong << 32) | (s.toString.hashCode & 0xffffffffL)

  /** Rows of the larger of two sorted multisets that the other lacks:
    * each differing, missing or extra summary counts once. */
  def multisetMisses(x: Array[Long], y: Array[Long]): Int = {
    var (i, j, common) = (0, 0, 0)
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { common += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1 else j += 1
    }
    math.max(x.length, y.length) - common
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val trace = a.int("trace") == 1
    val spark = GraftSession.build(a("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Probe.sinceJvmStartS()
    val nSyncs = (WarmBatches + a.int("batches")) * BatchSyncs
    // Dropped before the heap is measured; each batch's spool lines are
    // encoded just before they are fed.
    var reqs = schedule(a("seed").toLong, nSyncs).toArray

    val progress = mutable.ArrayBuffer.empty[QueryProgressEvent]
    val sparkTrace = if (trace) Some(SparkTrace.install(spark.sparkContext)) else None
    if (trace) spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.synchronized(progress += e)
    })

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[String]
    val spool = src.toDF().select(from_json(col("value"), WireJson.spoolSchema).as("r")).select("r.*")
    val out = SyncEngine(WireJson.spooledSyncRequests(spool), Cfg, EngineSeed, gameTimeoutUs = 0L)
    // Only a 64-bit digest of each summary is kept, so the heap after the
    // run holds the engine's data and not the harness's.
    val got = new LiveSync.LongBuf
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", s"${System.getProperty("java.io.tmpdir")}/ckpt")
      .foreachBatch { (ds: Dataset[SyncSummary], _: Long) => ds.collect().foreach(s => got += digest(s)) }
      .start()

    var setupS = 0.0
    var cpu0, gc0, cls0 = 0L
    var jit0 = 0.0
    var heapMb = 0.0
    var stateEnd: Option[StateOperatorProgress] = None
    val perBatch = try (0 until nSyncs / BatchSyncs).map { i =>
      if (i == WarmBatches) {
        sparkTrace.foreach(_.take())
        progress.synchronized(progress.clear())
        cpu0 = Probe.cpuNanos(); jit0 = Probe.jitCpuMillis(); gc0 = Probe.gcMillis()
        cls0 = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
      }
      val lines = (i * BatchSyncs until (i + 1) * BatchSyncs).map(k => spoolLine(k, reqs(k)))
      val (c0, j0, t0) = (Probe.cpuNanos(), Probe.jitCpuMillis(), System.nanoTime())
      src.addData(lines: _*)
      q.processAllAvailable()
      if (i == 0) setupS = Probe.sinceJvmStartS()
      ((System.nanoTime() - t0) / 1e6, (Probe.cpuNanos() - c0) / 1e6 - (Probe.jitCpuMillis() - j0))
    } finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      stateEnd = progress.synchronized(progress.lastOption.flatMap(_.progress.stateOperators.headOption))
      reqs = null
      heapMb = Probe.retainedHeapMb()
      q.stop()
    }
    val (cpuMs, jitMs, gcMs) =
      ((Probe.cpuNanos() - cpu0) / 1e6, Probe.jitCpuMillis() - jit0, (Probe.gcMillis() - gc0).toDouble)
    val classesLoaded = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - cls0

    reqs = schedule(a("seed").toLong, nSyncs).toArray
    val expected = fold(reqs, None)._1.map(digest).sorted
    val failed = multisetMisses(got.a.take(got.n).sorted, expected.toArray)

    val wallMs = perBatch.map(_._1)
    val timed = wallMs.drop(WarmBatches)
    val syncs = timed.size.toDouble * BatchSyncs
    val half = timed.size / 2
    val fields = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "SyncEngine.syncs_per_s" -> syncs / (timed.sum / 1e3),
      // Process CPU of the median batch, without the JIT compiler threads,
      // which keep compiling through the timed batches and vary from run to
      // run; the median, so a batch that met a long GC does not set it.
      "engine_cpu_ms_per_sync" -> Probe.median(perBatch.drop(WarmBatches).map(_._2)) / BatchSyncs,
      "engine_cpu_ms_per_sync_with_jit" -> cpuMs / syncs,
      "SyncEngine.batch_p50_ms" -> Probe.median(timed),
      "retained_heap_mb" -> heapMb,
      "timed_jit_ms" -> jitMs,
      "timed_gc_ms" -> gcMs,
      "timed_classes_loaded" -> classesLoaded,
      "warm_batch_ms" -> wallMs.take(WarmBatches),
      "timed_batch_ms" -> timed,
      "timed_drift" -> (Probe.median(timed.drop(half)) / Probe.median(timed.take(half)) - 1),
      "attempted" -> reqs.size, "failed" -> failed)

    if (trace) {
      val ps = progress.synchronized(progress.toVector).map(_.progress)
      def dur(k: String): Double = Probe.median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
      val st = stateEnd.get
      val versionBytes = Option(st.customMetrics.get("stateOnCurrentVersionSizeBytes")).fold(0.0)(_.doubleValue)
      val c = sparkTrace.get.take()
      val n = timed.size.toDouble
      val us = new LiveSync.LongBuf
      val foldS = (0 until 3).map { _ =>
        us.n = 0
        val t0 = System.nanoTime(); fold(reqs, Some(us)); (System.nanoTime() - t0) / 1e9
      }
      val (sums, finals) = fold(reqs, None)
      val usSorted = us.sortedMs
      fields ++= Seq(
        "SyncEngine.add_batch_ms" -> dur("addBatch"),
        "SyncEngine.query_planning_ms" -> dur("queryPlanning"),
        "SyncEngine.wal_commit_ms" -> dur("walCommit"),
        "SyncEngine.commit_offsets_ms" -> dur("commitOffsets"),
        "SyncEngine.get_batch_ms" -> dur("getBatch"),
        "state.rows_total_end" -> st.numRowsTotal.toDouble,
        "state.memory_bytes_end" -> st.memoryUsedBytes.toDouble,
        "state.version_bytes_end" -> versionBytes,
        "state.version_bytes_per_1k_syncs" -> versionBytes * 1000.0 / reqs.size,
        "state.commit_ms_per_batch" -> Probe.median(ps.map(_.stateOperators.head.commitTimeMs.toDouble)),
        "state.updates_ms_per_batch" -> Probe.median(ps.map(_.stateOperators.head.allUpdatesTimeMs.toDouble)),
        "spark.jobs_per_batch" -> c.jobs / n,
        "spark.tasks_per_batch" -> c.tasks / n,
        "spark.task_ms_per_batch" -> c.taskMs / n,
        "spark.busy_share" -> c.taskMs / (timed.sum * a("cpus").toDouble),
        "spark.shuffle_bytes_per_batch" -> c.shuffleBytes / n,
        "SyncCore.process_us_p50" -> Probe.pct(usSorted, 0.5) * 1e3,
        "SyncCore.process_us_p99" -> Probe.pct(usSorted, 0.99) * 1e3,
        "SyncCore.delta_events_per_sync" -> sums.map(_.n_delta_events).sum.toDouble / sums.size,
        "SyncCore.delta_states_per_sync" -> sums.map(_.n_delta_states).sum.toDouble / sums.size,
        "SyncCore.log_events_per_stream_end" -> finals.values.map(_.log.size).sum.toDouble / finals.size,
        "SyncCore.evictions" -> finals.values.map(_.log.count(_.eventType == "_d")).sum.toDouble,
        "SyncCore.fold_syncs_per_s_1t" -> reqs.size / Probe.median(foldS))
    }
    Probe.emit(fields)
    spark.stop()
  }
}
