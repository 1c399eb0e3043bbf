package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SyncReplay, SyncRequest}
import graft.streaming.{SyncConfig, SyncEngine}

/** Structured Streaming suite (SURVEY.md §2C S1-S3): the streaming
  * engine must be *the same computation* as batch — README.md:9's
  * determinism invariant ("a stream of messages that yield the same
  * simulation result when processed"), asserted literally in S3.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {


  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("S1: streaming tumbling-window counts equal the batch aggregation") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val rows = (0 until 500).map(i => (i.toLong * 600L * 1000000L, s"t${i % 3}"))
    val src = MemoryStream[(Long, String)]
    src.addData(rows.take(250): _*)
    src.addData(rows.drop(250): _*)

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_micros(col("_1")))
      .groupBy(window(col("ts"), "1 hour"), col("_2").as("event_type"))
      .count()

    val q = shape(src.toDF()).writeStream
      .format("memory").queryName("s1").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s1")
      .select(col("window.start").cast("long").as("w"), col("event_type"), col("count"))
      .orderBy("w", "event_type").collect().toSeq
    val want = shape(rows.toDF())
      .select(col("window.start").cast("long").as("w"), col("event_type"), col("count"))
      .orderBy("w", "event_type").collect().toSeq
    assert(got == want)
  }

  test("S1b: watermark + append mode finalizes windows and drops late data") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    val src = MemoryStream[Long] // event-time micros

    val agg = src.toDF()
      .withColumn("ts", timestamp_micros(col("value")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .count()
      .select(col("window.start").cast("long").as("w"), col("count"))

    val q = agg.writeStream
      .format("memory").queryName("s1b").outputMode("append").start()
    try {
      // Batch 1: 3 events in hour-0, 1 in hour-1 → watermark = max - 1h.
      src.addData(0L, 10L, 20L, hourUs + 1L)
      q.processAllAvailable()
      // Batch 2: advance event time to hour-4 → watermark passes hour
      // 0..2; their windows finalize and emit.
      src.addData(4L * hourUs)
      q.processAllAvailable()
      // Batch 3: a late hour-0 event, older than the watermark → must be
      // DROPPED, not re-opened (hour-0 already emitted with count 3).
      src.addData(30L)
      q.processAllAvailable()
      // Advance again so hour-4 would finalize if anything re-opened.
      src.addData(7L * hourUs)
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("s1b").orderBy("w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // hour-0 emitted exactly once with the pre-watermark count of 3 (the
    // late 4th event dropped); hour-1 emitted with 1; hour-4 finalized.
    // (window.start cast to long = epoch seconds.)
    assert(rows == Seq((0L, 3L), (3600L, 1L), (4L * 3600L, 1L)))
  }

  test("S1c: streaming session_window aggregation equals the batch result") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // (user, event-time micros): per-user bursts with >10 s gaps between
    // them — sessions must match the batch session_window exactly.
    val secUs = 1000000L
    val rows = for {
      u <- 0L until 4L
      burst <- 0 until 3
      i <- 0 until 5
    } yield (u, (burst * 60L + u * 7L) * secUs + i * secUs)

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "10 seconds"), col("_1").as("user_id"))
      .count()
      .select(col("session_window.start").cast("long").as("s"),
        col("session_window.end").cast("long").as("e"), col("user_id"), col("count"))

    val src = MemoryStream[(Long, Long)]
    val half = rows.size / 2
    src.addData(rows.take(half): _*)
    src.addData(rows.drop(half): _*)
    val q = shape(src.toDF()).writeStream
      .format("memory").queryName("s1c").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s1c").orderBy("user_id", "s").collect().toSeq
    val want = shape(rows.toDF()).orderBy("user_id", "s").collect().toSeq
    assert(got == want && got.size == 12) // 4 users x 3 sessions
  }

  test("S1d: streaming sliding-window counts equal the batch aggregation (q32 shape)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000L
    val rows = (0 until 300).map(i => i.toLong * 11L * 60L * 1000000L) // every 11 min
    val src = MemoryStream[Long]
    src.addData(rows.take(150): _*)
    src.addData(rows.drop(150): _*)

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_micros(col("value")))
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .count()
      .select(unix_micros(col("w.start")).as("w_start"), col("count"))

    val q = shape(src.toDF()).writeStream
      .format("memory").queryName("s1d").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s1d").orderBy("w_start").collect().toSeq
    val want = shape(rows.toDF("value")).orderBy("w_start").collect().toSeq
    assert(got == want)
    // Overlap sanity: interior events count twice (2 h window / 1 h hop).
    assert(got.map(_.getLong(1)).sum > rows.size)
  }

  test("S6: stream-stream interval join (view→purchase within 1 h) equals the batch join") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val minUs = 60L * 1000000L
    // One day offset: a row whose event time equals the current
    // watermark (epoch 0 at query start) is filtered as late.
    val baseUs = 86400L * 1000000L
    // 5 users browsing over 6 hours; purchases land 30 min after some
    // views (those match) and hours after others (those don't).
    val views = for (u <- 0L until 5L; h <- 0 until 6)
      yield (u, baseUs + (h * 60L + u) * minUs)
    val purch = for (u <- 0L until 5L; h <- 0 until 6; if (u + h) % 2 == 0)
      yield (u, baseUs + (h * 60L + u + 30L) * minUs)

    // Same plan for both modes: the event-time range condition plus
    // both watermarks is what lets streaming bound join state (each
    // side's rows are droppable once the other side's watermark passes
    // v_ts + 1 h); in batch the withWatermark calls are no-ops.
    def joined(v: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) = {
      val vv = v.toDF("v_user", "v_us")
        .withColumn("v_ts", timestamp_micros(col("v_us")))
        .withWatermark("v_ts", "12 hours")
      val pp = p.toDF("p_user", "p_us")
        .withColumn("p_ts", timestamp_micros(col("p_us")))
        .withWatermark("p_ts", "12 hours")
      vv.join(pp, col("v_user") === col("p_user")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("v_user").as("user_id"), col("v_us"), col("p_us"))
    }

    val vs = MemoryStream[(Long, Long)]
    val ps = MemoryStream[(Long, Long)]
    val q = joined(vs.toDF(), ps.toDF()).writeStream
      .format("memory").queryName("s6").outputMode("append").start()
    try {
      // Split both sides across microbatches so some pairs only meet
      // via buffered join state from an earlier batch.
      vs.addData(views.take(15): _*)
      ps.addData(purch.drop(7): _*)
      q.processAllAvailable()
      vs.addData(views.drop(15): _*)
      ps.addData(purch.take(7): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("s6").orderBy("user_id", "v_us", "p_us").collect().toSeq
    val want = joined(views.toDF(), purch.toDF())
      .orderBy("user_id", "v_us", "p_us").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("S7: foreachBatch idempotent parquet sink survives batch re-delivery without duplicates") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_s7").toString
    val rows = (0 until 200).map(i => (i.toLong, s"payload$i"))
    val src = MemoryStream[(Long, String)]
    val sink = graft.streaming.Sinks.idempotentParquetAppend(out) _

    val q = src.toDF().toDF("id", "payload").writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", s"$out-ckpt")
      .start()
    try {
      src.addData(rows.take(100): _*); q.processAllAvailable()
      src.addData(rows.drop(100): _*); q.processAllAvailable()
    } finally q.stop()

    def table() = spark.read.parquet(out)
    assert(table().count() == 200)

    // Simulate the failure mode: the same microbatch delivered again
    // (same batchId, same data) — the sink must recognize the committed
    // marker and skip, leaving the table unchanged.
    sink(rows.take(100).toDF("id", "payload"), 0L)
    assert(table().count() == 200)
    assert(table().select("id").distinct().count() == 200)

    // And a NEW batchId with new data still lands.
    sink(Seq((999L, "x")).toDF("id", "payload"), 2L)
    assert(table().count() == 201)
  }

  test("S5: streaming exact dedup keeps one survivor per content across microbatches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // 100 arrivals of 40 distinct contents, duplicates split across
    // microbatches (cross-batch dedup = the state-store path, not
    // per-batch distinct). Arrival order = doc_id order, so the
    // streaming first-arrival survivor is batch exactDedup's min(doc_id).
    val rows = (0L until 100L).map(i => (i, s"content ${i % 40}"))
    val src = MemoryStream[(Long, String)]
    src.addData(rows.take(50): _*)
    src.addData(rows.drop(50): _*)

    val q = src.toDF().toDF("doc_id", "text")
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicates("content_hash")
      .writeStream.format("memory").queryName("s5").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s5").select("content_hash", "doc_id")
      .orderBy("content_hash").collect().toSeq
    val want = graft.operators.Dedup.exactDedup(rows.toDF("doc_id", "text"))
      .select(col("content_hash"), col("keep_id").as("doc_id"))
      .orderBy("content_hash").collect().toSeq
    assert(got == want)
    assert(got.size == 40)
  }

  test("S5b: dropDuplicatesWithinWatermark bounds dedup state by event time") {
    // The 100 TB shape of streaming dedup: exact dropDuplicates holds
    // every key forever; the watermarked variant evicts state once the
    // watermark passes, trading unbounded memory for a dedup horizon.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000L
    // Same content arrives three times within one hour — all inside the
    // watermark delay, so exactly one row survives.
    val src = MemoryStream[(Long, String)]
    src.addData((0L, "a"), (10L * 60L * 1000000L, "a"))
    src.addData((20L * 60L * 1000000L, "a"), (30L * 60L * 1000000L, "b"))

    val q = src.toDF().toDF("ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("text")
      .writeStream.format("memory").queryName("s5b").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // Which physical duplicate survives inside a microbatch is
    // partition-arrival order (engine's choice); the contract is ONE
    // survivor per content within the watermark horizon.
    val got = spark.table("s5b").select("text", "ts_us")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._1).sorted == Seq("a", "b"))
    assert(got.forall(_._2 < hour))
  }

  test("S5c: dropDuplicatesWithinWatermark evicts and RE-ADMITS once the watermark passes") {
    // The other half of S5b's bound — eviction must actually happen:
    // after the event-time watermark passes a content's first sighting,
    // its dedup state is dropped and a later duplicate is admitted as
    // fresh (the bounded-horizon contract, event-time twin of the
    // processing-time TTLs in S14b/S8b). All clocks here are event
    // time, so the outcome is deterministic — no wall-clock gating.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000L
    val src = MemoryStream[(Long, String)]

    val q = src.toDF().toDF("ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("text")
      .writeStream.format("memory").queryName("s5c").outputMode("append").start()
    // Base offset keeps every event above the initial (epoch) watermark
    // — a t=0 first row would be discarded as late before dedup sees it.
    val base = 10L * hour
    try {
      // Batch 1: first sighting of "a" at t=base. Watermark after: base-1h.
      src.addData((base, "a")); q.processAllAvailable()
      // Batch 2: unrelated content at base+3h advances the watermark to
      // base+2h > base, so "a"'s dedup state is evicted after this batch.
      src.addData((base + 3L * hour, "b")); q.processAllAvailable()
      // Batch 3: "a" again at base+3h10m — beyond the horizon: re-admitted.
      // A same-batch duplicate 10 min later still dedups against it.
      src.addData((base + 3L * hour + 600L * 1000000L, "a"),
        (base + 3L * hour + 1200L * 1000000L, "a"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("s5c").select("text", "ts_us")
      .as[(String, Long)].collect().toSeq.sorted
    assert(got.map(_._1) == Seq("a", "a", "b"),
      s"expected re-admission of 'a' past the watermark horizon, got $got")
    assert(got.count { case (t, ts) => t == "a" && ts >= base + 3L * hour } == 1,
      "the post-horizon duplicate pair must keep exactly one survivor")
  }

  test("S2: session timeout emits _d and a returning client gets a fresh proxy id") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // Hand-traced scenario (tick 50, timeout 10_000, one stream):
    //   r1 c7@1000   -> T=0,  proxy 1, withheld delta, own state visible
    //   r2 c8@1060   -> T=1,  proxy 2, full log (5 events), 2 states
    //   r3 c7@12000  -> both clients timed out: _d 1, _d 2, then c7
    //                   re-admitted as proxy 3; delta = all 9 events
    //   r4 c8@12100  -> T=222, proxy 4, delta = 6 events, 2 states
    val src = MemoryStream[SyncRequest]
    src.addData(
      SyncRequest(1L, 1000L, "7", "e", "100"),
      SyncRequest(1L, 1060L, "8", "e", "101"))
    src.addData(
      SyncRequest(1L, 12000L, "7", "e", "102"),
      SyncRequest(1L, 12100L, "8", "e", "103"))

    val out = SyncEngine(src.toDS(), SyncConfig(50L, 10000L),
      seed = 42L, gameTimeoutUs = 0L)
    val q = out.writeStream
      .format("memory").queryName("s2").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("s2").orderBy("sync_seq").collect()
    assert(rows.map(_.getAs[Long]("proxy_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_.getAs[Long]("t")).toSeq == Seq(0L, 1L, 220L, 222L))
    assert(rows.map(_.getAs[Long]("n_delta_events")).toSeq == Seq(0L, 5L, 9L, 6L))
    assert(rows.map(_.getAs[Long]("n_delta_states")).toSeq == Seq(1L, 2L, 1L, 2L))
  }

  test("S3: streaming sync engine ≡ batch replay, microbatch-split arbitrarily") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // Deterministic pseudo-random schedule: 3 streams, 3 clients each,
    // gaps that cross tick and timeout boundaries.
    val reqs = (for {
      s <- 0L until 3L
      i <- 0 until 120
    } yield {
      val jitter = (i * 7919 + s * 104729) % 90
      val now = 1000L + i * (37L + jitter) + (if (i % 17 == 0) 25000L else 0L)
      SyncRequest(s, now, ((i + jitter.toInt) % 3).toString, "e", (s * 1000 + i).toString)
    }).sortBy(r => (r.now, r.body.toLong))

    val src = MemoryStream[SyncRequest]
    val cfg = SyncConfig(50L, 10000L)
    val out = SyncEngine(src.toDS(), cfg, seed = 42L, gameTimeoutUs = 0L)
    val q = out.writeStream
      .format("memory").queryName("s3").outputMode("append").start()
    try {
      // Split into 5 arrival-ordered microbatches.
      reqs.grouped(reqs.size / 5 + 1).foreach { chunk =>
        src.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val streaming = spark.table("s3")
      .orderBy("stream_id", "sync_seq").collect().toSeq
    val batch = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 42L)
      .toDF().orderBy("stream_id", "sync_seq").collect().toSeq
    assert(streaming.size == reqs.size)
    assert(streaming == batch)
  }

  test("S3f: exact-tick-boundary schedule — replay ≡ sequential fold where the closed form diverges") {
    import spark.implicits._
    import graft.streaming.{SyncCore, SyncConfig}
    val cfg = SyncConfig(50L, 10000L)
    // Every sync lands EXACTLY on a tick multiple relative to stream
    // start — the case the q20 sf-oracle's closed form (T = (now −
    // start) div tick) assumes away about the corpus: the strict `>` in
    // the tick rule (game.go:83) does NOT tick at elapsed == tickUnit,
    // so the closed form over-counts on these boundaries. The engine
    // must match the fold-based oracle (plain sequential SyncCore fold),
    // not the closed form.
    val reqs = Seq(
      SyncRequest(0L, 1000L, "0", "e", "1"), // start
      SyncRequest(0L, 1050L, "0", "e", "2"), // +1 tick exactly: must NOT tick
      SyncRequest(0L, 1100L, "1", "e", "3"), // elapsed 100 > 50: both ticks arrive
      SyncRequest(0L, 1150L, "0", "e", "4"), // +1 tick from lastTick: must NOT tick
      SyncRequest(0L, 1250L, "1", "e", "5")) // catches up
    // Fold-based oracle: the same pure transition applied sequentially,
    // no Spark, no closed form.
    var g = SyncCore.init(1000L, seed = 5L)
    val expected = reqs.map { r =>
      val (g2, resp) = SyncCore.process(cfg, g, r.now, r.client_id, None,
        events = Seq((r.event_type, r.body)),
        state = Some(Map("last_event" -> r.body)))
      g = g2
      (g.syncSeq, r.client_id.toLong, resp.t, resp.proxyId,
        resp.deltaEvents.size.toLong, resp.deltaEventsHash,
        resp.deltaStates.size.toLong, resp.deltaStatesHash)
    }
    val got = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 5L)
      .collect().sortBy(_.sync_seq)
      .map(s => (s.sync_seq, s.user_id, s.t, s.proxy_id,
        s.n_delta_events, s.delta_events_hash, s.n_delta_states, s.delta_states_hash))
      .toSeq
    assert(got == expected)
    // Document the divergence this fixture exists for: at the second and
    // fourth syncs the closed form claims a tick the engine didn't take.
    assert(expected(1)._3 == 0L && (1050L - 1000L) / 50L == 1L)
    assert(expected(3)._3 == 2L && (1150L - 1000L) / 50L == 3L)
  }

  test("S3c: sync engine is correct under the RocksDB state store provider") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // Same engine, production state backend: per-stream GameState must
    // serialize/restore through RocksDB across microbatches.
    val reqs = (for (i <- 0 until 90) yield {
      val now = 1000L + i * 61L + (if (i % 13 == 0) 15000L else 0L)
      SyncRequest(i % 2L, now, (i % 3).toString, "e", i.toString)
    }).sortBy(r => (r.now, r.body.toLong))

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = MemoryStream[SyncRequest]
      val cfg = SyncConfig(50L, 10000L)
      val q = SyncEngine(src.toDS(), cfg, seed = 42L, gameTimeoutUs = 0L)
        .writeStream.format("memory").queryName("s3c").outputMode("append").start()
      try {
        reqs.grouped(30).foreach { chunk =>
          src.addData(chunk: _*); q.processAllAvailable()
        }
      } finally q.stop()
      val streaming = spark.table("s3c").orderBy("stream_id", "sync_seq").collect().toSeq
      val batch = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 42L)
        .toDF().orderBy("stream_id", "sync_seq").collect().toSeq
      assert(streaming.size == reqs.size)
      assert(streaming == batch)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("S3d: restart from checkpoint resumes state, with no loss or re-emission") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val reqs = (for (i <- 0 until 80) yield {
      val now = 1000L + i * 57L + (if (i % 11 == 0) 12000L else 0L)
      SyncRequest(i % 2L, now, (i % 3).toString, "e", i.toString)
    }).sortBy(r => (r.now, r.body.toLong))
    val (first, second) = reqs.splitAt(40)

    // File sink: the memory sink refuses checkpoint recovery.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val src = MemoryStream[SyncRequest]
    val cfg = SyncConfig(50L, 10000L)
    val out = SyncEngine(src.toDS(), cfg, seed = 42L, gameTimeoutUs = 0L)
    def start() = out.writeStream
      .format("parquet").outputMode("append")
      .option("path", sink)
      .option("checkpointLocation", ckpt).start()

    // Run half, stop (simulated failure), restart from the checkpoint,
    // run the rest: GameState must resume exactly where it left off.
    val q1 = start()
    try { src.addData(first: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { src.addData(second: _*); q2.processAllAvailable() } finally q2.stop()

    val streaming = spark.read.parquet(sink)
      .orderBy("stream_id", "sync_seq").collect().toSeq
    val batch = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 42L)
      .toDF().orderBy("stream_id", "sync_seq").collect().toSeq
    assert(streaming.size == reqs.size)
    assert(streaming == batch)
  }

  test("stream TTL: timeout fire drops the stream's state; a later sync restarts it") {
    import graft.streaming.{GameState, SyncEngine}
    // Minimal GroupState stub: enough to drive handleGroup's branches.
    class StubState extends org.apache.spark.sql.streaming.GroupState[GameState] {
      var value: Option[GameState] = None
      var timedOut = false
      var timeoutSetMs: Option[Long] = None
      override def exists: Boolean = value.isDefined
      override def get: GameState = value.get
      override def getOption: Option[GameState] = value
      override def update(s: GameState): Unit = value = Some(s)
      override def remove(): Unit = value = None
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(ms: Long): Unit = timeoutSetMs = Some(ms)
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(ms: Long): Unit = ()
      override def setTimeoutTimestamp(ms: Long, d: String): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(ts: java.sql.Date, d: String): Unit = ()
      override def getCurrentWatermarkMs: Long = 0L
      override def getCurrentProcessingTimeMs: Long = 0L
    }
    val cfg = SyncConfig(50L, 10000L)
    val handle = SyncEngine.handleGroup(cfg, seed = 42L, gameTimeoutUs = 60000000L) _
    val st = new StubState

    // 1. First sync creates the stream and re-arms the 60 s TTL.
    val out1 = handle(1L, Iterator(SyncRequest(1L, 1000L, "7", "e", "1")), st).toSeq
    assert(out1.map(_.proxy_id) == Seq(1L) && st.value.isDefined)
    assert(st.timeoutSetMs.contains(60000L))

    // 2. TTL fires: state dropped, nothing emitted (game.go:76-78).
    st.timedOut = true
    assert(handle(1L, Iterator.empty, st).isEmpty && st.value.isEmpty)

    // 3. A later sync finds no state: fresh stream — proxy ids restart
    //    at 1, like the reference's registry recreating the game.
    st.timedOut = false
    val out3 = handle(1L, Iterator(SyncRequest(1L, 99000L, "9", "e", "2")), st).toSeq
    assert(out3.map(_.proxy_id) == Seq(1L) && st.value.isDefined)
  }

  test("S3e: batch→streaming handoff — stream booted from batch state continues seamlessly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val reqs = (for (i <- 0 until 100) yield {
      val now = 1000L + i * 47L + (if (i % 12 == 0) 13000L else 0L)
      SyncRequest(i % 3L, now, (i % 4).toString, "e", i.toString)
    }).sortBy(r => (r.now, r.body.toLong))
    val (history, live) = reqs.splitAt(60)
    val cfg = SyncConfig(50L, 10000L)

    // Backfill: replay history in batch, snapshot final states.
    val boot = SyncReplay.finalStates(history.toDS(), cfg, seed = 42L)
    // Stream only the live tail, booted from the snapshot.
    val src = MemoryStream[SyncRequest]
    val q = SyncEngine.withInitialState(src.toDS(), cfg, seed = 42L,
        gameTimeoutUs = 0L, initial = boot)
      .writeStream.format("memory").queryName("s3e").outputMode("append").start()
    try {
      live.grouped(20).foreach { chunk =>
        src.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()

    // Must equal the live-tail slice of one continuous full replay:
    // sync_seq, proxy ids, and per-client watermarks carry across.
    val streaming = spark.table("s3e")
      .orderBy("stream_id", "sync_seq").collect().toSeq
    val fullTail = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 42L)
      .toDF().collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_.getLong(0))
      .flatMap { case (_, rows) => rows.drop(rows.size - live.count(_.stream_id == rows.head.getLong(0))) }
      .toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    assert(streaming.size == live.size)
    assert(streaming == fullTail)
  }

  test("S4: file-streamed wire-JSON requests drive the sync engine ≡ batch replay") {
    import spark.implicits._
    import graft.sources.WireJson
    import org.apache.spark.sql.types._
    // Wire rows = the reference's URL-path fields + the raw request body
    // (GameRequest JSON), one JSON object per line.
    val reqs = (for (i <- 0 until 60) yield {
      val now = 1000L + i * 53L + (if (i % 9 == 0) 11000L else 0L)
      SyncRequest(i % 2L, now, (i % 3).toString, "e", i.toString)
    }).sortBy(r => (r.now, r.body.toLong))
    val dir = java.nio.file.Files.createTempDirectory("graft_wire_stream").toString
    reqs.toDF()
      .withColumn("body", format_string(
        """{"Events":[{"T":0,"Type":"%s","Origin":"spoofed","Body":"%s"}]}""",
        col("event_type"), col("body")))
      .select("stream_id", "now", "client_id", "body")
      .coalesce(1).write.mode("overwrite").json(dir)

    val wireSchema = StructType(Seq(
      StructField("stream_id", LongType), StructField("now", LongType),
      StructField("client_id", StringType), StructField("body", StringType)))
    val parsed = WireJson.parseRequests(
      spark.readStream.schema(wireSchema).json(dir), "body")
    val asReqs = parsed.select(
        col("stream_id"), col("now"), col("client_id"),
        element_at(col("events"), 1).getField("Type").as("event_type"),
        element_at(col("events"), 1).getField("Body").as("body"))
      .as[SyncRequest]

    val cfg = SyncConfig(50L, 10000L)
    val q = SyncEngine(asReqs, cfg, seed = 42L, gameTimeoutUs = 0L)
      .writeStream.format("memory").queryName("s4").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streaming = spark.table("s4").orderBy("stream_id", "sync_seq").collect().toSeq
    val batch = SyncReplay.replaySchedule(reqs.toDS(), cfg, seed = 42L)
      .toDF().orderBy("stream_id", "sync_seq").collect().toSeq
    assert(streaming.size == reqs.size)
    assert(streaming == batch)
  }

  test("S4b: live HTTP listener -> spool -> streaming engine == live responses == batch replay") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{SyncHttpServer, WireJson}
    // The live-path loop closed: the listener spools every accepted
    // request (inside the per-stream lock, so spool order = processing
    // order), the S4-shaped file stream re-folds the spool through the
    // Structured Streaming engine, and the batch replay folds it again
    // — all three must agree sync-by-sync. Clients are well-behaved
    // echo clients (lastKnownT = last response T), which is exactly the
    // None-watermark contract the engine and replay thread internally.
    val cfg = SyncConfig(50L, 10000L)
    val spoolDir = java.nio.file.Files.createTempDirectory("graft_spool").toString
    val spoolFile = s"$spoolDir/requests.jsonl"
    @volatile var nowMs = 9000000L
    val server = new SyncHttpServer(cfg, port = 0, clock = () => nowMs,
      gameTimeout = 600000L, seed = 42L, spoolPath = Some(spoolFile)).start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val lastT = scala.collection.mutable.Map.empty[(Long, String), Long].withDefaultValue(0L)
      val live = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int, Int)]
      // 48 requests over 2 streams × 3 clients; advances cross tick
      // boundaries and (once per stream) the 10 s session timeout.
      for (i <- 0 until 48) {
        val stream = (i % 2).toLong
        val cid = ((i / 2) % 3).toString
        nowMs += 37L + (i * 13L) % 91L + (if (i % 19 == 7) 12000L else 0L)
        val body = s"""{"Events":[{"Type":"e","Body":"$i"}],"State":{"x":"$i"}}"""
        val url = java.net.URI.create(
          s"http://127.0.0.1:${server.address.getPort}/$stream/$cid/${lastT((stream, cid))}")
        val resp = http.send(
          java.net.http.HttpRequest.newBuilder(url)
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        val r = mapper.readTree(resp.body())
        lastT((stream, cid)) = r.get("T").asLong
        live += ((stream, r.get("T").asLong, r.get("ProxyId").asText.toLong,
          r.get("Events").size, r.get("States").size))
      }

      // Path 2: the spool file-streamed through the engine (S4 shape).
      val stream = WireJson.spooledSyncRequests(
        spark.readStream.schema(WireJson.spoolSchema).json(spoolDir))
      val q = SyncEngine(stream, cfg, seed = 42L, gameTimeoutUs = 0L)
        .writeStream.format("memory").queryName("s4b").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val engine = spark.table("s4b")
        .orderBy("stream_id", "sync_seq").collect()
        .map(r => (r.getAs[Long]("stream_id"), r.getAs[Long]("t"), r.getAs[Long]("proxy_id"),
          r.getAs[Long]("n_delta_events").toInt, r.getAs[Long]("n_delta_states").toInt)).toSeq

      // Path 3: batch replay of the same spool.
      val batchReqs = WireJson.spooledSyncRequests(
        spark.read.schema(WireJson.spoolSchema).json(spoolDir))
      val batch = SyncReplay.replaySchedule(batchReqs, cfg, seed = 42L)
        .toDF().orderBy("stream_id", "sync_seq").collect()
        .map(r => (r.getAs[Long]("stream_id"), r.getAs[Long]("t"), r.getAs[Long]("proxy_id"),
          r.getAs[Long]("n_delta_events").toInt, r.getAs[Long]("n_delta_states").toInt)).toSeq

      // Live responses, regrouped to (stream, order) like sync_seq.
      val liveSorted = live.zipWithIndex
        .sortBy { case ((s, _, _, _, _), i) => (s, i) }
        .map(_._1).map { case (s, t, p, ne, ns) => (s, t, p, ne, ns) }.toSeq

      assert(engine.size == 48 && batch.size == 48)
      assert(engine == batch, "streaming engine and batch replay diverged on the spool")
      assert(liveSorted == engine, "live responses diverged from the engine's re-fold")
      // Full-payload check between the two engine paths (order-exact
      // delta hashes, not just counts).
      val hashesE = spark.table("s4b").orderBy("stream_id", "sync_seq")
        .select("delta_events_hash", "delta_states_hash").collect().map(_.toSeq).toSeq
      val hashesB = SyncReplay.replaySchedule(batchReqs, cfg, seed = 42L)
        .toDF().orderBy("stream_id", "sync_seq")
        .select("delta_events_hash", "delta_states_hash").collect().map(_.toSeq).toSeq
      assert(hashesE == hashesB)
    } finally server.stop()
  }

  test("S3b: incremental streaming LWW final state equals batch latest-state (Q2)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // (user, ts, payload) events; streaming keeps latest per user via
    // the same max_by contract as batch Q2.
    val events = (0 until 300).map { i =>
      (i % 7L, (i * 13 % 101).toLong * 1000L + i, s"p$i")
    }
    val src = MemoryStream[(Long, Long, String)]
    val half = events.size / 2
    src.addData(events.take(half): _*)
    src.addData(events.drop(half): _*)

    def latest(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("_1").as("user_id"))
      .agg(max_by(col("_3"), struct(col("_2"), col("_3"))).as("state"),
        max(col("_2")).as("t"))

    val q = latest(src.toDF()).writeStream
      .format("memory").queryName("s3b").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s3b").orderBy("user_id").collect().toSeq
    val want = latest(events.toDF()).orderBy("user_id").collect().toSeq
    assert(got == want)
  }

  test("S10: streaming funnel state machine equals the batch funnel on any batch split") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.FunnelEngine
    import graft.streaming.FunnelEngine.FunnelEvent

    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val ordered = events
      .select("user_id", "ts_us", "event_type")
      .orderBy("ts_us", "user_id")
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getLong(1), r.getString(2)))

    val src = MemoryStream[FunnelEvent]
    // Three arbitrary prefix cuts of the ordered log — per-user delivery
    // stays in order, which is the engine's contract.
    src.addData(ordered.take(300): _*)
    src.addData(ordered.slice(300, 700): _*)
    src.addData(ordered.drop(700): _*)

    val q = FunnelEngine.attach(src.toDS()).toDF().writeStream
      .format("memory").queryName("s10").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    // Last update per user = final state.
    val finalStage = spark.table("s10")
      .groupBy("userId")
      .agg(max(struct(col("t1"), col("t2"), col("t3"), col("stage"))).as("s"))
      .select(col("userId"), col("s.stage").as("stage"))
    val gotCounts = (1 to 3).map(k =>
      finalStage.where(col("stage") >= k).count())

    val want = graft.operators.Pipeline.funnel(events)
      .orderBy("stage").collect().drop(1).map(_.getAs[Long]("n_users")).toSeq
    assert(gotCounts == want, s"streaming=$gotCounts batch=$want")
  }

  test("S11: streaming ingest dedup (cross-batch dropDuplicates + static-corpus anti join) ≡ batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val split = 250L
    val corpus = docs.where(col("doc_id") < split)
      .select(sha2(col("text"), 256).as("content_hash")).distinct()

    // The batch half arrives as a stream in id order, split mid-way.
    val arriving = docs.where(col("doc_id") >= split)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    src.addData(arriving.take(120): _*)
    src.addData(arriving.drop(120): _*)

    val survivors = src.toDF().toDF("doc_id", "text")
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicates("content_hash") // cross-batch state-store dedup
      .join(corpus, Seq("content_hash"), "left_anti") // stream-static
      .select("content_hash", "doc_id")
    val q = survivors.writeStream
      .format("memory").queryName("s11").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // In-order arrival ⇒ first-seen = min doc_id: exactly the batch
    // operator's survivor set.
    val got = spark.table("s11")
      .select(col("content_hash"), col("doc_id").as("keep_id"))
    val want = graft.operators.Dedup.incrementalDedup(docs, split)
      .select("content_hash", "keep_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("S9: split assignment and offline-fitted standardization run unchanged on a stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Pipeline
    // Historical batch = the corpus the moments are fitted on; the
    // stream then carries "new" rows transformed with the SAME columns.
    val hist = (0 until 400)
      .map(i => (i.toLong, s"t${i % 3}", math.round(math.sin(i) * 500.0) / 100.0))
      .toDF("event_id", "event_type", "value")
    val stats = Pipeline.fitMoments(hist)

    val src = MemoryStream[(Long, String, Double)]
    val arriving = (400 until 500)
      .map(i => (i.toLong, s"t${i % 3}", math.round(math.cos(i) * 500.0) / 100.0))
    src.addData(arriving.take(50): _*)
    src.addData(arriving.drop(50): _*)
    val stream = src.toDF().toDF("event_id", "event_type", "value")

    val zq = Pipeline.applyStandardize(stream, stats).writeStream
      .format("memory").queryName("s9z").outputMode("append").start()
    try zq.processAllAvailable() finally zq.stop()
    val gotZ = spark.table("s9z").orderBy("event_id").collect().toSeq
    val wantZ = Pipeline.applyStandardize(
      arriving.toDF("event_id", "event_type", "value"), stats)
      .orderBy("event_id").collect().toSeq
    assert(gotZ == wantZ && gotZ.size == 100)

    // Split assignment: per-row hash projection, streaming-valid as-is
    // (documents keyed by doc_id).
    val docs = src.toDF().toDF("doc_id", "event_type", "value")
    val sq = Pipeline.withSplit(docs, "split1")
      .select("doc_id", "split").writeStream
      .format("memory").queryName("s9s").outputMode("append").start()
    try sq.processAllAvailable() finally sq.stop()
    val gotS = spark.table("s9s").orderBy("doc_id").collect().toSeq
    val wantS = Pipeline.withSplit(
      arriving.toDF("doc_id", "event_type", "value"), "split1")
      .select("doc_id", "split").orderBy("doc_id").collect().toSeq
    assert(gotS == wantS)
  }

  test("S13: streaming corpus monitor — running per-source text stats equal the batch aggregation") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.Tables
    // An ingest monitor keeps per-(lang, source) doc/char/token totals
    // current as the crawl streams in: textStats is a single
    // map-side-combinable aggregation, so it streams in complete mode
    // unchanged. After all arrivals the monitor must equal the batch
    // answer over the same corpus.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val src = MemoryStream[(Long, String, String, String, Long)]
    src.addData(docs.take(200): _*)
    src.addData(docs.drop(200): _*)

    val stream = src.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.operators.TextAnalysis.textStats(stream).writeStream
      .format("memory").queryName("s13").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s13").orderBy("lang", "source").collect().toSeq
    val want = graft.operators.TextAnalysis.textStats(
      Tables.table(spark, "/root/testdata/sf0.001", "documents")).collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("S14: streaming span dedup ≡ batch spanDedup under doc-id-ordered delivery") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // Repetitive corpus: 40 docs over a 6-word vocabulary in 15-token
    // texts (chunks of 10 collide often, within and across docs).
    // Batches cut anywhere; intra-batch order is scrambled.
    val docs = (0L until 40L).map { i =>
      (i, (0 until 15).map(j => s"w${(i + j) % 6}").mkString(" "))
    }
    val src = MemoryStream[(Long, String)]
    src.addData(scala.util.Random.shuffle(docs.take(17)): _*)
    src.addData(scala.util.Random.shuffle(docs.slice(17, 18)): _*)
    src.addData(scala.util.Random.shuffle(docs.drop(18)): _*)

    val q = graft.streaming.StreamingSpanDedup
      .chunkKeeps(src.toDF().toDF("doc_id", "text"), 10)
      .writeStream.format("memory").queryName("s14").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // Streaming verdicts aggregated per doc must equal the batch report.
    val got = spark.table("s14")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("c_tokens").as("n_tokens"),
        sum(when(col("kept"), col("c_tokens")).otherwise(0L)).as("n_tokens_kept"))
      .orderBy("doc_id").collect().toSeq
    val want = graft.operators.Curation.spanDedup(docs.toDF("doc_id", "text"), 10)
      .select("doc_id", "n_chunks", "n_kept", "n_tokens", "n_tokens_kept")
      .orderBy("doc_id").collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
    assert(got.size == 40)
  }

  test("S14b: span-dedup TTL — no re-admit within horizon, evict + re-admit after") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // One 10-token text = exactly one chunk digest. TTL long enough that
    // batch 2 lands inside the horizon even on a contended host, short
    // enough to expire during the sleep. (Timers fire only on batches
    // where the key has no data, so the post-sleep probe batch carries
    // an unrelated doc.)
    val ttl = java.time.Duration.ofMillis(4000)
    val text = (0 until 10).map(j => s"t$j").mkString(" ")
    val other = (0 until 10).map(j => s"u$j").mkString(" ")
    val src = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingSpanDedup
      .chunkKeeps(src.toDF().toDF("doc_id", "text"), 10, ttl)
      .writeStream.format("memory").queryName("s14b").outputMode("append").start()
    // processAllAvailable() is unusable here: with a processing-time
    // timeout registered, shouldRunAnotherBatch is always true, batches
    // run back-to-back forever, and `noNewData` is never signalled (the
    // documented "may block forever" case). Poll the sink instead.
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("s14b").count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(spark.table("s14b").count() >= n, s"timed out waiting for $n output rows")
    }
    try {
      // The digest's timer starts when doc 1's batch processes, which is
      // at or after t0 — so if doc 2's batch lands within ttl of t0, the
      // timer cannot have fired first and the drop verdict is guaranteed.
      // On a host contended enough to stretch the two batches past the
      // ttl, the scheduling guarantee is gone; skip that one assertion
      // rather than flake (the eviction half still runs either way).
      val t0 = System.currentTimeMillis
      src.addData((1L, text)); awaitRows(1)   // fresh digest: kept
      src.addData((2L, text)); awaitRows(2)   // within TTL: dropped
      val doc2InsideTtl = System.currentTimeMillis - t0 < ttl.toMillis
      Thread.sleep(ttl.toMillis + 1500)       // idle past the TTL
      src.addData((50L, other)); awaitRows(3) // a batch with no data for the digest fires its timer → evict
      src.addData((3L, text)); awaitRows(4)   // horizon passed: re-admitted
      val kept = spark.table("s14b").select("doc_id", "kept")
        .as[(Long, Boolean)].collect().toMap
      assert(kept(1L), "first sighting must be kept")
      if (doc2InsideTtl)
        assert(!kept(2L), "duplicate within the TTL horizon must be dropped")
      assert(kept(3L), "duplicate after idle-past-TTL eviction must be re-admitted")
    } finally q.stop()
  }

  test("S16: streaming near-dup admission against a static corpus ≡ batch, any microbatch split") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.Tables
    // Curation-at-ingest: each arriving microbatch is admitted against
    // the same static corpus index via foreachBatch + nearDupAdmit.
    // Admission never consults other stream docs, so the union of
    // per-batch verdicts must equal ONE batch q76 run over the union —
    // regardless of how the stream is cut.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val split = 250L
    val thr = 0.2
    val corpus = docs.where(col("doc_id") < split).select("doc_id", "text").cache()
    val arriving = docs.where(col("doc_id") >= split)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val src = MemoryStream[(Long, String)]
    src.addData(arriving.take(100): _*)
    src.addData(arriving.slice(100, 130): _*)
    src.addData(arriving.drop(130): _*)
    type V = (Long, Boolean, Option[Long], Option[Double])
    def tup(r: org.apache.spark.sql.Row): V =
      (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val got = scala.collection.mutable.ArrayBuffer.empty[V]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = graft.operators.Dedup.nearDupAdmit(corpus, b, thr).collect().map(tup)
        got.synchronized { got ++= v }
        ()
      }
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val want = graft.operators.Dedup.incrementalNearDup(docs, split, thr)
      .collect().map(tup).toSeq
    assert(got.size == arriving.size)
    assert(got.sortBy(_._1).toSeq == want.sortBy(_._1))
    assert(want.exists(_._2), "fixture should flag at least one near-dup")
  }

  test("S17: train-offline / serve-in-stream — exported perceptron scores a stream ≡ batch, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.Tables
    import graft.operators.Classifier
    // The production deployment shape for every trained artifact in the
    // engine: train on the corpus in batch, EXPORT the bounded model,
    // serve it over arriving documents as a plan literal. Scoring is a
    // stateless per-row fold, so the streaming query needs no state
    // store and its verdicts cannot depend on how the stream is cut.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val w = Classifier.trainedWeights(docs, 64, 4, "en")
    val arriving = docs.select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSeq
    val src = MemoryStream[(Long, String, String)]
    src.addData(arriving.take(200): _*)
    src.addData(arriving.slice(200, 270): _*)
    src.addData(arriving.drop(270): _*)
    val scored = Classifier.scoreWith(
      src.toDF().toDF("doc_id", "text", "lang"), w.toSeq, 64, "en")
    val q = scored.writeStream.format("memory")
      .queryName("s17").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("s17").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val want = graft.operators.Classifier.perceptronScore(docs, 64, 4, "en").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.length == arriving.size)
    assert(got.toSeq == want.toSeq, "stream scoring must equal batch scoring exactly")
    // Stateless serving: no state-store operator anywhere in the plan.
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"scoring must not allocate streaming state: ${q.lastProgress}")
  }

  test("S18: streaming mini-batch k-means — bounded model state, order-invariant, improves the seed") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.Tables
    import graft.streaming.StreamingKmeans
    // Online training: the model (k × (dim+1) numbers) is the ONLY
    // state; every microbatch is one map-only assignment plus a
    // bounded-key reduction folded into it on exact integer grids.
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val k = 8
    val arriving = emb.where(col("vec_id") >= k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val cuts = Seq(arriving.take(150), arriving.slice(150, 320), arriving.drop(320))

    var streamed = StreamingKmeans.seed(emb, k)
    val src = MemoryStream[(Long, Seq[Double])]
    val q = src.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed = StreamingKmeans.update(b, streamed)
        ()
      }
      .outputMode("update").start()
    // Feed one cut per microbatch: mini-batch training is (by design)
    // a function of the batch sequence, so the replay below must see
    // the same boundaries the stream processed.
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()

    // Sequential replay of the SAME cuts with rows reversed inside
    // each batch: exact-integer blending makes the model bit-identical
    // under intra-batch reordering.
    var replayed = StreamingKmeans.seed(emb, k)
    for (c <- cuts)
      replayed = StreamingKmeans.update(
        c.reverse.toDF("vec_id", "embedding"), replayed)
    assert(streamed.cents.map(_._1).toSeq == replayed.cents.map(_._1).toSeq)
    for (((_, su, sn), (_, ru, rn)) <- streamed.cents.zip(replayed.cents)) {
      assert(su.toSeq == ru.toSeq, "centroid units must be order-invariant")
      assert(sn == rn)
    }
    // All corpus mass is accounted for exactly once (plus the seeds).
    assert(streamed.cents.map(_._3).sum == arriving.size + k)

    // Training must improve fit over the raw seeds: mean best-cosine
    // of the corpus against the trained model vs the seed model.
    def objective(m: StreamingKmeans.Model): Double = {
      val e = emb.withColumn("emb", col("embedding").cast("array<double>"))
      graft.operators.Similarity.assignTo(e, m.frame(spark))
        .join(m.frame(spark), "cid")
        .withColumn("sim", expr("cosine_sim(emb, cemb)"))
        .agg(avg("sim")).head.getDouble(0)
    }
    val seedObj = objective(StreamingKmeans.seed(emb, k))
    val finalObj = objective(streamed)
    assert(finalObj > seedObj,
      s"online training must improve the seed fit: $seedObj -> $finalObj")
  }

  test("S19: stored ANN index serves a query-vector stream ≡ batch, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedVectorIndex => V}
    import graft.streaming.StreamingAnnServe
    // The serve-many half of train-once/serve-many: the PERSISTED
    // IVF-PQ index (S17's broadcast-model pattern, for vectors)
    // answers arriving query batches with no streaming state — the
    // index artifact on disk is the only model, so any number of
    // concurrent query streams share one training run.
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_s19").toString
    val (nSub, k, nProbe) = (4, 10, 2)
    V.build(emb, dir, 8, nSub, 8, 2)
    val model = V.model(spark, dir)
    val codes = V.codes(spark, dir).filter(col("vec_id") >= 4)
    val queryVecs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    type R = (Long, Long, Long, Double)
    val got = scala.collection.mutable.ArrayBuffer.empty[R]
    val src = MemoryStream[(Long, Seq[Double])]
    val q = src.toDF().toDF("qid", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = StreamingAnnServe.scoreBatch(b, model, codes, nSub, k, nProbe)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        got.synchronized { got ++= v }
        ()
      }
      .outputMode("update").start()
    // Two cuts: serving must be a pure per-batch function of the index.
    try {
      src.addData(queryVecs.take(2): _*); q.processAllAvailable()
      src.addData(queryVecs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val want = graft.operators.Similarity.ivfPqSearchFrames(
      emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("emb")),
      model, codes, nSub, k, nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.sortBy(r => (r._1, r._2)).toSeq == want.sortBy(r => (r._1, r._2)),
      "stream serving must equal the one-shot batch search exactly")
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"index serving must not allocate streaming state: ${q.lastProgress}")
  }

  test("S19b: serving re-reads the store per batch, so mid-stream appends are served immediately") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedVectorIndex => V}
    import graft.streaming.StreamingAnnServe
    // Maintenance + serving composition: a frame captured once pins
    // its snapshot, so the serving loop must RE-RESOLVE the store —
    // scoreBatchVersioned — for appended codes to be queryable. Batch
    // 1 runs against the base index; vectors 400+ are appended between
    // microbatches; batch 2 must rank them.
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_s19b").toString
    V.build(emb.filter(col("vec_id") < 400), dir, 8, 4, 8, 2)
    val queryVecs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    type R = (Long, Long, Long, Double)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    val src = MemoryStream[(Long, Seq[Double])]
    val q = src.toDF().toDF("qid", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) {
          val v = StreamingAnnServe.scoreBatchVersioned(b, dir, 10, 8, corpusFrom = 4L)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          perBatch.synchronized { perBatch += v.toSeq }
        }
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(queryVecs.take(2): _*); q.processAllAvailable()
      V.append(spark, dir, emb.filter(col("vec_id") >= 400))
      src.addData(queryVecs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2)
    // Batch 1 (pre-append) saw only base candidates; batch 2 ranks
    // appended vectors (nProbe=8 probes every cell, so an appended
    // vector near its query must appear if it scores into the top 10).
    assert(perBatch(0).forall(_._3 < 400L), "pre-append batch must not see future codes")
    val fresh = graft.operators.Similarity.ivfPqSearchFrames(
      emb.filter(col("vec_id") >= 2 && col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("emb")),
      V.model(spark, dir),
      V.codes(spark, dir).filter(col("vec_id") >= 4), 4, 10, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(perBatch(1).sortBy(r => (r._1, r._2)) == fresh.sortBy(r => (r._1, r._2)),
      "post-append batch must equal a fresh full-store search")
    assert(fresh.exists(_._3 >= 400L),
      "fixture should surface at least one appended vector in some top-10")
  }

  test("S19c: mid-stream tombstone deletes disappear from the very next batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedVectorIndex => V}
    import graft.streaming.StreamingAnnServe
    // The takedown half of maintenance + serving composition:
    // scoreBatchVersioned serves the LIVE view (codes minus
    // tombstones), so ids deleted between microbatches are gone from
    // the very next batch — no server restart, no index rebuild.
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_s19c").toString
    V.build(emb, dir, 8, 4, 8, 2)
    val queryVecs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    type R = (Long, Long, Long, Double)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    val src = MemoryStream[(Long, Seq[Double])]
    val q = src.toDF().toDF("qid", "embedding").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) {
          val v = StreamingAnnServe.scoreBatchVersioned(b, dir, 10, 8, corpusFrom = 4L)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          perBatch.synchronized { perBatch += v.toSeq }
        }
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(queryVecs.take(2): _*); q.processAllAvailable()
      V.delete(spark, dir,
        emb.select(col("vec_id")).filter(col("vec_id") % 7 === 3 && col("vec_id") >= 4))
      src.addData(queryVecs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2)
    assert(perBatch(0).exists(_._3 % 7 == 3),
      "fixture should rank at least one to-be-deleted id pre-delete")
    assert(perBatch(1).forall(_._3 % 7 != 3),
      "post-delete batch must not serve a tombstoned id")
    val fresh = graft.operators.Similarity.ivfPqSearchFrames(
      emb.filter(col("vec_id") >= 2 && col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("emb")),
      V.model(spark, dir),
      V.liveCodes(spark, dir).filter(col("vec_id") >= 4), 4, 10, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(perBatch(1).sortBy(r => (r._1, r._2)) == fresh.sortBy(r => (r._1, r._2)),
      "post-delete batch must equal a fresh live-view search")
  }

  test("S21: versioned-store serving swaps models at a batch boundary on reindex; a pinned stream rides through unchanged") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedVectorIndex => V}
    import graft.streaming.StreamingAnnServe
    // The streaming × versioning composition: one stream serves LATEST
    // (each microbatch resolves one committed manifest — atomic, never
    // a torn mix), a second stream is PINNED at the pre-reindex
    // version. A reindex committed mid-stream swaps the latest
    // stream's model at the next batch boundary (blue/green, zero
    // downtime) while the pinned stream's answers never move.
    // The oracle-side searches below run on THIS session (the serving
    // path registers the top-k aggregators only on its own microbatch
    // sessions).
    graft.GraftSession.registerUdafs(spark)
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_s21").toString
    V.build(emb.filter(col("vec_id") < 400), dir, 8, 4, 8, 2)
    V.append(spark, dir, emb.filter(col("vec_id") >= 400))
    V.delete(spark, dir,
      emb.select(col("vec_id")).filter(col("vec_id") % 7 === 3 && col("vec_id") >= 4))
    V.compact(spark, dir)
    val preReindex = V.currentVersion(spark, dir)
    val queryVecs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    type R = (Long, Long, Long, Double)
    def expected(version: Long): Seq[R] =
      graft.operators.Similarity.ivfPqSearchFrames(
        emb.filter(col("vec_id") >= 2 && col("vec_id") < 4)
          .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("emb")),
        V.model(spark, dir, version),
        V.liveCodes(spark, dir, version).filter(col("vec_id") >= 4), 4, 10, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(r => (r._1, r._2))
    val latestBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    val pinnedBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    val srcLatest = MemoryStream[(Long, Seq[Double])]
    val srcPinned = MemoryStream[(Long, Seq[Double])]
    def serve(src: MemoryStream[(Long, Seq[Double])],
              out: scala.collection.mutable.ArrayBuffer[Seq[R]],
              version: Long) =
      src.toDF().toDF("qid", "embedding").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (b.count() > 0) {
            val v = StreamingAnnServe
              .scoreBatchVersioned(b, dir, 10, 8, corpusFrom = 4L, version = version)
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
            out.synchronized { out += v.toSeq.sortBy(r => (r._1, r._2)) }
          }
          ()
        }
        .outputMode("update").start()
    val qLatest = serve(srcLatest, latestBatches, V.Latest)
    val qPinned = serve(srcPinned, pinnedBatches, preReindex)
    try {
      srcLatest.addData(queryVecs.drop(2): _*); qLatest.processAllAvailable()
      srcPinned.addData(queryVecs.drop(2): _*); qPinned.processAllAvailable()
      V.reindex(spark, dir)
      srcLatest.addData(queryVecs.drop(2): _*); qLatest.processAllAvailable()
      srcPinned.addData(queryVecs.drop(2): _*); qPinned.processAllAvailable()
    } finally { qLatest.stop(); qPinned.stop() }
    assert(latestBatches.size == 2 && pinnedBatches.size == 2)
    val oldModel = expected(preReindex)
    val newModel = expected(V.currentVersion(spark, dir))
    assert(latestBatches(0) == oldModel, "pre-reindex batch serves the old model")
    assert(latestBatches(1) == newModel, "the batch after the commit serves the new model")
    assert(oldModel != newModel,
      "fixture must make the reindex visible (otherwise the swap assert is vacuous)")
    assert(pinnedBatches(0) == oldModel && pinnedBatches(1) == oldModel,
      "a pinned stream must ride through the reindex completely unchanged")
    assert(!qLatest.lastProgress.toString.contains("stateOperators\" : [ {"),
      "versioned serving must stay stateless")
  }

  test("S22: exactly-once streaming ingest into the versioned lexical index — replayed batches are version no-ops") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedTextIndex => V}
    // The transactional streaming sink: foreachBatch re-delivers the
    // last batch after failure-recovery, and the manifest's own
    // lastBatchId (carried in meta, atomically with the data) turns
    // the replay into a no-op — the S7 idempotent-sink contract moved
    // to the commit layer, where it also protects the BM25 stats.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_s22").toString
    V.build(docs.filter(col("doc_id") < 200), dir, 8)
    val arriving = docs.filter(col("doc_id") >= 200)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, String, Long)].collect().toSeq
    val (half1, half2) = arriving.splitAt(arriving.size / 2)
    val src = MemoryStream[(Long, String, String, String, Long)]
    val q = src.toDF().toDF("doc_id", "text", "lang", "source", "n_chars").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        V.appendStreamBatch(b.sparkSession, dir, b, id)
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(half1: _*); q.processAllAvailable()
      src.addData(half2: _*); q.processAllAvailable()
    } finally q.stop()
    val vAfterStream = V.currentVersion(spark, dir)
    val lastBatch = V.snapshot(spark, dir).meta("lastBatchId.stream").toLong
    // Failure-recovery drill: Structured Streaming re-runs the LAST
    // batch. The replay must not commit, not double-count a posting,
    // not advance the stats.
    import org.apache.spark.sql.functions.{col => c}
    val replay = docs.filter(c("doc_id") >= 200 + half1.size.toLong)
    assert(V.appendStreamBatch(spark, dir, replay, lastBatch) == vAfterStream,
      "a replayed batchId must be a version no-op")
    assert(V.currentVersion(spark, dir) == vAfterStream)
    // The streamed store scores exactly like a from-scratch index over
    // everything — postings AND stats arrived exactly once.
    val d2 = java.nio.file.Files.createTempDirectory("graft_s22_ref").toString
    V.build(docs, d2, 8)
    val terms = Seq("spark", "join", "window")
    val got = V.bm25(spark, dir, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = V.bm25(spark, d2, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want,
      "exactly-once streamed ingest must equal a from-scratch build over the full corpus")
  }

  test("S23: streaming upsert (CDC document revisions) — exactly-once, last-write-wins across batches, equals a from-scratch patched build") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedTextIndex => V}
    // A revision stream: each microbatch carries REPLACEMENT documents
    // (the CDC shape), sunk through the one-commit upsert — no
    // delete-then-append window inside a batch, (appId, batchId) replay
    // guard across batches, and a doc revised in two batches serves its
    // LAST revision only.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_s23").toString
    V.build(docs, dir, 8)
    val rev1 = docs.filter(col("doc_id") % 5 === 1)
      .withColumn("text", expr("concat(text, ' spark spark')"))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    // Batch 2 re-revises the mod-10 subset of the SAME docs, from the
    // original text — the stream's second generation supersedes the first.
    val rev2frame = docs.filter(col("doc_id") % 10 === 1)
      .withColumn("text", expr("concat(text, ' window join window')"))
      .select(col("doc_id"), col("text"))
    val rev2 = rev2frame.as[(Long, String)].collect().toSeq
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        V.upsertStreamBatch(b.sparkSession, dir, b, id, appId = "s23")
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(rev1: _*); q.processAllAvailable()
      src.addData(rev2: _*); q.processAllAvailable()
    } finally q.stop()
    val vAfter = V.currentVersion(spark, dir)
    val lastBatch = V.snapshot(spark, dir).meta("lastBatchId.s23").toLong
    // Failure-recovery drill: the re-delivered last batch must not
    // commit, not tombstone, not move the stats.
    assert(V.upsertStreamBatch(spark, dir, rev2frame, lastBatch, "s23") == vAfter,
      "a replayed upsert batch must be a version no-op")
    assert(V.currentVersion(spark, dir) == vAfter)
    // Final state ≡ a from-scratch index over the corpus with each
    // doc's LAST revision applied.
    val patched = docs.withColumn("text",
      when(col("doc_id") % 10 === 1, expr("concat(text, ' window join window')"))
        .when(col("doc_id") % 5 === 1, expr("concat(text, ' spark spark')"))
        .otherwise(col("text")))
    val d2 = java.nio.file.Files.createTempDirectory("graft_s23_ref").toString
    V.build(patched, d2, 8)
    val terms = Seq("spark", "join", "window")
    val got = V.bm25(spark, dir, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = V.bm25(spark, d2, terms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want,
      "streamed revisions must serve exactly like a from-scratch build over the last-revision corpus")
  }

  test("S33: exactly-once streaming CDC into the RAW lake (FactStore) — atomic per-batch MERGE, replays are version no-ops, last write wins") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{FactStore => F, ManifestLog => M, Tables}
    // The q140 DML surface ONLINE: a change stream MERGEs into the raw
    // events lake through foreachBatch — each microbatch is one atomic
    // upsert commit (tombstone + replacement together), the manifest's
    // lastBatchId turns crash re-deliveries into no-ops, and a row
    // revised in two batches serves its LAST revision.
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s33").toString
    F.build(ev, dir, "event_id", Seq("user_id", "ts_us"), 4)
    val rev1frame = ev.where(col("event_id") % 5 === 1)
      .withColumn("value", col("value") + 100.0)
      .withColumn("event_type", lit("rev1"))
    val rev2frame = ev.where(col("event_id") % 10 === 1)
      .withColumn("value", col("value") + 200.0)
      .withColumn("event_type", lit("rev2"))
    val rev1 = rev1frame.as[(Long, Long, Long, String, Double)].collect().toSeq
    val rev2 = rev2frame.as[(Long, Long, Long, String, Double)].collect().toSeq
    val src = MemoryStream[(Long, Long, Long, String, Double)]
    val q = src.toDF().toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        F.upsertStreamBatch(b.sparkSession, dir, b, 4, id, appId = "s33")
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(rev1: _*); q.processAllAvailable()
      src.addData(rev2: _*); q.processAllAvailable()
    } finally q.stop()
    val vAfter = F.currentVersion(spark, dir)
    val lastBatch = M.snapshot(spark, dir).meta("lastBatchId.s33").toLong
    // Failure-recovery drill: the re-delivered last batch must not
    // commit, not tombstone, not publish a second generation.
    assert(F.upsertStreamBatch(spark, dir, rev2frame, 4, lastBatch, "s33") == vAfter,
      "a replayed CDC batch must be a version no-op")
    assert(F.currentVersion(spark, dir) == vAfter)
    // Final lake ≡ the base frame with each row's LAST revision.
    val want = ev
      .withColumn("value",
        when(col("event_id") % 10 === 1, col("value") + 200.0)
          .when(col("event_id") % 5 === 1, col("value") + 100.0)
          .otherwise(col("value")))
      .withColumn("event_type",
        when(col("event_id") % 10 === 1, lit("rev2"))
          .when(col("event_id") % 5 === 1, lit("rev1"))
          .otherwise(col("event_type")))
      .collect().map(_.toString).toSeq.sorted
    val got = F.read(spark, dir)
      .select("event_id", "user_id", "ts_us", "event_type", "value")
      .collect().map(_.toString).toSeq.sorted
    assert(got == want,
      "streamed CDC must serve exactly the last-revision lake")
    // And the pruned path still serves the revised lake exactly.
    val someUser = ev.select("user_id").head.getLong(0)
    val boxed = F.readBox(spark, dir,
      Map("user_id" -> (someUser, someUser)))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val wantIds = ev.where(col("user_id") === someUser)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(boxed == wantIds)
  }

  test("S34: streaming change-data-feed consumer — the raw lake's CDF tailed commit-by-commit ≡ the batch feed, aggregate maintained from it ≡ recompute") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{FactStore => F, Tables}
    import graft.streaming.{FactAggMaintainer, FactCdfTail, StreamingFactCdf}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s34").toString
    // Lifecycle exercising EVERY edge the feed must carry:
    // v1 build → v2 append → v3 delete → v4 upsert → v5 compact.
    F.build(ev.where(col("event_id") % 3 =!= 0), dir, "event_id",
      Seq("user_id", "ts_us"), 4)
    F.append(spark, dir, ev.where(col("event_id") % 3 === 0), 4)
    F.deleteMatching(spark, dir, col("user_id") % 7 === 2)
    F.upsert(spark, dir, ev.where(col("event_id") % 11 === 3)
      .withColumn("value", col("value") + 1000.0), 4)
    F.compact(spark, dir, 4)
    assert(F.currentVersion(spark, dir) == 5L)

    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "ts_us", "event_type", "value",
        "_change_type", "_commit_version")
        .collect().map(_.toString).toSeq.sorted

    // Batch twin: the per-commit feed, assembled directly.
    val wantFeed = (2L to 5L).map(v =>
      F.changeRows(spark, dir, v - 1, v).withColumn("_commit_version", lit(v)))
      .reduce(_.unionByName(_)).collect().map(_.toString).toSeq.sorted

    // 1) The tail consumed commit-by-commit (one notification per
    //    version) emits exactly the batch feed, version tags included.
    val tail1 = new FactCdfTail(spark, dir, 1L)
    val got1 = (2L to 5L).flatMap(v => tail1.onCommit(v).map(rowsOf))
      .flatten.sorted
    assert(got1 == wantFeed,
      "commit-by-commit stream feed must equal the batch per-commit feed")
    // Replay/reorder: at-or-behind notifications yield nothing.
    assert(tail1.onCommit(3L).isEmpty && tail1.onCommit(5L).isEmpty)

    // 2) A skipped notification heals: one jump 1→5 carries every
    //    intermediate commit's own tagged leg.
    val tail2 = new FactCdfTail(spark, dir, 1L)
    assert(tail2.onCommit(5L).map(rowsOf).get == wantFeed,
      "a multi-commit hop must still emit per-commit legs")

    // 3) The compact commit (v5, physical-only) contributes NOTHING.
    assert(F.changeRows(spark, dir, 4L, 5L).isEmpty,
      "physical maintenance must be invisible to the feed")

    // 4) Downstream incremental aggregate maintained from the feed,
    //    driven by a commit-notification STREAM through foreachBatch,
    //    ≡ a from-scratch recompute at the final version. Rebuild the
    //    lifecycle so the maintainer (anchored at build time) sees the
    //    commits arrive.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_s34b").toString
    F.build(ev.where(col("event_id") % 3 =!= 0), dir2, "event_id",
      Seq("user_id", "ts_us"), 4)
    val m = new FactAggMaintainer(spark, dir2, "event_type", "value")
    val src = MemoryStream[Long]
    val q = src.toDF().toDF("version").writeStream
      .foreachBatch(StreamingFactCdf.sink(m) _)
      .outputMode("update").start()
    try {
      src.addData(F.append(spark, dir2, ev.where(col("event_id") % 3 === 0), 4))
      q.processAllAvailable()
      // Two commits, ONE (skipping) notification — the roll heals.
      F.deleteMatching(spark, dir2, col("user_id") % 7 === 2)
      src.addData(F.upsert(spark, dir2, ev.where(col("event_id") % 11 === 3)
        .withColumn("value", col("value") + 1000.0), 4))
      q.processAllAvailable()
      // A replayed notification must not move the aggregate.
      src.addData(2L); q.processAllAvailable()
      src.addData(F.compact(spark, dir2, 4))
      q.processAllAvailable()
    } finally q.stop()
    assert(m.version == 5L)
    val gotAgg = m.current.collect().map(_.toString).toSeq.sorted
    val wantAgg = F.read(spark, dir2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("value").cast("decimal(38,6)"),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)"))).as("sum_value"))
      .collect().map(_.toString).toSeq.sorted
    assert(gotAgg == wantAgg,
      "the feed-maintained aggregate must equal a recompute over the live lake")
  }

  test("S35: self-polling CDF stream — the manifest log IS the notification source; kill-and-restart mid-lineage loses and duplicates nothing") {
    implicit val sql = spark.sqlContext
    import graft.sources.{FactStore => F, Tables}
    import graft.streaming.{FactCdfStream, FactCdfStreamConsumer}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s35").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s35_ck").toString
    F.build(ev.where(col("event_id") % 3 =!= 0), dir, "event_id",
      Seq("user_id", "ts_us"), 4)

    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "ts_us", "event_type", "value",
        "_change_type", "_commit_version")
        .collect().map(_.toString).toSeq.sorted
    // The sink: collected feed + its high-water commit (the cursor a
    // real consumer persists transactionally with its output).
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    @volatile var applied = 1L
    val sinkFn: org.apache.spark.sql.DataFrame => Unit = { d =>
      val rows = d.collect()
      buf ++= rows.map(r => r.toString).sorted
      if (rows.nonEmpty)
        applied = math.max(applied,
          rows.map(_.getAs[Long]("_commit_version")).max)
    }
    def start(consumer: FactCdfStreamConsumer) =
      FactCdfStream.notifications(spark, dir, maxCommitsPerTrigger = 1)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          consumer.sink { d =>
            sinkFn(d.select("event_id", "user_id", "ts_us", "event_type",
              "value", "_change_type", "_commit_version"))
          }(b, id)
        }
        .start()

    // Phase 1: the stream discovers v2/v3 from the manifest files
    // alone — no side-channel notification stream exists.
    val q1 = start(new FactCdfStreamConsumer(spark, dir, 1L))
    try {
      q1.processAllAvailable()
      assert(buf.isEmpty, "the build commit precedes the cursor — no feed")
      F.append(spark, dir, ev.where(col("event_id") % 3 === 0), 4)
      F.deleteMatching(spark, dir, col("user_id") % 7 === 2)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(applied == 3L, s"v2+v3 must be consumed before the kill (at $applied)")
    val atKill = buf.size
    assert(atKill > 0)

    // Down: two more commits land while no stream is running.
    F.upsert(spark, dir, ev.where(col("event_id") % 11 === 3)
      .withColumn("value", col("value") + 1000.0), 4)
    F.compact(spark, dir, 4)

    // Phase 2: restart from the SAME checkpoint, consumer anchored at
    // the sink's own high-water mark — the file source replays nothing
    // it checkpointed and delivers everything committed while down.
    val q2 = start(new FactCdfStreamConsumer(spark, dir, applied))
    try q2.processAllAvailable() finally q2.stop()

    // ≡ the batch per-commit feed across the whole lifecycle: no leg
    // lost across the restart, none duplicated, compaction invisible.
    val wantFeed = (2L to 5L).map(v =>
      F.changeRows(spark, dir, v - 1, v).withColumn("_commit_version", lit(v)))
      .reduce(_.unionByName(_))
    assert(buf.sorted.toSeq == rowsOf(wantFeed),
      "stream-consumed feed must equal the batch changes across the restart")
    assert(buf.size > atKill, "the while-down commits must arrive after restart")
  }

  test("S36: spark.readStream.format(\"graft\") — the table/CDF as a FIRST-CLASS source with manifest-version offsets; kill-and-restart mid-lineage loses and duplicates nothing") {
    import graft.sources.{FactStore => F, Tables}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s36").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s36_ck").toString
    F.build(ev.where(col("event_id") % 3 =!= 0), dir, "event_id",
      Seq("user_id", "ts_us"), 4)

    val cols = Seq("event_id", "user_id", "ts_us", "event_type", "value",
      "_change_type", "_commit_version")
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def start() = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= b.select(cols.map(col): _*).collect().map(_.toString); ()
      }
      .start()

    // Phase 1: history replay (v1 as inserts — startingVersion=1) plus
    // live commits, the version cursor held as the SOURCE's own offset.
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(buf.nonEmpty, "startingVersion=1 must replay the base generation as inserts")
      F.append(spark, dir, ev.where(col("event_id") % 3 === 0), 4)
      F.deleteMatching(spark, dir, col("user_id") % 7 === 2)
      q1.processAllAvailable()
    } finally q1.stop()
    val atKill = buf.size

    // Down: two more commits land while no stream exists.
    F.upsert(spark, dir, ev.where(col("event_id") % 11 === 3)
      .withColumn("value", col("value") + 1000.0), 4)
    F.compact(spark, dir, 4)

    // Phase 2: restart from the SAME checkpoint — the source resumes
    // at its committed version offset; no external cursor anywhere.
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(buf.size > atKill, "the while-down commits must arrive after restart")

    // ≡ the batch feed across the whole lifecycle: v1 as inserts, each
    // later commit's own tagged leg, compaction invisible, nothing
    // lost or duplicated across the kill.
    val want = (F.read(spark, dir, 1L)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(1L)) +:
      (2L to 5L).map(v =>
        F.changeRows(spark, dir, v - 1, v).withColumn("_commit_version", lit(v))))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    assert(buf.sorted.toSeq == want,
      "stream ≡ batch changes across every lifecycle edge and the restart")

    // Append-only mode: initial snapshot, then appended rows only; a
    // row-CHANGING commit fails LOUDLY; skipChangeCommits skips it.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_s36a").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_s36a_ck").toString
    F.build(ev.where(col("event_id") < 200), dir2, "event_id", Seq("user_id"), 2)
    val buf2 = scala.collection.mutable.ArrayBuffer.empty[String]
    def startAppends(skip: Boolean) = {
      val r = spark.readStream.format("graft")
      (if (skip) r.option("skipChangeCommits", "true") else r)
        .load(dir2)
        .writeStream.option("checkpointLocation", ck2)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf2 ++= b.collect().map(_.toString); ()
        }
        .start()
    }
    val qa = startAppends(skip = false)
    try {
      qa.processAllAvailable()
      assert(buf2.size == ev.where(col("event_id") < 200).count().toInt,
        "the initial batch is the full snapshot")
      F.append(spark, dir2, ev.where(col("event_id").between(200, 249)), 2)
      qa.processAllAvailable()
      assert(buf2.size == ev.where(col("event_id") < 250).count().toInt,
        "an append commit streams exactly its new rows")
      F.deleteMatching(spark, dir2, col("event_id") === 5)
      val ex = intercept[Exception](qa.processAllAvailable())
      assert(ex.getMessage.contains("appended-rows") ||
        Option(ex.getCause).exists(_.getMessage.contains("appended-rows")),
        s"a delete must fail the appends stream loudly: ${ex.getMessage}")
    } finally qa.stop()
    val qb = startAppends(skip = true)
    try {
      qb.processAllAvailable() // the delete commit is skipped whole
      F.append(spark, dir2, ev.where(col("event_id").between(250, 279)), 2)
      qb.processAllAvailable()
    } finally qb.stop()
    assert(buf2.size == ev.where(col("event_id") < 280).count().toInt,
      "skipChangeCommits skips the delete commit and resumes the appends")
  }

  test("S36b: maxVersionsPerTrigger rate control — a 10-commit backlog drains across capped microbatches; checkpoint-resume mid-backlog loses and duplicates nothing") {
    import graft.sources.{FactStore => F, Tables}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s36b").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s36b_ck").toString
    // An 11-version lineage: base + ten appends — the deep backlog.
    F.build(ev.where(col("event_id") % 11 === 0), dir, "event_id",
      Seq("user_id"), 2)
    (1 to 10).foreach(i =>
      F.append(spark, dir, ev.where(col("event_id") % 11 === i), 2))

    val cols = Seq("event_id", "user_id", "ts_us", "event_type", "value",
      "_change_type", "_commit_version")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[org.apache.spark.sql.Row]]
    def start(once: Boolean) = {
      val w = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "3")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select(cols.map(col): _*).collect().toSeq
          if (rows.nonEmpty) batches += rows; ()
        }
      (if (once) w.trigger(org.apache.spark.sql.streaming.Trigger.Once()) else w).start()
    }

    // Two single-trigger runs: each batch crosses AT MOST 3 versions —
    // the second resumes MID-BACKLOG from the checkpoint.
    val q1 = start(once = true); q1.awaitTermination()
    val q2 = start(once = true); q2.awaitTermination()
    assert(batches.size == 2, s"two capped triggers expected, got ${batches.size}")
    batches.foreach { b =>
      val versions = b.map(_.getLong(6)).distinct
      assert(versions.size <= 3,
        s"a capped batch crossed ${versions.size} versions: $versions")
    }
    assert(batches(0).map(_.getLong(6)).max == 3L &&
      batches(1).map(_.getLong(6)).min == 4L,
      "the resumed run must continue exactly where the checkpoint left off")

    // Drain the rest continuously: still capped per trigger.
    val q3 = start(once = false)
    try q3.processAllAvailable() finally q3.stop()
    assert(batches.size >= 4, s"the 11-version backlog must take >= 4 capped batches, got ${batches.size}")

    // Nothing lost, nothing duplicated: union ≡ the batch change feed.
    val got = batches.flatten.map(_.toString).sorted
    val want = (F.read(spark, dir, 1L)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(1L)) +:
      (2L to 11L).map(v =>
        F.changeRows(spark, dir, v - 1, v).withColumn("_commit_version", lit(v))))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    assert(got.toSeq == want, "rate-capped stream ≡ the uncapped batch feed")
  }

  test("S37: df.writeStream.format(\"graft\") — the NATIVE exactly-once sink; kill-and-restart mid-lineage duplicates nothing; ≡ the foreachBatch path ≡ a batch build") {
    import graft.sources.{FactStore => F, Tables}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_s37_src").toString
    val dstDir = java.nio.file.Files.createTempDirectory("graft_s37_dst").toString
    val twinDir = java.nio.file.Files.createTempDirectory("graft_s37_twin").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_s37_ck").toString
    val ckTwin = java.nio.file.Files.createTempDirectory("graft_s37_ck2").toString
    F.build(ev.where(col("event_id") % 4 === 0), srcDir, "event_id",
      Seq("user_id"), 2)
    val schema = F.read(spark, srcDir).schema
    F.createEmpty(spark, dstDir, schema, "event_id", Seq("user_id"))
    F.createEmpty(spark, twinDir, schema, "event_id", Seq("user_id"))

    // Native sink: one line, no foreachBatch incantation.
    def startNative(once: Boolean) = {
      val w = spark.readStream.format("graft").load(srcDir)
        .writeStream.format("graft")
        .option("checkpointLocation", ck).option("appId", "s37")
      (if (once) w.trigger(org.apache.spark.sql.streaming.Trigger.Once()) else w)
        .start(dstDir)
    }
    // The foreachBatch twin — the pre-S37 incantation, same guts.
    def startTwin() = spark.readStream.format("graft").load(srcDir)
      .writeStream.option("checkpointLocation", ckTwin)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        F.appendStreamBatch(spark, twinDir, b, 1, id, "s37twin"); ()
      }.start()

    // Phase 1: initial snapshot flows through; KILL after one trigger.
    val q1 = startNative(once = true); q1.awaitTermination()
    val rowsAfter1 = F.read(spark, dstDir).count()
    assert(rowsAfter1 == ev.where(col("event_id") % 4 === 0).count(),
      "the initial snapshot must land through the native sink")

    // Down: two commits land on the source while no stream exists.
    F.append(spark, srcDir, ev.where(col("event_id") % 4 === 1), 2)
    F.append(spark, srcDir, ev.where(col("event_id") % 4 === 2), 2)

    // Phase 2: restart from the SAME checkpoint — the while-down
    // commits arrive exactly once (manifest-carried lastBatchId).
    val q2 = startNative(once = false)
    try q2.processAllAvailable() finally q2.stop()
    val twin = startTwin()
    try twin.processAllAvailable() finally twin.stop()

    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSeq.sorted
    val wantLive = canon(F.read(spark, srcDir))
    assert(canon(F.read(spark, dstDir)) == wantLive,
      "native sink store ≡ the source's live rows (a batch build)")
    assert(canon(F.read(spark, twinDir)) == wantLive,
      "native sink ≡ the foreachBatch twin")
    // No duplicate generations: every landed batch is one append commit,
    // and a re-delivered batch would have been a version no-op.
    val hist = (1L to F.currentVersion(spark, dstDir)).map(v =>
      graft.sources.ManifestLog.snapshot(spark, dstDir, v).op)
    assert(hist.count(_ == "append") <= 3,
      s"replay-guarded sink must land at most one commit per batch: $hist")

    // outputMode(update) → upsertStreamBatch: re-streaming the SAME
    // source rows (bumped) into the store REPLACES by key instead of
    // duplicating.
    val ckU = java.nio.file.Files.createTempDirectory("graft_s37_cku").toString
    val qU = spark.readStream.format("graft")
      .option("startingVersion", "1").load(srcDir)
      .withColumn("value", col("value") + 10000.0)
      .writeStream.format("graft").outputMode("update")
      .option("checkpointLocation", ckU).option("appId", "s37u")
      .start(dstDir)
    try qU.processAllAvailable() finally qU.stop()
    val got = F.read(spark, dstDir)
    assert(got.count() == F.read(spark, srcDir).count(),
      "update-mode re-stream must upsert, never duplicate keys")
    assert(canon(got.select(col("event_id"), col("value"))) ==
      canon(F.read(spark, srcDir).select(col("event_id"), col("value") + 10000.0)),
      "update-mode rows carry the re-streamed values (key LWW)")

    // Guardrails: complete mode is loud; so is a missing target.
    val eC = intercept[Exception] {
      spark.readStream.format("graft").load(srcDir)
        .writeStream.format("graft").outputMode("complete")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_s37_ckc").toString)
        .start(dstDir)
    }
    assert(eC.getMessage.contains("outputMode") ||
      Option(eC.getCause).exists(_.getMessage.contains("outputMode")),
      s"got: ${eC.getMessage}")
  }

  test("S24: streaming as-of enrichment — clicks arrive in arbitrary microbatches, each picks up its point-in-time purchase ≡ batch, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.AsofJoin
    import graft.sources.Tables
    // The stream-static shape (the S17 broadcast-model pattern with a
    // TABLE as the model): the static right side is the purchase
    // history; each microbatch of clicks runs the q112 as-of kernel
    // against it. Per-left-row independence makes the result invariant
    // to how the stream splits — no state operator, no watermark.
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "ts_us")
          .orderBy(col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("ts_us").as("purchase_ts_us"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val want = AsofJoin.asofJoin(clicks, purchases, "user_id", "ts_us",
        "purchase_ts_us", Seq("purchase_ts_us", "purchase_value"), inner = false)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val rows = clicks.as[(Long, Long, Long)].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.size / 3)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val src = MemoryStream[(Long, Long, Long)]
    val q = src.toDF().toDF("event_id", "user_id", "ts_us").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = AsofJoin.asofJoin(b, purchases, "user_id", "ts_us",
            "purchase_ts_us", Seq("purchase_ts_us", "purchase_value"),
            inner = false)
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(3)) -1L else r.getLong(3)))
        got.synchronized { got ++= v }
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(h1: _*); q.processAllAvailable()
      src.addData(h2: _*); q.processAllAvailable()
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.length == 0,
        "the as-of serve must be stateless")
    } finally q.stop()
    assert(got.toSet == want,
      "streamed as-of enrichment must equal the one-shot batch join under arbitrary splits")
  }

  test("S20: stored postings serve a term-set query stream ≡ batch, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedTextIndex => V}
    import graft.streaming.StreamingBm25Serve
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_s20").toString
    val nBuckets = 16
    V.build(docs, dir, nBuckets)
    val queries = Seq(
      (0L, Seq("spark", "join", "window")),
      (1L, Seq("merge", "table")),
      (2L, Seq("spark")),
      (3L, Seq("zzzznotaword", "filter")))
    type R = (Long, Long, Long)
    val got = scala.collection.mutable.ArrayBuffer.empty[R]
    val src = MemoryStream[(Long, Seq[String])]
    val q = src.toDF().toDF("qid", "terms").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = StreamingBm25Serve.scoreBatch(b, dir, 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        got.synchronized { got ++= v }
        ()
      }
      .outputMode("update").start()
    try {
      src.addData(queries.take(2): _*); q.processAllAvailable()
      src.addData(queries.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val want = queries.flatMap { case (qid, terms) =>
      V.bm25(spark, dir, terms, 10)
        .collect().map(r => (qid, r.getLong(0), r.getLong(2)))
    }
    assert(got.nonEmpty && want.nonEmpty)
    assert(got.sortBy(r => (r._1, r._2)).toSeq == want.sortBy(r => (r._1, r._2)),
      "stream serving must equal the per-query batch rankings exactly")
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"postings serving must not allocate streaming state: ${q.lastProgress}")
  }

  test("S20b: mid-stream lexical deletes disappear from the very next batch, model included") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedTextIndex => V}
    import graft.streaming.StreamingBm25Serve
    // The q101 takedown composed with the serving stream: scoreBatch
    // serves the LIVE view, so docs tombstoned between microbatches —
    // and the df/avgdl retreat that goes with them — apply to the very
    // next query batch.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_s20b").toString
    val nBuckets = 16
    V.build(docs, dir, nBuckets)
    val terms = Seq("spark", "join", "window")
    type R = (Long, Long, Long)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    val src = MemoryStream[(Long, Seq[String])]
    val q = src.toDF().toDF("qid", "terms").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) {
          val v = StreamingBm25Serve.scoreBatch(b, dir, 10)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
          perBatch.synchronized { perBatch += v.toSeq }
        }
        ()
      }
      .outputMode("update").start()
    try {
      src.addData((0L, terms)); q.processAllAvailable()
      V.delete(spark, dir,
        docs.select(col("doc_id")).filter(col("doc_id") % 9 === 4))
      src.addData((1L, terms)); q.processAllAvailable()
    } finally q.stop()
    assert(perBatch.size == 2)
    assert(perBatch(0).exists(_._2 % 9 == 4),
      "fixture should rank at least one to-be-deleted doc pre-delete")
    assert(perBatch(1).forall(_._2 % 9 != 4),
      "post-delete batch must not serve a tombstoned doc")
    // Not just membership: SCORES equal a from-scratch index over the
    // live corpus (df/n_docs/avgdl all retreated).
    val fresh = java.nio.file.Files.createTempDirectory("graft_s20b_fresh").toString
    V.build(docs.filter(col("doc_id") % 9 =!= 4), fresh, nBuckets)
    val want = V.bm25(spark, fresh, terms, 10)
      .collect().map(r => (1L, r.getLong(0), r.getLong(2))).toSeq
    assert(perBatch(1).sortBy(r => (r._1, r._2)) == want.sortBy(r => (r._1, r._2)),
      "post-delete serving must equal a from-scratch live-corpus index")
  }

  test("S15: streaming MG panes hold every true heavy hitter with O(panes·capacity) state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // 181 distinct words vs 4 panes × capacity 8 = 32 state slots: the
    // decrement path fires constantly, yet "hot" (40% of tokens) must
    // survive in its pane with an undercount-only bound.
    val docs = (0L until 60L).map { i =>
      (i, s"hot hot f${3 * i} f${3 * i + 1} f${3 * i + 2}")
    }
    val src = MemoryStream[(Long, String)]
    src.addData(scala.util.Random.shuffle(docs.take(23)): _*)
    src.addData(scala.util.Random.shuffle(docs.slice(23, 41)): _*)
    src.addData(scala.util.Random.shuffle(docs.drop(41)): _*)

    val q = graft.streaming.StreamingHeavyHitters
      .candidates(src.toDF().toDF("doc_id", "text"), capacity = 8, nPanes = 4)
      .writeStream.format("memory").queryName("s15").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()

    // Latest snapshot per pane = that pane's max pane_total emission.
    val all = spark.table("s15")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val latestTotal = all.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    val snapshot = all.filter { case (p, _, _, t) => t == latestTotal(p) }

    val exact = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val n = exact.values.sum
    assert(snapshot.groupBy(_._1).forall(_._2.size <= 8), "pane over capacity")
    // Superset guarantee: share > 1/(capacity+1) must be present.
    val heavies = exact.filter { case (_, c) => c * 9 > n }.keySet
    assert(heavies == Set("hot") && heavies.subsetOf(snapshot.map(_._2).toSet))
    // Stored counts undercount only, within the pane's own MG bound.
    assert(snapshot.forall { case (_, w, lb, t) =>
      lb <= exact(w) && (exact(w) - lb) <= t.toDouble / 9 })
    // The streaming candidate set covers the batch q75 answer.
    val batch = graft.operators.TextAnalysis
      .heavyHitters(docs.toDF("doc_id", "text"), capacity = 8, shareDen = 9L)
      .collect().map(_.getString(0)).toSet
    assert(batch.subsetOf(snapshot.map(_._2).toSet))
  }

  test("S25: streaming materialized-view maintenance — the df view rolls through append/delete/compact/upsert commits, replay-safe, ≡ from-scratch at every step") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.sources.{Tables, VersionedTextIndex => V}
    import graft.streaming.{DfViewMaintainer, StreamingMvMaintain}
    // The commit-log → incremental-refresh loop: the store commits,
    // a notification lands on the stream, the maintainer rolls the df
    // table forward by exactly the changed documents' postings.
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_s25").toString
    V.build(docs.filter(col("doc_id") < 300), dir, 8)
    val m = new DfViewMaintainer(spark, dir)
    def viewSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def fromScratch(): Set[(String, Long)] = viewSet(V.dfTable(spark, dir))
    assert(viewSet(m.current) == fromScratch(), "seed view must match v0")

    val src = MemoryStream[Long]
    val q = src.toDF().toDF("version").writeStream
      .foreachBatch(StreamingMvMaintain.sink(m) _)
      .outputMode("update").start()
    try {
      // Commit 1: append the rest of the corpus; notify; roll.
      val v1 = V.append(spark, dir, docs.filter(col("doc_id") >= 300))
      src.addData(v1); q.processAllAvailable()
      assert(m.version == v1 && viewSet(m.current) == fromScratch(),
        "rolled view must equal a from-scratch df after append")
      // Commits 2+3 land BEFORE one notification: a takedown, then a
      // physical-only compaction. One multi-commit roll must cross
      // both — and the compaction contributes an EMPTY feed.
      val v2 = V.delete(spark, dir,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      val v3 = V.compact(spark, dir)
      src.addData(v3); q.processAllAvailable()
      assert(m.version == v3 && viewSet(m.current) == fromScratch(),
        "a skip-level roll (delete + compaction) must equal from-scratch")
      assert(v2 == v3 - 1)
      // Replay / reorder: stale notifications are no-ops.
      val before = viewSet(m.current)
      src.addData(v1); q.processAllAvailable()
      assert(m.version == v3 && viewSet(m.current) == before,
        "a stale notification must not move the view")
      // Commit 4: an atomic upsert (replacements + revivals) — the
      // feed's update/insert arithmetic.
      val v4 = V.upsert(spark, dir,
        docs.filter(col("doc_id") % 5 === 2)
          .withColumn("text", expr("concat(text, ' rolled view')")))
      src.addData(v4); q.processAllAvailable()
      assert(m.version == v4 && viewSet(m.current) == fromScratch(),
        "rolled view must equal a from-scratch df after the upsert")
    } finally q.stop()
  }

  test("S12: streaming chunk packing ≡ batch chunkPack across arbitrary microbatch splits") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // Docs of varying token counts; per-shard doc_id order holds across
    // batches (the ordered-delivery contract), but batch boundaries cut
    // mid-shard and mid-sequence, and intra-batch order is scrambled —
    // the packer must sort within the batch and carry the cursor across.
    val budget = 16L
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill((i % 7 + 1).toInt)(s"w$i").mkString(" "))
    }
    val src = MemoryStream[(Long, String)]
    src.addData(scala.util.Random.shuffle(docs.take(23)): _*)
    src.addData(scala.util.Random.shuffle(docs.slice(23, 24)): _*) // single-doc batch
    src.addData(scala.util.Random.shuffle(docs.drop(24)): _*)

    val q = graft.streaming.StreamingPacking
      .chunkAssignments(src.toDF().toDF("doc_id", "text"), budget)
      .writeStream.format("memory").queryName("s12").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("s12").orderBy("doc_id").collect().toSeq
    val want = graft.operators.Packing
      .chunkPack(docs.toDF("doc_id", "text"), budget)
      .collect().toSeq
    assert(got.map(_.toSeq) == want.map(_.toSeq))
    assert(got.size == 60)
  }

  test("S26: streaming rolling z-score ≡ batch q123 verdicts under arbitrary microbatch splits, O(window) state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Temporal
    import graft.streaming.StreamingAnomaly
    // Online anomaly detection: keyed state is the trailing `window`
    // counts ONLY; each in-order arrival with a full window of priors
    // is scored with the batch operator's exact integer inequality.
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val (w, z) = (24, 3)
    val series = Temporal.hourlySeries(events)
      .select(col("event_type"), col("hour"), col("x"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._2, r._1)).toSeq
    val (h0, h1) = (series.map(_._2).min, series.map(_._2).max)
    val cut1 = h0 + (h1 - h0) / 3
    val cut2 = h0 + 2 * (h1 - h0) / 3
    // Three microbatches split at hour boundaries (per-key hour order
    // is the delivery contract); rows REVERSED inside each batch — the
    // operator's intra-batch sort must make the fold order-invariant.
    val cuts = Seq(
      series.filter(_._2 <= cut1).reverse,
      series.filter(r => r._2 > cut1 && r._2 <= cut2).reverse,
      series.filter(_._2 > cut2).reverse)
    val src = MemoryStream[(String, Long, Long)]
    val q = StreamingAnomaly
      .verdicts(src.toDF().toDF("event_type", "hour", "x"), w, z)
      .writeStream.format("memory").queryName("s26_out")
      .outputMode("update").start()
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("s26_out")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val want = Temporal.anomalyZscore(events, w, z)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(want.nonEmpty && want.exists(_._6),
      "fixture must score rows and flag at least one anomaly")
    assert(got == want, "stream must equal the batch verdicts exactly")
    // A gap in a series is rejected, not scored wrongly.
    val src2 = MemoryStream[(String, Long, Long)]
    val q2 = StreamingAnomaly
      .verdicts(src2.toDF().toDF("event_type", "hour", "x"), w, z)
      .writeStream.format("memory").queryName("s26_gap")
      .outputMode("update").start()
    src2.addData(("t", 10L, 1L), ("t", 12L, 1L))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(err.getMessage.contains("series gap")
      || Option(err.getCause).exists(_.getMessage.contains("series gap")))
  }

  test("S27: streaming drift monitor — maintained PSI counts ≡ batch report after every microbatch, state bounded by the value space") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDrift
    // The monitor maintains only the (feature, value) cohort counts as
    // a streaming aggregation (complete mode: the sink IS the current
    // table); the PSI projection is shared verbatim with batch, so the
    // report must equal the batch drift of the prefix at every cut.
    val docs = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang", "source", "n_chars")
    val rows = docs.as[(Long, String, String, Long)].collect().toSeq
    val n = rows.size
    val cuts = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val src = MemoryStream[(Long, String, String, Long)]
    val q = StreamingDrift
      .counts(src.toDF().toDF("doc_id", "lang", "source", "n_chars"))
      .writeStream.format("memory").queryName("s27_counts")
      .outputMode("complete").start()
    var seen = Vector.empty[(Long, String, String, Long)]
    try cuts.foreach { c =>
      src.addData(c: _*); q.processAllAvailable()
      seen ++= c
      val got = StreamingDrift.report(spark.table("s27_counts"))
        .as[(String, String, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      val want = graft.operators.Profile.distributionDrift(
        seen.toDF("doc_id", "lang", "source", "n_chars"))
        .as[(String, String, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      assert(want.nonEmpty && got == want,
        "stream-maintained PSI must equal the batch report on the prefix")
    } finally q.stop()
    // The maintained state is the value space, not the corpus: every
    // feature's rows are bounded by its distinct values.
    val st = spark.table("s27_counts")
    assert(st.count() == docs.select("lang").distinct().count()
      + docs.select("source").distinct().count()
      + docs.select(expr("CAST(n_chars DIV 200 AS STRING)")).distinct().count())
  }

  test("S28: streaming attribution serve — purchases arrive in arbitrary microbatches, each summarized against the static touch history ≡ batch, stateless") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Behavior
    import graft.sources.Tables
    // The S24 stream-static shape for attribution: the conversion
    // stream probes the static touch history through the identical
    // banded kernel; per-purchase independence makes the summary
    // invariant to how the stream splits.
    val winUs = 604800000000L
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val want = Behavior.conversionTouches(ev, winUs)
      .collect().map(_.toString).toSet
    assert(want.nonEmpty)
    val purchases = ev.where(col("event_type") === "purchase")
      .selectExpr("event_id AS pid", "user_id", "ts_us AS pts")
      .as[(Long, Long, Long)].collect().toSeq
    val (h1, rest) = purchases.splitAt(purchases.size / 3)
    val (h2, h3) = rest.splitAt(rest.size / 2)
    val got = scala.collection.mutable.Set.empty[String]
    val src = MemoryStream[(Long, Long, Long)]
    val q = src.toDF().toDF("pid", "user_id", "pts").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = Behavior.touchSummary(b, ev, winUs).collect().map(_.toString)
        got.synchronized { got ++= v }
        ()
      }
      .outputMode("update").start()
    try {
      Seq(h1, h2, h3).foreach { h => src.addData(h: _*); q.processAllAvailable() }
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.length == 0,
        "the attribution serve must be stateless")
    } finally q.stop()
    assert(got.toSet == want,
      "stream-served touch summaries must equal the batch kernel")
  }

  test("S29: streaming CUSUM with a pinned reference level ≡ the batch closed form under arbitrary microbatch splits, O(1) state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.Temporal
    import graft.streaming.StreamingCusum
    // The deployed-detector shape: μ is commissioned from the batch
    // window and PINNED; the stream scores against it with three longs
    // of state per series. The recursion and the window closed form
    // are the same arithmetic, so verdicts match bit-for-bit.
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val (slackDiv, thrMult) = (10L, 4L)
    val filled = Temporal.hourlySeries(events)
    val mu = Temporal.seriesMu(filled)
      .as[(String, Long)].collect().toMap
    val series = filled
      .select(col("event_type"), col("hour"), col("x"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._2, r._1)).toSeq
    val (h0, h1) = (series.map(_._2).min, series.map(_._2).max)
    val cut1 = h0 + (h1 - h0) / 3
    val cut2 = h0 + 2 * (h1 - h0) / 3
    val cuts = Seq(
      series.filter(_._2 <= cut1).reverse,
      series.filter(r => r._2 > cut1 && r._2 <= cut2).reverse,
      series.filter(_._2 > cut2).reverse)
    val src = MemoryStream[(String, Long, Long)]
    val q = StreamingCusum
      .verdicts(src.toDF().toDF("event_type", "hour", "x"), mu, slackDiv, thrMult)
      .writeStream.format("memory").queryName("s29_out")
      .outputMode("update").start()
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("s29_out")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val want = Temporal.cusumWithMu(filled, Temporal.seriesMu(filled),
        slackDiv, thrMult)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(want.nonEmpty && got == want,
      "stream must equal the batch closed form exactly")
    // An uncommissioned series is rejected loudly, not scored with a
    // silently-invented level.
    val src2 = MemoryStream[(String, Long, Long)]
    val q2 = StreamingCusum
      .verdicts(src2.toDF().toDF("event_type", "hour", "x"), mu, slackDiv, thrMult)
      .writeStream.format("memory").queryName("s29_rej")
      .outputMode("update").start()
    val err = intercept[Exception] {
      src2.addData(("brand-new-series", h0, 1L)); q2.processAllAvailable()
    }
    q2.stop()
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("no pinned reference level"))
        || mentions(t.getCause))
    assert(mentions(err))
  }

  test("S30: streaming OLS maintenance — maintained sufficient statistics ≡ batch regression after every microbatch, state bounded by the type space") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingTrend
    // The six OLS sums are mergeable state: the streaming hash agg IS
    // the maintenance loop, and the closed-form report (shared
    // verbatim with batch) must equal a from-scratch fit of the prefix
    // at every cut.
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "ts_us", "value")
    val rows = ev.as[(String, Long, Double)].collect().toSeq
    val n = rows.size
    val cuts = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val src = MemoryStream[(String, Long, Double)]
    val q = StreamingTrend
      .stats(src.toDF().toDF("event_type", "ts_us", "value"))
      .writeStream.format("memory").queryName("s30_stats")
      .outputMode("complete").start()
    var seen = Vector.empty[(String, Long, Double)]
    try cuts.foreach { c =>
      src.addData(c: _*); q.processAllAvailable()
      seen ++= c
      val got = StreamingTrend.report(spark.table("s30_stats"))
        .as[(String, Long, Double, Double, Double)].collect()
        .sortBy(_._1).toSeq
      val want = graft.operators.Temporal.trendOls(
        seen.toDF("event_type", "ts_us", "value"))
        .as[(String, Long, Double, Double, Double)].collect()
        .sortBy(_._1).toSeq
      assert(want.nonEmpty && got == want,
        "stream-maintained regression must equal the batch fit on the prefix")
    } finally q.stop()
    assert(spark.table("s30_stats").count() ==
      ev.select("event_type").distinct().count(),
      "state must be one row per type, never per event")
  }

  test("S31: streaming CEP ≡ batch pattern matches under arbitrary microbatch splits, O(1) state, out-of-order rejected") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingCep
    // The q138 automaton online: per-user state is phase + anchors +
    // counter; the fold is shared with batch, so every emitted match
    // row must be identical no matter how the stream splits — cut the
    // stream mid-pattern (time-ordered thirds) to prove partial
    // matches survive batch boundaries in state.
    val W = 172800000000L
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val want = graft.operators.Behavior.cepMatches(ev, W)
      .as[graft.operators.CepMatch].collect().map(_.toString).toSeq.sorted
    assert(want.nonEmpty)
    val rows = ev
      .where(col("event_type").isin("view", "click", "purchase"))
      .select("user_id", "event_id", "ts_us", "event_type")
      .as[(Long, Long, Long, String)].collect()
      .sortBy(e => (e._3, e._2)).toSeq
    val n = rows.size
    val cuts = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val src = MemoryStream[(Long, Long, Long, String)]
    val q = StreamingCep
      .matches(src.toDF().toDF("user_id", "event_id", "ts_us", "event_type"), W)
      .writeStream.format("memory").queryName("s31_out")
      .outputMode("update").start()
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("s31_out")
      .as[graft.operators.CepMatch].collect().map(_.toString).toSeq.sorted
    assert(got == want, "stream must emit exactly the batch matches")
    // A cross-batch time regression is a pipeline bug — rejected, not
    // silently matched out of order.
    val src2 = MemoryStream[(Long, Long, Long, String)]
    val q2 = StreamingCep
      .matches(src2.toDF().toDF("user_id", "event_id", "ts_us", "event_type"), W)
      .writeStream.format("memory").queryName("s31_rej")
      .outputMode("update").start()
    src2.addData((7L, 10L, 1000L, "view")); q2.processAllAvailable()
    val err = intercept[Exception] {
      src2.addData((7L, 11L, 999L, "click")); q2.processAllAvailable()
    }
    q2.stop()
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("out-of-order event"))
        || mentions(t.getCause))
    assert(mentions(err))
  }

  test("S31b: generalized streaming CEP — a 4-step pattern with value predicate emits exactly the batch matches across cuts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Cep, CepStep}
    import graft.streaming.StreamingCep
    // The bring-your-own-pattern surface online: same shared kernel,
    // so any pattern spec must be cut-invariant, not just the funnel.
    val pat = Seq(
      CepStep("signup"),
      CepStep("view", timeoutUs = 345600000000L),
      CepStep("click", timeoutUs = 172800000000L),
      CepStep("purchase", minValue = Some(50.0), timeoutUs = 172800000000L))
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val want = Cep.matchesGeneric(ev, pat)
      .select("user_id", "match_no", "step_event_ids", "start_ts_us", "end_ts_us")
      .collect().map(_.toString).toSeq.sorted
    assert(want.nonEmpty)
    val rows = ev
      .where(col("event_type").isin("signup", "view", "click", "purchase"))
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect()
      .sortBy(e => (e._3, e._2)).toSeq
    val n = rows.size
    val cuts = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val src = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamingCep
      .matchesPattern(src.toDF()
        .toDF("user_id", "event_id", "ts_us", "event_type", "value"), pat)
      .writeStream.format("memory").queryName("s31b_out")
      .outputMode("update").start()
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("s31b_out")
      .select("user_id", "match_no", "step_event_ids", "start_ts_us", "end_ts_us")
      .collect().map(_.toString).toSeq.sorted
    assert(got == want, "generalized stream must emit exactly the batch matches")
  }

  test("S31c: quantified streaming CEP — repetition counts survive microbatch boundaries, stream ≡ batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Cep, CepStep}
    import graft.streaming.StreamingCep
    // The rep counter is new cursor state: cut the stream so bursts
    // straddle batch boundaries mid-repetition and the counts must
    // carry across in the state store.
    val pat = Seq(
      CepStep("click", timeoutUs = 172800000000L, times = 3),
      CepStep("purchase", minValue = Some(30.0), timeoutUs = 172800000000L))
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val want = Cep.matchesGeneric(ev, pat)
      .select("user_id", "match_no", "step_event_ids", "start_ts_us", "end_ts_us")
      .collect().map(_.toString).toSeq.sorted
    assert(want.nonEmpty)
    val rows = ev
      .where(col("event_type").isin("click", "purchase"))
      .select("user_id", "event_id", "ts_us", "event_type", "value")
      .as[(Long, Long, Long, String, Double)].collect()
      .sortBy(e => (e._3, e._2)).toSeq
    // FIVE cuts — more boundaries for a mid-burst straddle.
    val n = rows.size
    val cuts = (0 until 5).map(i => rows.slice(i * n / 5, (i + 1) * n / 5))
    val src = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamingCep
      .matchesPattern(src.toDF()
        .toDF("user_id", "event_id", "ts_us", "event_type", "value"), pat)
      .writeStream.format("memory").queryName("s31c_out")
      .outputMode("update").start()
    try cuts.foreach { c => src.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("s31c_out")
      .select("user_id", "match_no", "step_event_ids", "start_ts_us", "end_ts_us")
      .collect().map(_.toString).toSeq.sorted
    assert(got == want, "quantified stream must emit exactly the batch matches")
  }

  test("S32: streaming priority sample — the maintained top-(k+1) sample yields the exact batch-on-prefix estimate at every cut, O(k) state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingPrioritySample
    // Mergeability is the contract: the top-(k+1) priorities of a
    // union are the top-(k+1) of the parts, so the estimate after any
    // sequence of microbatches equals a one-shot fold of the prefix.
    val k = 20
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type").as("key"), col("event_id"),
        col("value"))
    // Reference priorities via the operator's own projection (pure
    // hash — deterministic), folded independently per prefix in Scala.
    val withPri = ev.select(col("key"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("w"),
        expr(
          s"(CAST(${graft.functions.PortableHash.hash48(
            "concat('s32', ':', CAST(event_id AS STRING))")} AS DOUBLE)" +
            " + 0.5) / 281474976710656.0").as("u"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._3 / r._4)).toSeq
    def refEstimate(prefix: Seq[(String, Long, Long, Double)]): Map[String, Long] =
      prefix.groupBy(_._1).map { case (key, rs) =>
        val top = rs.sortBy(t => (-t._4, t._2)).take(k + 1)
        val (sample, tauC) =
          if (top.length <= k) (top, 0L)
          else (top.take(k), math.floor(top.last._4 + 0.5).toLong)
        key -> sample.map(t => math.max(t._3, tauC)).sum
      }
    val rows = ev.as[(String, Long, Double)].collect().toSeq
    val n = rows.size
    val cuts = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val src = MemoryStream[(String, Long, Double)]
    val q = StreamingPrioritySample
      .estimates(src.toDF().toDF("key", "event_id", "value"), k, "s32")
      .writeStream.format("memory").queryName("s32_out")
      .outputMode("update").start()
    // Expected emissions: after each cut, one estimate per key touched
    // in that cut, valued at the prefix fold.
    var seen = Vector.empty[(String, Long, Double)]
    val wantAll = scala.collection.mutable.Buffer.empty[(String, Long)]
    try cuts.foreach { c =>
      src.addData(c: _*); q.processAllAvailable()
      seen ++= c
      val prefixIds = seen.map(_._2).toSet
      val ref = refEstimate(withPri.filter(p => prefixIds.contains(p._2)))
      c.map(_._1).distinct.foreach(key => wantAll += (key -> ref(key)))
    } finally q.stop()
    val got = spark.table("s32_out")
      .select("key", "est_total_centi")
      .as[(String, Long)].collect().toSeq.sorted
    assert(wantAll.nonEmpty && got == wantAll.toSeq.sorted,
      s"stream estimates must equal the per-cut prefix folds")
  }
}
