package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.streaming.{GameState, SyncConfig, SyncCore, SyncResponse}

/** One scheduled sync request (derived from the events table: each event
  * becomes "its user syncs now, posting this event and a state update").
  */
case class SyncRequest(
    stream_id: Long, now: Long, client_id: String,
    event_type: String, body: String)

/** Per-sync response summary: full `Process` output with the delta
  * payloads folded into order-sensitive portable hashes (each delta
  * event's global append rank is mixed into its term, so equal hashes ⟹
  * equal sequences, not just equal sets).
  */
case class SyncSummary(
    stream_id: Long, sync_seq: Long, user_id: Long, t: Long, proxy_id: Long,
    n_delta_events: Long, delta_events_hash: Long,
    n_delta_states: Long, delta_states_hash: Long)

/** Q20 — the reference's whole `Process` loop (model/game.go:60-74)
  * replayed in batch: tick quantization with remainder carry, session
  * timeout eviction emitting `_d`, fresh proxy ids on reconnection,
  * `LastSentT + 1` stamping, watermark commit, and both delta scans —
  * all via the shared pure transition [[graft.streaming.SyncCore]].
  *
  * Distribution model = the reference's concurrency model: streams are
  * independent (per-stream mutex, game.go:31) → `groupByKey(stream_id)`
  * gives each stream to one task; within a stream the fold is inherently
  * sequential (that's the semantics, not a limitation). Scale-out is
  * across streams — at 100 TB you have millions of streams, not one big
  * one; per-stream state is bounded by stream lifetime (60 s expiry in
  * the reference).
  *
  * The DuckDB oracle for this operator exploits a closed form: lastTick
  * stays tick-grid-aligned, so T at a sync is floor((now - start)/tick)
  * (verified: the fixed test data never hits the strict-inequality
  * boundary), letting plain SQL window functions reproduce stamping,
  * sessions, proxy ids, evictions, and both deltas.
  */
object SyncReplay {

  /** Stream fan-out for the replay query. Wall-clock = the slowest
    * single stream's fold (per-stream order is the semantics), so this
    * is the query's parallelism; 32 fills the local[32] bench cores while
    * keeping several clients per stream at sf0.01 (150 users), so the
    * eviction/session interplay stays exercised.
    */
  val NumStreams = 32
  val Seed = 42L

  /** Build the sync schedule from the events table: stream = user_id mod
    * [[NumStreams]], one sync per event carrying the event as payload
    * and `{last_event -> event_id}` as the client's state update.
    */
  def schedule(events: DataFrame): Dataset[SyncRequest] = {
    import events.sparkSession.implicits._
    events.select(
        (col("user_id") % NumStreams).as("stream_id"),
        col("ts_us").as("now"),
        col("user_id").cast("string").as("client_id"),
        col("event_type"),
        col("event_id").cast("string").as("body"))
      .as[SyncRequest]
  }

  /** Replay every stream's schedule through [[SyncCore.process]] and
    * emit one summary row per sync.
    */
  def replay(events: DataFrame, cfg: SyncConfig): DataFrame =
    replaySchedule(schedule(events), cfg, Seed)
      .toDF()
      .orderBy("stream_id", "sync_seq")

  /** Final per-stream engine state after folding a schedule — the batch
    * side of a backfill→streaming handoff: replay history in batch, then
    * boot the streaming engine from these snapshots (see
    * [[graft.streaming.SyncEngine.withInitialState]]).
    */
  def finalStates(
      reqs0: Dataset[SyncRequest], cfg: SyncConfig, seed: Long): Dataset[(Long, GameState)] = {
    import reqs0.sparkSession.implicits._
    sortedSchedule(reqs0)
      .mapPartitions { it0 =>
        // One (sid, state) row per stream, folded straight off the
        // externally sorted iterator — no per-stream buffering.
        val it = it0.buffered
        new Iterator[(Long, GameState)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, GameState) = {
            val sid = it.head.stream_id
            var g = SyncCore.init(it.head.now, seed)
            while (it.hasNext && it.head.stream_id == sid) g = step(cfg, g, it.next())._1
            (sid, g)
          }
        }
      }
  }

  /** The schedule in fold order: one shuffle on stream_id, then an
    * EXTERNAL sort within partitions on (stream_id, now, body-as-seq)
    * — the q59b ordered-fold shape (Packing.scala). The former
    * per-group `toVector.sortBy` buffered each stream's whole schedule
    * in executor memory; this spills instead, so the fold's resident
    * memory is the engine state itself (bounded by stream lifetime —
    * the reference's design, 60 s expiry), not the schedule length.
    */
  private def sortedSchedule(reqs0: Dataset[SyncRequest]): Dataset[SyncRequest] = {
    import reqs0.sparkSession.implicits._
    reqs0
      .repartition(col("stream_id"))
      .sortWithinPartitions(col("stream_id"), col("now"), expr("CAST(body AS BIGINT)"))
      .as[SyncRequest]
  }

  /** The replay fold over an arbitrary schedule (also used by tests to
    * compare streaming output against batch — README.md:9's invariant).
    * Within a stream the fold is inherently sequential (that's the
    * semantics, not a limitation); the engine state resets at stream
    * boundaries of the sorted iterator.
    */
  def replaySchedule(
      reqs0: Dataset[SyncRequest], cfg: SyncConfig, seed: Long): Dataset[SyncSummary] = {
    import reqs0.sparkSession.implicits._
    sortedSchedule(reqs0)
      .mapPartitions { it =>
        var sid = 0L
        var g: GameState = null
        it.map { r =>
          if (g == null || r.stream_id != sid) {
            sid = r.stream_id
            g = SyncCore.init(r.now, seed)
          }
          val (g2, out) = summarize(cfg, sid, g, r)
          g = g2
          out
        }
      }
  }

  /** One scheduled request's sync: [[SyncCore.process]] posting the
    * request's event and `{last_event -> body}` as the state update. */
  private[graft] def step(cfg: SyncConfig, g: GameState,
                          r: SyncRequest): (GameState, SyncResponse) =
    SyncCore.process(cfg, g, r.now, r.client_id, None,
      events = Seq((r.event_type, r.body)),
      state = Some(Map("last_event" -> r.body)))

  /** [[step]] plus the sync's [[SyncSummary]] row on stream `sid`. */
  private[graft] def summarize(cfg: SyncConfig, sid: Long, g: GameState,
                               r: SyncRequest): (GameState, SyncSummary) = {
    val (g2, resp) = step(cfg, g, r)
    (g2, SyncSummary(
      stream_id = sid,
      sync_seq = g2.syncSeq,
      user_id = r.client_id.toLong,
      t = resp.t,
      proxy_id = resp.proxyId,
      n_delta_events = resp.deltaEvents.size.toLong,
      delta_events_hash = resp.deltaEventsHash,
      n_delta_states = resp.deltaStates.size.toLong,
      delta_states_hash = resp.deltaStatesHash))
  }
}
