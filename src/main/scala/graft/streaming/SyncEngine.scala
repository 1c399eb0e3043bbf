package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{SyncReplay, SyncRequest, SyncSummary}

/** The reference server as a Structured Streaming job: one
  * `flatMapGroupsWithState` keyed by stream id, whose state value is the
  * whole `Game` struct ([[GameState]]) and whose body is the same pure
  * transition ([[SyncCore.process]]) the batch replay folds — Spark's
  * one-invocation-per-key-per-microbatch guarantee IS the reference's
  * per-stream mutex (model/game.go:31,61-62), so no locking exists here.
  *
  * Stream expiry (main.go:16-46: delete streams idle > 60 s) maps to a
  * processing-time state timeout instead of a sweeper goroutine: every
  * update re-arms the clock; on timeout the state is dropped.
  *
  * Scale: state lives in the executor state store (RocksDB/HDFS-backed
  * on a cluster), partitioned by stream id — millions of concurrent
  * streams spread across executors, each stream's state bounded by its
  * 60 s lifetime. Requests are processed in (now, body) order within a
  * microbatch; across microbatches arrival order stands in for the
  * reference's wall-clock arrival order.
  */
object SyncEngine {

  /** Wire the engine onto a (streaming or batch) Dataset of requests.
    * Emits one [[SyncSummary]] per processed sync, same encoding as the
    * batch replay — test S3 asserts the two are identical row-for-row.
    *
    * `gameTimeoutUs > 0` arms the 60 s-style stream expiry via a
    * processing-time state timeout. Note: processing-time timeouts make
    * the engine schedule batches continuously under the default
    * zero-interval trigger — pair it with an explicit trigger interval
    * (e.g. `Trigger.ProcessingTime("1 second")`) in a deployment; pass
    * 0 to disable expiry (tests use this so `processAllAvailable` can
    * quiesce).
    */
  def apply(
      requests: Dataset[SyncRequest],
      cfg: SyncConfig,
      seed: Long,
      gameTimeoutUs: Long): Dataset[SyncSummary] = {
    import requests.sparkSession.implicits._

    val timeoutConf =
      if (gameTimeoutUs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    requests
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[GameState, SyncSummary](
        OutputMode.Append, timeoutConf)(handleGroup(cfg, seed, gameTimeoutUs))
  }

  /** [[apply]] with a bootstrap snapshot: streams start from the given
    * batch-computed [[GameState]]s instead of empty (the reference has
    * no such notion — its state dies with the process — but a durable
    * engine needs the backfill→streaming handoff: replay history in
    * batch with [[graft.operators.SyncReplay.finalStates]], then stream
    * the live tail from exactly where the replay left off; sync_seq,
    * proxy ids, per-client watermarks all continue unbroken).
    */
  def withInitialState(
      requests: Dataset[SyncRequest],
      cfg: SyncConfig,
      seed: Long,
      gameTimeoutUs: Long,
      initial: Dataset[(Long, GameState)]): Dataset[SyncSummary] = {
    import requests.sparkSession.implicits._
    val timeoutConf =
      if (gameTimeoutUs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    requests
      .groupByKey(_.stream_id)
      .flatMapGroupsWithState[GameState, SyncSummary](
        OutputMode.Append, timeoutConf,
        initialState = initial.groupByKey(_._1).mapValues(_._2))(
        handleGroup(cfg, seed, gameTimeoutUs))
  }

  /** The per-group state-transition body, factored out so the timeout
    * branch (stream expiry, game.go:76-78) is unit-testable against a
    * stub [[GroupState]] — a real ProcessingTimeTimeout firing cannot be
    * forced deterministically through the public streaming API.
    */
  private[graft] def handleGroup(cfg: SyncConfig, seed: Long, gameTimeoutUs: Long)(
      sid: Long, it: Iterator[SyncRequest], state: GroupState[GameState]): Iterator[SyncSummary] =
    if (state.hasTimedOut) {
      // Stream idle past expiry: drop it (game.go:76-78).
      state.remove()
      Iterator.empty
    } else {
      val reqs = it.toVector.sortBy(r => (r.now, r.body.toLong))
      if (reqs.isEmpty) Iterator.empty
      else {
        var g = state.getOption.getOrElse(SyncCore.init(reqs.head.now, seed))
        val out = reqs.map { r =>
          val (g2, row) = SyncReplay.summarize(cfg, sid, g, r)
          g = g2
          row
        }
        state.update(g)
        if (gameTimeoutUs > 0) state.setTimeoutDuration(gameTimeoutUs / 1000L)
        out.iterator
      }
    }
}
