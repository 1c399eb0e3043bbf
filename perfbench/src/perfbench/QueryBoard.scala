package perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.collection.mutable

/** query_board: a board of `SparkEntry.queries` run over seeded tables,
  * pass after pass, in `local[cpus]`.
  *
  * One execution of a query is: the `SparkEntry.queries(q)(spark, sf)`
  * call that builds the DataFrame (build), forcing its executed plan
  * (plan), and collecting every row with every column (exec).
  *
  * `setup_s` is JVM start → the first execution of every query done,
  * the index stores the queries build on first use included. Then,
  * untimed, each query's first output is written as parquet, with the
  * file `dumped` after it, and `WarmPasses` passes run while `run.py`
  * checks the outputs against their DuckDB oracle SQL. Once it has
  * written the file `checked`, `passes` timed passes run: a fixed
  * count, so every run does the same work and leaves the same state.
  * Every execution's rows must equal those of the first execution.
  *
  * Args: cpus= sf= out= passes= trace=0|1
  */
object QueryBoard {
  val Queries = Seq("q20_sync_replay", "q122_filtered_ann", "q94_stored_bm25")
  val WarmPasses = 3

  final case class Exec(buildMs: Double, planMs: Double, execMs: Double, cpuMs: Double,
      rows: Seq[Row], schema: StructType, build: SparkTrace.Counts, run: SparkTrace.Counts) {
    def wallMs: Double = buildMs + planMs + execMs
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val sf = a("sf")
    val spark = GraftSession.build(a("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Probe.sinceJvmStartS()
    val trace = if (a.int("trace") == 1) Some(SparkTrace.install(spark.sparkContext)) else None
    val none = SparkTrace.Counts()

    def once(q: String): Exec = {
      trace.foreach(_.take())
      val (c0, j0, t0) = (Probe.cpuNanos(), Probe.jitCpuMillis(), System.nanoTime())
      val df = SparkEntry.queries(q)(spark, sf)
      val t1 = System.nanoTime()
      // Traced runs drain the listener bus here; the plan clock starts after.
      val build = trace.fold(none)(_.take())
      val t1b = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect().toSeq
      val t3 = System.nanoTime()
      val cpuMs = (Probe.cpuNanos() - c0) / 1e6 - (Probe.jitCpuMillis() - j0)
      Exec((t1 - t0) / 1e6, (t2 - t1b) / 1e6, (t3 - t2) / 1e6, cpuMs, rows, df.schema, build,
        trace.fold(none)(_.take()))
    }

    val first = Queries.map(q => q -> once(q)).toMap
    val setupS = Probe.sinceJvmStartS()

    // Untimed: the first outputs and the oracle SQL, for the DuckDB check.
    val out = a("out")
    val d0 = System.nanoTime()
    Queries.foreach { q =>
      spark.createDataFrame(first(q).rows.asJava, first(q).schema).coalesce(1).write.parquet(s"$out/$q")
    }
    Probe.writeJson(s"$out/oracle_sql.json", Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    new java.io.File(s"$out/dumped").createNewFile()
    val dumpS = (System.nanoTime() - d0) / 1e9

    var failed = 0
    def pass(): Map[String, Exec] = Queries.map { q =>
      val e = once(q)
      if (e.rows != first(q).rows) failed += 1
      q -> e
    }.toMap
    val warm = Seq.fill(WarmPasses)(pass())
    // The oracle check runs beside the warm-up; the timed passes wait for it.
    val checked = new java.io.File(s"$out/checked")
    while (!checked.exists) Thread.sleep(20)
    val timed = Seq.fill(a.int("passes"))(pass())
    val heapMb = Probe.retainedHeapMb()

    def med(q: String, f: Exec => Double): Double = Probe.median(timed.map(e => f(e(q))))
    val boardMs = Queries.map(q => med(q, _.wallMs)).sum
    val passMs = timed.map(_.values.map(_.wallMs).sum)
    val half = passMs.size / 2
    val fields = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "dump_s" -> dumpS,
      "first_exec_ms" -> Queries.map(q => q -> first(q).wallMs).toMap,
      "timed_ms" -> Queries.map(q => q -> timed.map(_(q).wallMs)).toMap,
      "board_ms" -> boardMs,
      "board_cpu_ms" -> Queries.map(q => med(q, _.cpuMs)).sum,
      "board.queries_per_s" -> Queries.size / (boardMs / 1e3),
      "retained_heap_mb" -> heapMb,
      "warm_pass_ms" -> warm.map(_.values.map(_.wallMs).sum),
      "timed_pass_ms" -> passMs,
      "timed_drift" -> (Probe.median(passMs.drop(half)) / Probe.median(passMs.take(half)) - 1),
      "rows" -> Queries.map(q => q -> first(q).rows.size).toMap,
      "attempted" -> Queries.size * (1 + warm.size + timed.size), "failed" -> failed)
    if (trace.isDefined) for (q <- Queries) {
      def medL(f: Exec => Long): Double = med(q, e => f(e).toDouble)
      fields ++= Seq(
        s"board.$q.build_ms" -> med(q, _.buildMs),
        s"board.$q.build_jobs" -> medL(_.build.jobs),
        s"board.$q.plan_ms" -> med(q, _.planMs),
        s"board.$q.exec_ms" -> med(q, _.execMs),
        s"board.$q.jobs" -> medL(_.run.jobs),
        s"board.$q.task_ms" -> medL(e => e.build.taskMs + e.run.taskMs),
        s"board.$q.shuffle_bytes" -> medL(e => e.build.shuffleBytes + e.run.shuffleBytes),
        s"board.$q.spill_bytes" -> medL(e => e.build.spillBytes + e.run.spillBytes))
    }
    Probe.emit(fields)
    spark.stop()
  }
}
