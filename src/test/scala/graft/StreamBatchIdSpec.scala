package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FactStore => F, ManifestLog => M, Tables, VersionedTextIndex => V}

/** One exactly-once rule for every `*StreamBatch` writer: the five
  * entry points share the `lastBatchId.<appId>` meta key, so they
  * reject the same `appId`s (empty, or holding whitespace or a control
  * character) before committing anything, and accept the same good
  * ones, where a replayed batch id is a version no-op.
  */
class StreamBatchIdSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"
  private lazy val events = Tables.events(spark, sf)
    .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"), col("value"))
  private lazy val docs = Tables.table(spark, sf, "documents")

  /** The five entry points, each as (name, store dir, write(batchId, appId)). */
  private lazy val writers: Seq[(String, String, (Long, String) => Long)] = {
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val (fa, fu, fm, ta, tu) = (tmp("sbi-fa"), tmp("sbi-fu"), tmp("sbi-fm"), tmp("sbi-ta"), tmp("sbi-tu"))
    Seq(fa, fu, fm).foreach(d =>
      F.build(events.where(col("event_id") < 50), d, "event_id", Seq("user_id", "ts_us"), 1))
    Seq(ta, tu).foreach(d => V.build(docs.where(col("doc_id") < 20), d, 4))
    val factBatch = events.where(col("event_id") >= 50 && col("event_id") < 60)
    val textBatch = docs.where(col("doc_id") >= 20 && col("doc_id") < 25)
    Seq(
      ("FactStore.appendStreamBatch", fa,
        (b: Long, a: String) => F.appendStreamBatch(spark, fa, factBatch, 1, b, a)),
      ("FactStore.upsertStreamBatch", fu,
        (b: Long, a: String) => F.upsertStreamBatch(spark, fu, factBatch, 1, b, a)),
      ("FactStore.mergeStreamBatch", fm,
        (b: Long, a: String) => F.mergeStreamBatch(spark, fm, factBatch, 1,
          Seq(F.MergeClause.Insert(None)), b, a)),
      ("VersionedTextIndex.appendStreamBatch", ta,
        (b: Long, a: String) => V.appendStreamBatch(spark, ta, textBatch, b, a)),
      ("VersionedTextIndex.upsertStreamBatch", tu,
        (b: Long, a: String) => V.upsertStreamBatch(spark, tu, textBatch, b, a)))
  }

  test("all five stream-batch writers reject the same bad appIds and commit nothing") {
    val bad = Seq("", " ", "a b", "a\tb", "a\nb", "a\u0000b", "a\u0007b", "a\u00a0b", "a\u2003b")
    for ((name, dir, write) <- writers; appId <- bad) {
      val v0 = M.currentVersion(spark, dir)
      intercept[IllegalArgumentException](write(0L, appId))
      assert(M.currentVersion(spark, dir) == v0, s"$name committed under appId ${appId.map(_.toInt)}")
    }
  }

  test("all five accept a good appId once per batch id: a replay is a version no-op") {
    for ((name, dir, write) <- writers) {
      val v0 = M.currentVersion(spark, dir)
      val v1 = write(0L, "app-1/ckpt.v2")
      assert(v1 == v0 + 1 && v1 == M.currentVersion(spark, dir), s"$name did not commit")
      assert(write(0L, "app-1/ckpt.v2") == v1, s"$name re-applied a replayed batch")
      assert(M.snapshot(spark, dir).meta.get("lastBatchId.app-1/ckpt.v2").contains("0"), name)
    }
  }
}
