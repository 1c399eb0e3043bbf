package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FactStore => FS, ManifestLog => M, Parquet, Tables,
  VersionedTextIndex => VT, VersionedVectorIndex => VV}

/** Parquet reads take their schema from a footer read on the driver
  * ([[Parquet.read]]): the schema is the one Spark's inference gives,
  * building a store read launches no Spark job, and nothing in the
  * engine reads parquet any other way.
  */
class ParquetReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.registerUdafs(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private lazy val vectorStore: String = {
    val d = Files.createTempDirectory("graft_parquetspec_vv").toString
    val emb = Tables.table(spark, sf, "embeddings")
    VV.build(emb.filter(col("vec_id") < 400), d, 8, 4, 8, 2)
    VV.delete(spark, d, emb.select(col("vec_id")).filter(col("vec_id") % 7 === 3))
    d
  }

  /** Job starts, in listener-bus order; a marker job fences a window. */
  private val started = new ConcurrentLinkedQueue[String]
  private lazy val listening: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  })

  /** Run one marker job and wait until the listener has seen it: every
    * job started before it has been seen too (the bus is ordered). */
  private def fence(tag: String): Int = {
    listening
    spark.sparkContext.setJobDescription(tag)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30000000000L
    while (!started.asScala.exists(_ == tag) && System.nanoTime() < deadline) Thread.sleep(5)
    assert(started.asScala.exists(_ == tag), s"marker job $tag never reached the listener")
    started.asScala.toSeq.indexOf(tag)
  }

  /** Spark jobs launched while `build` runs, from any thread. */
  private def jobsDuring(name: String)(build: => Any): Int = {
    val before = fence(s"before $name")
    build
    val after = fence(s"after $name")
    after - before - 1
  }

  test("building store and table reads launches no Spark job") {
    val vs = vectorStore
    val ts = Files.createTempDirectory("graft_parquetspec_vt").toString
    VT.build(Tables.table(spark, sf, "documents"), ts, 8)
    val fs = Files.createTempDirectory("graft_parquetspec_fs").toString
    FS.build(Tables.events(spark, sf), fs, "event_id", Seq("user_id", "ts_us"), 2)
    FS.delete(spark, fs,
      Tables.events(spark, sf).where(col("event_id") % 5 === 1).select("event_id"))
    val reads = Seq[(String, () => Any)](
      "VersionedVectorIndex.serving" -> (() => {
        val s = VV.serving(spark, vs); Seq(s.model, s.liveCodes)
      }),
      "VersionedVectorIndex.liveCodes" -> (() => VV.liveCodes(spark, vs)),
      "VersionedTextIndex.bm25" -> (() => VT.bm25(spark, ts, Seq("spark", "join"), 10)),
      "FactStore.read" -> (() => FS.read(spark, fs)),
      "Tables.events" -> (() => Tables.events(spark, sf)),
      "Tables.table" -> (() => Tables.all.map(Tables.table(spark, sf, _))))
    val jobs = reads.map { case (name, read) => name -> jobsDuring(name)(read()) }
    assert(jobs.forall(_._2 == 0), s"jobs launched while building: $jobs")
    // The control: a schema-inferring read is seen to launch its job.
    assert(jobsDuring("inferred read")(spark.read.parquet(Tables.path(sf, "orders"))) >= 1)
  }

  test("the IVF-PQ model is read on the driver: no job, the rows a Spark read gives") {
    val vs = vectorStore
    var model: graft.operators.IvfPqModel = null
    assert(jobsDuring("VersionedVectorIndex.model") { model = VV.model(spark, vs) } == 0)
    val modelDir = s"$vs/${VV.snapshot(spark, vs).modelDir}"
    val cents = Parquet.read(spark, s"$modelDir/centroids").orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val books = Parquet.read(spark, s"$modelDir/codebooks").orderBy("m", "cid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    assert(model.coarse.map(c => (c.cid, c.cemb)).sortBy(_._1) == cents)
    assert(model.books.map(b => (b.m, b.cid, b.cemb)).sortBy(b => (b._1, b._2)) == books)
  }

  test("building q122's frame launches at most one job: the query-batch collect") {
    // A private SF dir (the embeddings table only), so this suite's ANN
    // fixture dir is its own and no other test JVM builds into it.
    val sfCopy = Files.createTempDirectory("graft_parquetspec_sf")
    Files.copy(Paths.get(Tables.path(sf, "embeddings")),
      sfCopy.resolve("embeddings.parquet"))
    val d = sfCopy.toString
    Fixtures.prepare(spark, d, SparkEntry.fixturesOf("q122_filtered_ann"))
    val q122 = SparkEntry.queries("q122_filtered_ann")
    assert(jobsDuring("q122 frame")(q122(spark, d)) <= 1)
  }

  test("the footer schema is the inferred schema for every testdata table") {
    Tables.all.foreach { t =>
      val p = Tables.path(sf, t)
      assert(Parquet.read(spark, p).schema == spark.read.parquet(p).schema, t)
    }
  }

  test("a basePath read of a partitioned segment keeps the partition column") {
    val seg = M.snapshot(spark, vectorStore).segments.find(_.kind == "codes").get
    val segDir = s"$vectorStore/${seg.dir}"
    val files = seg.files.map(f => s"$segDir/$f")
    val viaFooter = Parquet.read(spark, files, Some(segDir))
    val inferred = spark.read.option("basePath", segDir).parquet(files: _*)
    assert(viaFooter.schema == inferred.schema)
    assert(viaFooter.schema.fieldNames.contains("cid"))
    def rows(df: DataFrame) = df.orderBy("vec_id").collect().map(_.toString).toSeq
    assert(rows(viaFooter) == rows(inferred))
  }

  test("a read with no data file under its paths is a loud error") {
    val empty = Files.createTempDirectory("graft_parquetspec_empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val e = intercept[IllegalArgumentException](Parquet.read(spark, empty.toString))
    assert(e.getMessage.contains("no parquet data file"))
  }

  /** Source text with comments removed. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private val chainEnd = """\.parquet\(|\.format\(\s*"parquet"\s*\)""".r
  private val chainHead = """\b(read|readStream|write|writeStream)\b(?!\s*\()""".r

  /** Offsets of parquet READS: a `.parquet(` or `format("parquet")` whose
    * nearest preceding reader/writer handle is a reader. */
  private def parquetReads(src: String): Seq[Int] = {
    val c = code(src)
    chainEnd.findAllMatchIn(c).map(_.start).filter { at =>
      chainHead.findAllMatchIn(c.substring(0, at)).toSeq.lastOption
        .exists(_.group(1).startsWith("read"))
    }.toSeq
  }

  test("the source audit tells parquet reads from parquet writes") {
    assert(parquetReads("""spark.read.option("basePath", d)
      |  .parquet(p)""".stripMargin).nonEmpty)
    assert(parquetReads("""val r = spark.read; r.parquet(paths: _*)""").nonEmpty)
    assert(parquetReads("""spark.read.format("parquet").load(p)""").nonEmpty)
    assert(parquetReads("""df.write.mode("overwrite")
      |  .parquet(p)""".stripMargin).isEmpty)
    assert(parquetReads("""in.read(buf); df.write.parquet(p)""").isEmpty)
    assert(parquetReads("""// spark.read.parquet(p)""").isEmpty)
  }

  test("nothing in src/main reads parquet except Parquet.read") {
    val root = Paths.get("src/main/scala")
    val helper = root.resolve("graft/sources/Parquet.scala")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper).toSeq
    assert(files.length > 50, s"source tree not found under ${root.toAbsolutePath}")
    val offenders = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      parquetReads(src).map(at => s"${root.relativize(f)} @ char $at")
    }
    assert(offenders.isEmpty,
      s"parquet read outside graft.sources.Parquet.read: ${offenders.mkString(", ")}")
  }
}
