package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BookLit, CentLit, IvfPqModel, LutLit, Similarity}
import graft.sources.{Tables, VersionedVectorIndex => V}

/** The driver-side IVF-PQ probe sets and lookup tables
  * ([[Similarity.queryLuts]]) equal, bit for bit and in probe order,
  * what the Spark expression they replace computes — on every (query,
  * probed cell) of a stored index, and on constructed ties.
  */
class QueryLutSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  override def afterAll(): Unit = spark.stop()

  private val (nCents, nSub, nCodes, iters) = (8, 4, 8, 2)

  /** The Spark expression the builder replaced: the coarse model and
    * the books ride as plan literals; probe selection, residual and LUT
    * are one projection of the query frame `(qid, emb)`. Rows come out
    * per query in probe order. */
  private def sqlLuts(queries: DataFrame, model: IvfPqModel, nProbe: Int): Seq[LutLit] = {
    val subLen = 64 / nSub
    queries
      .withColumn("cents", typedlit(model.coarse))
      .withColumn("p", explode(expr(
        s"""slice(array_sort(transform(cents, c -> named_struct(
              'negsim', -(floor(cosine_sim(emb, c.cemb) * 1e6 + 0.5) / 1e6),
              'cid', c.cid,
              'cemb', c.cemb))), 1, $nProbe)""")))
      .withColumn("emb", expr("zip_with(emb, p.cemb, (x, y) -> x - y)"))
      .select(col("qid"), col("p.cid").as("pcid"), col("emb"))
      .withColumn("books", typedlit(model.books))
      .select(col("qid"), col("pcid"), expr(
        s"""transform(sequence(0, $nSub - 1), m ->
              map_from_entries(transform(filter(books, b -> b.m = m),
                b -> struct(b.cid, CAST(floor(aggregate(sequence(0, $subLen - 1),
                  CAST(0.0 AS DOUBLE),
                  (acc, i) -> acc + (emb[m * $subLen + i] - b.cemb[i])
                                  * (emb[m * $subLen + i] - b.cemb[i])) * 1e6 + 0.5)
                  AS BIGINT)))))""").as("lut"))
      .collect().toSeq
      .map(r => LutLit(r.getLong(0), r.getLong(1),
        r.getSeq[scala.collection.Map[Long, Long]](2).map(_.toMap)))
  }

  private def driverLuts(queries: DataFrame, model: IvfPqModel, nProbe: Int): Seq[LutLit] =
    Similarity.queryLuts(queries.collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray), model, nSub, nProbe)

  /** Per query, its LUT rows in probe order. */
  private def byQuery(luts: Seq[LutLit]): Map[Long, Seq[LutLit]] = luts.groupBy(_.qid)

  test("every (query, probed cell) of a stored index: the same cells, order and tables") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("graft_querylut").toString
    V.build(emb, dir, nCents, nSub, nCodes, iters)
    val model = V.model(spark, dir)
    val queries = Similarity.queryVectors(emb, lit(true))
    val nQueries = emb.count()
    Seq(nCents, 2).foreach { nProbe =>
      val want = sqlLuts(queries, model, nProbe)
      val got = driverLuts(queries, model, nProbe)
      assert(want.size.toLong == nQueries * nProbe)
      assert(byQuery(got) == byQuery(want), s"nProbe = $nProbe")
    }
  }

  test("ties: equal rounded similarity probes the lower cid first; -0.0 ties as 0.0") {
    def v(f: Int => Double): Seq[Double] = Seq.tabulate(64)(f)
    val x = v(i => if (i == 0) 1.0 else 0.0)
    val model = IvfPqModel(
      Seq(
        CentLit(5L, v(i => if (i < 2) 1.0 else 0.0)),
        CentLit(2L, v(i => if (i < 2) 1.0 else 0.0)), // same cell vector as 5
        CentLit(7L, v(i => if (i == 1) 1.0 else 0.0)), // orthogonal: cos 0, negsim -0.0
        CentLit(3L, v(i => if (i == 2) 2.0 else 0.0)), // orthogonal
        CentLit(4L, v(i => if (i == 1) 1.0 else if (i == 0) 1e-8 else 0.0)), // rounds to 0
        CentLit(6L, v(i => if (i == 0) -1.0 else 0.0))),
      for (m <- 0 until nSub; c <- 0 until 3)
        yield BookLit(m, c.toLong, Seq.tabulate(64 / nSub)(i => (m + c + i) * 0.25)))
    import spark.implicits._
    val queries = Seq((0L, x), (1L, v(i => if (i == 2) 1.0 else 0.0)), (2L, v(_ => 0.0)))
      .toDF("qid", "emb")
    val got = driverLuts(queries, model, 6)
    assert(byQuery(got) == byQuery(sqlLuts(queries, model, 6)))
    assert(byQuery(got)(0L).map(_.pcid) == Seq(2L, 5L, 3L, 4L, 7L, 6L))
    // The all-zero query's cosines are NaN, which rounds to 0: every
    // cell ties and the order is by cid alone.
    assert(byQuery(got)(2L).map(_.pcid) == Seq(2L, 3L, 4L, 5L, 6L, 7L))
    // The order itself, on structs the expression never emits (+0.0,
    // NaN), against Spark's array_sort of the same structs.
    val probes = Seq((0.0, 2L, Seq(1.0)), (-0.0, 1L, Seq(1.0)), (Double.NaN, 0L, Seq(1.0)),
      (-0.0, 1L, Seq(-0.0, 2.0)), (-0.5, 9L, Seq(1.0)), (-0.0, 1L, Seq(0.0)))
    val sparkSorted = spark.sql(probes.map { case (n, c, e) =>
        s"named_struct('negsim', CAST('$n' AS DOUBLE), 'cid', ${c}L, " +
          s"'cemb', array(${e.map(d => s"CAST('$d' AS DOUBLE)").mkString(", ")}))"
      }.mkString("SELECT array_sort(array(", ", ", ")) AS s"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1), r.getSeq[Double](2)))
    val driverSorted = probes.sorted(Similarity.probeOrder)
    assert(driverSorted.map(p => (p._2, p._3.length)) == sparkSorted.map(p => (p._2, p._3.length)))
    assert(driverSorted.map(_._2) == Seq(9L, 1L, 1L, 1L, 2L, 0L))
  }
}
