package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Determinism under distribution (SURVEY.md §7.3.1): a query's result
  * must not depend on how its input happens to be partitioned — the
  * property that makes results reproducible on any cluster size. Each
  * headline operator family runs against the natural scan layout and
  * against adversarial repartitionings (hash-scattered, single
  * partition) and must produce identical rows.
  */
class DistributionInvarianceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

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

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Operators under test, as (name, input-layout => result). */
  private def cases: Seq[(String, (DataFrame => DataFrame) => DataFrame)] = {
    import graft.operators._
    val docs = Tables.table(spark, sf, "documents")
    val emb = Tables.table(spark, sf, "embeddings")
    val events = Tables.events(spark, sf)
    Seq(
      ("latestState", f => EventLog.latestState(f(events))),
      ("proxyIds", f => EventLog.proxyIds(f(events))),
      ("topK", f => EventLog.topK(f(events), 10)),
      ("syncReplay(sessions)", f => EventLog.syncReplay(f(events), 86400000000L)),
      ("exactDedup", f => Dedup.exactDedup(f(docs))),
      ("nearDupPairs", f => Dedup.nearDupPairs(f(docs), 0.2)),
      ("simhash", f => Dedup.simhash(f(docs))),
      ("topKSimilar", f => Similarity.topKSimilar(f(emb), 0L, 20)),
      ("udafTopK", f => Similarity.udafTopK(f(emb), 4)),
      ("ivfSearch", f => Similarity.ivfSearch(f(emb), 8, 4, 5)),
      ("stratifiedSample", f =>
        Sampling.stratifiedSample(f(docs), Map("src0" -> 1.0, "src1" -> 0.5), 0.1, "t")),
      ("fingerprints", f => TextAnalysis.fingerprints(f(docs))),
      ("asofLastView", f => Temporal.asofLastView(f(events))),
      ("periodStats", f => Temporal.periodStats(
        f(events),
        Temporal.periods(spark, 1704067200000000L, 3L * 86400000000L, 4L * 86400000000L, 10),
        86400000000L)),
      ("vocabulary", f => TextAnalysis.vocabulary(f(docs), 2)),
      ("tfidfTopTerms", f => TextAnalysis.tfidfTopTerms(f(docs), 3)),
      ("nearDupClusters", f => Dedup.nearDupClusters(f(docs), 0.2)),
      ("bigrams", f => TextAnalysis.bigrams(f(docs), 2)),
      ("twoStageDistinct", f => Skew.twoStageDistinct(f(events))),
      ("aboveTypeMean", f => Skew.aboveTypeMean(f(events), 8)),
      ("windowRanks", f => EventLog.windowRanks(f(events))),
      ("funnel", f => Pipeline.funnel(f(events))),
      ("trainSplit", f => Pipeline.trainSplit(f(docs), "split1")),
      ("stateHistory", f => Pipeline.stateHistory(f(events))),
      ("normalizedDedup", f => Pipeline.normalizedDedup(f(docs))),
      ("retentionCohorts", f => Pipeline.retentionCohorts(f(events))),
      ("groupSample", f => Pipeline.groupSample(f(docs), 3, "samp1")),
      ("typeAssociations", f => Pipeline.typeAssociations(f(events), 0.05)),
      ("lmScore", f => Pipeline.lmScore(f(docs))),
      ("standardize", f => Pipeline.standardize(f(events))),
      ("kmeansStep", f => Similarity.kmeansStep(f(emb), 8)),
      ("mergeableDistinct", f => EventLog.mergeableDistinct(f(events))),
      ("stateOccupancy", f => Pipeline.stateOccupancy(f(events))),
      ("typeTransitions", f => Pipeline.typeTransitions(f(events))),
      ("incrementalDedup", f => Dedup.incrementalDedup(f(docs), 250L)),
      ("lengthGate", f => Pipeline.lengthGate(f(docs), 0.05, 0.95)),
      ("quantiles(two-pass)", f => EventLog.quantiles(f(events))),
      ("ivfSearchProbes", f => Similarity.ivfSearchProbes(f(emb), 8, 4, 5, 2)),
      ("multiTableLshSearch", f => Similarity.multiTableLshSearch(f(emb), 4, 5, 4)),
      ("embNearDupPairs", f => Similarity.nearDupPairs(f(emb), 20)),
      ("contamination", f => TextAnalysis.contaminationSplit(f(docs), 25L, 0.1)),
      ("chunkPack", f => Packing.chunkPack(f(docs), 256L)),
      ("greedyPack", f => Packing.greedyPackDf(f(docs), 256L)),
      ("packStats", f => Packing.packStats(f(docs), 256L)),
      ("seqManifest", f => Packing.sequenceManifest(f(docs), 256L)),
      ("snapshotDiff", f => Snapshot.diff(Snapshot.syntheticOld(f(docs)), Snapshot.syntheticNew(f(docs)))),
      ("repetition", f => TextAnalysis.repetition(f(docs))),
      ("budgetSelect", f => TextAnalysis.budgetSelect(f(docs), 3000L, 20)),
      ("temperatureMixture", f => Sampling.temperatureMixture(f(docs))),
      ("epochPlan", f => Sampling.epochPlan(f(docs), 50000L)),
      ("curationFunnel", f => TextAnalysis.curationFunnel(f(docs), 20L, 90L, 0.37, 0.12)),
      // HLL register-max merge is commutative, so even the sketch column
      // is partition-order invariant.
      ("shingleCardinality", f => TextAnalysis.shingleCardinality(f(docs))),
      ("semanticDedup", f => Similarity.semanticDedup(f(emb), 8, 0.3)),
      ("piiScrub", f => Curation.piiScrub(f(docs))),
      ("sourceCap", f => Curation.sourceCap(f(docs))),
      ("spanDedup", f => Curation.spanDedup(f(docs), 10)),
      ("globalShuffle", f => Curation.globalShuffle(f(docs), 16, "g5")),
      ("hashedClassifier", f => Curation.hashedClassifier(f(docs))),
      ("pqEncode", f => Similarity.pqEncode(f(emb), 4, 8)),
      ("pqAdcSearch", f => Similarity.pqAdcSearch(f(emb), 4, 8, 4, 5)),
      ("pqRerankSearch", f => Similarity.pqRerankSearch(f(emb), 4, 8, 4, 50, 5)),
      ("corpusPipeline", f =>
        Curation.corpusPipeline(f(docs), 20L, 90L, 0.37, 0.12, 16, "g5")),
      // The MG candidate SET varies with partitioning; the exact pass-2
      // gate must erase that variance from the final answer.
      ("heavyHitters", f => TextAnalysis.heavyHitters(f(docs), 64, 50L)),
      ("spanDedupOffsets", f => Curation.spanDedupOffsets(f(docs), 10)),
      // Training loops: per-round rounding + exact-integer sums make
      // every fed-back centroid partition-order-free, so the FINAL
      // trained artifact must be layout-invariant too.
      ("kmeansTrain", f => Similarity.kmeansTrain(f(emb), 8, 3)),
      ("ivfSearchTrained", f => Similarity.ivfSearchTrained(f(emb), 8, 3, 4, 5)),
      ("pqTrain", f => Similarity.pqTrain(f(emb), 4, 8, 3)),
      ("bpeTrain", f => TextAnalysis.bpeTrain(f(docs), 8)),
      ("bpeTokenize", f => TextAnalysis.bpeTokenize(f(docs), 8)),
      ("bpeTokenizeSplit", f => TextAnalysis.bpeTokenizeSplit(f(docs), 250L, 8)),
      ("pqAdcSearchTrained", f => Similarity.pqAdcSearchTrained(f(emb), 4, 8, 3, 4, 5)),
      ("imageDecode", f => Multimodal.imageDecode(f(docs))),
      ("perceptronTrain", f => Classifier.perceptronTrain(f(docs), 64, 4, "en")),
      // DSIR: the λ model reduces on a bounded bucket space with exact
      // integer quantization, so weights AND the Gumbel sample must be
      // layout-free.
      ("dsirWeights", f => Pipeline.dsirWeights(f(docs))),
      ("dsirResample", f => Pipeline.dsirResample(f(docs), 100)),
      ("dupNgramCoverage", f => Curation.dupNgramCoverage(f(docs), 8, 0.2)),
      ("int8Quantize", f => Similarity.int8Quantize(f(emb))),
      ("ivfPqSearch", f => Similarity.ivfPqSearch(f(emb), 8, 4, 8, 3, 4, 5, 2)),
      ("bm25", f => TextAnalysis.bm25(f(docs), Seq("spark", "join", "window"), 20)),
      ("hybridRrf", f =>
        Similarity.hybridRrf(f(docs), f(emb), Seq("spark", "join", "window"), 20, 10)),
      // PCA: the Gram matrix integer-sums onto a bounded key space and
      // the driver iteration is a pure function of it — the trained
      // component and every projection must be layout-free.
      ("pcaPower", f => Similarity.pcaPower(f(emb), 6)),
      ("pcaProject", f => Similarity.pcaProject(f(emb), 6)),
      // Markup parse chain is per-row; ordering comes only from the
      // presentation sort.
      ("htmlExtract", f => Html.extractText(f(docs))),
      ("htmlMainContent", f => Html.mainContent(f(docs))),
      ("htmlLinks", f => Html.links(f(docs))),
      // Stored-index serving: the ranking must not depend on how the
      // CODE TABLE is laid out (the store's cid partitioning is an
      // optimization, not a correctness dependency).
      ("storedAdcSearch", f => {
        import org.apache.spark.sql.functions.col
        Similarity.ivfPqSearchFrames(
          Similarity.withEmb(emb).filter(col("vec_id") < 4)
            .select(col("vec_id").as("qid"), col("emb")),
          graft.sources.VersionedVectorIndex.model(spark, annDir),
          f(graft.sources.VersionedVectorIndex.codes(spark, annDir)
            .filter(col("vec_id") >= 4)),
          4, 5, 2)
      }),
      // Round-8 closing additions: banded joins, grouped windows, and
      // hash sampling must all be layout-free; the KM/priority driver
      // folds consume sorted bounded tables, so they inherit it.
      ("attributionReport", f => Behavior.attributionReport(f(events), 604800000000L)),
      ("abReadout", f => Behavior.abReadout(f(events), "ab", 4, 86400000000L)),
      ("embeddingDrift", f => Profile.embeddingDrift(f(emb))),
      ("sessionSurvival", f => Temporal.sessionSurvival(f(events), 21600000000L)),
      ("triangles", f => WebGraph.triangles(f(docs))),
      ("cusum", f => Temporal.cusumChangePoints(f(events), 10L, 4L)),
      ("trendOls", f => Temporal.trendOls(f(events))),
      ("priorityEstimate", f => Sampling.priorityEstimate(f(events), 100, "pri")),
      // The CEP fold sorts within each user group, so the automaton's
      // input order — hence every match — is layout-free.
      ("cepMatches", f => Behavior.cepMatches(f(events), 172800000000L)),
      // Round-9 additions: the generalized pattern fold shares the same
      // per-user external sort; the anchored chunk grid digests are a
      // pure function of content.
      ("cepPattern4", f => Cep.matchesGeneric(f(events), Seq(
        CepStep("signup"),
        CepStep("view", timeoutUs = 345600000000L),
        CepStep("click", timeoutUs = 172800000000L),
        CepStep("purchase", minValue = Some(50.0), timeoutUs = 172800000000L)))),
      ("spanDedupAnchored", f => Curation.spanDedupAnchored(f(docs), 10, 8)))
  }

  /** One persisted index for the storedAdcSearch case (built once). */
  private lazy val annDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dinv_ann").toString
    graft.sources.VersionedVectorIndex.build(
      Tables.table(spark, sf, "embeddings"), d, 8, 4, 8, 2)
    d
  }

  test("results are identical under hash-scattered and single-partition inputs") {
    for ((name, run) <- cases) {
      val natural = run(identity)
      val scattered = run(_.repartition(7))
      val collapsed = run(_.coalesce(1))
      assert(same(natural, scattered), s"$name differs under repartition(7)")
      assert(same(natural, collapsed), s"$name differs under coalesce(1)")
    }
  }
}
