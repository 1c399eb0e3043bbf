package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, when}
import graft.operators._
import graft.{Fixtures => F}
import graft.sources.{DocStore, EventLogStore, Tables,
  VersionedTextIndex, VersionedVectorIndex}

/** Driver contract — see SURVEY.md §2C for the declared query
  * inventory. Every entry in [[queries]] has, where SQL-expressible, an
  * equivalent DuckDB oracle in [[oracleSql]]; column names and types are
  * aligned pairwise (the driver sorts columns by name and hash-compares
  * values).
  *
  * Cross-engine determinism rules used throughout:
  *   - event time = `ts_us` epoch-microseconds Long (see
  *     [[graft.sources.Tables.events]] for why micros, not nanos);
  *   - every float measure is `round(...)`-ed in BOTH engines;
  *   - every result has a total ORDER BY on unique key columns;
  *   - rank/row_number outputs cast to BIGINT on the Spark side
  *     (DuckDB window functions return BIGINT);
  *   - integer sums wrapped in CAST(... AS BIGINT) on the DuckDB side
  *     (DuckDB sums BIGINT into HUGEINT).
  */
object SparkEntry {

  // Fixed parameters shared by the Spark queries and the DuckDB oracles.
  /** Q1 delta-scan watermarks: 2024-01-10 / 2024-01-20 UTC in epoch-us
    * (events span 2024-01-01..2024-01-30 at every SF). */
  private val DeltaLastKnownUs = 1704844800000000L
  private val DeltaServerTUs = 1705708800000000L
  /** Q1b partitioned-store bucket: 1 day in us → ~30 buckets over the
    * corpus; the delta range spans 10 of them, so pruning is visible. */
  private[graft] val DeltaBucketUs = 86400000000L
  /** Session inactivity gap: 1 day in us (the reference's 10 s timeout
    * rescaled to the test data's natural timescale, model/game.go:12). */
  private val SessionGapUs = 86400000000L
  /** Q20 logical-clock tick: 1 h in us (the reference's 50 ms tick,
    * model/game.go:15, rescaled to the corpus timescale). */
  private val SyncTickUs = 3600000000L
  private val TopK = 10
  // LLM-pipeline query parameters (Q17-Q19, Q21).
  private val NearDupThreshold = 0.2
  private val QueryVecId = 0L
  private val SimTopK = 50
  private[graft] val NumCentroids = 8
  private val ClusterTopK = 3
  private val EmbPairsK = 20
  /** Q18e batch-search parameters: queries = vec_id < 4, top-5 each. */
  private[graft] val BatchQueries = 4
  private val BatchTopK = 5
  /** Q18h: number of independent SRP-LSH hash tables. */
  private val LshTables = 4
  /** Q58: eval split (doc_id % modulus == 0) and contamination flag threshold. */
  private val ContamModulus = 25L
  private val ContamThreshold = 0.1
  /** Q59: sequence-packing token budget (docs average ~54 tokens, so a
    * 256-token sequence holds a handful of whole documents). */
  private val PackBudget = 256L
  /** Q62: training-token budget (~1/3 of the sf0.01 corpus's ~27k
    * tokens, so the quality threshold lands mid-distribution) and the
    * quality-histogram cell count. */
  private val SelectBudget = 10000L
  private val BudgetBins = 20
  /** Q64: doc-store bucket span (50 ids ⇒ 10 buckets at sf0.01's 500
    * docs) and the lookup's id range (spans 2 of the 10 buckets). */
  private[graft] val DocSpan = 50L
  private val DocLookupLo = 120L
  private val DocLookupHi = 180L
  /** Q63b: training-token budget (~2× the sf0.01 corpus, so upweighted
    * sources plan >1 epoch and downweighted ones <1). */
  private val EpochBudget = 50000L
  /** Q65: funnel gates chosen mid-distribution for the corpus (tokens
    * 10–99 median 56; quality median ≈0.38; top-token fraction median
    * ≈0.09, p90 ≈0.14) so every stage visibly bites. */
  private val FunnelMinTok = 20L
  private val FunnelMaxTok = 90L
  private val FunnelMinQuality = 0.37
  private val FunnelMaxTopTok = 0.12
  /** Q67: within-cluster cosine threshold (p99 of within-cluster pairs
    * ≈0.32 on this corpus, so ~1% of pairs qualify) and the skew cap. */
  private val SemThreshold = 0.3
  private val SemMaxCluster = 512
  /** Q73: product quantization — 4 subspaces of 16 dims, 8 codes per
    * sub-codebook (codes per vector: 4 small ints vs 64 floats). */
  private[graft] val PqSub = 4
  private[graft] val PqCodes = 8
  /** Q73c: ADC shortlist size before the exact re-rank. */
  private val PqShortlist = 50
  /** Q50b/Q18i: Lloyd-iteration cap for in-engine k-means training —
    * the oracle unrolls exactly this many rounds; the engine may stop
    * earlier at a fixpoint (provably the same output). */
  private[graft] val KmeansIters = 3
  /** Q79: number of BPE merges learned over the corpus vocabulary. */
  private val NumMerges = 8
  /** Q81: hashed-perceptron training — feature buckets, full-batch
    * round cap (oracle unrolls exactly this many; the engine may stop
    * earlier at a fixpoint), and the positive-class language. */
  private val LrBuckets = 64
  private val LrIters = 4
  private val LrPosLang = "en"
  /** Q82b: DSIR Gumbel-top-k sample size. */
  private val DsirSampleK = 100
  /** Q85: probed coarse cells per query in IVF-PQ search. */
  private val IvfPqProbes = 2
  /** Q93: web-funnel token gate + per-host cap (bites at every SF:
    * docs run ~8-100 words, main content adds 2; hosts hold ~71 docs
    * per 500). */
  private val WebMinTok = 20L
  private val WebMaxTok = 95L
  private val WebHostCap = 40
  /** Q90: vectors with vec_id ≥ this arrive AFTER the index is built
    * and are admitted by [[VersionedVectorIndex.append]]
    * (below the 500-row sf0.001 embedding count, so both sides are
    * non-empty at every SF). */
  private[graft] val AnnAppendSplit = 400L
  /** Q98: tombstone-deleted corpus vec_ids — residue `AnnDeleteRes`
    * mod `AnnDeleteMod` (≈1/7 of the corpus, so deletion visibly
    * reshapes top-k at every SF; query ids `< BatchQueries` are
    * exempt — queries come from outside the index).
    */
  private[graft] val AnnDeleteMod = 7L
  private[graft] val AnnDeleteRes = 3L
  /** Q99: PageRank power-iteration rounds (oracle unrolls exactly
    * this many; exact-integer grid, so engine and oracle agree
    * bit-for-bit at every round).
    */
  private val PrRounds = 4
  /** Q101: tombstone-deleted documents of the lexical index — residue
    * `TextDeleteRes` mod `TextDeleteMod` (distinct from the ANN
    * residue; ~1/9 of the corpus so deletion reshapes rankings AND the
    * df/avgdl model at every SF).
    */
  private[graft] val TextDeleteMod = 9L
  private[graft] val TextDeleteRes = 4L
  /** Q111: upserted documents — residue `TextUpsertRes` mod
    * `TextUpsertMod`, text patched with a fixed suffix. The set crosses
    * the append boundary AND the delete residue, so the one atomic
    * upsert commit exercises replacement of live docs and revival of
    * tombstoned ones together.
    */
  private[graft] val TextUpsertMod = 5L
  private[graft] val TextUpsertRes = 1L
  private[graft] val TextUpsertSuffix = " spark spark window"
  /** Q111d: upserted (re-embedded) vector ids — residue `AnnUpsertRes`
    * mod `AnnUpsertMod` among APPENDED ids only (vec_id ≥ the append
    * split), so the DuckDB mirror's k-means/PQ training set stays
    * byte-identical to the stored model's.
    */
  private[graft] val AnnUpsertMod = 5L
  private[graft] val AnnUpsertRes = 2L
  /** Q112d: the nearest-as-of reach bound — 1 day in µs. At every SF
    * the per-user purchase cadence (January-spread events) leaves some
    * clicks with a purchase inside the day and some with none.
    */
  private val AsofNearestTolUs = 86400000000L
  /** Q113: the z-ordered events layout — (user_id, ts_us) interleaved,
    * per-file stats manifest — and the box predicates the queries probe
    * it with. The time window is SF-stable (the generator always emits
    * January 2024); the user range selects ~5 users at every SF.
    */
  private[graft] val SkipFiles = 32
  private val SkipUserLo = 3L
  private val SkipUserHi = 7L
  private val SkipTsLo = 1704844800000000L   // 2024-01-10T00:00:00Z, µs
  private val SkipTsHi = 1705276800000000L   // 2024-01-15
  private val SkipTs2Lo = 1705708800000000L  // 2024-01-20
  private val SkipTs2Hi = 1705881600000000L  // 2024-01-22
  /** Q116: the Bloom-probe id set — fixed event_ids present at every
    * SF (ids are dense from 0), scattered across the z-order so their
    * min/max boxes are useless and only the Bloom tier can prune.
    */
  private val BloomProbeIds = Seq(11L, 97L, 203L, 404L, 555L, 606L, 707L, 808L, 909L, 990L)
  /** Query batch (qid, emb) for the stored-index searches — the q85
    * convention: vec_id < BatchQueries are the queries. */
  private def annQueryBatch(s: SparkSession, d: String): DataFrame =
    Similarity.queryVectors(Tables.table(s, d, "embeddings"), col("vec_id") < BatchQueries)
  /** IVF-PQ ADC search of the query batch against ONE resolved
    * snapshot of the ANN store at `dir` (Latest unless pinned): the
    * live codes of the vec_id ≥ BatchQueries corpus, nSub from the
    * snapshot's recorded parameters. */
  private def annSearch(s: SparkSession, d: String, dir: String,
                        version: Long = VersionedVectorIndex.Latest): DataFrame = {
    val a = VersionedVectorIndex.serving(s, dir, version)
    Similarity.ivfPqSearchFrames(annQueryBatch(s, d), a.model,
      a.liveCodes.filter(col("vec_id") >= BatchQueries), a.nSub, BatchTopK, IvfPqProbes)
  }
  /** The stored code table summarized for the oracle: one row per
    * vector, codes joined to a CSV (cell id + codes pin the whole
    * artifact). */
  private def codesSummary(s: SparkSession, dir: String): DataFrame =
    VersionedVectorIndex.codes(s, dir)
      .select(col("vec_id"), col("cid"),
        expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')").as("codes_csv"))
      .orderBy("vec_id")
  /** Q86: BM25 query terms (present in the synthetic vocabulary) and
    * result-list size. */
  private val Bm25Terms = Seq("spark", "join", "window")
  /** Q119: the "query encoder output" — a bounded weighted-term set
    * (vocabulary words present at every SF; exact-integer weights).
    */
  private val SparseQueryWeights = Seq(("spark", 5L), ("join", 3L), ("window", 1L))
  private val Bm25K = 20
  /** Q122: only vectors with this metadata label may rank (~10% of
    * the corpus at every SF). */
  private val FilterLabel = 3
  /** Q123: trailing-window length (hours) and the z threshold. */
  private val AnomalyWindow = 24
  private val AnomalyZ = 3
  /** Q125: winsorization percentile band. */
  private val WinsorLo = 0.05
  private val WinsorHi = 0.95
  /** Q128: max edit distance for a fuzzy entity match. */
  private val FuzzyMaxDist = 2
  /** Q130: attribution lookback window — 7 days in epoch-us (the
    * corpus spans 30 days, so windows are non-degenerate at every SF). */
  private val AttribWindowUs = 604800000000L
  /** Q131: experiment salt and the squared z threshold (z = 2 ≈ the
    * two-sided 95% gate). */
  private val AbSalt = "ab"
  private val AbZ2 = 4
  /** Q131: conversion = activation — a purchase within 24 h of the
    * user's first event (~50% of users at every SF, so the readout is
    * non-degenerate). */
  private val ActivationUs = 86400000000L
  /** Q133: session gap — 6 h (the q09 rule at the timescale that
    * yields a mixed churned/censored population at every SF). */
  private val SurvivalGapUs = 21600000000L
  /** Q135: scale-relative CUSUM tuning — slack = μ_c div 10 (10% of
    * the mean per hour), alarm threshold = 4·μ_c (four mean-hours of
    * accumulated excess). */
  private val CusumSlackDiv = 10L
  private val CusumThresholdMult = 4L
  /** Q136: priority-sample size and its hash salt. */
  private val PriorityK = 200
  private val PrioritySalt = "pri"
  /** Q138: CEP step window — 2 days (per-user event gaps average
    * ~11 h, so both the match and the step-timeout branch fire at
    * every SF). */
  private val CepWithinUs = 172800000000L
  /** Q139: the 4-step pattern's heterogeneous knobs — the view step
    * gets a 4-day window (signups are sparse anchors) and the terminal
    * purchase carries a value predicate, so per-step timeouts AND
    * per-step predicates both exercise at every SF. */
  private val Cep4ViewTimeoutUs = 345600000000L
  private val Cep4MinPurchase = 50.0
  /** Q139b: the quantified pattern's purchase floor (click{3} with
    * per-gap CepWithinUs, then purchase ≥ this within CepWithinUs). */
  private val CepQuantMinPurchase = 30.0
  /** Q129: DP budget — Laplace scale b = 1/ε = 2. */
  private val DpEpsilon = 0.5
  /** Q127: the erased subjects — ids ≡ ErasureRes (mod ErasureMod) in
    * BOTH the text and vector stores (no query vector is erased:
    * ErasureRes ≥ BatchQueries). */
  private[graft] val ErasureMod = 13
  private[graft] val ErasureRes = 5
  /** Q140 family: raw-table DML lifecycle on the events fact store —
    * v1 build (z-ordered on user/time), v2 GDPR delete (one user
    * residue class), v3 upsert (a corrections batch, disjoint from the
    * deleted users so the two mutations compose associatively in the
    * oracle), v4 compact. */
  private[graft] val FactFiles = 8
  /** Q140h: the point-probe key list — fixed ids present at every SF
    * (event_id is 0-based dense), spanning patched (≡3 mod 7),
    * deleted-user, and plain rows. */
  private val FactPointIds: Seq[Long] = Seq(7L, 17L, 42L, 303L, 666L, 999L)
  /** Q140g: the corrections batch applied THROUGH the rename (keys
    * chosen disjoint from nothing — plain mod — since q140g has no
    * delete leg). */
  private[graft] val FactRenamePatchMod = 11L
  private[graft] val FactRenamePatchRes = 4L
  private[graft] val FactRenamePatchBump = 50.0
  private[graft] val FactDelUserMod = 13L
  private[graft] val FactDelUserRes = 5L
  private[graft] val FactPatchMod = 7L
  private[graft] val FactPatchRes = 3L
  private[graft] val FactPatchBump = 1000.0
  // Q140k/l: conditional MERGE — the matched residue's value shifts
  // +Shift on even ids / −Shift on odd, so `s.value >= t.value` splits
  // exactly on parity; the insert residue re-keys beyond any real id.
  private[graft] val FactMergeMod = 9L
  private[graft] val FactMergeMatchRes = 4L
  private[graft] val FactMergeInsRes = 5L
  private[graft] val FactMergeShift = 100.0
  private[graft] val FactMergeIdOffset = 1000000000000L
  private[graft] val FactMergeInsMin = 50.0
  // Q140m: CHECK constraints — the audited batch's residue and re-key.
  private[graft] val FactConsMod = 5L
  private[graft] val FactConsIdOffset = 2000000000000L
  // Q140n: shallow clone — the clone-local reconciliation residue.
  private[graft] val FactCloneMod = 17L
  private[graft] val FactCloneRes = 2L
  // Q140o: type widening — the appended generation's clicks exceed
  // int range, so the widened BIGINT is load-bearing, not cosmetic.
  private[graft] val FactWidenBase = 3000000000L
  // Q140s: standard SQL UPDATE — which users' rows get rewritten.
  private[graft] val FactSqlUpdMod = 3L
  private[graft] val FactSqlUpdRes = 0L
  // Q140v: standard MERGE with compound-ON + BY SOURCE legs — the
  // inserted twin keys ride far above every real event_id, and the
  // offset is divisible by 12 so the twins keep their %3/%4 residues.
  private[graft] val FactMrgOff = 1200000000L
  /** Q124: minimum distinct users per released aggregate cell —
    * chosen so every SF exercises all three outcomes (hour-level
    * release, day-level generalization, suppression). */
  private val KAnonK = 5
  /** Q121: exact-phrase query (vocabulary bigram present at every SF)
    * and the NEAR-query pair + token window for q121b. */
  private val PhraseTerms = Seq("data", "line")
  private val ProximityTerms = ("spark", "query")
  private val ProximityWindow = 3
  /** Q87: fused result-list size for hybrid RRF. */
  private val RrfK = 10
  /** Q94: posting-store hash buckets (enough that a 3-term query's
    * bucket set prunes most files at every SF). */
  private[graft] val TextIndexBuckets = 16
  /** Q96: documents with doc_id ≥ this arrive AFTER the text index is
    * built (below the 500-row sf0.001 doc count). */
  private[graft] val TextAppendSplit = 400L
  /** Q104: LmStore lifecycle splits — base build < LmBaseSplit, the
    * append batch fills [LmBaseSplit, TextAppendSplit); the delete
    * batch is [LmDeleteFrom, TextAppendSplit). All three bands are
    * non-empty at every SF (500-row sf0.001 documents floor).
    */
  private[graft] val LmBaseSplit = 200L
  private[graft] val LmDeleteFrom = 300L
  /** Q97: the fixed query batch — query 2 repeats a term so the
    * multiplicity weighting is oracle-pinned. */
  private val BatchBm25Queries: Seq[(Long, Seq[String])] = Seq(
    (0L, Bm25Terms),
    (1L, Seq("merge", "table")),
    (2L, Seq("filter", "spark", "spark")))
  private val BatchBm25K = 10
  /** Q88: power-iteration rounds for the top principal component. */
  private val PcaRounds = 6
  /** Q83: duplicate-coverage n-gram length and the flagging threshold
    * (docs with ≥20% duplicated n-gram positions get cut). */
  private val DupGramN = 8
  private val DupGramFlag = 0.2
  /** Q70: span-dedup chunk length in tokens (docs average ~54 tokens,
    * so a typical doc is ~5 chunks and the 30-word shared vocabulary
    * makes cross-document chunk collisions common enough to bite). */
  private val SpanLen = 10
  /** Q70c: expected content-defined chunk length (tokens per anchor —
    * a token anchors iff hash48(token) % AnchorMod == 0). */
  private val AnchorMod = 8
  /** Q71: training-shard count and shuffle salt. */
  private val NumShards = 16
  private val ShuffleSalt = "g5"
  /** Q22 mixture: per-source sampling rates (rest at the default). */
  private val MixRates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  private val MixDefaultRate = 0.1
  private val MixSalt = "mix1"
  /** Q21b: sample up to this many evenly-spaced frames per media item. */
  private val MaxFrames = 4
  /** Q21c: resize target — long side capped here, never upscaled. */
  private val MaxResizeDim = 256
  /** Q26 histogram bucket width over events.value. */
  private val HistWidth = 25.0
  /** Q35/Q35b: drop terms/bigrams rarer than this (hapax trimming). */
  private val VocabMinOcc = 2L
  /** Q35c: TF-IDF terms kept per document. */
  private val TfIdfTopK = 3
  /** Q75: Misra–Gries summary capacity (map-task state bound). */
  private val HhCapacity = 64
  /** Q75: heavy-hitter share gate denominator — token qualifies iff
    * n_occ · HhShareDen > n_total (share > 2%); must be ≤ HhCapacity+1
    * for the sketch's candidate-superset guarantee. */
  private val HhShareDen = 50L
  /** Q48 association-rule support floor (applied to the ROUNDED support,
    * identically in both engines). */
  private val MinSupport = 0.05
  /** Q55 corpus/batch boundary: docs below are "the corpus", at/above
    * are "the arriving batch" (documents has 500 ids at every SF). */
  private val IncrementalSplitId = 250L
  /** Q43 train/val/test split salt and Q47 per-stratum sample params. */
  private val SplitSalt = "split1"
  private val SampleSalt = "samp1"
  private val GroupSampleK = 3
  /** Q27 pivot columns: the fixed event-type vocabulary of the corpus. */
  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")
  /** Q29 interval-join periods: 10 windows of 4 days every 3 days (so
    * consecutive periods overlap by 1 day) from the corpus start
    * (2024-01-01 UTC); band = 1 day. */
  private val PeriodStartUs = 1704067200000000L
  private val PeriodStepUs = 3L * 86400000000L
  private val PeriodLenUs = 4L * 86400000000L
  private val NumPeriods = 10
  private val PeriodBandUs = 86400000000L

  /** DuckDB mirror of [[graft.functions.Deterministic.exactSum]]: scale
    * each row to an integer (per-row IEEE ops are bit-identical across
    * engines), sum integers (exact, order-free), divide back. Every
    * oracle measure that pairs with exactSum on the Spark side MUST use
    * this form — pairing exactSum against a raw-double `sum()` is a
    * latent hash flake whenever a group total lands on a rounding
    * boundary (that is exactly how round-1 q15 failed).
    */
  private def exactSumSql(x: String, decimals: Int): String = {
    val scale = math.pow(10, decimals).toLong
    s"CAST(sum(CAST(round(($x) * $scale) AS BIGINT)) AS DOUBLE) / $scale"
  }

  /** DuckDB mirror of [[graft.functions.Deterministic.roundTo]]: the
    * portable `floor(x * 10^d + 0.5) / 10^d` rounding — engine-native
    * round() disagrees across engines on boundary doubles.
    */
  private def roundSql(x: String, decimals: Int): String = {
    val scale = math.pow(10, decimals).toLong
    s"(floor(($x) * $scale + 0.5) / $scale)"
  }

  /** DuckDB mirror of [[graft.operators.Similarity]]'s cosine: identical
    * index-order folds over double lists.
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))
        / (sqrt(list_sum(list_transform($a, x -> x * x)))
           * sqrt(list_sum(list_transform($b, x -> x * x)))))"""

  /** DuckDB CTE mirroring [[graft.operators.Dedup]]'s word-3-gram
    * shingles (`sh(doc_id, sg)`) and MinHash signatures
    * (`sig(doc_id, sg, sig)`). 1-based list indexing here ↔ 0-based
    * array indexing on the Spark side.
    */
  /** Q60: DuckDB mirror of [[Snapshot.syntheticOld]] / [[Snapshot.syntheticNew]],
    * each reduced to (doc_id, md5) exactly as the engine does pre-join. */
  private val snapshotCtes =
    """o AS (SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id % 10 <> 3),
       n AS (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN md5(text || ' rev2') ELSE md5(text) END AS new_hash
             FROM documents WHERE doc_id % 7 <> 2)"""

  /** Shared CTEs for the PQ family (q73/b/c): embeddings as double
    * lists, the dense 0..n-1 sub-codebook, and every
    * (vector, subspace, code) squared-L2 on the exact 1e-6 integer
    * grid — 1-based DuckDB list slices of the 0-based Spark fold.
    */
  private val pqCte = {
    val sub = 64 / PqSub
    val sq = s"(e.emb[ms.m*$sub+i] - c.cemb[ms.m*$sub+i]) * (e.emb[ms.m*$sub+i] - c.cemb[ms.m*$sub+i])"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $PqCodes),
        d AS (SELECT e.vec_id, ms.m, c.cid,
                CAST(floor(list_sum(list_transform(generate_series(1, $sub),
                  i -> $sq)) * 1e6 + 0.5) AS BIGINT) AS erri
              FROM e CROSS JOIN (SELECT unnest(range($PqSub)) AS m) ms CROSS JOIN c)"""
  }

  /** DuckDB mirror of [[graft.operators.Similarity.pqTrain]]: the
    * per-subspace Lloyd loop unrolled `iters` times over the
    * (vec_id, m, subvector) explosion — the q73 distance contract
    * (exact 1e-6-grid squared L2, tie → lowest code) per round, means
    * rounded to 1e-4 and fed back as the next round's codebook.
    * Exposes `pe` (subvectors), `pm{iters}` (final long-form means)
    * and `pc{iters}` (final list-form codebooks).
    */
  /** The `iters` unrolled Lloyd rounds over a `pe` (vec_id, m, sv)
    * subvector CTE seeded by `pc0` — shared by the raw-vector trainer
    * ([[pqTrainRoundsCte]]) and q85's residual trainer, which supply
    * their own `pe`/`pc0` headers.
    */
  private def pqRounds(iters: Int, peName: String = "pe"): String = {
    val sub = 64 / PqSub
    val sq = "(pe.sv[i] - c.cemb[i]) * (pe.sv[i] - c.cemb[i])"
    (1 to iters).map { r =>
      s"""ps$r AS (SELECT pe.vec_id, pe.m, c.cid,
                 CAST(floor(list_sum(list_transform(generate_series(1, $sub),
                   i -> $sq)) * 1e6 + 0.5) AS BIGINT) AS erri
               FROM $peName pe JOIN pc${r - 1} c ON c.m = pe.m),
          pa$r AS (SELECT vec_id, m, cid, erri FROM
                   (SELECT *, row_number() OVER
                      (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM ps$r)
                 WHERE rn = 1),
          pu$r AS (SELECT a.m, a.cid, unnest(pe.sv) AS val,
                   generate_subscripts(pe.sv, 1) - 1 AS dim
                 FROM pa$r a JOIN $peName pe ON pe.vec_id = a.vec_id AND pe.m = a.m),
          pm$r AS (SELECT m, cid, CAST(dim AS BIGINT) AS dim, count(*) AS n,
                   ${roundSql(s"(${exactSumSql("val", 6)}) / count(*)", 4)} AS mean_val
                 FROM pu$r GROUP BY m, cid, dim),
          pc$r AS (SELECT m, cid, list(mean_val ORDER BY dim) AS cemb
                 FROM pm$r GROUP BY m, cid)"""
    }.mkString(",\n          ")
  }

  private def pqTrainRoundsCte(iters: Int): String = {
    val sub = 64 / PqSub
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        pe AS (SELECT vec_id, ms.m, e.emb[ms.m * $sub + 1 : ms.m * $sub + $sub] AS sv
               FROM e CROSS JOIN (SELECT unnest(range($PqSub)) AS m) ms),
        pc0 AS (SELECT m, vec_id AS cid, sv AS cemb FROM pe WHERE vec_id < $PqCodes),
        ${pqRounds(iters)}"""
  }

  /** ADC scoring CTEs on top of [[pqCte]]: corpus code table, exact
    * BIGINT LUT sums per (query, vector), rounded `adc` (`sc`). */
  private val pqAdcCte =
    s"""codes AS (SELECT vec_id, m, cid AS code FROM
                    (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                       ORDER BY erri, cid) AS rn FROM d)
                  WHERE rn = 1 AND vec_id >= $BatchQueries),
        adc AS (SELECT d.vec_id AS qid, codes.vec_id,
                  CAST(sum(d.erri) AS BIGINT) AS adci
                FROM codes JOIN d ON d.m = codes.m AND d.cid = codes.code
                WHERE d.vec_id < $BatchQueries
                GROUP BY 1, 2),
        sc AS (SELECT qid, vec_id,
                 ${roundSql("CAST(adci AS DOUBLE) / 1e6", 4)} AS adc
               FROM adc)"""

  /** DuckDB mirror of [[graft.operators.Similarity.kmeansTrain]]: the
    * q50 single-step oracle unrolled `iters` times. Round r assigns
    * every vector to its best round-(r-1) centroid (argmax by rounded
    * sim DESC, cid ASC — the assignments contract), recomputes
    * per-(cid, dim) means on the exact-integer grid, rounds to 1e-4,
    * and rebuilds the centroid lists ordered by dim. Exposes
    * `m{iters}` (long-form final means) and `c{iters}` (list-form
    * centroids) to the consuming query.
    */
  /** `trainPred` (a predicate over `vec_id`) restricts the TRAINING
    * population (`et`): Lloyd rounds assign and average only training
    * vectors, while consumers still assign the FULL `e` against the
    * final centroids — the q90 incremental-index contract (train on
    * the base corpus, admit later arrivals without retraining).
    * The default TRUE keeps every pre-q90 oracle byte-identical in
    * effect (et = e).
    */
  private def kmeansRoundsCte(iters: Int, trainPred: String = "TRUE",
                              embExpr: String = "CAST(embedding AS DOUBLE[])"): String = {
    val rounds = (1 to iters).map { r =>
      s"""s$r AS (SELECT e.vec_id, c.cid,
                ${roundSql(cosSql("e.emb", "c.cemb"), 6)} AS sim
              FROM et e CROSS JOIN c${r - 1} c),
          a$r AS (SELECT vec_id, cid FROM
                  (SELECT vec_id, cid, row_number() OVER
                     (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s$r)
                WHERE rn = 1),
          u$r AS (SELECT a.cid, unnest(e.emb) AS val,
                  generate_subscripts(e.emb, 1) - 1 AS dim
                FROM a$r a JOIN et e ON e.vec_id = a.vec_id),
          m$r AS (SELECT cid, CAST(dim AS BIGINT) AS dim, count(*) AS n,
                  ${roundSql(s"(${exactSumSql("val", 6)}) / count(*)", 4)} AS mean_val
                FROM u$r GROUP BY cid, dim),
          c$r AS (SELECT cid, list(mean_val ORDER BY dim) AS cemb FROM m$r GROUP BY cid)"""
    }.mkString(",\n          ")
    s"""e AS (SELECT vec_id, $embExpr AS emb FROM embeddings),
        et AS (SELECT * FROM e WHERE $trainPred),
        c0 AS (SELECT vec_id AS cid, emb AS cemb FROM et WHERE vec_id < $NumCentroids),
        $rounds"""
  }

  /** DuckDB mirror of [[graft.operators.Classifier.trainLoop]]: the
    * integer-perceptron full-batch update unrolled `iters` rounds over
    * the sparse hashed-count features (absent (doc, bucket) pairs are
    * zero counts and contribute nothing to either the margin or the
    * update, so the sparse join equals the engine's dense arrays).
    * Pure BIGINT arithmetic end to end — no rounding grid. Exposes
    * `feat` (doc_id, y, j, x) and `lw{iters}` (final weights).
    */
  private def perceptronRoundsCte(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""lm$r AS (SELECT f.doc_id, f.y, CAST(sum(f.x * w.w) AS BIGINT) AS margin
                FROM feat f JOIN lw${r - 1} w USING (j) GROUP BY 1, 2),
          lu$r AS (SELECT f.j,
                  CAST(sum((m.y - CASE WHEN m.margin >= 0 THEN 1 ELSE 0 END) * f.x) AS BIGINT) AS d
                FROM feat f JOIN lm$r m USING (doc_id) GROUP BY 1),
          lw$r AS (SELECT w.j, CAST(w.w + coalesce(u.d, 0) AS BIGINT) AS w
                FROM lw${r - 1} w LEFT JOIN lu$r u USING (j))"""
    }.mkString(",\n          ")
    s"""dy AS (SELECT doc_id, CASE WHEN lang = '$LrPosLang' THEN 1 ELSE 0 END AS y
              FROM documents),
        tok AS (SELECT d.doc_id, dy.y,
                  CAST(CAST('0x' || substr(md5('lrb:' || t.t), 1, 12) AS BIGINT)
                    % $LrBuckets AS BIGINT) AS j
                FROM documents d JOIN dy USING (doc_id)
                CROSS JOIN UNNEST(string_split(d.text, ' ')) AS t(t)),
        feat AS (SELECT doc_id, y, j, CAST(count(*) AS BIGINT) AS x
                 FROM tok GROUP BY 1, 2, 3
                 UNION ALL
                 SELECT doc_id, y, CAST($LrBuckets AS BIGINT) AS j,
                        CAST(1 AS BIGINT) AS x FROM dy),
        lw0 AS (SELECT CAST(t.j AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
                FROM range(${LrBuckets + 1}) t(j)),
        $rounds"""
  }

  /** Shared CTE chain of the q85 family: coarse k-means, final
    * assignment + residuals, residual-trained PQ codebooks, corpus
    * codes, per-probed-cell query LUTs, and the rounded ADC scores
    * (`sc2` (qid, vec_id, adc)) restricted to probed cells.
    */
  private def ivfPqCtesFor(trainPred: String,
                           embExpr: String = "CAST(embedding AS DOUBLE[])"): String = {
    val sub = 64 / PqSub
    val n = KmeansIters
    s"""${kmeansRoundsCte(n, trainPred, embExpr)},
          sf AS (SELECT e.vec_id, c.cid,
                   ${roundSql(cosSql("e.emb", "c.cemb"), 6)} AS sim
                 FROM e CROSS JOIN c$n c),
          af AS (SELECT vec_id, cid FROM
                   (SELECT vec_id, cid, row_number() OVER
                      (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sf)
                 WHERE rn = 1),
          re AS (SELECT e.vec_id, af.cid,
                   list_transform(generate_series(1, 64), i -> e.emb[i] - c.cemb[i]) AS emb
                 FROM e JOIN af USING (vec_id) JOIN c$n c ON c.cid = af.cid),
          pe AS (SELECT vec_id, ms.m, re.emb[ms.m * $sub + 1 : ms.m * $sub + $sub] AS sv
                 FROM re CROSS JOIN (SELECT unnest(range($PqSub)) AS m) ms),
          pet AS (SELECT * FROM pe WHERE $trainPred),
          pc0 AS (SELECT m, vec_id AS cid, sv AS cemb FROM pet WHERE vec_id < $PqCodes),
          ${pqRounds(n, "pet")},
          fps AS (SELECT pe.vec_id, pe.m, b.cid,
                    CAST(floor(list_sum(list_transform(generate_series(1, $sub),
                      i -> (pe.sv[i] - b.cemb[i]) * (pe.sv[i] - b.cemb[i])))
                      * 1e6 + 0.5) AS BIGINT) AS erri
                  FROM pe JOIN pc$n b ON b.m = pe.m),
          pco AS (SELECT vec_id, m, cid AS code FROM
                    (SELECT *, row_number() OVER
                       (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM fps)
                  WHERE rn = 1 AND vec_id >= $BatchQueries),
          prb AS (SELECT vec_id AS qid, cid FROM
                    (SELECT vec_id, cid, row_number() OVER
                       (PARTITION BY vec_id ORDER BY sim DESC, cid) AS pr
                     FROM sf WHERE vec_id < $BatchQueries)
                  WHERE pr <= $IvfPqProbes),
          qre AS (SELECT p.qid, p.cid AS pcid,
                    list_transform(generate_series(1, 64), i -> e.emb[i] - c.cemb[i]) AS emb
                  FROM prb p JOIN e ON e.vec_id = p.qid JOIN c$n c ON c.cid = p.cid),
          qpe AS (SELECT qid, pcid, ms.m,
                    qre.emb[ms.m * $sub + 1 : ms.m * $sub + $sub] AS sv
                  FROM qre CROSS JOIN (SELECT unnest(range($PqSub)) AS m) ms),
          qlt AS (SELECT qid, pcid, qpe.m, b.cid AS code,
                    CAST(floor(list_sum(list_transform(generate_series(1, $sub),
                      i -> (qpe.sv[i] - b.cemb[i]) * (qpe.sv[i] - b.cemb[i])))
                      * 1e6 + 0.5) AS BIGINT) AS erri
                  FROM qpe JOIN pc$n b ON b.m = qpe.m),
          cand AS (SELECT l.qid, co.vec_id, CAST(sum(l.erri) AS BIGINT) AS adci
                   FROM pco co
                   JOIN af ON af.vec_id = co.vec_id
                   JOIN qlt l ON l.pcid = af.cid AND l.m = co.m AND l.code = co.code
                   GROUP BY 1, 2),
          sc2 AS (SELECT qid, vec_id,
                    ${roundSql("CAST(adci AS DOUBLE) / 1e6", 4)} AS adc FROM cand)"""
  }

  private val ivfPqCtes: String = ivfPqCtesFor("TRUE")

  /** Q18i's oracle, shared verbatim by q89b (stored-centroid search):
    * trained-centroid assignment + the q18e batch-search shape.
    */
  private lazy val q18iOracleSql: String =
    s"""WITH ${kmeansRoundsCte(KmeansIters)},
        sf AS (SELECT e.vec_id, c.cid,
                 ${roundSql(cosSql("e.emb", "c.cemb"), 6)} AS sim
               FROM e CROSS JOIN c$KmeansIters c),
        af AS (SELECT vec_id, cid FROM
                 (SELECT vec_id, cid, row_number() OVER
                    (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sf)
               WHERE rn = 1),
        asg AS (SELECT af.vec_id, af.cid, e.emb FROM af JOIN e USING (vec_id)),
        q AS (SELECT vec_id AS qid, cid, emb AS qemb FROM asg WHERE vec_id < $BatchQueries),
        corp AS (SELECT cid, vec_id, emb FROM asg WHERE vec_id >= $BatchQueries),
        sc AS (SELECT q.qid, corp.vec_id,
                 ${roundSql(cosSql("corp.emb", "q.qemb"), 4)} AS score
               FROM corp JOIN q USING (cid)),
        rk AS (SELECT qid, vec_id, score, row_number() OVER
                 (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk FROM sc)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, score
        FROM rk WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q86's oracle, shared verbatim by q94 (stored-postings BM25). */
  private lazy val q86OracleSql: String =
    s"""WITH $bm25Cte
        SELECT doc_id, dl, score_micros,
               CAST(score_micros AS DOUBLE) / 1e6 AS score
        FROM bsc WHERE score_micros > 0
        ORDER BY score_micros DESC, doc_id LIMIT $Bm25K"""

  /** Q102/q104 family: the q49 scoring chain with the MODEL CTEs
    * restricted by `modelPred` and the arriving batch fixed at
    * doc_id ≥ TextAppendSplit — one oracle shape for every LmStore
    * lifecycle state (built, appended, negative-segment-deleted,
    * compacted): whatever maintenance ran, scores must equal ONE
    * model over the live corpus.
    */
  private def storedLmOracleSql(modelPred: String): String =
    s"""WITH bw AS (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents WHERE $modelPred),
         v AS (SELECT word, count(*) AS n_w FROM bw GROUP BY word),
         t AS (SELECT count(*) AS n_total FROM bw),
         aw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents WHERE doc_id >= $TextAppendSplit),
         x AS (SELECT aw.doc_id, v.n_w IS NULL AS oov,
                 ${roundSql("-ln(CAST(COALESCE(v.n_w, 1) AS DOUBLE) / t.n_total)", 4)} AS nll
               FROM aw LEFT JOIN v USING (word) CROSS JOIN t)
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               ${roundSql(s"(${exactSumSql("nll", 4)}) / count(*)", 4)} AS mean_nll
        FROM x GROUP BY doc_id ORDER BY doc_id"""

  /** Q101/q101b: the q86 chain restricted to the live corpus — the
    * base CTE's doc predicate excludes the tombstoned residue, so df,
    * n_docs and avgdl all follow the deletion (exactly what the stats
    * retreat + live-postings df produce engine-side).
    */
  private lazy val q101OracleSql: String =
    s"""WITH ${bm25CteFor(Bm25Terms, "b", s"doc_id % $TextDeleteMod <> $TextDeleteRes")}
        SELECT doc_id, dl, score_micros,
               CAST(score_micros AS DOUBLE) / 1e6 AS score
        FROM bsc WHERE score_micros > 0
        ORDER BY score_micros DESC, doc_id LIMIT $Bm25K"""

  /** Q111: the q86 chain over the PATCHED live corpus — every mod-5
    * doc's text carries the upsert suffix (dl, tf, df, avgdl all
    * follow), and the live set is (not deleted) OR upserted (the
    * upsert revives the deleted docs it touches).
    */
  private lazy val q111OracleSql: String = {
    val patched =
      s"""(SELECT doc_id,
             CASE WHEN doc_id % $TextUpsertMod = $TextUpsertRes
                  THEN text || '$TextUpsertSuffix' ELSE text END AS text
           FROM documents) pdocs"""
    s"""WITH ${bm25CteFor(Bm25Terms, "b",
        s"doc_id % $TextDeleteMod <> $TextDeleteRes OR doc_id % $TextUpsertMod = $TextUpsertRes",
        patched)}
        SELECT doc_id, dl, score_micros,
               CAST(score_micros AS DOUBLE) / 1e6 AS score
        FROM bsc WHERE score_micros > 0
        ORDER BY score_micros DESC, doc_id LIMIT $Bm25K"""
  }

  /** Q112 family: the click→last-purchase point-in-time join, stated
    * through DuckDB's native ASOF JOIN (`joinKind` picks left/inner).
    */
  private val asofClickPurchaseCtes: String =
    s"""l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
              FROM events WHERE event_type = 'click'),
        r0 AS (SELECT user_id, epoch_us(ts) AS ts_us, value, event_id
               FROM events WHERE event_type = 'purchase'),
        r AS (SELECT user_id, ts_us AS purchase_ts_us, value AS purchase_value
              FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
                    FROM r0)
              WHERE rn = 1)"""

  private def asofOracleSql(joinKind: String, cmp: String = ">="): String =
    s"""WITH $asofClickPurchaseCtes
        SELECT l.event_id, l.user_id, l.ts_us, l.value,
               r.purchase_ts_us, r.purchase_value
        FROM l $joinKind r
          ON l.user_id = r.user_id AND l.ts_us $cmp r.purchase_ts_us
        ORDER BY l.event_id"""

  /** Q112d: nearest = the closer of two native ASOF joins (backward ≥,
    * forward ≤), each tolerance-gated, ties to backward — the engine's
    * exact selection rule restated over DuckDB's own ASOF operator.
    */
  private def asofNearestOracleSql(tolUs: Long): String =
    s"""WITH $asofClickPurchaseCtes,
        b AS (SELECT l.event_id, r.purchase_ts_us AS bts, r.purchase_value AS bv
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts_us >= r.purchase_ts_us),
        f AS (SELECT l.event_id, r.purchase_ts_us AS fts, r.purchase_value AS fv
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts_us <= r.purchase_ts_us)
        SELECT l.event_id, l.user_id, l.ts_us, l.value,
               CASE WHEN vb AND (NOT vf OR gb <= gf) THEN bts
                    WHEN vf THEN fts END AS purchase_ts_us,
               CASE WHEN vb AND (NOT vf OR gb <= gf) THEN bv
                    WHEN vf THEN fv END AS purchase_value
        FROM (SELECT l.*, b.bts, b.bv, f.fts, f.fv,
                     l.ts_us - b.bts AS gb, f.fts - l.ts_us AS gf,
                     b.bts IS NOT NULL AND l.ts_us - b.bts <= $tolUs AS vb,
                     f.fts IS NOT NULL AND f.fts - l.ts_us <= $tolUs AS vf
              FROM l JOIN b USING (event_id) JOIN f USING (event_id)) l
        ORDER BY l.event_id"""

  /** Q111d: the q107c chain with the encode-side embeddings PATCHED
    * for the upserted ids (training stays on the original base — the
    * upsert set lives entirely above the append split) and the
    * candidate set widened by the revived ids: live = (not deleted)
    * OR upserted.
    */
  private lazy val q111dOracleSql: String = {
    val upsPred =
      s"vec_id >= $AnnAppendSplit AND vec_id % $AnnUpsertMod = $AnnUpsertRes"
    val patchedEmb =
      s"""CASE WHEN $upsPred THEN list_reverse(CAST(embedding AS DOUBLE[]))
               ELSE CAST(embedding AS DOUBLE[]) END"""
    s"""WITH ${ivfPqCtesFor(s"vec_id < $AnnAppendSplit", patchedEmb)},
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
                FROM sc2
                WHERE vec_id % $AnnDeleteMod <> $AnnDeleteRes OR ($upsPred))
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""
  }

  /** Q85's oracle, shared verbatim by q89c (stored-index ADC search). */
  private lazy val q85OracleSql: String =
    s"""WITH $ivfPqCtes,
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk FROM sc2)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q85b's oracle, shared verbatim by q89d (stored-index rerank). */
  private lazy val q85bOracleSql: String =
    s"""WITH $ivfPqCtes,
        short AS (SELECT qid, vec_id FROM
                    (SELECT qid, vec_id, row_number() OVER
                       (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM sc2)
                  WHERE rn <= $PqShortlist),
        ex AS (SELECT s.qid, s.vec_id,
                 ${roundSql(
                   "list_sum(list_transform(generate_series(1, 64), " +
                     "i -> (eq.emb[i] - ec.emb[i]) * (eq.emb[i] - ec.emb[i])))", 4)} AS dist
               FROM short s
               JOIN e eq ON eq.vec_id = s.qid
               JOIN e ec ON ec.vec_id = s.vec_id),
        rk3 AS (SELECT qid, vec_id, dist, row_number() OVER
                  (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM ex)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, dist
        FROM rk3 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** The q85 chain trained on the pre-append base only — the q90
    * incremental-index oracle (assignment/encode still cover ALL
    * vectors, exactly what build-on-base + append produces).
    */
  private val ivfPqAppendCtes: String = ivfPqCtesFor(s"vec_id < $AnnAppendSplit")

  /** Q98/q98b: the full-corpus q85 chain with the tombstoned residue
    * excluded from the CANDIDATES only — the model (centroids,
    * codebooks, encodes) was trained before the deletion and is
    * untouched by it, exactly what tombstone-delete (and its physical
    * compaction) produce. Shared verbatim by both: compaction must not
    * change a single answer.
    */
  /** Q99: the closed-form link graph (`e`) and `PrRounds` unrolled
    * PageRank rounds (`r0`..`r$PrRounds`) — integer `//` at exactly
    * the two points the engine uses `div`, all values nonnegative, so
    * the grids agree bit-for-bit.
    */
  private lazy val pageRankCtes: String = {
    val rounds = (1 to PrRounds).map { k =>
      s"""r$k AS (SELECT d.doc_id,
               CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             FROM documents d LEFT JOIN (
               SELECT e.dst AS doc_id, sum(r${k - 1}.r // e.deg) AS s
               FROM e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src
               GROUP BY 1) s USING (doc_id))"""
    }.mkString(",\n        ")
    s"""nn AS (SELECT count(*) AS n FROM documents),
        e AS (SELECT d.doc_id AS src,
                (d.doc_id * 31 + j.j * 17 + 1) % nn.n AS dst,
                1 + d.doc_id % 3 AS deg
              FROM documents d CROSS JOIN nn
              CROSS JOIN UNNEST(generate_series(0, d.doc_id % 3)) AS j(j)),
        r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
        $rounds"""
  }

  private lazy val q98OracleSql: String =
    s"""WITH $ivfPqCtes,
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
                FROM sc2 WHERE vec_id % $AnnDeleteMod <> $AnnDeleteRes)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q90b's oracle, shared verbatim by q107b (time travel to the
    * post-append version): base-trained model, full candidate set.
    */
  private lazy val q90bOracleSql: String =
    s"""WITH $ivfPqAppendCtes,
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk FROM sc2)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q107c: the latest committed version of the manifest-versioned
    * store — base-trained model (the lifecycle never retrains) with the
    * tombstoned residue gone from the candidates (delete at v2,
    * compacted physically at v3 — same answers by construction).
    */
  private lazy val q107cOracleSql: String =
    s"""WITH $ivfPqAppendCtes,
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
                FROM sc2 WHERE vec_id % $AnnDeleteMod <> $AnnDeleteRes)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q108: q85b's exact-re-rank tail over the q107c state — base-
    * trained model, tombstoned residue excluded from the shortlist;
    * the engine's file-pruned float source must change nothing.
    */
  private lazy val q108OracleSql: String =
    s"""WITH $ivfPqAppendCtes,
        short AS (SELECT qid, vec_id FROM
                    (SELECT qid, vec_id, row_number() OVER
                       (PARTITION BY qid ORDER BY adc, vec_id) AS rn
                     FROM sc2 WHERE vec_id % $AnnDeleteMod <> $AnnDeleteRes)
                  WHERE rn <= $PqShortlist),
        ex AS (SELECT s.qid, s.vec_id,
                 ${roundSql(
                   "list_sum(list_transform(generate_series(1, 64), " +
                     "i -> (eq.emb[i] - ec.emb[i]) * (eq.emb[i] - ec.emb[i])))", 4)} AS dist
               FROM short s
               JOIN e eq ON eq.vec_id = s.qid
               JOIN e ec ON ec.vec_id = s.vec_id),
        rk3 AS (SELECT qid, vec_id, dist, row_number() OVER
                  (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM ex)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, dist
        FROM rk3 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Q108b: after the v4 reindex the model is trained on the LIVE
    * population (base + appended, minus the tombstoned residue) and
    * only live vectors are encoded — the full q85 chain with BOTH the
    * training predicate and the candidate set restricted to live rows.
    */
  private val annLivePred =
    s"NOT (vec_id % $AnnDeleteMod = $AnnDeleteRes AND vec_id >= $BatchQueries)"
  private lazy val q108bOracleSql: String =
    s"""WITH ${ivfPqCtesFor(annLivePred)},
        rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                  (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
                FROM sc2 WHERE $annLivePred)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
        FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk"""

  /** Full code-table summary on top of an [[ivfPqCtesFor]] chain: one
    * row per vector, (coarse cell, CSV of its PQ codes) — the persisted
    * artifact the q89/q90 build queries hash-check.
    */
  private val codeSummarySelect: String =
    s"""fpa AS (SELECT vec_id, m, cid AS code FROM
                  (SELECT *, row_number() OVER
                     (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM fps)
                WHERE rn = 1),
        wide AS (SELECT vec_id,
                   array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), ',') AS codes_csv
                 FROM fpa GROUP BY vec_id)
        SELECT w.vec_id, af.cid, w.codes_csv
        FROM wide w JOIN af USING (vec_id) ORDER BY vec_id"""

  /** DuckDB mirror of [[graft.operators.TextAnalysis.bm25]]: exact
    * integer corpus stats, identical idf/avgdl cast points, per-(doc,
    * term) contributions on the 1e-6 grid, exact integer sums. Exposes
    * `bsc` (doc_id, dl, score_micros).
    */
  /** [[bm25Cte]] with the term set and CTE-name prefix as parameters —
    * the q97 multi-query oracle stacks one chain per query; the
    * default prefix "b" keeps every existing consumer's names.
    */
  private def bm25CteFor(termSeq: Seq[String], p: String,
                         docPred: String = "TRUE",
                         docsFrom: String = "documents"): String = {
    val terms = termSeq.zipWithIndex
      .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
    val k1 = graft.operators.TextAnalysis.Bm25K1
    val b = graft.operators.TextAnalysis.Bm25B
    s"""${p}d AS (SELECT doc_id, string_split(text, ' ') AS ws,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                FROM $docsFrom WHERE $docPred),
          ${p}t AS (SELECT * FROM (VALUES $terms) AS t(i, term)),
          ${p}stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS total_dl FROM ${p}d),
          ${p}dfs AS (SELECT ${p}t.i, CAST(sum(CASE WHEN list_contains(${p}d.ws, ${p}t.term)
                      THEN 1 ELSE 0 END) AS BIGINT) AS df
                  FROM ${p}d CROSS JOIN ${p}t GROUP BY 1),
          ${p}idf AS (SELECT i,
                    ln(1.0 + (CAST(s.n_docs - df AS DOUBLE) + 0.5)
                             / (CAST(df AS DOUBLE) + 0.5)) AS idf,
                    CAST(s.total_dl AS DOUBLE) / s.n_docs AS avgdl
                  FROM ${p}dfs CROSS JOIN ${p}stats s),
          ${p}tfx AS (SELECT ${p}d.doc_id, ${p}d.dl, ${p}t.i,
                    CAST(len(list_filter(${p}d.ws, w -> w = ${p}t.term)) AS BIGINT) AS tf
                  FROM ${p}d CROSS JOIN ${p}t),
          ${p}con AS (SELECT doc_id, dl,
                        CASE WHEN tf = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor(${p}idf.idf * (CAST(tf AS DOUBLE) * (1.0 + $k1))
                               / (CAST(tf AS DOUBLE)
                                  + $k1 * (1.0 - $b + $b * (CAST(dl AS DOUBLE) / ${p}idf.avgdl)))
                               * 1e6 + 0.5) AS BIGINT) END AS c
                      FROM ${p}tfx JOIN ${p}idf USING (i)),
          ${p}sc AS (SELECT doc_id, dl, CAST(sum(c) AS BIGINT) AS score_micros
                 FROM ${p}con GROUP BY doc_id, dl)"""
  }

  private val bm25Cte: String = bm25CteFor(Bm25Terms, "b")

  /** DuckDB mirror of the q88 PCA family: 1e-6-grid per-dim means,
    * centered vectors, the micro-unit Gram matrix, and the exact-
    * integer power iteration unrolled `rounds` times ([[graft
    * .operators.Similarity.pcaPower]]'s recipe — BIGINT mat-vec,
    * max-norm to the 1e-4 grid, one IEEE division per round). Exposes
    * `px` (vec_id, x), `pg` (i, j, gm) and `pv{rounds}` (i, v).
    */
  private def pcaCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""pw$r AS MATERIALIZED (SELECT g.i, CAST(sum(g.gm * v.v) AS BIGINT) AS w
                 FROM pg g JOIN pv${r - 1} v ON v.i = g.j GROUP BY 1),
          pq$r AS (SELECT greatest(max(abs(w)), 1) AS m FROM pw$r),
          pv$r AS MATERIALIZED (SELECT i, CAST(floor(CAST(w AS DOUBLE) / m * 1e4 + 0.5) AS BIGINT) AS v
                 FROM pw$r CROSS JOIN pq$r)"""
    }.mkString(",\n          ")
    s"""pe2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        pmu AS (SELECT g.i, ${roundSql(s"(${exactSumSql("e.emb[g.i]", 6)}) / count(*)", 6)} AS mu
                FROM pe2 e, generate_series(1, 64) g(i) GROUP BY g.i),
        px AS MATERIALIZED (SELECT e.vec_id,
                 list_transform(generate_series(1, 64), i -> e.emb[i] - m.mus[i]) AS x
               FROM pe2 e CROSS JOIN (SELECT list(mu ORDER BY i) AS mus FROM pmu) m),
        pg AS MATERIALIZED (SELECT gi.i - 1 AS i, gj.j - 1 AS j,
                 CAST(floor(CAST(sum(CAST(floor(x[gi.i] * x[gj.j] * 1e6 + 0.5) AS BIGINT))
                   AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS gm
               FROM px, generate_series(1, 64) gi(i), generate_series(1, 64) gj(j)
               GROUP BY 1, 2),
        pv0 AS (SELECT CAST(t.i AS BIGINT) AS i, CAST(10000 AS BIGINT) AS v
                FROM range(64) t(i)),
        $roundCtes"""
  }

  /** DuckDB mirror of [[graft.operators.Pipeline.dsirModel]] plus the
    * per-document scoring join: hashed-unigram bucket counts with
    * Laplace smoothing over the full `DsirBuckets` grid, λ quantized to
    * integer micro-nats by the identical formula (same ln-of-ratio
    * shape, same cast points), per-doc weights as exact BIGINT sums.
    * Exposes `dlam` (b, lam) and `dscore` (doc_id, weight_micros).
    */
  private val dsirCte: String = {
    val b = graft.operators.Pipeline.DsirBuckets
    val tgt = graft.operators.Pipeline.DsirTargetLang
    s"""dtok AS (SELECT d.doc_id, d.lang,
                  CAST(CAST('0x' || substr(md5('dsir:' || t.w), 1, 12) AS BIGINT)
                    % $b AS INT) AS b
                FROM documents d
                CROSS JOIN UNNEST(string_split(d.text, ' ')) AS t(w)),
        dcnt AS (SELECT b,
                   CAST(sum(CASE WHEN lang = '$tgt' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt,
                   CAST(count(*) AS BIGINT) AS raw_cnt
                 FROM dtok GROUP BY 1),
        dtot AS (SELECT CAST(sum(tgt_cnt) AS BIGINT) AS tgt_total,
                        CAST(sum(raw_cnt) AS BIGINT) AS raw_total FROM dcnt),
        dlam AS (SELECT CAST(g.b AS INT) AS b, CAST(floor(
                   (ln(CAST(coalesce(c.tgt_cnt, 0) + 1 AS DOUBLE)
                       / CAST(t.tgt_total + $b AS DOUBLE))
                  - ln(CAST(coalesce(c.raw_cnt, 0) + 1 AS DOUBLE)
                       / CAST(t.raw_total + $b AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) AS lam
                 FROM range($b) g(b) LEFT JOIN dcnt c ON c.b = g.b CROSS JOIN dtot t),
        dscore AS (SELECT k.doc_id, CAST(sum(l.lam) AS BIGINT) AS weight_micros
                   FROM dtok k JOIN dlam l ON l.b = k.b GROUP BY 1)"""
  }

  /** DuckDB mirror of [[graft.operators.TextAnalysis.bpeTrain]]'s
    * induction loop, unrolled `nMerges` rounds: v0 is the char-spaced
    * word-count vocabulary; each round counts adjacent symbol pairs
    * (weighted by word freq), picks the max by (cnt DESC, lhs, rhs),
    * and applies it with [[graft.operators.TextAnalysis.MergePasses]]
    * nested single-pass replaces — the same pass count the engine
    * runs, so the two sides agree even before the fixpoint argument.
    * Exposes b1..b{n} (winning pairs) and v{n} (final segmentation).
    */
  /** [[graft.operators.TextAnalysis.MergePasses]] nested single-pass
    * replaces of the winning pair `b.(lhs, rhs)` in a padded `syms`. */
  private val bpeRepK = (1 to graft.operators.TextAnalysis.MergePasses)
    .foldLeft("' ' || syms || ' '")((s, _) =>
      s"replace($s, ' ' || b.lhs || ' ' || b.rhs || ' ', ' ' || b.lhs || b.rhs || ' ')")

  private def bpeRoundsCte(nMerges: Int, src: String = "documents"): String = {
    val repK = bpeRepK
    val rounds = (1 to nMerges).map { r =>
      s"""pr$r AS (SELECT sa[i] AS lhs, sa[i + 1] AS rhs, freq
               FROM (SELECT string_split(syms, ' ') AS sa, freq FROM v${r - 1}) t
               CROSS JOIN UNNEST(generate_series(1, len(sa) - 1)) AS u(i)
               WHERE len(sa) >= 2),
          pc$r AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
               FROM pr$r GROUP BY lhs, rhs),
          b$r AS (SELECT lhs, rhs, cnt FROM pc$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
          v$r AS (SELECT word, freq, trim($repK) AS syms
               FROM v${r - 1} CROSS JOIN b$r b)"""
    }.mkString(",\n          ")
    s"""v0 AS (SELECT word, count(*) AS freq,
               rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g')) AS syms
             FROM (SELECT unnest(string_split(text, ' ')) AS word FROM $src)
             GROUP BY word),
        $rounds"""
  }

  private val shingleCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (SELECT doc_id,
                CASE WHEN len(ws) >= 3 THEN
                  list_distinct(list_transform(generate_series(1, len(ws) - 2),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
                ELSE [array_to_string(ws, ' ')] END AS sg
              FROM w),
       sig AS (SELECT doc_id, sg,
                 list_transform(generate_series(0, 7),
                   h -> list_min(list_transform(sg,
                     s -> substr(md5((h // 4)::VARCHAR || ':' || s), 8 * (h % 4) + 1, 8)))) AS sig
               FROM sh)"""

  /** Shared oracle for the two delta-scan variants (flat and
    * time-partitioned storage) — identical results by construction. */
  private val deltaScanOracleSql =
    s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        FROM events
        WHERE epoch_us(ts) > $DeltaLastKnownUs AND epoch_us(ts) <= $DeltaServerTUs
        ORDER BY ts_us, event_id"""

  /** Shared CTE chain producing LSH near-dup candidate pairs with exact
    * Jaccard (`j(doc_a, doc_b, jac)`), mirroring [[Dedup.nearDupPairs]]
    * including the bucket-size gate — used by q17c and q17e.
    */
  private lazy val nearDupCte =
    s"""$shingleCte,
        bands AS (SELECT doc_id, b, md5(sig[2 * b + 1] || '|' || sig[2 * b + 2]) AS bsig
                  FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
        keep AS (SELECT b, bsig FROM bands GROUP BY b, bsig
                 HAVING count(*) BETWEEN 2 AND ${Dedup.MaxBucket}),
        kb AS (SELECT bands.* FROM bands JOIN keep USING (b, bsig)),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM kb a JOIN kb b ON a.b = b.b AND a.bsig = b.bsig
                   AND a.doc_id < b.doc_id),
        j AS (SELECT doc_a, doc_b,
                CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.sg, sb.sg))) AS jac
              FROM cand
              JOIN sh sa ON sa.doc_id = doc_a
              JOIN sh sb ON sb.doc_id = doc_b)"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.starJoin(spark, "/root/testdata/sf0.001")

  /** A store-backed query: `body` may read exactly the fixtures `fs`
    * (and their deps). */
  private def reads(fs: Fixture*)(body: (SparkSession, String) => DataFrame): Reads =
    new Reads(fs, body)
  /** The fixtures query `q` reads — its [[Reads]] declaration. */
  def fixturesOf(q: String): Seq[Fixture] = queries.get(q) match {
    case Some(r: Reads) => r.fixtures
    case _ => Nil
  }
  /** The q102/q104 scoring batch: the docs that arrive after the base. */
  private def lmBatch(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "documents").filter(col("doc_id") >= TextAppendSplit)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_delta_scan" -> ((s, d) =>
      EventLog.deltaEvents(Tables.events(s, d), DeltaLastKnownUs, DeltaServerTUs)),
    "q01b_delta_pruned" -> reads(F.EvStore)((s, d) => {
      // Round-trip through the time-partitioned layout: the same delta
      // scan answered with partition pruning.
      EventLogStore.deltaEvents(s, F.EvStore(s, d), DeltaLastKnownUs, DeltaServerTUs,
        DeltaBucketUs)
    }),
    "q02_latest_state" -> ((s, d) => EventLog.latestState(Tables.events(s, d))),
    "q03_join_agg" -> ((s, d) => Relational.joinAgg(s, d)),
    "q04_multijoin_revenue" -> ((s, d) => Relational.multiJoinRevenue(s, d)),
    "q05_anti_join" -> ((s, d) => Relational.antiJoin(s, d)),
    "q05b_semi_join" -> ((s, d) => Relational.semiJoin(s, d)),
    "q06_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q07_distinct_users" -> ((s, d) => EventLog.distinctUsers(Tables.events(s, d))),
    "q07b_approx_distinct" -> ((s, d) =>
      EventLog.approxDistinctUsers(Tables.events(s, d), rsd = 0.02, tol = 0.05)),
    "q08_rollup" -> ((s, d) => Relational.rollupAgg(s, d)),
    "q08b_cube" -> ((s, d) => Relational.cubeAgg(s, d)),
    "q09_sessionize" -> ((s, d) => EventLog.sessionize(Tables.events(s, d), SessionGapUs)),
    "q09c_session_window" -> ((s, d) =>
      EventLog.sessionizeNative(Tables.events(s, d), SessionGapUs)),
    "q10_proxy_ids" -> ((s, d) => EventLog.proxyIds(Tables.events(s, d))),
    "q11_window_funcs" -> ((s, d) => EventLog.windowFuncs(Tables.events(s, d))),
    "q12_topk" -> ((s, d) => EventLog.topK(Tables.events(s, d), TopK)),
    "q13_set_ops" -> ((s, d) => Relational.setOps(s, d)),
    "q14_json_extract" -> ((s, d) => Relational.jsonExtract(s, d)),
    "q15_scalar_funcs" -> ((s, d) => Relational.scalarFuncs(s, d)),
    "q16_array_funcs" -> ((s, d) => Relational.arrayFuncs(s, d)),
    "q17_dedup_exact" -> ((s, d) => Dedup.exactDedup(Tables.table(s, d, "documents"))),
    "q17b_minhash" -> ((s, d) => Dedup.minhashSignatures(Tables.table(s, d, "documents"))),
    "q17c_neardup_pairs" -> ((s, d) =>
      Dedup.nearDupPairs(Tables.table(s, d, "documents"), NearDupThreshold)),
    "q17d_simhash" -> ((s, d) => Dedup.simhash(Tables.table(s, d, "documents"))),
    "q17e_ensemble_neardup" -> ((s, d) => Dedup.ensembleNearDups(
      Tables.table(s, d, "documents"), Tables.table(s, d, "embeddings"), NearDupThreshold)),
    "q18_similarity_topk" -> ((s, d) =>
      Similarity.topKSimilar(Tables.table(s, d, "embeddings"), QueryVecId, SimTopK)),
    "q18b_ivf_clusters" -> ((s, d) =>
      Similarity.ivfClusterSizes(Tables.table(s, d, "embeddings"), NumCentroids)),
    "q18c_cluster_topk" -> ((s, d) =>
      Similarity.clusterTopK(Tables.table(s, d, "embeddings"), NumCentroids, QueryVecId, ClusterTopK)),
    "q18d_emb_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.table(s, d, "embeddings"), EmbPairsK)),
    "q18e_batch_search" -> ((s, d) =>
      Similarity.ivfSearch(Tables.table(s, d, "embeddings"), NumCentroids, BatchQueries, BatchTopK)),
    "q18f_lsh_search" -> ((s, d) =>
      Similarity.lshSearch(Tables.table(s, d, "embeddings"), BatchQueries, BatchTopK)),
    "q18g_udaf_topk" -> ((s, d) =>
      Similarity.udafTopK(Tables.table(s, d, "embeddings"), BatchQueries)),
    "q18h_multitable_lsh" -> ((s, d) =>
      Similarity.multiTableLshSearch(Tables.table(s, d, "embeddings"), BatchQueries, BatchTopK, LshTables)),
    "q19_text_stats" -> ((s, d) => TextAnalysis.textStats(Tables.table(s, d, "documents"))),
    "q19b_quality" -> ((s, d) => TextAnalysis.qualityLangId(Tables.table(s, d, "documents"))),
    "q19c_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(Tables.table(s, d, "documents"))),
    "q19d_bpe_tokens" -> ((s, d) => TextAnalysis.bpePretokenize(Tables.table(s, d, "documents"))),
    "q09b_session_ids" -> ((s, d) => EventLog.syncReplay(Tables.events(s, d), SessionGapUs)),
    "q20_sync_replay" -> ((s, d) =>
      SyncReplay.replay(Tables.events(s, d), graft.streaming.SyncConfig(SyncTickUs, SessionGapUs))),
    "q21_multimodal_meta" -> ((s, d) => Multimodal.mediaMeta(Tables.table(s, d, "documents"))),
    "q21b_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Tables.table(s, d, "documents"), MaxFrames)),
    "q21d_image_decode" -> ((s, d) =>
      Multimodal.imageDecode(Tables.table(s, d, "documents"))),
    "q21e_audio_decode" -> ((s, d) =>
      Multimodal.audioDecode(Tables.table(s, d, "documents"))),
    "q21f_video_decode" -> ((s, d) =>
      Multimodal.videoDecode(Tables.table(s, d, "documents"))),
    "q21g_mjpeg_decode" -> ((s, d) =>
      Multimodal.mjpegDecode(Tables.table(s, d, "documents"))),
    "q21c_resize_meta" -> ((s, d) =>
      Multimodal.resizeMeta(Tables.table(s, d, "documents"), MaxResizeDim)),
    "q22_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.table(s, d, "documents"), MixRates, MixDefaultRate, MixSalt)),
    "q23_profile" -> ((s, d) => Profile.documentsProfile(Tables.table(s, d, "documents"))),
    "q24_part_revenue" -> ((s, d) => Relational.partRevenue(s, d)),
    "q25_quantiles" -> ((s, d) => EventLog.quantiles(Tables.events(s, d))),
    "q27_pivot" -> ((s, d) => EventLog.pivotByType(Tables.events(s, d), PivotTypes)),
    "q26_histogram" -> ((s, d) => EventLog.histogram(Tables.events(s, d), HistWidth)),
    "q27b_unpivot" -> ((s, d) => EventLog.unpivotCounts(Tables.events(s, d), PivotTypes)),
    "q11b_window_ranks" -> ((s, d) => EventLog.windowRanks(Tables.events(s, d))),
    "q11c_range_frame" -> ((s, d) => EventLog.rangeFrame(Tables.events(s, d), SessionGapUs)),
    "q15b_datetime_funcs" -> ((s, d) => EventLog.datetimeFuncs(Tables.events(s, d))),
    "q15d_date_arith" -> ((s, d) => EventLog.dateArith(Tables.events(s, d))),
    "q15c_string_funcs" -> ((s, d) => Relational.stringFuncs(s, d)),
    "q25b_approx_quantiles" -> ((s, d) =>
      EventLog.approxQuantiles(Tables.events(s, d), 10000, 0.02)),
    "q28_asof_join" -> ((s, d) => Temporal.asofLastView(Tables.events(s, d))),
    "q127_erasure_audit" -> reads(F.ErasureText, F.ErasureAnn, F.ErasureFact)((s, d) => {
      // Right-to-be-forgotten audit: one take-down id set tombstoned
      // in the text AND vector stores AND the raw document lake
      // (FactStore row-level DELETE); every serving surface's ranked
      // list — and the raw store's live contents — must match a
      // from-scratch live-corpus restatement.
      Compliance.erasureAudit(s, F.ErasureText(s, d),
        F.ErasureAnn(s, d), Bm25Terms, PhraseTerms, RrfK,
        annQueryBatch(s, d), BatchTopK, IvfPqProbes, BatchQueries.toLong,
        F.ErasureFact(s, d), ErasureMod, ErasureRes)
    }),
    "q128_fuzzy_match" -> ((s, d) =>
      // Record linkage: distinct entities, head-noun blocking, edit
      // distance on the variant token — sum-of-block-squares pairs on
      // the collapsed entity table, never corpus².
      Dedup.fuzzyEntityMatch(Tables.table(s, d, "part"), FuzzyMaxDist)),
    "q129_dp_release" -> ((s, d) =>
      // ε-DP count release with deterministic cell-seeded Laplace
      // noise (inverse CDF on a portable-hash uniform) — reproducible
      // republication, noise cost per cell not per event.
      Privacy.dpCountRelease(Tables.events(s, d), DpEpsilon)),
    "q125_winsorize" -> ((s, d) =>
      // Robust-scaling feature prep: clip each value to its type's
      // exact [p05, p95] band (bounds on the 1e-4 grid, clip map-only).
      Pipeline.winsorize(Tables.events(s, d), WinsorLo, WinsorHi)),
    "q126_dist_drift" -> ((s, d) =>
      // PSI drift monitor between the even/odd doc cohorts over lang,
      // source, and length-bucket features; Laplace-smoothed shares,
      // 1e-6-grid contributions.
      Profile.distributionDrift(Tables.table(s, d, "documents"))),
    "q130_attribution" -> ((s, d) =>
      // Multi-touch attribution (first/last/linear) on the exact ppm
      // credit grid; the touch lookup is a banded (user, window-bucket)
      // equi-join, never a per-user cross product.
      Behavior.attributionReport(Tables.events(s, d), AttribWindowUs)),
    "q131_ab_readout" -> ((s, d) =>
      // A/B readout: hash-assigned arms, activation-conversion ppm,
      // and the pooled two-proportion z-test as an exact
      // decimal(38,0) inequality — float-free significance.
      Behavior.abReadout(Tables.events(s, d), AbSalt, AbZ2, ActivationUs)),
    "q132_embedding_drift" -> ((s, d) =>
      // Dense-space drift: per-label cohort mean vs corpus mean by
      // cosine over exact integer grid sums (scale-invariance kills
      // the division); one pass + bounded aggs.
      Profile.embeddingDrift(Tables.table(s, d, "embeddings"))),
    "q133_survival_km" -> ((s, d) =>
      // Kaplan-Meier session-duration survival with right-censoring,
      // float-free: the survival product folds in exact integer ppb
      // over the bounded duration axis.
      Temporal.sessionSurvival(Tables.events(s, d), SurvivalGapUs)),
    "q134_triangles" -> ((s, d) =>
      // Degree-oriented triangle counting + global clustering
      // coefficient over the closed-form link graph — O(m^1.5) wedges,
      // never d_max², all-BIGINT exact.
      WebGraph.triangles(Tables.table(s, d, "documents"))),
    "q135_cusum" -> ((s, d) =>
      // Page's CUSUM drift detector on the per-type hourly series via
      // the prefix-sum/running-min closed form — two stacked
      // partitioned windows, exact integers on the centi-grid with
      // scale-relative slack/threshold.
      Temporal.cusumChangePoints(Tables.events(s, d), CusumSlackDiv, CusumThresholdMult)),
    "q136_priority_sample" -> ((s, d) =>
      // Priority sampling: a deterministic k-row sample carrying the
      // Duffield-Lund-Thorup unbiased total estimator — map-only
      // priorities, one TakeOrdered, BIGINT-exact estimate.
      Sampling.priorityEstimate(Tables.events(s, d), PriorityK, PrioritySalt)),
    "q137_trend_ols" -> ((s, d) =>
      // Grouped OLS trend: slope/intercept/R² of value-vs-time per
      // type from ONE pass of sufficient statistics — the distributed
      // regression shape; decimal(38,0) cross-products, terminal
      // doubles on the 1e-6 grid.
      Temporal.trendOls(Tables.events(s, d))),
    "q138_cep_matches" -> ((s, d) =>
      // CEP: every view→click→purchase occurrence with step timeouts
      // and non-overlap, as a deterministic per-user automaton — one
      // user shuffle, O(1) fold state, recursive-CTE oracle.
      Behavior.cepMatches(Tables.events(s, d), CepWithinUs)),
    "q139_cep_pattern4" -> ((s, d) =>
      // Generalized CEP: a caller-supplied 4-step pattern with
      // per-step timeouts AND a per-step value predicate
      // (MATCH_RECOGNIZE-class bring-your-own-pattern), driven by the
      // same shared automaton kernel as q138/S31 — one user shuffle,
      // external sort, O(pattern) fold state, recursive-CTE oracle.
      Cep.matchesGeneric(Tables.events(s, d), Seq(
          CepStep("signup"),
          CepStep("view", timeoutUs = Cep4ViewTimeoutUs),
          CepStep("click", timeoutUs = CepWithinUs),
          CepStep("purchase", minValue = Some(Cep4MinPurchase),
            timeoutUs = CepWithinUs)))
        .select(col("user_id"), col("match_no"),
          col("step_event_ids")(0).as("signup_event_id"),
          col("step_event_ids")(1).as("view_event_id"),
          col("step_event_ids")(2).as("click_event_id"),
          col("step_event_ids")(3).as("purchase_event_id"),
          col("duration_us"))
        .orderBy("user_id", "match_no")),
    "q139b_cep_quantified" -> ((s, d) =>
      // Quantified CEP (MATCH_RECOGNIZE A{n}): click{3} — every
      // consecutive gap within the window — then a qualifying
      // purchase; exact repetition counts keep the automaton
      // deterministic, same shared kernel, same one-shuffle
      // spill-safe fold, recursive-CTE oracle carrying (state, rep).
      Cep.matchesGeneric(Tables.events(s, d), Seq(
          CepStep("click", timeoutUs = CepWithinUs, times = 3),
          CepStep("purchase", minValue = Some(CepQuantMinPurchase),
            timeoutUs = CepWithinUs)))
        .select(col("user_id"), col("match_no"),
          col("step_event_ids")(0).as("click1_event_id"),
          col("step_event_ids")(1).as("click2_event_id"),
          col("step_event_ids")(2).as("click3_event_id"),
          col("step_event_ids")(3).as("purchase_event_id"),
          col("duration_us"))
        .orderBy("user_id", "match_no")),
    "q139c_cep_alternation" -> ((s, d) =>
      // Alternation (MATCH_RECOGNIZE (A|B)): signup, then TWO
      // engagement events of EITHER kind (view|click) each within the
      // window, then a purchase — same kernel, same fold, the
      // recursive-CTE oracle's hit predicate is an IN list.
      Cep.matchesGeneric(Tables.events(s, d), Seq(
          CepStep("signup"),
          CepStep("view", altTypes = Seq("click"),
            timeoutUs = CepWithinUs, times = 2),
          CepStep("purchase", timeoutUs = CepWithinUs)))
        .select(col("user_id"), col("match_no"),
          col("step_event_ids")(0).as("signup_event_id"),
          col("step_event_ids")(1).as("eng1_event_id"),
          col("step_event_ids")(2).as("eng2_event_id"),
          col("step_event_ids")(3).as("purchase_event_id"),
          col("duration_us"))
        .orderBy("user_id", "match_no")),
    "q139d_cep_sql" -> ((s, d) => {
      // The q139 pattern expressed as a SQL pattern-string literal
      // through the graft_cep_pattern TVF — parses to the identical
      // CepStep sequence and expands to the same matchesGeneric plan
      // (SqlSurfaceSpec pins plan equality); the q139 oracle checks
      // the SQL entry point end-to-end.
      Tables.events(s, d).createOrReplaceTempView("graft_cep_events")
      s.sql(
        s"""SELECT user_id, match_no,
                   step_event_ids[0] AS signup_event_id,
                   step_event_ids[1] AS view_event_id,
                   step_event_ids[2] AS click_event_id,
                   step_event_ids[3] AS purchase_event_id,
                   duration_us
            FROM graft_cep_pattern('graft_cep_events',
              'signup; view <= $Cep4ViewTimeoutUs; click <= $CepWithinUs; purchase >= $Cep4MinPurchase <= $CepWithinUs')
            ORDER BY user_id, match_no""")
    }),
    "q140_fact_delete" -> reads(F.Fact)((s, d) =>
      // Row-level DELETE on the raw events lake: a reader pinned to v2
      // (post-GDPR-delete, pre-upsert) sees the subject users gone —
      // one tombstone segment, zero data files rewritten.
      graft.sources.FactStore.read(s, F.Fact(s, d), 2L)
        .orderBy("event_id")),
    "q140b_fact_upsert" -> reads(F.Fact)((s, d) =>
      // Latest (v4, post-compact ≡ v3): the corrections batch's new
      // generation shadows the old rows atomically (tombstone + data
      // in ONE commit — no delete-then-append window).
      graft.sources.FactStore.read(s, F.Fact(s, d))
        .orderBy("event_id")),
    "q140c_fact_history" -> reads(F.Fact)((s, d) => {
      // The DML lineage: op + live row count at every version — the
      // audit trail a takedown ticket closes against. Four bounded
      // counts over manifest-resolved reads.
      val dir = F.Fact(s, d)
      import s.implicits._
      (1L to 4L).map(v => (v,
          graft.sources.ManifestLog.snapshot(s, dir, v).op,
          graft.sources.FactStore.read(s, dir, v).count()))
        .toDF("version", "op", "n_live")
        .orderBy("version")
    }),
    "q140f_fact_evolution" -> reads(F.EvolvedFact)((s, d) =>
      // Additive schema evolution: an appended batch carries a NEW
      // column; pre-evolution rows read as null (mergeSchema), the
      // indexed columns are present in every generation so skipping
      // survives, and the full read restates as a plain scan with a
      // CASE-built column.
      graft.sources.FactStore.read(s, F.EvolvedFact(s, d))
        .orderBy("event_id")),
    "q140g_fact_rename_drop" -> reads(F.RenamedFact)((s, d) => {
      // Non-additive schema evolution under column mapping: the latest
      // read serves (event_id, user_id, ts_us, amount) — value renamed,
      // event_type dropped, a corrections batch upserted THROUGH the
      // mapping — while v1 still time-travels with the original schema
      // (asserted in FactStoreSpec; the oracle restates the latest).
      val dir = F.RenamedFact(s, d)
      graft.sources.FactStore.read(s, dir).orderBy("event_id")
    }),
    "q140h_fact_point" -> reads(F.Fact)((s, d) =>
      // Primary-key point lookup through the Bloom sidecar: only
      // bloom-and-stats-positive files are listed to the scan (the
      // q116 tier on the raw lake), tombstones still apply, and the
      // post-DML row versions serve — the "fetch these order ids"
      // probe that at 100 TB must read a handful of files, not every
      // min/max survivor.
      graft.sources.FactStore.readPoint(s, F.Fact(s, d),
        FactPointIds).orderBy("event_id")),
    "q140i_fact_recluster" -> reads(F.ReclusteredFact)((s, d) =>
      // Liquid-clustering shape: the order keys were SWITCHED from
      // user_id to ts_us by one metadata commit and migrated by a
      // bounded compaction; this time box prunes on the NEW clustering
      // (the pre-migration generation would soundly keep-all) and the
      // rows restate as a plain time filter.
      graft.sources.FactStore.readBox(s, F.ReclusteredFact(s, d),
        Map("ts_us" -> (SkipTsLo, SkipTsHi)))
        .orderBy("event_id")),
    "q140j_fact_asof" -> reads(F.Fact)((s, d) => {
      // TIMESTAMP AS OF: resolve the wall-clock instant of the v2
      // commit (the GDPR delete) through the in-commit timestamps and
      // serve exactly that version — same rows the version-pinned q140
      // read serves, through the time-based resolution path.
      val dir = F.Fact(s, d)
      graft.sources.FactStore.readAsOf(s, dir,
        graft.sources.ManifestLog.commitTimeMs(s, dir, 2L))
        .orderBy("event_id")
    }),
    "q140k_fact_merge" -> reads(F.MergedFact)((s, d) =>
      // Conditional MERGE (the Delta MERGE INTO semantics): one atomic
      // commit applies WHEN MATCHED AND cond UPDATE SET / WHEN MATCHED
      // DELETE / WHEN NOT MATCHED AND cond INSERT with first-match
      // precedence — matched rows split on the update condition,
      // unmatched source rows on the insert condition, untouched rows
      // keep their old generation (never tombstoned).
      graft.sources.FactStore.read(s, F.MergedFact(s, d))
        .orderBy("event_id")),
    "q140l_fact_dml_sql" -> reads(F.SqlDmlFact)((s, d) => {
      // The lakehouse lifecycle with ZERO Scala: GRAFT BUILD / DELETE /
      // MERGE / COMPACT statements through the injected SQL parser,
      // read back through the graft_fact_at TVF — every statement a
      // thin command over the same FactStore implementation
      // (GraftSqlDmlSpec pins lineage equivalence to the Scala API).
      val dir = F.SqlDmlFact(s, d)
      s.sql(s"SELECT * FROM graft_fact_at('$dir', -1) ORDER BY event_id")
    }),
    "q140m_fact_constraints" -> reads(F.ConstrainedFact)((s, d) =>
      // CHECK constraints (Delta table constraints): ADD validates the
      // live rows, every writer re-validates incoming batches and
      // rejects violations whole (the lifecycle REQUIRES the bad batch
      // bounced — and had it landed, its rows would fail this oracle),
      // NULL passes (SQL CHECK semantics), rules version with the
      // table.
      graft.sources.FactStore.read(s, F.ConstrainedFact(s, d))
        .orderBy("event_id")),
    "q140n_fact_clone" -> reads(F.ClonedFact)((s, d) =>
      // Shallow clone (zero-copy branch): the q140 lake cloned by ONE
      // manifest commit (no data copied), then diverging with a
      // clone-local reconciliation upsert — the clone serves the
      // source's full DML history PLUS its own; the source is
      // untouched (q140b keeps hash-matching in the same run).
      graft.sources.FactStore.read(s, F.ClonedFact(s, d))
        .orderBy("event_id")),
    "q140e_fact_changes" -> reads(F.Fact)((s, d) =>
      // Change data feed v1 → v4 on the raw lake: content-based per-key
      // fingerprints make compaction invisible; the GDPR delete
      // surfaces as 'delete' rows, the corrections batch as 'update'
      // rows — the q115 incremental-maintenance contract on the fact
      // table, so downstream indexes can roll forward ∝ changes.
      graft.sources.FactStore.changes(s, F.Fact(s, d), 1L, 4L)),
    "q140d_fact_box" -> reads(F.Fact)((s, d) =>
      // A (user, time) box over the DML'd lake: per-segment manifest
      // stats prune files BEFORE any data I/O, the residual predicate
      // pushes into the survivors, and the tombstone anti-join still
      // applies — a deleted row cannot resurface through the pruned
      // path.
      graft.sources.FactStore.readBox(s, F.Fact(s, d),
        Map("user_id" -> (SkipUserLo, SkipUserHi),
          "ts_us" -> (SkipTsLo, SkipTsHi)))
        .orderBy("event_id")),
    "q140o_fact_widen" -> reads(F.WidenedFact)((s, d) =>
      // Type widening (the third schema-evolution leg): clicks was
      // declared INT at build, widened to BIGINT by one metadata
      // commit, then an appended generation carries values beyond int
      // range — the tolerant read serves ONE bigint column across
      // narrow and wide files, and compaction migrated the physical
      // type. A pure widen emits zero change-feed rows (FactStoreSpec).
      graft.sources.FactStore.read(s, F.WidenedFact(s, d))
        .orderBy("event_id")),
    "q140p_fact_catalog_point" -> reads(F.FactCatalog)((s, d) => {
      // The catalog surface, point probe: CREATE TABLE … USING graft
      // LOCATION, then a PLAIN SQL primary-key lookup — the pushed IN
      // filter routes through the DataSourceV2 scan into the
      // Bloom+min/max sidecars (only metadata-positive files are
      // listed; GraftCatalogSpec pins the file pruning), tombstones
      // still applied. Same rows as the readPoint API (q140h).
      F.FactCatalog(s, d)
      s.sql(s"""SELECT event_id, user_id, ts_us, event_type, value
                FROM ${F.factCatalogTable(d)}
                WHERE event_id IN (${FactPointIds.mkString(", ")})
                ORDER BY event_id""")
    }),
    "q140q_fact_catalog_box" -> reads(F.FactCatalog)((s, d) => {
      // The catalog surface, range scan: the BETWEEN conjuncts on the
      // z-order stats columns push down into per-file [min,max]
      // pruning — a plain SQL user gets the same skipping the readBox
      // API serves (q140d).
      F.FactCatalog(s, d)
      s.sql(s"""SELECT event_id, user_id, ts_us, event_type, value
                FROM ${F.factCatalogTable(d)}
                WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
                  AND ts_us BETWEEN $SkipTsLo AND $SkipTsHi
                ORDER BY event_id""")
    }),
    "q140r_fact_ctas" -> reads(F.CtasCatalog)((s, d) => {
      // The TableCatalog (CREATE TABLE AS SELECT) surface: table
      // creation IS a FactStore commit (key/order from TBLPROPERTIES
      // define the manifest), the CTAS rows are one append commit, and
      // the created lake serves plain SQL with the same Bloom/stats
      // file pruning as every other store — the round-11 "first
      // contact" gap (CREATE-then-INSERT/CTAS had nothing to create
      // from) closed by graft.sources.GraftCatalog.
      F.CtasCatalog(s, d)
      s.sql(s"""SELECT event_id, user_id, ts_us, event_type, value FROM ${F.ctasTable(d)}
                WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
                ORDER BY event_id""")
    }),
    "q140s_fact_sql_update" -> reads(F.SqlUpdatedFact)((s, d) =>
      // Standard SQL UPDATE (no GRAFT dialect): the post-hoc resolution
      // rule lowers UpdateTable into the FactStore tombstone+post-image
      // commit — one pushed-down target scan, write ∝ matched rows, op
      // 'update' in the history. The read serves the updated lake.
      graft.sources.FactStore.read(s, F.SqlUpdatedFact(s, d))
        .orderBy("event_id")),
    "q140t_fact_storage_join" -> reads(F.StorageJoin)((s, d) => {
      // Zero-Exchange fact⋈fact: both stores carry FRESH bucketed
      // mirrors, so the key equi-join routes through the co-located
      // layout (no shuffle on either side — the Iceberg SPJ shape via
      // Spark's own bucketing). Results are plan-independent: the
      // oracle restates the join closed-form over raw events.
      F.StorageJoin(s, d)
      val (tblA, tblB) = F.storageJoinTables(d)
      s.sql(s"""SELECT a.event_id, a.user_id, a.value, b.score
                FROM $tblA a JOIN $tblB b ON a.event_id = b.event_id
                ORDER BY a.event_id""")
    }),
    "q140u_fact_alter_ddl" -> reads(F.AlterDdlCatalog)((s, d) => {
      // Standard ALTER TABLE as versioned evolution: ADD COLUMNS (a
      // zero-row schema-carrier commit — existing rows read NULL),
      // ALTER COLUMN TYPE (lossless widen, load-bearing: the odd
      // generation's clicks exceed int range), RENAME COLUMN — all
      // plain DDL against the TableCatalog, time-travel preserved.
      F.AlterDdlCatalog(s, d)
      s.sql(s"""SELECT event_id, user_id, ts_us, kind, value, clicks, boost
                FROM ${F.alterTable(d)} ORDER BY event_id""")
    }),
    "q140v_fact_merge_full" -> reads(F.FullMergedFact)((s, d) =>
      // The full standard-MERGE surface: matched + insert + NOT
      // MATCHED BY SOURCE legs in ONE atomic commit, then a
      // compound-ON merge (extra conjunct lowered into the matched
      // clause's condition). The oracle restates both merges
      // closed-form over raw events.
      graft.sources.FactStore.read(s, F.FullMergedFact(s, d))
        .orderBy("event_id")),
    "q124_kanon_release" -> ((s, d) =>
      // k-anonymity release gate: publish an aggregate cell only if
      // >= k distinct users back it; failing cells generalize hour →
      // day → per-type residual, and the residual itself must clear k.
      Privacy.kAnonRelease(Tables.events(s, d), KAnonK)),
    "q123_anomaly_zscore" -> ((s, d) =>
      // Rolling z-score over the per-type hourly count series: exact
      // integer inequality (x·W − s)² > z²·(W·ss − s²) on a complete
      // hour grid — float-free anomaly verdicts.
      Temporal.anomalyZscore(Tables.events(s, d), AnomalyWindow, AnomalyZ)),
    "q118_resample_ffill" -> ((s, d) =>
      // Daily resample + forward-fill: one (user, day) agg, an output-
      // bounded sequence/explode grid, and the as-of union trick — no
      // (user, day) join, one user shuffle carries the fill.
      Temporal.resampleDailyFfill(Tables.events(s, d))),
    "q118b_resample_gaps" -> ((s, d) =>
      // The freshness monitor over the same grid: gap days and the
      // longest consecutive-missing run per user, counts only.
      Temporal.resampleGapReport(Tables.events(s, d))),
    "q29_range_join" -> ((s, d) => Temporal.periodStats(
      Tables.events(s, d),
      Temporal.periods(s, PeriodStartUs, PeriodStepUs, PeriodLenUs, NumPeriods),
      PeriodBandUs)),
    "q30_grouping_sets" -> ((s, d) => Relational.groupingSetsAgg(s, d)),
    "q31_skew_agg" -> ((s, d) => Skew.twoStageDistinct(Tables.events(s, d))),
    "q32_sliding_window" -> ((s, d) => EventLog.slidingWindowAgg(Tables.events(s, d))),
    "q33_outer_join" -> ((s, d) => Relational.outerJoin(s, d)),
    "q34_collect_types" -> ((s, d) => Relational.collectTypes(s, d)),
    "q31b_salted_join" -> ((s, d) => Skew.aboveTypeMean(Tables.events(s, d), 8)),
    "q35_vocabulary" -> ((s, d) =>
      TextAnalysis.vocabulary(Tables.table(s, d, "documents"), VocabMinOcc)),
    "q35b_bigrams" -> ((s, d) =>
      TextAnalysis.bigrams(Tables.table(s, d, "documents"), VocabMinOcc)),
    "q35c_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.table(s, d, "documents"), TfIdfTopK)),
    "q36_map_funcs" -> ((s, d) => Relational.mapFuncs(s, d)),
    "q40_neardup_clusters" -> ((s, d) =>
      Dedup.nearDupClusters(Tables.table(s, d, "documents"), NearDupThreshold)),
    "q41_expectations" -> ((s, d) =>
      Profile.documentExpectations(Tables.table(s, d, "documents"))),
    "q37_conditional_agg" -> ((s, d) => Relational.conditionalAgg(s, d)),
    "q38_correlated_subq" -> ((s, d) => Relational.correlatedSubqueries(s, d)),
    "q39_nullsafe_join" -> ((s, d) => Relational.nullSafeJoin(s, d)),
    "q42_funnel" -> ((s, d) => Pipeline.funnel(Tables.events(s, d))),
    "q43_train_split" -> ((s, d) =>
      Pipeline.trainSplit(Tables.table(s, d, "documents"), SplitSalt)),
    "q44_state_history" -> ((s, d) => Pipeline.stateHistory(Tables.events(s, d))),
    "q45_norm_dedup" -> ((s, d) => Pipeline.normalizedDedup(Tables.table(s, d, "documents"))),
    "q46_retention" -> ((s, d) => Pipeline.retentionCohorts(Tables.events(s, d))),
    "q47_group_sample" -> ((s, d) =>
      Pipeline.groupSample(Tables.table(s, d, "documents"), GroupSampleK, SampleSalt)),
    "q48_assoc_rules" -> ((s, d) => Pipeline.typeAssociations(Tables.events(s, d), MinSupport)),
    "q49_lm_score" -> ((s, d) => Pipeline.lmScore(Tables.table(s, d, "documents"))),
    "q102_stored_lm" -> reads(F.LmModel)((s, d) => {
      // The q49 scorer deployed: model persisted from the base corpus
      // (doc_id < split), the arriving batch (the rest) scored against
      // the store with OOV backoff — no corpus rescan.
      Pipeline.lmScoreStored(s, F.LmModel(s, d), lmBatch(s, d))
    }),
    "q104_appended_lm" -> reads(F.AppendedLm)((s, d) => {
      // Log-structured maintenance, append direction: the new batch's
      // counts land as a positive segment; serving nets segments, so
      // scores equal one model over the union.
      Pipeline.lmScoreStored(s, F.AppendedLm(s, d), lmBatch(s, d))
    }),
    "q104b_deleted_lm" -> reads(F.DeletedLm)((s, d) => {
      // Delete direction: an aggregated store has no per-doc rows to
      // tombstone — the deleted docs' counts enter as a NEGATIVE
      // segment and the serving net equals a live-corpus model.
      Pipeline.lmScoreStored(s, F.DeletedLm(s, d), lmBatch(s, d))
    }),
    "q104c_compacted_lm" -> reads(F.CompactedLm)((s, d) => {
      // Compaction folds the segment stack to one net row per word
      // (zero nets dropped) and must not change a single score.
      Pipeline.lmScoreStored(s, F.CompactedLm(s, d), lmBatch(s, d))
    }),
    "q50_kmeans_step" -> ((s, d) =>
      Similarity.kmeansStep(Tables.table(s, d, "embeddings"), NumCentroids)),
    "q50b_kmeans_train" -> ((s, d) =>
      Similarity.kmeansTrain(Tables.table(s, d, "embeddings"), NumCentroids, KmeansIters)),
    "q18i_trained_search" -> ((s, d) =>
      Similarity.ivfSearchTrained(Tables.table(s, d, "embeddings"),
        NumCentroids, KmeansIters, BatchQueries, BatchTopK)),
    "q51_standardize" -> ((s, d) => Pipeline.standardize(Tables.events(s, d))),
    "q52_sketch_distinct" -> ((s, d) => EventLog.mergeableDistinct(Tables.events(s, d))),
    "q53_state_occupancy" -> ((s, d) => Pipeline.stateOccupancy(Tables.events(s, d))),
    "q54_transitions" -> ((s, d) => Pipeline.typeTransitions(Tables.events(s, d))),
    "q55_incremental_dedup" -> ((s, d) =>
      Dedup.incrementalDedup(Tables.table(s, d, "documents"), IncrementalSplitId)),
    "q76_incremental_neardup" -> ((s, d) =>
      Dedup.incrementalNearDup(Tables.table(s, d, "documents"), IncrementalSplitId, NearDupThreshold)),
    "q77_sliding_chunks" -> ((s, d) =>
      Packing.slidingChunks(Tables.table(s, d, "documents"), 64, 32)),
    "q79_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.table(s, d, "documents"), NumMerges)),
    "q79b_bpe_tokenize" -> ((s, d) =>
      TextAnalysis.bpeTokenize(Tables.table(s, d, "documents"), NumMerges)),
    "q79c_bpe_apply_split" -> ((s, d) =>
      TextAnalysis.bpeTokenizeSplit(Tables.table(s, d, "documents"),
        IncrementalSplitId, NumMerges)),
    "q78_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(Tables.table(s, d, "documents"), 30)),
    "q56_length_gate" -> ((s, d) =>
      Pipeline.lengthGate(Tables.table(s, d, "documents"), 0.05, 0.95)),
    "q57_star_join" -> ((s, d) => Relational.starJoin(s, d)),
    "q58_contamination" -> ((s, d) =>
      TextAnalysis.contaminationSplit(Tables.table(s, d, "documents"), ContamModulus, ContamThreshold)),
    "q59_chunk_pack" -> ((s, d) =>
      Packing.chunkPack(Tables.table(s, d, "documents"), PackBudget)),
    "q59b_greedy_pack" -> ((s, d) =>
      Packing.greedyPackDf(Tables.table(s, d, "documents"), PackBudget)),
    "q59c_pack_stats" -> ((s, d) =>
      Packing.packStats(Tables.table(s, d, "documents"), PackBudget)),
    "q59d_seq_manifest" -> ((s, d) =>
      Packing.sequenceManifest(Tables.table(s, d, "documents"), PackBudget)),
    "q60_snapshot_diff" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      Snapshot.diff(Snapshot.syntheticOld(docs), Snapshot.syntheticNew(docs))
    }),
    "q60b_diff_summary" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      Snapshot.diffSummary(Snapshot.syntheticOld(docs), Snapshot.syntheticNew(docs))
    }),
    "q61_repetition" -> ((s, d) =>
      TextAnalysis.repetition(Tables.table(s, d, "documents"))),
    "q62_budget_select" -> ((s, d) =>
      TextAnalysis.budgetSelect(Tables.table(s, d, "documents"), SelectBudget, BudgetBins)),
    "q63_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMixture(Tables.table(s, d, "documents"))),
    "q63b_epoch_plan" -> ((s, d) =>
      Sampling.epochPlan(Tables.table(s, d, "documents"), EpochBudget)),
    "q65_curation_funnel" -> ((s, d) =>
      TextAnalysis.curationFunnel(Tables.table(s, d, "documents"),
        FunnelMinTok, FunnelMaxTok, FunnelMinQuality, FunnelMaxTopTok)),
    "q66_shingle_card" -> ((s, d) =>
      TextAnalysis.shingleCardinality(Tables.table(s, d, "documents"))),
    "q67_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(Tables.table(s, d, "embeddings"),
        NumCentroids, SemThreshold, SemMaxCluster)),
    "q68_pii_scrub" -> ((s, d) =>
      Curation.piiScrub(Tables.table(s, d, "documents"))),
    "q69_source_cap" -> ((s, d) =>
      Curation.sourceCap(Tables.table(s, d, "documents"))),
    "q70_span_dedup" -> ((s, d) =>
      Curation.spanDedup(Tables.table(s, d, "documents"), SpanLen)),
    "q70b_offset_span_dedup" -> ((s, d) =>
      Curation.spanDedupOffsets(Tables.table(s, d, "documents"), SpanLen)),
    "q70c_anchored_span_dedup" -> ((s, d) =>
      // Content-defined third grid: chunk boundaries at hash-anchored
      // tokens, so a repeated substring at ANY offset reproduces the
      // same interior chunks corpus-wide — closes the arbitrary-phase
      // gap the two fixed grids leave. Coverage ⊇ q70b.
      Curation.spanDedupAnchored(Tables.table(s, d, "documents"),
        SpanLen, AnchorMod)),
    "q71_global_shuffle" -> ((s, d) =>
      Curation.globalShuffle(Tables.table(s, d, "documents"), NumShards, ShuffleSalt)),
    "q72_hashed_classifier" -> ((s, d) =>
      Curation.hashedClassifier(Tables.table(s, d, "documents"))),
    "q73_pq_encode" -> ((s, d) =>
      Similarity.pqEncode(Tables.table(s, d, "embeddings"), PqSub, PqCodes)),
    "q73b_adc_search" -> ((s, d) =>
      Similarity.pqAdcSearch(Tables.table(s, d, "embeddings"),
        PqSub, PqCodes, BatchQueries, BatchTopK)),
    "q80_trained_adc_search" -> ((s, d) =>
      Similarity.pqAdcSearchTrained(Tables.table(s, d, "embeddings"),
        PqSub, PqCodes, KmeansIters, BatchQueries, BatchTopK)),
    "q81_perceptron_train" -> ((s, d) =>
      Classifier.perceptronTrain(Tables.table(s, d, "documents"),
        LrBuckets, LrIters, LrPosLang)),
    "q81b_classifier_margin" -> ((s, d) =>
      Classifier.perceptronScore(Tables.table(s, d, "documents"),
        LrBuckets, LrIters, LrPosLang)),
    "q82_dsir_weights" -> ((s, d) =>
      Pipeline.dsirWeights(Tables.table(s, d, "documents"))),
    "q82b_dsir_resample" -> ((s, d) =>
      Pipeline.dsirResample(Tables.table(s, d, "documents"), DsirSampleK)),
    "q83_dup_ngram_coverage" -> ((s, d) =>
      Curation.dupNgramCoverage(Tables.table(s, d, "documents"), DupGramN, DupGramFlag)),
    "q84_int8_quantize" -> ((s, d) =>
      Similarity.int8Quantize(Tables.table(s, d, "embeddings"))),
    "q85_ivfpq_search" -> ((s, d) =>
      Similarity.ivfPqSearch(Tables.table(s, d, "embeddings"), NumCentroids,
        PqSub, PqCodes, KmeansIters, BatchQueries, BatchTopK, IvfPqProbes)),
    "q85b_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqRerankSearch(Tables.table(s, d, "embeddings"), NumCentroids,
        PqSub, PqCodes, KmeansIters, BatchQueries, PqShortlist, BatchTopK,
        IvfPqProbes)),
    "q89_index_build" -> reads(F.AnnStore)((s, d) =>
      codesSummary(s, F.AnnStore(s, d))),
    "q89b_stored_ivf_search" -> reads(F.AnnStore)((s, d) =>
      Similarity.ivfSearchFrames(Tables.table(s, d, "embeddings"),
        VersionedVectorIndex.model(s, F.AnnStore(s, d)).coarse, BatchQueries, BatchTopK)),
    "q89c_stored_adc_search" -> reads(F.AnnStore)((s, d) => annSearch(s, d, F.AnnStore(s, d))),
    "q89d_stored_rerank" -> reads(F.AnnStore)((s, d) => {
      val a = VersionedVectorIndex.serving(s, F.AnnStore(s, d))
      Similarity.ivfPqRerankFrames(annQueryBatch(s, d), a.model,
        a.liveCodes.filter(col("vec_id") >= BatchQueries),
        Similarity.withEmb(Tables.table(s, d, "embeddings")),
        a.nSub, PqShortlist, BatchTopK, IvfPqProbes)
    }),
    "q122_filtered_ann" -> reads(F.AnnStore)((s, d) => {
      // Metadata-filtered vector search (the production "filtered
      // ANN" surface): only label == FilterLabel vectors may rank;
      // the filter pre-joins the code table so disallowed vectors
      // never reach the ADC fold.
      val a = VersionedVectorIndex.serving(s, F.AnnStore(s, d))
      val allowed = Tables.table(s, d, "embeddings")
        .filter(col("label") === FilterLabel && col("vec_id") >= BatchQueries)
        .select("vec_id")
      Similarity.ivfPqFilteredSearch(annQueryBatch(s, d), a.model,
        a.liveCodes.filter(col("vec_id") >= BatchQueries),
        allowed, a.nSub, BatchTopK, IvfPqProbes)
    }),
    "q90_index_append" -> reads(F.AppendedAnn)((s, d) =>
      codesSummary(s, F.AppendedAnn(s, d))),
    "q90b_appended_search" -> reads(F.AppendedAnn)((s, d) => annSearch(s, d, F.AppendedAnn(s, d))),
    "q90c_index_stats" -> reads(F.AppendedAnn)((s, d) => {
      // Maintenance monitoring: per-cell occupancy of the appended
      // store, split base vs appended — the inverted-list skew signal
      // that tells an operator when append drift warrants a retrain.
      VersionedVectorIndex.codes(s, F.AppendedAnn(s, d))
        .groupBy("cid")
        .agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))
            .as("n_vecs"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(col("vec_id") >= AnnAppendSplit, 1L)
              .otherwise(0L)).as("n_appended"))
        .orderBy("cid")
    }),
    "q91_html_extract" -> ((s, d) =>
      Html.extractText(Tables.table(s, d, "documents"))),
    "q91b_html_main_content" -> ((s, d) =>
      Html.mainContent(Tables.table(s, d, "documents"))),
    "q91c_html_links" -> ((s, d) =>
      Html.links(Tables.table(s, d, "documents"))),
    "q92_url_normalize" -> ((s, d) =>
      Html.urlNormalize(Tables.table(s, d, "documents"))),
    "q92b_host_stats" -> ((s, d) =>
      Html.hostStats(Tables.table(s, d, "documents"))),
    "q93_web_funnel" -> ((s, d) =>
      Html.webFunnel(Tables.table(s, d, "documents"), WebMinTok, WebMaxTok, WebHostCap)),
    "q94_stored_bm25" -> reads(F.TextIndex)((s, d) =>
      VersionedTextIndex.bm25(s, F.TextIndex(s, d), Bm25Terms, Bm25K)),
    "q119_sparse_retrieval" -> reads(F.TextIndex)((s, d) =>
      // Learned-sparse serving (SPLADE shape): Σ w_t · tf over the
      // stored postings — no corpus model, exact-integer ranking,
      // query-bucket file pruning; the third retrieval scorer next to
      // BM25 and the dense leg.
      TextAnalysis.sparseDotStored(s, F.TextIndex(s, d),
        SparseQueryWeights, Bm25K)),
    "q121_phrase_search" -> reads(F.TextIndex)((s, d) =>
      // Exact phrase query from the stored positions: consecutive-
      // offset intersection over bucket-pruned per-term legs; the
      // corpus text is never read at query time.
      TextAnalysis.phraseSearchStored(s, F.TextIndex(s, d),
        PhraseTerms, Bm25K)),
    "q121b_proximity_search" -> reads(F.TextIndex)((s, d) =>
      // NEAR/slop query from the same positions: nearest co-occurrence
      // of two terms within ProximityWindow tokens, unordered.
      TextAnalysis.proximitySearchStored(s, F.TextIndex(s, d),
        ProximityTerms._1, ProximityTerms._2, ProximityWindow, Bm25K)),
    "q101_deleted_bm25" -> reads(F.DeletedText)((s, d) =>
      // Lexical takedown serving: ~1/9 of the corpus tombstoned (no
      // posting file rewritten, stats retreated by exact counts);
      // scores must equal a from-scratch index over the live corpus.
      VersionedTextIndex.bm25(s, F.DeletedText(s, d), Bm25Terms, Bm25K)),
    "q101b_compacted_bm25" -> reads(F.CompactedText)((s, d) =>
      // After physical postings compaction the plain store must answer
      // exactly what the tombstone view answered (same oracle, twice).
      VersionedTextIndex.bm25(s, F.CompactedText(s, d), Bm25Terms, Bm25K)),
    "q97_batch_bm25" -> reads(F.TextIndex)((s, d) =>
      TextAnalysis.bm25BatchStored(s, F.TextIndex(s, d),
        BatchBm25Queries, BatchBm25K)),
    "q96_appended_bm25" -> reads(F.AppendedText)((s, d) => {
      // Lexical ingest: build the postings on the base corpus, admit
      // the rest via append, then serve — scores must equal a
      // from-scratch index over everything (= the q86 oracle).
      VersionedTextIndex.bm25(s, F.AppendedText(s, d), Bm25Terms, Bm25K)
    }),
    "q100_cluster_split" -> ((s, d) =>
      Pipeline.clusterSafeSplit(Tables.table(s, d, "documents"), NearDupThreshold, SplitSalt)),
    "q105_canonical_dedup" -> ((s, d) =>
      Curation.canonicalDedup(Tables.table(s, d, "documents"), NearDupThreshold)),
    "q106_source_divergence" -> ((s, d) =>
      TextAnalysis.sourceDivergence(Tables.table(s, d, "documents"))),
    "q103_retrieval_eval" -> ((s, d) => {
      // IR-metrics loop over the brute-force cosine ranking against a
      // closed-form relevance fixture ((vec_id + 3·qid) mod 5 = 0).
      val emb = Tables.table(s, d, "embeddings")
      val ranking = Similarity.udafTopK(emb, BatchQueries)
        .where(col("rnk") <= BatchTopK)
      val qids = s.range(BatchQueries).toDF("qid")
      val labels = emb.select(col("vec_id")).filter(col("vec_id") >= BatchQueries)
        .crossJoin(org.apache.spark.sql.functions.broadcast(qids))
        .filter((col("vec_id") + col("qid") * 3) % 5 === 0)
        .select("qid", "vec_id")
      Similarity.retrievalEval(ranking, labels, BatchTopK)
    }),
    "q99_link_stats" -> ((s, d) => WebGraph.linkStats(Tables.table(s, d, "documents"))),
    "q99b_pagerank" -> ((s, d) => WebGraph.pageRank(Tables.table(s, d, "documents"), PrRounds)),
    "q99c_host_rank" -> ((s, d) => WebGraph.hostRank(Tables.table(s, d, "documents"), PrRounds)),
    "q98_deleted_search" -> reads(F.DeletedAnn)((s, d) => {
      // Takedown serving: the stored index with ~1/7 of the corpus
      // tombstoned; search reads the live view (codes anti-join
      // tombstones) — no code file was rewritten.
      annSearch(s, d, F.DeletedAnn(s, d))
    }),
    "q98b_compacted_search" -> reads(F.CompactedAnn)((s, d) => {
      // After physical compaction (dead rows dropped, one file per
      // cell, tombstones cleared) the plain code table must answer
      // exactly what the tombstone-serving view answered (same oracle
      // as q98).
      annSearch(s, d, F.CompactedAnn(s, d))
    }),
    "q98c_compacted_stats" -> reads(F.CompactedAnn)((s, d) => {
      // Maintenance monitoring: per-cell occupancy AFTER compaction —
      // the tombstoned residue must be physically gone from every cell.
      VersionedVectorIndex.codes(s, F.CompactedAnn(s, d))
        .groupBy("cid")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_live"))
        .orderBy("cid")
    }),
    "q107_version_history" -> reads(F.VersionedAnn)((s, d) =>
      // The commit log of the manifest-versioned store after its full
      // lifecycle (build/append/delete/compact) — a metadata-only read:
      // sizes come from the manifests, not from data files.
      VersionedVectorIndex.history(s, F.VersionedAnn(s, d))),
    "q107b_time_travel_search" -> reads(F.VersionedAnn)((s, d) => {
      // Time travel: serve the index AS OF v1 (post-append, pre-delete)
      // even though a delete (v2) and a compaction (v3) committed since
      // — the pinned manifest's file list is immutable, so the answer
      // is exactly the appended store's (the q90b oracle, verbatim).
      annSearch(s, d, F.VersionedAnn(s, d), version = 1L)
    }),
    "q107c_versioned_live_search" -> reads(F.VersionedAnn)((s, d) => {
      // Serving the LATEST committed version (post-compact): base-
      // trained model, deleted residue physically gone — and the
      // compaction never blocked or perturbed a concurrent pinned
      // reader, because it only ADDED files and a manifest.
      annSearch(s, d, F.VersionedAnn(s, d))
    }),
    "q108_pruned_rerank" -> reads(F.VersionedAnn)((s, d) => {
      // IVFADC+R with the exact-float tier ALSO file-pruned: the
      // shortlist's vectors come from the store's cell-partitioned
      // raw-vector segments, so a query touches float files only for
      // its probed cells (vs q89d's full id-keyed vector table scan).
      val dir = F.VersionedAnn(s, d)
      val v = VersionedVectorIndex.currentVersion(s, dir)
      val a = VersionedVectorIndex.serving(s, dir, v)
      Similarity.ivfPqRerankPruned(annQueryBatch(s, d), a.model,
        a.liveCodes.filter(col("vec_id") >= BatchQueries),
        VersionedVectorIndex.liveVectors(s, dir, v)
          .withColumn("emb", col("embedding").cast("array<double>"))
          .select(col("vec_id"), col("cid"), col("emb")),
        a.nSub, PqShortlist, BatchTopK, IvfPqProbes)
    }),
    "q108b_reindexed_search" -> reads(F.ReindexedAnn)((s, d) => {
      // Serving the REINDEX version (v4): its model was retrained from
      // the store's own live vectors (no corpus access), committed
      // blue/green — pinned readers kept the old model. The lifecycle
      // later ROLLS BACK to v3 (q107d), so the reindexed state is
      // addressed by its version pin, exactly how a versioned store
      // names a superseded-but-inspectable state.
      annSearch(s, d, F.ReindexedAnn(s, d), version = 4L)
    }),
    "q107d_restored_search" -> reads(F.ReindexedAnn)((s, d) => {
      // The undo button: v5 = restore(v3) — one manifest commit, zero
      // data movement — so LATEST serves the pre-reindex state's exact
      // files again while v4 stays inspectable for the post-mortem.
      // Same oracle as q107c: a restore must reproduce its target
      // bit-for-bit.
      annSearch(s, d, F.ReindexedAnn(s, d))
    }),
    "q109_versioned_bm25" -> reads(F.VersionedText)((s, d) =>
      // Latest version of the manifest-versioned lexical index (post
      // append/delete/compact): postings AND the BM25 stats moved in
      // the same atomic commits, so scores equal a from-scratch index
      // over the live corpus (q101's oracle, verbatim).
      VersionedTextIndex.bm25(s,
        F.VersionedText(s, d), Bm25Terms, Bm25K)),
    "q109b_bm25_time_travel" -> reads(F.VersionedText)((s, d) =>
      // Time travel to v1 (post-append, pre-delete): the full-corpus
      // ranking (q86's oracle) keeps serving even though a delete and a
      // compaction committed since — including the OLD stats row, which
      // the delete's stats retreat never touched (immutable segment).
      VersionedTextIndex.bm25(s,
        F.VersionedText(s, d), Bm25Terms, Bm25K, version = 1L)),
    "q109c_postings_history" -> reads(F.VersionedText)((s, d) =>
      // The lexical commit log, from manifests alone.
      VersionedTextIndex.history(s, F.VersionedText(s, d))),
    "q110_versioned_hybrid" -> reads(F.VersionedText, F.VersionedAnn)((s, d) => {
      // Hybrid retrieval with BOTH legs pinned to committed snapshots
      // of the versioned stores (Latest here = each store's post-
      // maintenance live state) — the cross-store consistency the
      // directory-read hybrid can't promise mid-maintenance, and the
      // reproducible-replay shape an A/B audit needs.
      Similarity.hybridRrfVersioned(s,
        F.VersionedText(s, d), VersionedTextIndex.Latest,
        F.VersionedAnn(s, d), VersionedVectorIndex.Latest,
        Bm25Terms, Bm25K, RrfK, IvfPqProbes,
        Similarity.queryVectors(Tables.table(s, d, "embeddings"), col("vec_id") === 0L),
        BatchQueries.toLong)
    }),
    "q111_upserted_bm25" -> reads(F.UpsertedText)((s, d) =>
      // BM25 over the UPSERTED corpus: v4 replaced every mod-5 doc's
      // text (and revived the deleted ones among them) in ONE commit —
      // postings, version-scoped tombstones, and stats moved together,
      // so the ranking equals a from-scratch index over the patched
      // live corpus with no delete-then-append window in the lineage.
      VersionedTextIndex.bm25(s,
        F.UpsertedText(s, d), Bm25Terms, Bm25K)),
    "q111b_upsert_time_travel" -> reads(F.UpsertedText)((s, d) =>
      // A reader pinned to v3 (pre-upsert compact) is untouched by the
      // upsert — q101's oracle verbatim, served from files the upsert
      // never rewrote.
      VersionedTextIndex.bm25(s,
        F.UpsertedText(s, d), Bm25Terms, Bm25K, version = 3L)),
    "q111c_upsert_history" -> reads(F.UpsertedText)((s, d) =>
      // The upserted lexical commit log, from manifests alone — v4
      // shows the carried-forward live postings plus the patch's new
      // generation, and one tombstone per upserted id.
      VersionedTextIndex.history(s, F.UpsertedText(s, d))),
    "q111d_upserted_ann_search" -> reads(F.UpsertedAnn)((s, d) => {
      // ANN serving after an atomic vector upsert: mod-5 appended ids
      // were re-embedded (reversed) and re-encoded against the STORED
      // model in one commit — search sees old codes for untouched ids,
      // new codes for upserted ones, revived deleted ids, and never a
      // half-swapped state.
      annSearch(s, d, F.UpsertedAnn(s, d))
    }),
    "q112_asof_join" -> ((s, d) =>
      // Point-in-time join: each click carries the same user's most
      // recent purchase at or before it — ONE key shuffle + a running
      // window, never the per-key cross product (AsofJoin scale notes).
      AsofJoin.clickLastPurchase(s, d)),
    "q112b_asof_inner" -> ((s, d) =>
      // The inner variant: clicks with no prior purchase drop out.
      AsofJoin.clickLastPurchaseInner(s, d)),
    "q112c_asof_forward" -> ((s, d) =>
      // The mirrored direction: each click's NEXT purchase at or after
      // it (time-to-conversion) — same one-shuffle running-window
      // shape, first(ignoreNulls) over the following frame.
      AsofJoin.clickNextPurchase(s, d)),
    "q112d_asof_nearest" -> ((s, d) =>
      // Pandas merge_asof(direction='nearest', tolerance=…): whichever
      // of the backward/forward candidates is closer (ties backward),
      // candidates beyond the reach bound are nulls — BOTH candidates
      // from ONE sorted pass.
      AsofJoin.clickNearestPurchase(s, d, AsofNearestTolUs)),
    "q113_zorder_box" -> reads(F.SkipStore)((s, d) =>
      // A (user, time) box over the z-ordered fact store: the stats
      // sidecars prune files in BOTH dimensions before any data I/O,
      // the residual filter pushes into the surviving scans.
      graft.sources.FactStore.readBox(s, F.SkipStore(s, d),
        Map("user_id" -> (SkipUserLo, SkipUserHi), "ts_us" -> (SkipTsLo, SkipTsHi)))
        .orderBy("event_id")),
    "q113b_zorder_timeslice" -> reads(F.SkipStore)((s, d) =>
      // A time-only slice — the dimension a user-sorted linear layout
      // could not skip on at all; the interleave still prunes it.
      graft.sources.FactStore.readBox(s, F.SkipStore(s, d),
        Map("ts_us" -> (SkipTs2Lo, SkipTs2Hi)))
        .orderBy("event_id")),
    "q114_layout_append" -> reads(F.AppendedSkip)((s, d) =>
      // The same box AFTER an ingest batch landed as its own segment:
      // pruning is sound unconditionally (its stats entries are exact),
      // just looser — and the answer is STILL the plain scan's.
      graft.sources.FactStore.readBox(s, F.AppendedSkip(s, d),
        Map("user_id" -> (SkipUserLo, SkipUserHi), "ts_us" -> (SkipTsLo, SkipTsHi)))
        .orderBy("event_id")),
    "q114b_layout_optimized" -> reads(F.OptimizedSkip)((s, d) =>
      // After compaction rewrote everything into one globally z-ordered
      // generation (one manifest commit, old files left for vacuum):
      // same answer, tight pruning again.
      graft.sources.FactStore.readBox(s, F.OptimizedSkip(s, d),
        Map("user_id" -> (SkipUserLo, SkipUserHi), "ts_us" -> (SkipTsLo, SkipTsHi)))
        .orderBy("event_id")),
    "q116_bloom_point_lookup" -> reads(F.SkipStore)((s, d) =>
      // An IN-list probe on event_id — high-cardinality, uncorrelated
      // with the (user, time) z-order, so every file's [min, max]
      // spans the domain and zone maps prune NOTHING; the per-file
      // key Bloom bitsets in the stats sidecars prune at file level
      // before any data I/O (false positives read extra files, the
      // residual IN keeps the answer exact).
      graft.sources.FactStore.readPoint(s, F.SkipStore(s, d), BloomProbeIds)
        .orderBy("event_id")),
    "q115_change_feed" -> reads(F.UpsertedText)((s, d) =>
      // The change data feed of the v4 upsert: content-based per-doc
      // diff — revived docs surface as inserts, replaced ones as
      // updates, and physical rewrites can never leak in.
      VersionedTextIndex.changes(s,
        F.UpsertedText(s, d), 3L, 4L)),
    "q115b_change_feed_deletes" -> reads(F.UpsertedText)((s, d) =>
      // The delete commit's feed (v1 → v2): exactly the takedown set.
      VersionedTextIndex.changes(s,
        F.UpsertedText(s, d), 1L, 2L)),
    "q115c_vector_change_feed" -> reads(F.UpsertedAnn)((s, d) =>
      // The vector upsert's feed (v3 → v4): revived ids as inserts,
      // re-embedded live ids as updates — (cell, codes) content
      // compared exactly, so the v3 compaction's rewrite emits nothing.
      VersionedVectorIndex.changes(s,
        F.UpsertedAnn(s, d), 3L, 4L)),
    "q117_incremental_df" -> reads(F.UpsertedText)((s, d) => {
      // Materialized-view maintenance off the feed: the v3 df table
      // rolls forward through the v4 upsert touching ONLY the changed
      // docs' postings — and must equal a from-scratch df at v4.
      val dir = F.UpsertedText(s, d)
      val V = graft.sources.VersionedTextIndex
      V.dfRollForward(s, dir, V.dfTable(s, dir, 3L), 3L, 4L)
        .orderBy("term")
    }),
    "q95_stored_hybrid" -> reads(F.TextIndex, F.AnnStore)((s, d) =>
      Similarity.hybridRrfVersioned(s,
        F.TextIndex(s, d), VersionedTextIndex.Latest,
        F.AnnStore(s, d), VersionedVectorIndex.Latest,
        Bm25Terms, Bm25K, RrfK, IvfPqProbes,
        Similarity.queryVectors(Tables.table(s, d, "embeddings"), col("vec_id") === 0L),
        BatchQueries.toLong)),
    "q120_triple_hybrid" -> reads(F.TextIndex, F.AnnStore)((s, d) => {
      // The full modern retrieval stack: BM25 + learned-sparse +
      // dense IVF-PQ, every leg from a persisted index, fused by
      // exact-integer reciprocal ranks (three incomparable score
      // scales never meet — only ranks do).
      Similarity.hybridRrf3Stored(s, F.TextIndex(s, d), F.AnnStore(s, d),
        Bm25Terms, SparseQueryWeights, Bm25K, RrfK, IvfPqProbes,
        Similarity.queryVectors(Tables.table(s, d, "embeddings"), col("vec_id") === 0L),
        BatchQueries.toLong)
    }),
    "q86_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.table(s, d, "documents"), Bm25Terms, Bm25K)),
    "q87_hybrid_rrf" -> ((s, d) =>
      Similarity.hybridRrf(Tables.table(s, d, "documents"),
        Tables.table(s, d, "embeddings"), Bm25Terms, Bm25K, RrfK)),
    "q88_pca_power" -> ((s, d) =>
      Similarity.pcaPower(Tables.table(s, d, "embeddings"), PcaRounds)),
    "q88b_pca_project" -> ((s, d) =>
      Similarity.pcaProject(Tables.table(s, d, "embeddings"), PcaRounds)),
    "q88c_pca_deflate" -> ((s, d) =>
      Similarity.pcaDeflate(Tables.table(s, d, "embeddings"), PcaRounds)),
    "q73d_pq_train" -> ((s, d) =>
      Similarity.pqTrain(Tables.table(s, d, "embeddings"), PqSub, PqCodes, KmeansIters)),
    "q73e_pq_encode_trained" -> ((s, d) =>
      Similarity.pqEncodeTrained(Tables.table(s, d, "embeddings"),
        PqSub, PqCodes, KmeansIters)),
    "q73c_pq_rerank" -> ((s, d) =>
      Similarity.pqRerankSearch(Tables.table(s, d, "embeddings"),
        PqSub, PqCodes, BatchQueries, PqShortlist, BatchTopK)),
    "q74_corpus_pipeline" -> ((s, d) =>
      Curation.corpusPipeline(Tables.table(s, d, "documents"),
        FunnelMinTok, FunnelMaxTok, FunnelMinQuality, FunnelMaxTopTok,
        NumShards, ShuffleSalt)),
    "q75_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Tables.table(s, d, "documents"),
        HhCapacity, HhShareDen)),
    "q64_doc_lookup" -> reads(F.DocIdStore)((s, d) => {
      // Round-trip through the id-partitioned corpus store: an id-range
      // lookup answered with partition pruning (the q01b pattern for
      // documents).
      DocStore.lookup(s, F.DocIdStore(s, d), DocLookupLo, DocLookupHi, DocSpan)
    }),
  )

  /** DuckDB oracle for Q20 — the full `Process` replay, reproduced in
    * closed-form SQL. The key identity: `lastTick` always stays on the
    * tick grid (lastTick = start + tick·T), so T after the tick at any
    * sync is simply `(now - start) div tick` — exact for this corpus
    * because no event time lands on an exact tick multiple relative to
    * its stream start (the strict `>` in game.go:83 would skip that
    * tick). Everything else (stamping = prev sync's T + 1, sessions,
    * dense proxy ids, evictions = first stream sync past the deadline,
    * LWW state visibility) follows from window functions over the
    * schedule. Delta payloads are compared as order-sensitive hash sums:
    * each term mixes the event's global append rank, so equal sums ⟹
    * identical ordered sequences.
    */
  private def q20OracleSql: String = {
    def h48(x: String) = s"CAST('0x' || substr(md5($x), 1, 12) AS BIGINT)"
    val deH = h48("CAST(l.rnk AS VARCHAR) || ':' || CAST(l.et AS VARCHAR) || ':' || l.etype || ':' || l.eorigin || ':' || l.ebody")
    // Mirrors SyncCore.stateTerm: origin:t:<key-sorted data map>, where
    // the replay's state payload is the single pair last_event -> event_id.
    val dsH = h48("CAST(proxy_id AS VARCHAR) || ':' || CAST(t_state AS VARCHAR) || ':last_event=' || CAST(event_id AS VARCHAR)")
    s"""WITH sched AS (
          SELECT user_id % ${SyncReplay.NumStreams} AS sid, user_id, event_id,
                 epoch_us(ts) AS now, event_type
          FROM events),
        s AS (
          SELECT *, row_number() OVER (PARTITION BY sid ORDER BY now, event_id) AS sseq,
                 min(now) OVER (PARTITION BY sid) AS start
          FROM sched),
        tk AS (
          SELECT *, (now - start) // $SyncTickUs AS T,
                 lag(now) OVER (PARTITION BY sid, user_id ORDER BY sseq) AS prev_user_now,
                 coalesce(lag((now - start) // $SyncTickUs)
                   OVER (PARTITION BY sid, user_id ORDER BY sseq), 0) AS lastKnown,
                 coalesce(lag((now - start) // $SyncTickUs)
                   OVER (PARTITION BY sid ORDER BY sseq), 0) AS prevT
          FROM s),
        sess AS (
          SELECT *, CASE WHEN prev_user_now IS NULL
                           OR now - prev_user_now > $SessionGapUs
                         THEN 1 ELSE 0 END AS is_start
          FROM tk),
        px AS (
          SELECT sid, user_id, sseq AS start_sseq,
                 row_number() OVER (PARTITION BY sid ORDER BY sseq) AS proxy_id
          FROM sess WHERE is_start = 1),
        sync2 AS (
          SELECT t.*, p.proxy_id
          FROM sess t JOIN px p ON p.sid = t.sid AND p.user_id = t.user_id
            AND p.start_sseq <= t.sseq
          QUALIFY row_number() OVER (PARTITION BY t.sid, t.sseq
            ORDER BY p.start_sseq DESC) = 1),
        sessend AS (
          SELECT sid, user_id, proxy_id, max(now) AS last_touch
          FROM sync2 GROUP BY sid, user_id, proxy_id),
        ev AS (
          SELECT se.sid, se.proxy_id, min(s2.sseq) AS evict_sseq
          FROM sessend se JOIN s s2 ON s2.sid = se.sid
            AND s2.now > se.last_touch + $SessionGapUs
          GROUP BY se.sid, se.proxy_id),
        log AS (
          SELECT sid, 0 AS sseq, 0 AS phase, 0 AS intra, 1 AS et,
                 '_a' AS etype, '_' AS eorigin, '${SyncReplay.Seed}' AS ebody
          FROM (SELECT DISTINCT sid FROM s)
          UNION ALL
          SELECT e.sid, e.evict_sseq, 1,
                 CAST(row_number() OVER (PARTITION BY e.sid, e.evict_sseq
                   ORDER BY e.proxy_id) AS INTEGER),
                 t.prevT + 1, '_d', '_', CAST(e.proxy_id AS VARCHAR)
          FROM ev e JOIN tk t ON t.sid = e.sid AND t.sseq = e.evict_sseq
          UNION ALL
          SELECT p.sid, p.start_sseq, 2, 0, t.prevT + 1, '_c', '_',
                 CAST(p.proxy_id AS VARCHAR)
          FROM px p JOIN tk t ON t.sid = p.sid AND t.sseq = p.start_sseq
          UNION ALL
          SELECT sid, sseq, 3, 0, prevT + 1, event_type,
                 CAST(proxy_id AS VARCHAR), CAST(event_id AS VARCHAR)
          FROM sync2),
        rlog AS (
          SELECT *, row_number() OVER (PARTITION BY sid ORDER BY sseq, phase, intra) - 1 AS rnk
          FROM log),
        de AS (
          SELECT y.sid, y.sseq AS osseq, count(*) AS n,
                 CAST(sum($deH) AS BIGINT) AS h
          FROM sync2 y JOIN rlog l ON l.sid = y.sid AND l.sseq <= y.sseq
          WHERE l.et > y.lastKnown AND l.et <= y.T
          GROUP BY y.sid, y.sseq),
        pairs AS (
          SELECT y.sid, y.sseq, y.lastKnown, p.proxy_id
          FROM sync2 y JOIN px p ON p.sid = y.sid AND p.start_sseq <= y.sseq
          LEFT JOIN ev e ON e.sid = y.sid AND e.proxy_id = p.proxy_id
          WHERE e.evict_sseq IS NULL OR e.evict_sseq > y.sseq),
        ds0 AS (
          SELECT pr.sid, pr.sseq, pr.lastKnown, pr.proxy_id,
                 q2.T + 1 AS t_state, q2.event_id
          FROM pairs pr JOIN sync2 q2 ON q2.sid = pr.sid
            AND q2.proxy_id = pr.proxy_id AND q2.sseq <= pr.sseq
          QUALIFY row_number() OVER (PARTITION BY pr.sid, pr.sseq, pr.proxy_id
            ORDER BY q2.sseq DESC) = 1),
        ds AS (
          SELECT sid, sseq AS osseq, count(*) AS n,
                 CAST(sum($dsH) AS BIGINT) AS h
          FROM ds0 WHERE t_state > lastKnown
          GROUP BY sid, sseq)
        SELECT y.sid AS stream_id, y.sseq AS sync_seq, y.user_id, y.T AS t,
               CAST(y.proxy_id AS BIGINT) AS proxy_id,
               coalesce(de.n, 0) AS n_delta_events,
               coalesce(de.h, 0) AS delta_events_hash,
               coalesce(ds.n, 0) AS n_delta_states,
               coalesce(ds.h, 0) AS delta_states_hash
        FROM sync2 y
        LEFT JOIN de ON de.sid = y.sid AND de.osseq = y.sseq
        LEFT JOIN ds ON ds.sid = y.sid AND ds.osseq = y.sseq
        ORDER BY stream_id, sync_seq"""
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Q139d answers the SAME question as q139 through the SQL TVF
    * surface (graft_cep_pattern parses the pattern string to the
    * identical CepStep sequence), so the one oracle checks both entry
    * points. */
  def oracleSql: Map[String, String] = baseOracleSql +
    ("q139d_cep_sql" -> baseOracleSql("q139_cep_pattern4"))

  private def baseOracleSql: Map[String, String] = Map(
    "q20_sync_replay" -> q20OracleSql,
    "q01_delta_scan" -> deltaScanOracleSql,
    // Same logical query as q01 — the partitioned layout must be
    // invisible to results, only to I/O.
    "q01b_delta_pruned" -> deltaScanOracleSql,
    "q02_latest_state" ->
      """SELECT user_id, props AS state, ts_us AS t FROM (
           SELECT user_id, props, epoch_us(ts) AS ts_us,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q03_join_agg" ->
      s"""SELECT n_name, count(*) AS n_customers,
                 round(${exactSumSql("c_acctbal", 2)}, 2) AS total_acctbal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name""",
    "q04_multijoin_revenue" ->
      s"""SELECT r_name, n_name,
                 round(${exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 2) AS revenue,
                 count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q05b_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         ORDER BY s_suppkey""",
    "q06_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
                 round(${exactSumSql("l_quantity", 2)}, 2) AS sum_qty,
                 round(${exactSumSql("l_extendedprice", 2)}, 2) AS sum_base_price,
                 round(${exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 2) AS sum_disc_price,
                 ${roundSql(exactSumSql("l_quantity", 2) + " / count(*)", 4)} AS avg_qty,
                 ${roundSql(exactSumSql("l_extendedprice", 2) + " / count(*)", 4)} AS avg_price,
                 ${roundSql(exactSumSql("l_discount", 2) + " / count(*)", 6)} AS avg_disc,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q07_distinct_users" ->
      "SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM events",
    // The HLL estimate is engine-specific; the deterministic contract is
    // the exact count plus the bound holding (engine emits the bound
    // check as a boolean, oracle asserts it must be true).
    "q07b_approx_distinct" ->
      "SELECT count(DISTINCT user_id) AS n_users, true AS within_tol FROM events",
    "q08_rollup" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation,
                coalesce(o_orderpriority, 'ALL') AS priority,
                count(*) AS n_orders, round(${exactSumSql("o_totalprice", 2)}, 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP(n_name, o_orderpriority) ORDER BY nation, priority""",
    "q08b_cube" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation,
                coalesce(o_orderpriority, 'ALL') AS priority,
                count(*) AS n_orders, round(${exactSumSql("o_totalprice", 2)}, 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY CUBE(n_name, o_orderpriority) ORDER BY nation, priority""",
    "q09_sessionize" ->
      s"""WITH m AS (
            SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev_ts
            FROM events)
          SELECT user_id,
                 CAST(sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $SessionGapUs
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                 count(*) AS n_events
          FROM m GROUP BY user_id ORDER BY user_id""",
    // Native session_window variant — same contract, so the same oracle
    // (the gap+1us duration makes the merge condition identical).
    "q09c_session_window" ->
      s"""WITH m AS (
            SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev_ts
            FROM events)
          SELECT user_id,
                 CAST(sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $SessionGapUs
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                 count(*) AS n_events
          FROM m GROUP BY user_id ORDER BY user_id""",
    "q10_proxy_ids" ->
      """SELECT user_id, first_seen,
                CAST(row_number() OVER (ORDER BY first_seen, user_id) AS BIGINT) AS proxy_id
         FROM (SELECT user_id, min(epoch_us(ts)) AS first_seen FROM events GROUP BY user_id)
         ORDER BY proxy_id""",
    "q11_window_funcs" ->
      """SELECT event_id, user_id, ts_us,
                round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING), 2) AS running_sum,
                ts_us - lag(ts_us) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS gap_us,
                CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS BIGINT) AS rn
         FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
         ORDER BY event_id""",
    "q12_topk" ->
      s"""SELECT user_id, round(${exactSumSql("value", 2)}, 2) AS total_value, count(*) AS n_events
          FROM events GROUP BY user_id
          ORDER BY total_value DESC, user_id LIMIT $TopK""",
    "q13_set_ops" ->
      """WITH eu AS (SELECT DISTINCT user_id AS id FROM events),
              oc AS (SELECT DISTINCT o_custkey AS id FROM orders),
              ck AS (SELECT c_custkey AS id FROM customer)
         SELECT 'except' AS op, id FROM (SELECT id FROM eu EXCEPT SELECT id FROM oc)
         UNION ALL
         SELECT 'intersect' AS op, id FROM (SELECT id FROM eu INTERSECT SELECT id FROM oc)
         UNION ALL
         SELECT 'union' AS op, id FROM (SELECT id FROM eu UNION SELECT id FROM ck)
         ORDER BY op, id""",
    "q14_json_extract" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
                 count(*) AS n, round(${exactSumSql("value", 2)}, 2) AS sum_value
          FROM events GROUP BY k ORDER BY k NULLS FIRST""",
    "q15_scalar_funcs" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, substr(event_type, 1, 3) AS prefix,
                 count(*) AS n, round(${exactSumSql("value", 2)}, 2) AS sum_value,
                 ${roundSql(exactSumSql("abs(value)", 2) + " / count(*)", 4)} AS avg_abs
          FROM events GROUP BY day, prefix ORDER BY day, prefix""",
    "q16_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
                round(CAST(embedding[1] AS DOUBLE), 4) AS first_elem,
                round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), 4) AS sq_norm,
                label
         FROM embeddings ORDER BY vec_id""",
    "q17_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q17b_minhash" ->
      s"""WITH $shingleCte
          SELECT doc_id, array_to_string(sig, '|') AS signature
          FROM sig ORDER BY doc_id""",
    "q17c_neardup_pairs" ->
      s"""WITH $nearDupCte
          SELECT doc_a, doc_b, ${roundSql("jac", 4)} AS jaccard
          FROM j WHERE jac >= $NearDupThreshold ORDER BY doc_a, doc_b""",
    "q17e_ensemble_neardup" ->
      s"""WITH $nearDupCte,
          p AS (SELECT doc_a, doc_b, ${roundSql("jac", 4)} AS jaccard
                FROM j WHERE jac >= $NearDupThreshold),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
          SELECT p.doc_a, p.doc_b, p.jaccard,
                 ${roundSql(cosSql("ea.emb", "eb.emb"), 4)} AS cosine
          FROM p JOIN e ea ON ea.vec_id = p.doc_a
                 JOIN e eb ON eb.vec_id = p.doc_b
          ORDER BY doc_a, doc_b""",
    "q17d_simhash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 12) AS BIGINT) AS hw FROM w),
         v AS (SELECT doc_id, b,
                 sum(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
               FROM h, UNNEST(generate_series(0, 47)) AS t(b) GROUP BY doc_id, b)
         SELECT doc_id,
                CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM v GROUP BY doc_id ORDER BY doc_id""",
    "q18_similarity_topk" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings
                     WHERE vec_id = $QueryVecId),
          e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
                WHERE vec_id != $QueryVecId)
          SELECT vec_id, label, ${roundSql(cosSql("emb", "qemb"), 4)} AS score
          FROM e, q ORDER BY score DESC, vec_id LIMIT $SimTopK""",
    "q18b_ivf_clusters" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCentroids),
          s AS (SELECT e.vec_id, c.cid, ${cosSql("emb", "cemb")} AS sim FROM e, c),
          r AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY ${roundSql("sim", 6)} DESC, cid) AS rn
                FROM s)
          SELECT cid, count(*) AS n_vectors FROM r WHERE rn = 1
          GROUP BY cid ORDER BY cid""",
    "q18c_cluster_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCentroids),
          s AS (SELECT e.vec_id, c.cid, ${cosSql("emb", "cemb")} AS sim FROM e, c),
          r AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY ${roundSql("sim", 6)} DESC, cid) AS rn
                FROM s),
          a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
          q AS (SELECT emb AS qemb FROM e WHERE vec_id = $QueryVecId),
          sc AS (SELECT a.cid, a.vec_id, ${roundSql(cosSql("emb", "qemb"), 4)} AS score
                 FROM a JOIN e ON e.vec_id = a.vec_id, q),
          t AS (SELECT cid, vec_id, score,
                  CAST(row_number() OVER (PARTITION BY cid
                    ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                FROM sc)
          SELECT cid, rnk, vec_id, score FROM t WHERE rnk <= $ClusterTopK
          ORDER BY cid, rnk""",
    "q18d_emb_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          d AS (SELECT e.vec_id, h,
                  list_sum(list_transform(generate_series(1, len(e.emb)),
                    i -> e.emb[i] * ((CAST('0x' || substr(md5(h::VARCHAR || ':' || (i - 1)::VARCHAR), 1, 12) AS BIGINT)
                                       % 1000001) / 500000.0 - 1.0))) AS dot
                FROM e, UNNEST(generate_series(0, ${Similarity.NumPlanes - 1})) AS t(h)),
          b AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1 << h ELSE 0 END) AS BIGINT) AS bucket
                FROM d GROUP BY vec_id),
          x AS (SELECT b.bucket, e.vec_id, e.label, e.emb FROM b JOIN e USING (vec_id))
          SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
                 a.label AS label_a, b2.label AS label_b,
                 ${roundSql(cosSql("a.emb", "b2.emb"), 4)} AS score
          FROM x a JOIN x b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
          ORDER BY score DESC, vec_a, vec_b LIMIT $EmbPairsK""",
    "q18e_batch_search" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCentroids),
          s AS (SELECT e.vec_id, c.cid, ${cosSql("emb", "cemb")} AS sim FROM e, c),
          r AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY ${roundSql("sim", 6)} DESC, cid) AS rn
                FROM s),
          a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
          q AS (SELECT a.vec_id AS qid, a.cid, e.emb AS qemb
                FROM a JOIN e USING (vec_id) WHERE vec_id < $BatchQueries),
          corp AS (SELECT a.cid, a.vec_id, e.emb
                   FROM a JOIN e USING (vec_id) WHERE vec_id >= $BatchQueries),
          sc AS (SELECT q.qid, corp.vec_id, ${roundSql(cosSql("corp.emb", "qemb"), 4)} AS score
                 FROM corp JOIN q ON corp.cid = q.cid),
          t AS (SELECT qid, vec_id, score,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                FROM sc)
          SELECT qid, rnk, vec_id, score FROM t WHERE rnk <= $BatchTopK
          ORDER BY qid, rnk""",
    "q18f_lsh_search" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          d AS (SELECT e.vec_id, e.emb, h,
                  list_sum(list_transform(generate_series(1, len(e.emb)),
                    i -> e.emb[i] * ((CAST('0x' || substr(md5(h::VARCHAR || ':' || (i - 1)::VARCHAR), 1, 12) AS BIGINT)
                                       % 1000001) / 500000.0 - 1.0))) AS dot
                FROM e, UNNEST(generate_series(0, ${Similarity.NumPlanes - 1})) AS t(h)),
          b AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1 << h ELSE 0 END) AS BIGINT) AS bucket
                FROM d GROUP BY vec_id),
          q AS (SELECT b.vec_id AS qid, b.bucket, e.emb AS qemb
                FROM b JOIN e USING (vec_id) WHERE vec_id < $BatchQueries),
          corp AS (SELECT b.bucket, b.vec_id, e.emb
                   FROM b JOIN e USING (vec_id) WHERE vec_id >= $BatchQueries),
          sc AS (SELECT q.qid, corp.vec_id, ${roundSql(cosSql("corp.emb", "qemb"), 4)} AS score
                 FROM corp JOIN q ON corp.bucket = q.bucket),
          t AS (SELECT qid, vec_id, score,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                FROM sc)
          SELECT qid, rnk, vec_id, score FROM t WHERE rnk <= $BatchTopK
          ORDER BY qid, rnk""",
    "q18h_multitable_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          d AS (SELECT e.vec_id, e.emb, t, h,
                  list_sum(list_transform(generate_series(1, len(e.emb)),
                    i -> e.emb[i] * ((CAST('0x' || substr(md5(
                           CASE WHEN t = 0 THEN h::VARCHAR || ':' || (i - 1)::VARCHAR
                                ELSE t::VARCHAR || ':' || h::VARCHAR || ':' || (i - 1)::VARCHAR END
                         ), 1, 12) AS BIGINT) % 1000001) / 500000.0 - 1.0))) AS dot
                FROM e,
                     UNNEST(generate_series(0, $LshTables - 1)) AS tt(t),
                     UNNEST(generate_series(0, ${Similarity.NumPlanes - 1})) AS th(h)),
          b AS (SELECT vec_id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << h ELSE 0 END) AS BIGINT) AS bucket
                FROM d GROUP BY vec_id, t),
          q AS (SELECT b.vec_id AS qid, b.t, b.bucket, e.emb AS qemb
                FROM b JOIN e USING (vec_id) WHERE vec_id < $BatchQueries),
          corp AS (SELECT b.t, b.bucket, b.vec_id, e.emb
                   FROM b JOIN e USING (vec_id) WHERE vec_id >= $BatchQueries),
          sc AS (SELECT q.qid, corp.vec_id,
                   max(${roundSql(cosSql("corp.emb", "qemb"), 4)}) AS score
                 FROM corp JOIN q ON corp.t = q.t AND corp.bucket = q.bucket
                 GROUP BY q.qid, corp.vec_id),
          tk AS (SELECT qid, vec_id, score,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                 FROM sc)
          SELECT qid, rnk, vec_id, score FROM tk WHERE rnk <= $BatchTopK
          ORDER BY qid, rnk""",
    "q18g_udaf_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $BatchQueries),
          corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= $BatchQueries),
          sc AS (SELECT q.qid, corp.vec_id, ${roundSql(cosSql("corp.emb", "qemb"), 4)} AS score
                 FROM corp, q),
          t AS (SELECT qid, vec_id, score,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                FROM sc)
          SELECT qid, rnk, vec_id, score FROM t WHERE rnk <= 10
          ORDER BY qid, rnk""",
    "q19_text_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                 ${roundSql("CAST(sum(n_chars) AS DOUBLE) / count(*)", 4)} AS avg_chars,
                 ${roundSql("CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)", 4)} AS avg_tokens
          FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "q19b_quality" ->
      s"""WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents),
         m AS (SELECT doc_id, lang,
                 CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens_re,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                 len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
                 list_sum(list_transform(ws, w -> len(w))) AS sum_wlen
               FROM d),
         r AS (SELECT doc_id, lang, n_tokens, n_tokens_re, n_types,
                 ${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
                 ${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio,
                 ${roundSql("CAST(sum_wlen AS DOUBLE) / n_tokens", 4)} AS mean_wlen
               FROM m)
         SELECT doc_id, n_tokens, n_tokens_re, n_types, ttr, stop_ratio, mean_wlen,
                ${roundSql("0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.4 * ttr + 0.3 * stop_ratio", 4)} AS quality,
                CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
                (CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END = lang) AS lang_match
         FROM r ORDER BY doc_id""",
    "q19c_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
         SELECT doc_id, md5(text) AS content_md5,
                CAST(list_sum(list_transform(generate_series(1, len(ws)), i ->
                  CAST('0x' || substr(md5((i - 1)::VARCHAR || ':' || ws[i]), 1, 12) AS BIGINT)))
                  AS BIGINT) AS rolling_hash
         FROM d ORDER BY doc_id""",
    "q19d_bpe_tokens" ->
      raw"""WITH t AS (SELECT doc_id, n_chars,
            regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+') AS toks
          FROM documents),
         c AS (SELECT doc_id, n_chars,
            CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
            CAST(len(list_filter(toks, t -> regexp_matches(t, '^ ?\p{L}+$$'))) AS BIGINT) AS n_word_toks,
            CAST(len(list_filter(toks, t -> regexp_matches(t, '^ ?\p{N}+$$'))) AS BIGINT) AS n_num_toks,
            CAST(len(list_filter(toks, t -> regexp_matches(t, '^''(?:s|t|re|ve|m|ll|d)$$'))) AS BIGINT) AS n_contr_toks,
            CAST(len(list_filter(toks, t -> regexp_matches(t, '^[ \t\n\f\r]+$$'))) AS BIGINT) AS n_ws_toks
          FROM t)
         SELECT doc_id, n_bpe_tokens, n_word_toks, n_num_toks, n_contr_toks, n_ws_toks,
                n_bpe_tokens - n_word_toks - n_num_toks - n_contr_toks - n_ws_toks AS n_other_toks,
                ${roundSql("CAST(n_chars AS DOUBLE) / n_bpe_tokens", 4)} AS chars_per_tok
         FROM c ORDER BY doc_id""",
    "q21_multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS media_type,
                CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                sha256(text) AS sha256,
                CAST(64 + h48 % 960 AS INTEGER) AS width,
                CAST(64 + (h48 >> 10) % 540 AS INTEGER) AS height,
                CAST(1 + h48 % 30 AS INTEGER) AS n_frames
         FROM (SELECT doc_id, text,
                 CAST('0x' || substr(sha256(text), 1, 12) AS BIGINT) AS h48
               FROM documents) ORDER BY doc_id""",
    "q21b_frame_sample" ->
      s"""WITH m AS (SELECT doc_id,
                       CAST(1 + CAST('0x' || substr(sha256(text), 1, 12) AS BIGINT) % 30 AS INTEGER)
                         AS n_frames
                     FROM documents),
          s AS (SELECT doc_id, n_frames,
                  CAST(ceil(CAST(n_frames AS DOUBLE) / $MaxFrames) AS INT) AS st
                FROM m)
          SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, n_frames
          FROM s, UNNEST(generate_series(0, st * ${MaxFrames - 1}, st)) AS t(f)
          WHERE f < n_frames
          ORDER BY doc_id, frame_idx""",
    "q21c_resize_meta" ->
      s"""WITH m AS (SELECT doc_id,
                       CAST(64 + h48 % 960 AS INTEGER) AS width,
                       CAST(64 + (h48 >> 10) % 540 AS INTEGER) AS height
                     FROM (SELECT doc_id,
                             CAST('0x' || substr(sha256(text), 1, 12) AS BIGINT) AS h48
                           FROM documents)),
          s AS (SELECT doc_id, width, height,
                  least(1.0, CAST($MaxResizeDim AS DOUBLE) / greatest(width, height)) AS scale
                FROM m)
          SELECT doc_id, width, height,
                 CAST(floor(width * scale + 0.5) AS INTEGER) AS resized_w,
                 CAST(floor(height * scale + 0.5) AS INTEGER) AS resized_h
          FROM s ORDER BY doc_id""",
    // Q21d: the engine ENCODES a deterministic PNG per doc and DECODES
    // it with the real JDK codec; the oracle recomputes dims + gray
    // pixel sum from the generator's closed form — verifying a real
    // decode without decoding anything itself.
    "q21d_image_decode" ->
      """WITH d AS (SELECT doc_id,
                      8 + (doc_id * 37) % 24 AS w,
                      8 + (doc_id * 53) % 24 AS h
                    FROM documents)
         SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(sum((7 * gx + 13 * gy + doc_id) % 256) AS BIGINT) AS px_sum
         FROM d
         CROSS JOIN UNNEST(generate_series(0, w - 1)) AS tx(gx)
         CROSS JOIN UNNEST(generate_series(0, h - 1)) AS ty(gy)
         GROUP BY doc_id, w, h ORDER BY doc_id""",
    // Q21e: closed form of Multimodal.wavBlob — n = 64 + id·37 mod 192
    // 16-bit samples s(i) = ((7i² + 29i + 13·id) mod 65536) − 32768;
    // every term is a nonnegative integer before the final shift, so %
    // sign conventions can't diverge between engines.
    "q21e_audio_decode" ->
      """WITH d AS (SELECT doc_id, 64 + (doc_id * 37) % 192 AS n FROM documents),
          s AS (SELECT d.doc_id, d.n,
                  (7 * t.i * t.i + 29 * t.i + 13 * d.doc_id) % 65536 - 32768 AS v
                FROM d CROSS JOIN range(256) t(i) WHERE t.i < d.n)
         SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
                CAST(n AS BIGINT) AS n_samples,
                CAST(sum(v) AS BIGINT) AS amp_sum,
                CAST(max(abs(v)) AS BIGINT) AS amp_peak
         FROM s GROUP BY doc_id, n ORDER BY doc_id""",
    // Q21f: the generator's closed form — stride-1 luma means a
    // frame's pixel sum is full 0..250 cycles (31375 each) plus two
    // arithmetic tails split at the modular wrap; pure O(1) integer
    // math per frame, no pixel enumeration oracle-side.
    "q21f_video_decode" ->
      """WITH vd AS (SELECT doc_id,
                CAST(8 + 2 * ((doc_id * 13) % 12) AS BIGINT) AS w,
                CAST(8 + 2 * ((doc_id * 7) % 8) AS BIGINT) AS h,
                CAST(2 + doc_id % 5 AS BIGINT) AS nf,
                CAST(24 + doc_id % 2 AS BIGINT) AS fps
              FROM documents),
          fr AS (SELECT doc_id, w, h, nf, fps,
                   unnest(generate_series(0, nf - 1)) AS f FROM vd),
          fs AS (SELECT doc_id, w, h, nf, fps, f,
                   (w * h) // 251 AS cyc, (w * h) % 251 AS rem,
                   CAST((7 * doc_id + 17 * f) % 251 AS BIGINT) AS base
                 FROM fr),
          sums AS (SELECT doc_id, w, h, nf, fps, f,
                     CAST(cyc * 31375 +
                       CASE WHEN base + rem <= 251
                         THEN rem * base + rem * (rem - 1) // 2
                         ELSE (251 - base) * base + (251 - base) * (250 - base) // 2
                              + (rem - (251 - base)) * (rem - (251 - base) - 1) // 2
                       END AS BIGINT) AS s
                   FROM fs)
          SELECT doc_id, CAST(max(w) AS INT) AS width,
                 CAST(max(h) AS INT) AS height,
                 CAST(max(fps) AS INT) AS fps_num,
                 CAST(1 AS BIGINT) AS fps_den,
                 CAST(max(nf) AS BIGINT) AS n_frames,
                 CAST(sum(s) AS BIGINT) AS luma_sum,
                 CAST(sum(CASE WHEN f = 0 THEN s ELSE 0 END) AS BIGINT) AS luma_first
          FROM sums GROUP BY doc_id ORDER BY doc_id""",
    // Q21g: the engine writes an MJPEG/AVI clip per doc (every frame a
    // REAL JDK-encoded JPEG), demuxes the RIFF container byte-level and
    // decodes every frame with the real codec; the oracle recomputes
    // dims + per-frame gray sums from the generator's closed form.
    // Block-aligned two-band frames round-trip the lossy codec exactly,
    // which is what makes a closed-form oracle possible for JPEG.
    "q21g_mjpeg_decode" ->
      """WITH vd AS (SELECT doc_id,
                CAST(16 * (2 + doc_id % 3) AS BIGINT) AS w,
                CAST(8 * (2 + doc_id % 4) AS BIGINT) AS h,
                CAST(2 + doc_id % 5 AS BIGINT) AS nf,
                CAST(24 + doc_id % 2 AS BIGINT) AS fps
              FROM documents),
          fr AS (SELECT doc_id, w, h, nf, fps,
                   unnest(generate_series(0, nf - 1)) AS f FROM vd),
          fs AS (SELECT doc_id, w, h, nf, fps, f,
                   (w // 2) * h * (((7 * doc_id + 17 * f) % 256)
                                 + ((11 * doc_id + 29 * f + 101) % 256)) AS s
                 FROM fr)
          SELECT doc_id, CAST(max(w) AS INT) AS width,
                 CAST(max(h) AS INT) AS height,
                 CAST(max(fps) AS INT) AS fps,
                 CAST(max(nf) AS BIGINT) AS n_frames,
                 CAST(sum(s) AS BIGINT) AS px_sum,
                 CAST(sum(CASE WHEN f = 0 THEN s ELSE 0 END) AS BIGINT) AS px_first
          FROM fs GROUP BY doc_id ORDER BY doc_id""",
    "q22_stratified_sample" -> {
      val rateCase = MixRates.toSeq.sortBy(_._1)
        .map { case (s, r) => s"WHEN '$s' THEN $r" }
        .mkString("CASE source ", " ", s" ELSE $MixDefaultRate END")
      s"""WITH r AS (SELECT doc_id, source, lang, n_chars,
                       CAST($rateCase AS DOUBLE) AS keep_rate
                     FROM documents)
          SELECT doc_id, source, lang, n_chars, keep_rate FROM r
          WHERE CAST('0x' || substr(md5('$MixSalt:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  % 1000000 < keep_rate * 1000000
          ORDER BY doc_id"""
    },
    "q23_profile" ->
      s"""SELECT source, count(*) AS n_docs,
                 count(DISTINCT doc_id) AS n_distinct_ids,
                 CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_empty_text,
                 count(DISTINCT lang) AS n_langs,
                 CAST(min(n_chars) AS BIGINT) AS min_chars,
                 CAST(max(n_chars) AS BIGINT) AS max_chars,
                 ${roundSql("CAST(sum(n_chars) AS DOUBLE) / count(*)", 4)} AS avg_chars,
                 CAST(sum(length(text)) AS BIGINT) AS total_text_len,
                 count(DISTINCT doc_id) = count(*) AS ids_unique
          FROM documents GROUP BY source ORDER BY source""",
    "q24_part_revenue" ->
      s"""SELECT p_brand, count(DISTINCT p_partkey) AS n_parts, count(*) AS n_items,
                 round(${exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 2) AS revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_size <= 25
          GROUP BY p_brand ORDER BY p_brand""",
    "q25_quantiles" ->
      s"""SELECT event_type, count(*) AS n,
                 ${roundSql("quantile_cont(value, 0.5)", 4)} AS p50,
                 ${roundSql("quantile_cont(value, 0.9)", 4)} AS p90,
                 ${roundSql("quantile_cont(value, 0.99)", 4)} AS p99
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q26_histogram" ->
      """SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n
         FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket""",
    "q27_pivot" -> {
      val cols = PivotTypes.map(t =>
        s"""count(CASE WHEN event_type = '$t' THEN 1 END) AS "$t"""").mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id ORDER BY user_id"
    },
    // Unpivot emits the full user × type grid (pivot's zero-filled wide
    // matrix melted back), so the oracle builds the grid explicitly.
    "q27b_unpivot" -> {
      val typeList = PivotTypes.map(t => s"'$t'").mkString(", ")
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
          t AS (SELECT unnest([$typeList]) AS event_type),
          c AS (SELECT user_id, event_type, count(*) AS n
                FROM events GROUP BY user_id, event_type)
          SELECT u.user_id, t.event_type, coalesce(c.n, CAST(0 AS BIGINT)) AS n
          FROM u CROSS JOIN t
          LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
          ORDER BY u.user_id, t.event_type"""
    },
    "q28_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         m AS (SELECT *,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS view_event_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS view_ts_us
               FROM e)
         SELECT event_id, user_id, ts_us, view_event_id, view_ts_us,
                ts_us - view_ts_us AS lag_us
         FROM m WHERE event_type = 'purchase' ORDER BY event_id""",
    // Q127: all three surfaces restated from the LIVE corpus — BM25
    // trained/scored on survivors only (df/avgdl retreat with the
    // erasure), phrase recomputed from surviving text, ANN candidates
    // = the full-corpus-trained chain minus the erased ids (the store
    // was built before the take-down; q98's contract). If any engine
    // surface leaked an erased subject its list could not match.
    "q127_erasure_audit" -> {
      val livePred = s"doc_id % $ErasureMod <> $ErasureRes"
      val phrasePred = PhraseTerms.zipWithIndex
        .map { case (t, i) => s"ws[i + $i] = '$t'" }.mkString(" AND ")
      s"""WITH ${bm25CteFor(Bm25Terms, "z", livePred)},
          $ivfPqCtes,
          lexr AS (SELECT 'bm25' AS surface, CAST(0 AS BIGINT) AS qid,
                     CAST(row_number() OVER
                       (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rnk,
                     doc_id AS id,
                     CAST(score_micros AS DOUBLE) / 1e6 AS score
                   FROM zsc WHERE score_micros > 0),
          pd AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents WHERE $livePred),
          pst AS (SELECT doc_id,
                    list_filter(generate_series(1, len(ws) - ${PhraseTerms.size - 1}),
                                i -> $phrasePred) AS st
                  FROM pd),
          ph AS (SELECT doc_id, CAST(len(st) AS BIGINT) AS ptf
                 FROM pst WHERE len(st) > 0),
          phr AS (SELECT 'phrase' AS surface, CAST(0 AS BIGINT) AS qid,
                    CAST(row_number() OVER
                      (ORDER BY ptf DESC, doc_id) AS BIGINT) AS rnk,
                    doc_id AS id, CAST(ptf AS DOUBLE) AS score
                  FROM ph),
          rka AS (SELECT qid, vec_id, adc, row_number() OVER
                    (PARTITION BY qid ORDER BY adc, vec_id) AS rnk
                  FROM sc2 WHERE vec_id % $ErasureMod <> $ErasureRes),
          ann AS (SELECT 'ann' AS surface, qid, CAST(rnk AS BIGINT) AS rnk,
                    vec_id AS id, adc AS score
                  FROM rka WHERE rnk <= $BatchTopK)
          SELECT * FROM (
            SELECT * FROM lexr WHERE rnk <= $RrfK
            UNION ALL SELECT * FROM phr WHERE rnk <= $RrfK
            UNION ALL SELECT * FROM ann
            -- raw-lake surface: the subject residue is ERASED from the
            -- fact store, so the live restatement contributes NO 'raw'
            -- leak rows — only the live total.
            UNION ALL SELECT 'raw_total' AS surface, CAST(0 AS BIGINT) AS qid,
              CAST(0 AS BIGINT) AS rnk, count(*) AS id, 0.0 AS score
            FROM documents WHERE doc_id % $ErasureMod <> $ErasureRes)
          ORDER BY surface, qid, rnk"""
    },
    // Q128: identical blocking + pair rule; levenshtein is the same
    // classic edit distance in both engines; counts/distances BIGINT.
    "q128_fuzzy_match" ->
      s"""WITH e AS (SELECT p_name, count(*) AS n,
                  split_part(p_name, ' ', 2) AS block,
                  split_part(p_name, ' ', 1) AS variant
                FROM part GROUP BY 1)
          SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
                 CAST(levenshtein(a.variant, b.variant) AS BIGINT) AS lev,
                 a.n AS n_a, b.n AS n_b
          FROM e a JOIN e b ON a.block = b.block AND a.p_name < b.p_name
          WHERE levenshtein(a.variant, b.variant) <= $FuzzyMaxDist
          ORDER BY a.block, name_a, name_b""",
    // Q129: the same cell-seeded inverse-CDF noise — identical hash,
    // identical double pipeline, 1e-6 rounding on both sides.
    "q129_dp_release" ->
      s"""WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                  count(*) AS n_raw FROM events GROUP BY 1, 2),
          u AS (SELECT *, (CAST(${graft.functions.PortableHash.hash48Sql(
                  "'dp:' || event_type || ':' || CAST(day AS VARCHAR)")} AS DOUBLE)
                    + 0.5) / 281474976710656.0 AS uu
                FROM c),
          nz AS (SELECT *, ${roundSql(
                  s"""-${1.0 / DpEpsilon} * (CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END)
                      * ln(1.0 - 2.0 * abs(uu - 0.5))""", 6)} AS noise
                 FROM u)
          SELECT event_type, day, n_raw, noise,
                 ${roundSql("n_raw + noise", 6)} AS released
          FROM nz ORDER BY event_type, day""",
    // Q130: the same half-open (ts_us, event_id) lookback window as a
    // plain range join (fine at oracle scale), first/last via ordered
    // list aggs, the identical ppm credit arithmetic.
    "q130_attribution" ->
      s"""WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
                     FROM events WHERE event_type = 'purchase'),
          t AS (SELECT event_id AS tid, user_id, event_type AS touch_type,
                       epoch_us(ts) AS tts
                FROM events WHERE event_type IN ('view', 'click')),
          j AS (SELECT p.pid, t.touch_type, t.tts, t.tid
                FROM p JOIN t ON p.user_id = t.user_id
                 AND t.tts >= p.pts - $AttribWindowUs
                 AND (t.tts, t.tid) < (p.pts, p.pid)),
          a AS (SELECT pid, count(*) AS n,
                  sum(CASE WHEN touch_type = 'view' THEN 1 ELSE 0 END) AS nv,
                  sum(CASE WHEN touch_type = 'click' THEN 1 ELSE 0 END) AS nc,
                  list(touch_type ORDER BY tts, tid)[1] AS first_type,
                  list(touch_type ORDER BY tts, tid)[-1] AS last_type
                FROM j GROUP BY pid),
          b AS (SELECT *, 1000000 // n AS base,
                       1000000 - (1000000 // n) * n AS rem FROM a),
          lin AS (SELECT touch_type, count(*) AS n_conv,
                    CAST(sum(credit) AS BIGINT) AS credit_ppm
                  FROM (SELECT 'view' AS touch_type,
                          nv * base + CASE WHEN last_type = 'view' THEN rem ELSE 0 END AS credit
                        FROM b
                        UNION ALL
                        SELECT 'click',
                          nc * base + CASE WHEN last_type = 'click' THEN rem ELSE 0 END
                        FROM b)
                  WHERE credit > 0 GROUP BY touch_type)
          SELECT * FROM (
            SELECT 'first' AS model, first_type AS touch_type,
                   count(*) AS n_conv,
                   CAST(count(*) * 1000000 AS BIGINT) AS credit_ppm
            FROM b GROUP BY 2
            UNION ALL
            SELECT 'last', last_type, count(*),
                   CAST(count(*) * 1000000 AS BIGINT)
            FROM b GROUP BY 2
            UNION ALL
            SELECT 'linear', touch_type, n_conv, credit_ppm FROM lin)
          ORDER BY model, touch_type""",
    // Q131: identical md5 arm hash, HUGEINT restatement of the
    // decimal(38,0) pooled z² inequality.
    "q131_ab_readout" ->
      s"""WITH u AS (SELECT user_id,
                  CASE WHEN min(CASE WHEN event_type = 'purchase'
                                THEN epoch_us(ts) END)
                         <= min(epoch_us(ts)) + $ActivationUs
                       THEN 1 ELSE 0 END AS converted
                FROM events GROUP BY 1),
          a AS (SELECT ${graft.functions.PortableHash.hash48Sql(
                  s"'$AbSalt:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
                  count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_conv
                FROM u GROUP BY 1),
          v AS (SELECT
                  sum(CASE WHEN arm = 0 THEN n_users END) AS n1,
                  sum(CASE WHEN arm = 0 THEN n_conv END) AS c1,
                  sum(CASE WHEN arm = 1 THEN n_users END) AS n2,
                  sum(CASE WHEN arm = 1 THEN n_conv END) AS c2
                FROM a),
          s AS (SELECT (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                     * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                     * (n1 + n2)
                   > CAST($AbZ2 AS HUGEINT) * (c1 + c2) * (n1 + n2 - c1 - c2)
                     * n1 * n2 AS significant
                FROM v)
          SELECT arm, n_users, n_conv,
                 n_conv * 1000000 // n_users AS conv_ppm, significant
          FROM a, s ORDER BY arm""",
    // Q132: identical 1e-4 grid units, per-(label, dim) BIGINT sums,
    // HUGEINT cross-products, the one terminal double cosine rounded
    // on the shared 1e-6 grid and drift_ppm derived from the ROUNDED
    // cosine in both engines.
    "q132_embedding_drift" ->
      s"""WITH g AS (SELECT label, i - 1 AS dim,
                  CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS u
                FROM embeddings,
                     unnest(generate_series(1, len(embedding))) AS t(i)),
          ls AS (SELECT label, dim, CAST(sum(u) AS BIGINT) AS ls
                 FROM g GROUP BY 1, 2),
          cs AS (SELECT dim, CAST(sum(ls) AS BIGINT) AS cs FROM ls GROUP BY 1),
          d AS (SELECT l.label,
                  sum(CAST(l.ls AS HUGEINT) * c.cs) AS dot,
                  sum(CAST(l.ls AS HUGEINT) * l.ls) AS nl,
                  sum(CAST(c.cs AS HUGEINT) * c.cs) AS nc
                FROM ls l JOIN cs c USING (dim) GROUP BY 1),
          n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
          r AS (SELECT label, ${roundSql(
                  """CAST(dot AS DOUBLE)
                     / (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))""", 6)} AS cosine
                FROM d)
          SELECT r.label, n.n_vecs, r.cosine,
                 CAST(floor((1.0 - r.cosine) * 1e6 + 0.5) AS BIGINT) AS drift_ppm
          FROM r JOIN n USING (label) ORDER BY label""",
    // Q133: the same gap-and-island sessions, censoring rule, and the
    // identical integer-ppb KM fold as a recursive CTE — both engines
    // truncate the same nonnegative divisions, so the curve is
    // hash-exact.
    "q133_survival_km" ->
      s"""WITH RECURSIVE
          ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
          lg AS (SELECT *, lag(ts_us) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
                 FROM ev),
          st AS (SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts_us - prev_ts > $SurvivalGapUs THEN 1 ELSE 0 END AS is_start
                 FROM lg),
          si AS (SELECT *, sum(is_start) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
                 FROM st),
          se AS (SELECT user_id, sid, min(ts_us) AS t0, max(ts_us) AS t1
                 FROM si GROUP BY 1, 2),
          m AS (SELECT max(ts_us) AS tmax FROM ev),
          u AS (SELECT (t1 - t0) // 3600000000 AS dur,
                       t1 > tmax - $SurvivalGapUs AS censored
                FROM se, m),
          bd AS (SELECT dur,
                   CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_churn,
                   CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
                 FROM u GROUP BY 1),
          t AS (SELECT CAST(sum(n_churn + n_censored) AS BIGINT) AS total FROM bd),
          r AS (SELECT row_number() OVER (ORDER BY dur) AS rn, dur,
                  t.total - CAST(coalesce(sum(n_churn + n_censored) OVER
                    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n_risk,
                  n_churn, n_censored
                FROM bd, t),
          km AS (SELECT rn, dur, n_risk, n_churn, n_censored,
                   1000000000 * (n_risk - n_churn) // n_risk AS surv
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.rn, r.dur, r.n_risk, r.n_churn, r.n_censored,
                   km.surv * (r.n_risk - r.n_churn) // r.n_risk
                 FROM km JOIN r ON r.rn = km.rn + 1)
          SELECT dur AS dur_hours, n_risk, n_churn, n_censored,
                 n_churn * 1000000 // n_risk AS hazard_ppm,
                 CAST(surv AS BIGINT) AS survival_ppb
          FROM km ORDER BY dur_hours""",
    // Q134: identical canonicalization, degree orientation, wedge join,
    // and closing-edge semi-join over the closed-form q99 edge fixture.
    "q134_triangles" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
          e0 AS (SELECT d.doc_id AS src,
                   (d.doc_id * 31 + j.j * 17 + 1) % nn.n AS dst
                 FROM documents d CROSS JOIN nn
                 CROSS JOIN UNNEST(generate_series(0, d.doc_id % 3)) AS j(j)),
          und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                  FROM e0 WHERE src <> dst),
          deg AS (SELECT id, count(*) AS deg FROM (
                    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
                  GROUP BY 1),
          o AS (SELECT CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                            THEN und.u ELSE und.v END AS a,
                       CASE WHEN (du.deg, und.u) < (dv.deg, und.v)
                            THEN und.v ELSE und.u END AS b
                FROM und JOIN deg du ON du.id = und.u
                         JOIN deg dv ON dv.id = und.v),
          w AS (SELECT least(e1.b, e2.b) AS lo, greatest(e1.b, e2.b) AS hi
                FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b < e2.b),
          c AS (SELECT least(a, b) AS lo, greatest(a, b) AS hi FROM o),
          tri AS (SELECT count(*) AS n_triangles FROM w
                  WHERE EXISTS (SELECT 1 FROM c
                                WHERE c.lo = w.lo AND c.hi = w.hi)),
          tot AS (SELECT count(*) AS n_nodes,
                    CAST(sum(deg) AS BIGINT) // 2 AS n_edges,
                    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
                  FROM deg)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
                 CASE WHEN n_wedges > 0
                      THEN 3 * n_triangles * 1000000 // n_wedges
                      ELSE 0 END AS clustering_ppm
          FROM tot, tri""",
    // Q135: the q123 complete-grid construction, then the CUSUM
    // reflection identity as two stacked windows — exact integers.
    "q135_cusum" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
          obs AS (SELECT event_type, hour, count(*) AS x FROM e GROUP BY 1, 2),
          span AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
                   FROM obs GROUP BY 1),
          grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
                   FROM span),
          f AS (SELECT g.event_type, g.hour,
                  coalesce(o.x, CAST(0 AS BIGINT)) AS x
                FROM grid g LEFT JOIN obs o
                  ON g.event_type = o.event_type AND g.hour = o.hour),
          mu AS (SELECT event_type,
                   CAST(100 * sum(x) AS BIGINT) // count(*) AS mu_c
                 FROM f GROUP BY 1),
          d AS (SELECT f.event_type, f.hour, f.x, mu.mu_c,
                  100 * f.x - mu.mu_c - mu.mu_c // $CusumSlackDiv AS dev
                FROM f JOIN mu USING (event_type)),
          cw AS (SELECT *, CAST(sum(dev) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                 FROM d),
          cm AS (SELECT *, cum - least(CAST(0 AS BIGINT), min(cum) OVER
                   (PARTITION BY event_type ORDER BY hour
                    ROWS UNBOUNDED PRECEDING)) AS cusum_c
                 FROM cw)
          SELECT event_type, hour, x, cusum_c,
                 cusum_c > mu_c * $CusumThresholdMult AS alarm
          FROM cm ORDER BY event_type, hour""",
    // Q136: identical hash uniforms → identical priorities → identical
    // sample, threshold, and BIGINT estimator fold.
    "q136_priority_sample" ->
      s"""WITH w AS (SELECT event_id,
                  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS w,
                  (CAST(${graft.functions.PortableHash.hash48Sql(
                    s"'$PrioritySalt:' || CAST(event_id AS VARCHAR)")} AS DOUBLE)
                    + 0.5) / 281474976710656.0 AS u
                FROM events),
          p AS (SELECT event_id, w, w / u AS pri FROM w),
          r AS (SELECT *, row_number() OVER (ORDER BY pri DESC, event_id) AS rn
                FROM p),
          tau AS (SELECT CAST(floor(pri + 0.5) AS BIGINT) AS tau_c
                  FROM r WHERE rn = $PriorityK + 1),
          est AS (SELECT CAST(sum(greatest(w, tau_c)) AS BIGINT) AS est_total
                  FROM r, tau WHERE rn <= $PriorityK),
          t AS (SELECT count(*) AS n_events,
                  CAST(sum(w) AS BIGINT) AS true_total FROM w)
          SELECT CAST($PriorityK AS BIGINT) AS k, n_events,
                 true_total AS true_total_centi, est_total AS est_total_centi,
                 abs(est_total - true_total) * 1000000 // true_total AS err_ppm
          FROM t, est""",
    // Q137: identical sufficient statistics, HUGEINT restatement of
    // the decimal(38,0) closed forms, shared 1e-6 terminal rounding.
    "q137_trend_ols" ->
      s"""WITH b AS (SELECT event_type,
                  epoch_us(ts) // 3600000000 - 473352 AS x,
                  CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS y
                FROM events),
          s AS (SELECT event_type, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  sum(CAST(x AS HUGEINT) * y) AS sxy,
                  sum(CAST(x AS HUGEINT) * x) AS sxx,
                  sum(CAST(y AS HUGEINT) * y) AS syy
                FROM b GROUP BY 1),
          d AS (SELECT *,
                  CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS snum,
                  CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS sden,
                  CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS yden
                FROM s)
          SELECT event_type, n,
                 ${roundSql("CAST(snum AS DOUBLE) / CAST(sden AS DOUBLE)", 6)}
                   AS slope_centi_per_hour,
                 ${roundSql(
                   """CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS DOUBLE)
                      / CAST(sden AS DOUBLE)""", 6)} AS intercept_centi,
                 ${roundSql(
                   "CAST(snum * snum AS DOUBLE) / CAST(sden * yden AS DOUBLE)", 6)} AS r2
          FROM d ORDER BY event_type""",
    // Q138: the identical automaton replayed as a recursive CTE — one
    // recursion step per per-user event, the same timeout-then-
    // reprocess rule (`eff` = the state after the timeout check,
    // inlined twice), the same strict-first-match and skip-past-last
    // semantics. Purely integer state, so matches are hash-exact.
    "q138_cep_matches" ->
      s"""WITH RECURSIVE
          ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS i
                 FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')),
          m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS i, 0 AS state,
                   CAST(0 AS BIGINT) AS v_id, CAST(0 AS BIGINT) AS v_ts,
                   CAST(0 AS BIGINT) AS c_id, CAST(0 AS BIGINT) AS c_ts,
                   CAST(0 AS BIGINT) AS match_no,
                   FALSE AS emit, CAST(0 AS BIGINT) AS p_id,
                   CAST(0 AS BIGINT) AS p_ts
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT m.user_id, e.i,
              CASE
                WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                           WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                           ELSE m.state END) = 0 AND e.event_type = 'view' THEN 1
                WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                           WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                           ELSE m.state END) = 1 AND e.event_type = 'click' THEN 2
                WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                           WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                           ELSE m.state END) = 2 AND e.event_type = 'purchase' THEN 0
                ELSE (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                           WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                           ELSE m.state END) END AS state,
              CASE WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                              WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                              ELSE m.state END) = 0 AND e.event_type = 'view'
                   THEN e.event_id ELSE m.v_id END AS v_id,
              CASE WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                              WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                              ELSE m.state END) = 0 AND e.event_type = 'view'
                   THEN e.ts_us ELSE m.v_ts END AS v_ts,
              CASE WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                              WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                              ELSE m.state END) = 1 AND e.event_type = 'click'
                   THEN e.event_id ELSE m.c_id END AS c_id,
              CASE WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                              WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                              ELSE m.state END) = 1 AND e.event_type = 'click'
                   THEN e.ts_us ELSE m.c_ts END AS c_ts,
              m.match_no + CASE WHEN (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                                           WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                                           ELSE m.state END) = 2
                                      AND e.event_type = 'purchase'
                                 THEN 1 ELSE 0 END AS match_no,
              (CASE WHEN m.state = 1 AND e.ts_us > m.v_ts + $CepWithinUs THEN 0
                    WHEN m.state = 2 AND e.ts_us > m.c_ts + $CepWithinUs THEN 0
                    ELSE m.state END) = 2 AND e.event_type = 'purchase' AS emit,
              e.event_id AS p_id, e.ts_us AS p_ts
            FROM m JOIN ev e ON e.user_id = m.user_id AND e.i = m.i + 1)
          SELECT user_id, match_no, v_id AS view_event_id,
                 c_id AS click_event_id, p_id AS purchase_event_id,
                 p_ts - v_ts AS view_to_purchase_us
          FROM m WHERE emit ORDER BY user_id, match_no""",
    // Q139: the generalized 4-step automaton as a recursive CTE. Same
    // integer state machine as the engine's shared kernel: `eff` =
    // the state after the per-step timeout check (computed ONCE in a
    // nested derived table — the recursive reference appears once, so
    // the inlining contortion q138 needed is avoidable), `hit` = the
    // sought step's predicate (type equality, plus the purchase-value
    // floor on the terminal step).
    "q139_cep_pattern4" ->
      s"""WITH RECURSIVE
          ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS i
                 FROM events
                 WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
          m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS i, 0 AS state,
                   CAST(0 AS BIGINT) AS s0_id, CAST(0 AS BIGINT) AS s0_ts,
                   CAST(0 AS BIGINT) AS s1_id, CAST(0 AS BIGINT) AS s1_ts,
                   CAST(0 AS BIGINT) AS s2_id, CAST(0 AS BIGINT) AS s2_ts,
                   CAST(0 AS BIGINT) AS match_no, FALSE AS emit,
                   CAST(0 AS BIGINT) AS e_id, CAST(0 AS BIGINT) AS e_ts
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT user_id, i,
              CASE WHEN hit THEN CASE WHEN eff = 3 THEN 0 ELSE eff + 1 END
                   ELSE eff END AS state,
              CASE WHEN hit AND eff = 0 THEN e_id ELSE s0_id END AS s0_id,
              CASE WHEN hit AND eff = 0 THEN e_ts ELSE s0_ts END AS s0_ts,
              CASE WHEN hit AND eff = 1 THEN e_id ELSE s1_id END AS s1_id,
              CASE WHEN hit AND eff = 1 THEN e_ts ELSE s1_ts END AS s1_ts,
              CASE WHEN hit AND eff = 2 THEN e_id ELSE s2_id END AS s2_id,
              CASE WHEN hit AND eff = 2 THEN e_ts ELSE s2_ts END AS s2_ts,
              match_no + CASE WHEN hit AND eff = 3 THEN 1 ELSE 0 END AS match_no,
              hit AND eff = 3 AS emit, e_id, e_ts
            FROM (SELECT *, CASE eff WHEN 0 THEN event_type = 'signup'
                                     WHEN 1 THEN event_type = 'view'
                                     WHEN 2 THEN event_type = 'click'
                                     ELSE event_type = 'purchase'
                                          AND value >= $Cep4MinPurchase
                            END AS hit
                  FROM (SELECT m.user_id, e.i, m.s0_id, m.s0_ts, m.s1_id,
                               m.s1_ts, m.s2_id, m.s2_ts, m.match_no,
                               e.event_id AS e_id, e.ts_us AS e_ts,
                               e.event_type, e.value,
                               CASE WHEN m.state = 1 AND e.ts_us > m.s0_ts + $Cep4ViewTimeoutUs THEN 0
                                    WHEN m.state = 2 AND e.ts_us > m.s1_ts + $CepWithinUs THEN 0
                                    WHEN m.state = 3 AND e.ts_us > m.s2_ts + $CepWithinUs THEN 0
                                    ELSE m.state END AS eff
                        FROM m JOIN ev e
                          ON e.user_id = m.user_id AND e.i = m.i + 1) t0) t1)
          SELECT user_id, match_no, s0_id AS signup_event_id,
                 s1_id AS view_event_id, s2_id AS click_event_id,
                 e_id AS purchase_event_id, e_ts - s0_ts AS duration_us
          FROM m WHERE emit ORDER BY user_id, match_no""",
    // Q139b: the quantified automaton — state machine now carries
    // (state, rep); the gap timeout binds every consecutive consumed
    // pair, the partial-exists guard is (state > 0 OR rep > 0), and
    // the same timeout-then-reprocess / greedy-consume rules replay.
    "q139b_cep_quantified" ->
      s"""WITH RECURSIVE
          ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS i
                 FROM events WHERE event_type IN ('click', 'purchase')),
          m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS i, 0 AS state, 0 AS rep,
                   CAST(0 AS BIGINT) AS c1_id, CAST(0 AS BIGINT) AS c1_ts,
                   CAST(0 AS BIGINT) AS c2_id, CAST(0 AS BIGINT) AS c2_ts,
                   CAST(0 AS BIGINT) AS c3_id, CAST(0 AS BIGINT) AS c3_ts,
                   CAST(0 AS BIGINT) AS last_ts,
                   CAST(0 AS BIGINT) AS match_no, FALSE AS emit,
                   CAST(0 AS BIGINT) AS e_id, CAST(0 AS BIGINT) AS e_ts
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT user_id, i,
              CASE WHEN hit AND eff_state = 0 AND eff_rep + 1 >= 3 THEN 1
                   WHEN hit AND eff_state = 1 THEN 0
                   ELSE eff_state END AS state,
              CASE WHEN hit AND eff_state = 0 AND eff_rep + 1 < 3 THEN eff_rep + 1
                   WHEN hit THEN 0 ELSE eff_rep END AS rep,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 0 THEN e_id ELSE c1_id END,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 0 THEN e_ts ELSE c1_ts END,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 1 THEN e_id ELSE c2_id END,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 1 THEN e_ts ELSE c2_ts END,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 2 THEN e_id ELSE c3_id END,
              CASE WHEN hit AND eff_state = 0 AND eff_rep = 2 THEN e_ts ELSE c3_ts END,
              CASE WHEN hit THEN e_ts ELSE last_ts END AS last_ts,
              match_no + CASE WHEN hit AND eff_state = 1 THEN 1 ELSE 0 END,
              hit AND eff_state = 1 AS emit, e_id, e_ts
            FROM (SELECT *, CASE eff_state WHEN 0 THEN event_type = 'click'
                                           ELSE event_type = 'purchase'
                                                AND value >= $CepQuantMinPurchase
                            END AS hit
                  FROM (SELECT m.user_id, e.i, m.c1_id, m.c1_ts, m.c2_id, m.c2_ts,
                               m.c3_id, m.c3_ts, m.last_ts, m.match_no,
                               e.event_id AS e_id, e.ts_us AS e_ts,
                               e.event_type, e.value,
                               CASE WHEN (m.state > 0 OR m.rep > 0)
                                      AND e.ts_us > m.last_ts + $CepWithinUs
                                    THEN 0 ELSE m.state END AS eff_state,
                               CASE WHEN (m.state > 0 OR m.rep > 0)
                                      AND e.ts_us > m.last_ts + $CepWithinUs
                                    THEN 0 ELSE m.rep END AS eff_rep
                        FROM m JOIN ev e
                          ON e.user_id = m.user_id AND e.i = m.i + 1) t0) t1)
          SELECT user_id, match_no, c1_id AS click1_event_id,
                 c2_id AS click2_event_id, c3_id AS click3_event_id,
                 e_id AS purchase_event_id, e_ts - c1_ts AS duration_us
          FROM m WHERE emit ORDER BY user_id, match_no""",
    // Q139c: alternation — the engagement step's hit predicate is an
    // IN list; state machine otherwise the q139b (state, rep) shape.
    "q139c_cep_alternation" ->
      s"""WITH RECURSIVE
          ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS i
                 FROM events
                 WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
          m AS (
            SELECT user_id, CAST(0 AS BIGINT) AS i, 0 AS state, 0 AS rep,
                   CAST(0 AS BIGINT) AS s0_id, CAST(0 AS BIGINT) AS s0_ts,
                   CAST(0 AS BIGINT) AS e1_id, CAST(0 AS BIGINT) AS e2_id,
                   CAST(0 AS BIGINT) AS last_ts,
                   CAST(0 AS BIGINT) AS match_no, FALSE AS emit,
                   CAST(0 AS BIGINT) AS e_id, CAST(0 AS BIGINT) AS e_ts
            FROM (SELECT DISTINCT user_id FROM ev)
            UNION ALL
            SELECT user_id, i,
              CASE WHEN hit AND eff_state = 0 THEN 1
                   WHEN hit AND eff_state = 1 AND eff_rep + 1 >= 2 THEN 2
                   WHEN hit AND eff_state = 2 THEN 0
                   ELSE eff_state END AS state,
              CASE WHEN hit AND eff_state = 1 AND eff_rep + 1 < 2 THEN eff_rep + 1
                   WHEN hit THEN 0 ELSE eff_rep END AS rep,
              CASE WHEN hit AND eff_state = 0 THEN e_id ELSE s0_id END,
              CASE WHEN hit AND eff_state = 0 THEN e_ts ELSE s0_ts END,
              CASE WHEN hit AND eff_state = 1 AND eff_rep = 0 THEN e_id ELSE e1_id END,
              CASE WHEN hit AND eff_state = 1 AND eff_rep = 1 THEN e_id ELSE e2_id END,
              CASE WHEN hit THEN e_ts ELSE last_ts END AS last_ts,
              match_no + CASE WHEN hit AND eff_state = 2 THEN 1 ELSE 0 END,
              hit AND eff_state = 2 AS emit, e_id, e_ts
            FROM (SELECT *, CASE eff_state WHEN 0 THEN event_type = 'signup'
                                           WHEN 1 THEN event_type IN ('view', 'click')
                                           ELSE event_type = 'purchase' END AS hit
                  FROM (SELECT m.user_id, e.i, m.s0_id, m.s0_ts, m.e1_id,
                               m.e2_id, m.last_ts, m.match_no,
                               e.event_id AS e_id, e.ts_us AS e_ts,
                               e.event_type, e.value,
                               CASE WHEN (m.state > 0 OR m.rep > 0)
                                      AND e.ts_us > m.last_ts + $CepWithinUs
                                    THEN 0 ELSE m.state END AS eff_state,
                               CASE WHEN (m.state > 0 OR m.rep > 0)
                                      AND e.ts_us > m.last_ts + $CepWithinUs
                                    THEN 0 ELSE m.rep END AS eff_rep
                        FROM m JOIN ev e
                          ON e.user_id = m.user_id AND e.i = m.i + 1) t0) t1)
          SELECT user_id, match_no, s0_id AS signup_event_id,
                 e1_id AS eng1_event_id, e2_id AS eng2_event_id,
                 e_id AS purchase_event_id, e_ts - s0_ts AS duration_us
          FROM m WHERE emit ORDER BY user_id, match_no""",
    // Q140 family: the raw-lake DML lifecycle restated as plain scans —
    // v2 = delete applied; latest = delete + corrections batch (the
    // upsert set is disjoint from the deleted users by construction, so
    // the two compose as independent predicates).
    "q140_fact_delete" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
          FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes
          ORDER BY event_id""",
    "q140b_fact_upsert" ->
      s"""SELECT event_id, user_id, ts_us,
                 CASE WHEN patched THEN 'corrected' ELSE event_type END AS event_type,
                 CASE WHEN patched THEN value + $FactPatchBump ELSE value END AS value
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  value, event_id % $FactPatchMod = $FactPatchRes AS patched
                FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          ORDER BY event_id""",
    "q140c_fact_history" ->
      s"""WITH n0 AS (SELECT count(*) AS c FROM events),
          n1 AS (SELECT count(*) AS c FROM events
                 WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS version, 'build' AS op, c AS n_live FROM n0
            UNION ALL SELECT 2, 'delete', c FROM n1
            UNION ALL SELECT 3, 'upsert', c FROM n1
            UNION ALL SELECT 4, 'compact', c FROM n1)
          ORDER BY version""",
    // Q140h: the point probe restates as the q140b projection under an
    // IN filter — the Bloom tier is I/O shape, invisible to results.
    "q140h_fact_point" ->
      s"""SELECT event_id, user_id, ts_us,
                 CASE WHEN patched THEN 'corrected' ELSE event_type END AS event_type,
                 CASE WHEN patched THEN value + $FactPatchBump ELSE value END AS value
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  value, event_id % $FactPatchMod = $FactPatchRes AS patched
                FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          WHERE event_id IN (${FactPointIds.mkString(", ")})
          ORDER BY event_id""",
    // Q140g: the renamed/dropped lake restates as a projection with the
    // corrections CASE — rename and drop are pure metadata, so the
    // oracle never mentions them beyond the output schema.
    "q140g_fact_rename_drop" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN event_id % $FactRenamePatchMod = $FactRenamePatchRes
                      THEN value + $FactRenamePatchBump ELSE value END AS amount
          FROM events ORDER BY event_id""",
    // Q140f: evolved read — odd rows (the appended, evolved batch)
    // carry source = 's' || user_id % 3; even rows (pre-evolution
    // generation) null-fill.
    "q140f_fact_evolution" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value,
                 CASE WHEN event_id % 2 <> 0
                      THEN 's' || CAST(user_id % 3 AS VARCHAR)
                      ELSE NULL END AS source
          FROM events ORDER BY event_id""",
    // Q140k: the conditional merge restated as three closed-form legs —
    // untouched (no clause matched their keys, or the update condition
    // failed and the delete clause took the rest), updated (matched,
    // even id: s.value >= t.value holds), inserted (offset keys above
    // the threshold). The float arithmetic mirrors the engine's
    // evaluation order exactly: (value + shift) + value.
    "q140k_fact_merge" ->
      s"""SELECT * FROM (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
            FROM events WHERE event_id % $FactMergeMod <> $FactMergeMatchRes
            UNION ALL
            SELECT event_id, user_id, epoch_us(ts), 'merged',
                   (value + $FactMergeShift) + value
            FROM events
            WHERE event_id % $FactMergeMod = $FactMergeMatchRes AND event_id % 2 = 0
            UNION ALL
            SELECT event_id + $FactMergeIdOffset, user_id, epoch_us(ts), 'inserted', value
            FROM events
            WHERE event_id % $FactMergeMod = $FactMergeInsRes AND value >= $FactMergeInsMin)
          ORDER BY event_id""",
    // Q140l: the SQL-driven lifecycle composes the GDPR delete with the
    // q140k merge (whose source excludes the deleted users) — compact
    // moves nothing.
    "q140l_fact_dml_sql" ->
      s"""WITH live0 AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
                 FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          SELECT * FROM (
            SELECT event_id, user_id, ts_us, event_type, value
            FROM live0 WHERE event_id % $FactMergeMod <> $FactMergeMatchRes
            UNION ALL
            SELECT event_id, user_id, ts_us, 'merged',
                   (value + $FactMergeShift) + value
            FROM live0
            WHERE event_id % $FactMergeMod = $FactMergeMatchRes AND event_id % 2 = 0
            UNION ALL
            SELECT event_id + $FactMergeIdOffset, user_id, ts_us, 'inserted', value
            FROM live0
            WHERE event_id % $FactMergeMod = $FactMergeInsRes AND value >= $FactMergeInsMin)
          ORDER BY event_id""",
    // Q140m: the constrained lifecycle restates as base ∪ the audited
    // batch — the violating append never landed, so it never appears.
    "q140m_fact_constraints" ->
      s"""SELECT * FROM (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
            FROM events
            UNION ALL
            SELECT event_id + $FactConsIdOffset, user_id, epoch_us(ts), 'audited', value
            FROM events WHERE event_id % $FactConsMod = 0)
          ORDER BY event_id""",
    // Q140n: the cloned lake = the source's closed form (delete +
    // correction) overlaid by the clone-local reconciliation — the
    // upsert REPLACES whole rows, so the clone patch wins where the
    // residues overlap (CASE order).
    "q140n_fact_clone" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN event_id % $FactCloneMod = $FactCloneRes THEN 'reconciled'
                      WHEN event_id % $FactPatchMod = $FactPatchRes THEN 'corrected'
                      ELSE event_type END AS event_type,
                 CASE WHEN event_id % $FactCloneMod = $FactCloneRes THEN value * 2
                      WHEN event_id % $FactPatchMod = $FactPatchRes THEN value + $FactPatchBump
                      ELSE value END AS value
          FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes
          ORDER BY event_id""",
    // Q140e: the lifecycle's net changes restated — deleted users'
    // rows are 'delete'; the (disjoint) corrections batch is 'update'
    // (value + bump and type both moved, so content fingerprints
    // differ); compact moves nothing.
    "q140e_fact_changes" ->
      s"""SELECT event_id,
                 CASE WHEN user_id % $FactDelUserMod = $FactDelUserRes
                      THEN 'delete' ELSE 'update' END AS change
          FROM events
          WHERE user_id % $FactDelUserMod = $FactDelUserRes
             OR event_id % $FactPatchMod = $FactPatchRes
          ORDER BY event_id""",
    "q140d_fact_box" ->
      s"""SELECT event_id, user_id, ts_us,
                 CASE WHEN patched THEN 'corrected' ELSE event_type END AS event_type,
                 CASE WHEN patched THEN value + $FactPatchBump ELSE value END AS value
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  value, event_id % $FactPatchMod = $FactPatchRes AS patched
                FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
            AND ts_us BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    // Q140i: no DML in this lineage — the box restates as a plain time
    // filter; clustering is I/O shape, invisible to results.
    "q140i_fact_recluster" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
          FROM events
          WHERE epoch_us(ts) BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    // Q140j: AS OF the v2 commit instant ≡ the version-2 state — the
    // post-delete, pre-correction lake (the q140 projection).
    "q140j_fact_asof" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
          FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes
          ORDER BY event_id""",
    // Q140o: the widened lake restates as one closed-form projection —
    // even ids (the pre-widen INT generation) carry small clicks, odd
    // ids (appended post-widen) carry clicks beyond int range; the
    // widen itself is pure metadata, visible only as the column type.
    "q140o_fact_widen" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value,
                 CASE WHEN event_id % 2 = 0 THEN event_id % 1000
                      ELSE event_id % 1000 + $FactWidenBase END AS clicks
          FROM events ORDER BY event_id""",
    // Q140p/q: the catalog-table SELECTs serve exactly the DML'd lake
    // under their filters — access path (DSv2 + pushed pruning) is
    // I/O shape, invisible to results (same oracles as q140h/q140d).
    "q140p_fact_catalog_point" ->
      s"""SELECT event_id, user_id, ts_us,
                 CASE WHEN patched THEN 'corrected' ELSE event_type END AS event_type,
                 CASE WHEN patched THEN value + $FactPatchBump ELSE value END AS value
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  value, event_id % $FactPatchMod = $FactPatchRes AS patched
                FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          WHERE event_id IN (${FactPointIds.mkString(", ")})
          ORDER BY event_id""",
    "q140q_fact_catalog_box" ->
      s"""SELECT event_id, user_id, ts_us,
                 CASE WHEN patched THEN 'corrected' ELSE event_type END AS event_type,
                 CASE WHEN patched THEN value + $FactPatchBump ELSE value END AS value
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  value, event_id % $FactPatchMod = $FactPatchRes AS patched
                FROM events WHERE user_id % $FactDelUserMod <> $FactDelUserRes)
          WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
            AND ts_us BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    // Q140r: the CTAS'd catalog table restates as the CTAS query's own
    // filter plus the read filter — creation/commit plumbing is
    // invisible to results.
    "q140r_fact_ctas" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
          FROM events
          WHERE user_id % $FactDelUserMod <> $FactDelUserRes
            AND user_id BETWEEN $SkipUserLo AND $SkipUserHi
          ORDER BY event_id""",
    // Q140s: the standard-SQL-updated lake restates as one closed-form
    // projection — the UPDATE's own WHERE/SET inlined.
    "q140s_fact_sql_update" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                 CASE WHEN user_id % $FactSqlUpdMod = $FactSqlUpdRes
                      THEN 'bumped' ELSE event_type END AS event_type,
                 CASE WHEN user_id % $FactSqlUpdMod = $FactSqlUpdRes
                      THEN value * 2 + 1 ELSE value END AS value
          FROM events ORDER BY event_id""",
    // Q140t: a key self-equi-join is row-identity — the zero-Exchange
    // access path is invisible to results.
    "q140t_fact_storage_join" ->
      s"""SELECT event_id, user_id, value, value * 3 AS score
          FROM events WHERE event_id % 2 = 0 ORDER BY event_id""",
    // Q140u: the ALTER'd table restates closed-form — adds/widen/rename
    // are projections over raw events; pre-evolution rows read the
    // added column as NULL.
    "q140u_fact_alter_ddl" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                 event_type AS kind, value,
                 CASE WHEN event_id % 2 = 0 THEN event_id % 1000
                      ELSE event_id % 1000 + $FactWidenBase END AS clicks,
                 CASE WHEN event_id % 2 = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE value * 2 END AS boost
          FROM events ORDER BY event_id""",
    // Q140v: both merges restated closed-form. Addition order matches
    // the engine ((value + 100) + 10) — double addition is not
    // associative, and the hash compare is exact.
    "q140v_fact_merge_full" ->
      s"""WITH base AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                               event_type, value FROM events),
          m1 AS (
            SELECT event_id, user_id, ts_us,
                   CASE WHEN event_id % 3 = 0 AND user_id % 2 = 0 THEN 'merged'
                        WHEN event_id % 3 <> 0 AND user_id % 5 = 1 THEN 'stale'
                        ELSE event_type END AS event_type,
                   CASE WHEN event_id % 3 = 0 AND user_id % 2 = 0
                        THEN value + 100 + 10 ELSE value END AS value
            FROM base
            WHERE NOT (event_id % 3 <> 0 AND user_id % 5 = 0)
            UNION ALL
            SELECT event_id + $FactMrgOff, user_id, ts_us, 'src', value + 100
            FROM base WHERE event_id % 3 = 0)
          SELECT event_id, user_id, ts_us,
                 CASE WHEN event_id < $FactMrgOff AND event_id % 4 = 1
                           AND user_id % 7 = 2
                      THEN 'extra' ELSE event_type END AS event_type,
                 value
          FROM m1 ORDER BY event_id""",
    // Q125: bounds via quantile_cont (≡ Spark's percentile after the
    // 1e-4 rounding — the q25 contract), clip + verdict restated.
    "q125_winsorize" ->
      s"""WITH b AS (SELECT event_type,
                  ${roundSql(s"quantile_cont(value, $WinsorLo)", 4)} AS lo,
                  ${roundSql(s"quantile_cont(value, $WinsorHi)", 4)} AS hi
                FROM events GROUP BY event_type)
          SELECT e.event_id, e.event_type,
                 ${roundSql("least(greatest(e.value, b.lo), b.hi)", 4)} AS value_w,
                 (e.value < b.lo OR e.value > b.hi) AS clipped
          FROM events e JOIN b USING (event_type) ORDER BY e.event_id""",
    // Q126: the PSI report restated — identical smoothing, identical
    // cast points, ln on the same double ratio, 1e-6 rounding.
    "q126_dist_drift" ->
      s"""WITH f AS (
           SELECT doc_id, 'lang' AS feature, lang AS value FROM documents
           UNION ALL SELECT doc_id, 'source', source FROM documents
           UNION ALL SELECT doc_id, 'len', CAST(n_chars // 200 AS VARCHAR) FROM documents),
         c AS (SELECT feature, value,
                 sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
                 sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b
               FROM f GROUP BY 1, 2),
         t AS (SELECT feature, sum(n_a) AS ta, sum(n_b) AS tb,
                 count(*) AS v FROM c GROUP BY 1),
         s AS (SELECT c.feature, c.value,
                 CAST(c.n_a AS BIGINT) AS n_a, CAST(c.n_b AS BIGINT) AS n_b,
                 CAST(c.n_a + 1 AS DOUBLE) / CAST(t.ta + t.v AS DOUBLE) AS p,
                 CAST(c.n_b + 1 AS DOUBLE) / CAST(t.tb + t.v AS DOUBLE) AS q
               FROM c JOIN t USING (feature))
         SELECT feature, value, n_a, n_b,
                ${roundSql("(p - q) * ln(p / q)", 6)} AS psi_c
         FROM s ORDER BY feature, value""",
    // Q124: the same three-step generalization lattice restated; every
    // count is an exact integer, the residual row is itself gated.
    "q124_kanon_release" ->
      s"""WITH e AS (SELECT event_type, user_id,
                  epoch_us(ts) // 3600000000 AS hour,
                  epoch_us(ts) // 86400000000 AS day
                FROM events),
          h AS (SELECT event_type, hour, count(DISTINCT user_id) AS n_users,
                  count(*) AS n_events FROM e GROUP BY 1, 2),
          fe AS (SELECT e.* FROM e JOIN h
                   ON h.event_type = e.event_type AND h.hour = e.hour
                 WHERE h.n_users < $KAnonK),
          dly AS (SELECT event_type, day, count(DISTINCT user_id) AS n_users,
                    count(*) AS n_events FROM fe GROUP BY 1, 2),
          se AS (SELECT fe.* FROM fe JOIN dly
                   ON dly.event_type = fe.event_type AND dly.day = fe.day
                 WHERE dly.n_users < $KAnonK),
          sup AS (SELECT event_type, count(DISTINCT user_id) AS n_users,
                    count(*) AS n_events FROM se GROUP BY 1)
          SELECT * FROM (
            SELECT event_type, 'hour' AS level, hour AS bucket, n_users, n_events
            FROM h WHERE n_users >= $KAnonK
            UNION ALL
            SELECT event_type, 'day', day, n_users, n_events
            FROM dly WHERE n_users >= $KAnonK
            UNION ALL
            SELECT event_type, 'suppressed', CAST(-1 AS BIGINT), n_users, n_events
            FROM sup WHERE n_users >= $KAnonK)
          ORDER BY event_type, level, bucket""",
    // Q123: the same complete-grid trailing-window construction; the
    // anomaly verdict is the identical integer inequality on both
    // sides, so it is hash-exact.
    "q123_anomaly_zscore" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
          obs AS (SELECT event_type, hour, count(*) AS x FROM e GROUP BY 1, 2),
          span AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
                   FROM obs GROUP BY 1),
          grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
                   FROM span),
          f AS (SELECT g.event_type, g.hour,
                  coalesce(o.x, CAST(0 AS BIGINT)) AS x
                FROM grid g LEFT JOIN obs o
                  ON g.event_type = o.event_type AND g.hour = o.hour),
          wnd AS (SELECT *, count(*) OVER win AS n, sum(x) OVER win AS s,
                    sum(x * x) OVER win AS ss
                  FROM f WINDOW win AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN $AnomalyWindow PRECEDING AND 1 PRECEDING))
          SELECT event_type, hour, x AS n_events, CAST(s AS BIGINT) AS win_sum,
                 CAST(ss AS BIGINT) AS win_sumsq,
                 (x * $AnomalyWindow - s) * (x * $AnomalyWindow - s)
                   > ${AnomalyZ * AnomalyZ} * ($AnomalyWindow * ss - s * s)
                   AS is_anomaly
          FROM wnd WHERE n = $AnomalyWindow ORDER BY event_type, hour""",
    // Q118: the resampled daily series — per user one row per day of
    // their observed span; a day's close (last event on the (ts_us,
    // event_id) total order) forward-fills gap days.
    "q118_resample_ffill" ->
      """WITH obs AS (SELECT user_id, day, n_events, value AS close_value FROM (
               SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
                      count(*) OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000) AS n_events,
                      row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
                                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1),
         span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span),
         j AS (SELECT g.user_id, g.day, o.n_events, o.close_value
               FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day)
         SELECT user_id, day,
                coalesce(n_events, CAST(0 AS BIGINT)) AS n_events,
                last_value(close_value IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS value,
                n_events IS NULL AS gap_filled
         FROM j ORDER BY user_id, day""",
    // Q118b: gap statistics per user over the observed-day set.
    "q118b_resample_gaps" ->
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         l AS (SELECT user_id, day,
                      lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
               FROM d)
         SELECT user_id, count(*) AS n_obs_days,
                max(day) - min(day) + 1 AS span_days,
                max(day) - min(day) + 1 - count(*) AS gap_days,
                max(CASE WHEN prev IS NOT NULL THEN day - prev - 1
                         ELSE CAST(0 AS BIGINT) END) AS max_gap_days
         FROM l GROUP BY user_id ORDER BY user_id""",
    "q29_range_join" ->
      s"""WITH p AS (SELECT CAST(i AS BIGINT) AS period_id,
                            $PeriodStartUs + i * $PeriodStepUs AS lo_us,
                            $PeriodStartUs + i * $PeriodStepUs + $PeriodLenUs AS hi_us
                     FROM UNNEST(generate_series(0, ${NumPeriods - 1})) AS t(i)),
          e AS (SELECT epoch_us(ts) AS ts_us, user_id, value FROM events)
          SELECT period_id, lo_us, hi_us, count(*) AS n_events,
                 count(DISTINCT user_id) AS n_users,
                 round(${exactSumSql("value", 2)}, 2) AS sum_value
          FROM p JOIN e ON ts_us >= lo_us AND ts_us < hi_us
          GROUP BY period_id, lo_us, hi_us ORDER BY period_id""",
    "q30_grouping_sets" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
                count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY GROUPING SETS ((lang, source), (lang), (source))
         ORDER BY lang, source""",
    "q11b_window_ranks" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
         SELECT event_id, user_id,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pr,
                floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd,
                lead(value) OVER w AS next_value,
                first_value(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS first_ts
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         ORDER BY event_id""",
    "q11c_range_frame" ->
      s"""SELECT event_id, user_id, ts_us,
                 count(*) OVER w AS n_nearby,
                 round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100, 2)
                   AS sum_nearby
          FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                       RANGE BETWEEN $SessionGapUs PRECEDING AND $SessionGapUs FOLLOWING)
          ORDER BY event_id""",
    "q15b_datetime_funcs" ->
      s"""SELECT CAST(extract(month FROM ts) AS INTEGER) AS mon,
                 CAST(extract(day FROM ts) AS INTEGER) AS dom,
                 CAST(extract(hour FROM ts) AS INTEGER) AS hr,
                 count(*) AS n, round(${exactSumSql("value", 2)}, 2) AS sum_value
          FROM events GROUP BY mon, dom, hr ORDER BY mon, dom, hr""",
    "q15d_date_arith" ->
      """SELECT event_id,
                strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                strftime(CAST(ts AS DATE) + INTERVAL 7 DAY, '%Y-%m-%d') AS day_plus_7,
                CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
                  AS days_since_start,
                CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS BIGINT)
                  AS week_of_corpus,
                CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS iso_dow
         FROM events ORDER BY event_id""",
    "q15c_string_funcs" ->
      """SELECT doc_id, upper(substr(text, 1, 12)) AS head_upper,
                reverse(lang) AS gnal,
                lpad(source, 8, '_') AS source_pad,
                CAST(levenshtein(lang, 'en') AS INTEGER) AS lang_dist,
                CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INTEGER)
                  AS n_consonant_chars,
                lang || '|' || source AS stratum
         FROM documents ORDER BY doc_id""",
    // Like q07b: the sketch estimate is engine-specific, so the
    // deterministic contract is exact values + the bound booleans.
    "q25b_approx_quantiles" ->
      s"""SELECT event_type, count(*) AS n,
                 ${roundSql("quantile_cont(value, 0.5)", 4)} AS p50,
                 ${roundSql("quantile_cont(value, 0.9)", 4)} AS p90,
                 ${roundSql("quantile_cont(value, 0.99)", 4)} AS p99,
                 true AS p50_ok, true AS p90_ok, true AS p99_ok
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q33_outer_join" ->
      """WITH c AS (SELECT c_custkey AS key, 1 AS is_cust FROM customer),
              e AS (SELECT user_id AS key, count(*) AS n_events FROM events GROUP BY user_id)
         SELECT coalesce(c.key, e.key) AS key,
                CASE WHEN c.is_cust IS NOT NULL AND e.n_events IS NOT NULL THEN 'both'
                     WHEN c.is_cust IS NOT NULL THEN 'customer_only'
                     ELSE 'events_only' END AS presence,
                coalesce(e.n_events, 0) AS n_events
         FROM c FULL OUTER JOIN e ON c.key = e.key
         ORDER BY key""",
    "q34_collect_types" ->
      """SELECT user_id,
                array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
                count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id ORDER BY user_id""",
    // Each event belongs to the windows starting at (floor(ts/day)-1)·day
    // and floor(ts/day)·day — the 2-day/1-day hop grid in integer math.
    "q32_sliding_window" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS ts_us, value FROM events)
          SELECT (ts_us // 86400000000 - off) * 86400000000 AS w_start,
                 count(*) AS n, round(${exactSumSql("value", 2)}, 2) AS sum_value
          FROM e, UNNEST([0, 1]) AS t(off)
          GROUP BY w_start ORDER BY w_start""",
    "q31_skew_agg" ->
      s"""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
                 round(${exactSumSql("value", 2)}, 2) AS sum_value
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q31b_salted_join" ->
      s"""WITH d AS (SELECT event_type,
                            ${roundSql(exactSumSql("value", 2) + " / count(*)", 4)} AS type_avg
                     FROM events GROUP BY event_type)
          SELECT e.event_type, d.type_avg, count(*) AS n_above
          FROM events e JOIN d USING (event_type)
          WHERE e.value > d.type_avg
          GROUP BY e.event_type, d.type_avg ORDER BY e.event_type""",
    "q35_vocabulary" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
          SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
          FROM w GROUP BY word HAVING count(*) >= $VocabMinOcc ORDER BY word""",
    "q35b_bigrams" ->
      s"""WITH d AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
          b AS (SELECT lang, unnest(list_transform(generate_series(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i + 1])) AS bigram FROM d)
          SELECT lang, bigram, count(*) AS n_occ
          FROM b GROUP BY lang, bigram HAVING count(*) >= $VocabMinOcc
          ORDER BY lang, bigram""",
    "q35c_tfidf" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
          df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
          n AS (SELECT count(*) AS n FROM documents),
          s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
                  ${roundSql("tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)", 4)} AS tfidf
                FROM tf JOIN df USING (word), n),
          r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, word) AS BIGINT) AS rnk FROM s)
          SELECT doc_id, rnk, word, tf, df, tfidf FROM r
          WHERE rnk <= $TfIdfTopK ORDER BY doc_id, rnk""",
    // Connected components via a recursive min-label CTE — the engine
    // side does the same fixpoint iteratively (Spark has no recursive
    // CTE); both converge to min-member-id labels.
    "q40_neardup_clusters" ->
      s"""WITH RECURSIVE $nearDupCte,
          p AS (SELECT doc_a, doc_b FROM j WHERE jac >= $NearDupThreshold),
          e AS (SELECT doc_a AS s, doc_b AS d FROM p
                UNION ALL SELECT doc_b, doc_a FROM p),
          nodes AS (SELECT DISTINCT s AS doc FROM e),
          reach AS (
            SELECT doc, doc AS lbl FROM nodes
            UNION
            SELECT e.d AS doc, r.lbl FROM reach r JOIN e ON e.s = r.doc),
          comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
          sz AS (SELECT cluster_id, count(*) AS n_docs FROM comp GROUP BY cluster_id)
          SELECT comp.doc AS doc_id, comp.cluster_id, sz.n_docs,
                 comp.doc = comp.cluster_id AS is_canonical
          FROM comp JOIN sz USING (cluster_id) ORDER BY doc_id""",
    "q41_expectations" -> {
      val rules = Seq(
        "doc_id_not_null" -> "doc_id IS NULL",
        "lang_is_en" -> "lang != 'en'",
        "lang_known" -> "lang NOT IN ('en', 'fr', 'es', 'de', 'zh')",
        "n_chars_matches_text" -> "n_chars != length(text)",
        "source_prefixed" -> "source NOT LIKE 'src%'",
        "text_not_empty" -> "text IS NULL OR length(text) = 0")
      val rows = rules.map { case (n, p) =>
        s"""SELECT '$n' AS rule, count(*) AS n_rows,
                   CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
            FROM documents"""
      }.mkString(" UNION ALL ")
      s"""SELECT rule, n_rows, n_violations,
                 ${roundSql("CAST(n_rows - n_violations AS DOUBLE) / n_rows", 6)} AS pass_rate,
                 n_violations = 0 AS passed
          FROM ($rows) ORDER BY rule"""
    },
    // n_aug mirrors map_concat's overwrite-on-collision semantics:
    // distinct(keys + 't').
    "q36_map_funcs" ->
      """SELECT event_id,
                array_to_string(list_sort(json_keys(props)), ',') AS keys,
                CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
                CAST(len(list_distinct(list_append(json_keys(props), 't'))) AS BIGINT) AS n_aug
         FROM events ORDER BY event_id""",
    "q37_conditional_agg" ->
      s"""SELECT event_type, count(*) AS n,
                 count(*) FILTER (WHERE value > 50.0) AS n_high,
                 round(${exactSumSql("CASE WHEN value > 50.0 THEN value ELSE 0.0 END", 2)}, 2)
                   AS sum_high,
                 bool_or(value > 99.0) AS any_gt99,
                 bool_and(value >= 0.0) AS all_nonneg,
                 count(DISTINCT CASE WHEN value > 90.0 THEN user_id END) AS n_users_gt90
          FROM events GROUP BY event_type ORDER BY event_type""",
    "q38_correlated_subq" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
                (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE c_acctbal > (SELECT avg(i.c_acctbal) FROM customer i
                            WHERE i.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "q39_nullsafe_join" ->
      """WITH k AS (SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                    FROM events),
          e AS (SELECT k, count(*) AS n_even FROM k WHERE event_id % 2 = 0 GROUP BY k),
          o AS (SELECT k, count(*) AS n_odd FROM k WHERE event_id % 2 = 1 GROUP BY k)
          SELECT coalesce(e.k, o.k) AS k,
                 coalesce(n_even, CAST(0 AS BIGINT)) AS n_even,
                 coalesce(n_odd, CAST(0 AS BIGINT)) AS n_odd
          FROM e FULL JOIN o ON e.k IS NOT DISTINCT FROM o.k
          ORDER BY k NULLS FIRST""",
    "q09b_session_ids" ->
      s"""WITH m AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id) AS prev_ts
            FROM events),
          s AS (
            SELECT user_id, event_id, ts_us,
                   sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $SessionGapUs
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess_no
            FROM m),
          a AS (
            SELECT user_id, sess_no, min(ts_us) AS t_first, max(ts_us) AS t_last,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sess_no)
          SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no, t_first, t_last, n_events,
                 CAST(row_number() OVER (ORDER BY t_first, user_id, sess_no) AS BIGINT) AS proxy_id
          FROM a ORDER BY proxy_id""",
    "q42_funnel" ->
      s"""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
           c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
                 FROM events e JOIN v ON e.user_id = v.user_id
                 WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
                 GROUP BY e.user_id),
           p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
                 FROM events e JOIN c ON e.user_id = c.user_id
                 WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
                 GROUP BY e.user_id),
           t AS (SELECT count(DISTINCT user_id) AS n FROM events),
           s AS (SELECT '0_all' AS stage, (SELECT n FROM t) AS n_users
                 UNION ALL SELECT '1_view', count(*) FROM v
                 UNION ALL SELECT '2_view_click', count(*) FROM c
                 UNION ALL SELECT '3_view_click_purchase', count(*) FROM p)
          SELECT stage, CAST(n_users AS BIGINT) AS n_users,
                 ${roundSql("CAST(n_users AS DOUBLE) / (SELECT n FROM t)", 4)} AS conv_rate
          FROM s ORDER BY stage""",
    "q43_train_split" ->
      s"""WITH b AS (SELECT source, n_chars, doc_id,
                       CAST('0x' || substr(md5('$SplitSalt:' || CAST(doc_id AS VARCHAR)), 1, 12)
                         AS BIGINT) % 10 AS bucket
                     FROM documents)
          SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
                      ELSE 'test' END AS split,
                 source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 CAST(sum(doc_id) AS BIGINT) AS id_checksum
          FROM b GROUP BY split, source ORDER BY split, source""",
    "q44_state_history" ->
      """SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version, event_type,
                epoch_us(ts) AS valid_from,
                lead(epoch_us(ts)) OVER w AS valid_to,
                lead(epoch_us(ts)) OVER w IS NULL AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ORDER BY user_id, version""",
    "q45_norm_dedup" ->
      """WITH n AS (SELECT doc_id, text,
                      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
                    FROM documents)
         SELECT md5(norm) AS norm_hash, count(*) AS n_copies,
                CAST(min(doc_id) AS BIGINT) AS keep_id,
                count(DISTINCT sha256(text)) AS n_raw_variants
         FROM n GROUP BY norm_hash ORDER BY norm_hash""",
    "q46_retention" ->
      s"""WITH e AS (SELECT user_id,
                       (epoch_us(ts) // ${Pipeline.DayUs}) - ${Pipeline.CorpusStartDay} AS day_idx
                     FROM events),
           f AS (SELECT user_id, min(day_idx) // 7 AS cohort_week FROM e GROUP BY user_id)
          SELECT CAST(f.cohort_week AS BIGINT) AS cohort_week,
                 CAST((e.day_idx // 7) - f.cohort_week AS BIGINT) AS week_offset,
                 count(DISTINCT e.user_id) AS n_active
          FROM e JOIN f USING (user_id)
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "q47_group_sample" ->
      s"""WITH h AS (SELECT lang, source, doc_id,
                       CAST('0x' || substr(md5('$SampleSalt:' || CAST(doc_id AS VARCHAR)), 1, 12)
                         AS BIGINT) AS rank_hash
                     FROM documents),
           r AS (SELECT *, row_number() OVER
                   (PARTITION BY lang, source ORDER BY rank_hash, doc_id) AS rnk
                 FROM h)
          SELECT lang, source, CAST(rnk AS BIGINT) AS rnk, doc_id, rank_hash
          FROM r WHERE rnk <= $GroupSampleK ORDER BY lang, source, rnk""",
    "q48_assoc_rules" ->
      s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
           n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
           s AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
           c AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
                 FROM ut a JOIN ut b
                   ON a.user_id = b.user_id AND a.event_type < b.event_type
                 GROUP BY 1, 2)
          SELECT c.type_a, c.type_b, c.n_ab,
                 ${roundSql("CAST(c.n_ab AS DOUBLE) / n.n_users", 4)} AS support,
                 ${roundSql("CAST(c.n_ab * n.n_users AS DOUBLE) / (sa.n_t * sb.n_t)", 4)} AS lift
          FROM c
          CROSS JOIN n
          JOIN s sa ON sa.event_type = c.type_a
          JOIN s sb ON sb.event_type = c.type_b
          WHERE ${roundSql("CAST(c.n_ab AS DOUBLE) / n.n_users", 4)} >= $MinSupport
          ORDER BY type_a, type_b""",
    "q49_lm_score" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           v AS (SELECT word, count(*) AS n_w FROM w GROUP BY word),
           t AS (SELECT count(*) AS n_total FROM w),
           x AS (SELECT w.doc_id,
                   ${roundSql("-ln(CAST(v.n_w AS DOUBLE) / t.n_total)", 4)} AS nll
                 FROM w JOIN v USING (word) CROSS JOIN t)
          SELECT doc_id, count(*) AS n_tokens,
                 ${roundSql(s"(${exactSumSql("nll", 4)}) / count(*)", 4)} AS mean_nll
          FROM x GROUP BY doc_id ORDER BY doc_id""",
    // Q102: the q49 chain with the model fit on the base corpus only
    // and the arriving batch scored against it — OOV backs off to a
    // singleton count, and the OOV count itself is surfaced.
    "q102_stored_lm" -> storedLmOracleSql(s"doc_id < $TextAppendSplit"),
    // Q104: build-then-append maintenance must equal one model over
    // the union (q102's oracle, same model predicate).
    "q104_appended_lm" -> storedLmOracleSql(s"doc_id < $TextAppendSplit"),
    // Q104b/c: negative-segment deletion (then compaction) must equal
    // a model over the LIVE corpus only — same oracle, twice.
    "q104b_deleted_lm" -> storedLmOracleSql(s"doc_id < $LmDeleteFrom"),
    "q104c_compacted_lm" -> storedLmOracleSql(s"doc_id < $LmDeleteFrom"),
    "q50_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCentroids),
          s AS (SELECT e.vec_id, c.cid, ${cosSql("emb", "cemb")} AS sim FROM e, c),
          r AS (SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY ${roundSql("sim", 6)} DESC, cid) AS rn
                FROM s),
          a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
          u AS (SELECT a.cid, unnest(e.emb) AS val,
                  generate_subscripts(e.emb, 1) - 1 AS dim
                FROM a JOIN e ON e.vec_id = a.vec_id)
          SELECT cid, CAST(dim AS BIGINT) AS dim, count(*) AS n,
                 ${roundSql(s"(${exactSumSql("val", 6)}) / count(*)", 4)} AS mean_val
          FROM u GROUP BY cid, dim ORDER BY cid, dim""",
    // Q50b: the q50 step unrolled KmeansIters times — the engine's
    // early-exit-at-fixpoint is provably the same function (a converged
    // round reproduces itself), so the unrolled form is exact.
    "q50b_kmeans_train" ->
      s"""WITH ${kmeansRoundsCte(KmeansIters)}
          SELECT cid, dim, n, mean_val FROM m$KmeansIters ORDER BY cid, dim""",
    // Q18i: assignment + batch search (the q18e shape) over the TRAINED
    // centroids c{KmeansIters} instead of the vec_id<n stand-in.
    "q18i_trained_search" -> q18iOracleSql,
    // Q89b: the same search over the PERSISTED coarse quantizer —
    // doubles round-trip parquet bit-exactly, so the stored index must
    // answer exactly what the just-trained one answers.
    "q89b_stored_ivf_search" -> q18iOracleSql,
    "q51_standardize" ->
      s"""WITH s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                       ${exactSumSql("value", 2)} AS s1,
                       ${exactSumSql("value * value", 4)} AS s2
                     FROM events GROUP BY event_type)
          SELECT e.event_id, e.event_type, e.value,
                 CASE WHEN s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n) > 0 THEN
                 ${roundSql(
                   "(e.value - s.s1 / s.n) / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))", 4)}
                 END AS z
          FROM events e JOIN s USING (event_type) ORDER BY e.event_id""",
    // Like q07b: the sketch estimate is engine-specific; the contract is
    // the exact values plus the tolerance boolean.
    "q52_sketch_distinct" ->
      """SELECT event_type,
                count(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
                count(DISTINCT user_id) AS n_exact,
                true AS within_tol
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q53_state_occupancy" ->
      s"""WITH h AS (SELECT event_type, epoch_us(ts) AS valid_from,
                       lead(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to
                     FROM events)
          SELECT event_type AS state, count(*) AS n_intervals,
                 CAST(sum(valid_to - valid_from) AS BIGINT) AS total_us,
                 ${roundSql("CAST(sum(valid_to - valid_from) AS DOUBLE) / count(*)", 4)} AS mean_us
          FROM h WHERE valid_to IS NOT NULL
          GROUP BY state ORDER BY state""",
    "q54_transitions" ->
      s"""WITH p AS (SELECT lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS from_type,
                       event_type AS to_type
                     FROM events),
           c AS (SELECT from_type, to_type, count(*) AS n FROM p
                 WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
           t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY from_type)
          SELECT c.from_type, c.to_type, c.n,
                 ${roundSql("CAST(c.n AS DOUBLE) / t.n_from", 4)} AS p
          FROM c JOIN t USING (from_type)
          ORDER BY from_type, to_type""",
    "q55_incremental_dedup" ->
      s"""WITH b AS (SELECT sha256(text) AS content_hash,
                       CAST(min(doc_id) AS BIGINT) AS keep_id,
                       count(*) AS n_batch_copies
                     FROM documents WHERE doc_id >= $IncrementalSplitId
                     GROUP BY content_hash)
          SELECT content_hash, keep_id, n_batch_copies FROM b
          WHERE NOT EXISTS (SELECT 1 FROM documents c
                            WHERE c.doc_id < $IncrementalSplitId
                              AND sha256(c.text) = b.content_hash)
          ORDER BY content_hash""",
    "q76_incremental_neardup" ->
      s"""WITH $shingleCte,
          bands AS (SELECT doc_id, b, md5(sig[2 * b + 1] || '|' || sig[2 * b + 2]) AS bsig
                    FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
          cb AS (SELECT * FROM bands WHERE doc_id < $IncrementalSplitId),
          bb AS (SELECT * FROM bands WHERE doc_id >= $IncrementalSplitId),
          keep AS (SELECT b, bsig FROM cb GROUP BY b, bsig
                   HAVING count(*) <= ${Dedup.MaxBucket}),
          cand AS (SELECT DISTINCT bb.doc_id AS doc_id, cb.doc_id AS match_id
                   FROM bb JOIN cb USING (b, bsig) JOIN keep USING (b, bsig)),
          j AS (SELECT cand.doc_id, cand.match_id,
                  ${roundSql(
                    "CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)" +
                    " / len(list_distinct(list_concat(sa.sg, sb.sg)))", 4)} AS jaccard
                FROM cand
                JOIN sh sa ON sa.doc_id = cand.doc_id
                JOIN sh sb ON sb.doc_id = cand.match_id),
          f AS (SELECT doc_id, match_id, jaccard,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY jaccard DESC, match_id ASC) AS rn
                FROM j WHERE jaccard >= $NearDupThreshold)
          SELECT d.doc_id, f.match_id IS NOT NULL AS is_neardup, f.match_id, f.jaccard
          FROM (SELECT doc_id FROM documents WHERE doc_id >= $IncrementalSplitId) d
          LEFT JOIN (SELECT * FROM f WHERE rn = 1) f USING (doc_id)
          ORDER BY doc_id""",
    "q77_sliding_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
                  1 + (greatest(CAST(len(ws) AS BIGINT) - 64, 0) + 31) // 32 AS n_chunks
                FROM w),
          c AS (SELECT doc_id, n, ws, CAST(i - 1 AS BIGINT) AS chunk_idx
                FROM d, UNNEST(generate_series(1, n_chunks)) AS t(i))
          SELECT doc_id, chunk_idx,
                 chunk_idx * 32 AS tok_start,
                 least(n - chunk_idx * 32, 64) AS c_tokens,
                 md5(array_to_string(
                   ws[chunk_idx * 32 + 1 : chunk_idx * 32 + least(n - chunk_idx * 32, 64)],
                   ' ')) AS chunk_md5
          FROM c ORDER BY doc_id, chunk_idx""",
    "q78_bpe_pairs" ->
      """WITH v AS (SELECT word, count(*) AS freq
                    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                    WHERE len(word) >= 2 GROUP BY word),
          p AS (SELECT unnest(list_transform(generate_series(1, len(word) - 1),
                  i -> substr(word, i, 1) || substr(word, i + 1, 1))) AS pair, freq
                FROM v)
          SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY pair
          ORDER BY cnt DESC, pair ASC LIMIT 30""",
    // Q79: the q78 merge decision iterated NumMerges rounds (unrolled
    // CTE chain; same nested-replace pass count as the engine).
    "q79_bpe_train" ->
      s"""WITH ${bpeRoundsCte(NumMerges)}
          ${(1 to NumMerges).map(r =>
            s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, lhs || rhs AS merged, cnt FROM b$r")
            .mkString("\n          UNION ALL ")}
          ORDER BY merge_round""",
    // Q79b: tokenization-with-merges = join corpus words against the
    // final vocabulary segmentation (a word's split depends only on
    // the word), then per-doc subword accounting.
    "q79b_bpe_tokenize" ->
      s"""WITH ${bpeRoundsCte(NumMerges)},
          dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
          j AS (SELECT dw.doc_id, len(string_split(v.syms, ' ')) AS n_sub
                FROM dw JOIN v$NumMerges v USING (word))
          SELECT doc_id, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
                 ${roundSql("CAST(sum(n_sub) AS DOUBLE) / count(*)", 4)} AS fertility
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    // Q79c: merges trained on doc_id < split, REPLAYED (not joined)
    // over the apply set's own distinct words — the unseen-word path.
    "q79c_bpe_apply_split" -> {
      val applyRounds = (1 to NumMerges).map(r =>
        s"aw$r AS (SELECT word, trim($bpeRepK) AS syms FROM aw${r - 1} CROSS JOIN b$r b)")
        .mkString(",\n          ")
      s"""WITH ${bpeRoundsCte(NumMerges,
            s"(SELECT * FROM documents WHERE doc_id < $IncrementalSplitId)")},
          aw0 AS (SELECT DISTINCT word,
                    rtrim(regexp_replace(word, '(?s)(.)', '\\1 ', 'g')) AS syms
                  FROM (SELECT unnest(string_split(text, ' ')) AS word
                        FROM documents WHERE doc_id >= $IncrementalSplitId)),
          $applyRounds,
          dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents WHERE doc_id >= $IncrementalSplitId),
          j AS (SELECT dw.doc_id, len(string_split(a.syms, ' ')) AS n_sub
                FROM dw JOIN aw$NumMerges a USING (word))
          SELECT doc_id, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
                 ${roundSql("CAST(sum(n_sub) AS DOUBLE) / count(*)", 4)} AS fertility
          FROM j GROUP BY doc_id ORDER BY doc_id"""
    },
    "q56_length_gate" ->
      s"""WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                       quantile_cont(n_chars, 0.95) AS hi
                     FROM documents)
          SELECT doc_id, lang, source, n_chars,
                 ${roundSql("b.lo", 4)} AS p_lo, ${roundSql("b.hi", 4)} AS p_hi
          FROM documents CROSS JOIN b
          WHERE n_chars >= b.lo AND n_chars <= b.hi
          ORDER BY doc_id""",
    "q57_star_join" ->
      s"""SELECT r_name, n_name,
                 round(${exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 2) AS revenue,
                 count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          JOIN part ON l_partkey = p_partkey AND p_size <= 25
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q58_contamination" ->
      s"""WITH $shingleCte,
          ev AS (SELECT DISTINCT unnest(sg) AS s FROM sh WHERE doc_id % $ContamModulus = 0),
          tr AS (SELECT doc_id, sg FROM sh WHERE doc_id % $ContamModulus <> 0),
          hits AS (SELECT t.doc_id, count(*) AS n_hit
                   FROM (SELECT doc_id, unnest(sg) AS s FROM tr) t
                   JOIN ev USING (s) GROUP BY t.doc_id)
          SELECT tr.doc_id, CAST(len(tr.sg) AS BIGINT) AS n_shingles,
                 CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
                 ${roundSql("CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / len(tr.sg)", 4)} AS contamination,
                 ${roundSql("CAST(COALESCE(hits.n_hit, 0) AS DOUBLE) / len(tr.sg)", 4)} >= $ContamThreshold AS is_contaminated
          FROM tr LEFT JOIN hits USING (doc_id) ORDER BY tr.doc_id""",
    // Q59: concat-and-chunk packing — pure integer window arithmetic, so
    // the mirror is exact (no float contract).
    "q59_chunk_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id % ${Packing.DefaultShards} AS shard,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS tok_start
                FROM t)
          SELECT doc_id, shard, n_tokens, tok_start,
                 CAST(tok_start // $PackBudget AS BIGINT) AS seq_first,
                 CAST((tok_start + n_tokens - 1) // $PackBudget AS BIGINT) AS seq_last,
                 CAST((tok_start + n_tokens - 1) // $PackBudget
                   - tok_start // $PackBudget + 1 AS BIGINT) AS n_seqs,
                 CAST(tok_start % $PackBudget AS BIGINT) AS seq_offset
          FROM c ORDER BY doc_id""",
    // Q59b: greedy first-fit packing — the bin boundary depends on its
    // own history, so the oracle replays the identical fold as a
    // recursive CTE stepping row_number within each shard.
    "q59b_greedy_pack" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, doc_id % ${Packing.DefaultShards} AS shard,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
          g AS (
            SELECT shard, doc_id, n_tokens, rn,
                   CAST(0 AS BIGINT) AS bin, n_tokens AS fill
            FROM r WHERE rn = 1
            UNION ALL
            SELECT r.shard, r.doc_id, r.n_tokens, r.rn,
                   CASE WHEN g.fill + r.n_tokens > $PackBudget THEN g.bin + 1 ELSE g.bin END,
                   CASE WHEN g.fill + r.n_tokens > $PackBudget THEN r.n_tokens
                        ELSE g.fill + r.n_tokens END
            FROM g JOIN r ON r.shard = g.shard AND r.rn = g.rn + 1)
          SELECT doc_id, shard, bin, fill FROM g ORDER BY doc_id""",
    // Q59c: utilization summary over the same greedy fold (HUGEINT sums
    // cast back to BIGINT to match Spark's long aggregates).
    "q59c_pack_stats" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, doc_id % ${Packing.DefaultShards} AS shard,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          r AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
          g AS (
            SELECT shard, doc_id, n_tokens, rn,
                   CAST(0 AS BIGINT) AS bin, n_tokens AS fill
            FROM r WHERE rn = 1
            UNION ALL
            SELECT r.shard, r.doc_id, r.n_tokens, r.rn,
                   CASE WHEN g.fill + r.n_tokens > $PackBudget THEN g.bin + 1 ELSE g.bin END,
                   CASE WHEN g.fill + r.n_tokens > $PackBudget THEN r.n_tokens
                        ELSE g.fill + r.n_tokens END
            FROM g JOIN r ON r.shard = g.shard AND r.rn = g.rn + 1),
          b AS (SELECT shard, bin, max(fill) AS bin_tokens, count(*) AS n_docs
                FROM g GROUP BY shard, bin)
          SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
                 CAST(sum(n_docs) AS BIGINT) AS n_docs,
                 CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
                 CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
                 ${roundSql(s"CAST(sum(bin_tokens) AS DOUBLE) / (count(*) * $PackBudget)", 4)} AS utilization
          FROM b GROUP BY shard ORDER BY shard""",
    // Q59d: sequence manifest — the chunk pack inverted per sequence;
    // integer overlap arithmetic, exact mirror.
    "q59d_seq_manifest" ->
      s"""WITH t AS (SELECT doc_id, doc_id % ${Packing.DefaultShards} AS shard,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS tok_start
                FROM t),
          e AS (SELECT doc_id, shard, n_tokens, tok_start,
                  unnest(generate_series(tok_start // $PackBudget,
                    (tok_start + n_tokens - 1) // $PackBudget)) AS seq
                FROM c)
          SELECT shard, CAST(seq AS BIGINT) AS seq,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(least(tok_start + n_tokens, (seq + 1) * $PackBudget)
                   - greatest(tok_start, seq * $PackBudget)) AS BIGINT) AS n_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM e GROUP BY shard, seq ORDER BY shard, seq""",
    // Q60: corpus snapshot diff — both sides reduce to (doc_id, md5)
    // before the full-outer join; DuckDB and Spark md5() agree on
    // lowercase hex.
    "q60_snapshot_diff" ->
      s"""WITH $snapshotCtes
          SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash,
                 CASE WHEN o.old_hash IS NULL THEN 'added'
                      WHEN n.new_hash IS NULL THEN 'removed'
                      WHEN o.old_hash = n.new_hash THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          ORDER BY 1""",
    "q60b_diff_summary" ->
      s"""WITH $snapshotCtes,
          d AS (SELECT CASE WHEN o.old_hash IS NULL THEN 'added'
                            WHEN n.new_hash IS NULL THEN 'removed'
                            WHEN o.old_hash = n.new_hash THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
          SELECT status, CAST(count(*) AS BIGINT) AS n_docs
          FROM d GROUP BY status ORDER BY status""",
    // Q61: repetition metrics — the oracle computes the same quantities
    // set-wise (unnest → count → max) where the engine uses a per-row
    // sorted-run fold; agreement across formulations is the point.
    "q61_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          base AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tokens,
                     CASE WHEN len(ws) >= 2 THEN
                       list_transform(generate_series(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END AS bg
                   FROM t),
          uc AS (SELECT doc_id, tok, count(*) AS c
                 FROM (SELECT doc_id, unnest(ws) AS tok FROM t) GROUP BY 1, 2),
          us AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok,
                   CAST(count(*) AS BIGINT) AS n_types FROM uc GROUP BY 1),
          bc AS (SELECT doc_id, b, count(*) AS c
                 FROM (SELECT doc_id, unnest(bg) AS b FROM base) GROUP BY 1, 2),
          bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram,
                   CAST(count(*) AS BIGINT) AS n_bigram_types FROM bc GROUP BY 1)
          SELECT base.doc_id, base.n_tokens, us.n_types, us.top_tok,
                 ${roundSql("CAST(us.top_tok AS DOUBLE) / base.n_tokens", 4)} AS top_tok_frac,
                 CAST(greatest(base.n_tokens - 1, 0) AS BIGINT) AS n_bigrams,
                 CAST(COALESCE(bs.n_bigram_types, 0) AS BIGINT) AS n_bigram_types,
                 CAST(COALESCE(bs.top_bigram, 0) AS BIGINT) AS top_bigram,
                 CASE WHEN base.n_tokens > 1 THEN
                   ${roundSql("CAST(bs.top_bigram AS DOUBLE) / (base.n_tokens - 1)", 4)} END AS top_bigram_frac,
                 CASE WHEN base.n_tokens > 1 THEN
                   ${roundSql("CAST(bs.n_bigram_types AS DOUBLE) / (base.n_tokens - 1)", 4)} END AS distinct_bigram_ratio
          FROM base JOIN us USING (doc_id) LEFT JOIN bs USING (doc_id)
          ORDER BY base.doc_id""",
    // Q62: budget selection — the oracle replays the identical two-pass
    // histogram (cells → suffix-sum threshold → semi-join); the quality
    // score is q19b's formula verbatim, so the per-row cell assignment
    // is the same IEEE arithmetic in both engines.
    "q62_budget_select" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          m AS (SELECT doc_id,
                  CAST(len(ws) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                  len(list_filter(ws, w -> w IN (${TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop
                FROM d),
          r AS (SELECT doc_id, n_tokens,
                  ${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
                  ${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio
                FROM m),
          scored AS (SELECT doc_id, n_tokens,
                  ${roundSql("0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.4 * ttr + 0.3 * stop_ratio", 4)} AS quality
                FROM r),
          sc AS (SELECT *, CAST(least(${BudgetBins - 1},
                   CAST(floor(quality * $BudgetBins) AS BIGINT)) AS INTEGER) AS cell
                 FROM scored),
          cells AS (SELECT cell, CAST(sum(n_tokens) AS BIGINT) AS cell_tokens
                    FROM sc GROUP BY cell),
          cum AS (SELECT a.cell, CAST(sum(b.cell_tokens) AS BIGINT) AS cum_tokens
                  FROM cells a JOIN cells b ON b.cell >= a.cell GROUP BY a.cell),
          keep AS (SELECT cell FROM cum WHERE cum_tokens <= $SelectBudget)
          SELECT doc_id, n_tokens, quality, cell
          FROM sc SEMI JOIN keep USING (cell) ORDER BY doc_id""",
    // Q63: temperature mixture — sqrt is IEEE-correctly-rounded in both
    // engines; per-source weights grid-round before the exact integer
    // total; boost composes the already-rounded shares.
    "q63_temperature_mix" ->
      s"""WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                FROM t GROUP BY source),
          w AS (SELECT *, ${roundSql("sqrt(CAST(n_tokens AS DOUBLE))", 6)} AS w FROM s),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                    ${exactSumSql("w", 6)} AS total_w FROM w)
          SELECT source, n_docs, n_tokens,
                 ${roundSql("CAST(n_tokens AS DOUBLE) / total_tokens", 6)} AS p_raw,
                 ${roundSql("w / total_w", 6)} AS p_temp,
                 ${roundSql(
                   s"${roundSql("w / total_w", 6)} / ${roundSql("CAST(n_tokens AS DOUBLE) / total_tokens", 6)}",
                   4)} AS boost
          FROM w CROSS JOIN tot ORDER BY source""",
    // Q63b: epoch plan — planned_tokens floors the rounded share times
    // the budget; epochs composes the already-derived columns.
    "q63b_epoch_plan" ->
      s"""WITH t AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                FROM t GROUP BY source),
          w AS (SELECT *, ${roundSql("sqrt(CAST(n_tokens AS DOUBLE))", 6)} AS w FROM s),
          tot AS (SELECT ${exactSumSql("w", 6)} AS total_w FROM w),
          p AS (SELECT source, n_tokens,
                  ${roundSql("w / total_w", 6)} AS p_temp
                FROM w CROSS JOIN tot),
          q AS (SELECT *, CAST(floor(p_temp * $EpochBudget) AS BIGINT) AS planned_tokens FROM p)
          SELECT source, n_tokens, p_temp, planned_tokens,
                 ${roundSql("CAST(planned_tokens AS DOUBLE) / n_tokens", 4)} AS epochs
          FROM q ORDER BY source""",
    // Q65: curation funnel — quality formula as in q62, repetition
    // restated set-wise as in q61, dedup survivors via md5 min; gates
    // composed cumulatively.
    "q65_curation_funnel" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
          m AS (SELECT doc_id,
                  CAST(len(ws) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                  len(list_filter(ws, w -> w IN (${TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop
                FROM d),
          r AS (SELECT doc_id, n_tokens,
                  ${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
                  ${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio
                FROM m),
          q AS (SELECT doc_id, n_tokens,
                  ${roundSql("0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.4 * ttr + 0.3 * stop_ratio", 4)} AS quality
                FROM r),
          u AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(ws) AS tok FROM d) GROUP BY 1, 2),
          tt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok FROM u GROUP BY 1),
          f AS (SELECT d.doc_id, md5(d.text) AS h, q.n_tokens, q.quality,
                  ${roundSql("CAST(tt.top_tok AS DOUBLE) / q.n_tokens", 4)} AS ttf
                FROM d JOIN q USING (doc_id) JOIN tt USING (doc_id)),
          surv AS (SELECT h, min(doc_id) AS keep_id FROM f GROUP BY h),
          fl AS (SELECT f.*, s.keep_id,
                   (n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok) AS f_len,
                   (quality >= $FunnelMinQuality) AS f_q,
                   (ttf <= $FunnelMaxTopTok) AS f_r,
                   (f.doc_id = s.keep_id) AS f_u
                 FROM f JOIN surv s USING (h)),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS i,
                    CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS s1,
                    CAST(sum(CASE WHEN f_len AND f_q THEN 1 ELSE 0 END) AS BIGINT) AS s2,
                    CAST(sum(CASE WHEN f_len AND f_q AND f_r THEN 1 ELSE 0 END) AS BIGINT) AS s3,
                    CAST(sum(CASE WHEN f_len AND f_q AND f_r AND f_u THEN 1 ELSE 0 END) AS BIGINT) AS s4
                  FROM fl)
          SELECT stage, n_docs FROM (
            SELECT 'a0_ingested' AS stage, i AS n_docs FROM agg
            UNION ALL SELECT 'a1_length', s1 FROM agg
            UNION ALL SELECT 'a2_quality', s2 FROM agg
            UNION ALL SELECT 'a3_repetition', s3 FROM agg
            UNION ALL SELECT 'a4_dedup', s4 FROM agg)
          ORDER BY stage""",
    // Q66: distinct-shingle cardinality — q52's sketch contract (counts
    // + boolean; the estimate itself is engine-specific).
    "q66_shingle_card" ->
      s"""WITH $shingleCte,
          u AS (SELECT d.source, unnest(sh.sg) AS s
                FROM sh JOIN documents d USING (doc_id))
          SELECT source, CAST(count(*) AS BIGINT) AS n_instances,
                 CAST(count(DISTINCT s) AS BIGINT) AS n_exact,
                 true AS within_tol
          FROM u GROUP BY source ORDER BY source""",
    // Q67: semantic dedup — the q18b assignment CTE, the same
    // lowest-id cap (rank by vec_id within cluster), within-cluster
    // pairs, then per-duplicate argmin survivor.
    "q67_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < $NumCentroids),
          s AS (SELECT e.vec_id, e.emb, c.cid, ${cosSql("emb", "cemb")} AS sim FROM e, c),
          r AS (SELECT vec_id, emb, cid,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY ${roundSql("sim", 6)} DESC, cid) AS rn
                FROM s),
          a AS (SELECT vec_id, emb, cid FROM r WHERE rn = 1),
          cap AS (SELECT vec_id, emb, cid,
                    row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rk
                  FROM a),
          k AS (SELECT vec_id, emb, cid FROM cap WHERE rk <= $SemMaxCluster),
          p AS (SELECT l.cid, l.vec_id AS keep_id, rr.vec_id AS dup_id,
                  ${roundSql(cosSql("l.emb", "rr.emb"), 4)} AS cos
                FROM k l JOIN k rr ON l.cid = rr.cid AND l.vec_id < rr.vec_id),
          f AS (SELECT cid, dup_id, keep_id, cos,
                  row_number() OVER (PARTITION BY dup_id
                    ORDER BY keep_id) AS pr
                FROM p WHERE cos >= $SemThreshold)
          SELECT dup_id AS vec_id, cid, keep_id AS dup_of, cos
          FROM f WHERE pr = 1 ORDER BY vec_id""",
    // Q68: PII scrub — identical salt expression (VARCHAR casts), the
    // same three backslash-free regexes, counts via regexp_extract_all
    // and redaction via regexp_replace with the 'g' flag (DuckDB
    // replaces first-match-only by default; Spark replaces all).
    "q68_pii_scrub" -> {
      val salt =
        "concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
          "'@mail.example.com at 10.', CAST(doc_id % 200 AS VARCHAR), '.0.', " +
          "CAST(doc_id % 250 AS VARCHAR), " +
          "CASE WHEN doc_id % 3 = 0 THEN concat(' call +1 555 01', " +
          "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')) ELSE '' END, ' end')"
      val (e, i, ph) = (Curation.EmailRe, Curation.Ipv4Re, Curation.PhoneRe)
      s"""WITH p AS (SELECT doc_id, $salt AS pii_text FROM documents),
          r AS (SELECT doc_id, pii_text,
                  regexp_replace(regexp_replace(regexp_replace(
                    pii_text, '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'),
                    '$ph', '<PHONE>', 'g') AS red
                FROM p)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(pii_text, '$e')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(pii_text, '$i')) AS BIGINT) AS n_ips,
                 CAST(len(regexp_extract_all(pii_text, '$ph')) AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(red, '$e'))
                      + len(regexp_extract_all(red, '$i'))
                      + len(regexp_extract_all(red, '$ph')) AS BIGINT) AS n_residual,
                 md5(red) AS redacted_md5
          FROM r ORDER BY doc_id"""
    },
    // Q69: per-source cap — the q65 quality CTE, then row_number with
    // the Aggregator's exact tie contract (quality DESC, doc_id ASC).
    "q69_source_cap" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
          m AS (SELECT doc_id, source,
                  CAST(len(ws) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                  len(list_filter(ws, w -> w IN (${TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop
                FROM d),
          r AS (SELECT doc_id, source, n_tokens,
                  ${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
                  ${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio
                FROM m),
          q AS (SELECT doc_id, source,
                  ${roundSql("0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.4 * ttr + 0.3 * stop_ratio", 4)} AS quality
                FROM r),
          rk AS (SELECT source, doc_id, quality,
                   row_number() OVER (PARTITION BY source
                     ORDER BY quality DESC, doc_id) AS rnk
                 FROM q)
          SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, quality
          FROM rk WHERE rnk <= $TopK ORDER BY source, rnk""",
    // Q70: span dedup — 1-based list slices mirror the Spark slice()
    // chunks; first-occurrence = row_number over (doc_id, chunk_idx).
    "q70_span_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                  md5(array_to_string(ws[i*$SpanLen+1 : i*$SpanLen+$SpanLen], ' ')) AS h,
                  CAST(least($SpanLen, len(ws) - i*$SpanLen) AS BIGINT) AS c_tokens
                FROM d CROSS JOIN unnest(range(CAST(ceil(len(ws) / $SpanLen.0) AS BIGINT))) AS t(i)),
          k AS (SELECT *, row_number() OVER (PARTITION BY h
                  ORDER BY doc_id, chunk_idx) AS rn FROM c)
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_chunks,
                 CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(sum(c_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN rn = 1 THEN c_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept,
                 ${roundSql("CAST(sum(CASE WHEN rn = 1 THEN c_tokens ELSE 0 END) AS DOUBLE) / sum(c_tokens)", 4)} AS kept_ratio
          FROM k GROUP BY doc_id ORDER BY doc_id""",
    // Q70b: two stride grids (offsets 0 and span/2), first-seen per
    // digest ACROSS grids ordered by (doc_id, start) — grid-0 and
    // grid-1 starts never coincide so the order is total — then the
    // union of dup-instance token intervals per doc. Grid 1 keeps only
    // full-length chunks (the engine's rule, see spanDedupOffsets).
    "q70b_offset_span_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT 0 AS o UNION ALL SELECT ${SpanLen / 2}),
          inst AS (SELECT doc_id, CAST(st AS BIGINT) AS st,
                     CAST(least(len(ws) - st, $SpanLen) AS BIGINT) AS clen,
                     md5(array_to_string(
                       ws[st + 1 : st + least(len(ws) - st, $SpanLen)], ' ')) AS h
                   FROM w CROSS JOIN g
                   CROSS JOIN UNNEST(generate_series(o, len(ws) - 1, $SpanLen)) AS t(st)
                   WHERE o = 0 OR len(ws) - st >= $SpanLen),
          rk AS (SELECT *, row_number() OVER (PARTITION BY h
                   ORDER BY doc_id, st) AS rn FROM inst),
          pos AS (SELECT DISTINCT doc_id, p
                  FROM rk CROSS JOIN UNNEST(generate_series(st, st + clen - 1)) AS t(p)
                  WHERE rn > 1),
          pd AS (SELECT doc_id, count(*) AS n_dup_tokens FROM pos GROUP BY doc_id)
          SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(COALESCE(pd.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
                 ${roundSql("CAST(COALESCE(pd.n_dup_tokens, 0) AS DOUBLE) / len(ws)", 4)} AS dup_ratio
          FROM w LEFT JOIN pd USING (doc_id) ORDER BY doc_id""",
    // Q70c: the q70b oracle + the content-defined grid — anchor starts
    // from the shared portable hash, chunks between consecutive
    // anchors, instances DISTINCT (an anchored chunk can coincide with
    // a fixed-grid chunk) before the same first-seen rank.
    "q70c_anchored_span_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          g AS (SELECT 0 AS o UNION ALL SELECT ${SpanLen / 2}),
          ginst AS (SELECT doc_id, CAST(st AS BIGINT) AS st,
                      CAST(least(len(ws) - st, $SpanLen) AS BIGINT) AS clen,
                      md5(array_to_string(
                        ws[st + 1 : st + least(len(ws) - st, $SpanLen)], ' ')) AS h
                    FROM w CROSS JOIN g
                    CROSS JOIN UNNEST(generate_series(o, len(ws) - 1, $SpanLen)) AS t(st)
                    WHERE o = 0 OR len(ws) - st >= $SpanLen),
          ast AS (SELECT doc_id, ws,
                    list_sort(list_distinct([0] ||
                      list_filter(generate_series(0, len(ws) - 1),
                        i -> ${graft.functions.PortableHash.hash48Sql("ws[i + 1]")}
                             % $AnchorMod = 0))) AS ss
                  FROM w),
          ainst AS (SELECT doc_id, CAST(ss[j] AS BIGINT) AS st,
                      CAST(coalesce(ss[j + 1], len(ws)) - ss[j] AS BIGINT) AS clen,
                      md5(array_to_string(
                        ws[ss[j] + 1 : coalesce(ss[j + 1], len(ws))], ' ')) AS h
                    FROM ast
                    CROSS JOIN UNNEST(generate_series(1, len(ss))) AS t(j)),
          inst AS (SELECT DISTINCT * FROM
                     (SELECT * FROM ginst UNION ALL SELECT * FROM ainst)),
          rk AS (SELECT *, row_number() OVER (PARTITION BY h
                   ORDER BY doc_id, st) AS rn FROM inst),
          pos AS (SELECT DISTINCT doc_id, p
                  FROM rk CROSS JOIN UNNEST(generate_series(st, st + clen - 1)) AS t(p)
                  WHERE rn > 1),
          pd AS (SELECT doc_id, count(*) AS n_dup_tokens FROM pos GROUP BY doc_id)
          SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(COALESCE(pd.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
                 ${roundSql("CAST(COALESCE(pd.n_dup_tokens, 0) AS DOUBLE) / len(ws)", 4)} AS dup_ratio
          FROM w LEFT JOIN pd USING (doc_id) ORDER BY doc_id""",
    // Q71: global shuffle — the portable 48-bit hash, mod, rank within
    // shard; h is positive so % ≡ pmod.
    "q71_global_shuffle" ->
      s"""WITH h AS (SELECT doc_id, n_chars,
                  ${graft.functions.PortableHash.hash48Sql(s"'$ShuffleSalt:' || CAST(doc_id AS VARCHAR)")} AS h
                FROM documents),
          s AS (SELECT doc_id, n_chars, h, h % $NumShards AS shard FROM h)
          SELECT shard, CAST(row_number() OVER (PARTITION BY shard
                   ORDER BY h, doc_id) AS BIGINT) AS pos, doc_id, n_chars
          FROM s ORDER BY shard, pos""",
    // Q72: hashed classifier — per-token integer weights summed exactly
    // (BIGINT), one division, one rounding; the fold order is
    // irrelevant because integer addition commutes.
    "q72_hashed_classifier" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          t AS (SELECT doc_id, unnest(ws) AS tok FROM d),
          s AS (SELECT doc_id,
                  CAST(sum(${graft.functions.PortableHash.hash48Sql("'w:' || tok")} % 2001 - 1000) AS BIGINT) AS score_raw
                FROM t GROUP BY doc_id),
          n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM d),
          m AS (SELECT n.doc_id, n.n_tokens, s.score_raw,
                  ${roundSql("CAST(s.score_raw AS DOUBLE) / (n.n_tokens * 1000.0)", 4)} AS margin
                FROM n JOIN s USING (doc_id))
          SELECT doc_id, n_tokens, score_raw, margin,
                 CASE WHEN margin >= 0 THEN 'keep' ELSE 'drop' END AS label
          FROM m ORDER BY doc_id""",
    // Q73: PQ encode — identical 1-based subspace slices (DuckDB lists)
    // of the 0-based Spark fold; distances snapped to the 1e-6 integer
    // grid in both engines before the argmin, tie → lowest code.
    "q73_pq_encode" ->
      s"""WITH $pqCte,
          r AS (SELECT vec_id, m, cid, erri, row_number() OVER
                  (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM d)
          SELECT vec_id, CAST(m AS INT) AS m, cid AS code,
                 CAST(erri AS DOUBLE) / 1e6 AS err
          FROM r WHERE rn = 1 ORDER BY vec_id, m""",
    // Q73d: per-subspace Lloyd loop unrolled KmeansIters times (the
    // q50b argument: engine early-exit at a fixpoint ≡ fixed unroll).
    "q73d_pq_train" ->
      s"""WITH ${pqTrainRoundsCte(KmeansIters)}
          SELECT CAST(m AS INT) AS m, cid, dim, n, mean_val
          FROM pm$KmeansIters ORDER BY m, cid, dim""",
    // Q73e: the q73 encode against the TRAINED codebooks pc{iters}.
    "q73e_pq_encode_trained" ->
      s"""WITH ${pqTrainRoundsCte(KmeansIters)},
          psf AS (SELECT pe.vec_id, pe.m, c.cid,
                    CAST(floor(list_sum(list_transform(generate_series(1, ${64 / PqSub}),
                      i -> (pe.sv[i] - c.cemb[i]) * (pe.sv[i] - c.cemb[i]))) * 1e6 + 0.5) AS BIGINT) AS erri
                  FROM pe JOIN pc$KmeansIters c ON c.m = pe.m),
          paf AS (SELECT vec_id, m, cid, erri FROM
                    (SELECT *, row_number() OVER
                       (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM psf)
                  WHERE rn = 1)
          SELECT vec_id, CAST(m AS INT) AS m, cid AS code,
                 CAST(erri AS DOUBLE) / 1e6 AS err
          FROM paf ORDER BY vec_id, m""",
    // Q80: q73b's ADC search with the TRAINED sub-codebooks pc{iters}:
    // corpus codes from the final assignment, the query side's exact
    // integer distances joined on (m, code), ranked by (adc, vec_id).
    "q80_trained_adc_search" ->
      s"""WITH ${pqTrainRoundsCte(KmeansIters)},
          psf AS (SELECT pe.vec_id, pe.m, c.cid,
                    CAST(floor(list_sum(list_transform(generate_series(1, ${64 / PqSub}),
                      i -> (pe.sv[i] - c.cemb[i]) * (pe.sv[i] - c.cemb[i]))) * 1e6 + 0.5) AS BIGINT) AS erri
                  FROM pe JOIN pc$KmeansIters c ON c.m = pe.m),
          paf AS (SELECT vec_id, m, cid AS code FROM
                    (SELECT *, row_number() OVER
                       (PARTITION BY vec_id, m ORDER BY erri, cid) AS rn FROM psf)
                  WHERE rn = 1 AND vec_id >= $BatchQueries),
          adc AS (SELECT q.vec_id AS qid, paf.vec_id,
                    CAST(sum(q.erri) AS BIGINT) AS adci
                  FROM paf JOIN psf q ON q.m = paf.m AND q.cid = paf.code
                  WHERE q.vec_id < $BatchQueries
                  GROUP BY 1, 2),
          sc AS (SELECT qid, vec_id,
                   ${roundSql("CAST(adci AS DOUBLE) / 1e6", 4)} AS adc FROM adc),
          rk AS (SELECT qid, vec_id, adc, row_number() OVER
                   (PARTITION BY qid ORDER BY adc, vec_id) AS rnk FROM sc)
          SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
          FROM rk WHERE rnk <= $BatchTopK ORDER BY qid, rnk""",
    // Q81: integer-perceptron training, exact BIGINT unroll (engine
    // early-exit at a zero update ≡ the fixed unroll, as with q50b).
    "q81_perceptron_train" ->
      s"""WITH ${perceptronRoundsCte(LrIters)}
          SELECT j, w FROM lw$LrIters ORDER BY j""",
    // Q81b: margins/predictions of the TRAINED weights over the corpus
    // (one more lm-round against the final weights).
    "q81b_classifier_margin" ->
      s"""WITH ${perceptronRoundsCte(LrIters)},
          sc AS (SELECT f.doc_id, f.y, CAST(sum(f.x * w.w) AS BIGINT) AS margin
                 FROM feat f JOIN lw$LrIters w USING (j) GROUP BY 1, 2)
          SELECT doc_id, CAST(y AS BIGINT) AS y, margin,
                 CAST(CASE WHEN margin >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
          FROM sc ORDER BY doc_id""",
    // Q82: DSIR importance weights — the shared CTE fits the hashed
    // bucket models and scores every doc with exact integer micro-nat
    // sums; the outer query re-derives n_tokens and the double view.
    "q82_dsir_weights" ->
      s"""WITH $dsirCte
          SELECT d.doc_id, d.lang,
                 CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
                 s.weight_micros,
                 CAST(s.weight_micros AS DOUBLE) / 1e6 AS weight
          FROM documents d JOIN dscore s USING (doc_id) ORDER BY doc_id""",
    // Q82b: Gumbel-top-k importance resampling — derandomized Gumbel
    // keys on the portable hash, integer micro-nat quantization,
    // (key DESC, doc_id) total order, LIMIT k.
    "q82b_dsir_resample" ->
      s"""WITH $dsirCte,
          gk AS (SELECT d.doc_id, d.lang, s.weight_micros,
                   CAST(floor(-ln(-ln(
                     (CAST(CAST('0x' || substr(md5('gum:' || CAST(d.doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) AS DOUBLE) + 1.0) / 281474976710658.0))
                     * 1e6 + 0.5) AS BIGINT) AS gumbel_micros
                 FROM documents d JOIN dscore s USING (doc_id))
          SELECT doc_id, lang, weight_micros, gumbel_micros,
                 weight_micros + gumbel_micros AS key_micros
          FROM gk ORDER BY key_micros DESC, doc_id LIMIT $DsirSampleK""",
    // Q83: duplicate n-gram coverage — same 48-bit gram digests,
    // distinct-doc counts, semi-join back, left join onto totals.
    "q83_dup_ngram_coverage" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          gr AS (SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(ws) - $DupGramN + 1),
                   i -> CAST('0x' || substr(md5(array_to_string(
                          list_slice(ws, i, i + $DupGramN - 1), ' ')), 1, 12)
                        AS BIGINT))) AS g
                 FROM d WHERE len(ws) >= $DupGramN),
          dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                                 FROM gr GROUP BY 1) WHERE nd >= 2),
          cnt AS (SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
                  FROM gr JOIN dup USING (g) GROUP BY 1),
          t AS (SELECT d.doc_id,
                  CAST(greatest(len(d.ws) - $DupGramN + 1, 0) AS BIGINT) AS n_grams,
                  CAST(coalesce(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams
                FROM d LEFT JOIN cnt c USING (doc_id))
          SELECT doc_id, n_grams, n_dup_grams,
                 CASE WHEN n_grams > 0 THEN
                   ${roundSql("CAST(n_dup_grams AS DOUBLE) / n_grams", 4)} END AS dup_frac,
                 CASE WHEN n_grams > 0 THEN
                   ${roundSql("CAST(n_dup_grams AS DOUBLE) / n_grams", 4)} >= $DupGramFlag
                 END AS flagged
          FROM t ORDER BY doc_id""",
    // Q84: int8 scalar quantization — per-dim min/max grid, identical
    // affine code formula (same cast points and operation order), exact
    // integer nano-unit SSE; mse divides once by 64e9 in both engines.
    "q84_int8_quantize" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          dims AS (SELECT g.i, min(e.emb[g.i]) AS mn, max(e.emb[g.i]) AS mx
                   FROM e, generate_series(1, 64) g(i) GROUP BY 1),
          mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
                 FROM dims),
          qq AS (SELECT vec_id, emb, mns, mxs,
                   list_transform(generate_series(1, 64), i ->
                     CASE WHEN mxs[i] = mns[i] THEN 0
                     ELSE least(255, greatest(0, CAST(floor(
                       (emb[i] - mns[i]) / (mxs[i] - mns[i]) * 255 + 0.5) AS INT))) END) AS codes
                 FROM e CROSS JOIN mm),
          se AS (SELECT vec_id,
                   md5(array_to_string(codes, ',')) AS codes_md5,
                   CAST(list_sum(list_transform(generate_series(1, 64), i ->
                     CAST(floor((emb[i] - (mns[i] + codes[i] * (mxs[i] - mns[i]) / 255.0))
                              * (emb[i] - (mns[i] + codes[i] * (mxs[i] - mns[i]) / 255.0))
                              * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS sse_nanos
                 FROM qq)
          SELECT vec_id, codes_md5, sse_nanos,
                 CAST(sse_nanos AS DOUBLE) / 6.4e10 AS mse
          FROM se ORDER BY vec_id""",
    // Q85: IVF-PQ residual search — coarse k-means (kmeansRoundsCte),
    // residuals vs the final assignment, PQ training on residuals
    // (pqRounds over a residual-sourced pe/pc0), per-probed-cell query
    // residual LUTs, exact BIGINT ADC restricted to probed cells.
    "q85_ivfpq_search" -> q85OracleSql,
    // Q85b: the q85 candidates pruned to a `PqShortlist` ADC shortlist,
    // then exact squared-L2 re-rank on shortlist rows only (the q73c
    // tail over the IVF-PQ candidate generator).
    "q85b_ivfpq_rerank" -> q85bOracleSql,
    // Q89: the persisted index IS the trained artifacts — the stored
    // code table (cell id + PQ codes per vector, every vector) must
    // equal the in-engine training chain's encode verbatim.
    "q89_index_build" ->
      s"""WITH $ivfPqCtes,
          $codeSummarySelect""",
    // Q89c/q89d: serving from the store must answer exactly what the
    // retrain-per-query path answers (q85/q85b oracles verbatim).
    "q89c_stored_adc_search" -> q85OracleSql,
    // Q122: the q85 chain with the candidate set metadata-restricted
    // BEFORE ranking — the pre-filter contract (a post-filter of the
    // unfiltered top-k would rank fewer/different rows).
    "q122_filtered_ann" ->
      s"""WITH $ivfPqCtes,
          scf AS (SELECT s.* FROM sc2 s
                  JOIN embeddings em ON em.vec_id = s.vec_id
                  WHERE em.label = $FilterLabel),
          rk2 AS (SELECT qid, vec_id, adc, row_number() OVER
                    (PARTITION BY qid ORDER BY adc, vec_id) AS rnk FROM scf)
          SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
          FROM rk2 WHERE rnk <= $BatchTopK ORDER BY qid, rnk""",
    "q89d_stored_rerank" -> q85bOracleSql,
    // Q90: build on the base (vec_id < split), append the rest against
    // the STORED artifacts — the resulting code table equals training
    // on the base and encoding everything.
    "q90_index_append" ->
      s"""WITH $ivfPqAppendCtes,
          $codeSummarySelect""",
    // Q90b: ADC search over the appended store — base-trained model,
    // full (base + appended) candidate set.
    "q90b_appended_search" -> q90bOracleSql,
    // Q107: the versioned store's commit log — closed-form from the
    // lifecycle's operation sizes over the embeddings table.
    "q107_version_history" ->
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS all_n,
                 CAST(count(*) FILTER (WHERE vec_id < $AnnAppendSplit) AS BIGINT) AS base_n,
                 CAST(count(*) FILTER (WHERE vec_id % $AnnDeleteMod = $AnnDeleteRes
                                         AND vec_id >= $BatchQueries) AS BIGINT) AS del_n
               FROM embeddings)
          SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS version, 'build' AS op,
                   base_n AS codes_rows, CAST(0 AS BIGINT) AS tombstone_rows FROM n
            UNION ALL SELECT CAST(1 AS BIGINT), 'append', all_n, CAST(0 AS BIGINT) FROM n
            UNION ALL SELECT CAST(2 AS BIGINT), 'delete', all_n, del_n FROM n
            UNION ALL SELECT CAST(3 AS BIGINT), 'compact', all_n - del_n, CAST(0 AS BIGINT) FROM n)
          ORDER BY version""",
    // Q107b: time travel to v1 must answer exactly what the appended
    // store answered (q90b's oracle, verbatim) — the delete and the
    // compaction that committed afterwards are invisible at v1.
    "q107b_time_travel_search" -> q90bOracleSql,
    "q107c_versioned_live_search" -> q107cOracleSql,
    // Q108: pruning the float tier by probed cell must not change the
    // exact re-rank — q85b's tail over the q107c live state.
    "q108_pruned_rerank" -> q108OracleSql,
    // Q108b: the reindexed model is trained on (and encodes) the live
    // population only.
    "q108b_reindexed_search" -> q108bOracleSql,
    // Q107d: restore(v3) must reproduce the pre-reindex live state
    // bit-for-bit (q107c's oracle, verbatim).
    "q107d_restored_search" -> q107cOracleSql,
    // Q109: the versioned lexical index's latest state ≡ a from-scratch
    // index over the live corpus (q101's oracle verbatim — same live
    // set: full corpus minus the TextDeleteMod residue).
    "q109_versioned_bm25" -> q101OracleSql,
    // Q109b: v1 is the full-corpus index (q86's oracle verbatim).
    "q109b_bm25_time_travel" -> q86OracleSql,
    // Q109c: the lexical commit log — closed-form from the lifecycle's
    // operation sizes (postings rows = distinct (doc, term) pairs).
    "q109c_postings_history" ->
      s"""WITH pairs AS (SELECT DISTINCT doc_id, w FROM
                           (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                            FROM documents)),
          n AS (SELECT
                  CAST((SELECT count(*) FROM pairs
                        WHERE doc_id < $TextAppendSplit) AS BIGINT) AS base_n,
                  CAST((SELECT count(*) FROM pairs) AS BIGINT) AS all_n,
                  CAST((SELECT count(*) FROM pairs
                        WHERE doc_id % $TextDeleteMod <> $TextDeleteRes) AS BIGINT) AS live_n,
                  CAST((SELECT count(*) FROM documents
                        WHERE doc_id % $TextDeleteMod = $TextDeleteRes) AS BIGINT) AS del_n)
          SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS version, 'build' AS op,
                   base_n AS postings_rows, CAST(0 AS BIGINT) AS tombstone_rows FROM n
            UNION ALL SELECT CAST(1 AS BIGINT), 'append', all_n, CAST(0 AS BIGINT) FROM n
            UNION ALL SELECT CAST(2 AS BIGINT), 'delete', all_n, del_n FROM n
            UNION ALL SELECT CAST(3 AS BIGINT), 'compact', live_n, CAST(0 AS BIGINT) FROM n)
          ORDER BY version""",
    // Q111: upserted-corpus BM25 — the patched live corpus, restated.
    "q111_upserted_bm25" -> q111OracleSql,
    // Q111b: a v3 pin is untouched by the v4 upsert (q101 verbatim).
    "q111b_upsert_time_travel" -> q101OracleSql,
    // Q111c: the upserted lexical commit log — the q109c closed form
    // plus a v4 row: carried-forward live pairs + the patched docs'
    // pairs (suffix included), one tombstone per upserted id.
    "q111c_upsert_history" ->
      s"""WITH pairs AS (SELECT DISTINCT doc_id, w FROM
                           (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                            FROM documents)),
          upairs AS (SELECT DISTINCT doc_id, w FROM
                       (SELECT doc_id,
                          unnest(string_split(text || '$TextUpsertSuffix', ' ')) AS w
                        FROM documents
                        WHERE doc_id % $TextUpsertMod = $TextUpsertRes)),
          n AS (SELECT
                  CAST((SELECT count(*) FROM pairs
                        WHERE doc_id < $TextAppendSplit) AS BIGINT) AS base_n,
                  CAST((SELECT count(*) FROM pairs) AS BIGINT) AS all_n,
                  CAST((SELECT count(*) FROM pairs
                        WHERE doc_id % $TextDeleteMod <> $TextDeleteRes) AS BIGINT) AS live_n,
                  CAST((SELECT count(*) FROM documents
                        WHERE doc_id % $TextDeleteMod = $TextDeleteRes) AS BIGINT) AS del_n,
                  CAST((SELECT count(*) FROM upairs) AS BIGINT) AS up_pairs,
                  CAST((SELECT count(*) FROM documents
                        WHERE doc_id % $TextUpsertMod = $TextUpsertRes) AS BIGINT) AS up_n)
          SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS version, 'build' AS op,
                   base_n AS postings_rows, CAST(0 AS BIGINT) AS tombstone_rows FROM n
            UNION ALL SELECT CAST(1 AS BIGINT), 'append', all_n, CAST(0 AS BIGINT) FROM n
            UNION ALL SELECT CAST(2 AS BIGINT), 'delete', all_n, del_n FROM n
            UNION ALL SELECT CAST(3 AS BIGINT), 'compact', live_n, CAST(0 AS BIGINT) FROM n
            UNION ALL SELECT CAST(4 AS BIGINT), 'upsert', live_n + up_pairs, up_n FROM n)
          ORDER BY version""",
    // Q111d: ANN search over the atomically re-embedded store.
    "q111d_upserted_ann_search" -> q111dOracleSql,
    // Q112/q112b: DuckDB's NATIVE ASOF JOIN is the oracle — a genuinely
    // independent implementation of the same point-in-time semantics
    // (inclusive ≥ bound, greatest right time wins). The right side is
    // deduped per (user, ts) by greatest event_id in BOTH engines (the
    // deterministic-tie contract).
    "q112_asof_join" -> asofOracleSql("ASOF LEFT JOIN"),
    "q112b_asof_inner" -> asofOracleSql("ASOF JOIN"),
    // Q112c: DuckDB's ASOF with the comparison FLIPPED is its native
    // forward variant (smallest right time ≥, inclusive) — still a
    // fully independent implementation.
    "q112c_asof_forward" -> asofOracleSql("ASOF LEFT JOIN", "<="),
    "q112d_asof_nearest" -> asofNearestOracleSql(AsofNearestTolUs),
    // Q113/q113b: the skipping layout must answer exactly the plain
    // scan — pruning is an I/O property (pinned by FactStoreSpec),
    // never a semantics change.
    "q113_zorder_box" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events
          WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
            AND epoch_us(ts) BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    "q113b_zorder_timeslice" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events
          WHERE epoch_us(ts) BETWEEN $SkipTs2Lo AND $SkipTs2Hi
          ORDER BY event_id""",
    // Q114/q114b: append-then-compact must not change a single row —
    // both states answer exactly the q113 box (base ∪ batch = all
    // events); the pruning-fraction movement is FactStoreSpec's.
    "q114_layout_append" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events
          WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
            AND epoch_us(ts) BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    "q114b_layout_optimized" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events
          WHERE user_id BETWEEN $SkipUserLo AND $SkipUserHi
            AND epoch_us(ts) BETWEEN $SkipTsLo AND $SkipTsHi
          ORDER BY event_id""",
    // Q116: like q113, the Bloom tier is pure I/O — the answer is the
    // plain IN-list scan's, exactly (file skipping is pinned by
    // FactStoreSpec, where the oracle cannot see it).
    "q116_bloom_point_lookup" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events
          WHERE event_id IN (${BloomProbeIds.mkString(", ")})
          ORDER BY event_id""",
    // Q115: the upsert's CDF, closed-form — the upsert set splits into
    // revivals (deleted at v2, so not live at v3 → insert) and
    // replacements (live at v3 → update).
    "q115_change_feed" ->
      s"""SELECT doc_id,
                 CASE WHEN doc_id % $TextDeleteMod = $TextDeleteRes
                      THEN 'insert' ELSE 'update' END AS change
          FROM documents
          WHERE doc_id % $TextUpsertMod = $TextUpsertRes
          ORDER BY doc_id""",
    // Q115b: the delete commit's CDF — exactly the takedown set.
    "q115b_change_feed_deletes" ->
      s"""SELECT doc_id, 'delete' AS change FROM documents
          WHERE doc_id % $TextDeleteMod = $TextDeleteRes
          ORDER BY doc_id""",
    // Q115c: the vector upsert set splits into revivals (deleted at v2
    // → insert) and re-encoded live ids (→ update; a reversed embedding
    // re-quantizes to different codes at every tested SF).
    "q115c_vector_change_feed" ->
      s"""SELECT vec_id,
                 CASE WHEN vec_id % $AnnDeleteMod = $AnnDeleteRes
                      THEN 'insert' ELSE 'update' END AS change
          FROM embeddings
          WHERE vec_id >= $AnnAppendSplit AND vec_id % $AnnUpsertMod = $AnnUpsertRes
          ORDER BY vec_id""",
    // Q117: the rolled-forward df table must equal a from-scratch df
    // over the v4 PATCHED live corpus — distinct (term, doc) pairs.
    "q117_incremental_df" ->
      s"""WITH live AS (SELECT doc_id,
                          CASE WHEN doc_id % $TextUpsertMod = $TextUpsertRes
                               THEN text || '$TextUpsertSuffix' ELSE text END AS text
                        FROM documents
                        WHERE doc_id % $TextDeleteMod <> $TextDeleteRes
                           OR doc_id % $TextUpsertMod = $TextUpsertRes),
          pairs AS (SELECT DISTINCT doc_id, w FROM
                      (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM live))
          SELECT w AS term, CAST(count(*) AS BIGINT) AS df
          FROM pairs GROUP BY 1 ORDER BY term""",
    // Q90c: per-cell occupancy of the appended store (base vs appended
    // split) — the assignment chain's af, counted.
    "q90c_index_stats" ->
      s"""WITH $ivfPqAppendCtes
          SELECT cid, count(*) AS n_vecs,
                 CAST(sum(CASE WHEN vec_id >= $AnnAppendSplit THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_appended
          FROM af GROUP BY cid ORDER BY cid""",
    // Q105: q40's component chain + q19b's quality formula + a
    // per-cluster argmax window — collapse keeps the best member.
    "q105_canonical_dedup" ->
      s"""WITH RECURSIVE $nearDupCte,
          p AS (SELECT doc_a, doc_b FROM j WHERE jac >= $NearDupThreshold),
          e AS (SELECT doc_a AS s, doc_b AS d FROM p
                UNION ALL SELECT doc_b, doc_a FROM p),
          nodes AS (SELECT DISTINCT s AS doc FROM e),
          reach AS (
            SELECT doc, doc AS lbl FROM nodes
            UNION
            SELECT e.d AS doc, r.lbl FROM reach r JOIN e ON e.s = r.doc),
          comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
          dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          qm AS (SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                   len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
                 FROM dd),
          qr AS (SELECT doc_id,
                   ${roundSql(
                     s"""0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                        + 0.4 * (${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)})
                        + 0.3 * (${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)})""", 4)} AS quality
                 FROM qm),
          lab AS (SELECT d2.doc_id, COALESCE(comp.cluster_id, d2.doc_id) AS cluster_label
                  FROM documents d2 LEFT JOIN comp ON comp.doc = d2.doc_id),
          jj AS (SELECT lab.doc_id, lab.cluster_label, qr.quality
                 FROM lab JOIN qr USING (doc_id)),
          wnd AS (SELECT doc_id, cluster_label, quality,
                  row_number() OVER (PARTITION BY cluster_label
                    ORDER BY quality DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY cluster_label) AS n_members
                FROM jj)
          SELECT doc_id, cluster_label, quality, CAST(n_members AS BIGINT) AS n_members
          FROM wnd WHERE rn = 1 ORDER BY cluster_label""",
    // Q106: KL(source ‖ corpus) over unigram distributions — exact
    // count CTEs, components on the 1e-6 grid, exact integer sums.
    "q106_source_divergence" ->
      s"""WITH wds AS (SELECT source, unnest(string_split(text, ' ')) AS word
                       FROM documents),
          sw AS (SELECT source, word, count(*) AS n_sw FROM wds GROUP BY 1, 2),
          ss AS (SELECT source, count(*) AS n_s FROM wds GROUP BY 1),
          cw AS (SELECT word, count(*) AS n_w FROM wds GROUP BY 1),
          tt AS (SELECT count(*) AS n FROM wds),
          cmp AS (SELECT sw.source,
                    ${roundSql(
                      """(CAST(sw.n_sw AS DOUBLE) / ss.n_s)
                         * ln((CAST(sw.n_sw AS DOUBLE) / ss.n_s)
                              / (CAST(cw.n_w AS DOUBLE) / tt.n))""", 6)} AS comp
                  FROM sw JOIN cw USING (word) JOIN ss USING (source) CROSS JOIN tt)
          SELECT cmp.source, CAST(max(ss.n_s) AS BIGINT) AS n_tokens,
                 count(*) AS n_types,
                 ${exactSumSql("comp", 6)} AS kl_nats
          FROM cmp JOIN ss USING (source)
          GROUP BY cmp.source ORDER BY cmp.source""",
    // Q103: the q18g ranking chain + the closed-form label fixture +
    // the eval tail — recall/RR on the exact micros grid (// ≡ div),
    // DCG/IDCG/nDCG on the rounded-component convention.
    "q103_retrieval_eval" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $BatchQueries),
          corp AS (SELECT vec_id, emb FROM e WHERE vec_id >= $BatchQueries),
          sc AS (SELECT q.qid, corp.vec_id, ${roundSql(cosSql("corp.emb", "qemb"), 4)} AS score
                 FROM corp, q),
          t AS (SELECT qid, vec_id, score,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
                FROM sc),
          r AS (SELECT qid, vec_id, rnk FROM t WHERE rnk <= $BatchTopK),
          lab AS (SELECT qq.qid, cc.vec_id
                  FROM (SELECT unnest(range($BatchQueries)) AS qid) qq
                  CROSS JOIN (SELECT vec_id FROM e WHERE vec_id >= $BatchQueries) cc
                  WHERE (cc.vec_id + qq.qid * 3) % 5 = 0),
          nr AS (SELECT qid, count(*) AS n_rel FROM lab GROUP BY qid),
          j AS (SELECT r.qid, r.rnk,
                  CASE WHEN lab.vec_id IS NULL THEN 0 ELSE 1 END AS is_rel
                FROM r LEFT JOIN lab ON lab.qid = r.qid AND lab.vec_id = r.vec_id),
          ag AS (SELECT qid, CAST(sum(is_rel) AS BIGINT) AS hits_at_k,
                   min(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel,
                   ${roundSql(
                     "sum(CASE WHEN is_rel = 1 THEN 1.0 / log2(rnk + 1.0) ELSE 0.0 END)", 4)} AS dcg
                 FROM j GROUP BY qid),
          -- LEFT join + zero-guards: a query with NO labels must yield
          -- the engine's guarded-zero row, not vanish (and not divide
          -- by zero).
          fin AS (SELECT ag.qid, CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                    ag.hits_at_k,
                    CAST(CASE WHEN COALESCE(nr.n_rel, 0) > 0
                         THEN ag.hits_at_k * 1000000 // nr.n_rel
                         ELSE 0 END AS BIGINT) AS recall_micros,
                    CAST(COALESCE(1000000 // ag.first_rel, 0) AS BIGINT) AS rr_micros,
                    CASE WHEN COALESCE(nr.n_rel, 0) > 0 THEN
                      ${roundSql(
                        s"ag.dcg / (${roundSql(
                          s"list_sum(list_transform(generate_series(1, CAST(least(nr.n_rel, $BatchTopK) AS INT)), i -> 1.0 / log2(i + 1.0)))", 4)})", 4)}
                    ELSE 0.0 END AS ndcg
                  FROM ag LEFT JOIN nr USING (qid))
          SELECT qid, n_rel, hits_at_k, recall_micros, rr_micros, ndcg
          FROM fin ORDER BY qid""",
    // Q100: leakage-safe split — q40's recursive component chain, every
    // doc labeled by its component (or itself), then the q43 hash split
    // keyed on the LABEL: a near-dup cluster cannot straddle splits.
    "q100_cluster_split" ->
      s"""WITH RECURSIVE $nearDupCte,
          p AS (SELECT doc_a, doc_b FROM j WHERE jac >= $NearDupThreshold),
          e AS (SELECT doc_a AS s, doc_b AS d FROM p
                UNION ALL SELECT doc_b, doc_a FROM p),
          nodes AS (SELECT DISTINCT s AS doc FROM e),
          reach AS (
            SELECT doc, doc AS lbl FROM nodes
            UNION
            SELECT e.d AS doc, r.lbl FROM reach r JOIN e ON e.s = r.doc),
          comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
          lab AS (SELECT dd.doc_id, COALESCE(comp.cluster_id, dd.doc_id) AS cluster_label
                  FROM documents dd LEFT JOIN comp ON comp.doc = dd.doc_id),
          bb AS (SELECT doc_id, cluster_label,
                   CAST('0x' || substr(md5('$SplitSalt:' || CAST(cluster_label AS VARCHAR)), 1, 12)
                     AS BIGINT) % 10 AS bucket
                 FROM lab)
          SELECT doc_id, cluster_label,
                 CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
                      ELSE 'test' END AS split
          FROM bb ORDER BY doc_id""",
    // Q99: destination-side degree stats of the closed-form graph.
    "q99_link_stats" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
          e AS (SELECT d.doc_id AS src,
                  (d.doc_id * 31 + j.j * 17 + 1) % nn.n AS dst
                FROM documents d CROSS JOIN nn
                CROSS JOIN UNNEST(generate_series(0, d.doc_id % 3)) AS j(j))
          SELECT dst, count(*) AS in_deg, count(DISTINCT src) AS n_src
          FROM e GROUP BY dst ORDER BY dst""",
    // Q99b: the engine's power iteration vs the unrolled rounds —
    // bit-exact on the integer micros grid.
    "q99b_pagerank" ->
      s"""WITH $pageRankCtes
          SELECT doc_id, r AS rank_micros FROM r$PrRounds ORDER BY doc_id""",
    // Q99c: host-level rollup of the final round (q92's host fixture).
    "q99c_host_rank" ->
      s"""WITH $pageRankCtes
          SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
                 count(*) AS n_pages, CAST(sum(r) AS BIGINT) AS rank_micros_sum
          FROM r$PrRounds GROUP BY 1 ORDER BY host""",
    // Q98/q98b: tombstone-deleted then compacted serving — one oracle,
    // twice: physical compaction must preserve every answer of the
    // tombstone view.
    "q98_deleted_search" -> q98OracleSql,
    "q98b_compacted_search" -> q98OracleSql,
    // Q98c: post-compaction occupancy — the full-corpus assignment
    // chain minus the deleted residue (query ids are exempt from
    // deletion and still encoded).
    "q98c_compacted_stats" ->
      s"""WITH $ivfPqCtes
          SELECT cid, count(*) AS n_live
          FROM af
          WHERE NOT (vec_id % $AnnDeleteMod = $AnnDeleteRes
                     AND vec_id >= $BatchQueries)
          GROUP BY cid ORDER BY cid""",
    // Q92: the canonical form is closed-form from the salt — host
    // lowered, :443 stripped, trailing slash trimmed, fragment gone,
    // params sorted, path case PRESERVED.
    "q92_url_normalize" ->
      """SELECT doc_id,
           'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example/Path/'
             || CAST(doc_id % 10 AS VARCHAR) || '?a=1&b=2' AS url_norm,
           'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
           CAST(2 AS BIGINT) AS n_params
         FROM documents ORDER BY doc_id""",
    "q92b_host_stats" ->
      """SELECT 'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY host""",
    // Q93: the funnel's closed form — main text and host are string
    // identities over (text, lang, doc_id), the gate and the per-host
    // cap are plain SQL over the derived token counts.
    "q93_web_funnel" ->
      s"""WITH m AS (SELECT doc_id,
                text || ' q&a ' || lang AS main_text,
                'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
              FROM documents),
          t AS (SELECT doc_id, host,
                  CAST(len(string_split(main_text, ' ')) AS BIGINT) AS n_tokens
                FROM m),
          g AS (SELECT * FROM t WHERE n_tokens BETWEEN $WebMinTok AND $WebMaxTok),
          r AS (SELECT doc_id, host, n_tokens, row_number() OVER
                  (PARTITION BY host ORDER BY n_tokens DESC, doc_id) AS rnk FROM g)
          SELECT doc_id, host, n_tokens, CAST(rnk AS BIGINT) AS rnk
          FROM r WHERE rnk <= $WebHostCap ORDER BY host, rnk""",
    // Q91: the generator's closed form — the extractor must recover
    // title/body/link/para facts from REAL markup bytes (script data
    // with unescaped '<', comments, entity-coded content), so every
    // value here is a pure string identity over documents.text.
    "q91_html_extract" ->
      """SELECT doc_id,
           'doc ' || CAST(doc_id AS VARCHAR) AS title,
           'home about contact ' || text || ' q&a ' || lang ||
             ' © site' || CAST(doc_id % 5 AS VARCHAR) ||
             '.example — terms · privacy' AS body_text,
           CAST(5 AS BIGINT) AS n_links,
           CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) + 1 AS n_paras
         FROM documents ORDER BY doc_id""",
    // Q91b: link-density boilerplate removal — nav (3 links / 3 words)
    // and footer (2 links / 6 words) fail links*3 < words and drop;
    // the content paragraphs and the entity-decoded tags line survive.
    "q91b_html_main_content" ->
      """SELECT doc_id,
           text || ' q&a ' || lang AS main_text,
           CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) + 3 AS n_blocks,
           CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) + 1 AS n_kept
         FROM documents ORDER BY doc_id""",
    // Q91c: anchor extraction in document order — 3 nav links with
    // per-site hrefs, then the 2 footer links.
    "q91c_html_links" ->
      """WITH l(rnk, anchor) AS (VALUES
             (1, 'home'), (2, 'about'), (3, 'contact'),
             (4, 'terms'), (5, 'privacy'))
         SELECT d.doc_id, CAST(l.rnk AS BIGINT) AS rnk,
           CASE WHEN l.rnk <= 3
                THEN 'https://site' || CAST(d.doc_id % 5 AS VARCHAR)
                     || '.example/' || l.anchor
                ELSE '/' || l.anchor END AS href,
           l.anchor
         FROM documents d CROSS JOIN l
         ORDER BY doc_id, rnk""",
    // Q86: BM25 — identical idf/avgdl formulas on exact integer corpus
    // stats, per-(doc, term) contributions on the 1e-6 grid (same cast
    // points), exact integer sums, (score DESC, doc_id) LIMIT k.
    "q86_bm25" -> q86OracleSql,
    // Q94: the stored-postings ranking must equal the full-scan BM25
    // verbatim (df/idf/avgdl/contribution cast points shared).
    "q94_stored_bm25" -> q86OracleSql,
    // Q119: the stored sparse dot product must equal the full-text
    // computation — per-doc tf of each query term, weighted, summed as
    // exact integers (no floats exist on either side).
    "q119_sparse_retrieval" -> {
      val inList = SparseQueryWeights.map(t => s"'${t._1}'").mkString(", ")
      val wCase = SparseQueryWeights
        .map { case (t, w) => s"WHEN '$t' THEN $w" }
        .mkString("CASE term ", " ", " ELSE 0 END")
      s"""WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                            FROM documents)
                      WHERE term IN ($inList)
                      GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(($wCase) * tf) AS BIGINT) AS score
          FROM tf GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT $Bm25K"""
    },
    // Q121: the phrase restated from the raw text — 1-based list scan
    // for consecutive matches, then the same (tf DESC, doc_id) cut.
    // Independent of the index: the oracle never sees the positional
    // store, so a store/search bug cannot cancel out.
    "q121_phrase_search" -> {
      val pred = PhraseTerms.zipWithIndex
        .map { case (t, i) => s"ws[i + $i] = '$t'" }.mkString(" AND ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          s AS (SELECT doc_id,
                  list_filter(generate_series(1, len(ws) - ${PhraseTerms.size - 1}),
                              i -> $pred) AS st
                FROM d)
          SELECT doc_id, CAST(len(st) AS BIGINT) AS phrase_tf,
                 CAST(list_min(st) - 1 AS BIGINT) AS first_pos
          FROM s WHERE len(st) > 0
          ORDER BY phrase_tf DESC, doc_id LIMIT $Bm25K"""
    },
    // Q121b: NEAR restated from the raw text — 0-based occurrence
    // lists per term, min pairwise |distance| and the near-occurrence
    // count, (min_dist, n_near DESC, doc_id) cut.
    "q121b_proximity_search" -> {
      val (ta, tb) = ProximityTerms
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          p AS (SELECT doc_id,
                  list_transform(list_filter(generate_series(1, len(ws)),
                    i -> ws[i] = '$ta'), x -> x - 1) AS pa,
                  list_transform(list_filter(generate_series(1, len(ws)),
                    i -> ws[i] = '$tb'), x -> x - 1) AS pb
                FROM d),
          m AS (SELECT doc_id,
                  CAST(list_min(flatten(list_transform(pa,
                    p1 -> list_transform(pb, q1 -> abs(q1 - p1))))) AS BIGINT)
                    AS min_dist,
                  CAST(len(list_filter(pa, p1 -> len(list_filter(pb,
                    q1 -> abs(q1 - p1) <= $ProximityWindow)) > 0)) AS BIGINT)
                    AS n_near
                FROM p WHERE len(pa) > 0 AND len(pb) > 0)
          SELECT doc_id, min_dist, n_near FROM m
          WHERE min_dist <= $ProximityWindow
          ORDER BY min_dist, n_near DESC, doc_id LIMIT $Bm25K"""
    },
    // Q101/q101b: the q86 chain over the LIVE corpus only — deletion
    // moves rankings AND the model (df, n_docs, avgdl all retreat);
    // compaction must then preserve every answer (same oracle, twice).
    "q101_deleted_bm25" -> q101OracleSql,
    "q101b_compacted_bm25" -> q101OracleSql,
    // Q97: one q86 chain per query in the batch (prefixed CTE names),
    // each ranked (score DESC, doc_id) and cut at k — the one-plan
    // engine must reproduce the per-query closed forms, including
    // query 2's duplicated-term double weight.
    "q97_batch_bm25" -> {
      val chains = BatchBm25Queries
        .map { case (qid, ts) => bm25CteFor(ts, s"x$qid") }.mkString(",\n          ")
      val legs = BatchBm25Queries.map { case (qid, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS qid,
               CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rnk,
               doc_id, score_micros,
               CAST(score_micros AS DOUBLE) / 1e6 AS score
             FROM x${qid}sc WHERE score_micros > 0"""
      }.mkString(" UNION ALL ")
      s"""WITH $chains
          SELECT qid, rnk, doc_id, score_micros, score FROM ($legs)
          WHERE rnk <= $BatchBm25K ORDER BY qid, rnk"""
    },
    // Q96: append-maintained postings must score exactly like a
    // from-scratch index over the full corpus — q86's oracle again
    // (df derives from postings; stats advanced by exact integers).
    "q96_appended_bm25" -> q86OracleSql,
    // Q95: hybrid RRF with BOTH legs from the stores — lex = the q86
    // ranking, dense = the q85 chain's ADC ranking for query 0 (the
    // stored-index candidate rule: corpus = vec_id ≥ BatchQueries),
    // fused with q87's exact-integer rule. The two CTE chains share no
    // names, so they concatenate.
    // Q110: q95's fusion with the lexical leg on the live corpus
    // (q101's population) and the dense leg on the versioned store's
    // live state (base-trained chain, residue excluded) — both pins
    // named, so the fused ranking is a pure function of two committed
    // snapshots.
    "q110_versioned_hybrid" ->
      s"""WITH ${bm25CteFor(Bm25Terms, "b", s"doc_id % $TextDeleteMod <> $TextDeleteRes")},
          $ivfPqAppendCtes,
          lexr AS (SELECT id, rl FROM
                     (SELECT doc_id AS id, CAST(row_number() OVER
                        (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rl
                      FROM bsc WHERE score_micros > 0)
                   WHERE rl <= $Bm25K),
          denr AS (SELECT id, rd FROM
                     (SELECT vec_id AS id, CAST(row_number() OVER
                        (ORDER BY adc, vec_id) AS BIGINT) AS rd
                      FROM sc2 WHERE qid = 0
                        AND vec_id % $AnnDeleteMod <> $AnnDeleteRes)
                   WHERE rd <= 10),
          fuse AS (SELECT COALESCE(l.id, d2.id) AS doc_id, l.rl, d2.rd,
                     COALESCE(CAST(floor(1e9 / (60.0 + l.rl) + 0.5) AS BIGINT), 0) +
                     COALESCE(CAST(floor(1e9 / (60.0 + d2.rd) + 0.5) AS BIGINT), 0)
                       AS fused_nanos
                   FROM lexr l FULL OUTER JOIN denr d2 ON d2.id = l.id)
          SELECT doc_id, rl, rd, fused_nanos,
                 CAST(fused_nanos AS DOUBLE) / 1e9 AS rrf
          FROM fuse ORDER BY fused_nanos DESC, doc_id LIMIT $RrfK""",
    "q95_stored_hybrid" ->
      s"""WITH $bm25Cte,
          $ivfPqCtes,
          lexr AS (SELECT id, rl FROM
                     (SELECT doc_id AS id, CAST(row_number() OVER
                        (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rl
                      FROM bsc WHERE score_micros > 0)
                   WHERE rl <= $Bm25K),
          denr AS (SELECT id, rd FROM
                     (SELECT vec_id AS id, CAST(row_number() OVER
                        (ORDER BY adc, vec_id) AS BIGINT) AS rd
                      FROM sc2 WHERE qid = 0)
                   WHERE rd <= 10),
          fuse AS (SELECT COALESCE(l.id, d2.id) AS doc_id, l.rl, d2.rd,
                     COALESCE(CAST(floor(1e9 / (60.0 + l.rl) + 0.5) AS BIGINT), 0) +
                     COALESCE(CAST(floor(1e9 / (60.0 + d2.rd) + 0.5) AS BIGINT), 0)
                       AS fused_nanos
                   FROM lexr l FULL OUTER JOIN denr d2 ON d2.id = l.id)
          SELECT doc_id, rl, rd, fused_nanos,
                 CAST(fused_nanos AS DOUBLE) / 1e9 AS rrf
          FROM fuse ORDER BY fused_nanos DESC, doc_id LIMIT $RrfK""",
    // Q120: q95's two chains plus the q119 sparse leg, fused three
    // ways — ranks from each leg's own order, fused DESC / doc_id.
    "q120_triple_hybrid" -> {
      val inList = SparseQueryWeights.map(t => s"'${t._1}'").mkString(", ")
      val wCase = SparseQueryWeights
        .map { case (t, w) => s"WHEN '$t' THEN $w" }
        .mkString("CASE term ", " ", " ELSE 0 END")
      s"""WITH $bm25Cte,
          $ivfPqCtes,
          sp_tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                          FROM documents)
                    WHERE term IN ($inList)
                    GROUP BY 1, 2),
          spsc AS (SELECT doc_id, CAST(sum(($wCase) * tf) AS BIGINT) AS sscore
                   FROM sp_tf GROUP BY doc_id),
          lexr AS (SELECT id, rl FROM
                     (SELECT doc_id AS id, CAST(row_number() OVER
                        (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rl
                      FROM bsc WHERE score_micros > 0)
                   WHERE rl <= $Bm25K),
          spr AS (SELECT id, rs FROM
                    (SELECT doc_id AS id, CAST(row_number() OVER
                       (ORDER BY sscore DESC, doc_id) AS BIGINT) AS rs
                     FROM spsc)
                  WHERE rs <= $Bm25K),
          denr AS (SELECT id, rd FROM
                     (SELECT vec_id AS id, CAST(row_number() OVER
                        (ORDER BY adc, vec_id) AS BIGINT) AS rd
                      FROM sc2 WHERE qid = 0)
                   WHERE rd <= 10),
          fuse AS (SELECT COALESCE(l.id, s.id, d2.id) AS doc_id,
                     l.rl, s.rs, d2.rd,
                     COALESCE(CAST(floor(1e9 / (60.0 + l.rl) + 0.5) AS BIGINT), 0) +
                     COALESCE(CAST(floor(1e9 / (60.0 + s.rs) + 0.5) AS BIGINT), 0) +
                     COALESCE(CAST(floor(1e9 / (60.0 + d2.rd) + 0.5) AS BIGINT), 0)
                       AS fused_nanos
                   FROM lexr l
                   FULL OUTER JOIN spr s ON s.id = l.id
                   FULL OUTER JOIN denr d2 ON d2.id = COALESCE(l.id, s.id))
          SELECT doc_id, rl, rs, rd, fused_nanos,
                 CAST(fused_nanos AS DOUBLE) / 1e9 AS rrf
          FROM fuse ORDER BY fused_nanos DESC, doc_id LIMIT $RrfK"""
    },
    // Q87: reciprocal-rank fusion — each leg's ranked list (BM25 at
    // the q86 order; dense = the q18g cosine ranking for query 0),
    // rank contributions as exact floor(1e9/(60+r)) integers, full
    // outer join, (fused DESC, doc_id) LIMIT k.
    "q87_hybrid_rrf" ->
      s"""WITH $bm25Cte,
          lexr AS (SELECT id, rl FROM
                     (SELECT doc_id AS id, CAST(row_number() OVER
                        (ORDER BY score_micros DESC, doc_id) AS BIGINT) AS rl
                      FROM bsc WHERE score_micros > 0)
                   WHERE rl <= $Bm25K),
          e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          qv AS (SELECT emb AS qemb FROM e2 WHERE vec_id = 0),
          dsc AS (SELECT vec_id, ${roundSql(cosSql("e2.emb", "qemb"), 4)} AS score
                  FROM e2 CROSS JOIN qv WHERE vec_id >= 1),
          denr AS (SELECT id, rd FROM
                     (SELECT vec_id AS id, CAST(row_number() OVER
                        (ORDER BY score DESC, vec_id) AS BIGINT) AS rd FROM dsc)
                   WHERE rd <= 10),
          fuse AS (SELECT COALESCE(l.id, d2.id) AS doc_id, l.rl, d2.rd,
                     COALESCE(CAST(floor(1e9 / (60.0 + l.rl) + 0.5) AS BIGINT), 0) +
                     COALESCE(CAST(floor(1e9 / (60.0 + d2.rd) + 0.5) AS BIGINT), 0)
                       AS fused_nanos
                   FROM lexr l FULL OUTER JOIN denr d2 ON d2.id = l.id)
          SELECT doc_id, rl, rd, fused_nanos,
                 CAST(fused_nanos AS DOUBLE) / 1e9 AS rrf
          FROM fuse ORDER BY fused_nanos DESC, doc_id LIMIT $RrfK""",
    // Q88: PCA top component — the pcaCtes unroll; eigenvalue as the
    // exact-integer Rayleigh quotient, trace from the Gram diagonal.
    "q88_pca_power" ->
      s"""WITH ${pcaCtes(PcaRounds)},
          pwf AS (SELECT g.i, CAST(sum(g.gm * v.v) AS BIGINT) AS w
                  FROM pg g JOIN pv$PcaRounds v ON v.i = g.j GROUP BY 1),
          plam AS (SELECT CAST(floor(
                     CAST(sum(f.w * v.v) AS DOUBLE)
                     / CAST((SELECT sum(v * v) FROM pv$PcaRounds) AS DOUBLE)
                     + 0.5) AS BIGINT) AS lam
                   FROM pwf f JOIN pv$PcaRounds v USING (i)),
          ptr AS (SELECT CAST(sum(gm) AS BIGINT) AS trace FROM pg WHERE i = j)
          SELECT v.i AS dim, v.v AS v_units, CAST(v.v AS DOUBLE) / 1e4 AS v,
                 plam.lam AS lam_micros, ptr.trace AS trace_micros
          FROM pv$PcaRounds v CROSS JOIN plam CROSS JOIN ptr
          ORDER BY dim""",
    // Q88c: Hotelling deflation — λ₁·v₁·v₁ᵀ/‖v₁‖² subtracted from the
    // Gram cells in exact integer micro units, then the same unrolled
    // power iteration (q-prefixed CTEs) on the deflated matrix.
    "q88c_pca_deflate" -> {
      val n = PcaRounds
      val rounds2 = (1 to n).map { r =>
        s"""qw$r AS MATERIALIZED (SELECT g.i, CAST(sum(g.gm * v.v) AS BIGINT) AS w
                   FROM pg2 g JOIN qv${r - 1} v ON v.i = g.j GROUP BY 1),
            qq$r AS (SELECT greatest(max(abs(w)), 1) AS m FROM qw$r),
            qv$r AS MATERIALIZED (SELECT i, CAST(floor(CAST(w AS DOUBLE) / m * 1e4 + 0.5) AS BIGINT) AS v
                   FROM qw$r CROSS JOIN qq$r)"""
      }.mkString(",\n          ")
      s"""WITH ${pcaCtes(n)},
          pwf AS (SELECT g.i, CAST(sum(g.gm * v.v) AS BIGINT) AS w
                  FROM pg g JOIN pv$n v ON v.i = g.j GROUP BY 1),
          plam AS (SELECT CAST(floor(CAST(sum(f.w * v.v) AS DOUBLE)
                     / CAST((SELECT sum(v * v) FROM pv$n) AS DOUBLE)
                     + 0.5) AS BIGINT) AS lam
                   FROM pwf f JOIN pv$n v USING (i)),
          pg2 AS MATERIALIZED (SELECT g.i, g.j,
                    g.gm - CAST(floor(CAST(plam.lam * vi.v * vj.v AS DOUBLE)
                      / CAST((SELECT sum(v * v) FROM pv$n) AS DOUBLE)
                      + 0.5) AS BIGINT) AS gm
                  FROM pg g JOIN pv$n vi ON vi.i = g.i
                  JOIN pv$n vj ON vj.i = g.j CROSS JOIN plam),
          qv0 AS (SELECT CAST(t.i AS BIGINT) AS i, CAST(10000 AS BIGINT) AS v
                  FROM range(64) t(i)),
          $rounds2,
          qwf AS (SELECT g.i, CAST(sum(g.gm * v.v) AS BIGINT) AS w
                  FROM pg2 g JOIN qv$n v ON v.i = g.j GROUP BY 1),
          qlam AS (SELECT CAST(floor(CAST(sum(f.w * v.v) AS DOUBLE)
                     / CAST((SELECT sum(v * v) FROM qv$n) AS DOUBLE)
                     + 0.5) AS BIGINT) AS lam
                   FROM qwf f JOIN qv$n v USING (i)),
          qdot AS (SELECT CAST(sum(a.v * b.v) AS BIGINT) AS dot
                   FROM pv$n a JOIN qv$n b USING (i))
          SELECT v.i AS dim, v.v AS v_units, CAST(v.v AS DOUBLE) / 1e4 AS v,
                 qlam.lam AS lam2_micros, qdot.dot AS dot_units
          FROM qv$n v CROSS JOIN qlam CROSS JOIN qdot ORDER BY dim"""
    },
    // Q88b: projection onto the trained component — the same centered
    // vectors folded against pv{rounds}, per-term 1e-6-grid integers.
    "q88b_pca_project" ->
      s"""WITH ${pcaCtes(PcaRounds)},
          pvv AS (SELECT list(v ORDER BY i) AS vs FROM pv$PcaRounds)
          SELECT px.vec_id,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(floor(px.x[i] * pvv.vs[i] * 1e2 + 0.5) AS BIGINT))) AS BIGINT)
                   AS p_micros,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(floor(px.x[i] * pvv.vs[i] * 1e2 + 0.5) AS BIGINT))) AS DOUBLE)
                   / 1e6 AS p
          FROM px CROSS JOIN pvv ORDER BY vec_id""",
    // Q73b: ADC search — the q73 code table for the corpus, the same
    // integer LUT per query, exact BIGINT sums, rank by (adc, vec_id).
    "q73b_adc_search" ->
      s"""WITH $pqCte,
          $pqAdcCte,
          rk AS (SELECT qid, vec_id, adc, row_number() OVER
                   (PARTITION BY qid ORDER BY adc, vec_id) AS rnk FROM sc)
          SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc
          FROM rk WHERE rnk <= $BatchTopK ORDER BY qid, rnk""",
    // Q73c: shortlist + exact re-rank — the q73b ranking truncated at
    // `PqShortlist`, then exact squared-L2 only on shortlist rows.
    "q73c_pq_rerank" ->
      s"""WITH $pqCte,
          $pqAdcCte,
          short AS (SELECT qid, vec_id FROM
                      (SELECT qid, vec_id, row_number() OVER
                         (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM sc)
                    WHERE rn <= $PqShortlist),
          ex AS (SELECT s.qid, s.vec_id,
                   ${roundSql(
                     "list_sum(list_transform(generate_series(1, 64), " +
                       "i -> (eq.emb[i] - ec.emb[i]) * (eq.emb[i] - ec.emb[i])))", 4)} AS dist
                 FROM short s
                 JOIN e eq ON eq.vec_id = s.qid
                 JOIN e ec ON ec.vec_id = s.vec_id),
          rk AS (SELECT qid, vec_id, dist, row_number() OVER
                   (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM ex)
          SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, dist
          FROM rk WHERE rnk <= $BatchTopK ORDER BY qid, rnk""",
    // Q74: the end-to-end pipeline — q65's gate CTEs (quality,
    // top-token run, md5 survivors), q69's per-source rank at the cap,
    // q71's shard hash; composed exactly as the Spark plan composes
    // the operators.
    "q74_corpus_pipeline" ->
      s"""WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
          m AS (SELECT doc_id, source,
                  CAST(len(ws) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
                  len(list_filter(ws, w -> w IN (${TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")}))) AS n_stop
                FROM d),
          r AS (SELECT doc_id, source, n_tokens,
                  ${roundSql("CAST(n_types AS DOUBLE) / n_tokens", 4)} AS ttr,
                  ${roundSql("CAST(n_stop AS DOUBLE) / n_tokens", 4)} AS stop_ratio
                FROM m),
          q AS (SELECT doc_id, source, n_tokens,
                  ${roundSql("0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.4 * ttr + 0.3 * stop_ratio", 4)} AS quality
                FROM r),
          u AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(ws) AS tok FROM d) GROUP BY 1, 2),
          tt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tok FROM u GROUP BY 1),
          surv AS (SELECT md5(text) AS h2, min(doc_id) AS keep_id
                   FROM d GROUP BY 1),
          kept AS (SELECT q.doc_id, q.source, q.n_tokens, q.quality
                   FROM q
                   JOIN d USING (doc_id)
                   JOIN tt USING (doc_id)
                   JOIN surv s ON s.h2 = md5(d.text)
                   WHERE q.n_tokens BETWEEN $FunnelMinTok AND $FunnelMaxTok
                     AND q.quality >= $FunnelMinQuality
                     AND ${roundSql("CAST(tt.top_tok AS DOUBLE) / q.n_tokens", 4)} <= $FunnelMaxTopTok
                     AND q.doc_id = s.keep_id),
          capped AS (SELECT * FROM (SELECT kept.*, row_number() OVER
                       (PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk
                     FROM kept) WHERE rnk <= $TopK),
          sh AS (SELECT doc_id, source, n_tokens, quality,
                   ${graft.functions.PortableHash.hash48Sql(s"'$ShuffleSalt:' || CAST(doc_id AS VARCHAR)")} AS h
                 FROM capped)
          SELECT h % $NumShards AS shard,
                 CAST(row_number() OVER (PARTITION BY h % $NumShards
                   ORDER BY h, doc_id) AS BIGINT) AS pos,
                 doc_id, source, n_tokens, quality
          FROM sh ORDER BY shard, pos""",
    // Q75: the two-pass sketch-then-verify result is EXACT, so the
    // oracle is the naive full GROUP BY with an all-integer share gate
    // (n_occ · den > n_total — no float threshold to disagree on).
    "q75_heavy_hitters" ->
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          t AS (SELECT count(*) AS n_total FROM w)
          SELECT word, count(*) AS n_occ,
                 ${roundSql("CAST(count(*) AS DOUBLE) / (SELECT n_total FROM t)", 6)} AS share
          FROM w GROUP BY word
          HAVING count(*) * $HhShareDen > (SELECT n_total FROM t)
          ORDER BY word""",
    // Q64: the id-partitioned store must answer exactly what the flat
    // table answers — the pruning is a layout property, not a
    // semantics change.
    "q64_doc_lookup" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
          WHERE doc_id BETWEEN $DocLookupLo AND $DocLookupHi ORDER BY doc_id""",
  )
}
