package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the headline queries: the scale properties
  * argued in the operator scaladocs, asserted as tests so a regression
  * (a filter that stops reaching the scan, a window that sneaks in a
  * global sort, an unbounded broadcast) fails CI instead of silently
  * costing I/O at scale.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // These suites drive EVERY SparkEntry query, including the
      // TableCatalog ones (q140r CTAS) — the graft catalog must exist.
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"${System.getProperty("java.io.tmpdir")}/graft_catalog_warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.registerUdafs(s)
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }

  test("q01: the time-range predicate is pushed into the parquet scan") {
    // PushedFilters reports the *stored* column name (`ts`), which the
    // reader renames to ts_ns — the point is the range reaches the file.
    val pushed = scans(q("q01_delta_scan")).flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(p => p.contains("GreaterThanOrEqual(ts,") &&
      p.contains("LessThan(ts,")), s"range not pushed: $pushed")
  }

  test("q02: the scan prunes to the referenced columns only") {
    // Q2 touches 4 of events' 6 columns; the other two must not be read.
    val read = scans(q("q02_latest_state")).head.requiredSchema.fieldNames.toSet
    assert(read == Set("event_id", "ts", "user_id", "props"),
      s"unexpected read schema: $read")
  }

  test("q02: latest-state aggregates partially (map-side) with no window over the log") {
    // max_by over a struct ordering key plans as SortAggregate — fine;
    // the scale properties are (a) a partial phase so the shuffle moves
    // one row per (user, partition), (b) no Window/global sort of the log.
    val p = plan(q("q02_latest_state"))
    assert(p.contains("partial_max_by"), s"no partial aggregation phase:\n$p")
    assert(!p.contains("Window"), s"latest-state regressed to a window:\n$p")
  }

  test("q06: aggregation is partial (map-side) before the shuffle") {
    val p = plan(q("q06_pricing_summary"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation phase:\n$p")
  }

  test("q04: only bounded dimensions are broadcast") {
    // nation (25 rows) and region (5 rows) carry explicit hints; the
    // SF-growing sides must not appear under a broadcast hint in the
    // optimized logical plan (AQE may still *choose* broadcast at tiny
    // SF — that's its call, made from sizes, not forced by us).
    val lp = q("q04_multijoin_revenue").queryExecution.optimizedPlan.toString
    val hinted = "ResolvedHint".r.findAllIn(lp).size
    assert(hinted <= 2, s"unexpected broadcast hints:\n$lp")
    assert(!lp.matches("(?s).*ResolvedHint[^\\n]*\\n[^\\n]*(lineitem|orders|customer).*") ||
      lp.contains("nation") || lp.contains("region"))
  }

  test("q12: top-k plans as TakeOrdered (per-partition top-k + merge), not a global sort") {
    val p = plan(q("q12_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to global sort:\n$p")
  }

  test("q24: the dimension predicate is pushed into the part scan") {
    val pushed = scans(q("q24_part_revenue")).flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(_.contains("LessThanOrEqual(p_size,25)")),
      s"p_size filter not pushed: $pushed")
  }

  test("q17: exact dedup reads only the columns it needs from documents") {
    val read = scans(q("q17_dedup_exact")).head.requiredSchema.fieldNames.toSet
    assert(read == Set("doc_id", "text"), s"unexpected read schema: $read")
  }

  test("q22: stratified sampling is map-only — no shuffle anywhere in the plan") {
    val p = plan(q("q22_stratified_sample"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling plan shuffles:\n$p")
  }

  test("q19d: BPE pre-tokenization is map-only — the regex pass never shuffles") {
    // The presentation orderBy range-partitions; the claim is that no
    // hash shuffle (agg/join) sneaks into the per-row token counting.
    val p = plan(q("q19d_bpe_tokens"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"pre-tokenization plan shuffles:\n$p")
  }

  test("q18: brute-force similarity top-k plans as TakeOrdered") {
    val p = plan(q("q18_similarity_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to global sort:\n$p")
  }

  test("q28: the as-of join is one window pass — no join operator, no range-join blowup") {
    val p = plan(q("q28_asof_join"))
    assert(!p.contains("Join"), s"as-of regressed to a join plan:\n$p")
    assert(p.contains("Window"), s"expected a window pass:\n$p")
  }

  test("q29: the banded interval join is a hash join on the bucket key, never nested-loop") {
    val p = plan(q("q29_range_join"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join on bucket:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to nested-loop:\n$p")
  }

  test("q30: grouping sets plan as one Expand pass, not three aggregations") {
    val p = plan(q("q30_grouping_sets"))
    assert(p.contains("Expand"), s"no Expand node:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"grouping sets shuffled more than once:\n$p")
  }

  test("q35: vocabulary aggregates partially (map-side) and reads only (doc_id, text)") {
    val df = q("q35_vocabulary")
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    val read = scans(df).head.requiredSchema.fieldNames.toSet
    assert(read == Set("doc_id", "text"), s"unexpected read schema: $read")
  }

  test("q36: map functions are a pure projection — no shuffle except the output sort") {
    val p = plan(q("q36_map_funcs"))
    assert(!p.contains("Exchange hashpartitioning"), s"projection plan shuffles:\n$p")
  }

  test("q37: all conditional metrics come from ONE scan of events, no self-join") {
    val df = q("q37_conditional_agg")
    assert(scans(df).size == 1, "expected a single events scan")
    assert(!plan(df).contains("Join"), s"conditional agg regressed to a join:\n${plan(df)}")
  }

  test("q38: correlated subqueries de-correlate to joins, never per-row nested loops") {
    val p = plan(q("q38_correlated_subq"))
    assert(p.contains("Join"), s"expected de-correlated join subplans:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("q39: the null-safe full outer is a keyed join over pre-aggregated inputs") {
    val p = plan(q("q39_nullsafe_join"))
    assert(p.contains("FullOuter"), s"expected full outer join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe join fell back to nested-loop:\n$p")
    // Aggregations must sit BELOW the join (key-space-sized join input).
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx < 0 || p.substring(joinIdx).contains("HashAggregate"),
      s"aggregation did not stay below the join:\n$p")
  }

  test("q43: the split is a pure per-row assignment — one scan, no join, no window") {
    val df = q("q43_train_split")
    val p = plan(df)
    assert(scans(df).size == 1, "expected a single documents scan")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"split plan grew a join/window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q44: state history is one partitioned window pass over one scan") {
    val df = q("q44_state_history")
    val p = plan(df)
    assert(scans(df).size == 1, "expected a single events scan")
    assert("Window".r.findAllIn(p).size >= 1 && !p.contains("Join"),
      s"history is not a single window pass:\n$p")
  }

  test("q48: association rules never self-join the corpus — all joins are broadcast") {
    val p = plan(q("q48_assoc_rules"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"assoc rules shuffled a corpus-sized join side:\n$p")
  }

  test("q50: the k-means step shuffles only the bounded (cid, dim) key space") {
    val p = plan(q("q50_kmeans_step"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange rangepartitioning(c") &&
      "Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"assignment stopped being map-only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q57: the star join forces no fact-side broadcast and the part filter is pushed") {
    val df = q("q57_star_join")
    val lp = df.queryExecution.optimizedPlan.toString
    assert("ResolvedHint".r.findAllIn(lp).size <= 2,
      s"unexpected broadcast hints beyond nation/region:\n$lp")
    val pushed = scans(df).flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(_.contains("LessThanOrEqual(p_size,25)")),
      s"p_size filter not pushed: $pushed")
    assert(!plan(df).contains("CartesianProduct"))
  }

  test("partitioned store: a dim-side filter dynamically prunes fact partitions (DPP)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.sources.EventLogStore.writePartitioned(
      graft.sources.Tables.events(spark, sf), dir, 86400000000L)
    val fact = spark.read.parquet(dir)
    // A dim keyed by bucket with a non-key filter: the planner can only
    // know which fact partitions survive by executing the dim side —
    // exactly what dynamic partition pruning injects. The dim must be a
    // real (file-backed) relation: a local Seq gets its filter folded
    // away at optimization time, leaving no selective predicate for the
    // pruning rule to find. The key type matches the store's inferred
    // partition-column type (int) so the join key is the bare partition
    // attribute, not a cast.
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    (19723 to 19752).map(b => (b, if (b % 15 == 0) "keep" else "drop"))
      .toDF("t_bucket", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim, "t_bucket")
      .where(org.apache.spark.sql.functions.col("tag") === "keep")
      .groupBy("t_bucket").count()
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$physical")
  }

  test("q18h: multi-table LSH joins broadcast query buckets — the corpus is never sort-merge-shuffled") {
    val p = plan(q("q18h_multitable_lsh"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bucket join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side shuffled or crossed for the candidate join:\n$p")
  }

  test("q75: heavy-hitter verification joins a broadcast candidate set — never sort-merges the token stream") {
    val p = plan(q("q75_heavy_hitters"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast candidate join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"heavy hitters fell off the broadcast-verify shape:\n$p")
  }

  test("q58: contamination probes one broadcast eval-shingle table — no corpus self-join") {
    val p = plan(q("q58_contamination"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast eval-set join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"contamination fell off the broadcast-probe shape:\n$p")
  }

  test("q25: two-pass quantiles broadcast the located cells; pass 2 never sort-merges the log") {
    val p = plan(q("q25_quantiles"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast target-cell join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"raw rows shuffled for the cell join:\n$p")
  }

  test("q70/q70b: span-dedup shuffles carry digests and coordinates, never text") {
    // The scale argument of the C4 family: the corpus text stays in the
    // scan stage; every KEYED exchange (aggregation/join hash
    // partitioning) moves 32-byte digests + ints. A refactor that lets
    // `text`/`words` reach a hash shuffle re-moves the corpus bytes at
    // 100 TB — fail it here. (widen()'s round-robin redistribution of
    // the raw scan is exempt: it moves each raw row once by design and
    // short-circuits on a many-files corpus.)
    // (sparkPlan predates EnsureRequirements — keyed exchanges only
    // exist in the executed plan, and AQE hides that tree; audit with
    // AQE off so the collect sees the real exchange nodes.)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("q70_span_dedup", "q70b_offset_span_dedup")) {
        val exchanges = q(name).queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(exchanges.nonEmpty, s"$name: expected at least the digest shuffle")
        exchanges.foreach { e =>
          val wide = e.output.filter(a => a.name == "text" || a.name == "words")
          assert(wide.isEmpty, s"$name hash-shuffles corpus text: ${e.output.map(_.name)}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q18i: trained-IVF search broadcasts queries — the corpus is never sort-merge-shuffled") {
    val p = plan(q("q18i_trained_search"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast cid join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side shuffled or crossed in trained search:\n$p")
  }

  test("q50b: the training loop's output plan is constant-depth (checkpointed rounds)") {
    // Each round localCheckpoints the bounded means, so the FINAL plan
    // must be a scan of the checkpoint (plus the output sort) — not a
    // 3-round-deep nest of assignments. A lost checkpoint shows up as
    // joins/aggregates reappearing here.
    val p = plan(q("q50b_kmeans_train"))
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"expected a checkpoint scan at the root:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
      s"training rounds leaked into the output plan:\n$p")
  }

  test("q21d: image decode is map-only — no join, no aggregation shuffle") {
    val p = plan(q("q21d_image_decode"))
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"decode stopped being a pure partition map:\n$p")
  }

  test("widen: no-op on a many-splits corpus; widens small file and in-memory frames") {
    // The r6 watch item as a tripwire: widen()'s repartition must never
    // fire on a corpus that already has >= cores splits (at 100 TB the
    // heuristic must short-circuit — a refactor that makes it fire
    // would add a full-corpus round-robin exchange), and must still
    // fire for the small inputs it exists for.
    import spark.implicits._
    import graft.sources.Tables
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def exchanges(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }.size
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    val cores = spark.sparkContext.defaultParallelism
    (0L until 100L).map(i => (i, s"t$i")).toDF("id", "t")
      .repartition(cores + 2).write.mode("overwrite").parquet(s"$dir/many")
    (0L until 100L).map(i => (i, s"t$i")).toDF("id", "t")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/one")

    val many = spark.read.parquet(s"$dir/many")
    assert(many.inputFiles.length >= cores, "fixture must have >= cores files")
    assert(exchanges(Tables.widen(many)) == 0,
      "widen must be a no-op on a many-splits corpus")
    assert(exchanges(Tables.widen(spark.read.parquet(s"$dir/one"))) == 1,
      "widen must redistribute a single-file read")
    // Non-file-backed narrow frame (the r7 fallback): widened too.
    val local = (0L until 100L).map(i => (i, s"t$i")).toDF("id", "t").coalesce(1)
    assert(exchanges(Tables.widen(local)) >= 1,
      "widen must redistribute a narrow in-memory frame")
  }

  test("q82: DSIR scoring ships the model as a broadcast — the corpus is never shuffled for it") {
    // The λ table folds to ONE row (bounded bucket space) and reaches
    // every scoring task as a broadcast; any SortMergeJoin or
    // CartesianProduct would mean the corpus moved for the model.
    val p = plan(q("q82_dsir_weights"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled for the model join:\n$p")
  }

  test("q82b: Gumbel resampling plans as TakeOrdered, not a global sort") {
    val p = plan(q("q82b_dsir_resample"))
    assert(p.contains("TakeOrdered"), s"expected TakeOrdered for the top-k:\n$p")
  }

  test("q83: dup-coverage reads only (doc_id, text) and joins hash-keyed digests — no nested loops") {
    val df = q("q83_dup_ngram_coverage")
    val read = scans(df).head.requiredSchema.fieldNames.toSet
    assert(read == Set("doc_id", "text"), s"unexpected read schema: $read")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"digest join fell off the hash-keyed shape:\n$p")
  }

  test("q84: the quantization grid is a broadcast single row — pass 2 is map-only") {
    val p = plan(q("q84_int8_quantize"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"grid not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled for the grid join:\n$p")
  }

  test("q85: IVF-PQ search never sort-merge-shuffles the corpus — all model joins broadcast") {
    val p = plan(q("q85_ivfpq_search"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled for a bounded model artifact:\n$p")
  }

  test("q86: BM25 ranks through TakeOrdered with a broadcast model — no corpus shuffle for scoring") {
    val p = plan(q("q86_bm25"))
    assert(p.contains("TakeOrdered"), s"expected TakeOrdered for the top-k:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled for the bounded model join:\n$p")
  }

  test("q88b: PCA projection is a broadcast-model map pass — no corpus shuffle after the Gram stage") {
    // The projection query re-derives means + eigenvector (bounded
    // artifacts); the projection itself must join them as broadcasts
    // and never sort-merge the vector corpus.
    val p = plan(q("q88b_pca_project"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled for a bounded PCA artifact:\n$p")
  }

  test("no un-partitioned window over full relations in any headline query") {
    // Window specs must always carry a partitionBy: an empty Partition
    // spec collapses the relation into one task (round-1's q10/q20
    // scale-killer). Checked across every registered query.
    // The same loop pins fixture completeness: once a query's declared
    // fixtures are prepared, its builder builds nothing — a store read
    // left undeclared would otherwise bill its build to a timed query.
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      Fixtures.prepare(spark, sf, SparkEntry.fixturesOf(name))
      val builds = Fixtures.builds
      val p = fn(spark, sf).queryExecution.sparkPlan.toString
      assert(Fixtures.builds == builds, s"$name builds a fixture it does not declare")
      val bad = "Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p)
      assert(bad.isEmpty, s"$name has an un-partitioned window: $bad")
    }
  }

  test("selective dim → fact joins get a Bloom runtime filter on the fact scan at scale") {
    // At 100 TB the fact side of q24/q57-shaped joins dwarfs the
    // filtered dimension; Spark's InjectRuntimeFilter then semi-filters
    // the fact scan with a Bloom filter built from the dim's join keys,
    // cutting shuffle input before the join. The rule only fires when
    // the application-side scan exceeds a size threshold (default
    // 10 GB), so test data never triggers it naturally — here the
    // threshold is dropped to simulate the at-scale decision and pin
    // that nothing in the engine's session/query shape defeats the rule
    // (a non-equi join, a disabled flag, or an expression on the key
    // would all suppress injection and this assertion).
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    val prev = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // At scale the filtered dim exceeds the broadcast threshold and the
    // join shuffles — that shuffle join is what the rule targets; at
    // sf0.001 the dim would broadcast, so force the at-scale join shape.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no Bloom runtime filter injected:\n$optimized")
    } finally {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("q68: PII scrubbing is map-only — no hash shuffle, no join") {
    // widen() may round-robin a small scan; what must never appear is a
    // keyed shuffle or a join — the scrubber is a pure per-row regex map.
    val p = plan(q("q68_pii_scrub"))
    assert(!p.contains("Exchange hashpartitioning"), s"scrubber shuffles:\n$p")
    assert(!p.contains("Join"), s"scrubber joins:\n$p")
  }

  test("q69: the source cap aggregates partially — O(sources·k) shuffle rows, no window sort") {
    val p = plan(q("q69_source_cap"))
    assert(p.contains("partial_graft_top10"),
      s"no partial top-k phase before the shuffle:\n$p")
    assert(!p.contains("Window"), s"cap regressed to a windowed sort:\n$p")
  }

  test("q70: span dedup shuffles 32-byte digests into a partial min-aggregation, no window") {
    val p = plan(q("q70_span_dedup"))
    assert(p.contains("partial_min"), s"no partial keeper aggregation:\n$p")
    assert(!p.contains("Window"), s"dedup regressed to a corpus window:\n$p")
    // The keeper join keys on the digest — never a nested loop.
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"keeper join degenerated:\n$p")
  }

  test("q71: one hash exchange feeds both shard placement and the in-shard rank") {
    // repartition(shard) and Window.partitionBy(shard) must share one
    // exchange; the only other exchange is the final presentation sort's
    // range partitioning (which a training writer would not run).
    val p = plan(q("q71_global_shuffle"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"shard exchange not reused:\n$p")
  }

  test("q73: PQ encode never shuffles the corpus — codebook is a broadcast, argmin is per-row") {
    // The only permitted exchanges are widen()'s round-robin and the
    // final presentation sort's range partitioning — never a hash
    // exchange of the embedding table.
    val p = plan(q("q73_pq_encode"))
    assert(!p.contains("Exchange hashpartitioning"), s"encode shuffles the corpus:\n$p")
    assert(!p.contains("Window"), s"encode regressed to a window argmin:\n$p")
  }

  test("q73b: ADC search ranks through the bounded top-k buffer, not a per-query sort") {
    val p = plan(q("q73b_adc_search"))
    assert(p.contains("partial_graft_top10"),
      s"no partial top-k phase — the exchange would carry every candidate:\n$p")
    assert(!p.contains("Window"), s"ADC ranking regressed to a window sort:\n$p")
  }

  test("q73c: the exact re-rank joins float vectors only for shortlist rows") {
    val p = plan(q("q73c_pq_rerank"))
    assert(p.contains("partial_graft_top50"),
      s"shortlist not generated through the bounded buffer:\n$p")
    // The vector fetch must be a keyed hash join on vec_id (shortlist
    // ids → embeddings). The plan's nested-loop joins are the 1-row
    // codebook/LUT broadcasts — bounded by construction; what must not
    // appear is an unkeyed product of two unbounded sides
    // (CartesianProduct is the shuffle-side degeneration).
    assert(p.matches("(?s).*HashJoin \\[vec_id.*"),
      s"re-rank fetch is not a keyed hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"re-rank fetch degenerated:\n$p")
  }

  test("q74: the composed pipeline scans and tokenizes the corpus exactly once") {
    // Gates + dedup survivorship + cap + shard placement from ONE scan:
    // the window composition exists precisely so no stage rescans the
    // text (the agg+join formulations would read it 4×).
    val df = q("q74_corpus_pipeline")
    assert(scans(df).size == 1, s"corpus scanned ${scans(df).size}× :\n${plan(df)}")
    val p = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"more exchanges than digest-window + cap-window + shard:\n$p")
  }

  test("q72: classifier scoring is map-only — the fold happens per row, not via explode") {
    val p = plan(q("q72_hashed_classifier"))
    assert(!p.contains("Exchange hashpartitioning"), s"classifier shuffles:\n$p")
    assert(!p.contains("Generate"), s"classifier explodes the token stream:\n$p")
  }

  test("q130: the attribution touch lookup is a banded equi-join, never a theta/nested-loop plan") {
    // The whole point of the window-bucket band: `t.ts in [p.ts-W, p)`
    // must reach the join as an equi-key on (user, bucket) with the
    // range as a residual filter — a BNL or cartesian here is the
    // hot-user detonation the operator exists to avoid.
    val p = plan(q("q130_attribution"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"attribution degenerated to a non-equi join:\n$p")
  }

  test("q134: triangle counting joins only on equi-keys and the closing probe is a semi-join") {
    val p = plan(q("q134_triangles"))
    // Nested loops may appear ONLY as the deliberate one-row broadcast
    // crosses (linkGraph's count frame, totals × triangle count); a
    // CONDITIONAL nested loop (Inner/Semi with a range predicate)
    // would mean a corpus-sized join lost its equi-key.
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert("BroadcastNestedLoopJoin [^,\n]*, (?!Cross)".r.findAllIn(p).isEmpty,
      s"a non-cross nested loop appeared — an equi-join degenerated:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(p).size >= 3,
      s"wedge/closing/degree joins must be equi-joins:\n$p")
    assert(p.contains("LeftSemi"), s"closing-edge probe must be a semi-join:\n$p")
  }

  test("q137: the OLS fit is ONE aggregation pass — a single exchange on the group key, no join, no window") {
    val df = q("q137_trend_ols")
    val p = df.queryExecution.executedPlan.toString
    // One exchange for the stats agg; the terminal orderBy adds a
    // range-partitioning exchange for the sort, nothing else.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"sufficient statistics must need exactly one hash exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the closed forms must not re-touch data:\n$p")
    assert(p.contains("partial"), s"map-side combine missing:\n$p")
  }
}
