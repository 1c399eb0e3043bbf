package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.roundTo
import graft.functions.PortableHash.hash48

/** Text analysis operators (north-star LLM-pipeline surface;
  * SURVEY.md §2C Q19): corpus statistics, per-document quality scoring
  * with a stopword-based language-ID heuristic, and document
  * fingerprinting.
  *
  * Everything is per-row array math (codegen'd lambdas) feeding at most
  * one low-cardinality hash aggregation — embarrassingly parallel, no
  * driver-side state, linear at any corpus size.
  */
/** One learned BPE merge: round number, the winning adjacent pair, the
  * merged symbol it becomes, and its corpus-weighted count. (Top-level —
  * a case class nested in the object defeats whole-stage codegen: janino
  * cannot reference inner-class accessors and Spark falls back to
  * interpreted row encoding for the q79 output.)
  */
private[graft] case class BpeMerge(merge_round: Long, lhs: String, rhs: String,
                                   merged: String, cnt: Long)

object TextAnalysis {

  /** Stopword list for the language-ID heuristic and quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private val stopwordsSqlList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Q19 — corpus statistics per (lang, source): documents, characters,
    * whitespace tokens; averages as exact integer ratios.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        roundTo(sum("n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
        roundTo(sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_tokens"))
      .orderBy("lang", "source")

  /** Q19b — per-document quality + language ID:
    *   - token counts (whitespace split and an alnum-regex tokenizer);
    *   - type/token ratio (lexical diversity);
    *   - stopword ratio → lang_pred ('en' iff ≥ 0.05 — the n-gram-ish
    *     evidence heuristic over function words);
    *   - mean word length;
    *   - quality = 0.3·min(1, n_tokens/100) + 0.4·ttr + 0.3·stop_ratio,
    *     computed from the already-rounded components so the composite
    *     is cross-engine stable.
    */
  def qualityLangId(docs: DataFrame): DataFrame =
    qualityCore(docs)
      .select("doc_id", "n_tokens", "n_tokens_re", "n_types", "ttr",
        "stop_ratio", "mean_wlen", "quality", "lang_pred", "lang_match")
      .orderBy("doc_id")

  /** [[qualityLangId]] without the presentation sort/projection, for
    * operators that consume the quality score mid-pipeline. */
  private[graft] def qualityCore(docs: DataFrame): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("n_tokens_re",
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long"))
      .withColumn("n_types", size(array_distinct(col("words"))).cast("long"))
      .withColumn("ttr", roundTo(col("n_types").cast("double") / col("n_tokens"), 4))
      .withColumn("stop_ratio", roundTo(
        expr(s"size(filter(words, w -> w IN ($stopwordsSqlList)))").cast("double")
          / col("n_tokens"), 4))
      .withColumn("mean_wlen", roundTo(
        expr("aggregate(words, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))").cast("double")
          / col("n_tokens"), 4))
      .withColumn("quality", roundTo(
        lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / 100.0)
          + lit(0.4) * col("ttr") + lit(0.3) * col("stop_ratio"), 4))
      .withColumn("lang_pred",
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("other")))
      .withColumn("lang_match", (col("lang_pred") === col("lang")).cast("boolean"))

  /** Q19c — document fingerprints:
    *   - content_md5: exact-content digest;
    *   - rolling_hash: position-sensitive 48-bit-per-term sum — the
    *     commutative-sum formulation of a rolling hash (position is
    *     mixed into each term's hash, so the total needs no ordered
    *     fold and distributes over any partitioning).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("rolling_hash", expr("rolling_hash48(words)"))
      .select(col("doc_id"), md5(col("text")).as("content_md5"), col("rolling_hash"))
      .orderBy("doc_id")

  /** GPT-2-style pre-tokenizer pattern, restricted to the Java-regex /
    * RE2 shared subset so Spark (Java) and the DuckDB oracle (RE2) run
    * the identical bytes: contractions, optionally-space-prefixed
    * letter runs, digit runs, other-symbol runs, then whitespace runs.
    * The one divergence from the original BPE pattern is deliberate:
    * `\s+(?!\S)` (trailing-whitespace lookahead) is not in RE2, so a
    * run of k>1 inter-word spaces tokenizes as one whitespace token
    * here instead of k-1 + a word prefix — same token COUNT either
    * way for single-spaced text, and counts are this operator's output.
    * Whitespace is the explicit class `[ \t\n\f\r]` instead of `\s`:
    * Java's `\s` includes U+000B (vertical tab) while RE2's does not,
    * so the shorthand would segment `\x0B`-bearing text differently
    * across engines (the class is RE2's `\s` set, spelled out).
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** Q19d — BPE-style pre-tokenization counts per document: the token
    * accounting a training-data pipeline budgets with when "tokens"
    * means a subword tokenizer's input segments, not whitespace words.
    * Per doc: total pre-tokens plus the category split (letter / digit
    * / contraction / whitespace / other runs) and bytes-per-token (the
    * fertility proxy that flags tokenizer-hostile text).
    *
    * Scale shape: one codegen'd regex map over the text — no shuffle,
    * no explode; the per-category recounts are array lambdas over the
    * already-extracted token array, so the regex engine runs once per
    * row, category tests run on short tokens.
    */
  def bpePretokenize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{filter => afilter}
    graft.sources.Tables.widen(docs)
      .withColumn("toks", regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .withColumn("n_bpe_tokens", size(col("toks")).cast("long"))
      .withColumn("n_word_toks",
        size(afilter(col("toks"), t => t.rlike("^ ?\\p{L}+$"))).cast("long"))
      .withColumn("n_num_toks",
        size(afilter(col("toks"), t => t.rlike("^ ?\\p{N}+$"))).cast("long"))
      .withColumn("n_contr_toks",
        size(afilter(col("toks"), t => t.rlike("^'(?:s|t|re|ve|m|ll|d)$"))).cast("long"))
      .withColumn("n_ws_toks",
        size(afilter(col("toks"), t => t.rlike("^[ \\t\\n\\f\\r]+$"))).cast("long"))
      .withColumn("n_other_toks",
        col("n_bpe_tokens") - col("n_word_toks") - col("n_num_toks")
          - col("n_contr_toks") - col("n_ws_toks"))
      .withColumn("chars_per_tok",
        roundTo(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
      .select("doc_id", "n_bpe_tokens", "n_word_toks", "n_num_toks",
        "n_contr_toks", "n_ws_toks", "n_other_toks", "chars_per_tok")
      .orderBy("doc_id")
  }

  /** Q78 — the BPE-training merge decision: corpus-weighted adjacent
    * symbol-pair counts at the character stage (the quantity whose
    * argmax IS the first merge of BPE vocabulary induction; iterating
    * re-runs this over re-segmented words). Top `k` pairs by (count
    * desc, pair asc — the deterministic tie order both engines share).
    *
    * Scale shape: the corpus collapses to the VOCABULARY first (word →
    * total occurrences, one map-side-combining agg), so the character
    * work runs once per distinct word, not once per token; pair
    * explosion is then vocabulary-bounded, and the final agg's key
    * space is the symbol-pair alphabet. The corpus-sized exchange is
    * the wordcount's partial-agg shuffle — everything after is bounded.
    */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame =
    graft.sources.Tables.widen(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(
        col("freq"),
        explode(expr(
          """transform(sequence(1, length(word) - 1),
               i -> concat(substring(word, i, 1), substring(word, i + 1, 1)))""")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** Number of iterated-replace passes used to apply ONE merge to a
    * symbol string. A single left-to-right literal replace pass misses
    * an occurrence whose leading delimiter was consumed by the previous
    * match (runs of identical symbols), and a run of length n needs
    * up to ceil(n/2) passes — 15 covers any word up to 30 symbols.
    * Both engines run exactly this many single-pass replaces, so
    * results agree even before the fixpoint argument; BpeSpec pins
    * that one more pass is a no-op on the corpus vocabulary.
    *
    * DOCUMENTED DEVIATION from canonical BPE merge application: at the
    * chain's fixpoint the number of merged pairs equals canonical
    * greedy left-to-right (floor(run/2) within any identical-symbol
    * run), but in an odd run of length >= 5 the unpaired singleton may
    * sit mid-run ("aa a aa") where canonical leaves it trailing
    * ("aa aa a"). Token counts are canonical everywhere; only the
    * singleton's position within such runs differs. The chain form is
    * used because it is the largest merge-apply semantics expressible
    * identically in Spark AND the DuckDB oracle (RE2 has no lookbehind
    * and DuckDB no general list fold), the same trade as BpePattern's
    * lookahead note; BpeSpec pins the deviation on the exact fixture.
    */
  val MergePasses = 15


  /** The BPE induction loop shared by [[bpeTrain]] and [[bpeTokenize]]:
    * returns (merge table, final segmented vocabulary (word, freq,
    * syms)).
    *
    * Scale shape: the corpus collapses to the word-count VOCABULARY
    * once (the q78 observation — this is how production BPE trainers
    * operate on web-scale corpora: the unit of work is the distinct
    * word, not the token), then every round runs two bounded steps on
    * the vocab frame: adjacent-pair counts (key space = the symbol-pair
    * alphabet) and a merge application (per-row string replaces). The
    * only driver-side data is ONE argmax row per round (the q40
    * convergence-probe pattern); the vocab is localCheckpointed per
    * round so plan depth stays constant. Determinism: the winning pair
    * is max by (cnt DESC, lhs ASC, rhs ASC) — a total order both
    * engines share — and merge application is [[MergePasses]] identical
    * single-pass literal replaces in both engines.
    */
  private def bpeTrainLoop(docs: DataFrame, nMerges: Int): (Seq[BpeMerge], DataFrame) = {
    var vocab = graft.sources.Tables.widen(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // (?s) so '.' spans the engines' differing line-terminator sets:
      // bare Java '.' excludes CR, NEL, U+2028, U+2029 while RE2's
      // excludes only LF — the same Java-vs-RE2 class as BpePattern's
      // \s note. With DOTALL
      // both match every character.
      // Lazy checkpoint (the q40 probe convention): each round's argmax
      // collect below is the job that materializes the current vocab,
      // so a round costs ONE job, not an argmax job plus a separate
      // eager-checkpoint job — and the final round's vocab is only
      // materialized if a tokenize consumer actually reads it
      // (bpeTrain returns just the merge table).
      .withColumn("syms", rtrim(regexp_replace(col("word"), "(?s)(.)", "$1 ")))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    for (round <- 1 to nMerges) {
      val best = vocab
        .withColumn("sa", split(col("syms"), " "))
        .where(size(col("sa")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(sa) - 2), i -> struct(sa[i] AS lhs, sa[i + 1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(best.nonEmpty, s"vocabulary exhausted before merge $round")
      val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += BpeMerge(round.toLong, l, r, l + r, cnt)
      var padded = concat(lit(" "), col("syms"), lit(" "))
      for (_ <- 1 to MergePasses)
        padded = call_function("replace", padded, lit(s" $l $r "), lit(s" $l$r "))
      vocab = vocab.withColumn("syms", trim(padded)).localCheckpoint(false)
    }
    (merges.toSeq, vocab)
  }

  /** Test hook: the final segmented vocabulary (word, freq, syms). */
  private[graft] def bpeSegmentation(docs: DataFrame, nMerges: Int): DataFrame =
    bpeTrainLoop(docs, nMerges)._2

  /** Q79c — tokenize UNSEEN text with merges learned elsewhere: train
    * on `doc_id < splitId`, tokenize `doc_id >= splitId`. Unlike
    * [[bpeTokenize]]'s vocabulary join (valid only for words the
    * trainer saw), this REPLAYS the learned merge table over the apply
    * set's own distinct words — char-segment, then apply merges 1..N
    * in learned order — which is exactly how a shipped tokenizer
    * handles novel words. Scale shape: the replay runs once per
    * DISTINCT apply-set word (bounded like the trainer's vocabulary),
    * each merge the same [[MergePasses]] literal-replace chain as
    * training (cross-engine exact); the corpus-sized work is one
    * wordcount plus the final join back.
    */
  def bpeTokenizeSplit(docs: DataFrame, splitId: Long, nMerges: Int): DataFrame = {
    val (merges, _) = bpeTrainLoop(docs.where(col("doc_id") < splitId), nMerges)
    val applyDocs = graft.sources.Tables.widen(docs).where(col("doc_id") >= splitId)
    val words = applyDocs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    var seg = words.select("word").distinct()
      .withColumn("syms", rtrim(regexp_replace(col("word"), "(?s)(.)", "$1 ")))
    for (m <- merges) {
      var padded = concat(lit(" "), col("syms"), lit(" "))
      for (_ <- 1 to MergePasses)
        padded = call_function("replace", padded,
          lit(s" ${m.lhs} ${m.rhs} "), lit(s" ${m.merged} "))
      seg = seg.withColumn("syms", trim(padded))
    }
    words
      .join(seg.select(col("word"), size(split(col("syms"), " ")).as("n_sub")), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_subwords"))
      .withColumn("fertility",
        roundTo(col("n_subwords").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** Q79 — BPE vocabulary induction: iterate the q78 merge decision
    * `nMerges` times, applying each round's winning pair to the
    * segmented vocabulary before recounting. Output is the learned
    * merge table (merge_round, lhs, rhs, merged, cnt) — the artifact a
    * tokenizer ships.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _) = bpeTrainLoop(docs, nMerges)
    merges.toDF().orderBy("merge_round")
  }

  /** Q79b — corpus tokenization with the learned merges: because a
    * word's segmentation depends only on the word, applying the merge
    * table corpus-wide is a JOIN of corpus words against the trained
    * vocabulary's final segmentation — no per-token merge replay.
    * Per doc: word count, subword count, and fertility
    * (subwords per word — the tokenizer-quality dial q19d proxies).
    */
  def bpeTokenize(docs: DataFrame, nMerges: Int): DataFrame = {
    val (_, vocab) = bpeTrainLoop(docs, nMerges)
    graft.sources.Tables.widen(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(vocab.select(col("word"), size(split(col("syms"), " ")).as("n_sub")), "word")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_sub").as("n_subwords"))
      .withColumn("fertility",
        roundTo(col("n_subwords").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** Q35 — corpus vocabulary: term frequency + document frequency per
    * token. The classic word count: explode → hash aggregate, with
    * map-side partial aggregation collapsing each partition's repeats
    * before the shuffle, so shuffle volume is O(distinct terms per
    * partition), not O(tokens). `minOcc` trims the hapax tail (at
    * corpus scale the long tail dominates rows; the filter sits on the
    * aggregate so it prunes post-shuffle output only — exactly the
    * HAVING semantics the oracle mirrors).
    */
  def vocabulary(docs: DataFrame, minOcc: Long): DataFrame =
    graft.sources.Tables.widen(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
      .where(col("n_occ") >= minOcc)
      .orderBy("word")

  /** Q35b — bigram statistics per language: adjacent word pairs
    * (n-gram language-model counts), same explode → partial-agg shape
    * as [[vocabulary]]. Documents shorter than one bigram contribute
    * nothing (explode of an empty array drops the row).
    */
  def bigrams(docs: DataFrame, minOcc: Long): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(words) >= 2 THEN
             transform(sequence(0, size(words) - 2),
               i -> concat(words[i], ' ', words[i + 1]))
           ELSE CAST(array() AS ARRAY<STRING>) END""")).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= minOcc)
      .orderBy("lang", "bigram")

  /** Q35c — top-k TF-IDF terms per document: tf(doc, term) ·
    * ln(N / df(term)). Three aggregations over one exploded pass (term
    * frequency, document frequency, corpus size) joined back; the
    * corpus size is a 1-row broadcast, term→df is key-space-sized, and
    * the final per-document top-k is a window over doc_id partitions —
    * every stage is either map-side-combining or key-space-bounded, so
    * the shape survives any corpus size. Scores are rounded BEFORE the
    * window ordering so the ranking itself is cross-engine stable.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val words = graft.sources.Tables.widen(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    // tf is the materialized intermediate BOTH later stages read (like
    // the dedup signature table): df derives from it (tf already holds
    // one row per (doc, word), so df(word) = count of tf rows — no
    // second tokenization pass over the corpus), and persisting it
    // guarantees the explode runs once even though two consumers would
    // otherwise each replay the scan.
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    tf.join(df, "word")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", roundTo(
        col("tf").cast("double") * log(col("n").cast("double") / col("df").cast("double")), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "rnk", "word", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  /** Q58 — benchmark decontamination: for every training document, the
    * fraction of its word 3-gram shingles that also occur anywhere in a
    * held-out evaluation set (here: docs with `doc_id % evalModulus ==
    * 0`) — the standard pre-training hygiene step that catches eval
    * answers leaking into training data, which neither exact nor
    * near-dup detection covers (a 2% contaminated doc is nowhere near a
    * duplicate).
    *
    * Scale shape: an eval set is SMALL and FIXED by definition (it does
    * not grow with the corpus), so its distinct shingles broadcast as
    * the build side of one hash join; the corpus side explodes its
    * shingles map-side and probes that SHARED hash table — per-row cost
    * O(shingles), one partial-aggregated count per doc. (An
    * `array_intersect` against a collected eval array is the tempting
    * one-liner, but Spark rebuilds the probe set per ROW — measured
    * superlinear in ScaleSmoke; the join form is linear.) Shingles come
    * from the same native `shingle3` expression as the dedup family, so
    * the overlap definition is shared with q17's oracles.
    */
  def contamination(docs: DataFrame, evalDocs: DataFrame, threshold: Double): DataFrame = {
    val evalSet = Dedup.withShingles(evalDocs)
      .select(explode(col("shingles")).as("s")).distinct()
      .withColumn("hit", lit(1))
    Dedup.withShingles(docs)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .join(broadcast(evalSet), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_hit"))
      .withColumn("contamination",
        roundTo(col("n_hit").cast("double") / col("n_shingles"), 4))
      .withColumn("is_contaminated", col("contamination") >= threshold)
      .select("doc_id", "n_shingles", "n_hit", "contamination", "is_contaminated")
      .orderBy("doc_id")
  }

  /** [[contamination]] with the eval set carved out of the corpus by a
    * deterministic id split (`doc_id % evalModulus == 0`) — the q58
    * oracle shape; eval docs are excluded from scoring.
    */
  def contaminationSplit(docs: DataFrame, evalModulus: Long, threshold: Double): DataFrame =
    contamination(
      docs.where(col("doc_id") % evalModulus =!= 0),
      docs.where(col("doc_id") % evalModulus === 0),
      threshold)

  /** Built-ins-only twin of [[fingerprints]]' native `rolling_hash48`
    * (the specification form the DuckDB oracle mirrors; TextHashSpec
    * asserts equality).
    */
  private[graft] def declarativeFingerprints(docs: DataFrame): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("rolling_hash", expr(
        s"""aggregate(
              zip_with(words, sequence(0, size(words) - 1),
                (w, i) -> ${hash48("concat(CAST(i AS STRING), ':', w)")}),
              CAST(0 AS BIGINT), (acc, h) -> acc + h)"""))
      .select(col("doc_id"), md5(col("text")).as("content_md5"), col("rolling_hash"))
      .orderBy("doc_id")

  /** The most-frequent-element count of a string multiset, computed as
    * the longest equal-run of its sorted order: `array_sort` + one O(n)
    * codegen'd fold. This keeps the repetition metrics per-row — the
    * explode→groupBy formulation would shuffle every token of every
    * document just to compute a per-document number.
    */
  private[graft] def maxRunExpr(sortedArr: String): String =
    s"""aggregate($sortedArr,
          named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
          (a, x) -> named_struct(
            'prev', x,
            'run',  CASE WHEN x <=> a.prev THEN a.run + 1L ELSE 1L END,
            'best', greatest(a.best, CASE WHEN x <=> a.prev THEN a.run + 1L ELSE 1L END)),
          a -> a.best)"""

  /** Q61 — per-document repetition metrics, the Gopher-style repetition
    * quality gates (token-level variants of "fraction of tokens in the
    * most common n-gram"): top-token and top-bigram fractions plus the
    * distinct-bigram ratio. Boilerplate/spam scores high (one phrase
    * repeated), natural prose low.
    *
    * Scale shape: pure per-row array math ([[maxRunExpr]]) — zero
    * shuffle, zero explode; the parquet scan IS the operator, so it
    * runs at I/O speed on any corpus size. The DuckDB oracle states the
    * same quantities set-wise (unnest → count → max), deliberately a
    * different algorithm arriving at the same numbers.
    */
  def repetition(docs: DataFrame): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("bigrams", expr(
        """CASE WHEN size(words) < 2 THEN CAST(array() AS ARRAY<STRING>)
           ELSE transform(sequence(0, size(words) - 2),
                  i -> concat(words[i], ' ', words[i + 1])) END"""))
      .withColumn("n_types", size(array_distinct(col("words"))).cast("long"))
      .withColumn("top_tok", expr(maxRunExpr("array_sort(words)")))
      .withColumn("n_bigrams", greatest(col("n_tokens") - 1, lit(0L)))
      .withColumn("n_bigram_types", size(array_distinct(col("bigrams"))).cast("long"))
      .withColumn("top_bigram", expr(maxRunExpr("array_sort(bigrams)")))
      .withColumn("top_tok_frac",
        roundTo(col("top_tok").cast("double") / col("n_tokens"), 4))
      .withColumn("top_bigram_frac", when(col("n_bigrams") > 0,
        roundTo(col("top_bigram").cast("double") / col("n_bigrams"), 4)))
      .withColumn("distinct_bigram_ratio", when(col("n_bigrams") > 0,
        roundTo(col("n_bigram_types").cast("double") / col("n_bigrams"), 4)))
      .select("doc_id", "n_tokens", "n_types", "top_tok", "top_tok_frac",
        "n_bigrams", "n_bigram_types", "top_bigram", "top_bigram_frac",
        "distinct_bigram_ratio")
      .orderBy("doc_id")

  /** Q62 — corpus selection under a token budget: keep the
    * highest-quality documents whose total token count fits `budget`
    * (the "how much of this crawl do we train on" decision). The naive
    * formulation — sort the corpus by quality and cut a running
    * cumulative sum — is the single-task anti-pattern (an un-partitioned
    * window over everything). This is the two-pass histogram form, the
    * same shape as the engine's exact quantiles:
    *
    *   - pass 1: bucket the quality score into `bins` cells and
    *     aggregate each cell's token total (bounded: ≤ `bins` rows);
    *   - threshold: a suffix-sum over the bounded cells table (a
    *     bins²-bounded self-join, never a corpus window) picks the
    *     largest top-quality cell set whose total fits the budget;
    *   - pass 2: a map-only broadcast semi-join of the corpus against
    *     the kept cells (≤ `bins` ints).
    *
    * Admission is conservative at cell granularity: the boundary cell
    * that would overflow is excluded whole, so the selection never
    * exceeds the budget and needs no intra-cell tie-breaking;
    * granularity loss is at most the boundary cell's share, tunable via
    * `bins`.
    */
  /** Q66 — distinct-shingle cardinality per source: the LSH-sizing
    * input (distinct 3-gram count drives band/row parameters and the
    * dedup index's memory plan). The scale path is the mergeable HLL
    * sketch — partial sketches merge map-side, so the shuffle carries
    * one 2^lgK-register sketch per (source, partition), not shingles —
    * checked here against the exact distinct count with the engine's
    * principled 3σ bound (same contract as Q52: the cross-engine oracle
    * compares counts and the boolean, never the engine-specific
    * estimate).
    */
  def shingleCardinality(docs: DataFrame, lgK: Int = 12): DataFrame = {
    val tol = EventLog.hllErrorBound(lgK)
    val sg = graft.sources.Tables.widen(docs)
      .select(col("source"), explode(expr("shingle3(split(text, ' '))")).as("sg"))
    val est = sg.groupBy("source").agg(
      count(lit(1)).as("n_instances"),
      expr(s"hll_sketch_estimate(hll_sketch_agg(sg, $lgK))").as("n_est"))
    val exact = sg.groupBy("source").agg(countDistinct("sg").as("n_exact"))
    est.join(exact, "source")
      .select(col("source"), col("n_instances"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")).cast("double")
          <= col("n_exact") * tol).as("within_tol"))
      .orderBy("source")
  }

  /** Q65 — the curation funnel: the whole quality pipeline composed
    * into one report of how many documents survive each successive
    * gate (length band → quality floor → repetition cap → exact-dedup
    * survivor), i.e. the "where did my corpus go" table every curation
    * run publishes. Gates are cumulative — a doc counts at stage k iff
    * it passed stages 1..k.
    *
    * One scan computes every per-doc flag (quality and the repetition
    * fold share the tokenized words column); the dedup stage reuses the
    * exact-dedup shape — group on md5, join survivors back on the
    * 32-byte digest — so nothing shuffles text. Output is 5 rows via
    * `stack`, aggregated from map-side-combinable conditional sums.
    */
  def curationFunnel(
      docs: DataFrame,
      minTok: Long, maxTok: Long,
      minQuality: Double, maxTopTokFrac: Double): DataFrame = {
    val scored = qualityCore(docs)
      .withColumn("top_tok", expr(maxRunExpr("array_sort(words)")))
      .withColumn("top_tok_frac",
        roundTo(col("top_tok").cast("double") / col("n_tokens"), 4))
      .withColumn("content_hash", md5(col("text")))
      .select("doc_id", "content_hash", "n_tokens", "quality", "top_tok_frac")
    val survivors = scored.groupBy("content_hash").agg(min("doc_id").as("keep_id"))
    val flagged = scored.join(survivors, Seq("content_hash"))
      .withColumn("f_len", col("n_tokens").between(minTok, maxTok))
      .withColumn("f_quality", col("quality") >= minQuality)
      .withColumn("f_rep", col("top_tok_frac") <= maxTopTokFrac)
      .withColumn("f_uniq", col("doc_id") === col("keep_id"))
    flagged.agg(
      count(lit(1)).as("ingested"),
      sum(when(col("f_len"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("f_len") && col("f_quality"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("f_len") && col("f_quality") && col("f_rep"), 1L).otherwise(0L)).as("s3"),
      sum(when(col("f_len") && col("f_quality") && col("f_rep") && col("f_uniq"), 1L)
        .otherwise(0L)).as("s4"))
      .selectExpr(
        """stack(5,
             'a0_ingested', ingested,
             'a1_length', s1,
             'a2_quality', s2,
             'a3_repetition', s3,
             'a4_dedup', s4) AS (stage, n_docs)""")
      .orderBy("stage")
  }

  def budgetSelect(docs: DataFrame, tokenBudget: Long, bins: Int = 20): DataFrame = {
    val scored = qualityCore(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .withColumn("cell",
        least(lit((bins - 1).toLong), floor(col("quality") * bins)).cast("int"))
    val cells = scored.groupBy("cell").agg(sum("n_tokens").as("cell_tokens"))
    val cum = cells.as("a")
      .join(cells.as("b"), col("b.cell") >= col("a.cell"))
      .groupBy(col("a.cell").as("cell"))
      .agg(sum(col("b.cell_tokens")).as("cum_tokens"))
    val keep = cum.filter(col("cum_tokens") <= tokenBudget).select("cell")
    scored.join(broadcast(keep), Seq("cell"), "left_semi")
      .select("doc_id", "n_tokens", "quality", "cell")
      .orderBy("doc_id")
  }

  /** Q75 — exact heavy hitters with bounded memory, the sketch-then-
    * verify recipe for hot tokens/domains at corpus scale:
    *
    *   pass 1: one aggregation folds every token into a Misra–Gries
    *     summary ([[graft.functions.FreqSketchAggregator]]) alongside
    *     the exact token total. Each map task's state is O(capacity);
    *     the shuffle moves one ≤capacity-entry map per partition — the
    *     corpus's distinct-token count never matters.
    *   pass 2: the ≤capacity candidates (a guaranteed superset of every
    *     token with share > 1/(capacity+1)) are broadcast back over the
    *     token stream for exact counts; the share gate compares pure
    *     integers (n_occ · shareDen > n_total) so the result is
    *     bit-exact across engines and, unlike the raw sketch, fully
    *     deterministic under any partitioning of the input.
    *
    * The final answer is EXACT — the sketch only bounds the candidate
    * set — which is why the DuckDB oracle can be a plain GROUP BY …
    * HAVING. `shareDen ≤ capacity+1` is the precondition that makes the
    * MG superset guarantee cover the gate.
    */
  /** Q106 — per-source distribution divergence: KL(source ‖ corpus)
    * over the unigram distributions — the domain-drift monitor a
    * mixture pipeline watches (a source whose token distribution walks
    * away from the corpus gets its rate revisited; DSIR's importance
    * weights (q82) are the per-document view of the same quantity).
    * Every source word also appears in the corpus distribution, so
    * p > 0 ⇒ q > 0 and no log guard is needed. Components are rounded
    * to the 1e-6 grid and exact-integer-summed (the Deterministic
    * convention), so the per-source total is order-free and
    * cross-engine exact.
    *
    * Scale shape: one tokenize pass feeds three partial-aggregated
    * counts — (source, word), (word), (source) — keyed on at most
    * sources × vocabulary; the divergence join moves (source, word)
    * count rows, never text.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val words = graft.sources.Tables.widen(docs)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val bySrcWord = words.groupBy("source", "word").agg(count(lit(1)).as("n_sw"))
    val bySrc = words.groupBy("source").agg(count(lit(1)).as("n_s"))
    val byWord = words.groupBy("word").agg(count(lit(1)).as("n_w"))
    val total = words.agg(count(lit(1)).as("n"))
    bySrcWord
      .join(byWord, "word")
      .join(bySrc, "source")
      .crossJoin(broadcast(total))
      .withColumn("comp", roundTo(
        (col("n_sw").cast("double") / col("n_s"))
          * log((col("n_sw").cast("double") / col("n_s"))
            / (col("n_w").cast("double") / col("n"))), 6))
      .groupBy("source")
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        graft.functions.Deterministic.exactSum(col("comp"), 6).as("kl_nats"))
      .orderBy("source")
  }

  def heavyHitters(docs: DataFrame, capacity: Int, shareDen: Long): DataFrame = {
    require(shareDen >= 1 && shareDen <= capacity + 1,
      s"MG superset guarantee needs shareDen in [1, capacity+1], got $shareDen vs capacity $capacity")
    val mg = udaf(new graft.functions.FreqSketchAggregator(capacity))
    val words = graft.sources.Tables.widen(docs)
      .select(explode(split(col("text"), " ")).as("word"))
    val sketch = words.agg(mg(col("word")).as("cand"), count(lit(1)).as("n_total"))
    val candidates = sketch
      .select(explode(map_keys(col("cand"))).as("word"), col("n_total"))
    words.join(broadcast(candidates), Seq("word"))
      .groupBy("word", "n_total")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") * shareDen > col("n_total"))
      .select(col("word"), col("n_occ"),
        roundTo(col("n_occ").cast("double") / col("n_total"), 6).as("share"))
      .orderBy("word")
  }

  /** BM25 parameters (the Robertson/Lucene defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Q86 — BM25 ranked retrieval: score every document against a fixed
    * query-term set with the Lucene-shape BM25
    * (`idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`,
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`) and return the top k. The
    * retrieval operator the curation stack reads back with: "which
    * training documents does this query surface" is both an eval tool
    * (attribution, leakage probes) and the serving half of a
    * lexical/dense hybrid next to q18.
    *
    * Scale shape: corpus stats (N, Σdl) and the per-term document
    * frequencies reduce map-side onto ONE single-row broadcast model
    * (df key space = the bounded query length); scoring is map-only —
    * tf folds per row against the term literal, each term's
    * contribution quantizes to 1e-6-grid integers (idf and dl/avgdl are
    * per-row IEEE with identical cast points cross-engine) so the
    * per-doc sum is order-free — and ranking is TakeOrdered. Nothing
    * shuffles but the bounded df aggregation.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    // Terms are interpolated into SQL string literals (engine AND
    // oracle) — restrict to the tokenizer's own alphabet so neither
    // side can be broken (or altered) by quoting characters.
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be non-empty [a-z0-9]+ tokens, got $terms")
    val termsArr = "array(" + terms.map(t => s"'$t'").mkString(", ") + ")"
    val d = graft.sources.Tables.widen(docs)
      .withColumn("words", split(col("text"), " "))
      .withColumn("dl", size(col("words")).cast("long"))
    val model = d
      .select(col("dl"), posexplode(expr(
        s"transform($termsArr, t -> CAST(array_contains(words, t) AS BIGINT))")))
      .groupBy(col("pos"))
      .agg(sum("col").as("df"), count(lit(1)).as("n"), sum("dl").as("tdl"))
      .agg(
        map_from_entries(collect_list(struct(col("pos"), col("df")))).as("dfm"),
        max("n").as("n_docs"), max("tdl").as("total_dl"))
      .select(
        expr(s"""transform(sequence(0, ${terms.size - 1}), i ->
              ln(1.0 + (CAST(n_docs - dfm[i] AS DOUBLE) + 0.5)
                       / (CAST(dfm[i] AS DOUBLE) + 0.5)))""").as("idf"),
        (col("total_dl").cast("double") / col("n_docs")).as("avgdl"))
    d.crossJoin(broadcast(model))
      .withColumn("tfs", expr(
        s"transform($termsArr, t -> CAST(size(filter(words, w -> w = t)) AS BIGINT))"))
      .withColumn("score_micros", expr(
        s"""aggregate(sequence(0, ${terms.size - 1}), CAST(0 AS BIGINT), (acc, i) ->
              acc + CASE WHEN tfs[i] = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(idf[i] * (CAST(tfs[i] AS DOUBLE) * (1.0 + $Bm25K1))
                     / (CAST(tfs[i] AS DOUBLE)
                        + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (CAST(dl AS DOUBLE) / avgdl)))
                     * 1e6 + 0.5) AS BIGINT) END)"""))
      .where(col("score_micros") > 0)
      .withColumn("score", col("score_micros").cast("double") / 1e6)
      .select("doc_id", "dl", "score_micros", "score")
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Q97 — MULTI-query BM25 over the stored postings as ONE
    * distributed plan: the production serving shape (a query batch,
    * not a driver loop). All queries' terms prune the postings scan
    * together (one bucket `IN` + one `term IN`); per-occurrence
    * contributions are computed once per (term, doc) and fan out to
    * queries through a broadcast (qid, term, weight) frame — a term
    * shared by many queries is scored once; the per-(query, doc) sum
    * is exact integers; ranking runs per query through the bounded
    * top-k Aggregator, so the final exchange is O(queries · k) no
    * matter how many candidates a query touches. Same math as
    * [[graft.sources.VersionedTextIndex.bm25]] per query (q97's oracle
    * stacks one q86 chain per query); duplicate terms weight after the
    * floor as there. Postings and stats come from ONE snapshot.
    */
  def bm25BatchStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    require(k <= 10, "k is capped by the graft_top10 buffer")
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty)
      && queries.flatMap(_._2).forall(_.matches("[a-z0-9]+")),
      s"query terms must be non-empty [a-z0-9]+ tokens, got $queries")
    val V = graft.sources.VersionedTextIndex
    val v = V.currentVersion(spark, dir)
    val p = V.termPostings(spark, dir, queries.flatMap(_._2), v)
    val model = p.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(V.stats(spark, dir, v)))
      .withColumn("idf", expr(
        """ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))"""))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .select("term", "idf", "avgdl")
    import spark.implicits._
    val qw = queries.flatMap { case (qid, ts) =>
      ts.groupBy(identity).map { case (t, g) => (qid, t, g.size.toLong) }
    }.toDF("qid", "term", "w")
    p.join(broadcast(model), "term")
      .withColumn("c1", expr(
        s"""CAST(floor(idf * (CAST(tf AS DOUBLE) * (1.0 + $Bm25K1))
               / (CAST(tf AS DOUBLE)
                  + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (CAST(dl AS DOUBLE) / avgdl)))
               * 1e6 + 0.5) AS BIGINT)"""))
      .join(broadcast(qw), "term")
      .groupBy("qid", "doc_id", "dl")
      .agg(sum(col("w") * col("c1")).as("score_micros"))
      .where(col("score_micros") > 0)
      .groupBy("qid")
      .agg(expr(
        s"slice(graft_top10(CAST(score_micros AS DOUBLE), doc_id), 1, $k)").as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("doc_id"),
        col("col._1").cast("long").as("score_micros"),
        (col("col._1") / 1e6).as("score"))
      .orderBy("qid", "rnk")
  }

  /** Q119 — learned-sparse (impact-weighted) retrieval over the stored
    * postings: score(doc) = Σ w_t · tf(t, doc) for the query's bounded
    * (term, weight) set — the SPLADE/DeepImpact serving shape, where a
    * query encoder emits weighted terms and the inverted index answers
    * with a pure dot product. Unlike BM25 there is NO corpus model
    * (no df/idf/avgdl): integer weights × the posting rows' integer tf
    * sum as exact BIGINTs, so the ranking is float-free end to end.
    *
    * Cost shape: same as stored BM25 minus the model pass — the
    * postings scan file-prunes to the query terms' hash buckets, the
    * weight lookup is a CASE literal (no join), the only exchange is
    * the O(candidate docs) per-doc sum, and ranking is TakeOrdered k.
    */
  def sparseDotStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                      termWeights: Seq[(String, Long)], k: Int): DataFrame = {
    require(termWeights.nonEmpty &&
      termWeights.forall { case (t, w) => t.matches("[a-z0-9]+") && w > 0 },
      s"query terms must be [a-z0-9]+ with positive weights, got $termWeights")
    require(termWeights.map(_._1).distinct.size == termWeights.size,
      "duplicate query terms: merge their weights upstream")
    val wCase = termWeights.map { case (t, w) => s"WHEN '$t' THEN ${w}L" }
      .mkString("CASE term ", " ", " ELSE 0L END")
    graft.sources.VersionedTextIndex.termPostings(spark, dir, termWeights.map(_._1))
      .withColumn("c", expr(s"($wCase) * tf"))
      .groupBy("doc_id")
      .agg(sum("c").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The q86 ranking over `p`, the query terms' already-pruned
    * postings, and the one-row `stats` of the same snapshot — the
    * kernel of [[graft.sources.VersionedTextIndex.bm25]]. The
    * postings join sees each (term, doc) row once; idf/avgdl fold into
    * one broadcast model row; scoring is map-only over posting rows
    * (tf and dl are IN the row) and the ranking is one exact-integer
    * sum per candidate doc + TakeOrdered.
    */
  private[graft] def bm25Served(p: DataFrame, stats: DataFrame,
                                terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      s"query terms must be non-empty [a-z0-9]+ tokens, got $terms")
    // A term listed n times in the query contributes n times in q86's
    // per-position fold — the postings join sees each (term, doc) row
    // once, so the multiplicity becomes a weight. Weighting AFTER the
    // floor keeps the sum bit-equal to n separate floored occurrences.
    val wCase = terms.groupBy(identity).map { case (t, g) =>
      s"WHEN '$t' THEN ${g.size}L"
    }.mkString("CASE term ", " ", " ELSE 1L END")
    // df(term) = the term's posting count within its pruned bucket;
    // idf/avgdl reproduce q86's cast points exactly.
    val model = p.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr(
        """ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))"""))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .select("term", "idf", "avgdl")
    p.join(broadcast(model), "term")
      .withColumn("c", expr(
        s"""($wCase) * CAST(floor(idf * (CAST(tf AS DOUBLE) * (1.0 + $Bm25K1))
               / (CAST(tf AS DOUBLE)
                  + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * (CAST(dl AS DOUBLE) / avgdl)))
               * 1e6 + 0.5) AS BIGINT)"""))
      .groupBy("doc_id", "dl")
      .agg(sum("c").as("score_micros"))
      .where(col("score_micros") > 0)
      .withColumn("score", col("score_micros").cast("double") / 1e6)
      .select("doc_id", "dl", "score_micros", "score")
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Q121 — exact PHRASE search from the stored positional postings
    * (the `positions` segments of [[graft.sources.VersionedTextIndex]],
    * live view): a document matches when
    * the phrase's words occur at consecutive token offsets. The
    * classic positional-intersection plan: leg i reads ONLY term i's
    * bucket-pruned posting rows and normalizes its offsets to
    * candidate phrase STARTS (`p − i`); the legs equi-join on doc_id
    * (each leg is df(term)-bounded — no corpus scan, no text) and one
    * codegen'd `array_intersect` fold leaves exactly the offsets where
    * every word lines up. phrase_tf = |starts| (offsets are distinct
    * within a doc, so the set intersection loses nothing), first_pos =
    * the earliest start. Ranking = (phrase_tf DESC, doc_id) over
    * exact integers, TakeOrdered k.
    *
    * Scale shape: I/O is O(Σ df(phrase terms)) posting rows after
    * file-level bucket pruning; the joins shuffle those bounded legs
    * by doc_id; per-row work is O(Σtf) offsets in codegen'd array
    * lambdas. The corpus text is never read.
    */
  def phraseSearchStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                         phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2 && phrase.forall(_.matches("[a-z0-9]+")),
      s"phrase must be >= 2 [a-z0-9]+ tokens, got $phrase")
    val pos = graft.sources.VersionedTextIndex.termPositions(spark, dir, phrase)
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"),
          expr(s"transform(positions, p -> p - ${i}L)").as(s"p$i"))
    }
    val joined = legs.tail.foldLeft(legs.head)(_.join(_, "doc_id"))
    val starts = phrase.indices.tail
      .foldLeft(col("p0"))((acc, i) => array_intersect(acc, col(s"p$i")))
    joined.withColumn("starts", starts)
      .withColumn("phrase_tf", size(col("starts")).cast("long"))
      .where(col("phrase_tf") > 0)
      .withColumn("first_pos", array_min(col("starts")))
      .select("doc_id", "phrase_tf", "first_pos")
      .orderBy(col("phrase_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Q121b — PROXIMITY search from the same positional rows: rank
    * documents where `a` and `b` co-occur within `window` tokens
    * (unordered — the Lucene slop/NEAR operator). Two bucket-pruned
    * legs join on doc_id; per doc the codegen'd lambda pass computes
    * min_dist = min |p_a − p_b| (O(tf_a · tf_b) over bounded posting
    * lists) and n_near = how many `a` occurrences have some `b`
    * within the window. Ranking = (min_dist ASC, n_near DESC, doc_id)
    * over exact integers — nearest co-occurrence first.
    */
  def proximitySearchStored(spark: org.apache.spark.sql.SparkSession,
                            dir: String, a: String, b: String, window: Int,
                            k: Int): DataFrame = {
    require(a != b && Seq(a, b).forall(_.matches("[a-z0-9]+")) && window >= 1,
      s"need two distinct [a-z0-9]+ terms and window >= 1, got ($a, $b, $window)")
    val pos = graft.sources.VersionedTextIndex.termPositions(spark, dir, Seq(a, b))
    val pa = pos.filter(col("term") === a).select(col("doc_id"), col("positions").as("pa"))
    val pb = pos.filter(col("term") === b).select(col("doc_id"), col("positions").as("pb"))
    pa.join(pb, "doc_id")
      .withColumn("min_dist", expr(
        "array_min(flatten(transform(pa, p -> transform(pb, q -> abs(q - p)))))"))
      .where(col("min_dist") <= window)
      .withColumn("n_near", expr(
        s"CAST(size(filter(pa, p -> exists(pb, q -> abs(q - p) <= $window))) AS BIGINT)"))
      .select("doc_id", "min_dist", "n_near")
      .orderBy(col("min_dist"), col("n_near").desc, col("doc_id"))
      .limit(k)
  }
}
