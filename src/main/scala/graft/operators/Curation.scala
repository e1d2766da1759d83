package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators: the rule-based quality gate, unigram-LM
  * scoring, and target-mixture resampling a pretraining data pipeline
  * runs between dedup and packing.
  *
  * Reference counterpart: the reference's quality surface is its
  * engagement/cleaning heuristics (2-label.py, 7-clean-topics.py,
  * 12-clean-opinions.py — covered by p02/p07/p12); these operators add
  * the published curation recipes those stages approximate at social-
  * media scale: Gopher's rule gate (Rae et al. 2021 §A1.1), CCNet-style
  * LM scoring (Wenzek et al. 2019; degenerate unigram form so the score
  * is integer-exact), and temperature/weighted domain mixing.
  */
object Curation {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  // Gopher-style rule thresholds, scaled to the synthetic corpus (the
  // published rules use 50..100k words; this corpus is 10..99) so both
  // pass and fail populations exist and the gate is non-vacuous.
  val GopherMinWords = 30L
  val GopherMaxWords = 5000L
  val GopherMinAwlCenti = 300L // mean word length in [3, 5] chars
  val GopherMaxAwlCenti = 500L
  val GopherMinStops = 2L
  val GopherMaxSymPpm = 100000L // '#'/'…' symbol-to-word ratio ≤ 0.1

  /** Appends the Gopher rule columns (n_words, awl_centi, n_stops,
    * sym_ppm, fail_mask, keep) to any relation with a `text` column.
    * Pure stateless column algebra — the same fragment runs under
    * Structured Streaming unchanged
    * ([[graft.streaming.EventStreams.qualityGate]]). */
  def gopherStats(df: DataFrame): DataFrame = {
    val t = col("text")
    df
      // one staged tokenize pass shared by the word count and the
      // stopword counter (each convenience form embeds its own)
      .withColumn("__toks", tokens(t))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      // [ \t\n\f\r] spelled out: Spark regexp_* is Java regex, whose \s
      // also contains \x0B — the oracle's RE2 \s does not (Kernels.isWsChar)
      .withColumn("__ns", length(regexp_replace(t, "[ \t\n\f\r]", "")).cast("long"))
      .withColumn("n_stops", graft.functions.NativeExpressions
        .tokenSetCount(col("__toks"), TextOps.EnStops).cast("long"))
      .withColumn("__sym", regexp_count(t, lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("awl_centi", expr("__ns * 100L div greatest(n_words, 1L)"))
      .withColumn("sym_ppm", expr("__sym * 1000000L div greatest(n_words, 1L)"))
      .withColumn("fail_mask", expr(
        s"""CASE WHEN n_words < $GopherMinWords OR n_words > $GopherMaxWords THEN 1L ELSE 0L END
           | + CASE WHEN awl_centi < $GopherMinAwlCenti OR awl_centi > $GopherMaxAwlCenti THEN 2L ELSE 0L END
           | + CASE WHEN n_stops < $GopherMinStops THEN 4L ELSE 0L END
           | + CASE WHEN sym_ppm > $GopherMaxSymPpm THEN 8L ELSE 0L END""".stripMargin))
      .withColumn("keep", when(col("fail_mask") === 0L, 1L).otherwise(0L))
      .drop("__ns", "__sym", "__toks")
  }

  /** tx_gopher: the Gopher rule gate — word count, mean word length,
    * stopword floor, and symbol-ratio screens, emitted as one integer
    * bitmask of FAILED rules (bit set = rule violated) plus the keep
    * flag. Map-only single pass, one native tokenization; at 100 TB this
    * is the cheapest gate in the suite and runs first in the curation
    * chain, ahead of everything that shuffles. */
  def txGopher(spark: SparkSession, sfDir: String): DataFrame =
    gopherStats(docs(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("awl_centi"), col("n_stops"),
        col("sym_ppm"), col("fail_mask"), col("keep"))
      .transform(Sampling.presentSorted(_, col("doc_id")))

  // ---- tx_quality_classifier: learned linear quality model ----------
  //
  // CCNet/RefinedWeb-style LEARNED quality filter (Wenzek et al. 2019
  // train a fastText linear classifier between the rule gate and the LM
  // filter): logit = bias + w·x over a bag-of-words vocabulary table
  // plus document-statistic features. The embedded-table house pattern
  // (synonyms, UTS #51, PII shapes, BPE merges): the weight table below
  // is shared VERBATIM by the Spark plan and the generated DuckDB
  // mirror, all arithmetic is integer logit-micros (no division of any
  // possibly-negative quantity, so `div` vs `//` rounding can never
  // diverge), and the oracle SQL is string-generated from the same
  // constants. A production deployment swaps in real learned weights
  // (the plan shape is weight-agnostic); these demonstration weights
  // are quantized hand priors over the synthetic corpus vocabulary so
  // both keep and drop populations exist at every SF.
  //
  // Scale shape: map-only single pass, one native tokenization shared
  // by every vocabulary tier via tokenSetCount (the bag-of-words dot
  // product is K set-membership counters, K = |distinct weights|, not
  // a per-token join against a weight table — no shuffle, no broadcast,
  // fully codegen'd). The cheapest learned gate possible at 100 TB.

  /** Intercept, in logit-micros (1e6 micros = logit 1.0). */
  val ClfBiasMicro = -250000L
  /** Per-word length reward, capped at [[ClfLenCap]] words. */
  val ClfWLenMicro = 1500L
  val ClfLenCap = 200L
  /** Per-ppm weights on the stop-word / duplicate-line / symbol ratios. */
  val ClfWStopMicro = 2L
  val ClfWDupMicro = -3L
  val ClfWSymMicro = -4L
  /** Penalty per centi-char of mean-word-length deviation from center. */
  val ClfWAwlMicro = -800L
  val ClfAwlCenterCenti = 430L

  /** Bag-of-words vocabulary, grouped by quantized weight (logit-micros
    * per occurrence). Grouping by weight turns the sparse dot product
    * into one [[graft.functions.NativeExpressions.tokenSetCount]] per
    * tier — the fastText trick of hashing to a small weight alphabet. */
  val ClfWordTiers: Seq[(Long, Seq[String])] = Seq(
    25000L  -> Seq("data", "query", "table", "column", "vector"),
    10000L  -> Seq("join", "merge", "group", "sort", "scan"),
    -20000L -> Seq("slow", "small", "batch"),
    -60000L -> Seq("dup"))

  /** Appends the classifier columns (n_words, word_micro, stat_micro,
    * logit_micro, clf_keep) to any relation with a `text` column. Pure
    * stateless column algebra — streams unchanged, like
    * [[gopherStats]]. */
  def classifierStats(df: DataFrame): DataFrame = {
    val t = col("text")
    val lines = filter(split(t, "\n"), l => length(trim(l)) > lit(0))
    df
      .withColumn("__toks", tokens(t))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      // [ \t\n\f\r] spelled out — same Java-\s vs RE2-\s rationale as
      // gopherStats (the tx_pattern_canary \x0B row pins this seam)
      .withColumn("__ns", length(regexp_replace(t, "[ \t\n\f\r]", "")).cast("long"))
      .withColumn("__stops", graft.functions.NativeExpressions
        .tokenSetCount(col("__toks"), TextOps.EnStops).cast("long"))
      .withColumn("__sym", regexp_count(t, lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("__nl", size(lines).cast("long"))
      .withColumn("__ndl", size(array_distinct(lines)).cast("long"))
      .withColumn("word_micro", ClfWordTiers.map { case (w, ws) =>
        lit(w) * graft.functions.NativeExpressions
          .tokenSetCount(col("__toks"), ws).cast("long")
      }.reduce(_ + _))
      .withColumn("stat_micro",
        lit(ClfWLenMicro) * least(col("n_words"), lit(ClfLenCap)) +
        lit(ClfWStopMicro) * expr("__stops * 1000000L div greatest(n_words, 1L)") +
        lit(ClfWDupMicro) * expr("(__nl - __ndl) * 1000000L div greatest(__nl, 1L)") +
        lit(ClfWSymMicro) * expr("__sym * 1000000L div greatest(n_words, 1L)") +
        lit(ClfWAwlMicro) * abs(expr("__ns * 100L div greatest(n_words, 1L)") - lit(ClfAwlCenterCenti)))
      .withColumn("logit_micro", lit(ClfBiasMicro) + col("word_micro") + col("stat_micro"))
      .withColumn("clf_keep", when(col("logit_micro") > 0L, 1L).otherwise(0L))
      .drop("__toks", "__ns", "__stops", "__sym", "__nl", "__ndl")
  }

  /** tx_quality_classifier: the learned linear quality gate — per-doc
    * bag-of-words + statistic logit in integer micros and the keep
    * decision. Distinct from tx_quality's fixed composite: the word
    * tiers let spammy vocabulary sink a document whose length/stop
    * statistics look fine (QualityClassifierSpec pins a constructed
    * pair where the two orderings disagree). */
  def txQualityClassifier(spark: SparkSession, sfDir: String): DataFrame =
    classifierStats(docs(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_words"), col("word_micro"),
        col("stat_micro"), col("logit_micro"), col("clf_keep"))
      .transform(Sampling.presentSorted(_, col("doc_id")))

  /** Noise floor for learned token weights: tokens with fewer total
    * occurrences than this carry no usable signal and are dropped. */
  val TrainMinTf = 5L

  /** (__toks, keep) over a text frame — the SAME Gopher rules as
    * [[gopherStats]] (same constants, GopherRuleDriftSpec-pinned equal
    * on the real corpus), but shaped so the trainer's downstream explode
    * reuses the ONE staged tokenization: the middle projection
    * references __toks three times, which blocks CollapseProject from
    * inlining word_tokens per consumer (gopherStats' withColumn chain
    * collapses to 4 evaluations under an added explode — the
    * PlanAuditSpec kernel budget caught exactly that). */
  private def gopherKeepWithToks(
      df: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val t = col("text")
    val c = carry.map(col)
    df.select(c :+ t :+ tokens(t).as("__toks"): _*)
      .select(c ++ Seq(col("__toks"),
        size(col("__toks")).cast("long").as("n_words"),
        graft.functions.NativeExpressions
          .tokenSetCount(col("__toks"), TextOps.EnStops).cast("long").as("n_stops"),
        length(regexp_replace(t, "[ \t\n\f\r]", "")).cast("long").as("__ns"),
        regexp_count(t, lit("#|\\.\\.\\.")).cast("long").as("__sym")): _*)
      .select(c ++ Seq(col("__toks"), expr(
        s"""CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
           | AND __ns * 100L div greatest(n_words, 1L) >= $GopherMinAwlCenti
           | AND __ns * 100L div greatest(n_words, 1L) <= $GopherMaxAwlCenti
           | AND n_stops >= $GopherMinStops
           | AND __sym * 1000000L div greatest(n_words, 1L) <= $GopherMaxSymPpm
           | THEN 1L ELSE 0L END""".stripMargin).as("keep")): _*)
  }

  /** Spec-only window into [[gopherKeepWithToks]]' label: (doc_id, keep)
    * for the GopherRule-drift pin in QualityClassifierSpec. */
  private[graft] def gopherKeepForSpec(df: DataFrame): DataFrame =
    gopherKeepWithToks(df, Seq("doc_id")).select(col("doc_id"), col("keep"))

  /** tx_quality_train: learn the quality classifier's WORD WEIGHTS from
    * weak labels — the CCNet move (Wenzek et al. 2019 train the cheap
    * linear filter to imitate an expensive reference signal). Labels =
    * the Gopher rule gate's keep flag ([[gopherStats]], zero extra
    * passes to produce); per token the occurrence-weighted keep rate
    * minus the corpus keep prior, in integer ppm:
    * weight = tf_keep·10⁶ div tf − total_keep·10⁶ div total. Positive =
    * the token co-occurs with rule-passing text. A production run feeds
    * the top/bottom of this table back as [[ClfWordTiers]] (quantize by
    * weight, the fastText trick); the embedded demonstration tiers keep
    * the APPLY side hash-gated and deterministic.
    *
    * All divisions are of non-negative integers (the subtraction happens
    * AFTER both divisions), so Spark `div` and DuckDB `//` cannot
    * diverge. Scale shape: one corpus pass (map-only label algebra +
    * tokenize), one map-side-combinable shuffle on the token key
    * (shuffle ∝ vocabulary — the tx_unigram_lm lesson), one broadcast
    * single-row total. The cheapest possible distributed trainer. */
  def txQualityTrain(spark: SparkSession, sfDir: String): DataFrame = {
    // explode_outer, NOT explode: InferFiltersFromGenerate turns a plain
    // explode into a size(word_tokens(text)) > 0 scan filter — two extra
    // tokenizer evaluations per corpus row (PlanAuditSpec kernel budget).
    // The outer form infers nothing; the null row an empty doc yields is
    // dropped on the cheap exploded attribute instead.
    val posting = gopherKeepWithToks(docs(spark, sfDir).select(col("text")))
      .select(explode_outer(col("__toks")).as("tok"), col("keep"))
      .filter(col("tok").isNotNull)
    // Eager vocab-table checkpoint: the totals branch would otherwise
    // re-run the corpus pass — column pruning narrows its copy of the
    // token aggregate (no `tok` in the output), so the two exchanges
    // never canonicalize equal and ReuseExchange cannot fire (the
    // tx_corpus_novelty lesson, solved here the dd_incremental way:
    // materialize the vocabulary-sized frame once, derive both sides).
    val tf = Sampling.trackScratch(posting.groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), sum(col("keep")).as("tf_keep"))
      .localCheckpoint(true))
    val tot = tf.agg(sum(col("tf")).as("__t"), sum(col("tf_keep")).as("__tk"))
    // The ×10⁶ ppm scaling runs in DECIMAL(38,0): at real corpus scale
    // (~10¹³ token occurrences) __tk * 1000000 overflows BIGINT, which
    // Spark wraps silently while DuckDB's HUGEINT sum stays exact —
    // the one place the two engines COULD diverge. DECIMAL keeps the
    // Spark side exact too (div on decimals is still integral).
    tf.crossJoin(broadcast(tot))
      .filter(col("tf") >= TrainMinTf)
      .selectExpr("tok", "tf", "tf_keep",
        "CAST(CAST(tf_keep AS DECIMAL(38,0)) * 1000000 div tf" +
          " - CAST(__tk AS DECIMAL(38,0)) * 1000000 div __t AS BIGINT) AS weight_micro")
      .orderBy(col("weight_micro").desc, col("tok"))
  }

  /** tx_unigram_lm: unigram-LM document scoring — each document's mean
    * and minimum corpus token frequency (parts-per-billion of all token
    * occurrences). Low mean = unusual/rare-vocabulary text, high mean =
    * common boilerplate; the integer-exact stand-in for CCNet's KenLM
    * perplexity filter (log-probs are floats and would break the hash
    * gate; the ranking signal is the same monotone function of unigram
    * frequency).
    *
    * Scale shape: the term-frequency table aggregates with map-side
    * combine (shuffle ∝ vocabulary, not corpus — a hot token like "the"
    * costs one partial count per task), its total broadcasts as one row,
    * and the vocabulary-sized frequency table broadcasts back onto the
    * token stream, so the corpus itself never shuffles on the token key
    * (no hot-token skew task, the round-4 posting-list lesson). The text
    * is tokenized twice (frequency branch + scoring branch) — two
    * map-only scans beat shuffling every token posting to share one. */
  def txUnigramLm(spark: SparkSession, sfDir: String): DataFrame =
    unigramScoreCore(spark, sfDir).orderBy(col("doc_id"))

  /** [[txUnigramLm]] minus the presentation sort — the join-input form
    * [[txCcnetBucket]] consumes (a sort under a join is dead work). */
  private def unigramScoreCore(spark: SparkSession, sfDir: String): DataFrame = {
    val posting = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = posting.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val tot = tf.agg(sum(col("tf")).as("__t"))
    val freq = tf.crossJoin(broadcast(tot))
      .selectExpr("tok", "tf * 1000000000L div __t AS ppb")
    posting.join(broadcast(freq), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ppb")).as("__sum"), min(col("ppb")).as("min_tok_ppb"))
      .selectExpr("doc_id", "n_tokens",
        "__sum div n_tokens AS avg_tok_ppb", "min_tok_ppb")
  }

  /** tx_ccnet_bucket: CCNet's head/middle/tail quality binning (Wenzek
    * et al. 2019 §4.3 — the step that actually SHIPS the LM score):
    * per-SOURCE tercile cutoffs over each document's unigram-LM score
    * ([[txUnigramLm]]'s avg_tok_ppb — high = common/fluent language,
    * the monotone stand-in for low KenLM perplexity), bucket = head
    * (top tercile) / middle / tail. Per-source cutoffs are the CCNet
    * design point: a rare-language or niche source is binned against
    * itself, not the majority domain.
    *
    * Scale shape: the score is the unigram-LM plan unchanged (vocab-
    * keyed tf aggregate, corpus never shuffles on the token key); the
    * cutoffs are one groupBy(source) percentile — |sources|×2 doubles —
    * broadcast back onto the scored stream. Exact percentile buffers a
    * source's scores at gate scale; at 100 TB set
    * [[graft.functions.Quantiles.ApproxKey]] and the same call site
    * emits approx_percentile (bounded sketch state per source), exactly
    * like p01's cutoffs. */
  def txCcnetBucket(spark: SparkSession, sfDir: String): DataFrame = {
    // Checkpointed + tracked: the cutoffs aggregate AND the final join
    // both consume the scored frame — left lazy, each re-runs the
    // unigram chain's two tokenize passes (PlanAuditSpec's kernel
    // budget caught word_tokens at 6×/plan; the dd_incremental pattern
    // pins it at 2).
    val scored = Sampling.trackScratch(unigramScoreCore(spark, sfDir)
      .select(col("doc_id"), col("avg_tok_ppb"))
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), "doc_id")
      .localCheckpoint(true))
    val cuts = scored.groupBy(col("source"))
      .agg(graft.functions.Quantiles.pctls(spark, "avg_tok_ppb",
        Seq(1.0 / 3, 2.0 / 3)).as("cs"))
      .select(col("source"),
        element_at(col("cs"), 1).as("t1"), element_at(col("cs"), 2).as("t2"))
    scored.join(broadcast(cuts), "source")
      .select(col("doc_id"), col("source"), col("avg_tok_ppb"),
        when(col("avg_tok_ppb") >= col("t2"), "head")
          .when(col("avg_tok_ppb") >= col("t1"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Default per-source mixture weight — a deterministic function of the
    * source name (digits mod 4, in 1..4) so the operator exercises a
    * non-uniform target on the uniform synthetic sources. Production
    * callers derive the weight table from their sampling recipe instead.
    * Spark and DuckDB forms differ only in the integer-literal suffix. */
  private val weightExprSpark =
    "coalesce(try_cast(regexp_extract(source, '[0-9]+', 0) AS BIGINT), 0L) % 4 + 1"
  private val weightExprDuck =
    "coalesce(try_cast(regexp_extract(source, '[0-9]+', 0) AS BIGINT), 0) % 4 + 1"

  /** tx_mix: domain-mixture resampling — downsample sources to match
    * target mixture weights exactly (the data-mixing step every
    * pretraining corpus goes through; weighted/temperature sampling à la
    * multilingual sqrt-scaling). The feasible scale is pinned by the
    * most-underrepresented source: s6 = ⌊10⁶·min_s(count_s/w_s)⌋ and each
    * source keeps its ⌊s6·w_s/10⁶⌋ hash-smallest rows — all-integer, so
    * both engines compute identical keep counts.
    *
    * Scale shape: per-source counts aggregate map-side into a
    * |sources|-row table that broadcasts; row selection is
    * [[Sampling.hashRank]] (256-bucket two-phase rank — no per-source
    * single-task window, same machinery as p05/p23). */
  def txMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val weights = d.groupBy(col("source")).agg(count(lit(1)).as("__c"))
      .selectExpr("source", "__c", s"$weightExprSpark AS __w")
    val scale = weights.agg(min(expr("__c * 1000000L div __w")).as("__s6"))
    val keep = weights.crossJoin(broadcast(scale))
      .selectExpr("source", "__s6 * __w div 1000000L AS __keep_n")
    Sampling.hashRank(
        d.select(col("doc_id"), col("source")), Seq("source"),
        md5(concat(lit("mix#"), col("doc_id").cast("string"))),
        col("doc_id"), "mix_rank")
      .join(broadcast(keep), "source")
      .filter(col("mix_rank") <= col("__keep_n"))
      .select(col("doc_id"), col("source"), col("mix_rank").cast("long").as("mix_rank"))
      .orderBy(col("doc_id"))
  }

  /** tx_repetition: intra-document duplicate-n-gram screens (the Gopher
    * rules the corpus-level ops can't see — a doc that repeats ITSELF):
    * for n ∈ {2,3}, the fraction of n-gram occurrences belonging to the
    * single most frequent n-gram (top) and to any n-gram appearing ≥
    * twice (dup), integer ppm. Runs as one map-only native kernel pass
    * per n ([[graft.functions.NativeExpressions.ngramRepetition]]) — the
    * relational formulation shuffles every (doc, n-gram) posting, this
    * shuffles nothing. Docs with < 2 tokens have no bigrams and are
    * absent (mirror omits them the same way); 2-token docs report
    * n_trigrams = 0 with guarded divisions. */
  def txRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.ngramRepetition
    // one-element higher-order filter instead of a Filter node: pushdown
    // would inline the kernel aliases into the predicate and field
    // extractions (3 kernel passes per row); here each kernel fills the
    // struct once and the lambda tests the materialized element (the
    // p07_clean_topics pattern)
    docs(spark, sfDir)
      .select(col("doc_id"),
        explode(filter(array(struct(
            ngramRepetition(col("text"), 2).as("r2"),
            ngramRepetition(col("text"), 3).as("r3"))),
          s => s("r2")("total") > 0)).as("__rr"))
      .select(col("doc_id"),
        col("__rr.r2").as("__r2"), col("__rr.r3").as("__r3"))
      .selectExpr("doc_id",
        "__r2.total AS n_bigrams",
        "__r2.top * 1000000L div __r2.total AS top2_ppm",
        "__r2.dup * 1000000L div __r2.total AS dup2_ppm",
        "__r3.total AS n_trigrams",
        "__r3.top * 1000000L div greatest(__r3.total, 1L) AS top3_ppm",
        "__r3.dup * 1000000L div greatest(__r3.total, 1L) AS dup3_ppm")
      .transform(Sampling.presentSorted(_, col("doc_id")))
  }

  /** tx_bigram_lm: bigram conditional-frequency scoring — for each
    * adjacent token pair (a,b), cond_ppb = count(ab)·10⁹ div count(a)
    * (integer-exact occurrence counts), aggregated per document as mean
    * and min. The order-sensitive complement to [[txUnigramLm]]: a doc of
    * common words in an improbable ORDER (shuffled boilerplate, spam
    * keyword-stuffing) scores low here while unigram scoring cannot see
    * it. Docs with < 2 tokens have no bigrams and are absent, as in the
    * mirror.
    *
    * Scale shape: both frequency tables aggregate with map-side combine
    * (shuffle ∝ unigram/bigram vocabulary) and broadcast onto the bigram
    * posting stream — corpus scans stay map-only. A web-scale bigram
    * vocabulary can exceed the broadcast cap; the fallback is the same
    * plan with a shuffle join on the bigram key, which AQE can
    * skew-split (a join, not a window — the round-4 posting-list
    * lesson). */
  def txBigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.wordNgrams
    val d = docs(spark, sfDir)
    // native all-occurrence bigram pass — the zip_with(slice, slice,
    // concat) chain this replaces runs an interpreted lambda per token
    val bg = d.select(col("doc_id"), explode(wordNgrams(col("text"), 2)).as("bg"))
    val tfa = d.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tfa"))
    val tfab = bg.groupBy(col("bg")).agg(count(lit(1)).as("tfab"))
    bg.join(broadcast(tfab), "bg")
      .withColumn("tok", element_at(split(col("bg"), " "), 1))
      .join(broadcast(tfa), "tok")
      .selectExpr("doc_id", "tfab * 1000000000L div tfa AS cond_ppb")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("cond_ppb")).as("__sum"), min(col("cond_ppb")).as("min_cond_ppb"))
      .selectExpr("doc_id", "n_bigrams",
        "__sum div n_bigrams AS avg_cond_ppb", "min_cond_ppb")
      .orderBy(col("doc_id"))
  }

  /** cur_verdict: the per-document END-TO-END curation verdict — the
    * drop-list a training pipeline actually consumes. Composes the
    * oracle-gated stages: near-dup dedup decision ([[Dedup.ddDecisions]]),
    * the Gopher rule gate ([[txGopher]]), benchmark contamination
    * ([[TextOps.txContamination]]) plus the benchmark split itself, into
    * one `train_keep` flag (kept representative ∧ passes rules ∧ not
    * contaminated ∧ not a benchmark doc).
    *
    * This standalone builder evaluates the three stages inside its own
    * plan (the `SparkEntry.queries` / oracle form). `graft.Pipeline`
    * runs the stages once, persists them, and feeds the three artifacts
    * to [[curVerdictOf]] instead, when the same run lists them. */
  def curVerdict(spark: SparkSession, sfDir: String): DataFrame =
    curVerdictOf(spark, sfDir, Dedup.ddDecisions(spark, sfDir),
      txGopher(spark, sfDir), TextOps.txContamination(spark, sfDir))

  /** The cur_verdict composition over its three input frames, each with
    * its stage's output columns: `decisions` (dd_decisions: doc_id,
    * component, is_kept), `gopher` (tx_gopher: doc_id, keep) and
    * `contamination` (tx_contamination: doc_id per contaminated pair).
    *
    * Scale shape: dedup ⋈ gopher is a corpus×corpus equi-join on doc_id
    * (AQE-splittable, both sides projected to 2–3 columns); the
    * contaminated-doc set is tiny by construction and broadcasts into a
    * left join. */
  private[graft] def curVerdictOf(spark: SparkSession, sfDir: String,
      decisions: DataFrame, gopher: DataFrame, contamination: DataFrame): DataFrame = {
    val dedup = decisions
      .select(col("doc_id"), col("component"), col("is_kept").as("dedup_keep"))
    val gopherKeep = gopher.select(col("doc_id"), col("keep").as("gopher_keep"))
    // Contaminated-id set: corpus-growing (it is a SUBSET of the
    // corpus), so checkpoint (tiny; also stops the verdict join from
    // re-running the contamination chain) and size-gate the hint.
    val contam = Sampling.trackScratch(Sampling.countedCheckpoint(
      contamination.select(col("doc_id")).distinct()
        .withColumn("__contam", lit(1L))))
    val base = dedup.join(gopherKeep, "doc_id")
      .join(Sampling.gatedBroadcast(contam), Seq("doc_id"), "left")
      .select(col("doc_id"), col("component"), col("dedup_keep"), col("gopher_keep"),
        coalesce(col("__contam"), lit(0L)).as("contaminated"),
        when(col("doc_id") % TextOps.BenchMod === 0, 1L).otherwise(0L).as("is_bench"))
    val gateOn = spark.conf.getOption(ClassifierGateKey).contains("on")
    val gated =
      if (!gateOn) base
      // classifierStats directly, NOT txQualityClassifier: the query
      // entry's presentation checkpoint+sort (Sampling.presentSorted)
      // would be destroyed by this join anyway — joining the raw
      // column algebra skips a tracked localCheckpoint and a sort.
      else base.join(
        classifierStats(docs(spark, sfDir).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("clf_keep")),
        "doc_id")
    gated
      .withColumn("train_keep",
        when(col("dedup_keep") === 1L && col("gopher_keep") === 1L &&
          col("contaminated") === 0L && col("is_bench") === 0L &&
          (if (gateOn) col("clf_keep") === 1L else lit(true)), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Session knob: "on" adds the learned-classifier gate
    * ([[txQualityClassifier]]'s clf_keep) as a fifth conjunct in
    * [[curVerdict]]'s train_keep AND a clf_keep output column. Default
    * off — the oracle-gated cur_verdict row is the rule-gate
    * composition; the classifier is the optional CCNet-style second
    * stage a production stack toggles per-corpus. */
  val ClassifierGateKey = "graft.curation.classifier"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_gopher"     -> (txGopher _),
    "tx_quality_classifier" -> (txQualityClassifier _),
    "tx_quality_train" -> (txQualityTrain _),
    "tx_unigram_lm" -> (txUnigramLm _),
    "tx_ccnet_bucket" -> (txCcnetBucket _),
    "tx_bigram_lm"  -> (txBigramLm _),
    "tx_repetition" -> (txRepetition _),
    "tx_mix"        -> (txMix _),
    "cur_verdict"   -> (curVerdict _))

  // DuckDB mirrors of the shared tokenizer — ONE definition in TextOps:
  // these expressions must match the native wordTokens/tokenSetCount
  // kernels exactly, so Curation reuses them rather than re-spelling.
  private def sqlTokens = TextOps.sqlTokens
  private def sqlStopHits = TextOps.sqlTokenHits(TextOps.EnStops)

  private val gopherSql =
    s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(length($sqlTokens) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS ns,
         |    CAST($sqlStopHits AS BIGINT) AS n_stops,
         |    CAST(length(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS sym
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_words,
         |    ns * 100 // GREATEST(n_words, 1) AS awl_centi,
         |    n_stops,
         |    sym * 1000000 // GREATEST(n_words, 1) AS sym_ppm
         |  FROM q)
         |SELECT doc_id, n_words,
         |  CAST(awl_centi AS BIGINT) AS awl_centi, n_stops,
         |  CAST(sym_ppm AS BIGINT) AS sym_ppm,
         |  CAST(CASE WHEN n_words < $GopherMinWords OR n_words > $GopherMaxWords THEN 1 ELSE 0 END
         |    + CASE WHEN awl_centi < $GopherMinAwlCenti OR awl_centi > $GopherMaxAwlCenti THEN 2 ELSE 0 END
         |    + CASE WHEN n_stops < $GopherMinStops THEN 4 ELSE 0 END
         |    + CASE WHEN sym_ppm > $GopherMaxSymPpm THEN 8 ELSE 0 END AS BIGINT) AS fail_mask,
         |  CAST(CASE WHEN n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
         |    AND awl_centi >= $GopherMinAwlCenti AND awl_centi <= $GopherMaxAwlCenti
         |    AND n_stops >= $GopherMinStops AND sym_ppm <= $GopherMaxSymPpm
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin

  // DuckDB mirror GENERATED from the same weight constants — one tier
  // is one sqlTokenHits counter times its weight, exactly the Spark
  // plan's tokenSetCount sum.
  private def clfTierSql: String = ClfWordTiers.map { case (w, ws) =>
    s"$w * CAST(${TextOps.sqlTokenHits(ws)} AS BIGINT)"
  }.mkString(" + ")

  private val qualityClassifierSql =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(length($sqlTokens) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS ns,
       |    CAST($sqlStopHits AS BIGINT) AS n_stops,
       |    CAST(length(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS sym,
       |    CAST(length(list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) != '')) AS BIGINT) AS n_lines,
       |    CAST(length(list_distinct(list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) != ''))) AS BIGINT) AS n_dlines,
       |    CAST($clfTierSql AS BIGINT) AS word_micro
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_words, word_micro,
       |    CAST($ClfWLenMicro * LEAST(n_words, $ClfLenCap)
       |      + $ClfWStopMicro * (n_stops * 1000000 // GREATEST(n_words, 1))
       |      + ($ClfWDupMicro) * ((n_lines - n_dlines) * 1000000 // GREATEST(n_lines, 1))
       |      + ($ClfWSymMicro) * (sym * 1000000 // GREATEST(n_words, 1))
       |      + ($ClfWAwlMicro) * abs(ns * 100 // GREATEST(n_words, 1) - $ClfAwlCenterCenti) AS BIGINT) AS stat_micro
       |  FROM q)
       |SELECT doc_id, n_words, word_micro, stat_micro,
       |  CAST($ClfBiasMicro + word_micro + stat_micro AS BIGINT) AS logit_micro,
       |  CAST(CASE WHEN $ClfBiasMicro + word_micro + stat_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS clf_keep
       |FROM m ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "tx_gopher" -> gopherSql,
    "tx_quality_classifier" -> qualityClassifierSql,
    "tx_quality_train" ->
      s"""WITH l AS (
         |  SELECT d.text, g.keep
         |  FROM documents d JOIN ($gopherSql) g USING (doc_id)),
         |t AS (SELECT unnest($sqlTokens) AS tok, keep FROM l),
         |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf,
         |    CAST(sum(keep) AS BIGINT) AS tf_keep
         |  FROM t GROUP BY tok),
         |tot AS (SELECT sum(tf) AS t, sum(tf_keep) AS tk FROM tf)
         |SELECT tok, tf, tf_keep,
         |  CAST(CAST(tf_keep AS HUGEINT) * 1000000 // tf
         |    - CAST(tk AS HUGEINT) * 1000000 // t AS BIGINT) AS weight_micro
         |FROM tf CROSS JOIN tot WHERE tf >= $TrainMinTf
         |ORDER BY weight_micro DESC, tok""".stripMargin,
    "tx_unigram_lm" ->
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM t GROUP BY tok),
         |tot AS (SELECT sum(tf) AS total FROM tf),
         |f AS (SELECT tok, CAST(tf * 1000000000 // total AS BIGINT) AS ppb
         |  FROM tf CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(ppb) // count(*) AS BIGINT) AS avg_tok_ppb,
         |  CAST(min(ppb) AS BIGINT) AS min_tok_ppb
         |FROM t JOIN f USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx_ccnet_bucket" ->
      // tx_unigram_lm's score chain verbatim, then per-source tercile
      // cutoffs: quantile_cont == Spark exact percentile (linear
      // interpolation, the p01 equivalence), and the fraction literals
      // are generated from the SAME Scala doubles the Spark side uses.
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM t GROUP BY tok),
         |tot AS (SELECT sum(tf) AS total FROM tf),
         |f AS (SELECT tok, CAST(tf * 1000000000 // total AS BIGINT) AS ppb
         |  FROM tf CROSS JOIN tot),
         |u AS (SELECT doc_id, CAST(sum(ppb) // count(*) AS BIGINT) AS avg_tok_ppb
         |  FROM t JOIN f USING (tok) GROUP BY doc_id),
         |s AS (SELECT u.doc_id, d.source, u.avg_tok_ppb
         |  FROM u JOIN documents d USING (doc_id)),
         |c AS (SELECT source,
         |    quantile_cont(avg_tok_ppb, ${1.0 / 3}) AS t1,
         |    quantile_cont(avg_tok_ppb, ${2.0 / 3}) AS t2
         |  FROM s GROUP BY source)
         |SELECT s.doc_id, s.source, s.avg_tok_ppb,
         |  CASE WHEN s.avg_tok_ppb >= c.t2 THEN 'head'
         |       WHEN s.avg_tok_ppb >= c.t1 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM s JOIN c USING (source) ORDER BY s.doc_id""".stripMargin,
    "tx_repetition" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
         |b2 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))) AS g
         |  FROM t WHERE len(toks) >= 2),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM b2 GROUP BY doc_id, g),
         |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |    CAST(max(c) AS BIGINT) AS top2,
         |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup2
         |  FROM c2 GROUP BY doc_id),
         |b3 AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks) - 1), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS g
         |  FROM t WHERE len(toks) >= 3),
         |c3 AS (SELECT doc_id, g, count(*) AS c FROM b3 GROUP BY doc_id, g),
         |a3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
         |    CAST(max(c) AS BIGINT) AS top3,
         |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3
         |  FROM c3 GROUP BY doc_id)
         |SELECT a2.doc_id, n_bigrams,
         |  CAST(top2 * 1000000 // n_bigrams AS BIGINT) AS top2_ppm,
         |  CAST(dup2 * 1000000 // n_bigrams AS BIGINT) AS dup2_ppm,
         |  COALESCE(n_trigrams, 0) AS n_trigrams,
         |  CAST(COALESCE(top3, 0) * 1000000 // GREATEST(COALESCE(n_trigrams, 0), 1) AS BIGINT) AS top3_ppm,
         |  CAST(COALESCE(dup3, 0) * 1000000 // GREATEST(COALESCE(n_trigrams, 0), 1) AS BIGINT) AS dup3_ppm
         |FROM a2 LEFT JOIN a3 USING (doc_id)
         |ORDER BY a2.doc_id""".stripMargin,
    "tx_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |tfa AS (SELECT tok, count(*) AS tfa
         |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
         |tfab AS (SELECT bg, count(*) AS tfab FROM bg GROUP BY bg),
         |j AS (SELECT b.doc_id, CAST(ab.tfab * 1000000000 // a.tfa AS BIGINT) AS cond_ppb
         |  FROM bg b JOIN tfab ab USING (bg)
         |  JOIN tfa a ON a.tok = string_split(b.bg, ' ')[1])
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(cond_ppb) // count(*) AS BIGINT) AS avg_cond_ppb,
         |  CAST(min(cond_ppb) AS BIGINT) AS min_cond_ppb
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cur_verdict" ->
      s"""WITH d AS (SELECT doc_id, component, is_kept AS dedup_keep
         |  FROM (${Dedup.oracle("dd_decisions")})),
         |g AS (SELECT doc_id, keep AS gopher_keep FROM ($gopherSql)),
         |c AS (SELECT DISTINCT doc_id FROM (${TextOps.oracle("tx_contamination")}))
         |SELECT d.doc_id, d.component, d.dedup_keep, g.gopher_keep,
         |  CAST(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS contaminated,
         |  CAST(CASE WHEN d.doc_id % ${TextOps.BenchMod} = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_bench,
         |  CAST(CASE WHEN d.dedup_keep = 1 AND g.gopher_keep = 1 AND c.doc_id IS NULL
         |    AND d.doc_id % ${TextOps.BenchMod} <> 0 THEN 1 ELSE 0 END AS BIGINT) AS train_keep
         |FROM d JOIN g USING (doc_id) LEFT JOIN c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "tx_mix" ->
      s"""WITH w AS (
         |  SELECT source, $weightExprDuck AS w, count(*) AS c
         |  FROM documents GROUP BY source),
         |sc AS (SELECT min(c * 1000000 // w) AS s6 FROM w),
         |k AS (SELECT source, s6 * w // 1000000 AS keep_n FROM w CROSS JOIN sc),
         |r AS (SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY md5(concat('mix#', CAST(doc_id AS VARCHAR))), doc_id) AS rn
         |  FROM documents)
         |SELECT r.doc_id, r.source, CAST(rn AS BIGINT) AS mix_rank
         |FROM r JOIN k USING (source) WHERE rn <= keep_n
         |ORDER BY r.doc_id""".stripMargin)
}
