package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.functions.{Aggregates, NativeExpressions}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication suite over `documents` / `embeddings` (brief-mandated
  * scale additions; no reference counterpart — design per SURVEY §6).
  *
  * Everything is hash-bucketed — LSH band joins and sign-bucket joins whose
  * fan-in is the dup-cluster / bucket size, never an all-pairs crossJoin —
  * and all hash arithmetic is md5-derived integer math that the DuckDB
  * oracle reproduces digit-for-digit ([[graft.functions.TextFunctions.hexLong]]).
  *
  * MinHash uses the classic two-hash universal family h_i(s) = (a + i·b)
  * mod p (Broder-style) over the two 32-bit halves of one md5 per shingle,
  * so signature cost is one digest per shingle, not one per (seed, shingle).
  */
object Dedup {

  // MinHash parameters: K signatures = BANDS bands × R rows.
  val K = 16
  val P = 4294967291L // largest prime < 2^32

  val JaccardThresholdPpm = 200000L // verified-pair cutoff (J >= 0.2)

  /** Derive the LSH band partition (bands, rows) of the [[K]] signatures
    * for a target Jaccard threshold, via the standard S-curve
    * P(candidate | J = s) = 1 − (1 − sʳ)ᵇ: over every (b, r) with
    * b·r = k, minimize false-positive mass (∫₀ᵗ P ds — candidates the
    * verify join must discard) + false-negative mass (∫ₜ¹ (1−P) ds —
    * true pairs banding never surfaces). This is the selection the
    * datasketch/LSH literature uses; the midpoint quadrature below is
    * exact enough that the argmin is stable (costs differ by ≥10⁻²).
    * At the current t = 0.2, k = 16 the optimum is (8, 2) — the
    * parameters the suite always used, so the derivation reproduces the
    * oracle-gated pair set unchanged (BandingSpec pins both facts). */
  def optimalBanding(thresholdPpm: Long, k: Int = K): (Int, Int) = {
    val t = thresholdPpm / 1e6
    def cost(b: Int, r: Int): Double = {
      val n = 2000
      val h = 1.0 / n
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < n) {
        val s = h * (i + 0.5)
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < t) fp += p * h else fn += (1.0 - p) * h
        i += 1
      }
      fp + fn
    }
    (1 to k).filter(k % _ == 0).map(b => (b, k / b))
      .minBy { case (b, r) => cost(b, r) }
  }

  /** (BANDS, R) derived from the verified-pair threshold — change
    * [[JaccardThresholdPpm]] (or K) and the banding re-derives; the
    * DuckDB oracle reads these same vals, so both engines always band
    * identically. */
  private val derivedBanding = optimalBanding(JaccardThresholdPpm)
  val BANDS: Int = derivedBanding._1
  val R: Int = derivedBanding._2

  /** The 4×8-bit SimHash band keys for a 32-bit fingerprint column — ONE
    * definition shared by the batch blockers (dd_simhash,
    * dd_simhash_clusters, dd_components) and the streaming
    * [[graft.streaming.EventStreams.nearDupPairs]], whose correctness
    * contract is pair-set equality with the batch operator: a band-shape
    * change that doesn't propagate everywhere silently breaks
    * stream/batch parity. */
  def simhashBandKeys(fp: Column): Column =
    array((0 until 4).map { b =>
      concat_ws(":", lit(b), shiftrightunsigned(fp, 8 * b).bitwiseAND(lit(255L)))
    }: _*)
  val HammingMax = 3                // simhash near-dup radius (of 32 bits)
  val CosineThresholdPpm = 250000L  // embedding near-dup cutoff
  val MaxShingleDf = 100            // stop-shingle cap for the inverted index
  val ContainmentThresholdPpm = 800000L // dd_containment cutoff (C >= 0.8)
  val SubstringL = 12               // exact-run length (tokens) for dd_substring
  val MaxSpanDf = 100               // stop-span cap for the span inverted index
  val WinnowK = 3                   // winnowing gram size (tokens)
  val WinnowW = 4                   // winnowing window (guarantee = W+K-1 = 6)
  val WinnowPosBits = 24            // position bits in the tie-break key
  val WinnowOverlapPpm = 500000L    // dd_winnow pair cutoff (>= 50% overlap)
  val MaxFpDf = 100                 // stop-fingerprint cap for dd_winnow


  private val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"

  /** documents.parquet size via one FS metadata call — the same signal
    * InjectRuntimeFilter reads from scan statistics to gate its filters. */
  private def docScanBytes(spark: SparkSession, sfDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  private val shingleCte =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s AS (SELECT doc_id, ${shinglesSql("toks", 3)} AS sh FROM t)""".stripMargin

  /** All ordered pairs (a, b) with a before b from a sorted array — the
    * map-side replacement for a posting×posting self-join. Output is
    * O(|ids|²), so callers must bound the array first (df cap); within
    * that bound it avoids the self-join's double evaluation of the
    * upstream plan and its join shuffle. */
  private[operators] def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("a"), y.as("b")))))

  /** dd_exact: exact dedup on the normalized md5 fingerprint, keep-min-id.
    * One map-side-combinable shuffle on the fingerprint. */
  def ddExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("keep_id"))

  /** dd_softdedup: duplication down-weighting (the SoftDeDup policy —
    * Xue et al. 2024 — instead of dropping): every doc kept, weighted
    * 10⁶ div |its exact-dup cluster| so each distinct content
    * contributes one unit of sampling mass however many times it
    * recurs. The fingerprint projection is computed in ONE text pass
    * and checkpointed (at 100 TB the (id, fp) table is ~0.1% of the
    * corpus; re-deriving it would scan the text twice), then the
    * cluster-size aggregate — map-side-combinable, so hot fingerprints
    * cost one partial per task, never a hot-key window — joins back on
    * the same fp key the groupBy shuffled on. */
  def ddSoftdedup(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = Sampling.trackScratch(Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .localCheckpoint(true))
    val g = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("canonical_id"))
    fp.join(g, "fp")
      .select(col("doc_id"), col("dup_count"),
        expr("1000000L div dup_count").as("weight_ppm"), col("canonical_id"))
      .orderBy(col("doc_id"))
  }

  // Bloom sizing for the verify-join pruning: FP rate only costs pruning
  // efficiency (exact equi-joins run after), never correctness. 1M items
  // in 8M bits ≈ 3% FP; grow both with the expected candidate count.
  val BloomItems = 1000000L
  val BloomBits = 8388608L
  // The bloom path engages only when the documents scan is at least this
  // large — the same heuristic as Spark's own InjectRuntimeFilter
  // (applicationSideScanSizeThreshold, 10 GB default): below it the two
  // pruned rescans are cheaper than the three extra driver sync points
  // the sketch costs (measured: +1.4 s fixed at ≤100k docs, while the
  // saved shingle passes amortize to milliseconds on 32 cores). Override
  // with the conf key for tests / small-cluster tuning.
  val BloomMinScanBytesKey = "spark.graft.bloomPrune.minScanBytes"
  val BloomMinScanBytesDefault = 10L << 30

  /** dd_minhash_lsh: MinHash signatures → LSH band join → verified
    * Jaccard pairs. Shuffles: band-key join + pair distinct + two id
    * joins; band-bucket fan-in ∝ dup-cluster size.
    *
    * Identical texts collapse BEFORE banding (same defense as
    * dd_simhash): candidacy is a function of the signature and verified
    * Jaccard a function of the shingle multiset — both functions of the
    * raw text — so each DISTINCT text is shingled, signed, banded, and
    * verified once, and member pairs expand afterwards from the verified
    * representative pairs (within-group pairs share one group-level
    * Jaccard; cross-group pairs inherit their rep pair's). Output is
    * identical to the per-doc form; band fan-in and verify work scale
    * with distinct content, not replica density, and tokenization of a
    * text with R exact copies is paid once instead of R times.
    *
    * The verify joins rescan the reps for candidates that are a tiny
    * fraction of them, and the shingle arrays — the expensive part —
    * would be computed for EVERY rep only to be dropped at the join
    * probe. A keyless Bloom filter over the candidate ids (bounded
    * sketch ⇒ always broadcastable, where an exact id set might not be)
    * is applied to the rep scan BEFORE the shingle projection, so
    * non-candidates never pay tokenization. The candidate table is
    * eagerly checkpointed: the bloom branch and the verify join would
    * otherwise each re-run the band self-join lineage. Gated on scan
    * size ([[BloomMinScanBytesKey]]) — below the threshold the plain
    * rescans win.
    *
    * The verified COMPACT frames are session-cached — the rep-level
    * pair set and the verified within-group rows, NOT the expanded
    * doc-level pairs: on a replica-dense corpus the expansion is
    * quadratic in group size (the r11 100× run measured the
    * whole-frame cache materializing it at 440 s where streaming the
    * expansion costs nothing), so every consumer (this gate entry,
    * dd_corpus_report's count) re-streams the map-only explode from
    * the cached compact frames instead. At 100 TB the compact frames
    * are what you persist per corpus version; expanded pairs are a
    * stream, never an artifact. */
  def ddMinhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val (groups, repPairs, withinGroups) = minhashPieces(spark, sfDir, cache = true)
    minhashExpand(groups, repPairs, withinGroups)
      .orderBy(col("id_a"), col("id_b"))
  }

  // private[graft]: AggregatesSpec audits the bloom-prune plan shape on
  // this UNCACHED core — the cached gate entry reads LogicalRDDs whose
  // plan strings show nothing (the presentSorted lesson).
  private[graft] def minhashPairsCore(spark: SparkSession, sfDir: String): DataFrame = {
    val (groups, repPairs, withinGroups) = minhashPieces(spark, sfDir, cache = false)
    minhashExpand(groups, repPairs, withinGroups)
  }

  /** The three compact minhash frames: raw-text identity groups
    * (rep_id, ids), verified rep-level cross pairs (id_a, id_b, j_ppm)
    * and verified within-group rows (ids, j_ppm). `cache = true`
    * session-caches each (checkpoint-backed); the verified two are
    * built in ONE pass sharing the shingle source and cached as a pair
    * ([[verifiedPieceCache]] — two separate computeIfAbsent closures
    * would shingle the corpus twice). */
  private def minhashPieces(spark: SparkSession, sfDir: String, cache: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val groups =
      if (cache) cachedFrame(spark, sfDir, "minhash.groups")(minhashGroups(spark, sfDir))
      else minhashGroups(spark, sfDir)
    val (repPairs, withinGroups) =
      if (cache) {
        verifiedPieceCache.keySet.removeIf(_._1.sparkContext.isStopped)
        verifiedPieceCache.computeIfAbsent(
          (spark, sfDir, "minhash", spark.conf.getOption(BloomMinScanBytesKey)),
          _ => minhashVerified(spark, sfDir, groups, materialize = true))
      } else minhashVerified(spark, sfDir, groups, materialize = false)
    (groups, repPairs, withinGroups)
  }

  /** Exact pair COUNTS by identity from the compact frames — the
    * dashboard's form (dd_corpus_report): within-group pairs are
    * Σ C(|ids|,2) over the verified within rows and cross-group pairs
    * are Σ |ids_a|·|ids_b| over the verified rep pairs, so the count
    * never streams the quadratic expansion at all (fp groups are
    * disjoint doc sets — no overlap to correct for). Identical by
    * construction to count(*) over [[ddMinhashLsh]]; PairCountSpec
    * pins the identity against the expanded stream. */
  private[graft] def minhashPairCount(spark: SparkSession, sfDir: String): DataFrame = {
    val (groups, repPairs, withinGroups) = minhashPieces(spark, sfDir, cache = true)
    val sizes = groups.select(col("rep_id"), size(col("ids")).cast("long").as("n"))
    val within = withinGroups
      .select(size(col("ids")).cast("long").as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("c"))
    val cross = repPairs
      .join(sizes.select(col("rep_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("rep_id").as("id_b"), col("n").as("n_b")), "id_b")
      .agg(coalesce(sum(col("n_a") * col("n_b")), lit(0L)).as("c"))
    within.unionByName(cross).agg(sum(col("c")).cast("long").as("n_pairs"))
  }

  /** [[minhashPairCount]]'s simhash twin: Σ C(n_docs,2) over the fp
    * groups plus Σ n_a·n_b over the distinct-fp verified edges. */
  private[graft] def simhashPairCount(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = fpGroups(spark, sfDir).select(col("fp"), col("n_docs"))
    val within = sizes
      .agg(coalesce(sum(expr("n_docs * (n_docs - 1) div 2")), lit(0L)).as("c"))
    val cross = simhashFpEdges(spark, sfDir)
      .join(sizes.select(col("fp").as("fp_a"), col("n_docs").as("n_a")), "fp_a")
      .join(sizes.select(col("fp").as("fp_b"), col("n_docs").as("n_b")), "fp_b")
      .agg(coalesce(sum(col("n_a") * col("n_b")), lit(0L)).as("c"))
    within.unionByName(cross).agg(sum(col("c")).cast("long").as("n_pairs"))
  }

  /** Unpersist a checkpoint-backed frame's blocks (build-time scratch
    * that outlived its consumers — the shingle/candidate checkpoints
    * after the verified compact frames materialize). */
  private def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  private val verifiedPieceCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String, Option[String]), (DataFrame, DataFrame)]()

  private def minhashGroups(spark: SparkSession, sfDir: String): DataFrame = {
    // raw-text identity groups (md5 of the text itself — NOT the
    // normalized dd_exact fingerprint: normalization-equal texts can
    // have different shingle sets and must not merge here)
    Sampling.countedCheckpoint(Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep_id"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("rep_id"), col("ids")))
  }

  /** Verified rep-level cross pairs + verified within-group rows, built
    * in one pass over a shared shingle source (the expensive part). */
  private def minhashVerified(spark: SparkSession, sfDir: String,
      groups: DataFrame, materialize: Boolean): (DataFrame, DataFrame) = {
    // rep-id set broadcasts into the rescan WHEN IT FITS (a shuffle
    // join here moves every text's bytes); its cardinality is
    // distinct-content count, which is corpus-growing, so the hint is
    // size-gated (Sampling.gatedBroadcast — the count reads the eager
    // groups checkpoint). Past the gate the shuffle join is the
    // correct price in-session, and the persisted signature artifact
    // (dd_incremental's build/use split) owns the problem instead.
    val repScan = Tables.documents(spark, sfDir)
      .join(Sampling.gatedBroadcast(groups.select(col("rep_id").as("doc_id"))), "doc_id")
    val shPlain = repScan.select(col("doc_id"),
      NativeExpressions.wordShingles(col("text"), 3).as("sh"))
    val bloomOn = docScanBytes(spark, sfDir) >= spark.conf
      .getOption(BloomMinScanBytesKey).map(_.toLong)
      .getOrElse(BloomMinScanBytesDefault)
    // below the bloom threshold the rep shingle table is small enough to
    // checkpoint once and serve signatures, verify, AND the within-group
    // Jaccard — zero tokenize rescans; above it, stay lazy and prune the
    // rescans instead (shingling everything twice beats holding it all)
    val shCpOpt = if (bloomOn) None else Some(shPlain.localCheckpoint(true))
    // all K signatures in one native pass (one md5 per shingle)
    val sigDf = shCpOpt.getOrElse(shPlain).select(col("doc_id"), col("sh"),
      NativeExpressions.minHashSigs(col("sh"), K, P).as("sigs"))
    val candsPlain = minhashCandidates(sigDf)
    val (cands, verifySrc, candCpOpt) = shCpOpt match {
      case Some(cp) => (candsPlain, cp, None)
      case None =>
        val cpC = candsPlain.localCheckpoint(true)
        val bloom = Aggregates.bloomFilterBytes(
          cpC.select(explode(array(col("id_a"), col("id_b"))).as("id")),
          "id", BloomItems, BloomBits)
        (cpC, repScan
          .filter(Aggregates.mightContain(bloom, col("doc_id")))
          .select(col("doc_id"),
            NativeExpressions.wordShingles(col("text"), 3).as("sh")),
          Some(cpC))
    }
    val sa = verifySrc.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val sb = verifySrc.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val repPairs = cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("j_ppm",
        expr(s"inter * 1000000L div (size(sh_a) + size(sh_b) - inter)"))
      .filter(col("j_ppm") >= JaccardThresholdPpm)
      .select(col("id_a"), col("id_b"), col("j_ppm"))
    // within-group rows: identical texts always share every band, so
    // they are candidates by construction; their Jaccard is the
    // group-level d·10⁶ div (2n − d) (distinct-intersect over raw
    // sizes, same formula as the verify step on two equal multisets —
    // null for shingle-less texts, exactly like the per-doc form).
    // Kept PRE-explode (ids, j_ppm): the pair expansion is quadratic in
    // group size and belongs to the consumer's stream, not a cache.
    val multi = groups.filter(size(col("ids")) >= 2)
    val withinSh = shCpOpt.getOrElse(
      repScan.join(Sampling.gatedBroadcast(multi.select(col("rep_id").as("doc_id"))), "doc_id")
        .select(col("doc_id"),
          NativeExpressions.wordShingles(col("text"), 3).as("sh")))
    val withinGroups = multi
      .join(withinSh.select(col("doc_id").as("rep_id"), col("sh").as("wsh")), "rep_id")
      .withColumn("inter", size(array_distinct(col("wsh"))).cast("long"))
      .withColumn("j_ppm", expr("inter * 1000000L div (2 * size(wsh) - inter)"))
      .filter(col("j_ppm") >= JaccardThresholdPpm)
      .select(col("ids"), col("j_ppm"))
    if (!materialize) (repPairs, withinGroups)
    else {
      // Eager checkpoints for the session cache; once they hold, the
      // build-time shingle/candidate checkpoints are garbage — drop
      // them now rather than pinning shingle arrays in executor
      // storage until the ContextCleaner notices.
      val out = (repPairs.localCheckpoint(true), withinGroups.localCheckpoint(true))
      shCpOpt.foreach(dropCheckpoint)
      candCpOpt.foreach(dropCheckpoint)
      out
    }
  }

  /** Doc-level pair expansion from the compact frames — map-only
    * explodes, output-bound, re-streamed per consumer (never cached).
    *
    * Cross-group member pairs inherit their rep pair's Jaccard (all
    * members share their rep's shingle multiset). NO broadcast hint on
    * either side: the verified pair set is corpus-growing (an
    * unconditional hint is the r15 dd_simhash abort class), the
    * members table's ids arrays sum to every doc_id in the corpus, and
    * both inputs are compact session frames whose shuffle is
    * negligible next to the explode output — so AQE's runtime-stats
    * decision (broadcast when the pair set measures small, shuffle
    * when it doesn't) is exactly the right plan at every scale. The
    * a-side explodes before the b-side join, so that join is a plain
    * shuffle join both of whose inputs are bounded by the final output
    * size (pairs × group members). */
  private def minhashExpand(groups: DataFrame, repPairs: DataFrame,
      withinGroups: DataFrame, valueCol: String = "j_ppm"): DataFrame = {
    val crossA = groups.select(col("rep_id").as("id_a"), col("ids").as("ids_a"))
      .join(repPairs, "id_a")
      .select(col("id_b"), explode(col("ids_a")).as("da"), col(valueCol))
    val cross = groups.select(col("rep_id").as("id_b"), col("ids").as("ids_b"))
      .join(crossA, "id_b")
      .select(col("da"), explode(col("ids_b")).as("db"), col(valueCol))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col(valueCol))
    val within = withinGroups
      .select(explode(pairsOf(col("ids"))).as("p"), col(valueCol))
      .select(col("p").getField("a").as("id_a"),
        col("p").getField("b").as("id_b"), col(valueCol))
    within.unionByName(cross)
  }

  /** Session cache of a verified near-dup PAIR frame — now used only by
    * dd_ngram_jaccard, whose pairs come straight off the df-capped
    * posting index with no member expansion (the df cap already bounds
    * the output, so the frame is safe to materialize; the
    * expansion-bearing methods cache COMPACT frames instead — see
    * [[ddMinhashLsh]] / [[ddSimhash]]). Keyed per session (dead
    * sessions evicted on access), corpus dir, method tag, and the
    * bloom-prune conf (a pruned build and an unpruned one have
    * identical VALUES, but the key keeps plan-audit runs honest about
    * which shape they measure). */
  private val pairFrameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, Option[String]), DataFrame]()

  private def cachedPairs(spark: SparkSession, sfDir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    pairFrameCache.keySet.removeIf(_._1.sparkContext.isStopped)
    pairFrameCache.computeIfAbsent(
      (spark, sfDir, tag, spark.conf.getOption(BloomMinScanBytesKey)),
      _ => build.localCheckpoint(true))
  }

  /** dd_ngram_jaccard: exact shingle-Jaccard pairs via the inverted index
    * with a stop-shingle df cap bounding the worst-case fan-in at scale.
    *
    * The plan is shaped so the shingle arrays — the expensive part:
    * higher-order-function lambdas evaluate interpreted, ~µs per token —
    * are computed exactly ONCE: doc sizes ride along on each posting row
    * (no separate sizes join), and pairs explode map-side from the
    * per-shingle id list, which the df cap has already bounded to
    * [[MaxShingleDf]] — never a posting×posting self-join (which would
    * re-evaluate the whole upstream twice).
    *
    * The df cap is enforced INSIDE the aggregation by
    * [[graft.functions.CollectBounded]] — a count window on the shingle
    * key (the round-4 shape) moves ALL postings of one shingle into a
    * single task before the filter can discard them, and a groupBy-df +
    * join-back pays a second tokenize+shingle pass. The bounded collect
    * keeps ≤ [[MaxShingleDf]]+1 structs of state per key in the map-side
    * partial aggregate, the shuffle, and the final merge, and evaluates
    * overflowing keys (stop shingles) to NULL — one scan, one shuffle to
    * the pair stage, hot-key cost O(cap) no matter how many documents
    * share a boilerplate shingle. */
  def ddNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    cachedPairs(spark, sfDir, "ngram") {
      // replica-collapsed blocker (r16) — the cached frame is the
      // thresholded compact output, sorted by the gate entry below
      ddNgramJaccardOf(spark, Tables.documents(spark, sfDir))
    }.orderBy(col("id_a"), col("id_b"))

  /** [[ddNgramJaccard]] over any (doc_id, text) frame — the
    * SubstringCollapseSpec differential seam. */
  private[graft] def ddNgramJaccardOf(spark: SparkSession, docs: DataFrame): DataFrame =
    collapsedBoundedPairs(spark, docs,
      itemsOf = NativeExpressions.wordShingles(_, 3), cap = MaxShingleDf,
      textFilter =
        expr("inter * 1000000L div (n_a + n_b - inter)") >= JaccardThresholdPpm,
      sortCols = Seq("id_a", "id_b"), presentSorted = false)(
      _.withColumn("j_ppm", expr("inter * 1000000L div (n_a + n_b - inter)"))
        .select(col("id_a"), col("id_b"), col("inter"), col("j_ppm")))

  /** dd_minhash_estimate: the verify-free half of the MinHash story —
    * Jaccard ESTIMATED from signature agreement (matching positions / K)
    * for every banding candidate pair, no second corpus pass. This is
    * the 100 TB knob dd_minhash_lsh's verify rescan trades against:
    * signatures are K longs per doc (the corpus text is never re-read),
    * the estimator is unbiased (P[sig match] = J) with stderr
    * √(J(1−J)/K) — coarse at K=16 but free; use the verified operator
    * when exact pair scores matter. Shuffle shape: band join on the
    * band key + two joins against the K-long signature table — all
    * fan-in ∝ candidate count, never corpus size. */
  /** The LSH band keys of a `sigs` signature array — ONE definition
    * shared by [[ddMinhashLsh]] and [[ddMinhashEstimate]] (same lesson
    * as [[simhashBandKeys]]: a band-shape change that doesn't propagate
    * everywhere silently desynchronizes the operators or their
    * oracles). */
  private[graft] def minhashBandKeys: Column =
    array((0 until BANDS).map { b =>
      concat_ws(":", lit(b) +: (0 until R).map(r =>
        element_at(col("sigs"), b * R + r + 1)): _*)
    }: _*)

  /** Banding candidate pairs (id_a < id_b, distinct) from a
    * (doc_id, …, sigs) signature table — the shared blocker stage of the
    * two MinHash operators. */
  private def minhashCandidates(sigDf: DataFrame): DataFrame = {
    val bands = sigDf.select(col("doc_id"), explode(minhashBandKeys).as("bk"))
    bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  def ddMinhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    // Identical texts collapse BEFORE signing (r12 verdict item 3 — the
    // last corpus-sized signature frame in the suite; the same defense
    // as ddMinhashLsh/ddSimhash): a signature is a function of the raw
    // text, so each DISTINCT text is shingled, signed, and banded once
    // over the session-shared identity groups, and member pairs expand
    // afterwards — within-group pairs match on all K positions by
    // identity (est = 10⁶ exactly), cross-group pairs inherit their rep
    // pair's count. Output identical to the per-doc form
    // (ReplicaCollapseSpec differential); the signature checkpoint is
    // distinct-content-sized instead of corpus-sized, which also stops
    // this row leaning on executor storage the session caches share.
    val groups = cachedFrame(spark, sfDir, "minhash.groups")(minhashGroups(spark, sfDir))
    // same size-gated rep-scan hint as minhashVerified (groups is the
    // eager session checkpoint, so the gate's count is cheap)
    val repSig = Sampling.trackScratch(Tables.documents(spark, sfDir)
      .join(Sampling.gatedBroadcast(groups.select(col("rep_id").as("doc_id"))), "doc_id")
      .select(col("doc_id"), NativeExpressions.minHashSigs(
        NativeExpressions.wordShingles(col("text"), 3), K, P).as("sigs"))
      .localCheckpoint(true))
    val cands = minhashCandidates(repSig)
    // native positionwise matcher: the zip_with+aggregate HOF ran an
    // interpreted lambda per pair over the K-long arrays — the hot cost
    // of this operator's pair-quadratic output at replica densities
    val matches = NativeExpressions.sigMatches(col("sa"), col("sb"))
    val repPairs = cands
      .join(repSig.select(col("doc_id").as("id_a"), col("sigs").as("sa")), "id_a")
      .join(repSig.select(col("doc_id").as("id_b"), col("sigs").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), matches.as("matching_sigs"))
    val within = groups.filter(size(col("ids")) >= 2)
      .select(col("ids"), lit(K.toLong).as("matching_sigs"))
    minhashExpand(groups, repPairs, within, "matching_sigs")
      .withColumn("est_j_ppm", expr(s"matching_sigs * 1000000L div $K"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** dd_incremental: dedup an INCOMING batch against an EXISTING corpus
    * — the production increment shape (daily batch vs corpus) the
    * whole-corpus blockers don't cover: the corpus is never self-paired;
    * only batch×corpus candidates are generated. Batch = every 10th doc
    * (deterministic stand-in for the arriving partition). Each new doc
    * gets a verdict: `exact` (normalized-fingerprint match; match_id =
    * smallest base holder), `near` (best verified-Jaccard banding
    * candidate ≥ threshold), or `new`. Scale shape: the exact path is
    * one fingerprint equi-join; the near path joins the BATCH's band
    * keys against the corpus band table — fan-in ∝ batch size × bucket
    * occupancy, never corpus². At 100 TB the corpus signature/band
    * table is a persisted index (built once, like the
    * [[ddMinhashEstimate]] checkpoint) and the batch side broadcasts.
    * Streaming counterpart: dedupDocs / dedupUpsertParquet cover the
    * exact path; this adds the near-dup increment. */
  def ddIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val newP = col("doc_id") % 10 === 0
    // Shape decision from MEASURED replica density (the r5 "decide from
    // data" rule): one map-side-combinable probe aggregate — count +
    // approx distinct of the text hash, no shuffle of ids, no text
    // moved — tells us whether texts repeat. The r16 gate keyed the
    // large-corpus path on docScanBytes, which a verbatim-replica
    // corpus DEFEATS: 100 identical copies compress ~100×, so the 100×
    // stress corpus (5M docs) read as 55 MB and the scale path stayed
    // dark exactly where it mattered. Density is the signal the
    // collapse actually trades on.
    val (nDocs, nDistinct) = Sampling.textDensity(Tables.documents(spark, sfDir))
    val bloomOn = docScanBytes(spark, sfDir) >= spark.conf
      .getOption(BloomMinScanBytesKey).map(_.toLong)
      .getOrElse(BloomMinScanBytesDefault)
    if (nDocs < 2L * nDistinct && !bloomOn) {
      // Low-duplication, small-corpus path — ONE text pass (the
      // [[ddMinhashEstimate]] lesson): fingerprint + shingles +
      // signatures checkpointed together; both increment sides derive
      // from the materialized table, so the band join and the two
      // verify joins never re-tokenize. Below the bloom threshold the
      // whole table (shingles included) fits executor storage easily
      // and the extra rescan machinery would only add driver sync
      // points.
      val sig = Sampling.trackScratch(signatureDf(spark, sfDir).localCheckpoint(true))
      incrementalAgainst(sig.filter(newP),
        sig.filter(!newP).withColumnRenamed("doc_id", "b_id"))
    } else if (nDocs < 2L * nDistinct) {
      // Low-duplication LARGE corpus (scan past [[BloomMinScanBytesKey]]
      // with nothing to collapse): keep the per-document shape but never
      // materialize a corpus of shingle arrays — the checkpoint holds
      // fp + sigs only, candidates come from signatures alone, and a
      // Bloom over candidate ids prunes the one verification rescan so
      // only candidate docs are re-tokenized.
      val slim = Sampling.trackScratch(Sampling.countedCheckpoint(
        signatureDf(spark, sfDir).select(col("doc_id"), col("fp"), col("sigs"))))
      val batch = slim.filter(newP)
      val corpus = slim.filter(!newP).withColumnRenamed("doc_id", "b_id")
      val exact = incrementalExact(batch, corpus)
      // eager: the bloom build and the verify join both read it
      val cand = Sampling.trackScratch(Sampling.countedCheckpoint(
        incrementalCands(batch, corpus)))
      val bloom = graft.functions.Aggregates.bloomFilterBytes(
        cand.select(explode(array(col("doc_id"), col("b_id"))).as("id")),
        "id", BloomItems, BloomBits)
      val candSh = Sampling.trackScratch(Sampling.countedCheckpoint(
        Tables.documents(spark, sfDir)
          .filter(graft.functions.Aggregates.mightContain(bloom, col("doc_id")))
          .select(col("doc_id"),
            NativeExpressions.wordShingles(col("text"), 3).as("sh"))))
      val nearAll = incrementalNear(cand,
        candSh.select(col("doc_id"), col("sh").as("sh_n")),
        candSh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")))
      incrementalVerdicts(batch.select(col("doc_id")), exact, nearAll)
    } else {
      // Duplicate-heavy path (avg ≥ 2 copies per text): REPLICA
      // COLLAPSE. Every verdict ingredient is a function of the TEXT —
      // fp, sigs, and shingles all derive from it — and on a
      // duplicate-heavy corpus the per-document band join generates
      // batch×corpus candidates QUADRATIC in replica count (every
      // batch member of an R-clique banded against every corpus
      // member: the r16 verdict's 144.9 s standalone cold pass, and
      // the full-signature checkpoint additionally materialized every
      // document's shingle arrays). Each DISTINCT text is
      // tokenized/signed once; banding, exact matching and Jaccard
      // verification run over distinct texts; and per-doc verdicts
      // expand at the end through the SHARED [[incrementalVerdicts]]
      // assembly. Doc-level equivalence of the best-candidate pick:
      // all corpus docs of a text T' share one j_ppm, so the doc-level
      // (j desc, b_id asc) winner is the max over matching texts of
      // (j, -min_corpus_id) — the exact struct max below
      // (IncrementalCollapseSpec pins it against the naive form).
      val groups = Sampling.trackScratch(Sampling.countedCheckpoint(
        Tables.documents(spark, sfDir)
          .groupBy(md5(col("text")).as("tkey"))
          .agg(min(col("doc_id")).as("rep_id"),
            sort_array(collect_list(when(newP, col("doc_id")))).as("batch_ids"),
            min(when(!newP, col("doc_id"))).as("min_corpus_id"))))
      // one text pass over DISTINCT texts (gated rep-id broadcast keeps
      // the scan map-side); distinct-content-sized, so storing the
      // shingle arrays is cheap here — unlike the corpus-sized per-doc
      // checkpoint this path replaces
      val sig = Sampling.trackScratch(Sampling.countedCheckpoint(
        Tables.documents(spark, sfDir)
          .join(Sampling.gatedBroadcast(groups.select(
            col("rep_id").as("doc_id"), col("tkey"),
            (size(col("batch_ids")) > 0).as("hasBatch"), col("min_corpus_id"))),
            "doc_id")
          .select(col("tkey"), col("hasBatch"), col("min_corpus_id"),
            fingerprint(col("text")).as("fp"),
            NativeExpressions.wordShingles(col("text"), 3).as("sh"))
          .withColumn("sigs", NativeExpressions.minHashSigs(col("sh"), K, P))))
      val batchT = sig.filter(col("hasBatch"))
      val corpusT = sig.filter(col("min_corpus_id").isNotNull)
      // exact: smallest corpus holder per normalized fingerprint
      // (fp-equal TEXTS can differ, so the min runs across the fp group)
      val exactT = batchT.select(col("tkey"), col("fp"))
        .join(corpusT.groupBy(col("fp"))
          .agg(min(col("min_corpus_id")).as("exact_match")), "fp")
        .select(col("tkey"), col("exact_match"))
      // banding + verification over distinct texts; each matching
      // corpus text is represented by its smallest corpus doc id
      val candT = batchT.select(col("tkey").as("doc_id"), col("sigs"))
        .select(col("doc_id"), explode(minhashBandKeys).as("bk"))
        .join(corpusT.select(col("tkey").as("b_id"), col("sigs"))
          .select(col("b_id"), explode(minhashBandKeys).as("bk")), "bk")
        .select(col("doc_id"), col("b_id")).distinct()
      val nearT = incrementalNear(candT,
          batchT.select(col("tkey").as("doc_id"), col("sh").as("sh_n")),
          corpusT.select(col("tkey").as("b_id"), col("sh").as("sh_b"),
            col("min_corpus_id")))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("j_ppm"), (-col("min_corpus_id")).as("nb"))).as("best"))
        .select(col("doc_id").as("tkey"),
          (-col("best.nb")).as("b_id"), col("best.j_ppm").as("j_ppm"))
      // per-doc expansion through the shared verdict assembly (one near
      // row per batch doc, so its window picks it trivially)
      val batchGroups = groups.filter(size(col("batch_ids")) > 0)
      def expand(tcols: DataFrame, out: Seq[String]): DataFrame =
        batchGroups.select(col("tkey"), col("batch_ids")).join(tcols, "tkey")
          .select(explode(col("batch_ids")).as("doc_id") +: out.map(col): _*)
      incrementalVerdicts(
        batchGroups.select(explode(col("batch_ids")).as("doc_id")),
        expand(exactT, Seq("exact_match")),
        expand(nearT, Seq("b_id", "j_ppm")))
    }
  }

  /** Exact fingerprint matches: smallest base holder per batch doc. */
  private def incrementalExact(batchSig: DataFrame, corpusSig: DataFrame): DataFrame =
    batchSig.select(col("doc_id"), col("fp"))
      .join(corpusSig.select(col("b_id"), col("fp")), "fp")
      .groupBy(col("doc_id")).agg(min(col("b_id")).as("exact_match"))

  /** Banding candidates of a batch against a corpus signature table —
    * fan-in ∝ batch size × bucket occupancy, never corpus². */
  private def incrementalCands(batchSig: DataFrame, corpusSig: DataFrame): DataFrame =
    batchSig.select(col("doc_id"), col("sigs"))
      .select(col("doc_id"), explode(minhashBandKeys).as("bk"))
      .join(corpusSig.select(col("b_id"), col("sigs"))
        .select(col("b_id"), explode(minhashBandKeys).as("bk")), "bk")
      .select(col("doc_id"), col("b_id")).distinct()

  /** Jaccard verification of candidate pairs given the two shingle
    * sources — ONE definition for every increment path, so the verify
    * arithmetic cannot drift. */
  private def incrementalNear(cand: DataFrame, shN: DataFrame, shB: DataFrame): DataFrame =
    cand.join(shN, "doc_id").join(shB, "b_id")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_b"))).cast("long"))
      .withColumn("j_ppm",
        expr("inter * 1000000L div (size(sh_n) + size(sh_b) - inter)"))
      .filter(col("j_ppm") >= JaccardThresholdPpm)

  /** The batch-vs-corpus increment over two SIGNATURE tables — ONE
    * construction shared by [[ddIncremental]]'s small-corpus path (both
    * sides from one in-session text pass) and
    * [[incrementalFromArtifact]] (corpus side from the persisted
    * index). `batchSig` is (doc_id, fp, sh, sigs); `corpusSig` is
    * (b_id, fp, sh, sigs). One exact fingerprint equi-join, one
    * band-key equi-join, Jaccard verification on candidates only, then
    * the shared verdict assembly. */
  private def incrementalAgainst(batchSig: DataFrame, corpusSig: DataFrame): DataFrame =
    incrementalVerdicts(batchSig.select(col("doc_id")),
      incrementalExact(batchSig, corpusSig),
      incrementalNear(incrementalCands(batchSig, corpusSig),
        batchSig.select(col("doc_id"), col("sh").as("sh_n")),
        corpusSig.select(col("b_id"), col("sh").as("sh_b"))))

  /** Per-doc dedup signatures (fingerprint, distinct 3-gram shingles,
    * MinHash signature) in one text pass — the projection behind
    * [[ddIncremental]], [[writeSignatureArtifact]], and the batch side
    * of [[incrementalFromArtifact]]. */
  private def signatureDf(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        NativeExpressions.wordShingles(col("text"), 3).as("sh"))
      .withColumn("sigs", NativeExpressions.minHashSigs(col("sh"), K, P))

  /** Shared verdict assembly for [[ddIncremental]] and
    * [[incrementalFromArtifact]]: pick each batch doc's best near
    * candidate (highest verified Jaccard, ties → smallest base id) and
    * resolve exact > near > new. The window partitions on the batch doc
    * id — state per task is one batch doc's candidate list. */
  private[graft] def incrementalVerdicts(batchIds: DataFrame, exact: DataFrame,
      nearAll: DataFrame): DataFrame = {
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("j_ppm").desc, col("b_id"))
    val near = nearAll.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("b_id").as("near_match"), col("j_ppm").as("near_j"))
    batchIds
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("method"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"),
        when(col("exact_match").isNotNull, lit(1000000L))
          .otherwise(coalesce(col("near_j"), lit(0L))).as("j_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Index BUILD for the incremental path: per-doc dedup signatures —
    * normalized fingerprint, 3-gram shingle set, MinHash signature — as
    * one parquet artifact. This is the persisted corpus index
    * [[ddIncremental]]'s contract promises: built ONCE per corpus
    * version in a single text pass; every arriving batch then dedups
    * against it ([[incrementalFromArtifact]]) without the corpus ever
    * being re-tokenized. The artifact is O(corpus) rows but each row is
    * signatures only (no text) — at 100 TB it is the table you bucket
    * by band key / fingerprint so batch joins prune to matching
    * buckets. */
  def writeSignatureArtifact(spark: SparkSession, sfDir: String, path: String): Unit =
    signatureDf(spark, sfDir).write.mode("overwrite").parquet(path)

  /** Index USE: [[ddIncremental]]'s batch-vs-corpus verdicts with the
    * corpus side read from a [[writeSignatureArtifact]] parquet — the
    * only tokenize/minhash pass is over the arriving batch; the corpus
    * contributes pre-computed fp/band/shingle columns straight from the
    * scan. Verdicts are identical to the in-session operator (pinned by
    * PipelineSpec's round-trip test). */
  def incrementalFromArtifact(spark: SparkSession, sfDir: String,
      artifactPath: String): DataFrame = {
    val newP = col("doc_id") % 10 === 0
    // The only text pass is the arriving batch's (checkpointed — the
    // band join and the verify join both read it); the corpus
    // contributes pre-computed signature columns straight from the scan.
    incrementalAgainst(
      Sampling.trackScratch(signatureDf(spark, sfDir).filter(newP).localCheckpoint(true)),
      spark.read.parquet(artifactPath).filter(!newP)
        .withColumnRenamed("doc_id", "b_id"))
  }

  /** dd_substring: exact long-run substring duplication — pairs of
    * documents sharing at least one identical [[SubstringL]]-token run,
    * with the count of distinct shared runs. This is the "repeated long
    * span" signal of suffix-array training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better")
    * re-expressed relationally: a shared L-token window IS a shared
    * L-shingle, so the span inverted index replaces the suffix array and
    * the same [[graft.functions.CollectBounded]] df cap bounds hot-span
    * fan-in (a boilerplate span shared by > [[MaxSpanDf]] docs is a
    * stop-span — at that density the EXACT-dup collapse dd_exact /
    * dd_simhash_clusters already handles the cluster). Distinct from
    * dd_ngram_jaccard: that scores whole-document shingle-set overlap
    * (near-dup), this finds verbatim long passages between otherwise
    * different documents (quotation/boilerplate/copy-paste), which
    * 3-gram Jaccard at 20% can't see. One shingle pass, one bounded
    * aggregation, map-side pair explode — same scale shape as the other
    * blockers, never a posting self-join. */
  def ddSubstring(spark: SparkSession, sfDir: String): DataFrame =
    ddSubstringPairs(spark, sfDir, MaxSpanDf)

  /** [[ddSubstring]] at an arbitrary span-df cap — the seam
    * [[graft.SpanCapCurve]] sweeps to measure the cap-vs-recall curve
    * behind the [[MaxSpanDf]] default (SPANCAP record in BASELINE.md).
    * A pair (a, b) is found iff SOME shared span has df ≤ cap, so a
    * larger cap finds a strict superset of pairs — recall against the
    * converged-cap truth is a plain count ratio.
    *
    * r16 rewrite: the blocker runs over DISTINCT texts (the
    * dd_simhash/dd_minhash replica collapse — shared spans are a
    * function of the token sequence, so identical texts contribute one
    * posting row per distinct span, weighted by occurrence count m and
    * group size g). The r15 form indexed per-DOCUMENT occurrences, so
    * at the 100x verbatim-replica corpus every span's posting list and
    * every pair's explode multiplied by R² — 389.6 s first-pass and the
    * slowest stress row (r15 verdict task 3). Semantics are UNCHANGED
    * (the DuckDB oracle still computes the per-document form): a span's
    * doc-unit df is Σ_texts g·m, the stop-span cap applies to that
    * exact quantity, and a doc pair's n_spans = Σ_rare-spans m_a·m_b —
    * within-text pairs get Σ m², cross-text pairs m_x·m_y — identical
    * to counting occurrence pairs per document. Doc-level pairs then
    * expand output-bound from the compact text-pair frame with the
    * r15 dd_simhash budgeting: closed-form pair count -> repartition
    * to ceil(bytes/128 MB), size-gated broadcasts, range-partitioned
    * presentation sort, [[Sampling.PresentationKey]] skip. */
  private[graft] def ddSubstringPairs(spark: SparkSession, sfDir: String,
      cap: Int): DataFrame =
    ddSubstringOf(spark, Tables.documents(spark, sfDir), cap)

  /** [[ddSubstringPairs]] over any (doc_id, text) frame — the seam
    * SubstringCollapseSpec differentials against the naive per-document
    * formulation on a replica-dense fixture. */
  private[graft] def ddSubstringOf(spark: SparkSession, docs: DataFrame,
      cap: Int): DataFrame =
    // wordShingles' short-text fallback emits the WHOLE document as one
    // shingle — fine for Jaccard set overlap, but here it would report
    // two identical 8-token docs as sharing a "12-token run" that does
    // not exist. Docs shorter than the run length cannot contain one:
    // out by definition (the oracle guards identically on len(toks)).
    // The guard runs per REP (group members are byte-identical).
    collapsedBoundedPairs(spark, docs,
      itemsOf = NativeExpressions.wordShingles(_, SubstringL), cap = cap,
      textKeep = rtext => size(NativeExpressions.wordTokens(rtext)) >= SubstringL,
      textFilter = lit(true), sortCols = Seq("id_a", "id_b"))(
      _.select(col("id_a"), col("id_b"), col("inter").as("n_spans")))

  /** The replica-collapsed, df-capped pair blocker shared by the
    * inverted-index pair family (dd_substring / dd_ngram_jaccard /
    * dd_containment / dd_winnow) — the dd_simhash/dd_minhash
    * identical-text collapse applied to posting lists (r16; the
    * per-DOCUMENT form multiplied every posting list and pair explode
    * by replica-factor² on duplicate-heavy corpora: dd_substring
    * 389.6 s -> 40.3 at the 100× verbatim corpus).
    *
    * Every member of an identical-text group has the same item array
    * (`itemsOf` is a function of the text), so each DISTINCT text is
    * itemized once; a posting row carries (text, group size g, item
    * count n, occurrence multiplicity m) and an item's DOC-unit df is
    * Σ g·m — the per-document oracle's occurrence count, so the stop-
    * item cap semantics are UNCHANGED. Collecting up to `cap` TEXT
    * entries per item suffices (each contributes ≥ 1 occurrence: an
    * overflowed collect means df > cap, the same stop-item either
    * way). Text-level pair weights inter = Σ_capped-items m_x·m_y
    * (the i ≤ j self row carries the within-group weight Σ m²) equal
    * the per-document occurrence-pair counts; `textFilter` prunes
    * TEXT-level pairs (columns inter, n_a, n_b — it must be SYMMETRIC
    * in a/b, since doc-pair orientation is least/greatest) BEFORE the
    * quadratic doc expansion, which is output-budgeted the r15
    * dd_simhash way: closed-form pair count -> repartition to
    * ceil(bytes/128 MB), nDocs-gated broadcasts, range-partitioned
    * presentation sort behind [[Sampling.PresentationKey]].
    * `project` maps the expanded (id_a, id_b, inter, n_a, n_b) frame
    * (n follows the doc through the swap) to the operator's output.
    * CONTRACT: `project` must be a NARROW row-wise transform
    * (select/withColumn/filter only — no aggregate, join, repartition
    * or sort): on the pre-ranged presentation branch it is applied
    * ABOVE the range exchange, and a wide transform there would
    * silently destroy the range partitioning the sorted output
    * depends on (every current caller is a bare select/withColumn;
    * SubstringCollapseSpec's order pins cover them — a new caller
    * must keep the contract or use `presentSorted = false`).
    * `presentSorted = false` skips the final sort for callers that
    * cache the compact frame and sort outside. */
  private[graft] def collapsedBoundedPairs(spark: SparkSession,
      docs: DataFrame, itemsOf: Column => Column, cap: Int,
      textKeep: Column => Column = _ => lit(true),
      textFilter: Column, sortCols: Seq[String],
      presentSorted: Boolean = true)(
      project: DataFrame => DataFrame): DataFrame = {
    import graft.functions.Aggregates.collectBounded
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("tkey"), col("text"))
    // compact (doc_id, tkey) corpus frame — the simhash fpDf analogue;
    // checkpointed: consumed by the gate's count, the within self-join
    // and both cross expansions.
    val tidDf = Sampling.trackScratch(Sampling.countedCheckpoint(
      keyed.select(col("doc_id"), col("tkey"))))
    // served from the countedCheckpoint memo — the materializing scan
    // IS the count job (the eager-checkpoint + count form paid two)
    val nDocs = Sampling.knownRowCount(tidDf).getOrElse(tidDf.count())
    val maxBroadcastRows = Sampling.broadcastMaxRows(spark)
    // one size-gate decision for every corpus-cardinality hint below
    // (each gated frame is ≤ nDocs rows) — the ddSimhashPairs pattern
    def gated(df: DataFrame): DataFrame =
      if (nDocs <= maxBroadcastRows) broadcast(df) else df
    // distinct texts with group size; any member's text is the rep
    // (members are byte-identical, so first() is deterministic)
    val textGroups = keyed.groupBy(col("tkey"))
      .agg(count(lit(1)).as("g"), first(col("text")).as("rtext"))
      .filter(textKeep(col("rtext")))
      .select(col("tkey"), col("g"), itemsOf(col("rtext")).as("items"))
    // rep-level posting with per-text occurrence multiplicity m and
    // item count n (= the per-doc n of every group member)
    val post = textGroups
      .select(col("tkey"), col("g"), size(col("items")).cast("long").as("n"),
        explode(col("items")).as("s"))
      .groupBy(col("s"), col("tkey"), col("g"), col("n"))
      .agg(count(lit(1)).as("m"))
    val perItem = post.groupBy(col("s"))
      .agg(sort_array(collectBounded(
        struct(col("tkey"), col("g"), col("n"), col("m")), cap)).as("ts"))
      .filter(col("ts").isNotNull)
      .filter(expr(s"aggregate(ts, 0L, (a, t) -> a + t.g * t.m) <= ${cap}L"))
    // text-level pair stats, checkpointed: the budget action, the
    // within path and the cross path all read the compact frame
    val textPairs = Sampling.trackScratch(perItem
      .select(explode(flatten(transform(col("ts"), (x, i) =>
        transform(slice(col("ts"), i + lit(1), size(col("ts"))),
          y => struct(x.getField("tkey").as("ka"), y.getField("tkey").as("kb"),
            (x.getField("m") * y.getField("m")).as("w"),
            x.getField("g").as("ga"), y.getField("g").as("gb"),
            x.getField("n").as("na"), y.getField("n").as("nb")))))).as("p"))
      .groupBy(col("p.ka").as("ka"), col("p.kb").as("kb"))
      .agg(sum(col("p.w")).as("inter"),
        first(col("p.ga")).as("ga"), first(col("p.gb")).as("gb"),
        first(col("p.na")).as("n_a"), first(col("p.nb")).as("n_b"))
      .filter(textFilter)
      // LAZY: the closed-form budget aggregate right below is the
      // first action and materializes every partition as it scans —
      // same single computation as the eager form minus one job
      .localCheckpoint(false))
    // output-scale budgeting (the r15 dd_simhash pattern): exact pair
    // count in closed form over the compact frame, Long-safe division
    val totalPairs = textPairs.select(
        when(col("ka") === col("kb"), expr("ga * (ga - 1) div 2"))
          .otherwise(col("ga") * col("gb")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0)
    val pairsPerTask = (128L << 20) / 40L
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(defaultParts.toLong,
      math.min(Int.MaxValue.toLong, totalPairs / pairsPerTask + 1)).toInt
    // within-text doc pairs: identical docs share every capped item;
    // the probe side is the corpus (doc_id, tkey) frame, so
    // parallelism matches its scan (the simhash within shape)
    val selfW = textPairs.filter(col("ka") === col("kb") && col("ga") >= 2)
      .select(col("ka").as("tkey"), col("inter"), col("n_a"))
    val within = tidDf.join(gated(selfW), "tkey").as("x")
      .join(gated(tidDf.as("y")),
        col("x.tkey") === col("y.tkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.inter").as("inter"),
        col("x.n_a").as("n_a"), col("x.n_a").as("n_b"))
    // cross-text doc pairs: the tiny pair stream is round-robin
    // re-spread to the output budget BEFORE the gated expansion joins
    // (AQE coalesces it to ~1 partition otherwise — the r15 lesson);
    // n swaps with the least/greatest orientation so n_a is id_a's.
    val cross = textPairs.filter(col("ka") < col("kb")).repartition(parts)
      .join(gated(tidDf.select(col("tkey").as("ka"), col("doc_id").as("da"))), "ka")
      .join(gated(tidDf.select(col("tkey").as("kb"), col("doc_id").as("db"))), "kb")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("inter"),
        when(col("da") <= col("db"), col("n_a")).otherwise(col("n_b")).as("n_a"),
        when(col("da") <= col("db"), col("n_b")).otherwise(col("n_a")).as("n_b"))
    val pairs = project(within.unionByName(cross))
    // presentation sort at output scale: range-partitioned to `parts`
    // (≤128 MB per sort task); production sinks skip it via the knob
    val preRangeMin = spark.conf.getOption(Sampling.PreRangeMinPairsKey)
      .map(_.toLong).getOrElse(Sampling.PreRangeMinPairsDefault)
    if (!presentSorted ||
        spark.conf.getOption(Sampling.PresentationKey).contains("off")) pairs
    else if (sortCols == Seq("id_a", "id_b") && nDocs <= maxBroadcastRows &&
        totalPairs >= preRangeMin) {
      // Pre-ranged presentation (r16, the dd_simhash pattern): ranging
      // the quadratic output is double work — repartitionByRange
      // samples its child by re-running the lineage, so the full doc
      // expansion executed TWICE and was then shuffled whole (measured
      // on dd_substring at the 100× corpus: 52.9 s standalone best vs
      // 16.3 with the sort skipped). When the sort key is the min-id
      // orientation the core produces anyway, range-exchange the
      // PRE-expansion text-pair stream by the left doc id instead:
      // orient every cross text pair both ways (self rows once),
      // attach the left side's docs (Σ g rows — tiny next to the
      // output), range by da, broadcast-expand the right side inside
      // the ranged partitions, and keep the min-oriented half
      // (da < db). Each unordered doc pair appears exactly once with
      // n following the doc through the orientation, partitions are
      // contiguous in id_a and rows sorted by (id_a, id_b) within, so
      // row set and global order equal the output-ranged form —
      // SubstringCollapseSpec pins both. Below the gate only:
      // broadcast probes preserve the range partitioning; above it
      // the expansion joins shuffle and the output-ranged branch
      // below stays the scale-safe fallback. dd_containment keeps
      // that branch too (its sort key is the n-oriented
      // contained/container pair, not the min id — and its thresholded
      // output is small enough that the double generation is noise).
      val sym = textPairs.filter(col("ka") < col("kb"))
      val dir = sym.select(col("ka").as("ta"), col("kb").as("tb"),
          col("inter"), col("n_a").as("n_ta"), col("n_b").as("n_tb"))
        .unionByName(sym.select(col("kb").as("ta"), col("ka").as("tb"),
          col("inter"), col("n_b").as("n_ta"), col("n_a").as("n_tb")))
        .unionByName(textPairs
          .filter(col("ka") === col("kb") && col("ga") >= 2)
          .select(col("ka").as("ta"), col("kb").as("tb"), col("inter"),
            col("n_a").as("n_ta"), col("n_a").as("n_tb")))
      val expanded = dir.repartition(defaultParts)
        .join(gated(tidDf.select(col("tkey").as("ta"),
          col("doc_id").as("da"))), "ta")
        .repartitionByRange(parts, col("da"))
        .join(gated(tidDf.select(col("tkey").as("tb"),
          col("doc_id").as("db"))), "tb")
        .filter(col("da") < col("db"))
        .select(col("da").as("id_a"), col("db").as("id_b"), col("inter"),
          col("n_ta").as("n_a"), col("n_tb").as("n_b"))
      project(expanded).sortWithinPartitions(sortCols.map(col): _*)
    } else pairs.repartitionByRange(parts, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
  }

  /** Per-doc winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS local fingerprinting scheme): hash every [[WinnowK]]-token
    * gram, slide a [[WinnowW]]-wide window over the hash sequence, and
    * keep each window's minimum — ties to the RIGHTMOST position, the
    * paper's robust-winnowing rule, encoded arithmetically as
    * key = h·2^[[WinnowPosBits]] + (2^[[WinnowPosBits]]−1 − pos) so one
    * integer `min` does hash-then-rightmost on both engines (positions
    * above 2^24 tokens would alias: cap or chunk such documents
    * upstream). Selection is pure array arithmetic inside one projection
    * — NO shuffle, no window operator: the per-window min is an
    * O(m·W) transform over the key array, and at W = 4 that constant
    * beats a per-doc sort exchange everywhere. Expected density is
    * 2/(W+1) ≈ 40% of grams, and any shared run of ≥ W+K−1 = 6 tokens
    * is GUARANTEED to share a fingerprint (the winnowing theorem) —
    * the deterministic-recall counterpart to MinHash's probabilistic
    * banding, at ~0.4× the index volume of the full shingle posting.
    * The whole selection is ONE codegen'd native expression
    * ([[graft.functions.Kernels.winnowFingerprints]]) — the equivalent
    * higher-order-function Column form evaluates its md5-per-gram
    * lambda interpreted and measured 249.6 s vs 2.86 s (87×) at
    * sf0.1. */
  private[graft] def winnowFps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), NativeExpressions.winnowFingerprints(
        col("text"), WinnowK, WinnowW, WinnowPosBits).as("fps"))
      .filter(size(col("fps")) > 0)

  /** dd_winnow: winnowed near-dup pairs — documents sharing ≥
    * [[WinnowOverlapPpm]] of the smaller side's winnowing fingerprints
    * ([[winnowFps]]), with the shared-fingerprint count. Positioned
    * between dd_ngram_jaccard (exact shingle overlap — full posting
    * volume) and dd_minhash_lsh (probabilistic recall — K longs per
    * doc): winnowing keeps DETERMINISTIC recall for any ≥ 6-token match
    * while indexing only ~40% of grams, which is the classic
    * plagiarism/boilerplate-detection operating point. Same blocker
    * shape as the other pair operators: fingerprint inverted index,
    * [[graft.functions.CollectBounded]] stop-fingerprint cap at
    * [[MaxFpDf]] (a fingerprint shared by more docs is boilerplate the
    * exact/simhash cluster collapse owns), map-side pair explode via
    * [[collapsedBoundedPairs]] — never a posting self-join, fan-in bounded per
    * key no matter how hot. */
  def ddWinnow(spark: SparkSession, sfDir: String): DataFrame =
    ddWinnowOf(spark, Tables.documents(spark, sfDir))

  /** [[ddWinnow]] over any (doc_id, text) frame — the
    * SubstringCollapseSpec differential seam. */
  private[graft] def ddWinnowOf(spark: SparkSession, docs: DataFrame): DataFrame =
    // replica-collapsed blocker (r16): each DISTINCT text is winnowed
    // once (fingerprints are a function of the text); fingerprint-less
    // texts simply produce no posting rows, so no doc-level filter.
    collapsedBoundedPairs(spark, docs,
      itemsOf = NativeExpressions.winnowFingerprints(_, WinnowK, WinnowW,
        WinnowPosBits), cap = MaxFpDf,
      textFilter =
        expr("inter * 1000000L div least(n_a, n_b)") >= WinnowOverlapPpm,
      sortCols = Seq("id_a", "id_b"))(
      _.withColumn("overlap_ppm", expr("inter * 1000000L div least(n_a, n_b)"))
        .select(col("id_a"), col("id_b"), col("inter").as("n_shared"),
          col("overlap_ppm")))

  /** dd_containment: asymmetric doc-in-doc detection — pairs where the
    * smaller shingle set is ≥ [[ContainmentThresholdPpm]] contained in
    * the larger (C(A,B) = |A∩B|/|A|, Broder's containment). This is the
    * subset signal symmetric measures structurally miss: a short doc
    * quoted whole inside a long one has containment 1.0 but Jaccard
    * |A|/|B| — below any dedup threshold once the container is ~5× the
    * contained — and MinHash banding misses it for the same reason (band
    * collision probability follows JACCARD, so subset pairs rarely
    * collide). Candidates come from the same df-capped inverted index as
    * [[ddNgramJaccard]] (shared [[collapsedBoundedPairs]]; map-side pair explode,
    * never a posting self-join): any rare shared shingle blocks the
    * pair, and a contained doc shares ALL its shingles with its
    * container, so recall fails only when every one of its shingles is a
    * stop-shingle — boilerplate density at which the exact/simhash
    * cluster collapse already owns the pair. `inter` counts df-capped
    * shared shingles on BOTH engines (the blocker's stop-shingle
    * semantics, identical to dd_ngram_jaccard's), so the emitted
    * containment is exact over the non-stop vocabulary. j_ppm rides
    * along so consumers can split subset-only pairs (quote/aggregation
    * extraction) from plain near-dups (drop-one dedup). */
  def ddContainment(spark: SparkSession, sfDir: String): DataFrame =
    ddContainmentOf(spark, Tables.documents(spark, sfDir))

  /** [[ddContainment]] over any (doc_id, text) frame — the
    * SubstringCollapseSpec differential seam. */
  private[graft] def ddContainmentOf(spark: SparkSession, docs: DataFrame): DataFrame =
    // replica-collapsed blocker (r16); the containment filter is
    // symmetric (least), so it prunes at TEXT level before expansion —
    // only the contained/container orientation needs doc ids (equal
    // sizes tie-break to the smaller id, and id_a < id_b always).
    collapsedBoundedPairs(spark, docs,
      itemsOf = NativeExpressions.wordShingles(_, 3), cap = MaxShingleDf,
      textFilter =
        expr("inter * 1000000L div least(n_a, n_b)") >= ContainmentThresholdPpm,
      sortCols = Seq("contained_id", "container_id"))(
      _.withColumn("contained_id", expr("CASE WHEN n_a <= n_b THEN id_a ELSE id_b END"))
        .withColumn("container_id", expr("CASE WHEN n_a <= n_b THEN id_b ELSE id_a END"))
        .withColumn("cont_ppm", expr("inter * 1000000L div least(n_a, n_b)"))
        .withColumn("j_ppm", expr("inter * 1000000L div (n_a + n_b - inter)"))
        .select(col("contained_id"), col("container_id"), col("inter"),
          col("cont_ppm"), col("j_ppm")))

  /** dd_simhash: 32-bit SimHash over the token multiset, 4×8-bit band
    * blocking, Hamming-verified pairs.
    *
    * Output is all near-dup PAIRS — quadratic in cluster size by
    * definition — but the WORK is not: the band join and hamming
    * verification run over DISTINCT fingerprints only (identical texts
    * collapse before blocking), and doc-level pairs are then expanded
    * from the verified fp edges by streamed equi-joins. On a corpus
    * where every text has R exact copies this cuts band-join candidates
    * R² (measured 467 s → output-bound at 20× verbatim density) and
    * removes the pair-level distinct entirely — fp-level edges are
    * already unique, and the two expansion joins can't duplicate them,
    * so the quadratic output flows through exactly one sort (the gate's
    * ORDER BY) and nothing else. */
  def ddSimhash(spark: SparkSession, sfDir: String): DataFrame =
    ddSimhashPairs(spark, sfDir, Sampling.broadcastMaxRows(spark))

  /** [[ddSimhash]] at an arbitrary broadcast-row gate — the seam
    * PlanAuditSpec drives to 0 to prove the shuffle fallback plans no
    * corpus broadcast and returns the identical pair set. */
  private[graft] def ddSimhashPairs(spark: SparkSession, sfDir: String,
      maxBroadcastRows: Long): DataFrame = {
    // Only the COMPACT frames are session-cached (the corpus fp table
    // and the distinct-fp verified edge set); the doc-level pair
    // expansion below is quadratic in fp-group size on a replica-dense
    // corpus and is re-streamed per consumer — caching it materialized
    // the quadratic output (see ddMinhashLsh's scaladoc).
    val fpDf = simhashFp(spark, sfDir)
    val fpEdges = simhashFpEdges(spark, sfDir)
    // Size-gated broadcast (r15 verdict): the fp table and the
    // distinct-fp size table are CORPUS-cardinality — an unconditional
    // hint on either is a hard abort past the BroadcastExchange
    // ceilings, however small this corpus happens to be. The gate is a
    // measured count on the session-cached frame (the r5
    // dd_minhash_lsh Bloom-gate precedent: decide from data, not
    // hope); above it every join below degrades to a shuffle
    // equi-join, the scale-safe r14 shape. The count is served from
    // the session checkpoint's memo — zero jobs per consumer.
    val nDocs = Sampling.knownRowCount(fpDf).getOrElse(fpDf.count())
    def gated(df: DataFrame): DataFrame =
      if (nDocs <= maxBroadcastRows) broadcast(df) else df
    // Output-scale budgeting (r15): the pair set is quadratic by
    // contract (~10⁹ rows at the 100× verbatim-replica corpus), and
    // BOTH expansion and presentation sort must be sized to the OUTPUT,
    // not to the session default. The exact pair count is a closed form
    // over the two tiny cached frames (Σ_edges nA·nB + Σ_groups C(n,2)
    // — one sub-second aggregate, the SessionTuning budget pattern);
    // parts = ceil(output bytes / 128 MB) keeps every expansion and
    // sort task cache-friendly and spill-free at ANY replica density.
    // At oracle SFs the estimate floors to the session default, so the
    // small-SF plan shape (and the controlled-pair rows) don't move.
    // The size-table joins are gated like the fp joins (distinct-fp
    // cardinality is corpus-bound too); above the gate AQE re-plans
    // them from runtime sizes.
    val sizes = fpDf.groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val totalPairs = sizes.select(expr("n * (n - 1) div 2").as("c"))
      .unionByName(fpEdges
        .join(gated(sizes.select(col("fp").as("fp_a"), col("n").as("na"))), "fp_a")
        .join(gated(sizes.select(col("fp").as("fp_b"), col("n").as("nb"))), "fp_b")
        .select((col("na") * col("nb")).as("c")))
      .agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0)
    // pairs-per-128MB-task in pair units (no totalPairs×bytes product —
    // that wraps a Long near 10¹⁷ pairs and a wrapped budget silently
    // falls back to the session default EXACTLY in the regime the
    // budget exists for; r15 advice), clamped to Int range.
    val bytesPerRow = 24L
    val pairsPerTask = (128L << 20) / bytesPerRow
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(defaultParts.toLong,
      math.min(Int.MaxValue.toLong, totalPairs / pairsPerTask + 1)).toInt
    // cross-fp doc pairs: two gated equi-joins, output-bound; fp
    // groups are disjoint doc sets, so each unordered pair appears once.
    // Below the gate the fp table broadcasts by hint: |corpus| rows of
    // 16 bytes (NOT the text, NOT the quadratic output). The edge set
    // is round-robin repartitioned FIRST: it is tiny (AQE coalesces it
    // to ~1 partition), and with broadcast probes nothing downstream
    // would re-spread it — the 10⁹-row generation would run near
    // single-task (the r15 regression probe measured exactly that).
    // Above the gate the joins shuffle on fp_a/fp_b instead (the
    // repartition becomes the join exchange's input; AQE's skew split
    // bounds a hot fingerprint's task).
    val cross = fpEdges.repartition(parts)
      .join(gated(fpDf.select(col("fp").as("fp_a"), col("doc_id").as("da"))), "fp_a")
      .join(gated(fpDf.select(col("fp").as("fp_b"), col("doc_id").as("db"))), "fp_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    // within-fp (identical-fingerprint) pairs: hamming 0 by
    // construction; the probe side is the corpus fp table itself, whose
    // scan parallelism matches its size, so no re-spread is needed.
    val within = fpDf.as("x").join(gated(fpDf.as("y")),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0L).as("hamming"))
    val pairs = within.unionByName(cross)
    // Production sinks don't need the quadratic output globally ordered
    // — the same [[Sampling.PresentationKey]] contract every
    // presentSorted call site honors (this is the suite's single
    // largest presentation sort, so the knob matters most here; the
    // sort exists only for the oracle gate's deterministic dump).
    if (spark.conf.getOption(Sampling.PresentationKey).contains("off")) pairs
    else if (nDocs <= maxBroadcastRows && totalPairs >= spark.conf
        .getOption(Sampling.PreRangeMinPairsKey).map(_.toLong)
        .getOrElse(Sampling.PreRangeMinPairsDefault))
      // Presentation path below the gate (r16): ranging the QUADRATIC
      // output is double work — repartitionByRange samples its child by
      // re-running the lineage, so the ~10⁹-row expansion executed
      // TWICE and was then shuffled whole (measured 134.6 s standalone
      // best vs 29.2 s with the sort skipped at the 100× corpus).
      // Range-partition the PRE-expansion stream instead: orient every
      // fp edge both ways (plus hamming-0 self edges for the within-fp
      // groups), attach id_a's docs (|corpus|·degree rows, tiny next to
      // the output), range-exchange THOSE by da, then broadcast-expand
      // id_b's docs inside the ranged partitions and keep the
      // min-oriented half (da < db — each unordered pair appears in
      // exactly one orientation, so the row set is unchanged).
      // Partitions are contiguous in id_a = da (range boundaries bind
      // whole da values) and rows sort by (id_a, id_b) within, so the
      // global order is the old one. Cost: the expansion join emits ~2×
      // rows before the filter — same codegen stage, no shuffle;
      // saving: the output-sized range exchange AND the duplicate
      // expansion disappear. Range balance keys on the half-stream's
      // per-da degree, which tracks output volume to within group-size
      // variance — the same hot-id_a clustering the old output range
      // partitioner had. Broadcast probes preserve the range
      // partitioning only below the gate; above it the expansion joins
      // shuffle on fp_b and would destroy it, so the fallback keeps the
      // output-ranged form.
      fpEdges.select(col("fp_a"), col("fp_b"), col("hamming"))
        .unionByName(fpEdges.select(col("fp_b").as("fp_a"),
          col("fp_a").as("fp_b"), col("hamming")))
        .unionByName(sizes.filter(col("n") >= 2)
          .select(col("fp").as("fp_a"), col("fp").as("fp_b"),
            lit(0L).as("hamming")))
        .repartition(defaultParts)
        // gated(), not raw broadcast(): this branch is only entered
        // when nDocs ≤ the gate, so the hint always fires today — but
        // routing it through the same helper keeps ONE gate decision
        // point if the branch condition ever drifts (r16 advice).
        .join(gated(fpDf.select(col("fp").as("fp_a"),
          col("doc_id").as("da"))), "fp_a")
        .repartitionByRange(parts, col("da"))
        .join(gated(fpDf.select(col("fp").as("fp_b"),
          col("doc_id").as("db"))), "fp_b")
        .filter(col("da") < col("db"))
        .select(col("da").as("id_a"), col("db").as("id_b"), col("hamming"))
        .sortWithinPartitions(col("id_a"), col("id_b"))
    else
      // Presentation sort at output scale: a global orderBy at the
      // session's 32 shuffle partitions hands each sort task ~750 MB of
      // pairs — 32 concurrent tasks thrashed the execution pool and
      // OOM'd a 48 GB heap in r14's stress run. Range-partitioned to
      // `parts`, each sort task handles ≤128 MB.
      pairs.repartitionByRange(parts, col("id_a"), col("id_b"))
        .sortWithinPartitions(col("id_a"), col("id_b"))
  }

  /** The corpus (doc_id, fp) simhash table — native one-pass
    * fingerprint (one md5 per token; bit-identical to the
    * 32×filter-count Column form and the DuckDB mirror).
    * Session-cached: consumed by dd_simhash's expansion joins and
    * within-fp self-join, [[fpGroups]] (and through it dd_components /
    * dd_decisions / cur_verdict) — one fingerprint scan of the corpus
    * per session total. */
  private def simhashFp(spark: SparkSession, sfDir: String): DataFrame =
    cachedFrame(spark, sfDir, "simhash.fp") {
      // countedCheckpoint: the one-time materializing scan doubles as
      // the broadcast gate's corpus count, so per-consumer nDocs reads
      // are memo lookups, not jobs
      Sampling.countedCheckpoint(Tables.documents(spark, sfDir)
        .select(col("doc_id"), NativeExpressions.simHash32(col("text")).as("fp")))
    }

  /** Distinct-fp verified near-dup edges (fp_a, fp_b, hamming) —
    * the band join and hamming verification run over DISTINCT
    * fingerprints only (identical texts collapse before blocking).
    * Session-cached; tiny. */
  private def simhashFpEdges(spark: SparkSession, sfDir: String): DataFrame = {
    // Dependency resolved BEFORE entering the cache closure: a nested
    // computeIfAbsent on the same map throws "Recursive update" when
    // the two keys collide into one hash bin (observed at sf0.001 but
    // not sf0.01 — bin assignment depends on the key strings).
    val fp = simhashFp(spark, sfDir)
    cachedFrame(spark, sfDir, "simhash.fpEdges") {
      val distinctFps = fp.select(col("fp")).distinct()
      val bandKeys = simhashBandKeys(col("fp"))
      val bands = distinctFps.select(col("fp"), explode(bandKeys).as("bk"))
      // hamming test lives in the join condition: failed candidates die
      // in the join output instead of flowing downstream; distinct() is
      // over fp-level edges (a pair of fps can share several bands),
      // which is the SMALL relation
      bands.as("x").join(bands.as("y"),
          col("x.bk") === col("y.bk") && col("x.fp") < col("y.fp") &&
            bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= HammingMax)
        .select(col("x.fp").as("fp_a"), col("y.fp").as("fp_b"),
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
        .distinct()
        .localCheckpoint(true)
    }
  }

  /** dd_simhash_clusters: the dense-corpus form of dd_simhash — docs with
    * IDENTICAL fingerprints collapse to a keep-min-id representative
    * first (complete-graph pairs inside a cluster are implied, never
    * materialized), and the band join runs over distinct fingerprints
    * only. Output is linear in corpus size + quadratic only in the number
    * of DISTINCT near-identical fingerprints — this is the variant to run
    * when replica density would make the all-pairs output explode (see
    * BASELINE.md's 20× stress). */
  def ddSimhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // shares the session-cached fp-group table with dd_components /
    // dd_decisions (one fingerprint scan + one group aggregate per
    // session across the whole simhash family)
    val groups = fpGroups(spark, sfDir)
    val bandKeys = simhashBandKeys(col("fp"))
    val bands = groups.select(col("fp"), col("rep_id"), col("n_docs"),
      explode(bandKeys).as("bk"))
    bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.rep_id") < col("y.rep_id") &&
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= HammingMax)
      .select(col("x.rep_id").as("rep_a"), col("y.rep_id").as("rep_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"),
        col("x.n_docs").as("n_a"), col("y.n_docs").as("n_b"))
      .distinct()
      .orderBy(col("rep_a"), col("rep_b"))
  }

  /** dd_components: connected-component labels over the simhash
    * near-dup graph — the step that turns PAIRS into dedup DECISIONS
    * (every member of a component collapses to its minimum rep id).
    *
    * Shape decided from the MEASURED rep-edge set (the
    * [[Sampling.gatedBroadcast]] rule): one counted checkpoint
    * materializes the distinct rep edges and memoizes their count. At
    * or under [[Sampling.BroadcastMaxRowsKey]] the edges are collected
    * (one job over the cached blocks) and labeled by a driver-side
    * union-find whose roots are component minima — a fixed job count
    * however deep the components are, where the distributed loop pays
    * jobs per round (two eager checkpoints and a convergence count, each
    * shuffle its own AQE job: 85 jobs for 6 rounds at sf0.1). Near-dup
    * rep graphs are small (63k edges among 4.7k reps at sf0.1).
    *
    * Distributed fallback, above the gate: iterative min-label
    * propagation — per round, a node takes the min of its own label and
    * its neighbors' labels (one join + one map-side-combinable min
    * aggregation on the edge list) followed by a pointer jump, capped at
    * [[MaxCcRounds]] and convergence-checked (one driver-side action per
    * round, same as any iterative MLlib algorithm). The oracle
    * recomputes the fixpoint as a DuckDB recursive CTE. */
  val MaxCcRounds = 20

  def ddComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val groups = fpGroups(spark, sfDir)
    val labels = repComponents(spark, sfDir)
    groups.select(col("rep_id"), col("n_docs"))
      .join(labels, "rep_id")
      .select(col("rep_id"), col("component"), col("n_docs"))
      .orderBy(col("component"), col("rep_id"))
  }

  /** dd_decisions: the DOC-level dedup decision table the pipeline
    * actually consumes — every document labeled with its near-dup
    * component and whether it is the kept representative. The component
    * label IS the minimum doc_id of the component (reps are fp-group
    * minima, components are rep minima), so `is_kept = (doc_id ==
    * component)`: one boolean a downstream `filter` applies to drop
    * every near-duplicate in one pass. Same component labels as
    * dd_components; one extra map-only simhash pass re-keys docs to
    * their fp group. */
  def ddDecisions(spark: SparkSession, sfDir: String): DataFrame =
    componentAssign(spark, sfDir)
      .select(col("doc_id"), col("component"),
        when(col("doc_id") === col("component"), 1L).otherwise(0L).as("is_kept"))
      .orderBy(col("doc_id"))

  /** (doc_id, component) over the session-cached fixpoint — the shared
    * assignment [[ddDecisions]] and [[ddKeepBest]] label docs with. */
  private def componentAssign(spark: SparkSession, sfDir: String): DataFrame =
    simhashFp(spark, sfDir)
      .join(fpGroups(spark, sfDir).select(col("fp"), col("rep_id")), "fp")
      .join(repComponents(spark, sfDir), "rep_id")
      .select(col("doc_id"), col("component"))

  /** dd_keep_best: quality-aware dedup retention — per near-dup
    * component keep the HIGHEST-QUALITY member (tx_quality's composite
    * score; ties break to the smallest doc_id) instead of
    * [[ddDecisions]]' keep-min-id rule. This is the retention rule
    * production curation actually ships (keep the best-scoring
    * representative of a duplicate cluster, not an arbitrary one): the
    * component structure is identical, only the drop-list changes —
    * KeepBestSpec pins the constructed case where a higher-quality
    * member with a LARGER id wins over the min-id rule.
    *
    * Scale shape: the (doc_id, component) assignment is the shared
    * session-cached fixpoint (one build per session, exactly
    * dd_decisions' cost); quality joins on doc_id (both sides 2
    * columns, AQE-splittable); the keeper choice is one map-side-
    * combinable max-of-struct aggregate on the component key — one
    * (quality, id) struct of state per component, never a corpus-wide
    * window — joined back by component. */
  def ddKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = componentAssign(spark, sfDir)
      .join(TextOps.qualityScores(spark, sfDir), "doc_id")
    // max of (quality_ppm, -doc_id): highest score, then smallest id
    val best = scored.groupBy(col("component"))
      .agg(max(struct(col("quality_ppm"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("component"), (-col("b.neg_id")).as("keep_id"))
    scored.join(best, "component")
      .select(col("doc_id"), col("component"), col("quality_ppm"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Session cache for the COMPONENT-LABEL machinery shared by
    * dd_components, dd_decisions and (via ddDecisions) cur_verdict —
    * same house pattern and lifecycle as [[cachedPairs]], keyed
    * (session, corpus, stage). Each consumer previously re-ran the
    * fp-group aggregate, the band self-join and the full label-
    * propagation loop (the three most expensive first-pass rows in the
    * dd chain); the fixpoint is deterministic per corpus, so one build
    * serves them all. Entries are materialized on construction:
    * checkpoint-backed, or (the local component labels) a join of the
    * fp-group checkpoint to a driver-built local relation. */
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def cachedFrame(spark: SparkSession, sfDir: String, tag: String)
      (build: => DataFrame): DataFrame = {
    frameCache.keySet.removeIf(_._1.sparkContext.isStopped)
    frameCache.computeIfAbsent((spark, sfDir, tag), _ => build)
  }

  /** (fp, rep_id, n_docs) per distinct simhash fingerprint, eagerly
    * checkpointed: the band self-join downstream has no CSE across its
    * two sides, so without this the simhash scan over the full corpus
    * runs twice more inside edge-building (and again in final joins).
    * Session-cached ([[cachedFrame]]): dd_components, dd_decisions and
    * cur_verdict all start from this table. */
  private[graft] def fpGroups(spark: SparkSession, sfDir: String): DataFrame = {
    // dependency OUTSIDE the closure — see simhashFpEdges' note on
    // nested computeIfAbsent ("Recursive update")
    val fp = simhashFp(spark, sfDir)
    cachedFrame(spark, sfDir, "fpGroups") {
      fp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
        .localCheckpoint(true)
    }
  }

  /** (rep_id, component) over the rep near-dup graph. See
    * [[ddComponents]] for the algorithm notes. Session-cached: the
    * fixpoint is reused by every consumer. */
  private def repComponents(spark: SparkSession, sfDir: String): DataFrame = {
    // dependency OUTSIDE the closure — see simhashFpEdges' note on
    // nested computeIfAbsent ("Recursive update")
    val groups = fpGroups(spark, sfDir)
    cachedFrame(spark, sfDir, "repComponents") {
      repComponentsCore(groups)
    }
  }

  // private[graft]: ComponentsSpec runs both shapes on one groups frame
  // through this UNCACHED core (the session cache would serve the first
  // build to both).
  private[graft] def repComponentsCore(groups: DataFrame): DataFrame = {
    val bandKeys = simhashBandKeys(col("fp"))
    val bands = groups.select(col("fp"), col("rep_id"), explode(bandKeys).as("bk"))
    // ONE job materializes the edge set and memoizes its count for the
    // shape gate; both shapes read the checkpoint.
    val edges = Sampling.countedCheckpoint(bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.rep_id") < col("y.rep_id") &&
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= HammingMax)
      .select(col("x.rep_id").as("a"), col("y.rep_id").as("b"))
      .distinct())
    labelComponents(groups.select(col("rep_id")), edges)
  }

  /** (rep_id, component) for every `reps` row, component = the minimum
    * rep_id connected to it through `edges` (a, b) — a
    * [[Sampling.countedCheckpoint]] frame, so the gate reads its memo.
    * Within the broadcast gate: [[localComponents]]; above it:
    * [[propagateComponents]]. */
  private[graft] def labelComponents(reps: DataFrame, edges: DataFrame): DataFrame =
    if (Sampling.underBroadcastGate(edges)) localComponents(reps, edges)
    else propagateComponents(reps, edges)

  /** Collect the edges and label them with [[unionFindMinRoots]] on the
    * driver; reps it does not relabel (roots, reps in no edge) keep
    * their own id. */
  private def localComponents(reps: DataFrame, edges: DataFrame): DataFrame = {
    // one job: each partition ships two primitive arrays, not rows
    val parts = edges.rdd.mapPartitions { it =>
      val a = Array.newBuilder[Long]
      val b = Array.newBuilder[Long]
      it.foreach { r => a += r.getLong(0); b += r.getLong(1) }
      Iterator((a.result(), b.result()))
    }.collect()
    val (ids, comps) = unionFindMinRoots(
      Array.concat(parts.map(_._1).toIndexedSeq: _*),
      Array.concat(parts.map(_._2).toIndexedSeq: _*))
    val schema = StructType(Seq(
      StructField("rep_id", LongType, nullable = false),
      StructField("component", LongType, nullable = false)))
    val rows = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(i => rows.add(Row(ids(i), comps(i))))
    // No broadcast hint: the local relation's exact size lets the
    // planner's own threshold choose, and a hint cached here would
    // outlive a later session's gate setting.
    val labels = reps.sparkSession.createDataFrame(rows, schema)
    reps.join(labels, Seq("rep_id"), "left")
      .select(col("rep_id"), coalesce(col("component"), col("rep_id")).as("component"))
  }

  /** Union-find over the edge list (a(i), b(i)): returns, for every id
    * that is NOT its component's minimum, (id, component minimum) —
    * roots label themselves and callers default them. Ids are indexed
    * through their sorted distinct array and every union links the
    * larger root under the smaller, so a root is always its set's
    * minimum index, i.e. its minimum id; finds use path halving. */
  private def unionFindMinRoots(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, sorted, 0, a.length)
    System.arraycopy(b, 0, sorted, a.length, b.length)
    java.util.Arrays.sort(sorted)
    var n = 0
    sorted.indices.foreach { i =>
      if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    a.indices.foreach { e =>
      val ra = find(java.util.Arrays.binarySearch(ids, a(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, b(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val root = Array.tabulate(n)(find)
    val members = (0 until n).filter(i => root(i) != i).toArray
    (members.map(ids), members.map(i => ids(root(i))))
  }

  /** Distributed min-label propagation with pointer jumping: the
    * [[labelComponents]] shape above the broadcast gate. */
  private def propagateComponents(reps: DataFrame, edges: DataFrame): DataFrame = {
    // localCheckpoint (eager) after every round: without lineage
    // truncation each round's plan embeds two copies of the previous
    // one — an exponentially growing logical plan that exhausts the
    // driver long before the data does.
    val bidir = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
    var labels = reps.select(col("rep_id"), col("rep_id").as("component"))
      .localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < MaxCcRounds) {
      val neighborMin = bidir.join(labels, bidir("b") === labels("rep_id"))
        .groupBy(col("a")).agg(min(col("component")).as("nmin"))
      // Carry the previous label through the update so convergence is a
      // cheap scan of the checkpointed result — not a second join against
      // the old labels (which added a shuffle + job per round).
      val stepped = labels.join(neighborMin, labels("rep_id") === neighborMin("a"), "left")
        .select(col("rep_id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"),
          col("component").as("old"))
        .localCheckpoint(true)
      // Pointer jump — component := component's component. One extra tiny
      // self-join per round turns O(diameter) convergence into O(log d):
      // a chain component of eccentricity 10 converges in 4 rounds, not 11.
      // Labels' domain is the full rep_id set, so the lookup always hits;
      // the fixpoint is unchanged (at it, component[component[x]] ==
      // component[x]). stepped is checkpointed above so this self-join does
      // not re-evaluate the neighbor join twice.
      val next = stepped.as("s")
        .join(stepped.select(col("rep_id").as("j_id"), col("component").as("j_comp")).as("j"),
          col("s.component") === col("j.j_id"), "left")
        .select(col("s.rep_id").as("rep_id"),
          least(col("s.component"), coalesce(col("j.j_comp"), col("s.component"))).as("component"),
          col("s.old").as("old"))
        .localCheckpoint(true)
      val changed = next.filter(col("component") =!= col("old")).limit(1).count()
      labels = next.select(col("rep_id"), col("component"))
      converged = changed == 0
      round += 1
    }
    // A silent partial fixpoint would diverge from the recursive-CTE oracle
    // with no signal; a component with eccentricity > MaxCcRounds must fail
    // loudly, not return wrong labels.
    if (!converged) throw new IllegalStateException(
      s"ddComponents: min-label propagation did not converge in $MaxCcRounds rounds " +
        "(a near-dup component has eccentricity above the cap; raise MaxCcRounds)")
    labels
  }

  /** dd_embedding: cosine near-dup pairs, sign-LSH bucketed on the first
    * 8 dimensions (bucket count should grow with N — 16+ bits at 100 TB). */
  def ddEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val bucket = (1 to 8).map { j =>
      when(element_at(col("v"), j) > 0, lit(1L << (j - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), col("v"), bucket.as("bkt"))
    e.as("x").join(e.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        round(NativeExpressions.cosineSim(col("x.v"), col("y.v")) * 1000000, 0)
          .cast("long").as("cos_ppm"))
      .filter(col("cos_ppm") >= CosineThresholdPpm)
      .orderBy(col("id_a"), col("id_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact"         -> (ddExact _),
    "dd_softdedup"     -> (ddSoftdedup _),
    "dd_minhash_lsh"   -> (ddMinhashLsh _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_containment"   -> (ddContainment _),
    "dd_minhash_estimate" -> (ddMinhashEstimate _),
    "dd_incremental"   -> (ddIncremental _),
    "dd_substring"     -> (ddSubstring _),
    "dd_winnow"        -> (ddWinnow _),
    "dd_simhash"       -> (ddSimhash _),
    "dd_simhash_clusters" -> (ddSimhashClusters _),
    "dd_components"    -> (ddComponents _),
    "dd_decisions"     -> (ddDecisions _),
    "dd_keep_best"     -> (ddKeepBest _),
    "dd_embedding"     -> (ddEmbedding _))

  // ---- DuckDB oracle ----

  private def minhashSigsSql: String =
    (0 until K).map { i =>
      s"list_min([(av[j] + $i*bv[j]) % $P FOR j IN range(1, len(av)+1)]) AS sig$i"
    }.mkString(",\n    ")

  private def bandUnnestSql: String =
    (0 until BANDS).map { b =>
      val parts = (0 until R).map(r => s"sig${b * R + r}")
      s"concat($b, ':', ${parts.mkString(", ':', ")})"
    }.mkString("[", ",\n      ", "]")

  /** Normalized-content fingerprint mirror of [[fingerprint]] — ONE
    * definition for every oracle that joins or groups on exact content
    * identity (dd_exact, dd_incremental); a normalization change that
    * reaches only one copy would silently redefine "exact" between
    * operators. */
  private val fpSql =
    """md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"""

  /** Shared oracle chain (expects the `s` CTE of [[shingleCte]]):
    * per-doc MinHash signatures `sg` and banding candidate pairs `cand`
    * — the SQL mirror of [[minhashCandidates]], one definition for both
    * MinHash oracles. */
  private def minhashCandCte: String =
    s"""h AS (SELECT doc_id, sh, [md5(x) FOR x IN sh] AS hs FROM s),
       |ab AS (SELECT doc_id, sh,
       |    [${hexLongSql("h", 8)} FOR h IN hs] AS av,
       |    [${hexLongSql("substr(h,9,8)", 8)} FOR h IN hs] AS bv
       |  FROM h),
       |sg AS (SELECT doc_id, sh,
       |    $minhashSigsSql
       |  FROM ab),
       |bd AS (SELECT doc_id, unnest($bandUnnestSql) AS bk FROM sg),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bd x JOIN bd y ON x.bk = y.bk AND x.doc_id < y.doc_id)""".stripMargin

  private def simhashCntsSql: String =
    (0 until 32).map { j =>
      s"len(list_filter(hv, v -> (v // ${1L << j}) % 2 = 1)) AS c$j"
    }.mkString(",\n    ")

  private def simhashFpSql: String =
    (0 until 32).map { j =>
      s"(CASE WHEN 2*c$j >= n THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private def cosineSql(a: String, b: String): String =
    VectorFunctions.cosineSql(a, b)

  /** Shared fp CTE chain: documents → per-doc 32-bit simhash. */
  private def simhashFpCte: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |h AS (SELECT doc_id, [${hexLongSql("md5(x)", 8)} FOR x IN toks] AS hv FROM t),
       |c AS (SELECT doc_id, CAST(len(hv) AS BIGINT) AS n,
       |    $simhashCntsSql
       |  FROM h),
       |f AS (SELECT doc_id, CAST($simhashFpSql AS BIGINT) AS fp FROM c)""".stripMargin

  private val simhashBandsSql =
    """[concat(0, ':', (fp // 1) % 256), concat(1, ':', (fp // 256) % 256),
      |    concat(2, ':', (fp // 65536) % 256), concat(3, ':', (fp // 16777216) % 256)]""".stripMargin

  private val embSignBucketSql = (1 to 8).map { j =>
    s"(CASE WHEN v[$j] > 0 THEN ${1L << (j - 1)} ELSE 0 END)"
  }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    "dd_exact" ->
      s"""SELECT $fpSql AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dd_softdedup" ->
      s"""WITH fp AS (SELECT doc_id, $fpSql AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS dup_count, min(doc_id) AS canonical_id
        |  FROM fp GROUP BY fp)
        |SELECT doc_id, dup_count, 1000000 // dup_count AS weight_ppm, canonical_id
        |FROM fp JOIN g USING (fp)
        |ORDER BY doc_id""".stripMargin,
    "dd_minhash_lsh" ->
      s"""WITH $shingleCte,
         |$minhashCandCte,
         |j AS (SELECT id_a, id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS tot
         |  FROM cand JOIN s a ON cand.id_a = a.doc_id JOIN s b ON cand.id_b = b.doc_id)
         |SELECT id_a, id_b, inter * 1000000 // (tot - inter) AS j_ppm
         |FROM j WHERE inter * 1000000 // (tot - inter) >= $JaccardThresholdPpm
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |posting AS (SELECT doc_id, unnest(sh) AS sg FROM s),
         |df AS (SELECT sg, count(*) AS df FROM posting GROUP BY sg),
         |rare AS (SELECT p.doc_id, p.sg FROM posting p JOIN df USING (sg) WHERE df <= $MaxShingleDf),
         |ip AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
         |  FROM rare x JOIN rare y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s)
         |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(inter * 1000000 // (a.n + b.n - inter) AS BIGINT) AS j_ppm
         |FROM ip JOIN sz a ON ip.id_a = a.doc_id JOIN sz b ON ip.id_b = b.doc_id
         |WHERE inter * 1000000 // (a.n + b.n - inter) >= $JaccardThresholdPpm
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_winnow" -> {
      val scale = 1L << WinnowPosBits
      val gramHash = graft.functions.TextFunctions.hexLongSql(
        s"md5(array_to_string(toks[i+1:i+$WinnowK], ' '))", 8)
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |k AS (SELECT doc_id,
         |    [$gramHash * $scale + (${scale - 1} - i)
         |      FOR i IN range(0, len(toks) - $WinnowK + 1)] AS keys
         |  FROM t WHERE len(toks) >= $WinnowK),
         |f AS (SELECT doc_id, list_distinct([x // $scale FOR x IN
         |    [list_min(keys[s+1:s+$WinnowW])
         |      FOR s IN range(0, greatest(len(keys) - $WinnowW, 0) + 1)]]) AS fps
         |  FROM k),
         |posting AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n,
         |    unnest(fps) AS s FROM f),
         |df AS (SELECT s, count(*) AS df FROM posting GROUP BY s),
         |rare AS (SELECT p.doc_id, p.n, p.s
         |  FROM posting p JOIN df USING (s) WHERE df <= $MaxFpDf),
         |ip AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_shared,
         |    any_value(x.n) AS n_a, any_value(y.n) AS n_b
         |  FROM rare x JOIN rare y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  CAST(n_shared * 1000000 // least(n_a, n_b) AS BIGINT) AS overlap_ppm
         |FROM ip
         |WHERE n_shared * 1000000 // least(n_a, n_b) >= $WinnowOverlapPpm
         |ORDER BY id_a, id_b""".stripMargin
    },
    "dd_containment" ->
      s"""WITH $shingleCte,
         |posting AS (SELECT doc_id, unnest(sh) AS sg FROM s),
         |df AS (SELECT sg, count(*) AS df FROM posting GROUP BY sg),
         |rare AS (SELECT p.doc_id, p.sg FROM posting p JOIN df USING (sg) WHERE df <= $MaxShingleDf),
         |ip AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
         |  FROM rare x JOIN rare y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
         |m AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter, a.n AS n_a, b.n AS n_b
         |  FROM ip JOIN sz a ON ip.id_a = a.doc_id JOIN sz b ON ip.id_b = b.doc_id)
         |SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id,
         |  CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS container_id,
         |  inter,
         |  CAST(inter * 1000000 // least(n_a, n_b) AS BIGINT) AS cont_ppm,
         |  CAST(inter * 1000000 // (n_a + n_b - inter) AS BIGINT) AS j_ppm
         |FROM m
         |WHERE inter * 1000000 // least(n_a, n_b) >= $ContainmentThresholdPpm
         |ORDER BY contained_id, container_id""".stripMargin,
    "dd_minhash_estimate" -> {
      val sv = (0 until K).map(i => s"sig$i").mkString("[", ", ", "]")
      s"""WITH $shingleCte,
         |$minhashCandCte,
         |sgv AS (SELECT doc_id, $sv AS sv FROM sg)
         |SELECT id_a, id_b,
         |  CAST(list_sum(list_transform(range(1, ${K + 1}),
         |    i -> CASE WHEN a.sv[i] = b.sv[i] THEN 1 ELSE 0 END)) AS BIGINT)
         |    AS matching_sigs,
         |  CAST(list_sum(list_transform(range(1, ${K + 1}),
         |    i -> CASE WHEN a.sv[i] = b.sv[i] THEN 1 ELSE 0 END)) * 1000000 // $K
         |    AS BIGINT) AS est_j_ppm
         |FROM cand JOIN sgv a ON cand.id_a = a.doc_id
         |  JOIN sgv b ON cand.id_b = b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "dd_incremental" ->
      s"""WITH $shingleCte,
         |$minhashCandCte,
         |fp AS (SELECT doc_id, $fpSql AS fp FROM documents),
         |e AS (SELECT n.doc_id, min(b.doc_id) AS exact_match
         |  FROM fp n JOIN fp b ON n.fp = b.fp
         |  WHERE n.doc_id % 10 = 0 AND b.doc_id % 10 != 0 GROUP BY n.doc_id),
         |cnb AS (
         |  SELECT id_a AS doc_id, id_b AS b_id FROM cand
         |    WHERE id_a % 10 = 0 AND id_b % 10 != 0
         |  UNION ALL
         |  SELECT id_b AS doc_id, id_a AS b_id FROM cand
         |    WHERE id_b % 10 = 0 AND id_a % 10 != 0),
         |ni AS (SELECT cnb.doc_id, cnb.b_id,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS tot
         |  FROM cnb JOIN s a ON cnb.doc_id = a.doc_id JOIN s b ON cnb.b_id = b.doc_id),
         |nj AS (SELECT doc_id, b_id,
         |    CAST(inter * 1000000 // (tot - inter) AS BIGINT) AS j_ppm
         |  FROM ni),
         |nr AS (SELECT doc_id, b_id, j_ppm,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY j_ppm DESC, b_id) AS rn
         |  FROM nj WHERE j_ppm >= $JaccardThresholdPpm)
         |SELECT d.doc_id,
         |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
         |       WHEN nr.b_id IS NOT NULL THEN 'near' ELSE 'new' END AS method,
         |  CAST(COALESCE(e.exact_match, nr.b_id, -1) AS BIGINT) AS match_id,
         |  CAST(CASE WHEN e.exact_match IS NOT NULL THEN 1000000
         |       ELSE COALESCE(nr.j_ppm, 0) END AS BIGINT) AS j_ppm
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN e USING (doc_id)
         |LEFT JOIN (SELECT doc_id, b_id, j_ppm FROM nr WHERE rn = 1) nr USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dd_substring" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, ${shinglesSql("toks", SubstringL)} AS sh FROM t
         |  WHERE len(toks) >= $SubstringL),
         |posting AS (SELECT doc_id, unnest(sh) AS sg FROM s),
         |df AS (SELECT sg, count(*) AS df FROM posting GROUP BY sg),
         |rare AS (SELECT p.doc_id, p.sg FROM posting p JOIN df USING (sg) WHERE df <= $MaxSpanDf)
         |SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_spans
         |FROM rare x JOIN rare y ON x.sg = y.sg AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
    "dd_simhash" ->
      s"""WITH $simhashFpCte,
         |bd AS (SELECT doc_id, fp, unnest([
         |    concat(0, ':', (fp // 1) % 256), concat(1, ':', (fp // 256) % 256),
         |    concat(2, ':', (fp // 65536) % 256), concat(3, ':', (fp // 16777216) % 256)]) AS bk
         |  FROM f),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    x.fp AS fp_a, y.fp AS fp_b
         |  FROM bd x JOIN bd y ON x.bk = y.bk AND x.doc_id < y.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $HammingMax
         |ORDER BY id_a, id_b""".stripMargin,
    "dd_simhash_clusters" ->
      s"""WITH $simhashFpCte,
         |g AS (SELECT fp, min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM f GROUP BY fp),
         |bd AS (SELECT fp, rep_id, n_docs, unnest($simhashBandsSql) AS bk FROM g)
         |SELECT DISTINCT x.rep_id AS rep_a, y.rep_id AS rep_b,
         |  CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming,
         |  x.n_docs AS n_a, y.n_docs AS n_b
         |FROM bd x JOIN bd y ON x.bk = y.bk AND x.rep_id < y.rep_id
         |  AND bit_count(xor(x.fp, y.fp)) <= $HammingMax
         |ORDER BY rep_a, rep_b""".stripMargin,
    "dd_components" ->
      s"""WITH RECURSIVE $simhashFpCte,
         |g AS (SELECT fp, min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM f GROUP BY fp),
         |bd AS (SELECT fp, rep_id, unnest($simhashBandsSql) AS bk FROM g),
         |ed AS (SELECT DISTINCT x.rep_id AS a, y.rep_id AS b
         |  FROM bd x JOIN bd y ON x.bk = y.bk AND x.rep_id < y.rep_id
         |    AND bit_count(xor(x.fp, y.fp)) <= $HammingMax),
         |bidir AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
         |reach(src, dst) AS (
         |  SELECT rep_id, rep_id FROM g
         |  UNION
         |  SELECT reach.src, bidir.b FROM reach JOIN bidir ON reach.dst = bidir.a)
         |SELECT g.rep_id, r.component, g.n_docs
         |FROM g JOIN (SELECT src AS rep_id, MIN(dst) AS component
         |  FROM reach GROUP BY src) r USING (rep_id)
         |ORDER BY component, rep_id""".stripMargin,
    "dd_decisions" ->
      s"""WITH RECURSIVE $simhashFpCte,
         |g AS (SELECT fp, min(doc_id) AS rep_id FROM f GROUP BY fp),
         |bd AS (SELECT fp, rep_id, unnest($simhashBandsSql) AS bk FROM g),
         |ed AS (SELECT DISTINCT x.rep_id AS a, y.rep_id AS b
         |  FROM bd x JOIN bd y ON x.bk = y.bk AND x.rep_id < y.rep_id
         |    AND bit_count(xor(x.fp, y.fp)) <= $HammingMax),
         |bidir AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
         |reach(src, dst) AS (
         |  SELECT rep_id, rep_id FROM g
         |  UNION
         |  SELECT reach.src, bidir.b FROM reach JOIN bidir ON reach.dst = bidir.a),
         |r AS (SELECT src AS rep_id, MIN(dst) AS component
         |  FROM reach GROUP BY src)
         |SELECT f.doc_id, r.component,
         |  CAST(CASE WHEN f.doc_id = r.component THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM f JOIN g USING (fp) JOIN r USING (rep_id)
         |ORDER BY f.doc_id""".stripMargin,
    "dd_keep_best" ->
      // dd_decisions' component fixpoint + tx_quality's composite score
      // (both CTE chains verbatim from their gated siblings), keeper =
      // rank-1 under (quality DESC, doc_id) per component — mirroring
      // the Spark side's max-of-(quality, -id) struct aggregate.
      s"""WITH RECURSIVE $simhashFpCte,
         |g AS (SELECT fp, min(doc_id) AS rep_id FROM f GROUP BY fp),
         |bd AS (SELECT fp, rep_id, unnest($simhashBandsSql) AS bk FROM g),
         |ed AS (SELECT DISTINCT x.rep_id AS a, y.rep_id AS b
         |  FROM bd x JOIN bd y ON x.bk = y.bk AND x.rep_id < y.rep_id
         |    AND bit_count(xor(x.fp, y.fp)) <= $HammingMax),
         |bidir AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
         |reach(src, dst) AS (
         |  SELECT rep_id, rep_id FROM g
         |  UNION
         |  SELECT reach.src, bidir.b FROM reach JOIN bidir ON reach.dst = bidir.a),
         |r AS (SELECT src AS rep_id, MIN(dst) AS component
         |  FROM reach GROUP BY src),
         |qb AS (SELECT doc_id,
         |    CAST(length(${TextOps.sqlTokens}) AS BIGINT) AS n_tokens,
         |    CAST(${TextOps.sqlTokenHits(TextOps.EnStops)} AS BIGINT) AS n_stops,
         |    CAST(length(list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) != '')) AS BIGINT) AS n_lines,
         |    CAST(length(list_distinct(list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) != ''))) AS BIGINT) AS n_dlines
         |  FROM documents),
         |q AS (SELECT doc_id,
         |    CAST(LEAST(1000000, n_tokens * 20000) // 2
         |      + (n_stops * 1000000 // GREATEST(n_tokens, 1)) // 4
         |      + (1000000 - (n_lines - n_dlines) * 1000000 // GREATEST(n_lines, 1)) // 4
         |      AS BIGINT) AS quality_ppm
         |  FROM qb),
         |s AS (SELECT f.doc_id, r.component, q.quality_ppm
         |  FROM f JOIN g USING (fp) JOIN r USING (rep_id) JOIN q ON q.doc_id = f.doc_id)
         |SELECT doc_id, component, quality_ppm,
         |  CAST(CASE WHEN row_number() OVER (PARTITION BY component
         |    ORDER BY quality_ppm DESC, doc_id) = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM s ORDER BY doc_id""".stripMargin,
    "dd_embedding" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $embSignBucketSql AS bkt FROM e)
         |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |  CAST(round((${cosineSql("x.v", "y.v")}) * 1000000, 0) AS BIGINT) AS cos_ppm
         |FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
         |WHERE CAST(round((${cosineSql("x.v", "y.v")}) * 1000000, 0) AS BIGINT) >= $CosineThresholdPpm
         |ORDER BY id_a, id_b""".stripMargin)
}
