package graft

/** Session-level tuning shared by the Bench / Verify / Rehearsal mains.
  */
object SessionTuning {

  /** The engine's session-knob registry — every `spark.conf` key the
    * library reads, with its deployment meaning. README.md's "Cluster
    * deployment" section documents each (KnobRegistrySpec pins the two
    * lists and the code constants together so a new knob cannot ship
    * undocumented). */
  val Knobs: Map[String, String] = Map(
    graft.operators.Sampling.PresentationKey ->
      ("\"off\" disables the presentation checkpoint+ORDER BY on every " +
        "operator output — REQUIRED on a real cluster run feeding a " +
        "partitioned sink; the global sort exists only for the oracle gate"),
    graft.functions.Quantiles.ApproxKey ->
      ("\"true\" switches every percentile call site (p01 tiers, " +
        "tx_quality_dist, rw_report medians, tx_ccnet_bucket terciles) " +
        "to approx_percentile with bounded sketch state — the 100 TB " +
        "form; QUANTAB records the measured speed/accuracy band"),
    graft.operators.Similarity.MaxCentroidsKey ->
      ("caps the IVF/Lloyd's seed set at K centroids (deterministic " +
        "prefix) — production guidance nlist ≈ √N; unset keeps the " +
        "SQL-mirrorable fixture seed rule the oracle gate verifies"),
    graft.operators.Curation.ClassifierGateKey ->
      ("\"on\" adds the learned quality classifier as a fifth conjunct " +
        "in cur_verdict (the CCNet-style second stage)"),
    graft.operators.Dedup.BloomMinScanBytesKey ->
      ("minimum documents-scan size at which the large-corpus shapes " +
        "engage: the minhash verify rescan's Bloom prune and, on a " +
        "low-density corpus, dd_incremental's slim fp+signature " +
        "checkpoint with a Bloom-pruned verify rescan; smaller corpora " +
        "keep the plain single-checkpoint plans. dd_incremental's " +
        "replica collapse is chosen by the measured text density " +
        "(Sampling.textDensity), not by this key"),
    graft.operators.Sampling.BroadcastMaxRowsKey ->
      ("maximum measured row count at which a corpus-cardinality frame " +
        "(simhash fp table, minhash rep-id set, boilerplate heavy set, " +
        "contamination benchmark, rank offset tables) is broadcast-" +
        "hinted, and at which the simhash rep-edge set is collected " +
        "for dd_components' driver-side union-find; above it the gated " +
        "sites fall back to shuffle equi-joins and the components to " +
        "distributed min-label propagation — BroadcastExchange's 8 GB " +
        "/ 512M-row ceilings make an ungated corpus hint a guaranteed " +
        "abort at 10^10+ docs"),
    graft.operators.Sampling.PreRangeMinPairsKey ->
      ("minimum closed-form pair count at which a quadratic pair " +
        "output's presentation sort switches to the pre-ranged " +
        "expansion (range-exchange the pre-expansion stream, expand " +
        "inside the ranged partitions) instead of range-partitioning " +
        "the output — which samples by re-running the lineage and so " +
        "generates the quadratic output twice; default ≈ one 128 MB " +
        "sort task of pairs, below which the fixed overhead cannot pay"))

  /** The [[Knobs]] whose values change an operator's RESULT; every other
    * knob changes only the plan's shape. `graft.Pipeline` hashes their
    * session values into the stage signatures, so an incremental re-run
    * after flipping one re-runs the stages it can change. */
  val ResultKnobs: Seq[String] = Seq(
    graft.functions.Quantiles.ApproxKey,
    graft.operators.Similarity.MaxCentroidsKey,
    graft.operators.Curation.ClassifierGateKey)

  /** The stages a [[ResultKnobs]] key can change, for keys read by one
    * operator only (KnobRegistrySpec pins the classifier gate's one
    * read, in cur_verdict's composition). A key not listed here reaches
    * call sites across the suite and counts for every stage. */
  private val ResultKnobStages: Map[String, Set[String]] = Map(
    graft.operators.Curation.ClassifierGateKey -> Set("cur_verdict"))

  /** The [[ResultKnobs]] whose values can change `stage`'s result. */
  def resultKnobsOf(stage: String): Seq[String] =
    ResultKnobs.filter(k => ResultKnobStages.get(k).forall(_.contains(stage)))

  /** `k=v` session-conf entries from one string — the
    * SPARK_GRAFT_SESSION_CONF / ExplainDump seam. Entries split on `;`
    * when the string has one (so a value may contain commas) and on `,`
    * otherwise; entries without `=` or with an empty key are skipped. */
  private[graft] def parseSessionConf(s: String): Seq[(String, String)] =
    s.split(if (s.contains(";")) ";" else ",").toSeq.map(_.trim)
      .filter(_.contains("=")).flatMap { kv =>
        val Array(k, v) = kv.split("=", 2)
        if (k.nonEmpty) Some((k, v)) else None
      }

  /** Heap-aware `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`.
    *
    * The suite raises the 128-key default because every object
    * aggregate here has bounded per-key state (see the rationale at the
    * call sites) — but the raise itself must be a MEMORY BUDGET, not a
    * constant: at 100× stress the fixed 1M-key setting × 32 concurrent
    * partial maps exceeded an 8 GB driver before sort-fallback could
    * trigger (q_market_basket, STRESS100_r09_run1_8g.json), while a
    * 32 GB driver ran the same row fine. Budget an eighth of each
    * task's heap share at ~96 bytes per hash-map entry, capped at the
    * old 1M (beyond which the win is noise) and floored well above the
    * sort-happy 128 default.
    *
    * `executorMemory` (a `spark.executor.memory` size string, e.g.
    * "8g") sizes the budget when given; the `Runtime.maxMemory`
    * fallback reads the CALLING JVM's heap, which equals the executor
    * heap only in local mode. The mains wire it from the
    * SPARK_EXECUTOR_MEMORY environment variable (the same value a
    * cluster submit passes as `spark.executor.memory`), so a deployment
    * whose executor heap differs from the driver's budgets correctly —
    * local runs leave it unset and use the JVM heap.
    */
  def objectAggFallbackThreshold(cores: Int,
      executorMemory: Option[String] = None): Long = {
    val heap = executorMemory
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)
    val heapPerTask = heap / math.max(cores, 1)
    math.max(131072L, math.min(1000000L, heapPerTask / 8 / 96))
  }
}
