package graft

import org.apache.spark.sql.SparkSession

/** Session-level tuning: the base settings every graft session starts
  * from and the query-suite session the Bench and Verify mains share.
  * The session knobs are typed values in [[Knobs]].
  */
object SessionTuning {

  /** The one session builder: `local[cpus]` with one shuffle partition
    * per core, UTC, nanos-as-long parquet timestamps and no UI. Every
    * main and the specs' shared session start here and add their own
    * settings. */
  def baseSession(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The local session the query-suite mains (Bench, Verify) run in:
    * [[baseSession]] at `SPARK_GRAFT_CPUS` cores (default 4), AQE on,
    * and two suite-wide tunings.
    *
    * Object-agg partial phases (CollectBounded, collect_list) fall back
    * to SORT-BASED aggregation after only 128 distinct keys by default —
    * on a posting-list aggregation that is a full sort of the postings
    * (measured 1.45× on dd_ngram_jaccard at 20× density). Safe to raise
    * here: every object aggregate in this suite has BOUNDED per-key
    * state (CollectBounded caps at maxSize+1; the collect_lists run on
    * df-capped or per-order groups), so map-side hash-map memory is
    * keys × a small constant. The raise is sized to the heap
    * ([[objectAggFallbackThreshold]]) — a fixed 1M OOM'd an 8 GB driver
    * at 100× before sort-fallback could trigger.
    *
    * HotSpot never JIT-compiles methods over 8000 bytecode bytes
    * (-XX:DontCompileHugeMethods, on by default): a whole-stage-fused
    * projection past that size runs in the BYTECODE INTERPRETER. Spark's
    * default hugeMethodLimit (65535) happily keeps such methods; at 8000
    * it falls back to per-operator codegen, whose smaller methods JIT
    * (rw_rewards 41.8->33.4 s, rw_report 35.7->29.0 s at the 100x
    * corpus; queries under the cliff are unaffected). */
  def suiteSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = baseSession(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        objectAggFallbackThreshold(cpus.toInt,
          sys.env.get("SPARK_EXECUTOR_MEMORY")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `k=v` session-conf entries from one string — Bench's
    * SPARK_GRAFT_SESSION_CONF and PlanDump's conf argument. Entries split
    * on `;` when the string has one (so a value may contain commas) and
    * on `,` otherwise; blank entries (a trailing separator) are skipped,
    * and an entry without `=` or with an empty key throws
    * `IllegalArgumentException` naming it — a mistyped A/B probe must
    * not run the defaults. */
  private[graft] def parseSessionConf(s: String): Seq[(String, String)] =
    s.split(if (s.contains(";")) ";" else ",").toSeq.map(_.trim)
      .filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        require(eq > 0, s"malformed session conf entry \"$kv\": expected key=value")
        (kv.take(eq), kv.drop(eq + 1))
      }

  /** Heap-aware `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`.
    *
    * The suite raises the 128-key default because every object
    * aggregate here has bounded per-key state (see [[suiteSession]]) —
    * but the raise itself must be a MEMORY BUDGET, not a constant: at
    * 100× stress the fixed 1M-key setting × 32 concurrent partial maps
    * exceeded an 8 GB driver before sort-fallback could trigger
    * (q_market_basket, STRESS100_r09_run1_8g.json), while a
    * 32 GB driver ran the same row fine. Budget an eighth of each
    * task's heap share at ~96 bytes per hash-map entry, capped at the
    * old 1M (beyond which the win is noise) and floored well above the
    * sort-happy 128 default.
    *
    * `executorMemory` (a `spark.executor.memory` size string, e.g.
    * "8g") sizes the budget when given; the `Runtime.maxMemory`
    * fallback reads the CALLING JVM's heap, which equals the executor
    * heap only in local mode. [[suiteSession]] wires it from the
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
