package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Knobs
import graft.functions.TextFunctions.nibble

/** Materialization, measured-count gates and scalable ranking.
  *
  * MATERIALIZATION. Every operator checkpoint goes through
  * [[Sampling.materialize]] (eager, counted) or
  * [[Sampling.materializeLazily]], so the checkpoint policy (local
  * blocks today) is decided here once. The scope rule: a frame
  * materialized inside a [[SessionCache]] build belongs to the session
  * (alive across queries); any other is per-query scratch, freed by
  * [[Sampling.releaseScratch]]. The gates ([[Sampling.gatedBroadcast]])
  * read the materialization's row-count memo.
  *
  * RANKING. Several pipeline stages (p05 balance, p23 split) need "the
  * first N rows of each group under a deterministic hash order". A plain
  * `row_number() OVER (PARTITION BY group ORDER BY hash)` funnels every
  * group into a single sort task — with ~160 combo groups that is a hard
  * parallelism ceiling at 100 TB (the same failure mode the round-1 as-of
  * join had).
  *
  * The rank is computed in two passes with bounded task sizes:
  *   1. bucket each row by the first two hex chars of its hash (256
  *      buckets; bucket order == hash order because the bucket is a prefix),
  *      aggregate per-(group, bucket) counts — a tiny table (|groups|*256)
  *      that is windowed into per-bucket starting offsets and broadcast;
  *   2. rank rows only within (group, bucket) — 256x more partitions, each
  *      sort task sees ~1/256 of a group — and add the bucket offset.
  *
  * The result is identical to the single-window formulation, which is what
  * the DuckDB oracle uses. The tiny counts table from pass 1 is exposed so
  * callers can derive group totals / population targets from it instead of
  * re-scanning the input (each aggregate branch of a DataFrame DAG is a
  * separate evaluation of the scan). [[Sampling.globalRank]] is the
  * corpus-wide, group-less form.
  */
object Sampling {

  /** Presentation ORDER BY for an operator's computed output: checkpoint
    * the frame, THEN sort. A range-partitioned global sort EXECUTES ITS
    * CHILD TWICE — once for RangePartitioner's boundary sampling, once
    * for the real pass — and for a map-only plan there is no shuffle
    * below the sort whose files the second pass could reuse, so every
    * kernel/regex in the projection runs 2× per row (rw_rewards measured
    * 115 s at the 100× corpus against ~40 s of actual projection work;
    * jstack showed reservoirSampleAndCount driving the full reward
    * chain). The checkpoint materializes the computed rows once and the
    * sampling pass re-reads partitions instead of recomputing them.
    * Use for expensive map-only projections whose output is modest;
    * plans with a shuffle below the final sort reuse its files already
    * and should keep a plain orderBy.
    *
    * LAZY checkpoint deliberately ([[materializeLazily]]): the
    * boundary-sampling job is the first evaluation and materializes
    * every partition as it samples, so the real pass reads the cache —
    * same single computation as the eager form without scheduling a
    * separate materialization job per query (the eager form cost
    * ~+1 s/query at sf0.1's scale). Nothing here needs the eager form's
    * boundary-pinning (that is globalRank's concern — its two BRANCHES
    * must agree; a single sort has one).
    *
    * The checkpoint is per-query scratch ([[releaseScratch]]) unless
    * taken inside a session-cache build; a production job should not
    * be here at all: set [[Knobs.presentation]] off.
    *
    * PRODUCTION KNOB: at 100 TB a presentation ORDER BY should not
    * exist — a partitioned sink ([[graft.sources.Sinks]]) repartitions
    * on its own keys and a global sort of the corpus is pure waste.
    * `graft.presentation=off` makes this a no-op
    * (no checkpoint, no sort): operators return their computed frame
    * unsorted and nothing is pinned to executor storage. The oracle
    * gate and bench leave it unset (the sorted form IS the gated
    * output); PlanAuditSpec uses the same knob to audit each operator's
    * pre-checkpoint plan (a LogicalRDD would otherwise hide the
    * projection from the kernel-budget and cross-join assertions). */
  def presentSorted(df: DataFrame, keys: Column*): DataFrame =
    if (!Knobs.presentation(df.sparkSession)) df
    else materializeLazily(df).orderBy(keys: _*)

  /** Checkpoint `df` and count it in one job: the count of the lazy
    * checkpoint's own RDD is a single stage that fills the blocks, and
    * it goes to the row-count memo ([[knownRowCount]]). (`Dataset.count()`
    * plans a global aggregate, which AQE runs as two jobs; the eager
    * `localCheckpoint` runs the same stage and discards the count.)
    * Shuffles below `df` still run as their own jobs. */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val (cp, rdd) = checkpoint(df)
    knownCounts.put(rdd, java.lang.Long.valueOf(rdd.count()))
    cp
  }

  /** [[materialize]] without the count: the blocks fill during the
    * first action that consumes the frame. Only for frames whose first
    * consumer scans every partition anyway (a range sort's boundary
    * sampling, a closed-form total); any other first consumer leaves
    * partitions unfilled, to be computed again later. Same scope rule. */
  private[graft] def materializeLazily(df: DataFrame): DataFrame = checkpoint(df)._1

  /** The one `localCheckpoint` in main source, scoped by the rule in
    * the object scaladoc. */
  private def checkpoint(df: DataFrame): (DataFrame, RDD[_]) = {
    val cp = df.localCheckpoint(false)
    val rdd = checkpointRdd(cp).get
    if (!SessionCache.building) scratch.add(new java.lang.ref.WeakReference(rdd))
    (cp, rdd)
  }

  /** The checkpoint RDD under `df` when `df` is a checkpoint or a
    * row-preserving projection (Project/SubqueryAlias only) of one. */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias, LogicalPlan}
    def walk(plan: LogicalPlan): Option[RDD[_]] = plan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case p: Project => walk(p.child)
      case s: SubqueryAlias => walk(s.child)
      case _ => None
    }
    walk(df.queryExecution.analyzed)
  }

  /** Per-QUERY scratch checkpoints (presentation frames, globalRank's
    * boundary pins, an operator's intermediate tables). Without an
    * explicit release, every query's full computed output stays pinned
    * in executor storage until the ContextCleaner's reference-queue GC
    * happens to run — on a 48 GB heap old-gen collections are rare, so
    * a 100-query sweep at the 100× corpus filled the store and THRASHED
    * the evict-to-disk path (dd_corpus_report 353 s vs 76 s in r10's
    * record, serializing hundreds of 200 MB blocks out and back per
    * query). The mains call [[releaseScratch]] between queries; a
    * query's scratch is garbage the moment its action completes
    * (re-runs rebuild fresh frames). */
  // Weak references: a consumer that never calls releaseScratch (a
  // library user outside the mains) must not leak pinned frames through
  // the registry itself — once the Dataset is unreachable the RDD GCs
  // and the ContextCleaner reclaims it exactly as before this registry
  // existed; the dead entry is skipped on the next drain.
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[RDD[_]]]()

  /** Free one checkpoint's blocks now, whatever its scope (a build's
    * intermediates once its cached frames hold). Poisons `df` like
    * [[releaseScratch]]. */
  private[graft] def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Unpersist every tracked scratch checkpoint. Safe mid-session: the
    * tracked frames are per-query outputs whose consuming action has
    * finished; frames materialized inside a session-cache build are
    * never tracked. Lazy checkpoints that were never filled unpersist
    * as a no-op.
    *
    * POISONS retained frames: a tracked frame is backed by a
    * localCheckpoint RDD whose blocks are unrecoverable once
    * unpersisted — a caller that kept a reference to an operator's
    * returned DataFrame across a release and re-triggers an action on
    * it will fail with missing-block errors, not silently recompute.
    * Call this only at a point where every previously returned frame
    * is logically dead (the mains call it between queries); to reuse a
    * result after a release, re-invoke the operator for a fresh frame.
    *
    * `blocking = true` waits for block removal to finish — the bench
    * mains use it BETWEEN timed queries so a multi-GB removal storm
    * from query N's scratch never churns block-manager threads inside
    * query N+1's measured window (the r11 100× sweep measured
    * mm_manifest 47 s in-suite vs 16 s standalone from exactly that
    * async-removal overlap). */
  def releaseScratch(blocking: Boolean = false): Unit = {
    var ref = scratch.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) rdd.unpersist(blocking)
      ref = scratch.poll()
    }
  }

  /** Row counts of [[materialize]]d checkpoints, keyed by the
    * checkpoint RDD. Weak keys: once the Dataset (and so its RDD) is
    * unreachable the entry GCs with it — the map never pins a released
    * scratch frame. */
  private val knownCounts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Long]())

  /** The exact row count of `df` WITHOUT running a job, when
    * [[checkpointRdd]] finds a [[materialize]]d frame under it. */
  private[graft] def knownRowCount(df: DataFrame): Option[Long] =
    checkpointRdd(df).flatMap(r => Option(knownCounts.get(r))).map(_.longValue)

  /** Size-gated broadcast hint: hint only when the frame's MEASURED
    * row count is under [[Knobs.broadcastMaxRows]] (the r5 Bloom-gate
    * precedent — decide from data, not hope), else return the frame
    * unhinted and let the join shuffle (AQE still converts it back to
    * a broadcast join at runtime when measured sizes allow). The count
    * is served from the [[materialize]] memo when the frame is a
    * projection of one — zero jobs; otherwise it is an action, and
    * callers must pass a frame that is cheap to count — checkpointed,
    * artifact-backed, or a bounded aggregate — never a raw corpus
    * lineage. */
  def gatedBroadcast(df: DataFrame): DataFrame =
    if (underBroadcastGate(df)) broadcast(df) else df

  /** The one gate decision behind [[gatedBroadcast]] and every other
    * decide-from-data site that may move a frame to the driver or to
    * every executor: is `df`'s MEASURED row count within
    * [[Knobs.broadcastMaxRows]]? Same count rules as [[gatedBroadcast]]
    * (memo first, else an action). */
  private[graft] def underBroadcastGate(df: DataFrame): Boolean =
    knownRowCount(df).getOrElse(df.count()) <= Knobs.broadcastMaxRows(df.sparkSession)

  /** PLANNING-estimate-gated broadcast hint for frames that are plain
    * scans/filters of a stored table (no checkpoint to count): hint
    * only when the optimizer's size estimate — file bytes for a scan,
    * the same signal autoBroadcastJoinThreshold reads — is within the
    * row gate at the documented ~16 B/row. Zero jobs, zero
    * checkpoints; the estimate GROWS with the stored corpus, so a hint
    * on a corpus-scaling dimension (q3_shipping's segment-filtered
    * customers) degrades to a shuffle join at exactly the scale where
    * the broadcast would abort, and AQE's runtime-measured conversion
    * remains the fallback. Conservative by construction: parquet
    * estimates are compressed bytes (~2–5× under the in-memory
    * relation), still orders of magnitude inside the 8 GB ceiling at
    * the 64 MB default gate. */
  def statsGatedBroadcast(df: DataFrame): DataFrame = {
    val maxBytes = BigInt(Knobs.broadcastMaxRows(df.sparkSession)) * 16
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
      broadcast(df)
    else df
  }

  /** Measured replica density of a (…, text) frame: (row count, approx
    * distinct text count) from ONE map-side-combinable aggregate — no
    * ids shuffled, no text moved. The replica-collapse operators decide
    * their shape from this (the r5 "decide from data" rule): a
    * scan-bytes gate is DEFEATED by exactly the corpus class the
    * collapse exists for, because verbatim replicas compress ~linearly
    * in the replica factor. */
  def textDensity(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)).as("n"),
      approx_count_distinct(md5(col("text"))).as("d")).head
    (r.getLong(0), math.max(r.getLong(1), 1L))
  }

  /** Adds `__h` (the hash) and `__b` (its first-two-hex-chars bucket). */
  def withBuckets(df: DataFrame, hashCol: Column): DataFrame =
    df.withColumn("__h", hashCol)
      .withColumn("__b", nibble(substring(col("__h"), 1, 1)) * 16 +
        nibble(substring(col("__h"), 2, 1)))

  /** Per-(group, bucket) counts — tiny (|groups|*256). */
  def bucketCounts(bucketed: DataFrame, groupCols: Seq[String]): DataFrame =
    bucketed.groupBy((groupCols :+ "__b").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))

  /** Adds `rankCol` = 1-based rank within the group under
    * `(hash asc, tieCol asc)`, given [[withBuckets]] output and its
    * [[bucketCounts]]. */
  def rankFromCounts(bucketed: DataFrame, counts: DataFrame,
                     groupCols: Seq[String], tieCol: Column, rankCol: String): DataFrame = {
    // The count table is |groups|×256 rows — tiny for the enum-group
    // callers (p05 combos, p23 splits), but |groups| is a CALLER
    // argument: per-domain mixes can make it corpus-growing, so the
    // offsets table is checkpointed (it is consumed once; the eager
    // form costs one materialization of the same aggregate) and its
    // broadcast size-gated. Past the gate the rank join shuffles on
    // (group, bucket) — with 256 buckets per group that stays
    // skew-split-able however hot one group is.
    val offW = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__b"))
    // materialize: ONE job fills the offsets AND serves the broadcast
    // gate's row count
    val offsets = materialize(counts
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(offW) - col("__cnt"), lit(0L)))
      .drop("__cnt"))
    val inBucketW = Window
      .partitionBy((groupCols :+ "__b").map(col): _*)
      .orderBy(col("__h"), tieCol)
    bucketed
      .join(gatedBroadcast(offsets), groupCols :+ "__b")
      .withColumn(rankCol, row_number().over(inBucketW) + col("__off"))
      .drop("__h", "__b", "__off")
  }

  /** One-call form: rank of each row within its `groupCols` group under
    * `(hashCol asc, tieCol asc)` ordering. `hashCol` must be a lowercase
    * hex string (md5). */
  def hashRank(df: DataFrame, groupCols: Seq[String], hashCol: Column,
               tieCol: Column, rankCol: String): DataFrame = {
    val b = withBuckets(df, hashCol)
    rankFromCounts(b, bucketCounts(b, groupCols), groupCols, tieCol, rankCol)
  }

  /** Corpus-wide `row_number() OVER (ORDER BY sortCols)` — and
    * optionally the running `sum(valueCol)` under the same order —
    * WITHOUT funneling the table through one WindowExec partition.
    *
    * A global window ships every row to a single sort task: fine for a
    * k-row sweep table, a hard single-node ceiling for a corpus- or
    * vocab-sized one. Two-phase instead (the tx_pack prefix pattern):
    * range-partition on the sort order, rank/cumsum locally per
    * partition, and add each partition's starting offset from the tiny
    * per-partition totals table (|shuffle partitions| rows, broadcast).
    * Identical to the single-window form PROVIDED the order is strict —
    * equal keys may straddle a range boundary — which is why the UNIQUE
    * tie-break is a required parameter (`tieCol`, appended to
    * `sortCols`), not a doc-comment convention a caller can silently
    * drop.
    *
    * The INPUT is materialized (it is expected to be a narrow
    * projection — ids + sort keys, not raw text): repartitionByRange
    * first runs a boundary-SAMPLING pass over its child, which would
    * re-execute an expensive upstream (measured +4 s on ss_centrality's
    * PageRank chain at 20×).
    *
    * The RANGED frame (with its `__pid` stamp) is then materialized
    * TOO, and this one is load-bearing for correctness, not cost: the
    * offsets branch and the rank branch must see the SAME partition
    * boundaries, but the range exchange's boundary sampling is seeded
    * per RDD id — a fresh evaluation draws DIFFERENT boundaries — and
    * exchange reuse between the branches is not guaranteed (column
    * pruning can specialize the two subplans apart; observed at sf0.1
    * inside p20_importance's two-rank join: offsets from one boundary
    * set applied to ranks from another silently corrupted the global
    * rank while each standalone evaluation stayed correct —
    * GlobalRankSpec's consistency differential pins this). */
  def globalRank(df: DataFrame, keyCols: Seq[Column], tieCol: Column,
                 rankCol: String,
                 cumOf: Option[(Column, String)] = None): DataFrame = {
    val sortCols = keyCols :+ tieCol
    // session conf accessor, not the raw string: platforms that set the
    // conf to "auto" would throw in a bare .toInt
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = materialize(materialize(df)
      .repartitionByRange(parts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())) // pin boundaries + __pid — see scaladoc
    val wLocal = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val wOrd = Window.partitionBy(pmod(col("__pid"), lit(1))).orderBy(col("__pid"))
    val pre = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val totals = ranged.groupBy(col("__pid")).agg(
      count(lit(1)).as("__n"),
      cumOf.map { case (c, _) => sum(c) }.getOrElse(lit(0L)).as("__s"))
    val offs = totals.select(col("__pid"),
      coalesce(sum(col("__n")).over(pre), lit(0L)).as("__noff"),
      coalesce(sum(col("__s")).over(pre), lit(0L)).as("__soff"))
    val joined = ranged.join(broadcast(offs), "__pid")
      .withColumn(rankCol,
        (row_number().over(wLocal) + col("__noff")).cast("long"))
    cumOf.fold(joined.drop("__pid", "__noff", "__soff")) { case (c, cumName) =>
      joined
        .withColumn(cumName, sum(c).over(
          wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          + col("__soff"))
        .drop("__pid", "__noff", "__soff")
    }
  }
}
