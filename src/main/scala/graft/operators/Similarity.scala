package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Knobs, Tables}
import graft.functions.NativeExpressions.{cosineSim, l2SqDist}
import graft.functions.VectorFunctions._

/** Similarity search + clustering over `embeddings` (64-dim float
  * vectors).
  *
  * Scale shape (SURVEY §6): query and centroid sets are always broadcast
  * (as a single collected-array row — map-only per-vector scoring, no
  * explosion); top-k is two-phase — partial top-k per (query, scan
  * partition), then a tiny global pass — never a global sort of the
  * candidate set. Reference counterpart for clustering:
  * 21-embedding-and-clustering.py:315-334 (KMeans random_state=42),
  * re-expressed as the deterministic integer-exact Lloyd's chains below
  * (MLlib's seeded k-means|| survives only as the parity pin in
  * KmeansQualitySpec — its init has no SQL form, so it can't be the
  * hash-gated production path).
  */
object Similarity {

  val TopK = 5
  val NProbe = 2
  val NPlanes = 8 // sign-LSH bits → 256 buckets (grow with corpus size)
  val NTables = 2 // independent LSH tables for multiprobe band-ORing
  val TrainedK = 16 // trained-centroid count for ss_ivf_trained
  val KmeansK = 10  // reference 21-embedding-and-clustering.py:300-320 k
  val Dim = 64
  val PqM = 8       // PQ subspaces → PqM-byte codes per vector
  val PqDs = Dim / PqM
  val PqKs = 16     // PQ codes per subspace (4-bit codebooks)
  // PQ seeds use a DENSER stride than the IVF centroids: the codebook
  // needs its full PqKs entries even on a tiny corpus (50 vecs % 50
  // would leave ONE code — every vector encodes identically and ADC
  // degenerates), and 16 of the lowest ids ≡ 0 (mod 3) is as
  // deterministic as the % 50 rule.
  val PqSeedMod = 3
  // Centroid TRAINING runs on a deterministic hash-sample of the corpus
  // (1/TrainSampleMod of the vectors): k-means quality depends on seeing
  // the data distribution, not every row, so iterating MaxIter full-corpus
  // passes at 100 TB is waste — sample the trainer, then ASSIGN the full
  // corpus with the one-pass broadcast argmin kernel. Raise the mod with
  // corpus size to keep the training set roughly constant.
  val TrainSampleMod = 4

  /** ±1 hyperplane weight for (plane p, dimension j), derived from
    * md5("p:j")'s top bit — deterministic public arithmetic; the DuckDB
    * oracle inlines the signs this same function generates, and both
    * engines accumulate the dot product in the same IEEE order
    * ([[graft.functions.Kernels.signLshBucket]]). */
  def planeSign(p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$p:$j".getBytes("UTF-8"))
    if ((d(0) & 0x80) != 0) 1.0 else -1.0
  }

  private val planes: Seq[Seq[Double]] =
    (0 until NPlanes).map(p => (0 until Dim).map(j => planeSign(p, j)))

  /** Table `l`'s planes use global plane indices l·NPlanes … — table 0 is
    * exactly [[planes]]; further tables are fresh independent hyperplanes
    * from the same md5 stream. */
  private def tablePlanes(l: Int): Seq[Seq[Double]] =
    (0 until NPlanes).map(p => (0 until Dim).map(j => planeSign(l * NPlanes + p, j)))

  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))

  /** Deterministic training sample for the iterative trainers (xxhash64 on
    * the id — stable across runs and partitionings, unlike df.sample).
    * Falls back to the FULL input when the hash-sample is too small to
    * train on (k-means needs ≥ k rows; a tiny corpus can hash-sample to
    * zero with probability (1−1/mod)ⁿ, where full-corpus training was
    * always well-defined). The sample is persisted BEFORE the guard
    * count, so the count materializes the same rows the iterative
    * trainer then re-reads every pass — one corpus scan total instead of
    * one per use — and is UNPERSISTED as soon as the trainer returns
    * (scoped lend, not a leak: a ~corpus/4 block pinned for the rest of
    * the session would pressure every later query's cache). */
  private def withTrainSample[T](v: DataFrame, minRows: Long)(train: DataFrame => T): T = {
    val s = v.filter(pmod(xxhash64(col("vec_id")), lit(TrainSampleMod)) === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (s.count() >= minRows) train(s)
      else train(v)
    } finally s.unpersist(false)
  }

  /** Query set: vec_id < 10 (part of the corpus; self-matches excluded). */
  private def queriesDf(spark: SparkSession, sfDir: String): DataFrame =
    vecs(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Keep the deterministic K-prefix of an every-`mod`th-vector seed
    * frame when [[Knobs.maxCentroids]] is set (vec_id < mod·K); unset —
    * the default, and what every oracle-gated run uses — leaves the
    * fixture rule (K = N/mod: deterministic and SQL-mirrorable, fine at
    * test SFs) untouched. At scale K must be a CONFIG, not a corpus
    * fraction: the corpus→centroid assignment and the corpus-as-queries
    * probe ranking each cost N·K flops, so K ∝ N makes the IVF family
    * quadratic — measured at the 100× stress corpus (K = 4000):
    * ss_knn_graph 305.7 s, ss_ivf_pq 152.9 s, vs linear with the cap
    * (BASELINE.md 100× table); production IVF sets nlist ≈ √N (FAISS
    * guidance). Shared by the IVF seed set and the Lloyd's-family
    * initial seeds, so ONE knob caps every N·K assignment in the
    * suite. */
  private def capSeeds(spark: SparkSession, seeds: DataFrame, mod: Long): DataFrame =
    Knobs.maxCentroids(spark).fold(seeds)(k => seeds.filter(col("vec_id") < lit(mod * k)))

  /** Seed centroids: every 50th vector, optionally capped to the first
    * [[Knobs.maxCentroids]] seeds (deterministic prefix, broadcastable). */
  private def centroidsDf(spark: SparkSession, sfDir: String): DataFrame =
    capSeeds(spark, vecs(spark, sfDir).filter(col("vec_id") % 50 === 0), 50L)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))

  /** Per-(query, partition) partial top-k, then exact global top-k over
    * the ≤ k·numPartitions survivors. Phase-1 shuffle keys are
    * (q_id, partition) — parallelism scales with the scan, not |Q|. */
  private def topKBy(cand: DataFrame, k: Int, score: Column, outScore: Column): DataFrame =
    topKByUnsorted(cand, k, score, outScore).orderBy(col("q_id"), col("rank"))

  /** [[topKBy]] without the final presentation ORDER BY — for callers
    * that checkpoint or re-consume the rows and don't need the order
    * (the knn edge cache). */
  private def topKByUnsorted(cand: DataFrame, k: Int, score: Column, outScore: Column): DataFrame = {
    val w1 = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(score.desc, col("vec_id"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(score.desc, col("vec_id"))
    cand.withColumn("pid", spark_partition_id())
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long")).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), outScore)
  }

  private def topKPerQuery(cand: DataFrame, k: Int): DataFrame =
    topKBy(cand, k, col("cos"), round(col("cos") * 1000000, 0).cast("long").as("cos_ppm"))

  /** Probe set for the IVF variants: each query's [[NProbe]] nearest
    * centroids from the broadcast centroid array (one definition — the
    * float-cosine, sq8, and trained variants must tie-break probes
    * identically or their oracles desynchronize). */
  private def probeClusters(spark: SparkSession, sfDir: String, centArr: DataFrame): DataFrame =
    probeClustersOf(queriesDf(spark, sfDir), centArr)

  /** Probe expansion over an arbitrary (q_id, qv, …) query frame —
    * batch or STREAMING (the crossJoin side is one broadcast row, so
    * the stream plan stays map-only). Extra input columns ride along.
    * The per-row probe ranking is the native [[graft.functions.Kernels
    * .topNCentroidIds]] selection (bit-identical to the original
    * `slice(array_sort(transform(…)), 1, NProbe)` chain it replaced,
    * including the d-then-c_id and NaN-last tie-breaks) — with the
    * CORPUS as the query frame (ss_knn_graph) the interpreted HOF sort
    * over |centroids| structs per row was the dominant cost at 20×
    * density (40.2 → 17.1 s; the remainder is the inherent
    * corpus × centroids assignment flops). */
  private[graft] def probeClustersOf(queries: DataFrame, centArr: DataFrame): DataFrame =
    queries.crossJoin(broadcast(centArr))
      .withColumn("cluster", explode(graft.functions.NativeExpressions
        .topNCentroidIds(col("qv"), col("cents"), NProbe)))
      .drop("cents")

  /** ss_brute_topk: exact cosine top-k per query over the full corpus. */
  def ssBruteTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = vecs(spark, sfDir)
      .join(broadcast(queriesDf(spark, sfDir)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    topKPerQuery(cand, TopK)
  }

  /** ss_sq8_topk: int8 scalar-quantized brute-force top-k — the memory-
    * bandwidth scale path for exhaustive scoring. Coordinates quantize to
    * signed bytes (⌊clip(x,−1,1)·127+0.5⌋) and score as an exact integer
    * dot product ([[graft.functions.NativeExpressions.sq8Dot]]), so at
    * 100 TB the corpus can be STORED pre-quantized at 1 byte/dim (4×
    * less scan I/O than float32) and re-ranked by ss_brute only on the
    * survivors. Same map-only shape as ss_brute_topk: queries broadcast,
    * scoring per-partition, two-phase top-k; the integer score also
    * removes IEEE accumulation-order sensitivity entirely, which is why
    * this variant hash-matches its DuckDB mirror with no rounding
    * epsilon. */
  def ssSq8Topk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.sq8Dot
    val cand = vecs(spark, sfDir)
      .join(broadcast(queriesDf(spark, sfDir)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), sq8Dot(col("qv"), col("v")).as("dot_q"))
    topKByDot(cand, TopK)
  }

  /** Two-phase top-k on the integer sq8 score. */
  private def topKByDot(cand: DataFrame, k: Int): DataFrame =
    topKBy(cand, k, col("dot_q"), col("dot_q"))

  /** sq8 prefilter depth for [[ssSq8Rerank]] — survivors per query that
    * get the exact float pass. */
  val RerankM = 20

  /** ss_sq8_rerank: the two-stage production ANN scan — cheap int8 dot
    * over the FULL corpus selects [[RerankM]] survivors per query, exact
    * float cosine re-ranks only those to the final top-k. This is the
    * composition the sq8 operators exist for: at 100 TB stage 1 reads
    * 1-byte/dim codes (4× less scan I/O) and stage 2 touches
    * |Q|·RerankM vectors — a constant — so the expensive float pass
    * never sees the corpus. The survivor set is broadcast back onto the
    * (bucketed) vector table; the final rank is a window over |Q|·M
    * rows, driver-trivial. */
  def ssSq8Rerank(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.sq8Dot
    val pre = vecs(spark, sfDir)
      .join(broadcast(queriesDf(spark, sfDir)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), sq8Dot(col("qv"), col("v")).as("dot_q"))
    val survivors = topKByDot(pre, RerankM).select(col("q_id"), col("vec_id"))
    val re = vecs(spark, sfDir)
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(queriesDf(spark, sfDir)), "q_id")
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    re.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos") * 1000000, 0).cast("long").as("cos_ppm"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** PQ codebook: the [[PqKs]] lowest-id seed vectors at stride
    * [[PqSeedMod]], code = 0-based rank by vec_id, one subvector array
    * column per subspace. Sampled codebooks are the zero-training PQ
    * baseline; a production build refines them per-subspace with the
    * p21 Lloyd's chain and persists via the centroid-artifact path —
    * the scoring algebra below is unchanged either way. */
  private def pqCodebook(spark: SparkSession, sfDir: String): DataFrame =
    vecs(spark, sfDir).filter(col("vec_id") % PqSeedMod === 0)
      .orderBy(col("vec_id")).limit(PqKs)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("sv"))
      .selectExpr((0 until PqM).map(m =>
        s"""transform(sv, (s, i) -> struct(CAST(i AS BIGINT) AS c_id,
           |  slice(s.v, ${m * PqDs + 1}, $PqDs) AS cv)) AS cb_$m""".stripMargin): _*)

  /** ss_pq_topk: product-quantization ANN (Jégou et al. 2011) — each
    * vector encodes to [[PqM]] codebook indices (one 4-bit code per
    * [[PqDs]]-dim subspace: [[PqM]] bytes/vector, vs [[Dim]] bytes for
    * sq8 and 4·[[Dim]] for float32), and queries score by ASYMMETRIC
    * distance: the per-(subspace, code) L2² lookup table is built once
    * per query (PqM·PqKs cells) and the per-vector score is [[PqM]]
    * table lookups + adds — no float vector is touched during the scan.
    * LUT cells are rounded to integer micros at build time, so the ADC
    * sum is exact integer algebra: cross-engine parity needs no
    * float-association argument beyond the per-cell L2² fold (which
    * reuses the proven unrolled-left-assoc mirror), and the DuckDB
    * oracle may GROUP-BY-sum the per-subspace cells in any order.
    *
    * Scale shape: encoding is one broadcast-codebook map pass over the
    * corpus ([[graft.functions.NativeExpressions.ArgminL2]] per
    * subspace, codegen'd) — at 100 TB the codes table is what you
    * PERSIST (32× smaller than the float corpus) and this operator's
    * scan reads codes only, as this plan does (the cand join's probe
    * side is the codes projection, not the vectors). The LUT join
    * broadcasts |Q| rows; ranking is the shared two-phase top-k on the
    * integer micro score (ascending — ADC is a distance), ties to the
    * smaller vec_id on both engines. */
  /** The [[PqM]]-wide code array for the current row's `v` against the
    * joined codebook columns `cb_m` — one codegen'd argminL2 per
    * subspace. */
  private def pqCodesCol: Column = {
    import graft.functions.NativeExpressions.argminL2
    array((0 until PqM).map(m =>
      argminL2(slice(col("v"), m * PqDs + 1, PqDs), col(s"cb_$m"))
        .getField("c_id")): _*)
  }

  /** Per-query ADC lookup tables, one integer-micro array per subspace.
    * LUT rows are |Q|×PqM×PqKs sub-distances — interpreted HOF is fine
    * at that cardinality (the corpus-sized encode is the native pass). */
  private def pqLuts(spark: SparkSession, sfDir: String, cb: DataFrame): DataFrame =
    pqLutsOf(queriesDf(spark, sfDir), cb)

  /** LUT construction over an arbitrary (qv, …) query frame — batch or
    * STREAMING (one broadcast codebook row). Replaces `qv` with the
    * [[PqM]] integer-micro lut_m arrays; other columns ride along. */
  private[graft] def pqLutsOf(queries: DataFrame, cb: DataFrame): DataFrame = {
    val keep = queries.columns.filterNot(_ == "qv").map(col).toSeq
    queries.crossJoin(broadcast(cb))
      .select(keep ++ (0 until PqM).map(m => expr(
        s"""transform(cb_$m, s -> CAST(round(aggregate(
           |  zip_with(slice(qv, ${m * PqDs + 1}, $PqDs), s.cv,
           |    (a, b) -> (a - b) * (a - b)),
           |  0D, (acc, x) -> acc + x) * 1000000, 0) AS BIGINT)) AS lut_$m""".stripMargin)): _*)
  }

  /** Sum of the [[PqM]] LUT lookups for the row's `codes` — long adds
    * over already-rounded cells, so order-independent and exact. */
  private[graft] def pqAdcCol: Column =
    (0 until PqM).map(m =>
      element_at(col(s"lut_$m"),
        (element_at(col("codes"), m + 1) + 1).cast("int"))).reduce(_ + _)

  def ssPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = pqCodebook(spark, sfDir)
    val codes = vecs(spark, sfDir).crossJoin(broadcast(cb))
      .select(col("vec_id"), pqCodesCol.as("codes"))
    val cand = codes.join(broadcast(pqLuts(spark, sfDir, cb)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), pqAdcCol.as("adc_micro"))
    topKBy(cand, TopK, -col("adc_micro"), col("adc_micro"))
  }

  /** ss_ivf_pq: IVF coarse quantizer × PQ fine scoring — FAISS's IVF,PQ,
    * the configuration production ANN actually ships at corpus scale:
    * the probe prunes the scan to NProbe buckets AND the scanned bytes
    * per survivor are the [[PqM]] code bytes, composing the two
    * economies (ss_ivf_sq8 composes probe × 1-byte/dim; this is probe ×
    * 1-byte/SUBSPACE). One corpus pass encodes cluster + codes together
    * (two argminL2 families over the same broadcast row), so the
    * persisted index table is (vec_id, cluster, codes) — 9 bytes of
    * payload per vector at 100 TB; this plan's candidate join carries
    * exactly that projection. Scoring/ranking algebra is ssPqTopk's
    * integer-micro ADC, restricted to probed buckets. */
  /** The persisted-index row set: one corpus pass encoding coarse
    * cluster + PQ codes together. `centArr`/`cb` are the one-row
    * broadcast frames. */
  private def ivfPqCoded(spark: SparkSession, sfDir: String,
      centArr: DataFrame, cb: DataFrame): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    vecs(spark, sfDir)
      .crossJoin(broadcast(centArr)).crossJoin(broadcast(cb))
      .select(col("vec_id"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"),
        pqCodesCol.as("codes"))
  }

  /** Probe + ADC-score a (vec_id, cluster, codes) index table — the
    * query-time half shared by the in-session operator and the
    * artifact path. */
  private def ivfPqScore(spark: SparkSession, sfDir: String,
      coded: DataFrame, centArr: DataFrame, cb: DataFrame): DataFrame = {
    val cand = coded
      .join(broadcast(probeClusters(spark, sfDir, centArr)
        .select(col("q_id"), col("cluster"))), Seq("cluster"))
      .join(broadcast(pqLuts(spark, sfDir, cb)), Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), pqAdcCol.as("adc_micro"))
    topKBy(cand, TopK, -col("adc_micro"), col("adc_micro"))
  }

  def ssIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = pqCodebook(spark, sfDir)
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    ivfPqScore(spark, sfDir, ivfPqCoded(spark, sfDir, centArr, cb), centArr, cb)
  }

  /** Index BUILD: persist the IVF,PQ index — the (vec_id, cluster,
    * codes) table plus its two tiny query-time sidecars (the PQ
    * codebook row and the coarse centroids). The heavy encode pass
    * runs ONCE per corpus version; at 100 TB every later query batch
    * re-reads only the ~9-byte/vector codes table and never touches a
    * float corpus vector. */
  def writePqArtifact(spark: SparkSession, sfDir: String, path: String): Unit = {
    val cb = pqCodebook(spark, sfDir)
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    ivfPqCoded(spark, sfDir, centArr, cb)
      .write.mode("overwrite").parquet(s"$path/codes")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    centroidsDf(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Index USE: ssIvfPq's probe + ADC scan reading the persisted index —
    * no encode, no float-vector corpus read (the embeddings table is
    * touched only for the |Q| query rows). Output identical to the
    * gated in-session operator (pinned by PipelineSpec). */
  def ssPqFromArtifact(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    val cb = spark.read.parquet(s"$path/codebook")
    val centArr = spark.read.parquet(s"$path/centroids")
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    ivfPqScore(spark, sfDir, spark.read.parquet(s"$path/codes"), centArr, cb)
  }

  /** ss_ivf_sq8: IVF coarse quantizer + int8 fine scoring — the classic
    * production ANN composition (FAISS's IVF,SQ8 index re-expressed as a
    * plan): queries probe their [[NProbe]] nearest centroids (float L2,
    * broadcast centroid array), and only the probed buckets' vectors are
    * scored, with the integer sq8 dot. At 100 TB the corpus is stored
    * bucketed by cluster at 1 byte/dim: the probe prunes the scan to
    * ~NProbe/K of the data AND each scanned byte is 4× cheaper than
    * float32 — the two savings compose. */
  def ssIvfSq8(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.sq8Dot
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    val cand = assignments(spark, sfDir)
      .join(broadcast(probeClusters(spark, sfDir, centArr)), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), sq8Dot(col("qv"), col("v")).as("dot_q"))
    topKByDot(cand, TopK)
  }

  /** Nearest-centroid assignment as a map-only pass: the centroid set is
    * collected into ONE array row, broadcast, and argmin runs as a
    * native one-pass kernel per vector (graft.functions.NativeExpressions
    * .ArgminL2 — an interpreted HOF fold here costs ~µs per centroid,
    * which at ~sqrt(N) centroids dominated the whole pass) — no
    * explosion, no shuffle. */
  private def assignments(spark: SparkSession, sfDir: String): DataFrame = {
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    vecs(spark, sfDir).crossJoin(broadcast(centArr))
      .withColumn("best",
        graft.functions.NativeExpressions.argminL2(col("v"), col("cents")))
      .select(col("vec_id"), col("v"),
        col("best.c_id").as("cluster"), col("best.d").as("dist2"))
  }

  /** ss_ivf_topk: IVF — probe the NProbe nearest centroid buckets, then
    * cosine top-k within the probed buckets only. */
  def ssIvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    val cand = assignments(spark, sfDir)
      .join(broadcast(probeClusters(spark, sfDir, centArr)), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    topKPerQuery(cand, TopK)
  }

  /** ss_knn_graph: the corpus-wide k-NN graph — EVERY vector's [[TopK]]
    * nearest neighbors by cosine, IVF-blocked. This is the backbone
    * artifact of embedding-side curation (SemDeDup-style graph dedup,
    * diversity scoring, graph clustering): where the ss_* family serves
    * an external query batch, here the query set IS the corpus, so the
    * probe side cannot be broadcast — each vector probe-expands to its
    * [[NProbe]] nearest centroid buckets (map-only against the broadcast
    * centroid array) and the candidate join is a SHUFFLE join on
    * `cluster`, co-partitioning probes with bucket members. Scale shape:
    * candidates are corpus × NProbe × avg-bucket, never all-pairs; with
    * centroid count grown ~√N (the seed rule) buckets stay ~√N and the
    * per-cluster work is linear-ish; a fat bucket is AQE's skew-join
    * case, not a plan rewrite. Each (query, candidate) pair arises at
    * most once (a vector lives in exactly one bucket), so the top-k
    * needs no dedup. Per-(q, partition) partial top-k caps the fan-in
    * like every other ss_* op. Hash-gated: same probe tie-break and
    * left-to-right IEEE cosine as ss_ivf_topk's oracle.
    *
    * BUILD-ONCE, CONSUME-AFTER: the probe+score pass is the one
    * inherently super-linear step in the suite (queries = corpus, so
    * total candidate work is minimized at ~N^1.5 with nlist ~ √N — the
    * IVF blocker's floor), and it is a GRAPH BUILD, not a query: every
    * consumer (this entry's presentation, [[ssCentrality]], repeated
    * bench passes) reads the same edge set. The edge table is therefore
    * computed once per (session, corpus, knob values) via
    * [[SessionCache]], so within a session the family pays one build
    * and every later consumer is linear in the edge count.
    * Cross-session persistence is the [[writeKnnArtifact]] /
    * [[ssCentralityFromArtifact]] split. */
  def ssKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    knnEdges(spark, sfDir).orderBy(col("q_id"), col("rank"))

  /** Session cache ([[SessionCache]]) of the k-NN edge table (q_id,
    * rank, vec_id, cos_ppm), eagerly checkpointed — |corpus|·[[TopK]]
    * rows of four longs, far smaller than the probe fan-in it saves.
    * The [[Knobs.maxCentroids]] cap is a knob, so a capped build never
    * serves an uncapped caller. */
  private def knnEdges(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.get(spark, sfDir, "Similarity.knnEdges") {
      // Per-cluster native top-k (r15): the r14 shuffle join materialized
      // every (query, bucket-member) candidate as a joined row carrying
      // both vector payloads — 312M rows / 200.9 s at the 100× corpus,
      // the dd_semantic row-traffic floor. Members now collect ONCE per
      // cluster (state bounded by bucket occupancy — ~√N by the seed
      // rule, same bound as semanticVerdicts' member lists) and
      // [[graft.functions.Kernels.knnTopK]] emits only each (probe,
      // cluster)'s top-k, so the global merge handles |corpus|·NProbe·k
      // id/cos rows instead of the full bucket fan-in. Values and
      // tie-breaks are bit-identical to the join form (kernel scaladoc;
      // KnnGraphSpec pins graph == ss_ivf_topk on the shared queries and
      // KnnKernelSpec pins the full differential).
      val centArr = centroidsDf(spark, sfDir)
        .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
      val probes = probeClustersOf(
        vecs(spark, sfDir).select(col("vec_id").as("q_id"), col("v").as("qv")),
        centArr)
      val members = assignments(spark, sfDir)
        .groupBy(col("cluster"))
        .agg(collect_list(struct(col("vec_id"), col("v"))).as("members"))
      val partial = probes.join(members, Seq("cluster"))
        .select(col("q_id"), explode(graft.functions.NativeExpressions
          .knnTopK(col("qv"), col("q_id"), col("members"), TopK)).as("e"))
        .select(col("q_id"), col("e.vec_id").as("vec_id"), col("e.cos").as("cos"))
      Sampling.materialize(topKByUnsorted(partial, TopK, col("cos"),
        round(col("cos") * 1000000, 0).cast("long").as("cos_ppm")))
    }

  /** The r14 join-form edge build — differential reference ONLY
    * (KnnKernelSpec pins the kernel build against it row-for-row). */
  private[graft] def knnEdgesJoinForm(spark: SparkSession, sfDir: String): DataFrame = {
    val centArr = centroidsDf(spark, sfDir)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    val probes = probeClustersOf(
      vecs(spark, sfDir).select(col("vec_id").as("q_id"), col("v").as("qv")),
      centArr)
    val cand = assignments(spark, sfDir)
      .select(col("vec_id"), col("v"), col("cluster"))
      .join(probes, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    topKByUnsorted(cand, TopK, col("cos"),
      round(col("cos") * 1000000, 0).cast("long").as("cos_ppm"))
  }

  /** PageRank iteration count for [[ssCentrality]] — fixed (not
    * to-convergence) so the result is a pure function of the edge set
    * and the oracle can unroll the same three join-aggregate rounds. */
  val PrIters = 3

  /** The [[ssCentrality]] rank recursion over an arbitrary (src, dst)
    * edge frame — factored out so CentralitySpec can feed a hand-checked
    * toy graph. Integer-exact by construction: ranks live in ppm longs,
    * a node's outflow is `rank div out-degree` (per-edge long), damping
    * is `·85 div 100` with teleport 150000 ppm — every sum is a sum of
    * longs, so accumulation order cannot move a bit on either engine.
    * Dangling mass is dropped, not redistributed (a defined — and
    * documented — variant; both sides implement the same one). */
  private[graft] def pageRank(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val flow = Sampling.materialize(edges.join(deg, "src"))
    var ranks = nodes.select(col("vec_id"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = flow
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr("150000L + coalesce(s, 0L) * 85 div 100").as("r"))
    }
    ranks
  }

  /** ss_centrality: PageRank over the [[ssKnnGraph]] edge set — the
    * corpus-level "representativeness" score embedding-side curation
    * ranks documents by (a high-centrality vector sits in a dense,
    * well-connected semantic region; the graph's sinks are outliers).
    *
    * Scale shape: the edge table (corpus × [[TopK]] rows) is checkpointed
    * once and every iteration is one shuffle join on `src` (the rank
    * table co-partitions with the edges after round 1 — Spark reuses the
    * hash partitioning) plus one map-side-combinable sum on `dst`; that
    * is the canonical distributed PageRank step, linear per round at any
    * corpus size. The rank/degree tables are node-sized (≪ edges), and
    * with [[PrIters]] fixed the whole op is [[PrIters]]+2 linear passes.
    * The final global ordering is one node-sized sort — same cost class
    * as every other ranked output here. Hash-gated: integer rank algebra
    * end-to-end (see [[pageRank]]). */
  def ssCentrality(spark: SparkSession, sfDir: String): DataFrame = {
    // knnEdges is already checkpointed by the session cache — the rank
    // rounds re-read its materialized blocks, so centrality never
    // re-runs the probe+score build (linear in |edges| per round).
    val edges = knnEdges(spark, sfDir)
      .select(col("q_id").as("src"), col("vec_id").as("dst"))
    centralityOver(Sampling.materialize(
      vecs(spark, sfDir).select(col("vec_id"))), edges)
  }

  /** The rank/degree/ordering tail of [[ssCentrality]] over an arbitrary
    * (src, dst) edge frame — shared with [[ssCentralityFromArtifact]]. */
  private def centralityOver(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("d"))
    val scored = nodes
      .join(indeg.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
      .join(pageRank(nodes, edges), Seq("vec_id"))
      .select(col("vec_id"), coalesce(col("d"), lit(0L)).as("in_deg"),
        col("r").as("pr_ppm"))
    // Global rank over EVERY vector: a plain unpartitioned window ships
    // the corpus through one sort task; the two-phase form ranks within
    // range partitions and offsets — vec_id tie-break makes the order
    // strict, so the result is identical (the oracle's row_number form).
    Sampling.globalRank(scored,
        Seq(col("pr_ppm").desc), col("vec_id"), "rank")
      .select(col("rank"), col("vec_id"), col("in_deg"), col("pr_ppm"))
      .orderBy(col("rank"))
  }

  /** Graph BUILD: persist the [[ssKnnGraph]] edge set (src, dst, rank,
    * cos_ppm). The probe + cosine pass — the expensive part — runs ONCE
    * per corpus version; every graph consumer (centrality, SemDeDup-style
    * pruning, diversity sampling) then reads a 4-column long table and
    * never re-touches a float vector. */
  def writeKnnArtifact(spark: SparkSession, sfDir: String, path: String): Unit =
    knnEdges(spark, sfDir)
      .select(col("q_id").as("src"), col("vec_id").as("dst"),
        col("rank"), col("cos_ppm"))
      .write.mode("overwrite").parquet(s"$path/edges")

  /** Graph USE: ss_centrality over the persisted edge artifact — the
    * rank rounds only, no probe/score pass (output identical to the
    * gated in-session operator; pinned by PipelineSpec). */
  def ssCentralityFromArtifact(spark: SparkSession, sfDir: String,
      path: String): DataFrame =
    centralityOver(vecs(spark, sfDir).select(col("vec_id")),
      spark.read.parquet(s"$path/edges").select(col("src"), col("dst")))

  /** ss_lsh_topk: random-hyperplane sign-LSH ANN. Corpus vectors hash to
    * one 8-bit sign bucket (map-only native pass); each query multiprobes
    * its own bucket plus the [[NPlanes]] single-bit flips (recall knob),
    * and cosine top-k runs over the probed buckets only. Scale shape: the
    * query probe set is broadcast, the corpus is never shuffled, and the
    * candidate fan-in per query is the probed buckets' occupancy —
    * ~(1+NPlanes)/2^NPlanes of the corpus — instead of all N. */
  def ssLshTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.signLshBucket
    val bk = vecs(spark, sfDir)
      .select(col("vec_id"), col("v"), signLshBucket(col("v"), planes).as("bkt"))
    val qb = queriesDf(spark, sfDir)
      .select(col("q_id"), col("qv"), signLshBucket(col("qv"), planes).as("bkt"))
    val probeArr = array(col("bkt") +: (0 until NPlanes).map(i =>
      col("bkt").bitwiseXOR(lit(1L << i))): _*)
    val probes = qb.select(col("q_id"), col("qv"), explode(probeArr).as("probe"))
    val cand = bk.join(broadcast(probes),
        col("bkt") === col("probe") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    topKPerQuery(cand, TopK)
  }

  /** ss_multiprobe_lsh: multi-TABLE sign-LSH (band ORing) — [[NTables]]
    * independent hyperplane tables; a corpus vector is a candidate for a
    * query if their buckets collide in ANY table. Union-of-tables recall
    * compounds per table (miss probability multiplies), where single-table
    * bit-flip probing only reaches Hamming-1 neighbors. Same scale shape
    * as ss_lsh_topk: corpus never shuffles, the (table, bucket) query set
    * broadcasts, candidates dedup before top-k. */
  def ssMultiprobeLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.signLshBucket
    def buckets(v: Column): Column = array((0 until NTables).map { l =>
      struct(lit(l.toLong).as("tbl"), signLshBucket(v, tablePlanes(l)).as("bkt"))
    }: _*)
    val bk = vecs(spark, sfDir)
      .select(col("vec_id"), col("v"), explode(buckets(col("v"))).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val qb = queriesDf(spark, sfDir)
      .select(col("q_id"), col("qv"), explode(buckets(col("qv"))).as("tb"))
      .select(col("q_id"), col("qv"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val cand = bk.join(broadcast(qb), Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
      .distinct() // a pair colliding in several tables scores once
    topKPerQuery(cand, TopK)
  }

  /** ss_ivf_trained: IVF probing over TRAINED centroids — the
    * centroid-training loop §7 calls for (reference trains KMeans with
    * random_state=42). Re-expressed as the deterministic integer-exact
    * fixed-k Lloyd's chain so the WHOLE pipeline has a DuckDB mirror:
    * MLlib's k-means|| init has no SQL form and kept this entry
    * rows-only through round 9. Training = [[TrainedK]] seeds
    * (vec_id < k over the micro-fixed-point corpus), [[LloydsIters]]
    * unrolled assign→update rounds via [[lloydsIterate]] — fixed k ⇒
    * each round is one map-only broadcast-argmin pass plus a bounded
    * per-(cluster, dim) mean, linear at any corpus size. Assignment and
    * probe ranking run in the exact-integer micro space (bit-identical
    * across engines); the candidate COSINE runs on the real-unit
    * vectors like every other ss_* op. IvfRecallSpec still pins recall
    * vs ss_brute_topk — now a quality floor ON TOP of the hash gate,
    * not a substitute for it. */
  def ssIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    val both = vecsWithMicro(spark, sfDir)
    val centArr = fixedKCentArr(spark, sfDir, TrainedK)
    val asg = both.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        argminL2(col("vmi"), col("cents")).getField("c_id").as("cluster"))
    val probes = both.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("vmi").as("qmi"))
      .crossJoin(broadcast(centArr))
      .withColumn("cluster", explode(graft.functions.NativeExpressions
        .topNCentroidIds(col("qmi"), col("cents"), NProbe)))
      .select(col("q_id"), col("qv"), col("cluster"))
    val cand = asg.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosineSim(col("qv"), col("v")).as("cos"))
    topKPerQuery(cand, TopK)
  }

  /** Corpus carrying BOTH unit systems — real-unit `v` for cosine
    * scoring, micro-fixed-point `vmi` for exact-integer trained-centroid
    * assignment/probing. One scan; Catalyst prunes whichever column a
    * branch doesn't use. */
  private def vecsWithMicro(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      transform(col("embedding"), x => round(x.cast("double") * 1000000d, 0)).as("vmi"))

  /** [[inertiaOf]] for the trained-IVF cell clustering (micro space,
    * rescaled to real units like [[lloydsInertia]]). */
  private[graft] def ivfTrainedInertia(spark: SparkSession, sfDir: String): Double =
    inertiaOf(lloydsVm(spark, sfDir).select(col("vec_id"), col("v")),
      fixedKCentArr(spark, sfDir, TrainedK), scale = 1e12)

  /** p21_cluster_assign: per-vector nearest seed centroid + distance. */
  def p21ClusterAssign(spark: SparkSession, sfDir: String): DataFrame =
    assignments(spark, sfDir)
      .select(col("vec_id"), col("cluster"),
        round(col("dist2") * 1000, 0).cast("long").as("dist2_mil"))
      .orderBy(col("vec_id"))

  /** p21_kmeans: the reference's k=10 document clustering
    * (21-embedding-and-clustering.py:300-320, random_state=42) —
    * re-expressed as the deterministic fixed-k Lloyd's chain
    * ([[fixedKCentArr]], k=[[KmeansK]]) so the cluster sizes hash-gate
    * against an unrolled DuckDB mirror (rows-only through round 9 while
    * it rode MLlib's un-SQL-able k-means|| init). KmeansQualitySpec
    * keeps the MLlib trainer as the quality-parity pin: the
    * deterministic chain's inertia must band with sklearn-style seeded
    * training on the same corpus. Output (cluster, n): clusters carry
    * their seed ids 0..k-1. One map-only broadcast-argmin pass +
    * a k-group count — linear at any corpus size. */
  def p21Kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    lloydsVm(spark, sfDir)
      .crossJoin(broadcast(fixedKCentArr(spark, sfDir, KmeansK)))
      .groupBy(argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("cluster"))
  }

  /** [[inertiaOf]] for the deterministic [[p21Kmeans]] clustering (micro
    * space, rescaled to real units) — the side KmeansQualitySpec bands
    * against the MLlib parity trainer. */
  private[graft] def detKmeansInertia(spark: SparkSession, sfDir: String): Double =
    inertiaOf(lloydsVm(spark, sfDir).select(col("vec_id"), col("v")),
      fixedKCentArr(spark, sfDir, KmeansK), scale = 1e12)

  /** MLlib k-means centroids (k=10, seed=42, [[withTrainSample]] hash-
    * sample training) — no longer the p21_kmeans production path (its
    * k-means|| init has no SQL form, so it can't hash-gate); retained
    * ONLY as KmeansQualitySpec's parity trainer, standing in for the
    * reference's seeded sklearn fit. */
  private[graft] def kmeansCentArr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val model = withTrainSample(vecs(spark, sfDir), 10L) { s =>
      new KMeans().setK(10).setSeed(42L).setMaxIter(20)
        .fit(s.select(array_to_vector(col("v")).as("features")))
    }
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("c_id", "cv")
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
  }

  /** Corpus inertia (Σ min-squared-L2 to a centroid) of a clustering given
    * its one-row (c_id, cv) centroid array — the scalar KmeansQualitySpec
    * bands p21_kmeans's MLlib training against the hash-gated Lloyd's
    * chain with. `scale` divides each squared distance (the Lloyd's family
    * works in micro-fixed-point, ×10⁶ per coordinate → ×10¹² squared). */
  private[graft] def inertiaOf(v: DataFrame, centArr: DataFrame,
      scale: Double = 1.0): Double =
    v.crossJoin(broadcast(centArr))
      .select((graft.functions.NativeExpressions
        .argminL2(col("v"), col("cents")).getField("d") / scale).as("d"))
      .agg(sum(col("d"))).head.getDouble(0)

  /** [[inertiaOf]] for the MLlib p21_kmeans clustering (real-unit corpus). */
  private[graft] def kmeansInertia(spark: SparkSession, sfDir: String): Double =
    inertiaOf(vecs(spark, sfDir), kmeansCentArr(spark, sfDir))

  /** [[inertiaOf]] for the hash-gated Lloyd's clustering, rescaled from
    * micro-fixed-point to real units so it's comparable to
    * [[kmeansInertia]]. */
  private[graft] def lloydsInertia(spark: SparkSession, sfDir: String): Double =
    inertiaOf(lloydsVm(spark, sfDir).select(col("vec_id"), col("v")),
      lloydsCentArr(spark, sfDir), scale = 1e12)

  /** Principal-component count for [[p21Pca]] (the reference's
    * n_components=2 visualization default). */
  val PcaK = 2

  /** Fit MLlib PCA on the corpus and return (principal-component column
    * vectors, explained-variance ratios). The fit is ONE distributed
    * Gramian/covariance pass (64×64 output — driver-trivial at any corpus
    * size), so unlike the iterative trainers it runs on the full corpus.
    * Shared by [[p21Pca]] and PcaVarianceSpec. */
  def pcaFit(spark: SparkSession, sfDir: String): (Seq[Seq[Double]], Seq[Double]) = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val feat = vecs(spark, sfDir).select(array_to_vector(col("v")).as("features"))
    val model = new PCA().setK(PcaK).setInputCol("features").setOutputCol("pc")
      .fit(feat)
    val m = model.pc // DenseMatrix: Dim rows × PcaK cols
    val comps = (0 until PcaK).map(j => (0 until Dim).map(i => m(i, j)).toSeq)
    (comps, model.explainedVariance.toArray.toSeq)
  }

  /** Deterministic top-2 PCA fit, hash-gateable against DuckDB.
    *
    * The float hazards that kept p21_pca rows-only — eigenvector sign and
    * accumulation-order bits — are removed by construction:
    *
    *  1. The scaled covariance is EXACT integer algebra: elements are
    *     micro-fixed-point (round(x·10⁶) as long), so the corpus sums
    *     Σqᵢ and Σqᵢqⱼ are order-independent BIGINTs on both engines,
    *     and C = P − S·Sᵀ/n is a deterministic IEEE expression over them.
    *  2. The eigen-solve is 12 rounds of max-abs-normalized matrix
    *     squaring: A ← (A·A)/max|A·A| converges to the rank-1 projector
    *     v₁v₁ᵀ at rate (λ₂/λ₁)^2^t — gap^4096 ≈ 10⁻³⁰ at this corpus's
    *     ~0.98 eigengap, so both engines land within ~10⁻¹³ of the SAME
    *     fixed point regardless of their internal float summation order
    *     (the iteration is self-correcting; the inputs are bit-equal).
    *  3. Sign convention: the largest-|component| coordinate (ties →
    *     lowest index) is made positive; PC2 via explicit deflation
    *     C − λ₁v₁v₁ᵀ and a second squaring chain.
    *
    * Returns (loadings w1/w2, centering offsets μ·wₖ). Scale shape: ONE
    * distributed pass — per-row quantization plus the 64+4096 fixed-point
    * products folded into a single flat [[graft.functions.GramSum]]
    * buffer (33 KB of per-partition state, partitions×1 shuffle rows; the
    * original posexplode form shuffled 4160 rows PER INPUT ROW — 166M at
    * 20× density, 35 s vs ~4 s) — then O(64³·12) driver flops on the
    * collected 64×64 matrix. Long addition is order-independent, so the
    * sums are bit-equal to the exploded form's and the DuckDB oracle
    * mirror is untouched. */
  private[graft] def pcaDetFit(spark: SparkSession, sfDir: String)
      : (Seq[Array[Double]], Seq[Double]) = {
    val fx = vecs(spark, sfDir).select(
      transform(col("v"), x => round(x * lit(1e6)).cast("long")).as("q"))
    val g = fx.select(graft.functions.Aggregates.gramSum(col("q"), Dim).as("g"))
      .head().getSeq[Long](0)
    val n = g(0).toDouble
    val s = new Array[Double](Dim)
    val p = new Array[Double](Dim * Dim)
    var k = 0
    while (k < Dim) { s(k) = g(1 + k).toDouble; k += 1 }
    k = 0
    while (k < Dim * Dim) { p(k) = g(1 + Dim + k).toDouble; k += 1 }
    val c = Array.tabulate(Dim * Dim)(k => p(k) - s(k / Dim) * s(k % Dim) / n)
    val w1 = pcaTopEig(c)
    val cw = Array.tabulate(Dim) { i =>
      var acc = 0.0; var j = 0
      while (j < Dim) { acc += c(i * Dim + j) * w1(j); j += 1 }; acc
    }
    var lam = 0.0
    for (i <- 0 until Dim) lam += w1(i) * cw(i)
    val c2 = Array.tabulate(Dim * Dim)(k => c(k) - lam * w1(k / Dim) * w1(k % Dim))
    val w2 = pcaTopEig(c2)
    val mu = Array.tabulate(Dim)(i => s(i) / 1e6 / n)
    def off(w: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < Dim) { acc += mu(i) * w(i); i += 1 }; acc
    }
    (Seq(w1, w2), Seq(off(w1), off(w2)))
  }

  /** Squaring chain rounds shared by [[pcaDetFit]] and the SQL mirror. */
  private val PcaSquarings = 12

  /** Dominant eigenvector of symmetric row-major `c` by [[PcaSquarings]]
    * max-abs-normalized squarings, extracted from the max-diagonal row of
    * the limiting projector, unit-normalized, sign-fixed. */
  private def pcaTopEig(c: Array[Double]): Array[Double] = {
    def maxAbsNorm(m: Array[Double]): Array[Double] = {
      var mx = 0.0; var i = 0
      while (i < m.length) { val a = math.abs(m(i)); if (a > mx) mx = a; i += 1 }
      m.map(_ / mx)
    }
    var a = maxAbsNorm(c)
    for (_ <- 1 to PcaSquarings)
      a = maxAbsNorm(Array.tabulate(Dim * Dim) { k =>
        val i = k / Dim; val j = k % Dim
        var acc = 0.0; var l = 0
        while (l < Dim) { acc += a(i * Dim + l) * a(l * Dim + j); l += 1 }
        acc
      })
    var r = 0; var best = a(0)
    for (i <- 1 until Dim) {
      val d = a(i * Dim + i); if (d > best) { best = d; r = i }
    }
    val row = Array.tabulate(Dim)(j => a(r * Dim + j))
    var n2 = 0.0
    for (j <- 0 until Dim) n2 += row(j) * row(j)
    val nrm = math.sqrt(n2)
    val u = row.map(_ / nrm)
    var am = 0; var bu = math.abs(u(0))
    for (i <- 1 until Dim) {
      val ab = math.abs(u(i)); if (ab > bu) { bu = ab; am = i }
    }
    if (u(am) < 0) u.map(x => -x) else u
  }

  /** p21_pca: centered 2-component PCA projection of the embedding corpus
    * — the reference's reduce_dimensions PCA path
    * (21-embedding-and-clustering.py:275-283, random_state=42; its t-SNE/
    * UMAP branches are visualization-only and out of scope). HASH-GATED:
    * the fit is [[pcaDetFit]]'s deterministic squaring solve, which the
    * DuckDB oracle recomputes end-to-end from the same parquet (see
    * [[pcaOracleSql]]); PcaVarianceSpec additionally checks the
    * deterministic loadings against MLlib's independent SVD fit. Scale
    * shape: one skinny-shuffle fit pass, then the 64×2 loadings ride into
    * a codegen'd per-row dot — the corpus never shuffles. */
  def p21Pca(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val (comps, offs) = pcaDetFit(spark, sfDir)
    val pcCols = comps.zip(offs).zipWithIndex.map { case ((w, off), j) =>
      round((dot(col("v"), array(w.toSeq.map(lit): _*)) - lit(off)) * 1000, 0)
        .cast("long").as(s"pc${j + 1}_mil")
    }
    vecs(spark, sfDir)
      .select(col("vec_id") +: pcCols: _*)
      .orderBy(col("vec_id"))
  }

  /** Lloyd's iteration count for the oracle-gated [[p21Lloyds]]. */
  val LloydsIters = 3

  /** p21_lloyds: deterministic, integer-exact Lloyd's k-means — the
    * HASH-VERIFIED clustering gate (p21_kmeans stays the MLlib
    * production path; its k-means|| init is seeded-random and has no SQL
    * form, so it gates rows-only).
    *
    * Everything here is exact integer arithmetic carried in doubles —
    * vectors are micro-fixed-point (round(x·10⁶)), and integers < 2⁵³
    * are exact in IEEE doubles, so distances (squared sums ≤ 64·(4·10¹²)
    * ≪ 2⁵³) and per-dimension sums are order-independent and identical
    * in Spark and DuckDB; the only division is the same IEEE
    * floor(sum/count) on both sides. Seeds = every-50th vector (k grows
    * with SF like the IVF seed set), [[LloydsIters]] fixed iterations,
    * ties to the smallest centroid id (argminL2's struct ordering,
    * mirrored by the oracle's row_number).
    *
    * Scale shape: per iteration one map-only broadcast-argmin assignment
    * pass + one bounded per-(cluster, dim) mean (the dim explode shuffles
    * 64·N skinny rows with map-side combine); lineage is checkpointed
    * per round like dd_components. */
  def p21Lloyds(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    val vm = lloydsVm(spark, sfDir)
    val centArr = lloydsCentArr(spark, sfDir)
    vm.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("cluster"))
  }

  /** Micro-fixed-point corpus for the Lloyd's family (label carried for the
    * cluster-analysis operators; Catalyst prunes it where unused).
    *
    * SESSION-CACHED (r14): the ×10⁶ rounding transform is an interpreted
    * HOF over 64 elements/row, and before the cache every training
    * iteration, scoring pass, and assignment consumer re-ran parquet
    * scan + transform — 7.3 s/pass at the 100× corpus, ~12 passes in
    * p21_optimize_k alone. The checkpoint materializes the narrow
    * (vec_id, label, v) projection once per (session, corpus); at
    * 100 TB the same role is a persisted micro-fixed parquet artifact
    * next to the centroid artifact (write once, every chain consumer
    * reads columnar). A [[SessionCache]] entry, so session-scoped:
    * alive across queries, never released as scratch. */
  private def lloydsVm(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache.get(spark, sfDir, "Similarity.lloydsVm") {
      Sampling.materialize(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => round(x.cast("double") * 1000000d, 0)).as("v")))
    }

  /** Seed modulus of the default Lloyd's chain: every [[LloydsSeedMod]]-th
    * vector seeds a centroid (k grows with SF, stays broadcastable). */
  val LloydsSeedMod = 50

  /** The trained Lloyd's centroid TABLE (c_id, cv) after [[LloydsIters]]
    * iterations — the index-BUILD output. Persist it once per corpus
    * version via [[writeCentroidArtifact]]; every analysis pass is then
    * map-only against its broadcast ([[assignFromArtifact]]). `seedMod`
    * sets the seed density (k ≈ N/seedMod) — the k-sweep of
    * [[p21OptimizeK]] varies it; everything else trains at
    * [[LloydsSeedMod]]. */
  private def lloydsCentroids(spark: SparkSession, sfDir: String,
      seedMod: Int = LloydsSeedMod): DataFrame = {
    val vm = lloydsVm(spark, sfDir).select(col("vec_id"), col("v"))
    // Initial seeds honor the same K-cap as the IVF set: the training
    // cost is LloydsIters × N·K, quadratic under the fixture's K = N/mod
    // rule (measured 281 s at 100× uncapped vs 49.3 s at K = 1024).
    lloydsIterate(vm, capSeeds(spark,
        vm.filter(col("vec_id") % seedMod === 0), seedMod.toLong)
      .select(col("vec_id").as("c_id"), col("v").as("cv")))
  }

  /** The shared [[LloydsIters]] assign→update rounds from `seeds` over a
    * micro-fixed-point corpus `vm` (vec_id, v) — the integer-exact loop
    * behind the seed-mod chain AND the fixed-k trainers
    * ([[fixedKCentArr]]): one map-only broadcast-argmin pass + one
    * bounded per-(cluster, dim) mean per round, lineage checkpointed
    * per round like dd_components — so the returned table is the last
    * round's [[Sampling.materialize]]d frame (callers cache it as is). */
  private def lloydsIterate(vm: DataFrame, seeds: DataFrame): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    var cents = seeds
    for (_ <- 1 to LloydsIters) {
      val centArr = cents.agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
      val asg = vm.crossJoin(broadcast(centArr))
        .select(col("vec_id"), col("v"),
          argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
      cents = Sampling.materialize(asg
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        // Spark floor() returns LONG — cast back so the centroid stays a
        // double[] vector for the argmin kernel (values remain exact
        // integers; DuckDB's floor stays double natively).
        .agg(floor(sum(col("x")) / count(lit(1))).cast("double").as("m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("cv"))
        .select(col("cluster").as("c_id"), col("cv")))
    }
    cents
  }

  /** [[lloydsCentroids]] collected into ONE broadcastable array row —
    * shared by p21_lloyds / p21_cluster_profile / p21_separability /
    * p21_optimize_k / p21_feature_dist so the gates analyze the SAME
    * clustering the oracle reproduces.
    *
    * The trained centroid TABLE is CACHED per (session, corpus dir,
    * seed mod): before round 7 each gate re-ran the full
    * [[LloydsIters]]-pass training — three training passes per analysis
    * suite, which at 100 TB is three corpus-scan sets for one
    * clustering. The first caller trains and materializes the k-row
    * table (k·dim doubles — trivially small); later gates re-collect
    * the one-row array from those materialized blocks (a k-row keyless
    * aggregate — the re-agg is microseconds and keeps every consumer's
    * broadcast side a visible `keys=[]` aggregate, the single-row
    * contract PlanAuditSpec pins). A [[SessionCache]] entry, so a
    * restarted session retrains instead of touching another session's
    * dead blocks, and a run under the [[Knobs.maxCentroids]] cap never
    * serves an uncapped caller. Cross-session persistence is the
    * [[writeCentroidArtifact]] / [[assignFromArtifact]] split. */
  private[graft] def lloydsCentArr(spark: SparkSession, sfDir: String,
      seedMod: Int = LloydsSeedMod): DataFrame =
    SessionCache.get(spark, sfDir, s"Similarity.cent.$seedMod")(
      lloydsCentroids(spark, sfDir, seedMod))
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))

  /** Trained FIXED-k centroids as the one-row broadcastable (c_id, cv)
    * array — micro-fixed-point, [[lloydsIterate]] from the first k
    * vectors as seeds (c_id = vec_id 0..k-1: on the synthetic sphere as
    * arbitrary as any deterministic pick, zero extra passes, and a
    * one-predicate SQL mirror). Cached like [[lloydsCentArr]], tagged
    * by k: the fixed-k chains ignore the seed-mod fixture rule AND the
    * [[Knobs.maxCentroids]] cap — k is already a constant, so the N·K
    * assignment is linear by construction. */
  private[graft] def fixedKCentArr(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    SessionCache.get(spark, sfDir, s"Similarity.centK.$k") {
      val vm = lloydsVm(spark, sfDir).select(col("vec_id"), col("v"))
      lloydsIterate(vm, vm.filter(col("vec_id") < k)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
    }.agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))

  /** Index BUILD: train the Lloyd's centroids and persist them as a
    * parquet artifact — the train/use split of a vector index (FAISS
    * train → add): at 100 TB the [[LloydsIters]] training passes run
    * ONCE per corpus version, and every downstream consumer
    * ([[assignFromArtifact]], profile/separability re-derivations,
    * IVF bucketing) is a map-only pass against the tiny persisted
    * table's broadcast. */
  def writeCentroidArtifact(spark: SparkSession, sfDir: String, path: String): Unit =
    lloydsCentroids(spark, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Index USE: per-vector nearest-centroid assignment reading a
    * persisted centroid artifact — no training, one broadcast argmin
    * pass over the corpus. Output matches the in-session assignment the
    * gated operators compute (pinned by PipelineSpec). */
  def assignFromArtifact(spark: SparkSession, sfDir: String, path: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    val centArr = spark.read.parquet(path)
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    lloydsVm(spark, sfDir)
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
  }

  /** (vec_id, cluster) under the default Lloyd's chain — the assignment
    * every p21 analysis gate shares; exposed for SilhouetteCrossSpec's
    * exact-pairwise cross-check. */
  private[graft] def lloydsAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    lloydsVm(spark, sfDir)
      .crossJoin(broadcast(lloydsCentArr(spark, sfDir)))
      .select(col("vec_id"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
  }

  /** p21_cluster_profile: per-(cluster, label) occupancy over the Lloyd's
    * clustering — size, share (ppm), and the cluster's dominant label —
    * the reference's per-cluster feature-distribution analysis
    * (21-embedding-and-clustering.py:394-461 analyze_clusters:
    * size / feature_distribution / dominant_feature) re-expressed as one
    * exact aggregate. Scale shape: assignment is the same map-only
    * broadcast-argmin pass as p21_cluster_assign; the profile itself
    * shuffles only (cluster, label) groups — k·|labels| rows — and the
    * share/dominant windows run over that tiny aggregate, never the
    * corpus. All-integer output → full hash gate. */
  def p21ClusterProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    val asg = lloydsVm(spark, sfDir)
      .crossJoin(broadcast(lloydsCentArr(spark, sfDir)))
      .select(col("label").cast("long").as("label"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
    val counts = asg.groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
    val wSize = Window.partitionBy(col("cluster"))
    val wRank = Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))
    counts
      .withColumn("cluster_size", sum(col("n")).over(wSize))
      .withColumn("rnk", row_number().over(wRank))
      .select(col("cluster"), col("label"), col("n"), col("cluster_size"),
        expr("n * 1000000L div cluster_size").as("share_ppm"),
        when(col("rnk") === 1, lit(1L)).otherwise(lit(0L)).as("is_dominant"))
      .orderBy(col("cluster"), col("label"))
  }

  /** p21_separability: per-cluster simplified silhouette over the Lloyd's
    * clustering — for each vector, a = distance to its own (nearest)
    * centroid, b = distance to the second-nearest, s = (b−a)/b ∈ [0,1] —
    * the centroid-based separability statistic standing in for the
    * reference's silhouette_score / calculate_feature_separability
    * (21-embedding-and-clustering.py:315-340, :825-880; the exact
    * silhouette's all-pairs a/b is quadratic and the reference itself
    * uses it only on a small sample). Integer-exact: micro-fixed-point
    * distances are exact integers, sqrt/divide are identical single IEEE
    * ops per row, the per-row score rounds to ppm BEFORE aggregation, and
    * the per-cluster mean is integer floor(sum/count) — so the gate is a
    * full hash match. Scale shape: one map-only broadcast pass (top-2 of
    * the centroid array per row), then a k-group aggregate. */
  def p21Separability(spark: SparkSession, sfDir: String): DataFrame = {
    // one O(k) native pass per row — the interpreted transform+array_sort
    // equivalent cost 27× wall at 20× density / 800 centroids (BASELINE);
    // the kernel also bakes in the single-centroid fallback (d2 = d → s=0)
    val best = graft.functions.NativeExpressions.argmin2L2(col("v"), col("cents"))
    val rows = lloydsVm(spark, sfDir)
      .crossJoin(broadcast(lloydsCentArr(spark, sfDir)))
      .withColumn("best", best)
      .select(
        col("best").getField("c_id").as("cluster"),
        col("best").getField("d").as("a2"),
        col("best").getField("d2").as("b2"))
    val sil = when(col("b2") === 0d, lit(0.0))
      .otherwise((sqrt(col("b2")) - sqrt(col("a2"))) / sqrt(col("b2")))
    rows.withColumn("sil_ppm", floor(sil * 1000000d + lit(0.5)).cast("long"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("sil_ppm")) / count(lit(1))).cast("long").as("mean_sil_ppm"),
        min(col("sil_ppm")).as("min_sil_ppm"),
        max(col("sil_ppm")).as("max_sil_ppm"))
      .orderBy(col("cluster"))
  }

  /** Seed-modulus sweep for [[p21OptimizeK]] — k ≈ N/mod per entry, so
    * the sweep covers a coarse→fine clustering range at any SF without
    * hard-coding k (the reference sweeps k = 2..MAX_CLUSTERS on a fixed-
    * size frame; a corpus-relative sweep is the shape that survives
    * 100×). Includes [[LloydsSeedMod]] so the sweep shares the default
    * chain's cached centroids with the other p21 gates. */
  val OptimizeKMods: Seq[Int] = Seq(100, 50, 25)

  /** One sweep row for [[p21OptimizeK]]: train the integer-exact Lloyd's
    * chain at `seedMod`, then ONE map-only broadcast pass computes, per
    * row, the top-2 centroid distances (a2, b2) → simplified-silhouette
    * ppm AND the inertia term a2 — a single grouping-less aggregate
    * (map-side partials) reduces both. Inertia sums exact micro²-scale
    * integers in DECIMAL(38,0) — doubles lose exactness past 2^53 and a
    * BIGINT sum overflows at stress densities — then integer-divides
    * back to original units (DuckDB mirrors with HUGEINT `//`). */
  private def optimizeKRows(spark: SparkSession, sfDir: String,
      seedMods: Seq[Int]): DataFrame = {
    val best = graft.functions.NativeExpressions.argmin2L2(col("v"), col("cents"))
    // ONE corpus scan scores every sweep entry (r14): the per-mod
    // centroid arrays stack into a |sweep|-row broadcast, each vector
    // fans out to |sweep| argmin2 evaluations — identical flops to the
    // per-mod passes it replaces, minus (|sweep|−1) corpus reads.
    val cents = seedMods
      .map(m => lloydsCentArr(spark, sfDir, m)
        .select(lit(m.toLong).as("seed_mod"), col("cents")))
      .reduce(_ unionByName _)
    val rows = lloydsVm(spark, sfDir)
      .crossJoin(broadcast(cents))
      .withColumn("k", size(col("cents")).cast("long"))
      .withColumn("best", best)
      .select(col("seed_mod"), col("k"), col("best").getField("d").as("a2"),
        col("best").getField("d2").as("b2"))
    val sil = when(col("b2") === 0d, lit(0.0))
      .otherwise((sqrt(col("b2")) - sqrt(col("a2"))) / sqrt(col("b2")))
    rows.withColumn("sil_ppm", floor(sil * 1000000d + lit(0.5)).cast("long"))
      .groupBy(col("seed_mod"), col("k")) // |sweep| groups, partials map-side
      .agg(
        floor(sum(col("sil_ppm")) / count(lit(1))).cast("long").as("mean_sil_ppm"),
        expr("CAST(sum(CAST(a2 AS DECIMAL(38,0))) div 1000000000000 AS BIGINT)")
          .as("inertia"))
      .select(col("seed_mod"), col("k").as("n_clusters"),
        col("mean_sil_ppm"), col("inertia"))
  }

  /** p21_optimize_k: silhouette-driven cluster-count selection — the
    * reference's optimize_clusters k-sweep (21-embedding-and-clustering
    * .py:315-340, driving the pipeline at :937: per-k KMeans → silhouette
    * + inertia → argmax) re-expressed over the hash-gated Lloyd's chain.
    * One row per [[OptimizeKMods]] entry: (seed_mod, n_clusters,
    * mean_sil_ppm, inertia, is_optimal), is_optimal = 1 at the
    * silhouette argmax (ties → fewer clusters, matching np.argmax's
    * first hit on an ascending-k sweep). Scale shape: each sweep entry
    * pays its chain's training passes over the session-cached
    * micro-fixed corpus (the [[LloydsSeedMod]] entry shares the default
    * chain's cached centroids); scoring is ONE corpus scan against the
    * stacked |sweep|-row centroid broadcast ([[optimizeKRows]]); the
    * final argmax window runs over |sweep| rows — driver-trivial. */
  def p21OptimizeK(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = optimizeKRows(spark, sfDir, OptimizeKMods)
    val w = Window.orderBy(col("mean_sil_ppm").desc, col("n_clusters"), col("seed_mod").desc)
    rows
      .withColumn("is_optimal",
        when(row_number().over(w) === 1, lit(1L)).otherwise(lit(0L)))
      .orderBy(col("seed_mod").desc)
  }

  /** p21_feature_dist: multi-feature per-cluster distributions — the
    * reference's analyze_feature_distributions_across_clusters
    * (21-embedding-and-clustering.py:463-520, called at :948: for each
    * categorical feature value, its spread over clusters + the dominant
    * cluster + purity). p21_cluster_profile covers the embeddings-side
    * `label`; this generalizes to DOCUMENT-side categoricals (structure /
    * emoji_usage / length_bucket — the repo's derivations of the
    * reference's structure/emoji feature frame) joined over the 1:1
    * doc_id = vec_id mapping. share_ppm on the dominant row IS the
    * reference's purity. Scale shape: one broadcast-argmin assignment
    * pass, one N-row equi-join on the id, features stacked AFTER the
    * join (map-side — 3 skinny rows per doc into the aggregate's
    * partials); the shuffled groups are (feature, value, cluster) —
    * bounded by the taxonomies (≤ 3·|values|·k rows), never the corpus;
    * the share/dominant windows run over that tiny aggregate. */
  def p21FeatureDist(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    import graft.functions.TextFunctions.{emojiUsage, lengthBucket}
    val asg = lloydsVm(spark, sfDir)
      .crossJoin(broadcast(lloydsCentArr(spark, sfDir)))
      .select(col("vec_id").as("doc_id"),
        argminL2(col("v"), col("cents")).getField("c_id").as("cluster"))
    val counts = Tables.documents(spark, sfDir)
      // tokenizer/emoji kernels staged so the structure/usage `when`
      // chains evaluate each once per row, not per branch
      .select(col("doc_id"), col("text"),
        graft.functions.TextFunctions.tokens(col("text")).as("__toks"),
        graft.functions.TextFunctions.emojiCount(col("text"))
          .cast("long").as("__ne"))
      .select(col("doc_id"),
        Annotations.structureColOf(col("__toks")).as("structure"),
        graft.functions.TextFunctions
          .emojiUsageOf(col("__ne"), length(col("text"))).as("emoji_usage"),
        lengthBucket(col("text")).as("length_bucket"))
      .join(asg, "doc_id")
      .select(col("cluster"), expr(
        """stack(3, 'structure', structure, 'emoji_usage', emoji_usage,
          |  'length_bucket', length_bucket) AS (feature, value)""".stripMargin))
      .groupBy(col("feature"), col("value"), col("cluster"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy(col("feature"), col("value"))
    val wRank = Window.partitionBy(col("feature"), col("value"))
      .orderBy(col("n").desc, col("cluster"))
    counts
      .withColumn("value_total", sum(col("n")).over(wTot))
      .withColumn("rnk", row_number().over(wRank))
      .select(col("feature"), col("value"), col("cluster"), col("n"),
        col("value_total"),
        expr("n * 1000000L div value_total").as("share_ppm"),
        when(col("rnk") === 1, lit(1L)).otherwise(lit(0L)).as("is_dominant"))
      .orderBy(col("feature"), col("value"), col("cluster"))
  }

  /** SemDeDup cosine bar (ε): within-cluster pairs at or above this
    * cosine are semantic duplicates. */
  val SemanticThresholdPpm = 350000L

  /** dd_semantic: SemDeDup (Abbas et al. 2023) — semantic dedup with the
    * k-means clustering AS the blocking structure: assign every vector
    * to its Lloyd's cluster, score cosine only WITHIN a cluster, and
    * drop every doc that has a semantic duplicate (cos ≥
    * [[SemanticThresholdPpm]]) with a smaller id in its cluster
    * (keep-min-id, the deterministic stand-in for the paper's
    * keep-one-per-ε-ball). Output is the doc-level verdict table —
    * one row per vector, (vec_id, cluster, n_dups, is_kept) — so the
    * output is corpus-sized regardless of dup density (the pair set
    * stays internal). This is the embedding-space complement of
    * cur_verdict's text-space drop-list: paraphrases and re-encodings
    * that shingle/simhash dedup can't see.
    *
    * Scale shape: the SemDeDup trick is that the candidate set is
    * cluster-bucketed — pair fan-in is Σ|cluster|², never corpus², and
    * k grows with the corpus (seed density 1/[[LloydsSeedMod]]) so
    * expected bucket occupancy stays constant. One broadcast-argmin
    * assignment pass, one equi-join self-pair on the cluster key, one
    * map-side-combinable per-vec aggregate; the cosine runs on the raw
    * float vectors (same IEEE arithmetic as dd_embedding), assignment
    * on the micro-fixed space the hash-gated chain defines. At 100 TB
    * the assignment consumes the persisted centroid artifact
    * ([[assignFromArtifact]]) instead of retraining. */
  def ddSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.argminL2
    semanticFromAssignment(spark, sfDir,
      lloydsVm(spark, sfDir)
        .crossJoin(broadcast(lloydsCentArr(spark, sfDir)))
        .select(col("vec_id"),
          argminL2(col("v"), col("cents")).getField("c_id").as("cluster")))
  }

  /** Index USE: [[ddSemantic]] with the assignment read from a persisted
    * centroid artifact ([[writeCentroidArtifact]]) — no Lloyd's training
    * in the plan, the 100 TB shape the scaladoc above promises
    * (PipelineSpec pins artifact-path ≡ in-session output). */
  def semanticFromArtifact(spark: SparkSession, sfDir: String, path: String): DataFrame =
    semanticFromAssignment(spark, sfDir, assignFromArtifact(spark, sfDir, path))

  /** The SemDeDup core over any (vec_id, cluster) assignment. */
  private def semanticFromAssignment(spark: SparkSession, sfDir: String,
      asgIn: DataFrame): DataFrame =
    semanticVerdict(vecs(spark, sfDir), asgIn)

  /** [[semanticFromAssignment]] over an arbitrary (vec_id, v) float-vector
    * frame — SemanticScreenSpec's differential seam.
    *
    * The within-cluster pair scan is ONE native pass per cluster since
    * r14 ([[graft.functions.Kernels.semanticVerdicts]]): members collect
    * into a bounded per-cluster list (|cluster|·(8+8·dim) bytes — the
    * SemDeDup design keeps expected occupancy constant as k grows with
    * the corpus) and the kernel emits each member's (n_dups, min_other)
    * directly. The r13 form was a cluster-keyed self-JOIN whose
    * SortMergeJoin machinery copied two vector payloads into a joined
    * row per candidate pair — 426M pairs × ~2.3 µs/pair·core at the
    * 100× corpus (30+ s) against ~2 s for the same cosines in the
    * kernel loop; a scaled-sq8 screen + exact-rerank variant measured
    * SLOWER still (row traffic, not arithmetic, was the floor). Verdicts
    * are bit-identical (the kernel's threshold test is exactly the
    * round-half-up decision; see the kernel scaladoc) and the oracle
    * keeps computing the naive join+round+filter form.
    *
    * ROW-SET CONTRACT: `v` and `asgIn` must cover the same vec_id set.
    * The join below is INNER — an assignment row whose vec_id has no
    * vector row is silently DROPPED (the pre-r14 left-join form emitted
    * it as n_dups=0 / is_kept=1). Every current caller derives both
    * frames from the same source; SemanticScreenSpec asserts the
    * coverage so a future caller cannot lean on the old left-join
    * semantics unnoticed. */
  private[graft] def semanticVerdict(v: DataFrame, asgIn: DataFrame): DataFrame = {
    import graft.functions.NativeExpressions.semanticVerdicts
    v.join(asgIn.select(col("vec_id"), col("cluster")), "vec_id")
      .groupBy(col("cluster"))
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("members"))
      .select(col("cluster"),
        explode(semanticVerdicts(col("members"),
          SemanticThresholdPpm.toDouble - 0.5)).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("cluster"),
        col("r.n_dups").as("n_dups"),
        when(col("r.min_other") < col("r.vec_id"), lit(0L))
          .otherwise(lit(1L)).as("is_kept"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_semantic"        -> (ddSemantic _),
    "ss_brute_topk"      -> (ssBruteTopk _),
    "ss_sq8_topk"        -> (ssSq8Topk _),
    "ss_pq_topk"         -> (ssPqTopk _),
    "ss_ivf_pq"          -> (ssIvfPq _),
    "ss_ivf_sq8"         -> (ssIvfSq8 _),
    "ss_sq8_rerank"      -> (ssSq8Rerank _),
    "ss_ivf_topk"        -> (ssIvfTopk _),
    "ss_knn_graph"       -> (ssKnnGraph _),
    "ss_centrality"      -> (ssCentrality _),
    "ss_ivf_trained"     -> (ssIvfTrained _),
    "ss_lsh_topk"        -> (ssLshTopk _),
    "ss_multiprobe_lsh"  -> (ssMultiprobeLsh _),
    "p21_cluster_assign" -> (p21ClusterAssign _),
    "p21_kmeans"         -> (p21Kmeans _),
    "p21_lloyds"         -> (p21Lloyds _),
    "p21_cluster_profile" -> (p21ClusterProfile _),
    "p21_separability"   -> (p21Separability _),
    "p21_optimize_k"     -> (p21OptimizeK _),
    "p21_feature_dist"   -> (p21FeatureDist _),
    "p21_pca"            -> (p21Pca _))

  // ---- DuckDB oracle — every Similarity entry is hash-gated: the
  // trained paths (p21_kmeans / ss_ivf_trained, rows-only through
  // round 9 on MLlib) now ride the deterministic fixed-k Lloyd's
  // chains mirrored below; p21_pca via the deterministic squaring fit.
  // IvfRecallSpec / KmeansQualitySpec keep the quality pins on top. ----

  // All three base CTEs pinned MATERIALIZED (r12 verdict audit): each
  // is referenced 2–4× per query and DuckDB re-evaluates plain CTEs per
  // reference — e's 64-double cast scan and c's filter are cheap each,
  // but under the unrolled 64-term L2² consumers every re-plan costs
  // allocator mappings (the vm.max_map_count incident) and memory-window
  // headroom. The temps are |e|, |q|=10, |e|/50 rows — trivially small.
  private val eCte = "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private val qCte = "q AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10)"
  private val cCte = "c AS MATERIALIZED (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 50 = 0)"

  // MATERIALIZED (r12 verdict item 1): DuckDB re-evaluates plain CTEs
  // per reference, and even single-reference consumers re-plan the
  // e×c cross-join window under their own joins — under a tight
  // memory window the un-pinned chain OOM'd the oracle runner on
  // ss_ivf_topk (32 KB bad_alloc, the p21_optimize_k/ss_centrality
  // lesson once more). Pinning costs one |e|-row temp — always cheap.
  private val asgCte =
    s"""asg AS MATERIALIZED (
       |  SELECT vec_id, v, c_id AS cluster, d AS dist2 FROM (
       |    SELECT e.vec_id, e.v, c.c_id, ${l2SqSql("e.v", "c.cv")} AS d,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1)""".stripMargin

  /** Unrolled left-assoc L2² over PQ subspace `m` — the same textual
    * shape as [[graft.functions.VectorFunctions.l2SqSql]], offset into
    * the subspace, mirroring the argminL2 kernel over the sliced
    * subvector. */
  private def pqSubSql(a: String, b: String, m: Int): String =
    (1 to PqDs).map { j =>
      val i = m * PqDs + j
      s"($a[$i]-$b[$i])*($a[$i]-$b[$i])"
    }.mkString(" + ")

  /** PQ codebook mirror: 0-based rank by vec_id over the [[PqSeedMod]]
    * stride, capped at [[PqKs]]. MATERIALIZED — each encode branch
    * references it three times and DuckDB re-evaluates plain CTEs per
    * reference. */
  private val pqCbCte =
    s"""cb AS MATERIALIZED (SELECT rn - 1 AS c_id, v FROM (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn
       |  FROM e WHERE vec_id % $PqSeedMod = 0) WHERE rn <= $PqKs)""".stripMargin

  /** Mirrors the PQ encode + LUT lookup branch-for-branch: one UNION ALL
    * branch per subspace, each with the argminL2 tie-break (ORDER BY
    * dist, c_id) and the kernel's unrolled left-assoc L2²; cells are
    * rounded to BIGINT micros BEFORE the cross-branch sum, so the GROUP
    * BY sum in [[pqAdcCte]] is exact integer algebra. */
  private val pqBranchesSql: String =
    (0 until PqM).map { m =>
      s"""SELECT q.q_id, x.vec_id,
         |    CAST(round((${pqSubSql("q.qv", "cb.v", m)}) * 1000000, 0) AS BIGINT) AS d
         |  FROM (SELECT vec_id, c_id FROM (
         |      SELECT e.vec_id, cb.c_id,
         |        row_number() OVER (PARTITION BY e.vec_id
         |          ORDER BY ${pqSubSql("e.v", "cb.v", m)}, cb.c_id) AS rn
         |      FROM e CROSS JOIN cb) WHERE rn = 1) x
         |  JOIN cb USING (c_id) CROSS JOIN q""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val pqAdcCte =
    s"""s AS (SELECT q_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_micro
       |  FROM u WHERE vec_id != q_id GROUP BY 1, 2)""".stripMargin

  /** `rounds` max-abs-normalized matrix squarings `src.m` → `out.m`
    * (4096-element row-major lists), mirroring [[pcaTopEig]]'s loop. The
    * max is hoisted one projection level up so list_aggregate runs once
    * per squaring, not once per element. */
  private def pcaSquareChainSql(src: String, out: String, rounds: Int): String =
    (1 to rounds).map { t =>
      val prev = if (t == 1) src else s"${out}_${t - 1}"
      val name = if (t == rounds) out else s"${out}_$t"
      s"""$name AS (SELECT list_transform(w, x -> x / mx) AS m FROM (
         |  SELECT w, list_aggregate(list_transform(w, y -> abs(y)), 'max') AS mx FROM (
         |    SELECT list_transform(range(1, 4097), k ->
         |      list_sum(list_transform(range(1, 65), l ->
         |        m[((k-1)//64)*64 + l] * m[(l-1)*64 + (k-1)%64 + 1]))) AS w
         |    FROM $prev)))""".stripMargin
    }.mkString(",\n")

  /** Eigenvector extraction from the limiting projector `mat.m`, mirror of
    * [[pcaTopEig]]'s tail: max-diagonal row (ties → lowest index), unit
    * norm, largest-|component| sign convention. Emits CTEs `<w>_r`,
    * `<w>_u`, `<w>_a`, and `<w>` (one row, list column `w`). */
  private def pcaExtractSql(mat: String, w: String): String =
    s"""${w}_r AS (SELECT i AS r FROM $mat CROSS JOIN ix ORDER BY m[(i-1)*64 + i] DESC, i LIMIT 1),
       |${w}_u AS (SELECT list_transform(row, x -> x / nrm) AS u FROM (
       |  SELECT row, sqrt(list_sum(list_transform(row, x -> x*x))) AS nrm FROM (
       |    SELECT list_transform(range(1, 65), j -> m[(r-1)*64 + j]) AS row
       |    FROM $mat, ${w}_r))),
       |${w}_a AS (SELECT i AS am FROM ${w}_u CROSS JOIN ix ORDER BY abs(u[i]) DESC, i LIMIT 1),
       |$w AS (SELECT CASE WHEN u[am] < 0 THEN list_transform(u, x -> -x) ELSE u END AS w
       |  FROM ${w}_u, ${w}_a)""".stripMargin

  /** Full [[pcaDetFit]] + projection mirror: exact-integer fixed-point
    * covariance, two squaring chains with deflation between, centered
    * mil-rounded projection. Every float expression either operates on
    * bit-equal integer-derived inputs or sits inside the self-correcting
    * squaring iteration whose fixed point both engines share to ~1e-13 —
    * 6 orders of magnitude inside the mil rounding slack. */
  private def pcaOracleSql: String = {
    def proj(w: String) = (1 to Dim).map(i => s"e.v[$i]*$w.w[$i]").mkString(" + ")
    val offSum = (1 to Dim).map(i => s"(s[$i]/1000000/n) * w[$i]").mkString(" + ")
    s"""WITH $eCte,
       |ix AS (SELECT unnest(range(1, 65)) AS i),
       |fx AS (SELECT list_transform(v, x -> CAST(round(x*1000000, 0) AS BIGINT)) AS q FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM fx),
       |sv AS (SELECT list(sd ORDER BY i) AS s FROM (
       |  SELECT i, CAST(sum(q[i]) AS DOUBLE) AS sd FROM fx CROSS JOIN ix GROUP BY i)),
       |pv AS (SELECT list(pd ORDER BY k) AS p FROM (
       |  SELECT (a.i-1)*64 + b.i AS k, CAST(sum(q[a.i]*q[b.i]) AS DOUBLE) AS pd
       |  FROM fx CROSS JOIN ix a CROSS JOIN ix b GROUP BY 1)),
       |cm AS (SELECT list_transform(range(1, 4097), k ->
       |  p[k] - s[(k-1)//64 + 1]*s[(k-1)%64 + 1]/n) AS c FROM pv, sv, nn),
       |a0 AS (SELECT list_transform(c, x -> x / mx) AS m FROM (
       |  SELECT c, list_aggregate(list_transform(c, y -> abs(y)), 'max') AS mx FROM cm)),
       |${pcaSquareChainSql("a0", "af", PcaSquarings)},
       |${pcaExtractSql("af", "w1")},
       |lm AS (SELECT list_sum(list_transform(range(1, 65), i -> w[i] *
       |  list_sum(list_transform(range(1, 65), j -> c[(i-1)*64 + j]*w[j])))) AS lam
       |  FROM w1, cm),
       |b0 AS (SELECT list_transform(d, x -> x / mx) AS m FROM (
       |  SELECT d, list_aggregate(list_transform(d, y -> abs(y)), 'max') AS mx FROM (
       |    SELECT list_transform(range(1, 4097), k ->
       |      c[k] - lam * w[(k-1)//64 + 1] * w[(k-1)%64 + 1]) AS d FROM cm, lm, w1))),
       |${pcaSquareChainSql("b0", "bf", PcaSquarings)},
       |${pcaExtractSql("bf", "w2")},
       |o1 AS (SELECT ($offSum) AS o FROM sv, nn, w1),
       |o2 AS (SELECT ($offSum) AS o FROM sv, nn, w2)
       |SELECT e.vec_id,
       |  CAST(round((${proj("w1")} - o1.o) * 1000, 0) AS BIGINT) AS pc1_mil,
       |  CAST(round((${proj("w2")} - o2.o) * 1000, 0) AS BIGINT) AS pc2_mil
       |FROM e, w1, w2, o1, o2
       |ORDER BY vec_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "p21_pca" -> pcaOracleSql,
    "dd_semantic" ->
      // MATERIALIZED chain/join CTEs: the within-cluster self-join
      // references the assignment twice, and DuckDB re-EVALUATES plain
      // CTEs per reference — the expanded twin Lloyd's chains OOM the
      // oracle session at sf0.1 (same fix as p21_optimize_k's sweep).
      s"""WITH $vmCteSql,
         |${lloydsChainTailSql(LloydsSeedMod, "", mat = true)},
         |${lloydsFinalRankSql("fr", mat = true)},
         |asg AS MATERIALIZED (SELECT vec_id, cluster FROM fr WHERE rn = 1),
         |ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |j AS MATERIALIZED (SELECT a.vec_id, a.cluster, ee.v FROM asg a JOIN ee USING (vec_id)),
         |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM j x JOIN j y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE CAST(round((${cosineSql("x.v", "y.v")}) * 1000000, 0) AS BIGINT)
         |    >= $SemanticThresholdPpm),
         |t AS (SELECT id_a AS vec_id, id_b AS other FROM p
         |  UNION ALL SELECT id_b, id_a FROM p),
         |s AS (SELECT vec_id, count(*) AS n_dups, min(other) AS min_other
         |  FROM t GROUP BY 1)
         |SELECT a.vec_id, a.cluster,
         |  CAST(COALESCE(s.n_dups, 0) AS BIGINT) AS n_dups,
         |  CAST(CASE WHEN COALESCE(s.min_other, 9223372036854775807) < a.vec_id
         |    THEN 0 ELSE 1 END AS BIGINT) AS is_kept
         |FROM asg a LEFT JOIN s USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    "ss_brute_topk" ->
      s"""WITH $eCte, $qCte,
         |cand AS (
         |  SELECT q_id, vec_id, ${cosineSql("qv", "v")} AS cos
         |  FROM q CROSS JOIN e WHERE vec_id != q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_sq8_topk" ->
      s"""WITH $eCte, $qCte,
         |cand AS (
         |  SELECT q_id, vec_id, ${sq8Sql("qv", "v")} AS dot_q
         |  FROM q CROSS JOIN e WHERE vec_id != q_id),
         |r AS (SELECT q_id, vec_id, dot_q,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_q DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, dot_q
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_pq_topk" ->
      s"""WITH $eCte, $qCte,
         |$pqCbCte,
         |u AS ($pqBranchesSql),
         |$pqAdcCte,
         |r AS (SELECT q_id, vec_id, adc_micro,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc_micro, vec_id) AS rank
         |  FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_micro
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_ivf_pq" ->
      // The ADC algebra is ss_pq_topk's; the probe restriction composes
      // as a post-filter (ADC for a (q, vec) pair is probe-independent,
      // so filtering after the branch sum equals encoding only the
      // probed buckets — what the Spark plan actually does).
      s"""WITH $eCte, $qCte, $cCte,
         |$asgCte,
         |probes AS (
         |  SELECT q_id, c_id AS cluster FROM (
         |    SELECT q.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${l2SqSql("q.qv", "c.cv")}, c.c_id) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
         |$pqCbCte,
         |u AS ($pqBranchesSql),
         |$pqAdcCte,
         |f AS (SELECT s.q_id, s.vec_id, s.adc_micro
         |  FROM s JOIN asg a USING (vec_id)
         |  JOIN probes p ON p.q_id = s.q_id AND p.cluster = a.cluster),
         |r AS (SELECT q_id, vec_id, adc_micro,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc_micro, vec_id) AS rank
         |  FROM f)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_micro
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_ivf_sq8" ->
      s"""WITH $eCte, $qCte, $cCte,
         |$asgCte,
         |probes AS (
         |  SELECT q_id, qv, c_id AS cluster FROM (
         |    SELECT q.q_id, q.qv, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${l2SqSql("q.qv", "c.cv")}, c.c_id) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, ${sq8Sql("p.qv", "a.v")} AS dot_q
         |  FROM probes p JOIN asg a USING (cluster) WHERE a.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, dot_q,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_q DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, dot_q
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_sq8_rerank" ->
      s"""WITH $eCte, $qCte,
         |pre AS (
         |  SELECT q_id, vec_id, dot_q,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_q DESC, vec_id) AS r
         |  FROM (SELECT q_id, vec_id, ${sq8Sql("qv", "v")} AS dot_q
         |        FROM q CROSS JOIN e WHERE vec_id != q_id)),
         |sel AS (SELECT q_id, vec_id FROM pre WHERE r <= $RerankM),
         |re AS (
         |  SELECT s.q_id, s.vec_id, ${cosineSql("q.qv", "e.v")} AS cos
         |  FROM sel s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.q_id = s.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM re)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_knn_graph" ->
      // ss_ivf_topk's mirror with the CORPUS as the query set: probes
      // rank every vector's NProbe nearest centroids (same l2² + c_id
      // tie-break), candidates join buckets, top-K per vector.
      s"""WITH $eCte, $cCte,
         |$asgCte,
         |probes AS (
         |  SELECT q_id, qv, c_id AS cluster FROM (
         |    SELECT e.vec_id AS q_id, e.v AS qv, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
         |    FROM e CROSS JOIN c) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, ${cosineSql("p.qv", "a.v")} AS cos
         |  FROM probes p JOIN asg a USING (cluster) WHERE a.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_centrality" -> {
      // The ss_knn_graph mirror as the edge set, then PrIters unrolled
      // integer-PageRank rounds (r // deg contributions, ·85 // 100
      // damping + 150000 teleport — the exact long algebra of pageRank).
      // `edges` MUST be MATERIALIZED: the rank chain references it
      // 2·PrIters+2 times and DuckDB inlines CTEs — without the pin the
      // unrolled 64-dim knn subtree is re-planned per reference
      // (observed: the process's mmap count blows past vm.max_map_count
      // and the query dies with a spurious 16 KB bad_alloc).
      val prChain = (1 to PrIters).map { it =>
        s"""ct$it AS (SELECT ed.dst, CAST(sum(p.r // d.deg) AS BIGINT) AS s
           |  FROM edges ed JOIN deg d USING (src)
           |  JOIN pr${it - 1} p ON p.vec_id = ed.src GROUP BY 1),
           |pr$it AS (SELECT n.vec_id,
           |  CAST(150000 + (COALESCE(c.s, 0) * 85) // 100 AS BIGINT) AS r
           |  FROM n LEFT JOIN ct$it c ON c.dst = n.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $eCte, $cCte,
         |$asgCte,
         |probes AS (
         |  SELECT q_id, qv, c_id AS cluster FROM (
         |    SELECT e.vec_id AS q_id, e.v AS qv, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
         |    FROM e CROSS JOIN c) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, ${cosineSql("p.qv", "a.v")} AS cos
         |  FROM probes p JOIN asg a USING (cluster) WHERE a.vec_id != p.q_id),
         |rk AS (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM cand),
         |edges AS MATERIALIZED (
         |  SELECT q_id AS src, vec_id AS dst FROM rk WHERE rn <= $TopK),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |n AS (SELECT vec_id FROM e),
         |pr0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM n),
         |$prChain,
         |ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_deg FROM edges GROUP BY 1),
         |fin AS (SELECT n.vec_id, COALESCE(i.in_deg, 0) AS in_deg, p.r AS pr_ppm,
         |    row_number() OVER (ORDER BY p.r DESC, n.vec_id) AS rank
         |  FROM n LEFT JOIN ind i ON i.dst = n.vec_id
         |  JOIN pr$PrIters p USING (vec_id))
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(in_deg AS BIGINT) AS in_deg, pr_ppm
         |FROM fin ORDER BY rank""".stripMargin
    },
    "ss_ivf_topk" ->
      s"""WITH $eCte, $qCte, $cCte,
         |$asgCte,
         |probes AS (
         |  SELECT q_id, qv, c_id AS cluster FROM (
         |    SELECT q.q_id, q.qv, c.c_id,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${l2SqSql("q.qv", "c.cv")}, c.c_id) AS rn
         |    FROM q CROSS JOIN c) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, ${cosineSql("p.qv", "a.v")} AS cos
         |  FROM probes p JOIN asg a USING (cluster) WHERE a.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ss_lsh_topk" -> {
      def dotSql(v: String, p: Int): String =
        "(0" + (0 until Dim).map(j =>
          (if (planeSign(p, j) > 0) " + " else " - ") + s"$v[${j + 1}]").mkString + ")"
      def bucketSql(v: String): String =
        (0 until NPlanes).map(p =>
          s"(CASE WHEN ${dotSql(v, p)} > 0 THEN ${1L << p} ELSE 0 END)").mkString(" + ")
      val probeList =
        ("bkt" +: (0 until NPlanes).map(i => s"xor(bkt, ${1L << i})")).mkString("[", ", ", "]")
      s"""WITH $eCte, $qCte,
         |bk AS (SELECT vec_id, v, CAST(${bucketSql("v")} AS BIGINT) AS bkt FROM e),
         |qb AS (SELECT q_id, qv, CAST(${bucketSql("qv")} AS BIGINT) AS bkt FROM q),
         |probes AS (SELECT q_id, qv, unnest($probeList) AS probe FROM qb),
         |cand AS (SELECT p.q_id, b.vec_id, ${cosineSql("p.qv", "b.v")} AS cos
         |  FROM probes p JOIN bk b ON b.bkt = p.probe AND b.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
    },
    "ss_multiprobe_lsh" -> {
      def dotSql(v: String, p: Int): String =
        "(0" + (0 until Dim).map(j =>
          (if (planeSign(p, j) > 0) " + " else " - ") + s"$v[${j + 1}]").mkString + ")"
      def bucketSql(v: String, l: Int): String =
        (0 until NPlanes).map(p =>
          s"(CASE WHEN ${dotSql(v, l * NPlanes + p)} > 0 THEN ${1L << p} ELSE 0 END)")
          .mkString(" + ")
      def tableUnion(src: String, idCol: String, vCol: String): String =
        (0 until NTables).map { l =>
          s"SELECT $idCol, $vCol, CAST($l AS BIGINT) AS tbl, CAST(${bucketSql(vCol, l)} AS BIGINT) AS bkt FROM $src"
        }.mkString(" UNION ALL ")
      s"""WITH $eCte, $qCte,
         |bk AS (${tableUnion("e", "vec_id", "v")}),
         |qb AS (${tableUnion("q", "q_id", "qv")}),
         |cand AS (SELECT DISTINCT p.q_id, b.vec_id, ${cosineSql("p.qv", "b.v")} AS cos
         |  FROM qb p JOIN bk b ON b.tbl = p.tbl AND b.bkt = p.bkt AND b.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
    },
    "p21_cluster_assign" ->
      s"""WITH $eCte, $cCte,
         |$asgCte
         |SELECT vec_id, cluster, CAST(round(dist2*1000, 0) AS BIGINT) AS dist2_mil
         |FROM asg ORDER BY vec_id""".stripMargin,
    "p21_kmeans" ->
      // The fixed-k chain (seeds = vec_id < KmeansK) unrolled like
      // p21_lloyds; final assignment reuses the shared rank tail.
      s"""WITH $vmCteSql,
         |${lloydsChainTailSql(0, "_km", fixedK = Some(KmeansK))},
         |${lloydsFinalRankSql("frk", "_km")}
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n
         |FROM frk WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    "ss_ivf_trained" -> {
      // Micro-space training/assignment/probing (exact integers both
      // engines), real-unit cosine — the Spark plan mirrored CTE for CTE.
      // The chain is MATERIALIZED: asg and probes both reference its tail.
      val cf = s"c$LloydsIters" + "_tr"
      s"""WITH $vmCteSql,
         |${lloydsChainTailSql(0, "_tr", mat = true, fixedK = Some(TrainedK))},
         |asg AS MATERIALIZED (
         |  SELECT vec_id, c_id AS cluster FROM (
         |    SELECT e.vec_id, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
         |    FROM vm e CROSS JOIN $cf c) WHERE rn = 1),
         |ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM ee WHERE vec_id < 10),
         |qm AS (SELECT vec_id AS q_id, v AS qmi FROM vm WHERE vec_id < 10),
         |probes AS (
         |  SELECT q_id, c_id AS cluster FROM (
         |    SELECT m.q_id, c.c_id,
         |      row_number() OVER (PARTITION BY m.q_id
         |        ORDER BY ${l2SqSql("m.qmi", "c.cv")}, c.c_id) AS rn
         |    FROM qm m CROSS JOIN $cf c) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, ${cosineSql("q.qv", "ee.v")} AS cos
         |  FROM probes p JOIN asg a USING (cluster)
         |  JOIN ee ON ee.vec_id = a.vec_id
         |  JOIN q ON q.q_id = p.q_id
         |  WHERE a.vec_id != p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(round(cos*1000000, 0) AS BIGINT) AS cos_ppm
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
    },
    "p21_lloyds" ->
      s"""WITH ${lloydsChainSql()},
         |${lloydsFinalRankSql("fr")}
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM fr WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin,
    "p21_cluster_profile" ->
      s"""WITH ${lloydsChainSql()},
         |${lloydsFinalRankSql("fr")},
         |cnt AS (SELECT cluster, CAST(label AS BIGINT) AS label, count(*) AS n
         |  FROM fr WHERE rn = 1 GROUP BY 1, 2),
         |w AS (SELECT cluster, label, n,
         |    sum(n) OVER (PARTITION BY cluster) AS cluster_size,
         |    row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rnk
         |  FROM cnt)
         |SELECT cluster, label, CAST(n AS BIGINT) AS n,
         |  CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(n * 1000000 // cluster_size AS BIGINT) AS share_ppm,
         |  CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_dominant
         |FROM w ORDER BY cluster, label""".stripMargin,
    "p21_separability" ->
      s"""WITH ${lloydsChainSql()},
         |${lloydsFinalRankSql("fr")},
         |a AS (SELECT vec_id, cluster, d AS a2 FROM fr WHERE rn = 1),
         |b AS (SELECT vec_id, d AS b2 FROM fr WHERE rn = 2),
         |s AS (
         |  SELECT a.cluster,
         |    CAST(floor(CASE WHEN COALESCE(b.b2, a.a2) = 0 THEN 0.0
         |      ELSE (sqrt(COALESCE(b.b2, a.a2)) - sqrt(a.a2))
         |           / sqrt(COALESCE(b.b2, a.a2)) END * 1000000 + 0.5)
         |      AS BIGINT) AS sil_ppm
         |  FROM a LEFT JOIN b USING (vec_id))
         |SELECT cluster, count(*) AS n_vecs,
         |  CAST(floor(sum(sil_ppm) / count(*)) AS BIGINT) AS mean_sil_ppm,
         |  CAST(min(sil_ppm) AS BIGINT) AS min_sil_ppm,
         |  CAST(max(sil_ppm) AS BIGINT) AS max_sil_ppm
         |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin,
    "p21_optimize_k" -> {
      // One unrolled chain per sweep mod (suffixed CTEs), a per-mod stats
      // CTE mirroring the Spark grouping-less aggregate, then the argmax
      // window. HUGEINT sum mirrors the Spark side's DECIMAL(38,0).
      def statsCte(m: Int): String = {
        val x = s"_s$m"
        s"""${lloydsFinalRankSql(s"fr$x", x, mat = true)},
           |st$x AS MATERIALIZED (
           |  SELECT CAST($m AS BIGINT) AS seed_mod,
           |    (SELECT count(*) FROM c$LloydsIters$x) AS n_clusters,
           |    CAST(floor(sum(sil_ppm) / count(*)) AS BIGINT) AS mean_sil_ppm,
           |    CAST(sum(CAST(a2 AS HUGEINT)) // 1000000000000 AS BIGINT) AS inertia
           |  FROM (
           |    SELECT a.a2,
           |      CAST(floor(CASE WHEN COALESCE(b.b2, a.a2) = 0 THEN 0.0
           |        ELSE (sqrt(COALESCE(b.b2, a.a2)) - sqrt(a.a2))
           |             / sqrt(COALESCE(b.b2, a.a2)) END * 1000000 + 0.5)
           |        AS BIGINT) AS sil_ppm
           |    FROM (SELECT vec_id, d AS a2 FROM fr$x WHERE rn = 1) a
           |    LEFT JOIN (SELECT vec_id, d AS b2 FROM fr$x WHERE rn = 2) b
           |      USING (vec_id)))""".stripMargin
      }
      val chains = OptimizeKMods
        .map(m => lloydsChainTailSql(m, s"_s$m", mat = true)).mkString(",\n")
      val stats = OptimizeKMods.map(statsCte).mkString(",\n")
      val union = OptimizeKMods.map(m => s"SELECT * FROM st_s$m")
        .mkString(" UNION ALL ")
      s"""WITH $vmCteSql,
         |$chains,
         |$stats,
         |u AS ($union),
         |r AS (SELECT *, row_number() OVER (
         |    ORDER BY mean_sil_ppm DESC, n_clusters, seed_mod DESC) AS rn
         |  FROM u)
         |SELECT seed_mod, CAST(n_clusters AS BIGINT) AS n_clusters,
         |  mean_sil_ppm, inertia,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_optimal
         |FROM r ORDER BY seed_mod DESC""".stripMargin
    },
    "p21_feature_dist" ->
      s"""WITH ${lloydsChainSql()},
         |${lloydsFinalRankSql("fr")},
         |asg AS (SELECT vec_id AS doc_id, cluster FROM fr WHERE rn = 1),
         |f AS (
         |  SELECT doc_id, 'structure' AS feature, ${Annotations.structureSql} AS value FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'emoji_usage' AS feature, ${DocPipeline.emojiUsageSql} AS value FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'length_bucket' AS feature, ${DocPipeline.lengthBucketSql} AS value FROM documents),
         |cnt AS (SELECT feature, value, cluster, count(*) AS n
         |  FROM f JOIN asg USING (doc_id) GROUP BY 1, 2, 3),
         |w AS (SELECT feature, value, cluster, n,
         |    sum(n) OVER (PARTITION BY feature, value) AS value_total,
         |    row_number() OVER (PARTITION BY feature, value
         |      ORDER BY n DESC, cluster) AS rnk
         |  FROM cnt)
         |SELECT feature, value, cluster, CAST(n AS BIGINT) AS n,
         |  CAST(value_total AS BIGINT) AS value_total,
         |  CAST(n * 1000000 // value_total AS BIGINT) AS share_ppm,
         |  CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_dominant
         |FROM w ORDER BY feature, value, cluster""".stripMargin)

  /** Shared DuckDB CTE chain for the Lloyd's family: micro-fixed-point
    * corpus `vm` (vec_id, label, v), seed centroids `c0$sfx`, and
    * [[LloydsIters]] unrolled assign→update iterations ending at
    * `c$LloydsIters$sfx` — the same IEEE arithmetic as the Spark side
    * (integers < 2^53 are exact in doubles on both engines). `sfx`
    * disambiguates CTE names when [[p21OptimizeK]]'s sweep inlines
    * several chains into one statement. */
  private def lloydsChainSql(seedMod: Int = LloydsSeedMod, sfx: String = ""): String =
    s"$vmCteSql,\n${lloydsChainTailSql(seedMod, sfx)}"

  /** The micro-fixed-point `vm` CTE — ONE definition shared by every
    * chain statement (the [[lloydsVm]] mirror; a scale/rounding edit
    * that reaches only one copy silently desynchronizes the p21
    * oracles from each other). A def, not a val: the `oracle` map's
    * initializer runs before later vals would be assigned.
    * MATERIALIZED (r12 verdict CTE audit): referenced 5–15× per chain
    * statement (optimize_k's sweep worst), bounded at |embeddings| rows
    * of 64 micro-ints — the cheap-to-pin/expensive-to-replan profile
    * that OOM'd ss_ivf_topk's asg. Corpus-sized posting/shingle CTEs
    * stay plain deliberately: materializing THOSE raises DuckDB's peak
    * memory, the opposite failure. */
  private def vmCteSql: String =
    "vm AS MATERIALIZED (SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]), x -> round(x*1000000)) AS v FROM embeddings)"

  /** The chain minus the shared `vm` CTE — for multi-chain statements.
    * `mat` = emit `AS MATERIALIZED`: DuckDB re-EVALUATES a plain CTE at
    * every reference, and [[p21OptimizeK]]'s statement references each
    * chain's tail several times across three chains — the expanded plan
    * OOM'd the oracle session until the chains were pinned
    * materialized. The single-chain oracles keep plain CTEs (their
    * re-evaluation is the long-recorded DuckDB baseline cost). */
  private def lloydsChainTailSql(seedMod: Int, sfx: String, mat: Boolean = false,
      fixedK: Option[Int] = None): String = {
    val as = if (mat) "AS MATERIALIZED" else "AS"
    // fixedK mirrors [[fixedKCentArr]]'s first-k seeds; the default is
    // the every-seedMod-th fixture rule of [[lloydsCentroids]].
    val seedPred = fixedK match {
      case Some(k) => s"vec_id < $k"
      case None    => s"vec_id % $seedMod = 0"
    }
    val c0Cte = s"c0$sfx $as (SELECT vec_id AS c_id, v AS cv FROM vm WHERE $seedPred)"
    def asgCteOf(i: Int, src: String) =
      s"""a$i$sfx $as (
         |  SELECT vec_id, v, c_id AS cluster FROM (
         |    SELECT e.vec_id, e.v, c.c_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
         |    FROM vm e CROSS JOIN $src c) WHERE rn = 1)""".stripMargin
    def updCte(i: Int) =
      s"""u$i$sfx $as (SELECT cluster, unnest(generate_series(1, $Dim)) AS dim, unnest(v) AS x FROM a$i$sfx),
         |m$i$sfx $as (SELECT cluster, dim, floor(sum(x)/count(*)) AS m FROM u$i$sfx GROUP BY cluster, dim),
         |c$i$sfx $as (SELECT cluster AS c_id, array_agg(m ORDER BY dim) AS cv FROM m$i$sfx GROUP BY cluster)""".stripMargin
    val iters = (1 to LloydsIters)
      .map(i => s"${asgCteOf(i, s"c${i - 1}$sfx")},\n${updCte(i)}").mkString(",\n")
    s"$c0Cte,\n$iters"
  }

  /** Final-centroid distance ranking per vector (rn = 1 → own/nearest
    * centroid, rn = 2 → second-nearest), carrying the label — the shared
    * tail for the p21_lloyds / p21_cluster_profile / p21_separability /
    * p21_optimize_k / p21_feature_dist oracles (mirrors the Spark side's
    * sorted broadcast-centroid pass). */
  private def lloydsFinalRankSql(name: String, sfx: String = "",
      mat: Boolean = false): String =
    s"""$name ${if (mat) "AS MATERIALIZED" else "AS"} (
       |  SELECT e.vec_id, e.label, c.c_id AS cluster, ${l2SqSql("e.v", "c.cv")} AS d,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${l2SqSql("e.v", "c.cv")}, c.c_id) AS rn
       |  FROM vm e CROSS JOIN c$LloydsIters$sfx c)""".stripMargin
}
