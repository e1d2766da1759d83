package graft

import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.operators.Dedup

/** Differential guard for the round-8 collapse rewrites: dd_simhash and
  * dd_minhash_lsh verify candidates over DISTINCT texts and expand
  * member pairs afterwards — this spec pins that the optimized plans
  * emit EXACTLY the pairs the naive per-doc formulation does, on a
  * corpus built to stress the expansion edges: exact-replica cliques,
  * a near-dup cross group, a unique doc, and empty-text duplicates —
  * all features computed with the same native kernels the operators
  * use, pairs recomputed naively on the driver.
  */
class ReplicaCollapseSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("collapse_test").toString
    val a = "the quick brown fox jumps over the lazy dog with extra tokens here"
    val b = "the quick brown fox leaps over the lazy dog with extra tokens here"
    val c = "completely different content about catalyst optimizer internals and shuffles"
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),         // 3-clique of exact replicas
      (4L, b), (5L, b),                  // near-dup pair group vs a
      (6L, c),                           // unique
      (7L, ""), (8L, ""),                // shingle-less (empty) duplicates
      (9L, "solo words"), (10L, "ten little shingling tokens make one more group of text"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Per-doc features via the SAME native kernels the operators use. */
  private lazy val rows: Seq[(Long, Long, Seq[String], Seq[String], Seq[String])] = {
    val sigs = NativeExpressions.minHashSigs(col("sh"), Dedup.K, Dedup.P)
    Tables.documents(spark, dir)
      .select(col("doc_id"), NativeExpressions.simHash32(col("text")).as("fp"),
        NativeExpressions.wordShingles(col("text"), 3).as("sh"))
      .withColumn("sigs", sigs)
      .select(col("doc_id"), col("fp"), Dedup.simhashBandKeys(col("fp")).as("sbk"),
        col("sh"), Dedup.minhashBandKeys.as("mbk"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2), r.getSeq[String](3), r.getSeq[String](4)))
      .toSeq
  }

  test("dd_simhash equals the naive per-doc band join on a replica-heavy corpus") {
    val naive = (for {
      (ia, fa, ba, _, _) <- rows; (ib, fb, bb, _, _) <- rows
      if ia < ib && ba.exists(bb.contains)
      h = java.lang.Long.bitCount(fa ^ fb).toLong if h <= Dedup.HammingMax
    } yield (ia, ib, h)).toSet
    val got = Dedup.ddSimhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(naive.nonEmpty && got == naive,
      s"simhash pairs drifted: got ${got.toSeq.sorted}, naive ${naive.toSeq.sorted}")
    // the corpus exercises both expansion paths
    assert(got.contains((1L, 2L, 0L)) && got.contains((7L, 8L, 0L)),
      "exact-replica (within-fp) pairs missing")
  }

  test("dd_simhash pre-ranged presentation keeps the global order and pair set") {
    // r16: below the broadcast gate the presentation path range-exchanges
    // the PRE-expansion edge stream (by da) instead of the quadratic
    // output, then expands inside the ranged partitions and keeps the
    // min-oriented half. This pins (a) the global (id_a, id_b) order the
    // oracle dump relies on, (b) no global SortExec sneaking back in,
    // and (c) pair-set equality with the above-gate output-ranged branch.
    import org.apache.spark.sql.execution.SortExec
    import graft.operators.Sampling
    // force the pre-ranged branch at fixture scale (its closed-form
    // pair count sits far below the production crossover default)
    spark.conf.set(Knobs.preRangeMinPairs.key, "0")
    val got =
      try {
        val df = Dedup.ddSimhash(spark, dir)
        val globalSorts = df.queryExecution.sparkPlan.collect {
          case s: SortExec if s.global => s }
        assert(globalSorts.isEmpty, "presentation path re-planned a global sort")
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      } finally spark.conf.unset(Knobs.preRangeMinPairs.key)
    assert(got.toSeq == got.sortBy(p => (p._1, p._2)).toSeq,
      "pre-ranged presentation output is not globally (id_a, id_b)-ordered")
    val fallback = Dedup.ddSimhashPairs(spark, dir, maxBroadcastRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fallback.toSeq == fallback.sortBy(p => (p._1, p._2)).toSeq,
      "output-ranged fallback lost the global order")
    assert(got.length == fallback.length,
      "gate paths disagree on row COUNT — a duplicated pair would hide in the set compare")
    assert(got.toSet == fallback.toSet, "gate paths disagree on the pair set")
  }

  test("dd_minhash_estimate equals the naive per-doc band join + sig match") {
    val sigsOf = Tables.documents(spark, dir)
      .select(col("doc_id"), NativeExpressions.minHashSigs(
        NativeExpressions.wordShingles(col("text"), 3), Dedup.K, Dedup.P).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val naive = (for {
      (ia, _, _, _, ma) <- rows; (ib, _, _, _, mb) <- rows
      if ia < ib && ma.exists(mb.contains)
      m = sigsOf(ia).zip(sigsOf(ib)).count { case (x, y) => x == y }.toLong
    } yield (ia, ib, m, m * 1000000L / Dedup.K)).toSet
    val got = Dedup.ddMinhashEstimate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(naive.nonEmpty && got == naive,
      s"estimate pairs drifted: got ${got.toSeq.sorted}, naive ${naive.toSeq.sorted}")
    // within-group expansion fired for the exact 3-clique at est = 10⁶
    assert(Seq((1L, 2L), (1L, 3L), (2L, 3L)).forall(p =>
      got.contains((p._1, p._2, Dedup.K.toLong, 1000000L))),
      "exact-replica clique estimate pairs missing")
  }

  test("dd_minhash_lsh equals the naive per-doc band join + verify") {
    val naive = (for {
      (ia, _, _, sa, ma) <- rows; (ib, _, _, sb, mb) <- rows
      if ia < ib && ma.exists(mb.contains)
      inter = (sa.toSet & sb.toSet).size.toLong
      denom = sa.size + sb.size - inter if denom > 0
      j = inter * 1000000L / denom if j >= Dedup.JaccardThresholdPpm
    } yield (ia, ib, j)).toSet
    val got = Dedup.ddMinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(naive.nonEmpty && got == naive,
      s"minhash pairs drifted: got ${got.toSeq.sorted}, naive ${naive.toSeq.sorted}")
    // within-group expansion fired for the exact 3-clique
    assert(Seq((1L, 2L), (1L, 3L), (2L, 3L)).forall(p => got.exists(g => (g._1, g._2) == p)),
      "exact-replica clique pairs missing")
  }
}
