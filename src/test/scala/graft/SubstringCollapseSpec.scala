package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.operators.Dedup

/** The r16 dd_substring replica collapse must be output-IDENTICAL to
  * the per-document formulation it replaced (which is still what the
  * DuckDB oracle computes): distinct-text blocking with occurrence
  * multiplicities is an algebraic regrouping, not an approximation.
  * Differential on a replica-dense fixture — verbatim copies, partial
  * overlaps, intra-doc repeated spans, sub-length docs — plus the real
  * table. */
class SubstringCollapseSpec extends SparkSpec {
  import spark.implicits._

  /** The naive per-document reference: occurrence posting, doc-unit
    * span df ≤ cap, occurrence-pair counts — a direct transliteration
    * of the oracle SQL. */
  private def reference(docs: DataFrame, cap: Int): Set[(Long, Long, Long)] = {
    val post = docs
      .filter(size(NativeExpressions.wordTokens(col("text"))) >= Dedup.SubstringL)
      .select(col("doc_id"),
        explode(NativeExpressions.wordShingles(col("text"), Dedup.SubstringL)).as("s"))
    val rare = post.join(
      post.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("s"), "s")
    rare.as("x").join(rare.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_spans"))
      .as[(Long, Long, Long)].collect().toSet
  }

  private def collapsed(docs: DataFrame, cap: Int): Set[(Long, Long, Long)] =
    Dedup.ddSubstringOf(spark, docs, cap)
      .as[(Long, Long, Long)].collect().toSet

  private def words(n: Int, seed: String): String =
    (0 until n).map(i => s"$seed$i").mkString(" ")

  /** Replica-dense dd_substring fixture: verbatim groups, partial
    * overlaps, intra-doc repeated spans, a sub-length doc. */
  private def spanFixture: DataFrame = {
    val base = words(20, "a")                  // 20 tokens, 9 spans
    val overlap = words(15, "a") + " " + words(10, "z") // shares a-prefix spans
    val short = words(8, "a")                  // sub-length: no spans at all
    val hot = words(14, "h")
    val rows = Seq.newBuilder[(Long, String)]
    // 4 verbatim replicas of base (within-group pairs, span df 4x)
    (0 until 4).foreach(r => rows += ((10L + r, base)))
    // 2 replicas of the overlapping doc (cross-group pairs with base)
    (0 until 2).foreach(r => rows += ((20L + r, overlap)))
    rows += ((30L, short))
    // 6 copies of `hot` — with cap 5 its spans are stop-spans entirely
    (0 until 6).foreach(r => rows += ((40L + r, hot)))
    // a doc with an intra-document REPEATED span (m = 2): the pair
    // weights must multiply occurrences, not presence
    val rep = words(12, "r") + " x " + words(12, "r").split(" ").take(11).mkString(" ")
    rows += ((50L, rep)); rows += ((51L, rep))
    rows.result().toDF("doc_id", "text")
  }

  test("collapsed form equals the per-document form on a replica-dense fixture") {
    val docs = spanFixture
    for (cap <- Seq(3, 5, 100)) {
      val want = reference(docs, cap)
      val got = collapsed(docs, cap)
      assert(got == want, s"cap=$cap: collapsed ${got.size} pairs vs " +
        s"reference ${want.size}; diff=${(got diff want) ++ (want diff got)}")
    }
  }

  test("collapsed form equals the per-document form on the real table") {
    val docs = Tables.documents(spark, sfDir)
    val want = reference(docs, Dedup.MaxSpanDf)
    val got = collapsed(docs, Dedup.MaxSpanDf)
    assert(got == want)
    assert(got.nonEmpty, "fixture produced no pairs — differential is vacuous")
  }

  test("span-df caps nest, and the default cap finds every converged pair") {
    // A pair is found iff SOME shared span has df <= cap, so pair sets
    // grow with the cap; a cap at the largest span df is the converged
    // truth, and MaxSpanDf must already find all of it (the SPANCAP
    // records measured 100% recall at sf0.1 and at the 10x replica corpus).
    for ((label, docs) <- Seq("fixture" -> spanFixture,
        "sf0.001" -> Tables.documents(spark, sfDir))) {
      val maxDf = docs
        .select(explode(NativeExpressions.wordShingles(col("text"), Dedup.SubstringL)).as("s"))
        .groupBy("s").count().agg(max("count")).as[Long].head().toInt
      val caps = (Seq(1, 2, Dedup.MaxSpanDf, maxDf) ++
        Seq(Dedup.MaxSpanDf, maxDf).map(_ / 2)).distinct.sorted
      val pairs = caps.map(cap => cap -> collapsed(docs, cap).map(p => (p._1, p._2)))
      pairs.sliding(2).foreach { case Seq((lo, a), (hi, b)) =>
        assert(a.subsetOf(b), s"$label: cap $lo found pairs cap $hi lost: ${a -- b}")
      }
      val byCap = pairs.toMap
      val truth = byCap(maxDf)
      assert(truth.nonEmpty, s"$label: no pairs — the recall gate is vacuous")
      assert(byCap(Dedup.MaxSpanDf) == truth,
        s"$label: MaxSpanDf misses ${(truth -- byCap(Dedup.MaxSpanDf)).size} of ${truth.size} pairs")
      if (label == "fixture")
        assert(byCap(1).size < truth.size && byCap(2).size < truth.size,
          "a cap of 1-2 must find fewer pairs on the replica-dense fixture")
    }
  }

  test("dd_substring pre-ranged presentation keeps the global order and pair set") {
    // r16: below the broadcast gate the presentation path range-exchanges
    // the pre-expansion text-pair stream by the left doc id instead of
    // the quadratic output (the dd_simhash pattern). Pin the global
    // (id_a, id_b) order, no global SortExec, and pair-set equality with
    // the above-gate output-ranged branch (forced via broadcastMaxRows=0).
    import org.apache.spark.sql.execution.SortExec
    import graft.operators.Sampling
    // force the pre-ranged branch at fixture scale (its closed-form
    // pair count sits far below the production crossover default)
    spark.conf.set(Knobs.preRangeMinPairs.key, "0")
    val got =
      try {
        val df = SparkEntry.queries("dd_substring")(spark, sfDir)
        val globalSorts = df.queryExecution.sparkPlan.collect {
          case s: SortExec if s.global => s }
        assert(globalSorts.isEmpty, "presentation path re-planned a global sort")
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      } finally spark.conf.unset(Knobs.preRangeMinPairs.key)
    assert(got.toSeq == got.sortBy(p => (p._1, p._2)).toSeq,
      "pre-ranged presentation output is not globally (id_a, id_b)-ordered")
    val key = Knobs.broadcastMaxRows.key
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    val fallback =
      try SparkEntry.queries("dd_substring")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(fallback.toSeq == fallback.sortBy(p => (p._1, p._2)).toSeq,
      "output-ranged fallback lost the global order")
    assert(got.length == fallback.length,
      "gate paths disagree on row COUNT — a duplicated pair would hide in the set compare")
    assert(got.toSet == fallback.toSet, "gate paths disagree on the pair set")
    assert(got.nonEmpty, "no pairs — the order pin is vacuous")
  }

  // ---- the rest of the collapsed family (r16): each operator's
  // collapsed form vs its naive per-document formulation ----

  /** Naive per-document pair stats for an arbitrary item function —
    * the pre-r16 boundedPairs shape, direct transliteration of each
    * oracle: occurrence posting, doc-unit df ≤ cap, occurrence-pair
    * counts, per-doc item counts n. */
  private def refStats(docs: DataFrame, items: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      cap: Int): DataFrame = {
    val post = docs.select(col("doc_id"),
      size(items(col("text"))).cast("long").as("n"),
      explode(items(col("text"))).as("s"))
    val rare = post.join(
      post.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("s"), "s")
    rare.as("x").join(rare.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("x.n")).as("n_a"), first(col("y.n")).as("n_b"))
  }

  private def fixtureDocs: DataFrame = {
    // replica-dense: verbatim groups of different sizes, a partial
    // overlap, and singletons — the corpus shape that distinguishes
    // the collapsed algebra from the per-document one
    val base = words(30, "a")
    val overlap = words(20, "a") + " " + words(12, "q")
    val rows = Seq.newBuilder[(Long, String)]
    (0 until 5).foreach(r => rows += ((100L + r, base)))
    (0 until 3).foreach(r => rows += ((200L + r, overlap)))
    rows += ((300L, words(25, "u")))
    rows += ((301L, words(4, "v")))
    rows.result().toDF("doc_id", "text")
  }

  test("ngram-jaccard collapsed form equals the per-document form") {
    def naive(docs: DataFrame) =
      refStats(docs, NativeExpressions.wordShingles(_, 3), Dedup.MaxShingleDf)
        .withColumn("j_ppm", expr("inter * 1000000L div (n_a + n_b - inter)"))
        .filter(col("j_ppm") >= Dedup.JaccardThresholdPpm)
        .select("id_a", "id_b", "inter", "j_ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
    for (docs <- Seq(fixtureDocs, Tables.documents(spark, sfDir))) {
      val got = Dedup.ddNgramJaccardOf(spark, docs)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == naive(docs) && got.nonEmpty)
    }
  }

  test("containment collapsed form equals the per-document form") {
    def naive(docs: DataFrame) =
      refStats(docs, NativeExpressions.wordShingles(_, 3), Dedup.MaxShingleDf)
        .withColumn("contained_id", expr("CASE WHEN n_a <= n_b THEN id_a ELSE id_b END"))
        .withColumn("container_id", expr("CASE WHEN n_a <= n_b THEN id_b ELSE id_a END"))
        .withColumn("cont_ppm", expr("inter * 1000000L div least(n_a, n_b)"))
        .withColumn("j_ppm", expr("inter * 1000000L div (n_a + n_b - inter)"))
        .filter(col("cont_ppm") >= Dedup.ContainmentThresholdPpm)
        .select("contained_id", "container_id", "inter", "cont_ppm", "j_ppm")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    for (docs <- Seq(fixtureDocs, Tables.documents(spark, sfDir))) {
      val got = Dedup.ddContainmentOf(spark, docs)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == naive(docs) && got.nonEmpty)
    }
  }

  test("winnow collapsed form equals the per-document form") {
    def items(t: org.apache.spark.sql.Column) =
      NativeExpressions.winnowFingerprints(t, Dedup.WinnowK, Dedup.WinnowW,
        Dedup.WinnowPosBits)
    def naive(docs: DataFrame) =
      refStats(docs.filter(size(items(col("text"))) > 0), items, Dedup.MaxFpDf)
        .withColumn("overlap_ppm", expr("inter * 1000000L div least(n_a, n_b)"))
        .filter(col("overlap_ppm") >= Dedup.WinnowOverlapPpm)
        .select(col("id_a"), col("id_b"), col("inter").as("n_shared"),
          col("overlap_ppm"))
        .as[(Long, Long, Long, Long)].collect().toSet
    for (docs <- Seq(fixtureDocs, Tables.documents(spark, sfDir))) {
      val got = Dedup.ddWinnowOf(spark, docs)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == naive(docs) && got.nonEmpty)
    }
  }
}
