package graft

/** Scale-regression guards: every SparkEntry query's physical plan must be
  * free of unconditional cartesian products, and the interval operators
  * must plan as equi-joins on their chunk keys (the O(N·M) theta-join
  * shape is exactly what the chunked design exists to avoid). */
class PlanAuditSpec extends SparkSpec {

  // Brute-force top-k IS corpus × broadcast-query-set by definition —
  // the bounded cross product is the operator contract, not a regression
  // (sq8 is the same exhaustive scan on 1-byte/dim integer codes).
  private val allowedCross = Set("ss_brute_topk", "ss_sq8_topk", "ss_sq8_rerank")

  /** Build plans with the presentation checkpoint+sort disabled
    * (Knobs.presentation): presentSorted's localCheckpoint hides
    * everything below it behind a LogicalRDD, so auditing the GATED
    * frame made the kernel-budget and cross-join assertions vacuous for
    * exactly the map-only operators that motivated them. The knob is
    * the production-sink path, so the audited plan is also the one a
    * real deployment executes. */
  private def withPresentationOff[T](body: => T): T = {
    spark.conf.set(Knobs.presentation.key, "off")
    try body finally spark.conf.unset(Knobs.presentation.key)
  }

  test("no query plans a CartesianProduct or BroadcastNestedLoop with a real right side") {
    withPresentationOff { SparkEntry.queries.foreach { case (name, q) =>
      if (!allowedCross(name)) {
        val plan = q(spark, sfDir).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$plan")
        // BroadcastNestedLoopJoin is acceptable only for single-row
        // broadcasts: a keyless (global) aggregate — collected
        // centroid/query arrays, quantile cutoffs — always yields
        // exactly one row.
        if (plan.contains("BroadcastNestedLoopJoin"))
          assert(plan.contains("keys=[], functions="),
            s"$name nested-loop-joins a non-singleton side:\n$plan")
      }
    } }
  }

  test("fact tables are never the build side of a broadcast join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // The round-1 scale-killers: a broadcast whose subtree scans a fact
    // table is a driver/executor OOM at 100x — unless a keyless global
    // aggregate reduced it to one row first.
    val facts = Seq("lineitem", "orders", "events")
    Seq("q3_shipping", "q5_local", "q_asof_join", "q_range_join",
      "q_topk_window", "q_sessionize").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      plan.foreach {
        case b: BroadcastExchangeExec =>
          val keyless = b.toString.contains("keys=[], functions=")
          val factScans = b.collectLeaves().collect {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.mkString(",")
          }.filter(p => facts.exists(t => p.contains(s"$t.parquet")))
          assert(keyless || factScans.isEmpty,
            s"$name broadcasts a fact-table scan: $factScans")
        case _ =>
      }
    }
  }

  test("shingle-df ops aggregate document frequency, never window on the raw shingle key") {
    import org.apache.spark.sql.execution.window.WindowExec
    // A count window partitioned by the shingle moves ALL postings of a hot
    // shingle into one task (AQE splits skewed joins, not windows) — the
    // round-4 scale-killer. df must come from a map-side-combinable groupBy
    // equi-joined back; these plans should contain no window at all.
    // sparkPlan, NOT executedPlan: under AQE the executed plan is an
    // AdaptiveSparkPlanExec LEAF, so collect{...} on it finds nothing and
    // the assertion could never fail (the same pitfall PlanDump disables
    // AQE for).
    Seq("tx_corpus_novelty", "dd_ngram_jaccard").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.isEmpty,
        s"$name plans a Window over the posting list:\n${windows.mkString("\n")}")
    }
  }

  test("dd_minhash_estimate never re-reads the corpus text") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // The operator's contract is ONE pass over the text (the signature
    // table is eagerly materialized); its final plan must therefore scan
    // no parquet at all — a FileSourceScan reappearing means a branch
    // fell off the checkpoint and re-tokenizes the corpus.
    // sparkPlan, not executedPlan — see the AQE-leaf note above.
    val plan = SparkEntry.queries("dd_minhash_estimate")(spark, sfDir)
      .queryExecution.sparkPlan
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty,
      s"estimate plan re-scans parquet:\n${scans.mkString("\n")}")
  }

  test("q_range_join hash-joins on the chunk key, not a theta scan") {
    val plan = SparkEntry.queries("q_range_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("expensive kernels stay within their per-plan call budget") {
    // Codegen subexpression elimination does not reach into later `when`
    // branches or pushed-down predicates, so a label chain that embeds a
    // kernel instead of reading a staged attribute re-evaluates it per
    // reference (the 8×-emoji p02 / 13×-DominantToken p07 / 24×-tokenize
    // p05_upsample plans this round removed). Budget = 2 by default (a
    // build/probe or filter/project pair); the exceptions below are
    // separate SCAN branches (posting + vocabulary passes, stage
    // composition) — linear per-scan work, not per-row multiplication.
    val kernels = Seq("reward_stats(", "dominant_token(", "word_tokens(",
      "word_shingles(", "winnow_fingerprints(", "minhash_sigs(",
      "ngram_repetition(", "word_ngrams(", "emoji_count(", "sentence_count(")
    val allowed = Map(
      ("dd_corpus_report", "word_shingles(") -> 5,
      ("dd_containment", "word_shingles(") -> 3,
      ("dd_ngram_jaccard", "word_shingles(") -> 3,
      ("dd_winnow", "winnow_fingerprints(") -> 3,
      ("p05_balance", "word_tokens(") -> 3,
      ("p05_balance", "emoji_count(") -> 3,
      ("p05_upsample", "word_tokens(") -> 4,
      ("p05_upsample", "emoji_count(") -> 4,
      ("p23_split", "word_tokens(") -> 3,
      ("p24_dpo_ready", "word_tokens(") -> 4,
      ("tx_unigram_lm", "word_tokens(") -> 3)
    withPresentationOff { SparkEntry.queries.foreach { case (name, q) =>
      val plan = q(spark, sfDir).queryExecution.optimizedPlan.toString.toLowerCase
      for (k <- kernels) {
        val n = java.util.regex.Pattern.quote(k).r.findAllIn(plan).length
        val cap = allowed.getOrElse((name, k), 2)
        assert(n <= cap,
          s"$name evaluates ${k.dropRight(1)} $n times per row-set (budget $cap) — " +
            "stage the kernel output as an attribute instead of re-embedding it")
      }
    } }
  }

  test("unpartitioned windows sit only on k-row bounded frames") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.graftbridge.DatasetBridge
    // A Window with no PARTITION BY funnels its whole input through ONE
    // task — fine on a constant-size frame, a scale-killer on anything
    // corpus-proportional (the "No Partition Defined" runtime warning
    // this spec makes meaningful again by attributing every instance).
    // Each allowed query's bare window reads a frame whose size is a
    // CONSTANT of the operator, not of the corpus:
    //   p20_importance — one row per engineered feature (fixed set)
    //   p21_optimize_k — one row per swept seed modulus (fixed sweep)
    //   tx_bm25        — the post-limit top-[[TextOps.Bm25TopK]] rows
    // Proven, not trusted: the window's child subtree is EXECUTED here
    // and must stay within the bound. Any new bare window fails the
    // allowlist and must be justified the same way.
    val allowed = Map("p20_importance" -> 64L, "p21_optimize_k" -> 64L,
      "tx_bm25" -> 64L)
    withPresentationOff { SparkEntry.queries.foreach { case (name, q) =>
      val bare = q(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w.child
      }
      if (bare.nonEmpty) {
        assert(allowed.contains(name),
          s"$name plans an unattributed unpartitioned Window — partition " +
            "it or justify the bound here")
        bare.foreach { child =>
          val n = DatasetBridge.ofRows(spark, child).count()
          assert(n <= allowed(name),
            s"$name's unpartitioned Window reads $n rows (bound ${allowed(name)}) " +
              "— the frame is not k-row bounded")
        }
      }
    } }
  }

  test("presentation knob off: no sort or checkpoint in the production-sink plan") {
    // The production path (Sinks.partitionedParquet after
    // graft.presentation=off) must not inherit the oracle gate's global
    // ORDER BY or pin the corpus to executor storage: the operator's
    // own plan should end at its projection/aggregate, and the sink's
    // repartition is the only exchange added on top.
    withPresentationOff {
      // dd_simhash: the suite's single largest presentation sort (the
      // quadratic pair output) must vanish with the knob off — only
      // the expansion's round-robin exchange may remain.
      locally {
        import org.apache.spark.sql.execution.SortExec
        val qe = SparkEntry.queries("dd_simhash")(spark, sfDir).queryExecution
        val sorts = qe.sparkPlan.collect { case s: SortExec if s.global => s }
        assert(sorts.isEmpty,
          "dd_simhash still plans a global pair sort with presentation off")
      }
      Seq("p02_label", "tx_pii", "rw_rewards").foreach { name =>
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val plan = qe.optimizedPlan.toString
        assert(!plan.contains("LogicalRDD"),
          s"$name still checkpoints with presentation off:\n$plan")
        import org.apache.spark.sql.execution.SortExec
        val sorts = qe.sparkPlan.collect { case s: SortExec if s.global => s }
        assert(sorts.isEmpty,
          s"$name still plans a global sort with presentation off")
      }
    }
  }

  test("dd_simhash above the broadcast gate plans no broadcast and is identical") {
    // The r15 scale defect: an UNCONDITIONAL broadcast hint on the
    // corpus-cardinality fp table — fine on a sandbox corpus, a
    // guaranteed abort past BroadcastExchange's 8 GB / 512M-row
    // ceilings at 10^10+ docs. The gate (spark.graft.broadcastMaxRows,
    // measured fp count) must (a) remove every broadcast from the plan
    // when driven to 0 — autoBroadcastJoinThreshold is -1'd too,
    // mimicking the 100 TB regime where runtime stats exceed any
    // threshold, so only a HINT could still force one — and (b) leave
    // the pair set bit-identical.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    withPresentationOff {
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(thresholdKey)
      spark.conf.set(thresholdKey, "-1")
      try {
        val gated = operators.Dedup.ddSimhashPairs(spark, sfDir, maxBroadcastRows = 0L)
        val bx = gated.queryExecution.sparkPlan.collect {
          case b: BroadcastExchangeExec => b }
        assert(bx.isEmpty,
          s"shuffle fallback still plans a broadcast:\n${bx.mkString("\n")}")
        val want = SparkEntry.queries("dd_simhash")(spark, sfDir)
          .collect().map(_.toSeq).toSet
        val got = gated.collect().map(_.toSeq).toSet
        assert(got == want, "shuffle fallback changed the pair set")
      } finally spark.conf.set(thresholdKey, old)
    }
  }

  /** Row counts of every broadcast-HINTED side in a frame's analyzed
    * plan, sorted — the probe behind the corpus-growth audit below.
    * Hints are read from the ANALYZED plan (ResolvedHint nodes survive
    * there; the optimizer folds them into Join hints) and each hinted
    * subtree is EXECUTED, not estimated. */
  private def hintSideCounts(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.graftbridge.DatasetBridge
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h.child
    }.map(c => DatasetBridge.ofRows(spark, c).count()).sorted
  }

  /** Adjacent-count growth rule shared by the sweep and its fixture:
    * a hinted side is corpus-growing when the 100x-span SF pair at
    * least triples it past a 25-row noise floor. 3x (not 10x) because
    * the tables scale unevenly across the span — embeddings only 4x
    * (500 → 2000), documents 10x, facts 100x — and a constant frame
    * (dim, fixed-k set, keyless aggregate) never triples. */
  private def grownHints(small: Seq[Long], big: Seq[Long]): Seq[(Long, Long)] =
    small.zip(big).filter { case (a, b) => b >= 3 * math.max(a, 1L) && b > 25 }

  test("no query broadcast-hints a corpus-growing frame (100x SF sweep)") {
    // THE scale-killer class this file exists for, generalized from the
    // r15 dd_simhash finding: a broadcast hint whose build side grows
    // with the corpus is a latent abort that no sandbox run can
    // surface. Detection is empirical — every hinted side is executed
    // at sf0.001 and at sf0.1 (documents/embeddings only start growing
    // at sf0.1, so a narrower span is blind to the document-corpus
    // operators) and must not grow with the corpus. Frames legitimately
    // hinted are CONSTANT-cardinality (dims, fixed-k query/benchmark
    // sets, keyless aggregates) or SIZE-GATED (they honor
    // spark.graft.broadcastMaxRows, driven to 0 here, so a gated hint
    // vanishes from both plans and a corpus-bound frame never reaches
    // BroadcastExchange at scale).
    val sfSmall = "/root/testdata/sf0.001"
    val sfBig = "/root/testdata/sf0.1"
    withPresentationOff {
      spark.conf.set(Knobs.broadcastMaxRows.key, "0")
      try {
        val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
          val small = hintSideCounts(q(spark, sfSmall))
          if (small.isEmpty) None
          else {
            val big = hintSideCounts(q(spark, sfBig))
            assert(small.length == big.length,
              s"$name's hinted-join structure differs across SFs " +
                s"($small vs $big) — make the audit SF-stable")
            val grown = grownHints(small, big)
            if (grown.isEmpty) None else Some(s"$name: $grown")
          }
        }
        assert(flagged.isEmpty,
          s"corpus-growing broadcast hints (rows at sf0.001 -> sf0.1):\n" +
            flagged.mkString("\n"))
      } finally spark.conf.unset(Knobs.broadcastMaxRows.key)
    }
  }

  test("tx_pattern_canary exercises the NATIVE entity kernel, not the HOF reference") {
    // The canary's whole value is pinning CROSS-ENGINE kernel semantics
    // per round (rows 18-19 carry the r15 entity edge set: honorific
    // periods, org suffixes, sentence-start false positives, the
    // punctuation strip). That pin is vacuous if the plan ever drifts
    // back to the retained HOF differential reference
    // (Entities.withEntityColsHof) — interpreted lambdas whose
    // semantics the kernel is supposed to match, not define.
    // ANALYZED plan: the fixture is a LocalRelation, so the optimizer
    // constant-folds the whole query (ConvertToLocalRelation) — which
    // still EVALUATES the kernel (its interpreted eval path), but only
    // the pre-folding plan shows WHICH formulation ran.
    val plan = SparkEntry.queries("tx_pattern_canary")(spark, sfDir)
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("entity_stats("),
      "canary plan lost the native entity_stats kernel")
  }

  test("the corpus-growth broadcast audit itself catches an offender") {
    // Regression fixture for the audit above (r15 verdict): a
    // deliberately ungated broadcast of the documents corpus must be
    // flagged, or the audit is vacuous.
    import org.apache.spark.sql.functions.broadcast
    def bad(dir: String) = Tables.documents(spark, dir).select("doc_id")
      .join(broadcast(Tables.documents(spark, dir)
        .select("doc_id", "n_chars")), "doc_id")
    val small = hintSideCounts(bad("/root/testdata/sf0.001"))
    val big = hintSideCounts(bad("/root/testdata/sf0.1"))
    assert(small.nonEmpty && big.nonEmpty,
      "audit probe found no hint in the fixture plan")
    assert(grownHints(small, big).nonEmpty,
      "audit failed to flag a corpus-sized broadcast hint")
  }
}
