package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Each timed run writes to the noop sink so the full verified plan —
  * including the final ORDER BY — executes (a bare .count() lets Catalyst
  * drop the sort). A warmup pass (flagship q1) amortizes JVM/codegen
  * startup out of the first measured query. Failures are loud but
  * survivable: a broken query is recorded per-name in the JSON `errors`
  * map, the rest of the suite still runs and reports, and the process
  * exits non-zero at the END — one bad query must not erase the round's
  * only durable per-query record (it did in r7).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset (comma-separated names) for stress/spot runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").flatMap(SparkEntry.queryNames)
    val spark = SessionTuning.suiteSession()
    // Scale knob passthrough: at stress densities the fixture's K = N/50
    // centroid rule makes the IVF family's N·K assignment quadratic —
    // see Knobs.maxCentroids. Unset = oracle-parity default.
    sys.env.get("SPARK_GRAFT_MAX_CENTROIDS").foreach { k =>
      spark.conf.set(Knobs.maxCentroids.key, k)
    }
    // Generic runtime-conf passthrough for controlled A/B probes
    // (e.g. graft.presentation=off to time a query minus its
    // presentation sort, spark.graft.broadcastMaxRows sweeps). Unset =
    // defaults — the driver's bench numbers are untouched; keys that
    // are not spark.*-prefixed cannot be injected as JVM properties,
    // which is why this is an env seam and not a -D.
    // Entries split per SessionTuning.parseSessionConf (';' when
    // present, so values may contain commas; ',' otherwise).
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach {
      SessionTuning.parseSessionConf(_).foreach { case (k, v) => spark.conf.set(k, v) }
    }
    Knobs.values(spark) // a malformed or unknown knob fails before the suite runs

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warmup: JIT + codegen machinery + parquet footer caches — one
    // synthetic plan per scan path (lineitem, documents, events,
    // embeddings), none of which is in the measured set, so every
    // measured query is equally "cold" with respect to its own codegen
    // and equally warm with respect to the JVM's one-time costs.
    {
      import org.apache.spark.sql.functions._
      def warm(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      warm(Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag").agg(sum("l_quantity")))
      warm(Tables.documents(spark, sfDir)
        .select(sum(length(col("text"))).as("c")))
      warm(Tables.events(spark, sfDir)
        .groupBy("event_type").agg(max("ts")))
      warm(Tables.embeddings(spark, sfDir)
        .select(sum(size(col("embedding"))).as("c")))
      warm(Tables.orders(spark, sfDir)
        .groupBy("o_orderpriority").count())
    }

    // Build-before-consume ordering: ss_knn_graph OWNS the session knn
    // edge cache's probe+score build (the one inherently super-linear
    // step in the suite); alphabetical order ran ss_centrality first,
    // so the CONSUMER row silently carried the one-time graph build
    // (178.8 s vs ~5 s of actual rank rounds at the 100x corpus). The
    // sort key files ss_centrality directly after ss_knn_graph, so the
    // build cost lands on the BUILD row — the same attribution the
    // dd_components/dd_decisions family gets for free alphabetically,
    // and the cost split REHEARSAL_100X measures across sessions.
    def runOrder(n: String): String = n match {
      case "ss_centrality" => "ss_knn_graph+consume"
      // cur_verdict consumes the simhash component fixpoint
      // (ddDecisions -> simhash.fp/fpGroups/repComponents) that
      // dd_components OWNS; alphabetically cur_verdict ran first and
      // silently carried the whole session build (driver r16 first
      // pass 8.8 s vs 1.5 s best). File it right after its builder —
      // the ss_knn_graph/ss_centrality precedent.
      case "cur_verdict" => "dd_components+consume"
      // dd_corpus_report consumes the minhash verified-piece caches
      // (dd_minhash_lsh/dd_minhash_estimate) and the dd_ngram_jaccard
      // pair cache, all built by LATER rows alphabetically; file it
      // after the last of its builders so each build lands on the row
      // that owns it.
      case "dd_corpus_report" => "dd_ngram_jaccard+consume"
      case other => other
    }
    val selected = SparkEntry.queries.keys.toSeq.sortBy(runOrder)
      .filter(n => only.forall(_.contains(n)))

    // SPARK_GRAFT_RUNS=N repeats the whole suite N times in ONE JVM —
    // the cheap way to follow BASELINE.md's best-of-2 outlier policy
    // (separate JVM runs pay startup+codegen twice and still land in
    // different contention windows). The reported `queries`/`value`
    // stay the FIRST pass (the driver-comparable cold-ish number);
    // `queries_best` carries the per-query min across passes. Default
    // is 2 (r8 verdict): a contention window that inflates one pass-1
    // row 8× (p07_clean_topics 23.3 s vs 2.8 s controlled, r8) then
    // still leaves a trustworthy best-of-2 row in the same record.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2).max(1)

    def onePass(pass: Int): Seq[(String, Either[String, Double])] = selected.map { name =>
      val t0 = System.nanoTime()
      val out =
        try { runOnce(name); Right((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            Left(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next().take(200))
        }
      // OUTSIDE the timed window, BLOCKING: drop this query's
      // presentation/rank scratch checkpoints before the next row
      // starts — waiting for the ContextCleaner pinned every output in
      // executor storage and thrashed eviction at the 100× corpus, and
      // a non-blocking release here let the removal storm churn inside
      // the NEXT row's measured window (Sampling.releaseScratch).
      // Session caches are unaffected.
      graft.operators.Sampling.releaseScratch(blocking = true)
      // Per-query progress on stderr so a capped log still shows how far
      // the run got even if the final JSON line is lost.
      out.foreach(sec => System.err.println(f"[bench] [$pass] $name%-24s $sec%.2f s"))
      name -> out
    }

    val passes = (1 to runs).map(onePass)
    val results = passes.head.collect { case (n, Right(s)) => n -> s }
    // A failure in ANY pass (not just pass 1) must land in the errors map
    // and fail the run — otherwise a late-pass throw is stderr-only, the
    // process exits 0, and queries_best silently reflects only surviving
    // passes. Dedup by name, first message wins, selection order kept.
    val errsByName = passes.flatten.collect { case (n, Left(m)) => n -> m }
      .groupBy(_._1).map { case (n, ms) => n -> ms.head._2 }
    val errors = selected.flatMap(n => errsByName.get(n).map(n -> _))
    val best = selected.flatMap { n =>
      val ok = passes.flatMap(_.toMap.apply(n).toOption)
      if (ok.isEmpty) None else Some(n -> ok.min)
    }
    // ms precision in the record: full-double seconds tripled the line
    // length, and the driver's capped capture lost the front 15 rows of
    // the r6 map. Sub-ms digits are noise at these run times anyway.
    def fmt(v: Double): String = // Locale.ROOT: a comma decimal separator would corrupt the JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val bestScalars =
      if (runs == 1) ""
      else s""","runs":$runs,"best_total":${fmt(best.map(_._2).sum)}"""
    val errExtra =
      if (errors.isEmpty) ""
      else s""","errors":${errors.map { case (k, m) => Json.quote(k) + ":" + Json.quote(m) }.mkString("{", ",", "}")}"""
    // The graded per-query map goes LAST on the line and queries_best
    // moves to the FILE record only (r16 verdict task 2): the driver's
    // archive keeps a TAIL excerpt of stdout, and in r15 the
    // front-truncated line lost the graded first-pass map entirely —
    // the round-over-round comparison came back n_common=0. One line,
    // same keys minus queries_best, so a tail capture now preserves
    // the end of the map the driver grades; the full record (including
    // queries_best) is always in SPARK_GRAFT_BENCH_OUT.
    def record(withBest: Boolean): String = {
      val bestMap = if (withBest && runs > 1) s""","queries_best":${obj(best)}""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":${Json.quote(sfDir)}$bestScalars$errExtra$bestMap,"queries":${obj(results)}}"""
    }
    val json = record(withBest = false)
    // The driver tail-caps captured stdout, which truncated the r5 record
    // mid-JSON. The metrics object is therefore ALSO written to a dedicated
    // file (self-contained artifact). stdout's one-line contract comes
    // FIRST and the file write is best-effort — an unwritable path (bad
    // SPARK_GRAFT_BENCH_OUT included — InvalidPathException is unchecked)
    // must not take the always-worked stdout record down with it.
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LATEST.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (record(withBest = true) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] metrics file $outFile not written: $e")
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
