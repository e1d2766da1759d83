package graft

import java.nio.file.Files

import graft.operators.{Curation, Sampling}

/** End-to-end orchestration: the default 17→18→22→23→report chain runs,
  * writes one artifact per stage plus a manifest + contracts, skips
  * unchanged stages in incremental mode, and fails loudly on unknown
  * stages. The curation chain runs as a DAG: cur_verdict composes its
  * upstreams' artifacts and equals its standalone builder; signatures
  * chain and hash the result-affecting knobs; a failing stage cancels
  * its siblings. */
class PipelineSpec extends SparkSpec {

  test("default pipeline run writes all stage artifacts, manifest, contracts") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val manifest = Pipeline.run(spark, sfDir, out, "t1").collect()

    assert(manifest.map(_.getAs[String]("stage")).toSeq == Pipeline.defaultStages)
    manifest.foreach { r =>
      val rows = r.getAs[Long]("rows")
      val path = r.getAs[String]("path")
      assert(rows > 0, s"stage ${r.getAs[String]("stage")} wrote no rows")
      assert(!r.getAs[Boolean]("skipped"))
      assert(spark.read.parquet(path).count() == rows)
    }
    // rw_report aggregates over 18 reward columns.
    assert(manifest.last.getAs[Long]("rows") == 18)
    // Manifest persisted alongside the artifacts.
    assert(spark.read.json(s"$out/t1/_manifest").count() == Pipeline.defaultStages.size)
    // Contracts hold for a downstream consumer's required columns.
    assert(Pipeline.validateArtifact(spark, s"$out/t1/p23_split", Seq("doc_id", "split")))
    assert(!Pipeline.validateArtifact(spark, s"$out/t1/p23_split", Seq("no_such_col")))
    assert(!Pipeline.validateArtifact(spark, s"$out/t1/never_ran", Seq("doc_id")))
  }

  test("clustering preset runs end-to-end and the analysis artifacts align") {
    val out = Files.createTempDirectory("graft_pipeline_clu").toString
    val manifest = Pipeline.run(spark, sfDir, out, "t6", Pipeline.clusteringStages).collect()
    assert(manifest.map(_.getAs[String]("stage")).toSeq == Pipeline.clusteringStages)
    assert(manifest.forall(_.getAs[Long]("rows") > 0))
    // The three Lloyd's-derived artifacts describe the SAME clustering:
    // profile occupancy per cluster == lloyds sizes == separability n_vecs.
    val sizes = spark.read.parquet(s"$out/t6/p21_lloyds")
      .select("cluster", "n_vecs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val profile = spark.read.parquet(s"$out/t6/p21_cluster_profile")
      .groupBy("cluster").agg(org.apache.spark.sql.functions.sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sep = spark.read.parquet(s"$out/t6/p21_separability")
      .select("cluster", "n_vecs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(profile == sizes, s"profile occupancy $profile != lloyds sizes $sizes")
    assert(sep == sizes, s"separability n_vecs $sep != lloyds sizes $sizes")
    // PCA artifact covers every vector exactly once.
    assert(spark.read.parquet(s"$out/t6/p21_pca").select("vec_id").distinct().count()
      == spark.read.parquet(s"$sfDir/embeddings.parquet").count())
  }

  test("centroid artifact round-trips: assignment from parquet == in-session") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val path = Files.createTempDirectory("graft_cents").toString + "/cents"
    graft.operators.Similarity.writeCentroidArtifact(spark, sfDir, path)
    // the artifact-driven assignment reproduces the gated clustering:
    // its per-cluster sizes must equal p21_lloyds' hash-verified output
    val fromArtifact = graft.operators.Similarity.assignFromArtifact(spark, sfDir, path)
      .groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
    val gated = graft.operators.Similarity.p21Lloyds(spark, sfDir)
    assert(fromArtifact.except(gated).isEmpty && gated.except(fromArtifact).isEmpty)
    // and the artifact is tiny: k rows, broadcastable anywhere
    assert(spark.read.parquet(path).count() ==
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") % 50 === 0).count())
  }

  test("centroid artifact round-trips: semantic dedup from parquet == in-session") {
    val path = Files.createTempDirectory("graft_cents_sem").toString + "/cents"
    graft.operators.Similarity.writeCentroidArtifact(spark, sfDir, path)
    val fromArtifact =
      graft.operators.Similarity.semanticFromArtifact(spark, sfDir, path)
    val inSession = graft.operators.Similarity.ddSemantic(spark, sfDir)
    assert(fromArtifact.except(inSession).isEmpty && inSession.except(fromArtifact).isEmpty,
      "artifact-path semantic dedup diverges from the in-session operator")
  }

  test("signature artifact round-trips: incremental verdicts from parquet == in-session") {
    val path = Files.createTempDirectory("graft_sigs").toString + "/sigs"
    graft.operators.Dedup.writeSignatureArtifact(spark, sfDir, path)
    val fromArtifact = graft.operators.Dedup.incrementalFromArtifact(spark, sfDir, path)
    val inSession = graft.operators.Dedup.ddIncremental(spark, sfDir)
    assert(fromArtifact.except(inSession).isEmpty && inSession.except(fromArtifact).isEmpty,
      "artifact-path incremental verdicts diverge from the in-session operator")
    // the artifact is one signature row per corpus doc, text-free
    val art = spark.read.parquet(path)
    assert(art.count() == spark.read.parquet(s"$sfDir/documents.parquet").count())
    assert(Seq("doc_id", "fp", "sh", "sigs").forall(art.columns.contains))
    assert(!art.columns.contains("text"))
  }

  test("knn artifact round-trips: centrality from parquet == in-session") {
    val path = Files.createTempDirectory("graft_knn").toString + "/knn"
    graft.operators.Similarity.writeKnnArtifact(spark, sfDir, path)
    val fromArtifact =
      graft.operators.Similarity.ssCentralityFromArtifact(spark, sfDir, path)
    val inSession = graft.operators.Similarity.ssCentrality(spark, sfDir)
    assert(fromArtifact.except(inSession).isEmpty && inSession.except(fromArtifact).isEmpty,
      "artifact-path centrality diverges from the in-session operator")
    // the edge artifact is 4 long columns, one row per (vector, neighbor)
    // — no float payload, no text
    val edges = spark.read.parquet(s"$path/edges")
    assert(edges.columns.sorted.toSeq == Seq("cos_ppm", "dst", "rank", "src"))
    import org.apache.spark.sql.functions.{count => cnt, lit, max => mx}
    assert(edges.count() > 0)
    // ≤ TopK out-edges per source (a source with a thin probed bucket
    // may have fewer)
    assert(edges.groupBy("src").agg(cnt(lit(1)).as("n"))
      .agg(mx("n")).head.getLong(0) <= graft.operators.Similarity.TopK)
  }

  test("pq artifact round-trips: probe+ADC from parquet == in-session ivf_pq") {
    val path = Files.createTempDirectory("graft_pq").toString + "/pq"
    graft.operators.Similarity.writePqArtifact(spark, sfDir, path)
    val fromArtifact = graft.operators.Similarity.ssPqFromArtifact(spark, sfDir, path)
    val inSession = graft.operators.Similarity.ssIvfPq(spark, sfDir)
    assert(fromArtifact.except(inSession).isEmpty && inSession.except(fromArtifact).isEmpty,
      "artifact-path IVF,PQ results diverge from the in-session operator")
    // the index row is (vec_id, cluster, codes) — one per vector, no
    // float payload; the sidecars are broadcast-tiny
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    assert(codes.columns.sorted.toSeq == Seq("cluster", "codes", "vec_id"))
    assert(spark.read.parquet(s"$path/codebook").count() == 1)
  }

  test("curation preset runs end-to-end and the verdict artifact gates the corpus") {
    val out = Files.createTempDirectory("graft_pipeline_cur").toString
    val manifest = Pipeline.run(spark, sfDir, out, "t5", Pipeline.curationStages).collect()
    assert(manifest.map(_.getAs[String]("stage")).toSeq == Pipeline.curationStages)
    assert(manifest.forall(_.getAs[Long]("rows") > 0))
    // Every artifact equals its standalone query, and the manifest's
    // footer row count equals a count of the written rows.
    manifest.foreach { r =>
      val stage = r.getAs[String]("stage")
      val artifact = spark.read.parquet(r.getAs[String]("path"))
      val standalone = SparkEntry.queries(stage)(spark, sfDir)
      assert(artifact.except(standalone).isEmpty && standalone.except(artifact).isEmpty,
        s"$stage artifact differs from its standalone query")
      assert(r.getAs[Long]("rows") == artifact.count(), s"$stage footer row count")
    }
    // cur_verdict read its upstreams' artifacts: it started after all three ended.
    val byStage = manifest.map(r => r.getAs[String]("stage") -> r).toMap
    val upstreamEnd = Seq("dd_decisions", "tx_gopher", "tx_contamination").map { s =>
      byStage(s).getAs[Long]("started_ms") + byStage(s).getAs[Long]("millis")
    }.max
    assert(byStage("cur_verdict").getAs[Long]("started_ms") >= upstreamEnd)
    // The verdict artifact is a full-corpus decision table with a
    // non-trivial keep/drop split, consumable via the contract check.
    assert(Pipeline.validateArtifact(spark, s"$out/t5/cur_verdict",
      Seq("doc_id", "train_keep")))
    val verdict = spark.read.parquet(s"$out/t5/cur_verdict")
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(verdict.count() == nDocs)
    val kept = verdict.filter(org.apache.spark.sql.functions.col("train_keep") === 1L).count()
    assert(kept > 0 && kept < nDocs)
  }

  test("footer row count runs no Spark job") {
    val path = Files.createTempDirectory("graft_footer").toString + "/a"
    spark.range(0, 1000, 1, 3).write.parquet(path)
    val (rows, jobs) = jobsDuring(Pipeline.footerRowCount(spark, path))
    assert(rows == 1000L && jobs == 0)
  }

  /** The three upstream stages written by a Pipeline run, then
    * cur_verdict composed over their artifacts, against the standalone
    * builder — with the classifier gate off and on. */
  private def assertComposedVerdictMatches(dir: String): Unit = {
    val stages = Seq("dd_decisions", "tx_gopher", "tx_contamination", "cur_verdict")
    for (gate <- Seq("off", "on")) {
      spark.conf.set(Curation.ClassifierGateKey, gate)
      try {
        val out = Files.createTempDirectory("graft_verdict_feed").toString
        Pipeline.run(spark, dir, out, "v", stages)
        val fed = spark.read.parquet(s"$out/v/cur_verdict")
        val standalone = Curation.curVerdict(spark, dir)
        assert(fed.columns.toSeq == standalone.columns.toSeq)
        assert(fed.except(standalone).isEmpty && standalone.except(fed).isEmpty,
          s"artifact-fed cur_verdict differs from the standalone builder (classifier $gate)")
      } finally spark.conf.unset(Curation.ClassifierGateKey)
    }
  }

  test("artifact-fed cur_verdict equals the standalone builder on sf0.001") {
    assertComposedVerdictMatches(sfDir)
  }

  test("artifact-fed cur_verdict equals the standalone builder on a replica corpus") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // Five copies of every document (distinct ids), one of them with a
    // one-word edit: density 2.5, so the replica-collapse shapes engage.
    val dir = Files.createTempDirectory("graft_verdict_replica").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until 5).map { k =>
      val copy = docs.withColumn("doc_id", col("doc_id") * 5 + k)
      if (k == 4) copy.withColumn("text", concat(col("text"), lit(" edited"))) else copy
    }.reduce(_ unionByName _)
      .write.parquet(s"$dir/documents.parquet")
    val (nDocs, nDistinct) = Sampling.textDensity(Tables.documents(spark, dir))
    assert(nDocs >= 2 * nDistinct)
    assertComposedVerdictMatches(dir)
  }

  test("cur_verdict without its upstreams in the list runs the standalone builder") {
    val out = Files.createTempDirectory("graft_verdict_alone").toString
    val manifest = Pipeline.run(spark, sfDir, out, "a", Seq("cur_verdict")).collect()
    assert(manifest.map(_.getAs[String]("stage")).toSeq == Seq("cur_verdict"))
    assert(Seq("dd_decisions", "tx_gopher", "tx_contamination")
      .forall(s => !new java.io.File(s"$out/a/$s").exists))
    val artifact = spark.read.parquet(s"$out/a/cur_verdict")
    val standalone = Curation.curVerdict(spark, sfDir)
    assert(artifact.except(standalone).isEmpty && standalone.except(artifact).isEmpty)
  }

  test("signatures chain: a result knob re-runs its stage, a shape knob skips all") {
    val out = Files.createTempDirectory("graft_pipeline_knobs").toString
    val stages = Seq("tx_gopher", "dd_decisions", "tx_contamination", "cur_verdict")
    def skipped(): Map[String, Boolean] =
      Pipeline.run(spark, sfDir, out, "k", stages, incremental = true).collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Boolean]("skipped")).toMap
    Pipeline.run(spark, sfDir, out, "k", stages)
    spark.conf.set(Curation.ClassifierGateKey, "on")
    try {
      assert(skipped() == Map("tx_gopher" -> true, "dd_decisions" -> true,
        "tx_contamination" -> true, "cur_verdict" -> false))
      assert(spark.read.parquet(s"$out/k/cur_verdict").columns.contains("clf_keep"))
    } finally spark.conf.unset(Curation.ClassifierGateKey)
    assert(!skipped()("cur_verdict"), "flipping the classifier back re-runs cur_verdict")
    spark.conf.set(Sampling.BroadcastMaxRowsKey, "0")
    try assert(skipped().values.forall(identity), "a shape-only knob must not re-run a stage")
    finally spark.conf.unset(Sampling.BroadcastMaxRowsKey)
  }

  test("a failing stage fails the run: named, siblings cancelled, no manifest, no threads") {
    import scala.jdk.CollectionConverters._
    def pipelineThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-pipeline-") && t.isAlive)
    def assertClean(out: String): Unit = {
      assert(!new java.io.File(s"$out/f/_manifest").exists)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      assert(pipelineThreads.isEmpty)
    }
    // No documents table: every curation stage fails.
    val empty = Files.createTempDirectory("graft_pipeline_nodocs").toString
    val out1 = Files.createTempDirectory("graft_pipeline_fail").toString
    val e1 = intercept[RuntimeException](
      Pipeline.run(spark, empty, out1, "f", Pipeline.curationStages))
    assert(Pipeline.curationStages.exists(s => e1.getMessage.contains(s"pipeline stage $s failed")))
    assert(e1.getCause != null && e1.getCause.getMessage.contains("documents.parquet"))
    assertClean(out1)
    // Documents but no embeddings: p21_lloyds fails at once while
    // dd_decisions is still running jobs, which are cancelled.
    val docsOnly = Files.createTempDirectory("graft_pipeline_noemb").toString
    spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(s"$docsOnly/documents.parquet")
    val out2 = Files.createTempDirectory("graft_pipeline_fail2").toString
    val e2 = intercept[RuntimeException](
      Pipeline.run(spark, docsOnly, out2, "f", Seq("dd_decisions", "p21_lloyds")))
    assert(e2.getMessage.contains("pipeline stage p21_lloyds failed"))
    assert(!new java.io.File(s"$out2/f/dd_decisions").exists,
      "the sibling's job group was not cancelled")
    assertClean(out2)
  }

  test("incremental re-run skips every unchanged stage; non-incremental re-runs") {
    val out = Files.createTempDirectory("graft_pipeline_inc").toString
    val stages = Seq("p17_style", "p18_prompts")
    Pipeline.run(spark, sfDir, out, "t2", stages)

    val second = Pipeline.run(spark, sfDir, out, "t2", stages, incremental = true).collect()
    assert(second.forall(_.getAs[Boolean]("skipped")))
    assert(second.forall(_.getAs[Long]("rows") > 0))

    val third = Pipeline.run(spark, sfDir, out, "t2", stages).collect()
    assert(third.forall(!_.getAs[Boolean]("skipped")))
  }

  test("a rewritten file NESTED in a table subdirectory busts the incremental skip") {
    // Production layouts nest part-files under table directories; dir
    // mtimes need not change on an in-place rewrite, so the signature
    // must come from a recursive leaf listing.
    val data = Files.createTempDirectory("graft_pipeline_nested").toString
    val out = Files.createTempDirectory("graft_pipeline_nested_out").toString
    // documents as a DIRECTORY-shaped parquet table (nested part files).
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.parquet(s"$data/documents.parquet")
    val stages = Seq("p17_style")
    Pipeline.run(spark, data, out, "t4", stages)
    val unchanged = Pipeline.run(spark, data, out, "t4", stages, incremental = true).collect()
    assert(unchanged.forall(_.getAs[Boolean]("skipped")))

    // Rewrite one nested part file in place: same name, same length,
    // newer mtime — only a recursive listing can see it.
    val part = new java.io.File(s"$data/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    part.setLastModified(part.lastModified() + 60000)
    val busted = Pipeline.run(spark, data, out, "t4", stages, incremental = true).collect()
    assert(busted.forall(!_.getAs[Boolean]("skipped")),
      "nested-file mtime change must invalidate the stage signature")
  }

  test("unknown stage name fails loudly") {
    val out = Files.createTempDirectory("graft_pipeline_bad").toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, sfDir, out, "t3", Seq("p17_style", "nope"))
    }
    assert(e.getMessage.contains("nope"))
  }
}
