package graft

/** Reference-output parity dump: runs the JSONL-sourced pipeline forms
  * (sources.PostsJsonl → DocPipeline.engagementTiers / labelPosts) over a
  * raw posts JSONL — the reference's own input format — and writes both
  * stages to parquet for tools/ref_parity.py, which executes the
  * reference's 1-find-gradient.py / 2-label.py functions on the same file
  * and diffs field-by-field. This is the one verification axis the DuckDB
  * oracle can't provide: the oracle checks the Spark plan against a SQL
  * re-expression; this checks the re-expression against the reference's
  * actual Python output.
  *
  * Usage: RefParity <posts.jsonl> <outDir>   (writes outDir/tiers,
  * outDir/labels)
  */
object RefParity {
  def main(args: Array[String]): Unit = {
    val Array(jsonl, outDir) = args
    val spark = SessionTuning.baseSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val posts = sources.PostsJsonl.posts(spark, jsonl)
    operators.DocPipeline.engagementTiers(posts)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/tiers")
    // The example corpus is engagement-rich: every post clears the default
    // 0.05 clamp, collapsing all ratios (and tiers) onto the clamp value.
    // A second dump with the clamp lifted exercises the quantile cutoffs
    // and tier boundaries on distinct ratios.
    operators.DocPipeline.engagementTiers(posts, clampPpm = 1000000L)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/tiers_unclamped")
    operators.DocPipeline.labelPosts(posts)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/labels")
    spark.stop()
  }
}
