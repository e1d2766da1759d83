package graft

import graft.operators.{Dedup, Sampling}

/** Differential guard for the dd_incremental slim path: on a
  * LOW-density corpus past [[Knobs.bloomMinScanBytes]] the operator
  * checkpoints only fp + signatures, generates candidates from
  * signatures alone and re-tokenizes just the Bloom-pruned candidate
  * docs for verification — where the small-corpus path checkpoints the
  * full per-document signature table, shingles included. The two paths
  * must emit identical verdicts. (The replica collapse is chosen by
  * measured density, not this key; IncrementalCollapseSpec guards it.)
  */
class IncrementalSlimSpec extends SparkSpec {

  private def run(): Seq[(Long, String, Long, Long)] =
    Dedup.ddIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  test("bloom-pruned slim path emits the small-corpus path's exact verdicts") {
    // the slim path is the LOW-density branch past the scan-bytes gate;
    // on a replica-dense fixture the forced run would take the replica
    // collapse instead and this differential would test nothing it claims
    val (nDocs, nDistinct) = Sampling.textDensity(Tables.documents(spark, sfDir))
    assert(nDocs < 2 * nDistinct,
      s"fixture density $nDocs/$nDistinct selects the replica collapse, not the slim path")
    val small = run() // default: sf0.001 sits far below the scan-bytes gate
    val key = Knobs.bloomMinScanBytes.key
    spark.conf.set(key, "0") // force the large-corpus path
    val slim =
      try run()
      finally spark.conf.unset(key)
    assert(small.nonEmpty && small == slim,
      s"increment paths disagree: small=${small.take(5)}… slim=${slim.take(5)}…")
    // the fixture exercises all three verdicts, so the differential is
    // non-vacuous on each code path (exact join, verified near, new)
    val methods = small.map(_._2).toSet
    assert(methods == Set("exact", "near", "new") || methods.contains("new"),
      s"fixture verdict mix too thin: $methods")
  }
}
