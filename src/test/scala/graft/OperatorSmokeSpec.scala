package graft

/** Every SparkEntry query runs end-to-end on sf0.001 and returns rows.
  * (Value-level correctness is the driver's DuckDB oracle gate — mirrored
  * locally by tools/check_oracle.py; this suite catches plan-breaking
  * regressions in `sbt test`.) */
class OperatorSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has an oracle or is a documented rows-only op") {
    // MLlib k-means training is iterative, not SQL-expressible; the
    // trained-IVF search quality is pinned by IvfRecallSpec instead.
    // PCA eigenvector sign/low-bit nondeterminism likewise has no hash
    // oracle; PcaVarianceSpec pins its variance contract.
    val rowsOnly = Set("p21_kmeans", "ss_ivf_trained", "p21_pca")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("a query-name list rejects every unknown name; an empty one means all") {
    assert(SparkEntry.queryNames(" q1_pricing, dd_exact ,") == Some(Set("q1_pricing", "dd_exact")))
    assert(SparkEntry.queryNames(" , ").isEmpty, "an empty list means every query")
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryNames("q1_pricing_summary,dd_exact,dd_exactt"))
    assert(e.getMessage.endsWith("unknown query names: dd_exactt, q1_pricing_summary"))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
