package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The maxCentroids scale knob: capped runs use the deterministic
  * K-prefix of the seed set and keep every output contract; the unset
  * default is bit-identical to the fixture rule (the oracle-parity
  * path).
  */
class CentroidCapSpec extends SparkSpec {
  import spark.implicits._

  private def withCap[T](k: Long)(body: => T): T = {
    spark.conf.set(Knobs.maxCentroids.key, k.toString)
    try body finally spark.conf.unset(Knobs.maxCentroids.key)
  }

  test("capped centroid set is the K-prefix of the seed set") {
    val uncapped = Similarity.ssKnnGraph(spark, sfDir) // warms nothing; just check conf is unset
    assert(spark.conf.getOption(Knobs.maxCentroids.key).isEmpty)
    val seeds = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).count()
    assert(seeds > 1, s"fixture needs >1 seeds at $sfDir (got $seeds)")
    withCap(1L) {
      // with K=1 every vector assigns to (and probes) the single seed —
      // the knn graph degenerates to brute force over one bucket and
      // must still produce full-coverage TopK output
      val g = Similarity.ssKnnGraph(spark, sfDir)
      val n = Tables.embeddings(spark, sfDir).count()
      val perQ = g.groupBy("q_id").agg(count(lit(1)).as("k"))
      assert(perQ.count() == n)
      assert(perQ.agg(max("k")).head.getLong(0) <= Similarity.TopK)
    }
    // default path unaffected after unset: same row count as before
    assert(Similarity.ssKnnGraph(spark, sfDir).count() == uncapped.count())
  }

  test("cap larger than the seed set is a no-op") {
    val base = Similarity.ssCentrality(spark, sfDir).collect().toSeq
    val capped = withCap(1000000L) {
      Similarity.ssCentrality(spark, sfDir).collect().toSeq
    }
    assert(capped == base)
  }

  test("the Lloyd's family honors the cap without poisoning the centroid cache") {
    // trained UNCAPPED first → cache holds the default entry
    val base = Similarity.p21Lloyds(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val capped = withCap(1L) {
      // K=1: one seed centroid, every vector in cluster of seed 0 after
      // 3 re-estimations — exactly one output row covering the corpus
      Similarity.p21Lloyds(spark, sfDir).as[(Long, Long)].collect().toSeq
    }
    val n = Tables.embeddings(spark, sfDir).count()
    assert(capped.map(_._2).sum == n && capped.size == 1)
    // back to unset: the cache must serve the DEFAULT training, not the
    // capped one (the cap is part of the cache key)
    assert(Similarity.p21Lloyds(spark, sfDir)
      .as[(Long, Long)].collect().toSeq == base)
    assert(base.size > 1)
  }
}
