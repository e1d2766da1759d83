package graft

import org.apache.spark.sql.functions._

import graft.operators.{DocPipeline, Rewards, TextOps}

/** The approx-quantile knob must (a) actually switch the plan to
  * approx_percentile and (b) produce cutoffs close enough to exact that
  * tiering barely moves — the property that makes the 100 TB swap safe. */
class QuantilesSpec extends SparkSpec {

  private def withApprox[A](f: => A): A = {
    spark.conf.set(Knobs.approxQuantiles.key, "true")
    try f finally spark.conf.unset(Knobs.approxQuantiles.key)
  }

  test("the knob switches percentile to approx_percentile in the plan") {
    val exact = TextOps.txQualityDist(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val approx = withApprox {
      TextOps.txQualityDist(spark, sfDir)
        .queryExecution.optimizedPlan.toString
    }
    assert(exact.contains("percentile") && !exact.contains("approx_percentile"))
    assert(approx.contains("approx_percentile"))
  }

  test("rw_report's median rides the knob too — and stays close to exact") {
    val exactPlan = Rewards.rwReport(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("percentile") && !exactPlan.contains("approx_percentile"))
    val exact = Rewards.rwReport(spark, sfDir)
      .select("reward", "p50_ppm").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = withApprox {
      val df = Rewards.rwReport(spark, sfDir)
      assert(df.queryExecution.optimizedPlan.toString.contains("approx_percentile"))
      df.select("reward", "p50_ppm").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // approx_percentile returns a REAL data value, while exact percentile
    // interpolates between neighbors — on the coarse reward grids (steps
    // of 0.05–0.1 reward ≈ 50k–100k ppm) the two can differ by a whole
    // step. One grid step of slack still catches a broken sketch.
    exact.foreach { case (name, p50) =>
      val a = approx(name)
      assert(math.abs(a - p50) <= 100000L,
        s"$name: approx median $a vs exact $p50")
    }
  }

  test("tx_ccnet_bucket terciles: per-source thirds, monotone in score, knob rides") {
    import graft.operators.Curation
    val rows = Curation.txCcnetBucket(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty && rows.map(_._4).toSet.subsetOf(Set("head", "middle", "tail")))
    rows.groupBy(_._2).foreach { case (src, ms) =>
      // buckets are each about a third of the source (interpolated
      // cutoffs and score ties can shift boundary docs)
      val n = ms.length
      val counts = ms.groupBy(_._4).view.mapValues(_.length).toMap
      Seq("head", "middle", "tail").foreach { b =>
        assert(math.abs(counts.getOrElse(b, 0) - n / 3.0) <= math.max(2, n * 0.1),
          s"$src bucket $b count ${counts.getOrElse(b, 0)} far from n/3 of $n")
      }
      // monotone: every head score >= every middle score >= every tail
      def scores(b: String) = ms.filter(_._4 == b).map(_._3)
      val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
      assert(h.isEmpty || m.isEmpty || h.min >= m.max)
      assert(m.isEmpty || t.isEmpty || m.min >= t.max)
    }
    // the cutoffs ride the approx knob like p01's
    val plan = withApprox {
      Curation.txCcnetBucket(spark, sfDir).queryExecution.optimizedPlan.toString
    }
    assert(plan.contains("approx_percentile"))
  }

  test("approx p01 tiering agrees with exact on almost every document") {
    val exact = DocPipeline.p01Engagement(spark, sfDir)
      .select("doc_id", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val approx = withApprox {
      DocPipeline.p01Engagement(spark, sfDir)
        .select("doc_id", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val agree = exact.count { case (id, t) => approx(id) == t }
    // At accuracy 10000 the cutoff estimate can only shift boundary docs.
    assert(agree >= (exact.size * 0.98).toInt,
      s"only $agree/${exact.size} documents tier identically under approx quantiles")
  }
}
