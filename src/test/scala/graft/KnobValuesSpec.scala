package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.SessionCache

/** Session knobs are read as typed values ([[Knobs.values]]): a malformed
  * value or a mistyped key fails a Pipeline run by name before any job,
  * and two spellings of one value — or an unset knob and its default —
  * are one session-cache entry and one stage signature.
  */
class KnobValuesSpec extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** Pipeline.run under `key=value` must throw before any job, naming
    * the key. */
  private def assertRejected(key: String, value: String): Unit = withConf(key, value) {
    val out = Files.createTempDirectory("graft_knob_reject").toString
    val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](
      Pipeline.run(spark, sfDir, out, "r", Seq("q1_pricing"))))
    assert(e.getMessage.contains(key), s"$key=$value: ${e.getMessage}")
    assert(jobs == 0, s"$key=$value ran $jobs jobs before failing")
  }

  test("every registry knob rejects a malformed value by name before any job") {
    val malformed = Map[Knob[_], Seq[String]](
      Knobs.presentation -> Seq("of", "ON?"),
      Knobs.approxQuantiles -> Seq("of", "ON?"),
      Knobs.classifier -> Seq("of", "ON?"),
      Knobs.maxCentroids -> Seq("0", "abc", "-1"),
      Knobs.bloomMinScanBytes -> Seq("abc", "-1"),
      Knobs.broadcastMaxRows -> Seq("abc", "-1"),
      Knobs.preRangeMinPairs -> Seq("abc", "-1"))
    assert(malformed.keySet == Knobs.all.toSet)
    for ((knob, values) <- malformed; v <- values) assertRejected(knob.key, v)
  }

  test("a mistyped knob key is rejected by name before any job") {
    assertRejected("graft.presentaton", "off")
    assertRejected("spark.graft.broadcastMaxRow", "0")
  }

  test("two spellings of one value, and unset vs the default, are one cache entry") {
    val builds = new AtomicInteger()
    def get(): Int =
      SessionCache.get(spark, "KnobValuesSpec/spelling", "t")(builds.incrementAndGet())
    assert(get() == 1)
    withConf(Knobs.presentation.key, "on")(assert(get() == 1))
    withConf(Knobs.broadcastMaxRows.key, (4L << 20).toString)(assert(get() == 1))
    withConf(Knobs.presentation.key, "OFF")(assert(get() == 2))
    withConf(Knobs.presentation.key, " off")(assert(get() == 2))
    assert(builds.get == 2)
  }

  test("an unset knob and one set to its default give one stage signature") {
    val out = Files.createTempDirectory("graft_knob_signature").toString
    def signature(incremental: Boolean): (String, Boolean) = {
      val r = Pipeline.run(spark, sfDir, out, "s", Seq("q1_pricing"), incremental).head()
      (r.getAs[String]("signature"), r.getAs[Boolean]("skipped"))
    }
    val (unset, _) = signature(incremental = false)
    withConf(Knobs.approxQuantiles.key, "false") {
      assert(signature(incremental = true) == (unset, true))
    }
    withConf(Knobs.approxQuantiles.key, "OFF") {
      assert(signature(incremental = true) == (unset, true))
    }
    withConf(Knobs.approxQuantiles.key, "on") {
      assert(signature(incremental = true)._1 != unset)
    }
  }
}
