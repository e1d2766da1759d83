package graft

import org.apache.spark.sql.functions._

import graft.functions.Aggregates.collectBounded

/** CollectBounded: collect_list semantics under the cap, NULL beyond it,
  * with state bounded through partial aggregation and merge. */
class AggregatesSpec extends SparkSpec {

  test("under the cap it equals collect_list; over the cap it is null") {
    import spark.implicits._
    // key 1: 3 values, key 2: 5 values — cap at 4.
    val df = Seq.tabulate(8)(i => (if (i < 3) 1 else 2, i.toLong)).toDF("k", "v")
      .repartition(5) // force multiple partial buffers per key
    val got = df.groupBy($"k")
      .agg(sort_array(collectBounded($"v", 4)).as("vs"))
      .orderBy($"k").collect()
    assert(got(0).getSeq[Long](1) == Seq(0L, 1L, 2L))
    assert(got(1).isNullAt(1), "over-cap key must evaluate to null")
  }

  test("per-key buffer never exceeds cap+1 even for a hot key") {
    import spark.implicits._
    // One key with 10k rows, cap 10: the result is null and nothing blows
    // up — the update/merge paths cap at 11 elements (this is the property
    // that makes a 10⁹-document boilerplate shingle safe at scale).
    val df = spark.range(10000).select(lit(0).as("k"), col("id").as("v"))
      .repartition(32)
    val got = df.groupBy($"k").agg(collectBounded($"v", 10).as("vs")).collect()
    assert(got.length == 1 && got(0).isNullAt(1))
  }

  test("null inputs are skipped like collect_list, struct elements round-trip") {
    import spark.implicits._
    val df = Seq((1, Some(5L), "a"), (1, None, "b"), (1, Some(7L), "c"))
      .toDF("k", "v", "s")
    val got = df.groupBy($"k")
      .agg(sort_array(collectBounded(
        when($"v".isNotNull, struct($"v", $"s")), 10)).as("xs"))
      .collect()
    val xs = got(0).getSeq[org.apache.spark.sql.Row](1)
    assert(xs.map(r => (r.getLong(0), r.getString(1))) == Seq((5L, "a"), (7L, "c")))
  }

  test("bloom-pruned minhash verify path is value-identical to the plain path") {
    import graft.operators.Dedup
    def rows() = Dedup.ddMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = rows() // default threshold (10 GB) keeps the bloom off
    // Plan-shape assertions run on the PRE-checkpoint core: the cached
    // gate entry is a localCheckpoint LogicalRDD whose plan string shows
    // nothing (the presentSorted lesson from PlanAuditSpec).
    assert(!Dedup.minhashPairsCore(spark, sfDir).queryExecution
      .executedPlan.toString.contains("might_contain"))
    spark.conf.set(Knobs.bloomMinScanBytes.key, "0")
    try {
      // The sketch filter must sit in the plan (and, by construction,
      // below the shingle projection — non-candidates never tokenize).
      assert(Dedup.minhashPairsCore(spark, sfDir).queryExecution
        .executedPlan.toString.contains("might_contain"))
      val bloomed = rows()
      assert(bloomed == plain,
        s"bloom path diverged: ${bloomed.size} vs ${plain.size} pairs")
    } finally spark.conf.unset(Knobs.bloomMinScanBytes.key)
  }

  test("exactly-at-cap groups survive") {
    import spark.implicits._
    val df = spark.range(10).select(lit(0).as("k"), col("id").as("v")).repartition(4)
    val got = df.groupBy($"k").agg(sort_array(collectBounded($"v", 10)).as("vs")).collect()
    assert(got(0).getSeq[Long](1) == (0L until 10L))
  }

  test("property: any key set / cap / partitioning agrees with groupBy-size semantics") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 300)
      ks <- Gen.listOfN(n, Gen.choose(0, 8))
      cap <- Gen.choose(1, 40)
      parts <- Gen.choose(1, 16)
    } yield (ks, cap, parts)
    val prop = forAll(gen) { case (ks, cap, parts) =>
      val rows = ks.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val expected = rows.groupBy(_._1).map { case (k, vs) =>
        k -> (if (vs.size > cap) null else vs.map(_._2).sorted)
      }
      val got = rows.toDF("k", "v").repartition(parts)
        .groupBy($"k").agg(sort_array(collectBounded($"v", cap)).as("vs"))
        .collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1).toList))
        .toMap
      got == expected
    }
    // Spark jobs per case — keep the sample count modest but real.
    val cfg = org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25)
    val res = org.scalacheck.Test.check(cfg, prop)
    assert(res.passed, res.status.toString)
  }

  test("gramSum equals the posexplode formulation and is partition-independent") {
    import spark.implicits._
    import graft.functions.Aggregates.gramSum
    val dim = 5
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300)(Seq.fill(dim)(rnd.nextInt(2001).toLong - 1000))
    def run(parts: Int): Seq[Long] =
      rows.toDF("q").repartition(parts)
        .select(gramSum(col("q"), dim).as("g"))
        .head().getSeq[Long](0)
    // reference: the posexplode/groupBy shape gramSum replaced in pcaDetFit
    val exploded = rows.toDF("q")
      .select(posexplode(concat(col("q"),
        flatten(transform(col("q"), xi => transform(col("q"), xj => xi * xj))))
      ).as(Seq("k", "x")))
      .groupBy("k").agg(sum("x").as("s"))
      .orderBy("k").as[(Int, Long)].collect()
    val expect = rows.size.toLong +: exploded.map(_._2).toSeq
    assert(run(1) == expect)
    // merge path: many partitions → many partial buffers, same sums
    assert(run(13) == expect)
  }

  test("gramSum rejects wrong dimensions loudly") {
    import spark.implicits._
    import graft.functions.Aggregates.gramSum
    val ex = intercept[Exception] {
      Seq(Seq(1L, 2L, 3L)).toDF("q")
        .select(gramSum(col("q"), 5)).collect()
    }
    assert(ex.getMessage != null)
  }
}
