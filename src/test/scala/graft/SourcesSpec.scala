package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{PostsJsonl, Sinks}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))

  test("PostsJsonl reads flat and wrapped lines into one post table") {
    val dir = tmpDir("jsonl")
    val f = s"$dir/posts.jsonl"
    writeLines(f, Seq(
      """{"post_text": "flat post", "follower_count": 100, "total_likes_count": 5, "comments_count": 2, "shares_count": 1}""",
      """{"posts": [{"post_text": "wrapped a", "follower_count": 10}, {"post_text": "wrapped b", "comments_count": 3}]}""",
      """not json at all"""))
    val all = PostsJsonl.read(spark, f)
    assert(all.count() == 4) // 1 flat + 2 wrapped + 1 corrupt
    assert(all.filter(col("is_corrupt")).count() == 1)
    val posts = PostsJsonl.posts(spark, f)
      .select("post_text", "follower_count", "comments_count")
      .as[(String, Long, Long)].collect().toSet
    assert(posts == Set(
      ("flat post", 100L, 2L),
      ("wrapped a", 10L, 0L),
      ("wrapped b", 0L, 3L)))
  }

  test("JSONL posts flow end-to-end into engagement tiering") {
    val dir = tmpDir("e2e")
    val f = s"$dir/posts.jsonl"
    // 10 posts with ratios 0%, 1%, ..., 9% of followers
    writeLines(f, (0 until 10).map { i =>
      s"""{"post_text": "post $i", "follower_count": 1000, "total_likes_count": ${i * 10}, "comments_count": 0, "shares_count": 0}"""
    })
    val tiers = graft.operators.DocPipeline
      .engagementTiers(PostsJsonl.posts(spark, f))
      .select("post_text", "ratio_ppm", "tier")
      .as[(String, Long, String)].collect()
      .map { case (p, _, t) => p -> t }.toMap
    // ratios ppm: 0..90000 clamped at 50000 → 0,10000,...,40000,50000×5
    // top 20% cutoff = 50000 → posts 5-9 are A; bottom 40% cutoff
    // (p40 of 0,10000,20000,30000,40000,50000,50000,50000,50000,50000
    //  = 36000) → posts 0-3 (<36000) are C, post 4 (40000) is B.
    assert((5 to 9).forall(i => tiers(s"post $i") == "Tier A (Top 20%)"))
    assert(tiers("post 4") == "Tier B (Middle 40%)")
    assert((0 to 3).forall(i => tiers(s"post $i") == "Tier C (Bottom 40%)"))
  }

  test("partitionedParquet round-trips and prunes partitions at read") {
    val out = tmpDir("part") + "/t"
    val df = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0))
      .toDF("id", "tier", "v")
    Sinks.partitionedParquet(df, out, Seq("tier"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    val pruned = back.filter(col("tier") === "A")
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(tier"), plan)
  }

  test("pipeline stages compose through a partitioned sink with pruning") {
    val dir = tmpDir("pipe")
    // stage → tier-partitioned sink → pruned read → downstream join
    val tiers = graft.operators.DocPipeline.p01Engagement(spark, sfDir)
    Sinks.partitionedParquet(tiers, s"$dir/tiers", Seq("tier"))
    val tierA = spark.read.parquet(s"$dir/tiers")
      .filter(col("tier") === "Tier A (Top 20%)")
    assert(tierA.count() > 0)
    assert(tierA.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(tier"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val joined = docs.join(tierA.select("doc_id"), "doc_id")
    assert(joined.count() == tierA.count())
  }

  test("bucketedTable joins co-located without a shuffle exchange") {
    val n = 4
    Sinks.bucketedTable(
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "a"), "bt_left", "k", n)
    Sinks.bucketedTable(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "b"), "bt_right", "k", n)
    try {
      val joined = spark.table("bt_left").join(spark.table("bt_right"), "k")
      assert(joined.count() == 2)
      val plan = joined.queryExecution.executedPlan.toString
      // Bucketing replaces both exchanges: no shuffle anywhere in the join.
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bt_left")
      spark.sql("DROP TABLE IF EXISTS bt_right")
    }
  }

  test("streamingParquet drains a stream exactly once with AvailableNow") {
    implicit val sql = spark.sqlContext
    val dir = tmpDir("stream")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    in.addData((1L, "a"), (2L, "b"))
    val q = Sinks.streamingParquet(
      in.toDF().toDF("id", "s"), s"$dir/out", s"$dir/ckpt").start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$dir/out").count() == 2)

    // The real events table: the drained files hold each event id
    // exactly once, and a second drain with no new data appends nothing.
    val events = Tables.events(spark, sfDir).select("event_id", "event_type")
    val ids = events.select("event_id").as[Long].collect().toSeq.sorted
    val real = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    real.addData(events.as[(Long, String)].collect().toSeq)
    for (_ <- 1 to 2) {
      Sinks.streamingParquet(real.toDF().toDF("event_id", "event_type"),
        s"$dir/real", s"$dir/real_ckpt").start().awaitTermination(60000)
      assert(spark.read.parquet(s"$dir/real").select("event_id")
        .as[Long].collect().toSeq.sorted == ids)
    }
  }

  test("dedupUpsertParquet keeps first row per key across batches") {
    implicit val sql = spark.sqlContext
    val dir = tmpDir("upsert")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]

    def drain(): Unit = {
      val q = Sinks.dedupUpsertParquet(
        in.toDF().toDF("k", "seq", "s"),
        s"$dir/out", s"$dir/ckpt", "k", "seq").start()
      q.awaitTermination(60000)
    }

    in.addData((1L, 1L, "first-1"), (1L, 2L, "dup-1"), (2L, 1L, "first-2"))
    drain()
    in.addData((2L, 5L, "redelivered-2"), (3L, 1L, "first-3"))
    drain()

    val rows = spark.read.parquet(s"$dir/out")
      .select("k", "s").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "first-1"), (2L, "first-2"), (3L, "first-3")))

    // The real documents keyed by fingerprint, drained twice with half
    // the rows redelivered, collapse to exactly dd_exact's keep set.
    val batch = graft.operators.Dedup.ddExact(spark, sfDir)
      .select("fp", "keep_id").as[(String, Long)].collect().toSet
    val docs = Tables.documents(spark, sfDir)
      .select(graft.functions.NativeExpressions.fingerprint(col("text")).as("fp"),
        col("doc_id"))
      .as[(String, Long)].collect().toSeq
    val real = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    for (delivery <- Seq(docs, docs.take(docs.length / 2))) {
      real.addData(delivery)
      Sinks.dedupUpsertParquet(real.toDF().toDF("fp", "doc_id"),
        s"$dir/real", s"$dir/real_ckpt", "fp", "doc_id").start().awaitTermination(60000)
    }
    val got = spark.read.parquet(s"$dir/real")
      .select("fp", "doc_id").as[(String, Long)].collect().toSeq
    assert(got.size == batch.size && got.toSet == batch)
  }

  test("dedupUpsertParquet recovers exactly-once from a kill before commit") {
    implicit val sql = spark.sqlContext
    val dir = tmpDir("recover")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]

    def drain(): Unit = {
      val q = Sinks.dedupUpsertParquet(
        in.toDF().toDF("k", "seq", "s"),
        s"$dir/out", s"$dir/ckpt", "k", "seq").start()
      q.awaitTermination(60000)
    }

    in.addData((1L, 1L, "first-1"), (2L, 1L, "first-2"))
    drain()

    // Simulate the worst-case kill: the sink's parquet append landed but
    // the engine died BEFORE writing the batch's commit marker. Deleting
    // the newest commits/<n> (keeping offsets/<n>) reproduces exactly
    // that checkpoint state, so the restart REPLAYS the batch against a
    // target that already holds its rows — the anti-join must turn the
    // replay into a no-op, not an append.
    val commits = new java.io.File(s"$dir/ckpt/commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not delete commit marker $latest")
    // the local ChecksumFs leaves a .<n>.crc sidecar that would block the
    // replay's commit rename (a real crash leaves neither file)
    new java.io.File(commits, s".${latest.getName}.crc").delete()
    drain()

    // and the resumed query keeps consuming new data normally
    in.addData((2L, 9L, "redelivered-2"), (3L, 1L, "first-3"))
    drain()

    val rows = spark.read.parquet(s"$dir/out")
      .select("k", "s").as[(Long, String)].collect().toList.sorted
    assert(rows == List((1L, "first-1"), (2L, "first-2"), (3L, "first-3")),
      s"replay duplicated or lost rows: $rows")
  }

  test("compactParquet merges a many-file dataset, preserving the rows") {
    val dir = tmpDir("compact")
    spark.range(1000).toDF("id").repartition(64)
      .write.parquet(s"$dir/small")
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/small") == 64)
    Sinks.compactParquet(spark, s"$dir/small", s"$dir/big", targetBytes = 1L << 30)
    assert(parquetFiles(s"$dir/big") == 1)
    assert(spark.read.parquet(s"$dir/big").select(sum(col("id")))
      .as[Long].head() == 499500L)
    // In-place compaction must be refused, qualified-path-insensitively.
    intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, s"$dir/small", s"file:$dir/small")
    }
  }
}
