package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Quantiles
import graft.functions.TextFunctions._

/** Social-media pipeline stages over the `documents` table.
  *
  * Each stage is a pure plan builder (DataFrame in → DataFrame out) with an
  * exact DuckDB mirror in `oracle`. The synthetic schema has no
  * follower/like columns, so engagement metrics derive deterministically
  * from doc_id (identical integer arithmetic on both engines — SURVEY §3).
  *
  * Scale notes (100 TB): every stage except p01's cutoff pass is a
  * shuffle-free single-pass projection/filter. p01 is two-pass: pass 1
  * reduces the table to two scalars (exact percentile here;
  * approx_percentile is the drop-in at 100 TB), broadcast back via a
  * 1-row cross join — never a global sort.
  */
object DocPipeline {

  // ---- deterministic engagement derivation (SURVEY §3) ----
  // followers in [100, 10000]; engagement = comments + likes + shares;
  // ratio clamped at 0.05 (reference: 1-find-gradient.py:20-27 clamp)
  // and scaled to integer parts-per-million so the quantile comparison
  // is integer-vs-double and immune to last-ulp drift between engines.

  /** Engagement ratio in ppm, clamped at 50000 (= 0.05). */
  def engagementPpm: Column = expr(
    """least(50000L,
      |  ((doc_id*13) % 50 + (doc_id*7) % 500 + (doc_id*3) % 20) * 1000000L
      |    div (100 + (doc_id*37) % 9901))""".stripMargin)

  val engagementPpmSql: String =
    """LEAST(50000, (((doc_id*13) % 50 + (doc_id*7) % 500 + (doc_id*3) % 20) * 1000000)
      |    // (100 + (doc_id*37) % 9901))""".stripMargin

  /** p01: engagement ratio + population quantile cutoffs + tier A/B/C.
    * Reference: 1-find-gradient.py:59-60 (np.quantile top 0.80 / bottom
    * 0.40) and :102-109 (tier labels).
    */
  def p01Engagement(spark: SparkSession, sfDir: String): DataFrame = {
    val eng = Tables.documents(spark, sfDir)
      .select(col("doc_id"), engagementPpm.as("ratio_ppm"))
    // Pass 1: two scalars. Exact percentile by default (oracle parity); at
    // 100 TB set Knobs.approxQuantiles on the session — the same call sites
    // emit approx_percentile with bounded sketch state, same plan shape.
    val cuts = eng.agg(
      Quantiles.pctl(spark, "ratio_ppm", 0.80).as("top_cut"),
      Quantiles.pctl(spark, "ratio_ppm", 0.40).as("bot_cut"))
    eng.crossJoin(broadcast(cuts))
      .select(
        col("doc_id"),
        col("ratio_ppm"),
        when(col("ratio_ppm") >= col("top_cut"), "Tier A (Top 20%)")
          .when(col("ratio_ppm") < col("bot_cut"), "Tier C (Bottom 40%)")
          .otherwise("Tier B (Middle 40%)").as("tier"))
      .orderBy(col("doc_id"))
  }

  /** The same two-pass quantile tiering over REAL post columns — the form
    * a JSONL-sourced pipeline uses ([[graft.sources.PostsJsonl.posts]]
    * feeds it directly). Ratio per 1-find-gradient.py:21-28: engagement
    * metrics floored at 0, zero/absent followers → 0, clamp applied, all
    * in integer ppm. The synthetic-table p01 above derives its metrics
    * from doc_id only because the test schema has no follower columns. */
  def engagementTiers(posts: DataFrame, clampPpm: Long = 50000L): DataFrame = {
    val eng = posts.withColumn("ratio_ppm",
      when(col("follower_count") <= 0, lit(0L))
        .otherwise(least(lit(clampPpm), expr(
          """(greatest(comments_count, 0L) + greatest(total_likes_count, 0L)
            |  + greatest(shares_count, 0L)) * 1000000L div follower_count""".stripMargin))))
    val cuts = eng.agg(
      Quantiles.pctl(eng.sparkSession, "ratio_ppm", 0.80).as("top_cut"),
      Quantiles.pctl(eng.sparkSession, "ratio_ppm", 0.40).as("bot_cut"))
    eng.crossJoin(broadcast(cuts))
      .withColumn("tier",
        when(col("ratio_ppm") >= col("top_cut"), "Tier A (Top 20%)")
          .when(col("ratio_ppm") < col("bot_cut"), "Tier C (Bottom 40%)")
          .otherwise("Tier B (Middle 40%)"))
      .drop("top_cut", "bot_cut")
  }

  /** The p02 labeling projection over REAL post text — the form the
    * JSONL-sourced pipeline uses (2-label.py process_posts: empty text
    * skipped, emoji frequency analysis + length bucket; same
    * TextFunctions kernels as the synthetic-table p02 below). Feeds the
    * reference-output parity harness (tools/ref_parity.py). */
  def labelPosts(posts: DataFrame): DataFrame =
    posts.filter(col("post_text").isNotNull && length(col("post_text")) > 0)
      .select(col("post_text"),
        emojiCount(col("post_text")).cast("long").as("emoji_count"),
        length(col("post_text")).cast("long").as("text_length"))
      .select(
        col("post_text"),
        col("emoji_count"),
        col("text_length"),
        round(emojiFrequencyOf(col("emoji_count"), col("text_length")) * 1000000, 0)
          .cast("long").as("freq_ppm"),
        emojiUsageOf(col("emoji_count"), col("text_length")).as("emoji_usage"),
        lengthBucket(col("post_text")).as("max_length"))

  /** p02: emoji count / frequency / usage bins + length buckets.
    * Reference: 2-label.py:20-88 (default bins, post_length_analysis).
    */
  def p02Label(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // stage 1 materializes the emoji-kernel count so the freq/usage
      // chain reads an attribute (one kernel pass, not 8 — see
      // TextFunctions.emojiFrequencyOf)
      .select(col("doc_id"), col("text"),
        emojiCount(col("text")).cast("long").as("emoji_count"))
      .select(
        col("doc_id"),
        col("emoji_count"),
        length(col("text")).cast("long").as("text_length"),
        round(emojiFrequencyOf(col("emoji_count"), length(col("text"))) * 1000000, 0)
          .cast("long").as("freq_ppm"),
        emojiUsageOf(col("emoji_count"), length(col("text"))).as("emoji_usage"),
        lengthBucket(col("text")).as("max_length"))
      .transform(Sampling.presentSorted(_, col("doc_id")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_engagement" -> (p01Engagement _),
    "p02_label"      -> (p02Label _))

  /** DuckDB emoji-count over `text` (mirror of TextFunctions.emojiCount). */
  private[operators] val emojiCountSql =
    s"length(regexp_extract_all(text, '$EmojiClass'))"

  /** DuckDB mirror of TextFunctions.emojiUsage over `text`. */
  private[operators] val emojiUsageSql =
    s"""CASE
       |    WHEN $emojiCountSql = 0 THEN 'none'
       |    WHEN CAST($emojiCountSql AS DOUBLE) / length(text) <= 0.0005 THEN 'very low'
       |    WHEN CAST($emojiCountSql AS DOUBLE) / length(text) <= 0.001 THEN 'low'
       |    WHEN CAST($emojiCountSql AS DOUBLE) / length(text) <= 0.005 THEN 'medium'
       |    WHEN CAST($emojiCountSql AS DOUBLE) / length(text) <= 0.01 THEN 'high'
       |    ELSE 'extreme' END""".stripMargin

  /** DuckDB mirror of TextFunctions.lengthBucket over `text`. */
  private[operators] val lengthBucketSql =
    """CASE WHEN length(text) >= 1501 THEN 'Between 1,500 and 3,000 characters long'
      |       WHEN length(text) >= 750 THEN 'Between 750 and 1,500 characters long'
      |       ELSE 'Up to 750 characters long' END""".stripMargin

  val oracle: Map[String, String] = Map(
    "p01_engagement" ->
      s"""WITH eng AS (
         |  SELECT doc_id, $engagementPpmSql AS ratio_ppm FROM documents),
         |cuts AS (
         |  SELECT quantile_cont(CAST(ratio_ppm AS DOUBLE), 0.80) AS top_cut,
         |         quantile_cont(CAST(ratio_ppm AS DOUBLE), 0.40) AS bot_cut
         |  FROM eng)
         |SELECT doc_id, ratio_ppm,
         |  CASE WHEN ratio_ppm >= top_cut THEN 'Tier A (Top 20%)'
         |       WHEN ratio_ppm < bot_cut THEN 'Tier C (Bottom 40%)'
         |       ELSE 'Tier B (Middle 40%)' END AS tier
         |FROM eng CROSS JOIN cuts
         |ORDER BY doc_id""".stripMargin,
    "p02_label" ->
      s"""SELECT doc_id,
         |  CAST(length(regexp_extract_all(text, '$EmojiClass')) AS BIGINT) AS emoji_count,
         |  CAST(length(text) AS BIGINT) AS text_length,
         |  CAST(round(CASE WHEN length(text) > 0
         |    THEN CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) / length(text)
         |    ELSE 0.0 END * 1000000, 0) AS BIGINT) AS freq_ppm,
         |  CASE
         |    WHEN length(regexp_extract_all(text, '$EmojiClass')) = 0 THEN 'none'
         |    WHEN CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) / length(text) <= 0.0005 THEN 'very low'
         |    WHEN CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) / length(text) <= 0.001 THEN 'low'
         |    WHEN CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) / length(text) <= 0.005 THEN 'medium'
         |    WHEN CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) / length(text) <= 0.01 THEN 'high'
         |    ELSE 'extreme' END AS emoji_usage,
         |  CASE WHEN length(text) >= 1501 THEN 'Between 1,500 and 3,000 characters long'
         |       WHEN length(text) >= 750 THEN 'Between 750 and 1,500 characters long'
         |       ELSE 'Up to 750 characters long' END AS max_length
         |FROM documents ORDER BY doc_id""".stripMargin)
}
