package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** p05: class balancing — per-(structure, emoji_usage, max_length) combo
  * down-sample to the population-average target, capped at 1000
  * (reference: 5-balance.py:144-148 avg_target, :153-185 per-combo
  * reservoir down-sample).
  *
  * The reference's reservoir sampling is randomized; per SURVEY §5 every
  * random choice is re-expressed as content hashing: a combo keeps the
  * `avg_target` rows with the smallest md5("bal#" + doc_id) — deterministic
  * on both engines. (The reference's pass-3 synonym up-sampling depends on
  * a wordnet augmenter and RNG — out of deterministic scope; down-sampling
  * to the cap is the balancing semantics preserved here.)
  *
  * Scale shape (100 TB): combo cardinality is tiny (9 x 6 x 3), so a naive
  * per-combo window is a parallelism ceiling; [[Sampling.hashRank]] ranks
  * within (combo, hash-prefix bucket) instead — 256x the parallelism with
  * identical output. The target scalar derives from a map-side-combinable
  * count aggregation and is broadcast.
  */
/** Deterministic stand-in for the reference's wordnet synonym augmenter
  * (5-balance.py:29 `naw.SynonymAug(aug_src='wordnet')`, applied at :211).
  *
  * The reference replaces a random subset of words with random wordnet
  * synonyms — both choices RNG-driven. Per SURVEY §5 every random choice is
  * re-expressed as content hashing: token `x` of augmentation slot `s` is
  * replaced iff the first hex char of md5(lower(x) + "#" + s) is ≤ '7'
  * (a 50% gate that varies per slot, so each copy of a source row is a
  * different variant, like each RNG draw is), and the replacement comes
  * from a fixed embedded synonym table rather than wordnet (wordnet is a
  * ~150k-entry external database; the embedded table is the declared
  * re-expression of it — SURVEY §5). Tokens are space-delimited; a token
  * carrying punctuation ("day,") has no table entry and passes through,
  * which also mirrors nlpaug's tokenizer-miss behavior closely enough for
  * a deterministic stand-in.
  *
  * The ONE table below generates both the Spark expression and the DuckDB
  * oracle expression, so the two engines share semantics by construction.
  */
object Synonyms {

  /** lowercase token -> replacement; single tokens only, ASCII only. */
  val pairs: Seq[(String, String)] = Seq(
    "big" -> "large", "small" -> "little", "happy" -> "glad",
    "great" -> "excellent", "good" -> "fine", "bad" -> "poor",
    "fast" -> "quick", "slow" -> "sluggish", "smart" -> "clever",
    "hard" -> "difficult", "easy" -> "simple", "new" -> "novel",
    "old" -> "aged", "begin" -> "start", "end" -> "finish",
    "help" -> "assist", "show" -> "display", "tell" -> "inform",
    "ask" -> "inquire", "get" -> "obtain", "make" -> "create",
    "use" -> "employ", "need" -> "require", "want" -> "desire",
    "think" -> "believe", "learn" -> "study", "build" -> "construct",
    "grow" -> "expand", "change" -> "alter", "keep" -> "retain",
    "find" -> "locate", "job" -> "role", "work" -> "labor",
    "team" -> "crew", "idea" -> "notion", "goal" -> "aim",
    "plan" -> "scheme", "story" -> "tale", "talk" -> "speak",
    "share" -> "divide", "today" -> "now", "important" -> "crucial",
    "amazing" -> "astonishing", "best" -> "finest", "better" -> "superior",
    "people" -> "folks", "company" -> "firm", "money" -> "funds",
    "success" -> "achievement", "leader" -> "chief", "growth" -> "increase",
    "simple" -> "plain", "strong" -> "sturdy", "proud" -> "pleased",
    "excited" -> "thrilled", "journey" -> "voyage", "future" -> "tomorrow",
    "problem" -> "issue", "question" -> "query", "answer" -> "reply")

  private def synCase(tok: String): String =
    s"CASE lower($tok) " +
      pairs.map { case (a, b) => s"WHEN '$a' THEN '$b'" }.mkString(" ") +
      s" ELSE $tok END"

  private def tokenCase(tok: String, slotCol: String): String =
    s"CASE WHEN substr(md5(concat(lower($tok), '#', CAST($slotCol AS STRING))), 1, 1) <= '7' " +
      s"THEN ${synCase(tok)} ELSE $tok END"

  /** Spark SQL form — the readable reference formulation. NOT the
    * production path: higher-order `transform` interprets the lambda
    * (md5 + a linear 60-branch CaseWhen) per token, which cost
    * p05_upsample a 72 s cold pass at sf0.1. The operator runs
    * [[graft.functions.NativeExpressions.SynonymAug]] (one codegen'd
    * byte-walk kernel, bit-identical — SynonymAugSpec differentials the
    * two); this form remains as the spec's bridge to [[duckAug]]. */
  def sparkAug(textCol: String, slotCol: String): String =
    s"array_join(transform(split($textCol, ' '), x -> ${tokenCase("x", slotCol)}), ' ')"

  /** DuckDB form of the SAME expression (list_transform / str_split /
    * array_to_string are DuckDB's spellings; STRING is a VARCHAR alias). */
  def duckAug(textCol: String, slotCol: String): String =
    s"array_to_string(list_transform(str_split($textCol, ' '), x -> ${tokenCase("x", slotCol)}), ' ')"
}

object Balance {

  private val comboCols = Seq("structure", "emoji_usage", "max_length")

  private def prepared(spark: SparkSession, sfDir: String) = {
    val t = col("text")
    // tokenizer/emoji kernels staged as attributes so the label `when`
    // chains evaluate each once per row (not once per branch)
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), t, tokens(t).as("__toks"),
        emojiCount(t).cast("long").as("__ne"))
      .select(
      col("doc_id"),
      Annotations.structureColOf(col("__toks")).as("structure"),
      emojiUsageOf(col("__ne"), length(t)).as("emoji_usage"),
      lengthBucket(t).as("max_length"))
    val bucketed = Sampling.withBuckets(base,
      md5(concat(lit("bal#"), col("doc_id").cast("string"))))
    val counts = Sampling.bucketCounts(bucketed, comboCols)
    // avg_target = max(1, min(1000, total // n_combos)) — 5-balance.py:145-148.
    // Derived from the tiny bucket-count table, not a second scan of base.
    val target = counts
      .agg(expr("CAST(greatest(1, least(1000, sum(__cnt) div " +
        s"count(DISTINCT ${comboCols.mkString(", ")}))) AS LONG)")
        .as("__avg_target"))
    val ranked = Sampling.rankFromCounts(bucketed, counts, comboCols,
      col("doc_id"), "__rn")
    (counts, target, ranked)
  }

  def p05Balance(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, target, ranked) = prepared(spark, sfDir)
    ranked.crossJoin(broadcast(target))
      .filter(col("__rn") <= col("__avg_target"))
      .select(col("doc_id"), col("structure"), col("emoji_usage"), col("max_length"))
      .orderBy(col("doc_id"))
  }

  /** p05_upsample: the reference's pass-3 up-sampling (5-balance.py's
    * augment-to-target for under-populated combos) with the RNG+wordnet
    * synonym augmenter re-expressed deterministically: a combo with
    * `total < avg_target` receives `need = avg_target − total` augmented
    * copies, slot s (0-based, s < need) copying the combo's row ranked
    * (s mod total) + 1 in hash order — round-robin, so copies spread
    * evenly over source rows — and `aug_text` is the source text run
    * through the [[Synonyms]] augmenter keyed by the slot, so each copy
    * is a distinct deterministic variant (5-balance.py:206-212).
    *
    * Scale shape: identical to p05_balance plus one broadcast of the tiny
    * combo-total table; the slotted survivor set (≤ combos × avg_target
    * rows) is broadcast back onto the documents scan to fetch text, so the
    * big table is never shuffled and text never rides through the rank
    * shuffle; the explode + per-token augmentation run map-side on the
    * already-small result. */
  def p05Upsample(spark: SparkSession, sfDir: String): DataFrame = {
    val (counts, target, ranked) = prepared(spark, sfDir)
    val totals = counts.groupBy(comboCols.map(col): _*)
      .agg(sum(col("__cnt")).as("__total"))
    // slotted is bounded by |combos| × avg_target ≤ ~18k rows — but the
    // bound is an operator argument, not a law, so it is checkpointed
    // (consumed once; same total work) and its broadcast size-gated
    // like every other derived-frame hint.
    val slotted = Sampling.materialize(
      ranked.join(broadcast(totals), comboCols)
        .crossJoin(broadcast(target))
        .withColumn("__need", greatest(col("__avg_target") - col("__total"), lit(0L)))
        .filter(col("__rn") - 1 < col("__need")))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .join(Sampling.gatedBroadcast(slotted), "doc_id")
      .withColumn("aug_slot",
        explode(sequence(col("__rn") - 1, col("__need") - 1, col("__total"))))
      .select(col("doc_id"), col("structure"), col("emoji_usage"),
        col("max_length"), col("aug_slot"),
        concat(lit("aug#"), col("aug_slot")).as("aug_tag"),
        graft.functions.NativeExpressions
          .synonymAug(col("text"), col("aug_slot"), Synonyms.pairs).as("aug_text"))
      .orderBy(col("structure"), col("emoji_usage"), col("max_length"),
        col("aug_slot"), col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p05_balance"  -> (p05Balance _),
    "p05_upsample" -> (p05Upsample _))

  val oracle: Map[String, String] = Map(
    "p05_balance" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    ${Annotations.structureSql} AS structure,
         |    ${DocPipeline.emojiUsageSql} AS emoji_usage,
         |    ${DocPipeline.lengthBucketSql} AS max_length
         |  FROM documents),
         |tgt AS (
         |  SELECT GREATEST(1, LEAST(1000, COUNT(*) // COUNT(DISTINCT (structure, emoji_usage, max_length)))) AS avg_target
         |  FROM f),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY structure, emoji_usage, max_length
         |    ORDER BY md5(concat('bal#', CAST(doc_id AS VARCHAR))), doc_id) AS rn
         |  FROM f)
         |SELECT doc_id, structure, emoji_usage, max_length
         |FROM r CROSS JOIN tgt WHERE rn <= avg_target
         |ORDER BY doc_id""".stripMargin,
    "p05_upsample" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    ${Annotations.structureSql} AS structure,
         |    ${DocPipeline.emojiUsageSql} AS emoji_usage,
         |    ${DocPipeline.lengthBucketSql} AS max_length
         |  FROM documents),
         |tgt AS (
         |  SELECT GREATEST(1, LEAST(1000, COUNT(*) // COUNT(DISTINCT (structure, emoji_usage, max_length)))) AS avg_target
         |  FROM f),
         |tot AS (
         |  SELECT structure, emoji_usage, max_length, CAST(count(*) AS BIGINT) AS total
         |  FROM f GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY structure, emoji_usage, max_length
         |    ORDER BY md5(concat('bal#', CAST(doc_id AS VARCHAR))), doc_id) AS rn
         |  FROM f),
         |j AS (
         |  SELECT r.doc_id, r.text, r.structure, r.emoji_usage, r.max_length, r.rn,
         |    tot.total, GREATEST(tgt.avg_target - tot.total, 0) AS need
         |  FROM r JOIN tot USING (structure, emoji_usage, max_length)
         |  CROSS JOIN tgt)
         |SELECT doc_id, structure, emoji_usage, max_length,
         |  CAST(aug_slot AS BIGINT) AS aug_slot,
         |  concat('aug#', CAST(aug_slot AS VARCHAR)) AS aug_tag,
         |  ${Synonyms.duckAug("text", "aug_slot")} AS aug_text
         |FROM (SELECT *, unnest(range(rn - 1, need, total)) AS aug_slot
         |      FROM j WHERE rn - 1 < need)
         |ORDER BY structure, emoji_usage, max_length, aug_slot, doc_id""".stripMargin)
}
