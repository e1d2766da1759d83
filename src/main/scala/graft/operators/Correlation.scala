package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** p20: numeric feature ↔ engagement Pearson correlations (reference:
  * 20-permutation-and-correlation.py:384-400 calculate_feature_correlations;
  * feature set from :159-241 extract_features — the deterministic numeric
  * subset; the RF-importance half is model training, out of query scope
  * per SURVEY §1.8).
  *
  * Scale shape (100 TB): one full-scan aggregation. Pearson's co-moments
  * are computed by Spark's native `corr` (map-side partial aggregation,
  * one reduce of 8 tiny states — no shuffle of row data). Output is 8
  * rows. Correlations are rounded to ppm so engine-order float drift
  * cannot flip the hash.
  */
object Correlation {

  /** The 8 deterministic numeric features of the reference's
    * extract_features — shared by p20_correlation and p20_importance. */
  private val Feats = Seq("text_length", "word_count", "avg_word_len",
    "line_breaks", "emoji_count", "hashtag_count", "vocab_distinct",
    "n_sentences")

  /** (doc_id, 8 features, y) — ONE definition of the p20 feature frame;
    * Catalyst prunes doc_id where a consumer drops it. */
  private def featureFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    // tokenizer staged as an attribute: the avg_word_len branch chain
    // references the token array 3× and conditional branches defeat
    // codegen subexpression elimination (one kernel pass, not 3)
    val toks = col("__toks")
    val sumTokLen = aggregate(transform(toks, x => length(x)), lit(0), (a, v) => a + v)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), t, tokens(t).as("__toks"))
      .select(
      col("doc_id"),
      length(t).cast("double").as("text_length"),
      size(toks).cast("double").as("word_count"),
      // divisor clamped: subexpression elimination can hoist the division
      // out of the CASE branch, so a bare size() trips ANSI div-by-zero
      when(size(toks) === 0, 0.0)
        .otherwise(sumTokLen.cast("double") / greatest(size(toks), lit(1)))
        .as("avg_word_len"),
      lineBreakCount(t).cast("double").as("line_breaks"),
      emojiCount(t).cast("double").as("emoji_count"),
      hashtagCount(t).cast("double").as("hashtag_count"),
      size(array_distinct(toks)).cast("double").as("vocab_distinct"),
      sentenceCount(t).cast("double").as("n_sentences"),
      DocPipeline.engagementPpm.cast("double").as("y"))
  }

  def p20Correlation(spark: SparkSession, sfDir: String): DataFrame = {
    val f = featureFrame(spark, sfDir).drop("doc_id")
    val feats = Feats
    // not functions.corr: its Pearson evaluation divides by the raw
    // variance product, which under ANSI mode throws DIVIDE_BY_ZERO for a
    // zero-variance feature; try_divide yields NULL — exactly what DuckDB's
    // corr() returns (and the identical value otherwise: the n/(n-1)
    // factors cancel between covar_samp and stddev_samp).
    def corrOf(n: String) =
      expr(s"try_divide(covar_samp($n, y), stddev_samp($n) * stddev_samp(y))")
        .as(s"c_$n")
    val aggd = f.agg(corrOf(feats.head), feats.tail.map(corrOf): _*)
    val stackArgs = feats.map(n => s"'$n', c_$n").mkString(", ")
    aggd
      .selectExpr(s"stack(${feats.length}, $stackArgs) AS (feature, c)")
      .select(col("feature"),
        round(col("c") * 1000000, 0).cast("long").as("corr_ppm"))
      .orderBy(col("feature"))
  }

  /** p20_importance: deterministic model-free permutation importance —
    * the query part of the reference's RF + permutation_importance
    * ranking (20-permutation-and-correlation.py:324-375; the model fit
    * itself is declared out of scope in §1.8). Instead of refitting a
    * model per permuted column, each feature's Pearson correlation with
    * engagement is recomputed against a HASH-permuted target: rows are
    * ranked once by (md5(doc_id), doc_id) — the house md5 rank — and
    * each row's features pair with the y of its md5-PREDECESSOR (the
    * shifted rank __r2 = __r % N + 1 joined on __r === __r2 hands rank
    * r the y of rank r−1 — a single-cycle derangement; the md5 neighbor
    * is a content-unrelated document, so this is one shared
    * deterministic permutation for every feature, mirrored exactly by
    * the oracle's row_number form), and importance = |corr| − |corr_permuted| in
    * ppm. Under a permutation the correlation collapses toward 0, so
    * the degradation ranks features the way permutation importance
    * ranks them for a univariate-effects model.
    *
    * Scale shape: ONE [[Sampling.globalRank]] pass over a narrow
    * (id, features, y) projection (range-partitioned two-phase rank —
    * no corpus through one window task; the first formulation ranked
    * TWICE, by doc order and md5 order, and joined the two — same
    * statistics, double the rank machinery), the row count as a one-row
    * broadcast, one shuffle join on the shifted rank (the permutation's
    * data movement, irreducible), one 16-state grouping-less corr
    * aggregate; the final rank window runs over 8 rows. */
  def p20Importance(spark: SparkSession, sfDir: String): DataFrame = {
    val f = featureFrame(spark, sfDir)
    // checkpoint: ranked feeds three branches (itself, the count, the
    // shift); without it each branch re-runs the rank window over the
    // internally-checkpointed range partitions (11-shuffle plan vs 2)
    val ranked = Sampling.materialize(Sampling.globalRank(
        f.withColumn("__h", md5(col("doc_id").cast("string"))),
        Seq(col("__h")), col("doc_id"), "__r")
      .drop("__h"))
    val tot = ranked.agg(max(col("__r")).as("__n"))
    val shifted = ranked.crossJoin(broadcast(tot))
      .select((pmod(col("__r"), col("__n")) + 1).as("__r2"),
        col("y").as("y_perm"))
    val j = ranked.join(shifted, col("__r") === col("__r2"))
    def corrOf(n: String, yc: String, out: String) =
      expr(s"try_divide(covar_samp($n, $yc), stddev_samp($n) * stddev_samp($yc))")
        .as(out)
    val aggCols = Feats.flatMap(n =>
      Seq(corrOf(n, "y", s"c_$n"), corrOf(n, "y_perm", s"p_$n")))
    val aggd = j.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = Feats.map(n => s"'$n', c_$n, p_$n").mkString(", ")
    aggd
      .selectExpr(s"stack(${Feats.length}, $stackArgs) AS (feature, c, p)")
      .select(col("feature"),
        round(col("c") * 1000000, 0).cast("long").as("corr_ppm"),
        round(col("p") * 1000000, 0).cast("long").as("perm_corr_ppm"))
      .withColumn("importance_ppm",
        abs(col("corr_ppm")) - abs(col("perm_corr_ppm")))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("importance_ppm").desc, col("feature"))).cast("long"))
      .orderBy(col("feature"))
  }

  /** The categorical half of the reference's correlation stage
    * (20-permutation-and-correlation.py:243-312 one-hot encoding →
    * per-category point-biserial Pearson vs engagement). Categories come
    * from the FIXED label taxonomies (not data-driven fit like sklearn's
    * OneHotEncoder — same resulting columns on this pipeline's own
    * labels, but deterministic and scan-free). Zero-variance categories
    * (absent from the corpus) yield NULL on both engines. Same one-pass
    * aggregation shape as p20_correlation: ~20 tiny corr states, no row
    * shuffle. */
  /** Category lists shared with the oracle SQL. */
  private val structCats = Annotations.StructureLabels :+ "unknown"
  private val usageCats = Seq("none", "very low", "low", "medium", "high", "extreme")
  private val paceCats = Seq("fast", "medium", "slow")

  def p20Onehot(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("text")
    val base = Tables.documents(spark, sfDir)
      // tokenizer + emoji kernel staged (their when-chains re-evaluate
      // non-attribute inputs per branch: 6 token + 6 emoji passes)
      .select(col("doc_id"), t, tokens(t).as("__toks"),
        emojiCount(t).cast("long").as("__ne"))
      .select(
        Annotations.structureColOf(col("__toks")).as("structure"),
        emojiUsageOf(col("__ne"), length(t)).as("emoji_usage"),
        tokenCount(t).cast("long").as("__nt"),
        sentenceCount(t).cast("long").as("__ns"),
        DocPipeline.engagementPpm.cast("double").as("y"))
      .withColumn("pacing", expr(
        """CASE WHEN __nt div greatest(__ns, 1L) < 8 THEN 'fast'
          |     WHEN __nt div greatest(__ns, 1L) < 15 THEN 'medium'
          |     ELSE 'slow' END""".stripMargin))
    val cats: Seq[(String, String)] = // (output name, source column === value)
      structCats.map(c => (s"structure=$c", "structure")) ++
        usageCats.map(c => (s"emoji_usage=$c", "emoji_usage")) ++
        paceCats.map(c => (s"pacing=$c", "pacing"))
    val withInd = cats.zipWithIndex.foldLeft(base) { case (df, ((name, src), i)) =>
      val value = name.substring(name.indexOf('=') + 1)
      df.withColumn(s"__i_$i", when(col(src) === value, 1.0).otherwise(0.0))
    }
    val aggCols = cats.zipWithIndex.map { case (_, i) =>
      expr(s"try_divide(covar_samp(__i_$i, y), stddev_samp(__i_$i) * stddev_samp(y))")
        .as(s"c_$i")
    }
    val aggd = withInd.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = cats.zipWithIndex
      .map { case ((name, _), i) => s"'${name.replace("'", "''")}', c_$i" }
      .mkString(", ")
    aggd
      .selectExpr(s"stack(${cats.length}, $stackArgs) AS (feature, c)")
      .select(col("feature"),
        round(col("c") * 1000000, 0).cast("long").as("corr_ppm"))
      .orderBy(col("feature"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p20_correlation" -> (p20Correlation _),
    "p20_importance"  -> (p20Importance _),
    "p20_onehot"      -> (p20Onehot _))

  private val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"

  /** The [[featureFrame]] mirror — ONE `f` CTE shared by the
    * p20_correlation and p20_importance oracles. */
  private def featCteSql: String =
    s"""f AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS text_length,
       |    CAST(len($toksSql) AS DOUBLE) AS word_count,
       |    CASE WHEN len($toksSql) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform($toksSql, x -> length(x))) AS DOUBLE) / len($toksSql)
       |      END AS avg_word_len,
       |    CAST(length(text) - length(replace(text, chr(10), '')) AS DOUBLE) AS line_breaks,
       |    CAST(length(regexp_extract_all(text, '$EmojiClass')) AS DOUBLE) AS emoji_count,
       |    CAST(length(regexp_extract_all(text, '#\\w+')) AS DOUBLE) AS hashtag_count,
       |    CAST(length(list_distinct($toksSql)) AS DOUBLE) AS vocab_distinct,
       |    CAST(length(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> trim(s) != '')) AS DOUBLE) AS n_sentences,
       |    CAST(${DocPipeline.engagementPpmSql} AS DOUBLE) AS y
       |  FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "p20_correlation" -> {
      val unions = Feats.map(n =>
        s"SELECT '$n' AS feature, CAST(round(c_$n * 1000000, 0) AS BIGINT) AS corr_ppm FROM c")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $featCteSql,
         |c AS (
         |  SELECT ${Feats.map(n => s"corr($n, y) AS c_$n").mkString(", ")} FROM f)
         |SELECT feature, corr_ppm FROM (
         |  $unions)
         |ORDER BY feature""".stripMargin
    },
    "p20_importance" -> {
      val corrCols = Feats.map(n => s"corr($n, y) AS c_$n, corr($n, y_perm) AS p_$n")
        .mkString(",\n    ")
      val unions = Feats.map(n =>
        s"""SELECT '$n' AS feature,
           |    CAST(round(c_$n * 1000000, 0) AS BIGINT) AS corr_ppm,
           |    CAST(round(p_$n * 1000000, 0) AS BIGINT) AS perm_corr_ppm FROM c""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $featCteSql,
         |a AS (SELECT f.*,
         |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
         |  FROM f),
         |n AS (SELECT max(r) AS c FROM a),
         |b AS (SELECT y AS y_perm, r % c + 1 AS r2 FROM a, n),
         |j AS (SELECT a.*, b.y_perm FROM a JOIN b ON b.r2 = a.r),
         |c AS (
         |  SELECT $corrCols FROM j),
         |u AS (
         |  $unions),
         |w AS (SELECT feature, corr_ppm, perm_corr_ppm,
         |    abs(corr_ppm) - abs(perm_corr_ppm) AS importance_ppm FROM u)
         |SELECT feature, corr_ppm, perm_corr_ppm, importance_ppm,
         |  CAST(row_number() OVER (ORDER BY importance_ppm DESC, feature) AS BIGINT) AS rank
         |FROM w ORDER BY feature""".stripMargin
    },
    "p20_onehot" -> {
      val sentSql =
        "length(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> trim(s) != ''))"
      val cats: Seq[(String, String)] =
        (Annotations.StructureLabels :+ "unknown").map(c => (s"structure=$c", s"structure = '$c'")) ++
          Seq("none", "very low", "low", "medium", "high", "extreme")
            .map(c => (s"emoji_usage=$c", s"emoji_usage = '$c'")) ++
          Seq("fast", "medium", "slow").map(c => (s"pacing=$c", s"pacing = '$c'"))
      val indCols = cats.zipWithIndex.map { case ((_, cond), i) =>
        s"CASE WHEN $cond THEN 1.0 ELSE 0.0 END AS i_$i"
      }.mkString(",\n    ")
      val corrCols = cats.indices.map(i => s"corr(i_$i, y) AS c_$i").mkString(", ")
      val unions = cats.zipWithIndex.map { case ((name, _), i) =>
        s"SELECT '$name' AS feature, CAST(round(c_$i * 1000000, 0) AS BIGINT) AS corr_ppm FROM c"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH f0 AS (
         |  SELECT
         |    ${Annotations.structureSql} AS structure,
         |    ${DocPipeline.emojiUsageSql} AS emoji_usage,
         |    CASE WHEN len($toksSql) // GREATEST($sentSql, 1) < 8 THEN 'fast'
         |         WHEN len($toksSql) // GREATEST($sentSql, 1) < 15 THEN 'medium'
         |         ELSE 'slow' END AS pacing,
         |    CAST(${DocPipeline.engagementPpmSql} AS DOUBLE) AS y
         |  FROM documents),
         |f AS (
         |  SELECT y,
         |    $indCols
         |  FROM f0),
         |c AS (SELECT $corrCols FROM f)
         |SELECT feature, corr_ppm FROM (
         |  $unions)
         |ORDER BY feature""".stripMargin
    })
}
