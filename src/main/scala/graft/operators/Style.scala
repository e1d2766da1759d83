package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Writing-style feature extraction (p17, reference 17-writing-style.py +
  * features/text_stats.py:7-31, features/bullets.py, features/dividers.py)
  * and prompt assembly (p18, reference 18-generate-prompts.py).
  *
  * Map-only single-pass projections; every ratio is integer-exact and the
  * regex line classifiers are anchored identically in both engines (no
  * backreferences — RE2-safe).
  */
object Style {

  private val t = col("text")

  // Profanity lexicon (features/profanity.py:7-32 — the two multi-word
  // keys are unreachable in the reference's single-token lookup and are
  // dropped here too).
  private val ProfHeavy = Seq("clusterfuck", "fuck", "fucker", "fuckin",
    "fucking", "goddamn", "motherfucker")
  private val ProfModerate = Seq("apeshit", "bastard", "bullshit", "bitch",
    "damn", "damnit", "horseshit", "shit")
  private val ProfLight = Seq("arsehole", "ass", "asshole", "bollocks",
    "hell", "piss", "pissed")

  /** Max-severity category over a PRE-COMPUTED first-1000-lowercased-
    * token slice (features/profanity.py:34-40) — staged so the
    * tokenizer runs once, not once per `when` branch. */
  private def profanityColOf(toks1k: Column): Column = {
    def has(set: Seq[String]) = arrays_overlap(toks1k, array(set.map(lit): _*))
    when(has(ProfHeavy), "heavy")
      .when(has(ProfModerate), "moderate")
      .when(has(ProfLight), "light")
      .otherwise("none")
  }

  /** p17: style features. Every line/token/sentence statistic comes from
    * the one-pass stats kernel (the HOF line classifiers measured 22 s at
    * the 20×-density stress; the kernel form is value-identical —
    * RewardStatsSpec — and single-scan). `line_breaks` is n_lines − 1
    * exactly: splitting on \n yields one more part than there are
    * newlines. */
  def p17Style(spark: SparkSession, sfDir: String): DataFrame = {
    // stage the stats kernel and the profanity token slice as named
    // columns: 21 raw getField references re-embedded the kernel into
    // every output column (21 kernel passes per row — 78 s at the 100×
    // corpus); from attributes the extractions are free
    val st = col("__st")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), t,
        graft.functions.NativeExpressions.rewardStats(t).as("__st"),
        slice(tokens(lower(t)), 1, 1000).as("__toks1k"))
      .select(col("doc_id"),
        st.getField("tok_distinct").cast("long").as("vocab_distinct"),
        st.getField("sent_n").cast("long").as("n_sentences"),
        st.getField("tok_total").cast("long").as("n_tokens"),
        (st.getField("n_lines") - 1).cast("long").as("line_breaks"),
        st.getField("n_lines").cast("long").as("n_lines"),
        st.getField("n_empty").cast("long").as("n_empty"),
        st.getField("n_period").as("n_period"),
        st.getField("n_comma").as("n_comma"),
        st.getField("n_semicolon").as("n_semicolon"),
        st.getField("n_exclaim").as("n_exclaim"),
        st.getField("n_question").as("n_question"),
        st.getField("n_num").cast("long").as("n_num"),
        st.getField("n_let_plus").cast("long").as("n_let"),
        st.getField("n_sym").cast("long").as("n_sym"),
        st.getField("div_dash").cast("long").as("d1"),
        st.getField("div_eq").cast("long").as("d2"),
        st.getField("div_star").cast("long").as("d3"),
        st.getField("div_tilde").cast("long").as("d4"),
        profanityColOf(col("__toks1k")).as("profanity"),
        // 17-writing-style.py:314-324 average-sentiment arc (lexicon
        // scores — integer cross-multiplication for the ±0.2 thresholds)
        // and :274-284 flow via keyword-overlap transitions.
        st.getField("sent_n").cast("long").as("__sn"),
        st.getField("score_sum").as("__ss"),
        st.getField("flow_transitions").cast("long").as("__ft"))
      .selectExpr(
        "doc_id", "vocab_distinct", "n_sentences",
        "n_tokens * 1000000L div greatest(n_sentences, 1L) AS avg_sent_len_ppm",
        "line_breaks",
        "CASE WHEN n_lines > 1 THEN n_empty * 1000000L div (n_lines - 1) ELSE 0L END AS empty_line_ppm",
        "n_period", "n_comma", "n_semicolon", "n_exclaim", "n_question",
        """CASE WHEN (CASE WHEN n_num > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_let > 0 THEN 1 ELSE 0 END)
          |       + (CASE WHEN n_sym > 0 THEN 1 ELSE 0 END) > 1 THEN 'Mixed Bullet Styles'
          |     WHEN n_num > 0 THEN 'Numbered'
          |     WHEN n_let > 0 THEN 'Lettered'
          |     WHEN n_sym > 0 THEN 'Symbolic'
          |     ELSE 'None' END AS bullet_style""".stripMargin,
        """CASE WHEN d1 = 0 AND d2 = 0 AND d3 = 0 AND d4 = 0 THEN 'None'
          |     WHEN d1 >= d2 AND d1 >= d3 AND d1 >= d4 THEN '-'
          |     WHEN d2 >= d3 AND d2 >= d4 THEN '='
          |     WHEN d3 >= d4 THEN '*'
          |     ELSE '~' END AS divider_style""".stripMargin,
        """CASE WHEN n_tokens div greatest(n_sentences, 1L) < 8 THEN 'fast'
          |     WHEN n_tokens div greatest(n_sentences, 1L) < 15 THEN 'medium'
          |     ELSE 'slow' END AS pacing""".stripMargin,
        "profanity",
        // avg lexicon score vs ±0.2 by integer cross-multiplication:
        // sum/n > 0.2  ⟺  5·sum > n (n > 0 inside the branch)
        """CASE WHEN __sn < 3 THEN 'Short/Not Enough Data for Arc'
          |     WHEN __ss * 5 > __sn THEN 'Positive'
          |     WHEN __ss * 5 < -__sn THEN 'Negative'
          |     ELSE 'Neutral' END AS sentiment_arc""".stripMargin,
        """CASE WHEN __sn < 3 THEN 'Short/Not Enough Data'
          |     WHEN __ft <= 1 THEN 'Smooth'
          |     WHEN __ft <= 3 THEN 'Moderate'
          |     ELSE 'Choppy' END AS flow""".stripMargin)
      .transform(Sampling.presentSorted(_, col("doc_id")))
  }

  /** Generation-prompt template over already-computed annotation columns
    * (lets p22 materialize structure/topic/tone once below its explode
    * instead of re-evaluating the md5/token pipelines per family). */
  private[operators] def genPromptFrom(
      structure: Column, topic: Column, tone: Column, text: Column,
      usage: Column): Column =
    concat(
      lit("Write a "), structure,
      lit(" social media post about \""), topic,
      lit("\" in a "), tone,
      lit(" tone.\n**Length**: "), lengthBucket(text),
      lit("\n**Emoji Usage**: "), usage)

  /** The staged (doc_id, text, prompt) frame behind p18 and
    * rw_prompt_parse: tokenizer and emoji kernels materialize once as
    * attributes before the structure/usage `when` chains consume them
    * (the unstaged column form re-evaluated them per branch — 6 token +
    * 5 emoji passes per row). */
  private[operators] def promptFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), t, tokens(t).as("__toks"),
        emojiCount(t).cast("long").as("__ne"))
      .select(col("doc_id"), t,
        genPromptFrom(Annotations.structureColOf(col("__toks")),
          Annotations.topicCol, Annotations.toneCol, t,
          emojiUsageOf(col("__ne"), length(t))).as("prompt"))

  /** p18: generation-prompt assembly from extracted features
    * (18-generate-prompts.py template semantics over this engine's
    * deterministic feature set). */
  def p18Prompts(spark: SparkSession, sfDir: String): DataFrame =
    promptFrame(spark, sfDir)
      .select(col("doc_id"), col("prompt"))
      .transform(Sampling.presentSorted(_, col("doc_id")))

  /** p17_phrases: per-author distinctive phrases (reference:
    * features/phrases.py:22 — per-author n-gram counts vs corpus, the one
    * style feature that is genuinely distributed: it aggregates across
    * the author's whole corpus instead of within a row). `source` is the
    * author axis of the synthetic schema.
    *
    * Scale shape: one shuffle on (source, phrase) with map-side combine;
    * corpus totals derive from the author counts by a second tiny
    * aggregation on phrase (no rescan); the top-5-per-author window runs
    * over the distinctive subset only, partitioned by author (authors
    * scale with the corpus — no parallelism ceiling). */
  def p17Phrases(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NativeExpressions.wordShingles
    val posting = Tables.documents(spark, sfDir)
      .select(col("source"), explode(wordShingles(t, 2)).as("phrase"))
    val bySrc = posting.groupBy(col("source"), col("phrase"))
      .agg(count(lit(1)).as("cnt_a"))
    val corpus = bySrc.groupBy(col("phrase"))
      .agg(sum(col("cnt_a")).as("cnt_c"))
    val distinctive = bySrc.join(corpus, "phrase")
      .withColumn("ratio_ppm", expr("cnt_a * 1000000L div cnt_c"))
      .filter(col("cnt_a") >= 2 && col("ratio_ppm") >= 200000)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("ratio_ppm").desc, col("cnt_a").desc, col("phrase"))
    distinctive
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("phrase"), col("cnt_a"), col("cnt_c"),
        col("ratio_ppm"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** Stopwords longer than 3 chars (the reference's nltk list is an
    * external corpus; this deterministic stand-in covers the len>3
    * survivors the `len(w) > 3` filter doesn't already drop). */
  private val UncommonStop = Seq(
    "that", "this", "with", "from", "have", "they", "will", "your",
    "what", "when", "which", "their", "there", "been", "were", "them")

  /** p17_uncommon_words: per-author uncommon-but-regular words
    * (17-writing-style.py:625-654 get_uncommon_regular_words,
    * re-expressed distributed + deterministic: the reference's
    * sample/truncate performance hacks become the full corpus scan, and
    * its arbitrary set-order [:15] becomes an explicit (count desc, word)
    * top-15). Same scale shape as p17_phrases: one shuffle on
    * (source, word) with map-side combine, window over authors only. */
  def p17UncommonWords(spark: SparkSession, sfDir: String): DataFrame = {
    val byWord = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(regexp_extract_all(lower(t), lit("\\w+"), lit(0))).as("word"))
      .filter(length(col("word")) > 3 && !col("word").isin(UncommonStop: _*))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2 && col("cnt") < 1000)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("word"))
    byWord
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 15)
      .orderBy(col("source"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p17_style"   -> (p17Style _),
    "p17_phrases" -> (p17Phrases _),
    "p17_uncommon_words" -> (p17UncommonWords _),
    "p18_prompts" -> (p18Prompts _))

  // ---- DuckDB oracle ----

  private val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"
  private val linesSql = "regexp_split_to_array(text, '\\n')"
  private val sentSql =
    "length(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> trim(s) != ''))"

  private def countLinesSql(re: String): String =
    s"length(list_filter($linesSql, l -> regexp_matches(l, '$re')))"

  private def dividerCountSql(re: String): String =
    s"length(list_filter($linesSql, l -> regexp_matches(trim(l), '$re')))"

  private def profListSql(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private def charCountSql(ch: String): String = {
    val esc = if (ch == "'") "''" else ch
    s"(length(text) - length(replace(text, '$esc', '')))"
  }

  /** DuckDB mirror of [[genPromptCol]] (shared with Datasets' p22). */
  private[operators] val genPromptSql: String =
    s"""concat('Write a ', ${Annotations.structureSql},
       |    ' social media post about "', ${Annotations.topicSql},
       |    '" in a ', ${Annotations.toneInlineSql},
       |    ' tone.', chr(10), '**Length**: ', ${DocPipeline.lengthBucketSql},
       |    chr(10), '**Emoji Usage**: ', ${DocPipeline.emojiUsageSql})""".stripMargin

  val oracle: Map[String, String] = Map(
    "p17_style" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(length(list_distinct($toksSql)) AS BIGINT) AS vocab_distinct,
         |    CAST($sentSql AS BIGINT) AS n_sentences,
         |    CAST(length($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(replace(text, chr(10), '')) AS BIGINT) AS line_breaks,
         |    CAST(length($linesSql) AS BIGINT) AS n_lines,
         |    CAST(length(list_filter($linesSql, l -> length(l) = 0)) AS BIGINT) AS n_empty,
         |    CAST(${charCountSql(".")} AS BIGINT) AS n_period,
         |    CAST(${charCountSql(",")} AS BIGINT) AS n_comma,
         |    CAST(${charCountSql(";")} AS BIGINT) AS n_semicolon,
         |    CAST(${charCountSql("!")} AS BIGINT) AS n_exclaim,
         |    CAST(${charCountSql("?")} AS BIGINT) AS n_question,
         |    CAST(${countLinesSql("^\\s*[0-9]+[.)]\\s+")} AS BIGINT) AS n_num,
         |    CAST(${countLinesSql("^\\s*[A-Za-z]+[.)]\\s+")} AS BIGINT) AS n_let,
         |    CAST(${countLinesSql("^\\s*[^A-Za-z0-9_\\s]")} AS BIGINT) AS n_sym,
         |    CAST(${dividerCountSql("^-{3,}$")} AS BIGINT) AS d1,
         |    CAST(${dividerCountSql("^={3,}$")} AS BIGINT) AS d2,
         |    CAST(${dividerCountSql("^\\*{3,}$")} AS BIGINT) AS d3,
         |    CAST(${dividerCountSql("^~{3,}$")} AS BIGINT) AS d4,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')[1:1000] AS ptoks,
         |    ${Rewards.sentsSql} AS sents,
         |    ${Rewards.scoresSql} AS scores
         |  FROM documents)
         |SELECT doc_id, vocab_distinct, n_sentences,
         |  n_tokens * 1000000 // GREATEST(n_sentences, 1) AS avg_sent_len_ppm,
         |  line_breaks,
         |  CASE WHEN n_lines > 1 THEN n_empty * 1000000 // (n_lines - 1) ELSE 0 END AS empty_line_ppm,
         |  n_period, n_comma, n_semicolon, n_exclaim, n_question,
         |  CASE WHEN (CASE WHEN n_num > 0 THEN 1 ELSE 0 END) + (CASE WHEN n_let > 0 THEN 1 ELSE 0 END)
         |         + (CASE WHEN n_sym > 0 THEN 1 ELSE 0 END) > 1 THEN 'Mixed Bullet Styles'
         |       WHEN n_num > 0 THEN 'Numbered'
         |       WHEN n_let > 0 THEN 'Lettered'
         |       WHEN n_sym > 0 THEN 'Symbolic'
         |       ELSE 'None' END AS bullet_style,
         |  CASE WHEN d1 = 0 AND d2 = 0 AND d3 = 0 AND d4 = 0 THEN 'None'
         |       WHEN d1 >= d2 AND d1 >= d3 AND d1 >= d4 THEN '-'
         |       WHEN d2 >= d3 AND d2 >= d4 THEN '='
         |       WHEN d3 >= d4 THEN '*'
         |       ELSE '~' END AS divider_style,
         |  CASE WHEN n_tokens // GREATEST(n_sentences, 1) < 8 THEN 'fast'
         |       WHEN n_tokens // GREATEST(n_sentences, 1) < 15 THEN 'medium'
         |       ELSE 'slow' END AS pacing,
         |  CASE WHEN list_has_any(ptoks, ${profListSql(ProfHeavy)}) THEN 'heavy'
         |       WHEN list_has_any(ptoks, ${profListSql(ProfModerate)}) THEN 'moderate'
         |       WHEN list_has_any(ptoks, ${profListSql(ProfLight)}) THEN 'light'
         |       ELSE 'none' END AS profanity,
         |  CASE WHEN len(scores) < 3 THEN 'Short/Not Enough Data for Arc'
         |       WHEN list_sum(scores) * 5 > len(scores) THEN 'Positive'
         |       WHEN list_sum(scores) * 5 < -len(scores) THEN 'Negative'
         |       ELSE 'Neutral' END AS sentiment_arc,
         |  CASE WHEN len(sents) < 3 THEN 'Short/Not Enough Data'
         |       WHEN ${Rewards.flowTransitionsSql} <= 1 THEN 'Smooth'
         |       WHEN ${Rewards.flowTransitionsSql} <= 3 THEN 'Moderate'
         |       ELSE 'Choppy' END AS flow
         |FROM f ORDER BY doc_id""".stripMargin,
    "p17_phrases" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |s AS (SELECT source, ${graft.functions.TextFunctions.shinglesSql("toks", 2)} AS sh FROM t),
         |posting AS (SELECT source, unnest(sh) AS phrase FROM s),
         |a AS (SELECT source, phrase, CAST(count(*) AS BIGINT) AS cnt_a FROM posting GROUP BY 1, 2),
         |c AS (SELECT phrase, CAST(sum(cnt_a) AS BIGINT) AS cnt_c FROM a GROUP BY 1),
         |d AS (SELECT source, a.phrase, cnt_a, cnt_c,
         |    cnt_a * 1000000 // cnt_c AS ratio_ppm
         |  FROM a JOIN c ON a.phrase = c.phrase
         |  WHERE cnt_a >= 2 AND cnt_a * 1000000 // cnt_c >= 200000),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY ratio_ppm DESC, cnt_a DESC, phrase) AS rank FROM d)
         |SELECT source, phrase, cnt_a, cnt_c, CAST(ratio_ppm AS BIGINT) AS ratio_ppm,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "p17_uncommon_words" -> {
      val stops = UncommonStop.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH w AS (
         |  SELECT source, unnest(regexp_extract_all(lower(text), '\\w+')) AS word
         |  FROM documents),
         |c AS (
         |  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM w
         |  WHERE length(word) > 3 AND NOT list_contains($stops, word)
         |  GROUP BY source, word
         |  HAVING count(*) >= 2 AND count(*) < 1000),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY cnt DESC, word) AS rank
         |  FROM c)
         |SELECT source, word, cnt, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 15 ORDER BY source, rank""".stripMargin
    },
    "p18_prompts" ->
      s"""SELECT doc_id, $genPromptSql AS prompt
         |FROM documents ORDER BY doc_id""".stripMargin)
}
