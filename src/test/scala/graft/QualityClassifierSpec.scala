package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Pins tx_quality_classifier's contract: (1) the learned bag-of-words
  * gate is a genuinely DIFFERENT signal from tx_quality's fixed
  * composite — a constructed pair where the statistic-only score and
  * the classifier logit ORDER THE DOCS OPPOSITE ways; (2) the dot
  * product arithmetic against a hand computation; (3) the optional
  * cur_verdict wiring is exactly a fifth conjunct. The oracle gate
  * covers the full-table arithmetic vs the generated DuckDB mirror.
  */
class QualityClassifierSpec extends SparkSpec {

  import spark.implicits._

  // Doc 1: healthy length + stopword stats but SPAM vocabulary (the
  // negative tiers: slow/small/batch/dup) — tx_quality has no vocabulary
  // signal and scores it high; the classifier must sink it.
  // Doc 2: same shape built from the positive tiers (data/query/...).
  private lazy val tmpDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("qclf").toString
    val spam = ("the a " + Seq.fill(12)("slow small batch dup").mkString(" ")).trim
    val good = ("the a " + Seq.fill(12)("data query table join").mkString(" ")).trim
    Seq((1L, spam), (2L, good))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("vocabulary separates what the fixed composite cannot") {
    val clf = Curation.txQualityClassifier(spark, tmpDir)
      .select("doc_id", "logit_micro", "clf_keep")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val q = graft.operators.TextOps.txQuality(spark, tmpDir)
      .select("doc_id", "quality_ppm")
      .as[(Long, Long)].collect().toMap
    // identical length/stop/dup-line statistics -> composite ties...
    assert(q(1L) == q(2L),
      s"fixture drifted: composite should tie, got ${q(1L)} vs ${q(2L)}")
    // ...but the word tiers split them, in opposite keep classes
    assert(clf(1L)._1 < clf(2L)._1)
    assert(clf(1L)._2 == 0L && clf(2L)._2 == 1L,
      s"spam doc must drop and content doc keep, got $clf")
  }

  test("dot product matches a hand computation") {
    // "data query slow the" : tier(+25000) hits {data,query}=2,
    // tier(+10000) 0, tier(-20000) {slow}=1, tier(-60000) 0
    val dir = java.nio.file.Files.createTempDirectory("qclf2").toString
    Seq((7L, "data query slow the"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = Curation.txQualityClassifier(spark, dir)
      .select("n_words", "word_micro", "stat_micro", "logit_micro")
      .as[(Long, Long, Long, Long)].head()
    val (nWords, wordMicro, statMicro, logit) = row
    assert(nWords == 4L)
    assert(wordMicro == 2L * 25000L - 20000L)
    val stopPpm = 1L * 1000000L / 4L           // "the"
    val awl = (19L - 3L) * 100L / 4L           // 16 non-ws chars / 4 words
    val expectStat = Curation.ClfWLenMicro * 4L +
      Curation.ClfWStopMicro * stopPpm +
      Curation.ClfWAwlMicro * math.abs(awl - Curation.ClfAwlCenterCenti)
    assert(statMicro == expectStat, s"stat_micro $statMicro != $expectStat")
    assert(logit == Curation.ClfBiasMicro + wordMicro + statMicro)
  }

  test("cur_verdict classifier gate is exactly a fifth conjunct") {
    val base = Curation.curVerdict(spark, sfDir)
      .select("doc_id", "train_keep").as[(Long, Long)].collect().toMap
    val clf = Curation.txQualityClassifier(spark, sfDir)
      .select("doc_id", "clf_keep").as[(Long, Long)].collect().toMap
    spark.conf.set(Knobs.classifier.key, "on")
    try {
      val gated = Curation.curVerdict(spark, sfDir)
        .select("doc_id", "train_keep", "clf_keep")
        .as[(Long, Long, Long)].collect()
      assert(gated.nonEmpty)
      gated.foreach { case (id, keep, ck) =>
        assert(ck == clf(id))
        assert(keep == (if (base(id) == 1L && ck == 1L) 1L else 0L),
          s"doc $id: gated=$keep base=${base(id)} clf=$ck")
      }
      // non-vacuous: the classifier actually drops something the base kept
      assert(gated.exists { case (id, keep, _) => base(id) == 1L && keep == 0L },
        "fixture corpus should contain at least one base-kept, clf-dropped doc")
    } finally spark.conf.unset(Knobs.classifier.key)
  }

  test("tx_quality_train: exact weights on a corpus with engineered labels") {
    // keep doc: 32 words, mean word length in [3,5], 2 stops, no symbols
    // -> passes every Gopher rule; drop doc: 10 words -> fails the word
    // floor. "goodtok" occurs only in keep docs, "badtok" only in drop.
    val keepDoc = ("the a " + Seq.fill(6)("goodtok").mkString(" ") + " " +
      Seq.fill(24)("word").mkString(" "))
    val dropDoc = Seq.fill(5)("badtok").mkString(" ") + " tiny tiny tiny tiny doc"
    val dir = java.nio.file.Files.createTempDirectory("qtrain").toString
    Seq((1L, keepDoc), (2L, keepDoc), (3L, dropDoc))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = Curation.txQualityTrain(spark, dir)
      .select("tok", "tf", "tf_keep", "weight_micro")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // totals: keep docs contribute 2*32=64 occurrences, drop 10 -> 74
    val prior = 64L * 1000000L / 74L
    assert(w("goodtok") == ((12L, 12L, 1000000L - prior)))
    assert(w("badtok") == ((5L, 0L, 0L - prior)))
    // "tiny" occurs 4 times — under the tf floor, must be dropped
    assert(!w.contains("tiny"))
    assert(w("word") == ((48L, 48L, 1000000L - prior)))
  }

  test("tx_quality_train's label projection equals gopherStats' keep (rule-drift pin)") {
    // The trainer restates the Gopher rules in a CollapseProject-safe
    // shape (one staged tokenization under the explode); this pin keeps
    // the restatement from ever drifting from the gate's definition.
    val docsDf = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val viaGate = graft.operators.Curation
      .gopherStats(docsDf).select("doc_id", "keep")
      .as[(Long, Long)].collect().toMap
    val viaTrainer = graft.operators.Curation
      .gopherKeepForSpec(docsDf).select(col("doc_id"), col("keep"))
      .as[(Long, Long)].collect().toMap
    assert(viaTrainer == viaGate)
  }

  test("tx_quality_train: both signs and the tf floor on the real corpus") {
    val rows = Curation.txQualityTrain(spark, sfDir)
      .select("tf", "weight_micro").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 >= Curation.TrainMinTf))
    assert(rows.exists(_._2 > 0) && rows.exists(_._2 < 0),
      "a non-degenerate label split must produce both positive and negative weights")
    assert(rows.forall { case (_, w) => w >= -1000000L && w <= 1000000L })
  }

  test("both classes populated on the real corpus") {
    val counts = Curation.txQualityClassifier(spark, sfDir)
      .groupBy("clf_keep").count().as[(Long, Long)].collect().toMap
    assert(counts.getOrElse(0L, 0L) > 0L && counts.getOrElse(1L, 0L) > 0L,
      s"degenerate gate: $counts")
  }
}
