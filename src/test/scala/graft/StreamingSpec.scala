package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{DocEvent, EventStreams, SessionEvent}

case class WEvent(ts: Timestamp, event_type: String, value: Double)
case class DEvent(event_id: Long, ts: Timestamp, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  /** Streams `rows` through `build` in `nBatches` micro-batches and
    * returns the memory sink's table. */
  private def drain[T: Encoder](rows: Seq[T], table: String, mode: OutputMode,
      nBatches: Int = 2)(build: MemoryStream[T] => DataFrame): DataFrame = {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[T]
    val q = build(in).writeStream.format("memory").queryName(table)
      .outputMode(mode).start()
    try {
      rows.grouped(math.max(1, rows.length / nBatches)).foreach { g =>
        in.addData(g); q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(table)
  }

  /** The real documents table as stream events, one shared ts. */
  private def realDocEvents(): Seq[DocEvent] =
    Tables.documents(spark, sfDir).select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.map { case (id, tx) => DocEvent(id, t("2026-01-01 10:00:00"), tx) }

  test("windowedCounts aggregates tumbling hourly windows") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[WEvent]
    val q = EventStreams.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        WEvent(t("2026-01-01 10:05:00"), "view", 1.0),
        WEvent(t("2026-01-01 10:55:00"), "view", 2.0),
        WEvent(t("2026-01-01 10:30:00"), "click", 5.0),
        WEvent(t("2026-01-01 11:10:00"), "view", 3.0))
      q.processAllAvailable()
      // v = exact LONG cents (the r15 integer-exactness family rule —
      // a double sum would fold in arrival order)
      val rows = spark.table("wc")
        .select("hour", "event_type", "n", "v")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(rows == Set(
        (t("2026-01-01 10:00:00"), "view", 2L, 300L),
        (t("2026-01-01 10:00:00"), "click", 1L, 500L),
        (t("2026-01-01 11:00:00"), "view", 1L, 300L)))
    } finally q.stop()

    // The real events table over two micro-batches equals the batch
    // hourly aggregate exactly, long cents included, whatever the slicing.
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sfDir)
    val batch = events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100, 0).cast("long")).as("v"))
      .as[(Timestamp, String, Long, Long)].collect().toSet
    val real = events.select("ts", "event_type", "value").as[WEvent].collect().toSeq
    val got = drain(real, "wc_real", OutputMode.Complete)(in =>
        EventStreams.windowedCounts(in.toDF()))
      .select("hour", "event_type", "n", "v")
      .as[(Timestamp, String, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("dedupEvents drops redelivered event ids within the watermark") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[DEvent]
    val q = EventStreams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        DEvent(1L, t("2026-01-01 10:00:00"), 1.0),
        DEvent(1L, t("2026-01-01 10:00:01"), 1.0), // redelivery
        DEvent(2L, t("2026-01-01 10:00:02"), 2.0))
      q.processAllAvailable()
      in.addData(DEvent(2L, t("2026-01-01 10:01:00"), 2.0)) // redelivery
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()

    // Every real event delivered twice: exactly the distinct event ids
    // survive, each once.
    val events = Tables.events(spark, sfDir).select("event_id", "ts", "value")
    val distinctIds = events.select("event_id").distinct().as[Long].collect().toSeq.sorted
    val doubled = events.as[DEvent].collect().toSeq.flatMap(e => Seq(e, e))
    val got = drain(doubled, "dedup_real", OutputMode.Append, nBatches = 1)(in =>
        EventStreams.dedupEvents(in.toDF()))
      .select("event_id").as[Long].collect().toSeq.sorted
    assert(got.nonEmpty)
    assert(got == distinctIds)
  }

  test("sessionize closes a session on the 30-minute gap") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then an event
      // 2 hours later -> the later event closes the first session.
      in.addData(
        SessionEvent(1L, t("2026-01-01 09:00:00"), 1.0),
        SessionEvent(1L, t("2026-01-01 09:10:00"), 2.0))
      q.processAllAvailable()
      in.addData(SessionEvent(1L, t("2026-01-01 11:00:00"), 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess")
        .as[graft.streaming.UserSession].collect().toSet
      assert(closed.map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.session_value)) ==
        Set((1L, t("2026-01-01 09:00:00"), t("2026-01-01 09:10:00"), 2L, 3.0)))
    } finally q.stop()
  }

  test("dedupDocs collapses jittered re-deliveries by content fingerprint") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = EventStreams.dedupDocs(in.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("docdedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (t("2026-01-01 10:00:00"), "Hello, World!"),
        (t("2026-01-01 10:00:01"), "hello   world"), // same fingerprint
        (t("2026-01-01 10:00:02"), "different doc"))
      q.processAllAvailable()
      assert(spark.table("docdedup").count() == 2)
    } finally q.stop()

    // Each real doc plus an upper-cased copy (same normalized
    // fingerprint): one survivor per distinct fingerprint.
    val distinctFps = Tables.documents(spark, sfDir)
      .select(graft.functions.NativeExpressions.fingerprint($"text"))
      .distinct().count()
    val doubled = realDocEvents().flatMap(d =>
      Seq(d, d.copy(text = d.text.toUpperCase(java.util.Locale.ROOT))))
    val got = drain(doubled, "docdedup_real", OutputMode.Append, nBatches = 1)(in =>
        EventStreams.dedupDocs(in.toDF()))
      .count()
    assert(got == distinctFps)
  }

  test("attributionJoin pairs purchases with in-window views of the same user") {
    implicit val sql = spark.sqlContext
    case class V(user_id: Long, ts: Timestamp, value: Double)
    val views = MemoryStream[SessionEvent]
    val purchases = MemoryStream[SessionEvent]
    val q = EventStreams.attributionJoin(views.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        SessionEvent(1L, t("2026-01-01 10:00:00"), 0.0),
        SessionEvent(2L, t("2026-01-01 10:00:00"), 0.0))
      purchases.addData(
        SessionEvent(1L, t("2026-01-01 10:20:00"), 9.99), // in window
        SessionEvent(1L, t("2026-01-01 11:30:00"), 5.00), // past 30 min
        SessionEvent(2L, t("2026-01-01 09:50:00"), 3.00)) // before the view
      q.processAllAvailable()
      val rows = spark.table("attr")
        .select("user_id", "purchase_value")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((1L, 9.99)))
    } finally q.stop()

    // The real events table: the streamed join, closed by two watermark
    // sentinels, equals the batch 30-minute interval join as a multiset.
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sfDir)
    def side(tpe: String) = events.filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts"), col("value"))
    val (v, p) = (side("view"), side("purchase"))
    val batch = v.alias("v").join(p.alias("p"),
        expr("""v.user_id = p.user_id AND
                p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTES"""))
      .select(col("v.user_id"), col("v.ts"), col("p.ts"),
        round(col("p.value") * 100, 0).cast("long"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq.sorted
    val inV = MemoryStream[SessionEvent]
    val inP = MemoryStream[SessionEvent]
    val qr = EventStreams.attributionJoin(inV.toDF(), inP.toDF())
      .writeStream.format("memory").queryName("attr_real")
      .outputMode(OutputMode.Append).start()
    try {
      inV.addData(v.as[SessionEvent].collect().toSeq)
      inP.addData(p.as[SessionEvent].collect().toSeq)
      qr.processAllAvailable()
      // each sentinel pair pushes both watermarks a day further, past
      // every real interval's end
      val maxTs = events.agg(max(col("ts"))).as[Timestamp].head().getTime
      for (day <- 1 to 2) {
        val s = SessionEvent(-1L, new Timestamp(maxTs + day * 86400000L), 0.0)
        inV.addData(s); inP.addData(s)
        qr.processAllAvailable()
      }
    } finally qr.stop()
    val got = spark.table("attr_real").filter(col("user_id") >= 0)
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        round(col("purchase_value") * 100, 0).cast("long"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq.sorted
    assert(batch.nonEmpty)
    assert(got == batch)
  }

  test("sessionize extends a session backwards for late-in-watermark events") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_late")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(SessionEvent(5L, t("2026-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // Late by 10 minutes but still inside the 30-minute watermark: must
      // merge AND pull session_start back to 09:50 (batch q_sessionize
      // would put both events in one session starting at the earlier ts).
      in.addData(SessionEvent(5L, t("2026-01-01 09:50:00"), 2.0))
      q.processAllAvailable()
      in.addData(SessionEvent(5L, t("2026-01-01 13:00:00"), 4.0)) // closes it
      q.processAllAvailable()
      val closed = spark.table("sess_late")
        .as[graft.streaming.UserSession].collect().toSet
      assert(closed.map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.session_value)) ==
        Set((5L, t("2026-01-01 09:50:00"), t("2026-01-01 10:00:00"), 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionize drops sub-watermark events instead of merging them backwards") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_drop")
      .outputMode(OutputMode.Append).start()
    try {
      // user 9's session opens at 10:00; user 10 pushes the watermark to
      // 14:30 after this batch.
      in.addData(
        SessionEvent(9L, t("2026-01-01 10:00:00"), 1.0),
        SessionEvent(10L, t("2026-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      // 10:05 is inside the gap but BELOW the 14:30 watermark: batch
      // q_sessionize over the watermark-complete data never sees it, so the
      // streaming fold must drop it rather than extend the open session.
      in.addData(
        SessionEvent(9L, t("2026-01-01 10:05:00"), 7.0),
        SessionEvent(10L, t("2026-01-01 15:01:00"), 1.0))
      q.processAllAvailable()
      // next batch fires user 9's (10:00 + gap) event-time timeout.
      in.addData(SessionEvent(10L, t("2026-01-01 15:02:00"), 1.0))
      q.processAllAvailable()
      val u9 = spark.table("sess_drop")
        .as[graft.streaming.UserSession].collect().filter(_.user_id == 9L).toSeq
      assert(u9.map(s => (s.session_start, s.session_end, s.n_events, s.session_value)) ==
        Seq((t("2026-01-01 10:00:00"), t("2026-01-01 10:00:00"), 1L, 1.0)))
    } finally q.stop()
  }

  test("streaming sessionize partitions the real events table exactly like batch q_sessionize") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._

    // Batch truth: per-session (user_id, n_events, value_cents).
    val batch = graft.operators.Analytics.sessionize(spark, sfDir)
      .select(col("user_id"), col("n_events"), col("session_value"))
      .as[(Long, Long, Long)].collect().toSeq.sorted

    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent].collect()

    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(events.toIndexedSeq)
      q.processAllAvailable()
      // A far-future sentinel advances the watermark past every open
      // session's (last + gap); its own session is excluded below. The
      // extra empty-ish batch lets the event-time timeouts fire.
      val sentinelTs = new Timestamp(events.map(_.ts.getTime).max + 86400000L)
      in.addData(SessionEvent(-1L, sentinelTs, 0.0))
      q.processAllAvailable()
      in.addData(SessionEvent(-1L, new Timestamp(sentinelTs.getTime + 86400000L), 0.0))
      q.processAllAvailable()

      val streamed = spark.table("sess_eq")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"),
          round(col("session_value") * 100, 0).cast("long"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming topkLeaderboard matches batch per-window top-k over the real events table") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.{LeaderboardEntry, ScoredEvent}

    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))

    // Batch truth: top-3 users by summed value per (hour window, type),
    // value compared in cents (stream folds in arrival order; float sums
    // can differ in the last ulp).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wstart"), col("event_type"))
      .orderBy(col("v").desc, col("user_id"))
    val batch = events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("wstart"),
        col("event_type"), col("user_id"))
      .agg(sum(col("value")).as("v"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= EventStreams.LeaderboardK)
      .select(col("wstart"), col("event_type"), col("rank").cast("long"),
        col("user_id"), round(col("v") * 100, 0).cast("long"))
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq.sorted

    val in = MemoryStream[ScoredEvent]
    val q = EventStreams.topkLeaderboard(in.toDS())
      .writeStream.format("memory").queryName("leaderboard_eq")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = events.as[ScoredEvent].collect()
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      // Sentinel pushes the watermark past every real window's end; the
      // following batch fires the timeouts. Its own window never closes
      // and is filtered out below.
      val sentinelTs = new Timestamp(rows.map(_.ts.getTime).max + 86400000L)
      in.addData(ScoredEvent(-1L, sentinelTs, "__sentinel", 0.0))
      q.processAllAvailable()
      in.addData(ScoredEvent(-1L, new Timestamp(sentinelTs.getTime + 86400000L), "__sentinel", 0.0))
      q.processAllAvailable()

      val streamed = spark.table("leaderboard_eq")
        .filter(col("user_id") >= 0)
        .select(col("window_start"), col("event_type"), col("rank"),
          col("user_id"), round(col("value") * 100, 0).cast("long"))
        .as[(Timestamp, String, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming approxUsersWindowed matches batch KMV estimates over the real events table") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.ScoredEvent

    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))

    // Batch truth: the same sketch over the same hour windows — KMV is
    // merge-order independent, so the streaming estimate must be EQUAL,
    // not merely close, regardless of micro-batch slicing.
    val batch = events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(graft.functions.Aggregates.kmvDistinct(
        graft.functions.Aggregates.kmvHash(col("user_id")),
        graft.operators.Analytics.KmvK).as("approx_users"))
      .as[(Timestamp, String, Long)].collect().toSeq.sorted

    val in = MemoryStream[ScoredEvent]
    val q = EventStreams.approxUsersWindowed(in.toDF())
      .writeStream.format("memory").queryName("kmv_eq")
      .outputMode(OutputMode.Complete).start()
    try {
      // two micro-batches so in-flight state merges with new arrivals
      val rows = events.as[ScoredEvent].collect()
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("kmv_eq")
        .as[(Timestamp, String, Long)].collect().toSeq.sorted
      assert(got.nonEmpty)
      assert(got == batch)
    } finally q.stop()
  }

  test("topkLeaderboard emits each closed window exactly once, capped at K rows") {
    implicit val sql = spark.sqlContext
    import graft.streaming.ScoredEvent
    val in = MemoryStream[ScoredEvent]
    val q = EventStreams.topkLeaderboard(in.toDS())
      .writeStream.format("memory").queryName("leaderboard_k")
      .outputMode(OutputMode.Append).start()
    try {
      // 5 users in one window/type; only the top 3 may surface.
      in.addData((1 to 5).map(u =>
        ScoredEvent(u.toLong, t("2026-01-01 10:10:00"), "view", u.toDouble)))
      q.processAllAvailable()
      in.addData(ScoredEvent(9L, t("2026-01-02 10:00:00"), "view", 1.0))
      q.processAllAvailable()
      in.addData(ScoredEvent(9L, t("2026-01-03 10:00:00"), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("leaderboard_k")
        .as[graft.streaming.LeaderboardEntry].collect()
        .filter(_.window_start == t("2026-01-01 10:00:00"))
        .map(e => (e.rank, e.user_id, e.value)).toSeq.sorted
      assert(got == Seq((1L, 5L, 5.0), (2L, 4L, 4.0), (3L, 3L, 3.0)))
    } finally q.stop()
  }

  test("streaming nearDupPairs finds the same pair set as batch dd_simhash") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._

    // Batch truth: (id_a, id_b, hamming) pair set from the banded join.
    val batch = graft.operators.Dedup.ddSimhash(spark, sfDir)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"),
        col("text"))
      .as[DocEvent].collect()
    val in = MemoryStream[DocEvent]
    val q = EventStreams.nearDupPairs(in.toDS())
      .writeStream.format("memory").queryName("neardup_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      // Cross-band collisions emit a pair once per colliding band —
      // compare as a SET (the documented exactly-once path is a
      // downstream distinct / dedup upsert).
      val streamed = spark.table("neardup_eq")
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} distinct pairs vs batch ${batch.size}")
    } finally q.stop()

    // A binding per-bucket cap trades recall for bounded state, never
    // precision: every pair it emits is a real batch pair.
    val capped = drain(docs.toIndexedSeq, "neardup_capped", OutputMode.Append,
        nBatches = 1)(in => EventStreams.nearDupPairs(in.toDS(), bucketCap = 2).toDF())
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.nonEmpty && capped.subsetOf(batch) && capped.size < batch.size,
      s"capped ${capped.size} pairs vs batch ${batch.size}")
  }

  test("streaming packSequences matches batch tx_pack across micro-batches") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._

    val batch = graft.operators.TextOps.txPack(spark, sfDir)
      .select("doc_id", "n_tokens", "seq_id")
      .as[(Long, Long, Long)].collect().toSet

    // Ordered ingest log (the operator's delivery contract), split into
    // 3 micro-batches so the carry-over state crosses batch boundaries.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"),
        col("text"))
      .as[DocEvent].collect().sortBy(_.doc_id).toIndexedSeq
    val in = MemoryStream[DocEvent]
    val q = EventStreams.packSequences(in.toDS())
      .writeStream.format("memory").queryName("pack_eq")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { g =>
        in.addData(g); q.processAllAvailable()
      }
      val streamed = spark.table("pack_eq")
        .select("doc_id", "n_tokens", "seq_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} pack rows vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming ANN over the persisted PQ index matches batch ss_ivf_pq") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.{AnnHit, AnnQuery}
    val path = java.nio.file.Files.createTempDirectory("graft_stream_pq").toString + "/pq"
    graft.operators.Similarity.writePqArtifact(spark, sfDir, path)
    val batch = graft.operators.Similarity.ssIvfPq(spark, sfDir)
      .select("q_id", "rank", "vec_id", "adc_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the corpus query set, streamed as arriving AnnQuery events
    val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
      .as[AnnQuery].collect()
    val in = MemoryStream[AnnQuery]
    val q = EventStreams.annTopk(in.toDS(), path)
      .writeStream.format("memory").queryName("ann_eq")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(queries.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("ann_eq")
        .as[AnnHit].collect()
        .map(h => (h.q_id, h.rank, h.vec_id, h.adc_micro)).toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} ANN rows vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming incremental verdicts match batch dd_incremental on the real table") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.IncDocEvent
    val batch = graft.operators.Dedup.ddIncremental(spark, sfDir)
      .as[(Long, String, Long, Long)].collect().toSet
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
    // corpus (base) docs stream in first, the arriving batch an hour later
    val base = all.filter(_.getLong(0) % 10 != 0).toSeq
      .map(r => IncDocEvent(r.getLong(0), t("2026-01-01 09:00:00"), r.getString(1), is_base = true))
    val arriving = all.filter(_.getLong(0) % 10 == 0).toSeq
      .map(r => IncDocEvent(r.getLong(0), t("2026-01-01 10:00:00"), r.getString(1), is_base = false))
    val in = MemoryStream[IncDocEvent]
    val q = EventStreams.incrementalVerdictFragments(in.toDS())
      .writeStream.format("memory").queryName("inc_verdicts")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(base)
      q.processAllAvailable()
      in.addData(arriving)
      q.processAllAvailable()
      val batchIds = arriving.map(_.doc_id).toDF("doc_id")
      val got = EventStreams.reduceIncrementalVerdicts(
          spark.table("inc_verdicts"), batchIds)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == batch,
        s"streamed ${got.size} verdicts vs batch ${batch.size}: " +
          s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming qualityGate matches batch tx_gopher over the real documents table") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batch = graft.operators.Curation.txGopher(spark, sfDir)
      .select("doc_id", "fail_mask", "keep")
      .as[(Long, Long, Long)].collect().toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"),
        col("text"))
      .as[DocEvent].collect()
    val in = MemoryStream[DocEvent]
    val q = EventStreams.qualityGate(in.toDS().toDF())
      .writeStream.format("memory").queryName("quality_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("quality_gate")
        .select("doc_id", "fail_mask", "keep")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming qualityClassifierGate matches batch tx_quality_classifier") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batch = graft.operators.Curation.txQualityClassifier(spark, sfDir)
      .select("doc_id", "logit_micro", "clf_keep")
      .as[(Long, Long, Long)].collect().toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(java.sql.Timestamp.valueOf("2026-01-01 10:00:00")).as("ts"),
        col("text"))
      .as[DocEvent].collect()
    val in = MemoryStream[DocEvent]
    val q = EventStreams.qualityClassifierGate(in.toDS().toDF())
      .writeStream.format("memory").queryName("qclf_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("qclf_gate")
        .select("doc_id", "logit_micro", "clf_keep")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming promptConstraintGate matches batch rw_prompt_parse on the real prompts") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batch = graft.operators.Rewards.rwPromptParse(spark, sfDir)
      .select("doc_id", "structure_req", "topic", "tone_req", "length_req", "emoji_req")
      .as[(Long, String, String, String, String, String)].collect().toSeq.sorted
    val prompts = graft.operators.Style.p18Prompts(spark, sfDir)
      .collect().map(r => DocEvent(r.getLong(0), t("2026-01-01 10:00:00"), r.getString(1)))
    val in = MemoryStream[DocEvent]
    val q = EventStreams.promptConstraintGate(
        in.toDS().toDF().withColumnRenamed("text", "prompt"))
      .writeStream.format("memory").queryName("prompt_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(prompts.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("prompt_gate")
        .select("doc_id", "structure_req", "topic", "tone_req", "length_req", "emoji_req")
        .as[(Long, String, String, String, String, String)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming piiGate matches batch piiProject on PII-bearing docs") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    // PII-bearing fixtures (the synthetic corpus is pattern-clean, so
    // they keep the comparison non-vacuous) plus every real doc
    val texts = Seq(
      (1000001L, "mail jane.doe@example.com or visit https://x.io/a"),
      (1000002L, "call +1 555-867-5309 from 10.0.0.1"),
      (1000003L, "nothing sensitive here at all")) ++
      Tables.documents(spark, sfDir).select("doc_id", "text").as[(Long, String)].collect()
    val batch = graft.operators.TextOps.piiProject(texts.toDF("doc_id", "text"))
      .select("doc_id", "n_url", "n_email", "n_ip", "n_phone", "n_pii", "red_fp")
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().toSet
    assert(batch.exists(_._6 > 0L)) // the fixture actually carries PII
    val in = MemoryStream[DocEvent]
    val q = EventStreams.piiGate(in.toDS().toDF())
      .writeStream.format("memory").queryName("pii_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(texts.map { case (id, tx) => DocEvent(id, t("2026-01-01 10:00:00"), tx) })
      q.processAllAvailable()
      val streamed = spark.table("pii_gate")
        .select("doc_id", "n_url", "n_email", "n_ip", "n_phone", "n_pii", "red_fp")
        .as[(Long, Long, Long, Long, Long, Long, String)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-built CMS counters equal the batch sketch (addition commutes)") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batch1 = Seq(DocEvent(1L, t("2026-01-01 10:00:00"), "hot hot cold warm"),
      DocEvent(2L, t("2026-01-01 10:00:01"), "hot mild mild"))
    val batch2 = Seq(DocEvent(3L, t("2026-01-01 10:00:02"), "hot cold cold breeze"))
    val all = (batch1 ++ batch2).toDS().toDF()
    val expected = EventStreams.cmsCounters(all) // same code path, batch-driven
      .as[(Int, Long, Long)].collect().toSet
    val in = MemoryStream[DocEvent]
    val q = EventStreams.cmsCounters(in.toDS().toDF())
      .writeStream.format("memory").queryName("cms_counters")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2) // counters must ACCUMULATE across triggers
      q.processAllAvailable()
      val streamed = spark.table("cms_counters")
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == expected)
      // the sketch's whole point: bounded state regardless of vocabulary
      assert(streamed.size <= graft.operators.TextOps.CmsDepth *
        graft.operators.TextOps.CmsWidth)
    } finally q.stop()

    // The real documents table over three micro-batches.
    val real = realDocEvents()
    val realExpected = EventStreams.cmsCounters(real.toDS().toDF())
      .as[(Int, Long, Long)].collect().toSet
    val realStreamed = drain(real, "cms_real", OutputMode.Complete, nBatches = 3)(in =>
        EventStreams.cmsCounters(in.toDS().toDF()))
      .as[(Int, Long, Long)].collect().toSet
    assert(realStreamed.nonEmpty)
    assert(realStreamed == realExpected)
  }

  test("contaminationGate flags benchmark-overlapping docs statelessly") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions._
    val bench = Seq("alpha beta gamma delta epsilon zeta eta").toDF("text")
    val in = MemoryStream[DocEvent]
    val q = EventStreams.contaminationGate(in.toDS().toDF(), bench)
      .writeStream.format("memory").queryName("contam_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        // shares the 5-gram "beta gamma delta epsilon zeta" (and one more)
        DocEvent(1L, t("2026-01-01 10:00:00"), "x beta gamma delta epsilon zeta eta y"),
        DocEvent(2L, t("2026-01-01 10:00:01"), "totally unrelated words with no overlap here"))
      q.processAllAvailable()
      val got = spark.table("contam_gate")
        .select("doc_id", "n_shared").as[(Long, Long)].collect().toMap
      assert(got(1L) == 2L, s"doc 1 should share two 5-grams, got $got")
      assert(got(2L) == 0L)
    } finally q.stop()

    // The real documents streamed against every 25th doc (the frame
    // tx_contamination blocks against) equal the same gate batch-driven.
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val realBench = docs.filter(col("doc_id") % 25 === 0).select("text")
    val batch = EventStreams.contaminationGate(docs, realBench)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSet
    val streamed = drain(realDocEvents(), "contam_real", OutputMode.Append)(in =>
        EventStreams.contaminationGate(in.toDS().toDF(), realBench))
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSet
    assert(batch.exists(_._2 > 0L))
    assert(streamed == batch)
  }

  test("sessionize emits via event-time timeout once the watermark passes") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_to")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(SessionEvent(7L, t("2026-01-01 09:00:00"), 1.0))
      q.processAllAvailable()
      // another user's much-later event advances the watermark past
      // 09:00 + gap + 30min watermark delay ...
      in.addData(SessionEvent(8L, t("2026-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // ... and the next batch fires user 7's timeout.
      in.addData(SessionEvent(8L, t("2026-01-01 12:01:00"), 1.0))
      q.processAllAvailable()
      val users = spark.table("sess_to")
        .as[graft.streaming.UserSession].collect().map(_.user_id).toSet
      assert(users.contains(7L))
    } finally q.stop()
  }
}
