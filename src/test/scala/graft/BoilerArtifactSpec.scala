package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.TextOps
import graft.streaming.{DocEvent, EventStreams}

/** The boilerplate scrub's train/use split: the persisted heavy-set
  * artifact reproduces the in-session scrub exactly, and the streaming
  * gate (per-row array form) matches the batch relational form row for
  * row on the corpus it was trained on.
  */
class BoilerArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    s"$d/heavy"
  }

  test("boilerplateFromArtifact is hash-identical to the in-session scrub") {
    val path = tmp("boiler_art")
    TextOps.writeBoilerplateArtifact(spark, sfDir, path)
    val direct = TextOps.txBoilerplate(spark, sfDir)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    val viaArt = TextOps.boilerplateFromArtifact(spark, sfDir, path)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(viaArt == direct)
    assert(direct.map(_._3).sum > 0) // the corpus exercises the scrub
  }

  test("batch-driven gate matches the batch scrub on every column") {
    val path = tmp("boiler_gate")
    TextOps.writeBoilerplateArtifact(spark, sfDir, path)
    val heavy = spark.read.parquet(path)
    val batch = TextOps.txBoilerplate(spark, sfDir)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val gated = EventStreams.boilerplateGate(
        Tables.documents(spark, sfDir).select($"doc_id", $"text"), heavy)
      .select($"doc_id", $"n_blocks", $"n_boiler", $"n_kept_tokens", $"text_clean")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(gated == batch)
  }

  test("streaming gate scrubs arriving docs against the trained set") {
    implicit val sql = spark.sqlContext
    val blk = (0 until 8).map(i => s"s$i").mkString(" ")
    val uniqA = (0 until 8).map(i => s"a$i").mkString(" ")
    val uniqB = (0 until 8).map(i => s"b$i").mkString(" ")
    // train: two docs sharing `blk` → heavy set = {blk}
    val heavy = TextOps.boilerHeavy(
      Seq((1L, s"$blk $uniqA"), (2L, s"$blk $uniqB"))
        .toDF("doc_id", "text")
        .select($"doc_id",
          org.apache.spark.sql.functions.posexplode(
            TextOps.blockTexts(graft.functions.TextFunctions.tokens($"text")))
            .as(Seq("bi", "bt"))))
    val in = MemoryStream[DocEvent]
    val q = EventStreams.boilerplateGate(in.toDS().toDF(), heavy)
      .writeStream.format("memory").queryName("boiler_gate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        DocEvent(10L, Timestamp.valueOf("2026-01-01 10:00:00"), s"$blk $uniqA"),
        DocEvent(11L, Timestamp.valueOf("2026-01-01 10:00:01"), uniqB))
      q.processAllAvailable()
      val got = spark.table("boiler_gate")
        .select($"doc_id", $"n_blocks", $"n_boiler", $"n_kept_tokens", $"text_clean")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(got == Set(
        (10L, 2L, 1L, 8L, uniqA),   // shared block scrubbed at ingest
        (11L, 1L, 0L, 8L, uniqB)))  // clean doc passes through
    } finally q.stop()

    // The real documents streamed against the persisted heavy-set
    // artifact equal the batch scrub on every column.
    val path = tmp("boiler_stream")
    TextOps.writeBoilerplateArtifact(spark, sfDir, path)
    val batch = TextOps.txBoilerplate(spark, sfDir)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
      .map { case (id, tx) => DocEvent(id, Timestamp.valueOf("2026-01-01 10:00:00"), tx) }
    val real = MemoryStream[DocEvent]
    val qr = EventStreams.boilerplateGate(real.toDS().toDF(), spark.read.parquet(path))
      .writeStream.format("memory").queryName("boiler_gate_real")
      .outputMode(OutputMode.Append).start()
    try {
      real.addData(docs)
      qr.processAllAvailable()
    } finally qr.stop()
    val streamed = spark.table("boiler_gate_real")
      .select($"doc_id", $"n_blocks", $"n_boiler", $"n_kept_tokens", $"text_clean")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed == batch)
  }
}
