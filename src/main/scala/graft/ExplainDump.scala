package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes one `<name>.txt` per SparkEntry query containing the full
  * `.explain("formatted")` output (physical plan with operator details:
  * PushedFilters, ReadSchema, join strategy + build side, exchange
  * partitioning). PLANS.md is the at-a-glance summary; these dumps are the
  * reviewable evidence for plan-shape claims (Exchange counts, join
  * strategy changes, pushdown) in the optimization records.
  *
  * Usage: runMain graft.ExplainDump [sfDir] [outDir] [onlyCsv] [k=v,k=v | k=v;k=v]
  *
  * The optional fourth argument sets session confs before planning —
  * e.g. `spark.graft.broadcastMaxRows=0` shows the shuffle-fallback plan
  * every size-gated broadcast site degrades to at corpus scale, which at
  * sandbox SFs is otherwise invisible (the gate passes and the plan
  * equals the hinted one).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = Paths.get(args.lift(1).getOrElse("plans/r16"))
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val confs = args.lift(3).toSeq.flatMap(SessionTuning.parseSessionConf)
    Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE off for the same reason as PlanDump: the executed plan is the
      // concrete one (exchanges + codegen spans inserted), not an adaptive
      // wrapper that only materializes during execution.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }

    val mode = ExplainMode.fromString("formatted")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, q) =>
        val txt = q(spark, sfDir).queryExecution.explainString(mode)
        Files.write(outDir.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
        println(s"[explaindump] $name")
      }
    spark.stop()
  }
}
