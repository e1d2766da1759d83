package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is reported and the rest still run (Bench's policy: one broken
  * query must not erase the others' outputs); every output and
  * oracle_sql.json is written, then the process exits 1 if any query
  * failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional subset (comma-separated names) for fast local iteration —
    // the driver runs the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").flatMap(SparkEntry.queryNames)
    val spark = SessionTuning.suiteSession()
    // a malformed or unknown knob (e.g. a --conf passed to the JVM) fails
    // before any query instead of failing each one
    Knobs.values(spark)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val err =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        // Per-query scratch release — see the matching call in Bench.
        operators.Sampling.releaseScratch()
        err
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}
