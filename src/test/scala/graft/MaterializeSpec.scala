package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.{Dedup, Sampling, SessionCache, Similarity}

/** [[Sampling.materialize]], the one operator materialization helper:
  * it costs one job and memoizes the row count, and a frame's scope
  * follows from where it was materialized — inside a
  * [[SessionCache]] build it survives [[Sampling.releaseScratch]],
  * anywhere else the release frees it. A source scan keeps every
  * checkpoint in main source behind the helper.
  */
class MaterializeSpec extends SparkSpec {

  /** A shuffle-free frame: its only job is the materialization itself. */
  private def frame(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(col("id"), (col("id") * 2).as("v"))

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

  private def stored(df: DataFrame): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId(df))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** A fresh copy of one sf0.001 table, so every session-cache build
    * keyed on its corpus dir runs here. */
  private def corpusCopy(table: String): String = {
    val dir = Files.createTempDirectory("materialize_spec_corpus").toString
    spark.read.parquet(s"$sfDir/$table.parquet").write.parquet(s"$dir/$table.parquet")
    dir
  }

  /** A build under a tag no other test uses, so it always runs. */
  private def build[T](body: => T): T =
    SessionCache.get(spark, "materialize-spec", s"build.${System.nanoTime}")(body)

  test("materialize runs one job, memoizes the count, and computes the rows once") {
    val computed = spark.sparkContext.longAccumulator("materialize-spec-rows")
    val touch = udf { (x: Long) => computed.add(1); x }
    val (cp, jobs) = jobsDuring(Sampling.materialize(
      frame(1000).select(touch(col("id")).as("id"), col("v"))))
    assert(jobs == 1, s"materialize launched $jobs jobs")
    val (n, countJobs) = jobsDuring(Sampling.knownRowCount(cp.select(col("v").as("w"))))
    assert(n.contains(1000L))
    assert(countJobs == 0, s"the memoized count launched $countJobs jobs")
    assert(rows(cp).size == 1000 && cp.count() == 1000)
    assert(computed.value == 1000, s"rows computed ${computed.value} times over 1000 rows")
    Sampling.releaseScratch(blocking = true)
  }

  test("a frame materialized inside a build survives releaseScratch; one outside does not") {
    val session = build(Sampling.materialize(frame(200)))
    val scratch = Sampling.materialize(frame(300))
    val before = rows(session)
    assert(stored(session) && stored(scratch))
    Sampling.releaseScratch(blocking = true)
    assert(stored(session), "a session-scoped frame was released")
    assert(rows(session) == before)
    assert(!stored(scratch), "a scratch frame survived the release")
  }

  test("a nested build stays session-scoped; a failed build leaves the thread scratch") {
    val (inner, outer) = build {
      val inner = build(Sampling.materialize(frame(100)))
      // the inner build has returned: this thread is still in the outer one
      (inner, Sampling.materialize(frame(110)))
    }
    intercept[IllegalStateException](build[DataFrame](throw new IllegalStateException("boom")))
    val after = Sampling.materialize(frame(120))
    Sampling.releaseScratch(blocking = true)
    assert(stored(inner) && stored(outer), "a nested build's frame was released")
    assert(rows(outer).size == 110)
    assert(!stored(after), "materialize after a failed build was session-scoped")
  }

  test("a centroid build does not checkpoint the last Lloyd's round a second time") {
    // Each build, micro-fixed table included, ran 20 jobs on this copy
    // while it wrapped lloydsIterate's already materialized last round
    // in one more materialize.
    val (_, fixedK) = jobsDuring(Similarity.fixedKCentArr(spark, corpusCopy("embeddings"), 5))
    assert(fixedK <= 19, s"fixedKCentArr ran $fixedK jobs")
    val (_, seeded) = jobsDuring(Similarity.lloydsCentArr(spark, corpusCopy("embeddings")))
    assert(seeded <= 19, s"lloydsCentArr ran $seeded jobs")
  }

  test("the n-gram pair build leaves only its cached result in storage") {
    val dir = corpusCopy("documents")
    Sampling.releaseScratch(blocking = true)
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val pairs = Dedup.ddNgramJaccard(spark, dir)
    val first = pairs.collect().toSeq
    assert(first.nonEmpty)
    Sampling.releaseScratch(blocking = true)
    // the build's own releases are asynchronous
    eventually(timeout(30.seconds)) {
      val added = spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      assert(added.length == 1, s"RDDs left in storage: ${added.map(_.name).toSeq}")
    }
    assert(pairs.collect().toSeq == first)
  }

  test("no checkpoint call in main source bypasses Sampling") {
    // Code only: block and line comments are stripped before matching,
    // so the scaladocs may still name the Spark calls.
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val code = comments.replaceAllIn(
            new String(Files.readAllBytes(p), "UTF-8"), "")
          call.findAllMatchIn(code).map(_ => root.relativize(p).toString)
        }.toList
      finally walk.close()
    val helper = "graft/operators/Sampling.scala"
    assert(sites.contains(helper), "the scan found no checkpoint call at all")
    val stray = sites.filterNot(_ == helper)
    assert(stray.isEmpty, s"checkpoint calls outside operators/Sampling.scala: ${stray.sorted}")
  }
}
