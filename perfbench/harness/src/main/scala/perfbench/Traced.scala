package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkEntry

/** The traced chain: the same stages Pipeline.run executes, called layer by
  * layer from here so each layer's share can be timed, with a SparkListener
  * attached. Its times are per-layer figures only; end-to-end times come
  * from [[Timed]].
  *
  * Usage: Traced <result.json> <timed.json> <sfDir> <outDir> <runId> <stage,...> <kernelDir>
  *
  * Per stage it times the calls Pipeline.run makes:
  *  - build: `SparkEntry.queries(stage)(spark, sfDir)`, including the eager
  *    checkpoint and gate jobs operators launch while building the plan;
  *  - plan: forcing `queryExecution.executedPlan`;
  *  - exec: the parquet write of the artifact;
  *  - count: the artifact row count read back, as Pipeline.run does.
  * The session is built from the conf `graft.Pipeline.main` built in the
  * untraced run ([[Timed]]'s result file), so both runs share session
  * settings without a copy of them here.
  */
object Traced {
  val StageKey = "perfbench.stage"
  val PhaseKey = "perfbench.phase"

  def main(args: Array[String]): Unit =
    try trace(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def trace(args: Array[String]): Unit = {
    val Array(result, timed, sfDir, outDir, runId, stageList, kernelDir) = args
    val stages = stageList.split(",").toSeq

    val conf = pipelineConf(timed)
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    val sc = spark.sparkContext
    val listener = new TraceListener
    sc.addSparkListener(listener)

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](stage: String, name: String)(f: => T): T = {
      sc.setLocalProperty(PhaseKey, name)
      val t = System.nanoTime()
      val r = f
      phases(s"$name.$stage") = (System.nanoTime() - t) / 1e9
      r
    }
    val t0 = System.nanoTime()
    listener.windowStartMs = System.currentTimeMillis()
    for (stage <- stages) {
      sc.setLocalProperty(StageKey, stage)
      val path = s"$outDir/$runId/$stage"
      val df = phase(stage, "build")(SparkEntry.queries(stage)(spark, sfDir))
      phase(stage, "plan")(df.queryExecution.executedPlan)
      phase(stage, "exec")(df.write.mode("overwrite").parquet(path))
      phase(stage, "count")(spark.read.parquet(path).count())
    }
    listener.windowEndMs = System.currentTimeMillis()
    val chainS = (System.nanoTime() - t0) / 1e9
    spark.stop() // drains the listener bus: every event has been delivered

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("traced_chain_s") = chainS
    for (stage <- stages; p <- Seq("build", "plan", "exec"))
      metrics(s"operators.${p}_s.$stage") = phases(s"$p.$stage")
    for (stage <- stages) {
      metrics(s"operators.eager_jobs.$stage") =
        listener.jobs.count(j => j.stage == stage && (j.phase == "build" || j.phase == "plan"))
      metrics(s"spark.jobs.$stage") = listener.jobs.count(_.stage == stage)
      metrics(s"spark.tasks.$stage") = listener.tasks.count(t => listener.stageOf(t.stageId) == stage)
    }
    metrics ++= listener.totals()
    listener.jobs.groupBy(_.site).foreach { case (site, js) =>
      metrics(s"spark.jobs_by_site.$site") = js.size
    }
    metrics ++= KernelBench.run(kernelDir)
    Files.writeString(Paths.get(result), new ObjectMapper().writeValueAsString(metrics.asJava))
    sys.exit(0)
  }

  /** The SparkConf `graft.Pipeline.main` built, minus the entries that
    * identify one running application. */
  private def pipelineConf(timedResult: String): Seq[(String, String)] = {
    val perApplication = Set("spark.driver.host", "spark.driver.port",
      "spark.executor.id", "spark.extraListeners")
    new ObjectMapper().readTree(Files.readString(Paths.get(timedResult))).get("conf")
      .properties().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
      .filterNot { case (k, _) => perApplication(k) || k.startsWith("spark.app.") }
  }
}

final case class JobRecord(stage: String, phase: String, site: String)
final case class TaskRecord(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakExecMem: Long)

/** Collects jobs, stages and tasks; everything is read after `spark.stop()`. */
class TraceListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  val tasks = mutable.ArrayBuffer.empty[TaskRecord]
  private val chainStageOf = mutable.HashMap.empty[Int, String] // Spark stage id → chain stage
  private val sqlCallSites = mutable.HashMap.empty[Long, String]
  private var stagesCompleted = 0
  @volatile var windowStartMs = 0L
  @volatile var windowEndMs = 0L

  def stageOf(stageId: Int): String = chainStageOf.getOrElse(stageId, "")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlCallSites(s.executionId) = s.details
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val stage = prop(Traced.StageKey)
    // The result stage carries the job's call site. Jobs submitted from
    // Spark's own threads (broadcasts, AQE stages) fall back to the call
    // site of the SQL action that owns them.
    val own = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    val viaSql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlCallSites.get(id.toLong)).getOrElse("")
    val site = TraceListener.site(own).orElse(TraceListener.site(viaSql)).getOrElse("unattributed")
    jobs += JobRecord(stage, prop(Traced.PhaseKey), site)
    e.stageIds.foreach(id => chainStageOf.getOrElseUpdate(id, stage))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stagesCompleted += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRecord(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.peakExecutionMemory)
  }

  def totals(): Seq[(String, Double)] = {
    val nTasks = tasks.size.toDouble
    Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stagesCompleted.toDouble,
      "spark.tasks" -> nTasks,
      "spark.tasks_per_stage" -> (if (stagesCompleted == 0) 0.0 else nTasks / stagesCompleted),
      "spark.no_task_s" -> noTaskMs() / 1e3,
      "spark.executor_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> tasks.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble)
  }

  /** Wall time inside the traced window during which no task ran: the
    * floor of planning, scheduling and per-job latency. */
  private def noTaskMs(): Long = {
    var busy = 0L
    var coveredTo = windowStartMs
    for (t <- tasks.sortBy(_.launchMs)) {
      val from = math.max(t.launchMs, coveredTo)
      val to = math.min(t.finishMs, windowEndMs)
      if (to > from) { busy += to - from; coveredTo = to }
    }
    windowEndMs - windowStartMs - busy
  }
}

object TraceListener {
  /** The object of the innermost `graft.` frame in a call site, e.g.
    * `graft.operators.Dedup$.$anonfun$x$1(Dedup.scala:419)` → Dedup. The
    * artifact write and row count are made by [[Traced]] in place of
    * Pipeline.run, so they count as Pipeline, as they do when Pipeline.run
    * makes them. */
  def site(callSite: String): Option[String] = {
    val frames = callSite.split("\n").map(_.trim)
    frames.collectFirst {
      case f if f.startsWith("graft.") =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1).last
        cls.takeWhile(_ != '$')
    }.orElse(frames.collectFirst { case f if f.startsWith("perfbench.Traced") => "Pipeline" })
  }
}
