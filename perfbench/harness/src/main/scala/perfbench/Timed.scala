package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One untraced chain: runs `graft.Pipeline.main` unchanged, in
  * this fresh JVM, with the session settings it builds itself, and records
  * when its session became ready and when the chain ended.
  *
  * Usage: Timed <result.json> <chain|setup> <Pipeline.main args...>
  *
  * `setup` halts the JVM as soon as the session is ready (a set-up sample);
  * `chain` lets Pipeline.main run to completion. The result file holds
  * epoch milliseconds, so the caller can measure set-up from the moment it
  * spawned the process, and the SparkConf Pipeline.main built, so a traced
  * run can build the same session without a copy of its settings.
  */
object Timed {
  @volatile private var readyAt: Option[Sample] = None
  @volatile private var endAt: Option[Sample] = None
  @volatile private var conf: Map[String, String] = Map.empty

  def main(args: Array[String]): Unit = {
    val result = Paths.get(args(0))
    val setupOnly = args(1) == "setup"
    System.setProperty("spark.extraListeners", classOf[ChainEnd].getName)

    // A ready session is the default session getOrCreate publishes; polling
    // for it keeps the probe outside Pipeline.main.
    val watcher = new Thread(() => {
      while (SparkSession.getDefaultSession.isEmpty) Thread.sleep(1)
      val ready = Sample.now()
      if (setupOnly) {
        write(result, ready, None)
        Runtime.getRuntime.halt(0)
      }
      readyAt = Some(ready)
    })
    watcher.setDaemon(true)
    watcher.start()

    try graft.Pipeline.main(args.drop(2))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    watcher.join()
    write(result, readyAt.get, endAt)
    sys.exit(0)
  }

  private def write(path: java.nio.file.Path, ready: Sample, end: Option[Sample]): Unit = {
    val fields = Map[String, Any](
      "ready_ms" -> ready.wallMs, "ready_cpu_ns" -> ready.cpuNs, "conf" -> conf.asJava) ++
      end.toSeq.flatMap(e => Seq(
        "end_ms" -> e.wallMs, "end_cpu_ns" -> e.cpuNs, "peak_rss_kb" -> e.peakRssKb))
    Files.writeString(path, new ObjectMapper().writeValueAsString(fields.asJava))
  }

  /** Listener installed through `spark.extraListeners`. Spark constructs it
    * with the SparkConf Pipeline.main built; `spark.stop()` at the end of
    * Pipeline.main posts the application end, whose time closes the chain. */
  class ChainEnd(sparkConf: SparkConf) extends SparkListener {
    Timed.conf = sparkConf.getAll.toMap

    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      Timed.endAt = Some(Sample.now().copy(wallMs = e.time))
  }
}

/** Process clocks at one instant: wall time, process CPU time, and peak
  * resident set size so far. */
final case class Sample(wallMs: Long, cpuNs: Long, peakRssKb: Long)

object Sample {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Sample = Sample(System.currentTimeMillis(), os.getProcessCpuTime, peakRssKb())

  /** VmHWM from /proc/self/status (Linux); -1 where it is unavailable. */
  def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return -1L
    Files.readAllLines(status).toArray(Array.empty[String])
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
  }
}
