package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — `Test / fork := true`
  * forks once for the whole test run). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SessionTuning.baseSession("4")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs. Marker jobs before and after
    * bracket the window: listener events arrive in order, so once the
    * closing marker is seen every job of `body` has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val markerKey = "graft.spec.marker"
    val markers = new java.util.concurrent.LinkedBlockingQueue[String]()
    val inWindow = new java.util.concurrent.atomic.AtomicBoolean(false)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(markerKey))) match {
          case Some(m) => inWindow.set(m == "open"); markers.put(m)
          case None => if (inWindow.get) jobs.incrementAndGet()
        }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(markerKey, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerKey, null)
      assert(markers.poll(60, java.util.concurrent.TimeUnit.SECONDS) == m)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
