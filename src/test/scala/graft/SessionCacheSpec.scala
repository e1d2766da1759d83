package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.SessionCache

/** The operators' session cache: one build per key under concurrent
  * gets, independent keys build in parallel, builds nest, a failed build
  * leaves no entry, and every registry knob is part of the key. Each
  * test uses its own corpus string, so entries never cross tests.
  */
class SessionCacheSpec extends SparkSpec {

  /** `body` on `n` pool threads released together; their results. */
  private def concurrently[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new Callable[T] { def call(): T = { start.await(); body(i) } })
      }
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("eight concurrent gets of one key run its build once") {
    val builds = new AtomicInteger()
    val got = concurrently(8) { _ =>
      SessionCache.get(spark, "SessionCacheSpec/once", "t") {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
  }

  test("builds of different keys run at the same time") {
    val bStarted = new CountDownLatch(1)
    val got = concurrently(2) { i =>
      if (i == 0) SessionCache.get(spark, "SessionCacheSpec/parallel", "a") {
        bStarted.await(30, TimeUnit.SECONDS) // only key b's build releases it
      }
      else SessionCache.get(spark, "SessionCacheSpec/parallel", "b") {
        bStarted.countDown()
        true
      }
    }
    assert(got == Seq(true, true))
  }

  test("a chain of 64 nested gets completes") {
    def link(i: Int): Int =
      SessionCache.get(spark, "SessionCacheSpec/nested", s"t$i") {
        if (i == 64) i else link(i + 1)
      }
    assert(concurrently(1)(_ => link(1)) == Seq(64))
  }

  test("a throwing build leaves no entry, and the next get builds again") {
    val builds = new AtomicInteger()
    def get(): String = SessionCache.get(spark, "SessionCacheSpec/fail", "t") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    val e = intercept[IllegalStateException](get())
    assert(e.getMessage == "first build fails")
    assert(get() == "built" && builds.get == 2)
    assert(get() == "built" && builds.get == 2)
  }

  test("flipping a registry knob misses, flipping it back hits the first entry") {
    val builds = new AtomicInteger()
    def get(): Int = SessionCache.get(spark, "SessionCacheSpec/knob", "t")(builds.incrementAndGet())
    assert(Knobs.all.contains(Knobs.maxCentroids))
    assert(spark.conf.getOption(Knobs.maxCentroids.key).isEmpty)
    assert(get() == 1)
    spark.conf.set(Knobs.maxCentroids.key, "3")
    try assert(get() == 2 && get() == 2)
    finally spark.conf.unset(Knobs.maxCentroids.key)
    assert(get() == 1 && builds.get == 2)
  }
}
