package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Session-shared tiers build at most once per key, even when callers
  * race, and a failed build leaves nothing behind for the next caller.
  */
class TierSpec extends SparkSpec {

  test("8 racing callers of one tier id run its build exactly once") {
    val key = s"tier-race-${System.nanoTime}"
    val builds = new AtomicInteger()
    val callers = 8
    val barrier = new CyclicBarrier(callers)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val got = (1 to callers).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            barrier.await()
            SignatureStore.tier(spark, key, "race") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while others arrive
              spark.range(10).toDF("id")
            }
          }
        })
      }.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get == 1, s"tier built ${builds.get} times")
      assert(got.forall(_ eq got.head), "every caller must share one tier")
      assert(got.head.count() == 10)
    } finally {
      pool.shutdownNow()
      graft.core.Memo.release(spark, key)
    }
  }

  test("a failed tier build is forgotten: the next caller rebuilds") {
    val key = s"tier-fail-${System.nanoTime}"
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      SignatureStore.tier(spark, key, "flaky") {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val t = SignatureStore.tier(spark, key, "flaky") {
      builds.incrementAndGet()
      spark.range(3).toDF("id")
    }
    assert(builds.get == 2)
    assert(t.count() == 3)
    assert(SignatureStore.tier(spark, key, "flaky") {
      builds.incrementAndGet(); spark.range(1).toDF("id")
    } eq t, "a completed tier is served from the memo")
    assert(builds.get == 2)
    graft.core.Memo.release(spark, key)
  }

  test("Memo: 8 racing callers of A, whose build asks for B, build each " +
       "once") {
    val key = s"memo-nest-${System.nanoTime}"
    val (buildsA, buildsB) = (new AtomicInteger(), new AtomicInteger())
    val callers = 8
    val barrier = new CyclicBarrier(callers)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val got = (1 to callers).map { _ =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            barrier.await()
            graft.core.Memo(spark, key, "A") {
              buildsA.incrementAndGet()
              Thread.sleep(200) // hold the build open while others arrive
              graft.core.Memo(spark, key, "B") {
                buildsB.incrementAndGet()
                spark.range(10).toDF("id")
              }.filter("id < 5")
            }
          }
        })
      }.map(_.get(120, TimeUnit.SECONDS)) // rethrows any caller's failure
      assert(buildsA.get == 1, s"A built ${buildsA.get} times")
      assert(buildsB.get == 1, s"B built ${buildsB.get} times")
      assert(got.forall(_ eq got.head), "every caller must share one value")
      assert(got.head.count() == 5)
    } finally {
      pool.shutdownNow()
      graft.core.Memo.release(spark, key)
    }
  }
}
