package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel

/** The session memo's contract ([[Tables.memo]] / [[Tables.evict]]):
  * one build per (session, key) under racing first callers, nested
  * builds, no entry left by a failed build, and eviction that releases
  * a persisted frame. Every test uses its own key, so the shared
  * session's other entries are never touched.
  */
class MemoSpec extends SparkSpec {

  private def key(name: String): String =
    s"memoSpec:$name:${java.util.UUID.randomUUID}"

  test("four racing first callers run the build once and share its value") {
    val k = key("race")
    val builds = new AtomicInteger(0)
    val start = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map { _ =>
        pool.submit(() => {
          start.await()
          Tables.memo(spark, k) {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new Object
          }
        })
      }
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(got.forall(_ eq got.head), "callers got different instances")
    } finally pool.shutdownNow()
  }

  test("a build may memo another key") {
    val (outer, inner) = (key("outer"), key("inner"))
    val got = Tables.memo(spark, outer) {
      Tables.memo(spark, inner)("inner") + "+outer"
    }
    assert(got == "inner+outer")
    assert(Tables.memo(spark, inner)("rebuilt") == "inner")
  }

  test("a build that throws leaves no entry and the next call rebuilds") {
    val k = key("throw")
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Tables.memo[String](spark, k) {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(Tables.memo(spark, k) { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get == 2)
  }

  test("evict unpersists the frame and the next call rebuilds") {
    val k = key("evict")
    val builds = new AtomicInteger(0)
    def build() = Tables.memo(spark, k) {
      builds.incrementAndGet()
      spark.range(10).toDF("id").persist()
    }
    val df = build()
    assert(df.count() == 10)
    assert(df.storageLevel != StorageLevel.NONE)
    Tables.evict(spark, k)
    assert(df.storageLevel == StorageLevel.NONE)
    val again = build()
    assert(builds.get == 2)
    assert(!(again eq df))
    Tables.evict(spark, k)
  }
}
