package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The build-once memo's contract: builds may nest (even on keys whose
  * hash codes collide), concurrent callers of one key share ONE build, a
  * failed build caches nothing, and a stopped session's entries go.
  */
class ArtifactsSpec extends AnyFunSuite with SharedSpark {

  private def fresh(tag: String) = (s"ArtifactsSpec-$tag", System.nanoTime())

  test("a build may memo a same-hashCode key inside itself") {
    // one ConcurrentHashMap.computeIfAbsent nested in another on the same
    // bin throws IllegalStateException("Recursive update"); the memo's
    // builds run outside the map, so the nesting is legal
    assert("Aa".hashCode == "BB".hashCode)
    assert(Artifacts.memo("Aa")(Artifacts.memo("BB")(1) + 1) == 2)
    assert(Artifacts.memo[Int]("BB")(sys.error("rebuilt")) == 1)
  }

  test("four threads asking for one fresh key see one build") {
    val key = fresh("concurrent")
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val go = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map(_ => new Thread(() => {
      go.await()
      seen.add(Artifacts.memo(key) {
        built.incrementAndGet()
        Thread.sleep(200) // hold the build open while the others arrive
        "v"
      })
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(30000))
    assert(seen.size == 4 && seen.toArray.forall(_ == "v"))
    assert(built.get == 1, s"${built.get} builds for one key")
    assert(Artifacts.builds.count(_._1 == key.toString) == 1)
  }

  test("a build that throws caches nothing; the next caller retries") {
    val key = fresh("retry")
    intercept[IllegalStateException] {
      Artifacts.memo[Int](key)(throw new IllegalStateException("boom"))
    }
    assert(Artifacts.memo(key)(7) == 7)
    assert(Artifacts.memo(key)(8) == 7)
  }

  test("entries keyed by a stopped session are evicted") {
    val key = (fresh("evict"), spark)
    assert(Artifacts.memo(key)(1) == 1 && Artifacts.memo(key)(2) == 1)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    assert(Artifacts.memo(key)(2) == 2, "a stopped session's entry survived")
  }
}
