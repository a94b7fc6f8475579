package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The build-once memo's contract: builds may nest (even on keys whose
  * hash codes collide), concurrent callers of one key share ONE build, a
  * failed build caches nothing, and a stopped session's entries go. A
  * stored table reads back with the schema it was written with and starts
  * no job, its build record counts exactly the rows and part-file bytes it
  * wrote, and nothing the build persisted outlives it.
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
    assert(Artifacts.builds.count(_.key == key.toString) == 1)
  }

  test("a build that throws caches nothing; the next caller retries") {
    val key = fresh("retry")
    intercept[IllegalStateException] {
      Artifacts.memo[Int](key)(throw new IllegalStateException("boom"))
    }
    assert(Artifacts.memo(key)(7) == 7)
    assert(Artifacts.memo(key)(8) == 7)
  }

  // two small tables stored under a fresh name, as one build
  private def stored(tag: String): (String, String => org.apache.spark.sql.DataFrame) = {
    val name = s"spec_${tag}_${System.nanoTime()}"
    (name, Artifacts.table(spark, name, "no-sf") { w =>
      w("a", spark.range(0, 100, 1, 3).toDF("id"))
      w("b", spark.range(7).selectExpr("id", "CAST(id AS DOUBLE) / 3 AS x"))
    })
  }

  private def dirOf(df: org.apache.spark.sql.DataFrame): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head)).getParent

  test("reading a stored table starts no job and keeps the written schema") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.PairIndex.pairs(spark, sf).schema
    assert(jobsOf(graft.operators.PairIndex.deg(spark, sf)) == 0,
           "reading the stored degree table started a job")
    val (_, t) = stored("read")
    var a: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { a = t("a") } == 0, "a first read of a stored table started a job")
    Seq(a, t("b"), graft.operators.PairIndex.pairs(spark, sf),
        graft.operators.PairIndex.deg(spark, sf)).foreach { df =>
      assert(df.schema == spark.read.parquet(dirOf(df).toString).schema,
             s"${dirOf(df)} reads with a schema other than its files'")
    }
    assert(a.count() == 100)
  }

  test("a stored build records its rows and part-file bytes exactly") {
    val (name, t) = stored("record")
    val b = Artifacts.builds.filter(_.key == ("stored", name, "no-sf").toString)
    assert(b.size == 1, s"${b.size} records for one stored build")
    assert(b.head.rows == t("a").count() + t("b").count())
    val parts = Seq("a", "b").flatMap { n =>
      java.nio.file.Files.list(dirOf(t(n))).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
    }
    assert(parts.nonEmpty && b.head.bytes == parts.map(java.nio.file.Files.size(_)).sum)
  }

  test("a build's persisted and checkpointed temporaries are released when it ends") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Artifacts.table(spark, s"spec_temp_${System.nanoTime()}", "no-sf") { w =>
      val p = w.temp(spark.range(10).toDF("id").persist())
      val c = w.temp(spark.range(5).toDF("id").localCheckpoint(true))
      w("t", p.join(c, "id"))
    }
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(kept.isEmpty, s"RDDs ${kept.mkString(", ")} outlived their build")
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
