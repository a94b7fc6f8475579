package graft

import graft.operators.{Fixpoint, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Fixpoint`: a loop that never converges throws at its pass cap,
  * naming the loop; a fixed-pass loop stops at the pass `done` names; the
  * convergence probe rides in the cut's own job; superseded generations
  * are released, so persisted RDDs do not pile up across passes; and
  * `Graph.bfs` from no seeds stops after one cut.
  */
class FixpointSpec extends AnyFunSuite with SharedSpark {

  test("a loop that never converges throws at maxPasses, naming the loop") {
    var steps = 0
    val e = intercept[IllegalStateException] {
      Fixpoint(spark.range(8).toDF("v"), Seq(count(lit(1))), 3, "spinning loop") { g =>
        steps += 1
        g.select((col("v") + 1).as("v"))
      }((_, _) => false)
    }
    assert(e.getMessage.contains("spinning loop"), e.getMessage)
    assert(e.getMessage.contains("3 passes"), e.getMessage)
    assert(steps == 3)
  }

  test("a generation with a probe starts no more jobs than the bare cut") {
    val input = spark.range(0, 2000, 1, 4).toDF("v").localCheckpoint(true)
    def gen: DataFrame = input.groupBy((col("v") % 17).as("k"))
      .agg(count(lit(1)).as("n"))
    val bare = jobsOf(gen.localCheckpoint(true))
    var row: org.apache.spark.sql.Row = null
    val probed = jobsOf { row = Fixpoint.cut(gen, Seq(count(lit(1)), sum(col("n"))))._2 }
    assert(bare >= 1)
    assert(probed <= bare, s"probed cut ran $probed jobs, bare cut $bare")
    assert(row.getLong(0) == 17L && row.getLong(1) == 2000L, s"probe row $row")
  }

  test("persisted RDDs do not grow across passes") {
    val sizes = scala.collection.mutable.ArrayBuffer[Int]()
    val last = Fixpoint(spark.range(0, 8, 1, 4).toDF("v"),
                        Seq(max(col("v"))), 20, "shrinking loop") { g =>
      sizes += spark.sparkContext.getPersistentRDDs.size
      g.filter(col("v") > 0).select((col("v") - 1).as("v"))
    }((r, _) => r.getLong(0) == 0L)
    assert(last.collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(sizes.size == 7, s"passes: ${sizes.size}")
    // from the second step on, each step sees exactly one live generation
    assert(sizes.drop(2).forall(_ <= sizes(1)),
           s"persisted RDDs per pass: ${sizes.mkString(", ")}")
  }

  test("a fixed-pass loop returns the generation done names and throws nothing") {
    var steps = 0
    // the cap equals the pass `done` stops at: reaching it is not a failure
    val last = Fixpoint(spark.range(8).toDF("v"), Nil, 3, "fixed loop") { g =>
      steps += 1
      g.select((col("v") + 1).as("v"))
    }((_, pass) => pass == 3)
    assert(steps == 3)
    assert(last.collect().map(_.getLong(0)).sorted.toSeq == (3L until 11L))
  }

  test("bfs from an empty seed relation is empty, typed, and one cut") {
    val edges = spark.range(6).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val none = spark.range(0).select(col("id").as("s"), col("id").as("v"))
    var out: DataFrame = null
    val converged = jobsOf { out = Graph.bfs(edges, none) }
    assert(out.collect().isEmpty)
    assert(out.schema.map(f => (f.name, f.dataType.simpleString)) ==
             Seq(("s", "bigint"), ("v", "bigint"), ("dd", "bigint")))
    // a search capped at one hop runs exactly one cut; the uncapped one
    // stops at its first (empty) frontier, so it runs no more jobs
    val oneHop = jobsOf(Graph.bfs(edges, none, Some(1)))
    assert(converged <= oneHop, s"uncapped: $converged jobs, one hop: $oneHop")
  }
}
