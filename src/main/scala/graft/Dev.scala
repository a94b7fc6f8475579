package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool (not library surface) over the bench session (`LocalSpark`):
  *
  *   plan [--out <dir> <suffix>] [keys...]
  *     `explain("formatted")` of each key (every declared key when none are
  *     named), to stdout or to `<dir>/<key>_<suffix>.txt`. Exits 1 if any
  *     key fails to plan: a dump must not pass off a failure as evidence.
  *   prof <keys...>
  *     runs each key twice in one session — cold (planning, codegen
  *     compile, JIT, broadcast setup) against warm (steady-state
  *     execution) — printing each run's task CPU, wall time, jobs,
  *     codegen compiles and their compile milliseconds, then each stored
  *     artifact build the run triggered (`Artifacts.builds`: ms, rows and
  *     bytes), and lists the warm run's five costliest stages (max ≫
  *     total/tasks means one straggler task).
  *
  * `sbt "runMain graft.Dev prof tpch_q8"`; the sf dir comes from
  * `SPARK_GRAFT_SF_DIR` and defaults to Bench's (sf0.1).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val run: Option[SparkSession => Boolean] = args.toList match {
      case "plan" :: "--out" :: dir :: suffix :: keys =>
        Some(plan(_, sfDir, keys, Some((dir, suffix))))
      case "plan" :: keys => Some(plan(_, sfDir, keys, None))
      case "prof" :: keys if keys.nonEmpty => Some(prof(_, sfDir, keys))
      case _ => None
    }
    run match {
      case None =>
        System.err.println("usage: graft.Dev plan [--out <dir> <suffix>] [keys...] | prof <keys...>")
        sys.exit(1)
      case Some(f) =>
        val spark = LocalSpark.builder().getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        val ok = try f(spark) finally spark.stop()
        if (!ok) sys.exit(1)
    }
  }

  private def plan(spark: SparkSession, sfDir: String, keys: List[String],
                   out: Option[(String, String)]): Boolean = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    val names = if (keys.nonEmpty) keys else SparkEntry.queries.keys.toList.sorted
    val failed = names.filterNot { q =>
      val (txt, planned) =
        try (SparkEntry.queries(q)(spark, sfDir).queryExecution
               .explainString(ExplainMode.fromString("formatted")), true)
        catch { case e: Exception =>
          System.err.println(s"[dev] $q failed to plan: ${e.getMessage}")
          (s"(failed: ${e.getMessage})", false)
        }
      out match {
        case Some((dir, suffix)) =>
          val p = Paths.get(dir, s"${q}_$suffix.txt")
          Files.writeString(p, txt)
          println(s"[dev] wrote $p")
        case None => println(s"=== $q ===\n$txt")
      }
      spark.catalog.clearCache()
      planned
    }
    if (failed.nonEmpty)
      System.err.println(s"[dev] ${failed.size} key(s) failed: ${failed.mkString(", ")}")
    failed.isEmpty
  }

  private def prof(spark: SparkSession, sfDir: String, keys: List[String]): Boolean = {
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    // per run: jobs started, task CPU, and (stage id, tasks, total task ms,
    // max task ms) of each completed stage
    var jobs = 0
    var cpuNanos = 0L
    val perStage = mutable.HashMap[Int, (Int, Long, Long)]()
    val stages = mutable.ArrayBuffer[(Int, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null) cpuNanos += te.taskMetrics.executorCpuTime
        val (n, tot, mx) = perStage.getOrElse(te.stageId, (0, 0L, 0L))
        val d = te.taskInfo.duration
        perStage(te.stageId) = (n + 1, tot + d, math.max(mx, d))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val (n, tot, mx) = perStage.getOrElse(sc.stageInfo.stageId, (0, 0L, 0L))
        stages += ((sc.stageInfo.stageId, n, tot, mx))
      }
    })
    keys.foreach { name =>
      val fn = SparkEntry.queries(name)
      Seq("cold", "warm").foreach { run =>
        LocalSpark.drainBus(spark)
        jobs = 0; cpuNanos = 0L; perStage.clear(); stages.clear()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val built0 = Artifacts.builds.size
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        LocalSpark.drainBus(spark)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        // the exact compile-time counter: the metric histogram keeps only a
        // decaying sample of its values, so its sum drifts once a session
        // has compiled more classes than the sample holds
        val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000L
        spark.catalog.clearCache()
        println(f"[prof] $name%-30s $run cpu=${cpuNanos / 1e9}%.2fs wall=$wall%.2fs " +
                s"jobs=$jobs compiles=$compiles compile_ms=$compileMs")
        Artifacts.builds.drop(built0).filter(_.bytes > 0).foreach(b =>
          println(s"[prof]   built ${b.key} ms=${b.ms} rows=${b.rows} bytes=${b.bytes}"))
      }
      stages.sortBy(-_._3).take(5).foreach { case (id, n, tot, mx) =>
        println(f"[prof]   stage $id%4d tasks=$n%3d total=${tot / 1e3}%.2fs max=${mx / 1e3}%.2fs")
      }
    }
    true
  }
}
