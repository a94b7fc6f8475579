package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: one fresh session set up once, then a closed
  * loop of calls from this single thread, one call in flight.
  *
  * Usage: Harness <dataDir> <planFile> <outDir> <trace 0|1> <cores> <seconds>
  *
  * The plan file (written by `run.py` from the seed) has one item per line,
  * `pass<TAB>kind<TAB>text`:
  *   - pass -1, kind S: setup statement, run through `graft.Sql.execute`
  *     (`${wh}` expands to the warehouse);
  *   - pass 0 is the cold pass, passes 1.. are warm; warm passes run until
  *     the warm calls have taken `seconds`, whole passes only;
  *   - kind K: a `graft.SparkEntry` key; R: a SELECT; M: an MV-eligible
  *     SELECT; W: a DML statement; F: a REFRESH MATERIALIZED VIEW.
  *
  * Writes `summary.json` (metrics), `calls.jsonl` (one record per call),
  * `reads.jsonl` (every SELECT's rows, for the DuckDB replay),
  * `results/<key>/` (each key's cold-pass result as parquet, written after
  * the last pass, for the oracle) and, when tracing, `trace.json` (the spans).
  */
object Harness {
  final case class Item(pass: Int, kind: Char, text: String)
  final case class Span(id: Int, parent: Int, name: String, call: Int,
                        startMs: Double, endMs: Double) {
    def s: Double = (endMs - startMs) / 1e3
  }
  final case class Call(idx: Int, pass: Int, kind: Char, name: String,
                        span: Span, steps: Seq[Span], ok: Boolean, err: String,
                        compiles: Long, cpuNs: Long, phasesMs: Map[String, Long],
                        mvHit: Option[Boolean])

  // epoch milliseconds with sub-ms resolution, comparable with Spark's stamps
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def now(): Double = ms0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  /** Runs `body` inside a new span; `body` gets the span's id to parent its
    * children under. */
  def span(name: String, parent: Int, call: Int)(body: Int => Unit): Span = {
    val id = spans.size
    spans += Span(id, parent, name, call, now(), 0.0)
    body(id)
    spans(id) = spans(id).copy(endMs = now())
    spans(id)
  }

  def main(args: Array[String]): Unit = {
    val Array(data, planFile, outDir, traceArg, coresArg, secondsArg) = args
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val seconds = secondsArg.toDouble
    val out = Paths.get(outDir)
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(p, k, t) = l.split("\t", 3)
        Item(p.toInt, k.head, t)
      }
    val setupStmts = plan.filter(_.pass < 0).map(_.text)
    val dml = setupStmts.nonEmpty
    val passes = plan.filter(_.pass >= 0).groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)

    // ---- set-up, once, timed from JVM start: what a user pays before the
    // first call (JVM, SparkContext, warm-up, fixture tables, warehouse, MV)
    val events = new Events
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runId = spans.size
    spans += Span(runId, -1, "run", -1, jvmStartMs.toDouble, 0.0)
    val wh = out.resolve("warehouse").resolve("sql").toString
    var spark: SparkSession = null
    var tablesS = 0.0
    val setup = span("setup", runId, -1) { id =>
      span("session", id, -1) { _ =>
        spark = session(cores, out.resolve("warehouse").toString, dml)
        spark.sparkContext.setLogLevel("ERROR")
      }
      span("warmup", id, -1)(_ => warmUp(spark))
      tablesS = span("tables", id, -1) { _ =>
        graft.Tables.names.foreach(n => graft.Tables(spark, data, n))
      }.s
      span("fixtures", id, -1) { _ =>
        graft.Tables.names.foreach(n => graft.Tables(spark, data, n).count())
        graft.Tables.views(spark, data)
        setupStmts.foreach(s => graft.Sql.execute(spark, wh, s.replace("${wh}", wh)).collect())
      }
    }
    val setupS = (setup.endMs - jvmStartMs) / 1e3
    spark.sparkContext.addSparkListener(events)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // ---- the closed loop
    val calls = ArrayBuffer.empty[Call]
    val reads = Files.newBufferedWriter(out.resolve("reads.jsonl"), UTF_8)
    val fingerprints = scala.collection.mutable.Map.empty[String, String]
    // each key's first result, written for the oracle after the last pass
    val coldResults = ArrayBuffer.empty[(String, Array[Row], org.apache.spark.sql.types.StructType)]
    var idx = 0

    def runCall(item: Item, passSpan: Int): Unit = {
      val callId = idx
      idx += 1
      val steps = ArrayBuffer.empty[Span]
      var ok = true
      var err = ""
      var rows: Array[Row] = null
      var df: DataFrame = null
      var phases = Map.empty[String, Long]
      var mvHit: Option[Boolean] = None
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = osBean.getProcessCpuTime
      val name = if (item.kind == 'K') item.text else s"${item.kind}:${item.text.takeWhile(_ != ' ')}"
      val callSpan = span("call", passSpan, callId) { cid =>
        try {
          item.kind match {
            case 'K' | 'R' | 'M' =>
              steps += span("construct", cid, callId) { _ =>
                df = if (item.kind == 'K') graft.SparkEntry.queries(item.text)(spark, data)
                     else graft.Sql.execute(spark, wh, item.text)
              }
              val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
              steps += span("plan", cid, callId) { _ => qe.executedPlan }
              steps += span("execute", cid, callId) { _ => rows = df.collect() }
              phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
              if (item.kind == 'M')
                mvHit = Some(scannedPaths(qe.executedPlan).exists(_.getName.startsWith("mv_")))
            case _ =>
              steps += span("statement", cid, callId) { _ =>
                rows = graft.Sql.execute(spark, wh, item.text).collect()
              }
          }
        } catch {
          case e: Throwable =>
            ok = false
            err = String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")
        }
      }
      val cpuNs = osBean.getProcessCpuTime - cpu0
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      // ---- checking, outside the call span
      spark.catalog.clearCache()
      if (ok && item.kind == 'K') {
        val fp = fingerprint(rows)
        fingerprints.get(item.text) match {
          case None =>
            fingerprints(item.text) = fp
            coldResults += ((item.text, rows, df.schema))
          case Some(prev) if prev != fp =>
            ok = false
            err = "result differs from this key's oracle-checked cold-pass result"
          case _ => ()
        }
      }
      if (item.kind == 'R' || item.kind == 'M') {
        reads.write(s"""{"i":$callId,"ok":$ok,"cols":${jsonArr(
          if (ok) df.columns.toSeq.map(jsonStr) else Nil)},"rows":${jsonArr(
          if (ok) rows.toSeq.map(r => jsonArr(r.toSeq.map(jsonVal))) else Nil)}}""")
        reads.newLine()
      }
      calls += Call(callId, item.pass, item.kind, name, callSpan, steps.toSeq, ok,
                    err, compiles, cpuNs, phases, mvHit)
    }

    def runPass(p: Seq[Item]): Span =
      span("pass", runId, -1)(id => p.foreach(runCall(_, id)))

    val fds0 = openFds()
    runPass(passes.head)
    // the passes' times are their calls' spans: checking is not timed
    def callS(pass: Int) = calls.filter(_.pass == pass).map(_.span.s).sum
    val coldS = callS(0)
    val warm = ArrayBuffer.empty[Span]
    var warmS = 0.0
    val rest = passes.tail.iterator
    while (rest.hasNext && (warm.isEmpty || warmS < seconds)) {
      val p = rest.next()
      warm += runPass(p)
      warmS += callS(p.head.pass)
    }
    val fdGrowth = openFds() - fds0
    reads.close()
    for ((key, rows, schema) <- coldResults)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(out.resolve("results").resolve(key).toString)
    // heap still in use after full collections at the end: what the engine
    // retains across calls (caches, artifacts, session state); the pause
    // lets Spark's ContextCleaner release what the first collection freed
    System.gc()
    Thread.sleep(200)
    System.gc()
    val retainedMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    val scratchMb = dirMb(Paths.get(System.getProperty("java.io.tmpdir")), "graft_scratch_")
    // the listener bus is asynchronous: wait for the last events
    Thread.sleep(200)
    drainBus(spark)

    // ---- metrics
    val nWarm = warm.size.toDouble
    val warmCalls = calls.filter(_.pass > 0)
    def stepOf(c: Call, n: String) = c.steps.filter(_.name == n)
    def sumS(ss: Iterable[Span]) = ss.map(_.s).sum
    def tasks(ss: Iterable[Span]) = ss.flatMap(s => events.tasksIn(s.startMs, s.endMs))
    def jobs(ss: Iterable[Span]) = ss.map(s => events.jobsIn(s.startMs, s.endMs)).sum
    def stages(ss: Iterable[Span]) = ss.map(s => events.stagesIn(s.startMs, s.endMs)).sum
    val isRead = (c: Call) => "KRM".contains(c.kind)
    val readLat = warmCalls.filter(isRead).map(_.span.s).sorted.toSeq
    val writeLat = warmCalls.filter(c => "WF".contains(c.kind)).map(_.span.s).sorted.toSeq
    val warmCallSpans = warmCalls.map(_.span)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    m("setup_s") = (setupS, "s")
    m("cold_pass_s") = (coldS, "s")
    m("heap_retained_mb") = (retainedMb, "MB")

    val construct = warmCalls.filter(_.kind == 'K').flatMap(stepOf(_, "construct"))
    val exec = warmCalls.flatMap(stepOf(_, "execute"))
    val writes = warmCalls.filter(_.kind == 'W').map(_.span)
    val refreshes = warmCalls.filter(_.kind == 'F').map(_.span)
    val allTasks = tasks(warmCallSpans)
    val execTasks = tasks(exec)
    val mvReads = warmCalls.filter(_.mvHit.isDefined)
    // cold-minus-warm construction per key: what the build-once artifacts cost
    val keys = calls.filter(_.kind == 'K').groupBy(_.name)
    val coldExtraS = keys.values.map { cs =>
      val coldC = cs.filter(_.pass == 0).flatMap(stepOf(_, "construct"))
      val warmC = cs.filter(_.pass > 0).flatMap(stepOf(_, "construct"))
      if (warmC.isEmpty) 0.0 else sumS(coldC) - median(warmC.map(_.s).toSeq)
    }.sum
    val coldExtraJobs = keys.values.map { cs =>
      val coldJ = jobs(cs.filter(_.pass == 0).flatMap(stepOf(_, "construct")))
      val warmJ = cs.filter(_.pass > 0).map(c => jobs(stepOf(c, "construct")).toDouble)
      if (warmJ.isEmpty) 0.0 else coldJ - median(warmJ.toSeq)
    }.sum
    val l = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    // the warm loop as users see it; over ten seeds on a shared 4-vCPU host
    // their run-to-run spread reached 0.21 on pipeline_build, too close to
    // the largest bound an end-to-end metric may have (0.25) to hold it, so
    // they are reported here, unbounded
    l("calls_per_s") = (warmCalls.size / warmS, "1/s")
    l("read_p50_s") = (median(readLat.toSeq), "s")
    l("task_cpu_s") = (tasks(warmCallSpans).map(_.cpuNs).sum / 1e9 / nWarm, "s")
    l("process_cpu_s") = (warmCalls.map(_.cpuNs).sum / 1e9 / nWarm, "s")
    l("entry.construct_s") = (sumS(construct) / nWarm, "s")
    l("entry.eager_jobs") = (jobs(construct) / nWarm, "count")
    l("entry.eager_task_cpu_s") = (tasks(construct).map(_.cpuNs).sum / 1e9 / nWarm, "s")
    l("artifacts.cold_extra_s") = (coldExtraS, "s")
    l("artifacts.cold_extra_jobs") = (coldExtraJobs, "count")
    l("artifacts.scratch_mb") = (scratchMb, "MB")
    l("tables.load_s") = (tablesS, "s")
    for ((phase, key) <- Seq("analysis" -> "plans.analysis_s",
                             "optimization" -> "plans.optimization_s",
                             "planning" -> "plans.planning_s"))
      l(key) = (warmCalls.map(_.phasesMs.getOrElse(phase, 0L)).sum / 1e3 / nWarm, "s")
    l("codegen.compiles") = (warmCalls.map(_.compiles).sum / nWarm, "count")
    l("exec.s") = (sumS(exec) / nWarm, "s")
    l("exec.jobs") = (jobs(exec) / nWarm, "count")
    l("exec.stages") = (stages(exec) / nWarm, "count")
    l("exec.tasks") = (execTasks.size / nWarm, "count")
    l("exec.busy_ratio") = (
      if (exec.isEmpty) 0.0
      else execTasks.map(_.cpuNs).sum / 1e9 / (sumS(exec) * cores), "ratio")
    l("exec.task_cpu_s") = (allTasks.map(_.cpuNs).sum / 1e9 / nWarm, "s")
    l("exec.gc_s") = (allTasks.map(_.gcMs).sum / 1e3 / nWarm, "s")
    l("exec.shuffle_read_mb") = (allTasks.map(_.shuffleReadB).sum / 1e6 / nWarm, "MB")
    l("exec.shuffle_write_mb") = (allTasks.map(_.shuffleWriteB).sum / 1e6 / nWarm, "MB")
    l("exec.spill_mb") = (allTasks.map(_.spillB).sum / 1e6 / nWarm, "MB")
    l("exec.peak_exec_mem_mb") = (
      if (allTasks.isEmpty) 0.0 else allTasks.map(_.peakMemB).max / 1e6, "MB")
    l("sql.write_s") = (sumS(writes) / nWarm, "s")
    l("sql.write_jobs") = (jobs(writes) / nWarm, "count")
    l("sql.bytes_written_mb") = (tasks(writes).map(_.outputB).sum / 1e6 / nWarm, "MB")
    l("sql.write_p50_s") = (median(writeLat.toSeq), "s")
    l("mv.hit_ratio") = (
      if (mvReads.isEmpty) 0.0
      else mvReads.count(_.mvHit.contains(true)).toDouble / mvReads.size, "ratio")
    l("sql.fd_growth") = (fdGrowth.toDouble, "count")
    l("mv.refresh_s") = (sumS(refreshes) / nWarm, "s")
    val covered = warmCalls.filter(c => "KRM".contains(c.kind))
      .map(c => sumS(c.steps) / math.max(c.span.s, 1e-9))
    l("jvm.peak_rss_mb") = (peakRssMb, "MB")
    l("trace.span_coverage") = (if (covered.isEmpty) 1.0 else covered.min, "ratio")

    def metricsJson(ms: collection.Map[String, (Double, String)]) =
      ms.map { case (k, (v, u)) => s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}" }
        .mkString("{", ",", "}")
    val bytesWritten = tasks(writes).map(_.outputB).sum
    Files.writeString(out.resolve("summary.json"),
      s"""{"end_to_end":${metricsJson(m)},"per_layer":${metricsJson(l)},""" +
      s""""read_samples":${readLat.size},""" +
      s""""write_samples":${writeLat.size},"warm_passes":${warm.size},""" +
      s""""warm_write_bytes":$bytesWritten,"setup_phases_s":${metricsJson(
        spans.filter(_.parent == setup.id).map(sp => sp.name -> (sp.s, "s")).toMap)}}""")
    val callLines = calls.map { c =>
      s"""{"i":${c.idx},"pass":${c.pass},"kind":"${c.kind}","name":${jsonStr(c.name)},""" +
      s""""wall_s":${jsonNum(c.span.s)},${c.steps.map(s => s"\"${s.name}_s\":${jsonNum(s.s)}").mkString(",")}""" +
      s"""${if (c.steps.nonEmpty) "," else ""}"jobs":${jobs(Seq(c.span))},"compiles":${c.compiles},""" +
      s""""task_cpu_s":${jsonNum(tasks(Seq(c.span)).map(_.cpuNs).sum / 1e9)},""" +
      s""""ok":${c.ok},"err":${jsonStr(c.err)}}"""
    }
    Files.write(out.resolve("calls.jsonl"), callLines.asJava, UTF_8)
    Files.writeString(out.resolve("oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter(o => keys.contains(o._1))
        .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}"))
    spans(runId) = spans(runId).copy(endMs = now())
    if (trace) {
      val sp = spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${jsonStr(s.name)},"call":${s.call},""" +
        s""""start_ms":${jsonNum(s.startMs)},"end_ms":${jsonNum(s.endMs)}}"""
      }
      Files.write(out.resolve("trace.json"), sp.asJava, UTF_8)
    }
    spark.stop()
  }

  def session(cores: Int, wh: String, dml: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
    // the graft.Sql session surface (graft.Sql.main's configuration)
    if (dml) b.config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .withExtensions(new graft.GraftExtensions)
    b.getOrCreate()
  }

  /** graft.Bench's warm-up: executor threads, codegen, shuffle, broadcast
    * and window machinery, so the first call is not charged for them. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val w = spark.range(10000).selectExpr("id % 7 AS k", "id AS v", "CAST(id AS DOUBLE) AS d")
    w.groupBy("k").count().collect()
    w.join(broadcast(spark.range(7).selectExpr("id AS k")), "k").count()
    w.selectExpr("row_number() OVER (PARTITION BY k ORDER BY v) AS rn")
      .filter("rn <= 3").count()
    w.as("a").join(w.as("b").hint("shuffle_hash"), "k").count()
  }

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  /** Root paths of every file scan in an executed plan, adaptive stages included. */
  def scannedPaths(plan: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.hadoop.fs.Path] =
    Plans.collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location.rootPaths
    }.flatten

  def drainBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m =>
        m.getName == "waitUntilEmpty" && m.getParameterCount == 0).foreach(_.invoke(bus))
    } catch { case _: Exception => () }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes(UTF_8)); md.update(30.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** File descriptors this process holds open. */
  def openFds(): Int = {
    val fds = Files.list(Paths.get("/proc/self/fd"))
    try fds.count().toInt finally fds.close()
  }

  def dirMb(root: Path, prefix: String): Double = {
    val tops = Files.list(root)
    try tops.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).map { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }.sum / 1e6
    finally tops.close()
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jsonNum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def jsonArr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  /** SELECT cells for the DuckDB replay: integers as JSON integers, doubles
    * in Java's round-tripping decimal form, strings quoted. */
  def jsonVal(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case d: Double => jsonNum(d)
    case f: Float => jsonNum(f.toDouble)
    case x => jsonStr(x.toString)
  }
}
