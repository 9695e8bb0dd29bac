// Lives under org.apache.spark to reach the listener bus's drain
// (`waitUntilEmpty`), which is private[spark]: a traced operation is
// closed only after every event it caused has been delivered.
package org.apache.spark.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Session
import graft.ingest.{Discovery, Normalize}
import graft.pipeline.WideTablePipeline
import graft.queries.{QueryDef, Registry}

/** Benchmark harness: one JVM, one closed-loop client.
  *
  * Sets the session up once, from process launch to the end of the first
  * operation, runs one untimed warm-up pass, then runs the workload's
  * operations back to back for the requested seconds. With tracing on it
  * alternates traced and untraced passes: traced passes carry spans
  * around the calls into each module plus a SparkListener and a
  * QueryExecutionListener, attached only for that pass. Everything it
  * measures goes to one JSON result file; run.py turns that into the
  * benchmark's metrics and checks the outputs.
  *
  * Args (key=value): workload, data, work, seconds, passes (minimum),
  * trace, cpus, seed, launch_ms (epoch ms at which the process was
  * spawned), setup_only (1: stop after the set-up and record only it).
  */
object PerfBench {

  // ------------------------------------------------------------ tracing

  final case class Span(id: Int, name: String, op: String, parent: Int,
      startNs: Long, endNs: Long)

  final class Tracer(origin: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var next = 0
    private var stack = List.empty[Int]
    var op = ""
    def apply[T](name: String)(body: => T): T = {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, op, parent, t0 - origin, System.nanoTime() - origin)
      }
    }
    def write(path: String): Unit = {
      val w = new PrintWriter(path)
      try spans.foreach { s =>
        w.println(f"""{"id":${s.id},"name":"${s.name}","op":"${s.op}","parent":${s.parent},""" +
          f""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
      } finally w.close()
    }
  }

  /** What the listeners saw during one operation. */
  final class OpStats {
    var jobs, stages, tasks, buildJobs = 0L
    var taskNs, cpuNs, inputRows, shuffleWrite, shuffleRead = 0L
    var spill, outputBytes, planMs, scanLeaves, scanBytes, rereadBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val blocks = mutable.Map.empty[String, Long]
    def pinRdds: Int = blocks.keys.map(_.split('_')(1)).toSet.size
    def pinBytes: Long = blocks.values.sum
    /** Wall milliseconds in [t0, t1] with no task running. */
    def idleMs(t0: Long, t1: Long): Long = {
      var busy = 0L; var cur = t0
      taskIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > cur) { busy += b - math.max(a, cur); cur = b }
        }
      (t1 - t0) - busy
    }
  }

  final class Listener(outputRoot: String) extends SparkListener with QueryExecutionListener {
    @volatile var cur: OpStats = new OpStats
    @volatile var inBuild = false

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = cur
      s.jobs += 1
      if (inBuild) s.buildJobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = cur
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.taskNs += m.executorRunTime * 1000000L
        s.cpuNs += m.executorCpuTime
        s.inputRows += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        val s = cur
        val size = info.memSize + info.diskSize
        s.blocks(info.blockId.name) = math.max(size, s.blocks.getOrElse(info.blockId.name, 0L))
      }
    }

    private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = cur
      s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      walk(qe.executedPlan).foreach {
        case scan: FileSourceScanExec =>
          s.scanLeaves += 1
          val bytes = scan.metrics.get("filesSize").map(_.value).getOrElse(0L)
          s.scanBytes += bytes
          val roots = scan.relation.location.rootPaths.map(_.toUri.getPath)
          if (roots.exists(_.startsWith(outputRoot))) s.rereadBytes += bytes
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Peak heap in use right after a collection, over every GC. */
  object GcWatch extends javax.management.NotificationListener {
    @volatile var peakLiveBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools.contains(k) => v.getUsed }.sum
        synchronized { if (live > peakLiveBytes) peakLiveBytes = live }
      }
    }
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  // ----------------------------------------------------------- workloads

  /** One operation's outcome: wall, spans-derived layer seconds, the
    * listener stats (traced only) and a small result for the checks. */
  final case class OpResult(kind: String, wallNs: Long, traced: Boolean,
      layers: Map[String, Double], stats: Option[OpStats], idleMs: Long,
      report: Map[String, Any])

  def reportMap(r: WideTablePipeline.Report): Map[String, Any] = Map(
    "input_rows" -> r.inputRowCount, "output_rows" -> r.outputRowCount,
    "month_mismatch" -> r.monthMismatchRows, "low_count_dropped" -> r.lowCountDropped,
    "bad_rows_ignored" -> r.badRowsIgnored,
    "skipped" -> r.skippedFiles.map(_._1))

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val tracer: Tracer) {
    def out(name: String): String = s"$work/out/$name"
  }

  /** `WideTablePipeline.run`; traced, one span around the call. Its
    * discover and plan shares are probes outside the operation. */
  def rebuild(c: Ctx, corpus: String, traced: Boolean): Map[String, Any] = {
    val cfg = WideTablePipeline.Config(s"${c.data}/$corpus", c.out(s"rebuild_$corpus"),
      minRides = 50L)
    if (!traced) return reportMap(WideTablePipeline.run(c.spark, cfg))
    c.tracer("pipeline.run") { reportMap(WideTablePipeline.run(c.spark, cfg)) }
  }

  def refresh(c: Ctx, corpus: String, traced: Boolean): Map[String, Any] = {
    val cfg = WideTablePipeline.Config(s"${c.data}/$corpus", c.out("refresh"), minRides = 50L)
    if (!traced) return reportMap(WideTablePipeline.runIncremental(c.spark, cfg))
    c.tracer("pipeline.refresh") { reportMap(WideTablePipeline.runIncremental(c.spark, cfg)) }
  }

  val headline: Seq[String] = Registry.all.filter(_.headline).map(_.name)
  /** Families the headline set does not reach: graph (eager pins), drift
    * and streaming (micro-batches). Text dedup and similarity are in the
    * headline set (minhash, exact dedup, two ANN top-k). */
  val heavy: Seq[String] = Seq("q_copurchase_pagerank", "q_ks_value_drift",
    "q_stream_dedup_keys")

  def query(c: Ctx, q: QueryDef, traced: Boolean, listener: Option[Listener],
      save: Boolean): Map[String, Any] = {
    val t = c.tracer
    listener.foreach(_.inBuild = true)
    val df = try t("queries.build") { q.fn(c.spark, s"${c.data}/tables") }
      finally listener.foreach(_.inBuild = false)
    t("queries.exec") {
      if (save) df.write.mode(SaveMode.Overwrite).parquet(c.out(s"registry/${q.name}"))
      else df.write.format("noop").mode(SaveMode.Overwrite).save()
    }
    Map.empty
  }

  /** The hostile probe: each hostile class through run and runIncremental,
    * recording the outcome as a report or the exception's class. */
  def hostile(c: Ctx): Seq[Map[String, Any]] = {
    val root = new File(s"${c.data}/hostile")
    Option(root.listFiles).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName).flatMap { d =>
      Seq("run", "runIncremental").map { mode =>
        val cfg = WideTablePipeline.Config(d.getPath, c.out(s"hostile/${d.getName}/$mode"),
          minRides = 50L)
        val base = Map[String, Any]("class" -> d.getName, "mode" -> mode,
          "output" -> s"${cfg.outputDir}/wide_table.parquet")
        try {
          val r = if (mode == "run") WideTablePipeline.run(c.spark, cfg)
            else WideTablePipeline.runIncremental(c.spark, cfg)
          base ++ reportMap(r) + ("outcome" -> "completed")
        } catch {
          case NonFatal(e) =>
            val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
            base + ("outcome" -> "crash") +
              ("error" -> root.map(x => s"${x.getClass.getSimpleName}: ${
                Option(x.getMessage).getOrElse("").take(160)}").mkString(" <- "))
        }
      }
    }
  }

  /** The result file's JSON. */
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => js(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val launchMs = a("launch_ms").toLong
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val cpus = a("cpus")
    val work = a("work")
    val data = a("data")
    val setupOnly = a.getOrElse("setup_only", "0") == "1"
    val origin = System.nanoTime()
    GcWatch.install()

    def newSession(): SparkSession = {
      val s = Session.builder("perfbench", cpus)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val queries: Seq[QueryDef] = {
      val byName = Registry.all.map(q => q.name -> q).toMap
      // the first headline query first (the set-up's operation), the
      // rest seed-permuted
      val rnd = new scala.util.Random(a("seed").toLong)
      (headline.head +: rnd.shuffle(headline.tail ++ heavy)).map(byName)
    }
    val tracer = new Tracer(origin)

    // the workload's operations in pass order; a pass runs each once
    def ops(c: Ctx, traced: Boolean, listener: Option[Listener],
        save: Boolean): Seq[(String, () => Map[String, Any])] = workload match {
      case "taxi" =>
        Seq("rebuild_bulk" -> (() => rebuild(c, "taxi_bulk", traced)),
          "rebuild_drift" -> (() => rebuild(c, "taxi_drift", traced)))
      case "registry_mix" =>
        queries.map(q => q.name -> (() => query(c, q, traced, listener, save)))
    }

    def op(c: Ctx, kind: String, body: () => Map[String, Any], traced: Boolean,
        listener: Option[Listener]): OpResult = {
      val opId = s"$kind#${tracer.spans.size}"
      tracer.op = opId
      c.spark.sparkContext.setJobGroup(opId, kind, interruptOnCancel = false)
      val stats = new OpStats
      listener.foreach(_.cur = stats)
      val wallT0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val before = tracer.spans.size
      val report = tracer(s"op.$kind") { body() }
      val wall = System.nanoTime() - t0
      val wallT1 = System.currentTimeMillis()
      c.spark.sparkContext.clearJobGroup()
      listener.foreach(_ => c.spark.sparkContext.listenerBus.waitUntilEmpty())
      // frames a query pinned must not squeeze the next one's memory
      // (the same reset graft.Bench does between queries)
      c.spark.sharedState.cacheManager.clearCache()
      val mine = tracer.spans.drop(before)
      val opSpan = mine.last
      val layers = mine.filter(_.parent == opSpan.id)
        .groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e9)(_ + _)
      OpResult(kind, wall, traced, layers, listener.map(_ => stats),
        if (traced) stats.idleMs(wallT0, wallT1) else 0L, report)
    }

    // collector time of the harness's own System.gc() calls, kept out of
    // the program's GC figure
    var forcedGcMs = 0L
    def forcedGc(): Unit = {
      val g0 = GcWatch.gcMs
      System.gc()
      forcedGcMs += GcWatch.gcMs - g0
    }

    def pass(c: Ctx, traced: Boolean, listener: Option[Listener]): Seq[OpResult] = {
      val rs = ops(c, traced, listener, save = false).map { case (k, body) =>
        op(c, k, body, traced, listener)
      }
      forcedGc() // lets the ContextCleaner drop unreferenced pinned blocks
      rs
    }

    def writeResult(m: Map[String, Any]): Unit = {
      val w = new PrintWriter(s"$work/result.json")
      try w.print(js(m)) finally w.close()
    }

    // -------- set-up: from process launch (JVM start, heap pre-touch,
    // session) until the first operation, run cold, is done
    val spark = newSession()
    val sessionMs = System.currentTimeMillis()
    val ctx = new Ctx(spark, data, work, tracer)
    tracer.op = "setup"
    val warmup = ops(ctx, traced = false, listener = None, save = true)
    op(ctx, warmup.head._1, warmup.head._2, traced = false, listener = None)
    val readyMs = System.currentTimeMillis()
    val setup = Map[String, Any]("setup_s" -> (readyMs - launchMs) / 1e3,
      // its parts: JVM start to main, session, first operation
      "setup_parts_s" -> Seq(mainMs - launchMs, sessionMs - mainMs, readyMs - sessionMs)
        .map(_ / 1e3))
    if (setupOnly) {
      spark.stop()
      writeResult(setup + ("workload" -> workload))
      return
    }
    // one untimed warm-up pass runs every operation, saving the outputs
    // the checks read
    warmup.foreach { case (k, body) => op(ctx, k, body, traced = false, listener = None) }
    forcedGc()

    // -------- the timed closed loop
    val listener = new Listener(new File(s"$work/out").getCanonicalPath)
    val results = mutable.ArrayBuffer.empty[OpResult]
    val failures = mutable.ArrayBuffer.empty[String]
    def withListener[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      try body
      finally {
        spark.sparkContext.listenerBus.waitUntilEmpty()
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
    }
    val gc0 = GcWatch.gcMs
    forcedGcMs = 0L
    val loopT0 = System.nanoTime()
    var passes = 0
    // at least `passes` passes (a median needs several); a traced run
    // alternates untraced, traced, untraced...: the traced pass against the
    // untraced ones around it is the tracing overhead
    val minPasses = math.max(a("passes").toInt, if (traceMode) 3 else 1)
    while (passes < minPasses || (System.nanoTime() - loopT0) / 1e9 < seconds) {
      val traced = traceMode && passes % 2 == 1
      try results ++= (if (traced) withListener(pass(ctx, traced, Some(listener)))
        else pass(ctx, traced, None))
      catch { case NonFatal(e) => failures += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      passes += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcS = (GcWatch.gcMs - gc0 - forcedGcMs) / 1e3

    // -------- traced-only probes, outside every timed operation
    val probes = mutable.Map.empty[String, Any]
    if (traceMode && workload == "taxi") {
      // the calls run() makes before any task runs, each on its own over
      // both corpora (median of 3): discovery, dialect detection, and plan
      // (which includes detection and builds the DataFrames, no jobs)
      def median3(name: String)(body: => Unit): Double = {
        tracer.op = s"probe.$name"
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
      }
      val dirs = Seq("taxi_bulk", "taxi_drift").map(corpus => s"$data/$corpus")
      var corpora = Seq.empty[Seq[String]]
      probes("discover_s") = median3("discover") {
        corpora = dirs.map(d => tracer("ingest.discover") {
          Discovery.selectTripFiles(Discovery.discoverParquet(spark, d))
        })
      }
      probes("detect_s") = median3("detect") {
        val found = corpora.map(files => tracer("ingest.detect") {
          Normalize.detectDialects(spark, files)
        })
        probes("files") = corpora.map(_.size).sum
        probes("dialects") = found.flatMap(_._1.map(_._1)).distinct.size
        probes("skipped") = found.map(_._2.size).sum
      }
      probes("plan_s") = median3("plan") {
        corpora.foreach(files => tracer("pipeline.plan") {
          WideTablePipeline.plan(spark, files, minRides = 50L)
        })
      }
      // runIncremental: once to warm up, once traced
      op(ctx, "refresh", () => refresh(ctx, "taxi_bulk", traced = false), traced = false, None)
      results += withListener(op(ctx, "refresh", () => refresh(ctx, "taxi_bulk", traced = true),
        traced = true, Some(listener)))
      tracer.op = "probe.hostile"
      probes("hostile") = tracer("pipeline.hostile") { hostile(ctx) }
    }

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val vmHwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toLong).getOrElse(0L)
    spark.stop()

    // -------- result file
    val opRecords = results.map { r =>
      val base = Map[String, Any]("kind" -> r.kind, "wall_s" -> r.wallNs / 1e9,
        "traced" -> r.traced, "layers" -> r.layers, "report" -> r.report)
      base ++ r.stats.map { s =>
        "stats" -> Map[String, Any](
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "build_jobs" -> s.buildJobs,
          "task_s" -> s.taskNs / 1e9, "task_cpu_s" -> s.cpuNs / 1e9,
          "input_rows" -> s.inputRows,
          "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
          "spill_bytes" -> s.spill, "output_bytes" -> s.outputBytes,
          "plan_s" -> s.planMs / 1e3, "scan_leaves" -> s.scanLeaves, "scan_bytes" -> s.scanBytes,
          "reread_bytes" -> s.rereadBytes, "pin_rdds" -> s.pinRdds, "pin_bytes" -> s.pinBytes,
          "idle_s" -> r.idleMs / 1e3)
      }
    }
    val out = setup ++ Map[String, Any](
      "workload" -> workload, "cpus" -> cpus,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "warmup_ops" -> warmup.size,
      "loop_s" -> loopS, "passes" -> passes, "gc_s" -> gcS,
      "peak_live_heap_mb" -> GcWatch.peakLiveBytes / 1048576.0,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "headline" -> headline, "heavy" -> heavy,
      "oracle_sql" -> (if (workload == "registry_mix")
        queries.flatMap(q => q.oracle.map(q.name -> _)).toMap else Map.empty),
      "min_distinct" -> (if (workload == "registry_mix")
        queries.flatMap(q => q.minDistinct.map { case (col, floor) => q.name -> Seq(col, floor) })
          .toMap else Map.empty),
      "failures" -> failures, "ops" -> opRecords, "probes" -> probes.toMap)
    writeResult(out)
    if (traceMode) tracer.write(s"$work/spans.jsonl")
  }
}
