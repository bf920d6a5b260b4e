package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Each operation the benchmark times is a
  * span whose id is also the Spark job group, so every job, stage and
  * task the operation starts is attributed to it; the query executions
  * (with their Catalyst phase times) delivered while the span is open
  * belong to it too. Spans are kept in memory and written out when the
  * benchmark ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  final class Span(val id: String, val kind: String, val label: String,
      val timed: Boolean) {
    var startMs = 0L
    var endMs = 0L
    var ok = true
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskRunMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spillDisk = 0L
    var spillMem = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var executions = 0
    var analysisMs = 0L
    var optimizationMs = 0L
    var planningMs = 0L
    var gcMs = 0L
    var jitMs = 0L
    var residueMb = 0.0
    var rowsOut = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()

    def seconds: Double = (endMs - startMs) / 1000.0

    /** Share of the span's wall time in which no task was running. */
    def driverGapFrac: Double = {
      val sorted = intervals.map { case (a, b) =>
        (math.max(a, startMs), math.min(b, endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      sorted.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      val wall = math.max(1L, endMs - startMs)
      1.0 - covered.toDouble / wall
    }

    def json: String = {
      import Main.{jnum, jstr}
      Seq("id" -> jstr(id), "kind" -> jstr(kind), "label" -> jstr(label),
        "timed" -> timed.toString, "ok" -> ok.toString,
        "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
        "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
        "task_run_ms" -> taskRunMs.toString, "cpu_ns" -> cpuNs.toString,
        "shuffle_write_b" -> shuffleWrite.toString, "shuffle_read_b" -> shuffleRead.toString,
        "fetch_wait_ms" -> fetchWaitMs.toString, "spill_disk_b" -> spillDisk.toString,
        "spill_mem_b" -> spillMem.toString, "input_b" -> inputBytes.toString,
        "input_records" -> inputRecords.toString, "executions" -> executions.toString,
        "analysis_ms" -> analysisMs.toString, "optimization_ms" -> optimizationMs.toString,
        "planning_ms" -> planningMs.toString, "gc_ms" -> gcMs.toString,
        "jit_ms" -> jitMs.toString, "residue_mb" -> jnum(residueMb),
        "rows_out" -> rowsOut.toString, "driver_gap_frac" -> jnum(driverGapFrac))
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    }
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.HashMap[String, Span]()
  private val stageSpan = mutable.HashMap[Int, Span]()
  @volatile private var current: Span = null

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jitBean = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  private def gcNow: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def jitNow: Long = jitBean.map(_.getTotalCompilationTime).getOrElse(0L)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def open(id: String, kind: String, label: String, timed: Boolean): Unit = {
    val s = new Span(id, kind, label, timed)
    synchronized { spans += s; byId(id) = s; current = s }
    spark.sparkContext.setJobGroup(id, label, interruptOnCancel = false)
    s.gcMs = -gcNow
    s.jitMs = -jitNow
    s.startMs = System.currentTimeMillis()
  }

  def close(id: String, ok: Boolean): Unit = {
    val s = byId(id)
    s.endMs = System.currentTimeMillis()
    s.gcMs += gcNow
    s.jitMs += jitNow
    s.ok = ok
    s.residueMb = spark.sparkContext.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum / 1048576.0
    BenchAccess.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    synchronized { current = null }
  }

  private def spanOf(props: java.util.Properties): Span = synchronized {
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(byId.get).getOrElse(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) synchronized {
      s.jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillDisk += m.diskBytesSpilled
        s.spillMem += m.memoryBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val s = current
    if (s != null) {
      s.executions += 1
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Attributes `n` output rows to the most recently closed span. */
  def rowsOut(n: Long): Unit = synchronized { spans.lastOption.foreach(_.rowsOut += n) }

  // ETL-only measurements, set by EtlWorkload in a traced run
  private val stageRows = mutable.ArrayBuffer[(Double, Double, Double, Long)]()
  private val cursorSecs = mutable.ArrayBuffer[Double]()
  private val filesPerCycle = mutable.ArrayBuffer[Int]()
  var compactMb = 0.0
  private var sinkFiles = 0
  private var sinkBytesPerRow = 0.0
  var blocksPerCycle = 0

  def stageTimes(scan: Double, enrich: Double, enforce: Double, rangeBytes: Long): Unit =
    stageRows += ((scan, enrich, enforce, rangeBytes))

  def cycleFiles(n: Int): Unit = filesPerCycle += n

  def cursorProbe(dir: String, value: Long): Unit = {
    val t0 = System.nanoTime()
    val c = graft.etl.Cursor(dir)
    c.read()
    c.write(value)
    cursorSecs += (System.nanoTime() - t0) / 1e9
  }

  def etlSizes(files: Int, bytesPerRow: Double): Unit = {
    sinkFiles = files
    sinkBytesPerRow = bytesPerRow
  }

  def writeSpans(path: Path): Unit =
    Files.write(path, spans.map(_.json).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))

  /** Per-layer metrics, per timed operation, as a JSON object. */
  def layerJson(samples: Seq[OpSample]): String = {
    import Main.{jnum, jstr}
    val timed = spans.filter(_.timed).toSeq
    val nOps = math.max(1, samples.count(_.primary))
    def per(f: Span => Double, in: Seq[Span] = timed): Double = in.map(f).sum / nOps
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def kindMed(k: String): Double = med(samples.filter(_.kind == k).map(_.seconds))
    val mb = 1048576.0
    val cycles = timed.filter(_.kind == "cycle")
    val nCycles = math.max(1, cycles.size)
    val cycleMed = kindMed("cycle")
    val st = stageRows.toSeq
    val rowsOut = timed.map(_.rowsOut).sum
    val wall = timed.map(_.seconds).sum
    val m = mutable.LinkedHashMap[String, Double](
      "etl.scan_s" -> med(st.map(_._1)),
      "etl.enrich_s" -> med(st.map(_._2)),
      "etl.enforce_s" -> med(st.map(_._3)),
      "etl.load_s" -> (if (st.isEmpty) 0.0
        else math.max(0.0, cycleMed - med(st.map(_._1)) - med(st.map(_._2)) - med(st.map(_._3)))),
      "etl.cursor_s" -> med(cursorSecs.toSeq),
      "etl.cycle_p50_s" -> cycleMed,
      "etl.read_p50_s" -> kindMed("read"),
      "etl.blocks_per_s" -> (if (cycles.isEmpty) 0.0
        else blocksPerCycle * cycles.size / samples.filter(_.primary).map(_.seconds).sum),
      "etl.jobs_per_cycle" -> cycles.map(_.jobs.toDouble).sum / nCycles,
      "etl.input_mb_per_cycle" -> cycles.map(_.inputBytes / mb).sum / nCycles,
      "etl.read_amplification" -> (if (st.isEmpty || st.map(_._4).sum == 0) 0.0
        else cycles.map(_.inputBytes.toDouble).sum / st.map(_._4.toDouble).sum),
      "etl.files_per_cycle" -> (if (filesPerCycle.isEmpty) 0.0
        else filesPerCycle.sum.toDouble / filesPerCycle.size),
      "etl.sink_files" -> sinkFiles.toDouble,
      "etl.sink_bytes_per_row" -> sinkBytesPerRow,
      "etl.compact_s" -> kindMed("maintain"),
      "etl.compact_mb_rewritten" -> compactMb,
      "plan.analysis_ms" -> per(_.analysisMs.toDouble),
      "plan.optimization_ms" -> per(_.optimizationMs.toDouble),
      "plan.planning_ms" -> per(_.planningMs.toDouble),
      "plan.executions_per_op" -> per(_.executions.toDouble),
      "exec.jobs_per_op" -> per(_.jobs.toDouble),
      "exec.stages_per_op" -> per(_.stages.toDouble),
      "exec.tasks_per_op" -> per(_.tasks.toDouble),
      "exec.driver_gap_frac" -> (if (wall <= 0) 0.0
        else timed.map(s => s.driverGapFrac * s.seconds).sum / wall),
      "exec.task_busy_frac" -> (if (wall <= 0) 0.0
        else timed.map(_.taskRunMs / 1000.0).sum / (wall * 4)),
      "exec.cpu_s" -> per(_.cpuNs / 1e9),
      "shuffle.write_mb" -> per(_.shuffleWrite / mb),
      "shuffle.read_mb" -> per(_.shuffleRead / mb),
      "shuffle.fetch_wait_ms" -> per(_.fetchWaitMs.toDouble),
      "spill.disk_mb" -> per(_.spillDisk / mb),
      "spill.memory_mb" -> per(_.spillMem / mb),
      "io.input_mb" -> per(_.inputBytes / mb),
      "io.records_read_per_row_out" -> (if (rowsOut == 0) 0.0
        else timed.map(_.inputRecords.toDouble).sum / rowsOut),
      "operators.ann_build_s" -> kindMed("ann_build"),
      "operators.ann_probe_s" -> kindMed("ann_probe"),
      "operators.bm25_build_s" -> kindMed("bm25_build"),
      "operators.bm25_probe_s" -> kindMed("bm25_probe"),
      "operators.index_mb_written" -> indexMb,
      "jvm.gc_ms" -> per(_.gcMs.toDouble),
      "jvm.jit_ms" -> per(_.jitMs.toDouble),
      "storage.residue_mb" -> per(_.residueMb))
    QueryWorkload.Queries.foreach { case (q, mod) =>
      m(s"queries.$mod.p50_s") = med(samples.filter(s => s.kind == "query" && s.label == q)
        .map(_.seconds))
    }
    m.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
  }

  /** Median MB an index build left on disk; set by QueryWorkload. */
  var indexMb = 0.0
}
