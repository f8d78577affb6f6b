package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * id of the enclosing span (0 for the root).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Length of the union of `spans` clipped to [from, to]. */
object Intervals {
  def covered(spans: Iterable[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = spans.iterator.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Spark-side recorders for the traced run: a SparkListener for jobs,
  * stages, tasks and storage, a QueryExecutionListener for the planning
  * phases, and a sampler for SessionCache residency. Everything stays in
  * memory until [[Tracer.finish]] drains the bus and folds them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  import Tracer.{JobRec, StageRec}

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskMs = mutable.ArrayBuffer.empty[Double]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var queryExecutions = 0L
  /** Cleared by [[finish]]: later jobs (the output check) are not the tick's. */
  private var recording = true

  private def record(f: => Unit): Unit = synchronized { if (recording) f }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = JobRec(group, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stages += StageRec(i.stageId, a.toDouble, b.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
      taskMs += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        sums("exec.run_ms") += m.executorRunTime
        sums("exec.cpu_ms") += m.executorCpuTime / 1e6
        sums("exec.gc_ms") += m.jvmGCTime
        sums("exec.deser_ms") += m.executorDeserializeTime
        sums("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        sums("shuffle.records") += m.shuffleWriteMetrics.recordsWritten
        sums("shuffle.read_mb") += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        sums("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        sums("shuffle.spill_disk_mb") += m.diskBytesSpilled / 1048576.0
        sums("sources.input_mb") += m.inputMetrics.bytesRead / 1048576.0
        sums("sources.input_records") += m.inputMetrics.recordsRead
      }
    }
  }

  private val phaseListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = record {
      queryExecutions += 1
      qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(qe)
  }

  @volatile private var sampling = true
  @volatile private var livePeak = 0
  @volatile private var storagePeakBytes = 0L
  private val sampler = new Thread(() => {
    while (sampling) {
      livePeak = math.max(livePeak, graft.pipeline.SessionCache.liveKeys(spark).size)
      val used = sc.getExecutorMemoryStatus.valuesIterator.map { case (max, free) => max - free }.sum
      storagePeakBytes = math.max(storagePeakBytes, used)
      Thread.sleep(20)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  private val compiles0 = Codegen.snapshot()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  sc.addSparkListener(listener)
  spark.listenerManager.register(phaseListener)
  sampler.start()

  def span(parent: Long, layer: String, name: String, start: Double, end: Double): Span =
    synchronized {
      val s = Span(nextId, parent, layer, name, start, end)
      nextId += 1
      spans += s
      s
    }

  /** Stop recording and fold everything into `<layer>.<name>` values
    * for one tick: `tick` is the tick span, `stageSpans` the DAG stages
    * run inside it (name → span).
    */
  def finish(tick: Span, stageSpans: Map[String, Span]): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sampling = false
    sampler.join()
    synchronized {
      recording = false
      val out = mutable.LinkedHashMap.empty[String, Double]
      // Job and Spark-stage spans hang under the DAG stage of their job
      // group; their self time is what the next layer down leaves idle.
      val stageParent = stageSpans.map { case (n, s) => n -> s.id }
      val jobSpans = jobs.toSeq.filter(!_._2.end.isNaN).map { case (id, j) =>
        id -> span(stageParent.getOrElse(j.group, tick.id), "job", s"job-$id", j.start, j.end)
      }.toMap
      val stageOwner = jobs.toSeq.flatMap { case (id, j) => j.stageIds.map(_ -> id) }
        .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
      stages.foreach { s =>
        val parent = stageOwner.get(s.id).flatMap(jobSpans.get).map(_.id).getOrElse(tick.id)
        span(parent, "spark-stage", s"stage-${s.id}", s.start, s.end)
      }
      out("sql.analysis_ms") = phases("analysis")
      out("sql.optimization_ms") = phases("optimization")
      out("sql.planning_ms") = phases("planning")
      out("sql.query_executions") = queryExecutions.toDouble
      val compiles = Codegen.snapshot()
      out("sql.codegen_compiles") = (compiles._1 - compiles0._1).toDouble
      out("sql.codegen_compile_ms") = compiles._2 - compiles0._2
      out("sched.jobs") = jobSpans.size.toDouble
      out("sched.stages") = stages.size.toDouble
      out("sched.tasks") = taskMs.size.toDouble
      out("sched.job_ms") = jobSpans.valuesIterator.map(_.ms).sum
      out("sched.gap_ms") = stageSpans.toSeq.map { case (name, st) =>
        val mine = jobs.valuesIterator.filter(j => j.group == name && !j.end.isNaN)
          .map(j => (j.start, j.end)).toSeq
        st.ms - Intervals.covered(mine, st.start, st.end)
      }.sum
      out("sched.job_self_ms") = jobSpans.toSeq.map { case (id, js) =>
        val mine = stages.iterator.filter(s => stageOwner.get(s.id).contains(id))
          .map(s => (s.start, s.end)).toSeq
        js.ms - Intervals.covered(mine, js.start, js.end)
      }.sum
      Seq("exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.deser_ms",
        "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms",
        "shuffle.spill_disk_mb", "shuffle.records", "sources.input_mb",
        "sources.input_records").foreach(k => out(k) = sums(k))
      out("cache.live_peak") = livePeak.toDouble
      out("cache.storage_peak_mb") = storagePeakBytes / 1048576.0
      out.toMap
    }
  }

  def taskDurations: Seq[Double] = synchronized(taskMs.toSeq)
  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Per span layer: span count and self time, each span's duration
    * minus the part of it its child spans cover. */
  def selfTimes: Map[String, Map[String, Double]] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> Map("spans" -> ss.size.toDouble, "self_ms" -> ss.map { s =>
        s.ms - Intervals.covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum)
    }
  }
}

object Tracer {
  private final case class JobRec(group: String, start: Double, var end: Double, stageIds: Seq[Int])
  private final case class StageRec(id: Int, start: Double, end: Double)
}

/** Janino compilations since JVM start: (count, total ms). The codegen
  * histogram is a sampling reservoir; below its 1028-sample capacity it
  * holds every compile, so the total is exact, and above it the mean of
  * the retained samples scales the exact count.
  */
object Codegen {
  def snapshot(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    (n, if (s.size == 0) 0.0 else s.getValues.map(_.toDouble).sum / s.size * n)
  }
}
