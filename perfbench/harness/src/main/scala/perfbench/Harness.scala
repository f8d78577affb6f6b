package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Dag, SessionCache, SweepStats}
import graft.queries.{CurationDag, DedupClustersTable, ShinglesTable}

/** One iteration of a benchmark workload in a fresh JVM: set up a
  * session, run a full-refresh DAG tick on an empty work dir, then
  * [[ReuseTicks]] `refresh = false` reuse ticks, and write what happened
  * as JSON.
  *
  *   Harness --workload <name> --data <sfDir> --work <dir> --out <file>
  *           --trace <0|1> --launched-ms <epoch ms the JVM was started>
  *   Harness --setup-only 1 --work <dir> --out <file> --launched-ms <ms>
  *   Harness --selftest <dir> --out <file>
  *
  * A set-up probe is a further fresh JVM that only opens a session, so
  * the set-up time is a median over several JVMs.
  *
  * With `--trace 1` the stages are wrapped to tag their Spark jobs and
  * time their DataFrame construction, and a [[Tracer]] records spans and
  * layer counters; untraced iterations run the program's stages as is.
  */
object Harness {

  final case class Workload(
      stages: String => Seq[Dag.Stage],
      /** SessionCache entries the DAG's builders leave; released after
        * the full tick exactly as the program's RunDag does. */
      sharedCacheKeys: Seq[String])

  val workloads: Map[String, Workload] = Map(
    "street-tick-sf0.1" -> Workload(Dag.streetLevelDag, Nil),
    "curation-tick-sf0.1" -> Workload(CurationDag.stages, CurationDag.sharedCacheKeys))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val record = opts.get("selftest") match {
      case Some(dir) => SelfTest.run(dir)
      case None if opts.get("setup-only").contains("1") =>
        val spark = session(opts("work"))
        val setupMs = System.currentTimeMillis() - opts("launched-ms").toDouble
        spark.stop()
        Map("setup_ms" -> setupMs)
      case None =>
        iteration(opts("workload"), opts("data"), opts("work"), opts("trace") == "1",
          opts("launched-ms").toDouble)
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      json.writeValueAsString(record))
  }

  /** Task slots of the benchmark's `local[4]` session. */
  val Cpus = 4

  def session(work: String): SparkSession = {
    val spark = graft.Sessions.builder(Cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One `Dag.materialize` call. A throw fails the tick and leaves no
    * stage runs, so every stage of a failing tick fails its check.
    */
  final case class Tick(ms: Double, runs: Seq[Dag.StageRun], error: Option[String])

  def tick(spark: SparkSession, stages: Seq[Dag.Stage], dir: String, refresh: Boolean): Tick = {
    val t0 = System.nanoTime()
    try {
      val runs = Dag.materialize(spark, stages, dir, refresh)
      Tick((System.nanoTime() - t0) / 1e6, runs, None)
    } catch {
      case NonFatal(e) => Tick((System.nanoTime() - t0) / 1e6, Nil, Some(e.toString))
    }
  }

  /** Per stage: rows and wall ms of the full tick, whether every reuse
    * tick reused it, and the digest of the committed table.
    */
  def stageReport(spark: SparkSession, stages: Seq[Dag.Stage], dagDir: String,
      full: Tick, reuses: Seq[Tick]): Map[String, Any] = {
    val built = full.runs.map(r => r.name -> r).toMap
    stages.map { s =>
      val digest = built.get(s.name).map(_ =>
        Digest(spark.read.parquet(s"$dagDir/${s.name}.parquet")))
      s.name -> Map(
        "rows" -> built.get(s.name).map(_.rows),
        "ms" -> built.get(s.name).map(_.millis),
        "digest_rows" -> digest.map(_._1),
        "digest" -> digest.map(_._2),
        "reused" -> reuses.forall(_.runs.exists(r => r.name == s.name && r.skipped)))
    }.toMap
  }

  def tickRecord(ticks: Seq[Tick]): Map[String, Any] =
    Map("ms" -> ticks.map(_.ms), "error" -> ticks.flatMap(_.error).headOption)

  /** Reuse ticks per iteration: each costs a fraction of a second, so
    * the reported reuse time is the median of several. */
  val ReuseTicks = 5

  def iteration(workload: String, data: String, work: String, traced: Boolean,
      launchedMs: Double): Map[String, Any] = {
    val w = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val dagDir = s"$work/dag"
    require(!new java.io.File(dagDir).exists(), s"work dir $dagDir is not empty")
    val spark = session(work)
    // The stated input state: no materialized dedup input table exists
    // for this corpus path, so neardup_clusters derives its clusters
    // live in every tick (the benchmark never calls InputTable.ensure).
    require(DedupClustersTable.materializedPath(data).isEmpty &&
      ShinglesTable.materializedPath(data).isEmpty,
      s"a materialized input table exists for $data")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val plain = w.stages(data)
    val stageStart = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val buildNanos = new java.util.concurrent.atomic.AtomicLong()
    val stages = tracer.fold(plain)(tr => plain.map(s => s.copy(build = (sp, up) => {
      sp.sparkContext.setJobGroup(s.name, s"perfbench ${s.name}", interruptOnCancel = false)
      stageStart.put(s.name, tr.now())
      val t0 = System.nanoTime()
      try s.build(sp, up) finally buildNanos.addAndGet(System.nanoTime() - t0)
    })))
    val setupEnd = System.currentTimeMillis().toDouble

    val tickStart = tracer.fold(0.0)(_.now())
    val full = tick(spark, stages, dagDir, refresh = true)
    val retainedHeap = Proc.retainedHeapBytes()
    val cacheBuilds = SessionCache.drainBuildLog(spark)
    w.sharedCacheKeys.foreach(k => SessionCache.release(spark, s"$k:$data"))
    val layers = tracer.fold(Map.empty[String, Double]) { tr =>
      val run = tr.span(0, "run", workload, launchedMs, tr.now())
      tr.span(run.id, "setup", "setup", launchedMs, setupEnd)
      val tickSpan = tr.span(run.id, "tick", "full", tickStart, tickStart + full.ms)
      val stageSpans = full.runs.flatMap(r => Option(stageStart.get(r.name)).map(st =>
        r.name -> tr.span(tickSpan.id, "dag-stage", r.name, st, st + r.millis))).toMap
      val geo = SweepStats.forSession(spark)
      val traced = tr.finish(tickSpan, stageSpans)
      traced ++ Map(
        "exec.busy_share" -> traced("exec.run_ms") / (full.ms * Cpus),
        "dag.overlap" -> full.runs.map(_.millis).sum / full.ms,
        "queries.build_ms" -> buildNanos.get / 1e6,
        "cache.build_ms" -> cacheBuilds.map(_._2).sum.toDouble,
        "cache.builds" -> cacheBuilds.size.toDouble,
        "dag.self_ms" -> (full.ms - Intervals.covered(
          stageSpans.values.map(s => (s.start, s.end)), tickSpan.start, tickSpan.end)),
        "geo.pairs_enumerated" -> geo.pairsEnumerated.value.toDouble,
        "geo.max_group_boxes" -> geo.maxGroupBoxes.value.toDouble,
        "geo.dense_groups" -> geo.denseGroups.value.toDouble)
    }
    val reuses = Seq.fill(ReuseTicks)(tick(spark, stages, dagDir, refresh = false))
    val peakRssKb = Proc.vmHwmKb()
    val checkStart = System.nanoTime()
    val report = stageReport(spark, stages, dagDir, full, reuses)
    System.err.println(f"perfbench: output check ${(System.nanoTime() - checkStart) / 1e6}%.0f ms")
    val record = Map(
      "workload" -> workload,
      "setup_ms" -> (setupEnd - launchedMs),
      "full" -> tickRecord(Seq(full)),
      "reuse" -> tickRecord(reuses),
      "stages" -> report,
      "written_bytes" -> Proc.parquetBytes(new java.io.File(dagDir)),
      "peak_rss_kb" -> peakRssKb,
      "retained_heap_bytes" -> retainedHeap,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "layers" -> layers,
      "task_ms" -> tracer.fold(Seq.empty[Double])(_.taskDurations),
      "self_times" -> tracer.fold(Map.empty[String, Any])(_.selfTimes),
      "spans" -> tracer.fold(Seq.empty[Map[String, Any]])(_.allSpans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))))
    spark.stop()
    record
  }
}

object Proc {
  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Heap in use after full collections: what the session retains
    * (SessionCache storage, broadcasts, plan and codegen caches). Spark
    * frees broadcast and shuffle blocks only after a collection shows
    * them unreachable, so collect until the heap stops shrinking. Taken
    * right after the full tick, before its shared caches are released.
    */
  def retainedHeapBytes(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = collect()
    var rounds = 1
    var next = { Thread.sleep(200); collect() }
    while (next < last * 0.99 && rounds < 6) {
      last = next
      rounds += 1
      next = { Thread.sleep(200); collect() }
    }
    math.min(last, next)
  }

  /** Bytes of the parquet part files under `dir`. */
  def parquetBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).iterator.map { f =>
      if (f.isDirectory) parquetBytes(f)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    }.sum
}
