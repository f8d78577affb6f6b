package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement-only harness (guide §1): isolate one declared query and
  * report where its bench seconds actually go. For each named query:
  *   - N repeated noop-sink materializations (fresh DataFrame each
  *     iteration, exactly Bench's timed shape), per-iteration seconds;
  *   - stage count / task count / executor-run time / shuffle bytes per
  *     iteration from a SparkListener (the local-mode stand-in for the
  *     Spark UI stage table);
  *   - optional `.explain("formatted")` dump to a file (plans/r19/).
  *
  * Usage: runMain graft.Profile <sfDir> <iters> [--plans <outDir>] q...
  * Never run by the driver; adds no query and changes no declared result.
  */
object Profile {

  final class StageTally extends SparkListener {
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val runMs = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      runMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
      shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def snapshotAndReset(): (Int, Int, Long, Long, Long) = {
      val r = (stages.get(), tasks.get(), runMs.get(), shufRead.get(), shufWrite.get())
      stages.set(0); tasks.set(0); runMs.set(0L); shufRead.set(0L); shufWrite.set(0L)
      r
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val (plansDir, names0) = args.drop(2) match {
      case Array("--plans", d, rest @ _*) => (Some(d), rest)
      case rest => (None, rest.toSeq)
    }
    val names = if (names0.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Same setup as Bench: ensure + seed input tables so the profiled
    // plan is the production table-read shape, not in-query derivation.
    Seq(graft.pipeline.DetectionsTable, graft.pipeline.WallFeaturesTable,
        graft.queries.ShinglesTable, graft.queries.DedupClustersTable,
        graft.queries.GroupedDetectionsTable,
        graft.queries.AnnIndexTable).foreach { t =>
      try { t.ensure(spark, sfDir); t.seedSessionCaches(spark, sfDir) }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] ${t.tableName} unavailable: $e")
      }
    }
    // The setup's builds are not the first iteration's.
    graft.pipeline.SessionCache.drainBuildLog(spark)
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      plansDir.foreach { d =>
        new java.io.File(d).mkdirs()
        val df = fn(spark, sfDir)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      (1 to iters).foreach { i =>
        // Mirror Bench: plan built inside the timed window, fresh per
        // iteration. Afterward release every key the query may touch
        // (the session-lifetime keys apart), so each iteration starts
        // from the same cache state and rebuilds the same entries.
        spark.sparkContext.setJobDescription(s"$name iter $i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.queries.Registry.releasePoints(Seq(name)).values
          .foreach(graft.queries.Registry.release(spark, sfDir, _))
        val builtMs = graft.pipeline.SessionCache.drainBuildLog(spark).map(_._2).sum
        // Listener events are posted async; a short settle beats reaching
        // into the private listener bus for a measurement harness.
        Thread.sleep(120)
        val (st, tk, rms, sr, sw) = tally.snapshotAndReset()
        println(f"[profile] $name%-28s iter=$i dt=$dt%7.3fs cache_build=${builtMs}ms " +
          f"stages=$st tasks=$tk execRunMs=$rms shufR=${sr >> 10}KB shufW=${sw >> 10}KB")
      }
    }
    spark.stop()
  }
}
