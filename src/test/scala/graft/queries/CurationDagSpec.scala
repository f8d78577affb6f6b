package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r5 ask #2: the curation pipeline as a scheduled-batch DAG.
  * Pins (a) the DAG's final table against the declared q99 query output
  * row-for-row — the DAG re-cuts the SAME rule sites at scheduler
  * boundaries, so the two must never drift — and (b) the incremental
  * tick contract: a second `refresh = false` materialization reuses
  * every persisted stage and leaves the pack output byte-identical.
  */
class CurationDagSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fileBytes(dir: java.io.File): Map[String, Long] =
    dir.listFiles().filter(_.isFile).map(f => f.getName -> f.length()).toMap

  test("curation DAG materializes, matches q99, and ticks incrementally byte-identically") {
    val work = java.nio.file.Files.createTempDirectory("curation-dag").toString
    val runs = graft.pipeline.Dag.materialize(spark, CurationDag.stages(sf), work)
    assert(runs.map(_.name) == Seq("tok_counts", "exact_canon", "neardup_clusters",
      "contaminated", "keepers", "packed", "curated"))
    assert(runs.forall(r => !r.skipped))
    assert(runs.last.rows > 0)
    // The DAG's final manifest IS the q99 statement's output. The
    // handoff is hive-partitioned by split (partition columns read back
    // LAST), so the compare selects the query's column order by name.
    val fromDag = spark.read.parquet(s"$work/curated.parquet")
      .select("doc_id", "lang", "split", "n_tokens", "pack_id")
      .orderBy("doc_id").collect().toSeq
    val fromQuery = Registry.byName("q99_curation_pipeline").build(spark, sf)
      .collect().toSeq
    Registry.releasePoints(Seq("q99_curation_pipeline")).values
      .foreach(Registry.release(spark, sf, _))
    assert(fromDag == fromQuery, "DAG output and q99 query output must be identical")
    // Partitioned handoff (VERDICT r6 ask #3): a one-split consumer's
    // filter must become a PARTITION filter — directory pruning at plan
    // time, not a data filter over a full-table scan.
    val manifest = spark.read.parquet(s"$work/curated.parquet")
    val oneSplit = manifest.filter(org.apache.spark.sql.functions.col("split") === "train")
    val planStr = oneSplit.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [") && {
      val pf = planStr.substring(planStr.indexOf("PartitionFilters: ["))
      pf.substring(0, pf.indexOf("]")).contains("split")
    }, s"split filter must prune partitions, plan was:\n$planStr")
    assert(oneSplit.count() ==
      fromQuery.count(_.getString(2) == "train"), "pruned read returns the split's rows")
    // Incremental tick: nothing rebuilds, the pack bytes do not move.
    val packDir = new java.io.File(s"$work/packed.parquet")
    val before = fileBytes(packDir)
    val mtimes = packDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val again = graft.pipeline.Dag.materialize(
      spark, CurationDag.stages(sf), work, refresh = false)
    assert(again.forall(_.skipped), "a no-change tick reuses every persisted stage")
    assert(fileBytes(packDir) == before)
    assert(packDir.listFiles().map(f => f.getName -> f.lastModified()).toMap == mtimes,
      "pack output files untouched by the incremental tick")
    // A deleted downstream stage rebuilds ALONE from persisted inputs —
    // the retry/backfill boundary the parquet handoff exists for.
    graft.Fs.rmTree(new java.io.File(s"$work/curated.parquet"))
    val third = graft.pipeline.Dag.materialize(
      spark, CurationDag.stages(sf), work, refresh = false)
    assert(third.count(!_.skipped) == 1 && !third.last.skipped,
      "only the deleted stage re-materializes")
    val rebuilt = spark.read.parquet(s"$work/curated.parquet")
      .select("doc_id", "lang", "split", "n_tokens", "pack_id")
      .orderBy("doc_id").collect().toSeq
    assert(rebuilt == fromQuery)
    graft.Fs.rmTree(new java.io.File(work))
  }

  test("a curation tick leaves the session cache as it found it and still logs its builds") {
    import graft.pipeline.SessionCache
    val session = spark.newSession()
    val work = java.nio.file.Files.createTempDirectory("curation-cache").toString
    val before = SessionCache.liveKeys(session)
    graft.pipeline.Dag.materialize(session, CurationDag.stages(sf), work)
    // toks and contamHits included: no entry a tick builds outlives it.
    assert(SessionCache.liveKeys(session) == before,
      s"entries left by the tick: ${SessionCache.liveKeys(session) -- before}")
    // Which shared entries build depends on whether the dedup input
    // tables are committed for this corpus; toks and contamHits always do.
    val built = SessionCache.drainBuildLog(session).map(_._1).toSet
    assert(Set(s"toks:$sf", s"contamHits:$sf").subsetOf(built),
      s"build log after the tick: $built")
    graft.Fs.rmTree(new java.io.File(work))
  }
}
