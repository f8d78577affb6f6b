package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staged-vs-fused rehearsal for the q99 curation capstone (VERDICT r15
  * #5): the one-statement q99 query runs as a single fused plan (39
  * exchanges at r15), while the production shape at 100 TB is the
  * [[graft.queries.CurationDag]] staged execution with materialized
  * parquet intermediates (retry/backfill boundaries, fail-closed gates).
  * CurationDagSpec pins row-identity at sf0.01; this main re-proves it
  * at rehearsal SFs (sf1/sf10) and records which shape wins wall-clock —
  * one JSON line per run:
  *
  * {"staged_vs_fused":{"sf":…,"rows":N,"identical":true,
  *   "fused_s":…,"staged_s":…,"staged_stages":{…}}}
  *
  * Row-identity is checked with an order-independent content hash
  * (sum of xxhash64 over the canonicalized row string) plus exact
  * counts — collecting a 100 TB manifest to the driver is not a thing.
  *
  * Usage: sbt "runMain graft.StagedVsFused <sfDir> <workDir>"
  */
object StagedVsFused {

  /** (rows, order-independent content hash) over the manifest columns.
    * Nulls render as a sentinel so (null, "x") and ("x", null) differ.
    */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = Seq("doc_id", "lang", "split", "n_tokens", "pack_id")
    val row = df.select(
      xxhash64(concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0002NULL"))): _*)).as("h"))
    // decimal(38,0) sum: xxhash64 spans the full long range, so a long
    // sum overflows under ANSI mode.
    val agg = row.agg(count(lit(1)).as("n"),
      sum(col("h").cast("decimal(38,0)")).as("hs")).head()
    (agg.getLong(0), BigDecimal(agg.getDecimal(1)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val workDir = args.drop(1).headOption.getOrElse("/tmp/graft_svf")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Fs.rmTree(new java.io.File(workDir))

    def releaseShared(): Unit =
      (graft.queries.CurationDag.sharedCacheKeys ++
        graft.queries.Registry.byName("q99_curation_pipeline").releases)
        .distinct.foreach(k => graft.pipeline.SessionCache.release(spark, s"$k:$sfDir"))

    // Fused arm: the q99 statement, timed end-to-end including its
    // shared-relation cache builds (released first so neither arm rides
    // the other's warm cache), materialized to parquet like a real
    // manifest write — the same terminal IO the staged arm pays.
    releaseShared()
    val t0 = System.nanoTime()
    val fusedOut = s"$workDir/fused.parquet"
    graft.SparkEntry.queries("q99_curation_pipeline")(spark, sfDir)
      .write.mode("overwrite").parquet(fusedOut)
    val fusedS = (System.nanoTime() - t0) / 1e9
    releaseShared()

    // Staged arm: the CurationDag scheduler tick over a cold workDir —
    // seven stages, parquet handoffs, quality gates, commit swaps.
    val t1 = System.nanoTime()
    val runs = graft.pipeline.Dag.materialize(
      spark, graft.queries.CurationDag.stages(sfDir), workDir, refresh = true)
    val stagedS = (System.nanoTime() - t1) / 1e9

    val (fRows, fHash) = fingerprint(spark.read.parquet(fusedOut))
    val (sRows, sHash) = fingerprint(spark.read.parquet(s"$workDir/curated.parquet"))
    val identical = fRows == sRows && fHash == sHash
    val stageMs = runs.map(r => s"""${Jsons.quote(r.name)}:${r.millis}""").mkString(",")
    println(s"""{"staged_vs_fused":{"sf":${Jsons.quote(sfDir)},"rows":$fRows,""" +
      s""""identical":$identical,"fused_s":${"%.2f".format(fusedS)},""" +
      s""""staged_s":${"%.2f".format(stagedS)},"staged_stages_ms":{$stageMs}}}""")
    spark.stop()
    if (!identical) sys.exit(1)
  }
}
