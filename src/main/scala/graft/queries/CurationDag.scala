package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.pipeline.Dag
import graft.quality.DataQuality
import graft.sources.Tables

/** The q99 curation pipeline as a SCHEDULED-BATCH DAG (VERDICT r5 ask
  * #2) — the LLM-pipeline counterpart of [[graft.pipeline.Dag
  * .streetLevelDag]]: the same seven stages the one-statement q99 query
  * verifies, re-cut at the boundaries a scheduler retries/backfills at,
  * each handing off through a persisted parquet table. A daily tick with
  * `refresh = false` re-materializes only missing stages; `graft.RunDag
  * curation` drives it from the command line.
  *
  * Stage boundaries follow the rule sites, not the plan: every stage
  * calls the SAME `private[queries]` builder its standalone query
  * declares (tokenizer, md5-canonical window, jaccard-pair index +
  * min-label propagation, 5-shingle decontamination probe, salted strat
  * bucket, packTokens prefix sum, split bucket) — changing a curation
  * rule changes q99, its standalone query, and this DAG together, never
  * one of them. CurationDagSpec pins the DAG's final table against the
  * q99 query output row-for-row.
  *
  * Scale shape is inherited stage-by-stage (see each builder's notes):
  * roots scan the corpus once each, `keepers` joins id-keyed relations
  * (never bodies), `packed` is the data-flow prefix sum, and the only
  * corpus-wide state between ticks is parquet — a failed tick re-runs
  * one stage from its persisted inputs.
  */
object CurationDag {

  def stages(sfDir: String): Seq[Dag.Stage] = Seq(

    // ── Roots: one corpus scan each, all independent (a scheduler runs
    // them in parallel). Outputs are id-keyed — the corpus text never
    // enters a handoff table.
    Dag.Stage("tok_counts", Nil, (s, _) =>
      Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("n_tokens"))),

    Dag.Stage("exact_canon", Nil, (s, _) =>
      Tables.documents(s, sfDir)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("dg"))))
        .select(col("doc_id"), col("keep_id"))),

    Dag.Stage("neardup_clusters", Nil, (s, _) =>
      Dedup.dedupClustersRel(s, sfDir)),

    Dag.Stage("contaminated", Nil, (s, _) =>
      Dedup.contamProbe(s, sfDir).select(col("doc_id")).distinct()),

    // ── Survivors: the quality floor, both dedup canonicals, the
    // decontamination anti join, and the mixture-stratified sample —
    // all over the persisted id-keyed stage tables.
    Dag.Stage("keepers", Seq("tok_counts", "exact_canon", "neardup_clusters", "contaminated"),
      (s, up) =>
        up("tok_counts")
          .join(up("exact_canon"), "doc_id")
          .join(up("neardup_clusters"), Seq("doc_id"), "left")
          .join(up("contaminated"), Seq("doc_id"), "left_anti")
          .filter(EvalSet.isTrain(col("doc_id")))
          .filter(col("keep_id") === col("doc_id"))
          .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .filter(col("n_tokens") >= 15)
          .filter(TextAnalysis.stratKeep)
          .select(col("doc_id"), col("lang"), col("n_tokens"))),

    // ── Sequence packing over the survivors (q66's distributed prefix
    // sum, 4096-token budget).
    Dag.Stage("packed", Seq("keepers"), (s, up) =>
      TextAnalysis.packTokens(
        up("keepers").select(col("doc_id"), col("n_tokens")), 4096L, 512L)),

    // ── Final corpus manifest: split assignment joined back to the pack
    // layout — value-for-value the q99 statement's output. Persisted
    // PARTITIONED BY split: the manifest's consumers (a trainer reading
    // `train`, an eval job reading `val`) filter on exactly that column,
    // and the hive layout turns the filter into partition pruning — at
    // 100 TB a split-read must list one directory, not scan the table
    // (the reference's DuckDB-persisted asset boundary, hg/__init__.py:
    // 11-15, is the same handoff shape). Parquet appends partition
    // columns after data columns on read-back; consumers select by name.
    Dag.Stage("curated", Seq("packed", "keepers"), (s, up) =>
      up("packed")
        .join(up("keepers").select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), TextAnalysis.splitName.as("split"),
          col("n_tokens"), col("pack_id"))
        .orderBy(col("doc_id")),
      partitionBy = Seq("split"),
      // Fail-closed gate on the publishable manifest (VERDICT r13 #7):
      // a tick that would emit null keys, a split outside the declared
      // domain, sub-floor documents, or duplicate doc_ids aborts before
      // the commit swap and the prior manifest stays live. These mirror
      // the q96/q97 check families — here they CONSUME the metrics as a
      // gate instead of only reporting them.
      requireChecks = Seq(
        DataQuality.run(_, Seq(
          DataQuality.NotNull("doc_id"),
          DataQuality.NotNull("pack_id"),
          DataQuality.InRange("n_tokens", 15, Long.MaxValue.toDouble),
          DataQuality.AcceptedValues("split", Seq("train", "val", "test")))),
        DataQuality.uniqueness(_, Seq("doc_id")))))

  /** SessionCache keys the root stages build through the shared relation
    * builders. Informational: [[graft.pipeline.Dag.materialize]] releases
    * every entry a tick builds (these and the rest) before it returns,
    * so no caller needs to release them.
    */
  val sharedCacheKeys: Seq[String] = Seq("shingleSets", "sh5", "jacPairs", "dedupClusters")
}
