package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{DedupSql => DS, TextSql => TS}
import graft.sources.Tables._

/** The capstone: the WHOLE training-data curation pipeline as one
  * declared, fully-oracled query — the composition a real 100 TB corpus
  * run executes, built from the stages the individual queries verify:
  *
  *   quality floor (token count) → exact dedup (md5-canonical) →
  *   near-dup canonical (cluster min survives) → benchmark
  *   decontamination (5-shingle collision with the held-out eval set) →
  *   stratified sampling (salted-hash keep rates) → split assignment →
  *   sequence packing (distributed prefix sum).
  *
  * Every stage reuses the exact shared relations and kernels its
  * standalone query declared (token arrays, cluster labels, 5-shingle
  * sets, the polynomial hash, packTokens), so the pipeline inherits
  * their scale shapes: one tokenize pass, map-side decontamination
  * probe, no unpartitioned windows, cluster labels from the
  * pointer-jumping loop. The DuckDB oracle is the same WITH-chain over
  * the shared SQL fragments — one statement defining the entire corpus
  * run, independent of any of the Spark-side machinery. Like q41/q55,
  * the oracle's near-dup stage is the deliberately declarative O(n²)
  * pair SPEC (+ recursive closure): it is the definition the engine is
  * checked against at sf0.01, not a program to race — never run it at
  * sf0.1 (see the verify skill's caveat).
  */
object Curation {

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q99_curation_pipeline",
      Some(s"""
        WITH RECURSIVE ${Dedup.shinglesSqlCte.trim.stripPrefix("WITH")},
        edges AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE ${DS.jaccardExpr("a.shingles", "b.shingles")} >= 0.5),
        sym AS (SELECT a_id AS src, b_id AS dst FROM edges
                UNION SELECT b_id, a_id FROM edges),
        reach(src, dst) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        clust AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
                  FROM reach GROUP BY src),
        fp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
               FROM documents),
        sh5 AS (SELECT doc_id, ${TS.shinglesExpr("toks", 5)} AS s5 FROM toks),
        evu AS (SELECT DISTINCT u.s FROM sh5, (SELECT unnest(s5) AS s) u
                WHERE ${EvalSet.sqlEval("doc_id")}),
        cont AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, u.s FROM sh5, (SELECT unnest(s5) AS s) u
                WHERE ${EvalSet.sqlTrain("doc_id")}) t
          JOIN evu ON t.s = evu.s),
        keepers AS (
          SELECT d.doc_id, d.lang, ${TS.tokenCountExpr("t.toks")}::BIGINT AS n_tokens
          FROM documents d
          JOIN toks t ON t.doc_id = d.doc_id
          JOIN fp ON fp.doc_id = d.doc_id
          LEFT JOIN clust c ON c.doc_id = d.doc_id
          WHERE ${EvalSet.sqlTrain("d.doc_id")}
            AND fp.keep_id = d.doc_id
            AND (c.cluster_id IS NULL OR c.cluster_id = d.doc_id)
            AND d.doc_id NOT IN (SELECT doc_id FROM cont)
            AND ${TS.tokenCountExpr("t.toks")} >= 15
            AND ${TS.stringHashExpr("'strat|' || d.doc_id::VARCHAR")} % 100
                < (CASE WHEN d.lang = 'en' THEN 30 ELSE 80 END)),
        packed AS (
          SELECT doc_id, lang, n_tokens,
                 ${TS.stringHashExpr("doc_id::VARCHAR")} % 10 AS sb,
                 sum(n_tokens) OVER (ORDER BY doc_id) AS running
          FROM keepers)
        SELECT doc_id, lang,
               CASE WHEN sb < 8 THEN 'train' WHEN sb = 8 THEN 'val' ELSE 'test' END AS split,
               n_tokens,
               ((running - n_tokens) // 4096)::BIGINT AS pack_id
        FROM packed ORDER BY doc_id"""),
      uses = Seq("toks", "docDigests", "contamHits", "dedupClusters", "curated"))( (spark, dir) => {
      val d = documents(spark, dir)
      val nTok = TextAnalysis.tokenArrays(spark, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      // r19 (guide §2.3/§2.4): the md5-canonical rule ran as a window
      // over PARTITION BY dg — a full-corpus shuffle of (doc_id, 32-char
      // digest) plus a per-partition sort — when the only thing keepers
      // consumes is the keep_id === doc_id FILTER. The min-per-digest
      // survivor set is a partial-aggregating groupBy (one (dg, min)
      // pair per distinct digest per map task crosses the exchange, no
      // sort) and the filter becomes a doc_id semi-join that rides the
      // keepers chain's existing doc_id partitioning. Same rule, same
      // rows — q40 already spells exact-dedup this way.
      // r20: the digest comes from the shared Dedup.docDigests cache
      // (one md5 pass per corpus across q40/q57/q99) — same digests,
      // same min-per-digest survivor rule.
      val canonKeep = Dedup.docDigests(spark, dir)
        .groupBy(col("digest").as("dg"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val clust = Dedup.dedupClustersRel(spark, dir)
      // Same shared rule sites as the standalone queries: the
      // decontamination probe (q59), the stratification and split
      // buckets (q58/q56) — changing any rule changes both the
      // standalone query and the pipeline, never one of them.
      val cont = Dedup.contamProbe(spark, dir).select(col("doc_id")).distinct()
      val keepers = d.select(col("doc_id"), col("lang"))
        .join(nTok, "doc_id")
        .join(canonKeep, Seq("doc_id"), "left_semi")
        .join(clust, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left_anti")
        .filter(EvalSet.isTrain(col("doc_id")))
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .filter(col("n_tokens") >= 15)
        .filter(TextAnalysis.stratKeep)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      // Survivors feed three subtrees (the pack's block sums, the pack
      // itself, and the final join-back) — one SessionCache entry.
      val curated = graft.pipeline.SessionCache.getOrPersist(spark, s"curated:$dir")(keepers)
      TextAnalysis.packTokens(curated.select(col("doc_id"), col("n_tokens")), 4096L, 512L)
        .join(curated.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), TextAnalysis.splitName.as("split"),
          col("n_tokens"), col("pack_id"))
        .orderBy(col("doc_id"))
    })
  )
}
