package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, TextSql => TS}
import graft.sources.Tables._

/** Text-analysis declared queries over the `documents` table (north-star
  * extension: token counting, quality scoring, language-ID, rolling-hash
  * fingerprinting, term frequency).
  *
  * All pure column expressions — at 100 TB each of these is a map-only
  * scan (plus one shuffle for the aggregating ones); nothing here boxes
  * rows through a UDF.
  */
object TextAnalysis {

  /** The q56 split bucket: pmod(polyHash(doc_id), 10) — one spelling
    * shared by q56, q99, and (via [[splitName]]) both split mappings.
    */
  private[queries] def splitBucket: org.apache.spark.sql.Column =
    pmod(org.apache.spark.sql.graft.GraftExpressions
      .polyHash(col("doc_id").cast("string")), lit(10L))

  /** 80/10/10 split name from [[splitBucket]]. */
  private[queries] def splitName: org.apache.spark.sql.Column =
    when(splitBucket < 8, "train").when(splitBucket === 8, "val").otherwise("test")

  /** The q58 stratified-sampling bucket: pmod(polyHash('strat|'+doc_id),
    * 100) — the salt decorrelates sampling from the split assignment.
    * Shared by q58 and q99.
    */
  private[queries] def stratBucket: org.apache.spark.sql.Column =
    pmod(org.apache.spark.sql.graft.GraftExpressions
      .polyHash(concat(lit("strat|"), col("doc_id").cast("string"))), lit(100L))

  /** q58's per-language keep rate (en 30% / rest 80%). */
  private[queries] def stratKeep: org.apache.spark.sql.Column =
    stratBucket < when(col("lang") === "en", 30).otherwise(80)

  /** (doc_id, lang, toks) with the tokenizer applied once, persisted
    * per (session, sfDir) via SessionCache — q34/q35 explode it, q66
    * sizes it, q78 aggregates it by lang, q99 consumes it;
    * the previous per-invocation inline `.persist()` leaked one cache
    * entry per call with no eviction.
    */
  private[queries] def tokenArrays(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"toks:$dir") {
      // lang rides along (one tiny string per row) so q78's per-language
      // inventory is a plain groupBy over this cache — no corpus join.
      documents(spark, dir)
        .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
    }

  /** q66's distributed prefix sum over (doc_id, n_tokens): pack_id =
    * floor(global-cumsum-before-this-doc / budget), computed without an
    * unpartitioned window over anything corpus-sized AND without driver
    * state — the whole plan is data-flow, nothing is collected or
    * inlined as a literal (the previous form collected per-block
    * subtotals into a typedLit map, which at 10¹⁰ docs is a ~2×10⁷-entry
    * expression-tree literal — an analyzer/driver scale-killer).
    *
    * Three levels, every sum of longs in ascending key order (addition
    * is associative — bitwise the oracle's single global cumsum):
    *   1. per-block subtotals (block = doc_id / blockSz; only PRESENT
    *      blocks — gaps and sparse ids cost nothing);
    *   2. block offsets = exclusive cumsum within each SUPER-block
    *      (blockSz blocks each, window partitioned by sblk) plus the
    *      super-block's own exclusive offset. The only unpartitioned
    *      window runs over corpus/blockSz² rows (~38k at 10¹⁰ docs /
    *      512) and super-offsets broadcast back onto block offsets;
    *   3. the within-block running sum, a window PARTITIONED by blk.
    * The final blk-keyed join of the offsets relation rides the phase-3
    * window's own hash partitioning on blk: the corpus side needs no
    * extra exchange (the planner broadcasts the offsets side when small
    * enough, or shuffles only that small side). Exposed for the
    * gapped-id unit spec — result is bitwise the global cumsum for any
    * id layout.
    */
  private[queries] def packTokens(nTokens: org.apache.spark.sql.DataFrame,
      budget: Long, blockSz: Long): org.apache.spark.sql.DataFrame = {
    val nTok = nTokens.withColumn("blk", (col("doc_id") / blockSz).cast("long"))
    val blockSums = nTok.groupBy(col("blk")).agg(sum(col("n_tokens")).as("s"))
      .withColumn("sblk", (col("blk") / blockSz).cast("long"))
    // Exclusive cumsum of super-block totals: corpus/blockSz² rows.
    val superOffsets = blockSums.groupBy(col("sblk")).agg(sum(col("s")).as("ss"))
      .withColumn("soff", coalesce(sum(col("ss")).over(
        Window.orderBy(col("sblk")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("sblk"), col("soff"))
    // Global exclusive block offset = within-super-block exclusive
    // cumsum + the super-block's offset (broadcast: one row per sblk).
    val wb = Window.partitionBy(col("sblk")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockOffsets = blockSums
      .withColumn("boff", coalesce(sum(col("s")).over(wb), lit(0L)))
      .join(broadcast(superOffsets), "sblk")
      .select(col("blk"), (col("boff") + col("soff")).as("off"))
    // Phase 3: block-partitioned window, then the blk-keyed offset join.
    val w = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    nTok
      .withColumn("within", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .join(blockOffsets, "blk")
      .withColumn("before", col("within") + col("off"))
      .select(col("doc_id"), col("n_tokens"),
        // Integral floor-div (`div`), not Column `/` (DoubleType Divide):
        // a double quotient is only exact below 2^53 total tokens and
        // can round k*budget-1 up to k for non-power-of-2 budgets.
        expr(s"before div ${budget}L").as("pack_id"))
  }

  /** q100's range-bucketed exclusive prefix sum: (doc_id, quality,
    * n_tokens) → + tok_before, the exclusive running token count in
    * (quality DESC, doc_id) order — bit-identical to a single global
    * ordered window (long addition over the same total order) while the
    * only unpartitioned window spans ≤256 bucket rows. Exposed for the
    * adversarial-distribution equivalence spec (all-mass-in-one-bucket,
    * boundary values, random): the q66 rule that a plan-shape trick is
    * pinned against its obviously-correct definition.
    */
  private[queries] def budgetBefore(d0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // quality ∈ [0,1]: bucket ascends as quality descends; the q = 0
    // edge (bucket 256) clamps into 255, still order-consistent.
    val bucketed = d0.withColumn("bkt",
      least(floor((lit(1.0) - col("quality")) * 256), lit(255.0)).cast("int"))
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1) // ≤256 rows, never the corpus
    val offsets = bucketed.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("s"))
      .withColumn("off", coalesce(sum(col("s")).over(wOff), lit(0L)))
      .select(col("bkt"), col("off"))
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("within", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .join(broadcast(offsets), "bkt")
      .withColumn("tok_before", col("within") + col("off"))
      .select(col("doc_id"), col("quality"), col("n_tokens"), col("tok_before"))
  }

  val all: Seq[QueryDef] = Seq(

    // ── Token counting: whitespace tokens + BPE-ish subword units.
    QueryDef(
      "q30_token_stats",
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, ${TS.toksExpr("text")} AS toks FROM documents)
        SELECT doc_id,
               ${TS.tokenCountExpr("toks")} AS n_tokens,
               ${TS.bpeCountExpr("toks")} AS n_bpe,
               round(${TS.avgWordLenExpr("toks")}, 6) AS avg_word_len,
               n_chars
        FROM t ORDER BY doc_id"""))( (spark, dir) => {
      // toks staged in its own projection: a multiply-referenced
      // non-cheap alias is not collapsed, so tokenization runs once per
      // row instead of once per output expression.
      documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TF.tokenCount(col("toks")).as("n_tokens"),
          TF.bpeTokenCount(col("toks")).as("n_bpe"),
          round(TF.avgWordLen(col("toks")), 6).as("avg_word_len"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ── Quality scoring: stopword/punct ratios + composite score.
    QueryDef(
      "q31_quality_score",
      Some(s"""
        WITH t AS (SELECT doc_id, text, ${TS.toksExpr("text")} AS toks FROM documents)
        SELECT doc_id,
               round(${TS.stopwordRatioExpr("toks")}, 6) AS stopword_ratio,
               round(${TS.punctRatioExpr("text")}, 6) AS punct_ratio,
               round(${TS.qualityExpr("text", "toks")}, 6) AS quality
        FROM t ORDER BY doc_id"""))( (spark, dir) => {
      documents(spark, dir)
        .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          round(TF.stopwordRatio(col("toks")), 6).as("stopword_ratio"),
          round(TF.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TF.qualityScore(col("text"), col("toks")), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ── Language-ID heuristic vs the labeled lang column (confusion
    // counts). The marker-word argmax is the deterministic stand-in for a
    // char-n-gram model; the aggregation shape is what matters at scale.
    QueryDef(
      "q32_langid",
      Some(s"""
        WITH t AS (SELECT lang, ${TS.toksExpr("text")} AS toks FROM documents)
        SELECT lang AS labeled, ${TS.langIdExpr("toks")} AS detected, count(*) AS n
        FROM t GROUP BY 1, 2 ORDER BY labeled, detected"""))( (spark, dir) => {
      documents(spark, dir)
        .select(col("lang"), TF.tokens(col("text")).as("toks"))
        .select(col("lang").as("labeled"), TF.langId(col("toks")).as("detected"))
        .groupBy(col("labeled"), col("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("labeled"), col("detected"))
    }),

    // ── Rolling-hash document fingerprint + exact-dup detection by
    // fingerprint (count per fingerprint value).
    QueryDef(
      "q33_fingerprint",
      Some(s"""
        SELECT doc_id, ${TS.fingerprintExpr("text")} AS fp
        FROM documents ORDER BY doc_id"""))( (spark, dir) =>
      documents(spark, dir)
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    ),

    // ── Term frequency: explode tokens → global top terms. The classic
    // wordcount shuffle; map-side partial agg keeps it one exchange.
    QueryDef(
      "q34_term_freq",
      Some(s"""
        WITH t AS (SELECT unnest(${TS.toksExpr("text")}) AS term FROM documents)
        SELECT term, count(*) AS n FROM t
        GROUP BY term ORDER BY n DESC, term LIMIT 30"""),
      uses = Seq("toks"))( (spark, dir) => {
      // Cached pre-explode (shared with q35 via SessionCache — one
      // entry, evicted with the session): Generate re-evaluates
      // expensive generator inputs (see Dedup q41), making
      // explode(tokens(text)) quadratic in document length otherwise.
      tokenArrays(spark, dir)
        .select(explode(col("toks")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(30)
    }),

    // ── Deterministic train/val/test split: hash the stable document id
    // (NOT random() — splits must be reproducible across runs, engines,
    // and reshards; the same doc always lands in the same split). 80/10/
    // 10 by pmod(poly_hash(id), 10); map-only per row, one tiny shuffle
    // for the per-split stats. The hash is the polynomial fold already
    // bitwise-mirrored in DuckDB (q42's minhash family), so the oracle
    // reproduces the assignment exactly.
    QueryDef(
      "q56_hash_split",
      Some(s"""
        WITH h AS (
          SELECT doc_id, n_chars,
                 ${TS.stringHashExpr("doc_id::VARCHAR")} % 10 AS b
          FROM documents)
        SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
               count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM h GROUP BY 1 ORDER BY split"""))( (spark, dir) => {
      documents(spark, dir)
        .select(splitName.as("split"), col("doc_id"), col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),

    // ── Stratified deterministic sampling: rebalance the training mix
    // by downsampling the dominant language (en ≈ 44% of the corpus →
    // 30% keep-rate) while keeping the rest at 80%. Membership is a
    // pure function of the salted doc_id hash (salt decorrelates it
    // from q56's split assignment — the same polynomial hash with an
    // unsalted key would make "sample" and "split" correlated), so the
    // sample is reproducible across runs, engines, and reshards, and
    // adding strata later never reshuffles previously-kept docs.
    // Map-only at any scale: no shuffle, no count-then-sample second
    // pass, no rand(). The oracle reproduces the assignment exactly
    // through the bitwise-mirrored DuckDB hash.
    QueryDef(
      "q58_stratified_sample",
      Some(s"""
        SELECT doc_id, lang, source FROM documents
        WHERE ${TS.stringHashExpr("'strat|' || doc_id::VARCHAR")} % 100
              < (CASE WHEN lang = 'en' THEN 30 ELSE 80 END)
        ORDER BY doc_id"""))( (spark, dir) =>
      documents(spark, dir)
        .filter(stratKeep)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),

    // ── Sequence packing: concatenate the corpus in doc_id order and
    // chop into fixed token budgets (4096) — every doc labeled with the
    // pack (training sequence) its first token lands in, the standard
    // pretraining "pack and chop" layout. The SEMANTICS are a global
    // running token count (the oracle's single ORDER BY window), but
    // the PLAN must not be Spark's unpartitioned window (one task holds
    // the corpus). Implemented as a fully data-flow multi-level prefix
    // sum (see packTokens): per-block subtotals, block offsets via a
    // super-block-partitioned window plus a broadcast of the tiny
    // super-offset relation, and a within-block running sum PARTITIONED
    // by block — no driver collect, no plan-embedded literal, so every
    // block packs in parallel and no task ever sees more than a block.
    // Result is bitwise the global cumsum (integer arithmetic, no
    // reordering).
    QueryDef(
      "q66_sequence_pack",
      Some(s"""
        WITH t AS (SELECT doc_id, ${TS.toksExpr("text")} AS toks FROM documents),
        n AS (SELECT doc_id, ${TS.tokenCountExpr("toks")}::BIGINT AS n_tokens FROM t),
        r AS (SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY doc_id) AS running FROM n)
        SELECT doc_id, n_tokens, ((running - n_tokens) // 4096)::BIGINT AS pack_id
        FROM r ORDER BY doc_id"""),
      uses = Seq("toks"))( (spark, dir) =>
      packTokens(
        tokenArrays(spark, dir)
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens")),
        budget = 4096L, blockSz = 512L)
        .orderBy(col("doc_id"))),

    // ── Data-mixture weights: per-language token inventory → the
    // repeat factor each language needs to hit a UNIFORM token target —
    // the rebalancing computation a training-mix pipeline runs before
    // sampling (q58 applies rates; this derives them from the corpus).
    // One map-side-combined aggregate to #langs rows, then the totals
    // window runs over those #langs rows only — driver-trivial at any
    // corpus size; the corpus itself is touched exactly once.
    QueryDef(
      "q67_mix_weights",
      Some(s"""
        WITH t AS (SELECT lang, ${TS.toksExpr("text")} AS toks FROM documents),
        a AS (SELECT lang, count(*) AS n_docs,
                     sum(${TS.tokenCountExpr("toks")})::BIGINT AS tokens
              FROM t GROUP BY lang)
        SELECT lang, n_docs, tokens,
               round(tokens / (sum(tokens) OVER ())::DOUBLE, 6) AS share,
               round(((sum(tokens) OVER ())::DOUBLE / (count(*) OVER ())) / tokens, 6)
                 AS repeat_factor
        FROM a ORDER BY lang"""))( (spark, dir) => {
      val agg = documents(spark, dir)
        .select(col("lang"), TF.tokenCount(TF.tokens(col("text"))).as("n"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      // Unpartitioned window over #langs rows (not the corpus).
      val w = Window.partitionBy()
      agg
        .withColumn("total", sum(col("tokens")).over(w))
        .withColumn("n_langs", count(lit(1)).over(w))
        .select(col("lang"), col("n_docs"), col("tokens"),
          round(col("tokens") / col("total"), 6).as("share"),
          round((col("total") / col("n_langs")) / col("tokens"), 6).as("repeat_factor"))
        .orderBy(col("lang"))
    }),

    // ── The q67 → sampler loop, closed: sample the corpus at keep rates
    // DERIVED from the per-language token inventory instead of q58's
    // hardcoded 30/80. A language's keep rate is min(1, repeat_factor) —
    // over-represented languages are downsampled toward the uniform
    // token target, under-represented ones kept whole (sampling can't
    // upsample; the repeat factor above 1 is the epoch-repeat knob, not
    // a sample rate). Rates are a #langs-row aggregate broadcast back
    // onto the corpus, membership is the same salted deterministic hash
    // as q58 (same bucket ⇒ shrinking a language's rate never swaps
    // WHICH docs survive, it only truncates the kept set — stable
    // across rate changes). One corpus pass for the inventory, one
    // map-side pass for the sample; no shuffle of the corpus at any
    // scale. Every float op mirrored op-for-op in the oracle.
    QueryDef(
      "q78_mix_sample",
      Some(s"""
        WITH t AS (SELECT doc_id, lang, source, ${TS.toksExpr("text")} AS toks FROM documents),
        a AS (SELECT lang, sum(${TS.tokenCountExpr("toks")})::BIGINT AS tokens
              FROM t GROUP BY lang),
        r AS (SELECT lang,
                     CASE WHEN tokens > 0
                          THEN floor(least(1.0, ((sum(tokens) OVER ())::DOUBLE / (count(*) OVER ())) / tokens)
                                     * 100)::BIGINT
                          ELSE 100 END AS cut
              FROM a)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN r USING (lang)
        WHERE ${TS.stringHashExpr("'strat|' || d.doc_id::VARCHAR")} % 100 < r.cut
        ORDER BY d.doc_id"""),
      uses = Seq("toks"))( (spark, dir) => {
      val inv = tokenArrays(spark, dir)
        .groupBy(col("lang"))
        .agg(sum(TF.tokenCount(col("toks"))).as("tokens"))
      val w = Window.partitionBy() // #langs rows, not the corpus
      // tokens = 0 (a language whose docs all tokenize empty) would
      // divide to Infinity in Spark but NULL-or-inf in DuckDB depending
      // on its ieee_floating_point_ops setting — make the degenerate
      // case explicit on BOTH sides: keep-all (cut = 100), matching what
      // Spark's Inf → least → 1.0 path produced anyway.
      val rates = inv
        .withColumn("cut",
          when(col("tokens") > 0,
            floor(least(lit(1.0),
              (sum(col("tokens")).over(w) / count(lit(1)).over(w)) / col("tokens")) * 100))
            .otherwise(lit(100))
            .cast("long"))
        .select(col("lang"), col("cut"))
      documents(spark, dir)
        .join(broadcast(rates), "lang")
        .filter(stratBucket < col("cut"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── Normalization: the standard corpus-prep cleanup pass (lowercase,
    // strip punctuation, collapse whitespace) as pure codegen'd column
    // ops — map-only at any scale. Output keeps a digest + length so the
    // row stays small while the full normalized string is still pinned.
    QueryDef(
      "q76_normalize_text",
      Some(s"""
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:''"()-]', '', 'g'),
                                     '\\s+', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id, length(norm)::BIGINT AS n_chars_norm,
               ${TS.fingerprintExpr("norm")} AS norm_fp
        FROM n ORDER BY doc_id"""))( (spark, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[.,!?;:'\"()-]", ""), "\\s+", " "))
      documents(spark, dir)
        .select(col("doc_id"), norm.as("norm"))
        .select(col("doc_id"), length(col("norm")).cast("long").as("n_chars_norm"),
          TF.fingerprint(col("norm")).as("norm_fp"))
        .orderBy(col("doc_id"))
    }),

    // ── Intra-document repetition ratio (the corpus-filtering signal for
    // template/boilerplate spam): 1 − distinct_3grams / total_3grams.
    // total = max(len(toks) − 2, 0); distinct = the shingle-set size.
    QueryDef(
      "q77_repetition",
      Some(s"""
        WITH t AS (SELECT doc_id, ${TS.toksExpr("text")} AS toks FROM documents),
        s AS (SELECT doc_id,
                     greatest(len(toks) - 2, 0) AS total,
                     len(${TS.shinglesExpr("toks", 3)}) AS dst
              FROM t)
        SELECT doc_id,
               CASE WHEN total = 0 THEN 0.0
                    ELSE round(1.0 - dst::DOUBLE / total, 6) END AS rep_ratio
        FROM s ORDER BY doc_id"""))( (spark, dir) =>
      documents(spark, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          greatest(size(col("toks")) - 2, lit(0)).as("total"),
          size(TF.shingles(col("toks"), 3)).as("dst"))
        .select(col("doc_id"),
          when(col("total") === 0, 0.0)
            .otherwise(round(lit(1.0) - col("dst").cast("double") / col("total"), 6))
            .as("rep_ratio"))
        .orderBy(col("doc_id"))),

    // ── PII/denylist scrubbing: the redaction pass every training-data
    // pipeline runs before text leaves curation — count pattern hits,
    // replace them with redaction tokens, and fingerprint the scrubbed
    // text so downstream stages can verify they received the scrubbed
    // version. Two patterns: the email regex (canonical PII shape; hits
    // nothing in this synthetic corpus — the all-zero count column
    // proves the negative through the full compare) and a term denylist
    // that DOES fire, so replace+count are exercised on real rows. Pure
    // codegen'd regexp column ops — map-only at any scale, no shuffle;
    // patterns are RE2-safe so both engines match identically.
    QueryDef(
      "q74_scrub_redact",
      Some(s"""
        WITH s AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '${TF.EmailPattern}')) AS n_email,
                 len(regexp_extract_all(text, '${TF.DenyPattern}')) AS n_deny,
                 regexp_replace(regexp_replace(text, '${TF.EmailPattern}', '[EMAIL]', 'g'),
                                '${TF.DenyPattern}', '[TERM]', 'g') AS scrubbed
          FROM documents)
        SELECT doc_id, n_email, n_deny,
               length(scrubbed)::BIGINT AS n_chars_scrubbed,
               ${TS.fingerprintExpr("scrubbed")} AS scrubbed_fp
        FROM s ORDER BY doc_id"""))( (spark, dir) =>
      documents(spark, dir)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(TF.EmailPattern))
            .cast("long").as("n_email"),
          regexp_count(col("text"), lit(TF.DenyPattern))
            .cast("long").as("n_deny"),
          regexp_replace(
            regexp_replace(col("text"), TF.EmailPattern, "[EMAIL]"),
            TF.DenyPattern, "[TERM]").as("scrubbed"))
        .select(col("doc_id"), col("n_email"), col("n_deny"),
          length(col("scrubbed")).cast("long").as("n_chars_scrubbed"),
          TF.fingerprint(col("scrubbed")).as("scrubbed_fp"))
        .orderBy(col("doc_id"))),

    // ── Per-source document cap: the domain-balancing step of corpus
    // curation — no source may contribute more than K documents, and the
    // K kept are the best by quality score (q31's exact spelling, rounded
    // to the 6dp both engines agree on, doc_id tie-break). One shuffle by
    // source for the window; the qrank<=K filter over row_number is
    // recognized by Spark's WindowGroupLimit rule, which keeps only K
    // rows per group BEFORE the shuffle's sort on each map task — so at
    // 100 TB a giant source never materializes its full partition just
    // to discard all but K rows.
    QueryDef(
      "q79_source_cap",
      Some(s"""
        WITH t AS (SELECT doc_id, source, text, ${TS.toksExpr("text")} AS toks FROM documents),
        q AS (SELECT doc_id, source, round(${TS.qualityExpr("text", "toks")}, 6) AS quality FROM t),
        r AS (SELECT doc_id, source, quality,
                     row_number() OVER (PARTITION BY source
                       ORDER BY quality DESC, doc_id) AS qrank
              FROM q)
        SELECT doc_id, source, quality, qrank FROM r
        WHERE qrank <= 15 ORDER BY doc_id"""))( (spark, dir) => {
      val q = documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          round(TF.qualityScore(col("text"), col("toks")), 6).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      q.withColumn("qrank", row_number().over(w).cast("long"))
        .filter(col("qrank") <= 15)
        .orderBy(col("doc_id"))
    }),

    // ── Token-budget selection: keep the BEST-quality documents until a
    // global token budget is exhausted — the "curate an N-token training
    // set" selection step (here N = 20000: docs whose exclusive running
    // token count, in (quality DESC, doc_id) order, is still under
    // budget). SEMANTICS are a global ordered cumsum (the oracle's one
    // window); the PLAN must not be Spark's unpartitioned window (one
    // task holds the corpus — the q66 scale-killer, but over a VALUE
    // ordering instead of dense ids, so the q66 block trick doesn't
    // apply). Instead: range-bucket the sort key (bucket = floor((1 −
    // quality)·256), monotone with the ordering since floor is
    // monotone and ties resolve inside one bucket), per-bucket token
    // sums (256 rows) take the exclusive-offset window, offsets
    // broadcast back, and the within-bucket running sum is a window
    // PARTITIONED by bucket — bit-identical to the global cumsum (long
    // addition over the same total order). At 100 TB the fixed split
    // points would come from an approx-quantile pass so value skew
    // can't overload one bucket; the shape is otherwise unchanged.
    QueryDef(
      "q100_budget_select",
      Some(s"""
        WITH t AS (SELECT doc_id, text, ${TS.toksExpr("text")} AS toks FROM documents),
        q AS (SELECT doc_id, round(${TS.qualityExpr("text", "toks")}, 6) AS quality,
                     len(toks)::BIGINT AS n_tokens
              FROM t),
        r AS (SELECT doc_id, quality, n_tokens,
                     coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                       AS tok_before
              FROM q)
        SELECT doc_id, quality, n_tokens, tok_before FROM r
        WHERE tok_before < 20000 ORDER BY doc_id"""),
      // budgetBefore consumes d0 from two subtrees (the offsets groupBy
      // and the main window path); without the cache the full
      // tokenize+quality kernel would run twice per execution.
      uses = Seq("q100d0"))( (spark, dir) => {
      val d0 = graft.pipeline.SessionCache.getOrPersist(spark, s"q100d0:$dir") {
        documents(spark, dir)
          .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            round(TF.qualityScore(col("text"), col("toks")), 6).as("quality"),
            size(col("toks")).cast("long").as("n_tokens"))
      }
      budgetBefore(d0)
        .filter(col("tok_before") < 20000L)
        .orderBy(col("doc_id"))
    }),

    // ── TF-IDF: per-document top term by tf·idf weight — two-pass agg
    // (doc-frequency broadcast back onto the term explosion).
    QueryDef(
      "q35_tfidf_top",
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(${TS.toksExpr("text")}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
        scored AS (
          SELECT doc_id, term,
                 round(tf * ln(n_docs / df), 6) AS w,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY round(tf * ln(n_docs / df), 6) DESC, term) AS rn
          FROM tf JOIN df USING (term) CROSS JOIN nd)
        SELECT doc_id, term AS top_term, w
        FROM scored WHERE rn = 1 ORDER BY doc_id"""),
      uses = Seq("toks"))( (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Token arrays cached pre-explode (SessionCache entry shared with
      // q34). r19 (guide §2.3 "aggregate before you shuffle" / §1.2
      // "don't compute things you throw away"): the explode ran THREE
      // times — tf, df, n_docs — and df additionally paid a
      // countDistinct expansion over the full term explosion (profiled
      // at 17–20 s task CPU for the query). Both are derivable without
      // re-exploding: tf has exactly one row per (doc_id, term), so
      // df = count(*) of tf rows per term ≡ count(DISTINCT doc_id) per
      // term, and n_docs = count(DISTINCT doc_id) over the explosion ≡
      // the number of docs with a non-empty token array (doc_id is the
      // documents key). The tf exchange is planned once and reused for
      // both consumers (ReuseExchange); only its final aggregate runs
      // twice — O(distinct pairs), not O(tokens).
      val toks = tokenArrays(spark, dir)
        .select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = tokenArrays(spark, dir)
        .filter(size(col("toks")) > 0)
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("w").desc, col("term"))
      // No broadcast hint on the doc-frequency relation: its cardinality
      // is the corpus VOCABULARY — unbounded in corpus size — so a forced
      // broadcast OOMs the driver at 100 TB where a plain equi-join
      // degrades gracefully (AQE still upgrades to broadcast when the
      // vocabulary actually fits). Both sides are term-keyed aggregates
      // of the same explode, so the unhinted join reuses the partitioning
      // Catalyst picks for them. nDocs stays hinted: one row, structural.
      tf.join(df, "term")
        .join(broadcast(nDocs))
        .withColumn("w", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("w"))
        .orderBy(col("doc_id"))
    })
  )
}
