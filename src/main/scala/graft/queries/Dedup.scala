package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.{DedupFunctions => DF, DedupSql => DS, TextFunctions => TF, TextSql => TS}
import graft.sources.Tables._

/** Deduplication suite over `documents` (north-star extension): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. The testdata plants ~25
  * near-duplicate pairs (3-gram Jaccard ≥ 0.90, next pair 0.07), so a
  * 0.5 threshold / hamming ≤ 6 is far from any boundary and the result
  * sets are stable under float rounding.
  */
object Dedup {

  /** Shared shingle-set relation: (doc_id, shingles, hs). */
  private[queries] val shinglesSqlCte = s"""
    WITH toks AS (SELECT doc_id, text, ${TS.toksExpr("text")} AS toks FROM documents),
    sh AS (SELECT doc_id, ${TS.shinglesExpr("toks", 3)} AS shingles FROM toks),
    h AS (SELECT doc_id, shingles,
                 list_transform(shingles, s -> ${TS.stringHashExpr("s")}) AS hs
          FROM sh)"""

  /** Recursive transitive-closure CTE chain shared by the q55 and q102
    * oracles: `edges` (the declarative ≥0.5 pair spec), symmetric
    * closure, reachability, and the per-doc min-label `lab`. ONE
    * spelling so the cluster definition the two oracles compare against
    * can never diverge. Callers splice this after `WITH RECURSIVE` +
    * the shingle CTEs.
    */
  private[queries] val closureSqlCtes = s"""
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
    lab AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src)"""

  /** (doc_id, shingles) persisted once per (session, sfDir) and shared
    * by q41/q42/q43: the relation must be cached BEFORE any explode —
    * Generate re-evaluates expensive generator inputs (measured 7.1 s
    * exploded-from-computation vs 0.7 s cache build + 0.4 s explode-from-
    * cache at sf0.1) — and tokens materialize in their own projection so
    * the regex split runs once per row, not per consumer expression.
    */
  private[graft] def shingleSets(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.pipeline.SessionCache.getOrPersist(spark, s"shingleSets:$dir") {
      // Prefer the materialized input table ([[ShinglesTable]], ensured
      // by Bench/Verify setup); identical live derivation otherwise.
      ShinglesTable.materializedPath(dir) match {
        case Some(p) => graft.sources.Tables.atPath(spark, p)
        case None =>
          documents(spark, dir)
            .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
            .select(col("doc_id"), TF.shingles(col("toks"), 3).as("shingles"))
      }
    }

  /** q41's index-join pipeline with the Σdf² guard implemented: shingles
    * with document frequency above `dfCap` are dropped from the inverted
    * index (HAVING df ≤ cap), bounding pair enumeration at corpus scale
    * where a stopword-frequent shingle would otherwise dominate Σdf².
    *
    * Answer behavior: with the production cap (10000, far above this
    * corpus's max df of ~25) the filter is a structural no-op and the
    * output is the exact Jaccard answer the O(n²) oracle defines. With a
    * biting cap, pairs are found only through their RARE shared shingles
    * and the intersection count excludes dropped shingles — the pair SET
    * at the 0.5 threshold is preserved as long as qualifying pairs share
    * rare shingles (true for near-duplicates, whose shingles are ~df-2;
    * DedupDfCapSpec pins this empirically at a cap that provably drops
    * shingles on the real corpus).
    *
    * shingles() is already distinct, so size() is the set size and the
    * per-shingle explode enumerates each (doc, shingle) once; both join
    * sides explode from the shared shingleSets cache (sz also computed
    * from the cache — size()+array-passthrough in one projection would
    * inline and build the array twice).
    */
  /** The production-cap pair relation, persisted once per (session,
    * sfDir): q41 declares it (ordered) and q55's component resolution
    * consumes it as its edge list — without the cache each would pay the
    * index join separately.
    */
  private[queries] def jacPairs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.pipeline.SessionCache.getOrPersist(spark, s"jacPairs:$dir") {
      ngramJaccardPairs(spark, dir, dfCap = 10000)
    }

  /** (doc_id, band, key) MinHash band relation, persisted once per
    * (session, sfDir) POST-explode — q42's intra-corpus banding and
    * q69's incremental probe consume the same rows, and sharing the
    * cache means the signature kernel and the band explode run once
    * per session, with one maintenance site for the banding scheme.
    */
  private[queries] def minhashBands(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.pipeline.SessionCache.getOrPersist(spark, s"mhBands:$dir") {
      DF.bandRows(shingleSets(spark, dir))
    }

  /** 5-token shingle sets (decontamination granularity), persisted per
    * (session, sfDir), cached BEFORE the explodes (the q41 lesson) —
    * q59 and the q99 pipeline both explode it.
    */
  private[queries] def sh5Sets(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.pipeline.SessionCache.getOrPersist(spark, s"sh5:$dir") {
      // r20 (guide §1.2 order #1 — don't compute things twice): this
      // used to re-run the regex tokenizer over documents, though the
      // token arrays are already a shared cache (TextAnalysis.
      // tokenArrays) built by the q30-family earlier in every sweep —
      // and the q99 oracle itself derives its sh5 CTE from the toks CTE.
      // Shingling from the cached arrays drops the second full tokenize
      // pass; same TF.tokens bits, so the shingle sets are identical.
      TextAnalysis.tokenArrays(spark, dir)
        .select(col("doc_id"), TF.shingles(col("toks"), 5).as("sh"))
    }

  /** The decontamination probe relation: one row per (training doc,
    * shared-5-shingle-with-eval) hit — eval set = the fixed-size
    * [[EvalSet]] suite, its distinct shingle union broadcast, training
    * shingles probed map-side. ONE maintenance site for the
    * decontamination rule: q59 aggregates it to per-doc counts, q99
    * reduces it to the contaminated id set.
    */
  private[queries] def contamProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // r20 (guide §1.2 order #1): q59 and q99 each re-ran the full
    // train-side shingle explode + broadcast probe — the heavy part; the
    // RESULT is only the hit rows (train docs sharing a 5-shingle with
    // the eval set, a contamination-rate-bounded sliver of the corpus).
    // Persist the hits once per (session, corpus).
    graft.pipeline.SessionCache.getOrPersist(spark, s"contamHits:$dir") {
      val sh5 = sh5Sets(spark, dir)
      val ev = sh5.filter(EvalSet.isEval(col("doc_id")))
        .select(explode(col("sh")).as("s")).distinct()
      sh5.filter(EvalSet.isTrain(col("doc_id")))
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .join(broadcast(ev), "s")
    }

  /** (doc_id, digest = md5(text)) for every document, persisted once
    * per (session, corpus) — r20, guide §1.2 order #1: the exact-dedup
    * fingerprint was re-hashed from the full text column by SIX
    * independent scans per sweep (q40's re-crawl union ×2, q57's
    * corpus/batch/bloom-build ×3, the q99 canonical rule ×1), each a
    * full md5 pass over the fanout cache. One pass; null texts keep
    * their null digest, and each consumer applies its own null rule
    * exactly as before (q57 drops them, q40/q99 group by them).
    */
  private[queries] def docDigests(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"docDigests:$dir") {
      documents(spark, dir)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
    }

  /** Near-dup cluster labels (doc_id, cluster_id) for every pair-member
    * doc, persisted per (session, sfDir) — q55 declares it and the q99
    * pipeline's canonical-member filter consumes it.
    * The loop returns the final labels persisted+materialized UNDER THE
    * OUTPUT NAMES, so the entry needs no second persist and at no point
    * do two cached copies of the label relation coexist.
    */
  private[queries] def dedupClustersRel(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.pipeline.SessionCache.getOrPersist(spark, s"dedupClusters:$dir") {
      // Prefer the materialized input table ([[DedupClustersTable]],
      // ensured by Bench/Verify setup — the 100 TB shape, where cluster
      // resolution runs once per corpus version in an upstream job);
      // identical live derivation otherwise.
      DedupClustersTable.materializedPath(dir) match {
        case Some(p) => graft.sources.Tables.atPath(spark, p)
        case None =>
          val edges = jacPairs(spark, dir).select(col("a_id"), col("b_id"))
          val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
            .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
            .persist()
          val (out, _) = minLabelPropagation(sym, ("doc_id", "cluster_id"))
          sym.unpersist(blocking = false)
          out
      }
    }

  private[queries] def ngramJaccardPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String, dfCap: Int) = {
    val sh = shingleSets(spark, dir)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("s"))
    // df rides the shuffle the pair join needs anyway: count(*) over
    // (partition by s) on each join side filters heavy shingles with NO
    // extra exchange (shingles are distinct within a doc, so the count
    // IS df; the window's hash partitioning + sort on s is exactly what
    // the sort-merge join consumes next). A separate groupBy+join df
    // pass measured ~1.5 s slower at sf0.1. Skewed (stopword) shingle
    // groups buffer one group at a time in WindowExec and spill — and
    // are precisely the groups the filter then drops.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    val idx = sh.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= dfCap)
    val a = idx.select(col("doc_id").as("a_id"), col("sz").as("a_sz"), col("s"))
    val b = idx.select(col("doc_id").as("b_id"), col("sz").as("b_sz"), col("s").as("s_b"))
    a.join(b, col("s") === col("s_b") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("a_sz"), col("b_sz"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .withColumn("jac_raw", col("inter") / (col("a_sz") + col("b_sz") - col("inter")))
      .filter(col("jac_raw") >= 0.5)
      .select(col("a_id"), col("b_id"), round(col("jac_raw"), 6).as("jac"))
  }

  val all: Seq[QueryDef] = Seq(

    // ── Exact dedup: a simulated re-crawl (the corpus unioned with an
    // id-shifted copy of itself) reduced back to one row per distinct
    // text. Hash-groupBy on md5 — one shuffle keyed by digest; at 100 TB
    // group keys are 16-byte digests, never the document bodies.
    QueryDef(
      "q40_dedup_exact",
      Some("""
        WITH crawl AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents
        )
        SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM crawl GROUP BY 1 ORDER BY keep_id"""),
      uses = Seq("docDigests"))( (spark, dir) => {
      // r20: both union branches read the shared [[docDigests]] cache —
      // one md5 pass per corpus instead of one per branch. Same digests
      // (md5 is deterministic), same null grouping, same aggregate.
      val dg = docDigests(spark, dir)
      val crawl = dg.unionByName(
        dg.select((col("doc_id") + 100000).as("doc_id"), col("digest")))
      crawl.groupBy(col("digest").as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // ── n-gram Jaccard near-dup pairs, EXACT via an inverted index (the
    // classic all-pairs similarity layout): explode distinct shingles,
    // self-join on the shingle, count common shingles per pair, derive
    // Jaccard from |A|,|B|,|A∩B|. Answer-identical to the all-pairs scan
    // (a pair with zero common shingles has Jaccard 0 < threshold), but
    // pairs with no overlap are never enumerated — no BNLJ anywhere.
    // The pair enumeration is Σ df² over shingle frequencies; the index
    // build caps df (see [[ngramJaccardPairs]]) so a corpus-stopword
    // shingle can't explode it at 100 TB.
    // The ORACLE deliberately stays the O(n²) declarative spec — the
    // obviously-correct definition of the result, independent of this
    // optimization, so the equality check verifies the index algebra.
    QueryDef(
      "q41_ngram_jaccard",
      Some(s"""
        $shinglesSqlCte
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(${DS.jaccardExpr("a.shingles", "b.shingles")}, 6) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE ${DS.jaccardExpr("a.shingles", "b.shingles")} >= 0.5
        ORDER BY a_id, b_id"""),
      uses = Seq("jacPairs"))( (spark, dir) =>
      jacPairs(spark, dir).orderBy(col("a_id"), col("b_id"))),

    // ── MinHash + LSH: shingle→minhash→band→bucket-join→verify. The
    // scale path: candidate generation shuffles only (band, key) pairs;
    // exact Jaccard runs on candidates only. Oracle mirrors the entire
    // pipeline (same hash family) so recall behavior is itself verified.
    QueryDef(
      "q42_minhash_lsh",
      Some(s"""
        $shinglesSqlCte,
        sig AS (SELECT doc_id, shingles, ${DS.minhashSigExpr("hs")} AS sig FROM h),
        bands AS (
          SELECT doc_id, shingles, u.bk.band AS band, u.bk.key AS key
          FROM sig, (SELECT unnest(${DS.bandKeysExpr("sig")}) AS bk) u),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        verified AS (
          SELECT c.a_id, c.b_id,
                 round(${DS.jaccardExpr("sa.shingles", "sb.shingles")}, 6) AS jac
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a_id
          JOIN sh sb ON sb.doc_id = c.b_id)
        SELECT a_id, b_id, jac FROM verified
        WHERE jac >= 0.5 ORDER BY a_id, b_id"""),
      uses = Seq("shingleSets", "mhBands"))( (spark, dir) => {
      // Shared caches: shingleSets feeds the verify joins, and the
      // banded signature relation is the same one q69's incremental
      // probe consumes — signature kernel + band explode run once per
      // session, not per query.
      val sh = shingleSets(spark, dir)
      val bands = minhashBands(spark, dir)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), "b_id")
        .withColumn("jac", round(DF.jaccard(col("a_sh"), col("b_sh")), 6))
        .filter(col("jac") >= 0.5)
        .select(col("a_id"), col("b_id"), col("jac"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ── SimHash near-dup pairs: 48-bit signature per doc (one long), all
    // pairs within hamming ≤ 6, found via GENERALIZED PIGEONHOLE BANDING
    // (see the build comment below): 9 bands, candidates = pairs
    // agreeing on some 3-subset of bands — recall 1.0 by construction
    // (not probabilistic like MinHash). Exact hamming verifies
    // candidates. One equi-join on (subset, key) — hash join at any
    // scale, never a nested loop. Oracle stays the O(n²) declarative
    // spec, so the banding's completeness is verified by equality.
    QueryDef(
      "q43_simhash",
      Some(s"""
        $shinglesSqlCte,
        s AS (SELECT doc_id, ${DS.simhash48Expr("hs")} AS sh48 FROM h)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ${DS.hammingExpr("a.sh48", "b.sh48")} AS ham
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE ${DS.hammingExpr("a.sh48", "b.sh48")} <= 6
        ORDER BY a_id, b_id"""),
      uses = Seq("simhash"))( (spark, dir) => {
      // Generalized pigeonhole (PartEnum/HmSearch shape): 9 bands over
      // the 48 bits, candidates = pairs agreeing on SOME 3-subset of
      // bands. Hamming ≤ 6 flips bits in ≤ 6 bands ⇒ ≥ 3 bands are
      // clean ⇒ some 3-subset matches — complete for the declared
      // predicate, so the VERIFIED output is identical to any other
      // complete banding (the oracle stays the O(n²) spec). Why not the
      // plain 7-band/7-bit pigeonhole: its per-band key space is 128
      // buckets, so the candidate join enumerates ~7n²/256 rows as the
      // corpus grows (the r11 sf10 rehearsal measured 113 s at 500k
      // docs — quadratic in n at fixed bucket count). A 3-subset key
      // carries 15-18 bits ⇒ ~50× fewer enumerated rows at every SF,
      // for an 84× (vs 7×) map-side fan-out; band count is the knob
      // that scales further (4-subsets of 10 at ~10⁷ docs).
      // Signatures persisted BEFORE the band explode (Generate
      // re-evaluates expensive generator inputs); built from the shared
      // shingleSets cache.
      val s = graft.pipeline.SessionCache.getOrPersist(spark, s"simhash:$dir") {
        shingleSets(spark, dir)
          .select(col("doc_id"), DF.simhash48(TF.shingleHashes(col("shingles"))).as("sh48"))
      }
      val widths = Seq(6, 6, 6, 5, 5, 5, 5, 5, 5) // 48 bits over 9 bands
      val offsets = widths.scanLeft(0)(_ + _)
      def mask(b: Int): Long = ((1L << widths(b)) - 1) << offsets(b)
      val subsets = (0 until widths.length).combinations(3).toIndexedSeq
      val keys = s.select(col("doc_id"), col("sh48"),
        explode(array(subsets.zipWithIndex.map { case (ss, i) =>
          struct(lit(i).as("ss"),
            col("sh48").bitwiseAND(lit(ss.map(mask).reduce(_ | _))).as("key"))
        }: _*)).as("sk"))
        .select(col("doc_id"), col("sh48"),
          col("sk.ss").as("ss"), col("sk.key").as("key"))
      // merge hint: the key relation is an explode of the small cached
      // signature relation, and Catalyst sizes Generate output at its
      // CHILD's bytes — at sf10 that under-estimate planned a
      // BroadcastHashJoin whose build side materialized 42M rows
      // (3.4 GiB in an 8 GB heap). A banded self-join must never
      // broadcast; SMJ is the only shape that survives any SF.
      val cand = keys.as("a").hint("merge")
        .join(keys.as("b").hint("merge"),
          col("a.ss") === col("b.ss") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("a.sh48").as("a_sh"),
          col("b.doc_id").as("b_id"), col("b.sh48").as("b_sh"))
        .distinct()
      cand
        .withColumn("ham", DF.hamming(col("a_sh"), col("b_sh")))
        .filter(col("ham") <= 6)
        .select(col("a_id"), col("b_id"), col("ham"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ── Incremental dedup: a NEW crawl batch (doc_id % 5 = 0) checked
    // against the EXISTING corpus (the rest) — the recurring shape of a
    // production pipeline, where each increment must not re-join the
    // whole corpus. Pattern: a corpus-digest BLOOM FILTER (built once
    // per corpus version; in a real pipeline it persists and updates
    // across crawls) broadcast to the batch scan. Bloom "definitely
    // absent" rows are new with NO join at all; only "maybe present"
    // rows (true dups + the fpp tail) reach the exact confirm, and the
    // confirm itself never shuffles the corpus: the tiny maybe-digest
    // set broadcasts INTO the corpus scan (map-side semi join), and the
    // small "present" list broadcasts back for the anti join. The
    // corpus is scanned, never shuffled; the result is EXACT — bloom
    // false positives die in the confirm, so output is independent of
    // fpp/seed, which is why a hash oracle can check it. Sizing at
    // scale: ~1.2 GB of bloom per 10⁹ corpus digests at 1% fpp;
    // beyond driver/broadcast comfort the filter shards by digest
    // prefix (one bloom per shard, batch routed by the same prefix).
    // The batch is a simulated re-crawl increment: genuinely new docs
    // (doc_id % 5 = 0, held out of the corpus) PLUS corpus docs
    // re-surfacing under fresh crawl ids (+200000) — the rows the
    // incremental check must eliminate (every corpus text is distinct
    // in the testdata, so the expected output is exactly the held-out
    // set, and a broken membership check shows up as extra rows).
    QueryDef(
      "q57_bloom_incremental",
      // Null digests are excluded on BOTH sides IN THE SQL TOO: a null
      // in a NOT IN subquery would empty the whole result (three-valued
      // logic), which is not the dedup semantics anyone wants — both
      // engines declare "undigestable rows have no dedup identity".
      Some("""
        WITH corpus AS (SELECT md5(text) AS digest FROM documents
                        WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
        batch AS (
          SELECT doc_id, md5(text) AS digest FROM documents
          WHERE doc_id % 5 = 0 AND text IS NOT NULL
          UNION ALL
          SELECT doc_id + 200000 AS doc_id, md5(text) AS digest FROM documents
          WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1 AND text IS NOT NULL)
        SELECT b.doc_id, b.digest FROM batch b
        WHERE b.digest NOT IN (SELECT digest FROM corpus)
        ORDER BY b.doc_id"""),
      uses = Seq("docDigests", "corpusBloom"))( (spark, dir) => {
      // r20: the three md5 scans (corpus, both batch branches) plus the
      // bloom build's fourth pass all read the shared [[docDigests]]
      // cache — one md5 pass per corpus. Null digests (null text) have
      // no dedup identity: dropped explicitly here exactly as the
      // oracle's IS NOT NULL predicates drop them — without the shared
      // rule, left_anti KEEPS null keys while NOT IN's three-valued
      // logic drops them (or empties the result entirely on a
      // corpus-side null).
      val dg = docDigests(spark, dir)
      val corpus = dg.filter(col("doc_id") % 5 =!= 0)
        .select(col("digest"))
        .filter(col("digest").isNotNull)
      val batch = dg.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("digest"))
        .unionByName(dg.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 1)
          .select((col("doc_id") + 200000).as("doc_id"), col("digest")))
        .filter(col("digest").isNotNull)
      // count() is a cached-relation count (was parquet metadata + the
      // doc_id predicate); the bloom build is one treeAggregate over
      // the cached digests.
      // Cached per corpus identity (SessionCache value entry, VERDICT
      // r12 #1): the 100 TB shape is ONE persisted bloom per corpus
      // version that every incremental batch probes — rebuilding a
      // corpus-wide aggregate per run is exactly what an incremental
      // check exists to avoid. Build cost attributes to cache_build_ms;
      // repeat invocations pay probe cost only.
      val bloom = graft.pipeline.SessionCache.getOrBuildValue(
          spark, s"corpusBloom:$dir") {
        corpus.stat.bloomFilter("digest", math.max(corpus.count(), 1L), 0.01)
      }
      // Native codegen probe (org.apache.spark.sql.graft.BloomMightContain):
      // the batch side is the BIG side at scale, so the per-row check must
      // stay inside whole-stage codegen, not box through a UDF.
      //
      // Two batch scans total. Scan 1 projects the maybe-digest set (the
      // probe's ONLY job — tiny output: true dups + the fpp tail); the
      // corpus semi-joins against its broadcast map-side to yield
      // `present` = corpus ∩ maybe-digests. Scan 2 is one anti join of
      // the whole batch against broadcast(present) — no maybe/definite
      // union: the bloom has NO false negatives, so any digest actually
      // in the corpus is in the maybe set, hence present ⊇ batch∩corpus
      // and digest ∉ present ⇔ digest ∉ corpus. Exact for any fpp.
      val maybeDigests = batch
        .filter(org.apache.spark.sql.graft.BloomMightContain.column(col("digest"), bloom))
        .select(col("digest")).distinct()
      val present = corpus
        .join(broadcast(maybeDigests), Seq("digest"), "left_semi")
        .distinct()
      batch.join(broadcast(present), Seq("digest"), "left_anti")
        .select(col("doc_id"), col("digest"))
        .orderBy(col("doc_id"))
    }),

    // ── Benchmark decontamination: flag training docs sharing any
    // 5-token shingle with a held-out eval set ([[EvalSet]]: the first
    // 64 doc_ids model the benchmark suite — FIXED cardinality, so the
    // eval side stays benchmark-sized at any corpus scale, not a
    // corpus fraction). Its distinct shingle set
    // broadcasts and the corpus is probed MAP-SIDE: at 100 TB the only
    // shuffle is the per-contaminated-doc count aggregation (output-
    // sized, tiny), never the corpus shingles. n=5 is the testdata
    // analogue of the industry 13-gram rule: long enough that soup-
    // level collisions vanish and hits mean real containment (the
    // planted near-dup pairs), short enough that the gate result is
    // non-empty at sf0.01. Shingles are distinct within a doc and the
    // eval union is distinct, so count(*) after the probe join IS the
    // distinct shared-shingle count.
    QueryDef(
      "q59_decontaminate",
      Some(s"""
        WITH toks AS (SELECT doc_id, ${TS.toksExpr("text")} AS toks FROM documents),
        sh5 AS (SELECT doc_id, ${TS.shinglesExpr("toks", 5)} AS sh FROM toks),
        ev AS (SELECT DISTINCT u.s FROM sh5, (SELECT unnest(sh) AS s) u
               WHERE ${EvalSet.sqlEval("doc_id")}),
        tr AS (SELECT doc_id, u.s FROM sh5, (SELECT unnest(sh) AS s) u
               WHERE ${EvalSet.sqlTrain("doc_id")})
        SELECT tr.doc_id, count(*) AS n_shared
        FROM tr JOIN ev ON tr.s = ev.s
        GROUP BY tr.doc_id ORDER BY tr.doc_id"""),
      uses = Seq("contamHits"))( (spark, dir) =>
      // One aggregation over the shared probe relation ([[contamProbe]],
      // built off the sh5Sets cache — uncached, the tokenize+shingle
      // work measured 8.1 s vs ~1 s at sf0.1).
      contamProbe(spark, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))),

    // ── Dedup-cluster resolution: the pair queries (q41-q44) emit edges;
    // a production dedup pipeline needs COMPONENTS — every document
    // labeled with the min doc_id of its near-dup cluster, so one
    // canonical doc per cluster survives. Implemented as iterative
    // min-label propagation over the symmetric edge relation (the
    // standard large-scale CC shape: each round is one join + one
    // map-side-combined min-agg, converging in O(component diameter)
    // rounds — no vertex ever collects its whole component). The ORACLE
    // is a DuckDB recursive-CTE transitive closure over the same
    // declarative pair spec — the obviously-correct definition,
    // independent of the propagation algorithm.
    QueryDef(
      "q55_dedup_clusters",
      // RECURSIVE must follow WITH directly and then covers every CTE in
      // the list, so the shared shingle CTE is spliced in after it.
      Some(s"""
        WITH RECURSIVE ${shinglesSqlCte.trim.stripPrefix("WITH")},
        $closureSqlCtes
        SELECT doc_id, cluster_id FROM lab ORDER BY doc_id"""),
      uses = Seq("dedupClusters"))( (spark, dir) =>
      dedupClustersRel(spark, dir).orderBy(col("doc_id"))),

    // ── Quality-aware canonical selection: q55 labels clusters; a real
    // curation pipeline then keeps the BEST member of each cluster, not
    // an arbitrary one (near-dup members differ — truncations, boiler-
    // plate variants — and min-id keeps whichever crawled first). Per
    // cluster: the member with max quality score (q31's exact spelling),
    // ties to the smallest doc_id via lexicographic struct max on
    // (quality, -doc_id), mirrored by the oracle's min(doc_id)-at-max
    // join. Scale shape: the labels relation equi-joins documents on
    // doc_id (labels are NOT broadcast-assumed — at 100 TB a third of
    // the corpus can be clustered; AQE picks broadcast when it fits),
    // quality is computed AFTER the join so only cluster members pay the
    // tokenize, and the groupBy shuffles scalars keyed by cluster_id.
    QueryDef(
      "q102_canonical_best",
      Some(s"""
        WITH RECURSIVE ${shinglesSqlCte.trim.stripPrefix("WITH")},
        $closureSqlCtes,
        q AS (SELECT doc_id, round(${TS.qualityExpr("text", "toks")}, 6) AS quality FROM toks),
        m AS (SELECT l.cluster_id, count(*) AS n_members, max(q.quality) AS mq
              FROM lab l JOIN q ON q.doc_id = l.doc_id GROUP BY 1)
        SELECT m.cluster_id, m.n_members, min(l.doc_id) AS keep_id,
               m.mq AS quality
        FROM m JOIN lab l ON l.cluster_id = m.cluster_id
        JOIN q ON q.doc_id = l.doc_id AND q.quality = m.mq
        GROUP BY m.cluster_id, m.n_members, m.mq
        ORDER BY m.cluster_id"""),
      uses = Seq("dedupClusters"))( (spark, dir) =>
      // The argmax compares ROUND(quality, 6) on both sides (ADVICE r10
      // #4): raw-double argmax would let ULP drift between Spark's and
      // DuckDB's quality spelling flip the keeper on a near-tie; at 6
      // decimals the two spellings agree bit-for-bit, and true ties
      // resolve by the -doc_id struct field exactly as the oracle's
      // min(doc_id)-at-max join does.
      dedupClustersRel(spark, dir)
        .join(documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
        .withColumn("toks", TF.tokens(col("text")))
        .withColumn("quality", round(TF.qualityScore(col("text"), col("toks")), 6))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (-col("m.nid")).as("keep_id"), col("m.q").as("quality"))
        .orderBy(col("cluster_id"))),

    // ── Light companion to q102 (VERDICT r10 #2): the same quality-
    // aware canonical selection over the EXACT-dup clusters q40 defines
    // (md5-canonical groups of the simulated re-crawl) instead of the
    // near-dup closure. q102's only raceable anchor was sf0.01 — its
    // oracle splices the recursive-CTE closure, which cannot run at
    // sf0.1; THIS oracle is two scalar aggregations over an md5 groupBy,
    // raceable at any SF, so the argmax/tie-break machinery q102 and
    // q103 share is hash-verified in the like-for-like set too (the
    // q80→q88 pattern). Quality is computed ONCE per distinct doc and
    // the re-crawl copy inherits it (same text ⇒ same fp, same score) —
    // half the tokenize of scoring the crawl union directly, mirrored
    // structurally in the oracle. Scale shape: tokenize is map-side over
    // the corpus scan, the groupBy shuffles (fp, scalars) — never text.
    QueryDef(
      "q103_canonical_exact",
      Some(s"""
        WITH toks AS (SELECT doc_id, text, ${TS.toksExpr("text")} AS toks FROM documents),
        q0 AS (SELECT doc_id, md5(text) AS fp,
                      round(${TS.qualityExpr("text", "toks")}, 6) AS quality FROM toks),
        q AS (SELECT doc_id, fp, quality FROM q0
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, fp, quality FROM q0),
        m AS (SELECT fp, min(doc_id) AS cluster_id, count(*) AS n_members,
                     max(quality) AS mq
              FROM q GROUP BY fp)
        SELECT m.cluster_id, m.n_members, min(q.doc_id) AS keep_id, m.mq AS quality
        FROM m JOIN q ON q.fp = m.fp AND q.quality = m.mq
        GROUP BY m.cluster_id, m.n_members, m.mq
        ORDER BY m.cluster_id"""))( (spark, dir) => {
      val q0 = documents(spark, dir)
        .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
          round(TF.qualityScore(col("text"), col("toks")), 6).as("quality"))
      val crawl = q0.unionByName(
        q0.select((col("doc_id") + 100000).as("doc_id"), col("fp"), col("quality")))
      crawl.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("cluster_id"), count(lit(1)).as("n_members"),
          max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (-col("m.nid")).as("keep_id"), col("m.q").as("quality"))
        .orderBy(col("cluster_id"))
    }),

    // ── Incremental NEAR-dup detection: the fuzzy counterpart of q57's
    // exact incremental check. The new batch (doc_id % 5 = 0) is banded
    // with the SAME MinHash family as q42 and its band keys probe the
    // corpus band index; only candidate pairs sharing a band pay the
    // exact Jaccard verify. At scale the corpus band index is the
    // persistent artifact (written bucketed by (band, key) once per
    // corpus version) and each increment joins only its own band keys
    // against it — the corpus shingle relation is touched only to
    // verify candidates, via an id equi-join. The bucketed-probe claim
    // is regression-guarded by BandIndexBucketingSpec (zero corpus-side
    // exchanges on the real minhashBands relation). Output = (batch doc,
    // corpus doc, jaccard) for every cross-set near-dup pair; the
    // oracle mirrors the whole pipeline (same hash family), so the
    // banding's recall behavior is itself verified, exactly q42's
    // contract.
    QueryDef(
      "q69_neardup_incremental",
      Some(s"""
        $shinglesSqlCte,
        sig AS (SELECT doc_id, ${DS.minhashSigExpr("hs")} AS sig FROM h),
        bands AS (
          SELECT doc_id, u.bk.band AS band, u.bk.key AS key
          FROM sig, (SELECT unnest(${DS.bandKeysExpr("sig")}) AS bk) u),
        cand AS (
          SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
          FROM bands b JOIN bands c ON b.band = c.band AND b.key = c.key
          WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        verified AS (
          SELECT cand.b_id, cand.c_id,
                 round(${DS.jaccardExpr("sb.shingles", "sc.shingles")}, 6) AS jac
          FROM cand
          JOIN sh sb ON sb.doc_id = cand.b_id
          JOIN sh sc ON sc.doc_id = cand.c_id)
        SELECT b_id, c_id, jac FROM verified
        WHERE jac >= 0.5 ORDER BY b_id, c_id"""),
      uses = Seq("shingleSets", "mhBands"))( (spark, dir) => {
      val sh = shingleSets(spark, dir)
      val bands = minhashBands(spark, dir)
      val cand = bands.filter(col("doc_id") % 5 === 0).as("b")
        .join(bands.filter(col("doc_id") % 5 =!= 0).as("c"),
          col("b.band") === col("c.band") && col("b.key") === col("c.key"))
        .select(col("b.doc_id").as("b_id"), col("c.doc_id").as("c_id"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), "b_id")
        .join(sh.select(col("doc_id").as("c_id"), col("shingles").as("c_sh")), "c_id")
        .withColumn("jac", round(DF.jaccard(col("b_sh"), col("c_sh")), 6))
        .filter(col("jac") >= 0.5)
        .select(col("b_id"), col("c_id"), col("jac"))
        .orderBy(col("b_id"), col("c_id"))
    })
  )

  /** Iterative min-label propagation with POINTER JUMPING over a
    * symmetric edge relation (src, dst) → ((id, label), rounds).
    *
    * Each round takes the min over neighbors' labels (the classic
    * one-hop large-scale CC step: one join + one map-side-combined
    * min-agg) and then SHORTCUTS by following the winning label one more
    * hop — label(label(id)) — so label information doubles its reach per
    * round (large-star/small-star style): O(log diameter) rounds on
    * chain-shaped clusters instead of O(diameter). Correctness is
    * unchanged: a label is always the id of a node in the same component
    * and per-node labels decrease monotonically, so the fixpoint (no
    * neighbor offers a smaller label) is constant per component = the
    * component min. No vertex ever collects its whole component.
    *
    * The returned labels relation is persisted and materialized under
    * the caller's output names (`outCols`, default ("id", "label") —
    * renaming BEFORE the final persist means the caller never pays a
    * second cache for a projection); the caller owns its unpersist.
    * `rounds` is exposed for the convergence spec.
    */
  private[queries] def minLabelPropagation(
      sym: org.apache.spark.sql.DataFrame,
      outCols: (String, String) = ("id", "label")): (org.apache.spark.sql.DataFrame, Int) = {
    val spark = sym.sparkSession
    // An iterative loop must truncate the LOGICAL plan each round, not
    // just cache the data: every round references the previous labels
    // relation three times (neighbor agg, the left join, the pointer
    // jump), so carrying plans forward grows the tree ~3^rounds — the
    // analyzer/plan-rendering work OOMs long before the data does.
    // Round-trip through a persisted RDD[Row]: the rebuilt DataFrame is
    // a LEAF plan over materialized rows (constant-size plans at any
    // round count) and each round's blocks release deterministically.
    def asLeaf(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      // MEMORY_AND_DISK, matching DataFrame persist semantics: the
      // RDD default (MEMORY_ONLY) EVICTS under pressure instead of
      // spilling, and with every prior round already unpersisted an
      // evicted partition would recompute the whole join chain back to
      // round 0 — per round, at exactly the scale where memory is
      // tight.
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = asLeaf(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val neigh = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
      val prop = labels.join(neigh, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("lbl"),
          col("label").as("prev_label"))
      // Pointer jump: the winning label is itself a node id — adopt ITS
      // current label too (≤ lbl by the monotone invariant).
      val next = prop.join(
          labels.select(col("id").as("jid"), col("label").as("jl")),
          col("lbl") === col("jid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("next_label"),
          col("prev_label"))
      val (nextDf, nextRdd) = asLeaf(next)
      // The count materializes this round's rows AND is the convergence
      // test; only after it may the previous round's blocks drop
      // (unpersist-first would recompute the whole chain — the measured
      // 25 s vs 3 s lesson).
      changed = nextDf.filter(col("next_label") < col("prev_label")).count()
      rounds += 1
      labelsRdd.unpersist(blocking = false)
      labels = nextDf.select(col("id"), col("next_label").as("label"))
      labelsRdd = nextRdd
    }
    val out = labels
      .select(col("id").as(outCols._1), col("label").as(outCols._2))
      .persist()
    out.count()
    labelsRdd.unpersist(blocking = false)
    (out, rounds)
  }
}
