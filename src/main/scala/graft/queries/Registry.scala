package graft.queries

/** Central list of all declared queries. SparkEntry derives its `queries`
  * and `oracleSql` maps from here so the two can never drift apart.
  */
object Registry {
  lazy val all: Seq[QueryDef] = {
    val qs = Relational.all ++ TextAnalysis.all ++ Dedup.all ++ Similarity.all ++
      Domain.all ++ DomainOracles.all ++ Streaming.all ++ Media.all ++ Temporal.all ++
      Stats.all ++ Quality.all ++ Readers.all ++ Skew.all ++ Curation.all ++ MeshIngest.all
    val names = qs.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(",")}")
    // Exactly one of (oracle, noOracleReason) per query: a rows-only
    // query without a declared reason would read as "unverified" in the
    // driver's gate (ADVICE r9 #2), and a reason on an oracled query
    // would be stale documentation.
    val bad = qs.filter(q => q.oracle.isDefined == q.noOracleReason.isDefined)
    require(bad.isEmpty,
      s"queries must declare oracle XOR noOracleReason: ${bad.map(_.name).mkString(",")}")
    // An eps oracle supplements a declared exclusion (toleranced value
    // verification for float-hash-poisoned queries); on an exactly-
    // oracled query it would be dead machinery.
    val badEps = qs.filter(q => q.epsOracle.isDefined && q.noOracleReason.isEmpty)
    require(badEps.isEmpty,
      s"epsOracle requires a rows-only query: ${badEps.map(_.name).mkString(",")}")
    qs
  }

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap

  /** SessionCache key prefixes kept for the whole session. Each is one
    * scalar of corpus metadata whose rebuild costs a full-corpus pass:
    * `embDim`, the embedding dimension the srpsig and srpsigTight builds
    * read, and `srpTightDupMass`, q110's dup-mass aggregate over the
    * whole signature relation (releasing it per sweep re-billed 1.6 s of
    * cache_build to every sweep's q110 at sf0.1). [[releasePoints]]
    * never releases them.
    */
  val sessionKeys: Set[String] = Set("embDim", "srpTightDupMass")

  /** For each SessionCache key prefix, the keys its builder may read
    * through nested getOrPersist / getOrBuildValue calls. A query that
    * finds the entry live touches only the entry; one that builds it
    * touches these too. `dedupClusters` reads `jacPairs` only on its
    * live derivation, when no [[DedupClustersTable]] is committed.
    */
  val builtFrom: Map[String, Seq[String]] = Map(
    "annIndex" -> Seq("embN"),
    "bestRays" -> Seq("grouped"),
    "contamHits" -> Seq("sh5"),
    "dedupClusters" -> Seq("jacPairs"),
    "grouped" -> Seq("detections"),
    "isolatedGrouped" -> Seq("detections", "sweepIou"),
    "jacPairs" -> Seq("shingleSets"),
    "mhBands" -> Seq("shingleSets"),
    "sh5" -> Seq("toks"),
    "simhash" -> Seq("shingleSets"),
    "srpTightDupMass" -> Seq("srpsigTight"),
    "srpsig" -> Seq("embDim"),
    "srpsigTight" -> Seq("embDim"),
    "srpsigTightCanon" -> Seq("srpsigTight"),
    "sweepIou" -> Seq("detections"))

  private def uses(name: String): Seq[String] = byName.get(name).toSeq.flatMap(_.uses)

  /** Release points for a sweep that runs the queries in `order`: query
    * name → the key prefixes to release once that query's action has
    * completed. Each key goes after the last query in `order` that may
    * touch it, so a sweep firing these points builds no key twice and
    * ends with every key it touched released, [[sessionKeys]] apart.
    *
    * A query touches its `uses`, and a key's [[builtFrom]] keys unless
    * an earlier query in `order` has that key in its own `uses`: that
    * reader left the entry live, and it stays live until its own release
    * point, which is no earlier than this query. A key reached only
    * through builtFrom vouches for nothing, because its build may not
    * have run (see dedupClusters). A `uses` key that a query reads only
    * on some corpora (srpsigTightCanon) or without a committed table
    * (wallFeatLive) does vouch: the condition is a property of the
    * corpus and its tables, the same for every reader in one sweep.
    */
  def releasePoints(order: Seq[String]): Map[String, Seq[String]] = {
    val lastToucher = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val live = scala.collection.mutable.Set.empty[String]
    order.foreach { q =>
      def touch(key: String): Unit = {
        lastToucher(key) = q
        if (!live(key)) builtFrom.getOrElse(key, Nil).foreach(touch)
      }
      uses(q).foreach(touch)
      live ++= uses(q)
    }
    lastToucher.toSeq.collect { case (k, q) if !sessionKeys(k) => (q, k) }
      .groupMap(_._1)(_._2)
  }

  /** Release the key prefixes `keys` (one query's [[releasePoints]]
    * entry) for corpus `dir`.
    */
  def release(spark: org.apache.spark.sql.SparkSession, dir: String, keys: Seq[String]): Unit =
    keys.foreach(k => graft.pipeline.SessionCache.release(spark, s"$k:$dir"))
}
