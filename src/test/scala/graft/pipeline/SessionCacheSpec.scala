package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import graft.queries.Registry
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SessionCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq(DetectionsTable, WallFeaturesTable, graft.queries.ShinglesTable,
      graft.queries.DedupClustersTable, graft.queries.GroupedDetectionsTable,
      graft.queries.WallClustersTable, graft.queries.AnnIndexTable).foreach(_.invalidate(sf))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("builds once per key, even under concurrent first access") {
    val builds = new AtomicInteger(0)
    val key = s"spec:${System.nanoTime()}"
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val df = SessionCache.getOrPersist(spark, key) {
          builds.incrementAndGet()
          spark.range(10).toDF()
        }
        assert(df.count() == 10)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get() == 1, "the builder must run exactly once")
    // The returned frame is persisted.
    val again = SessionCache.getOrPersist(spark, key)(fail("must not rebuild"))
    assert(again.storageLevel.useMemory || again.storageLevel.useDisk)
  }

  test("distinct keys build independently") {
    val a = SessionCache.getOrPersist(spark, s"a:${System.nanoTime()}")(spark.range(3).toDF())
    val b = SessionCache.getOrPersist(spark, s"b:${System.nanoTime()}")(spark.range(5).toDF())
    assert(a.count() == 3 && b.count() == 5)
  }

  test("a slow build never blocks other keys (global lock excludes builds)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val slowKey = s"slow:${System.nanoTime()}"
    val slow = new Thread(() => {
      SessionCache.getOrPersist(spark, slowKey) {
        slowStarted.countDown()
        assert(gate.await(30, java.util.concurrent.TimeUnit.SECONDS))
        spark.range(2).toDF()
      }.count()
      ()
    })
    slow.start()
    assert(slowStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // With the slow build in flight, another key must build immediately
    // and the map surface (liveKeys/release) must not block.
    val fast = SessionCache.getOrPersist(spark, s"fast:${System.nanoTime()}") {
      spark.range(4).toDF()
    }
    assert(fast.count() == 4)
    SessionCache.liveKeys(spark)
    gate.countDown()
    slow.join(30000)
    assert(!slow.isAlive, "slow builder must complete after the gate opens")
  }

  test("releasing a key mid-build is safe: the builder unpersists its own result") {
    val building = new java.util.concurrent.CountDownLatch(1)
    val released = new java.util.concurrent.CountDownLatch(1)
    val key = s"midrel:${System.nanoTime()}"
    @volatile var result: org.apache.spark.sql.DataFrame = null
    val builder = new Thread(() => {
      result = SessionCache.getOrPersist(spark, key) {
        building.countDown()
        assert(released.await(30, java.util.concurrent.TimeUnit.SECONDS))
        spark.range(6).toDF()
      }
      ()
    })
    builder.start()
    assert(building.await(30, java.util.concurrent.TimeUnit.SECONDS))
    SessionCache.release(spark, key) // entry gone before the build finishes
    released.countDown()
    builder.join(30000)
    assert(!builder.isAlive)
    // The orphaned build's storage must not linger...
    assert(result.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "builder must unpersist a result whose entry was released mid-build")
    // ...and the relation itself stays valid for the caller.
    assert(result.count() == 6)
  }

  test("release drops the entry and its storage; a later consumer rebuilds") {
    val key = s"rel:${System.nanoTime()}"
    val builds = new AtomicInteger(0)
    val df = SessionCache.getOrPersist(spark, key) {
      builds.incrementAndGet(); spark.range(7).toDF()
    }
    df.count()
    assert(SessionCache.liveKeys(spark).contains(key))
    SessionCache.release(spark, key)
    assert(!SessionCache.liveKeys(spark).contains(key))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "released entry must be unpersisted")
    // Release is a storage knob, never correctness: next consumer rebuilds.
    val again = SessionCache.getOrPersist(spark, key) {
      builds.incrementAndGet(); spark.range(7).toDF()
    }
    assert(again.count() == 7 && builds.get() == 2)
    SessionCache.release(spark, key)
    SessionCache.release(spark, key) // double release is a no-op
  }

  test("value entries: one build per key, released by the shared release path, attributed") {
    // The q57 corpus-bloom shape (VERDICT r12 #1): a driver-side
    // artifact built from a Spark job, cached per corpus identity.
    val builds = new AtomicInteger(0)
    val key = s"val:${System.nanoTime()}"
    def get() = SessionCache.getOrBuildValue(spark, key) {
      builds.incrementAndGet()
      spark.range(100).stat.bloomFilter("id", 100, 0.01)
    }
    SessionCache.drainBuildLog(spark) // other suites' residue
    // Thread results collect into the main thread (ADVICE r13 #4): an
    // AssertionError thrown in a child thread is swallowed by the
    // default handler and can never fail the suite — assert after join.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map(_ => new Thread(() => {
      try assert(get().mightContain(42L))
      catch { case t: Throwable => failures.add(t) }
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"child-thread failures: $failures")
    assert(builds.get() == 1, "value builder must run exactly once")
    assert(SessionCache.liveKeys(spark).contains(key))
    // Build wall time attributes into the same log Bench drains.
    val log = SessionCache.drainBuildLog(spark)
    assert(log.exists(_._1 == key), s"build log missing $key: $log")
    // release() drops value entries through the same path as DataFrames;
    // the next consumer rebuilds.
    SessionCache.release(spark, key)
    assert(!SessionCache.liveKeys(spark).contains(key))
    assert(get().mightContain(42L))
    assert(builds.get() == 2, "post-release access must rebuild")
    SessionCache.release(spark, key)
    SessionCache.drainBuildLog(spark)
  }

  // ── Sweep release points derived by Registry.releasePoints, over every
  // declared query at sf0.001. beforeAll invalidates the corpus's input
  // tables, so each query runs its live derivation: the path that builds
  // the most entries (dedupClusters from jacPairs, wallFeatLive).

  private def prefix(key: String): String = key.takeWhile(_ != ':')

  private def run(name: String): Unit =
    Registry.byName(name).build(spark, sf).write.format("noop").mode("overwrite").save()

  /** Key prefixes built since the last drain, one per build. */
  private def built(): Seq[String] = SessionCache.drainBuildLog(spark).map(e => prefix(e._1))

  private def live(): Set[String] = SessionCache.liveKeys(spark).map(prefix)

  /** Release every entry but `keep`'s (prefixes, for this corpus) and
    * drain the build log.
    */
  private def clearExcept(keep: Set[String]): Unit = {
    SessionCache.liveKeys(spark).filterNot(k => keep.exists(p => k == s"$p:$sf"))
      .foreach(SessionCache.release(spark, _))
    SessionCache.drainBuildLog(spark)
  }

  /** Run `order`, firing its derived release points after each query.
    * Returns every key built (a key built twice appears twice) and the
    * largest number of live entries seen after a query.
    */
  private def sweep(order: Seq[String]): (Seq[String], Int) = {
    val points = Registry.releasePoints(order)
    var highWater = 0
    val log = order.flatMap { name =>
      run(name)
      highWater = math.max(highWater, SessionCache.liveKeys(spark).size)
      Registry.release(spark, sf, points.getOrElse(name, Nil))
      built()
    }
    (log, highWater)
  }

  private def names: Seq[String] = Registry.all.map(_.name).sorted

  /** Every key prefix `name` may touch on an empty cache: its uses and,
    * transitively, what their builders read.
    */
  private def reach(name: String): Set[String] = {
    def close(k: String): Set[String] =
      Registry.builtFrom.getOrElse(k, Nil).toSet.flatMap(close) + k
    Registry.byName(name).uses.toSet.flatMap(close)
  }

  test("each query builds only keys its uses reach, reads only its uses, and its release points clear it") {
    clearExcept(Set.empty)
    names.foreach { name =>
      clearExcept(Registry.sessionKeys)
      run(name)
      val outside = built().toSet -- reach(name)
      assert(outside.isEmpty, s"$name built keys its uses do not reach: $outside")
      // With only its declared uses live, the query reads everything it
      // needs from them: a key it reads directly but does not declare
      // would be rebuilt here.
      val uses = Registry.byName(name).uses
      if (uses.nonEmpty) {
        clearExcept(Registry.sessionKeys ++ uses)
        run(name)
        val undeclared = built()
        assert(undeclared.isEmpty, s"$name reads keys missing from its uses: $undeclared")
      }
      Registry.release(spark, sf, Registry.releasePoints(Seq(name)).getOrElse(name, Nil))
      assert(live().subsetOf(Registry.sessionKeys),
        s"$name left entries live: ${live() -- Registry.sessionKeys}")
    }
  }

  test("a full declared-query sweep keeps live entries bounded (releases fire)") {
    // The sorted sweep Verify and Bench run, from an empty cache.
    clearExcept(Set.empty)
    val (log, highWater) = sweep(names)
    assert(log.diff(log.distinct).isEmpty, s"keys built twice: ${log.diff(log.distinct)}")
    assert(live().subsetOf(Registry.sessionKeys),
      s"sweep must end with only the session-lifetime keys: live=${live()}")
    // The retirement property: the high-water mark stays well below the
    // ~30 cacheable stages, i.e. entries retire as their last consumers
    // pass instead of accumulating for the life of the app.
    assert(highWater <= 13, s"high-water mark $highWater — entries not retiring")
    info(s"high-water $highWater, ${log.size} keys built")
  }

  test("shuffled and subset sweeps build no key twice and end with only the session keys") {
    val sortedPoints = Registry.releasePoints(names)
    val lastConsumers = Seq("toks", "embN", "grouped").map { k =>
      sortedPoints.collectFirst { case (q, keys) if keys.contains(k) => q }.get
    }
    val orders = Seq(
      "shuffled" -> new scala.util.Random(20261018L).shuffle(names),
      s"without ${lastConsumers.mkString(",")}" -> names.filterNot(lastConsumers.contains))
    orders.foreach { case (what, order) =>
      clearExcept(Registry.sessionKeys)
      val (log, highWater) = sweep(order)
      assert(log.diff(log.distinct).isEmpty, s"$what: keys built twice: ${log.diff(log.distinct)}")
      assert(live().subsetOf(Registry.sessionKeys),
        s"$what: entries left live: ${live() -- Registry.sessionKeys}")
      info(s"$what: high-water $highWater, ${log.size} keys built")
    }
  }
}
