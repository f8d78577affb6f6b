package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A DAG tick owns the SessionCache entries first created while its
  * stages run and releases them before `materialize` returns, on success
  * and on failure; entries it did not create keep their owner. Each case
  * runs on its own session, so its live keys start empty.
  */
class DagCacheOwnershipSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def key(name: String): String = s"$name:${System.nanoTime()}"

  private def dir(): String = java.nio.file.Files.createTempDirectory("dag-own").toString

  /** Build (or read) the entry `k`: `n` ids. Entries with the same plan
    * share one storage entry, so distinct entries use distinct `n`.
    */
  private def cached(sp: SparkSession, k: String, n: Int = 3): DataFrame =
    SessionCache.getOrPersist(sp, k)(sp.range(n).toDF("id"))

  test("a tick releases the entries its stages built, nested builds included") {
    val session = spark.newSession()
    val outer = key("outer")
    val inner = key("inner")
    val runs = Dag.materialize(session, Seq(Dag.Stage("s", Nil, (sp, _) =>
      SessionCache.getOrPersist(sp, outer)(cached(sp, inner).withColumn("x", lit(1))))), dir())
    assert(runs.map(_.rows) == Seq(3L))
    assert(SessionCache.liveKeys(session).isEmpty)
    assert(SessionCache.drainBuildLog(session).map(_._1).toSet == Set(outer, inner),
      "the build log still reports the builds of a released tick")
  }

  test("an entry that existed before the tick and was only read by it survives") {
    val session = spark.newSession()
    val pre = key("pre")
    val mine = key("mine")
    cached(session, pre).count()
    Dag.materialize(session, Seq(Dag.Stage("s", Nil, (sp, _) =>
      cached(sp, pre).join(cached(sp, mine, n = 4), "id"))), dir())
    assert(SessionCache.liveKeys(session) == Set(pre))
    val again = SessionCache.getOrPersist(session, pre)(fail("a read-only entry must not rebuild"))
    assert(again.storageLevel.useMemory || again.storageLevel.useDisk)
    SessionCache.release(session, pre)
  }

  test("a stage that throws after building an entry still releases it") {
    val session = spark.newSession()
    val e = intercept[IllegalStateException](Dag.materialize(session, Seq(
      Dag.Stage("ok", Nil, (sp, _) => cached(sp, key("ok"))),
      Dag.Stage("boom", Nil, (sp, _) => {
        cached(sp, key("boom"), n = 4).count()
        throw new IllegalStateException("planted")
      })), dir()))
    assert(e.getMessage == "planted")
    assert(SessionCache.liveKeys(session).isEmpty)
  }

  test("a quality-gate rejection releases the entries the rejected stage built") {
    val session = spark.newSession()
    val gate = Seq((df: DataFrame) =>
      graft.quality.DataQuality.run(df, Seq(graft.quality.DataQuality.NotNull("v"))))
    intercept[Dag.QualityGateException](Dag.materialize(session, Seq(
      Dag.Stage("gated", Nil, (sp, _) =>
        cached(sp, key("gated")).select(col("id"), lit(null).cast("string").as("v")),
        requireChecks = gate)), dir()))
    assert(SessionCache.liveKeys(session).isEmpty)
  }

  test("an entry another thread creates during the tick keeps its owner") {
    // Attribution, not a liveKeys diff: the other thread's entry appears
    // while the stage runs, and must survive the tick's release.
    val session = spark.newSession()
    val theirs = key("theirs")
    val inStage = new CountDownLatch(1)
    val otherDone = new CountDownLatch(1)
    val other = new Thread(() => {
      if (inStage.await(60, TimeUnit.SECONDS)) cached(session, theirs, n = 4).count()
      otherDone.countDown()
    })
    other.start()
    Dag.materialize(session, Seq(Dag.Stage("s", Nil, (sp, _) => {
      val d = cached(sp, key("mine"))
      inStage.countDown()
      assert(otherDone.await(60, TimeUnit.SECONDS))
      d
    })), dir())
    other.join()
    assert(SessionCache.liveKeys(session) == Set(theirs))
    SessionCache.release(session, theirs)
  }
}
