package perfbench

import org.apache.spark.sql.functions._

import graft.pipeline.Dag

/** Checks of the benchmark's own machinery that need a Spark session:
  * the digest ignores row order and last-bit float drift but sees a
  * changed value, and a planted throwing stage produces a failed tick
  * with no time. run.py's self-test scores the returned record with the
  * same accounting as a workload iteration.
  */
object SelfTest {
  def run(work: String): Map[String, Any] = {
    val spark = Harness.session(work)
    import spark.implicits._
    val rows = (0 until 2000).map(i => (i.toLong, i * 0.1 + 1e-7, Seq(i / 3.0, -i * 0.0), s"d$i"))
    val base = rows.toDF("id", "x", "xs", "s")
    val shuffled = rows.reverse.toDF("id", "x", "xs", "s").repartition(7)
    val ulp = rows.map { case (i, x, xs, s) => (i, Math.nextUp(x), xs.map(Math.nextDown), s) }
      .toDF("id", "x", "xs", "s")
    val changed = rows.map { case (i, x, xs, s) => (i, if (i == 1000) x + 1e-3 else x, xs, s) }
      .toDF("id", "x", "xs", "s")
    val d0 = Digest(base)
    val digest = Map(
      "order_insensitive" -> (Digest(shuffled) == d0),
      "ulp_insensitive" -> (Digest(ulp) == d0),
      "sees_change" -> (Digest(changed) != d0))

    val stages = Seq(
      Dag.Stage("ok", Nil, (s, _) => s.range(100).toDF("id")),
      Dag.Stage("planted", Nil, (_, _) => throw new IllegalStateException("planted failure")),
      Dag.Stage("after", Seq("planted"), (_, up) => up("planted").withColumn("y", lit(1))))
    val dagDir = s"$work/dag"
    val full = Harness.tick(spark, stages, dagDir, refresh = true)
    val reuse = Harness.tick(spark, stages, dagDir, refresh = false)
    val planted = Map(
      "workload" -> "planted",
      "full" -> Harness.tickRecord(Seq(full)),
      "reuse" -> Harness.tickRecord(Seq(reuse)),
      "stages" -> Harness.stageReport(spark, stages, dagDir, full, Seq(reuse)))
    spark.stop()
    Map("digest" -> digest, "planted" -> planted)
  }
}
