package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Fs.parquetRowCount` reads row counts from parquet footers, so it
  * must refuse a layout whose rows are not all in top-level files.
  */
class FsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("parquetRowCount sums a flat dir's footers and returns None for a non-flat dir") {
    val dir = java.nio.file.Files.createTempDirectory("fs-rowcount").toFile
    try {
      val table = new java.io.File(dir, "t.parquet").getPath
      spark.range(3).coalesce(1).write.parquet(table)
      assert(Fs.parquetRowCount(table).contains(3L))
      // A top-level part file plus a k=1/ partition holding another:
      // the footers at the top see 3 of the 8 rows.
      spark.range(5).coalesce(1).write.parquet(s"$table/k=1")
      assert(Fs.parquetRowCount(table).isEmpty,
        "a dir with a subdirectory must fall back to the counting job, not undercount")
    } finally Fs.rmTree(dir)
  }
}
