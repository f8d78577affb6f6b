package graft

/** Local-filesystem helpers shared by the state/stage committers
  * (IngestDeduper segments, Dag stage tables). One definition: deletion
  * ORDER is load-bearing (see [[uncommitThenDelete]]) and must not fork
  * across call sites.
  */
private[graft] object Fs {

  def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree); f.delete(): Unit
  }

  /** Total row count of a local parquet table dir read from the file
    * FOOTERS on the driver — no Spark job, no task scheduling (r20,
    * guide §1.2: q83's adaptive tile count needs only the feature row
    * count, and the count() job was one of ~6 sequential scheduler
    * round trips in a latency-bound query). None on any failure so the
    * caller can fall back to the counting job, and None for a dir that
    * has any subdirectory (a partition such as `k=1/`): its rows are not
    * in the top-level footers, and summing those alone would undercount.
    */
  def parquetRowCount(path: String): Option[Long] =
    try {
      val kids = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      val parts = kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (parts.isEmpty || kids.exists(_.isDirectory)) None
      else Some(parts.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Delete a COMMITTED table dir safely: drop its commit markers FIRST,
    * then the data. `rmTree` alone deletes children in arbitrary
    * listFiles order, so a crash mid-delete could leave the marker
    * present with data files already gone — a torn table that would
    * pass the next tick's commit gate. Marker-first means any crash
    * leaves an UNcommitted dir, which readers ignore and writers
    * rebuild.
    */
  def uncommitThenDelete(dir: java.io.File, markers: Seq[String]): Unit = {
    markers.foreach(m => new java.io.File(dir, m).delete(): Unit)
    rmTree(dir)
  }
}
