package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The one scratch workspace of the queries that build a store on local
  * disk (graph, quad, view and IVF tables, exported `.ttl` dirs, stream
  * sources, checkpoints and result logs) and return a frame read from it.
  */
private[graft] object Scratch {

  /** Create a temp dir named `prefix…`, run `body` on its path, materialize
    * the result with an eager `localCheckpoint` and delete the dir in
    * `finally` — on success and on failure alike. The returned frame
    * never reads the deleted dir; a failing body's error propagates
    * unchanged.
    */
  def run(prefix: String)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir).localCheckpoint()
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
