package graftbench

import graft.pipeline.Pipeline

/** Runs one set-up and one op of each workload, and each graph query once,
  * so that the JVM that `build.py` starts with `-XX:ArchiveClassesAtExit`
  * loads, and archives, every class a benchmark run loads.
  * Usage: `graftbench.Train <work dir>`.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Pipeline.sparkSession("local[4]", 8, "graftbench-train")
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new Trace(detailed = true))
    Seq(
      new KgBuild(spark, 1, s"$work/kg_build"),
      new TurtleIngest(spark, 1, s"$work/turtle_ingest")).foreach { w =>
      w.setup()
      w.op(s"$work/out-${w.getClass.getSimpleName}")
    }
    val g = new GraphQueries(spark, 1, s"$work/graph")
    g.setup()
    GraphQueries.Queries.foreach(q => g.run(q, s"$work/graph/out"))
    spark.stop()
  }
}
