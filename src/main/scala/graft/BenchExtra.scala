package graft

import org.apache.spark.sql.SparkSession

/** Per-query isolation harness (guide §1.4): times a named subset of
  * SparkEntry queries with the SAME session shape and action as
  * [[Bench]] (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus, AQE
  * on, `.count()` after a per-query warmup at SPARK_GRAFT_WARM_DIR),
  * but with N reps per query (min + all samples printed) so one-off
  * scheduler noise is visible, and optional `.explain("formatted")`
  * dumps to SPARK_GRAFT_PLAN_DIR (the plans/r08 evidence files). Each
  * timed rep also reports the Spark jobs it started.
  *
  * Usage: sbt "runMain graft.BenchExtra <reps> <query> [<query>...]"
  * The measurement harness of OPTIMIZATION_r08.md; Bench.scala itself
  * stays frozen.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.Excluded)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    val out = names.map { n =>
      val fn = SparkEntry.queries(n)
      try { fn(spark, warmDir).count(); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[extra] warmup of $n failed: $e") }
      planDir.foreach { pd =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pd))
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$pd/$n.txt"), txt.getBytes("UTF-8"))
      }
      val (ts, js) = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(n)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); () }
        catch { case e: Throwable => System.err.println(s"[extra] $n failed: $e") }
        val t = (System.nanoTime() - t0) / 1e9
        // listener events arrive asynchronously; let the bus drain first
        Thread.sleep(200)
        (t, jobs.get() - j0)
      }.unzip
      spark.sparkContext.setJobDescription(null)
      println(f"[extra] $n min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}" +
        s" jobs=${js.mkString(",")}")
      n -> ts.min
    }
    val qs = out.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"extra","value":${out.map(_._2).sum},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
