package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one Turtle→rows binding ([[TripleEmit.turtleRows]]) seen through its
  * Spark surfaces: the strict typed path the GraphOps ops use, the
  * `parse_turtle_safe` generator in SQL, and `ingestTurtle`.
  */
class TurtleBindingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Pipeline.sparkSession("local[4]", 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  /** (url, text) for the 29 positive fixtures. */
  private lazy val fixtures: Seq[(String, String)] = (1 to 29).map { i =>
    val name = f"p$i%02d"
    (s"urn:fixture:$name", read(s"src/test/resources/turtle/positive/$name.ttl"))
  }
  private val badUrl = "urn:bad:syntax_error"
  private lazy val bad = (badUrl, read("src/test/resources/turtle/syntax_error.ttl"))

  /** Job start events, per job group, with the RDD names of every stage. */
  private final class Jobs extends SparkListener {
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Vector[Seq[String]]]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.foreach { g =>
        val rdds = e.stageInfos.flatMap(_.rddInfos.map(_.name))
        byGroup.merge(g, Vector(rdds), (a, b) => a ++ b)
      }
    }
    def apply(group: String): Vector[Seq[String]] = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      Option(byGroup.get(group)).getOrElse(Vector.empty)
    }
  }

  test("ingestTurtle runs one job, and reading triples and rejects never re-runs the parse") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = sc.parallelize(
      (fixtures :+ bad).zipWithIndex.map { case ((u, t), i) => (u, new Timestamp(i * 1000L), t) }, 4)
      .setName("binding-docs").toDS()
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try {
      sc.setJobGroup("binding-ingest", "ingestTurtle")
      val (triples, rejects) = TripleEmit.ingestTurtle(docs)
      sc.setJobGroup("binding-read", "read the ingest outputs")
      val n = triples.count()
      assert(triples.collect().length == n && n > 0)
      assert(rejects.collect().map(_.url).toSeq == Seq(badUrl))
      sc.clearJobGroup()

      val ingest = jobs("binding-ingest")
      val nJobs = ingest.size
      assert(nJobs == 1, "jobs started by one ingestTurtle call")
      assert(ingest.head.contains("binding-docs"), ingest)
      val reads = jobs("binding-read")
      assert(reads.size >= 3, reads)
      assert(!reads.exists(_.contains("binding-docs")), s"a read job re-ran the parse: $reads")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
    }
  }

  test("strict rows, parse_turtle_safe and ingestTurtle agree on the fixtures and on a malformed document") {
    import spark.implicits._
    type T = (String, String, String)
    val all = fixtures :+ bad

    // strict typed path, as the GraphOps ops run it
    def strict(docs: Seq[(String, String)]): Map[String, Set[T]] =
      docs.toDS().flatMap { case (url, text) =>
        TripleEmit.turtleRows(text, url)((s, p, o, _, _) => (url, s, p, o))
      }.collect().groupBy(_._1).map { case (u, rows) => u -> rows.map(r => (r._2, r._3, r._4)).toSet }
    val strictRows = strict(fixtures)

    graft.expr.TurtleFunctions.register(spark)
    all.toDF("url", "ttl").createOrReplaceTempView("binding_docs")
    val sql = spark.sql(
      """SELECT url, t.subj, t.pred, t.obj, t.err FROM binding_docs
        |LATERAL VIEW parse_turtle_safe(ttl) t AS subj, pred, obj, err""".stripMargin)
      .as[(String, String, String, String, String)].collect()

    val (triples, rejects) = TripleEmit.ingestTurtle(
      all.map { case (u, t) => (u, new Timestamp(0L), t) }.toDS())
    // ingest labels are document-scoped: `_:d<tag>l<label>` for the
    // document's labels, `_:d<tag>-<n>` for anonymous nodes
    def unscope(url: String, term: String): String = {
      val tag = "_:d" + java.lang.Long.toHexString(Mentions.hash64(url))
      if (term.startsWith(tag + "l") || term.startsWith(tag + "-")) "_:" + term.drop(tag.length + 1)
      else term
    }
    val ingested = triples.collect().groupBy(_.src_url).map { case (u, rows) =>
      u -> rows.map(r => (unscope(u, r.subj), r.pred, unscope(u, r.obj))).toSet
    }

    // well-formed documents: the same triples on every surface
    assert(strictRows.keySet == fixtures.map(_._1).toSet)
    fixtures.foreach { case (u, _) =>
      val viaSql = sql.filter(_._1 == u).map(r => (r._2, r._3, r._4)).toSet
      assert(sql.filter(_._1 == u).forall(_._5 == null), u)
      assert(viaSql == strictRows(u), s"parse_turtle_safe differs on $u")
      assert(ingested.getOrElse(u, Set.empty) == strictRows(u), s"ingestTurtle differs on $u")
    }

    // malformed document: strict throws naming it; each lenient surface
    // gives exactly one error, with the same span
    val sqlErr = sql.filter(_._1 == badUrl)
    assert(sqlErr.length == 1 && sqlErr.head._2 == null && sqlErr.head._5 != null, sqlErr.toSeq)
    val span = """ at (\d+)\.\.(\d+)$""".r.findFirstMatchIn(sqlErr.head._5)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse(fail(sqlErr.head._5))
    val rs = rejects.collect()
    assert(rs.length == 1 && rs.head.url == badUrl, rs.toSeq)
    assert((rs.head.span_start, rs.head.span_end) == span)
    assert(sqlErr.head._5 == s"${rs.head.message} at ${span._1}..${span._2}")
    assert(!ingested.contains(badUrl))
    val thrown = intercept[SparkException](strict(Seq(bad)))
    assert(thrown.getMessage.contains(s"$badUrl: ${rs.head.message} at ${span._1}..${span._2}"),
      thrown.getMessage)
  }
}
