package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Driver-contract smoke tests + physical-plan regression guards (the plan
  * properties SURVEY.md §4 promises: pushdown, pruning, broadcast joins).
  */
class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("EVERY query has a DuckDB oracle (no rows-only entries left)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val stale = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"oracles without query: $stale")
  }

  test("parse_turtle_safe: malformed docs yield error rows, job survives") {
    graft.expr.TurtleFunctions.register(spark)
    import spark.implicits._
    Seq(
      (1L, "@prefix p: <http://e/> . p:a p:b p:c ."),
      (2L, "<http://a b> <http://p> <http://o> ."), // lex error: space in IRI
      (3L, "<doc> <p> \"x\" .")                     // build error: no base IRI
    ).toDF("doc_id", "ttl").createOrReplaceTempView("safe_docs")
    val got = spark.sql(
      """SELECT doc_id, t.subj, t.err FROM safe_docs
        |LATERAL VIEW parse_turtle_safe(ttl) t AS subj, pred, obj, err""".stripMargin)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
    assert(got.length == 3)
    assert(got.count { case (_, s, e) => s.isDefined && e.isEmpty } == 1)
    val errs = got.filter(_._3.isDefined)
    assert(errs.map(_._1).toSet == Set(2L, 3L))
    assert(errs.forall(_._2.isEmpty))
  }

  test("GraftExtensions injects parse_turtle/parse_turtle_safe via spark.sql.extensions") {
    val old = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // programmatic twin of `--conf spark.sql.extensions=graft.expr.GraftExtensions`
    // (the static conf only applies on a fresh SparkContext, which a shared
    // test JVM cannot provide)
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.expr.GraftExtensions())
      .getOrCreate()
    try {
      val n = s2.sql(
        """SELECT count(*) AS n FROM (
          |  SELECT t.* FROM (SELECT '@prefix p: <http://e/> . p:a p:b p:c .' AS ttl) x
          |  LATERAL VIEW parse_turtle(ttl) t AS subj, pred, obj)""".stripMargin)
        .head().getLong(0)
      assert(n == 1)
      val objectList = s2.sql(
        """SELECT t.* FROM (SELECT '@prefix p: <http://e/> . p:a p:b p:c , p:d .' AS ttl) x
          |LATERAL VIEW parse_turtle(ttl) t AS subj, pred, obj""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(objectList == Set(
        ("<http://e/a>", "http://e/b", "<http://e/c>"),
        ("<http://e/a>", "http://e/b", "<http://e/d>")))
      val errs = s2.sql(
        """SELECT count(t.err) AS n FROM (SELECT '<bad iri .' AS ttl) x
          |LATERAL VIEW parse_turtle_safe(ttl) t AS subj, pred, obj, err""".stripMargin)
        .head().getLong(0)
      assert(errs == 1)
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("annBruteForce rejects unbounded query broadcasts") {
    import spark.implicits._
    val e = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.ops.EmbeddingOps.annBruteForce(e, nQueries = 1000000, k = 5)
    }
  }

  test("q05 pushes its filters into the parquet scan and prunes columns") {
    val plan = SparkEntry.queries("q05_filter_pushdown")(spark, sf)
      .queryExecution.executedPlan.toString
    // plan strings elide long lists — check the stable prefix
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(500))
    // pruned read schema: no l_shipdate-adjacent unused columns like l_tax
    assert(!plan.contains("l_tax"), "column pruning lost")
  }

  test("q02 joins dimensions via broadcast, not shuffle") {
    val plan = SparkEntry.queries("q02_join_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("q01 aggregates map-side before the exchange (partial HashAggregate)") {
    val plan = SparkEntry.queries("q01_agg_lineitem")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, "no partial aggregate")
  }

  test("kg05 plans the custom parse_turtle Generator") {
    val plan = SparkEntry.queries("kg05_parse_turtle_sql")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && plan.toLowerCase.contains("parseturtle"),
      plan.take(800))
  }

  test("td16 split is a zero-exchange projection; td17 rank filter compiles to WindowGroupLimit") {
    val split = SparkEntry.queries("td16_split")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!split.contains("Exchange"), "split projection must not shuffle:\n" + split.take(600))
    val sample = SparkEntry.queries("td17_stratified_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sample.contains("WindowGroupLimit"),
      "rank<=k should push a per-stratum group limit:\n" + sample.take(800))
  }

  test("turtle ingestion routes malformed documents to the rejects table") {
    import spark.implicits._
    val docs = Seq(
      ("http://ok.example/1", new java.sql.Timestamp(0L),
        "@prefix p: <http://e/> . p:a p:b p:c ."),
      ("http://bad.example/2", new java.sql.Timestamp(0L),
        "<http://a b> <http://p> <http://o> ."), // space in IRI
      ("http://bad.example/3", new java.sql.Timestamp(0L),
        "p:a p:b p:c .") // unknown prefix (build-time error)
    ).toDS()
    val (triples, rejects) = graft.pipeline.TripleEmit.ingestTurtle(docs)
    val ts = triples.collect()
    val rs = rejects.collect()
    assert(ts.length == 1 && ts(0).src_url == "http://ok.example/1")
    // labels are document-scoped in ingestion mode
    assert(ts(0).subj.startsWith("<http://e/a>") || ts(0).subj == "<http://e/a>")
    assert(rs.map(_.url).sorted.toSeq == Seq("http://bad.example/2", "http://bad.example/3"))
    assert(rs.forall(r => r.message.nonEmpty && r.span_end >= r.span_start))
  }

  test("memory-sink queries leave no temp view and no active stream behind") {
    val sinkQueries = Seq("q12_stream_window", "q13_stream_sessionize",
      "q23_stream_watermark", "q24_stream_dedup", "q29_stream_dedup_watermark",
      "q31_stream_stream_join", "q32_session_window", "q33_transform_with_state",
      "q41_stream_trending", "kg17_stream_parse")
    // other tests of this session register their own graft_* views
    def graftViews() = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name).toSet
    val before = graftViews()
    sinkQueries.foreach { q =>
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q returned no rows")
    }
    val views = graftViews() -- before
    assert(views.isEmpty, s"sink views outlived their queries: ${views.mkString(", ")}")
    assert(spark.streams.active.isEmpty,
      s"streams still active: ${spark.streams.active.map(_.name).mkString(", ")}")
  }

  test("scratch-dir queries return frames that outlive their deleted dirs") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs(prefix: String) =
      Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith(prefix)).toSet
    Seq("kg22_delta_merge" -> "graft_kg22_", "kg23_stream_graph_merge" -> "graft_kg23_",
      "emb19_ann_ivf_delta" -> "graft_emb19_").foreach { case (q, prefix) =>
      val before = scratchDirs(prefix)
      val df = SparkEntry.queries(q)(spark, sf)
      assert(scratchDirs(prefix) == before, s"$q left a scratch dir behind")
      // counted after the call returned: the frame reads no deleted file
      assert(df.count() > 0, s"$q returned no rows")
    }
  }
}
