package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.GraphOps
import graft.pipeline.{CheckpointPolicy, TableLog}
import SparqlAst._

/** Lowers a parsed SPARQL query ([[SparqlAst]]) onto the graft BGP algebra
  * ([[graft.ops.GraphOps]]): every construct maps to an EXISTING,
  * oracle-checked operator — triple patterns to [[GraphOps.bgpChain]]
  * (pred-pruned scans, sketch-driven join order), property paths to
  * [[GraphOps.evalPath]] (bounded closures on the CheckpointPolicy),
  * OPTIONAL to left joins, MINUS to the disjoint-domain-aware anti join,
  * FILTER NOT EXISTS to left-anti, UNION to [[GraphOps.bgpUnion]], VALUES
  * to the broadcast join, aggregates to [[GraphOps.bgpAggregate]], solution
  * modifiers to [[GraphOps.bgpSelect]]. The front-end adds NO new physical
  * shapes — text in, the same plans the typed API produces out.
  *
  * Subset semantics (documented deviations, each rejected-or-pinned, never
  * silently wrong):
  *   - All triple patterns of one group merge into ONE BGP solved before
  *     OPTIONAL/MINUS/NOT EXISTS apply (the well-designed-pattern algebra).
  *   - `p+`/`p*` closures are bounded by [[Config.maxHops]] — the engine's
  *     explicit-depth contract for web-scale graphs (kg41/kg68).
  *   - GROUP_CONCAT concatenates in SORTED order (SPARQL leaves order
  *     undefined; the engine pins the deterministic one, kg65 rule).
  *   - SUM/AVG coerce integer lexical forms (BIGINT-exact sums, AVG = one
  *     double division of exact sum by exact count, the kg38 rule);
  *     non-numeric terms in a SUM or numeric FILTER compare as null/false.
  *   - ORDER BY sorts the RENDERED term text (the kg50 rule).
  *   - An aggregate query requires an explicit GROUP BY.
  */
object SparqlExec {

  /** `maxHops` bounds every `+`/`*` path closure (explicit depth opt-in);
    * `checkpoint` threads the closure loops' lineage policy.
    */
  final case class Config(
      maxHops: Int = 8,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local)

  /** Parse + lower + return the solution DataFrame for a SPARQL string.
    *
    * `patternSource(pred)` supplies each predicate's triple rows (pass
    * `Materialize.readPred` on a materialized graph so every pattern scan
    * prunes to its pred_hash partitions); `fullSource` supplies the whole
    * triple table and is required only by negated property sets (`!p` —
    * the complement cannot predicate-prune). Rejections — syntax errors
    * and constructs outside the subset — raise [[SparqlAst.Diag]] with the
    * source span; [[diagnose]] converts them to reject rows.
    */
  def query(
      spark: SparkSession,
      q: String,
      patternSource: String => DataFrame,
      predCounts: Map[String, Long],
      fullSource: Option[() => DataFrame] = None,
      config: Config = Config(),
      quadSource: Option[() => DataFrame] = None): DataFrame = {
    val ast = SparqlParser.parse(q)
    val ctx = new Ctx(spark, patternSource, predCounts, fullSource, config, quadSource)
    ast match {
      case s: Select => ctx.lowerSelect(s)
      case Ask(where) =>
        val sol = ctx.lowerGroup(where)
        val any = sol.limit(1).select(lit(1L).as("result"))
        import spark.implicits._
        Seq(0L).toDF("_z").join(any, lit(true), "left")
          .select(coalesce(col("result"), lit(0L)).as("result"))
      case Construct(templates, where) =>
        val sol = ctx.lowerGroup(where)
        val ts = templates.map { t =>
          val sv = t.s match {
            case Term.V(v) => v
            case _ => throw Diag("CONSTRUCT template subjects must be variables", t.start, t.end)
          }
          val p = Path.simple(t.p).getOrElse(
            throw Diag("CONSTRUCT template predicates must be plain IRIs", t.start, t.end))
          val ov = t.o match {
            case Term.V(v) => v
            case _ => throw Diag("CONSTRUCT template objects must be variables", t.start, t.end)
          }
          GraphOps.ConstructTemplate(sv, p, ov)
        }
        GraphOps.construct(sol, ts)
      case Describe(vars, iris, where) =>
        // outgoing-arc CBD (kg55): ONE left-semi join of the full triple
        // table against the (small, AQE-broadcast) resource set
        val full = fullSource.getOrElse(throw Diag(
          "DESCRIBE needs the full triple table (pass fullSource — " +
            "descriptions cannot predicate-prune)", 0, 0))()
        import spark.implicits._
        val iriDf =
          if (iris.isEmpty) None
          else Some(iris.map(i => s"<$i>").toDF("subj"))
        val varDf = where.filter(_ => vars.nonEmpty).map { g =>
          val sol = ctx.lowerGroup(g)
          val unbound = vars.filterNot(sol.columns.contains)
          if (unbound.nonEmpty)
            throw Diag(s"DESCRIBE variables not bound by WHERE: " +
              unbound.mkString(", "), 0, 0)
          vars.map(v => sol.select(col(v).as("subj")))
            .reduce(_.unionByName(_))
        }
        val subjects = (iriDf.toSeq ++ varDf.toSeq)
          .reduce(_.unionByName(_)).distinct()
        GraphOps.describe(full, subjects)
    }
  }

  /** The diagnostic-sink row (the reference's `examples/simple.rs:27-37`
    * error channel): None on success, Some(message, start, end) on reject.
    */
  def diagnose(q: String): Option[(String, Int, Int)] =
    try { SparqlParser.parse(q); None }
    catch { case d: Diag => Some((d.message, d.start, d.end)) }

  /** [[diagnose]] for Update requests. */
  def diagnoseUpdate(u: String): Option[(String, Int, Int)] =
    try { SparqlParser.parseUpdate(u); None }
    catch { case d: Diag => Some((d.message, d.start, d.end)) }

  /** Parse + execute one SPARQL 1.1 Update request against a materialized
    * LSM graph table at `out` — the WRITE half of the text surface. Every
    * form lowers onto the tombstone delta path (bytes ∝ instantiated
    * templates, never a table rewrite):
    *
    *   - `INSERT DATA` / `DELETE DATA` → one ground delta batch
    *     ([[graft.pipeline.Materialize.appendDeltaOps]], quad rows under
    *     GRAPH blocks).
    *   - `DELETE { … } INSERT { … } WHERE { … }` →
    *     [[GraphOps.updateWhere]] (delete-then-insert order preserved,
    *     kg63 semantics).
    *   - `WITH <g> DELETE/INSERT WHERE` → [[GraphOps.updateWhereGraph]]
    *     (sibling graphs byte-untouched, kg69 semantics).
    *   - `DELETE WHERE { … }` → the pattern block doubles as the delete
    *     template block.
    *
    * Subset contracts (spanned [[Diag]] rejects, never a silent misread):
    * template subjects/objects are variables with plain-IRI predicates
    * (the [[GraphOps.ConstructTemplate]] shape — DELETE WHERE therefore
    * takes variable-object patterns only); WHERE supports plain triple
    * patterns (constant objects allowed); `quadTable` selects the layout —
    * GRAPH blocks and WITH require it, a triple table forbids them.
    */
  def update(
      spark: SparkSession,
      u: String,
      out: String,
      predCounts: Map[String, Long],
      srcUrl: String,
      ts: java.sql.Timestamp,
      quadTable: Boolean = false): Unit = {
    val M = graft.pipeline.Materialize
    SparqlParser.parseUpdate(u) match {
      case UpdateOp.Data(insert, triples) =>
        if (quadTable && triples.exists(_._1.isEmpty))
          throw Diag("quad tables take every DATA triple inside GRAPH <iri> { … }", 0, 0)
        if (!quadTable && triples.exists(_._1.isDefined))
          throw Diag("GRAPH blocks in DATA need a quad table (quadTable = true)", 0, 0)
        val op = if (insert) TableLog.OpAdd else TableLog.OpDel
        import spark.implicits._
        val rows =
          if (quadTable) triples
            .map { case (g, s, p, o) => (s"<${g.get}>", s, p, o) }
            .toDF("graph", "subj", "pred", "obj")
          else triples
            .map { case (_, s, p, o) => (s, p, o) }
            .toDF("subj", "pred", "obj")
        M.appendDeltaOps(spark, out, rows
          .withColumn("op", lit(op))
          .withColumn("src_url", lit(srcUrl)).withColumn("warc_ts", lit(ts)))
      case UpdateOp.Modify(withGraph, del, ins, where, start, end) =>
        if (quadTable && withGraph.isEmpty)
          throw Diag("quad tables need WITH <graph> on DELETE/INSERT WHERE", start, end)
        if (!quadTable && withGraph.isDefined)
          throw Diag("WITH <graph> needs a quad table (quadTable = true)", start, end)
        val delT = del.map(toTemplate)
        val insT = ins.map(toTemplate)
        val chains = whereChains(where, start, end)
        try withGraph match {
          case Some(g) => GraphOps.updateWhereGraph(spark, out, s"<$g>",
            delT, insT, chains, predCounts, srcUrl, ts)
          case None => GraphOps.updateWhere(spark, out,
            delT, insT, chains, predCounts, srcUrl, ts)
        } catch {
          // algebra-contract violations surface as spanned diagnostics,
          // the same channel as syntax rejects
          case e: IllegalArgumentException => throw Diag(e.getMessage, start, end)
        }
    }
  }

  /** Template triple → the [[GraphOps.ConstructTemplate]] shape. */
  private def toTemplate(tp: TriplePat): GraphOps.ConstructTemplate = {
    val sv = tp.s match {
      case Term.V(v) => v
      case _ => throw Diag("template subjects must be variables (DELETE WHERE " +
        "included — its patterns double as templates)", tp.start, tp.end)
    }
    val p = Path.simple(tp.p).getOrElse(
      throw Diag("template predicates must be plain IRIs", tp.start, tp.end))
    val ov = tp.o match {
      case Term.V(v) => v
      case _ => throw Diag("template objects must be variables (bind constants " +
        "in the WHERE clause)", tp.start, tp.end)
    }
    GraphOps.ConstructTemplate(sv, p, ov)
  }

  /** UPDATE WHERE group → the plain-chain subset [[GraphOps.updateWhere]]
    * evaluates (spanned reject beyond it).
    */
  private def whereChains(g: Group, start: Int, end: Int): Seq[GraphOps.ChainPattern] =
    g.elems.flatMap {
      case GroupElem.Triples(ps) => ps
      case _ => throw Diag("UPDATE WHERE supports plain triple patterns only " +
        "(no FILTER/OPTIONAL/UNION — run a CONSTRUCT query and INSERT DATA " +
        "the result for richer shapes)", start, end)
    }.map { tp =>
      val sv = tp.s match {
        case Term.V(v) => v
        case _ => throw Diag("pattern subjects must be variables", tp.start, tp.end)
      }
      val pred = Path.simple(tp.p).getOrElse(
        throw Diag("UPDATE WHERE predicates must be plain IRIs", tp.start, tp.end))
      tp.o match {
        case Term.V(ov) => GraphOps.ChainPattern(sv, pred, oVar = Some(ov))
        case Term.I(i)  => GraphOps.ChainPattern(sv, pred, oConst = Some(s"<$i>"))
        case Term.L(r)  => GraphOps.ChainPattern(sv, pred, oConst = Some(r))
      }
    }

  /** Decode a RENDERED term to its lexical form (pure twin of
    * [[GraphOps.TermFns.termStr]], for constants).
    */
  private[sparql] def lexicalOf(rendered: String): String =
    if (rendered.startsWith("<")) rendered.stripPrefix("<").stripSuffix(">")
    else if (rendered.startsWith("\"")) {
      val m = "^\"((?:[^\"\\\\]|\\\\.)*)\"".r.findFirstMatchIn(rendered)
      val body = m.map(_.group(1)).getOrElse("")
      Seq("\\n" -> "\n", "\\r" -> "\r", "\\t" -> "\t", "\\b" -> "\b",
        "\\f" -> "\f", "\\u0022" -> "\"", "\\u005c" -> "\\")
        .foldLeft(body) { case (a, (e, r)) => a.replace(e, r) }
    } else rendered

  private val NumLex = "^-?\\d+(\\.\\d+)?$"

  private final class Ctx(
      spark: SparkSession,
      patternSource: String => DataFrame,
      predCounts: Map[String, Long],
      fullSource: Option[() => DataFrame],
      config: Config,
      quadSource: Option[() => DataFrame]) {

    private def err(msg: String, start: Int = 0, end: Int = 0): Nothing =
      throw Diag(msg, start, end)

    // ----------------------------------------------------------- SELECT
    def lowerSelect(s: Select): DataFrame = {
      val sol = lowerGroup(s.where)
      val hasAgg = s.proj.exists(_.isInstanceOf[Proj.PAgg])
      val projected: DataFrame =
        if (hasAgg || s.groupBy.nonEmpty) {
          if (s.groupBy.isEmpty)
            err("aggregate projections require an explicit GROUP BY")
          val bareVars = s.proj.collect { case Proj.PV(v) => v }
          val offGroup = bareVars.filterNot(s.groupBy.contains)
          if (offGroup.nonEmpty)
            err(s"projected variables not in GROUP BY: ${offGroup.mkString(", ")}")
          val aggs = s.proj.collect { case a: Proj.PAgg => lowerAgg(a, sol) }
          if (aggs.isEmpty) err("GROUP BY without an aggregate projection")
          val agged0 = GraphOps.bgpAggregate(sol, s.groupBy, aggs)
          // HAVING filters the aggregated rows (variables = group keys +
          // aggregate aliases, compared RAW — aggregate outputs are
          // already typed values, not rendered terms)
          val agged = s.having match {
            case Some(h) => agged0.filter(havingCol(h, agged0.columns.toSeq))
            case None    => agged0
          }
          val order = s.proj.map {
            case Proj.PV(v)            => v
            case Proj.PAgg(_, _, a, _) => a
          }
          agged.select(order.map(col): _*)
        } else {
          if (s.having.isDefined) err("HAVING requires GROUP BY")
          val names =
            if (s.proj.isEmpty) sol.columns.sorted.toSeq // SELECT *: sorted = deterministic
            else s.proj.map { case Proj.PV(v) => v; case _ => "" }
          val missing = names.filterNot(sol.columns.contains)
          if (missing.isEmpty) sol.select(names.map(col): _*)
          else err(s"projected variables not bound: ${missing.mkString(", ")}")
        }
      val badKeys = s.orderBy.map(_.variable).filterNot(projected.columns.contains)
      if (badKeys.nonEmpty) err(s"ORDER BY keys must be projected: ${badKeys.mkString(", ")}")
      GraphOps.bgpSelect(projected, projected.columns.toSeq,
        distinct = s.distinct,
        orderBy = s.orderBy.map(k => GraphOps.OrderKey(k.variable, k.ascending)),
        limit = s.limit, offset = s.offset)
    }

    private def lowerAgg(a: Proj.PAgg, sol: DataFrame): Column = {
      def arg: Column = {
        val v = a.arg.getOrElse(err(s"${a.fn} needs a variable argument"))
        if (!sol.columns.contains(v)) err(s"aggregate argument ?$v is not bound")
        col(v)
      }
      // SUM coerces the integer lexical form — BIGINT-exact (kg38 rule);
      // non-integer terms contribute null (SPARQL's type-error-drops rule)
      def intArg: Column = {
        val lex = GraphOps.TermFns.termStr(arg)
        when(lex.rlike("^-?\\d+$"), lex.cast("long"))
      }
      val c = a.fn match {
        case "COUNT" => a.arg.map(_ => count(arg)).getOrElse(count(lit(1)))
        case "COUNT_DISTINCT" =>
          a.arg.map(_ => countDistinct(arg)).getOrElse(err("COUNT(DISTINCT *) is not supported"))
        case "SUM"          => sum(intArg)
        case "SUM_DISTINCT" => sum_distinct(intArg)
        // AVG = exact BIGINT sum, ONE double division at the end — the
        // deterministic decomposition (a running double mean would be
        // partition-order-dependent)
        case "AVG"          => sum(intArg) / count(intArg)
        case "AVG_DISTINCT" => sum_distinct(intArg) / countDistinct(intArg)
        case "MIN" | "MIN_DISTINCT" => min(arg)
        case "MAX" | "MAX_DISTINCT" => max(arg)
        // sorted concatenation: SPARQL leaves GROUP_CONCAT order undefined,
        // the engine pins the deterministic one (kg65 rule)
        case "GROUP_CONCAT" =>
          array_join(array_sort(collect_list(arg)), a.separator.getOrElse(" "))
        case "GROUP_CONCAT_DISTINCT" =>
          array_join(array_sort(collect_set(arg)), a.separator.getOrElse(" "))
        case other => err(s"unsupported aggregate $other")
      }
      c.as(a.alias)
    }

    // ------------------------------------------------------------ group
    /** Lower one GroupGraphPattern to its solution frame. Processing
      * order (the well-designed-pattern algebra): the group's merged BGP
      * (plain patterns via bgpChain + path frames), then UNION/VALUES/
      * sub-SELECT joins, then OPTIONAL/MINUS/NOT EXISTS in textual order,
      * FILTERs last (group scope).
      */
    def lowerGroup(g: Group): DataFrame = {
      val triples = g.elems.collect { case GroupElem.Triples(ps) => ps }.flatten
      val (plain, pathPats) = triples.partition(tp => Path.simple(tp.p).isDefined)

      var sol: Option[DataFrame] = None
      def join(frame: DataFrame, what: String): Unit = sol match {
        case None => sol = Some(frame)
        case Some(s) =>
          val shared = s.columns.toSeq.intersect(frame.columns.toSeq)
          if (shared.isEmpty)
            err(s"$what shares no variable with the group's other patterns " +
              "(cartesian products are rejected)")
          sol = Some(s.join(frame, shared))
      }

      // 1. plain triple patterns → ONE bgpChain (sketch-driven join order)
      if (plain.nonEmpty) {
        val chains = plain.map(toChainPattern)
        val oVars = chains.flatMap(_.oVar)
        oVars.diff(oVars.distinct).headOption.foreach { v =>
          val tp = plain(chains.indexWhere(_.oVar.contains(v))) // first offender
          err(s"object variable ?$v is bound by two patterns — join through " +
            "the subject side (the bgpChain contract)", tp.start, tp.end)
        }
        // algebra-contract violations (disconnected BGP, variable/column
        // collisions) surface through the same diagnostic channel as
        // syntax rejects — span = the whole pattern block
        sol = Some(
          try GraphOps.bgpChain(patternSource, chains, predCounts)
          catch {
            case e: IllegalArgumentException =>
              err(e.getMessage, plain.head.start, plain.last.end)
          })
      }

      // 2. property-path patterns → evalPath frames joined on shared vars
      pathPats.foreach { tp =>
        val sv = tp.s match {
          case Term.V(v) => v
          case _ => err("path subjects must be variables", tp.start, tp.end)
        }
        val pe = toPathExpr(tp.p, tp)
        val frame0 = GraphOps.evalPath(patternSource, pe, config.checkpoint, fullSource)
        val frame = tp.o match {
          case Term.V(ov) =>
            if (ov == sv) err(s"?$sv path ?$sv self-paths are not supported", tp.start, tp.end)
            frame0.select(col("src").as(sv), col("dst").as(ov))
          case Term.I(i) => frame0.filter(col("dst") === s"<$i>").select(col("src").as(sv))
          case Term.L(r) => frame0.filter(col("dst") === r).select(col("src").as(sv))
        }
        join(frame, "path pattern")
      }

      // 3. UNION / VALUES / sub-SELECT extend or seed the solution
      g.elems.foreach {
        case GroupElem.Union(alts) =>
          val frames = alts.map(lowerGroup)
          val merged = frames.reduce(GraphOps.bgpUnion)
          sol match {
            case None => sol = Some(merged)
            case Some(s) =>
              val shared = s.columns.toSeq.intersect(merged.columns.toSeq)
              if (shared.isEmpty) err("UNION shares no variable with the group")
              // a join variable null on some branch would silently drop
              // that branch's rows — require every branch to bind the keys
              frames.zip(alts).foreach { case (f, _) =>
                val unboundKeys = shared.filterNot(f.columns.contains)
                if (unboundKeys.nonEmpty)
                  err(s"every UNION branch must bind the join variables " +
                    s"${shared.mkString(", ")} when the union joins other patterns")
              }
              sol = Some(s.join(merged, shared))
          }
        case GroupElem.Values(vars, rows) =>
          val schema = StructType(vars.map(v => StructField(v, StringType, nullable = false)))
          val vdf = spark.createDataFrame(
            java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), schema)
          sol match {
            case None    => sol = Some(vdf)
            case Some(s) => sol = Some(GraphOps.bgpValues(s, vdf))
          }
        case GroupElem.SubSelect(q) =>
          join(lowerSelect(q), "sub-SELECT")
        case GroupElem.GraphGroup(gVar, gIri, inner, start, end) =>
          val quads = quadSource.getOrElse(err(
            "GRAPH queries need a quad table (pass quadSource)", start, end))()
          val frame = (gVar, gIri) match {
            case (Some(gv), None) =>
              // variable graph: every pattern additionally binds ?gv and
              // every join carries it — the kg56 quad algebra; the inner
              // group must be plain triple patterns (the algebra's shape)
              val pats = inner.elems.flatMap {
                case GroupElem.Triples(ps) => ps
                case _ => err("GRAPH ?g groups support plain triple patterns " +
                  "only (move FILTER/OPTIONAL outside the GRAPH clause)",
                  start, end)
              }
              val chains = pats.map { tp =>
                if (Path.simple(tp.p).isEmpty)
                  err("property paths are not supported inside GRAPH ?g",
                    tp.start, tp.end)
                toChainPattern(tp)
              }
              try GraphOps.bgpChainGraph(quads, chains, predCounts, gv)
              catch {
                case e: IllegalArgumentException => err(e.getMessage, start, end)
              }
            case (None, Some(gi)) =>
              // constant graph: prune the quad table to the named graph
              // once, then the inner group lowers with FULL recursion —
              // the pruned quads are just a triple table
              val scoped = quads.filter(col("graph") === s"<$gi>")
                .select(col("subj"), col("pred"), col("obj"))
              new Ctx(spark, (_: String) => scoped, predCounts,
                Some(() => scoped), config, quadSource).lowerGroup(inner)
            case _ => err("GRAPH needs exactly one of ?var or <iri>", start, end)
          }
          join(frame, "GRAPH group")
        case _ => ()
      }

      // 3.5 BIND extends solutions with computed VALUES — after the
      // pattern joins, before OPTIONAL/MINUS/FILTER (the subset's scope
      // rule: a BIND sees the group's full BGP bindings). Bind targets
      // are VALUE columns, not rendered terms; later expressions read
      // them raw (the valueVars set threads through the calculus)
      var valueVars = Set.empty[String]
      g.elems.foreach {
        case GroupElem.Bind(e, v, start, end) =>
          val s = sol.getOrElse(err("BIND needs a preceding pattern", start, end))
          if (s.columns.contains(v))
            err(s"BIND target ?$v is already bound", start, end)
          val unbound = exprVars(e).filterNot(s.columns.contains)
          if (unbound.nonEmpty)
            err(s"BIND references unbound variables: ${unbound.mkString(", ")}",
              start, end)
          sol = Some(s.withColumn(v, bindCol(e, valueVars)))
          valueVars += v
        case _ => ()
      }

      // 4. OPTIONAL / MINUS / NOT EXISTS in textual order over the base
      g.elems.foreach {
        case GroupElem.Optional(og) =>
          val s = sol.getOrElse(err("OPTIONAL needs a preceding pattern"))
          val f = lowerGroup(og)
          val shared = s.columns.toSeq.intersect(f.columns.toSeq)
          if (shared.isEmpty) err("OPTIONAL shares no variable with the group")
          sol = Some(s.join(f, shared, "left"))
        case GroupElem.Minus(mg) =>
          val s = sol.getOrElse(err("MINUS needs a preceding pattern"))
          val f = lowerGroup(mg)
          val shared = s.columns.toSeq.intersect(f.columns.toSeq).sorted
          // SPARQL's incompatibility rule: disjoint domains remove NOTHING
          if (shared.nonEmpty)
            sol = Some(s.join(f.select(shared.map(col): _*), shared, "left_anti"))
        case GroupElem.NotExists(ng) =>
          val s = sol.getOrElse(err("FILTER NOT EXISTS needs a preceding pattern"))
          val f = lowerGroup(ng)
          val shared = s.columns.toSeq.intersect(f.columns.toSeq).sorted
          if (shared.isEmpty)
            err("FILTER NOT EXISTS shares no variable with the group")
          sol = Some(s.join(f.select(shared.map(col): _*), shared, "left_anti"))
        case GroupElem.Exists(eg) =>
          // the semi-join dual of NOT EXISTS: keep solutions with at least
          // one compatible row — multiplicity-preserving (no join blowup)
          val s = sol.getOrElse(err("FILTER EXISTS needs a preceding pattern"))
          val f = lowerGroup(eg)
          val shared = s.columns.toSeq.intersect(f.columns.toSeq).sorted
          if (shared.isEmpty)
            err("FILTER EXISTS shares no variable with the group")
          sol = Some(s.join(f.select(shared.map(col): _*), shared, "left_semi"))
        case _ => ()
      }

      // 5. FILTERs scope over the whole group — applied last
      g.elems.foreach {
        case GroupElem.Filter(e) =>
          val s = sol.getOrElse(err("FILTER needs a pattern to filter"))
          val unbound = exprVars(e).filterNot(s.columns.contains)
          if (unbound.nonEmpty)
            err(s"FILTER references unbound variables: ${unbound.mkString(", ")}")
          sol = Some(s.filter(boolCol(e, valueVars)))
        case _ => ()
      }

      sol.getOrElse(err("empty group pattern"))
    }

    private def toChainPattern(tp: TriplePat): GraphOps.ChainPattern = {
      val sv = tp.s match {
        case Term.V(v) => v
        case _ => err("pattern subjects must be variables", tp.start, tp.end)
      }
      val pred = Path.simple(tp.p).get
      tp.o match {
        case Term.V(ov) =>
          if (ov == sv)
            err(s"?$sv <$pred> ?$sv self-loops are not supported", tp.start, tp.end)
          GraphOps.ChainPattern(sv, pred, oVar = Some(ov))
        case Term.I(i) => GraphOps.ChainPattern(sv, pred, oConst = Some(s"<$i>"))
        case Term.L(r) => GraphOps.ChainPattern(sv, pred, oConst = Some(r))
      }
    }

    private def toPathExpr(p: Path, tp: TriplePat): GraphOps.PathExpr = p match {
      case Path.Pred(i)   => GraphOps.PathExpr.Pred(i)
      case Path.Inv(x)    => GraphOps.PathExpr.Inv(toPathExpr(x, tp))
      case Path.Seqp(a, b) => GraphOps.PathExpr.Sequence(toPathExpr(a, tp), toPathExpr(b, tp))
      case Path.Alt(a, b)  => GraphOps.PathExpr.Alt(toPathExpr(a, tp), toPathExpr(b, tp))
      case Path.Plus(x)   => GraphOps.PathExpr.Plus(toPathExpr(x, tp), config.maxHops)
      case Path.Star(x)   => GraphOps.PathExpr.Star(toPathExpr(x, tp), config.maxHops)
      case Path.Neg(irs)  =>
        if (fullSource.isEmpty)
          err("negated property sets need the full triple table " +
            "(pass fullSource — the complement cannot predicate-prune)",
            tp.start, tp.end)
        GraphOps.PathExpr.Neg(irs)
    }

    // ------------------------------------------------------ expressions
    private def exprVars(e: Expr): Seq[String] = e match {
      case Expr.EVar(v)          => Seq(v)
      case Expr.ETerm(_) | Expr.ENum(_) => Nil
      case Expr.EStr(x)          => exprVars(x)
      case Expr.ELang(x)         => exprVars(x)
      case Expr.EDatatype(x)     => exprVars(x)
      case Expr.EIsIri(x)        => exprVars(x)
      case Expr.EIsLiteral(x)    => exprVars(x)
      case Expr.EIsBlank(x)      => exprVars(x)
      case Expr.EBound(v)        => Seq(v)
      case Expr.ERegex(x, _, _)  => exprVars(x)
      case Expr.EIn(x, _, _)     => exprVars(x)
      case Expr.EStrStarts(a, b) => exprVars(a) ++ exprVars(b)
      case Expr.ECmp(_, a, b)    => exprVars(a) ++ exprVars(b)
      case Expr.EAnd(a, b)       => exprVars(a) ++ exprVars(b)
      case Expr.EOr(a, b)        => exprVars(a) ++ exprVars(b)
      case Expr.ENot(x)          => exprVars(x)
    }

    /** RENDERED-term-valued lowering (variables and term constants). */
    private def termCol(e: Expr, vv: Set[String]): Column = e match {
      case Expr.EVar(v)  => col(v)
      case Expr.ETerm(r) => lit(r)
      case Expr.ENum(v)  => lit(v.underlying)
      case other => err(s"expected a term-valued expression, got $other")
    }

    /** STRING-valued lowering (STR/LANG/DATATYPE context; variables and
      * term constants auto-coerce through their lexical form; BIND-value
      * variables (`vv`) read RAW — they already hold values).
      */
    private def strCol(e: Expr, vv: Set[String]): Column = e match {
      case Expr.EStr(Expr.EVar(v)) if vv(v) => col(v)
      case Expr.EStr(x)      => GraphOps.TermFns.termStr(termCol(x, vv))
      case Expr.ELang(x)     => GraphOps.TermFns.termLang(termCol(x, vv))
      case Expr.EDatatype(x) => GraphOps.TermFns.termDatatype(termCol(x, vv))
      case Expr.EVar(v)      =>
        if (vv(v)) col(v) else GraphOps.TermFns.termStr(col(v))
      case Expr.ETerm(r)     => lit(lexicalOf(r))
      case other => err(s"expected a string-valued expression, got $other")
    }

    /** NUMERIC-valued lowering: lexical form coerced when it parses, null
      * (⇒ filter-false, SPARQL's type-error rule) when it does not.
      */
    private def numCol(e: Expr, vv: Set[String]): Column = e match {
      case Expr.ENum(v) => lit(v.underlying)
      case other =>
        val lex = strCol(other match {
          case Expr.EVar(_) | Expr.ETerm(_) => other
          case s                            => s // STR(...) etc already string-valued
        }, vv).cast("string")
        when(lex.rlike(NumLex), lex.cast("decimal(38,10)"))
    }

    private def cmp(op: String, l: Column, r: Column): Column = op match {
      case "="  => l === r
      case "!=" => l =!= r
      case "<"  => l < r
      case "<=" => l <= r
      case ">"  => l > r
      case ">=" => l >= r
    }

    private def isStringy(e: Expr): Boolean = e match {
      case Expr.EStr(_) | Expr.ELang(_) | Expr.EDatatype(_) => true
      case _ => false
    }
    private def isNumeric(e: Expr): Boolean = e match {
      case Expr.ENum(_) => true
      case _            => false
    }

    /** BIND value lowering: string builtins bind their lexical result,
      * boolean expressions bind 0/1 BIGINT (the kg58 projection
      * discipline), terms/variables copy through.
      */
    private def bindCol(e: Expr, vv: Set[String]): Column = e match {
      case Expr.EStr(_) | Expr.ELang(_) | Expr.EDatatype(_) => strCol(e, vv)
      case Expr.EIsIri(_) | Expr.EIsLiteral(_) | Expr.EIsBlank(_) |
           Expr.ECmp(_, _, _) | Expr.EAnd(_, _) | Expr.EOr(_, _) |
           Expr.ENot(_) | Expr.EStrStarts(_, _) => boolCol(e, vv).cast("long")
      case Expr.ENum(v) => lit(v.underlying)
      case other        => termCol(other, vv)
    }

    /** HAVING lowering: variables read the aggregated frame's RAW columns
      * (group keys and aggregate aliases — already typed values).
      */
    private def havingCol(e: Expr, cols: Seq[String]): Column = e match {
      case Expr.EVar(v) =>
        if (!cols.contains(v))
          err(s"HAVING references ?$v, which is neither a group key nor " +
            "an aggregate alias")
        col(v)
      case Expr.ENum(v)        => lit(v.underlying)
      case Expr.ETerm(r)       => lit(r)
      case Expr.ECmp(op, l, r) => cmp(op, havingCol(l, cols), havingCol(r, cols))
      case Expr.EAnd(a, b)     => havingCol(a, cols) && havingCol(b, cols)
      case Expr.EOr(a, b)      => havingCol(a, cols) || havingCol(b, cols)
      case Expr.ENot(x)        => !havingCol(x, cols)
      case other => err(s"HAVING supports variable/constant comparisons and " +
        s"boolean operators, got $other")
    }

    /** BOOLEAN-valued lowering — the FILTER entry point. */
    private def boolCol(e: Expr, vv: Set[String] = Set.empty): Column = e match {
      case Expr.EAnd(a, b) => boolCol(a, vv) && boolCol(b, vv)
      case Expr.EOr(a, b)  => boolCol(a, vv) || boolCol(b, vv)
      case Expr.ENot(x)    => !boolCol(x, vv)
      case Expr.EIsIri(x)     => GraphOps.TermFns.termIsIri(termCol(x, vv))
      case Expr.EIsLiteral(x) => GraphOps.TermFns.termIsLiteral(termCol(x, vv))
      case Expr.EIsBlank(x)   => GraphOps.TermFns.termIsBlank(termCol(x, vv))
      case Expr.EStrStarts(a, b) => strCol(a, vv).startsWith(strCol(b, vv))
      case Expr.EBound(v)        => col(v).isNotNull
      case Expr.ERegex(x, pat, ci) =>
        strCol(x, vv).rlike(if (ci) "(?i)" + pat else pat)
      case Expr.EIn(x, terms, neg) =>
        val in = termCol(x, vv).isin(terms: _*)
        if (neg) !in else in
      case Expr.ECmp(op, l, r) =>
        // a comparison touching a BIND-value variable compares VALUES —
        // the rendered-term context would silently mismatch
        val valueSide = Seq(l, r).exists {
          case Expr.EVar(v) => vv(v)
          case _            => false
        }
        if (isNumeric(l) || isNumeric(r)) cmp(op, numCol(l, vv), numCol(r, vv))
        else if (valueSide || isStringy(l) || isStringy(r))
          cmp(op, strCol(l, vv), strCol(r, vv))
        else cmp(op, termCol(l, vv), termCol(r, vv))
      case other => err(s"expected a boolean expression in FILTER, got $other")
    }
  }
}
