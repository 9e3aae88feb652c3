package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Unit tests for the training-data ops: kernel-level checks against
  * hand-computed / independently-derived values, plus behaviours the
  * sf-scale DuckDB oracles cannot see (real multilingual lang-id, planted
  * near-duplicates, MinHash bucket collisions).
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def docs(rows: (Long, String, String, String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("md5Hash60 equals the md5-hex-prefix spec") {
    // md5('abc') = 900150983cd24fb0... → first 15 hex chars as a long
    assert(TextOps.md5Hash60("abc") == java.lang.Long.parseLong("900150983cd24fb", 16))
    assert(TextOps.md5Hash60("") == java.lang.Long.parseLong("d41d8cd98f00b20", 16))
  }

  test("simHash: near-identical texts differ in few bits; disjoint texts in many") {
    val memo = new java.util.HashMap[String, java.lang.Long]()
    val a = TextOps.simHash("the quick brown fox jumps over the lazy dog", memo)
    val b = TextOps.simHash("the quick brown fox jumps over the lazy cat", memo)
    val c = TextOps.simHash("completely unrelated words about spark shuffles", memo)
    def dist(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(dist(a, b) < dist(a, c), s"${dist(a, b)} vs ${dist(a, c)}")
    assert(dist(a, a) == 0)
  }

  test("minHash: identical texts share the bucket, disjoint texts do not") {
    val s1 = TextOps.minHashSignature("abcdefghijklmnop")
    val s2 = TextOps.minHashSignature("abcdefghijklmnop")
    val s3 = TextOps.minHashSignature("zyxwvutsrqponmlk")
    assert(s1.sameElements(s2))
    assert(!s1.sameElements(s3))
  }

  test("BPE merge apply: hand-computed token counts, lowest-rank-first order") {
    // "the": (t,h)->th then (th,e)->the — one token
    assert(TextOps.bpeSymbolCount("the") == 1)
    // "thin": th + in, no (th,in) rule — two tokens
    assert(TextOps.bpeSymbolCount("thin") == 2)
    // "standing": (i,n) fires before (a,n) and (s,t) (rank order), giving
    // st + and + ing
    assert(TextOps.bpeSymbolCount("standing") == 3)
    // "erere": (e,r) merges all occurrences left-to-right -> er, er, e;
    // the later (r,e) rule finds no bare r
    assert(TextOps.bpeSymbolCount("erere") == 3)
    // no applicable rules: one token per code point
    assert(TextOps.bpeSymbolCount("xyz") == 3)
    assert(TextOps.bpeSymbolCount("a") == 1)

    assert(TextOps.bpeSymbolCount("cat") == 2)   // c + at
    assert(TextOps.bpeSymbolCount("there") == 2) // the + re

    val d = docs((1L, "the thin cat standing there", "en", "s", 0L))
    val row = TextOps.bpeMergeCounts(d).collect()(0)
    // the=1 thin=2 cat=2 standing=3 there=2 ; piece chars = 23
    assert(row.getLong(1) == 10L, s"tokens=${row.getLong(1)}")
    assert(row.getLong(2) == (23L - 10L), s"merges=${row.getLong(2)}")
  }

  test("BPE training: learns hand-computed merges, decodes symbols, stops when dry") {
    // vocab: aa×3 ab×2 → rank0 (a,a) n=3; then ab×2 → rank1 (a,b) n=2;
    // then every word is one symbol → exhausted (2 of the 4 asked-for rules)
    val d1 = docs((1L, "aa ab aa ab aa", "en", "s", 0L))
    val m1 = TextOps.bpeTrain(d1, numMerges = 4)
    assert(m1.map(m => (m.rank, m.lhs, m.rhs, m.n)) ==
      Seq((0, "a", "a", 3L), (1, "a", "b", 2L)))

    // multi-char decode: "abab" → rank0 (a,b) n=2 (overlap-free count),
    // word becomes ph0 ph0 → rank1 merges (ab, ab) — lhs/rhs decode to "ab"
    val d2 = docs((1L, "abab", "en", "s", 0L))
    val m2 = TextOps.bpeTrain(d2, numMerges = 2)
    assert(m2.map(m => (m.rank, m.lhs, m.rhs, m.n)) ==
      Seq((0, "a", "b", 2L), (1, "ab", "ab", 1L)))

    // deterministic tiebreak: ab and ba both count 1 → lexicographic min wins
    val d3 = docs((1L, "ab ba", "en", "s", 0L))
    assert(TextOps.bpeTrain(d3, numMerges = 1).head.lhs == "a")

    // applying the learned table reproduces the training segmentation:
    // abab → 1 token, aa → 2 (no (a,a) rule learned from d2)
    val applied = TextOps.bpeApplyLearnedCounts(
      docs((1L, "abab aa", "en", "s", 0L)), m2).collect()(0)
    assert(applied.getLong(1) == 3L, s"tokens=${applied.getLong(1)}")
  }

  test("BPE PUA guard: planted placeholder-range chars cannot corrupt train or apply") {
    // a standalone U+E000 token and one embedded in a symbol run: the
    // learned table must be IDENTICAL to the clean corpus's, and apply
    // counts must not change (PUA chars contribute zero tokens)
    val clean = docs((1L, "aa ab aa ab aa !? x", "en", "s", 0L))
    val planted = docs((1L, "aa ab  aa ab aa !? x", "en", "s", 0L))
    val mClean = TextOps.bpeTrain(clean, numMerges = 4)
    val mPlanted = TextOps.bpeTrain(planted, numMerges = 4)
    assert(mClean.map(m => (m.rank, m.lhs, m.rhs, m.n)) ==
      mPlanted.map(m => (m.rank, m.lhs, m.rhs, m.n)))
    assert(mPlanted.forall(m =>
      !(m.lhs + m.rhs).exists(c => c >= 0xE000 && c <= 0xE0FF)),
      "a learned rule leaked a placeholder-range char")
    val aClean = TextOps.bpeApplyLearnedCounts(clean, mClean).collect()(0).getLong(1)
    val aPlanted = TextOps.bpeApplyLearnedCounts(planted, mClean).collect()(0).getLong(1)
    assert(aClean == aPlanted, s"$aClean vs $aPlanted")
    // same invariants on the array-symbol path
    val sClean = TextOps.bpeTrainScalable(clean, numMerges = 4)
    val sPlanted = TextOps.bpeTrainScalable(planted, numMerges = 4)
    assert(sClean == sPlanted)
    assert(TextOps.bpeApplyRules(planted, sClean).collect()(0).getLong(1) == aClean)
  }

  test("scalable BPE cross-validates the placeholder trainer rule-for-rule") {
    // two independent implementations (distributed job-per-merge placeholder
    // trainer vs vocab-collapse + local incremental trainer) must learn the
    // SAME table on the same corpus — including multi-char re-merges,
    // overlap counting, and the count-then-pair-ASC tiebreak
    val d = docs(
      (1L, "abab the thin stand standing in in in going gone", "en", "s", 0L),
      (2L, "aa ab ba erere there the the cat cattle !? !? !!", "en", "s", 0L),
      (3L, "zzz zz z mississippi banana bandana and sand standing", "en", "s", 0L))
    val k = 12
    val legacy = TextOps.bpeTrain(d, numMerges = k)
      .map(m => (m.rank, m.lhs, m.rhs, m.n))
    val scalable = TextOps.bpeTrainScalable(d, numMerges = k)
      .map(m => (m.rank, m.lhs, m.rhs, m.n))
    assert(legacy == scalable, s"\nlegacy:   $legacy\nscalable: $scalable")
    // and the two apply paths agree document-for-document
    val viaLegacy = TextOps.bpeApplyLearnedCounts(d, TextOps.bpeTrain(d, numMerges = k))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRules = TextOps.bpeApplyRules(d, TextOps.bpeTrainScalable(d, numMerges = k))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLegacy == viaRules)
  }

  test("scalable BPE trains past the 256-merge placeholder ceiling") {
    // planted vocabulary: 300 distinct 2-letter words with strictly
    // decreasing frequency → merge r must be word r's pair with its exact
    // count; rank 299 > the placeholder path's ceiling
    val vocab = Array.tabulate(300)(kk =>
      ("" + ('a' + kk / 26).toChar + ('a' + kk % 26).toChar, (1000 - kk).toLong))
    val rules = TextOps.bpeTrainLocal(vocab, numMerges = 1000)
    assert(rules.length == 300, s"got ${rules.length}")
    rules.zipWithIndex.foreach { case (m, i) =>
      assert(m.rank == i && m.lhs == vocab(i)._1.substring(0, 1) &&
        m.rhs == vocab(i)._1.substring(1) && m.n == vocab(i)._2, s"rule $i: $m")
    }
    // incremental maintenance across re-merges: chains deeper than one
    // level ("aaaa"×4: (a,a)->X n=12; (X,X) n=4; (XX,XX)... none — word is
    // [XX] after round 2... hand-check: aaaa = 4 a's → 3 positions n=12;
    // merge → [X,X] (1 position ×4 words) n=4 → merge → [XX]; dry)
    val chain = TextOps.bpeTrainLocal(Array(("aaaa", 4L)), numMerges = 10)
    assert(chain.map(m => (m.lhs, m.rhs, m.n)) ==
      Seq(("a", "a", 12L), ("aa", "aa", 4L)))
  }

  test("scalable BPE: chars above the stripped window are real symbols, never expansion indexes") {
    // U+F8FF (upper private use — survives the [E000, E0FF] guard strip)
    // and U+FF01 (fullwidth '!') must train as ordinary corpus chars:
    // merge ids live at MergeBase = 0x10000, above every UTF-16 unit, so
    // decode can never misread a high char as an expansion index (the
    // old 0xE000+rank id space threw or merged spuriously here)
    val vocab = Array(("！", 10L), ("ab", 6L))
    val rules = TextOps.bpeTrainLocal(vocab, numMerges = 4)
    assert(rules.map(m => (m.lhs, m.rhs, m.n)) ==
      Seq(("", "！", 10L), ("a", "b", 6L)), rules.toString)
    // apply agrees: both pieces fully merge to one token each
    val d = docs((1L, "！ ab x", "en", "s", 0L))
    assert(TextOps.bpeApplyRules(d, rules).collect()(0).getLong(1) == 3L)
  }

  test("SPARQL UNION/VALUES/aggregate lowerings: nulls, broadcast, no-cartesian guard") {
    val d = docs(
      (1L, "x", "en", "s1", 10L), (2L, "x", "fr", "s1", 20L), (3L, "x", "en", "s2", 30L))
    val P = GraphOps.PropPrefix
    val triples = GraphOps.parseTurtle(d).select(col("subj"), col("pred"), col("obj"))
    val counts = Map.empty[String, Long]
    val en = GraphOps.bgpChain(triples, Seq(
      GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"en\"")),
      GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
    val fr = GraphOps.bgpChain(triples, Seq(
      GraphOps.ChainPattern("d", s"${P}lang", oConst = Some("\"fr\"")),
      GraphOps.ChainPattern("d", s"${P}label", oVar = Some("lbl"))), counts)
    // bag union: variable universes merge, the other branch's vars are null
    val u = GraphOps.bgpUnion(en, fr).collect()
    assert(u.length == 3)
    assert(u.count(r => !r.isNullAt(1) && r.isNullAt(2)) == 2) // en: n bound
    assert(u.count(r => r.isNullAt(1) && !r.isNullAt(2)) == 1) // fr: lbl bound

    val s = spark
    import s.implicits._
    val sol = GraphOps.bgpChain(triples, Seq(
      GraphOps.ChainPattern("d", s"${P}lang", oVar = Some("l")),
      GraphOps.ChainPattern("d", s"${P}nchars", oVar = Some("n"))), counts)
    val values = Seq(("\"en\"", "west")).toDF("l", "tier")
    val v = GraphOps.bgpValues(sol, values)
    assert(v.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "VALUES must broadcast the inline table")
    assert(v.count() == 2)
    // a VALUES sharing no variable is a cartesian extension — rejected
    intercept[IllegalArgumentException] {
      GraphOps.bgpValues(sol, Seq(("a", "b")).toDF("fresh1", "fresh2"))
    }
    // aggregates: groupBy lowering with bound-variable guard
    val agg = GraphOps.bgpAggregate(sol, Seq("l"),
      Seq(org.apache.spark.sql.functions.count(lit(1)).as("n_docs")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg == Map("\"en\"" -> 2L, "\"fr\"" -> 1L))
    intercept[IllegalArgumentException] {
      GraphOps.bgpAggregate(sol, Seq("unbound"),
        Seq(org.apache.spark.sql.functions.count(lit(1)).as("c")))
    }
  }

  test("incremental maintenance: degreesDelta drops zeroed subjects, validateGraphDelta carries untouched") {
    val s = spark
    import s.implicits._
    // degrees: s1 fully retracted (degree 0 drops out), s2 gains one,
    // s3 appears fresh
    val old = Seq(("s1", 2L), ("s2", 1L)).toDF("subj", "degree")
    val diff = Seq(
      ("del", "s1", "p", "a"), ("del", "s1", "p", "b"),
      ("add", "s2", "q", "c"), ("add", "s3", "p", "d"))
      .toDF("op", "subj", "pred", "obj")
    val got = GraphAnalytics.degreesDelta(old, diff)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("s2" -> 2L, "s3" -> 1L), got.toString)

    // validation: untouched s_keep carries its OLD violation row without
    // re-running rules; touched s_fix re-validates clean; touched s_new
    // violates fresh
    val rules = Seq(GraphOps.PropRule("p", integerTyped = true))
    val intLit = "\"3\"^^<http://www.w3.org/2001/XMLSchema#integer>"
    val newTriples = Seq(
      ("s_keep", "p", "\"bad\""), ("s_fix", "p", intLit), ("s_new", "p", "\"nope\""))
      .toDF("subj", "pred", "obj")
    val oldViolations = Seq(("s_keep", "bad_integer:p"), ("s_fix", "bad_integer:p"))
      .toDF("subj", "violation")
    val vdiff = Seq(("add", "s_fix", "p", intLit), ("add", "s_new", "p", "\"nope\""))
      .toDF("op", "subj", "pred", "obj")
    val v = GraphOps.validateGraphDelta(newTriples, vdiff, oldViolations, rules)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(v == Set(("s_keep", "bad_integer:p"), ("s_new", "bad_integer:p")), v.toString)

    // CONSTRUCT: set semantics (dedup), unbound template variables rejected
    val sol = Seq(("x", "y"), ("x", "y"), ("y", "x")).toDF("a", "b")
    val c = GraphOps.construct(sol, Seq(
      GraphOps.ConstructTemplate("a", "near", "b"),
      GraphOps.ConstructTemplate("b", "near", "a")))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(c == Set(("x", "y"), ("y", "x")))
    intercept[IllegalArgumentException] {
      GraphOps.construct(sol, Seq(GraphOps.ConstructTemplate("a", "near", "zz")))
    }
  }

  test("bigram LM score: hand-computed means, fluent > soup, short docs score 0") {
    // corpus: unigrams a:3 b:3, grams "a b":3 "b a":1
    // doc1 "a b a b": p(a b)=3/3=1.0 ×2, p(b a)=1/3=0.333333 ×1
    //   → (2·1.000000 + 0.333333)/3 = 0.7778
    // doc2 "a b": 1.0; doc3 "x": no grams → 0 over 0
    val d = docs((1L, "a b a b", "en", "s", 0L), (2L, "a b", "en", "s", 0L),
      (3L, "x", "en", "s", 0L))
    val got = TextOps.lmScores(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((3L, 0.7778)), 2L -> ((1L, 1.0)), 3L -> ((0L, 0.0))),
      got.toString)
    // the gate's point: repeated fluent text outscores token soup drawn
    // from the same vocabulary
    val mixed = docs(
      (1L, "the cat sat on the mat " * 4, "en", "s", 0L),
      (2L, "mat the on sat the cat cat mat on the sat mat on cat sat the mat on", "en", "s", 0L))
    val sc = TextOps.lmScores(mixed).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(1L) > sc(2L), sc.toString)
  }

  test("lang-id predicts correctly on real multilingual snippets") {
    val d = docs(
      (1L, "the cat sat on the mat and it is a good day to be in the sun", "x", "s", 0L),
      (2L, "le chat est dans la maison et les enfants sont dans le jardin", "x", "s", 0L),
      (3L, "der hund ist nicht in das haus und ich bin ein berliner", "x", "s", 0L),
      (4L, "el perro es grande y la casa de los vecinos es una maravilla", "x", "s", 0L),
      (5L, "и он сказал что это не на самом деле как в прошлый раз", "x", "s", 0L))
    val got = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "es", 5L -> "ru"))
  }

  test("ngram jaccard finds planted near-duplicates and skips unrelated docs") {
    val base = "spark shuffles data between executors during wide transformations always"
    val nearDup = base.replace("always", "often!")
    val other = "completely different content with nothing shared at all here truly"
    val d = docs(
      (1L, base, "en", "s1", 0L), (2L, nearDup, "en", "s1", 0L), (3L, other, "en", "s1", 0L))
    val pairs = TextOps.ngramJaccardPairs(d, prefixLen = 120, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("banded minhash emits candidate pairs for near-dups, none for disjoint") {
    val base = "spark shuffles data between executors during wide transformations always " * 3
    val nearDup = base.replace("always", "mostly")
    val other = "qqq www eee rrr ttt yyy uuu iii ooo ppp zzz xxx ccc vvv bbb nnn mmm " * 3
    val d = docs((1L, base, "en", "s", 0L), (2L, nearDup, "en", "s", 0L), (3L, other, "en", "s", 0L))
    val pairs = TextOps.minHashBandPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(pairs((1L, 2L)) >= 1L && pairs((1L, 2L)) <= TextOps.Bands.toLong)
    // identical docs agree on every band
    val ident = TextOps.minHashBandPairs(
      docs((1L, base, "en", "s", 0L), (2L, base, "en", "s", 0L))).collect()
    assert(ident.length == 1 && ident(0).getLong(2) == TextOps.Bands.toLong)
  }

  test("hot LSH bands are star-capped: boilerplate corpus completes with O(n) pairs") {
    val s = spark
    import s.implicits._
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod " * 5
    val n = 3000L
    // n identical boilerplate docs (ids 10..n+9) — every band bucket holds
    // all of them — plus a disjoint unique pair that must keep clique
    // semantics untouched
    val uniqA = "qqq www eee rrr ttt yyy uuu iii ooo ppp zzz xxx ccc vvv " * 4
    val uniqB = uniqA.replace("ppp", "hhh")
    val d = spark.range(10, 10 + n).select($"id".as("doc_id"), lit(boiler).as("text"))
      .unionByName(Seq((1L, uniqA), (2L, uniqB)).toDF("doc_id", "text"))

    // audit surface sees the hot buckets
    val hot = TextOps.minHashHotBands(d, maxBucket = 64).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(1) == n))

    val pairs = TextOps.minHashBandPairs(d, maxBucket = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // star on the min-id member: n-1 edges (not n(n-1)/2 ≈ 4.5M), all
    // anchored at doc 10, agreeing on all 4 bands — connectivity preserved
    val starPairs = pairs.filter { case ((a, _), _) => a >= 10L }
    assert(starPairs.size == (n - 1).toInt, s"expected ${n - 1} star edges, got ${starPairs.size}")
    assert(starPairs.keys.forall(_._1 == 10L))
    assert(starPairs.values.forall(_ == TextOps.Bands.toLong))
    // the small unique bucket still goes through the exact clique path
    assert(pairs.contains((1L, 2L)))

    // SimHash twin: identical fingerprints, star edges at hamming 0
    val sp = TextOps.simHashPairs(d, maxDist = 6, maxBucket = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val simStars = sp.filter { case ((a, _), _) => a >= 10L }
    assert(simStars.size == (n - 1).toInt)
    assert(simStars.keys.forall(_._1 == 10L) && simStars.values.forall(_ == 0L))
    assert(TextOps.simHashHotBands(d, maxBucket = 64).count() == 4L)
  }

  test("dedupClusters: LSH→CC representatives; star-capping yields identical clusters") {
    val s = spark
    import s.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 4
    val near = boiler.replace("lazy", "hazy")
    val single = "entirely different content about catalyst exchanges and parquet row groups"
    // 200 identical docs (ids 100..299) + a near-dup of them (id 1) + a singleton (id 2)
    val d = spark.range(100, 300).select($"id".as("doc_id"), lit(boiler).as("text"))
      .unionByName(Seq((1L, near), (2L, single)).toDF("doc_id", "text"))

    def clusters(maxBucket: Int): Map[Long, Long] =
      TextOps.dedupClusters(d, maxBucket).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val uncapped = clusters(maxBucket = 1 << 20)
    val capped = clusters(maxBucket = 16) // boilerplate bucket (201 docs) star-reduced
    assert(capped == uncapped, "star-capping changed the dedup clusters")
    // the identical docs + the near-dup form one cluster anchored at min id
    assert((100L until 300L).forall(uncapped(_) == uncapped(100L)))
    assert(uncapped(2L) == 2L) // singleton keeps itself
    // "keep one per cluster" sanity: exactly 2 or 3 survivors (near-dup may
    // or may not band-collide with the boilerplate — but must be consistent)
    val survivors = uncapped.count { case (id, rep) => id == rep }
    assert(survivors == uncapped.values.toSet.size)
  }

  test("dedupClusters minBands=2: composite banding keeps capped == uncapped on a varied corpus") {
    val s = spark
    import s.implicits._
    // several near-dup families with per-doc mutations, so band agreement
    // varies across members and hot buckets mix docs with DIFFERENT band
    // signatures — the regime where a post-filter on star-edge band counts
    // would split clusters (each star edge witnesses only its own bucket)
    val bases = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6,
      "one two three four five six seven eight nine ten eleven twelve " * 6,
      "spark shuffle exchange partition broadcast codegen catalyst rows " * 6)
    val docs = (0 until 120).map { i =>
      val base = bases(i % 3)
      // mutate a small window so most shingles (and often >= 2 bands) agree
      val mutated = base.substring(0, 8 + (i % 7)) + s" v$i " + base.substring(8 + (i % 7))
      (i.toLong, mutated)
    }.toDF("doc_id", "text")
    def clusters(maxBucket: Int): Map[Long, Long] =
      TextOps.dedupClusters(docs, maxBucket, minBands = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uncapped = clusters(1 << 20)
    val capped = clusters(3) // force star-reduction on every sizable bucket
    assert(capped == uncapped, "minBands=2 star-capping changed the clusters")
    // sanity: the threshold actually bites somewhere (some docs cluster)
    assert(uncapped.exists { case (id, rep) => id != rep },
      "corpus too dissimilar — test exercises nothing")
  }

  test("asofJoin: null keys/timestamps surface unmatched, identically in both modes") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (Some(1L), Some(10L), "a"),
      (None: Option[Long], Some(20L), "b"), // null key
      (Some(1L), None: Option[Long], "c"), // null ts
      (Some(2L), Some(30L), "d"))
      .toDF("k", "ts", "tag")
    val right = Seq(
      (Some(1L), Some(5L), 100L),
      (None: Option[Long], Some(1L), 666L), // null-keyed right: ignored
      (Some(2L), Some(25L), 200L))
      .toDF("k", "ts", "payload")
    def run(bucket: Option[Long]) =
      RelationalOps.asofJoin(left, right, "k", "ts", bucket).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2),
          Option(r.get(3)))).toSet
    val windowed = run(None)
    val bucketed = run(Some(7L))
    assert(windowed == bucketed, s"modes diverge:\n$windowed\nvs\n$bucketed")
    val expected = Set(
      (Some(1L), Some(10L), "a", Some(100L)),
      (None, Some(20L), "b", None),
      (Some(1L), None, "c", None),
      (Some(2L), Some(30L), "d", Some(200L)))
    assert(windowed.map(t => (t._1.asInstanceOf[Option[Any]], t._2, t._3, t._4)) ==
      expected.map(t => (t._1.asInstanceOf[Option[Any]], t._2, t._3, t._4)))
  }

  test("nearDupPairs block-pair join matches single-block all-pairs exactly") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random vectors: many moderate-cosine pairs
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => ((TextOps.md5Hash60(s"$i:$j") % 2000L) - 1000L) / 1000.0f))
    }.toDF("vec_id", "embedding")
    def run(blocks: Int) = EmbeddingOps.nearDupPairs(vecs, 0.10, blocks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = run(1) // single block = plain all-pairs
    assert(exact.nonEmpty)
    assert(run(4) == exact)
    assert(run(16) == exact)
    assert(run(64) == exact) // more blocks than rows
  }

  test("exact dedup groups identical texts") {
    val d = docs((1L, "same", "en", "s", 0L), (2L, "same", "en", "s", 0L), (3L, "diff", "en", "s", 0L))
    val groups = TextOps.exactDedup(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((2L, 1L), (1L, 3L)))
  }

  test("ann brute force: nearest neighbour of a vector is its near-copy") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f, 0.0f), 0), // near-copy of 0
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val top = EmbeddingOps.annBruteForce(e, nQueries = 1, k = 1).collect()
    assert(top.length == 1)
    assert(top(0).getLong(2) == 1L) // neighbor_id
    val pairs = EmbeddingOps.nearDupPairs(e, 0.99).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("multi-probe ANN: recall@5 >= 0.9 on a clustered corpus, probing helps monotonically") {
    val s = spark
    import s.implicits._
    // 30 planted clusters x 12 members, 16 dims: centroid from the md5
    // grid, members = centroid + small deterministic noise — the geometry
    // where ANN recall is meaningful (each vector's true top-5 are cluster
    // siblings; the sf tables are near-isotropic, see BENCH/RECALL.md)
    val nClusters = 30
    val perCluster = 12
    val dims = 16
    val vecs = (0 until nClusters * perCluster).map { i =>
      val k = i / perCluster
      val v = Array.tabulate(dims) { j =>
        val c = ((TextOps.md5Hash60(s"c$k:$j") % 2000L) - 1000L) / 1000.0f
        val noise = ((TextOps.md5Hash60(s"n$i:$j") % 100L) - 50L) / 1000.0f
        c + noise
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

    val n = nClusters * perCluster
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.map { case (q, e) =>
        approx.get(q).map(a => (a & e).size.toDouble / e.size).getOrElse(0.0)
      }.sum / exact.size

    val exact = topSets(EmbeddingOps.annBruteForce(vecs, nQueries = n, k = 5))
    val single = recallOf(topSets(
      EmbeddingOps.annMultiProbe(vecs, nPlanes = 4, k = 5, maxHamming = 0, dims = dims)), exact)
    val multi = recallOf(topSets(
      EmbeddingOps.annMultiProbe(vecs, nPlanes = 4, k = 5, maxHamming = 1, dims = dims)), exact)
    assert(multi >= single, s"multi-probe must not lose recall: $multi < $single")
    assert(multi >= 0.9, s"multi-probe recall@5 = $multi < 0.9 (single-probe: $single)")

    val ivf1 = recallOf(topSets(
      EmbeddingOps.annIvfMultiProbe(vecs, cells = 8, k = 5, nprobe = 1, dims = dims)), exact)
    val ivf2 = recallOf(topSets(
      EmbeddingOps.annIvfMultiProbe(vecs, cells = 8, k = 5, nprobe = 2, dims = dims)), exact)
    assert(ivf2 >= ivf1, s"nprobe=2 must not lose recall: $ivf2 < $ivf1")
    assert(ivf2 >= 0.9, s"IVF nprobe=2 recall@5 = $ivf2 < 0.9 (nprobe=1: $ivf1)")
  }

  test("IVFADC (trained residual codes): recall@5 >= raw-vector PQ at equal M") {
    val s = spark
    import s.implicits._
    // 64-dim isotropic md5 corpus — the sf-table regime (near-uniform on
    // the grid), where the residual benefit is purely the encoding, not
    // planted cluster structure. Measured (BENCH/RECALL.md): raw 0.095 vs
    // trained-residual 0.126 here; 0.036 vs 0.052 on sf0.01.
    val n = 300
    val vecs = (0 until n).map { i =>
      val v = Array.tabulate(64) { j =>
        ((TextOps.md5Hash60(s"v$i:$j") % 2000L) - 1000L) / 1000.0f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.map { case (q, e) =>
        approx.get(q).map(a => (a & e).size.toDouble / e.size).getOrElse(0.0)
      }.sum / exact.size
    val exact = topSets(EmbeddingOps.annBruteForce(vecs, nQueries = n, k = 5))
    val raw = recallOf(topSets(
      EmbeddingOps.annIvfPq(vecs, cells = 8, k = 5, nQueries = n, nprobe = 2)), exact)
    val res = recallOf(topSets(
      EmbeddingOps.annIvfPqResidual(vecs, cells = 8, k = 5, nQueries = n, nprobe = 2,
        coarseIterations = 1, trainIterations = 1)), exact)
    assert(res >= raw,
      s"trained residual encoding lost recall at equal code budget: $res < $raw")

    // exact rerank of the ADC top-20 shortlist lifts recall well past the
    // code-only ranking (measured 0.095 → 0.253 here)
    val rr = recallOf(topSets(
      EmbeddingOps.annIvfPqRerank(vecs, cells = 8, k = 5, nQueries = n,
        nprobe = 2, rerank = 20)), exact)
    assert(rr >= raw + 0.05,
      s"exact rerank did not lift recall: $rr vs ADC-only $raw")
  }

  test("srp bucketed ANN puts identical vectors in one bucket") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (2L, Array(-1.0f, -2.0f, -3.0f, -4.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val b = EmbeddingOps.srpBuckets(e, nPlanes = 4).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // antipodal vector flips every plane sign
    val nn = EmbeddingOps.annBucketed(e, nPlanes = 4, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nn(0L) == 1L && nn(1L) == 0L)
  }

  test("IVF: identical vectors share a cell; near-copy is the top neighbour") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(1.01f, 2.0f, 3.0f, 4.0f)) // near-copy → same nearest centroid
    ).toDF("vec_id", "embedding")
    val cells = EmbeddingOps.ivfAssign(e, cells = 8, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(0L) == cells(1L) && cells(0L) == cells(2L))
    val nn = EmbeddingOps.annIvf(e, cells = 8, k = 1, dims = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(nn(0L) == 1L) // exact copy beats near-copy
    // centroids are deterministic
    assert(EmbeddingOps.ivfCentroid(3, 8).sameElements(EmbeddingOps.ivfCentroid(3, 8)))
    assert(EmbeddingOps.ivfCentroid(3, 8).forall(v => v >= -1000L && v <= 1000L))
  }

  test("bucketed/IVF ANN plan exactly ONE exchange (key computed inline, no self-join)") {
    val s = spark
    import s.implicits._
    val e = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(2.0f, 1.0f))).toDF("vec_id", "embedding")
    Seq(
      EmbeddingOps.annBucketed(e, nPlanes = 4, k = 1, dims = 2),
      EmbeddingOps.annIvf(e, cells = 4, k = 1, dims = 2)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(1500)}")
    }
  }

  test("round-3 op plan shapes: bounded exchanges, no nested-loop joins") {
    val s = spark
    import s.implicits._
    def audit(df: org.apache.spark.sql.DataFrame, maxExchanges: Int, label: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$label plans a nested-loop join:\n${plan.take(1500)}")
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= maxExchanges,
        s"$label: expected <= $maxExchanges exchanges, got $exchanges:\n${plan.take(1500)}")
    }

    val e = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(2.0f, 1.0f))).toDF("vec_id", "embedding")
    // multi-probe = probe-group exchange + global re-rank window exchange
    audit(EmbeddingOps.annMultiProbe(e, nPlanes = 4, k = 1, maxHamming = 1, dims = 2), 2, "emb06")
    audit(EmbeddingOps.annIvfMultiProbe(e, cells = 4, k = 1, nprobe = 2, dims = 2), 2, "emb07")

    // capped band pairs = band-group exchange + (a,b) count exchange
    val d = docs((1L, "aaa bbb ccc", "en", "s", 0L), (2L, "aaa bbb ccd", "en", "s", 0L))
    audit(TextOps.minHashBandPairs(d), 2, "td09")
    audit(TextOps.simHashPairs(d), 2, "td12")

    // bucketed as-of: the BIG union exchanges once on (key, bucket); the
    // carry side is per-(key,bucket) summaries — small by construction
    val left = Seq((1L, 10L, 7L)).toDF("k", "ts", "v")
    val right = Seq((1L, 5L, 9L)).toDF("k", "ts", "p")
    audit(RelationalOps.asofJoin(left, right, "k", "ts", tsBucket = Some(100L)), 6, "q30")
  }

  test("round-4 op plan shapes: bounded exchanges, no nested-loop joins") {
    val s = spark
    import s.implicits._
    def audit(df: org.apache.spark.sql.DataFrame, maxExchanges: Int, label: String): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$label plans a nested-loop join:\n${plan.take(1500)}")
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= maxExchanges,
        s"$label: expected <= $maxExchanges exchanges, got $exchanges:\n${plan.take(1500)}")
    }

    val vals = Seq(("A", 100L), ("A", 200L), ("B", 300L)).toDF("g", "cents")
    // sketch build = ONE partial-aggregated exchange on (g, bucket)
    audit(SketchOps.quantileSketch(vals, "g", col("cents")), 1, "q38 sketch")
    // + the per-group window and the final per-group aggregate
    audit(SketchOps.qsEstimate(
      SketchOps.quantileSketch(vals, "g", col("cents")), "g", Seq(50, 95)), 4, "q38 estimate")

    val ks = Seq(1L, 2L, 2L, 3L).toDF("k")
    // cells groupBy + estimate broadcast-join/groupBy + exact groupBy + join
    audit(SketchOps.cmFrequencies(ks, "k", ks.distinct()), 8, "q39")

    // interned degrees: every join key in the edge pipeline is 8-byte
    val tri = Seq((1L, "<s>", "<p>", "\"o\"")).toDF("doc_id", "subj", "pred", "obj")
    val (interned, dict) = GraphOps.internTriples(tri)
    val deg = GraphAnalytics.degrees(interned.select(col("sid").as("src"), col("oid").as("dst")))
      .join(dict, col("id") === col("tid"))
    audit(deg, 8, "kg20")
  }

  test("asofJoin: inclusive most-recent match, null before first right row") {
    val s = spark
    import s.implicits._
    val left = Seq( // (key, ts, click)
      (1L, 10L, "c1"), (1L, 20L, "c2"), (1L, 25L, "c3"), (2L, 5L, "c4"))
      .toDF("k", "ts", "click")
    val right = Seq( // (key, ts, p)
      (1L, 20L, "p20"), (1L, 15L, "p15"), (2L, 9L, "p9"))
      .toDF("k", "ts", "p")
    val got = RelationalOps.asofJoin(left, right, "k", "ts").collect()
      .map(r => (r.getAs[String]("click"), Option(r.getAs[String]("p")))).toMap
    assert(got == Map(
      "c1" -> None,        // before any purchase of key 1
      "c2" -> Some("p20"), // equal ts is inclusive
      "c3" -> Some("p20"),
      "c4" -> None))       // key 2's purchase is at ts 9 > 5
  }

  test("asofJoin ts-bucketing: identical results on a hot-key corpus, bounded task groups") {
    val s = spark
    import s.implicits._
    // user 0 owns 50% of both sides (the hot key a per-key window serializes)
    def user(i: Int): Long = if (i % 2 == 0) 0L else (i % 7 + 1).toLong
    val left = (0 until 4000).map { i =>
      (user(i), ((i.toLong * 997) % 50000) + (i % 3), i.toLong)
    }.toDF("user_id", "ts", "click_id")
    // right ts unique per key by construction (globally unique)
    val right = (0 until 1000).map { i =>
      (user(i), i.toLong * 53, (i + 100000).toLong)
    }.toDF("user_id", "ts", "purchase_id")
    // boundary cases: right row exactly at a bucket start must be matched
    // inclusively by a left row at the same ts, and missed by ts-1
    val leftB = left.unionByName(Seq((9L, 5000L, 900001L), (9L, 4999L, 900002L)).toDF(
      "user_id", "ts", "click_id"))
    val rightB = right.unionByName(Seq((9L, 5000L, 900100L)).toDF(
      "user_id", "ts", "purchase_id"))

    def res(b: Option[Long]) =
      RelationalOps.asofJoin(leftB, rightB, "user_id", "ts", tsBucket = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val plain = res(None)
    val bucketed = res(Some(1000L))
    assert(bucketed == plain, {
      val d1 = (plain -- bucketed).take(5)
      val d2 = (bucketed -- plain).take(5)
      s"bucketed asof diverges: missing=$d1 extra=$d2"
    })
    assert(plain.contains((9L, 5000L, 900001L, 900100L))) // inclusive at boundary
    assert(plain.contains((9L, 4999L, 900002L, -1L)))     // strictly-before miss

    // skew evidence: the hot key's rows split across many (key, bucket)
    // groups — max group is a fraction of the hot key's total
    val hotTotal = leftB.filter($"user_id" === 0L).count() +
      rightB.filter($"user_id" === 0L).count()
    val maxGroup = leftB.select($"user_id", ($"ts" / 1000).cast("long").as("b"))
      .unionByName(rightB.select($"user_id", ($"ts" / 1000).cast("long").as("b")))
      .groupBy($"user_id", $"b").count().agg(org.apache.spark.sql.functions.max("count"))
      .head().getLong(0)
    assert(maxGroup <= hotTotal / 10,
      s"bucketing did not split the hot key: maxGroup=$maxGroup hotTotal=$hotTotal")
  }

  test("rangeJoin: inclusive bounds, boundary buckets, no duplicate pairs") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L, "l1"), (1L, 10L, "l2"), (2L, 100L, "l3"))
      .toDF("k", "ts", "lid")
    val right = Seq(
      (1L, 90L, "r90"),   // within [90, 100] of l1 (boundary: ts - window)
      (1L, 100L, "r100"), // equal ts — inclusive
      (1L, 89L, "r89"),   // just outside l1's window
      (2L, 95L, "r95"))
      .toDF("k", "ts", "rid")
    val got = RelationalOps.rangeJoin(left, right, "k", "ts", window = 10L)
      .collect().map(r => (r.getAs[String]("lid"), r.getAs[String]("rid")))
    assert(got.toSet == Set(("l1", "r90"), ("l1", "r100"), ("l3", "r95")))
    assert(got.length == 3, s"duplicate pairs: ${got.toSeq}")
  }

  test("multimodal image round-trip: decode(encode(id)) recovers the header") {
    val m = MultimodalOps.decodeFakeImage(123L, MultimodalOps.encodeFakeImage(123L))
    assert(m.width == 64 + 123 % 512)
    assert(m.height == 64 + (123 * 7) % 512)
    assert(m.channels == 3)
    assert(m.payload_md5.length == 32)
    // corrupted magic is rejected (the failure contract a real codec needs)
    val bad = MultimodalOps.encodeFakeImage(1L); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException] { MultimodalOps.decodeFakeImage(1L, bad) }
  }

  test("audio energy decodes from the binary, not from the id") {
    val d = docs((7L, "x", "en", "s", 0L))
    val got = MultimodalOps.audioFeatures(d).collect()(0).getLong(1)
    assert(got == MultimodalOps.audioEnergy(7L))
    assert(got > 0)
  }

  test("doc components: forest ground truth (root = min of component)") {
    val d = docs((0L, "", "e", "s", 0L), (1L, "", "e", "s", 0L), (2L, "", "e", "s", 0L),
      (3L, "", "e", "s", 0L), (4L, "", "e", "s", 0L), (5L, "", "e", "s", 0L),
      (6L, "", "e", "s", 0L), (7L, "", "e", "s", 0L), (8L, "", "e", "s", 0L))
    val got = GraphOps.docComponents(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // edges: d>0 && d%3!=0 → (d, d/2): 1→0,2→1,4→2,5→2,7→3,8→4; 3,6 no edge
    // components: {0,1,2,4,5,7,8(→4)} rooted at 0 … wait 7→3 joins 3
    def parent(x: Long): Option[Long] = if (x > 0 && x % 3 != 0) Some(x / 2) else None
    def root(x: Long): Long = parent(x).map(root).getOrElse(x)
    // undirected CC: min over component; build expected via union-find
    val ids = (0L to 8L)
    val comp = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (comp(x) == x) x else { val r = find(comp(x)); comp(x) = r; r }
    ids.foreach(i => parent(i).foreach { p => comp(find(i)) = find(p) })
    // normalize to min id per component
    val groups = ids.groupBy(find).flatMap { case (_, g) => g.map(_ -> g.min) }
    assert(got == groups)
  }

  test("kmeansRefine: refined cells converge on planted clusters and never split them") {
    val s = spark
    import s.implicits._
    // 3 tight planted clusters, far apart, 8 dims; md5 seeds scatter them
    val dims = 8
    val centers = Seq(
      Array.fill(dims)(0.9f),
      Array.tabulate(dims)(i => if (i % 2 == 0) -0.9f else 0.9f),
      Array.fill(dims)(-0.9f))
    val vecs = (0 until 60).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + 0.002f * ((i * 7) % 5 - 2)), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.kmeansRefine(vecs, cells = 8, dims = dims, iterations = 2)
      .join(vecs.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("label"), col("cell")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // after refinement every planted cluster maps to exactly one cell
    val byLabel = out.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).toSet }
    assert(byLabel.values.forall(_.size == 1), s"split clusters: $byLabel")
  }

  test("kmeansRefine: one refinement never increases within-cell distance mass") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(16)(d => (((i * 13 + d * 29) % 17) - 8) / 10.0f))
    }.toDF("vec_id", "embedding")
    def cost(assign: org.apache.spark.sql.DataFrame, cellCol: String): Double = {
      // mean squared distance of each vector to its cell's (float) mean
      val g = assign.join(vecs, Seq("vec_id"))
        .select(col(cellCol).as("cell"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val means = g.groupBy(_._1).map { case (c, xs) =>
        val m = Array.tabulate(16)(d => xs.map(_._2(d).toDouble).sum / xs.length)
        c -> m
      }
      g.map { case (c, v) =>
        val m = means(c)
        v.indices.map(d => (v(d) - m(d)) * (v(d) - m(d))).sum
      }.sum
    }
    val refined = EmbeddingOps.kmeansRefine(vecs, cells = 4, dims = 16, iterations = 1)
    val c0 = cost(refined, "cell0")
    val c1 = cost(refined, "cell")
    assert(c1 <= c0 + 1e-9, s"refinement increased cost: $c0 -> $c1")
  }

  test("withBucketed: the co-located join plans with ZERO exchanges") {
    val s = spark
    import s.implicits._
    val l = (1L to 100L).map(i => (i, s"s${i % 4}")).toDF("k", "seg")
    val r = (1L to 300L).map(i => (i % 100 + 1, i.toDouble)).toDF("k", "v")
    var plan = ""
    val res = RelationalOps.withBucketed(l, r, "k", buckets = 4) { (bl, br) =>
      val j = bl.join(br, Seq("k"))
      plan = j.queryExecution.executedPlan.toString
      j.groupBy(col("seg")).agg(lit(1)) // any downstream shape; plan already captured
    }
    assert(plan.contains("SortMergeJoin"), plan.take(400))
    assert(!plan.contains("Exchange"), "bucketed join shuffled:\n" + plan.take(800))
    assert(res.count() == 4)
    // scratch tables dropped
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("graft_bkt_")))
  }

  test("bucketize handle: ONE write serves TWO joins, both exchange-free; caller conf untouched") {
    val s = spark
    import s.implicits._
    val l = (1L to 100L).map(i => (i, s"s${i % 4}")).toDF("k", "seg")
    val r = (1L to 300L).map(i => (i % 100 + 1, i.toDouble)).toDF("k", "v")
    val hl = RelationalOps.bucketize(l, "k", buckets = 4)
    val hr = RelationalOps.bucketize(r, "k", buckets = 4)
    try {
      val fork = spark.newSession()
      fork.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j1 = hl.read(fork).join(hr.read(fork), Seq("k"))
      val j2 = hr.read(fork).join(hl.read(fork), Seq("k")).filter(col("v") > 100.0)
      Seq(j1, j2).foreach { j =>
        val p = j.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin"), p.take(600))
        assert(!p.contains("Exchange"), "bucketed join shuffled:\n" + p.take(800))
      }
      assert(j1.count() == 300L && j2.count() == 200L)
      // the forked broadcast override must not leak into the caller session
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
    } finally {
      hl.close()
      hr.close()
    }
    assert(spark.catalog.listTables().collect().forall(!_.name.startsWith("graft_bkt_")))
  }

  test("iterative ops under Reliable checkpointing equal the Local default") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_ops_").toString
    val rel = graft.pipeline.CheckpointPolicy.Reliable(dir)
    try {
      val d = docs((0 to 40).map(i => (i.toLong, s"text $i " * 3, "en", "s", 0L)): _*)
      val edges = GraphAnalytics.syntheticEdges(d)
      val nodes = d.select(col("doc_id").as("id"))
      val src = d.agg(org.apache.spark.sql.functions.min(col("doc_id")).as("id"))
      def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.collect().map(_.toString).toSet
      assert(rows(GraphAnalytics.bfsHops(edges, src, checkpoint = rel)) ==
        rows(GraphAnalytics.bfsHops(edges, src)))
      assert(rows(GraphAnalytics.pageRank(edges, nodes, 3, checkpoint = rel)) ==
        rows(GraphAnalytics.pageRank(edges, nodes, 3)))
      assert(rows(TextOps.dedupClusters(d, checkpoint = rel)) ==
        rows(TextOps.dedupClusters(d)))
      val vecs = (0 until 40).map { i =>
        (i.toLong, Array.tabulate(8)(dd => (((i * 13 + dd * 29) % 17) - 8) / 10.0f))
      }.toDF("vec_id", "embedding")
      assert(rows(EmbeddingOps.kmeansRefine(vecs, cells = 4, dims = 8, checkpoint = rel)) ==
        rows(EmbeddingOps.kmeansRefine(vecs, cells = 4, dims = 8)))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("bgp: sketch order ranks selective patterns first; materialized patterns prune pred_hash") {
    val s = spark
    import s.implicits._
    import GraphOps.TriplePattern
    val counts = Map("<p:rare>" -> 10L, "<p:hot>" -> 1000000L, "<p:mid>" -> 500L)
    val ordered = GraphOps.patternOrder(Seq(
      TriplePattern("<p:hot>"), TriplePattern("<p:mid>"),
      TriplePattern("<p:rare>"), TriplePattern("<p:hot>", obj = Some("\"x\""))), counts)
    assert(ordered.map(p => (p.pred, p.obj.isDefined)) ==
      Seq(("<p:rare>", false), ("<p:mid>", false), ("<p:hot>", true), ("<p:hot>", false)),
      ordered.toString)

    val ts = new java.sql.Timestamp(0L)
    val triples = Seq(
      graft.pipeline.TripleRow("<s1>", "<p:a>", "\"x\"", "u", ts),
      graft.pipeline.TripleRow("<s2>", "<p:a>", "\"y\"", "u", ts),
      graft.pipeline.TripleRow("<s1>", "<p:b>", "\"v1\"", "u", ts),
      graft.pipeline.TripleRow("<s2>", "<p:b>", "\"v2\"", "u", ts),
      graft.pipeline.TripleRow("<s3>", "<p:b>", "\"v3\"", "u", ts)).toDS()
    val out = java.nio.file.Files.createTempDirectory("graft_bgp_").toString
    try {
      graft.pipeline.Materialize.write(triples, out)
      val res = GraphOps.bgp(
        (pred: String) => graft.pipeline.Materialize.readPred(spark, out, pred),
        Seq(TriplePattern("<p:a>", obj = Some("\"x\"")),
          TriplePattern("<p:b>", bind = Some("v"))),
        Map("<p:a>" -> 2L, "<p:b>" -> 3L))
      val plan = res.queryExecution.executedPlan.toString
      val pruned = "PartitionFilters: \\[[^\\]]*pred_hash".r.findAllIn(plan).size
      assert(pruned == 2, s"expected both pattern scans partition-pruned:\n${plan.take(1500)}")
      assert(res.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
        Set(("<s1>", "\"v1\"")))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("bgpChain: 2-hop path joins on inferred vars, no cartesian, pred_hash pruned") {
    val s = spark
    import s.implicits._
    import GraphOps.ChainPattern
    val ts = new java.sql.Timestamp(0L)
    // chain data: s1-p->o1-q->x1 ; s2-p->o2 (no q edge) ; o3 has q but no p
    val triples = Seq(
      graft.pipeline.TripleRow("<s1>", "<p>", "<o1>", "u", ts),
      graft.pipeline.TripleRow("<s2>", "<p>", "<o2>", "u", ts),
      graft.pipeline.TripleRow("<o1>", "<q>", "\"x1\"", "u", ts),
      graft.pipeline.TripleRow("<o3>", "<q>", "\"x3\"", "u", ts)).toDS()
    val out = java.nio.file.Files.createTempDirectory("graft_bgpc_").toString
    try {
      graft.pipeline.Materialize.write(triples, out)
      val res = GraphOps.bgpChain(
        (pred: String) => graft.pipeline.Materialize.readPred(spark, out, pred),
        Seq(ChainPattern("s", "<p>", oVar = Some("o")),
          ChainPattern("o", "<q>", oVar = Some("x"))),
        Map("<p>" -> 2L, "<q>" -> 2L))
      val plan = res.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"chain planned a cartesian:\n${plan.take(1500)}")
      val pruned = "PartitionFilters: \\[[^\\]]*pred_hash".r.findAllIn(plan).size
      assert(pruned == 2, s"expected both pattern scans partition-pruned:\n${plan.take(1500)}")
      // column set is the inferred variables; only the complete chain matches
      assert(res.columns.toSet == Set("s", "o", "x"))
      assert(res.select("s", "o", "x").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
        Set(("<s1>", "<o1>", "\"x1\"")))

      // greedy order: the object-bound pattern seeds even with a hotter pred
      val seeded = GraphOps.bgpChain(
        (pred: String) => graft.pipeline.Materialize.readPred(spark, out, pred),
        Seq(ChainPattern("s", "<p>", oVar = Some("o")),
          ChainPattern("o", "<q>", oConst = Some("\"x1\""))),
        Map("<p>" -> 10L, "<q>" -> 50L))
      assert(seeded.collect().map(r => r.getString(0)).toSeq == Seq("<o1>"))

      // a disconnected pattern set must be rejected, not planned cartesian
      val err = intercept[IllegalArgumentException] {
        GraphOps.bgpChain(
          (pred: String) => graft.pipeline.Materialize.readPred(spark, out, pred),
          Seq(ChainPattern("a", "<p>"), ChainPattern("b", "<q>")), Map.empty)
      }
      assert(err.getMessage.contains("disconnected"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("bm25: rare terms outweigh common, tf saturates, no-match docs excluded") {
    val d = docs(
      (1L, "rare pad pad pad", "en", "s", 0L),
      (2L, "common pad pad pad", "en", "s", 0L),
      (3L, "common pad pad pad", "en", "s", 0L),
      (4L, "common pad pad pad", "en", "s", 0L),
      (5L, "common common common pad", "en", "s", 0L),
      (6L, "nothing relevant here x", "en", "s", 0L))
    val got = TextOps.bm25Search(d, Seq("rare", "common"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 6 matches nothing → absent
    assert(!got.exists(_._1 == 6L))
    val byDoc = got.map(g => g._1 -> g._3).toMap
    // idf: the 1-of-6-docs term beats the 4-of-6 term at equal tf and len
    assert(byDoc(1L) > byDoc(2L), byDoc.toString)
    // tf saturation: 3 occurrences score more than 1, but less than 3×
    assert(byDoc(5L) > byDoc(2L) && byDoc(5L) < 3 * byDoc(2L), byDoc.toString)
    // ranks are 1..n dense in score order
    assert(got.sortBy(_._2).map(_._1).head == 1L)
  }

  test("label propagation: hand-computed synchronous rounds, isolated nodes keep labels") {
    val s = spark
    import s.implicits._
    // path 1—2—3—4 plus isolated 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // round 1: 1←{2}=2, 2←{1,3} tie→1, 3←{2,4} tie→2, 4←{3}=3, 5 keeps 5
    val r1 = GraphAnalytics.labelPropagation(edges, nodes, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 5L), r1.toString)
    // round 2 on those: 1←{2}={1}, 2←{1,3}={2,2}→2, 3←{2,4}={1,3} tie→1, 4←{3}={2}
    val r2 = GraphAnalytics.labelPropagation(edges, nodes, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 5L), r2.toString)
  }

  test("bgpChain OPTIONAL and NOT EXISTS: left/anti join semantics, guards") {
    val s = spark
    import s.implicits._
    import GraphOps.ChainPattern
    val triples = Seq(
      ("<s1>", "<p>", "\"a\""), ("<s2>", "<p>", "\"b\""), ("<s3>", "<p>", "\"c\""),
      ("<s1>", "<q>", "\"x\""), ("<s2>", "<q>", "\"y\"")) // s3 has no q
      .toDF("subj", "pred", "obj")
    val counts = Map("<p>" -> 3L, "<q>" -> 2L)

    // OPTIONAL: s3 keeps its row with a null in the optional column
    val opt = GraphOps.bgpChainOptional((_: String) => triples,
      Seq(ChainPattern("s", "<p>", oVar = Some("v"))),
      Seq(ChainPattern("s", "<q>", oVar = Some("w"))), counts)
    assert(opt.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("<s1>", "\"a\"", "\"x\""), ("<s2>", "\"b\"", "\"y\""), ("<s3>", "\"c\"", null)))

    // NOT EXISTS: only the solution with no anti match survives
    val anti = GraphOps.bgpChainNotExists((_: String) => triples,
      Seq(ChainPattern("s", "<p>", oVar = Some("v"))),
      ChainPattern("s", "<q>"), counts)
    assert(anti.collect().map(_.getString(0)).toSeq == Seq("<s3>"))

    // guards: optional object vars must be fresh; every pattern must connect
    intercept[IllegalArgumentException] {
      GraphOps.bgpChainOptional((_: String) => triples,
        Seq(ChainPattern("s", "<p>", oVar = Some("v"))),
        Seq(ChainPattern("s", "<q>", oVar = Some("v"))), counts)
    }
    intercept[IllegalArgumentException] {
      GraphOps.bgpChainNotExists((_: String) => triples,
        Seq(ChainPattern("s", "<p>")), ChainPattern("z", "<q>"), counts)
    }
  }

  test("internTriples: 8-byte keys match the md5-prefix spec; dict round-trips terms") {
    val s = spark
    import s.implicits._
    val tri = Seq((1L, "<s>", "<p>", "\"o\"")).toDF("doc_id", "subj", "pred", "obj")
    val (interned, dict) = GraphOps.internTriples(tri)
    assert(interned.schema.fields.drop(1)
      .forall(_.dataType == org.apache.spark.sql.types.LongType))
    val d = dict.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(d == Map(
      "<s>" -> TextOps.md5Hash60("<s>"),
      "<p>" -> TextOps.md5Hash60("<p>"),
      "\"o\"" -> TextOps.md5Hash60("\"o\"")))
    val row = interned.collect()(0)
    assert(row.getLong(1) == TextOps.md5Hash60("<s>") &&
      row.getLong(2) == TextOps.md5Hash60("<p>") &&
      row.getLong(3) == TextOps.md5Hash60("\"o\""))
  }

  test("restartResume: run 2 reads ONLY the re-delivery; recovered state absorbs it exactly-once") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000000000L // µs
    val min = 60L * 1000000L
    // 6 rows over 35 minutes; the trailing-20-minute re-delivery window
    // holds exactly the 4 rows at t0+25m and t0+35m
    val rows = Seq(
      (1L, t0, 1L, "click", 0.0, ""),
      (2L, t0, 2L, "view", 0.0, ""),
      (3L, t0 + 25 * min, 1L, "click", 0.0, ""),
      (4L, t0 + 25 * min, 3L, "view", 0.0, ""),
      (5L, t0 + 35 * min, 2L, "click", 0.0, ""),
      (6L, t0 + 35 * min, 3L, "purchase", 0.0, ""))
    val dir = java.nio.file.Files.createTempDirectory("graft_q37t_").toString
    try {
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("ts_us")))
        .drop("ts_us")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/stage"))

      val (res, run1, run2) =
        graft.streaming.StreamingOps.restartResumeWithStats(spark, dir)
      assert(run1 == 6L, s"run1 read $run1 rows")
      // offset-log resume: delivery 1's files are NOT reprocessed — run 2's
      // input is exactly the 4 re-delivered rows
      assert(run2 == 4L, s"run2 read $run2 rows — offset log did not skip delivery 1")
      // recovered dedup state absorbed every re-delivery → batch answer
      val got = res.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("click" -> 3L, "view" -> 2L, "purchase" -> 1L), got.toString)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("sessionWindows: an event at exactly start+gap MERGES; gap+1 splits") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000000000L // µs
    val gap = 1800L * 1000000L
    val rows = Seq(
      (1L, t0, 7L, "click", 0.0, ""),
      (2L, t0 + gap, 7L, "click", 0.0, ""),     // exactly the gap → merges
      (3L, t0 + gap - 1, 8L, "click", 0.0, ""), // 1 µs inside → same session
      (4L, t0, 8L, "click", 0.0, ""),
      (5L, t0, 9L, "click", 0.0, ""),
      (6L, t0 + gap + 1, 9L, "click", 0.0, "")) // 1 µs past the end → new session
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_").toString
    try {
      // the streaming source glob-filters on the FILE name events.parquet —
      // write one part file and move it up under that exact name
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(col("ts_us")))
        .drop("ts_us")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/events.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/stage"))
      val got = graft.streaming.StreamingOps.sessionWindows(spark, dir)
        .groupBy(col("user_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(7L -> 1L, 8L -> 1L, 9L -> 2L), got.toString)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("triangleCounts plan has no cartesian or nested-loop join") {
    val pairs = (for { i <- 0 until 20; j <- (i + 1) until 20 if (i + j) % 3 == 0 }
      yield (i.toLong, j.toLong))
    val plan = GraphAnalytics.triangleCounts(edgesDf(pairs: _*))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
  }

  test("contamination: a train doc copying an eval doc's prefix scores ratio 1.0") {
    val evalText = "the quick brown fox jumps over the lazy dog again and again"
    val cleanText = "zx9 qw8 vb7 nm6 kj5 hg4 fd3 sa2 pl1 ok0 completely disjoint shingles"
    val d = docs(
      (50L, evalText, "en", "web", evalText.length.toLong),   // eval (id % 50 == 0)
      (51L, evalText, "en", "web", evalText.length.toLong),   // train, verbatim copy
      (52L, cleanText, "en", "web", cleanText.length.toLong)) // train, clean
    val got = TextOps.contamination(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(51L) == 1.0, s"copied doc not flagged: $got")
    assert(got(52L) == 0.0, s"clean doc flagged: $got")
  }

  test("token separators are the RE2 class exactly: \\x0B and Unicode spaces do NOT split") {
    val p = java.util.regex.Pattern.compile(TextOps.TokenPattern)
    def nTokens(s: String): Int = {
      val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
    }
    assert(nTokens("a b") == 2 && nTokens("a\tb") == 2 && nTokens("a\nb") == 2)
    // Java \s would split \x0B; Character.isWhitespace would split U+2028,
    // U+2000, U+1680 — the DuckDB oracles' RE2 \s splits NONE of these
    for (sep <- Seq('\u000B', '\u2028', '\u2000', '\u1680', '\u001C'))
      assert(nTokens(s"a${sep}b") == 1, f"U+${sep.toInt}%04X must not split")
    // simHash agrees: a single-token text's fingerprint IS the token's
    // 60-bit hash (every bit votes once), so Unicode-space texts stay one
    // token in the kernel too
    val memo = new java.util.HashMap[String, java.lang.Long]()
    assert(TextOps.simHash("a b", memo) == TextOps.md5Hash60("a b"))
    assert(TextOps.simHash("ab", memo) == TextOps.md5Hash60("ab"))
  }

  test("quantile sketch: estimates within the ~4.4% bucket width") {
    val s = spark
    import s.implicits._
    val rows = (1L to 1000L).map(v => ("g", v))
    val df = rows.toDF("g", "v")
    val sk = SketchOps.quantileSketch(df, "g", col("v"))
    val est = SketchOps.qsEstimate(sk, "g", Seq(50, 95)).collect()(0)
    assert(est.getLong(1) == 1000L)
    val (p50, p95) = (est.getLong(2), est.getLong(3))
    assert(math.abs(p50 - 500.0) / 500.0 <= 0.05, s"p50_est=$p50")
    assert(math.abs(p95 - 950.0) / 950.0 <= 0.05, s"p95_est=$p95")
    // non-positive values are excluded on both engines by contract
    val withZero = (Seq(("g", 0L), ("g", -5L)) ++ rows).toDF("g", "v")
    assert(SketchOps.qsEstimate(SketchOps.quantileSketch(withZero, "g", col("v")), "g", Seq(50))
      .collect()(0).getLong(1) == 1000L)
  }

  test("oovRates: hand-computed rates against a size-1 vocabulary") {
    val d = docs(
      (1L, "aa aa bb", "en", "s", 0L),  // aa×2 dominates the corpus vocab
      (2L, "aa cc cc cc", "en", "s", 0L),
      (3L, "aa", "en", "s", 0L))
    // corpus counts: aa=4, cc=3, bb=1 → top-1 vocab = {aa}
    val got = TextOps.oovRates(d, vocabSize = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 0.3333)))
    assert(got(2L) == ((4L, 3L, 0.75)))
    assert(got(3L) == ((1L, 0L, 0.0)))
  }

  test("annPq: ADC top-1 stays within the planted cluster; codes deterministic") {
    val s = spark
    import s.implicits._
    val dims = 64
    val centers = Seq(
      Array.fill(dims)(0.9f),
      Array.tabulate(dims)(i => if (i % 2 == 0) -0.9f else 0.9f),
      Array.fill(dims)(-0.9f))
    val vecs = (0 until 60).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + 0.002f * ((i * 7) % 5 - 2)), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val top1 = EmbeddingOps.annPq(vecs, nQueries = 9, k = 1)
      .join(vecs.select(col("vec_id").as("query_id"), col("label").as("q_label")),
        Seq("query_id"))
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        Seq("neighbor_id"))
      .select(col("q_label"), col("n_label")).collect()
    assert(top1.nonEmpty && top1.forall(r => r.getInt(0) == r.getInt(1)),
      "an ADC top-1 neighbor crossed planted clusters")
    // encoding is a pure function: identical vectors share codes
    val codes = EmbeddingOps.pqEncode(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) != codes(1L) || centers(0).sameElements(centers(1)))
    assert(EmbeddingOps.pqEncode(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap == codes)
  }

  test("repetitionScores: hand-computed 2-gram repetition; short docs score 0") {
    val d = docs(
      (1L, "a b a b a", "en", "s", 0L),   // grams: ab,ba,ab,ba → 4, distinct 2
      (2L, "w x y z", "en", "s", 0L),      // all distinct
      (3L, "solo", "en", "s", 0L),         // < 2 tokens → empty gram list
      (4L, "", "en", "s", 0L))
    val got = TextOps.repetitionScores(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 2L, 0.5)))
    assert(got(2L) == ((3L, 3L, 0.0)))
    assert(got(3L) == ((0L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("bloom pre-join: zero false negatives; false positives counted, never hidden") {
    val s = spark
    import s.implicits._
    val build = (1L to 500L).map(_ * 7).toDF("k")
    val probe = (1L to 5000L).toDF("k") // supersets build ∪ plenty of non-members
    val idx = SketchOps.bloomBuild(build, "k")
    assert(idx.count() <= SketchOps.BloomBits)
    val passed = SketchOps.bloomFilterProbe(probe, "k", idx).collect().map(_.getLong(0)).toSet
    val members = build.collect().map(_.getLong(0)).toSet
    val trueMembers = members.filter(_ <= 5000L)
    // every true member passes (no false negatives — the bloom contract)
    assert(trueMembers.subsetOf(passed), s"missing ${trueMembers.diff(passed).size} members")
    // the filter actually filters: most non-members are dropped
    val fp = passed.diff(trueMembers)
    assert(passed.size < 5000, "filter passed everything")
    assert(fp.size.toDouble / (5000 - trueMembers.size) < 0.2,
      s"fp rate too high: ${fp.size}")
    // deterministic: a second evaluation yields the identical pass set
    assert(SketchOps.bloomFilterProbe(probe, "k", idx)
      .collect().map(_.getLong(0)).toSet == passed)
    // the probe is a PURE FILTER: no joins, no exchanges on the probe side
    val plan = SketchOps.bloomFilterProbe(probe, "k", idx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      "bloom probe is not a pure filter:\n" + plan.take(800))
  }

  test("validateGraph: each rule class fires exactly once; conforming subjects emit nothing") {
    val s = spark
    import s.implicits._
    val intT = "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"
    val badT = "\"five\"^^<http://www.w3.org/2001/XMLSchema#integer>"
    val tri = Seq(
      // clean subject: every rule satisfied
      ("<ok>", "<p:lang>", "\"en\""), ("<ok>", "<p:n>", intT),
      // missing <p:n>; lang outside the enum
      ("<m>", "<p:lang>", "\"xx\""),
      // cardinality breach on lang; malformed integer
      ("<c>", "<p:lang>", "\"en\""), ("<c>", "<p:lang>", "\"de\""), ("<c>", "<p:n>", badT))
      .toDF("subj", "pred", "obj")
    val got = GraphOps.validateGraph(tri, Seq(
      GraphOps.PropRule("<p:lang>", oneOf = Some(Seq("\"en\"", "\"de\""))),
      GraphOps.PropRule("<p:n>", integerTyped = true)))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("<m>", "missing:<p:n>"), ("<m>", "enum:<p:lang>"),
      ("<c>", "cardinality:<p:lang>"), ("<c>", "bad_integer:<p:n>")))
  }

  test("pathClosure: min hops through diamonds and cycles; depth bound respected") {
    val s = spark
    import s.implicits._
    // diamond 1→{2,3}→4 plus a DIRECT 1→4 edge; 2-cycle 5⇄6
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (1L, 4L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    val got = GraphAnalytics.pathClosure(e, maxHops = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 4L)) == 1L, s"direct edge must beat the 2-hop diamond: $got")
    assert(got((1L, 2L)) == 1L && got((2L, 4L)) == 1L)
    assert(got((5L, 6L)) == 1L && got((6L, 5L)) == 1L)
    assert(!got.contains((5L, 5L)) && !got.contains((6L, 6L)), "self-pairs excluded")
    // chain at maxHops=2: 7→9 reached, 7→10 out of bound
    val chain = Seq((7L, 8L), (8L, 9L), (9L, 10L), (10L, 11L)).toDF("src", "dst")
    val c = GraphAnalytics.pathClosure(chain, maxHops = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(c((7L, 9L)) == 2L && !c.contains((7L, 10L)), c.toString)
  }

  test("redactionScan: counts on the original text; email-inside-URL redacts deterministically") {
    val d = docs((1L, "mail a.b@x.co or see https://u@h.io/path now", "en", "s", 0L))
    val r = TextOps.redactionScan(d).collect()(0)
    assert(r.getLong(1) == 2L, s"n_emails=${r.getLong(1)}") // a.b@x.co and u@h.io
    assert(r.getLong(2) == 1L, s"n_urls=${r.getLong(2)}")
    // emails first, then urls: the URL's redacted authority collapses into <URL>
    assert(r.getString(3) == TextOps.md5Hex("mail <EMAIL> or see <URL> now"))
  }

  test("pathClosure matches a driver-side BFS closure on seeded random digraphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 6
      val maxHops = 4
      val edges = (1 to n * 2)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val got = GraphAnalytics.pathClosure(edges.toDF("src", "dst"), maxHops)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // oracle: per-source BFS to depth maxHops (shortest paths never
      // revisit the source, so seeding `seen` with it is exact)
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val expected = scala.collection.mutable.Map.empty[(Long, Long), Long]
      edges.map(_._1).distinct.foreach { src =>
        val seen = scala.collection.mutable.Set(src)
        var frontier = Set(src)
        for (h <- 1 to maxHops) {
          frontier = frontier.flatMap(x => adj.getOrElse(x, Set.empty)) -- seen
          frontier.foreach { v => expected((src, v)) = h.toLong }
          seen ++= frontier
        }
      }
      assert(got == expected.toMap, s"trial $trial (n=$n): closure mismatch")
    }
  }

  test("quantile sketch: same-bucket error bound holds on seeded random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // mixed magnitudes: exact small values + three binade ranges
    val vals = Seq.fill(500)(rnd.nextInt(30) + 1L) ++
      Seq.fill(500)(rnd.nextInt(1000) + 100L) ++
      Seq.fill(200)((rnd.nextInt(1000000) + 1000L))
    val df = vals.map(("g", _)).toDF("g", "v")
    val est = SketchOps.qsEstimate(
      SketchOps.quantileSketch(df, "g", col("v")), "g", Seq(50, 95)).collect()(0)
    val sorted = vals.sorted
    def exactQ(p: Int): Long = sorted((vals.size * p + 99) / 100 - 1)
    Seq(50 -> est.getLong(2), 95 -> est.getLong(3)).foreach { case (p, e) =>
      val x = exactQ(p)
      // estimate = MIN of the bucket containing the rank-th value: never
      // above it, within one bucket width (1/16 of the binade) below
      assert(e <= x, s"p$p: est $e above exact $x")
      assert(e.toDouble >= x * (1.0 - 1.0 / 16) - 1, s"p$p: est $e too far below $x")
    }
  }

  test("count-min: never under-counts, mostly exact at low load") {
    val s = spark
    import s.implicits._
    val rows = (1L to 100L).flatMap(k => Seq.fill((k % 5).toInt + 1)(k))
    val df = rows.toDF("k")
    val keys = (1L to 100L).toDF("k")
    val freqs = SketchOps.cmFrequencies(df, "k", keys).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(freqs.length == 100)
    // CM contract: estimate >= exact, always
    freqs.foreach { case (k, est, exact) =>
      assert(est >= exact, s"under-count for $k: $est < $exact")
      assert(exact == (k % 5) + 1)
    }
    // at 100 keys over 4×256 cells, P(all 4 rows collide) ≈ 1% per key —
    // nearly every estimate should be exact
    val exactHits = freqs.count { case (_, est, exact) => est == exact }
    assert(exactHits >= 90, s"only $exactHits/100 exact")
  }

  test("hllDistinct: estimate within 3 standard errors on known cardinalities") {
    val s = spark
    import s.implicits._
    // group "big": 5000 distinct values; group "small": 40 (linear-counting range)
    val rows = (0 until 5000).map(i => ("big", i.toLong)) ++
      (0 until 40).flatMap(i => Seq(("small", 100000L + i), ("small", 100000L + i)))
    val got = SketchOps.hllDistinct(rows.toDF("g", "v"), "g", "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val se = 1.04 / math.sqrt(SketchOps.HllM) // ≈ 6.5%
    assert(got("big")._2 == 5000L)
    assert(math.abs(got("big")._1 - 5000.0) / 5000.0 <= 3 * se,
      s"big estimate off: ${got("big")}")
    assert(got("small")._2 == 40L)
    assert(math.abs(got("small")._1 - 40.0) / 40.0 <= 3 * se,
      s"small estimate off: ${got("small")}")
  }

  // ------------------------------------------------------ graph analytics

  private def edgesDf(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst")
  }

  test("triangleCounts: K4 has 4 triangles, every vertex in 3") {
    val k4 = edgesDf((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val got = GraphAnalytics.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: degree-oriented join matches naive enumeration") {
    // deterministic pseudo-random graph on 30 nodes, mixed degrees
    val n = 30
    val pairs = for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 31 + j * 17) % 5 == 0
    } yield (i.toLong, j.toLong)
    // feed some edges reversed + duplicated: op must canonicalize
    val noisy = pairs.zipWithIndex.map { case ((a, b), k) =>
      if (k % 3 == 0) (b, a) else (a, b)
    } ++ pairs.take(5)
    val got = GraphAnalytics.triangleCounts(edgesDf(noisy: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = pairs.toSet
    def has(a: Long, b: Long) = adj((math.min(a, b), math.max(a, b)))
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
      if has(a, b) && has(b, c) && has(a, c)
    } { expected(a) += 1; expected(b) += 1; expected(c) += 1 }
    assert(got == expected.toMap)
    assert(got.values.sum % 3 == 0)
  }

  test("bfsHops: shortcut beats the long path; other component unreachable") {
    val s = spark
    import s.implicits._
    // component A: path 0-1-2-3 with chord 0-3; component B: 10-11
    val e = edgesDf((0, 1), (1, 2), (2, 3), (0, 3), (10, 11))
    val src = Seq(0L).toDF("id")
    val got = GraphAnalytics.bfsHops(e, src).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("bfsHops: exceeding maxIter throws instead of silently truncating") {
    val s = spark
    import s.implicits._
    val path = edgesDf((0L until 6L).map(i => (i, i + 1)): _*)
    val src = Seq(0L).toDF("id")
    val ex = intercept[IllegalArgumentException] {
      GraphAnalytics.bfsHops(path, src, maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("diameter"))
    // eccentricity EXACTLY maxIter is in-contract (the oracle's recursive
    // CTE reaches hop == maxIter) — must complete, not throw
    val short = edgesDf((0L until 3L).map(i => (i, i + 1)): _*)
    assert(GraphAnalytics.bfsHops(short, src, maxIter = 3).count() == 4)
  }

  test("pageRank: directed ring stays exactly uniform at every iteration") {
    val s = spark
    import s.implicits._
    val ring = edgesDf((0, 1), (1, 2), (2, 3), (3, 0))
    val nodes = (0L to 3L).toDF("id")
    // r = 0.15/4 + 0.85 * (0.25/1) = 0.25 exactly, a fixpoint
    val got = GraphAnalytics.pageRank(ring, nodes, iterations = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 0.25, 1L -> 0.25, 2L -> 0.25, 3L -> 0.25))
  }

  test("pageRankDelta: equals fresh v2 ranks; untouched component never enters the affected set") {
    val s = spark
    import s.implicits._
    // component A = {1..6} (cycle + tail), component B = {10..13} (cycle +
    // feeder); the diff deletes 5→4 and adds 3→6 — strictly inside A
    val v1 = edgesDf((1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (6, 5),
      (10, 11), (11, 12), (12, 10), (13, 10))
    val v2 = edgesDf((1, 2), (2, 3), (3, 1), (4, 1), (6, 5), (3, 6),
      (10, 11), (11, 12), (12, 10), (13, 10))
    val diff = Seq(("del", 5L, 4L), ("add", 3L, 6L)).toDF("op", "src", "dst")
    val nodes = ((1L to 6L) ++ (10L to 13L)).toDF("id")
    val hist = GraphAnalytics.pageRankHistory(v1, nodes, iterations = 3)
    // the history's last frame IS pageRank(v1) after rounding
    val histLast = hist.filter(col("iter") === 3)
      .select(col("id"), org.apache.spark.sql.functions.round(col("rank"), 6).as("rank"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val v1Fresh = GraphAnalytics.pageRank(v1, nodes, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(histLast == v1Fresh)
    val inc = GraphAnalytics.pageRankDelta(hist, v2, diff, nodes, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fresh = GraphAnalytics.pageRank(v2, nodes, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc == fresh, s"incremental $inc != fresh $fresh")
    // ranks actually moved in A (the diff re-routes mass)
    assert((1L to 6L).exists(i => inc(i) != v1Fresh(i)))
    // the work-∝-diff pin: B's vertices never enter the affected frontier,
    // so their ranks carry forward from history without recompute
    val affected = GraphAnalytics.pageRankAffected(v2, diff, iterations = 3)
      .collect().map(_.getLong(0)).toSet
    assert(affected.nonEmpty && affected.forall(_ <= 6), affected.toString)
    assert((10L to 13L).forall(i => inc(i) == v1Fresh(i)))
  }

  test("degrees: isolated node surfaces with degree 0; duplicates collapse") {
    val s = spark
    import s.implicits._
    val e = edgesDf((1, 2), (2, 1), (2, 3)) // 1-2 duplicated in both directions
    val nodes = (1L to 4L).toDF("id")
    val got = GraphAnalytics.degrees(e, Some(nodes)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("bfsHops matches naive reference BFS on a random graph") {
    val s = spark
    import s.implicits._
    val n = 40
    val pairs = for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 37 + j * 13) % 11 == 0
    } yield (i.toLong, j.toLong)
    val got = GraphAnalytics.bfsHops(edgesDf(pairs: _*), Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: queue BFS over the undirected adjacency
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(0L -> 0L)
    val queue = scala.collection.mutable.Queue(0L)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj.getOrElse(u, Nil).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue.enqueue(v) }
      }
    }
    assert(got == dist.toMap)
  }

  test("syntheticEdges: closed over the id set, no self-loops, connected") {
    val d = docs((0L to 20L).map(i => (i, s"t$i", "en", "web", 2L)): _*)
    val e = GraphAnalytics.syntheticEdges(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = (0L to 20L).toSet
    assert(e.forall { case (s0, d0) => ids(s0) && ids(d0) && s0 != d0 })
    // every node reachable from 0 via the tree alone ⇒ BFS covers all ids
    val s = spark
    import s.implicits._
    val hops = GraphAnalytics.bfsHops(
      GraphAnalytics.syntheticEdges(d), Seq(0L).toDF("id")).count()
    assert(hops == 21)
  }

  test("bgpSelect: modifier pipeline semantics and the TakeOrdered lowering") {
    val s = spark
    import s.implicits._
    val sol = Seq(("a", "2"), ("a", "2"), ("b", "1"), ("c", "3"), ("d", "3"))
      .toDF("x", "y")
    val out = GraphOps.bgpSelect(sol, project = Seq("x", "y"), distinct = true,
      orderBy = Seq(GraphOps.OrderKey("y", ascending = false), GraphOps.OrderKey("x")),
      limit = Some(3), rankVar = Some("rk"))
    // distinct collapses the dup, (y desc, x asc) ranks c,d,a
    assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("c", "3", 1L), ("d", "3", 2L), ("a", "2", 3L)))
    assert(out.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "ordered+limited select must lower to TakeOrderedAndProject")
    // rank without a bounded total order is refused
    intercept[IllegalArgumentException] {
      GraphOps.bgpSelect(sol, Seq("x"), rankVar = Some("rk"))
    }
    intercept[IllegalArgumentException] {
      GraphOps.bgpSelect(sol, Seq("x"), orderBy = Seq(GraphOps.OrderKey("y")))
    }
  }

  test("personalizedPageRank: teleport lands on seeds, unreachable stays 0") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val got = GraphAnalytics.personalizedPageRank(
      edges, nodes, Seq(1L).toDF("id"), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // r0=(1,0,0); r1=(0.15, 0.85, 0); r2=(0.15, 0.85·0.15, 0)
    assert(got == Map(1L -> 0.15, 2L -> 0.1275, 3L -> 0.0))
  }

  test("kCoreBounded: leaves peel layer by layer, triangle survives at k=2") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4 + triangle 3-4-5: round 1 drops leaf 1, round 2 drops
    // the newly-exposed leaf 2, round 3 is the fixpoint {3,4,5}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst")
    val r3 = GraphAnalytics.kCoreBounded(e, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(3L -> 2L, 4L -> 2L, 5L -> 2L))
    // after one round only the original leaf is gone
    val r1 = GraphAnalytics.kCoreBounded(e, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
  }

  test("ssspBounded: weighted detour beats the direct edge, rounds bound path length") {
    val s = spark
    import s.implicits._
    // 1→4 direct costs 10; detour 1→2→3→4 costs 3 but needs 3 edges
    val e = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(1L).toDF("id")
    def run(r: Int) = GraphAnalytics.ssspBounded(e, src, rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // 1 round: only direct edges relax
    assert(run(1) == Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // 3 rounds: the cheap 3-edge detour wins at node 4
    assert(run(3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("hits: hand-computed 2-round unnormalized scores, dangling nodes 0") {
    val s = spark
    import s.implicits._
    // star into 3 (1→3, 2→3) + 3→4: classic hub/authority split
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L, 4L, 9L).toDF("id") // 9 is isolated
    // round 1: a = indeg (3→2, 4→1); h(1)=h(2)=a(3)=2, h(3)=a(4)=1
    // round 2: a(3)=h(1)+h(2)=4, a(4)=h(3)=1; h(1)=h(2)=4, h(3)=1
    val got = GraphAnalytics.hits(e, n, iterations = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((4L, 0L)), 2L -> ((4L, 0L)), 3L -> ((1L, 4L)),
      4L -> ((0L, 1L)), 9L -> ((0L, 0L))))
  }

  test("sameAsCanonicalize: facts merge onto the min-IRI rep, literals untouched") {
    val s = spark
    import s.implicits._
    val triples = Seq(
      ("<e:b>", "p:x", "\"lit\""),   // subj aliased: b ~ a
      ("<e:a>", "p:x", "\"lit2\""),  // rep itself
      ("<e:c>", "p:y", "<e:b>"),     // obj aliased too
      ("<e:z>", "p:y", "\"keep\"")) // outside the sameAs universe
      .toDF("subj", "pred", "obj")
    val sameAs = Seq(("<e:a>", "<e:b>")).toDF("src", "dst")
    val got = GraphOps.sameAsCanonicalize(triples, sameAs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("<e:a>", "p:x", "\"lit\""), ("<e:a>", "p:x", "\"lit2\""),
      ("<e:c>", "p:y", "<e:a>"), ("<e:z>", "p:y", "\"keep\"")))
    // column order of the input schema is preserved
    assert(GraphOps.sameAsCanonicalize(triples, sameAs).columns.toSeq ==
      Seq("subj", "pred", "obj"))
  }

  test("streamingTrendingTerms: state-store aggregate equals the batch top-k") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trend_").toString
    try {
      docs(
        (0L, "a b a", "en", "s", 5L),
        (1L, "b c", "en", "s", 3L),
        (2L, "a c c b", "en", "s", 7L))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.streaming.StreamingOps.streamingTrendingTerms(spark, dir, k = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
      // a=3 b=3 c=3 — full tie, token-asc break, top 2
      assert(got == List(("a", 3L, 1L), ("b", 3L, 2L)), got.toString)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("imageNearDupPairs: dHash from bytes, banding recall exact at radius 3") {
    // the decoded hash must equal the bit formula (hash from BYTES, not id)
    for (id <- 0L until 40L) {
      val h = graft.ops.MultimodalOps.dHashOf(graft.ops.MultimodalOps.encodeFakeGrid(id))
      for (i <- 0 until 64)
        assert(((h >>> i) & 1L) == graft.ops.MultimodalOps.gridBit(id, i).toLong,
          s"doc $id bit $i")
    }
    val s = spark
    import s.implicits._
    val docs = (0L until 96L).toDF("doc_id")
    val got = graft.ops.MultimodalOps.imageNearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all pairs: LSH at radius 3 with 4 bands misses nothing
    val hashes = (0L until 96L)
      .map(id => id -> graft.ops.MultimodalOps.dHashOf(
        graft.ops.MultimodalOps.encodeFakeGrid(id))).toMap
    val want = (for {
      a <- 0L until 96L; b <- (a + 1) until 96L
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b)).toLong
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty && want.exists(_._3 > 0), "fixture must exercise dist>0")
  }

  test("containmentPairs: a quoted short doc scores ~1 on its side, cut is rational") {
    // doc 1 is a verbatim substring of doc 0 → every shingle of 1 (except
    // tail fragments) appears in 0: containment on 1's side near 1.0 even
    // though Jaccard vs the long doc is low; doc 2 shares nothing
    val long = "aggregator page intro text with plenty of body copy here and " +
      "quick brown fox jumps over the lazy " +
      "followed by unrelated commentary continuing onward with extra words " +
      "and a closing paragraph that keeps adding fresh distinct material"
    val short = "quick brown fox jumps over the lazy"
    val other = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq pppp oooo"
    val d = docs((0L, long, "en", "s", long.length.toLong),
      (1L, short, "en", "s", short.length.toLong),
      (2L, other, "en", "s", other.length.toLong))
    val got = graft.ops.TextOps.containmentPairs(d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((0L, 1L)), got.toString)
    val (nShared, cLong, cShort) = got((0L, 1L))
    // every distinct shingle of the short doc occurs in the long one
    assert(cShort == 1.0 && nShared > 0, got.toString)
    assert(cLong < 0.5, s"asymmetry must show: $cLong")
    // rational cut: drop the threshold to 0 → the pair set is unchanged
    // only if every candidate already passed; raising to 1/1 keeps (0,1)
    val strict = graft.ops.TextOps.containmentPairs(d, thresholdNum = 1, thresholdDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((0L, 1L)), strict.toString)
  }

  test("containmentPairs: verification is set-intersection in-row, no per-pair re-aggregation") {
    // plan pin for the bounded-intermediate shape: the exact verify stage
    // intersects pre-aggregated shingle-set arrays per candidate row —
    // the plan must carry the array_intersect projection and NO aggregate
    // keyed on the pair (a, b) (the former exploded-join shape's
    // candidates × |A's shingles| blowup re-aggregated per pair)
    val d = docs((0L, "quick brown fox jumps over the lazy dog today", "en", "s", 46L),
      (1L, "quick brown fox jumps over the lazy", "en", "s", 35L))
    val df = graft.ops.TextOps.containmentPairs(d)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("array_intersect"), plan.take(800))
    // (cand.distinct() is also an Aggregate on [a, b] — the banned shape
    // is the COUNTING one that re-aggregated the exploded shingle join)
    assert(!plan.matches("(?s).*Aggregate \\[a#\\d+L?, b#\\d+L?\\], \\[a#.*count\\(.*"),
      "per-pair counting aggregate reappeared:\n" + plan.take(1200))
    // the only aggregates are the df pass and the per-DOC set build
    assert(df.collect().length == 1)
  }

  test("knnGraphCells: local top-k of block-pair groups equals within-cell brute force") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(dd => (((i * 13 + dd * 29) % 17) - 8) / 10.0f))
    }.toDF("vec_id", "embedding")
    // brute force: same cells (kmeansRefine w/ vectors), all same-cell
    // directed pairs, top-3 by (dist2, neighbor id)
    val rows = EmbeddingOps.kmeansRefine(vecs, cells = 4, dims = 8, keepVector = true)
      .select("cell", "vec_id", "g", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toArray, r.getLong(3)))
    val want = rows.flatMap { case (c, id, g, n) =>
      rows.iterator.collect {
        case (c2, id2, g2, n2) if c2 == c && id2 != id =>
          val dot = g.zip(g2).map { case (a, b2) => a * b2 }.sum
          (id2, n + n2 - 2 * dot)
      }.toArray.sortBy(t => (t._2, t._1)).take(3).zipWithIndex
        .map { case ((nb, d2), r) => (id, (r + 1).toLong, nb, d2) }
    }.toSet
    // blocks=3 forces the multi-group candidate path (bi covers 0..2)
    val got = EmbeddingOps.knnGraphCells(vecs, k = 3, cells = 4, dims = 8, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.exists(_._2 == 3L), "fixture must produce full-depth ranks")
  }

  test("sccBounded: mutual reachability labels cycles, one-way reach stays singleton") {
    val s = spark
    import s.implicits._
    // 1→2→3→1 (SCC {1,2,3}), 4→5 / 5→4 (SCC {4,5}), 3→4 one-way bridge,
    // 6 isolated, 7→1 feeds the cycle but is not fed back
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (3L, 4L), (7L, 1L)).toDF("src", "dst")
    val verts = (1L to 7L).toDF("id")
    val got = GraphAnalytics.sccBounded(edges, verts, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L), got.toString)
    // rounds below the cycle diameter degrade to singletons, never wrong merges
    val shallow = GraphAnalytics.sccBounded(edges, verts, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shallow == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L), shallow.toString)
  }

  test("characteristicSets: duplicate assertions collapse, sets keyed exactly") {
    val s = spark
    import s.implicits._
    val tri = Seq(
      ("<a>", "p:x", "\"1\""), ("<a>", "p:y", "\"2\""),
      ("<a>", "p:x", "\"3\""), // duplicate pred on <a> — one set member
      ("<b>", "p:y", "\"4\""), ("<b>", "p:x", "\"5\""),
      ("<c>", "p:x", "\"6\""))
      .toDF("subj", "pred", "obj")
    val res = GraphOps.characteristicSets(tri)
    val got = res.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("p:x p:y" -> 2L, "p:x" -> 1L))
    // plan guard: collect_set dedups in-aggregate — exactly two exchanges
    // (subject, then set key), no third distinct exchange
    val plan = res.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // count the AQE final plan only
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"characteristicSets must cost exactly 2 exchanges:\n${plan.take(2000)}")
  }

  test("bgpAsk: satisfiable → 1, unsatisfiable → 0, plan short-circuits via limit") {
    val s = spark
    import s.implicits._
    val triples = Seq(
      ("<d:1>", "p:lang", "\"en\""), ("<d:1>", "p:n", "\"3\""))
      .toDF("subj", "pred", "obj")
    def ask(o: String) = GraphOps.bgpAsk((_: String) => triples,
      Seq(GraphOps.ChainPattern("d", "p:lang", oConst = Some(o)),
        GraphOps.ChainPattern("d", "p:n", oVar = Some("n"))), Map.empty)
    assert(ask("\"en\"").collect().map(_.getLong(0)).toList == List(1L))
    assert(ask("\"zz\"").collect().map(_.getLong(0)).toList == List(0L))
    // the existence probe declares limit(1) — on real scans that lowers
    // to a short-circuiting CollectLimit (local relations here constant-
    // fold through it, so pin the analyzed plan)
    assert(ask("\"en\"").queryExecution.analyzed.toString.contains("GlobalLimit 1"))
  }

  test("describe: outgoing description only, one semi join") {
    val s = spark
    import s.implicits._
    val triples = Seq(
      ("<d:1>", "p:x", "\"a\""), ("<d:1>", "p:y", "\"b\""),
      ("<d:2>", "p:x", "\"c\""), ("<d:3>", "p:z", "<d:1>"))
      .toDF("subj", "pred", "obj")
    val got = GraphOps.describe(triples, Seq("<d:1>").toDF("d")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // incoming arc <d:3> → <d:1> is NOT part of the outgoing description
    assert(got == Set(("<d:1>", "p:x", "\"a\""), ("<d:1>", "p:y", "\"b\"")))
  }

  test("bgpChainGraph: patterns only combine within one named graph") {
    val s = spark
    import s.implicits._
    // d1's lang lives in g1 but its n lives in g2 → NO solution for d1;
    // d2 has both in g1 → one solution
    val quads = Seq(
      ("<g:1>", "<d:1>", "p:lang", "\"en\""),
      ("<g:2>", "<d:1>", "p:n", "\"7\""),
      ("<g:1>", "<d:2>", "p:lang", "\"en\""),
      ("<g:1>", "<d:2>", "p:n", "\"9\""))
      .toDF("graph", "subj", "pred", "obj")
    val got = GraphOps.bgpChainGraph(quads,
      Seq(GraphOps.ChainPattern("d", "p:lang", oConst = Some("\"en\"")),
        GraphOps.ChainPattern("d", "p:n", oVar = Some("n"))), Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("<g:1>", "<d:2>", "\"9\"")))
    // graph var collision is rejected
    intercept[IllegalArgumentException] {
      GraphOps.bgpChainGraph(quads,
        Seq(GraphOps.ChainPattern("g", "p:lang", oVar = Some("l"))), Map.empty)
    }
  }

  test("TermFns: STR/LANG/DATATYPE/isIRI over every rendered term shape") {
    val s = spark
    import s.implicits._
    import GraphOps.TermFns._
    val terms = Seq("<http://e/x>", "\"plain\"", "\"hi\"@en-GB",
      "\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>", "_:b0").toDF("t")
    val got = terms.select(col("t"), termStr(col("t")).as("s"),
      termLang(col("t")).as("l"), termDatatype(col("t")).as("d"),
      termIsIri(col("t")).as("iri"), termIsLiteral(col("t")).as("lit"),
      termIsBlank(col("t")).as("b"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got("<http://e/x>") == (("http://e/x", "", "", true, false, false)))
    assert(got("\"plain\"") ==
      (("plain", "", "http://www.w3.org/2001/XMLSchema#string", false, true, false)))
    assert(got("\"hi\"@en-GB") ==
      (("hi", "en-GB", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
        false, true, false)))
    assert(got("\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>") ==
      (("7", "", "http://www.w3.org/2001/XMLSchema#integer", false, true, false)))
    assert(got("_:b0") == (("", "", "", false, false, true)))
  }

  test("TermFns.termStr decodes the render-escape table to the lexical form") {
    val s = spark
    import s.implicits._
    import GraphOps.TermFns._
    import graft.turtle.{LitType, NTriples, Term, Vocab}
    // lexical forms exercising every escape the renderer emits — incl. the
    // escaped quote (rendered "), which must neither stop nor extend
    // the capture, and a trailing backslash (rendered \, decoded LAST
    // so the decoded char is never rescanned as an escape intro)
    val lexes = Seq("a\"b", "line1\nline2", "back\\slash", "tab\there",
      "cr\rlf\n", "bell\b\f", "end\\")
    val rendered = lexes.map(l =>
      NTriples.renderTerm(Term.TLit(l, LitType.Dt(Vocab.XsdString))))
    val got = rendered.toDF("t").select(col("t"), termStr(col("t")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    lexes.zip(rendered).foreach { case (lex, r) =>
      assert(got(r) == lex, s"STR($r) = ${got(r)} != $lex")
    }
    // lang-tagged escaped literal: the suffix stays out of the capture
    val tagged = NTriples.renderTerm(Term.TLit("x\"y", LitType.Lang("en")))
    val row = Seq(tagged).toDF("t")
      .select(termStr(col("t")), termLang(col("t"))).collect()(0)
    assert(row.getString(0) == "x\"y" && row.getString(1) == "en", tagged)
  }

  test("IvfStore delta path: append/delete/update resolve to the fresh rebuild; bytes ∝ delta") {
    val s = spark
    import s.implicits._
    def emb(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    // two well-separated planted cells around the ×1000-grid centroids
    val c0 = Array(1000L, 0L)
    val c1 = Array(-1000L, 0L)
    val v = Map(
      0L -> Seq(1.0, 0.1), 1L -> Seq(0.9, -0.1), 2L -> Seq(-1.0, 0.1),
      3L -> Seq(-0.9, -0.1), 4L -> Seq(0.95, 0.0), 5L -> Seq(-0.95, 0.0))
    val out = java.nio.file.Files.createTempDirectory("graft_ivfstore_").toString
    try {
      IvfStore.write(emb(v.filterKeys(_ < 4).toSeq.sortBy(_._1): _*),
        s"$out/i", Array(c0, c1), dims = 2)
      // no pending delta: the merged read is the plain base scan — no exchange
      val basePlan = IvfStore.readMerged(s, s"$out/i")
        .queryExecution.executedPlan.toString
      assert(!basePlan.contains("Exchange"), basePlan.take(500))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def baseFiles() = walk(new java.io.File(s"$out/i/base"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified, f.length)).toSet
      val before = baseFiles()
      // append 4, 5 into the EXISTING cells; delete 1 and 3; re-append 1
      // with a MOVED vector (update: latest add wins)
      IvfStore.appendVectors(s, s"$out/i", emb(4L -> v(4L), 5L -> v(5L)))
      IvfStore.deleteVectors(s, s"$out/i", Seq(1L, 3L).toDF("vec_id"))
      IvfStore.appendVectors(s, s"$out/i", emb(1L -> Seq(-0.8, 0.0)))
      assert(baseFiles() == before, "the delta path rewrote base files")
      val live = IvfStore.readMerged(s, s"$out/i")
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // 3 deleted; 1 resurrected on the OTHER side; 4/5 appended
      assert(live == Map(0L -> 0L, 2L -> 1L, 4L -> 0L, 5L -> 1L, 1L -> 1L), live.toString)
      // merged search == fresh rebuild over the live set with same centroids
      val mergedTop = IvfStore.searchTopK(s, s"$out/i", k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      IvfStore.write(emb(
        0L -> v(0L), 2L -> v(2L), 4L -> v(4L), 5L -> v(5L), 1L -> Seq(-0.8, 0.0)),
        s"$out/fresh", Array(c0, c1), dims = 2)
      val freshTop = IvfStore.searchTopK(s, s"$out/fresh", k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(mergedTop == freshTop, s"merged $mergedTop != fresh $freshTop")
      // TIME TRAVEL (emb20): the live set as of each delta batch —
      // 0 = base; 1 = +append(4,5); 2 = +delete(1,3); 3 = +resurrect 1;
      // the latest as-of equals the merged read
      def liveAt(asOf: Long): Map[Long, Long] =
        IvfStore.readEvolution(s, s"$out/i", upTo = 3L)
          .filter(col("as_of") === asOf)
          .select("vec_id", "cell").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(liveAt(0L) == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L))
      assert(liveAt(1L) ==
        Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
      assert(liveAt(2L) == Map(0L -> 0L, 2L -> 1L, 4L -> 0L, 5L -> 1L))
      assert(liveAt(3L) == live)
      // compact folds the log; the view and search are unchanged
      IvfStore.compact(s, s"$out/i")
      assert(!new java.io.File(s"$out/i/_delta").exists())
      val afterTop = IvfStore.searchTopK(s, s"$out/i", k = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(afterTop == mergedTop)
      // post-compaction the history is gone by design: every as-of reads
      // the folded base
      assert(liveAt(0L) == live)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("IvfStore merged read: with a delta in one cell, the untouched cell bypasses the exchange") {
    val s = spark
    import s.implicits._
    def emb(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    val out = java.nio.file.Files.createTempDirectory("graft_ivfplan_").toString
    try {
      // cell 0 holds 0 and 1, cell 1 holds 2; the delta touches cell 0 only
      IvfStore.write(emb(
        0L -> Seq(1.0, 0.1), 1L -> Seq(0.9, -0.1), 2L -> Seq(-1.0, 0.1)),
        s"$out/i", Array(Array(1000L, 0L), Array(-1000L, 0L)), dims = 2)
      IvfStore.appendVectors(s, s"$out/i", emb(3L -> Seq(0.95, 0.0)))
      IvfStore.deleteVectors(s, s"$out/i", Seq(1L).toDF("vec_id"))
      val merged = IvfStore.readMerged(s, s"$out/i")
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("Union"), plan.take(800))
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"the untouched cell must bypass the resolution exchange:\n${plan.take(2000)}")
      val live = merged.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(live == Map(0L -> 0L, 2L -> 1L, 3L -> 0L), live.toString)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("IvfStore compact: a fully-tombstoned cell's base partition is deleted, not resurrected") {
    val s = spark
    import s.implicits._
    def emb(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    val c0 = Array(1000L, 0L)
    val c1 = Array(-1000L, 0L)
    val out = java.nio.file.Files.createTempDirectory("graft_ivfempty_").toString
    try {
      // cell 0 holds 0 and 1; cell 1 holds 2
      IvfStore.write(emb(
        0L -> Seq(1.0, 0.1), 1L -> Seq(0.9, -0.1), 2L -> Seq(-1.0, 0.1)),
        s"$out/i", Array(c0, c1), dims = 2)
      // tombstone EVERY vector of cell 0, then compact: the resolved
      // output has no cell=0 rows, so dynamic overwrite alone would keep
      // the stale cell-0 base files while the delta log is dropped — and
      // the next read would serve the deleted vectors again
      IvfStore.deleteVectors(s, s"$out/i", Seq(0L, 1L).toDF("vec_id"))
      IvfStore.compact(s, s"$out/i")
      assert(!new java.io.File(s"$out/i/base/cell=0").exists(),
        "emptied cell partition survived compaction")
      val live = IvfStore.readMerged(s, s"$out/i")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(live == Set(2L), s"deleted vectors resurrected: $live")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("annFiltered: pre-filter restricts candidates before ranking") {
    val s = spark
    import s.implicits._
    // q0 (label 1) must ignore v2 (label 2) even though it is the
    // globally nearest vector
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 1), (1L, Seq(0.0, 1.0), 1), (2L, Seq(1.0, 0.1), 2))
      .toDF("vec_id", "embedding", "label")
    val got = EmbeddingOps.annFiltered(emb, nQueries = 1, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((0L, 1L, 1L))) // only the same-label vector surfaces
  }

  test("domainQuota: per-source top-N by n_chars with doc_id tiebreak") {
    val d = docs(
      (1L, "a", "en", "s1", 10L), (2L, "b", "en", "s1", 30L),
      (3L, "c", "en", "s1", 30L), (4L, "d", "en", "s2", 5L))
    val got = TextOps.domainQuota(d, quota = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // s1: 30-char docs rank 1,2 (doc 2 before doc 3); doc 1 cut; s2 keeps its only doc
    assert(got == Set(("s1", 2L, 1L), ("s1", 3L, 2L), ("s2", 4L, 1L)))
  }

  test("annMaxSim: per-token best match summed, BIGINT-exact ranking") {
    val s = spark
    import s.implicits._
    // 2 tokens × 2 dims; q = v0 has tokens [1,0] and [0,1]
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)),
      (1L, Seq(1.0, 0.0, 1.0, 0.0)),  // both tokens match q's token 0 → 1e6
      (2L, Seq(0.0, 2.0, 0.0, 1.0)))  // token 1 matches q's token 1 ×2 → 2e6
      .toDF("vec_id", "embedding")
    val got = EmbeddingOps.annMaxSim(emb, nQueries = 1, k = 2, tokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List((0L, 1L, 2L, 2000000L), (0L, 2L, 1L, 1000000L)))
  }

  test("annMatryoshka: prefix shortlist prunes honestly, rerank reorders within it") {
    val s = spark
    import s.implicits._
    // prefix dim 1: v1 and v2 tie at cos 1.0 → neighbor-id tiebreak
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 10.0)), (2L, Seq(2.0, 0.0)))
      .toDF("vec_id", "embedding")
    // shortlist=1 keeps only v1; stage 2 never sees v2 even though its
    // full cosine (1.0) is higher — pruning is honest
    val s1 = EmbeddingOps.annMatryoshka(emb, nQueries = 1, k = 1,
      prefixDims = 1, shortlist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    assert(s1.map(t => (t._1, t._2, t._3)) == List((0L, 1L, 1L)))
    assert(math.abs(s1.head._4 - 0.099504) < 1e-6)
    // shortlist=2 admits v2; exact full-dim rerank puts it first
    val s2 = EmbeddingOps.annMatryoshka(emb, nQueries = 1, k = 2,
      prefixDims = 1, shortlist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    assert(s2.map(t => (t._1, t._2, t._3)) == List((0L, 1L, 2L), (0L, 2L, 1L)))
    assert(s2.head._4 == 1.0)
  }

  test("annSq8: hand-computed levels, span-0 dimension, exact distances") {
    val s = spark
    import s.implicits._
    // dim 1 spans the corpus (codes 0/127/255); dim 2 is constant (span=0
    // → code 0, reconstruction exact, contributes nothing)
    val emb = Seq(
      (0L, Seq(0.0, 0.3)), (1L, Seq(0.5, 0.3)), (2L, Seq(1.0, 0.3)))
      .toDF("vec_id", "embedding")
    val got = EmbeddingOps.annSq8(emb, nQueries = 1, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // recon on the ×255 scale: code·span = 0 / 127000 / 255000;
    // q255(v0)=0 → d(v1)=127000², d(v2)=255000²
    assert(got == List(
      (0L, 1L, 1L, 16129000000L),
      (0L, 2L, 2L, 65025000000L)))
  }

  test("duplicateSpans: cross-doc + within-doc dups, overlapping spans merge") {
    val d = docs(
      (1L, "a b c d e", "en", "web", 9L),  // "a b c" duplicated with doc 2
      (2L, "x a b c y", "en", "web", 9L),
      (3L, "z z", "en", "web", 3L),        // shorter than the window
      (4L, "q q q q", "en", "web", 7L))    // duplicated WITHIN the doc
    val got = TextOps.duplicateSpans(d, window = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      1L -> ((5L, 1L, 3L, 0.6)),   // span 0..2 covered
      2L -> ((5L, 1L, 3L, 0.6)),   // span 1..3 covered
      3L -> ((2L, 0L, 0L, 0.0)),
      4L -> ((4L, 2L, 4L, 1.0))))  // spans 0..2 and 1..3 merge to 4 tokens
  }

  test("segmentDedup: global first occurrence wins, reconstruction md5 exact") {
    val d = docs(
      (1L, "x y z a b c", "en", "web", 11L),
      (2L, "x y z q r s", "en", "web", 11L), // shares segment "x y z" with doc 1
      (3L, "a b c x y z", "en", "web", 11L), // both its segments seen earlier
      (4L, "p q", "en", "web", 3L),          // one short (2-token) segment
      (5L, "", "en", "web", 0L))             // zero tokens → dropped
    val got = TextOps.segmentDedup(d, segLen = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    def m(s0: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s0)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((2L, 2L, m("x y z a b c"))))
    assert(got(2L) == ((2L, 1L, m("q r s"))))
    assert(got(3L) == ((2L, 0L, m(""))))
    assert(got(4L) == ((1L, 1L, m("p q"))))
  }

  test("bgpChainMinus: shared-var anti semantics and the disjoint-domain rule") {
    val s = spark
    import s.implicits._
    val triples = Seq(
      ("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3"),
      ("a", "q", "x"), ("x", "r", "y")).toDF("subj", "pred", "obj")
    val counts = Map("p" -> 3L, "q" -> 1L, "r" -> 1L)
    def src: String => org.apache.spark.sql.DataFrame = _ => triples
    // shared ?d: docs with a q binding are removed
    val got = GraphOps.bgpChainMinus(src,
      Seq(GraphOps.ChainPattern("d", "p", oVar = Some("v"))),
      Seq(GraphOps.ChainPattern("d", "q", oVar = Some("w"))),
      counts).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("b", "2"), ("c", "3")))
    // disjoint domains: MINUS removes NOTHING (where NOT EXISTS would not
    // even be expressible without a shared var — the algebra difference)
    val disjoint = GraphOps.bgpChainMinus(src,
      Seq(GraphOps.ChainPattern("d", "p", oVar = Some("v"))),
      Seq(GraphOps.ChainPattern("e", "r", oVar = Some("z"))),
      counts).count()
    assert(disjoint == 3)
  }

  test("evalPath: every combinator against hand-computed endpoint sets") {
    val s = spark
    import s.implicits._
    import GraphOps.PathExpr._
    // p cycles a→b→c→a; q is the single chord a→c
    val triples = Seq(
      ("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"),
      ("a", "q", "c")).toDF("subj", "pred", "obj")
    def ev(e: GraphOps.PathExpr): Set[(String, String)] =
      GraphOps.evalPath((_: String) => triples, e)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ev(Pred("p")) == Set("a" -> "b", "b" -> "c", "c" -> "a"))
    assert(ev(Inv(Pred("q"))) == Set("c" -> "a"))
    // p then q: only c→a→c — sequence KEEPS self-pairs (SPARQL does)
    assert(ev(Sequence(Pred("p"), Pred("q"))) == Set("c" -> "c"))
    assert(ev(Alt(Pred("q"), Inv(Pred("q")))) == Set("a" -> "c", "c" -> "a"))
    // cycle closure ≤3: all ordered non-self pairs (3-hop terms are self)
    assert(ev(Plus(Pred("p"), 3)) ==
      Set("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "b" -> "a", "c" -> "b"))
    // closure over a composed subexpression — the algebra nests
    assert(ev(Plus(Alt(Pred("p"), Pred("q")), 2)) ==
      Set("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "b" -> "a", "c" -> "b"))
  }

  test("evalPath Star/Neg: reflexive rows, complement scan, fullSource opt-in") {
    val s = spark
    import s.implicits._
    import GraphOps.PathExpr._
    val triples = Seq(
      ("a", "p", "b"), ("b", "p", "c"),
      ("a", "x", "1"), ("b", "y", "2")).toDF("subj", "pred", "obj")
    def ev(e: GraphOps.PathExpr): Set[(String, String)] =
      GraphOps.evalPath((_: String) => triples, e,
        fullSource = Some(() => triples))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // p*: the 2-chain closure plus one reflexive row per node of p's edges
    // (x/y nodes '1'/'2' are OUTSIDE p's node universe — no reflexive row)
    assert(ev(Star(Pred("p"), 4)) == Set(
      "a" -> "a", "b" -> "b", "c" -> "c",
      "a" -> "b", "b" -> "c", "a" -> "c"))
    // !(p|x): the complement leaves exactly the y triple
    assert(ev(Neg(Seq("p", "x"))) == Set("b" -> "2"))
    // Star composes downstream like any frame: star ⋈ neg on the midpoint
    val star = GraphOps.evalPath((_: String) => triples, Star(Pred("p"), 4))
      .select(col("src").as("a"), col("dst").as("b"))
    val neg = GraphOps.evalPath((_: String) => triples, Neg(Seq("p", "x")),
      fullSource = Some(() => triples))
      .select(col("src").as("b"), col("dst").as("n"))
    val got = star.join(neg, Seq("b"))
      .collect().map(r => (r.getString(1), r.getString(0), r.getString(2))).toSet
    assert(got == Set(("a", "b", "2"), ("b", "b", "2")))
    // Neg without the full triple table is rejected, not silently empty
    intercept[IllegalArgumentException] {
      GraphOps.evalPath((_: String) => triples, Neg(Seq("p")))
    }
  }

  test("closeTransitive: chains close fully, cycles entail reflexive pairs") {
    val chain = RdfsOps.closeTransitive(Seq("a" -> "b", "b" -> "c", "c" -> "d")).toSet
    assert(chain == Set("a" -> "b", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d"))
    val cyc = RdfsOps.closeTransitive(Seq("a" -> "b", "b" -> "a")).toSet
    assert(cyc == Set("a" -> "b", "b" -> "a", "a" -> "a", "b" -> "b"))
    assert(RdfsOps.closeTransitive(Nil).isEmpty)
  }

  test("rdfsClosure: staged rules entail the hand-computed closure") {
    val s = spark
    import s.implicits._
    val tpe = RdfsOps.RdfType
    // p ⊑ q with q's domain C: rdfs7 must feed rdfs2; range only fires on
    // the IRI object; D ⊑ E lifts both derived and explicit types
    val instance = Seq(
      ("<u:x>", "u:p", "\"lit\""),
      ("<u:x>", "u:r", "<u:y>"),
      ("<u:z>", tpe, "<u:D>")).toDF("subj", "pred", "obj")
    val schema = Seq(
      ("u:p", RdfsOps.RdfsSubPropertyOf, "u:q"),
      ("u:q", RdfsOps.RdfsDomain, "u:C"),
      ("u:r", RdfsOps.RdfsRange, "u:D"),
      ("u:D", RdfsOps.RdfsSubClassOf, "u:E")).toDF("subj", "pred", "obj")
    val got = RdfsOps.rdfsClosure(instance, schema)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val expected = Set(
      ("<u:x>", "u:p", "\"lit\""),
      ("<u:x>", "u:r", "<u:y>"),
      ("<u:z>", tpe, "<u:D>"),
      ("<u:x>", "u:q", "\"lit\""),   // rdfs7
      ("<u:x>", tpe, "<u:C>"),       // rdfs2 via the rdfs7-derived triple
      ("<u:y>", tpe, "<u:D>"),       // rdfs3 (IRI object)
      ("<u:y>", tpe, "<u:E>"),       // rdfs9 over the range-derived type
      ("<u:z>", tpe, "<u:E>"))       // rdfs9 over the explicit type
    assert(got == expected)
  }

  test("rdfsClosure plan: all rule joins broadcast, one exchange (the distinct)") {
    val s = spark
    import s.implicits._
    val instance = (0L until 200L).map(i =>
      (s"<u:s$i>", if (i % 2 == 0) "u:p" else "u:r", s"<u:o${i % 7}>"))
      .toDF("subj", "pred", "obj")
    val schema = Seq(
      ("u:p", RdfsOps.RdfsSubPropertyOf, "u:q"),
      ("u:q", RdfsOps.RdfsDomain, "u:C"),
      ("u:r", RdfsOps.RdfsRange, "u:D"),
      ("u:D", RdfsOps.RdfsSubClassOf, "u:E")).toDF("subj", "pred", "obj")
    val out = RdfsOps.rdfsClosure(instance, schema)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "TBox joins must broadcast:\n" + plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly the distinct's exchange, got $exchanges:\n${plan.take(1200)}")
    assert(out.count() > 0)
  }
}
