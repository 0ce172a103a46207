package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TripleOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("tripleops-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  // every closure spec runs on both paths: the driver-side BFS
  // (default cap) and the distributed pair-doubling loop (cap 0)
  private val closureCaps = Seq(DriverGate.MaxRows, 0L)

  test("transitiveClosure: chain + diamond close fully; reflexive edges drop") {
    val s = spark
    import s.implicits._
    // chain a->b->c->d plus diamond x->{l,r}->y, plus a self-loop
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),
      ("x", "l"), ("x", "r"), ("l", "y"), ("r", "y"),
      ("z", "z")).toDF("sub", "sup")
    val want = Set(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("x", "l"), ("x", "r"), ("x", "y"), ("l", "y"), ("r", "y"))
    closureCaps.foreach { cap =>
      val got = pairs(TripleOps.transitiveClosure(edges, 64, cap).select("sub", "sup"))
      assert(got == want, s"cap $cap: $got")
    }
  }

  test("transitiveClosure: a cycle converges to mutual ancestry, no hang") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("sub", "sup")
    closureCaps.foreach { cap =>
      val got = pairs(TripleOps.transitiveClosure(edges, 64, cap).select("sub", "sup"))
      // every ordered pair of distinct nodes, both directions, plus... the
      // closure of a 3-cycle includes (n, n) via the full loop — strict
      // means we don't ADD reflexive pairs, not that derived ones drop
      assert(got == (for { a <- Set("a", "b", "c"); b <- Set("a", "b", "c") } yield (a, b)),
        s"cap $cap: $got")
    }
  }

  test("transitiveClosure: hitting the round cap before fixpoint throws") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("sub", "sup")
    closureCaps.foreach { cap =>
      intercept[IllegalStateException] {
        TripleOps.transitiveClosure(edges, 1, cap).collect()
      }
    }
  }

  test("entailTypes: inherited types dedup against asserted; domain typing derives") {
    val s = spark
    import s.implicits._
    val tbox = Seq(("c2", "c1"), ("c1", "c0")).toDF("sub", "sup")
    // i1 asserts c2 AND (via domain) c1 — the c1 derivations overlap
    val types = Seq(("i1", "c2"), ("i2", "c0")).toDF("inst", "cls")
    val domained = TripleOps.domainTypes(
      Seq(("i1", "author")).toDF("inst", "prop"),
      Seq(("author", "c1")).toDF("prop", "cls"))
    closureCaps.foreach { cap =>
      val closure = TripleOps.transitiveClosure(tbox, 64, cap)
      val got = pairs(TripleOps.entailTypes(types.unionByName(domained), closure)
        .select("inst", "cls"))
      assert(got == Set(("i1", "c2"), ("i1", "c1"), ("i1", "c0"), ("i2", "c0")), s"cap $cap: $got")
    }
  }

  test("validateShapes: min/max cardinality and object-node checks; conforming graph is empty") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "name", "a"),                       // conforms
      ("d2", "name", "b"), ("d2", "name", "b2"), // maxCount
      // d3 has NO name → minCount
      ("d1", "worksFor", "o1"), ("o1", "label", "L1"),
      ("d3", "worksFor", "oX"),                  // dangling org → node
      ("d9", "worksFor", "o1")                   // non-focus subject: ignored entirely
    ).toDF("s", "p", "o")
    val focus = Seq("d1", "d2", "d3").toDF("s")
    val shapes = Seq(
      TripleOps.PropertyShape("name", minCount = 1L, maxCount = 1L),
      TripleOps.PropertyShape("worksFor", maxCount = 1L, objectMustHave = Some("label")))
    val got = TripleOps.validateShapes(spo, focus, shapes).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("d3", "name", "minCount", 0L),
      ("d2", "name", "maxCount", 2L),
      ("d3", "worksFor", "node", 1L)), got.toString)
    // a conforming graph validates to EMPTY
    val ok = Seq(("d1", "name", "a"), ("d1", "worksFor", "o1"), ("o1", "label", "L1"))
      .toDF("s", "p", "o")
    assert(TripleOps.validateShapes(ok, Seq("d1").toDF("s"), shapes).isEmpty)
  }

  test("bgp: star+chain binds across patterns; constants filter; noise predicate ignored") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "name", "alice"), ("d2", "name", "bob"), ("d3", "name", "carol"),
      ("d1", "worksFor", "o1"), ("d2", "worksFor", "o2"),
      ("o1", "label", "L1"), ("o2", "label", "L2"),
      ("d1", "topic", "noise"), ("d3", "topic", "noise")).toDF("s", "p", "o")
    val out = TripleOps.bgp(spo, Seq(
      ("?person", "worksFor", "?org"),
      ("?person", "name", "?name"),
      ("?org", "label", "?lbl")))
    val got = out.select("person", "org", "name", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(("d1", "o1", "alice", "L1"), ("d2", "o2", "bob", "L2")), got.toString)
    // constant object narrows to one binding
    val one = TripleOps.bgp(spo, Seq(("?person", "name", "alice")))
    assert(one.collect().map(_.getString(0)).toSeq == Seq("d1"))
  }

  test("bgpOptional: group binds as a whole or all-null; unanchored group rejected") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "name", "alice"), ("d2", "name", "bob"), ("d3", "name", "carol"),
      ("d1", "worksFor", "o1"), ("o1", "label", "L1"),
      // d2's org has NO label: the whole optional group fails to match,
      // so ?org AND ?lbl are both null (not org bound + lbl null)
      ("d2", "worksFor", "oX")).toDF("s", "p", "o")
    val out = TripleOps.bgpOptional(spo,
      Seq(("?person", "name", "?name")),
      Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
    val got = out.select("person", "name", "org", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(got == Set(
      ("d1", "alice", Some("o1"), Some("L1")),
      ("d2", "bob", None, None),
      ("d3", "carol", None, None)), got.toString)
    intercept[IllegalArgumentException] {
      TripleOps.bgpOptional(spo, Seq(("?x", "name", "?n")), Seq(Seq(("?a", "label", "?b"))))
    }
  }

  test("bgpMinus: compatible solutions drop; unanchored minus group is a spec no-op") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "name", "alice"), ("d2", "name", "bob"), ("d3", "name", "carol"),
      ("d1", "worksFor", "o1"), ("o1", "label", "L1"),
      ("d2", "worksFor", "oX") // unlabeled org: the minus group does NOT match d2
    ).toDF("s", "p", "o")
    val out = TripleOps.bgpMinus(spo,
      Seq(("?person", "name", "?name")),
      Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
    assert(out.select("person").collect().map(_.getString(0)).toSet == Set("d2", "d3"))
    // a minus group sharing NO variable removes nothing (SPARQL domain rule)
    val noop = TripleOps.bgpMinus(spo,
      Seq(("?person", "name", "?name")),
      Seq(Seq(("?a", "label", "?b"))))
    assert(noop.count() == 3L)
  }

  test("filterExists: semi/anti on shared vars; disjoint group is a CLOSED gate, unlike MINUS") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "name", "alice"), ("d2", "name", "bob"), ("d3", "name", "carol"),
      ("d1", "worksFor", "o1"), ("o1", "label", "L1"),
      ("d2", "worksFor", "oX") // unlabeled org
    ).toDF("s", "p", "o")
    val base = TripleOps.bgp(spo, Seq(("?person", "name", "?name")))
    // EXISTS { ?person worksFor ?org } -> d1, d2
    val employed = TripleOps.filterExists(base, spo, Seq(("?person", "worksFor", "?org")))
    assert(employed.select("person").collect().map(_.getString(0)).toSet == Set("d1", "d2"))
    // chained: employed AND NOT EXISTS labeled employer -> d2 only
    val unlabeled = TripleOps.filterExists(employed, spo,
      Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl")), negate = true)
    assert(unlabeled.select("person").collect().map(_.getString(0)).toSet == Set("d2"))
    // disjoint-domain divergence from MINUS: the closed group matches
    // somewhere, so NOT EXISTS drops EVERYTHING (MINUS keeps all 3)
    val closed = Seq(("?a", "label", "?b"))
    assert(TripleOps.filterExists(base, spo, closed, negate = true).count() == 0L)
    assert(TripleOps.filterExists(base, spo, closed).count() == 3L)
    // and a closed group with NO match: EXISTS empty, NOT EXISTS all
    val nomatch = Seq(("?a", "ceoOf", "?b"))
    assert(TripleOps.filterExists(base, spo, nomatch).count() == 0L)
    assert(TripleOps.filterExists(base, spo, nomatch, negate = true).count() == 3L)
  }

  test("solutionModifiers: distinct->order->offset->limit; unordered slice rejected; ask short-circuits") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "score", "30"), ("d2", "score", "20"), ("d3", "score", "20"),
      ("d4", "score", "10"), ("d1", "score", "30") // duplicate binding
    ).toDF("s", "p", "o")
    val sols = TripleOps.bgp(spo, Seq(("?doc", "score", "?sc")))
    // distinct collapses the dup; order desc by score with doc tiebreak;
    // offset 1 limit 2 -> rows 2 and 3 of (d1,30),(d2,20),(d3,20),(d4,10)
    val out = TripleOps.solutionModifiers(sols, distinct = true,
      orderBy = Seq(("sc", false), ("doc", true)), offset = 1, limit = 2)
      .collect().map(r => (r.getAs[String]("doc"), r.getAs[String]("sc")))
    assert(out.toSet == Set(("d2", "20"), ("d3", "20")), out.mkString(","))
    intercept[IllegalArgumentException] {
      TripleOps.solutionModifiers(sols, limit = 2)
    }
    assert(TripleOps.ask(spo, Seq(("?x", "score", "30"))).collect()(0).getBoolean(0))
    assert(!TripleOps.ask(spo, Seq(("?x", "score", "99"))).collect()(0).getBoolean(0))
  }

  test("boundedPath: min-hop dedup under the cap; alternation; fixpoint early-exit") {
    val s = spark
    import s.implicits._
    // chain a->b->c->d->e on 'link', plus a 'redir' shortcut a->d,
    // plus a noise predicate that must not contribute edges
    val spo = Seq(
      ("a", "link", "b"), ("b", "link", "c"), ("c", "link", "d"), ("d", "link", "e"),
      ("a", "redir", "d"),
      ("a", "name", "z")).toDF("s", "p", "o")
    val got = pairs(TripleOps.boundedPath(spo, Seq("link", "redir"), 3)
      .select("src", "dst"))
    // <=3 hops from a: b, c, d (1-hop via redir AND 3-hop via links — once), e (2 via redir+link)
    val want = Set(
      ("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
      ("b", "c"), ("b", "d"), ("b", "e"),
      ("c", "d"), ("c", "e"), ("d", "e"))
    assert(got == want, got.toString)
    // cap larger than the diameter: early fixpoint, full reachability, no hang
    val all = pairs(TripleOps.boundedPath(spo, Seq("link"), 99).select("src", "dst"))
    assert(all == (for { i <- 0 to 3; j <- (i + 1) to 4 }
      yield ("abcde" (i).toString, "abcde" (j).toString)).toSet)
  }

  test("sameAsCanonicalize: transitive identity cluster rewrites both ends; singletons pass; sameAs consumed") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("c", "sameAs", "b"), ("b", "sameAs", "a"), // cluster {a,b,c}, canonical "a"
      ("b", "name", "n1"), ("a", "name", "n1"),   // collapse to ONE canonical triple
      ("c", "knows", "d"),                         // subject rewritten, object singleton kept
      ("d", "name", "n2"),
      ("e", "knows", "b")                          // object rewritten
    ).toDF("s", "p", "o")
    val got = TripleOps.sameAsCanonicalize(spo).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("a", "name", "n1"), ("a", "knows", "d"),
      ("d", "name", "n2"), ("e", "knows", "a")))
  }

  test("bgpUnion aligns unshared variables as null; values restricts via inline bindings") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("p1", "worksFor", "o1"), ("p2", "memberOf", "o2"), ("o2", "label", "L2"),
      ("p3", "memberOf", "o3") // no label: second group does not match
    ).toDF("s", "p", "o")
    val u = TripleOps.bgpUnion(spo, Seq(
      Seq(("?x", "worksFor", "?org")),
      Seq(("?x", "memberOf", "?org"), ("?org", "label", "?lbl"))))
    assert(u.columns.toSeq == Seq("lbl", "org", "x"))
    val rows = u.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((null, "o1", "p1"), ("L2", "o2", "p2")))
    val v = TripleOps.values(u, Seq(("o1", "whatever")).toDF("org", "ignored"))
    assert(v.select("x").collect().map(_.getString(0)).toSet == Set("p1"))
    assertThrows[IllegalArgumentException] {
      TripleOps.values(u, Seq(Tuple1("z")).toDF("unrelated"))
    }
  }

  test("construct instantiates templates as a graph set; unbound optional vars emit nothing") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("p1", "worksFor", "o1"), ("o1", "label", "L1"),
      ("p2", "worksFor", "o2") // o2 unlabeled: OPTIONAL leaves ?lbl null
    ).toDF("s", "p", "o")
    val sols = TripleOps.bgpOptional(spo,
      Seq(("?x", "worksFor", "?org")),
      Seq(Seq(("?org", "label", "?lbl"))))
    val g = TripleOps.construct(sols, Seq(
      ("?x", "affiliatedWith", "?org"),
      ("?org", "displayName", "?lbl")))
    val got = g.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("p1", "affiliatedWith", "o1"), ("p2", "affiliatedWith", "o2"),
      ("o1", "displayName", "L1"))) // no row for the unbound ?lbl of o2
    assertThrows[IllegalArgumentException] {
      TripleOps.construct(sols, Seq(("?x", "p", "?nosuch")))
    }
    // template bnodes: fresh per solution, shared across entries of the
    // SAME solution, deterministic across runs
    val two = Seq(("p1", "o1"), ("p2", "o2")).toDF("x", "org")
    val bg = TripleOps.construct(two, Seq(
      ("?x", "hasRole", "_:r"), ("_:r", "roleIn", "?org")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val roleOf = bg.collect { case (x, "hasRole", r) => x -> r }.toMap
    val inOf = bg.collect { case (r, "roleIn", org) => r -> org }.toMap
    assert(roleOf.size == 2 && roleOf.values.toSet.size == 2) // distinct per solution
    assert(roleOf.values.forall(_.startsWith("_:rx")))
    assert(inOf(roleOf("p1")) == "o1" && inOf(roleOf("p2")) == "o2") // shared within
    val again = TripleOps.construct(two, Seq(
      ("?x", "hasRole", "_:r"), ("_:r", "roleIn", "?org")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(again == bg.toSet) // deterministic labels
  }

  test("describe: subject-outbound slice of matched nodes, described once, non-matches drop") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("p1", "worksFor", "o1"), ("p2", "worksFor", "o1"), // o1 matched TWICE
      ("p3", "worksFor", "o2"),
      ("o1", "label", "L1"), ("o1", "sector", "tech"),
      ("o2", "label", "L2"),
      ("o9", "label", "L9"),   // never an employer: drops
      ("p1", "name", "alice")  // person subject: drops
    ).toDF("s", "p", "o")
    val got = TripleOps.describe(spo, Seq(("?x", "worksFor", "?org")), "?org")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // semi-join: o1's triples appear ONCE despite two solutions binding o1
    assert(got.length == got.toSet.size, "described triples duplicated")
    assert(got.toSet == Set(
      ("o1", "label", "L1"), ("o1", "sector", "tech"), ("o2", "label", "L2")))
    intercept[IllegalArgumentException] {
      TripleOps.describe(spo, Seq(("?x", "worksFor", "?org")), "org")
    }
  }

  test("bind: fresh variable extends every solution; rebinding an in-scope var rejected") {
    val s = spark
    import s.implicits._
    val spo = Seq(("p1", "name", "al"), ("p2", "name", "bobby")).toDF("s", "p", "o")
    val sols = TripleOps.bgp(spo, Seq(("?x", "name", "?n")))
    val bound = TripleOps.bind(sols, "nlen",
      org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("n")))
    assert(bound.count() == 2L) // Extend never changes cardinality
    assert(bound.where(org.apache.spark.sql.functions.col("nlen") >= 3)
      .select("x").collect().map(_.getString(0)).toSet == Set("p2"))
    intercept[IllegalArgumentException] {
      TripleOps.bind(sols, "n", org.apache.spark.sql.functions.lit(1))
    }
  }

  test("pathSteps: forward/inverse sequence; path semantics dedup multiple witnesses") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "reportsTo", "m"), ("b", "reportsTo", "m"), ("c", "reportsTo", "m2"),
      ("a", "reportsTo", "m2"), // a ALSO reports to m2: (a,c) via one witness, (a,a) via two
      ("a", "name", "z")        // noise predicate contributes nothing
    ).toDF("s", "p", "o")
    val got = pairs(TripleOps.pathSteps(spo,
      Seq(("reportsTo", false), ("reportsTo", true))).select("src", "dst"))
    // shares-a-manager INCLUDING self round-trips, each pair once
    assert(got == Set(
      ("a", "a"), ("b", "b"), ("c", "c"),
      ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")), got.toString)
    // pure inverse single step: o→s traversal
    val inv = pairs(TripleOps.pathSteps(spo, Seq(("reportsTo", true))).select("src", "dst"))
    assert(inv == Set(("m", "a"), ("m", "b"), ("m2", "c"), ("m2", "a")))
  }

  test("bgpQuads: shared graph variable binds and excludes cross-graph matches; constant graph slices") {
    val s = spark
    import s.implicits._
    val quads = Seq(
      ("g1", "d1", "lang", "en"), ("g1", "d1", "bucket", "b1"),
      ("g1", "d2", "lang", "fr"), ("g2", "d2", "bucket", "b2"), // split across graphs: drops
      ("g2", "d3", "lang", "de"), ("g2", "d3", "bucket", "b3")
    ).toDF("g", "s", "p", "o")
    val got = TripleOps.bgpQuads(quads, "?g",
      Seq(("?x", "lang", "?l"), ("?x", "bucket", "?b")))
      .collect().map(r => (r.getAs[String]("g"), r.getAs[String]("x"),
        r.getAs[String]("l"), r.getAs[String]("b"))).toSet
    assert(got == Set(("g1", "d1", "en", "b1"), ("g2", "d3", "de", "b3")), got.toString)
    // constant graph term: one named graph only
    val g1 = TripleOps.bgpQuads(quads, "g1", Seq(("?x", "lang", "?l")))
      .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("l"))).toSet
    assert(g1 == Set(("d1", "en"), ("d2", "fr")))
  }

  test("inverseOfEntail: both directions derive, declaration is symmetric, derived dedups against asserted") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("x", "partOf", "y"),
      ("y", "hasPart", "x"),  // already-asserted mirror: dedups
      ("q", "hasPart", "r"),  // hasPart-only edge: partOf derives
      ("a", "name", "n")      // unmapped predicate passes through
    ).toDF("s", "p", "o")
    val inv = Seq(("partOf", "hasPart")).toDF("p", "q")
    val got = TripleOps.inverseOfEntail(spo, inv).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("x", "partOf", "y"), ("y", "hasPart", "x"),
      ("q", "hasPart", "r"), ("r", "partOf", "q"),
      ("a", "name", "n")), got.toString)
  }

  test("transitivePropEntail: declared predicate closes, others untouched; cap throws") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "partOf", "b"), ("b", "partOf", "c"), ("c", "partOf", "d"),
      ("a", "knows", "b"), ("b", "knows", "c") // NOT transitive: no (a,knows,c)
    ).toDF("s", "p", "o")
    val got = TripleOps.transitivePropEntail(spo, Seq("partOf")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("a", "partOf", "b"), ("b", "partOf", "c"), ("c", "partOf", "d"),
      ("a", "partOf", "c"), ("a", "partOf", "d"), ("b", "partOf", "d"),
      ("a", "knows", "b"), ("b", "knows", "c")), got.toString)
    intercept[IllegalStateException] {
      TripleOps.transitivePropEntail(spo, Seq("partOf"), maxIters = 1).collect()
    }
  }

  test("deleteInsert: pre-update bindings, delete anti-joins, insert re-asserts dedup; one-sided forms") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("p1", "worksFor", "o1"), ("o1", "label", "L1"),
      ("p2", "worksFor", "o2"), // unlabeled: WHERE does not bind, edge survives
      ("p1", "name", "alice")
    ).toDF("s", "p", "o")
    val where = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl"))
    val got = TripleOps.deleteInsert(spo, where,
      deleteTemplate = Seq(("?x", "worksFor", "?org")),
      insertTemplate = Seq(("?org", "employs", "?x"))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("o1", "label", "L1"), ("p2", "worksFor", "o2"),
      ("p1", "name", "alice"), ("o1", "employs", "p1")), got.toString)
    // DELETE WHERE (no insert) and INSERT WHERE (no delete)
    val delOnly = TripleOps.deleteInsert(spo, where, Seq(("?x", "worksFor", "?org")), Nil)
    assert(delOnly.count() == 3L)
    // insert that re-asserts an existing triple dedups (graph set)
    val insDup = TripleOps.deleteInsert(spo, where, Nil, Seq(("?org", "label", "?lbl")))
    assert(insDup.count() == 4L)
    intercept[IllegalArgumentException] {
      TripleOps.deleteInsert(spo, where, Nil, Nil)
    }
  }

  test("owlConstraintViolations: functional distinct-count, irreflexive self-edge; clean graph empty") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "worksFor", "o1"), ("a", "worksFor", "o2"), // functional violation n=2
      ("b", "worksFor", "o1"), ("b", "worksFor", "o1"), // duplicate assertion: NOT a violation
      ("c", "reportsTo", "c"),                          // irreflexive violation
      ("d", "reportsTo", "e"),
      ("a", "knows", "x"), ("a", "knows", "y")          // undeclared predicate: ignored
    ).toDF("s", "p", "o")
    val got = TripleOps.owlConstraintViolations(spo,
      functional = Seq("worksFor"), irreflexive = Seq("reportsTo")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("a", "worksFor", "functional", 2L),
      ("c", "reportsTo", "irreflexive", 1L)), got.toString)
    val clean = Seq(("d", "reportsTo", "e")).toDF("s", "p", "o")
    assert(TripleOps.owlConstraintViolations(clean,
      functional = Seq("worksFor"), irreflexive = Seq("reportsTo")).count() == 0L)
  }

  test("bgpDelta: telescoped delta == full-minus-base; re-asserted triples yield nothing") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("p1", "worksFor", "o1"), ("p2", "worksFor", "o2"),
      ("o1", "label", "L1")).toDF("s", "p", "o")
    // delta mixes every case: new edge joining an OLD label (p3→o1),
    // an OLD triple re-asserted (p1→o1 — must yield nothing), a new
    // label completing an OLD edge (o2), and a fully-new pair (p4/o3)
    val added = Seq(
      ("p3", "worksFor", "o1"), ("p1", "worksFor", "o1"),
      ("o2", "label", "L2"),
      ("p4", "worksFor", "o3"), ("o3", "label", "L3")).toDF("s", "p", "o")
    val pats = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl"))
    val got = TripleOps.bgpDelta(base, added, pats)
      .select("x", "org", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("p3", "o1", "L1"), ("p2", "o2", "L2"), ("p4", "o3", "L3")), got.toString)
    // the definition: sols(base ∪ Δ) EXCEPT sols(base)
    val full = base.unionByName(added)
    val viaDef = TripleOps.bgp(full, pats).except(TripleOps.bgp(base, pats))
      .select("x", "org", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == viaDef)
    // an all-old delta is the empty view increment
    assert(TripleOps.bgpDelta(base, base.limit(2), pats).count() == 0L)
  }

  test("bgpDeltaRetract: telescoped loss == base-minus-remain; absent retraction yields nothing") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("p1", "worksFor", "o1"), ("p2", "worksFor", "o2"), ("p3", "worksFor", "o1"),
      ("o1", "label", "L1"), ("o2", "label", "L2")).toDF("s", "p", "o")
    // retract one edge (loses only p1's solution), one label (loses
    // p2's), and a never-asserted triple (must lose nothing)
    val removed = Seq(
      ("p1", "worksFor", "o1"), ("o2", "label", "L2"),
      ("p9", "worksFor", "o9")).toDF("s", "p", "o")
    val pats = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl"))
    val got = TripleOps.bgpDeltaRetract(base, removed, pats)
      .select("x", "org", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("p1", "o1", "L1"), ("p2", "o2", "L2")), got.toString)
    // the definition: sols(base) EXCEPT sols(base ∖ removed)
    val remain = base.except(removed)
    val viaDef = TripleOps.bgp(base, pats).except(TripleOps.bgp(remain, pats))
      .select("x", "org", "lbl").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == viaDef)
    // retracting only never-asserted triples is the empty loss
    val noop = Seq(("p9", "worksFor", "o9")).toDF("s", "p", "o")
    assert(TripleOps.bgpDeltaRetract(base, noop, pats).count() == 0L)
  }

  test("bgpDeltaRetractProjected: alternative derivations survive the over-delete") {
    val s = spark
    import s.implicits._
    // p1 derives through BOTH o1 and o2; p2 only through o1
    val base = Seq(
      ("p1", "worksFor", "o1"), ("p1", "worksFor", "o2"), ("p2", "worksFor", "o1"),
      ("o1", "label", "L1"), ("o2", "label", "L2")).toDF("s", "p", "o")
    val removed = Seq(("o1", "label", "L1")).toDF("s", "p", "o")
    val pats = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl"))
    val got = TripleOps.bgpDeltaRetractProjected(base, removed, pats, Seq("?x"))
      .collect().map(_.getString(0)).toSet
    // p1 re-derives via (o2, L2); p2 loses its only witness
    assert(got == Set("p2"), got.toString)
    // the definition: proj(sols(base)) EXCEPT proj(sols(base ∖ removed))
    val viaDef = TripleOps.bgp(base, pats).select("x").distinct()
      .except(TripleOps.bgp(base.except(removed), pats).select("x").distinct())
      .collect().map(_.getString(0)).toSet
    assert(got == viaDef)
    // retracting a never-asserted triple deletes nothing
    val noop = Seq(("o9", "label", "L9")).toDF("s", "p", "o")
    assert(TripleOps.bgpDeltaRetractProjected(base, noop, pats, Seq("?x")).count() == 0L)
  }

  test("path: negated property set and zero-or-one steps") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "name", "n1"), ("b", "name", "n2"),
      ("a", "worksFor", "o1"), ("c", "mentorOf", "a"),
      ("c", "mentorOf", "b")).toDF("s", "p", "o")
    // !(name): the worksFor + mentorOf edge set
    val neg = pairs(TripleOps.path(spo, Seq(TripleOps.NegatedSet(Seq("name")))))
    assert(neg == Set(("a", "o1"), ("c", "a"), ("c", "b")), neg.toString)
    // worksFor? alone: identity over every term plus the worksFor edge
    val terms = Set("a", "b", "c", "n1", "n2", "o1")
    val zoo = pairs(TripleOps.path(spo, Seq(TripleOps.ZeroOrOne("worksFor"))))
    assert(zoo == terms.map(t => (t, t)) + (("a", "o1")), zoo.toString)
    // chained !(name)/worksFor?: direct endpoints plus a's employer via c
    val chained = pairs(TripleOps.path(spo,
      Seq(TripleOps.NegatedSet(Seq("name")), TripleOps.ZeroOrOne("worksFor"))))
    assert(chained == Set(("a", "o1"), ("c", "a"), ("c", "b"), ("c", "o1")), chained.toString)
    // inverse negated set traverses o→s
    val negInv = pairs(TripleOps.path(spo,
      Seq(TripleOps.NegatedSet(Seq("name", "worksFor"), inverse = true))))
    assert(negInv == Set(("a", "c"), ("b", "c")), negInv.toString)
  }

  test("manageGraphs: MOVE/ADD dedup/CLEAR/COPY-overwrite request sequence") {
    val s = spark
    import s.implicits._
    val quads = Seq(
      ("g1", "x", "p", "1"), ("g1", "shared", "p", "v"),
      ("g2", "y", "p", "2"), ("g2", "shared", "p", "v"),
      ("g3", "z", "p", "3"),
      ("tgt", "old", "p", "0")).toDF("g", "s", "p", "o")
    val got = TripleOps.manageGraphs(quads, Seq(
      TripleOps.MoveGraph("g1", "tgt"),   // tgt REPLACED by g1's content
      TripleOps.AddGraph("g2", "tgt"),    // union; shared quad dedups
      TripleOps.ClearGraph("g3"),
      TripleOps.CopyGraph("g2", "mirror")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("tgt", "x", "p", "1"), ("tgt", "shared", "p", "v"), ("tgt", "y", "p", "2"),
      ("g2", "y", "p", "2"), ("g2", "shared", "p", "v"),
      ("mirror", "y", "p", "2"), ("mirror", "shared", "p", "v")), got.toString)
  }

  test("symmetricPropEntail + chainAxiomEntail: mirror, joint fixpoint, chained derived preds") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "marriedTo", "b"),
      ("x", "hasParent", "y"), ("y", "hasParent", "z"), ("z", "hasParent", "w"),
      ("x", "name", "n1")).toDF("s", "p", "o")
    val sym = TripleOps.symmetricPropEntail(spo, Seq("marriedTo")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(sym.contains(("b", "marriedTo", "a")) && sym.size == 6, sym.toString)
    // chain 2 consumes chain 1's DERIVED edges: ggp needs two rounds
    val got = TripleOps.chainAxiomEntail(spo, Seq(
      ("hasParent", "hasParent", "hasGrandparent"),
      ("hasGrandparent", "hasParent", "hasGreatGrandparent"))).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("a", "marriedTo", "b"),
      ("x", "hasParent", "y"), ("y", "hasParent", "z"), ("z", "hasParent", "w"),
      ("x", "name", "n1"),
      ("x", "hasGrandparent", "z"), ("y", "hasGrandparent", "w"),
      ("x", "hasGreatGrandparent", "w")), got.toString)
    // a self-feeding chain on a cycle still reaches a (finite) fixpoint
    val cyc = Seq(("a", "r", "b"), ("b", "r", "a")).toDF("s", "p", "o")
    assert(TripleOps.chainAxiomEntail(cyc, Seq(("r", "r", "r"))).count() == 4L)
  }

  test("unreify: exactly-one role discipline; voidPropertyPartition exact cardinalities") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("st1", "subject", "a"), ("st1", "predicate", "knows"), ("st1", "object", "b"),
      ("st2", "subject", "c"), ("st2", "predicate", "knows"), // missing object: dropped
      ("st3", "subject", "d"), ("st3", "predicate", "knows"),
      ("st3", "object", "e"), ("st3", "object", "f"),          // conflicting: dropped
      ("st4", "subject", "g"), ("st4", "subject", "g"),        // duplicate SAME value: fine
      ("st4", "predicate", "likes"), ("st4", "object", "h")).toDF("s", "p", "o")
    val got = TripleOps.unreify(spo, "subject", "predicate", "object").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(("st1", "a", "knows", "b"), ("st4", "g", "likes", "h")), got.toString)
    val stats = TripleOps.voidPropertyPartition(spo).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // subject: 5 triples (st4's duplicate is a multiset row), 4 stmts, 4 values
    assert(stats("subject") == ((5L, 4L, 4L)) && stats("object") == ((4L, 3L, 4L)),
      stats.toString)
  }

  test("termColumns: typed/lang/plain/IRI forms; skolemize round-trips; graphDigest is order-blind") {
    val s = spark
    import s.implicits._
    val terms = Seq(
      ("a", "\"42\"^^xsd:integer"), ("b", "\"hi\"@en"),
      ("c", "\"plain\""), ("d", "http://x.example/e"), ("e", "_:b1")).toDF("s", "o")
    import org.apache.spark.sql.functions.col
    val parsed = terms.select(Seq(col("s")) ++ TripleOps.termColumns(col("o")): _*)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(parsed("a") == (("42", "xsd:integer", "", "literal")), parsed("a").toString)
    assert(parsed("b") == (("hi", "", "en", "literal")))
    assert(parsed("c") == (("plain", "", "", "literal")))
    assert(parsed("d") == (("", "", "", "iri_or_bnode")))
    assert(parsed("e") == (("", "", "", "iri_or_bnode")))
    // skolemize maps bnodes (and only bnodes) to genid IRIs; exact inverse
    val g = Seq(("_:x", "p", "v"), ("a", "q", "_:x"), ("a", "r", "b")).toDF("s", "p", "o")
    val sk = TripleOps.skolemize(g)
    assert(sk.collect().map(_.getString(0)).toSet ==
      Set("https://graft.invalid/.well-known/genid/x", "a"))
    val back = TripleOps.deskolemize(sk).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back == g.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
    // digest: same triple set in any order/duplication → same digest
    val q1 = Seq(("g1", "a", "p", "1"), ("g1", "b", "p", "2"), ("g2", "c", "p", "3"))
      .toDF("g", "s", "p", "o")
    val q2 = Seq(("g1", "b", "p", "2"), ("g1", "a", "p", "1"), ("g1", "a", "p", "1"),
      ("g2", "c", "p", "3")).toDF("g", "s", "p", "o")
    val d1 = TripleOps.graphDigest(q1).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val d2 = TripleOps.graphDigest(q2).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(d1 == d2 && d1("g1")._2 == 2L, s"$d1 vs $d2")
  }

  test("canonicalBNodeQuads: labeling is isomorphism-invariant, ground terms pass through") {
    val s = spark
    import s.implicits._
    // two bnodes per graph, distinguishable by attached literals; a
    // bnode-bnode edge exercises the _:z placeholder, and g2 is an
    // isomorphic copy of g1 under a label permutation
    def graph(g: String, x: String, y: String) = Seq(
      (g, "d1", "author", x), (g, x, "name", "n1"),
      (g, y, "name", "n2"), (g, x, "knows", y), (g, "d1", "lang", "en"))
    val quads = (graph("g1", "_:p", "_:q") ++ graph("g2", "_:zz9", "_:aa0"))
      .toDF("g", "s", "p", "o")
    val canon = TripleOps.canonicalBNodeQuads(quads).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val byG = canon.groupBy(_._1).map { case (g, rows) =>
      g -> rows.map { case (_, a, p, b) => (a, p, b) }.toSet
    }
    // the two isomorphic graphs canonicalize to the IDENTICAL triple set
    assert(byG("g1") == byG("g2"), byG.toString)
    // ground terms untouched; bnode labels are the dense canonical set
    assert(byG("g1").contains(("d1", "lang", "en")))
    val bLabels = byG("g1").flatMap { case (a, _, b) => Seq(a, b) }
      .filter(_.startsWith("_:"))
    assert(bLabels == Set("_:c0", "_:c1"), bLabels.toString)
    // self-mention quad: one first-degree line, no double-count; and the
    // whole thing stays deterministic end-to-end (digest equality)
    val selfLoop = Seq(("g", "_:x", "likes", "_:x"), ("g", "_:x", "name", "n")).toDF("g", "s", "p", "o")
    val c1 = TripleOps.graphDigest(TripleOps.canonicalBNodeQuads(selfLoop)).collect()
    val selfLoop2 = Seq(("g", "_:renamed", "likes", "_:renamed"), ("g", "_:renamed", "name", "n"))
      .toDF("g", "s", "p", "o")
    val c2 = TripleOps.graphDigest(TripleOps.canonicalBNodeQuads(selfLoop2)).collect()
    assert(c1.map(_.getString(1)).toSeq == c2.map(_.getString(1)).toSeq)
    // indistinguishable bnodes (shared first-degree hash) resolve via
    // the n-degree lane: automorphic twins get the two dense c-ids and
    // the OUTPUT SET is label-permutation invariant
    val twins = Seq(("g", "_:u", "name", "n"), ("g", "_:v", "name", "n")).toDF("g", "s", "p", "o")
    val twinsOut = TripleOps.canonicalBNodeQuads(twins).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(twinsOut == Set(("_:c0", "name", "n"), ("_:c1", "name", "n")), twinsOut.toString)
    // a MIXED frame (one clean graph, one collision graph) routes each
    // graph to its lane and unions
    val mixed = twins.unionByName(
      Seq(("h", "_:x", "name", "only"), ("h", "d", "author", "_:x")).toDF("g", "s", "p", "o"))
    val mixedOut = TripleOps.canonicalBNodeQuads(mixed).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(mixedOut == Set(
      ("g", "_:c0", "name", "n"), ("g", "_:c1", "name", "n"),
      ("h", "_:c0", "name", "only"), ("h", "d", "author", "_:c0")), mixedOut.toString)
  }

  test("graphDiff/applyPatch: tagged set difference; patch round-trips to the next version") {
    val s = spark
    import s.implicits._
    val prev = Seq(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3"), ("c", "q", "3"))
      .toDF("s", "p", "o")
    val next = Seq(("a", "p", "1"), ("b", "p", "CHANGED"), ("d", "r", "4"))
      .toDF("s", "p", "o")
    val diff = TripleOps.graphDiff(prev, next)
    val got = diff.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("A", "b", "p", "CHANGED"), ("A", "d", "r", "4"),
      ("D", "b", "p", "2"), ("D", "c", "q", "3")), got.toString)
    // round-trip: applying the diff to prev reproduces next as a set
    val patched = TripleOps.applyPatch(prev, diff).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = next.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(patched == want, patched.toString)
    // identical versions diff to nothing
    assert(TripleOps.graphDiff(next, next).count() == 0)
  }

  test("negativeSamples: k per positive minus filtered collisions; deterministic; corrupt tails in-pool") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      ("h1", "r1", "t1"), ("h1", "r1", "t2"), ("h2", "r1", "t1"),
      ("h2", "r2", "t3"), ("h3", "r2", "t3")).toDF("h", "r", "t")
    val neg = TripleOps.negativeSamples(edges, k = 4)
    val rows = neg.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
    // every emitted corruption is (a) from the entity pool, (b) NOT a
    // true positive, (c) keyed back to its source positive
    val pool = Set("h1", "h2", "h3", "t1", "t2", "t3")
    val pos = edges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows.nonEmpty && rows.forall { case (h, r, t, k, tn) =>
      pool.contains(tn) && !pos.contains((h, r, tn)) && pos.contains((h, r, t)) && k >= 0 && k < 4
    }, rows.mkString("|"))
    // at most k corruptions per positive, and at least one positive
    // keeps all k (the pool is big enough that not everything collides)
    val perPos = rows.groupBy(t => (t._1, t._2, t._3)).view.mapValues(_.length)
    assert(perPos.values.forall(_ <= 4) && perPos.values.exists(_ >= 2), perPos.toMap.toString)
    // determinism: a second run emits the identical multiset
    val again = TripleOps.negativeSamples(edges, k = 4).collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("schemaSummary: class-pair bundles with counts; multi-typed instances fan out") {
    val s = spark
    import s.implicits._
    val types = Seq(("a", "Person"), ("a", "Agent"), ("b", "Person"),
      ("x", "Org"), ("y", "Org")).toDF("inst", "cls")
    val edges = Seq(("a", "worksFor", "x"), ("b", "worksFor", "x"), ("b", "worksFor", "y"),
      ("a", "knows", "b")).toDF("s", "p", "o")
    val got = TripleOps.schemaSummary(types, edges).collect().map(r =>
      ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("Person", "worksFor", "Org")) == ((3L, 2L, 2L)), got.toString)
    assert(got(("Agent", "worksFor", "Org")) == ((1L, 1L, 1L)))
    assert(got(("Person", "knows", "Person")) == ((1L, 1L, 1L)))
    assert(got(("Agent", "knows", "Person")) == ((1L, 1L, 1L)))
    assert(got.size == 4, got.keys.toString)
  }

  test("snapshotAt: last event ≤ T wins; retract hides, re-assert restores, future invisible") {
    val s = spark
    import s.implicits._
    val log = Seq(
      (100L, "A", "a", "p", "v1"), (200L, "D", "a", "p", "v1"), (300L, "A", "a", "p", "v1"),
      (100L, "A", "b", "p", "v2"), (400L, "A", "c", "p", "v3")).toDF("ts", "op", "s", "p", "o")
    def snap(t: Long) = TripleOps.snapshotAt(log, t).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(snap(150) == Set(("a", "p", "v1"), ("b", "p", "v2")))
    assert(snap(250) == Set(("b", "p", "v2"))) // a retracted, c not yet
    assert(snap(350) == Set(("a", "p", "v1"), ("b", "p", "v2"))) // re-asserted
    assert(snap(50).isEmpty)
  }

  test("resultsCsv: RFC-4180 quoting, unbound → empty field, header survives empty solutions") {
    val s = spark
    import s.implicits._
    val sols = Seq(
      ("plain", "with,comma", "say \"hi\"", null.asInstanceOf[String]),
      ("line\nbreak", "ok", "x", "y")).toDF("a", "b", "c", "d")
    val got = TripleOps.resultsCsv(sols, Seq("a", "b", "c", "d")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (0L, "a,b,c,d"),
      (1L, "plain,\"with,comma\",\"say \"\"hi\"\"\","),
      (1L, "\"line\nbreak\",ok,x,y")), got.toString)
    val empty = TripleOps.resultsCsv(sols.limit(0), Seq("a", "b")).collect()
    assert(empty.length == 1 && empty(0).getString(1) == "a,b")
  }

  test("schemaSummaryDelta: touched groups refresh to batch parity; duplicate adds touch nothing") {
    val s = spark
    import s.implicits._
    val types = Seq(("a", "P"), ("b", "P"), ("x", "O"), ("y", "O")).toDF("inst", "cls")
    val base = Seq(("a", "w", "x"), ("b", "w", "x"), ("a", "k", "b")).toDF("s", "p", "o")
    // one new edge in the (P,w,O) group, one duplicate of a base edge,
    // one edge in a brand-new group (P,f,O)
    val added = Seq(("b", "w", "y"), ("a", "w", "x"), ("a", "f", "y")).toDF("s", "p", "o")
    val got = TripleOps.schemaSummaryDelta(types, base, added).collect().map(r =>
      ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (P,k,P) untouched → absent; touched groups match the batch view
    assert(got.keySet == Set(("P", "w", "O"), ("P", "f", "O")), got.toString)
    assert(got(("P", "w", "O")) == ((1L, 3L, 2L, 2L)), got.toString)
    assert(got(("P", "f", "O")) == ((1L, 1L, 1L, 1L)))
    val batch = TripleOps.schemaSummary(types,
      base.unionByName(added).distinct()).collect().map(r =>
      ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    got.foreach { case (k, (_, ne, ns, nd)) => assert(batch(k) == ((ne, ns, nd)), k.toString) }
    // a delta that only duplicates base edges refreshes nothing
    assert(TripleOps.schemaSummaryDelta(types, base,
      Seq(("a", "w", "x")).toDF("s", "p", "o")).count() == 0)
  }

  test("rdfListUnroll: ordered unroll, mid-chain entry re-bases, nil entry empty, cycle throws") {
    val s = spark
    import s.implicits._
    // list A: e1 → e2 → e3; entry at head AND at the second cell;
    // an empty-list entry; a stray non-list triple
    val spo = Seq(
      ("a0", "first", "e1"), ("a0", "rest", "a1"),
      ("a1", "first", "e2"), ("a1", "rest", "a2"),
      ("a2", "first", "e3"), ("a2", "rest", "nil"),
      ("d1", "keywords", "a0"), ("d2", "suffix", "a1"),
      ("d3", "tags", "nil"), ("d1", "label", "L")).toDF("s", "p", "o")
    val got = TripleOps.rdfListUnroll(spo).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(got == Set(
      ("d1", "keywords", 0L, "e1"), ("d1", "keywords", 1L, "e2"), ("d1", "keywords", 2L, "e3"),
      ("d2", "suffix", 0L, "e2"), ("d2", "suffix", 1L, "e3")), got.toString)
    // a cyclic rest-chain must throw, never ship truncated positions
    val cyc = Seq(
      ("c0", "first", "x"), ("c0", "rest", "c1"),
      ("c1", "first", "y"), ("c1", "rest", "c0"),
      ("d9", "keywords", "c0")).toDF("s", "p", "o")
    assertThrows[IllegalStateException] {
      TripleOps.rdfListUnroll(cyc, maxIters = 6).count()
    }
  }

  test("groupConcat: explicit order key pins concat order; value tiebreak on equal keys") {
    val s = spark
    import s.implicits._
    val sols = Seq(
      ("g1", 2L, "b"), ("g1", 1L, "a"), ("g1", 3L, "c"),
      ("g2", 1L, "z"), ("g2", 1L, "y")).toDF("k", "ord", "v")
    val got = TripleOps.groupConcat(sols, Seq("k"), "ord", "v", "|")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("g1") == "a|b|c")
    // equal order keys fall back to the value tiebreak (y before z)
    assert(got("g2") == "y|z")
  }

  test("ifpSameAs: star-to-min links; cross-value chains merge only in canonicalization") {
    val s = spark
    import s.implicits._
    // email groups {a,b,c} and {d,e}; phone chains c↔d ACROSS groups;
    // f shares nothing; 'note' is not an IFP and must be ignored
    val spo = Seq(
      ("a", "email", "e1"), ("b", "email", "e1"), ("c", "email", "e1"),
      ("d", "email", "e2"), ("e", "email", "e2"),
      ("c", "phone", "p1"), ("d", "phone", "p1"),
      ("f", "email", "e9"), ("a", "note", "e1")).toDF("s", "p", "o")
    val sa = TripleOps.ifpSameAs(spo, Seq("email", "phone")).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    // stars: e1-group → a, e2-group → d, phone pair → c; singleton f emits nothing
    assert(sa == Set(("a", "b"), ("a", "c"), ("d", "e"), ("c", "d")), sa.toString)
    // canonicalization chains the two email groups through the shared phone
    val canon = TripleOps.sameAsCanonicalize(
      spo.unionByName(TripleOps.ifpSameAs(spo, Seq("email", "phone"))
        .toDF("s", "p", "o")))
    val subs = canon.where($"p" === "email").select("s").collect()
      .map(_.getString(0)).toSet
    assert(subs == Set("a", "f"), subs.toString)
  }

  test("path: OneOrMore closure with cycle self-pairs; ZeroOrMore adds the term universe") {
    val s = spark
    import s.implicits._
    // chain x→y→z plus a 2-cycle u↔v
    val spo = Seq(
      ("x", "next", "y"), ("y", "next", "z"),
      ("u", "next", "v"), ("v", "next", "u")).toDF("s", "p", "o")
    val plus = TripleOps.path(spo, Seq(TripleOps.OneOrMore("next"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(plus == Set(
      ("x", "y"), ("y", "z"), ("x", "z"),
      ("u", "v"), ("v", "u"), ("u", "u"), ("v", "v")), plus.toString)
    val star = TripleOps.path(spo, Seq(TripleOps.ZeroOrMore("next"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(star == plus ++ Set("x", "y", "z", "u", "v").map(t => (t, t)), star.toString)
    // sequence chaining: one hop then any number more == full closure from x
    val seqd = TripleOps.path(spo,
      Seq(TripleOps.PredStep("next"), TripleOps.ZeroOrMore("next"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(seqd == plus, seqd.toString)
  }

  test("path: Alt unions sub-paths incl. inverse; Plus over Alt closes the union graph") {
    val s = spark
    import s.implicits._
    // forward chain x-a->y; reversed-storage edge (z, b, y) so ^b is y->z
    val spo = Seq(
      ("x", "a", "y"), ("z", "b", "y"), ("q", "c", "x")).toDF("s", "p", "o")
    val alt = TripleOps.path(spo, Seq(TripleOps.Alt(Seq(
        TripleOps.PredStep("a"), TripleOps.PredStep("b", inverse = true))))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(alt == Set(("x", "y"), ("y", "z")), alt.toString)
    val plus = TripleOps.path(spo, Seq(TripleOps.Plus(TripleOps.Alt(Seq(
        TripleOps.PredStep("a"), TripleOps.PredStep("b", inverse = true)))))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // c edges excluded: q never chains in
    assert(plus == Set(("x", "y"), ("y", "z"), ("x", "z")), plus.toString)
  }

  test("path: closure over a SEQUENCE (child/child)+ and the list path rest*/first") {
    val s = spark
    import s.implicits._
    val chain = Seq(
      ("a", "child", "b"), ("b", "child", "c"), ("c", "child", "d"),
      ("d", "child", "e")).toDF("s", "p", "o")
    val evenHops = TripleOps.path(chain, Seq(TripleOps.Plus(TripleOps.SeqPath(Seq(
        TripleOps.PredStep("child"), TripleOps.PredStep("child")))))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(evenHops == Set(("a", "c"), ("b", "d"), ("c", "e"), ("a", "e")), evenHops.toString)
    // SPARQL's canonical rdf:List member path: (rest)*/first
    val list = Seq(
      ("L", "first", "v1"), ("L", "rest", "M"),
      ("M", "first", "v2"), ("M", "rest", "N"),
      ("N", "first", "v3"), ("N", "rest", "nil")).toDF("s", "p", "o")
    val members = TripleOps.path(list, Seq(
        TripleOps.Star(TripleOps.PredStep("rest")), TripleOps.PredStep("first"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(members.filter(_._1 == "L") == Set(("L", "v1"), ("L", "v2"), ("L", "v3")), members.toString)
  }

  test("fpSameAs: objects under a functional property star to the min; non-FP lane ignored") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("item1", "ownedBy", "o2"), ("item1", "ownedBy", "o1"), ("item1", "ownedBy", "o3"),
      ("item2", "ownedBy", "o9"),
      ("item1", "note", "o0")).toDF("s", "p", "o")
    val sa = TripleOps.fpSameAs(spo, Seq("ownedBy")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(sa == Set(("o1", "sameAs", "o2"), ("o1", "sameAs", "o3")), sa.toString)
  }

  test("bgpOptionalFiltered: inner FILTER decides the match, failing rows keep unbound lanes") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "hasBudget", "50"), ("d2", "hasBudget", "10"), ("d3", "hasBudget", "99"),
      ("d1", "offerPrice", "30"),  // passes: 30 <= 50
      ("d2", "offerPrice", "30")   // fails: 30 > 10 — row SURVIVES, price unbound
      // d3 has no offer at all — same unbound lane
    ).toDF("s", "p", "o")
    val out = TripleOps.bgpOptionalFiltered(spo,
      Seq(("?x", "hasBudget", "?b")),
      Seq((Seq(("?x", "offerPrice", "?price")),
        org.apache.spark.sql.functions.col("price").cast("long") <=
          org.apache.spark.sql.functions.col("b").cast("long"))))
    val got = out.select("x", "b", "price").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set(
      ("d1", "50", Some("30")), ("d2", "10", None), ("d3", "99", None)), got.toString)
  }

  test("valuesUndef: null wildcards constrain nothing; overlapping rows duplicate (multiset)") {
    val s = spark
    import s.implicits._
    val sols = Seq(("a", "o1", "en"), ("b", "o1", "de"), ("c", "o2", "de"), ("e", "o2", "fr"))
      .toDF("x", "org", "lg")
    val bindings = Seq(
      (Some("o1"), Option.empty[String]),   // all of o1
      (Option.empty[String], Some("de"))    // all of de
    ).toDF("org", "lg")
    val got = TripleOps.valuesUndef(sols, bindings).select("x").collect()
      .map(_.getString(0)).toSeq.sorted
    // b matches BOTH rows -> appears twice; e matches neither
    assert(got == Seq("a", "b", "b", "c"), got.toString)
  }

  test("validateShapes value constraints: pattern/in/minLength/datatype; bnode fails string shapes") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "email", "\"a@ex.org\""), ("d2", "email", "\"not an email\""),
      ("d3", "email", "_:b0"), // bnode value: no string form -> pattern fails
      ("d1", "status", "\"a\""), ("d2", "status", "\"zz\""),
      ("d1", "code", "\"xy\""), ("d2", "code", "\"x\""),
      ("d1", "age", "\"41\"^^xsd:integer"), ("d2", "age", "\"41\"")).toDF("s", "p", "o")
    val focus = Seq("d1", "d2", "d3").toDF("s")
    val got = TripleOps.validateShapes(spo, focus, Seq(
        TripleOps.PropertyShape("email", pattern = Some("^[a-z0-9]+@[a-z.]+$")),
        TripleOps.PropertyShape("status", inSet = Some(Seq("\"a\"", "\"b\""))),
        TripleOps.PropertyShape("code", minLength = 2L),
        TripleOps.PropertyShape("age", datatype = Some("xsd:integer"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("d2", "email", "pattern", 1L), ("d3", "email", "pattern", 1L),
      ("d2", "status", "in", 1L),
      ("d2", "code", "minLength", 1L),
      ("d2", "age", "datatype", 1L)), got.toString)
  }

  test("disjointViolations: both-typed instances witness; single-typed and unrelated pairs don't") {
    val s = spark
    import s.implicits._
    val types = Seq(
      ("x", "c0"), ("x", "c3"),  // violates (c0, c3)
      ("y", "c0"),               // only one side
      ("z", "c1"), ("z", "c4"), ("z", "c0")).toDF("inst", "cls")
    val dis = Seq(("c0", "c3"), ("c1", "c4")).toDF("a", "b")
    val got = TripleOps.disjointViolations(types, dis).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("x", "c0", "c3"), ("z", "c1", "c4")), got.toString)
  }

  test("RDF-star: quote/unquote round-trip; starAnnotations filters quoted pred and term shape") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("<<d1 worksFor o1>>", "confidence", "c1"),
      ("<<d2 worksFor o2>>", "confidence", "c2"),
      ("<<d1 knows o1>>", "confidence", "c3"), // other quoted pred: excluded
      ("d1", "confidence", "c9"),              // non-quoted subject: excluded
      ("d1", "worksFor", "o1")).toDF("s", "p", "o")
    val got = TripleOps.starAnnotations(spo, "worksFor", "confidence").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("d1", "o1", "c1"), ("d2", "o2", "c2")), got.toString)
    // encode/decode identity
    val rt = Seq(("a", "p", "b")).toDF("x", "y", "z")
      .select(TripleOps.quoteTriple($"x", $"y", $"z").as("t"))
      .select(TripleOps.unquoteTriple($"t"): _*).collect().head
    assert((rt.getString(0), rt.getString(1), rt.getString(2)) == (("a", "p", "b")))
  }

  test("equivPropEntail: symmetric-transitive classes fan triples to every member; singleton inert") {
    val s = spark
    import s.implicits._
    val spo = Seq(("x", "p0", "v"), ("y", "p2", "w"), ("z", "p5", "u")).toDF("s", "p", "o")
    val equiv = Seq(("p0", "p1"), ("p1", "p2")).toDF("a", "b")
    val got = TripleOps.equivPropEntail(spo, equiv).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("x", "p0", "v"), ("x", "p1", "v"), ("x", "p2", "v"),
      ("y", "p0", "w"), ("y", "p1", "w"), ("y", "p2", "w"),
      ("z", "p5", "u")), got.toString)
  }

  test("filterExistsUnbound: unbound var is FREE in the pattern; bound vars semi/anti as usual") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "worksFor", "o1"), ("d2", "worksFor", "o1"), ("d3", "worksFor", "o2"),
      ("d1", "mentor", "m1"), ("d2", "mentor", "m2"),
      // d3 has NO mentor -> ?m unbound in its solution
      ("m1", "flagged", "1")).toDF("s", "p", "o")
    val sols = TripleOps.bgpOptional(spo,
      Seq(("?x", "worksFor", "?org")), Seq(Seq(("?x", "mentor", "?m"))))
    // NOT EXISTS {?m flagged ?f}: d1 (flagged mentor) drops; d3 (unbound ?m,
    // free variable matches the existing flagged row) drops too; d2 survives
    val kept = TripleOps.filterExistsUnbound(sols, spo,
        Seq(("?m", "flagged", "?f")), negate = true)
      .select("x").collect().map(_.getString(0)).toSet
    assert(kept == Set("d2"), kept.toString)
    // positive EXISTS keeps exactly the complement
    val pos = TripleOps.filterExistsUnbound(sols, spo,
        Seq(("?m", "flagged", "?f")), negate = false)
      .select("x").collect().map(_.getString(0)).toSet
    assert(pos == Set("d1", "d3"), pos.toString)
  }

  test("path: Opt step is identity union inner, compositional under sequences") {
    val s = spark
    import s.implicits._
    val spo = Seq(("a", "p", "b"), ("b", "q", "c")).toDF("s", "p", "o")
    // p/(q?) — a reaches b (zero q) and c (one q)
    val got = TripleOps.path(spo, Seq(TripleOps.PredStep("p"),
        TripleOps.Opt(TripleOps.PredStep("q")))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("a", "c")), got.toString)
  }

  test("buildLists: deterministic cons chains; rdfListUnroll round-trips positions exactly") {
    val s = spark
    import s.implicits._
    val items = Seq(
      ("g1", 10L, "a"), ("g1", 20L, "b"), ("g1", 30L, "c"),
      ("g2", 5L, "only")).toDF("s", "ord", "v")
    val chain = TripleOps.buildLists(items)
    // structural sanity: one hasList head per group, rest-chain ends in nil per group
    val byP = chain.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(byP.count(_._2 == "hasList") == 2)
    assert(byP.count(t => t._2 == "rdf:rest" && t._3 == "rdf:nil") == 2)
    // round trip: unrolling the built chains recovers the ordered positions
    val back = TripleOps.rdfListUnroll(chain, "rdf:first", "rdf:rest", "rdf:nil").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSet
    assert(back == Set(
      ("g1", 0L, "a"), ("g1", 1L, "b"), ("g1", 2L, "c"),
      ("g2", 0L, "only")), back.toString)
    // determinism: rebuilding yields the identical triple set (labels included)
    val again = TripleOps.buildLists(items).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(again == byP.toSet)
  }

  test("describeCbd: bnode chain expands recursively, IRI boundary holds, shared bnodes once") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("d1", "worksFor", "o1"), ("d2", "worksFor", "o2"),
      ("d1", "addr", "_:a1"), ("_:a1", "city", "Berlin"),
      ("_:a1", "geo", "_:g1"), ("_:g1", "lat", "52"),
      ("d1", "link", "http://x/1"), ("http://x/1", "label", "X"), // boundary
      ("d2", "addr", "_:a2"), ("_:a2", "city", "Paris")           // other solution's bnodes
    ).toDF("s", "p", "o")
    val got = TripleOps.describeCbd(spo, Seq(("?x", "worksFor", "o1")), "?x").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("d1", "worksFor", "o1"), ("d1", "addr", "_:a1"), ("d1", "link", "http://x/1"),
      ("_:a1", "city", "Berlin"), ("_:a1", "geo", "_:g1"), ("_:g1", "lat", "52")), got.toString)
  }

  test("term constructors: STRDT/STRLANG round-trip the accessors; IRI base rule; BNODE deterministic") {
    val s = spark
    import s.implicits._
    val df = Seq(("k1", "hi", "EN-us", "rel/p"), ("k2", "yo", "de", "http://abs/x"))
      .toDF("k", "lex", "tag", "ref")
    val built = df.select($"k",
      TripleOps.strDt($"lex", org.apache.spark.sql.functions.lit("xsd:token")).as("t"),
      TripleOps.strLang($"lex", $"tag").as("l"),
      TripleOps.iriCol($"ref", "http://b/").as("i"),
      TripleOps.bnodeCol($"k", org.apache.spark.sql.functions.lit("x")).as("b"))
    val round = built.select($"k",
      TripleOps.strOf($"t").as("tLex"), TripleOps.datatypeOf($"t").as("tDt"),
      TripleOps.strOf($"l").as("lLex"), TripleOps.datatypeOf($"l").as("lDt"),
      $"i", $"b", TripleOps.termKind($"b").as("bKind"))
      .collect().map(r => r.getString(0) -> r).toMap
    val r1 = round("k1")
    assert(r1.getString(1) == "hi" && r1.getString(2) == "xsd:token")
    assert(r1.getString(3) == "hi" && r1.getString(4) == "rdf:langString")
    assert(r1.getString(5) == "http://b/rel/p")
    assert(r1.getString(7) == "bnode")
    assert(round("k2").getString(5) == "http://abs/x") // absolute passes through
    // deterministic: rebuilding yields identical bnode labels
    val again = df.select($"k", TripleOps.bnodeCol($"k",
        org.apache.spark.sql.functions.lit("x")).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(again("k1") == r1.getString(6) )
    // distinct per solution AND per argument
    assert(again("k1") != again("k2"))
  }

  test("resolveConflictsDelta: touched groups re-derive, untouched keep base winners, == full fusion") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("e1", "color", "red"), ("e1", "color", "red"), ("e1", "color", "blue"),
      ("e1", "shape", "round"),
      ("e2", "color", "green")).toDF("s", "p", "o")
    // two blue votes flip e1's color; e3 is a delta-only group
    val added = Seq(
      ("e1", "color", "blue"), ("e1", "color", "blue"),
      ("e3", "color", "teal")).toDF("s", "p", "o")
    val got = TripleOps.resolveConflictsDelta(base, added).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("e1", "color", "blue", 3L),   // flipped by the delta
      ("e1", "shape", "round", 1L),  // untouched: base winner survives
      ("e2", "color", "green", 1L),  // untouched group
      ("e3", "color", "teal", 1L)), got.toString)
    // maintained view == definitional full fusion
    val full = TripleOps.resolveConflicts(base.unionByName(added)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == full)
    // the IVM cost-model form: the materialized view is an INPUT — the
    // untouched lane reads it directly, never re-fusing the corpus
    val view = TripleOps.resolveConflicts(base)
    val got3 = TripleOps.resolveConflictsDelta(base, view, added).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got3 == full)
  }

  test("resolveConflicts: majority wins, lexicographic min on ties, duplicate rows are votes") {
    val s = spark
    import s.implicits._
    val a = Seq(
      ("e1", "color", "red"), ("e1", "color", "red"), ("e1", "color", "blue"),
      ("e2", "color", "green"), ("e2", "color", "blue"), // 1-1 tie → 'blue' < 'green'
      ("e1", "shape", "round")).toDF("s", "p", "o")
    val got = TripleOps.resolveConflicts(a).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      ("e1", "color", "red", 2L),
      ("e2", "color", "blue", 1L),
      ("e1", "shape", "round", 1L)), got.toString)
  }

  test("term functions: kind/STR/DATATYPE/langMatches incl. bnode type error and '-' boundary") {
    val s = spark
    import s.implicits._
    val terms = Seq(
      "\"42\"^^xsd:integer", "\"hi\"@EN-US", "\"x\"@enx", "\"plain\"",
      "_:b0", "http://e/i").toDF("o")
    val got = terms.select($"o",
      TripleOps.termKind($"o").as("kind"),
      TripleOps.strOf($"o").as("strv"),
      TripleOps.datatypeOf($"o").as("dt"),
      TripleOps.langMatchesCol(TripleOps.termColumns($"o").apply(2), "en").as("lm"),
      TripleOps.langMatchesCol(TripleOps.termColumns($"o").apply(2), "*").as("lmAny"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3)),
          r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got("\"42\"^^xsd:integer") == (("literal", Some("42"), Some("xsd:integer"), false, false)))
    assert(got("\"hi\"@EN-US") == (("literal", Some("hi"), Some("rdf:langString"), true, true)))
    // 'enx' must NOT match range 'en' (prefix only at a '-' boundary)
    assert(got("\"x\"@enx") == (("literal", Some("x"), Some("rdf:langString"), false, true)))
    assert(got("\"plain\"") == (("literal", Some("plain"), Some("xsd:string"), false, false)))
    // STR(bnode) is a type error -> null; datatype(non-literal) -> null
    assert(got("_:b0") == (("bnode", None, None, false, false)))
    assert(got("http://e/i") == (("iri", Some("http://e/i"), None, false, false)))
  }

  test("bgp: repeated variable within one pattern equi-filters; disjoint pattern rejected") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("a", "knows", "a"), ("a", "knows", "b"), ("b", "knows", "b")).toDF("s", "p", "o")
    val selfKnown = TripleOps.bgp(spo, Seq(("?x", "knows", "?x")))
    assert(selfKnown.collect().map(_.getString(0)).toSet == Set("a", "b"))
    intercept[IllegalArgumentException] {
      TripleOps.bgp(spo, Seq(("?x", "knows", "?y"), ("?z", "knows", "?w")))
    }
  }

  test("pairConstraintViolations: equals/disjoint/lessThan/uniqueLang fire exactly; conforming node is silent") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      // d1 conforms on every constraint
      ("d1", "alias_a", "\"a\""), ("d1", "alias_b", "\"a\""),
      ("d1", "tag", "\"t1\""), ("d1", "banned", "\"t9\""),
      ("d1", "low", "\"3\"^^xsd:integer"), ("d1", "high", "\"10\"^^xsd:integer"),
      ("d1", "label", "\"hi\"@en"), ("d1", "label", "\"salut\"@fr"),
      // d2: equals broken both directions (extra on a, missing on b)
      ("d2", "alias_a", "\"a\""), ("d2", "alias_a", "\"x\""), ("d2", "alias_b", "\"a\""),
      ("d2", "alias_b", "\"y\""),
      // d2: disjoint broken on one shared term
      ("d2", "tag", "\"t1\""), ("d2", "tag", "\"t2\""), ("d2", "banned", "\"t2\""),
      // d2: lessThan broken — 5 and 8 both >= min(high)=4
      ("d2", "low", "\"5\"^^xsd:integer"), ("d2", "low", "\"8\"^^xsd:integer"),
      ("d2", "high", "\"4\"^^xsd:integer"), ("d2", "high", "\"9\"^^xsd:integer"),
      // d2: two @en labels (one duplicated tag), @fr fine
      ("d2", "label", "\"one\"@en"), ("d2", "label", "\"two\"@en"),
      ("d2", "label", "\"trois\"@fr"),
      // d3 out of focus: violations there must not report
      ("d3", "alias_a", "\"only\"")).toDF("s", "p", "o")
    val focus = Seq("d1", "d2").toDF("s")
    val got = TripleOps.pairConstraintViolations(spo, focus,
      equalsPairs = Seq(("alias_a", "alias_b")),
      disjointPairs = Seq(("tag", "banned")),
      lessThanPairs = Seq(("low", "high")),
      uniqueLangPaths = Seq("label"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"))).toSet
    assert(got == Set(
      ("d2", "equals", 2L), ("d2", "disjoint", 1L),
      ("d2", "lessThan", 2L), ("d2", "uniqueLang", 1L)), got.toString)
  }

  test("restrictionEntail: hv1/hv2/svf1/avf derive exactly one rule application") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("v1", "rdf:type", "VIP"),            // hv1: derive v1 status gold
      ("v2", "status", "\"gold\""),          // hv2: derive v2 a VIP
      ("o1", "employs", "p1"), ("p1", "rdf:type", "Person"), // svf1: o1 a Employer
      ("o2", "employs", "x9"),              // x9 untyped: no svf derivation
      ("t1", "rdf:type", "Team"), ("t1", "member", "m1"), ("t1", "member", "m2"), // avf
      ("t2", "member", "m3")                // t2 untyped: no avf derivation
    ).toDF("s", "p", "o")
    val r = Seq(
      ("VIP", "status", "hasValue", "\"gold\""),
      ("Employer", "employs", "someValuesFrom", "Person"),
      ("Team", "member", "allValuesFrom", "Player")).toDF("cls", "prop", "kind", "value")
    val got = TripleOps.restrictionEntail(spo, r).collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
    assert(got == Set(
      ("v1", "status", "\"gold\""),
      ("v2", "rdf:type", "VIP"),
      ("o1", "rdf:type", "Employer"),
      ("m1", "rdf:type", "Player"), ("m2", "rdf:type", "Player")), got.toString)
  }

  test("logicalShapeViolations: and/or/not/xone/closed fire exactly; conforming node silent; ignored props exempt") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      // d1 conforms: has email+phone (and, or), no spam (not), email
      // but no nick (xone exactly-one), meta is ignored by the closed shape
      ("d1", "email", "\"e1\""), ("d1", "phone", "\"p1\""),
      ("d1", "meta", "\"m\""),
      // d2: missing phone (and n=1), has email (or fine), spam twice (not n=2,
      // closed n=2 on spam), nick+email both (xone n=2)
      ("d2", "email", "\"e2\""), ("d2", "nick", "\"n2\""),
      ("d2", "spam", "\"s1\""), ("d2", "spam", "\"s2\""),
      // d3: neither email nor phone (and n=2, or n=1), neither nick (xone n=0)
      ("d3", "meta", "\"m\""),
      // d4 out of focus: nothing may report
      ("d4", "spam", "\"x\"")).toDF("s", "p", "o")
    val focus = Seq("d1", "d2", "d3").toDF("s")
    val got = TripleOps.logicalShapeViolations(spo, focus,
      andPairs = Seq(("email", "phone")),
      orPairs = Seq(("email", "phone")),
      notProps = Seq("spam"),
      xonePairs = Seq(("nick", "email")),
      closedAllowed = Some(Seq("email", "phone", "nick")),
      closedIgnored = Seq("meta"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("n"))).toSet
    assert(got == Set(
      ("d2", "and", "email", 1L),
      ("d3", "and", "email", 2L),
      ("d3", "or", "email", 1L),
      ("d2", "not", "spam", 2L),
      ("d2", "xone", "nick", 2L),
      ("d3", "xone", "nick", 0L),
      ("d2", "closed", "spam", 2L)), got.toString)
  }

  test("qualifiedShapeViolations: only class-conforming values count; duplicates collapse; out-of-focus silent") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      // d1 conforms: exactly one Expert value (x1 is Novice — neither helps nor hurts)
      ("d1", "knows", "e1"), ("d1", "knows", "x1"),
      // d2: two Expert values (e1 duplicated — distinct collapses it) -> qualifiedMax n=2
      ("d2", "knows", "e1"), ("d2", "knows", "e1"), ("d2", "knows", "e2"),
      // d3: only a non-conforming value -> qualifiedMin n=0
      ("d3", "knows", "x1"),
      // d5 out of focus: nothing may report
      ("d5", "knows", "e1"),
      ("e1", "rdf:type", "Expert"), ("e2", "rdf:type", "Expert"),
      ("x1", "rdf:type", "Novice")).toDF("s", "p", "o")
    // d4 in focus with no knows edge at all -> qualifiedMin n=0
    val focus = Seq("d1", "d2", "d3", "d4").toDF("s")
    val got = TripleOps.qualifiedShapeViolations(spo, focus,
        prop = "knows", valueClass = "Expert", minCount = 1, maxCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"))).toSet
    assert(got == Set(
      ("d2", "qualifiedMax", 2L),
      ("d3", "qualifiedMin", 0L),
      ("d4", "qualifiedMin", 0L)), got.toString)
  }

  test("hasKeySameAs: composite key links to min; missing prop or type excluded; multi-valued fans out") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      // a1/a2 share the full (x1, y1) combination -> link a1 <- a2
      ("a1", "rdf:type", "Person"), ("a1", "kx", "x1"), ("a1", "ky", "y1"),
      ("a2", "rdf:type", "Person"), ("a2", "kx", "x1"), ("a2", "ky", "y1"),
      // a3 shares kx only -> no link
      ("a3", "rdf:type", "Person"), ("a3", "kx", "x1"), ("a3", "ky", "y9"),
      // a4 shares both values but is untyped -> excluded
      ("a4", "kx", "x1"), ("a4", "ky", "y1"),
      // a5 misses ky entirely -> excluded
      ("a5", "rdf:type", "Person"), ("a5", "kx", "x1"),
      // a6 is multi-valued on kx; its (x1, y1) combination matches a1
      ("a6", "rdf:type", "Person"), ("a6", "kx", "x0"), ("a6", "kx", "x1"),
      ("a6", "ky", "y1")).toDF("s", "p", "o")
    val got = TripleOps.hasKeySameAs(spo, Seq(("Person", Seq("kx", "ky"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("a1", "sameAs", "a2"), ("a1", "sameAs", "a6")), got.toString)
  }

  test("propertyAxiomViolations: asymmetric/disjointProp/negAssert/eqDiff fire exactly once per witness") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      // both directions -> one canonical asymmetric row; self-loop is
      // its own reverse (asymmetric implies irreflexive)
      ("a", "follows", "b"), ("b", "follows", "a"),
      ("c", "follows", "d"), // one direction only: fine
      ("e", "follows", "e"),
      // same (s, o) under both disjoint properties
      ("x", "likes", "v1"), ("x", "dislikes", "v1"),
      ("y", "likes", "v1"), ("y", "dislikes", "v2"), // different value: fine
      // asserted triple contradicting the negative assertion
      ("n", "role", "admin"),
      ("m", "role", "user"), // neg targets admin: fine
      // sameAs contradicted by a REVERSED differentFrom (symmetric match)
      ("p", "sameAs", "q"), ("q", "differentFrom", "p"),
      ("r", "sameAs", "t") // no differentFrom: fine
    ).toDF("s", "p", "o")
    val neg = Seq(("n", "role", "admin"), ("m", "role", "admin")).toDF("s", "p", "o")
    val got = TripleOps.propertyAxiomViolations(spo,
      asymmetricProps = Seq("follows"),
      disjointPropPairs = Seq(("likes", "dislikes")),
      negativeAssertions = Some(neg),
      checkEqDiff = true)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("asymmetric", "a", "b", "follows"),
      ("asymmetric", "e", "e", "follows"),
      ("disjointProp", "x", "v1", "likes/dislikes"),
      ("negAssert", "n", "admin", "role"),
      ("eqDiff", "p", "q", "sameAs")), got.toString)
  }

  test("validatePathShapes: sequence/alt/inverse path cardinalities; conforming focus silent") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("p1", "worksFor", "o1"), ("o1", "managedBy", "m1"), // p1 conforms on mgr
      ("p2", "worksFor", "o2"),                            // o2 unmanaged: minCount fires
      ("p1", "name", "\"a\""),                             // alias n=1: fine
      ("p2", "name", "\"b\""), ("p2", "nick", "\"x\""), ("p2", "nick", "\"y\""), // n=3 > max 2
      ("c1", "mentor", "p1"), ("c2", "mentor", "p1")       // p1 has 2 mentees > max 1
    ).toDF("s", "p", "o")
    val focus = Seq("p1", "p2").toDF("s")
    val got = TripleOps.validatePathShapes(spo, focus, Seq(
      ("mgr", Seq(TripleOps.PredStep("worksFor"), TripleOps.PredStep("managedBy")), 1, 99),
      ("alias", Seq(TripleOps.Alt(Seq(TripleOps.PredStep("nick"), TripleOps.PredStep("name")))), 1, 2),
      ("mentees", Seq(TripleOps.PredStep("mentor", inverse = true)), 0, 1)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("n"))).toSet
    assert(got == Set(
      ("p2", "mgr", "minCount", 0L),
      ("p2", "alias", "maxCount", 3L),
      ("p1", "mentees", "maxCount", 2L)), got.toString)
  }

  test("termOrderTopK: unbound < bnode < IRI < numeric-by-value < other literals; tiebreak closes") {
    val s = spark
    import s.implicits._
    val sols = Seq(
      (Option("\"apple\""), 1L), (Option("\"5\"^^xsd:integer"), 2L),
      (Option("\"-3\"^^xsd:integer"), 3L), (Option("http://a"), 4L),
      (Option("_:b"), 5L), (Option.empty[String], 6L),
      (Option("http://a"), 7L) // duplicate term: doc tiebreak orders 4 before 7
    ).toDF("term", "doc_id")
    val got = TripleOps.termOrderTopK(sols, "term", "doc_id", 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), Option(r.getString(0)), r.getLong(1)))
    assert(got.toSeq == Seq(
      (1L, None, 6L), (2L, Some("_:b"), 5L),
      (3L, Some("http://a"), 4L), (4L, Some("http://a"), 7L),
      (5L, Some("\"-3\"^^xsd:integer"), 3L), (6L, Some("\"5\"^^xsd:integer"), 2L),
      (7L, Some("\"apple\""), 1L)), got.mkString(","))
  }

  test("mineChainRules: grandparent rule scores support/confidence; fanout cap excludes hub chains") {
    val s = spark
    import s.implicits._
    val spo = Seq(
      ("c1", "parent", "p1"), ("c2", "parent", "p1"), ("p1", "parent", "g1"),
      ("c1", "grandparent", "g1") // planted for c1 only -> conf 1/2
    ).toDF("s", "p", "o")
    val got = TripleOps.mineChainRules(spo, minSupport = 1L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getAs[Long]("support"), r.getAs[Long]("body_n"), r.getAs[Long]("conf_ppm"))).toSet
    assert(got == Set(("grandparent", "parent", "parent", 1L, 2L, 500000L)), got.toString)
    // p1 as chain variable has in-degree 2 x out-degree 1 = 2 > cap 1
    val capped = TripleOps.mineChainRules(spo, minSupport = 1L, maxZFanout = 1L)
    assert(capped.collect().isEmpty)
  }

  test("bisimulationSummary: depth-2 refinement splits nodes depth-1 cannot") {
    val s = spark
    import s.implicits._
    // a,b share type T and both point via p at a U-typed node — depth 1
    // cannot separate them. c has an extra q-edge, d has none, so c/d
    // split at depth 1 and that split propagates to a/b at depth 2.
    val types = Seq(("a", "T"), ("b", "T"), ("c", "U"), ("d", "U")).toDF("s", "t")
    val edges = Seq(("a", "p", "c"), ("b", "p", "d"), ("c", "q", "x")).toDF("s", "p", "o")
    val got = TripleOps.bisimulationSummary(types, edges, rounds = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("n")))
    assert(got.length == 3, got.mkString(","))
    assert(got.forall(_._4 == 1L), got.mkString(","))
    val pRows = got.filter(_._2 == "p")
    assert(pRows.length == 2)
    // the depth-2 classes of a and b differ (their p-targets differ at depth 1)
    assert(pRows(0)._1 != pRows(1)._1, pRows.mkString(","))
    assert(pRows(0)._3 != pRows(1)._3, pRows.mkString(","))
    // at depth 1 the a/b split has not happened yet
    val d1 = TripleOps.bisimulationSummary(types, edges, rounds = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("n")))
    val d1p = d1.filter(_._2 == "p")
    assert(d1p.map(_._1).distinct.length == 1, d1p.mkString(","))
  }
}
