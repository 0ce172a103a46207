package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** KG-side relational operators over spo triple tables: RDFS
  * entailment materialization and basic-graph-pattern (BGP) matching —
  * what a consumer of the extracted triples (x_extract_triples /
  * x_kg_pipeline) runs to QUERY the graph, re-expressed as Catalyst
  * plans. The reference library stops at codec + graph set ops
  * (rdf_xml.ex surface); these are the downstream query operators a
  * 100 TB knowledge-graph construction pipeline needs on top.
  *
  * Scale posture baked into every operator:
  *  - schema data (TBox: class/property hierarchies, domain/range
  *    maps) is KB-sized while instance data (ABox) is TB-sized — so
  *    the closure fixpoint runs on the tiny side and reaches the big
  *    side only through ONE broadcast join;
  *  - BGP pattern slices are predicate-constant filters that push into
  *    the parquet scan; join order is the caller's selectivity order
  *    and disjoint-variable (cartesian) plans are rejected eagerly.
  */
object TripleOps {

  /** Transitive closure of a (sub, sup) hierarchy — rdfs11 when the
    * edges are rdfs:subClassOf, rdfs5 when they are
    * rdfs:subPropertyOf (and the engine of [[transitivePropEntail]]'s
    * ABox closures). The self-loop-free direct edge set is checkpointed
    * once, and one bounded `limit(cap + 1)` collect of it picks the
    * path:
    *
    *   - at most [[DriverGate.MaxRows]] edges: a BFS from every node on
    *     the driver emits each node it reaches through ≥1 edge, and the
    *     result is a local frame — no Spark job per round. The closure
    *     is quadratic at worst, so once it passes the same cap the BFS
    *     stops and the distributed loop takes over.
    *   - above the cap: path-DOUBLING evaluation (repeated squaring):
    *     each round joins the accumulated closure with itself, so reach
    *     depth doubles per round and a depth-d relation converges in
    *     ⌈log₂ d⌉ rounds instead of the semi-naive d — per-round fixed
    *     costs (shuffle setup, driver sync, checkpoint) dominate closure
    *     work for hierarchy-shaped inputs, and at web scale a deep chain
    *     would turn O(d) rounds into the bottleneck. The distinct at
    *     every round collapses the |paths|-vs-|pairs| blowup before it
    *     compounds. Rounds are checkpointed eagerly (the q26 lineage
    *     discipline).
    *
    * Both paths THROW when the round cap is hit before the fixpoint
    * (oracle-gated outputs must never ship an unstable prefix — the
    * q26/q71 rule): a cap of k rounds certifies every pair whose
    * shortest path (shortest cycle, for a derived (x, x)) is at most
    * 2^(k−1) edges long, so the driver path throws exactly when the
    * loop would, and the default 64 is unreachable in practice.
    *
    * Cycles converge — the pair set is finite — they just yield
    * mutual ancestry. Output is the STRICT closure (no reflexive
    * pairs unless present in input).
    */
  def transitiveClosure(edges: DataFrame, maxIters: Int = 64): DataFrame =
    transitiveClosure(edges, maxIters, DriverGate.MaxRows)

  /** [[transitiveClosure]] with the driver-path row cap (edges, and
    * closure pairs) as a parameter: 0 sends every non-empty edge set to
    * the distributed loop.
    */
  private[graft] def transitiveClosure(edges: DataFrame, maxIters: Int,
      driverRows: Long): DataFrame = {
    val direct = edges
      .select(col("sub").cast("string").as("sub"), col("sup").cast("string").as("sup"))
      .where(col("sub") =!= col("sup"))
      .distinct().localCheckpoint(true)
    val small = direct.select(col("sub").cast("binary"), col("sup").cast("binary"))
      .limit(math.min(driverRows + 1, Int.MaxValue).toInt).collect()
    val onDriver =
      if (DriverGate.fits(small.length, driverRows)) driverClosure(direct, small, maxIters, driverRows)
      else None
    onDriver.getOrElse(distributedClosure(direct, maxIters))
  }

  private def distributedClosure(direct: DataFrame, maxIters: Int): DataFrame = {
    var closure = direct
    var round = 0
    while (round < maxIters) {
      val hop = closure.select(col("sub").as("mid"), col("sup").as("nsup"))
      val next = closure.join(hop, closure("sup") === hop("mid"))
        .select(col("sub"), col("nsup").as("sup")).distinct()
        .join(closure, Seq("sub", "sup"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) return closure
      // lazy union of checkpoint LEAVES (r6): the accumulated closure
      // was previously re-materialized whole every round — one extra
      // blocking action plus a full rewrite of all pairs per round.
      // The union of ≤ maxIters checkpointed deltas keeps the plan a
      // flat leaf list (no lineage growth), and each round's three
      // closure consumers read the in-memory blocks directly.
      closure = closure.unionByName(next)
      round += 1
    }
    throw closureRoundCap(maxIters)
  }

  private def closureRoundCap(maxIters: Int) = new IllegalStateException(
    s"transitiveClosure did not reach a fixpoint in $maxIters rounds — " +
      "refusing to return a truncated (unsound) closure")

  /** The closure of a collected direct edge set (sub, sup as string
    * bytes) as a local frame shaped like `direct`, or None once it has
    * more than `cap` pairs. BFS from each node starts at its successors,
    * so the node itself is reached only around a cycle — at the cycle's
    * length, which is what the round cap measures.
    */
  private def driverClosure(direct: DataFrame, rows: Array[Row], maxIters: Int,
      cap: Long): Option[DataFrame] = {
    val (nodes, sub, sup) = DriverGate.denseEdges(rows, BinaryType)
    val n = nodes.length
    // successor lists, CSR: succ(start(x) until start(x + 1))
    val start = new Array[Int](n + 1)
    sub.foreach(x => start(x + 1) += 1)
    for (x <- 0 until n) start(x + 1) += start(x)
    val succ = new Array[Int](sub.length)
    val fill = start.clone()
    for (e <- sub.indices) { succ(fill(sub(e))) = sup(e); fill(sub(e)) += 1 }
    val seenFrom = Array.fill(n)(-1)
    val dist = new Array[Int](n)
    val queue = new Array[Int](n)
    val ids = nodes.map(DriverGate.wireValue)
    val pairs = ArrayBuffer.empty[Row]
    var total = 0L
    var longest = 0
    var x = 0
    while (x < n && total <= cap) {
      var head = 0
      var tail = 0
      def reach(from: Int, d: Int): Unit =
        for (i <- start(from) until start(from + 1)) {
          val y = succ(i)
          if (seenFrom(y) != x) { seenFrom(y) = x; dist(y) = d; queue(tail) = y; tail += 1 }
        }
      reach(x, 1)
      while (head < tail) { reach(queue(head), dist(queue(head)) + 1); head += 1 }
      total += tail
      if (total <= cap) for (i <- 0 until tail) {
        pairs += Row(ids(x), ids(queue(i)))
        longest = math.max(longest, dist(queue(i)))
      }
      x += 1
    }
    if (total > cap) return None
    // the loop's last round r < maxIters certifies paths of 2^r edges
    val certified = if (maxIters <= 0) -1L else 1L << math.min(maxIters - 1, 62)
    if (longest > certified) throw closureRoundCap(maxIters)
    val schema = StructType(direct.schema.fields.map(_.copy(dataType = BinaryType)))
    Some(direct.sparkSession.createDataFrame(pairs.asJava, schema)
      .select(col("sub").cast("string").as("sub"), col("sup").cast("string").as("sup")))
  }

  /** rdfs9 type inheritance: every instance of a class is an instance
    * of all its ancestors. `types` is ABox-sized (inst, cls); `closure`
    * is the schema-sized output of [[transitiveClosure]] and is
    * BROADCAST — the ABox is touched by exactly one map-side join plus
    * the final set-dedup shuffle (RDF graphs are sets; drop the
    * distinct only if a bag output is acceptable downstream).
    */
  def entailTypes(types: DataFrame, closure: DataFrame): DataFrame = {
    val asserted = types.select(col("inst").cast("string").as("inst"),
      col("cls").cast("string").as("cls"))
    val inherited = asserted
      .join(broadcast(closure), asserted("cls") === closure("sub"))
      .select(col("inst"), col("sup").as("cls"))
    asserted.unionByName(inherited).distinct()
  }

  /** rdfs2 domain typing: an (inst, prop) assertion types `inst` with
    * the property's declared domain class. rdfs3 (range) is the exact
    * mirror — pass the OBJECT column as `inst`. `domains` is
    * schema-sized (prop, cls) and broadcasts; feed the output through
    * [[entailTypes]] so derived types inherit up the hierarchy too.
    */
  def domainTypes(props: DataFrame, domains: DataFrame): DataFrame =
    props.select(col("inst").cast("string").as("inst"), col("prop"))
      .join(broadcast(domains), Seq("prop"))
      .select(col("inst"), col("cls"))

  /** One property constraint of a SHACL-lite node shape: cardinality
    * bounds on `path` plus an optional object-node check —
    * `objectMustHave` requires every value of `path` to itself be the
    * subject of at least one `objectMustHave` triple (the practical
    * core of sh:node/sh:class: "the org you work for must exist").
    */
  final case class PropertyShape(
      path: String,
      minCount: Long = 0L,
      maxCount: Long = Long.MaxValue,
      objectMustHave: Option[String] = None,
      // value constraints (SHACL core §4.2-4.4), applied per object of
      // `path` on each focus node; all regexes must stay inside the
      // RE2-compatible subset (the q31 rule)
      pattern: Option[String] = None, // sh:pattern over the value STRING
      inSet: Option[Seq[String]] = None, // sh:in — term-string equality
      minLength: Long = 0L, // sh:minLength over the value string
      datatype: Option[String] = None) // sh:datatype via [[datatypeOf]]

  /** SHACL-lite shape validation — the data-quality gate a KG
    * construction pipeline runs before publishing: every focus node is
    * checked against each property shape and violations come back as
    * rows (s, path, violation ∈ minCount|maxCount|node, n). Conforming
    * graphs yield an EMPTY frame (the SHACL conformance contract).
    *
    * Scale shape: each constraint is a predicate-constant slice of the
    * triple table (`p = path` pushes into the parquet scan) feeding
    * one map-side-combinable count per focus subject; the node check
    * is a distinct-key left-anti join against the required predicate's
    * subject set. The shape list is schema-sized, so the unrolled
    * union of per-constraint plans is bounded; no windows, no driver
    * actions, no state.
    */
  def validateShapes(triples: DataFrame, focus: DataFrame,
      shapes: Seq[PropertyShape]): DataFrame = {
    require(shapes.nonEmpty, "empty shape list")
    val f = focus.select(col("s").cast("string").as("s")).distinct()
    val checks = shapes.flatMap { sh =>
      val slice = triples.where(col("p") === sh.path)
      val cnts = f.join(slice.groupBy(col("s")).agg(count(lit(1)).as("cnt")), Seq("s"), "left")
        .select(col("s"), coalesce(col("cnt"), lit(0L)).cast("bigint").as("n"))
      val minV = if (sh.minCount > 0L)
        Some(cnts.where(col("n") < sh.minCount)
          .select(col("s"), lit(sh.path).as("path"), lit("minCount").as("violation"), col("n")))
      else None
      val maxV = if (sh.maxCount < Long.MaxValue)
        Some(cnts.where(col("n") > sh.maxCount)
          .select(col("s"), lit(sh.path).as("path"), lit("maxCount").as("violation"), col("n")))
      else None
      val nodeV = sh.objectMustHave.map { reqP =>
        val okTargets = triples.where(col("p") === reqP).select(col("s").as("o")).distinct()
        slice.join(f, Seq("s"))
          .select(col("s"), col("o"))
          .join(okTargets, Seq("o"), "left_anti")
          .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n"))
          .select(col("s"), lit(sh.path).as("path"), lit("node").as("violation"), col("n"))
      }
      // value-constraint lanes: one predicate-slice aggregation each,
      // the `bad` column fully codegen'd. The value STRING is STR(o) —
      // a blank-node value has none, so string-shaped constraints
      // (pattern/minLength) fail on bnodes, the SHACL behavior.
      val valueStr = coalesce(strOf(col("o")), lit(""))
      def valueViol(name: String, bad: org.apache.spark.sql.Column) =
        slice.join(f, Seq("s")).where(bad)
          .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n"))
          .select(col("s"), lit(sh.path).as("path"), lit(name).as("violation"), col("n"))
      val patV = sh.pattern.map(p => valueViol("pattern", !valueStr.rlike(p)))
      val inV = sh.inSet.map(vs => valueViol("in", !col("o").isInCollection(vs)))
      val lenV = if (sh.minLength > 0L)
        Some(valueViol("minLength", length(valueStr) < sh.minLength)) else None
      val dtV = sh.datatype.map(dt =>
        valueViol("datatype", coalesce(datatypeOf(col("o")), lit("")) =!= dt))
      Seq(minV, maxV, nodeV, patV, inV, lenV, dtV).flatten
    }
    checks.reduceLeft(_ unionByName _)
  }

  /** OWL 2 RL cax-dw: instances typed with BOTH classes of an
    * owl:disjointWith pair are consistency violations. `types` is
    * (inst, cls); `disjoint` is the schema-sized (a, b) pair table
    * (broadcast — never a shuffle of the instance data); output one
    * row per (inst, a, b) witness.
    */
  /** SHACL property-pair constraints (core §4.3) + sh:uniqueLang
    * (§4.2.4) — the cross-property half of shape validation that
    * [[validateShapes]]'s per-property lanes cannot express: value-SET
    * equality / disjointness between two paths on the same focus
    * node, the all-pairs ordering sh:lessThan, and per-language-tag
    * uniqueness. Violations come back as (s, violation, p1, p2, n); a
    * conforming graph yields an EMPTY frame (the q94/q158 contract).
    *
    * Contracts: value sets are DISTINCT term strings (equals/disjoint
    * compare whole terms); sh:lessThan compares integer-typed literal
    * values via the q125 decode and reports n = how many p1 values
    * fail against min(p2) — the min collapse of the spec's every-pair
    * rule (a < every b ⟺ a < min b), so no value-pair join exists;
    * sh:uniqueLang reports n = number of language tags carrying more
    * than one value.
    *
    * Scale shape: every lane is a predicate-constant slice (pushes
    * into the scan), focus-restricted and distinct-reduced, then
    * (s)- or (s, o)-keyed equi-joins and map-side-combinable groupBys.
    */
  def pairConstraintViolations(triples: DataFrame, focus: DataFrame,
      equalsPairs: Seq[(String, String)] = Nil,
      disjointPairs: Seq[(String, String)] = Nil,
      lessThanPairs: Seq[(String, String)] = Nil,
      uniqueLangPaths: Seq[String] = Nil): DataFrame = {
    val f = focus.select(col("s").cast("string").as("s")).distinct()
    def slice(p: String) =
      triples.where(col("p") === p).join(f, Seq("s"))
        .select(col("s"), col("o")).distinct()
    def out(rows: DataFrame, name: String, p1: String, p2: String) =
      rows.select(col("s"), lit(name).as("violation"),
        lit(p1).as("p1"), lit(p2).as("p2"), col("n"))
    val eqV = equalsPairs.map { case (p1, p2) =>
      val a = slice(p1).withColumn("ina", lit(1))
      val b = slice(p2).withColumn("inb", lit(1))
      out(a.join(b, Seq("s", "o"), "full_outer")
        .where(col("ina").isNull || col("inb").isNull)
        .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n")),
        "equals", p1, p2)
    }
    val disV = disjointPairs.map { case (p1, p2) =>
      out(slice(p1).join(slice(p2), Seq("s", "o"))
        .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n")),
        "disjoint", p1, p2)
    }
    val ltV = lessThanPairs.map { case (p1, p2) =>
      // the numeric cast must ride a CASE guard: projection pushdown
      // through the union can reorder it BELOW the predicate slice
      // filter, where ANSI cast would see non-numeric terms of other
      // predicates (measured on the q180 fixture)
      def intVal = {
        val vs = strOf(col("o"))
        when(vs.rlike("^-?[0-9]+$"), vs.cast("bigint"))
      }
      val v1 = slice(p1).select(col("s"), intVal.as("v"))
      val m2 = slice(p2).select(col("s"), intVal.as("v"))
        .groupBy(col("s")).agg(min(col("v")).as("mn"))
      out(v1.join(m2, Seq("s")).where(col("v") >= col("mn"))
        .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n")),
        "lessThan", p1, p2)
    }
    val ulV = uniqueLangPaths.map { p =>
      out(slice(p)
        .select(col("s"), regexp_extract(col("o"), LangLitRe, 2).as("lang"))
        .where(col("lang") =!= "")
        .groupBy(col("s"), col("lang")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
        .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n")),
        "uniqueLang", p, p)
    }
    val all = eqV ++ disV ++ ltV ++ ulV
    require(all.nonEmpty, "no constraints given")
    all.reduceLeft(_ unionByName _)
  }

  /** OWL 2 RL class-restriction rules over asserted data — cls-hv1,
    * cls-hv2 (owl:hasValue both directions), cls-svf1
    * (owl:someValuesFrom), cls-avf (owl:allValuesFrom) — the
    * restriction-class complement of the property-axiom entailments
    * (q112/q121/q171). ONE rule application, no fixpoint: the
    * closure discipline is q91's job; this operator is the per-rule
    * derivation primitive it would iterate.
    *
    * `restrictions` is the schema-sized (cls, prop, kind, value)
    * table — kind ∈ hasValue | someValuesFrom | allValuesFrom, value
    * = the required object (hasValue) or the filler class (svf/avf).
    * It is BROADCAST on every lane: instance triples never shuffle on
    * a schema key (the q130/q159 discipline). Output is the DERIVED
    * triple set, distinct.
    */
  def restrictionEntail(triples: DataFrame, restrictions: DataFrame): DataFrame = {
    val r = restrictions.select(
      col("cls").cast("string").as("cls"), col("prop").cast("string").as("prop"),
      col("kind").cast("string").as("kind"), col("value").cast("string").as("value"))
    // fresh column names per frame: `facts` and `types` both descend
    // from `triples`, so every join below must be name-disambiguated
    // (Catalyst rejects dataset-reference self-join attributes)
    val facts = triples.select(col("s").cast("string").as("fs"),
      col("p").cast("string").as("fp"), col("o").cast("string").as("fo"))
    val types = facts.where(col("fp") === "rdf:type")
      .select(col("fs").as("inst"), col("fo").as("tcls")).distinct()
    val hv = broadcast(r.where(col("kind") === "hasValue"))
    val svf = broadcast(r.where(col("kind") === "someValuesFrom"))
    val avf = broadcast(r.where(col("kind") === "allValuesFrom"))
    // cls-hv1: x a C ⟹ x p v
    val hv1 = types.join(hv, col("tcls") === col("cls"))
      .select(col("inst").as("s"), col("prop").as("p"), col("value").as("o"))
    // cls-hv2: x p v ⟹ x a C
    val hv2 = facts.join(hv, col("fp") === col("prop") && col("fo") === col("value"))
      .select(col("fs").as("s"), lit("rdf:type").as("p"), col("cls").as("o"))
    // cls-svf1: x p y ∧ y a F ⟹ x a C
    val svf1 = facts.join(svf, col("fp") === col("prop"))
      .join(types, col("fo") === col("inst") && col("tcls") === col("value"))
      .select(col("fs").as("s"), lit("rdf:type").as("p"), col("cls").as("o"))
    // cls-avf: x a C ∧ x p y ⟹ y a F
    val avf1 = types.join(avf, col("tcls") === col("cls"))
      .join(facts, col("fs") === col("inst") && col("fp") === col("prop"))
      .select(col("fo").as("s"), lit("rdf:type").as("p"), col("value").as("o"))
    hv1.unionByName(hv2).unionByName(svf1).unionByName(avf1).distinct()
  }

  /** SHACL logical and closed-shape constraints — sh:and / sh:or /
    * sh:not / sh:xone over ATOMIC component shapes ("has at least one
    * value for predicate p", the sh:minCount-1 building block) plus
    * sh:closed with sh:ignoredProperties. Complements the value
    * (q158) and property-pair (q180) constraint lanes; together they
    * cover SHACL core's constraint-component families.
    *
    * Relational shape: one predicate-sliced presence table per
    * referenced component (filter pushes to the scan, distinct
    * (s) per predicate), then per-lane LEFT joins against the focus
    * set — no shuffle wider than (s), no window functions. sh:closed
    * is a predicate-set anti-filter on the focus-restricted triple
    * slice grouped by (s, p): the allowlist is a literal IN, never a
    * join. Violation rows: (s, violation, p1, p2, n) where n counts
    * missing conjuncts (and), constantly 1 (or), offending values
    * (not), present members (xone: 0 or 2), or offending triples
    * (closed, p1 = the disallowed predicate).
    */
  def logicalShapeViolations(triples: DataFrame, focus: DataFrame,
      andPairs: Seq[(String, String)] = Nil,
      orPairs: Seq[(String, String)] = Nil,
      notProps: Seq[String] = Nil,
      xonePairs: Seq[(String, String)] = Nil,
      closedAllowed: Option[Seq[String]] = None,
      closedIgnored: Seq[String] = Nil): DataFrame = {
    val f = focus.select(col("s").cast("string").as("s")).distinct()
    val spo = spoCols(triples)
    def has(p: String) =
      spo.where(col("p") === p).join(f, Seq("s")).select(col("s")).distinct()
    def out(rows: DataFrame, name: String, p1: String, p2: String) =
      rows.select(col("s"), lit(name).as("violation"),
        lit(p1).as("p1"), lit(p2).as("p2"), col("n"))
    def flags(p1: String, p2: String) =
      f.join(has(p1).withColumn("ina", lit(1)), Seq("s"), "left")
        .join(has(p2).withColumn("inb", lit(1)), Seq("s"), "left")
        .select(col("s"), coalesce(col("ina"), lit(0)).as("a"),
          coalesce(col("inb"), lit(0)).as("b"))
    val andV = andPairs.map { case (p1, p2) =>
      out(flags(p1, p2).where(col("a") === 0 || col("b") === 0)
        .select(col("s"), (lit(2) - col("a") - col("b")).cast("bigint").as("n")),
        "and", p1, p2)
    }
    val orV = orPairs.map { case (p1, p2) =>
      out(flags(p1, p2).where(col("a") === 0 && col("b") === 0)
        .select(col("s"), lit(1L).as("n")), "or", p1, p2)
    }
    val notV = notProps.map { p =>
      out(spo.where(col("p") === p).join(f, Seq("s"))
        .select(col("s"), col("o")).distinct()
        .groupBy(col("s")).agg(count(lit(1)).cast("bigint").as("n")),
        "not", p, "")
    }
    val xoneV = xonePairs.map { case (p1, p2) =>
      out(flags(p1, p2).where(col("a") === col("b"))
        .select(col("s"), (col("a") + col("b")).cast("bigint").as("n")),
        "xone", p1, p2)
    }
    val closedV = closedAllowed.toSeq.map { allowed =>
      val ok = (allowed ++ closedIgnored).distinct
      spo.join(f, Seq("s"))
        .where(!col("p").isInCollection(ok))
        .select(col("s"), col("p"), col("o")).distinct()
        .groupBy(col("s"), col("p")).agg(count(lit(1)).cast("bigint").as("n"))
        .select(col("s"), lit("closed").as("violation"),
          col("p").as("p1"), lit("").as("p2"), col("n"))
    }
    val all = andV ++ orV ++ notV ++ xoneV ++ closedV
    require(all.nonEmpty, "no constraints given")
    all.reduceLeft(_ unionByName _)
  }

  /** owl:hasKey sameAs inference (OWL 2 RL prp-key) — the composite
    * generalization of [[ifpSameAs]]: two instances of class C that
    * share a value COMBINATION across every key property denote the
    * same entity. Each key (C, p1..pk) builds the per-instance key
    * tuples by chaining inner joins over the per-property value
    * slices (an instance missing ANY key property contributes no
    * tuple — the rule requires a value for each; multi-valued
    * properties fan out to every combination, exactly prp-key's
    * ∃-per-property matching), then emits STAR links to the
    * per-tuple minimum subject — the q143 topology: a hot key tuple
    * costs k−1 links, never C(k,2) pairs, and downstream CC closes
    * chains across keys. Callers wanting numeric-min semantics pass
    * zero-padded subject ids (the q98 rule). Predicate filters push
    * into the scan; the window shuffles on the key tuple itself.
    */
  def hasKeySameAs(triples: DataFrame, keys: Seq[(String, Seq[String])],
      sameAsPred: String = "sameAs"): DataFrame = {
    require(keys.nonEmpty, "no hasKey axioms")
    import org.apache.spark.sql.expressions.Window
    val spo = spoCols(triples)
    val types = spo.where(col("p") === "rdf:type")
      .select(col("s"), col("o").as("cls")).distinct()
    val lanes = keys.map { case (cls, props) =>
      require(props.nonEmpty, s"hasKey for $cls has no properties")
      val typed = types.where(col("cls") === cls).select(col("s"))
      val keyed = props.zipWithIndex.foldLeft(typed) { case (acc, (p, i)) =>
        acc.join(
          spo.where(col("p") === p).select(col("s"), col("o").as(s"v$i")).distinct(),
          Seq("s"))
      }
      val w = Window.partitionBy(props.indices.map(i => col(s"v$i")): _*)
      keyed
        .withColumn("m", min(col("s")).over(w))
        .where(col("s") =!= col("m"))
        .select(col("m").as("s"), lit(sameAsPred).as("p"), col("s").as("o"))
    }
    lanes.reduceLeft(_ unionByName _).distinct()
  }

  /** k-bisimulation graph summarization — the principled quotient
    * construction behind structural KG indexes (Buneman et al.'s
    * 1-index family): two nodes are k-bisimilar when their types
    * agree and, recursively, their outgoing (predicate, class) sets
    * agree to depth k. Computed as hash-based partition refinement:
    * class₀ = md5 of the sorted type set (untyped = md5 of "");
    * classᵢ₊₁(n) = md5(classᵢ(n) ⊕ sorted distinct set of
    * (p, classᵢ(o)) over n's out-edges) — separator-disciplined
    * (chr(1)/chr(2)/chr(3), the q137 rule) so both engines hash the
    * identical byte string. Output is the depth-k QUOTIENT graph:
    * (class(s), p, class(o), edge count), classes keyed by a 12-hex
    * md5 prefix (the q45 prefix-as-string rule).
    *
    * Scale shape: each round is one edges⋈classes equi-join plus a
    * map-side-combinable sorted-set aggregation on (s) — no windows,
    * no iteration-to-fixpoint (k is FIXED, the q56 unrolled-replay
    * discipline; full-fixpoint minimization is k = diameter). The
    * edge frame is materialized once for its per-round + final
    * consumers and each round's class table is checkpointed (the q26
    * lineage lesson). Hash-as-class is sound for summarization
    * (md5 collisions would merge blocks, at 2⁻⁶⁴ scale); exact
    * RDFC-grade labeling is q128's job, not this operator's.
    */
  def bisimulationSummary(types: DataFrame, edges: DataFrame,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 4, "rounds in [1,4]")
    val e = edges.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
      .distinct().localCheckpoint(true)
    val ty = types.select(col("s").cast("string").as("s"),
      col("t").cast("string").as("t")).distinct()
    val nodes = e.select(col("s")).union(e.select(col("o").as("s")))
      .union(ty.select(col("s"))).distinct()
    val t0 = ty.groupBy(col("s"))
      .agg(array_join(sort_array(collect_set(col("t"))), "\u0001").as("tv"))
    var cls = nodes.join(t0, Seq("s"), "left")
      .select(col("s").as("node"), md5(coalesce(col("tv"), lit(""))).as("cls"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val co = cls.select(col("node").as("o"), col("cls").as("clsO"))
      val sig = e.join(co, Seq("o"))
        .select(col("s"), concat_ws("\u0001", col("p"), col("clsO")).as("item"))
        .groupBy(col("s"))
        .agg(array_join(sort_array(collect_set(col("item"))), "\u0002").as("sig"))
      cls = cls.join(sig, cls("node") === sig("s"), "left")
        .select(col("node"),
          md5(concat(col("cls"), lit("\u0003"), coalesce(col("sig"), lit("")))).as("cls"))
        .localCheckpoint(true)
    }
    val cs = cls.select(col("node").as("s"), col("cls").as("clsS"))
    val co2 = cls.select(col("node").as("o"), col("cls").as("clsO"))
    e.join(cs, Seq("s")).join(co2, Seq("o"))
      .groupBy(substring(col("clsS"), 1, 12).as("cs"), col("p"),
        substring(col("clsO"), 1, 12).as("co"))
      .agg(count(lit(1)).cast("bigint").as("n"))
  }

  /** SHACL shapes whose sh:path is a PROPERTY PATH — sequence,
    * inverse, alternation, closures: anything [[path]]'s algebra
    * evaluates — with sh:minCount/sh:maxCount on the reached value
    * set. The glue between the q94/q158/q180/q182 constraint lanes
    * (all direct-predicate) and the q96/q147 path algebra: "every
    * employee's org has ≥1 manager" is a 2-step sequence path
    * cardinality, inexpressible as a single-predicate shape.
    *
    * Per shape: one path evaluation (inheriting the path algebra's
    * pushdown/doubling discipline), one LEFT join from the focus set,
    * one count per focus node — path values are DISTINCT by [[path]]'s
    * contract, so the count is the spec's value-set cardinality.
    * Violations: (s, shape, 'minCount'|'maxCount', n).
    */
  def validatePathShapes(triples: DataFrame, focus: DataFrame,
      shapes: Seq[(String, Seq[PathStep], Int, Int)]): DataFrame = {
    require(shapes.nonEmpty, "no shapes given")
    val f = focus.select(col("s").cast("string").as("s")).distinct()
    val lanes = shapes.map { case (name, steps, minC, maxC) =>
      require(minC >= 0 && maxC >= minC, s"bad cardinality bounds for $name")
      val pairs = path(triples, steps).select(col("src").as("s"), col("dst"))
      val counts = f.join(pairs, Seq("s"), "left")
        .groupBy(col("s")).agg(count(col("dst")).cast("bigint").as("n"))
      counts.where(col("n") < minC)
        .select(col("s"), lit(name).as("shape"),
          lit("minCount").as("violation"), col("n"))
        .unionByName(counts.where(col("n") > maxC)
          .select(col("s"), lit(name).as("shape"),
            lit("maxCount").as("violation"), col("n")))
    }
    lanes.reduceLeft(_ unionByName _)
  }

  /** SHACL sh:qualifiedValueShape with sh:qualifiedMinCount /
    * sh:qualifiedMaxCount — the last core constraint-component family
    * after the value (q158), pair (q180), logical/closed (q182) and
    * path-cardinality (q194) lanes: a focus node needs BETWEEN min
    * and max values of `prop` that CONFORM to the inner shape, here
    * the sh:class atom "value is an instance of `valueClass`"
    * (reference spec: SHACL core §4.7.1-2). Unlike plain
    * minCount/maxCount (q94/q194), only the conforming SUBSET of the
    * value set is counted — non-conforming values neither help nor
    * hurt.
    *
    * Relational shape: the conforming value set is the rdf:type slice
    * filtered to `valueClass` (both filters push to the scan),
    * semi-joined into the `prop` value slice on the VALUE — one
    * equi-join keyed on the object, then one map-side-combinable
    * count per focus node and a LEFT join from the focus set so
    * zero-conforming nodes surface for the min lane. No windows, no
    * shuffle wider than (s). Violations: (s, violation, n) with
    * violation ∈ qualifiedMin | qualifiedMax and n = the conforming
    * count.
    */
  def qualifiedShapeViolations(triples: DataFrame, focus: DataFrame,
      prop: String, valueClass: String, minCount: Int, maxCount: Int): DataFrame = {
    require(minCount >= 0 && maxCount >= minCount,
      "qualified cardinality bounds need 0 <= min <= max")
    val f = focus.select(col("s").cast("string").as("s")).distinct()
    val spo = spoCols(triples)
    val conforming = spo
      .where(col("p") === "rdf:type" && col("o") === valueClass)
      .select(col("s").as("v")).distinct()
    val vals = spo.where(col("p") === prop)
      .select(col("s"), col("o").as("v")).distinct()
    val counts = f
      .join(vals.join(conforming, Seq("v")), Seq("s"), "left")
      .groupBy(col("s")).agg(count(col("v")).cast("bigint").as("n"))
    counts.where(col("n") < minCount)
      .select(col("s"), lit("qualifiedMin").as("violation"), col("n"))
      .unionByName(counts.where(col("n") > maxCount)
        .select(col("s"), lit("qualifiedMax").as("violation"), col("n")))
  }

  /** SPARQL ORDER BY total term ordering (spec §15.1 extended to a
    * deterministic total order): unbound < blank nodes < IRIs <
    * literals, numeric literals before other literals ordered by
    * VALUE (integer-exact — xsd:integer only), remaining literals by
    * lexical form, and a caller-supplied unique tiebreak closing the
    * order (the q103 rule — LIMIT over an undefined equal-key order
    * is nondeterministic in both engines). Spec §15.1 leaves the
    * cross-kind order implementation-defined beyond <; this operator
    * PINS the documented one.
    *
    * Scale shape: orderBy().limit(k) plans as TakeOrderedAndProject —
    * per-partition top-k then a k-row driver merge, never a global
    * sort — and the rank window runs on the k surviving rows only.
    * The numeric decode rides a CASE guard (the q180 ANSI-cast
    * pushdown lesson).
    */
  def termOrderTopK(solutions: DataFrame, termCol: String, tieCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 10000, "k in [1,10000]")
    import org.apache.spark.sql.expressions.Window
    val term = col(termCol)
    val kind = when(term.isNull, 0)
      .when(term.startsWith("_:"), 1)
      .when(term.startsWith("\""), 3)
      .otherwise(2)
    val numVal = when(term.rlike("^\"-?[0-9]+\"\\^\\^xsd:integer$"),
      regexp_extract(term, "^\"(-?[0-9]+)\"", 1).cast("bigint"))
    val numFlag = when(kind === 3 && numVal.isNull, 1).otherwise(0)
    val keys = Seq(kind.as("k0"), numFlag.as("k1"),
      coalesce(numVal, lit(0L)).as("k2"),
      coalesce(term, lit("")).as("k3"), col(tieCol).as("k4"))
    val ordered = solutions.select((solutions.columns.map(col) ++ keys): _*)
      .orderBy(col("k0"), col("k1"), col("k2"), col("k3"), col("k4"))
      .limit(k)
    ordered
      .withColumn("rank", row_number().over(Window.orderBy(
        col("k0"), col("k1"), col("k2"), col("k3"), col("k4"))).cast("bigint"))
      .drop("k0", "k1", "k2", "k3", "k4")
  }

  /** AMIE-style chain-rule mining: score every candidate Horn rule
    * head(x, y) ← b1(x, z) ∧ b2(z, y) over the predicate inventory by
    * SUPPORT (distinct (x, y) pairs satisfying body AND head) and
    * CPA-style CONFIDENCE (support / distinct body pairs, truncating
    * ppm — the q62 integer-ratio rule). The schema side (predicate
    * combinations) is enumeration-free here: the body join itself
    * carries the predicate pair as group keys, so one corpus-scale
    * join on the chain variable z scores EVERY rule at once.
    *
    * Skew guard as operator CONTRACT (the q178 hub-cap rule): a z
    * whose in-degree × out-degree product exceeds `maxZFanout` is
    * excluded from chaining entirely — at web scale a hub entity
    * (a country, a year) would otherwise quadratically dominate the
    * join; the oracle replays the same exclusion. Body pairs dedup
    * BEFORE the head join; the head join keys on (x, y).
    *
    * Output: (head, b1, b2, support, body_n, conf_ppm) for rules with
    * support ≥ minSupport.
    */
  def mineChainRules(triples: DataFrame, minSupport: Long = 1L,
      maxZFanout: Long = 1000000L): DataFrame = {
    val spo = spoCols(triples).distinct().localCheckpoint(true)
    val inDeg = spo.groupBy(col("o")).agg(count(lit(1)).as("ind"))
    val outDeg = spo.groupBy(col("s")).agg(count(lit(1)).as("outd"))
    val okZ = inDeg.join(outDeg, inDeg("o") === outDeg("s"))
      .where(col("ind") * col("outd") <= maxZFanout)
      .select(col("o").as("z"))
    val leg1 = spo.select(col("s").as("x"), col("p").as("b1"), col("o").as("z"))
      .join(okZ, Seq("z"))
    val leg2 = spo.select(col("s").as("z"), col("p").as("b2"), col("o").as("y"))
    val body = leg1.join(leg2, Seq("z"))
      .select(col("b1"), col("b2"), col("x"), col("y")).distinct()
      .localCheckpoint(true) // consumed by the body census AND the head join
    val bodyN = body.groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("body_n"))
    val head = spo.select(col("p").as("head"), col("s").as("x"), col("o").as("y"))
    val support = body.join(head, Seq("x", "y"))
      .groupBy(col("head"), col("b1"), col("b2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    support.join(bodyN, Seq("b1", "b2"))
      .select(col("head"), col("b1"), col("b2"),
        col("support").cast("bigint").as("support"),
        col("body_n").cast("bigint").as("body_n"),
        expr("support * 1000000 div body_n").cast("bigint").as("conf_ppm"))
  }

  /** OWL 2 RL property-axiom constraint checks — the false-detection
    * rules that complement [[disjointViolations]]' class lane:
    * prp-asyp (owl:AsymmetricProperty: x p y ∧ y p x), prp-pdw
    * (owl:propertyDisjointWith: x p1 y ∧ x p2 y), prp-npa1 (a
    * negative property assertion contradicted by an asserted triple)
    * and eq-diff1 (x sameAs y ∧ x differentFrom y, matched in either
    * differentFrom direction — the relation is symmetric). Output is
    * one distinct (violation, x, y, p) row per witness pair;
    * asymmetric witnesses report once in canonical x <= y order.
    *
    * Every lane is a predicate-constant slice (pushdown) joined on
    * its witness key — (s, o) or reversed — so the shuffles are
    * key-sized and the negative-assertion table (schema-scale, like
    * all TBox inputs) broadcasts under AQE. No fixpoint: these are
    * single-application consistency rules.
    */
  def propertyAxiomViolations(triples: DataFrame,
      asymmetricProps: Seq[String] = Nil,
      disjointPropPairs: Seq[(String, String)] = Nil,
      negativeAssertions: Option[DataFrame] = None,
      sameAsPred: String = "sameAs",
      differentFromPred: String = "differentFrom",
      checkEqDiff: Boolean = false): DataFrame = {
    val spo = spoCols(triples)
    def slice(p: String) =
      spo.where(col("p") === p).select(col("s"), col("o")).distinct()
    def out(rows: DataFrame, name: String, p: String) =
      rows.select(lit(name).as("violation"), col("x"), col("y"), lit(p).as("p"))
    val asymV = asymmetricProps.map { p =>
      val fwd = slice(p)
      val rev = slice(p).select(col("o").as("s"), col("s").as("o"))
      out(fwd.join(rev, Seq("s", "o"))
        .where(col("s") <= col("o"))
        .select(col("s").as("x"), col("o").as("y")),
        "asymmetric", p)
    }
    val pdwV = disjointPropPairs.map { case (p1, p2) =>
      out(slice(p1).join(slice(p2), Seq("s", "o"))
        .select(col("s").as("x"), col("o").as("y")),
        "disjointProp", s"$p1/$p2")
    }
    val npaV = negativeAssertions.toSeq.map { neg =>
      val n = neg.select(col("s").cast("string").as("s"),
        col("p").cast("string").as("p"), col("o").cast("string").as("o")).distinct()
      spo.join(n, Seq("s", "p", "o"))
        .select(lit("negAssert").as("violation"), col("s").as("x"),
          col("o").as("y"), col("p"))
    }
    val eqDiffV = if (!checkEqDiff) Nil else {
      val sa = slice(sameAsPred)
      val df0 = slice(differentFromPred)
      val df = df0.union(df0.select(col("o").as("s"), col("s").as("o"))).distinct()
      Seq(out(sa.join(df, Seq("s", "o"))
        .select(col("s").as("x"), col("o").as("y")),
        "eqDiff", sameAsPred))
    }
    val all = asymV ++ pdwV ++ npaV ++ eqDiffV
    require(all.nonEmpty, "no axioms given")
    all.reduceLeft(_ unionByName _).distinct()
  }

  def disjointViolations(types: DataFrame, disjoint: DataFrame): DataFrame = {
    val t = types.select(col(types.columns(0)).cast("string").as("inst"),
      col(types.columns(1)).cast("string").as("cls")).distinct()
    val d = broadcast(disjoint.select(
      col(disjoint.columns(0)).cast("string").as("a"),
      col(disjoint.columns(1)).cast("string").as("b")).distinct())
    d.join(t.select(col("inst"), col("cls").as("a")), Seq("a"))
      .join(t.select(col("inst"), col("cls").as("b")), Seq("inst", "b"))
      .select(col("inst"), col("a"), col("b"))
      .distinct()
  }

  /** Basic-graph-pattern matcher over an (s, p, o) frame — the SPARQL
    * BGP core as a Catalyst plan. Each pattern term is either a
    * constant (filters its slice; constant predicates push into the
    * parquet scan as `p = '...'`) or a `?var` (projects to a column
    * named after the variable); a variable repeated WITHIN one pattern
    * becomes an equality filter on that slice. Slices then join
    * left-to-right on their shared variables — standard SPARQL bag
    * semantics over a set-valued triple table.
    *
    * Join order is the caller's (list selective patterns first — the
    * SPARQL engine's selectivity heuristic, made explicit); AQE
    * broadcasts bounded slices (e.g. a label vocabulary) at runtime.
    * A pattern sharing NO variable with the accumulated prefix is a
    * cartesian product and is rejected eagerly — at corpus scale that
    * plan is never intended.
    */
  def bgp(triples: DataFrame, patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    patterns.map(patternSlice(triples, _)).reduceLeft(joinOnShared)
  }

  /** Left-deep equi-join of two solution slices on their shared
    * variables; a sliceless join is a cartesian product and is
    * rejected eagerly — at corpus scale that plan is never intended.
    */
  private def joinOnShared(acc: DataFrame, nxt: DataFrame): DataFrame = {
    val shared = acc.columns.intersect(nxt.columns).toSeq
    require(shared.nonEmpty,
      "BGP pattern shares no variable with the prefix — cartesian product; reorder patterns")
    acc.join(nxt, shared)
  }

  /** The telescoped delta sum shared by [[bgpDelta]] and
    * [[bgpDeltaRetract]]: term i anchors pattern i on the `delta`
    * slice, patterns before i on `prefix`, patterns after i on
    * `suffix` — each delta-using solution is produced by exactly one
    * term (its last delta position when prefix ⊇ suffix, its first
    * when prefix ⊆ suffix).
    */
  private def telescope(prefix: DataFrame, delta: DataFrame, suffix: DataFrame,
      patterns: Seq[(String, String, String)]): DataFrame = {
    val terms = patterns.indices.map { i =>
      patterns.zipWithIndex.map { case (pat, j) =>
        patternSlice(if (j < i) prefix else if (j == i) delta else suffix, pat)
      }.reduceLeft(joinOnShared)
    }
    terms.reduceLeft(_ unionByName _).distinct()
  }

  /** One triple pattern's solution slice (shared by [[bgp]] and
    * [[bgpDelta]]): constants filter, variables project, a variable
    * repeated within the pattern equi-filters.
    */
  private def patternSlice(triples: DataFrame, pat: (String, String, String)): DataFrame = {
    val terms = Seq(pat._1, pat._2, pat._3).zip(Seq("s", "p", "o"))
    val filtered = terms.foldLeft(triples) { case (df, (term, c)) =>
      if (term.startsWith("?")) df else df.where(col(c) === lit(term))
    }
    val varCols = terms.collect { case (t, c) if t.startsWith("?") => (t.drop(1), c) }
    require(varCols.nonEmpty, "pattern with no variables selects nothing")
    val byVar = varCols.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val eqFiltered = byVar.values.filter(_.size > 1).foldLeft(filtered) { (df, cs) =>
      cs.sliding(2).foldLeft(df)((d, pair) => d.where(col(pair(0)) === col(pair(1))))
    }
    eqFiltered.select(byVar.toSeq.sortBy(_._1).map { case (v, cs) => col(cs.head).as(v) }: _*)
  }

  /** Incremental BGP view maintenance under triple ADDITIONS — the
    * delta-join telescoping rule: the NEW solutions of a BGP after
    * `added` lands are
    *
    *   Δ(P₁ ⋈ … ⋈ Pₙ) = Σᵢ  P₁..Pᵢ₋₁(old∪Δ) ⋈ Pᵢ(Δ) ⋈ Pᵢ₊₁..Pₙ(old)
    *
    * — each solution that uses at least one added triple is produced
    * by exactly ONE term (the one whose i is its LAST delta position),
    * so the union is exact without inter-term dedup; the final
    * distinct only restores set semantics when the same binding has
    * multiple witnesses, the same rule as [[bgp]] composition.
    *
    * This is the KG-construction maintenance operator: a TB-sized
    * materialized view answers a crawl increment by joining the
    * CRAWL-SIZED delta against the base — never re-running the view.
    * Every term anchors on a Δ slice, so work scales with the
    * increment (AQE broadcasts the delta slices); the old/full sides
    * keep [[bgp]]'s predicate pushdown.
    */
  def bgpDelta(base: DataFrame, added: DataFrame,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    // a re-asserted triple is NOT an addition to a graph SET — drop it
    // before telescoping, which also makes the term union exact under
    // set semantics (bgp projects every variable, so a binding
    // determines its witness triples: no binding can have both an
    // all-old and a delta-using witness once the delta is genuinely new)
    val baseT = spoCols(base)
    val delta = spoCols(added).join(baseT, Seq("s", "p", "o"), "left_anti").localCheckpoint(true)
    telescope(baseT.unionByName(delta), delta, baseT, patterns)
  }

  /** Incremental BGP view maintenance under triple DELETIONS — the
    * retraction mirror of [[bgpDelta]]: the solutions a BGP LOSES when
    * `removed` is retracted are
    *
    *   Δ⁻(P₁ ⋈ … ⋈ Pₙ) = Σᵢ  P₁..Pᵢ₋₁(base∖Δ) ⋈ Pᵢ(Δ) ⋈ Pᵢ₊₁..Pₙ(base)
    *
    * — each lost solution is produced by exactly ONE term (its FIRST
    * delta position). Retracting a triple that was never asserted
    * retracts nothing (Δ := removed ∩ base, a semi-join). Because
    * [[bgp]] projects every variable, a binding determines its witness
    * triples, so the telescoped sum IS sols(base) ∖ sols(base∖Δ) — no
    * re-derivation pass is needed (the DRed over-delete/re-derive
    * split collapses for full-projection BGPs). Work scales with the
    * retraction batch, never the view.
    */
  def bgpDeltaRetract(base: DataFrame, removed: DataFrame,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    val baseT = spoCols(base)
    val delta = spoCols(removed).join(baseT, Seq("s", "p", "o"), "left_semi").localCheckpoint(true)
    val remain = baseT.join(delta, Seq("s", "p", "o"), "left_anti")
    telescope(remain, delta, baseT, patterns)
  }

  /** Retraction maintenance for a PROJECTED BGP view — the case where
    * the [[bgpDeltaRetract]] collapse does NOT apply: once the view
    * projects away variables, one projected tuple can have MANY
    * witness derivations, so losing a witness is not losing the tuple.
    * This is the full DRed split the q116/q118 Scaladoc fences off:
    *
    *   over-delete: projections of every full solution that used a
    *     removed triple — the q118 first-delta telescope, work ∝ the
    *     retraction batch;
    *   re-derive:  an over-deleted tuple SURVIVES if any alternative
    *     derivation remains in base∖Δ — checked by anti-joining the
    *     candidates against the remaining view's projection.
    *
    * The re-derive pass here evaluates the remaining BGP and
    * semi-restricts to candidates; at 100 TB the refinement is to SEED
    * the pattern slices with the candidate bindings (making re-derive
    * work ∝ candidates, DRed's production form) — the two are
    * value-identical, and the oracle is the definitional
    * proj(sols(base)) ∖ proj(sols(base∖Δ)) either way.
    */
  def bgpDeltaRetractProjected(base: DataFrame, removed: DataFrame,
      patterns: Seq[(String, String, String)], projectVars: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    require(projectVars.nonEmpty, "no projected variables")
    val names = projectVars.map(_.stripPrefix("?"))
    val baseT = spoCols(base)
    val delta = spoCols(removed).join(baseT, Seq("s", "p", "o"), "left_semi")
      .localCheckpoint(true)
    val remain = baseT.join(delta, Seq("s", "p", "o"), "left_anti").localCheckpoint(true)
    val overDel = telescope(remain, delta, baseT, patterns)
      .select(names.map(col): _*).distinct()
    val reDerived = bgp(remain, patterns).select(names.map(col): _*).distinct()
    overDel.join(reDerived, names, "left_anti")
  }

  private def spoCols(df: DataFrame): DataFrame =
    df.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))

  /** BGP with SPARQL OPTIONAL semantics: each optional group is a BGP
    * of its own, left-joined onto the required match on their shared
    * variables — a group matches AS A WHOLE or contributes all-null
    * bindings (SPARQL's leftjoin algebra: a worksFor edge to an org
    * with no label binds NEITHER ?org nor ?lbl). Same slice/pushdown
    * properties as [[bgp]]; each group must share ≥1 variable with the
    * required part (an unanchored optional is a cartesian).
    */
  def bgpOptional(triples: DataFrame, required: Seq[(String, String, String)],
      optionalGroups: Seq[Seq[(String, String, String)]]): DataFrame =
    optionalGroups.foldLeft(bgp(triples, required)) { (acc, group) =>
      val opt = bgp(triples, group)
      val shared = acc.columns.intersect(opt.columns).toSeq
      require(shared.nonEmpty,
        "OPTIONAL group shares no variable with the required pattern — cartesian product")
      acc.join(opt, shared, "left")
    }

  /** OPTIONAL with an inner FILTER — the spec's left-join ON-condition
    * semantics (SPARQL §6.2/algebra LeftJoin(Ω1, Ω2, expr)): the
    * filter participates in the MATCH decision, so a solution whose
    * optional match fails the filter still appears WITH the optional
    * variables unbound — materially different from filtering after
    * the join, which would drop the whole solution. Each group is
    * (patterns, filter): the filter Column may reference required and
    * optional variables by name (`col("price") <= col("budget")`);
    * shared join columns are internally renamed so the condition
    * never goes ambiguous. One left join per group, the
    * [[bgpOptional]] cost shape.
    */
  def bgpOptionalFiltered(triples: DataFrame,
      required: Seq[(String, String, String)],
      optionalGroups: Seq[(Seq[(String, String, String)], org.apache.spark.sql.Column)]): DataFrame =
    optionalGroups.foldLeft(bgp(triples, required)) { case (acc, (group, filter)) =>
      val opt = bgp(triples, group)
      val shared = acc.columns.intersect(opt.columns).toSeq
      require(shared.nonEmpty,
        "OPTIONAL group shares no variable with the required pattern — cartesian product")
      val renamed = shared.foldLeft(opt)((d, c) => d.withColumnRenamed(c, c + "__opt"))
      val cond = shared.map(c => acc(c) === renamed(c + "__opt")).reduce(_ && _) && filter
      acc.join(renamed, cond, "left").drop(shared.map(_ + "__opt"): _*)
    }

  /** SPARQL MINUS: drop required-pattern solutions that are compatible
    * with ANY solution of a minus group — an anti-join on the shared
    * variables. Faithful to the spec's domain rule: a minus group
    * sharing NO variable with the required pattern removes NOTHING
    * (dom(μ1) ∩ dom(μ2) = ∅ ⇒ not excluded), so unlike
    * [[bgpOptional]] an unanchored group is a no-op, not an error.
    */
  def bgpMinus(triples: DataFrame, required: Seq[(String, String, String)],
      minusGroups: Seq[Seq[(String, String, String)]]): DataFrame =
    minusGroups.foldLeft(bgp(triples, required)) { (acc, group) =>
      val m = bgp(triples, group)
      val shared = acc.columns.intersect(m.columns).toSeq
      if (shared.isEmpty) acc else acc.join(m, shared, "left_anti")
    }

  /** SPARQL FILTER EXISTS / NOT EXISTS: keep (negate=false) or drop
    * (negate=true) solutions for which the filter group — with the
    * solution's bindings substituted — has at least one match. Over
    * BGP solutions (bindings never null) substitution is exactly a
    * semi/anti join on the shared variables, so both polarities are
    * one shuffle-or-broadcast join with no row multiplication.
    *
    * Composable over a SOLUTIONS frame (the algebra's Filter applies
    * to any group graph pattern's solutions), so EXISTS and NOT
    * EXISTS chain over [[bgp]]/[[bgpOptional]]/[[bgpUnion]] output.
    *
    * The spec-famous divergence from [[bgpMinus]] is the
    * disjoint-domain case: a group sharing NO variable is evaluated
    * as a CLOSED pattern — if it matches anything at all, EXISTS
    * keeps every solution and NOT EXISTS drops every one (whereas
    * MINUS removes nothing there). That case reduces to a ≤1-row
    * broadcast gate (`limit(1)`) — the q80 bounded-probe shape, an
    * intentional 1-row nested loop, never a data-sized cartesian.
    */
  def filterExists(solutions: DataFrame, triples: DataFrame,
      group: Seq[(String, String, String)], negate: Boolean = false): DataFrame = {
    val g = bgp(triples, group)
    val shared = solutions.columns.intersect(g.columns).toSeq
    if (shared.nonEmpty)
      solutions.join(g, shared, if (negate) "left_anti" else "left_semi")
    else {
      val gate = broadcast(g.limit(1).select(lit(1).as("__exists")))
      if (negate)
        solutions.join(gate, lit(true), "left").where(col("__exists").isNull)
          .select(solutions.columns.map(col): _*)
      else
        solutions.join(gate, lit(true), "inner")
          .select(solutions.columns.map(col): _*)
    }
  }

  /** SPARQL solution modifiers — the SELECT-clause tail (DISTINCT →
    * ORDER BY → OFFSET → LIMIT, the spec's application order) as one
    * operator over any solution frame. Sort-then-limit collapses to
    * TakeOrderedAndProject (per-partition top-(offset+limit) heaps, no
    * global sort materialization), so a top-k over a TB solution set
    * moves k rows per partition, not the set.
    *
    * Determinism discipline: when LIMIT/OFFSET is set the ordering
    * must be TOTAL (include a tiebreak column — SPARQL leaves
    * equal-key order undefined, a value-exact pipeline must not), and
    * this is asserted, not assumed: `orderBy` must be non-empty.
    */
  def solutionModifiers(solutions: DataFrame, distinct: Boolean = false,
      orderBy: Seq[(String, Boolean)] = Nil, offset: Int = 0,
      limit: Int = -1): DataFrame = {
    require(limit < 0 && offset == 0 || orderBy.nonEmpty,
      "LIMIT/OFFSET without ORDER BY selects a nondeterministic slice")
    val d = if (distinct) solutions.distinct() else solutions
    val ordered =
      if (orderBy.isEmpty) d
      else d.orderBy(orderBy.map { case (v, asc) =>
        if (asc) col(v).asc else col(v).desc }: _*)
    val off = if (offset > 0) ordered.offset(offset) else ordered
    if (limit >= 0) off.limit(limit) else off
  }

  /** SPARQL ASK: does the BGP have at least one solution? One row,
    * one boolean column — `limit(1)` bounds the scan (the engine
    * short-circuits the first match through the whole plan).
    */
  def ask(triples: DataFrame, patterns: Seq[(String, String, String)]): DataFrame =
    bgp(triples, patterns).limit(1)
      .agg(count(lit(1)).as("n")).select((col("n") > 0).as("matched"))

  /** owl:sameAs canonicalization — the identity-resolution step of KG
    * construction: cluster the `sameAsPred` link graph with
    * [[KgPipeline.connectedComponents]] (alternating large-star/
    * small-star, O(log n) rounds; sameAs is symmetric and transitive,
    * which is exactly the connectivity closure), elect the
    * lexicographic-minimum member as each cluster's canonical IRI, and
    * rewrite EVERY other triple's subject and object onto the
    * canonicals. Output is the set-deduped canonical graph with the
    * consumed sameAs triples dropped.
    *
    * Scale shape: identity links are sparse relative to the corpus, so
    * CC runs on the small predicate slice; the rewrite is two joins of
    * the TB-sized triple table against the canonical map (AQE
    * broadcasts it when small) plus the final set-dedup shuffle —
    * which is the POINT of the operator: merging identities is what
    * creates the duplicates the distinct removes. Entities with no
    * sameAs link pass through via the left-join coalesce; literal
    * objects never match the map and are untouched.
    */
  def sameAsCanonicalize(triples: DataFrame, sameAsPred: String = "sameAs"): DataFrame = {
    val sa = triples.where(col("p") === sameAsPred)
      .select(col("s").cast("string").as("a"), col("o").cast("string").as("b"))
    val canon = KgPipeline.connectedComponents(sa)
      .select(col("node"), col("component"))
    val rest = triples.where(col("p") =!= sameAsPred).select(
      col("s").cast("string").as("s"), col("p").cast("string").as("p"),
      col("o").cast("string").as("o"))
    rest
      .join(canon.select(col("node").as("s"), col("component").as("sc")), Seq("s"), "left")
      .join(canon.select(col("node").as("o"), col("component").as("oc")), Seq("o"), "left")
      .select(coalesce(col("sc"), col("s")).as("s"), col("p"),
        coalesce(col("oc"), col("o")).as("o"))
      .distinct()
  }

  /** FILTER EXISTS / NOT EXISTS over solutions that may carry UNBOUND
    * variables (OPTIONAL-fed) — the spec corner [[filterExists]]'s
    * plain semi/anti join gets wrong: substitute(pattern, μ) replaces
    * only the BOUND variables, an unbound one stays a free variable in
    * the pattern, so the existence check is UNCONSTRAINED on it. Join
    * condition per shared variable: `sol.v IS NULL OR sol.v = grp.v`.
    * The group's solution set broadcasts when small (the common
    * EXISTS); a solution matching several group rows still appears
    * once (semi/anti, never a fan-out).
    */
  def filterExistsUnbound(solutions: DataFrame, triples: DataFrame,
      group: Seq[(String, String, String)], negate: Boolean = false): DataFrame = {
    val g = bgp(triples, group)
    val shared = solutions.columns.intersect(g.columns).toSeq
    require(shared.nonEmpty, "EXISTS group shares no variable — use filterExists for the closed form")
    val r = shared.foldLeft(g.select(shared.map(col): _*).distinct())(
      (d, c) => d.withColumnRenamed(c, c + "__g"))
    val cond = shared.map(c => solutions(c).isNull || solutions(c) === r(c + "__g"))
      .reduce(_ && _)
    solutions.join(r, cond, if (negate) "left_anti" else "left_semi")
  }

  /** RDF-star (RDF 1.2) quoted-triple terms over the layer's string
    * convention: a quoted triple `<< s p o >>` is ONE term usable in
    * subject/object position — the edge-annotation idiom (confidence,
    * provenance, temporal scope on a statement) that classic
    * reification (q123) needs four triples for. [[quoteTriple]] builds
    * the canonical encoding; [[unquoteTriple]] projects it back to
    * (qs, qp, qo) columns (empty on non-quoted terms). Components must
    * be space-free (the fixture/IRI discipline of this layer — IRIs
    * and the layer's node ids never carry spaces); both directions are
    * pure codegen string ops.
    */
  def quoteTriple(s: org.apache.spark.sql.Column, p: org.apache.spark.sql.Column,
      o: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<<"), s, lit(" "), p, lit(" "), o, lit(">>"))

  val QuotedTripleRe = "^<<(\\S+) (\\S+) (\\S+)>>$"

  def unquoteTriple(term: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(regexp_extract(term, QuotedTripleRe, 1).as("qs"),
      regexp_extract(term, QuotedTripleRe, 2).as("qp"),
      regexp_extract(term, QuotedTripleRe, 3).as("qo"))

  /** SPARQL-star basic pattern `<< ?qs P ?qo >> A ?v`: solutions of
    * annotation triples whose subject is a quoted triple with
    * predicate `quotedPred`, projected to (qs, qo, v). The annotation
    * predicate filter pushes into the scan; the unquote is a codegen
    * regexp projection — no joins at all for the single-pattern form.
    */
  def starAnnotations(triples: DataFrame, quotedPred: String,
      annotPred: String): DataFrame = {
    val spo = spoCols(triples)
    spo.where(col("p") === annotPred && col("s").rlike(QuotedTripleRe))
      .select(unquoteTriple(col("s")) :+ col("o").as("v"): _*)
      .where(col("qp") === quotedPred)
      .select(col("qs"), col("qo"), col("v"))
  }

  /** OWL 2 RL prp-eqp: owl:equivalentProperty entailment — every
    * triple asserted under one property of an equivalence class holds
    * under ALL of them. The class structure is the symmetric-
    * transitive closure of the (schema-sized) equivalence pairs,
    * computed by [[transitiveClosure]] on the tiny predicate graph and
    * BROADCAST into one fan-out join against the instance data —
    * instance triples never shuffle, output is the entailed set
    * (asserted ∪ derived, distinct).
    */
  def equivPropEntail(triples: DataFrame, equiv: DataFrame): DataFrame = {
    val spo = spoCols(triples)
    val pairs = equiv.select(
        col(equiv.columns(0)).cast("string").as("a"),
        col(equiv.columns(1)).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val sym = pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b"))).distinct()
    val closure = transitiveClosure(sym.select(col("a").as("sub"), col("b").as("sup")))
      .select(col("sub").as("p"), col("sup").as("q"))
    spo.join(broadcast(closure), Seq("p"))
      .select(col("s"), col("q").as("p"), col("o"))
      .unionByName(spo)
      .distinct()
  }

  /** owl:InverseFunctionalProperty sameAs INFERENCE — the discovery
    * half of KG identity resolution ([[sameAsCanonicalize]] is the
    * consumption half): two subjects asserting the SAME value under an
    * IFP (email, ISBN, …) denote the same entity, so each shared
    * (p, o) value group yields sameAs links. Emitted as a STAR to the
    * group's lexicographic-minimum subject, not all-pairs: a hot value
    * shared by k subjects costs k−1 links instead of k², and the star
    * has the identical connected-component closure (every member
    * reaches the min directly), so downstream canonicalization is
    * value-equivalent to the quadratic form. Chains ACROSS values and
    * across different IFPs merge in the CC pass, not here — this
    * operator is deliberately one window pass over the IFP slice
    * (predicate filter pushes into the scan; the window partitions by
    * the (p, o) value, the natural shuffle key).
    */
  def ifpSameAs(triples: DataFrame, ifpPreds: Seq[String],
      sameAsPred: String = "sameAs"): DataFrame = {
    require(ifpPreds.nonEmpty, "no inverse-functional predicates")
    import org.apache.spark.sql.expressions.Window
    val slice = spoCols(triples).where(col("p").isInCollection(ifpPreds))
      .select(col("p"), col("o"), col("s")).distinct()
    slice
      .withColumn("m", min(col("s")).over(Window.partitionBy(col("p"), col("o"))))
      .where(col("s") =!= col("m"))
      .select(col("m").as("s"), lit(sameAsPred).as("p"), col("s").as("o"))
      .distinct()
  }

  /** owl:FunctionalProperty sameAs inference (OWL 2 RL prp-fp) — the
    * mirror of [[ifpSameAs]]: a functional property has at most ONE
    * value per subject, so two OBJECTS asserted for the same subject
    * denote the same entity. Star links to the per-(p, s) minimum
    * object (the q143 k−1 topology: identical CC closure as all-pairs,
    * linear cost on hot subjects); chains across subjects/properties
    * merge in the downstream canonicalization pass, not here. One
    * window pass over the FP slice; the predicate filter pushes into
    * the scan and (p, s) is the natural shuffle key.
    */
  def fpSameAs(triples: DataFrame, fpPreds: Seq[String],
      sameAsPred: String = "sameAs"): DataFrame = {
    require(fpPreds.nonEmpty, "no functional predicates")
    import org.apache.spark.sql.expressions.Window
    val slice = spoCols(triples).where(col("p").isInCollection(fpPreds))
      .select(col("p"), col("s"), col("o")).distinct()
    slice
      .withColumn("m", min(col("o")).over(Window.partitionBy(col("p"), col("s"))))
      .where(col("o") =!= col("m"))
      .select(col("m").as("s"), lit(sameAsPred).as("p"), col("o"))
      .distinct()
  }

  /** SPARQL UNION of BGP groups: solutions of every group, aligned on
    * the union of their variable sets — a variable absent from a group
    * is unbound (null) in that group's rows, the spec's semantics.
    * SPARQL UNION is a bag union, but over a set-valued triple table
    * each group is already duplicate-free; the cross-group result may
    * repeat a binding found by two groups (kept — bag semantics; add
    * `.distinct()` downstream for DISTINCT queries). Each group keeps
    * [[bgp]]'s pushdown/join discipline; groups do NOT need to share
    * variables (unlike OPTIONAL/joins, UNION never multiplies).
    */
  def bgpUnion(triples: DataFrame, groups: Seq[Seq[(String, String, String)]]): DataFrame = {
    require(groups.nonEmpty, "empty UNION")
    val solved = groups.map(bgp(triples, _))
    val allVars = solved.flatMap(_.columns).distinct.sorted
    solved.map { df =>
      val have = df.columns.toSet
      df.select(allVars.map(v =>
        if (have(v)) col(v) else lit(null).cast("string").as(v)): _*)
    }.reduceLeft(_ unionByName _)
  }

  /** SPARQL VALUES: restrict solutions to an inline binding table — a
    * join on the shared variables (the spec's compatible-solution
    * join). The binding table is query-sized by contract and is
    * broadcast explicitly; bindings over variables the solutions don't
    * carry are rejected (they could only cartesian-extend).
    */
  def values(solutions: DataFrame, bindings: DataFrame): DataFrame = {
    val shared = solutions.columns.intersect(bindings.columns).toSeq
    require(shared.nonEmpty, "VALUES shares no variable with the solutions")
    solutions.join(broadcast(bindings.select(shared.map(col): _*).distinct()), shared)
  }

  /** KG fusion / conflict resolution (the Knowledge-Vault-style voting
    * step of KG construction): when extraction asserts several values
    * for one (s, p), keep the value with the most supporting
    * assertions — ties broken by lexicographic minimum value, so the
    * result is deterministic under any arrival order. Input may carry
    * duplicate assertion rows (each row = one vote); output is one row
    * per (s, p) with its winning value and support count.
    * Two shuffles on the natural keys: a map-side-combinable count on
    * (s, p, o), then a (s, p)-partitioned top-1 window — no skew
    * hazard beyond a genuinely hot (s, p), which is exactly the k−1
    * row group the window sees.
    */
  def resolveConflicts(assertions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = spoCols(assertions).groupBy(col("s"), col("p"), col("o"))
      .agg(count(lit(1)).as("support"))
    votes
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("s"), col("p"))
          .orderBy(col("support").desc, col("o"))))
      .where(col("rk") === 1)
      .select(col("s"), col("p"), col("o"), col("support"))
  }

  /** Build rdf:List cons chains from grouped ordered values — the
    * WRITE side of RDF collections ([[rdfListUnroll]] is the read
    * side; applying it to this output recovers the input positions).
    * One list per subject, elements ordered by (ord, v) — the
    * ordering key must be unique per subject (the q103 determinism
    * rule; callers pass a unique ord). Cons-cell labels are
    * deterministic md5 prefixes of (subject, position), so the chain
    * replays cross-engine with no RNG.
    * Two window passes over the same (s)-partitioning (position +
    * group size — one shuffle) and three projections; no joins.
    */
  def buildLists(items: DataFrame, listPred: String = "hasList",
      firstPred: String = "rdf:first", restPred: String = "rdf:rest",
      nilTerm: String = "rdf:nil"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("s")).orderBy(col("ord"), col("v"))
    def label(i: org.apache.spark.sql.Column) =
      concat(lit("_:lb"),
        substring(md5(concat_ws("|", col("s"), i.cast("string"))), 1, 8))
    val rows = items.select(col("s").cast("string").as("s"), col("ord"),
        col("v").cast("string").as("v"))
      .withColumn("idx", (row_number().over(w) - 1).cast("bigint"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("s"))).cast("bigint"))
    val heads = rows.where(col("idx") === 0)
      .select(col("s"), lit(listPred).as("p"), label(lit(0)).as("o"))
    val firsts = rows.select(label(col("idx")).as("s"), lit(firstPred).as("p"), col("v").as("o"))
    val rests = rows.select(label(col("idx")).as("s"), lit(restPred).as("p"),
      when(col("idx") === col("n") - 1, lit(nilTerm))
        .otherwise(label(col("idx") + 1)).as("o"))
    heads.unionByName(firsts).unionByName(rests)
  }

  /** Incremental maintenance of the [[resolveConflicts]] fusion view
    * under NEW assertions (the q139 semi-restrict discipline): only
    * (s, p) groups touched by the delta can change their winner, so
    * the maintained view = old winners for untouched groups (anti-join
    * against the touched key set) ∪ re-derived winners over the
    * touched groups' full row sets (base semi-joined to touched, plus
    * the delta). `baseWinners` is the ALREADY-MATERIALIZED current
    * view (in a real IVM deployment it is a table, never recomputed),
    * so per-trigger work scales with the delta's group footprint —
    * one anti-join over the view plus a semi-restricted base scan —
    * not with a corpus-sized re-fusion. Sound because fusion is a pure
    * per-group function and additions never shrink a group.
    */
  def resolveConflictsDelta(base: DataFrame, baseWinners: DataFrame,
      added: DataFrame): DataFrame = {
    val touched = spoCols(added).select(col("s"), col("p")).distinct()
    val touchedRows = spoCols(base).join(touched, Seq("s", "p"))
      .unionByName(spoCols(added))
    baseWinners.join(touched, Seq("s", "p"), "left_anti")
      .unionByName(resolveConflicts(touchedRows))
  }

  /** Convenience for self-contained (oracle-gated) uses: derives the
    * current view with a full [[resolveConflicts]] pass first — NOT the
    * per-trigger cost model; production maintenance passes the
    * materialized view via the 3-arg overload.
    */
  def resolveConflictsDelta(base: DataFrame, added: DataFrame): DataFrame =
    resolveConflictsDelta(base, resolveConflicts(base), added)

  /** SPARQL VALUES with UNDEF: a null in a binding row is a WILDCARD —
    * that variable is unconstrained for the row (the spec's
    * compatibility rule: an unbound variable is compatible with
    * anything). Join condition per shared variable:
    * `binding IS NULL OR binding = solution`. The bindings table is
    * inline data (broadcast, never a shuffle); a solution compatible
    * with k binding rows appears k times — SPARQL's multiset join,
    * deliberately not deduped here (solution modifiers own DISTINCT).
    */
  def valuesUndef(solutions: DataFrame, bindings: DataFrame): DataFrame = {
    val shared = solutions.columns.intersect(bindings.columns).toSeq
    require(shared.nonEmpty, "VALUES shares no variable with the solutions")
    val b = shared.foldLeft(bindings.select(shared.map(col): _*))(
      (d, c) => d.withColumnRenamed(c, c + "__v"))
    val cond = shared.map(c => b(c + "__v").isNull || solutions(c) === b(c + "__v"))
      .reduce(_ && _)
    solutions.join(broadcast(b), cond, "inner").drop(shared.map(_ + "__v"): _*)
  }

  /** SPARQL CONSTRUCT: instantiate a triple template per BGP solution —
    * each template entry maps a solution to one (s, p, o) row, terms
    * either constants or `?var` references into the solution columns —
    * and set-dedup (CONSTRUCT emits an RDF GRAPH, a set). Solutions
    * with an unbound (null) template variable emit nothing for that
    * entry, the spec rule for OPTIONAL-fed templates. One projection
    * per template entry + the graph-set distinct; no extra shuffles
    * beyond the solutions' own plan.
    *
    * Template blank nodes (`_:name`): the spec scopes template bnode
    * labels per solution — each solution instantiates FRESH bnodes,
    * the same name sharing one node across the solution's template
    * entries. Realized deterministically (no RNG, the engine-wide
    * rule): label = name + 'x' + md5 of the solution's bindings
    * (columns in sorted-name order, \u0001-separated, nulls as
    * \u0000). Identical duplicate solutions therefore collapse to one
    * bnode — set semantics, consistent with the graph-set distinct.
    */
  def construct(solutions: DataFrame, template: Seq[(String, String, String)]): DataFrame = {
    require(template.nonEmpty, "empty CONSTRUCT template")
    val have = solutions.columns.toSet
    template.flatMap(t => Seq(t._1, t._2, t._3)).filter(_.startsWith("?")).foreach(v =>
      require(have(v.drop(1)), s"template variable $v not bound by the solutions"))
    val solHash = md5(concat_ws("\u0001",
      solutions.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    def term(t: String) =
      if (t.startsWith("?")) col(t.drop(1)).cast("string")
      else if (t.startsWith("_:")) concat(lit("_:"), lit(t.drop(2)), lit("x"), solHash)
      else lit(t)
    template.map { case (ts, tp, to) =>
      val bound = Seq(ts, tp, to).filter(_.startsWith("?"))
        .map(t => col(t.drop(1)).isNotNull)
      bound.foldLeft(solutions)(_ where _)
        .select(term(ts).as("s"), term(tp).as("p"), term(to).as("o"))
    }.reduceLeft(_ unionByName _).distinct()
  }

  /** W3C SPARQL 1.1 Query Results CSV serialization of a solution
    * table — the interchange format a query endpoint ships: one
    * header line of variable names, one line per solution with
    * RFC-4180 quoting (a field containing a quote, comma, CR or LF
    * is wrapped in quotes with inner quotes doubled), unbound
    * variables as empty fields. Codegen column algebra, no UDF;
    * output is (is_header, line) — the header rides its own 1-row
    * frame so an empty solution set still serializes a valid
    * document. Line ORDER is the writer's concern (the spec's CSV
    * has no row-order semantics beyond the header-first rule that
    * is_header encodes).
    */
  def resultsCsv(solutions: DataFrame, vars: Seq[String]): DataFrame = {
    require(vars.nonEmpty, "no projected variables")
    val have = solutions.columns.toSet
    vars.foreach(v => require(have(v), s"variable $v not bound by the solutions"))
    val fields = vars.map { v =>
      val c = col(v).cast("string")
      when(c.rlike("[\",\r\n]"),
        concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\"")))
        .otherwise(coalesce(c, lit("")))
    }
    val header = solutions.sparkSession.range(1)
      .select(lit(0L).as("is_header"), lit(vars.mkString(",")).as("line"))
    header.unionByName(solutions.select(lit(1L).as("is_header"),
      concat_ws(",", fields: _*).as("line")))
  }

  /** SPARQL DESCRIBE: the triples describing every node the query
    * variable binds to. The spec leaves the description form
    * implementation-defined; this engine emits the SUBJECT-OUTBOUND
    * slice (every triple whose subject is a described node) — the
    * practical one-hop concise-bounded-description over a corpus whose
    * extraction pipeline keeps bnodes document-scoped (no cross-document
    * bnode chains to chase, so the recursive CBD bnode closure
    * degenerates to exactly this slice).
    *
    * Scale shape: the node set is `distinct` of one solution column and
    * reaches the TB-sized triple table through a single semi-join (AQE
    * broadcasts it when the solution set is small — the common DESCRIBE,
    * a handful of matched resources). No row multiplication: semi-join
    * keeps each described triple once regardless of how many solutions
    * bind the node.
    */
  def describe(triples: DataFrame, patterns: Seq[(String, String, String)],
      v: String): DataFrame = {
    require(v.startsWith("?"), s"DESCRIBE target must be a variable, got $v")
    val nodes = bgp(triples, patterns)
      .select(col(v.drop(1)).cast("string").as("s")).distinct()
    triples.select(col("s").cast("string").as("s"), col("p").cast("string").as("p"),
        col("o").cast("string").as("o"))
      .join(nodes, Seq("s"), "left_semi")
  }

  /** DESCRIBE with Concise Bounded Description semantics (the spec's
    * recommended description form): starting from the matched nodes,
    * include their triples AND recursively the triples of every BLANK
    * NODE reached in object position — a bnode has no global name, so
    * its description is meaningless without its own statements. The
    * bnode frontier expands by fixpoint over the bnode-to-bnode link
    * graph via [[transitiveClosure]]'s pair doubling (O(log depth)
    * rounds — real-world CBDs are shallow, but a pathological
    * bnode chain cannot degrade to O(depth) shuffles); IRI objects
    * are deliberately NOT expanded (that is the CBD boundary).
    */
  def describeCbd(triples: DataFrame, patterns: Seq[(String, String, String)],
      v: String): DataFrame = {
    require(v.startsWith("?"), s"DESCRIBE target must be a variable, got $v")
    val t = spoCols(triples)
    val seeds = bgp(triples, patterns)
      .select(col(v.drop(1)).cast("string").as("n")).distinct()
    // subject → bnode-object links (the only edges CBD follows)
    val bnodeLinks = t.where(col("o").startsWith("_:"))
      .select(col("s").cast("string").as("sub"), col("o").cast("string").as("sup"))
      .distinct()
    val reach = transitiveClosure(bnodeLinks)
    val described = seeds
      .unionByName(seeds.join(reach.select(col("sub").as("n"), col("sup")), Seq("n"))
        .where(col("sup").startsWith("_:"))
        .select(col("sup").as("n")))
      .distinct()
    t.select(col("s"), col("p"), col("o"))
      .join(described.select(col("n").as("s")), Seq("s"), "left_semi")
  }

  /** SPARQL BIND / Extend: add a computed binding to every solution —
    * the algebra's Extend(μ, var, expr). The new variable must be fresh
    * (binding an in-scope variable is a SPARQL syntax error, enforced
    * here rather than silently overwriting), and the expression is an
    * ordinary Catalyst Column, so it stays inside whole-stage codegen
    * with zero extra shuffles — BIND never changes the solution
    * cardinality, only the row width.
    */
  def bind(solutions: DataFrame, name: String, expr: org.apache.spark.sql.Column): DataFrame = {
    require(!solutions.columns.contains(name),
      s"BIND target ?$name is already in scope — SPARQL forbids rebinding")
    solutions.withColumn(name, expr)
  }

  /** SPARQL sequence property path with per-step inverse — `p1/p2`,
    * `^p`, and any mix (`worksFor/^worksFor` = "shares an employer").
    * Each step is (predicate, inverse?): a predicate-constant slice of
    * the triple table (pushes into the scan), traversed o→s when
    * inverse. Steps chain as equi-joins on the meeting node and the
    * result is the DISTINCT (src, dst) pair set — path semantics are
    * existential, and deduping at each join keeps intermediate
    * cardinality at |pairs|, not |paths| (a hub org with d employees
    * contributes d² pairs once, not once per witnessing path).
    */
  def pathSteps(triples: DataFrame, steps: Seq[(String, Boolean)]): DataFrame =
    path(triples, steps.map { case (p, inv) => PredStep(p, inv) })

  /** One step of a SPARQL 1.1 property path, each evaluated to a
    * distinct (src, dst) pair frame before chaining:
    *  - [[PredStep]]    `p` / `^p` — a predicate-constant slice;
    *  - [[NegatedSet]]  `!(p1|…|pk)` / `!(^p1|…|^pk)` — every edge
    *    whose predicate is NOT in the set (the "any link except the
    *    schema lanes" traversal of heterogeneous web KGs); the
    *    NOT-IN filter still pushes into the scan;
    *  - [[ZeroOrOne]]   `p?` / `^p?` — the p edge set plus the
    *    reflexive identity over EVERY term of the graph (SPARQL's
    *    zero-length-path universe: subjects ∪ objects), which under
    *    sequence chaining gives exactly seq(A, B?) = A ∪ (A ⋈ B).
    *  - [[OneOrMore]]   `p+` / `^p+` — the UNBOUNDED transitive
    *    closure of the p edge set via [[transitiveClosure]]: a BFS
    *    on the driver when the edges and the closure fit
    *    [[DriverGate.MaxRows]], pair-doubling otherwise (O(log
    *    diameter) rounds). Cycle-safe on both paths: a cycle yields
    *    the spec's x p+ x self-pairs. Pair volume is the closure
    *    size — per-component quadratic worst case, the inherent cost
    *    of SPARQL's existential pair semantics, kept off all-paths
    *    blowup by the BFS's visited set or the per-round distinct.
    *  - [[ZeroOrMore]]  `p*` / `^p*` — the closure plus the
    *    zero-length identity over every term (same universe rule as
    *    ZeroOrOne).
    *
    * The algebra is COMPOSITIONAL (SPARQL 1.1 §9.1 path grammar):
    *  - [[Alt]]     `e1|e2|…` — union of the alternatives' pair sets
    *    (each alternative any sub-path, so `(p|^q)` and `(p|q/r)`
    *    both express);
    *  - [[SeqPath]] `e1/e2/…` — sequence as a nested step, so a
    *    sequence can sit INSIDE a closure;
    *  - [[Plus]] / [[Star]] — one-or-more / zero-or-more of ANY
    *    sub-path: `(p|q)+` (the skos broader|narrower walk),
    *    `(rdf:rest)* / rdf:first` (SPARQL's canonical list-member
    *    path) and friends. OneOrMore(p, inv) ≡ Plus(PredStep(p,
    *    inv)); the scalar forms stay as conveniences.
    */
  sealed trait PathStep
  final case class PredStep(p: String, inverse: Boolean = false) extends PathStep
  final case class NegatedSet(excluded: Seq[String], inverse: Boolean = false) extends PathStep
  final case class ZeroOrOne(p: String, inverse: Boolean = false) extends PathStep
  final case class OneOrMore(p: String, inverse: Boolean = false) extends PathStep
  final case class ZeroOrMore(p: String, inverse: Boolean = false) extends PathStep
  final case class Alt(alts: Seq[PathStep]) extends PathStep
  final case class SeqPath(steps: Seq[PathStep]) extends PathStep
  final case class Plus(inner: PathStep) extends PathStep
  final case class Star(inner: PathStep) extends PathStep
  final case class Opt(inner: PathStep) extends PathStep // (path)? — identity ∪ inner

  /** SPARQL sequence property path over [[PathStep]]s — `p1/p2`, `^p`,
    * `!(…)`, `p?` and any mix. Steps chain as equi-joins on the
    * meeting node and the result is the DISTINCT (src, dst) pair set —
    * path semantics are existential, and deduping at each join keeps
    * intermediate cardinality at |pairs|, not |paths| (a hub org with
    * d employees contributes d² pairs once, not once per witnessing
    * path).
    */
  def path(triples: DataFrame, steps: Seq[PathStep]): DataFrame = {
    require(steps.nonEmpty, "empty path")
    def pairs(e: DataFrame, inv: Boolean) = {
      val (a, b) = if (inv) ("o", "s") else ("s", "o")
      e.select(col(a).cast("string").as("src"), col(b).cast("string").as("dst")).distinct()
    }
    // SPARQL's zero-length-path universe: every term of the graph
    def identity0 = {
      val terms = triples.select(col("s").cast("string").as("t"))
        .unionByName(triples.select(col("o").cast("string").as("t"))).distinct()
      terms.select(col("t").as("src"), col("t").as("dst"))
    }
    def closure(e: DataFrame) =
      transitiveClosure(e.select(col("src").as("sub"), col("dst").as("sup")))
        .select(col("sub").as("src"), col("sup").as("dst"))
    def chain(hops: Seq[DataFrame]) = hops.reduceLeft { (acc, nxt) =>
      acc.join(nxt.select(col("src").as("mid"), col("dst").as("ndst")),
          acc("dst") === col("mid"))
        .select(col("src"), col("ndst").as("dst")).distinct()
    }
    def eval(step: PathStep): DataFrame = step match {
      case PredStep(p, inv) => pairs(triples.where(col("p") === p), inv)
      case NegatedSet(ex, inv) =>
        require(ex.nonEmpty, "empty negated property set")
        pairs(triples.where(!col("p").isInCollection(ex)), inv)
      case ZeroOrOne(p, inv) =>
        identity0.unionByName(pairs(triples.where(col("p") === p), inv)).distinct()
      case OneOrMore(p, inv) => eval(Plus(PredStep(p, inv)))
      case ZeroOrMore(p, inv) => eval(Star(PredStep(p, inv)))
      case Alt(alts) =>
        require(alts.nonEmpty, "empty path alternation")
        alts.map(eval).reduceLeft(_ unionByName _).distinct()
      case SeqPath(ss) =>
        require(ss.nonEmpty, "empty path sequence")
        chain(ss.map(eval))
      case Plus(inner) => closure(eval(inner))
      case Star(inner) => identity0.unionByName(closure(eval(inner))).distinct()
      case Opt(inner) => identity0.unionByName(eval(inner)).distinct()
    }
    chain(steps.map(eval))
  }

  /** SPARQL GRAPH block over a quad table (g, s, p, o): every pattern
    * in the block matches within the SAME graph — the graph term is
    * either a constant (one named graph: `g = '…'` pushes into the
    * scan beside the predicate slice) or a variable, which joins across
    * patterns like any other variable and surfaces as a binding (the
    * `GRAPH ?g { … }` form that asks WHERE a pattern holds — per-source
    * provenance queries over an extraction corpus whose graph name is
    * the source shard). Same slice/pushdown/join discipline as [[bgp]];
    * a variable graph term makes every slice share it, so the
    * no-cartesian rule is satisfied even for patterns with otherwise
    * disjoint variables.
    */
  def bgpQuads(quads: DataFrame, graphTerm: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "empty GRAPH block")
    val gspo = Seq("g", "s", "p", "o")
    def slice(pat: (String, String, String)): DataFrame = {
      val terms = Seq(graphTerm, pat._1, pat._2, pat._3).zip(gspo)
      val filtered = terms.foldLeft(quads) { case (df, (term, c)) =>
        if (term.startsWith("?")) df else df.where(col(c) === lit(term))
      }
      val varCols = terms.collect { case (t, c) if t.startsWith("?") => (t.drop(1), c) }
      require(varCols.nonEmpty, "pattern with no variables selects nothing")
      val byVar = varCols.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val eqFiltered = byVar.values.filter(_.size > 1).foldLeft(filtered) { (df, cs) =>
        cs.sliding(2).foldLeft(df)((d, pair) => d.where(col(pair(0)) === col(pair(1))))
      }
      eqFiltered.select(byVar.toSeq.sortBy(_._1).map { case (v, cs) => col(cs.head).as(v) }: _*)
    }
    patterns.map(slice).reduceLeft { (acc, nxt) =>
      val shared = acc.columns.intersect(nxt.columns).toSeq
      require(shared.nonEmpty,
        "GRAPH pattern shares no variable with the prefix — cartesian product; reorder patterns")
      acc.join(nxt, shared)
    }
  }

  /** owl:inverseOf entailment — schema-driven edge mirroring: for every
    * declared (p, q) inverse pair, each `s p o` asserts `o q s` (and the
    * declaration is symmetric, so `s q o` asserts `o p s` too). The
    * inverse map is ontology-sized and broadcasts; the TB-sized triple
    * table is touched by one map-side join, then the graph-set dedup
    * (derived edges may already be asserted). Literals never appear as
    * subjects of the derived edges by RDF well-formedness — callers
    * pass an object-property slice when the corpus mixes datatype
    * properties under the same predicates.
    */
  def inverseOfEntail(triples: DataFrame, inverses: DataFrame,
      dedup: Boolean = true): DataFrame = {
    val t = triples.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
    val inv = inverses.select(col("p").cast("string").as("p"), col("q").cast("string").as("q"))
    val both = inv.unionByName(inv.select(col("q").as("p"), col("p").as("q"))).distinct()
    val derived = t.join(broadcast(both), Seq("p"))
      .select(col("o").as("s"), col("q").as("p"), col("s").as("o"))
    val out = t.unionByName(derived)
    // dedup=false (r6): entailment compositions (q112's inverse →
    // transitive → inverse chain) can defer the graph-set dedup to the
    // LAST stage — each intermediate full-graph distinct is a shuffle
    // of the whole triple set, and the set semantics compose (dups
    // only re-derive what the final distinct collapses)
    if (dedup) out.distinct() else out
  }

  /** Literal term-structure patterns, shared verbatim with the oracle
    * SQL (the q36 rule: RE2-compatible, no quotes-in-quotes hazards —
    * `"` is legal inside single-quoted SQL strings). Forms follow the
    * N-Triples object grammar: typed `"lex"^^dt`, language-tagged
    * `"lex"@tag`, plain `"lex"`.
    */
  val TypedLitRe = "^\"(.*)\"\\^\\^(.+)$"
  val LangLitRe = "^\"(.*)\"@([A-Za-z][A-Za-z0-9-]*)$"
  val PlainLitRe = "^\"(.*)\"$"

  /** Parse an object-term column into its literal structure — the
    * typed-literal access layer a SPARQL FILTER needs: columns
    * (lex, dt, lang, kind) where kind ∈ literal | iri_or_bnode.
    * Pure codegen'd regexp/CASE projection (no UDF, no shuffle);
    * numeric comparison is then a plain TRY-cast of `lex` guarded by
    * `dt` — exact for integer lexical forms in both engines.
    */
  def termColumns(term: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val typedLex = regexp_extract(term, TypedLitRe, 1)
    val langLex = regexp_extract(term, LangLitRe, 1)
    val plainLex = regexp_extract(term, PlainLitRe, 1)
    val isTyped = term.rlike(TypedLitRe)
    val isLang = term.rlike(LangLitRe)
    val isPlain = term.rlike(PlainLitRe)
    Seq(
      when(isTyped, typedLex).when(isLang, langLex)
        .when(isPlain, plainLex).otherwise(lit("")).as("lex"),
      when(isTyped, regexp_extract(term, TypedLitRe, 2)).otherwise(lit("")).as("dt"),
      when(isTyped, lit("")).when(isLang, regexp_extract(term, LangLitRe, 2))
        .otherwise(lit("")).as("lang"),
      when(isTyped || isLang || isPlain, lit("literal"))
        .otherwise(lit("iri_or_bnode")).as("kind"))
  }

  /** SPARQL §17.4 RDF term functions over the layer's term-string
    * convention (quoted literals, `_:` bnodes, bare IRIs) — pure
    * codegen'd CASE/regexp projections, no UDFs:
    * isIRI/isBlank/isLiteral are equality tests on this kind column.
    */
  def termKind(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(term.rlike(TypedLitRe) || term.rlike(LangLitRe) || term.rlike(PlainLitRe),
      lit("literal"))
      .when(term.startsWith("_:"), lit("bnode"))
      .otherwise(lit("iri"))

  /** SPARQL STR(): a literal's lexical form, an IRI's string; a blank
    * node is a TYPE ERROR → null, which drops in FILTERs — the spec's
    * error propagation maps exactly onto SQL null semantics.
    */
  def strOf(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(term.rlike(TypedLitRe), regexp_extract(term, TypedLitRe, 1))
      .when(term.rlike(LangLitRe), regexp_extract(term, LangLitRe, 1))
      .when(term.rlike(PlainLitRe), regexp_extract(term, PlainLitRe, 1))
      .when(term.startsWith("_:"), lit(null).cast("string"))
      .otherwise(term)

  /** SPARQL DATATYPE(): explicit datatype, rdf:langString for
    * lang-tagged, xsd:string for plain (RDF 1.1 rule); type error
    * (null) for non-literals. Prefixed-name forms, matching the term
    * convention of the q125 fixture family.
    */
  def datatypeOf(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(term.rlike(TypedLitRe), regexp_extract(term, TypedLitRe, 2))
      .when(term.rlike(LangLitRe), lit("rdf:langString"))
      .when(term.rlike(PlainLitRe), lit("xsd:string"))
      .otherwise(lit(null).cast("string"))

  /** SPARQL LANGMATCHES with RFC 4647 basic filtering: "*" matches any
    * non-empty tag; otherwise case-insensitive exact match or prefix
    * ending at a '-' boundary ("en" matches "en-US", not "enx").
    */
  def langMatchesCol(langTag: org.apache.spark.sql.Column, range: String): org.apache.spark.sql.Column =
    if (range == "*") langTag =!= ""
    else lower(langTag) === range.toLowerCase ||
      lower(langTag).startsWith(range.toLowerCase + "-")

  /** SPARQL §17.4 term CONSTRUCTORS over the term-string convention —
    * the write-side complement of [[termKind]]/[[strOf]]/[[datatypeOf]]:
    *  - [[strDt]]/[[strLang]]: typed / language-tagged literal strings
    *    (tags lowercased, the RDF 1.1 canonical form [[graft.rdf.Lit]]
    *    also applies);
    *  - [[iriCol]]: IRI(ref) against a constant base — absolute refs
    *    (scheme-prefixed) pass through, others concatenate onto the
    *    base (the documented subset: no dot-segment resolution in the
    *    relational path; full RFC 3986 lives in [[graft.rdf.Iris]]);
    *  - [[bnodeCol]]: BNODE(str) — the spec returns a bnode unique per
    *    (solution, str), realized deterministically as an md5 prefix
    *    of the solution key and the argument (no RNG, engine rule).
    */
  def strDt(lex: org.apache.spark.sql.Column, dt: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("\""), lex, lit("\"^^"), dt)

  def strLang(lex: org.apache.spark.sql.Column, tag: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("\""), lex, lit("\"@"), lower(tag))

  def iriCol(ref: org.apache.spark.sql.Column, base: String): org.apache.spark.sql.Column =
    when(ref.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), ref).otherwise(concat(lit(base), ref))

  def bnodeCol(solutionKey: org.apache.spark.sql.Column, str: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("_:bn"), substring(md5(concat_ws("", solutionKey, str)), 1, 8))

  /** RDF 1.1 skolemization (§3.5): replace blank-node labels `_:x`
    * with well-known genid IRIs under `authority` — the publish step
    * that makes bnode-bearing graphs mergeable/linkable across
    * datasets; [[deskolemize]] inverts it exactly (the label is
    * carried verbatim in the IRI tail). Pure per-row projections.
    */
  def skolemize(triples: DataFrame,
      authority: String = "https://graft.invalid/.well-known/genid/"): DataFrame = {
    def sk(c: org.apache.spark.sql.Column) =
      when(c.startsWith("_:"), concat(lit(authority), substring(c, 3, Int.MaxValue)))
        .otherwise(c)
    spoCols(triples).select(sk(col("s")).as("s"), col("p"), sk(col("o")).as("o"))
  }

  /** Inverse of [[skolemize]]: well-known genid IRIs back to bnode
    * labels. */
  def deskolemize(triples: DataFrame,
      authority: String = "https://graft.invalid/.well-known/genid/"): DataFrame = {
    def unsk(c: org.apache.spark.sql.Column) =
      when(c.startsWith(authority),
        concat(lit("_:"), substring(c, authority.length + 1, Int.MaxValue)))
        .otherwise(c)
    spoCols(triples).select(unsk(col("s")).as("s"), col("p"), unsk(col("o")).as("o"))
  }

  /** Canonical per-graph digest — the publish-time integrity stamp of
    * a named-graph dataset: md5 over the newline-joined, BINARY-sorted
    * distinct triple lines of each graph (sound as a canonical form
    * for GROUND graphs; bnode-bearing graphs go through [[skolemize]]
    * first, which is exactly RDF 1.1's prescription for making bnode
    * identity portable). Per-graph collect is bounded by graph size
    * (per-source shard graphs here); a web-scale monolith graph would
    * split the digest Merkle-style by subject-hash prefix — same op,
    * one more group key.
    */
  def graphDigest(quads: DataFrame): DataFrame =
    quads.select(col("g").cast("string").as("g"),
        concat_ws(" ", col("s").cast("string"), col("p").cast("string"),
          col("o").cast("string")).as("line"))
      .distinct()
      .groupBy(col("g"))
      .agg(md5(concat_ws("\n", sort_array(collect_list(col("line"))))).as("digest"),
        count(lit(1)).cast("bigint").as("n_triples"))

  /** Canonical blank-node labeling per named graph — the RDFC-1.0
    * (RDF dataset canonicalization) FIRST-DEGREE regime: each bnode
    * is hashed by the binary-sorted multiset of its adjacent triple
    * lines with itself written `_:a` and every other bnode `_:z`
    * (hashFirstDegreeQuads), then relabeled `_:c0, _:c1, …` in hash
    * order. Within this regime the labeling is a pure function of
    * graph STRUCTURE — two isomorphic graphs canonicalize to the
    * identical quad set, which upgrades [[graphDigest]] from
    * ground-graphs-only to full isomorphism-invariant integrity
    * stamps (reference Graph.isomorphic?, rdf_core graph.ex, is the
    * pairwise-compare form of the same contract; this is the
    * publishable one-sided form).
    *
    * Shared first-degree hashes (automorphic or locally
    * indistinguishable bnodes) route their whole graph through the
    * RDFC-1.0-style recursive n-degree pass ([[graft.rdf.RdfCanon]]),
    * run locally per graph inside one task — canonicalization is a
    * per-document-graph operation, so the group is bounded by graph
    * size (the graphDigest per-graph-collect argument) and the
    * factorial worst case is budget-capped with a THROW (the q26
    * converge-or-throw rule; an unverified labeling never ships).
    * Real-world author/provenance bnodes are first-degree
    * distinguishable by construction, so the relational fast lane
    * carries virtually all graphs and the n-degree lane only the
    * rare automorphic stragglers. RdfCanon issues unique-hash bnodes
    * first in hash order, so on a collision-FREE graph both lanes
    * produce byte-identical labels (spec-pinned).
    *
    * Scale shape: the per-bnode aggregate is degree-bounded (an
    * adjacency list, the q-range-adjacency rule), the relabel is two
    * (g, term)-keyed left joins, the collision-graph set rides one
    * semi/anti join pair, and there is no driver action at all. The
    * multi-consumed distinct input is checkpointed eagerly (the
    * LSH-builder rule — multiple consumers, ReuseExchange won't
    * unify them).
    */
  def canonicalBNodeQuads(quads: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val q = quads.select(col("g").cast("string").as("g"),
        col("s").cast("string").as("s"), col("p").cast("string").as("p"),
        col("o").cast("string").as("o"))
      .distinct().localCheckpoint(true)
    def isB(c: Column) = c.startsWith("_:")
    def fdTerm(c: Column, b: Column) =
      when(c === b, lit("_:a")).when(isB(c), lit("_:z")).otherwise(c)
    def lineFor(b: Column) =
      concat_ws(" ", fdTerm(col("s"), b), col("p"), fdTerm(col("o"), b))
    // one line per (quad, mentioned bnode); a self-mention quad
    // (s == o, both the same bnode) contributes ONE line, not two
    val mentions = q.where(isB(col("s")))
        .select(col("g"), col("s").as("b"), lineFor(col("s")).as("line"))
      .unionByName(q.where(isB(col("o")) && !(col("s") === col("o")))
        .select(col("g"), col("o").as("b"), lineFor(col("o")).as("line")))
    val hashed = mentions.groupBy(col("g"), col("b"))
      .agg(md5(concat_ws("\n", sort_array(collect_list(col("line"))))).as("h"))
      .localCheckpoint(true)
    // graphs with any shared first-degree hash route whole to the
    // n-degree lane; everything else stays relational
    val badG = hashed.groupBy(col("g"), col("h"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1)
      .select(col("g")).distinct().localCheckpoint(true)
    val labeled = hashed.join(badG, Seq("g"), "left_anti")
      .select(col("g"), col("b"),
        concat(lit("_:c"),
          (row_number().over(Window.partitionBy(col("g")).orderBy(col("h"))) - 1)
            .cast("string")).as("c"))
    val cleanLane = q.join(badG, Seq("g"), "left_anti")
      .join(labeled.select(col("g"), col("b").as("s"), col("c").as("cs")),
        Seq("g", "s"), "left")
      .join(labeled.select(col("g"), col("b").as("o"), col("c").as("co")),
        Seq("g", "o"), "left")
      .select(col("g"), coalesce(col("cs"), col("s")).as("s"), col("p"),
        coalesce(col("co"), col("o")).as("o"))
    val ss = quads.sparkSession
    import ss.implicits._
    val ndegreeLane = q.join(badG, Seq("g"), "left_semi")
      .select(col("g"), col("s"), col("p"), col("o"))
      .as[(String, String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (g: String, it: Iterator[(String, String, String, String)]) =>
        val qs = it.map(t => (t._2, t._3, t._4)).toVector
        graft.rdf.RdfCanon.canonicalQuads(qs).iterator
          .map { case (s2, p2, o2) => (g, s2, p2, o2) }
      }
      .toDF("g", "s", "p", "o")
    cleanLane.unionByName(ndegreeLane)
  }

  /** Dataset diff — the incremental-publishing primitive (the
    * RDF-Patch / LD-Patch shape): set difference both ways between two
    * graph versions, tagged `op` ∈ A (added in `next`) | D (deleted
    * from `prev`). Ground-term graphs (bnode-bearing versions go
    * through [[canonicalBNodeQuads]] first, which is what makes a
    * cross-version bnode diff well-defined at all). Two anti-joins on
    * the full (s,p,o) key — each is one shuffle, both map-side
    * prunable; unchanged triples never leave the scan.
    */
  def graphDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    val a = spoCols(prev).distinct()
    val b = spoCols(next).distinct()
    b.join(a, Seq("s", "p", "o"), "left_anti").select(lit("A").as("op"), col("s"), col("p"), col("o"))
      .unionByName(a.join(b, Seq("s", "p", "o"), "left_anti")
        .select(lit("D").as("op"), col("s"), col("p"), col("o")))
  }

  /** Apply a [[graphDiff]] patch to a graph version: delete the D
    * rows (anti-join), add the A rows (union + set-dedup). By
    * construction `applyPatch(prev, graphDiff(prev, next)) == next`
    * as a set — the round-trip invariant the spec pins.
    */
  def applyPatch(prev: DataFrame, patch: DataFrame): DataFrame = {
    val p = patch.select(col("op").cast("string").as("op"),
      col("s").cast("string").as("s"), col("p").cast("string").as("p"),
      col("o").cast("string").as("o"))
    spoCols(prev).join(p.where(col("op") === "D").drop("op"),
        Seq("s", "p", "o"), "left_anti")
      .unionByName(p.where(col("op") === "A").drop("op"))
      .distinct()
  }

  /** Schema summary (quotient graph) — the class-level view of an
    * instance graph that KG exploration and mapping tools ship:
    * every (source class, predicate, target class) edge bundle with
    * its triple count and distinct endpoint cardinalities. Instances
    * may carry multiple types (the q91 entailment closure feeds this)
    * — each class pair gets its own bundle row. Two equi-joins
    * against the typing table + one grouped pass; the typing side is
    * the smaller relation at web scale (types ≪ edges) and both
    * joins key on the instance.
    */
  def schemaSummary(types: DataFrame, edges: DataFrame): DataFrame = {
    val ty = types.select(col("inst").cast("string").as("inst"),
      col("cls").cast("string").as("cls")).distinct()
    spoCols(edges)
      .join(ty.select(col("inst").as("s"), col("cls").as("src_cls")), Seq("s"))
      .join(ty.select(col("inst").as("o"), col("cls").as("dst_cls")), Seq("o"))
      .groupBy(col("src_cls"), col("p"), col("dst_cls"))
      .agg(count(lit(1)).cast("bigint").as("n_edges"),
        countDistinct(col("s")).cast("bigint").as("n_src"),
        countDistinct(col("o")).cast("bigint").as("n_dst"))
  }

  /** Incremental maintenance of the [[schemaSummary]] AGGREGATE view
    * under edge additions — the q116 IVM discipline extended from BGP
    * views to grouped aggregates: the additive measure (n_edges)
    * telescopes from the delta alone, while the NON-additive distinct
    * cardinalities (n_src/n_dst) re-derive — but only over the class
    * pairs the delta TOUCHES (the aggregate analogue of DRed's
    * re-derive pass; an untouched group provably cannot change).
    * Emits the refreshed bundle rows for touched groups plus the
    * delta's own edge count; per-refresh work scales with the touched
    * slice, not the full graph — the semi-join prunes before the
    * expensive count-distinct, and the typing joins key on instances
    * exactly as the batch view does.
    */
  def schemaSummaryDelta(types: DataFrame, base: DataFrame, added: DataFrame): DataFrame = {
    val ty = types.select(col("inst").cast("string").as("inst"),
      col("cls").cast("string").as("cls")).distinct()
    def typed(edges: DataFrame) = spoCols(edges)
      .join(ty.select(col("inst").as("s"), col("cls").as("src_cls")), Seq("s"))
      .join(ty.select(col("inst").as("o"), col("cls").as("dst_cls")), Seq("o"))
    // genuinely-new edges only: an "added" edge already in the base
    // changes nothing and must not mark its group touched
    val addNew = spoCols(added).distinct()
      .join(spoCols(base).distinct(), Seq("s", "p", "o"), "left_anti")
    val deltaCounts = typed(addNew).groupBy(col("src_cls"), col("p"), col("dst_cls"))
      .agg(count(lit(1)).cast("bigint").as("n_added"))
    val full = typed(spoCols(base).unionByName(spoCols(added)).distinct())
      .join(deltaCounts.select(col("src_cls"), col("p"), col("dst_cls")),
        Seq("src_cls", "p", "dst_cls"), "left_semi")
      .groupBy(col("src_cls"), col("p"), col("dst_cls"))
      .agg(count(lit(1)).cast("bigint").as("n_edges"),
        countDistinct(col("s")).cast("bigint").as("n_src"),
        countDistinct(col("o")).cast("bigint").as("n_dst"))
    full.join(deltaCounts, Seq("src_cls", "p", "dst_cls"))
      .select(col("src_cls"), col("p"), col("dst_cls"),
        col("n_added"), col("n_edges"), col("n_src"), col("n_dst"))
  }

  /** RDF collection (rdf:List) reconstruction — the query-side
    * inverse of the parser's parseType="Collection" encoding
    * (reference rdf/xml/decoder.ex collection handling): cons-cell
    * chains (cell −firstP→ elem, cell −restP→ next | nil) are
    * unrolled into ordered (s, p, idx, elem) rows for every ENTRY
    * edge (s, p, headCell) whose object is a list cell. An entry
    * pointing mid-chain unrolls the suffix with idx re-based at 0
    * (it IS a valid list from there); an entry pointing at nil is
    * the empty list and emits nothing.
    *
    * Positions are computed by POINTER DOUBLING over the rest edges —
    * O(log maxLen) full-shuffle rounds, not O(maxLen) — with an eager
    * localCheckpoint per round (the q26 lineage rule). Pair volume is
    * O(len²) per chain, bounded by the longest list, not the corpus:
    * chains are disjoint, so at 100 TB the quadratic term is per-list
    * and lists are short by construction (they're authored documents,
    * not the corpus). A malformed CYCLIC rest-chain THROWS: the pair
    * set saturates (the anti-join key is the pair, so the doubling
    * always converges), and a post-convergence mutual-reachability
    * check rejects any cycle in the input — positions on a cycle are
    * undefined and must never ship under an oracle gate. A chain whose
    * last cell simply lacks a rest edge is treated as terminated
    * (lenient, like the parser's lax lanes).
    */
  def rdfListUnroll(triples: DataFrame, firstP: String = "first",
      restP: String = "rest", nil: String = "nil", maxIters: Int = 32): DataFrame = {
    val spo = spoCols(triples)
    val firsts = spo.where(col("p") === firstP)
      .select(col("s").as("cell"), col("o").as("elem"))
      .distinct().localCheckpoint(true)
    val rests = spo.where(col("p") === restP && col("o") =!= nil)
      .select(col("s").as("a"), col("o").as("b"))
      .distinct().localCheckpoint(true)
    val entries = spo.where(col("p") =!= firstP && col("p") =!= restP)
      .join(firsts.select(col("cell").as("o")), Seq("o"), "left_semi")
      .select(col("s"), col("p"), col("o").as("head"))
      .distinct().localCheckpoint(true)
    // (a, b, d): b is exactly d rest-steps below a. Functional acyclic
    // chains make (a, b) → d unique, so the anti-join key is the pair.
    var reach = rests.select(col("a"), col("b"), lit(1L).as("d"))
      .unionByName(firsts.select(col("cell").as("a"), col("cell").as("b"), lit(0L).as("d")))
      .distinct().localCheckpoint(true)
    var round = 0
    var converged = false
    while (!converged && round < maxIters) {
      val hop = reach.select(col("a").as("m"), col("b").as("nb"), col("d").as("d2"))
      val next = reach.join(hop, reach("b") === hop("m"))
        .select(col("a"), col("nb").as("b"), (col("d") + col("d2")).as("d"))
        .distinct()
        .join(reach, Seq("a", "b"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) converged = true
      // lazy union of checkpoint leaves (the transitiveClosure r6
      // note): no per-round re-materialization of the full reach set
      else { reach = reach.unionByName(next); round += 1 }
    }
    if (!converged) throw new IllegalStateException(
      s"rdfListUnroll did not converge in $maxIters doubling rounds — " +
        "absurd list length; refusing truncated positions")
    val strict = reach.where(col("a") =!= col("b"))
    val cyclic = strict.join(
      strict.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"), "left_semi")
    if (!cyclic.isEmpty) throw new IllegalStateException(
      "rdfListUnroll: cyclic rest-chain — list positions are undefined on a cycle")
    entries
      .join(reach.select(col("a").as("head"), col("b").as("cell"), col("d").as("idx")), Seq("head"))
      .join(firsts, Seq("cell"))
      .select(col("s"), col("p"), col("idx").cast("bigint").as("idx"), col("elem"))
  }

  /** SPARQL 1.1 GROUP_CONCAT with the q103 ordering discipline: the
    * concatenation order is an EXPLICIT (ordCol, valCol) sort, never
    * the engine's arrival order — SPARQL leaves GROUP_CONCAT order
    * implementation-defined, so a cross-engine-exact result must pin
    * it, and the tiebreak on the value keeps equal order-keys
    * deterministic. Values collect per group (bounded by group size,
    * the standard string_agg shape), sort once, join once; the
    * transform lambda runs once per GROUP on a small array (the
    * CLAUDE.md lambda policy), not per element on the scale path.
    */
  def groupConcat(sols: DataFrame, keyCols: Seq[String], ordCol: String,
      valCol: String, sep: String, out: String = "vals"): DataFrame =
    sols.groupBy(keyCols.map(col): _*)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(ordCol).as("o"), col(valCol).as("v")))),
          x => x("v")),
        sep).as(out))

  /** Filtered negative sampling over (h, r, t) edges — the
    * KG-embedding training-prep step (TransE-family corruption, the
    * "filtered setting" of the KBC literature): k deterministic
    * tail corruptions per positive, drawn from the closed entity
    * pool by integer multiplicative stepping over dense entity
    * indices, with any corruption that collides with a TRUE positive
    * anti-joined away. Fully relational and reproducible — no RNG,
    * no driver loop.
    *
    * The dense 0-based entity index is assigned by the q73 two-phase
    * rank (per-md5-bucket row_number + earlier-bucket offsets) so no
    * global single-partition window appears on the entity pool; the
    * global order it realizes is (md5-prefix bucket, entity), which
    * the oracle replays as one naive ORDER BY. The relation index
    * uses a plain window — relations are schema-sized. The entity
    * count rides a 1-row broadcast scalar frame (the q47/q62 shape).
    */
  def negativeSamples(edges: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("h").cast("string").as("h"),
        col("r").cast("string").as("r"), col("t").cast("string").as("t"))
      .distinct().localCheckpoint(true) // 4 consumers (pool, rels, expand, anti-join)
    val ents = e.select(col("h").as("ent")).unionByName(e.select(col("t").as("ent"))).distinct()
    val withBkt = ents.withColumn("bkt", substring(md5(col("ent")), 1, 2))
    val inBkt = row_number().over(Window.partitionBy(col("bkt")).orderBy(col("ent")))
    val offsets = withBkt.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val pool = withBkt.withColumn("rn", inBkt).join(offsets, Seq("bkt"))
      .select(col("ent"), (col("off") + col("rn") - 1).cast("bigint").as("idx"))
      .localCheckpoint(true) // consumed by hIdx/tIdx attach + corruption resolve
    val rels = e.select(col("r")).distinct()
      .select(col("r"), (row_number().over(Window.orderBy(col("r"))) - 1)
        .cast("bigint").as("ridx"))
    val nFrame = pool.agg(count(lit(1)).cast("bigint").as("n_ent"))
    val cand = e
      .join(pool.select(col("ent").as("h"), col("idx").as("hidx")), Seq("h"))
      .join(pool.select(col("ent").as("t"), col("idx").as("tidx")), Seq("t"))
      .join(broadcast(rels), Seq("r"))
      .crossJoin(broadcast(nFrame))
      .withColumn("neg_k", explode(sequence(lit(0L), lit(k - 1L))))
      .select(col("h"), col("r"), col("t"), col("neg_k"),
        pmod(col("hidx") * 2654435761L + col("ridx") * 97L +
          col("tidx") * 31L + col("neg_k") * 40503L, col("n_ent")).as("nidx"))
    cand.join(pool.select(col("idx").as("nidx"), col("ent").as("t_neg")), Seq("nidx"))
      // filtered setting: a corruption that IS a true positive drops
      .join(e.select(col("h"), col("r"), col("t").as("t_neg")),
        Seq("h", "r", "t_neg"), "left_anti")
      .select(col("h"), col("r"), col("t"), col("neg_k"), col("t_neg"))
  }

  /** Snapshot of a versioned assertion log at time `atTs` — the
    * AS-OF reconstruction a maintained KG needs for time-travel
    * queries and reproducible training-data cuts: the log carries
    * (ts, op A|D, s, p, o) assert/retract events, and the snapshot
    * is every triple whose LATEST event at ts ≤ atTs is an assert.
    * Requires at most one event per (s, p, o, ts) — an assert and a
    * retract of the same triple in the same instant has no defined
    * winner (enforced by the last-event join collapsing to one row;
    * a violating log would fan out and the digest/oracle diverge).
    * Shape: one grouped max(ts) per triple key + one join back to
    * the log — both shuffle on the same (s,p,o) key, so AQE plans
    * the join shuffle-free off the aggregate's exchange.
    */
  def snapshotAt(log: DataFrame, atTs: Long): DataFrame = {
    val l = log.select(col("ts").cast("bigint").as("ts"),
      col("op").cast("string").as("op"), col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
      .where(col("ts") <= atTs)
    val last = l.groupBy(col("s"), col("p"), col("o")).agg(max(col("ts")).as("ts"))
    last.join(l, Seq("s", "p", "o", "ts")).where(col("op") === "A")
      .select(col("s"), col("p"), col("o"))
  }

  /** RDF reification reconstruction — the inverse of the decoder's
    * `Shared.reify` (rdf:ID statement annotation, RdfXmlParser
    * reify frames): collect each statement node's rdf:subject /
    * rdf:predicate / rdf:object role triples back into the qualified
    * edge (stmt, s, p, o). Role predicates are parameters (tests use
    * bare names; production passes the rdf: IRIs). The EXACTLY-ONE
    * discipline: a statement node missing a role (inner joins drop
    * it) or carrying conflicting values for one (count-distinct
    * filter) is malformed and yields nothing — reified provenance
    * must never ship an ambiguous edge. Three predicate slices, each
    * aggregated map-side before one stmt-keyed join.
    */
  def unreify(triples: DataFrame, subjectPred: String = "rdf:subject",
      predicatePred: String = "rdf:predicate", objectPred: String = "rdf:object"): DataFrame = {
    val t = spoCols(triples)
    def role(pred: String, out: String) = t.where(col("p") === pred)
      .groupBy(col("s")).agg(min(col("o")).as(s"v_$out"),
        countDistinct(col("o")).as(s"n_$out"))
      .where(col(s"n_$out") === 1)
      .select(col("s").as("stmt"), col(s"v_$out").as(out))
    role(subjectPred, "s")
      .join(role(predicatePred, "p"), Seq("stmt"))
      .join(role(objectPred, "o"), Seq("stmt"))
      .select(col("stmt"), col("s"), col("p"), col("o"))
  }

  /** VoID-style property-partition statistics (the dataset descriptor
    * a published KG ships, W3C VoID): per predicate, the triple
    * count and the distinct subject / object cardinalities — one
    * grouped pass, exact counts (count-distinct is the point of the
    * descriptor; approximate twins live in the HLL sketches).
    */
  def voidPropertyPartition(triples: DataFrame): DataFrame =
    spoCols(triples).groupBy(col("p"))
      .agg(count(lit(1)).cast("bigint").as("n_triples"),
        countDistinct(col("s")).cast("bigint").as("n_subj"),
        countDistinct(col("o")).cast("bigint").as("n_obj"))

  /** owl:SymmetricProperty entailment — mirror every declared-
    * symmetric predicate's edge slice back into the graph: one
    * projection + set-dedup, and the symmetric closure is its own
    * fixpoint after a single round (mirroring a mirror is the
    * original), so no iteration is needed.
    */
  def symmetricPropEntail(triples: DataFrame, preds: Seq[String]): DataFrame = {
    require(preds.nonEmpty, "no symmetric predicates declared")
    val t = spoCols(triples)
    val mirrored = t.where(col("p").isInCollection(preds))
      .select(col("o").as("s"), col("p"), col("s").as("o"))
    t.unionByName(mirrored).distinct()
  }

  /** owl:propertyChainAxiom entailment for length-2 chains (the OWL RL
    * prp-spo2 shape): each (p, q, r) derives r(x, z) from
    * p(x, y) ∧ q(y, z) — two predicate slices equi-joined on the
    * meeting node. Derived predicates may feed OTHER chains (or their
    * own), so all chains iterate to a JOINT fixpoint; convergence is
    * detected by set-size stability (entailment only adds triples),
    * and the round cap THROWS rather than shipping a partially-
    * entailed graph (the q26 rule). Chain depth in real schemas is
    * tiny (2-3 rounds); each round is predicate-sliced joins + one
    * set-dedup, checkpointed to truncate lineage.
    */
  def chainAxiomEntail(triples: DataFrame,
      chains: Seq[(String, String, String)], maxIters: Int = 16): DataFrame = {
    require(chains.nonEmpty, "no chain axioms declared")
    var t = spoCols(triples).distinct().localCheckpoint(true)
    var rounds = 0
    var stable = false
    while (!stable) {
      if (rounds >= maxIters) throw new IllegalStateException(
        s"chain-axiom entailment did not reach the fixpoint in $maxIters rounds")
      val derived = chains.map { case (p, q, r) =>
        t.where(col("p") === p).select(col("s"), col("o").as("m"))
          .join(t.where(col("p") === q).select(col("s").as("m"), col("o")), Seq("m"))
          .select(col("s"), lit(r).as("p"), col("o"))
      }.reduceLeft(_ unionByName _)
      // delta-only materialization (r6): t ∪ distinct(derived∖t) is
      // set-equal to distinct(t ∪ derived), but only the (small)
      // fresh delta is shuffled and checkpointed per round — the
      // accumulated set stays a lazy union of checkpoint leaves (the
      // transitiveClosure r6 note), and count-stability becomes
      // "no fresh rows"
      val fresh = derived
        .join(t, Seq("s", "p", "o"), "left_anti").distinct()
        .localCheckpoint(true)
      stable = fresh.isEmpty
      if (!stable) t = t.unionByName(fresh)
      rounds += 1
    }
    t
  }

  /** One SPARQL 1.1 UPDATE graph-management operation over a quad
    * table (g, s, p, o): CLEAR g (empty the graph — on a quad TABLE,
    * DROP coincides), ADD from TO to (union into the target,
    * set-dedup), COPY from TO to (replace the target with the
    * source), MOVE from TO to (COPY + DROP the source).
    */
  sealed trait GraphMgmtOp
  final case class ClearGraph(g: String) extends GraphMgmtOp
  final case class AddGraph(from: String, to: String) extends GraphMgmtOp
  final case class CopyGraph(from: String, to: String) extends GraphMgmtOp
  final case class MoveGraph(from: String, to: String) extends GraphMgmtOp

  /** SPARQL 1.1 UPDATE named-graph management: `ops` apply
    * left-to-right, each over the previous result — the UPDATE
    * request-sequence semantics. Every op is a graph-local filter /
    * relabel / union: nothing shuffles except the ADD set-dedup (the
    * target may already hold some of the source's quads), and COPY /
    * MOVE skip even that (the relabeled source is a set, disjoint
    * from the emptied rest by graph name). The quad set in = quad
    * set out discipline of [[deleteInsert]] (reference decoder
    * graph-identity semantics, decoder.ex:61-76).
    */
  def manageGraphs(quads: DataFrame, ops: Seq[GraphMgmtOp]): DataFrame = {
    val init = quads.select(col("g").cast("string").as("g"),
      col("s").cast("string").as("s"), col("p").cast("string").as("p"),
      col("o").cast("string").as("o")).distinct()
    ops.foldLeft(init) { (acc, op) =>
      op match {
        case ClearGraph(g) => acc.where(col("g") =!= g)
        case AddGraph(f, t) =>
          acc.unionByName(acc.where(col("g") === f).withColumn("g", lit(t))).distinct()
        case CopyGraph(f, t) =>
          acc.where(col("g") =!= t)
            .unionByName(acc.where(col("g") === f).withColumn("g", lit(t)))
        case MoveGraph(f, t) =>
          acc.where(col("g") =!= t && col("g") =!= f)
            .unionByName(acc.where(col("g") === f).withColumn("g", lit(t)))
      }
    }
  }

  /** owl:TransitiveProperty entailment — materialize the transitive
    * closure of each declared-transitive predicate's edge slice and
    * merge it back as asserted triples. Unlike the schema-side
    * [[transitiveClosure]] (TBox hierarchies), this closes ABox-sized
    * relations (partOf, locatedIn, ancestorOf) — forest/DAG-shaped in
    * practice, so the closure is O(n·depth) and the semi-naive rounds
    * are O(depth). The same no-truncation rule applies: a round cap hit
    * before the fixpoint throws rather than shipping an unsound graph.
    */
  def transitivePropEntail(triples: DataFrame, transPreds: Seq[String],
      maxIters: Int = 64, dedup: Boolean = true): DataFrame = {
    require(transPreds.nonEmpty, "no transitive predicates declared")
    val t = triples.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
    val closed = transPreds.map { p =>
      transitiveClosure(
        t.where(col("p") === p).select(col("s").as("sub"), col("o").as("sup")),
        maxIters)
        .select(col("sub").as("s"), lit(p).as("p"), col("sup").as("o"))
    }
    val out = (t +: closed).reduceLeft(_ unionByName _)
    // dedup=false: the inverseOfEntail composition note applies (the
    // per-predicate closure still dedups its own slice internally)
    if (dedup) out.distinct() else out
  }

  /** SPARQL UPDATE `DELETE { … } INSERT { … } WHERE { … }` as one
    * atomic graph transformation: solutions are computed against the
    * PRE-update graph (the spec's evaluation order — deletes never
    * starve the bindings the inserts need), the delete template's
    * instantiation leaves via an anti-join on the full (s, p, o) key,
    * the insert template's arrives via [[construct]], and the final
    * set-dedup restores graph semantics (an insert may re-assert a
    * surviving triple). Either template may be empty (DELETE WHERE /
    * INSERT WHERE), not both.
    *
    * Scale shape: one BGP plan for the bindings + one anti-join and
    * one union over the TB-sized graph — the update never touches
    * triples outside the delete key set except through the final
    * distinct, which is the point (graph stores are sets).
    */
  def deleteInsert(triples: DataFrame, wherePatterns: Seq[(String, String, String)],
      deleteTemplate: Seq[(String, String, String)],
      insertTemplate: Seq[(String, String, String)]): DataFrame = {
    require(deleteTemplate.nonEmpty || insertTemplate.nonEmpty,
      "UPDATE with neither DELETE nor INSERT template")
    val t = triples.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
    val sols = bgp(t, wherePatterns)
    val afterDel =
      if (deleteTemplate.isEmpty) t
      else t.join(construct(sols, deleteTemplate), Seq("s", "p", "o"), "left_anti")
    val out =
      if (insertTemplate.isEmpty) afterDel
      else afterDel.unionByName(construct(sols, insertTemplate))
    out.distinct()
  }

  /** OWL-lite constraint checking — the property-axiom data-quality
    * gate beside [[validateShapes]]: owl:FunctionalProperty (a subject
    * carries more than one distinct value) and owl:IrreflexiveProperty
    * (a self-edge) violations as rows (s, p, violation, n). A clean
    * graph yields an EMPTY frame.
    *
    * Scale shape: each axiom class is a predicate-slice (`p IN (…)`
    * pushes into the scan); functional is one map-side-combinable
    * distinct-count per (s, p), irreflexive is a pure filter — no
    * joins, no windows, no state.
    */
  def owlConstraintViolations(triples: DataFrame,
      functional: Seq[String] = Nil, irreflexive: Seq[String] = Nil): DataFrame = {
    require(functional.nonEmpty || irreflexive.nonEmpty, "no axioms declared")
    val t = triples.select(col("s").cast("string").as("s"),
      col("p").cast("string").as("p"), col("o").cast("string").as("o"))
    val fv = if (functional.isEmpty) None else Some(
      t.where(col("p").isin(functional: _*))
        .groupBy(col("s"), col("p"))
        .agg(countDistinct(col("o")).as("n"))
        .where(col("n") > 1)
        .select(col("s"), col("p"), lit("functional").as("violation"), col("n")))
    val iv = if (irreflexive.isEmpty) None else Some(
      t.where(col("p").isin(irreflexive: _*) && col("s") === col("o"))
        .select(col("s"), col("p"), lit("irreflexive").as("violation"), lit(1L).as("n")))
    Seq(fv, iv).flatten.reduceLeft(_ unionByName _)
  }

  /** SPARQL property path `(p1|p2|…){1,maxHops}`: distinct (src, dst)
    * pairs connected by 1..maxHops edges whose predicate is in `preds`
    * (alternation = one isin slice; `p+` at corpus scale is always
    * hop-capped — unbounded closure over a TB-sized ABox is a different
    * operator). Semi-naive frontier: each round extends only LAST
    * round's new pairs and anti-joins the accumulated closure, so a
    * pair is found once at its minimum hop count and total join work is
    * O(result), not O(hops × result) — the q69 frontier discipline
    * applied to pairs. Rounds checkpoint eagerly (lineage truncation,
    * the q26 rule); a fixpoint before the cap exits early. Unlike
    * [[transitiveClosure]] the cap is the SEMANTICS here (path length
    * bound), so hitting it is normal, never a throw.
    */
  def boundedPath(triples: DataFrame, preds: Seq[String], maxHops: Int): DataFrame = {
    require(maxHops >= 1, "path needs at least one hop")
    val edges = triples.where(col("p").isin(preds: _*))
      .select(col("s").cast("string").as("src"), col("o").cast("string").as("dst"))
      .distinct().localCheckpoint(true)
    val hop = edges.select(col("src").as("mid"), col("dst").as("ndst"))
    var closure = edges
    var delta = edges
    var round = 1
    while (round < maxHops) {
      val next = delta.join(hop, delta("dst") === hop("mid"))
        .select(col("src"), col("ndst").as("dst")).distinct()
        .join(closure, Seq("src", "dst"), "left_anti")
        .localCheckpoint(true)
      if (next.isEmpty) return closure
      closure = closure.unionByName(next).localCheckpoint(true)
      delta = next
      round += 1
    }
    closure
  }
}
