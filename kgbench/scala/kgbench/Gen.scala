package kgbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One expected triple in Extract's flat column encoding (subj, pred,
  * obj, objKind, lang, datatype). */
final case class T6(s: String, p: String, o: String, kind: String, lang: String, dt: String)

/** A generated page and its ground truth. `count` is the exact number
  * of triples Extract must emit for it; `triples` is the exact multiset
  * when `exact` (no blank nodes on the page). `negative` marks a planted
  * malformed RDF/XML island that must be counted as a parse error. */
final case class GenPage(url: String, html: Array[Byte], text: String, lang: String,
    negative: Boolean, count: Int, exact: Boolean, triples: Vector[T6], shape: String)

object NS {
  val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val xsd = "http://www.w3.org/2001/XMLSchema#"
  val ex = "http://ex.example/ns#"
  val schema = "http://schema.org/"
  val langString: String = rdf + "langString"
  val xmlLiteral: String = rdf + "XMLLiteral"
  val rdfType: String = rdf + "type"
}

/** Accumulates the RDF/XML body of one document with its truth. */
final class Doc {
  val body = new StringBuilder
  val triples = mutable.ArrayBuffer.empty[T6]
  var extra = 0 // blank-node triples: counted, not enumerated
  var exact = true
  def count: Int = triples.size + extra
  def iri(s: String, p: String, o: String): Unit = triples += T6(s, p, o, "iri", null, null)
  def lit(s: String, p: String, v: String): Unit = triples += T6(s, p, v, "literal", null, null)
  def lang(s: String, p: String, v: String, l: String): Unit = triples += T6(s, p, v, "literal", l, NS.langString)
  def typed(s: String, p: String, v: String, dt: String): Unit = triples += T6(s, p, v, "literal", null, dt)
  def blank(n: Int): Unit = { extra += n; exact = false }
}

/** Seeded word and name sources shared by the generators. */
final class Words(val rnd: SplittableRandom) {
  private val common = Array("graph", "knowledge", "entity", "triple", "crawl", "page", "linked",
    "data", "resource", "schema", "web", "semantic", "river", "market", "city", "music", "table",
    "science", "history", "garden", "engine", "paper", "storm", "bridge", "library", "north",
    "über", "café", "naïve", "straße", "数据", "知识", "図書館", "ciudad", "façade", "jalapeño")
  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
    a.toSeq
  }
  def word(): String = common(rnd.nextInt(common.length))
  def words(lo: Int, hi: Int): String = Iterator.fill(lo + rnd.nextInt(hi - lo + 1))(word()).mkString(" ")
  def name(lo: Int, hi: Int): String = {
    val n = lo + rnd.nextInt(hi - lo + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(letters.charAt(rnd.nextInt(26))); i += 1 }
    sb.toString
  }
  /** A literal value that exercises XML escaping and non-ASCII text. */
  def value(): String = int(6) match {
    case 0 => word() + " & " + word()
    case 1 => word() + " <" + word() + ">"
    case _ => words(1, 4)
  }
}

object Xml {
  def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }
  val rdfOpen: String =
    s"""<rdf:RDF xmlns:rdf="${NS.rdf}" xmlns:ex="${NS.ex}">"""
}

/** RDF/XML templates covering the grammar: plain/typed/lang literals,
  * typed node elements, property attributes, nested node elements,
  * xml:base with rdf:ID, xml:lang scoping, parseType Literal, Resource
  * and Collection, containers, reification by a property-element
  * rdf:ID, and rdf:nodeID. Each appends its XML and truth to a [[Doc]].
  */
final class RdfTemplates(w: Words, prefix: String) {
  private val xsdInt = NS.xsd + "integer"
  private val xsdDate = NS.xsd + "date"
  private var serial = 0
  private def next(): Int = { serial += 1; serial }
  def entity(): String = s"http://data.example/e/$prefix${w.name(6, 10)}${next()}"

  val positive: Vector[(String, (Doc, String) => Unit)] = Vector(
    "description" -> description, "typed_node" -> typedNode, "nested" -> nested,
    "base_id" -> baseId, "lang_scope" -> langScope, "parse_literal" -> parseLiteral,
    "parse_resource" -> parseResource, "collection" -> collection, "container" -> container,
    "reify" -> reify, "node_id" -> nodeId)

  def description(d: Doc, base: String): Unit = {
    val s = entity(); val o = entity()
    val v = w.value(); val l = w.words(1, 3); val n = w.int(100000).toString
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:name>${Xml.esc(v)}</ex:name>
      |<ex:label xml:lang="en">${Xml.esc(l)}</ex:label>
      |<ex:count rdf:datatype="$xsdInt">$n</ex:count>
      |<ex:seeAlso rdf:resource="$o"/>
      |</rdf:Description>
      |""".stripMargin)
    d.lit(s, NS.ex + "name", v); d.lang(s, NS.ex + "label", l, "en")
    d.typed(s, NS.ex + "count", n, xsdInt); d.iri(s, NS.ex + "seeAlso", o)
  }

  def typedNode(d: Doc, base: String): Unit = {
    val s = entity(); val o = entity(); val nick = w.word() + w.int(1000)
    val born = s"19${10 + w.int(90)}-0${1 + w.int(9)}-1${w.int(10)}"
    d.body.append(s"""<ex:Person rdf:about="$s" ex:nick="${Xml.esc(nick)}">
      |<ex:knows rdf:resource="$o"/>
      |<ex:born rdf:datatype="$xsdDate">$born</ex:born>
      |</ex:Person>
      |""".stripMargin)
    d.iri(s, NS.rdfType, NS.ex + "Person"); d.lit(s, NS.ex + "nick", nick)
    d.iri(s, NS.ex + "knows", o); d.typed(s, NS.ex + "born", born, xsdDate)
  }

  def nested(d: Doc, base: String): Unit = {
    val s = entity(); val o = entity(); val t = w.words(1, 3)
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:worksFor>
      |<ex:Org rdf:about="$o">
      |<ex:title xml:lang="fr">${Xml.esc(t)}</ex:title>
      |</ex:Org>
      |</ex:worksFor>
      |</rdf:Description>
      |""".stripMargin)
    d.iri(s, NS.ex + "worksFor", o); d.iri(o, NS.rdfType, NS.ex + "Org")
    d.lang(o, NS.ex + "title", t, "fr")
  }

  def baseId(d: Doc, base: String): Unit = {
    val k = next(); val dir = prefix + w.name(4, 8)
    d.body.append(s"""<rdf:Description xml:base="http://base.example/$dir/doc" rdf:ID="id$k">
      |<ex:rel rdf:resource="other/r$k"/>
      |<ex:up rdf:resource="../top$k"/>
      |</rdf:Description>
      |""".stripMargin)
    val s = s"http://base.example/$dir/doc#id$k"
    d.iri(s, NS.ex + "rel", s"http://base.example/$dir/other/r$k")
    d.iri(s, NS.ex + "up", s"http://base.example/top$k")
  }

  def langScope(d: Doc, base: String): Unit = {
    val s = entity(); val a = w.words(1, 2); val b = w.words(1, 2); val c = w.words(1, 2)
    d.body.append(s"""<rdf:Description rdf:about="$s" xml:lang="de">
      |<ex:a>${Xml.esc(a)}</ex:a>
      |<ex:b xml:lang="">${Xml.esc(b)}</ex:b>
      |<ex:c xml:lang="es">${Xml.esc(c)}</ex:c>
      |</rdf:Description>
      |""".stripMargin)
    d.lang(s, NS.ex + "a", a, "de"); d.lit(s, NS.ex + "b", b); d.lang(s, NS.ex + "c", c, "es")
  }

  def parseLiteral(d: Doc, base: String): Unit = {
    val s = entity(); val bold = w.word(); val tail = w.words(1, 3)
    val xml = s"<b>${Xml.esc(bold)}</b> ${Xml.esc(tail)}"
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:body rdf:parseType="Literal">$xml</ex:body>
      |</rdf:Description>
      |""".stripMargin)
    d.typed(s, NS.ex + "body", xml, NS.xmlLiteral)
  }

  def parseResource(d: Doc, base: String): Unit = {
    val s = entity()
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:address rdf:parseType="Resource">
      |<ex:city>${Xml.esc(w.word())}</ex:city>
      |<ex:zip>${10000 + w.int(89999)}</ex:zip>
      |</ex:address>
      |</rdf:Description>
      |""".stripMargin)
    d.blank(3)
  }

  def collection(d: Doc, base: String): Unit = {
    val s = entity(); val n = 1 + w.int(4)
    val items = (1 to n).map(_ => entity())
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:members rdf:parseType="Collection">
      |${items.map(i => s"""<rdf:Description rdf:about="$i"/>""").mkString("\n")}
      |</ex:members>
      |</rdf:Description>
      |""".stripMargin)
    d.blank(1 + 2 * n)
  }

  def container(d: Doc, base: String): Unit = {
    val s = entity(); val kind = Seq("Seq", "Bag", "Alt")(w.int(3))
    val n = 1 + w.int(4)
    val members = (1 to n).map(i => if (i % 2 == 1) Left(entity()) else Right(w.value()))
    d.body.append(s"""<rdf:$kind rdf:about="$s">
      |${members.map {
          case Left(e) => s"""<rdf:li rdf:resource="$e"/>"""
          case Right(v) => s"<rdf:li>${Xml.esc(v)}</rdf:li>"
        }.mkString("\n")}
      |</rdf:$kind>
      |""".stripMargin)
    d.iri(s, NS.rdfType, NS.rdf + kind)
    members.zipWithIndex.foreach {
      case (Left(e), i) => d.iri(s, s"${NS.rdf}_${i + 1}", e)
      case (Right(v), i) => d.lit(s, s"${NS.rdf}_${i + 1}", v)
    }
  }

  def reify(d: Doc, base: String): Unit = {
    val s = entity(); val k = next(); val v = w.value()
    d.body.append(s"""<rdf:Description rdf:about="$s">
      |<ex:claims rdf:ID="st$k">${Xml.esc(v)}</ex:claims>
      |</rdf:Description>
      |""".stripMargin)
    val r = s"$base#st$k"
    d.lit(s, NS.ex + "claims", v)
    d.iri(r, NS.rdfType, NS.rdf + "Statement"); d.iri(r, NS.rdf + "subject", s)
    d.iri(r, NS.rdf + "predicate", NS.ex + "claims"); d.lit(r, NS.rdf + "object", v)
  }

  def nodeId(d: Doc, base: String): Unit = {
    val s = entity(); val k = next()
    d.body.append(s"""<rdf:Description rdf:nodeID="n$k">
      |<ex:note>${Xml.esc(w.value())}</ex:note>
      |</rdf:Description>
      |<rdf:Description rdf:about="$s">
      |<ex:ref rdf:nodeID="n$k"/>
      |</rdf:Description>
      |""".stripMargin)
    d.blank(2)
  }

  /** Planted negatives: one not-well-formed document and two grammar
    * violations (rdf:li as a node element; rdf:about with rdf:nodeID). */
  def negative(d: Doc): Unit = {
    val s = entity()
    d.body.append(w.int(3) match {
      case 0 => s"""<rdf:Description rdf:about="$s"><ex:a>${w.word()}</ex:b></rdf:Description>\n"""
      case 1 => s"""<rdf:li rdf:about="$s"><ex:a>${w.word()}</ex:a></rdf:li>\n"""
      case _ => s"""<rdf:Description rdf:about="$s" rdf:nodeID="x${next()}"><ex:a>${w.word()}</ex:a></rdf:Description>\n"""
    })
  }
}

/** Page-table generators. Every page is a pure function of the seed. */
object Gen {
  private val langs = Array("en", "de", "fr", "es", "zh")
  val epochMs = 1704067200000L // 2024-01-01T00:00:00Z: warc_ts of page i is epochMs + i

  /** Share of each page shape in `extract_mix` (percent). */
  val extractMix: Vector[(String, Int)] = Vector(
    "plain_html" -> 30, "bare_rdfxml" -> 10, "html_rdfxml" -> 38, "html_rdfxml_rdfa" -> 8,
    "html_microdata" -> 5, "html_jsonld" -> 5, "html_all_islands" -> 2, "negative" -> 2)

  private def htmlPage(paras: Seq[String], islands: String): String =
    s"""<!DOCTYPE html><html><head><title>page</title></head><body>
       |${paras.map(p => s"<p>$p</p>").mkString("\n")}
       |$islands</body></html>""".stripMargin

  private def rdfa(w: Words, d: Doc, t: RdfTemplates): String = {
    val s = t.entity(); val n = w.value(); val o = t.entity()
    d.iri(s, NS.rdfType, NS.schema + "Person"); d.lit(s, NS.schema + "name", n)
    d.iri(s, NS.schema + "knows", o)
    s"""<div vocab="${NS.schema}">
       |<section about="$s" typeof="Person">
       |<span property="name">${Xml.esc(n)}</span>
       |<a property="knows" href="$o">friend</a>
       |</section>
       |</div>
       |""".stripMargin
  }

  private def microdata(w: Words, d: Doc, t: RdfTemplates): String = {
    val s = t.entity(); val n = w.value(); val sku = "sku" + w.int(100000)
    d.iri(s, NS.rdfType, NS.schema + "Product"); d.lit(s, NS.schema + "name", n)
    d.lit(s, NS.schema + "sku", sku)
    s"""<div itemscope itemtype="${NS.schema}Product" itemid="$s">
       |<span itemprop="name">${Xml.esc(n)}</span>
       |<meta itemprop="sku" content="$sku">
       |</div>
       |""".stripMargin
  }

  private def jsonld(w: Words, d: Doc, t: RdfTemplates): String = {
    val s = t.entity(); val n = w.words(1, 3); val k = w.word()
    d.iri(s, NS.rdfType, NS.schema + "Event"); d.lit(s, NS.schema + "name", n)
    d.lit(s, NS.schema + "keywords", k)
    s"""<script type="application/ld+json">{"@context": {"@vocab": "${NS.schema}"}, "@id": "$s", "@type": "Event", "name": "$n", "keywords": ["$k"]}</script>
       |""".stripMargin
  }

  private def rdfxml(w: Words, d: Doc, t: RdfTemplates, base: String, negative: Boolean, n: Int): String = {
    val body = new Doc
    if (negative) t.negative(body)
    else (1 to n).foreach { _ =>
      val (_, f) = t.positive(w.int(t.positive.size)); f(body, base)
    }
    d.body.append(body.body); d.triples ++= body.triples; d.extra += body.extra
    d.exact &&= body.exact
    Xml.rdfOpen + "\n" + body.body + "</rdf:RDF>"
  }

  /** Shape of page `i`: every block of 100 consecutive pages holds each
    * shape exactly its stated share of times, in a seeded order. */
  private def shapeOf(seed: Long, i: Int): String = {
    val slots = extractMix.flatMap { case (shape, pct) => Vector.fill(pct)(shape) }
    val offset = rng(seed, -1 - i / 100).nextInt(100)
    slots((i % 100 * 37 + offset) % 100)
  }

  /** Independent random stream of item `i` under `seed`, so pages can be
    * generated in any order and in parallel. */
  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed).nextLong() ^ (i * 0x9E3779B97F4A7C15L))

  /** `extract_mix` page `i`: the parse-and-scan page table with per-page truth. */
  def extractPage(seed: Long, i: Int): GenPage = {
      val w = new Words(rng(seed, i))
      val t = new RdfTemplates(w, s"p$i-")
      val url = s"http://pages.example/s$seed/p$i"
      val shape = shapeOf(seed, i)
      val nTemplates = 1 + i % 3
      val d = new Doc
      val paras = Seq.fill(1 + i % 4)(w.words(5, 40))
      def island(x: String) = s"""<script type="application/rdf+xml">$x</script>\n"""
      val lang = langs(w.int(langs.length))
      val (page, text) = shape match {
        case "plain_html" => (htmlPage(paras, ""), paras.mkString("\n"))
        case "bare_rdfxml" => ("<?xml version=\"1.0\"?>\n" + rdfxml(w, d, t, url, negative = false, nTemplates), "")
        case "html_rdfxml" => (htmlPage(paras, island(rdfxml(w, d, t, url, negative = false, nTemplates))), paras.mkString("\n"))
        case "html_rdfxml_rdfa" =>
          val x = island(rdfxml(w, d, t, url, negative = false, nTemplates))
          (htmlPage(paras, x + rdfa(w, d, t)), paras.mkString("\n"))
        case "html_microdata" => (htmlPage(paras, microdata(w, d, t)), paras.mkString("\n"))
        case "html_jsonld" => (htmlPage(paras, jsonld(w, d, t)), paras.mkString("\n"))
        case "html_all_islands" =>
          val x = island(rdfxml(w, d, t, url, negative = false, nTemplates))
          (htmlPage(paras, x + rdfa(w, d, t) + microdata(w, d, t) + jsonld(w, d, t)), paras.mkString("\n"))
        case "negative" =>
          val x = rdfxml(w, d, t, url, negative = true, 1)
          if (w.chance(0.5)) ("<?xml version=\"1.0\"?>\n" + x, "")
          else (htmlPage(paras, island(x)), paras.mkString("\n"))
      }
      val neg = shape == "negative"
      GenPage(url, page.getBytes("UTF-8"), text, lang, neg,
        if (neg) 0 else d.count, d.exact, if (neg) Vector.empty else d.triples.toVector, shape)
  }

  /** Planted near-duplicate entity-name groups of `kg_build`: three
    * names per group (a 40-48 letter base, base+"s", base+"x"), char-
    * 3-gram Jaccard >= 0.95 inside a group and ~0 across groups. */
  final case class KgTruth(groups: Vector[Vector[String]], singles: Vector[String])

  val kgEntityNs = "http://kg.example/entity/"

  /** `kg_build`: long text, Zipf-skewed subjects (hubs) and planted
    * near-duplicate entity-name groups. Each page mentions at most one
    * member of a group and never repeats a (subject, predicate, object),
    * so canonicalization must not collapse any edge. */
  final class KgGen(seed: Long, nSingles: Int, nGroups: Int) {
    private val w0 = new Words(new SplittableRandom(seed ^ 0x5eedL))
    val truth: KgTruth = KgTruth(
      Vector.fill(nGroups) { val b = w0.name(40, 48); Vector(b, b + "s", b + "x") },
      Vector.tabulate(nSingles)(i => w0.name(10, 16) + "q" + i))
    private val groupOf: Map[String, Int] =
      truth.groups.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
    private val all = (truth.groups.flatten ++ truth.singles).toArray
    // shuffle so Zipf ranks mix group members and singles
    for (i <- all.indices.reverse) { val j = w0.int(i + 1); val x = all(i); all(i) = all(j); all(j) = x }
    private val zipfCdf = all.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    private val classes = Vector("Person", "Org", "Place", "Work")
    private val preds = Vector("knows", "mentions", "relatedTo", "partOf", "cites")

    def page(i: Int): GenPage = {
      val w = new Words(rng(seed, i))
      def zipf(): Int = {
        val k = java.util.Arrays.binarySearch(zipfCdf, w.rnd.nextDouble() * zipfCdf.last)
        if (k >= 0) k else -k - 1
      }
      val url = s"http://kg.example/s$seed/page$i"
      val used = mutable.Set.empty[String] // entities and groups on this page
      def free(e: String) = !used(e) && groupOf.get(e).forall(g => !used("g" + g))
      def take(e: String): String = { used += e; groupOf.get(e).foreach(g => used += "g" + g); e }
      def draw(): String = {
        var e = all(zipf()); var tries = 0
        while (!free(e) && tries < 50) { e = all(w.int(all.length)); tries += 1 }
        if (free(e)) take(e) else null
      }
      val d = new Doc
      // page i (< entity count) leads with entity i so every name is a subject somewhere
      val subjects = ((if (i < all.length) Seq(take(all(i))) else Nil) ++
        Seq.fill(1 + i % 3)(draw())).filter(_ != null)
      subjects.foreach { name =>
        val s = kgEntityNs + name
        val cls = classes(w.int(classes.size))
        d.body.append(s"""<ex:$cls rdf:about="$s">\n""")
        d.iri(s, NS.rdfType, NS.ex + cls)
        val label = w.words(1, 3)
        d.body.append(s"""<ex:label xml:lang="en">${Xml.esc(label)}</ex:label>\n""")
        d.lang(s, NS.ex + "label", label, "en")
        val since = (1900 + w.int(120)).toString
        d.body.append(s"""<ex:since rdf:datatype="${NS.xsd}gYear">$since</ex:since>\n""")
        d.typed(s, NS.ex + "since", since, NS.xsd + "gYear")
        w.shuffled(preds).take(3).foreach { p =>
          val o = draw()
          if (o != null) {
            d.body.append(s"""<ex:$p rdf:resource="$kgEntityNs$o"/>\n""")
            d.iri(s, NS.ex + p, kgEntityNs + o)
          }
        }
        d.body.append(s"</ex:$cls>\n")
      }
      val mentions = subjects ++ Seq.fill(3)(all(w.int(all.length)))
      val paras = Seq.fill(4 + i % 5) {
        (w.words(20, 60).split(' ') ++ mentions.filter(_ => w.chance(0.5))).mkString(" ")
      }
      val rdf = Xml.rdfOpen + "\n" + d.body + "</rdf:RDF>"
      val html = htmlPage(paras, s"""<script type="application/rdf+xml">$rdf</script>\n""")
      GenPage(url, html.getBytes("UTF-8"), paras.mkString("\n"), langs(w.int(langs.length)),
        negative = false, d.count, d.exact, d.triples.toVector, "kg")
    }
  }

  /** Registry documents: a table with the schema and shape of the
    * repository's documents fixtures — a 30-word vocabulary, 10-100 words
    * per document, 5% near-duplicates (an earlier document's text plus
    * " dup"), source = src(doc_id % 20). Lengths and the duplicate slots
    * are fixed so every seed does the same amount of work. */
  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def documents(seed: Long, n: Int): Vector[DocRow] = {
    val rnd = new SplittableRandom(seed ^ 0xd0c5L)
    val vocab = Array("spark", "window", "merge", "table", "column", "vector", "stream", "value",
      "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
      "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
    val others = Array("de", "es", "fr", "zh")
    val texts = new Array[String](n)
    Vector.tabulate(n) { i =>
      val text =
        if (i % 20 == 19) texts(rnd.nextInt(i)) + " dup"
        else Iterator.fill(10 + i * 53 % 91)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      val lang = if (rnd.nextDouble() < 0.4) "en" else others(rnd.nextInt(others.length))
      DocRow(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }
}
