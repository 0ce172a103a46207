package kgbench

import graft.pipeline.{Extract, Page}
import graft.xml.{JsonLd, Microdata, RdfXmlParser, RdfaLite}
import org.apache.spark.sql.{Dataset, SparkSession}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable

/** Per-repetition outcome of a timed unit of work. */
final case class Rep(wallS: Double, cpuS: Double, ops: Long, failed: Long, traced: Boolean,
    layers: Map[String, Double] = Map.empty)

/** A benchmark workload: seeded inputs, a warm-up that also produces
  * the outputs the correctness check reads, and a repeatable unit of
  * work. Everything runs in one driver thread (closed loop, one client,
  * one job at a time). */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def rep(i: Int, tracer: Option[Tracer]): Rep
  /** Correctness errors, run outside the timed window. */
  def check(): Seq[String]
  def pages: Long
  def triples: Long
  /** Per-layer counters that need no listener (single-threaded parser pass). */
  def parserLayers(): Map[String, Double] = Map.empty
  /** Whether this workload exercises the layer behind a per-layer
    * metric. The others report 0 by design; a measured one that comes
    * out missing or not finite fails the run. */
  def measures(metric: String): Boolean = true
}

object Main {
  val kgStages = Seq("extract", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency")
  /** One documents-only registry query or more per module: Dedup's
    * prefix join, the MinHash-LSH pair graph's connected components and
    * q32 reusing them through StageCache, GraphOps' HITS over the
    * link graph, TripleOps' property-path closure, and CorpusOps' BM25. */
  val registryQueries = Seq("q59_jaccard_prefix_join", "q26_connected_components", "q32_cluster_rep",
    "q104_hits", "q144_path_closure", "q47_bm25_topk")

  /** Every per-layer metric with its unit, in report order. A workload
    * that does not exercise a layer reports 0 for it (see `measures`). */
  val perLayer: Seq[(String, String)] =
    Seq("xml.rdfxml.parse_s" -> "s", "xml.islands.parse_s" -> "s", "extract.scan_s" -> "s",
      "extract.triplesof_s" -> "s", "extract.single_thread_pages_per_s" -> "1/s",
      "extract.row_overhead_s" -> "s", "extract.pages" -> "count", "extract.triples" -> "count",
      "extract.parse_errors" -> "count") ++
      kgStages.flatMap(s => Seq(s"kg.$s.s" -> "s", s"kg.$s.jobs" -> "count",
        s"kg.$s.shuffle_bytes" -> "bytes", s"kg.$s.spill_bytes" -> "bytes", s"kg.$s.task_cpu_s" -> "s",
        s"kg.$s.rows_out" -> "count", s"kg.$s.task_skew" -> "ratio")) ++
      Seq("kg.uncovered_s" -> "s", "canon.candidate_pairs" -> "count", "canon.verified_pairs" -> "count",
        "canon.verify_yield" -> "ratio", "canon.cc_rounds" -> "count") ++
      registryQueries.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count",
        s"q.$q.shuffle_bytes" -> "bytes", s"q.$q.stagecache_builds" -> "count")) ++
      Seq("trace.overhead_s" -> "s")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = cpuBean.getProcessCpuTime

  /** Times `body` as wall and process-CPU seconds. */
  def timed[A](body: => A): (A, Double, Double) = {
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  private def procStatCpu(): Array[Long] = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }

  private def vmHwmMb(): Double = {
    val l = Files.readAllLines(Paths.get("/proc/self/status"))
    val it = l.iterator()
    var kb = 0L
    while (it.hasNext) { val s = it.next(); if (s.startsWith("VmHWM:")) kb = s.split("\\s+")(1).toLong }
    kb / 1024.0
  }

  /** Resets the peak-RSS watermark so VmHWM covers the timed window only. */
  private def resetHwm(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Exception => () }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    java.lang.Double.toString(d)
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val work = a("work"); val launchMs = a("launch-ms").toLong; val cpus = a("cpus").toInt
    val spark = session(cpus, work)
    val wl: Workload = workload match {
      case "extract_mix" => new ExtractMix(spark, seed, work)
      case "kg_graph" => new KgGraph(new KgBuild(spark, seed, work), new RegistryGraph(spark, seed, work))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def phase(name: String): Unit =
      System.err.println(f"[kgbench] $name done at ${(System.currentTimeMillis() - launchMs) / 1e3}%.2fs")
    phase("session")
    wl.prepare(); phase("inputs")
    wl.warmup(); phase("warm-up")
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    // ---- timed window: closed loop, one repetition at a time ----------
    resetHwm()
    val stat0 = procStatCpu(); val load0 = Files.readString(Paths.get("/proc/loadavg")).trim
    val reps = mutable.ArrayBuffer.empty[Rep]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var i = 0
    // at least one repetition of each kind
    while (elapsed < seconds || reps.size < (if (trace) 2 else 1)) {
      // traced first: JIT drift between the two then inflates, never hides, the overhead
      val traced = trace && i % 2 == 0
      val tracer = if (traced) Some(new Tracer) else None
      tracer.foreach { t => spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      try reps += wl.rep(i, tracer)
      finally tracer.foreach { t =>
        org.apache.spark.sql.SparkHooks.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t); spark.listenerManager.unregister(t)
      }
      i += 1
    }
    val windowS = elapsed
    val peakRss = vmHwmMb()
    val stat1 = procStatCpu(); val load1 = Files.readString(Paths.get("/proc/loadavg")).trim
    val errors = wl.check(); phase("check")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // a failed repetition publishes no duration
    val plain = reps.filter(r => !r.traced && r.failed == 0).toSeq
    val wall = Stats.median(plain.map(_.wallS))
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wall, "s")
      metrics("cpu_s") = (Stats.median(plain.map(_.cpuS)), "s")
      metrics("pages_per_s") = (wl.pages / wall, "1/s")
      metrics("triples_per_s") = (wl.triples / wall, "1/s")
      metrics("peak_rss_mb") = (peakRss, "MB")
    } else {
      val traced = reps.filter(r => r.traced && r.failed == 0).toSeq
      val medians = wl.parserLayers() ++ traced.flatMap(_.layers.keys).distinct.map { k =>
        k -> Stats.median(traced.map(_.layers.getOrElse(k, Double.NaN)))
      }
      // Spark's row path on top of parsing: extract task run time minus
      // the single-threaded per-page triplesOf time over the same pages
      val rowOverhead = for (run <- medians.get("extract.task_run_s"); tof <- medians.get("extract.triplesof_s"))
        yield "extract.row_overhead_s" -> (run - tof)
      val layers = medians ++ rowOverhead +
        ("trace.overhead_s" -> (Stats.median(traced.map(_.wallS)) - wall))
      perLayer.foreach { case (k, unit) =>
        metrics(k) = (if (wl.measures(k)) layers.getOrElse(k, Double.NaN) else 0.0, unit)
      }
    }
    // a measurement that is missing or not finite fails the run instead
    // of printing a plausible-looking number
    val invalid = metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    if (invalid.nonEmpty) {
      System.err.println(s"[kgbench] no valid measurement for: ${invalid.mkString(", ")}")
      spark.stop()
      sys.exit(6)
    }
    val d = stat1.zip(stat0).map { case (x, y) => x - y }
    val steal = if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    val diag = Seq(
      s""""nproc": ${Runtime.getRuntime.availableProcessors}""", s""""spark_cores": $cpus""",
      s""""window_s": ${num(windowS)}""", s""""reps": ${reps.size}""",
      s""""steal_share": ${num(steal)}""",
      s""""loadavg_start": ${jsonString(load0)}""", s""""loadavg_end": ${jsonString(load1)}""",
      s""""rep_wall_s": [${plain.map(r => num(r.wallS)).mkString(", ")}]""")
    val attempted = reps.map(_.ops).sum
    val failed = reps.map(_.failed).sum + errors.size
    val out = new StringBuilder
    out.append(s"""{"correct": ${errors.isEmpty && reps.forall(_.failed == 0)}, """)
    out.append(s""""attempted": $attempted, "failed": $failed, "metrics": {""")
    out.append(metrics.map { case (k, (v, u)) => s"""${jsonString(k)}: {"value": ${num(v)}, "unit": ${jsonString(u)}}""" }
      .mkString(", "))
    out.append(s"""}, "diagnostics": {${diag.mkString(", ")}}, "errors": [""")
    out.append(errors.take(20).map(jsonString).mkString(", "))
    out.append("]}")
    println(out.toString)
    spark.stop()
  }
}

/** Generates page `i` of a page table; serializable so executors can
  * generate their own slices. */
trait PageSource extends Serializable {
  def page(i: Int): GenPage
}

final case class ExtractSource(seed: Long) extends PageSource {
  def page(i: Int): GenPage = Gen.extractPage(seed, i)
}

final case class KgSource(seed: Long, nSingles: Int, nGroups: Int) extends PageSource {
  @transient lazy val gen = new Gen.KgGen(seed, nSingles, nGroups)
  def page(i: Int): GenPage = gen.page(i)
}

/** Shared page-table plumbing for the two workloads that parse pages. */
abstract class PageWorkload(spark: SparkSession, work: String) extends Workload {
  import spark.implicits._
  protected def source: PageSource
  def nPages: Int
  protected val pagesPath = s"$work/input/pages.parquet"

  /** Driver-side copy of the pages with their truth, for the checks. */
  protected lazy val gen: Vector[GenPage] = {
    val src = source
    val arr = new Array[GenPage](nPages)
    java.util.stream.IntStream.range(0, nPages).parallel().forEach(i => arr(i) = src.page(i))
    arr.toVector
  }

  /** Writes the page table; executors generate their own slices. */
  protected def writePages(): Unit = {
    val src = source
    spark.range(0, nPages, 1, 16).mapPartitions { ids =>
      ids.map { i =>
        val g = src.page(i.toInt)
        Page(g.url, new Timestamp(Gen.epochMs + i), g.html, g.text, g.lang)
      }
    }.write.parquet(pagesPath)
  }

  def prepare(): Unit = { writePages(); gen }

  protected def pageDs: Dataset[Page] = spark.read.parquet(pagesPath).as[Page]

  def pages: Long = nPages
  def triples: Long = gen.map(_.count.toLong).sum

  /** `Extract.extractText` must reproduce each page's text byte for byte. */
  protected def textErrors(): Seq[String] =
    gen.filter(g => Extract.extractText(new String(g.html, "UTF-8")) != g.text).map(g => s"text mismatch: ${g.url}")

  /** Single-threaded pass over the page table through the public parser
    * functions: island scans, the RDF/XML parser, the other island
    * parsers, and the whole per-page `Extract.triplesOf`. Median of three
    * passes. */
  override def parserLayers(): Map[String, Double] = {
    val mdMark = Microdata.marker; val jlMark = JsonLd.marker
    val flags = gen.map { g => val s = new String(g.html, "UTF-8").toLowerCase; (s.contains(mdMark), s.contains(jlMark)) }
    def pass(): Map[String, Double] = {
      var scan = 0L; var xml = 0L; var isl = 0L; var tof = 0L
      var nPages = 0L; var nTriples = 0L; var nErr = 0L
      gen.zip(flags).foreach { case (g, (md, jl)) =>
        val h = g.html
        var t = System.nanoTime()
        val island = Extract.detectIslandBytes(h)
        val rdfa = Extract.detectRdfaBytes(h)
        var u = System.nanoTime(); scan += u - t; t = u
        island.foreach { case (b, off, len) => RdfXmlParser.parseBytesRaw(b, off, len, Some(g.url)).map(_.size) }
        u = System.nanoTime(); xml += u - t; t = u
        rdfa.foreach { case (off, end) => RdfaLite.parseBytes(h, off, end - off, Some(g.url)) }
        if (md || jl) {
          val s = new String(h, "UTF-8")
          if (md) Microdata.parse(s, Some(g.url))
          if (jl) JsonLd.parseHtml(s, Some(g.url))
        }
        u = System.nanoTime(); isl += u - t; t = u
        val r = Extract.triplesOf(g.url, h)
        tof += System.nanoTime() - t
        nPages += 1
        r match { case Right(ts) => nTriples += ts.size; case Left(_) => nErr += 1 }
      }
      Map("extract.scan_s" -> scan / 1e9, "xml.rdfxml.parse_s" -> xml / 1e9, "xml.islands.parse_s" -> isl / 1e9,
        "extract.triplesof_s" -> tof / 1e9, "extract.single_thread_pages_per_s" -> nPages / (tof / 1e9),
        "extract.pages" -> nPages.toDouble, "extract.triples" -> nTriples.toDouble,
        "extract.parse_errors" -> nErr.toDouble)
    }
    val passes = Seq.fill(3)(pass())
    passes.head.keys.map(k => k -> Stats.median(passes.map(_(k)))).toMap
  }
}

object ExtractMix {
  val warmPasses = 12
}

/** `extract_mix`: Extract.run over a mixed page table to a noop sink. */
final class ExtractMix(spark: SparkSession, seed: Long, work: String) extends PageWorkload(spark, work) {
  import spark.implicits._
  val nPages = 12000
  protected val source: PageSource = ExtractSource(seed)
  private val checkPath = s"$work/check/extract"

  def warmup(): Unit = {
    // the first pass writes its output for the correctness check
    Extract.run(pageDs).write.parquet(checkPath)
    // then a fixed number of noop passes, so set-up does the same work
    // on every run (the JIT keeps speeding passes up for 10-20 passes;
    // the timed window's median absorbs the rest)
    (1 to ExtractMix.warmPasses).foreach(k => rep(-k, None))
  }

  /** Only the parser and scan layers run here. */
  override def measures(metric: String): Boolean =
    metric.startsWith("xml.") || metric.startsWith("extract.") || metric == "trace.overhead_s"

  def rep(i: Int, tracer: Option[Tracer]): Rep = {
    val (_, wall, cpu) = Main.timed(Extract.run(pageDs).write.format("noop").mode("overwrite").save())
    val layers = tracer.map { t =>
      org.apache.spark.sql.SparkHooks.drain(spark.sparkContext)
      Map("extract.task_run_s" -> Trace.sum(t, t.jobs.toSeq).taskRunS)
    }.getOrElse(Map.empty)
    Rep(wall, cpu, nPages, 0, tracer.isDefined, layers)
  }

  def check(): Seq[String] = {
    val out = spark.read.parquet(checkPath)
    val got = out.where($"triple".isNotNull).select($"triple.*")
      .select($"url", $"subj", $"pred", $"obj", $"objKind", $"lang", $"datatype")
      .as[(String, String, String, String, String, String, String)].collect()
      .groupBy(_._1).map { case (u, ts) => u -> ts.map(t => T6(t._2, t._3, t._4, t._5, t._6, t._7)).toVector }
    val errCount = out.where($"lineage".isNotNull).select($"lineage.parseErrorCount").as[Long].collect().sum
    val planted = gen.count(_.negative)
    val errs = mutable.ArrayBuffer.empty[String]
    if (errCount != planted) errs += s"parse errors counted $errCount, planted $planted"
    gen.foreach { g =>
      val ts = got.getOrElse(g.url, Vector.empty)
      if (g.exact && !g.negative) {
        if (ts.sortBy(_.toString) != g.triples.sortBy(_.toString))
          errs += s"triples differ on ${g.url} (${g.shape}): got ${ts.size}, expected ${g.count}; " +
            s"missing ${g.triples.diff(ts).take(2)} extra ${ts.diff(g.triples).take(2)}"
      } else if (ts.size != g.count) errs += s"triple count on ${g.url} (${g.shape}): ${ts.size} != ${g.count}"
      // pages without triples: an error must be exactly a planted negative
      if (g.count == 0 && Extract.triplesOf(g.url, g.html).isLeft != g.negative)
        errs += s"error flag on ${g.url} (${g.shape}) is not ${g.negative}"
    }
    errs.toSeq ++ textErrors()
  }
}
