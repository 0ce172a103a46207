package kgbench

import graft.SparkEntry
import graft.pipeline.{KgPipeline, StageCache}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The pipeline half of `kg_graph`: KgPipeline.run over a page table with long text,
  * Zipf-skewed subjects and planted near-duplicate entity-name groups.
  * Every repetition writes to a fresh output root, which is checked
  * (outside the timed window) and then deleted. */
final class KgBuild(spark: SparkSession, seed: Long, work: String) extends PageWorkload(spark, work) {
  import spark.implicits._
  val nPages = 200
  protected val source: KgSource = KgSource(seed, nSingles = 100, nGroups = 20)
  private def truth = source.gen.truth
  private val errors = mutable.ArrayBuffer.empty[String]

  def warmup(): Unit = rep(-1, None)

  def rep(i: Int, tracer: Option[Tracer]): Rep = {
    StageCache.clear()
    val out = s"$work/kg/rep$i"
    val startMs = System.currentTimeMillis()
    val (res, wall, cpu) = Main.timed(Try(KgPipeline.run(spark, pageDs, out)))
    val endMs = System.currentTimeMillis()
    val layers = tracer.map(t => attribute(t, startMs, endMs)).getOrElse(Map.empty)
    res match {
      case Success(_) => errors ++= checkOutput(out)
      case Failure(e) => System.err.println(s"[kgbench] KgPipeline.run failed in repetition $i: $e")
    }
    Main.deleteTree(Paths.get(out))
    Rep(wall, cpu, Main.kgStages.size, if (res.isSuccess) 0 else Main.kgStages.size, tracer.isDefined, layers)
  }

  /** Each planted group shares one canonical id, no two groups merge,
    * every other entity stays its own canonical, and edge rows equal
    * triple rows (canonicalization collapses no edge). */
  private def checkOutput(out: String): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val nTriples = spark.read.parquet(s"$out/triples").count()
    val nEdges = spark.read.parquet(s"$out/edges").count()
    if (nTriples != triples) errs += s"triples rows $nTriples, generated $triples"
    if (nEdges != nTriples) errs += s"edges rows $nEdges != triples rows $nTriples"
    val canon = spark.read.parquet(s"$out/canonical_map").select($"entity", $"canon")
      .as[(String, String)].collect().toMap
    val ns = Gen.kgEntityNs
    val groupCanon = truth.groups.map { g =>
      val cs = g.map(m => canon.getOrElse(ns + m, null)).distinct
      if (cs.size != 1 || cs.head == null) errs += s"group ${g.head} has canonical ids $cs"
      cs.head
    }
    if (groupCanon.distinct.size != groupCanon.size) errs += "two planted groups share a canonical id"
    truth.singles.foreach { s =>
      if (canon.get(ns + s) != Some(ns + s)) errs += s"entity $s canonicalized to ${canon.get(ns + s)}"
    }
    errs.toSeq
  }

  /** Attributes the traced run's jobs to pipeline stages. A stage's span
    * ends when its last Parquet write ends (`triples` and `metrics` are
    * the extract stage's writes) and starts where the previous one
    * ended. A job inside a write belongs to that write's stage; a job
    * with no output path (canonicalize's eager checkpoints, convergence
    * checks) belongs to the stage being built when it started. */
  private def attribute(t: Tracer, startMs: Long, endMs: Long): Map[String, Double] = {
    org.apache.spark.sql.SparkHooks.drain(spark.sparkContext)
    def stageOf(path: String): Option[String] = path.split('/').last match {
      case "triples" | "metrics" => Some("extract")
      case n if Main.kgStages.contains(n) => Some(n)
      case _ => None
    }
    val writes = t.queries.toSeq.flatMap(q => Option(q.outputPath).flatMap(stageOf).map(q -> _))
    val stageByExec = writes.map { case (q, s) => t.execOf(q) -> s }.toMap
    val ends = mutable.LinkedHashMap.empty[String, (Long, Long)]
    var prev = startMs
    Main.kgStages.foreach { s =>
      val e = writes.filter(_._2 == s).map(w => t.execEnd.getOrElse(t.execOf(w._1), prev)).maxOption.getOrElse(prev)
      ends(s) = (prev, e); prev = e
    }
    def byTime(ms: Long) = Main.kgStages.find(s => ms <= ends(s)._2).getOrElse(Main.kgStages.last)
    // the pipeline's own jobs: no job group, started before it returned
    val jobStage = t.jobs.toSeq.filter(j => j.group == null && j.startMs <= endMs).groupBy { j =>
      if (j.execId >= 0) stageByExec.getOrElse(t.root(j.execId), byTime(j.startMs)) else byTime(j.startMs)
    }
    val m = mutable.Map.empty[String, Double]
    Main.kgStages.foreach { s =>
      val js = Trace.sum(t, jobStage.getOrElse(s, Nil))
      val (a, b) = ends(s)
      m(s"kg.$s.s") = (b - a) / 1e3
      m(s"kg.$s.jobs") = js.jobs
      m(s"kg.$s.shuffle_bytes") = js.shuffleBytes.toDouble
      m(s"kg.$s.spill_bytes") = js.spillBytes.toDouble
      m(s"kg.$s.task_cpu_s") = js.taskCpuS
      m(s"kg.$s.task_skew") = js.skew
      val rows = writes.filter { case (q, st) => st == s && !q.outputPath.endsWith("/metrics") }.map(_._1.rowsOut)
      m(s"kg.$s.rows_out") = if (rows.isEmpty || rows.exists(_ < 0)) Double.NaN else rows.sum.toDouble
      if (s == "extract") m("extract.task_run_s") = js.taskRunS
    }
    m("kg.uncovered_s") = (endMs - prev) / 1e3
    m ++= canonCounters(t, ends("canonical_map"))
    m.toMap
  }

  /** Canonicalize's blocking and connected-components counters, read
    * from the executed plans of its actions: the first eager checkpoint
    * materializes the verified pair graph, whose plan holds the
    * (band, bucket) self-join that produced the candidate pairs; every
    * later convergence check (`head`) is one CC round. */
  private def canonCounters(t: Tracer, span: (Long, Long)): Map[String, Double] = {
    val inSpan = t.queries.toSeq.filter { q =>
      t.execEnd.get(t.execOf(q)).exists(e => e > span._1 && e <= span._2)
    }.sortBy(_.qeId)
    val heads = inSpan.count(_.func == "head")
    val firstCheckpoint = inSpan.find(_.func.toLowerCase.contains("checkpoint"))
    val (cand, verified) = firstCheckpoint.map { q =>
      val nodes = Trace.nodes(q.plan)
      val join = nodes.find(n => n.nodeName.contains("Join") &&
        n.output.map(_.name).toSet.intersect(Set("e1", "e2")).size == 2)
      // the topmost row-counting node is the checkpointed distinct pair set
      (join.map(Trace.rows).getOrElse(-1L), nodes.map(Trace.rows).find(_ >= 0).getOrElse(-1L))
    }.getOrElse((-1L, -1L))
    // a counter the plans did not yield is NaN, which fails the run
    def count(n: Long) = if (n >= 0) n.toDouble else Double.NaN
    Map("canon.candidate_pairs" -> count(cand), "canon.verified_pairs" -> count(verified),
      "canon.verify_yield" -> count(verified) / count(cand),
      "canon.cc_rounds" -> count(heads - 1L))
  }

  def check(): Seq[String] = errors.toSeq ++ textErrors()
}

/** The registry half of `kg_graph`: a fixed list of documents-only
  * registry queries over a seeded documents table, each to a noop sink.
  * The warm-up pass writes every result (and its oracle SQL) for the
  * DuckDB compare. */
final class RegistryGraph(spark: SparkSession, seed: Long, work: String) {
  val nDocs = 150
  private val inputDir = s"$work/docs"
  private val checkDir = s"$work/check"
  private val errors = mutable.ArrayBuffer.empty[String]

  def prepare(): Unit = {
    import spark.implicits._
    spark.createDataset(Gen.documents(seed, nDocs)).coalesce(1).write.parquet(s"$inputDir/documents.parquet")
  }

  def warmup(): Unit = {
    StageCache.clear()
    Main.registryQueries.foreach { q =>
      Try(SparkEntry.queries(q)(spark, inputDir).write.parquet(s"$checkDir/$q"))
        .failed.foreach(e => errors += s"$q failed: $e")
    }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Main.registryQueries
      .map(q => s"${Main.jsonString(q)}: ${Main.jsonString(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}"))
  }

  def rep(i: Int, tracer: Option[Tracer]): Rep = {
    val sc = spark.sparkContext
    val per = mutable.Map.empty[String, Double]
    val ((), wall, cpu) = Main.timed {
      StageCache.clear()
      Main.registryQueries.foreach { q =>
        sc.setJobGroup(q, q, interruptOnCancel = false)
        val mark = StageCache.mark()
        val t0 = System.nanoTime()
        Try(SparkEntry.queries(q)(spark, inputDir).write.format("noop").mode("overwrite").save()) match {
          case Success(_) =>
            per(s"q.$q.s") = (System.nanoTime() - t0) / 1e9
            per(s"q.$q.stagecache_builds") = StageCache.countSince(mark)
          case Failure(e) => System.err.println(s"[kgbench] $q failed in repetition $i: $e")
        }
        sc.clearJobGroup()
      }
    }
    tracer.foreach { t =>
      org.apache.spark.sql.SparkHooks.drain(sc)
      val byGroup = t.jobs.toSeq.groupBy(_.group)
      Main.registryQueries.foreach { q =>
        val s = Trace.sum(t, byGroup.getOrElse(q, Nil))
        per(s"q.$q.jobs") = s.jobs
        per(s"q.$q.shuffle_bytes") = s.shuffleBytes.toDouble
      }
    }
    val failed = Main.registryQueries.count(q => !per.contains(s"q.$q.s"))
    Rep(wall, cpu, Main.registryQueries.size, failed, tracer.isDefined, if (tracer.isDefined) per.toMap else Map.empty)
  }

  def check(): Seq[String] = errors.toSeq
}

/** `kg_graph`: one repetition builds the knowledge graph with
  * KgPipeline.run, then runs the registry graph queries over the
  * documents table — the two graph layers in one JVM, so they share one
  * cold start. */
final class KgGraph(kg: KgBuild, registry: RegistryGraph) extends Workload {
  def prepare(): Unit = { kg.prepare(); registry.prepare() }
  def warmup(): Unit = { kg.warmup(); registry.warmup() }
  def rep(i: Int, tracer: Option[Tracer]): Rep = {
    val a = kg.rep(i, tracer)
    val b = registry.rep(i, tracer)
    Rep(a.wallS + b.wallS, a.cpuS + b.cpuS, a.ops + b.ops, a.failed + b.failed, tracer.isDefined,
      a.layers ++ b.layers)
  }
  def check(): Seq[String] = kg.check() ++ registry.check()
  def pages: Long = kg.pages
  def triples: Long = kg.triples
  override def parserLayers(): Map[String, Double] = kg.parserLayers()
}
