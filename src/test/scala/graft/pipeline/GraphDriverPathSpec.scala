package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The driver-side paths of [[KgPipeline.connectedComponents]] and
  * [[GraphOps.hits]] against their distributed loops (driver cap 0),
  * row for row on seeded random graphs, and the job budget that keeps
  * small inputs from paying Spark jobs per round.
  */
class GraphDriverPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test-driverpath")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Distributed = 0L

  /** A seeded graph of over 2k edges mixing chains, stars (both edge
    * directions), cycles and dense random blocks, plus self-loops and
    * reversed duplicates. Ids span negative values and values past
    * 2^32, so numeric and lexicographic minima differ.
    */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = Array.fill(1500)(rnd.nextLong() >> rnd.nextInt(40)).distinct
    val e = ArrayBuffer.empty[(Long, Long)]
    var next = 0
    def take(n: Int): Array[Long] = { val r = ids.slice(next, next + n); next += n; r }
    for (_ <- 1 to 8) take(40).sliding(2).foreach { case Array(a, b) => e += ((a, b)) }
    for (_ <- 1 to 8) {
      val s = take(30)
      s.tail.foreach(l => e += (if (rnd.nextBoolean()) (s.head, l) else (l, s.head)))
    }
    for (_ <- 1 to 8) {
      val c = take(25)
      c.indices.foreach(i => e += ((c(i), c((i + 1) % c.length))))
    }
    ids.drop(next).grouped(70).foreach { block =>
      for (_ <- 1 to 110) e += ((block(rnd.nextInt(block.length)), block(rnd.nextInt(block.length))))
    }
    for (_ <- 1 to 100) { val x = ids(rnd.nextInt(ids.length)); e += ((x, x)) }
    val reversed = rnd.shuffle(e.toSeq).take(300).map(_.swap)
    rnd.shuffle(e.toSeq ++ reversed)
  }

  // UTF-8 byte order (Spark's) and UTF-16 order (String.compareTo)
  // disagree between surrogate pairs and U+E000..U+FFFF
  private val prefixes = Array("\uFFFD", "\uD83D\uDE00", "\uE000", "\u00E9", "\u00C9", "\u00FC", "a", "Z", "\u00DF")

  private def str(id: Long): String =
    prefixes(java.lang.Math.floorMod(id, prefixes.length.toLong).toInt) + id

  private def longEdges(seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    randomGraph(seed).toDF("a", "b")
  }

  private def stringEdges(seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    (randomGraph(seed).map { case (a, b) => (str(a), str(b)) } ++
      Seq(("\uD83D\uDE00x", "\uFFFDx"))).toDF("a", "b")
  }

  private def cc(edges: DataFrame, cap: Long): (Seq[String], Seq[Row]) = {
    StageCache.clear() // a hit would hand back the other path's labels
    val out = KgPipeline.connectedComponents(edges, 50, cap)
    (out.schema.map(f => s"${f.name}:${f.dataType}"), out.collect().toSeq.sortBy(_.toString))
  }

  test("connected components: driver union-find equals the distributed loop row for row") {
    Seq(3L, 17L).foreach { seed =>
      val edges = longEdges(seed)
      assert(edges.count() >= 2000)
      Seq(edges, edges.select(col("a").cast("string").as("a"), col("b").cast("string").as("b")),
          stringEdges(seed)).foreach { e =>
        val (driverSchema, driver) = cc(e, DriverGate.MaxRows)
        val (distSchema, dist) = cc(e, Distributed)
        assert(driverSchema == distSchema)
        assert(driver == dist, s"seed $seed ${e.schema}")
        assert(driver.map(_.get(1)).distinct.size > 20, "graph should split into many components")
      }
      // byte order pins the label: U+FFFD (EF BF BD) < U+1F600 (F0 9F 98 80)
      Seq(DriverGate.MaxRows, Distributed).foreach { cap =>
        val labels = cc(stringEdges(seed), cap)._2.map(r => r.getString(0) -> r.getString(1)).toMap
        assert(labels("\uD83D\uDE00x") == "\uFFFDx", s"cap $cap")
      }
    }
  }

  test("connected components keeps integral types and distinct invalid UTF-8 ids") {
    val s = spark
    import s.implicits._
    val ints = Seq((5, -3), (-3, 9), (7, 8)).toDF("a", "b")
    // 0xFF and 0xFE decode to the same Java String; as bytes they differ
    val bytes = Seq(("ff", "fe"), ("fd", "41")).toDF("x", "y")
      .select(unhex(col("x")).cast("string").as("a"), unhex(col("y")).cast("string").as("b"))
    Seq(ints -> 5, bytes -> 4).foreach { case (e, nodes) =>
      val (driverSchema, driver) = cc(e, DriverGate.MaxRows)
      val (distSchema, dist) = cc(e, Distributed)
      assert(driverSchema == distSchema)
      assert(driver == dist)
      assert(driver.size == nodes, driver.toString)
    }
  }

  private def hits(edges: DataFrame, cap: Long): Seq[Row] =
    GraphOps.hits(edges.select(col("a").as("src"), col("b").as("dst")), 3, 100000, cap).collect().toSeq

  test("hits: driver half-steps equal the distributed loop row for row") {
    Seq(3L, 17L).foreach { seed =>
      Seq(longEdges(seed), stringEdges(seed)).foreach { e =>
        val driver = hits(e, DriverGate.MaxRows)
        val dist = hits(e, Distributed)
        assert(driver.size > 1000)
        assert(driver == dist, s"seed $seed ${e.schema}")
      }
    }
  }

  /** Jobs started by `body`, counted by a SparkListener. Only jobs of
    * this call's job group count; a sentinel job run afterwards marks
    * the end, since a listener sees its events in order.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"budget-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => done.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: small connected-components and hits inputs run no Spark job per round") {
    val s = spark
    import s.implicits._
    val chain = (1L until 60L).map(i => (i + 1, i)).toDF("a", "b")
    val directed = Seq(("h1", "x"), ("h1", "y"), ("h2", "y"), ("h2", "z"), ("z", "x"))
      .toDF("src", "dst")
    def ccJobs(cap: Long) = jobsOf {
      StageCache.clear()
      KgPipeline.connectedComponents(chain, 50, cap).collect()
    }
    def hitsJobs(cap: Long) = jobsOf(GraphOps.hits(directed, 3, 20, cap).collect())
    // ceilings measured on local[4] with 4 shuffle partitions; the
    // distributed loops measured 68 and 61 jobs on the same inputs
    val (ccCeiling, hitsCeiling) = (5, 5)
    val (cc, hi) = (ccJobs(DriverGate.MaxRows), hitsJobs(DriverGate.MaxRows))
    assert(cc <= ccCeiling, s"connectedComponents ran $cc jobs on a 60-node chain")
    assert(hi <= hitsCeiling, s"hits ran $hi jobs on a 5-edge graph")
    // the budget is tight enough to catch per-round jobs coming back
    assert(ccJobs(Distributed) > ccCeiling)
    assert(hitsJobs(Distributed) > hitsCeiling)
  }
}
