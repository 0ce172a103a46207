package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The driver-side paths of [[KgPipeline.connectedComponents]],
  * [[GraphOps.hits]] and [[TripleOps.transitiveClosure]] against their
  * distributed loops (driver cap 0), row for row on seeded random
  * graphs, and the job budget that keeps small inputs from paying
  * Spark jobs per round.
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

  /** A seeded directed graph for closures: chains, diamonds, 2-cycles,
    * longer cycles entered from a tail, random cross edges (which close
    * more cycles), self-loops and duplicate edges.
    */
  private def closureGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = Array.fill(400)(rnd.nextLong() >> rnd.nextInt(40)).distinct
    val e = ArrayBuffer.empty[(Long, Long)]
    var next = 0
    def take(n: Int): Array[Long] = { val r = ids.slice(next, next + n); next += n; r }
    for (_ <- 1 to 5) take(5 + rnd.nextInt(25)).sliding(2).foreach { case Array(a, b) => e += ((a, b)) }
    for (_ <- 1 to 10) {
      val Array(top, l, r, bottom) = take(4)
      e ++= Seq((top, l), (top, r), (l, bottom), (r, bottom))
    }
    for (_ <- 1 to 10) { val Array(a, b) = take(2); e ++= Seq((a, b), (b, a)) }
    for (_ <- 1 to 5) {
      val c = take(3 + rnd.nextInt(10))
      c.indices.foreach(i => e += ((c(i), c((i + 1) % c.length))))
      e += ((take(1).head, c(rnd.nextInt(c.length))))
    }
    val used = ids.take(next)
    for (_ <- 1 to 40) e += ((used(rnd.nextInt(used.length)), used(rnd.nextInt(used.length))))
    for (_ <- 1 to 20) { val x = used(rnd.nextInt(used.length)); e += ((x, x)) }
    rnd.shuffle(e.toSeq ++ rnd.shuffle(e.toSeq).take(60))
  }

  /** The closure's schema and its pairs as hex bytes (as Java Strings,
    * invalid UTF-8 ids would merge).
    */
  private def closure(edges: DataFrame, cap: Long, maxIters: Int = 64): (String, Seq[(String, String)]) = {
    val out = TripleOps.transitiveClosure(edges.select(col("a").as("sub"), col("b").as("sup")), maxIters, cap)
    (out.schema.toString, out.select(hex(col("sub")), hex(col("sup")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted)
  }

  test("transitive closure: driver BFS equals the distributed loop row for row") {
    val s = spark
    import s.implicits._
    Seq(5L, 23L).foreach { seed =>
      val longs = closureGraph(seed).toDF("a", "b")
      val strings = (closureGraph(seed).map { case (a, b) => (str(a), str(b)) } ++
        Seq(("\uD83D\uDE00x", "\uFFFDx"))).toDF("a", "b")
      Seq(longs, strings).foreach { e =>
        val (driverSchema, driver) = closure(e, DriverGate.MaxRows)
        val (distSchema, dist) = closure(e, Distributed)
        assert(driverSchema == distSchema)
        assert(driver == dist, s"seed $seed ${e.schema}")
        assert(driver.size > 1000)
        assert(driver.exists { case (a, b) => a == b }, "cycles should derive (x, x) pairs")
      }
    }
    // 0xFF and 0xFE decode to the same Java String; as bytes they differ
    val invalid = Seq(("ff", "fe"), ("fe", "41"), ("41", "ff")).toDF("x", "y")
      .select(unhex(col("x")).cast("string").as("a"), unhex(col("y")).cast("string").as("b"))
    val driver = closure(invalid, DriverGate.MaxRows)
    assert(driver == closure(invalid, Distributed))
    assert(driver._2 == (for (a <- Seq("41", "FE", "FF"); b <- Seq("41", "FE", "FF")) yield (a, b)))
  }

  test("transitive closure: both paths throw exactly when the round cap is short") {
    val s = spark
    import s.implicits._
    // maxIters m certifies paths (and cycles) of up to 2^(m-1) edges
    def chain(len: Int) = (0 until len).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    def cycle(len: Int) = (0 until len).map(i => (i.toLong, ((i + 1) % len).toLong)).toDF("a", "b")
    for (m <- 1 to 4; len <- Seq(1 << (m - 1), (1 << (m - 1)) + 1); shape <- Seq("chain", "cycle")) {
      val e = if (shape == "chain") chain(len) else cycle(len)
      val fits = len <= (1 << (m - 1))
      Seq(DriverGate.MaxRows, Distributed).foreach { cap =>
        if (fits) assert(closure(e, cap, m) == closure(e, DriverGate.MaxRows), s"$shape $len m=$m cap $cap")
        else intercept[IllegalStateException](closure(e, cap, m))
      }
    }
    Seq(Seq.empty[(Long, Long)].toDF("a", "b"), chain(1)).foreach { e =>
      Seq(DriverGate.MaxRows, Distributed).foreach { cap =>
        intercept[IllegalStateException](closure(e, cap, 0))
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

  test("job budget: a small transitive closure runs no Spark job per round") {
    val s = spark
    import s.implicits._
    // a 60-edge chain (6 doubling rounds) and its closure of 1830 pairs
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("sub", "sup")
    def closureJobs(cap: Long) = jobsOf(TripleOps.transitiveClosure(chain, 64, cap).collect())
    // ceiling measured on local[4] with 4 shuffle partitions; the
    // distributed loop measured 54 jobs on the same input
    val ceiling = 3
    val driver = closureJobs(DriverGate.MaxRows)
    assert(driver <= ceiling, s"transitiveClosure ran $driver jobs on a 60-edge chain")
    assert(closureJobs(Distributed) > ceiling)
    // a pair cap below the closure's size falls back to the loop, with
    // the loop's result
    val fallback = jobsOf(assert(TripleOps.transitiveClosure(chain, 64, 100).count() == 1830))
    assert(fallback > ceiling, s"a 100-pair cap still ran only $fallback jobs")
  }
}
