package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one "fits on the driver" row cap and the decisions made from it:
  * broadcast a materialized frame into its joins, or run a small
  * iterative graph kernel (connected components, HITS, transitive
  * closure) on the driver from a single collect instead of a few Spark
  * jobs per round. A kernel whose output can outgrow its input (the
  * closure) also holds its output to the cap and falls back to the
  * distributed loop past it.
  *
  * The cap is rows, not bytes, and not a host constant: at cluster
  * scale an input fails the test and the operator keeps its distributed
  * plan unchanged. Callers that need a different cap (Similarity's
  * array-payload rows) pass it explicitly at the call site.
  */
private[graft] object DriverGate {

  /** Rows that fit comfortably on the driver. */
  val MaxRows = 2000000L

  /** The gate itself. Iterative operators decide ONCE, from one count of
    * their initial materialized state — gating inside the loop adds one
    * driver-blocking job per round (measured: q117 went 5.1s → 6.6s).
    */
  def fits(rows: Long, cap: Long = MaxRows): Boolean = rows <= cap

  /** Broadcast a MATERIALIZED (checkpointed) frame when its row count —
    * one cheap count over the in-memory checkpoint blocks — says it
    * fits; identity otherwise. Checkpointed frames plan as RDD leaves
    * with no size statistics, so neither the static planner nor AQE's
    * SMJ→BHJ rewrite (which converts only after a shuffle was written)
    * can make this call on its own — measured one full Exchange+Sort
    * pair per round on q192's 40k-row edge list.
    */
  def broadcastIfSmall(df: DataFrame, maxRows: Long = MaxRows): DataFrame =
    if (fits(df.count(), maxRows)) broadcast(df) else df

  /** The type node ids of column type `dt` travel to the driver as, when
    * the driver can order them exactly as Spark's `least`/`min` do:
    * integral ids widen to bigint (numeric order); binary-collated
    * strings travel as their raw bytes and compare as `UTF8String` does,
    * unsigned byte by byte. Never as Java Strings: UTF-16 order puts
    * U+1F600 before U+FFFD, and decoding would merge distinct invalid
    * UTF-8 byte strings. Any other type has no driver path.
    */
  def wireType(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongType)
    case s: StringType if s.collationId == StringType.collationId => Some(BinaryType)
    case _ => None
  }

  /** A collected edge list as dense node ids: `rows` hold two endpoint
    * columns of wire type `wire`. Returns the distinct nodes in
    * ascending Spark order (so a smaller id is a smaller node) and the
    * ids of every edge's two endpoints.
    */
  def denseEdges(rows: Array[Row], wire: DataType): (Array[AnyRef], Array[Int], Array[Int]) = {
    def key(r: Row, i: Int): AnyRef =
      if (wire == LongType) java.lang.Long.valueOf(r.getLong(i))
      else UTF8String.fromBytes(r.getAs[Array[Byte]](i))
    val a = rows.map(key(_, 0))
    val b = rows.map(key(_, 1))
    val all = a ++ b
    java.util.Arrays.sort(all, ord)
    val distinct = Array.newBuilder[AnyRef]
    for (i <- all.indices if i == 0 || ord.compare(all(i - 1), all(i)) != 0) distinct += all(i)
    val nodes = distinct.result()
    def id(k: AnyRef): Int = java.util.Arrays.binarySearch(nodes, k, ord)
    (nodes, a.map(id), b.map(id))
  }

  /** A node key as a Row value of its wire type. */
  def wireValue(k: AnyRef): Any = k match {
    case s: UTF8String => s.getBytes
    case l => l
  }

  // natural order: java.lang.Long numeric, UTF8String unsigned bytes
  private val ord: java.util.Comparator[AnyRef] =
    (x, y) => x.asInstanceOf[Comparable[AnyRef]].compareTo(y)
}
